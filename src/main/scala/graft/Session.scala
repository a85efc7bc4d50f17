package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test suite build their
  * SparkSession here, so the keys that change query results are set in
  * one place and cannot drift between the sessions that produce numbers
  * (bench, verify, jobs, tests).
  */
object Session {

  /** Keys that change results: UTC session time, the NANOS events
    * reader (readers never mutate conf) and the engine's Catalyst
    * extensions.
    */
  val semantic: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    graft.tables.TestTables.nanosAsLongConf,
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  /** `SPARK_GRAFT_CPUS` if set, else the JVM's processor count. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The settings a session gets: `local[cores]` unless `preset`
    * already names a master (spark-submit passes `--master` as the
    * `spark.master` system property), one shuffle partition per core,
    * no UI, then `semantic`, then the caller's `extra`.
    */
  def conf(extra: Map[String, String] = Map.empty, semantic: Map[String, String] = Session.semantic,
           preset: SparkConf = new SparkConf()): Map[String, String] =
    Map(
      "spark.master" -> preset.getOption("spark.master").getOrElse(s"local[$cores]"),
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.ui.enabled" -> "false") ++ semantic ++ extra

  /** Build (or join) the process's session with [[conf]]. A session
    * that already exists keeps its static conf, so the semantic keys
    * are checked on the result rather than trusted.
    */
  def apply(extra: Map[String, String] = Map.empty,
            semantic: Map[String, String] = Session.semantic): SparkSession = {
    val spark = SparkSession.builder().config(conf(extra, semantic)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wrong = semantic.filter { case (k, v) => !spark.conf.getOption(k).contains(v) }
    require(wrong.isEmpty, s"session lacks semantic conf $wrong")
    spark
  }
}
