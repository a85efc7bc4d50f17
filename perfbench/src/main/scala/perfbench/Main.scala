package graft.perfbench

import graft.tables.TestTables
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import Util._

/** Benchmark driver. One JVM, `local[<cores>]`, one client, one call at
  * a time. run.py generates the inputs and launches it as
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *        --data DIR --warm DIR --delta DIR --work DIR --report FILE
  *        [--source HASH] [--commit SHA]
  *
  * Untraced, it builds the session and warms up [[setups]] times
  * (set-up time is their median), then repeats the workload until
  * `--seconds` have passed (at least two repetitions), checks every
  * repetition's outputs and writes the end-to-end medians, the checks,
  * the per-repetition environment and the oracle hand-off to the report.
  * Traced, it runs [[Traced]] instead and writes per-layer figures.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
                        dirs: Dirs, report: String, env: Map[String, String])

  /** Set-ups per untraced run; set-up time is their median. */
  val setups = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      Dirs(need("data"), need("warm"), need("delta"), need("work")), need("report"),
      Seq("source", "commit").flatMap(k => m.get(k).map(k -> _)).toMap)
  }

  /** The semantic session keys of JobRunner.main: what an orchestrated
    * spark-submit of the jobs runs with.
    */
  def semanticConf(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    TestTables.nanosAsLongConf._1 -> TestTables.nanosAsLongConf._2,
    "spark.sql.extensions" -> "graft.GraftExtensions")

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().master(s"local[${o.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.dirs.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.dirs.work}/warehouse")
    semanticConf(o.cores).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wrong = semanticConf(o.cores).filter { case (k, v) => spark.conf.getOption(k).orNull != v }
    require(wrong.isEmpty, s"session lacks the job's semantic conf: $wrong")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val report = if (o.trace) Traced.run(o) else untraced(o)
    Files.write(Paths.get(o.report), json(report).getBytes(StandardCharsets.UTF_8))
  }

  def envRecord(o: Opts, spark: SparkSession): Map[String, Any] = Map(
    "loadavg1" -> loadAvg1(), "nproc" -> Runtime.getRuntime.availableProcessors,
    "cores" -> o.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "seed" -> o.seed, "default_parallelism" -> spark.sparkContext.defaultParallelism) ++ o.env

  def untraced(o: Opts): Map[String, Any] = {
    val w = Workloads(o.workload, o.dirs, o.seed)
    // Set-up: session build plus the warm-up calls, `setups` times; the
    // last session is kept for the measured repetitions.
    var spark: SparkSession = null
    val setupTimes = (1 to setups).map { _ =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(o)
      val before = persistedIds(spark)
      w.warmup(spark)
      sweep(spark, before)
      secs(t0)
    }
    w.prepare(spark)
    val reps = scala.collection.mutable.ArrayBuffer.empty[(Rep, Map[String, Any])]
    val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) {
      w.beforeRep(spark, i)
      val env = envRecord(o, spark)
      val before = persistedIds(spark)
      val r = w.rep(spark, i)
      checks ++= w.afterRep(spark, i, r)
      sweep(spark, before)
      reps += ((r, env + ("wall_s" -> r.wall) + ("rows" -> r.rows) + ("calls" -> r.calls) ++ r.parts))
      i += 1
    }
    val oracles = w.oracles(spark, reps.size)
    val rows = w.resultRows.getOrElse(reps.head._1.rows)
    val walls = reps.map(_._1.wall).toSeq
    val partNames = reps.head._1.parts.keys.toSeq.sorted
    val metrics = Map[String, Any](
      "setup_s" -> Seq(median(setupTimes), "s"),
      "cycle_s" -> Seq(median(walls), "s"),
      "rows_per_s" -> Seq(median(reps.map(r => rows / r._1.wall).toSeq), "1/s"),
      "peak_rss_mb" -> Seq(peakRssMb(), "MiB"))
    val info = partNames.map(p => p -> Seq(median(reps.map(_._1.parts(p)).toSeq), "s")).toMap ++
      (if (reps.head._1.calls > 0)
        Map("calls_per_s" -> Seq(median(reps.map(r => r._1.calls / r._1.wall).toSeq), "1/s"))
      else Map.empty)
    val result = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "metrics" -> metrics, "info" -> info,
      "samples" -> Map("setup" -> setupTimes.size, "reps" -> reps.size),
      "setup_times" -> setupTimes, "rows" -> rows,
      "attempted" -> reps.map(_._1.ops).sum,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail, "ops" -> c.ops)),
      "oracles" -> oracles.map(c => Map("name" -> c.name, "kind" -> c.kind, "sql" -> c.sql,
        "data" -> c.data, "spark" -> c.spark, "expect" -> c.expect, "ops" -> c.ops)),
      "session" -> semanticConf(o.cores), "reps" -> reps.map(_._2))
    stop(spark)
    result
  }
}
