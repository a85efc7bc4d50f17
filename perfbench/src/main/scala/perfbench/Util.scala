package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: timing, output hashing,
  * directory copies and the per-repetition block sweep.
  */
object Util {
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = { val t0 = System.nanoTime(); val a = f; (a, secs(t0)) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Order-insensitive content hash: (row count, sum of per-row xxhash64
    * over the columns in name order). Equal multisets of rows give
    * equal hashes.
    */
  final case class Hash(rows: Long, sum: BigDecimal) {
    override def toString: String = s"$rows:$sum"
  }

  def contentHash(df: DataFrame): Hash = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Hash(r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def hashParquet(spark: SparkSession, path: String): Hash = contentHash(spark.read.parquet(path))

  def deleteTree(p: String): Unit = {
    val root = new File(p).toPath
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = new File(from).toPath; val dst = new File(to).toPath
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Data files under `root`, skipping markers, checksums and hidden
    * (staging, aside) dirs.
    */
  def dataFiles(root: String): Seq[Path] = {
    val r = new File(root).toPath
    if (!Files.exists(r)) Nil
    else Files.walk(r).iterator().asScala.filter { p =>
      Files.isRegularFile(p) && {
        val rel = r.relativize(p).iterator().asScala.map(_.toString).toSeq
        !rel.exists(s => s.startsWith(".") || s.startsWith("_"))
      }
    }.toSeq
  }

  /** Unpersists the RDDs persisted since `before` was taken, blocking,
    * so blocks never pile up across repetitions and nothing created
    * earlier is freed while still in use.
    */
  def sweep(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  def persistedIds(spark: SparkSession): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def loadAvg1(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split(' ')(0).toDouble finally s.close()
    } catch { case _: Exception => -1.0 }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val s = scala.io.Source.fromFile("/proc/self/status")
      try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally s.close()
    } catch { case _: Exception => -1.0 }

  /** Minimal JSON writer for the report (numbers, strings, maps, seqs). */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case o: Option[_] => o.map(json).getOrElse("null")
    case other => json(other.toString)
  }
}
