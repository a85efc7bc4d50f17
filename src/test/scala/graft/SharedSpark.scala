package graft

import org.apache.spark.sql.SparkSession

/** One session for the whole test run — Spark startup dominates suite
  * time otherwise.
  */
object SharedSpark {
  /** The test role's settings on top of [[Session]]'s: a fixed 4-core
    * layout whatever the box, and a per-JVM warehouse.
    */
  val conf: Map[String, String] = Map(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" -> s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}")

  lazy val spark: SparkSession = {
    val s = Session(conf)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
