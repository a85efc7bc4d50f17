package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tools behind one main; no job, bench or verify run calls them. */
object Dev {

  private val usage =
    """usage: Dev plans [sfDir] [name...]    formatted physical plans (default: Bench.headline;
      |                                    sfDir defaults to SPARK_GRAFT_SF_DIR)
      |       Dev scaleup <src> <dst> <k>  k-times key-shifted replica of a testdata dir
      |       Dev hashsql [outPath]        DuckDB self-check script for the portable-hash SQL""".stripMargin

  def main(args: Array[String]): Unit = args.toList match {
    case "plans" :: rest => plans(rest)
    case "scaleup" :: src :: dst :: k :: Nil => scaleUp(src, dst, k.toInt)
    case "hashsql" :: rest if rest.length <= 1 =>
      graft.oracle.PortableHashSqlCheck.write(rest.headOption.getOrElse("/tmp/phc.sql"))
    case _ => throw new IllegalArgumentException(usage)
  }

  /** Plans that no registered query shows. The registered
    * q_pipeline_predictions stages its result before the verify sort,
    * so its own plan is just `Sort <- Exchange <- Scan ExistingRDD`;
    * the join-back shape lives in the unwrapped `Pipelines.predictions`
    * frame (its enrich stages execute while the frame is built).
    */
  private val interior: Map[String, (SparkSession, String) => DataFrame] = Map(
    "predictions_jointail" -> ((s, d) => graft.pipeline.Pipelines.predictions(s, d)))

  /** Dump formatted physical plans so broadcast, pushdown and shuffle
    * behaviour can be audited. The session carries Bench's settings,
    * so the plans are the ones the bench runs.
    */
  private def plans(args: List[String]): Unit = {
    val (sfDir, names) = args match {
      case d :: rest if new java.io.File(d).isDirectory => (d, rest)
      case rest => (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", throw new IllegalArgumentException(usage)), rest)
    }
    val all = SparkEntry.queries ++ interior
    val selected = if (names.nonEmpty) names else Bench.headline
    val unknown = selected.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown plan name(s): ${unknown.mkString(", ")}\n$usage")
    val spark = Session(Bench.conf)
    selected.foreach { name =>
      println(s"\n================ $name ================")
      all(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  private val Offset = 1000000000L

  /** Build a larger bench dataset by replicating a testdata dir
    * K× with key-shifted copies. Key families shift together so every
    * join key stays consistent across tables; the bounded dimensions
    * (region, nation) and the original key range are preserved, so
    * expression-key joins against small suppkeys still hit. Document
    * text is perturbed per copy (suffix) so the dedup family doesn't
    * degenerate into K-way exact-duplicate megaclusters.
    *
    * This is a BENCH-scaling tool only — correctness runs use the
    * original parquet untouched (oracle checks never see this data).
    */
  private def scaleUp(srcDir: String, dstDir: String, k: Int): Unit = {
    // No semantic keys, so no legacy-parquet flags: if events are
    // regenerated with an encoding the vanilla reader rejects,
    // this tool should FAIL LOUDLY, not mask it (the round-5 regression
    // class). The schema-adaptive path lives in TestTables, not in dev
    // tools.
    val spark = Session(semantic = Map.empty)

    def copy(name: String): Unit =
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dstDir/$name.parquet")

    def replicate(name: String, keyCols: Seq[String], textCol: Option[String] = None): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until k).map { i =>
        val shifted = keyCols.foldLeft(base)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))
        textCol.filter(_ => i > 0)
          .map(tc => shifted.withColumn(tc, concat(col(tc), lit(s" copyvariant$i"))))
          .getOrElse(shifted)
      }.reduce(_ unionByName _)
      out.write.mode(SaveMode.Overwrite).parquet(s"$dstDir/$name.parquet")
    }

    copy("region"); copy("nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), textCol = Some("text"))
    replicate("embeddings", Seq("vec_id"))
    spark.stop()
  }
}
