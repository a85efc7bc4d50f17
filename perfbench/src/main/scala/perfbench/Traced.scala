package graft.perfbench

import graft.enrich._
import graft.parse.FhirParser
import graft.pipeline.{JobRunner, Pipelines}
import graft.relational.{EligibilityExtract, ResubmissionExtract}
import graft.sink.{QualityGate, Sinks}
import graft.util.Materialize
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import Util._

/** The traced run: per-layer figures for every layer in one pass.
  *
  *  1. Each job runs once untraced through JobRunner.run (its wall
  *     time, its Materialize barriers and their block bytes), then
  *     once re-composed from the engine's public calls with a
  *     Materialize boundary between layers, each layer call in its own
  *     span and Spark job group. The re-composed output must hash-equal
  *     the JobRunner output. jobs_cold runs both into empty dirs; every
  *     other workload runs both over the delta into copies of a cold
  *     run's output, so the sink merge path is traced too.
  *  2. The enrich_latency calls run once in an `enrich.latency` span
  *     (service counters come from this span only).
  *  3. The library queries run once each in a `library.<query>` span.
  *
  * Parts 2 and 3 use the workload's own tables for enrich_latency and
  * library_mix and the warm-up tables otherwise, so every traced run
  * reports every layer.
  */
object Traced {
  val layers: Seq[String] = Seq("tables", "relational", "parse", "materialize", "ops", "enrich", "sink")

  final case class Span(name: String, parent: String, start: Long, end: Long, run: String) {
    def secs: Double = (end - start) / 1e9
  }

  final class Spans(spark: SparkSession, run: String) {
    val all = mutable.ArrayBuffer.empty[Span]
    def apply[A](name: String, parent: String)(f: => A): A = {
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try f finally {
        all += Span(name, parent, t0, System.nanoTime(), run)
        spark.sparkContext.clearJobGroup()
      }
    }
  }

  private val llmCfg = EnrichOperator.Config()
  private val eligCfg = EnrichOperator.Config(maxAttempts = 2)

  /** JobRunner's load step from the public sink calls. */
  private def load(spark: SparkSession, sp: Spans, job: String, df: DataFrame, base: String,
                   upsertKey: Option[String]): Unit = {
    val out = sp("sink.count", job) { val o = df.persist(); o.count(); o }
    try {
      sp("sink.csv", job) { Sinks.archiveCsv(out.withColumn("archived_at", lit("run")), s"$base/archive") }
      sp("sink.append", job) { Sinks.append(out, s"$base/append") }
      upsertKey.foreach { k =>
        sp("sink.upsert", job) {
          Sinks.upsertPartitioned(spark, s"$base/current", out.withColumn("part_bucket",
            pmod(xxhash64(col(k)), lit(JobRunner.upsertBuckets.toLong)).cast("int")), k, "part_bucket")
        }
      }
    } finally out.unpersist()
  }

  private def scan(spark: SparkSession, sp: Spans, job: String, dir: String, tables: Seq[String]): Unit =
    sp("tables.scan", job) {
      tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").write.format("noop").mode("overwrite").save())
    }

  /** Pipelines.eligibility + load, one layer per span. */
  def eligibility(spark: SparkSession, sp: Spans, dir: String, out: String, c: CallCounters): Unit = {
    val j = "eligibility"
    scan(spark, sp, j, dir, Seq("orders", "customer", "nation", "region", "supplier"))
    val base = sp("relational.elig_extract", j) {
      Materialize.stage(EligibilityExtract.build(spark, dir).select(col("visit_id"), col("patient_id")))
    }
    val keyed = sp("enrich.jobs", j) {
      Materialize.stage(EnrichOperator.enrichUniqueKeys(base, "patient_id",
        LatencyClient.factory(() => new MockBeneficiaryClient(), Latency.none, c, "jobs"), eligCfg))
    }
    val iqama = sp("parse.fhir", j) {
      Materialize.stage(keyed.withColumn("__b", FhirParser.beneficiaryParsed(col("response")))
        .select(col("visit_id"),
          FhirParser.apiStatusOf(col("__b")).as("api_status"),
          FhirParser.insuranceDataOf(col("__b")).getItem("Name").as("ins_name")))
    }
    val submitted = sp("enrich.jobs", j) {
      Materialize.stage(EnrichOperator.enrich(base.withColumn("__payload", col("visit_id").cast("string")),
        "__payload", LatencyClient.factory(() => new MockEligibilityClient(), Latency.none, c, "jobs"), eligCfg))
    }
    val elig = sp("parse.fhir", j) {
      val b = col("__b")
      Materialize.stage(submitted.withColumn("__b", FhirParser.parsed(col("response"))).select(
        col("visit_id").as("__ev"),
        FhirParser.outcome(b).as("outcome"),
        FhirParser.siteEligibility(b).as("class"),
        FhirParser.note(b).as("note"),
        FhirParser.approvalLimitOf(b, col("response"), lit("structured")).as("approval_limit"),
        FhirParser.copayMaximumOf(b, col("response"), lit("structured")).as("copay_maximum")))
    }
    sp("sink.gate", j) { QualityGate.assertPasses(elig.withColumnRenamed("__ev", "visit_id"), "class", "note") }
    val joined = sp("ops.joinback", j) {
      Materialize.stage(base.select(col("visit_id"), col("patient_id"))
        .join(iqama, Seq("visit_id"), "left")
        .join(elig, col("visit_id") === col("__ev"), "left")
        .drop("__ev"))
    }
    load(spark, sp, j, joined, s"$out/$j", Some("visit_id"))
  }

  /** Pipelines.predictions + load, one layer per span. */
  def predictions(spark: SparkSession, sp: Spans, dir: String, out: String, c: CallCounters): Unit = {
    val j = "predictions"
    scan(spark, sp, j, dir, Seq("lineitem"))
    val gated = sp("relational.pred_gates", j) {
      Materialize.once(Pipelines.annotatedClaims(spark, dir)
        .select(col("visit_id"), col("uid"), col("svc"), col("__nodx"), col("__dup")))
    }
    val annotatedMat = sp("materialize.stage", j) { Materialize.stageData(gated) }
    val llmInput = annotatedMat.filter(col("__nodx") === 0 && col("__dup") === 0)
      .select(col("visit_id"), col("uid"))
    val (failedVisits, rejections) = sp("enrich.jobs", j) {
      val r = LlmFanout.predictSets(llmInput, "visit_id", "uid",
        LatencyClient.factory(() => new MockLlmClient(), Latency.none, c, "jobs"), llmCfg)
      (r._1, Materialize.stage(r._2))
    }
    val joined = sp("ops.joinback", j) {
      val rej = rejections.dropDuplicates("__uid")
      Materialize.stageData(annotatedMat
        .join(graft.ops.Joins.broadcastIfSmall(failedVisits),
          annotatedMat("visit_id").cast("string") === col("__visit"), "left")
        .join(rej, annotatedMat("uid") === col("__uid"), "left")
        .select(col("visit_id"), col("uid"), col("svc"),
          when(col("__nodx") === 1, "Rejected")
            .when(col("__dup") === 1, "Rejected")
            .when(col("__visit").isNotNull, "Failed to reach LLM")
            .when(col("__text").isNotNull, "Rejected")
            .otherwise("Approved").as("medical_prediction"),
          when(col("__nodx") === 1, "Missing diagnosis")
            .when(col("__dup") === 1, "Duplicated Service")
            .otherwise(col("__text")).as("reason")))
    }
    load(spark, sp, j, joined, s"$out/$j", Some("uid"))
  }

  /** Pipelines.resubmission + load, one layer per span. */
  def resubmission(spark: SparkSession, sp: Spans, dir: String, out: String, c: CallCounters): Unit = {
    import spark.implicits._
    val j = "resubmission"
    scan(spark, sp, j, dir, Seq("lineitem", "part", "orders", "customer"))
    val claims = sp("relational.resub_extract", j) { Materialize.stage(ResubmissionExtract.full(spark, dir)) }
    val justified = sp("enrich.jobs", j) {
      Materialize.stage(LlmFanout.justify(claims, "visit_id", "visit_service_id",
          LatencyClient.factory(() => new MockJustifyClient(), Latency.none, c, "jobs"))
        .select(col("visit_id"), col("seq_no"), col("visit_service_id"), col("service_name"),
          col("justification_type"), col("reason"), col("reason_code"), col("status"), col("justification")))
    }
    val units = sp("ops.joinback", j) {
      Materialize.stage(justified.crossJoin(broadcast(Pipelines.clinicUnits.toDF("bu"))))
    }
    load(spark, sp, j, units, s"$out/$j", None)
  }

  def run(o: Main.Opts): Map[String, Any] = {
    val d = o.dirs
    val spark = Main.session(o)
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val sp = new Spans(spark, s"${o.workload}-${o.seed}")
    val jobCounters = CallCounters(spark)
    val checks = mutable.ArrayBuffer.empty[Check]
    val rerun = o.workload != "jobs_cold"
    val jobDir = if (rerun) d.delta else d.data

    // Warm-up: the warm-up tables, or in rerun mode the cold run that
    // populates the snapshot.
    val (snapshot, outU, outT) = (s"${d.work}/snapshot", s"${d.work}/untraced", s"${d.work}/traced")
    if (rerun) {
      Workloads.runJobs(spark, d.data, snapshot)
      copyTree(snapshot, outU); copyTree(snapshot, outT)
    } else {
      Workloads.runJobs(spark, d.warm, s"${d.work}/warm-out")
      deleteTree(s"${d.work}/warm-out")
    }
    val recompose = Map[String, (SparkSession, Spans, String, String, CallCounters) => Unit](
      "eligibility" -> eligibility, "predictions" -> predictions, "resubmission" -> resubmission)
    val jobWall = mutable.Map.empty[String, Double]
    val tracedWall = mutable.Map.empty[String, Double]
    val coverage = mutable.Map.empty[String, Double]
    var barriers = 0; var blockBytes = 0L; var filesWritten = 0
    Workloads.jobs.foreach { j =>
      val before = persistedIds(spark)
      val firstRdd = BusDrain.nextRddId(sc)
      sc.setJobGroup(s"untraced.$j", j)
      val (loaded, wall) = timed(JobRunner.run(spark, j, jobDir, outU))
      jobWall(j) = wall
      sc.clearJobGroup()
      BusDrain.drain(sc)
      val ids = listener.barriers(firstRdd, s"untraced.$j")
      barriers += ids.size
      blockBytes += listener.blockBytes(ids.toSet)
      sweep(spark, before)

      val filesBefore = dataFiles(s"$outT/$j").toSet
      val spansBefore = sp.all.size
      val t0 = System.nanoTime()
      recompose(j)(spark, sp, jobDir, outT, jobCounters)
      tracedWall(j) = secs(t0)
      sweep(spark, before)
      coverage(j) = sp.all.drop(spansBefore).map(_.secs).sum / tracedWall(j)
      filesWritten += dataFiles(s"$outT/$j").count(p => !filesBefore(p))

      val tables = if (Workloads.upsertJobs(j)) Seq("append", "current") else Seq("append")
      tables.foreach { t =>
        val (hu, ht) = (hashParquet(spark, s"$outU/$j/$t"), hashParquet(spark, s"$outT/$j/$t"))
        checks += Check(s"trace.$j.$t.recomposed_equals_job", hu == ht, s"job $hu vs re-composed $ht", 1)
      }
      if (rerun) {
        // The rerun's own checks: the mock answers are deterministic per
        // key, so the merged `current` equals the cold run's, and the
        // append table grows by exactly the rows the job loaded.
        val added = spark.read.parquet(s"$outU/$j/append").count() -
          spark.read.parquet(s"$snapshot/$j/append").count()
        checks += Check(s"trace.$j.append.grows_by_delta", added == loaded && loaded > 0,
          s"appended $added rows, job loaded $loaded", 1)
        if (Workloads.upsertJobs(j)) {
          val (hc, hr) = (hashParquet(spark, s"$snapshot/$j/current"), hashParquet(spark, s"$outU/$j/current"))
          checks += Check(s"trace.$j.current.equals_cold", hc == hr, s"cold $hc vs rerun $hr", 1)
        }
      }
    }

    // The latency-bound enrich calls.
    val enrichDirs = if (o.workload == "enrich_latency") d else d.copy(data = d.warm)
    val el = new EnrichLatency(enrichDirs, o.seed)
    el.warmup(spark)
    el.prepare(spark)
    val enrichRep = sp("enrich.latency", "enrich_latency") { el.rep(spark, 0) }
    checks ++= el.afterRep(spark, 0, enrichRep)

    // The library queries.
    val libDir = if (o.workload == "library_mix") d.data else d.warm
    Workloads.libraryQueries.foreach { q =>
      sp(s"library.$q", "library_mix") {
        graft.SparkEntry.queries(q)(spark, libDir).write.format("noop").mode("overwrite").save()
      }
    }
    BusDrain.drain(sc)

    val metrics = mutable.LinkedHashMap.empty[String, Seq[Any]]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = Seq(v, unit)
    def spanSecs(p: String => Boolean) = sp.all.filter(s => p(s.name)).map(_.secs).sum
    def groups(p: String => Boolean) = sp.all.map(_.name).distinct.filter(p).flatMap(listener.acc)
    def coreUtil(p: String => Boolean): Double = {
      val wall = spanSecs(p)
      if (wall > 0) groups(p).map(_.runMs).sum / 1e3 / (wall * o.cores) else 0.0
    }
    def stats(l: String): Unit = {
      val p = (n: String) => n.startsWith(s"$l.")
      val accs = groups(p)
      put(s"$l.core_util", coreUtil(p), "ratio")
      // Longest stage of the layer: its slowest task over its median task.
      val stages = accs.flatMap(_.durations.values.map(_.toSeq))
      val longest = if (stages.isEmpty) Seq(0L) else stages.maxBy(_.sum)
      put(s"$l.task_skew", longest.max / math.max(1.0, Util.median(longest.map(_.toDouble))), "ratio")
      put(s"$l.tasks", accs.map(_.tasks).sum.toDouble, "count")
      put(s"$l.exec_cpu_s", accs.map(_.cpuNs).sum / 1e9, "s")
      put(s"$l.shuffle_write_bytes", accs.map(_.shuffleWrite).sum.toDouble, "bytes")
    }
    sp.all.map(_.name).distinct.filterNot(_.startsWith("library.")).sorted.foreach { n =>
      put(s"${n}_s", spanSecs(_ == n), "s")
    }
    layers.foreach(stats)
    put("tables.input_bytes", groups(_ == "tables.scan").map(_.inBytes).sum.toDouble, "bytes")
    put("materialize.barriers", barriers.toDouble, "count")
    put("materialize.block_bytes", blockBytes.toDouble, "bytes")
    val calls = enrichRep.calls.toDouble
    val wait = enrichRep.parts("service_wait_s")
    val span = spanSecs(_ == "enrich.latency")
    put("enrich.calls", calls, "count")
    put("enrich.retries", el.lastRetries.toDouble, "count")
    put("enrich.ok_ratio", el.lastOk / math.max(1.0, calls), "ratio")
    put("enrich.service_wait_s", wait, "s")
    put("enrich.inflight_mean", wait / span, "calls")
    put("enrich.self_s", span - wait / o.cores, "s")
    put("enrich.calls_per_s", calls / span, "1/s")
    val appendOut = groups(_ == "sink.append").map(_.outBytes).sum
    val upsertOut = groups(_ == "sink.upsert").map(_.outBytes).sum
    put("sink.bytes_written", groups(_.startsWith("sink.")).map(_.outBytes).sum.toDouble, "bytes")
    put("sink.files_written", filesWritten.toDouble, "count")
    put("sink.upsert_read_bytes", groups(_ == "sink.upsert").map(_.inBytes).sum.toDouble, "bytes")
    put("sink.write_amp", upsertOut.toDouble / math.max(1L, appendOut), "ratio")
    Workloads.libraryQueries.foreach { q =>
      put(s"library.${q}_s", spanSecs(_ == s"library.$q"), "s")
      put(s"library.$q.core_util", coreUtil(_ == s"library.$q"), "ratio")
    }
    Workloads.jobs.foreach { j =>
      put(s"job.${j}_s", jobWall(j), "s")
      put(s"trace.coverage.$j", coverage(j), "ratio")
    }
    val (u, t) = (jobWall.values.sum, tracedWall.values.sum)
    put("trace.overhead_frac", (t - u) / u, "ratio")
    val env = Main.envRecord(o, spark)
    Main.stop(spark)
    Map("workload" -> o.workload, "seed" -> o.seed, "metrics" -> metrics.toMap,
      "attempted" -> (Workloads.jobs.size * 2 + 3 + Workloads.libraryQueries.size),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail, "ops" -> c.ops)),
      "session" -> Main.semanticConf(o.cores), "env" -> env,
      "spans" -> sp.all.map(s => Map("name" -> s.name, "parent" -> s.parent, "start_ns" -> s.start,
        "end_ns" -> s.end, "run" -> s.run)))
  }
}
