package graft.perfbench

import graft.SparkEntry
import graft.enrich._
import graft.pipeline.JobRunner
import graft.relational.EligibilityExtract
import graft.util.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Util._

/** One repetition's timed result: wall seconds, rows loaded or
  * produced, operations attempted, service calls, and named sub-times.
  */
final case class Rep(wall: Double, rows: Long, ops: Int, calls: Long, parts: Map[String, Double])

/** An output check, run outside the timed region. */
final case class Check(name: String, ok: Boolean, detail: String, ops: Int)

/** An output the Python side compares with a DuckDB oracle:
  * `kind` "rows" compares the parquet at `spark` row for row, "count"
  * compares the oracle's row count with `expect`.
  */
final case class OracleCheck(name: String, kind: String, sql: String, data: String,
                             spark: String, expect: Long, ops: Int)

/** Inputs of a run: generated table dirs and a scratch dir. */
final case class Dirs(data: String, warm: String, delta: String, work: String)

trait Workload {
  /** The workload's calls on the small warm-up tables (part of set-up). */
  def warmup(spark: SparkSession): Unit
  /** Untimed preparation before the first repetition. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed per-repetition preparation. */
  def beforeRep(spark: SparkSession, i: Int): Unit = ()
  def rep(spark: SparkSession, i: Int): Rep
  /** Untimed checks of repetition `i`'s outputs. */
  def afterRep(spark: SparkSession, i: Int, r: Rep): Seq[Check] = Nil
  /** Outputs handed to the oracle after the last repetition. */
  def oracles(spark: SparkSession, reps: Int): Seq[OracleCheck] = Nil
  /** Result rows of one repetition, for workloads whose calls do not
    * return a row count; read after [[oracles]].
    */
  def resultRows: Option[Long] = None
}

object Workloads {
  val jobs: Seq[String] = Seq("eligibility", "predictions", "resubmission")
  val upsertJobs: Set[String] = Set("eligibility", "predictions")
  val libraryQueries: Seq[String] = Seq("q_text_stats", "q_fuzzy_join", "q_ts_gapfill",
    "q_a12_string_agg", "q_dedup_minhash", "q_text_dup_spans")

  def apply(name: String, d: Dirs, seed: Long): Workload = name match {
    case "jobs_cold" => new JobsCold(d)
    case "jobs_rerun" => new JobsRerun(d)
    case "enrich_latency" => new EnrichLatency(d, seed)
    case "library_mix" => new LibraryMix(d)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Runs the three jobs through JobRunner.run, timing each. */
  def runJobs(spark: SparkSession, dir: String, out: String): Rep = {
    val t0 = System.nanoTime()
    val res = jobs.map { j => val (n, dt) = timed(JobRunner.run(spark, j, dir, out)); (j, n, dt) }
    Rep(secs(t0), res.map(_._2).sum, jobs.size, 0L, res.map(r => s"${r._1}_job_s" -> r._3).toMap)
  }

  def appendPath(out: String, job: String) = s"$out/$job/append"
  def currentPath(out: String, job: String) = s"$out/$job/current"

  def pipelineOracle(job: String): String = SparkEntry.oracleSql(s"q_pipeline_$job")
}

/** The orchestrator's cycle: the three jobs into an empty output dir. */
final class JobsCold(d: Dirs) extends Workload {
  import Workloads._
  private var first: Map[String, Hash] = Map.empty
  private def out(i: Int) = s"${d.work}/cold-$i"

  def warmup(spark: SparkSession): Unit = {
    runJobs(spark, d.warm, s"${d.work}/warm-out"); deleteTree(s"${d.work}/warm-out")
  }

  def rep(spark: SparkSession, i: Int): Rep = runJobs(spark, d.data, out(i))

  override def afterRep(spark: SparkSession, i: Int, r: Rep): Seq[Check] = {
    val hashes = jobs.map(j => j -> hashParquet(spark, appendPath(out(i), j))).toMap
    if (i == 0) first = hashes else deleteTree(out(i))
    jobs.map(j => Check(s"jobs_cold.$j.append.repeats", hashes(j) == first(j),
      s"rep $i ${hashes(j)} vs rep 0 ${first(j)}", 1))
  }

  override def oracles(spark: SparkSession, reps: Int): Seq[OracleCheck] = jobs.map { j =>
    OracleCheck(s"jobs_cold.$j.append", "rows", pipelineOracle(j), d.data, appendPath(out(0), j), 0L, reps)
  }
}

/** The steady-state run: the jobs over a ~5% delta into an output dir
  * that a cold run populated, restored from a snapshot before each
  * repetition.
  */
final class JobsRerun(d: Dirs) extends Workload {
  import Workloads._
  private val snapshot = s"${d.work}/snapshot"
  private val out = s"${d.work}/rerun"
  private var coldCurrent: Map[String, Hash] = Map.empty
  private var coldAppend: Map[String, Long] = Map.empty
  private var lastDelta: Map[String, Long] = Map.empty

  def warmup(spark: SparkSession): Unit = {
    val w = s"${d.work}/warm-out"
    runJobs(spark, d.warm, w); runJobs(spark, d.warm, w); deleteTree(w)
  }

  override def prepare(spark: SparkSession): Unit = {
    runJobs(spark, d.data, snapshot)
    coldCurrent = upsertJobs.map(j => j -> hashParquet(spark, currentPath(snapshot, j))).toMap
    coldAppend = jobs.map(j => j -> spark.read.parquet(appendPath(snapshot, j)).count()).toMap
  }

  override def beforeRep(spark: SparkSession, i: Int): Unit = { deleteTree(out); copyTree(snapshot, out) }

  def rep(spark: SparkSession, i: Int): Rep = runJobs(spark, d.delta, out)

  override def afterRep(spark: SparkSession, i: Int, r: Rep): Seq[Check] = {
    val grown = jobs.map { j =>
      val added = spark.read.parquet(appendPath(out, j)).count() - coldAppend(j)
      lastDelta += j -> added
      // Exactness is the oracle's row count on the delta (see oracles).
      Check(s"jobs_rerun.$j.append.grows_by_delta", added > 0, s"rep $i appended $added rows", 1)
    }
    val same = upsertJobs.toSeq.sorted.map { j =>
      val h = hashParquet(spark, currentPath(out, j))
      Check(s"jobs_rerun.$j.current.equals_cold", h == coldCurrent(j), s"rep $i $h vs cold ${coldCurrent(j)}", 0)
    }
    grown ++ same
  }

  /** The rows each job appended must be exactly the oracle's rows on
    * the delta tables.
    */
  override def oracles(spark: SparkSession, reps: Int): Seq[OracleCheck] = jobs.map { j =>
    OracleCheck(s"jobs_rerun.$j.delta_rows", "count", pipelineOracle(j), d.delta, "", lastDelta(j), reps)
  }
}

/** The latency-bound enrich boundary: the predictions fan-out and the
  * two eligibility enrich calls, against mocks that answer after a
  * seeded per-payload delay.
  */
final class EnrichLatency(d: Dirs, seed: Long) extends Workload {
  private val latency = Latency(seed, baseUs = 1000L, slowUs = 20000L, slowEvery = 50)
  private val cfg = EnrichOperator.Config(maxAttempts = 2)
  private var counters: CallCounters = _
  private var inputs: (DataFrame, DataFrame) = _
  private var outputs: Seq[DataFrame] = Nil
  private var reference: Seq[Hash] = Nil

  private def stageInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val claims = Materialize.stage(graft.tables.TestTables.lineitem(spark, dir)
      .select(col("l_orderkey").as("visit_id"), (col("l_orderkey") * 10 + col("l_linenumber")).as("uid")))
    val base = Materialize.stage(EligibilityExtract.build(spark, dir)
      .select(col("visit_id"), col("patient_id"), col("visit_id").cast("string").as("__payload")))
    (claims, base)
  }

  /** One pass of the three enrich calls; every result is materialized. */
  private def calls(inputs: (DataFrame, DataFrame), lat: Latency): Seq[DataFrame] = {
    val (claims, base) = inputs
    val (failed, rejections) = LlmFanout.predictSets(claims, "visit_id", "uid",
      LatencyClient.factory(() => new MockLlmClient(), lat, counters, "llm"))
    val iqama = Materialize.stage(EnrichOperator.enrichUniqueKeys(base.drop("__payload"), "patient_id",
      LatencyClient.factory(() => new MockBeneficiaryClient(), lat, counters, "beneficiary"), cfg))
    val elig = Materialize.stage(EnrichOperator.enrich(base, "__payload",
      LatencyClient.factory(() => new MockEligibilityClient(), lat, counters, "eligibility"), cfg))
    Seq(failed, Materialize.stage(rejections), iqama, elig)
  }

  def warmup(spark: SparkSession): Unit = {
    counters = CallCounters(spark)
    val before = persistedIds(spark)
    calls(stageInputs(spark, d.warm), Latency.none)
    sweep(spark, before)
  }

  override def prepare(spark: SparkSession): Unit = {
    inputs = stageInputs(spark, d.data)
    // The reference: the same calls against mocks that answer at once.
    val before = persistedIds(spark)
    LatencyClient.clear()
    reference = calls(inputs, Latency.none).map(contentHash)
    sweep(spark, before)
  }

  /** Successful calls and re-attempts of the last repetition. */
  var lastOk = 0L
  var lastRetries = 0L

  def rep(spark: SparkSession, i: Int): Rep = {
    counters.reset(); LatencyClient.clear()
    val t0 = System.nanoTime()
    outputs = calls(inputs, latency)
    val wall = secs(t0)
    lastOk = counters.ok.value; lastRetries = counters.retries.value
    Rep(wall, 0L, 3, counters.calls.value, Map("service_wait_s" -> counters.waitNs.value / 1e9))
  }

  override def afterRep(spark: SparkSession, i: Int, r: Rep): Seq[Check] = {
    val hashes = outputs.map(contentHash)
    Seq(Check("enrich_latency.output.equals_zero_latency", hashes == reference,
      s"rep $i ${hashes.mkString(",")} vs ${reference.mkString(",")}", 3))
  }

  override def resultRows: Option[Long] = Some(reference.map(_.rows).sum)
}

/** The library queries the pipelines never call, each to the noop sink. */
final class LibraryMix(d: Dirs) extends Workload {
  import Workloads._
  private def run(spark: SparkSession, q: String, dir: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  def warmup(spark: SparkSession): Unit = libraryQueries.foreach(run(spark, _, d.warm))

  def rep(spark: SparkSession, i: Int): Rep = {
    val t0 = System.nanoTime()
    val parts = libraryQueries.map(q => s"${q}_s" -> timed(run(spark, q, d.data))._2).toMap
    Rep(secs(t0), 0L, libraryQueries.size, 0L, parts)
  }

  private var rows = 0L

  /** Writes each result once more, untimed, for the oracle compare. */
  override def oracles(spark: SparkSession, reps: Int): Seq[OracleCheck] = libraryQueries.map { q =>
    val path = s"${d.work}/library/$q"
    SparkEntry.queries(q)(spark, d.data).write.mode("overwrite").parquet(path)
    rows += spark.read.parquet(path).count()
    OracleCheck(s"library_mix.$q", "rows", SparkEntry.oracleSql(q), d.data, path, 0L, reps)
  }

  override def resultRows: Option[Long] = Some(rows)
}
