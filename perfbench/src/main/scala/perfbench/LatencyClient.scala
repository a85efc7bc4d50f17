package graft.perfbench

import graft.enrich.ServiceClient
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** Service-call counters, filled from the executors. */
final case class CallCounters(calls: LongAccumulator, ok: LongAccumulator,
                              retries: LongAccumulator, waitNs: LongAccumulator) {
  def reset(): Unit = Seq(calls, ok, retries, waitNs).foreach(_.reset())
}

object CallCounters {
  def apply(spark: SparkSession): CallCounters = {
    val sc = spark.sparkContext
    CallCounters(sc.longAccumulator("calls"), sc.longAccumulator("ok"),
      sc.longAccumulator("retries"), sc.longAccumulator("waitNs"))
  }
}

/** The latency the benchmark's service answers with: `baseUs` for most
  * payloads and `slowUs` for one payload in `slowEvery`, picked by a
  * seeded hash of the payload, so the same seed gives the same delays.
  * All zero means the mock answers at once.
  */
final case class Latency(seed: Long, baseUs: Long, slowUs: Long, slowEvery: Int) {
  def micros(payload: String): Long =
    if (baseUs == 0 && slowUs == 0) 0L
    else if (Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(payload, seed.toInt), slowEvery) == 0) slowUs
    else baseUs
}

object Latency {
  val none: Latency = Latency(0L, 0L, 0L, 1)
}

/** Wraps one of the engine's mock clients: waits the payload's latency,
  * forwards the call, and counts calls, successes, re-attempts of a
  * payload that failed before, and the time spent inside `call`.
  *
  * Re-attempts are recognised through a JVM-wide set of failed payloads
  * keyed by `scope`, which sees every executor only in local mode, the
  * mode the benchmark runs in.
  */
final class LatencyClient(inner: ServiceClient, latency: Latency, counters: CallCounters,
                          scope: String) extends ServiceClient {
  override def lastUsage: (Long, Long) = inner.lastUsage

  override def call(payload: String): Either[String, String] = {
    val t0 = System.nanoTime()
    val until = t0 + latency.micros(payload) * 1000L
    var now = t0
    while (until - now > 0) { LockSupport.parkNanos(until - now); now = System.nanoTime() }
    val result = inner.call(payload)
    counters.waitNs.add(System.nanoTime() - t0)
    counters.calls.add(1)
    val key = s"$scope|$payload"
    if (LatencyClient.failed.contains(key)) counters.retries.add(1)
    if (result.isRight) counters.ok.add(1) else LatencyClient.failed.add(key)
    result
  }
}

object LatencyClient {
  private val failed = ConcurrentHashMap.newKeySet[String]()

  def clear(): Unit = failed.clear()

  /** A client factory for the engine's enrich calls. */
  def factory(make: () => ServiceClient, latency: Latency, counters: CallCounters,
              scope: String): () => ServiceClient =
    () => new LatencyClient(make(), latency, counters, scope)
}
