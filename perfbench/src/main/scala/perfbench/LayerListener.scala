package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sums task metrics per Spark job group. The benchmark tags every
  * layer call with `setJobGroup(<span name>)`; this listener maps each
  * stage back to the group of the job that submitted it and adds up
  * its tasks. It also records which persisted RDDs were computed and
  * the size of their blocks (the Materialize barriers).
  */
class LayerListener extends SparkListener {
  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var inBytes = 0L; var outBytes = 0L
    /** stage id -> task durations (ms), for the skew figure. */
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  /** persisted RDD id -> group of the first stage that computed it */
  private val persisted = new ConcurrentHashMap[Int, String]()
  /** (rdd id, block name) -> bytes in memory + on disk */
  private val blocks = new ConcurrentHashMap[(Int, String), Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => persisted.putIfAbsent(r.id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val acc = accs.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""), _ => new Acc)
    acc.synchronized {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.inBytes += m.inputMetrics.bytesRead
      acc.outBytes += m.outputMetrics.bytesWritten
      acc.durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = e.blockUpdatedInfo.blockId match {
    case RDDBlockId(rdd, split) if e.blockUpdatedInfo.storageLevel.isValid =>
      blocks.put((rdd, split.toString), e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize)
    case _ =>
  }

  def acc(group: String): Option[Acc] = Option(accs.get(group))

  /** Persisted RDDs with id > `afterId` first computed by jobs of `group`. */
  def barriers(afterId: Int, group: String): Seq[Int] =
    persisted.asScala.collect { case (id, g) if id > afterId && g == group => id }.toSeq.sorted

  def blockBytes(rdds: Set[Int]): Long =
    blocks.asScala.collect { case ((r, _), b) if rdds(r) => b }.sum
}
