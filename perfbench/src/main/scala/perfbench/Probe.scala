package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer probe for a traced run, built on Spark's public listener APIs.
  *
  * Jobs are attributed through local properties the harness sets on the
  * thread that runs an op: `perfbench.tag` names the op (`p<pass>/<name>`) and
  * `perfbench.phase` is `resolve` while a DataFrame is being built and
  * `exec` while it runs. Jobs of a streaming query carry Spark's own
  * `sql.streaming.queryId` property instead; [[streamName]] maps that id
  * to the op. Catalyst phase times come from each executed
  * `QueryExecution`'s planning tracker and are matched to the op whose
  * wall-clock window contains the analysis start. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Probe._

  val streamName = new ConcurrentHashMap[String, String]()

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeEvent]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until the listener bus has been quiet for a moment, so every
    * event of the finished work has been counted. */
  def settle(): Unit = {
    val t0 = System.currentTimeMillis()
    while (System.currentTimeMillis() - lastEventMs < 300 &&
        System.currentTimeMillis() - t0 < 5000) Thread.sleep(50)
  }

  def acc(tag: String): Acc = accs.getOrDefault(tag, Acc.empty)
  def tags: Seq[String] = accs.keySet.asScala.toSeq
  def qeEvents: Seq[QeEvent] = qes.asScala.toSeq

  private def accFor(tag: String): Acc =
    accs.computeIfAbsent(tag, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val props = Option(e.properties)
    val stream = props.flatMap(p =>
      Option(p.getProperty("sql.streaming.queryId")))
      .flatMap(id => Option(streamName.get(id)))
    val base = stream.map("s/" + _).orElse(props.flatMap(p =>
      Option(p.getProperty(TagKey)))).getOrElse("other")
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      .filter(_ => stream.isEmpty).getOrElse("exec")
    val tag = s"$base|$phase"
    e.stageIds.foreach(s => stageTag.put(s, tag))
    accFor(tag).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEventMs = System.currentTimeMillis()
    val id = e.stageInfo.stageId
    val a = accFor(stageTag.getOrDefault(id, "other|exec"))
    a.stages += 1
    Option(stageTasks.remove(id)).foreach { ts =>
      if (ts.size >= 2) {
        val s = ts.sorted
        val med = s(s.size / 2).max(1L)
        a.skews += s.last.toDouble / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    val m = e.taskMetrics
    if (m == null) return
    val a = accFor(stageTag.getOrDefault(e.stageId, "other|exec"))
    a.tasks += 1
    a.runMs += m.executorRunTime
    a.cpuMs += m.executorCpuTime / 1e6
    a.gcMs += m.jvmGCTime
    a.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime)
    a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    a.input += m.inputMetrics.bytesRead
    stageTasks.computeIfAbsent(e.stageId,
      _ => mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    lastEventMs = System.currentTimeMillis()
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val files = collectWithSubqueries(qe.executedPlan) {
      case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
    }.sum
    qes.add(QeEvent(start, ms("analysis"), ms("optimization"),
      ms("planning"), files))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Probe {
  val TagKey = "perfbench.tag"
  val PhaseKey = "perfbench.phase"

  final case class QeEvent(startMs: Long, analysisMs: Double,
      optimizeMs: Double, physicalMs: Double, files: Long)

  /** Task and job totals for one tag. Updated from the listener thread
    * only; read after [[Probe.settle]]. */
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var schedDelayMs = 0.0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
  }
  object Acc { val empty = new Acc }
}
