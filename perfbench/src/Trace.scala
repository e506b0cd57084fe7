package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own tracing: spans around the calls into each engine
  * layer, plus Spark's task/job records and stage-write completions from
  * listeners the benchmark registers. Everything is kept in memory and
  * written once, at the end, by [[Main]]; `analyze.py` turns it into the
  * per-layer metrics. When `on` is false every span is a plain call and
  * [[drain]] is the identity, so the untraced run executes the same code
  * with nothing recorded. */
final class Trace(val on: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  var iteration = 0
  var pass = "main"

  /** Time `body` as span `name` (layer = the name's first segment). */
  def span[T](name: String)(body: => T): T =
    span(name, (_: T) => Map.empty[String, Double])(body)

  /** [[span]] with `attrs`: counts recorded at the same boundary. */
  def span[T](name: String, attrs: T => Map[String, Double])(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += Span(id, name, if (stack.isEmpty) -1 else stack.top,
        iteration, pass, nowMs(), Double.NaN, Map.empty)
      stack.push(id)
      val out = try body finally {
        stack.pop()
        spans(id) = spans(id).copy(endMs = nowMs())
      }
      // counts are taken after the span closes, so they cost it nothing
      spans(id) = spans(id).copy(attrs = attrs(out))
      out
    }

  /** Spark is lazy: with tracing on, materialize `df` inside the current
    * span so the span holds its own work; the persisted copy feeds the
    * next layer. Untraced, the lineage flows on unchanged. */
  def drain(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist()
      p.count()
      drained += p
      p
    }

  private val drained = mutable.ArrayBuffer[DataFrame]()
  def releaseDrained(): Unit = { drained.foreach(_.unpersist()); drained.clear() }

  val listener = new SparkRecords
  val writes = new StageWrites

  def register(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(writes)
  }

  def unregister(spark: SparkSession): Unit = if (on) {
    org.apache.spark.SparkAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(writes)
  }
}

object Trace {
  private val epochAtNano = System.currentTimeMillis() - System.nanoTime() / 1e6
  /** Epoch milliseconds with sub-ms resolution (comparable to Spark's
    * TaskInfo launch/finish times). */
  def nowMs(): Double = epochAtNano + System.nanoTime() / 1e6

  case class Span(id: Int, name: String, parent: Int, iteration: Int,
                  pass: String, startMs: Double, endMs: Double,
                  attrs: Map[String, Double])

  case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                     cpuNs: Long, gcMs: Long, shuffleRead: Long,
                     shuffleWrite: Long, spill: Long)

  case class StageRec(stage: Int, tasks: Int, submitMs: Long, doneMs: Long)

  /** Task, stage and job records from the listener bus. */
  final class SparkRecords extends SparkListener {
    val tasks = mutable.ArrayBuffer[TaskRec]()
    val stages = mutable.ArrayBuffer[StageRec]()
    val jobs = mutable.ArrayBuffer[(Long, Long)]()
    private val jobStart = mutable.Map[Int, Long]()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
  }

  /** Completion time of each pipeline stage write, keyed by the stage
    * name in its output path `<root>/<stage>__<hash>`. */
  final class StageWrites extends QueryExecutionListener {
    val done = mutable.ArrayBuffer[(String, Double)]()
    private val StagePath = """/([A-Za-z0-9_]+)__[0-9a-f]{10}""".r

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = nowMs()
      val plan = qe.logical.toString
      if (plan.contains("InsertIntoHadoopFsRelationCommand"))
        StagePath.findFirstMatchIn(plan).foreach(m =>
          synchronized { done += ((m.group(1), end)) })
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
