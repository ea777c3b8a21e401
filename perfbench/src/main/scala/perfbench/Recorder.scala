package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder of the traced run.
  *
  * Work is attributed to a GROUP — one query or one named call — through
  * the job group the benchmark sets before running it:
  *   - a `SparkListener` counts jobs, stages and tasks per group and sums
  *     executor run/CPU/GC time, scheduler delay, shuffle bytes and spill;
  *   - a `QueryExecutionListener` sums the Catalyst phase times of every
  *     execution (internal ones included) from `QueryExecution.tracker`;
  *   - a `StreamingQueryListener` keeps every micro-batch progress report.
  *
  * Listeners run on the listener-bus threads; [[read]] drains the bus
  * first, so no event of a finished group can arrive after it is read.
  * The recorder only adds and removes its own listeners, so the library's
  * own one-shot execution listeners keep working. [[detach]] and
  * [[attach]] let traced and untraced stretches interleave in one JVM. */
final class Recorder(spark: SparkSession) {

  /** Totals of one group. */
  final class Acc {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var schedDelayMs = 0.0
    var execRunMs = 0.0
    var execCpuMs = 0.0
    var gcMs = 0.0
    var serialStageMs = 0.0
    var shuffleReadB = 0.0
    var shuffleWriteB = 0.0
    var spillB = 0.0
    var catalystMs = 0.0
    var executions = 0L
    var longestStageMs = -1.0
    var longestStageSkew = 0.0
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Double]]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  /** Group that Catalyst times are charged to. Set by [[run]]; valid
    * because [[run]] drains the bus before the next group starts. */
  @volatile private var current = "unattributed"

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(current)
      e.stageIds.foreach(id => stageGroup.put(id, g))
      val a = acc(g)
      a.synchronized { a.jobs += 1 }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      if (g != null && e.taskInfo != null) {
        val ti = e.taskInfo
        val dur = (ti.finishTime - ti.launchTime).toDouble
        val buf = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Double]())
        buf.synchronized { buf += dur }
        val m = e.taskMetrics
        val a = acc(g)
        if (m != null) a.synchronized {
          a.execRunMs += m.executorRunTime
          a.execCpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          // the Spark UI's scheduler delay: task wall time not spent
          // running, (de)serializing or fetching the result
          a.schedDelayMs += math.max(0.0, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val g = stageGroup.get(info.stageId)
      if (g != null) {
        val wall = (for (s <- info.submissionTime; c <- info.completionTime) yield (c - s).toDouble)
          .getOrElse(0.0)
        val durs = Option(stageTaskMs.remove(info.stageId))
          .map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
        val a = acc(g)
        a.synchronized {
          a.stages += 1
          a.tasks += info.numTasks
          if (info.numTasks == 1) a.serialStageMs += wall
          if (wall > a.longestStageMs && durs.nonEmpty) {
            a.longestStageMs = wall
            a.longestStageSkew = durs.max / math.max(1.0, Stats.median(durs))
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      charge(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      charge(qe)
    private def charge(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val a = acc(current)
      a.synchronized { a.catalystMs += ms; a.executions += 1 }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryProgress(event: QueryProgressEvent): Unit = progress.add(event.progress)
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  /** Installs the listeners (done on construction); a no-op when they are
    * installed already. */
  def attach(): Unit = if (!attached) {
    drain()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  attach()

  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  /** Run `body` as group `g`: every job it launches carries `g`. */
  def run[T](g: String)(body: => T): T = {
    drain()
    current = g
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally {
      drain()
      sc.clearJobGroup()
      current = "unattributed"
    }
  }

  /** Totals of the groups accepted by `keep`, read after draining. */
  def read(keep: String => Boolean): Seq[Acc] = {
    drain()
    accs.asScala.collect { case (g, a) if keep(g) => a }.toSeq
  }

  /** Every progress report delivered so far, in delivery order. */
  def progressReports(): Seq[StreamingQueryProgress] = {
    drain()
    progress.asScala.toSeq
  }

  /** Removes the listeners, after the bus has delivered every pending
    * event to them; [[attach]] installs them again. Totals are kept. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }
}
