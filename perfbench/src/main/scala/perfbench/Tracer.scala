package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-level work attributed to one span. Only the listener thread
  * writes these; the benchmark thread reads them after draining the bus.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var maxTaskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planningMs = 0L
  var smj = 0L
}

/** One closed span: name, parent, start and end (ns, driver clock). */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
    counters: Counters)

/** Spans around the program's public calls, with the Spark work each
  * one caused, read from outside the program: a SparkListener for jobs,
  * stages and tasks, and a QueryExecutionListener for planning phases
  * and the join operators of the final adaptive plans.
  *
  * Untraced, only the run-wide shuffle-byte total is kept and `span`
  * runs its body bare. Traced, the bus is drained at every span
  * boundary, so each event lands in the spans that were open when it
  * was posted. Spans are kept in memory and written out once at the end.
  */
final class Tracer(val traced: Boolean) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val total = new Counters
  @volatile private var open: List[Counters] = Nil
  private var names: List[String] = Nil
  private val closed = ArrayBuffer[Span]()
  private var sc: SparkContext = _

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(this)
    if (traced) spark.listenerManager.register(this)
  }

  def spans: Seq[Span] = closed.toSeq

  /** Shuffle bytes written so far in this session. */
  def shuffleWriteBytes(): Long = { Bus.drain(sc); total.synchronized(total.shuffleWriteBytes) }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val c = new Counters
      val parent = names.headOption.getOrElse("")
      Bus.drain(sc)
      open = c :: open
      names = name :: names
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        Bus.drain(sc)
        open = open.tail
        names = names.tail
        closed += Span(name, parent, t0, t1, c)
      }
    }

  private def each(f: Counters => Unit): Unit = open.foreach(c => c.synchronized(f(c)))

  override def onJobStart(e: SparkListenerJobStart): Unit = each(_.jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = each(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val written = m.shuffleWriteMetrics.bytesWritten
      total.synchronized(total.shuffleWriteBytes += written)
      each { c =>
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
        c.shuffleWriteBytes += written
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val smj = collectWithSubqueries(qe.executedPlan) { case j: SortMergeJoinExec => j }.size
    each { c => c.planningMs += ms; c.smj += smj }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}
