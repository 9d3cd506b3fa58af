package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch nanoseconds: monotonic within the run, and on the
  * same axis as the millisecond event times Spark's listener reports.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** One traced interval. `parent` is -1 for an op's root span; `op` is the
  * index of the operation in the run.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def layer: String = if (name.startsWith("op/")) "op" else name.takeWhile(_ != '.')
}

/** Spans recorded around the benchmark's calls into each layer. Kept in
  * memory; written out once at the end of the run. Disabled, `span` is a
  * plain call.
  */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  var enabled = false
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, Clock.now(), parent, op)
      }
    }

  def opSpan[A](opIndex: Int, name: String)(body: => A): A = {
    op = opIndex
    span("op/" + name)(body)
  }

  /** Attach Spark job intervals (from the listener) under the deepest span
    * of the op that was open when each job started, clipped to that span:
    * listener times are whole milliseconds from another clock reading.
    */
  def addJobs(opIndex: Int, jobs: Seq[(Long, Long)]): Unit = if (enabled) {
    val mine = spans.filter(_.op == opIndex)
    mine.find(_.parent == -1).foreach { root =>
      jobs.foreach { case (s, e) =>
        val holders = mine.filter(sp => sp.start <= s && s <= sp.end)
        val parent = if (holders.isEmpty) root else holders.minBy(sp => sp.end - sp.start)
        val (cs, ce) = (math.max(s, parent.start), math.min(e, parent.end))
        if (ce > cs) {
          spans += Span(nextId, "spark.job", cs, ce, parent.id, opIndex)
          nextId += 1
        }
      }
    }
  }

  /** Length of the union of intervals clipped to [lo, hi]. */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var s = Long.MinValue
    var e = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (a > e) { total += math.max(0L, e - s); s = a; e = b } else e = math.max(e, b)
      }
    total + math.max(0L, e - s)
  }

  /** Span duration minus the part of it its children cover. Spark jobs of
    * one op can run concurrently; a job's self time excludes what earlier
    * sibling jobs already cover, so an op's self times sum to its wall time.
    */
  def selfTimes(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    val base = spans.map { sp =>
      val iv = kids.getOrElse(sp.id, Nil).map(c => (c.start, c.end))
      sp.id -> ((sp.end - sp.start) - covered(iv, sp.start, sp.end))
    }.toMap
    val jobs = kids.values.flatMap { sibs =>
      val earlier = ArrayBuffer[(Long, Long)]()
      sibs.filter(_.name == "spark.job").sortBy(_.start).map { j =>
        val overlap = covered(earlier, j.start, j.end)
        earlier += ((j.start, j.end))
        j.id -> ((j.end - j.start) - overlap)
      }
    }
    base ++ jobs
  }

  def toJson(opNames: IndexedSeq[String]): String = {
    val self = selfTimes()
    spans.sortBy(_.id).map { sp =>
      val opName = if (sp.op >= 0 && sp.op < opNames.size) opNames(sp.op) else ""
      s"""{"id":${sp.id},"name":"${sp.name}","layer":"${sp.layer}","start_ns":${sp.start},""" +
        s""""end_ns":${sp.end},"self_ns":${self(sp.id)},"parent":${sp.parent},""" +
        s""""op":${sp.op},"op_name":"$opName"}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Counters gathered from outside the program between two `take()`s. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bnlJoins = 0L
  var scanRows = 0L
  var filterOutRows = 0L
  var batches = 0L
  var batchMs = 0L
  var stateRows = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
}

/** The benchmark's listeners: a SparkListener (jobs, stages, tasks,
  * shuffle, spill), a QueryExecutionListener (SQL metrics of the execution
  * that actually ran) and a StreamingQueryListener (micro-batches, state).
  * Attached only for traced passes.
  */
final class Observer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var cur = new Counters
  private val jobStart = scala.collection.mutable.Map[Int, Long]()

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Observer.this.synchronized {
        cur.batches += 1
        cur.batchMs += e.progress.batchDuration
        cur.stateRows = math.max(cur.stateRows,
          e.progress.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    org.apache.spark.PerfBenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Wait for every posted event, then hand over the counters so far. */
  def take(): Counters = {
    org.apache.spark.PerfBenchBridge.drainListeners(spark.sparkContext)
    synchronized { val c = cur; cur = new Counters; c }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStart(e.jobId) = e.time * 1000000L
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time * 1000000L)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    if (e.taskMetrics != null) cur.taskRunMs += e.taskMetrics.executorRunTime
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = Observer.nodes(qe.executedPlan)
    def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val bnl = nodes.count {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }
    val scans = nodes.collect { case s: FileSourceScanExec => rows(s) }.sum
    val filtered = nodes.collect { case f: FilterExec => rows(f) }.sum
    synchronized {
      cur.bnlJoins += bnl
      cur.scanRows += scans
      cur.filterOutRows += filtered
    }
  }

  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Observer {
  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages and reused exchanges.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }
}
