package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are wall-clock milliseconds (to
  * line up with Spark's task times) plus a monotonic duration. */
final case class TraceSpan(id: String, name: String, parent: String, run: Int,
                           startMs: Long, endMs: Long, nanos: Long) {
  def seconds: Double = nanos / 1e9
}

/** Task counters of every Spark job started inside one span. */
final class SpanStats {
  var jobs, tasksFailed = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleRead, shuffleWrite, spillDisk, recordsRead, recordsWritten, bytesWritten = 0L
  val intervals = ArrayBuffer[(Long, Long)]()
  val stageTaskMs = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
}

/** Outside-in tracer: wraps calls into the layers' public functions in
  * spans, each span its own Spark job group, and reads Spark's task
  * metrics for the group through a listener this benchmark registers.
  * Spans live in memory and are written out when the run ends. */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  val spans = ArrayBuffer[TraceSpan]()
  private var seq = 0

  spark.sparkContext.addSparkListener(this)

  private def statsOf(group: String): SpanStats = stats.computeIfAbsent(group, _ => new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val st = statsOf(g)
      st.synchronized(st.jobs += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g == null) return
    val st = statsOf(g)
    val i = e.taskInfo
    st.synchronized {
      if (i.failed || i.killed) st.tasksFailed += 1
      st.intervals += ((i.launchTime, i.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spillDisk += m.diskBytesSpilled
        st.recordsRead += m.inputMetrics.recordsRead
        st.recordsWritten += m.outputMetrics.recordsWritten
        st.bytesWritten += m.outputMetrics.bytesWritten
        st.schedDelayMs += math.max(0L, (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
        st.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += m.executorRunTime
      }
    }
  }

  /** Run `f` as span `name` of traced run `run`. */
  def span[A](name: String, parent: String, run: Int)(f: => A): A = {
    seq += 1
    val id = s"$name#$run#$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      spans += TraceSpan(id, name, parent, run, w0, System.currentTimeMillis(), t1 - t0)
    }
  }

  def last(name: String, run: Int): TraceSpan =
    spans.filter(s => s.name == name && s.run == run).last

  /** Median seconds of the spans `name` of traced run `run`. */
  def medianSeconds(name: String, run: Int): Double =
    Main.median(spans.filter(s => s.name == name && s.run == run).map(_.seconds).toSeq)

  /** Counters of a span once the listener bus has delivered its events. */
  def statsFor(s: TraceSpan): SpanStats = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    statsOf(s.id)
  }

  /** Seconds of the span during which no task of its jobs was running. */
  def driverOnlyS(s: TraceSpan): Double = {
    val iv = statsFor(s).intervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }

  /** Task-time share of all cores over the span's wall time. */
  def coreBusy(s: TraceSpan): Double = {
    val busy = statsFor(s).intervals.map { case (a, b) => b - a }.sum
    busy / math.max(1.0, (s.endMs - s.startMs).toDouble * cores)
  }

  /** Max ÷ median task run time in the span's stage with the most task time. */
  def taskSkew(s: TraceSpan): Double = {
    val st = statsFor(s)
    if (st.stageTaskMs.isEmpty) 1.0
    else {
      val ts = st.stageTaskMs.values.maxBy(_.sum).sorted
      ts.last.toDouble / math.max(1L, ts(ts.length / 2))
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  def spansJson: String = spans.map { s =>
    s"""{"id":"${s.id}","name":"${s.name}","parent":"${s.parent}","run":${s.run},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
  }.mkString("[", ",", "]")
}

/** Reads the executed plans' SQL metrics of the registry's near-dup
  * queries: rows out of the LSH band self-joins (candidates) and of the
  * pair ⋈ shingle-set verification join (pairs verified). */
final class PlanCounter extends QueryExecutionListener {
  @volatile var candidates = 0L
  @volatile var verified = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    walk(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def rowsOut(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case j: BaseJoinExec =>
      val keys = j.leftKeys.flatMap(_.references.map(_.name)).toSet
      val out = j.output.map(_.name).toSet
      if (keys == Set("band", "bucket")) synchronized(candidates += rowsOut(j))
      else if (keys == Set("b") && out("sa") && out("sb")) synchronized(verified += rowsOut(j))
      j.children.foreach(walk)
    case other => other.children.foreach(walk)
  }
}
