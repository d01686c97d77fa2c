package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One timed call. `layer` names the graft module the call goes into
  * (`SparkEntry`, `plans`, `operators`, `Tables`, `geo`, `streaming`,
  * `sinks`), or `op` / `workload` for the enclosing spans. Times are
  * epoch nanoseconds on one clock, so listener-reported job and batch
  * times line up with them. */
final class Span(val id: Long, val parent: Long, val op: String,
                 val layer: String, val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  def durNs: Long = endNs - startNs
}

/** Per-span Spark task totals, filled by the listener. */
final class TaskTotals {
  var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ns
}

/** In-memory span recorder plus the two listeners that turn Spark jobs
  * and micro-batches into child spans. Spans are attributed to Spark
  * jobs through a local property that the job-start event carries back;
  * the property is inherited by the stream execution thread, so a
  * topology's micro-batch jobs land on the topology span. Nothing is
  * written until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "graftbench.span"
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def nowNs: Long = epochBaseNs + (System.nanoTime() - nanoBase)

  private val ids = new AtomicLong(0L)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private val jobSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val jobStartNs = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val started = new AtomicLong(0L)
  private val ended = new AtomicLong(0L)
  val totals = new ConcurrentHashMap[Long, TaskTotals]()

  /** Run `f` as a child of the innermost open span. */
  def span[T](layer: String, name: String, op: String = null)(f: => T): T = {
    val parent = stack.headOption
    val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      Option(op).orElse(parent.map(_.op)).getOrElse(name), layer, name,
      nowNs)
    spans.synchronized(spans += s)
    stack.push(s)
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, s.id.toString)
    try f
    finally {
      s.endNs = nowNs
      stack.pop()
      sc.setLocalProperty(Prop, prev)
    }
  }

  /** Record an already-finished child span (micro-batches). */
  def addSpan(parent: Long, op: String, layer: String, name: String,
              startNs: Long, endNs: Long): Unit = {
    val s = new Span(ids.incrementAndGet(), parent, op, layer, name, startNs)
    s.endNs = endNs
    spans.synchronized(spans += s)
  }

  def currentId: Long = stack.headOption.map(_.id).getOrElse(0L)

  private def totalsOf(id: Long): TaskTotals =
    totals.computeIfAbsent(id, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    jobStartNs.put(e.jobId, e.time * 1000000L)
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Prop)))
    p.foreach { id =>
      jobSpan.put(e.jobId, id.toLong)
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.get(e.jobId)).foreach { id =>
      val t = totalsOf(id.longValue)
      t.synchronized {
        t.jobs += 1
        t.jobSpans += ((jobStartNs.get(e.jobId).longValue, e.time * 1000000L))
      }
    }
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    if (job == null || e.taskMetrics == null) return
    val id = jobSpan.get(job)
    if (id == null) return
    val m = e.taskMetrics
    val t = totalsOf(id.longValue)
    t.synchronized {
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** Wait until the listener has seen every started job end (task-end
    * events precede their job's end on the bus). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(20)
    while (ended.get() < started.get() &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  def children(id: Long): Seq[Span] = spans.synchronized(spans.filter(_.parent == id).toSeq)

  def descendants(id: Long): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => descendants(k.id))
  }

  /** Task totals of these spans and everything below them. */
  def subtreeTotals(ids: Seq[Long]): TaskTotals = {
    val out = new TaskTotals
    (ids ++ ids.flatMap(descendants(_).map(_.id))).distinct
      .flatMap(i => Option(totals.get(i)))
      .foreach { t =>
        t.synchronized {
          out.jobs += t.jobs; out.tasks += t.tasks; out.runMs += t.runMs
          out.gcMs += t.gcMs; out.shuffleWrite += t.shuffleWrite
          out.shuffleRead += t.shuffleRead; out.spill += t.spill
          out.inputBytes += t.inputBytes; out.inputRecords += t.inputRecords
          out.jobSpans ++= t.jobSpans
        }
      }
    out
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Duration minus the time its children cover. */
  def selfNs(s: Span): Long =
    s.durNs - coveredNs(children(s.id).map(c => (c.startNs, c.endNs)),
      s.startNs, s.endNs)
}

/** One micro-batch's progress, as the listener reported it. */
final case class Batch(runId: String, topology: String, batchId: Long,
                       startNs: Long, durations: Map[String, Long],
                       inputRows: Long)

/** Collects micro-batch progress per streaming query and records each
  * batch as a child span of the topology span that started the query. */
final class BatchListener(tracer: Option[Tracer]) extends StreamingQueryListener {
  @volatile var topology: String = ""
  @volatile var topologySpan: Long = 0L
  private val owner = new ConcurrentHashMap[String, (String, Long)]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    owner.put(e.runId.toString, (topology, topologySpan)); ()
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val (topo, parent) = Option(owner.get(p.runId.toString))
      .getOrElse((topology, topologySpan))
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val trig = d.getOrElse("triggerExecution", 0L)
    val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
    batches.add(Batch(p.runId.toString, topo, p.batchId, startNs, d,
      p.numInputRows))
    if (parent != 0L) tracer.foreach(_.addSpan(parent, topo, "streaming",
      s"batch ${p.batchId}", startNs, startNs + trig * 1000000L))
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    terminated.add(e.runId.toString); ()
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  /** Wait for every query started so far to report termination. */
  def awaitTerminated(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!owner.keySet.asScala.forall(terminated.contains) &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}
