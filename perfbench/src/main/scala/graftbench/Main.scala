package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one session from graft's own
  * factory (`graft.apps.Apps.session`), an untimed warm-up pass, timed
  * passes over the workload's operations, an untimed correctness gate,
  * and with `--trace 1` a traced pass that splits every operation by
  * layer.
  *
  * Usage: `Main --workload <query_mix|stream_replay>
  *   --data <inputDir> --work <workDir> --seed <n> --seconds <s>
  *   --trace <0|1> --report <file.json>`
  *
  * It prints nothing the caller parses; everything goes to the report
  * file, which `run.py` turns into the final metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { new Bench(opts).run(); 0 }
      catch {
        case t: Throwable =>
          System.err.println(s"graftbench: fatal: $t")
          t.printStackTrace()
          2
      }
    System.exit(code)
  }
}

/** Timing and failure bookkeeping shared by the workloads. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String],
                val tracer: Option[Tracer], val batches: BatchListener) {
  val data: String = opts("data")
  val work: String = opts("work")
  val seed: Long = opts("seed").toLong
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  var attempted = 0L
  /** Tracing is on only inside the traced pass. */
  var tracing = false

  /** One timed operation, recorded in `sink` with its seconds; an
    * exception is counted as a failure by name, never swallowed. */
  def op(name: String, part: String, sink: mutable.Buffer[Map[String, Any]])
        (f: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try {
        if (tracing) tracer.get.span("op", name, op = name)(f) else f
        true
      } catch {
        case NonFatal(e) =>
          failures += Map("name" -> name, "error" -> e.toString.take(500))
          false
      }
    sink += Map("name" -> name, "part" -> part,
      "s" -> (System.nanoTime() - t0) / 1e9, "ok" -> ok)
  }

  /** A call into one graft module; a span only while tracing. */
  def layer[T](layer: String, name: String)(f: => T): T =
    if (tracing) tracer.get.span(layer, name)(f) else f

  /** A correctness finding that is not an exception. */
  def fail(name: String, why: String): Unit = {
    failures += Map("name" -> name, "error" -> why.take(500)); ()
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def rm(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(rm)
    f.delete(); ()
  }
}

object Ctx {
  /** Jiffies the hypervisor gave to other tenants instead of this machine's
    * CPUs so far (Linux), or 0: recorded per pass, so a run slowed by
    * another tenant can be told from a slower program. */
  def stealJiffies(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case NonFatal(_) => 0L }
}

/** One workload: its passes, the correctness artifacts it hands to
  * run.py, and the extra layer calls of the traced run. */
trait Workload {
  def prepare(): Unit = ()
  /** Timed passes per run. The first is still warming (JIT), so three
    * give each op at least two warm samples. */
  def timedPasses: Int = 3

  /** Run every operation once. `kind` is warmup, timed or traced;
    * returns the per-op records. */
  def pass(kind: String, index: Int): Seq[Map[String, Any]]
  /** Latencies of a pass as group -> op -> ms: every op by name in one
    * group, or micro-batches by id per topology. */
  def samplesMs(records: Seq[Map[String, Any]]): Map[String, Map[String, Double]] =
    Map("ops" -> records.map(r =>
      r("name").toString -> r("s").asInstanceOf[Double] * 1000.0).toMap)
  /** Untimed correctness artifacts, after the timed passes. */
  def gate(): Map[String, Any]
  /** Extra layer calls of the traced run. */
  def probes(): Unit = ()
  /** Layer metrics only this workload can report. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

final class Bench(opts: Map[String, String]) {
  private val workload = opts("workload")
  private val traced = opts.getOrElse("trace", "0") == "1"
  private val seconds = opts.getOrElse("seconds", "10").toDouble
  private val passesMax = 50

  private def mb(bytes: Long): Double = bytes / 1e6

  def run(): Unit = {
    // set-up: one session from the factory, usable once a job has run
    val t0 = System.nanoTime()
    val spark = graft.apps.Apps.session(s"graftbench-$workload")
    spark.range(1).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val batches = new BatchListener(tracer)
    spark.streams.addListener(batches)
    val ctx = new Ctx(spark, opts, tracer, batches)
    val w = workloadFor(ctx)
    w.prepare()

    val w0 = System.nanoTime()
    val warm = w.pass("warmup", 0)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // wall clock, so run.py can take set-up from its own start
    val firstOpEpochS = {
      val now = java.time.Instant.now(); now.getEpochSecond + now.getNano / 1e9
    }
    // timed passes: at least the workload's count (two for the traced
    // run's baseline), then until the window is used up
    val passesMin = if (traced) 2 else w.timedPasses
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windowStart = System.nanoTime()
    var i = 1
    while (i <= passesMin || (!traced && i <= passesMax &&
           (System.nanoTime() - windowStart) / 1e9 < seconds)) {
      val (p0, s0) = (System.nanoTime(), Ctx.stealJiffies())
      val recs = w.pass("timed", i)
      passes += Map("index" -> i, "wall_s" -> (System.nanoTime() - p0) / 1e9,
        "steal_jiffies" -> (Ctx.stealJiffies() - s0),
        "ops" -> recs, "samples_ms" -> w.samplesMs(recs))
      i += 1
    }

    // Spark's context cleaner releases state only after a GC found it
    // unreachable, so collect until a round frees less than 1 MB
    val r0 = System.nanoTime()
    val retainedMb = {
      def used(): Long = {
        System.gc(); Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      var (prev, cur, rounds) = (Long.MaxValue, used(), 1)
      while (prev - cur > 1000000L && rounds < 10) {
        prev = cur; cur = used(); rounds += 1
      }
      mb(cur)
    }
    val retainedS = (System.nanoTime() - r0) / 1e9

    val bestPassS = passes.map(_("wall_s").asInstanceOf[Double]).min
    val traceLayers = tracer.map(t => tracedPass(ctx, w, t, bestPassS))
    val g0 = System.nanoTime()
    val gate = w.gate()
    val gateS = (System.nanoTime() - g0) / 1e9
    val layers = traceLayers.map(_ + ("one_core_pass_s" -> oneCorePass(ctx)))
      .getOrElse(Map.empty)

    val report = Map(
      "workload" -> workload,
      "cpus" -> ctx.cpus,
      "setup" -> Map("first_op_epoch_s" -> firstOpEpochS,
        "session_s" -> sessionS, "warmup_s" -> warmupS, "warmup_ops" -> warm),
      "passes" -> passes.toSeq,
      "retained_heap_mb" -> retainedMb,
      "retained_s" -> retainedS,
      "gate_s" -> gateS,
      "end_epoch_s" -> { val n = java.time.Instant.now(); n.getEpochSecond + n.getNano / 1e9 },
      "attempted" -> ctx.attempted,
      "failures" -> ctx.failures.toSeq,
      "gate" -> gate,
      "layers" -> layers)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opts("report")), mapper.writeValueAsString(report))
    SparkSession.active.stop()
  }

  private def workloadFor(ctx: Ctx): Workload = workload match {
    case "query_mix"     => new QueryMix(ctx)
    case "stream_replay" => new StreamReplay(ctx)
    case other           => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** One pass on a 1-core session from the same factory, in this warm
    * JVM. `Apps.session` reads SPARK_GRAFT_CPUS on every call, so the
    * variable is changed in this process before the session is built.
    * Its operations count like any other. */
  private def oneCorePass(ctx: Ctx): Double = {
    ctx.spark.stop()
    val env = classOf[java.util.Collections].getDeclaredClasses
      .find(_.getSimpleName == "UnmodifiableMap").get.getDeclaredField("m")
    env.setAccessible(true)
    env.get(System.getenv()).asInstanceOf[java.util.Map[String, String]]
      .put("SPARK_GRAFT_CPUS", "1")
    val spark = graft.apps.Apps.session(s"graftbench-$workload-1core")
    val batches = new BatchListener(None)
    spark.streams.addListener(batches)
    val one = new Ctx(spark, opts + ("work" -> s"${opts("work")}/one_core"), None, batches)
    val w = workloadFor(one)
    w.prepare()
    val t0 = System.nanoTime()
    w.pass("timed", 1)
    val s = (System.nanoTime() - t0) / 1e9
    ctx.attempted += one.attempted
    ctx.failures ++= one.failures
    s
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** The traced run: one more pass and the probes with spans on, then
    * every per-layer metric from the recorded spans. Its overhead is
    * measured against the fastest untraced pass. */
  private def tracedPass(ctx: Ctx, w: Workload, t: Tracer,
                         untracedS: Double): Map[String, Any] = {
    val rc = graft.plans.ResultCache
    val (h0, m0) = (rc.hits, rc.misses)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val (gcMs0, gcN0) = gcTotals()

    ctx.tracing = true
    val p0 = System.nanoTime()
    val root = t.span("workload", workload, op = workload) {
      w.pass("traced", 1001)
      t.currentId
    }
    val tracedS = (System.nanoTime() - p0) / 1e9
    t.span("workload", "probes", op = "probes")(w.probes())
    ctx.tracing = false
    t.drain()
    val (h1, m1) = (rc.hits, rc.misses)
    val (gcMs1, gcN1) = gcTotals()

    val spans = t.spans.synchronized(t.spans.toList)
    def named(layer: String, name: String = null) =
      spans.filter(s => s.layer == layer && (name == null || s.name == name))
    def sumS(ss: Seq[Span]) = ss.map(_.durNs).sum / 1e9
    def totals(ss: Seq[Span]) = t.subtreeTotals(ss.map(_.id))

    val builds = named("SparkEntry")
    val actions = named("operators", "action")
    val act = totals(actions)
    val actionS = sumS(actions)
    val gapS = actions.map { s =>
      val jobs = t.subtreeTotals(Seq(s.id)).jobSpans.toSeq
      (s.durNs - t.coveredNs(jobs, s.startNs, s.endNs)) / 1e9
    }.sum
    val scans = named("Tables", "scan")
    val geos = named("geo", "geocodeFirst")

    // op spans are direct children of the traced workload span and of
    // the probes span; each op's self time is what no layer covers
    val ops = spans.filter(_.layer == "op")
    val opRows = ops.map { s =>
      val self = t.selfNs(s)
      Map("op" -> s.name, "wall_s" -> s.durNs / 1e9, "self_s" -> self / 1e9,
        "self_frac" -> (if (s.durNs > 0) self.toDouble / s.durNs else 0.0),
        "layers" -> t.children(s.id).groupBy(c => s"${c.layer}.${c.name}")
          .map { case (k, cs) => k -> cs.map(c => t.selfNs(c) +
            t.descendants(c.id).map(t.selfNs).sum).sum / 1e9 })
    }

    val metrics = mutable.LinkedHashMap[String, Double](
      "SparkEntry.build_s" -> sumS(builds),
      "SparkEntry.build_jobs" -> totals(builds).jobs.toDouble,
      "plans.planning_s" -> sumS(named("plans")),
      "plans.cache_hits" -> (h1 - h0).toDouble,
      "plans.cache_misses" -> (m1 - m0).toDouble,
      "plans.cache_entries" -> rc.size.toDouble,
      "operators.action_s" -> actionS,
      "operators.jobs" -> act.jobs.toDouble,
      "operators.tasks" -> act.tasks.toDouble,
      "operators.task_s" -> act.runMs / 1e3,
      "operators.gc_s" -> act.gcMs / 1e3,
      "operators.shuffle_write_mb" -> mb(act.shuffleWrite),
      "operators.shuffle_read_mb" -> mb(act.shuffleRead),
      "operators.spill_mb" -> mb(act.spill),
      "operators.driver_gap_s" -> gapS,
      "operators.cpu_util" ->
        (if (actionS > 0) act.runMs / 1e3 / (actionS * ctx.cpus) else 0.0),
      "Tables.scan_s" -> sumS(scans),
      "Tables.rows" -> totals(scans).inputRecords.toDouble,
      "Tables.input_mb" -> mb(totals(scans).inputBytes),
      "geo.geocode_s" -> sumS(geos),
      "geo.points" -> totals(geos).inputRecords.toDouble,
      "sinks.tile_write_s" -> sumS(named("sinks", "tile_write")),
      "sinks.upsert_s" -> sumS(named("sinks", "upsert")),
      "sinks.parquet_write_s" -> sumS(named("sinks", "parquet_write")),
      "jvm.gc_s" -> (gcMs1 - gcMs0) / 1e3,
      "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
      "jvm.heap_peak_mb" -> mb(heapPools.map(_.getPeakUsage.getUsed).sum),
      "trace.overhead_frac" -> (tracedS - untracedS) / untracedS,
      "trace.max_op_self_frac" ->
        opRows.map(_("self_frac").asInstanceOf[Double]).maxOption.getOrElse(0.0))
    metrics ++= w.layerMetrics()

    val spanRows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(ctx.work, "spans.json"),
      mapper.writeValueAsString(spanRows))
    Map("metrics" -> metrics.toMap, "ops" -> opRows,
      "untraced_pass_s" -> untracedS, "traced_pass_s" -> tracedS,
      "root_span" -> root)
  }
}
