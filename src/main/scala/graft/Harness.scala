package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList, Executors, TimeUnit, TimeoutException}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Developer harness over the query registry: one session in the
  * bench's `cache` materialization mode ([[plans.ResultCache.installHooks]]),
  * one sf dir and one loop over the named queries (every registry
  * query, sorted, when none is named). A query that fails is printed
  * and skipped; the failures are named at the end and the process
  * exits non-zero.
  *
  *  - `time [--cold] [--out F]`: min of 3 `count()` runs per query
  *    after a `q1_agg` warm-up.
  *    Compare candidates within one session only: a full Bench sweep
  *    deep-JITs the planner and codegen paths first, so sub-300 ms
  *    queries run ~100-150 ms faster there (round 16: q_text_stats
  *    0.09 s in-bench vs 0.24 s here, same code); floor breaches are
  *    judged bench against bench. `--cold` clears the cache before
  *    every run, so each sample pays its shared-preprocessing build
  *    (the other mode of a cache-coupled query's distribution).
  *    `--out` also writes `{"mode","sf","queries":{name: min}}`.
  *  - `explain [--materialized]`: the formatted physical plan and
  *    PlanGuard audit of each query, without running it (see
  *    [[explain]]).
  *  - `jobs`: each Spark job of a query's warm run with its wall time,
  *    stages, tasks and the driver-side gap since the previous job
  *    (planning, optimizer and codegen time that task metrics miss).
  *  - `plans [--out F]`: writes condensed executed plans, the
  *    per-query PlanGuard audit (including `unpartitionedWindows`, the
  *    PlanGuardSpec whitelist) and a dry-plan table of the iterative
  *    family to F (default PLANS.md).
  *  - `shuffles [--out F]`: writes measured shuffle bytes, records and
  *    leaf-scan rows per query, largest first, to F (default
  *    SHUFFLES.md).
  *
  * Usage: runMain graft.Harness <cmd> <sfDir> [flags] [q_name ...]
  */
object Harness {
  private val usage = "usage: Harness time|explain|jobs|plans|shuffles " +
    "<sfDir> [--cold] [--materialized] [--out F] [q_name ...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Set("time", "explain", "jobs", "plans",
      "shuffles").contains(args(0)), usage)
    val Array(cmd, dir) = args.take(2)
    val rest = args.drop(2).toSeq
    val outAt = rest.indexOf("--out")
    require(outAt < 0 || outAt + 1 < rest.length, usage)
    val out = if (outAt >= 0) Some(rest(outAt + 1)) else None
    val flags = rest.filter(_.startsWith("--")).toSet
    require(flags.subsetOf(Set("--cold", "--materialized", "--out")), usage)
    val named = rest.zipWithIndex.collect {
      case (a, i) if !a.startsWith("--") && (outAt < 0 || i != outAt + 1) => a
    }
    val names =
      if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val spark = apps.Apps.session(s"graft-harness-$cmd")
    plans.ResultCache.installHooks()
    spark.sparkContext.setLogLevel("ERROR")
    val failed =
      try cmd match {
        case "time" => time(spark, dir, names, flags("--cold"), out)
        case "explain" => explain(spark, dir, names, flags("--materialized"))
        case "jobs" => jobs(spark, dir, names)
        case "plans" => planDoc(spark, dir, names, out.getOrElse("PLANS.md"))
        case "shuffles" =>
          shuffles(spark, dir, names, out.getOrElse("SHUFFLES.md"))
      } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Runs `body` on each query in order. A failure is printed and
    * skipped. Returns each success with its value, and the names of
    * the queries that failed. */
  private def each[A](names: Seq[String])(
      body: String => A): (Seq[(String, A)], Seq[String]) = {
    val rs = names.map { name =>
      name -> (try Right(body(name)) catch { case e: Throwable =>
        println(s"[$name] failed: ${e.getMessage}")
        Left(name)
      })
    }
    (rs.collect { case (n, Right(a)) => n -> a },
      rs.collect { case (_, Left(n)) => n })
  }

  private[graft] val json = new ObjectMapper()

  /** Seconds at 3 decimals; Jackson writes a BigDecimal as is. */
  private[graft] def f3(v: Double): JBigDecimal =
    new JBigDecimal(v).setScale(3, RoundingMode.HALF_UP)

  /** An insertion-ordered JSON object. */
  private[graft] def obj(kvs: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def time(spark: SparkSession, dir: String, names: Seq[String],
                   cold: Boolean, out: Option[String]): Seq[String] = {
    SparkEntry.queries("q1_agg")(spark, dir).count() // warm-up
    val (mins, failed) = each(names) { name =>
      val times = (1 to 3).map { _ =>
        if (cold) plans.ResultCache.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name: min ${times.min}%.2f s  runs " +
        times.map(t => f"$t%.2f").mkString(",") +
        (if (cold) "  [cold cache]" else ""))
      times.min
    }
    out.foreach { p =>
      Files.writeString(Paths.get(p), json.writeValueAsString(obj(Seq(
        "mode" -> (if (cold) "cold" else "warm"), "sf" -> dir,
        "queries" -> obj(mins.map { case (k, v) => k -> f3(v) })))))
    }
    failed
  }

  private def auditLine(a: plans.PlanGuard.Audit): String =
    s"[planguard] cartesians=${a.cartesians} " +
      s"nestedLoops=${a.nestedLoops} shuffles=${a.shuffles} " +
      s"broadcasts=${a.broadcasts} scans=${a.scans} " +
      s"codegenSpans=${a.codegenSpans} " +
      s"unpartitionedWindows=${a.unpartitionedWindows}"

  /** Prints each query's formatted physical plan and PlanGuard audit,
    * built in `plan` mode (see [[plans.Materialize]]) unless
    * `materialized`.
    *
    * Queries that EXECUTE during construction (driver-loop trainers
    * such as logistic/OLS/BPE, which collect per round, and keyed
    * artifacts such as the SGNS model) cannot be made lazy by a mode,
    * and running them without lineage cuts compounds
    * exponentially. The dry build therefore runs under a 90 s
    * deadline; on timeout the in-flight jobs are cancelled and the
    * query is audited again in materialized mode. */
  private def explain(spark: SparkSession, dir: String, names: Seq[String],
                      materialized: Boolean): Seq[String] = {
    def audit(name: String, label: String): Unit = {
      println(s"==== $name$label ====")
      val df = SparkEntry.queries(name)(spark, dir)
      df.explain("formatted")
      println(auditLine(plans.PlanGuard.audit(df)))
      plans.PlanGuard.requireNoCartesian(df, name)
    }
    each(names) { name =>
      if (materialized) audit(name, "")
      else {
        plans.Materialize.setMode(spark, plans.Materialize.Plan)
        // per-query executor so a timed-out build can be shutdownNow +
        // awaitTermination'd — cancel alone does not guarantee the
        // thread stopped, and an abandoned build still constructing
        // on this session would run under the mode the re-audit
        // switches to, racing it on the SparkContext and ResultCache
        val exec = Executors.newSingleThreadExecutor { r =>
          val t = new Thread(r); t.setDaemon(true); t
        }
        val fut = exec.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = audit(name, " (dry plan)")
        })
        try { fut.get(90, TimeUnit.SECONDS); exec.shutdown() }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelAllJobs()
            fut.cancel(true)
            exec.shutdownNow()
            // re-cancel in a bounded loop: the build may submit a new
            // job between a cancel and its next action
            val dead = (1 to 12).exists { _ =>
              spark.sparkContext.cancelAllJobs()
              exec.awaitTermination(5, TimeUnit.SECONDS)
            }
            if (!dead)
              throw new IllegalStateException("dry-plan build thread " +
                "did not terminate within 60 s of cancellation; the " +
                "materialized re-audit is skipped rather than racing " +
                "the live thread on the shared session")
            println(s"[dry-plan timeout] $name either executes " +
              "work during construction (driver-loop trainer, " +
              "keyed-cache artifact) or its uncut iterative plan " +
              "overwhelms the optimizer - re-auditing in " +
              "materialized mode")
            plans.Materialize.setMode(spark, plans.Materialize.Cache)
            audit(name, " (materialized)")
        }
      }
    }._2
  }

  private def jobs(spark: SparkSession, dir: String,
                   names: Seq[String]): Seq[String] = {
    SparkEntry.queries("q1_agg")(spark, dir).count() // warm-up
    final case class Job(start: Long, site: String, var end: Long = 0L,
                         var stages: Int = 0, var tasks: Int = 0)
    val jobs = new ConcurrentHashMap[Int, Job]()
    val order = new CopyOnWriteArrayList[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        jobs.put(js.jobId, Job(js.time, site)); order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId); if (j != null) j.end = je.time
      }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        // attribute to the most recent unfinished job (local mode,
        // sequential jobs — good enough for a breakdown)
        val it = order.iterator()
        var last: Job = null
        while (it.hasNext) {
          val j = jobs.get(it.next())
          if (j != null && j.end == 0L) last = j
        }
        if (last != null) {
          last.stages += 1
          last.tasks += sc.stageInfo.numTasks
        }
      }
    }
    each(names) { name =>
      SparkEntry.queries(name)(spark, dir).count() // warms every cache
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir).count()
      finally spark.sparkContext.removeSparkListener(listener)
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain listener bus
      println(f"==== $name warm total $total%.2f s ====")
      var prevEnd = 0L
      var sumJob = 0.0; var sumGap = 0.0
      val it = order.iterator()
      while (it.hasNext) {
        val id = it.next(); val j = jobs.get(id)
        val dur = (j.end - j.start) / 1e3
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        sumJob += dur; if (gap > 0) sumGap += gap
        println(f"  job $id%4d  ${dur}%7.3f s  gap ${gap}%7.3f s  " +
          f"stages ${j.stages}%3d  tasks ${j.tasks}%5d  ${j.site}")
        prevEnd = j.end
      }
      println(f"  [sum] jobs ${sumJob}%.3f s  inter-job gaps ${sumGap}%.3f s" +
        f"  unattributed ${total - sumJob - sumGap}%.3f s")
    }._2
  }

  private def planDoc(spark: SparkSession, dir: String, names: Seq[String],
                      out: String): Seq[String] = {
    val interesting = Seq("FileScan", "PushedFilters", "Exchange", "Join",
      "HashAggregate", "SortAggregate", "ObjectHashAggregate", "Window",
      "WholeStageCodegen", "MapGroups", "BatchScan", "Generate")
    val sb = new StringBuilder
    sb.append("# PLANS — condensed physical plans per query\n\n")
    sb.append(s"Generated by `graft.Harness plans` at `$dir`. Lines\n")
    sb.append("filtered to scans (with pushdown), exchanges, joins,\n")
    sb.append("aggregates, windows and codegen boundaries. Each query\n")
    sb.append("carries its PlanGuard audit line; the audit summary at the\n")
    sb.append("end is the registry-wide plan-hygiene ledger (the same\n")
    sb.append("counters PlanGuardSpec gates on every test run).\n")
    val (audits, failed) = each(names) { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      // execute first: AQE only finalizes join strategies and
      // codegen spans in the post-run plan — an un-executed
      // adaptive plan prints isFinalPlan=false with no `*(N)`
      // markers and the audit would under-report
      df.count()
      // stripped of == Initial Plan == sections, same surface the
      // audit counters read — displayed plan == audited plan
      val plan = plans.PlanGuard.planString(df)
      val a = plans.PlanGuard.audit(df)
      sb.append(s"\n## $name\n\n```\n")
      plan.linesIterator
        .filter(l => interesting.exists(l.contains))
        .map { l0 =>
          val l = l0.replaceAll("#\\d+[L]?", "")
          if (l.contains("FileScan")) {
            // keep the parts that matter: scan head + pushdown + schema
            val head = l.trim.takeWhile(_ != ']') + "]"
            val pushed = "PushedFilters: \\[[^\\]]*\\]".r
              .findFirstIn(l).getOrElse("")
            val schema = "ReadSchema: [^,]*".r.findFirstIn(l).getOrElse("")
            s"$head $pushed $schema"
          } else l.take(200)
        }
        .foreach(l => sb.append(l.trim).append('\n'))
      sb.append("```\n").append(auditLine(a)).append('\n')
      a
    }
    // registry-wide ledger: the first question about each
    // scale hazard, answered in one table
    sb.append("\n## Audit summary\n\n")
    sb.append(s"${audits.size} queries audited")
    if (failed.nonEmpty)
      sb.append(s"; ${failed.size} failed to plan: ${failed.mkString(", ")}")
    sb.append(".\n\n")
    val carts = audits.filter(_._2.cartesians > 0)
    sb.append(s"- CartesianProduct nodes: ${carts.size} queries " +
      (if (carts.isEmpty) "(none — the registry-wide invariant)"
       else carts.map(_._1).mkString("(", ", ", ")")) + "\n")
    val wins = audits.filter(_._2.unpartitionedWindows > 0)
    sb.append(s"- Unpartitioned windows: ${wins.size} queries, all on " +
      "bounded aggregated frames (PlanGuardSpec holds the exact " +
      "whitelist): " +
      wins.map(w => s"${w._1}=${w._2.unpartitionedWindows}")
        .mkString(", ") + "\n")
    val nl = audits.filter(_._2.nestedLoops > 0)
    sb.append(s"- BroadcastNestedLoopJoin: ${nl.size} queries " +
      "(single-row/class-sized broadcast scalars by audit): " +
      nl.map(w => s"${w._1}=${w._2.nestedLoops}").mkString(", ") + "\n")
    sb.append("\nTop 15 by shuffle count (exchange nodes in the plan):\n\n")
    sb.append("| query | shuffles | broadcasts | scans | codegen spans |\n")
    sb.append("|---|---:|---:|---:|---:|\n")
    audits.sortBy(-_._2.shuffles).take(15).foreach { case (n, a) =>
      sb.append(s"| $n | ${a.shuffles} | ${a.broadcasts} | ${a.scans} " +
        s"| ${a.codegenSpans} |\n")
    }

    // Dry-plan audit of the iterative family: plan only, no count(),
    // because executing an uncut iterative plan compounds
    // exponentially; the per-round join STRATEGY is what this section
    // documents.
    sb.append("\n## Dry-plan audit — iterative family\n\n")
    sb.append("Built in `plan` mode (`plans.Materialize`); per-round join " +
      "shapes kept in-plan (no `Scan ExistingRDD` lineage cuts). " +
      "Columns: equi-join nodes in the full un-cut plan, cartesians " +
      "(must be 0), RDD-scan leaks (must be 0).\n\n")
    sb.append("Exception: `q_graph_ktruss` audits under a LAZY " +
      "between-round cut (edgeSupport is too wide to chain uncut — " +
      "the optimizer times out; see plans.Materialize), " +
      "so its row shows the LAST round's join shape and its rdd-scan " +
      "count is the number of in-plan REFERENCES to the cut rounds " +
      "(edgeSupport reads its input edge set many times), " +
      "intentional cut boundaries rather than leaks.\n\n")
    sb.append("| query | joins in plan | cartesians | rdd scans |\n")
    sb.append("|---|---:|---:|---:|\n")
    // q_graph_louvain_ml / _res are EXCLUDED: their 2-level un-cut
    // plans are exponential in the contraction depth — building the
    // logical plan alone OOMs the driver (measured; the reason the
    // operators carry per-round lineage cuts at all). `explain`'s
    // 90 s deadline + materialized fallback is the audit path for
    // those two.
    val iterative = Seq("q_graph_pagerank", "q_graph_pagerank_w",
      "q_graph_pagerank_d", "q_graph_lpa", "q_graph_kcore",
      "q_graph_bfs", "q_graph_sssp", "q_graph_louvain",
      "q_graph_modularity", "q_graph_modularity_w", "q_graph_anf",
      "q_graph_clustering", "q_graph_triangles", "q_graph_ktruss",
      "q_dedup_cluster", "q_dedup_communities").filter(names.contains)
    plans.Materialize.setMode(spark, plans.Materialize.Plan)
    val (_, dryFailed) = each(iterative) { name =>
      val p = plans.PlanGuard.planString(SparkEntry.queries(name)(spark, dir))
      val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
        .findAllIn(p).length
      val carts = "CartesianProduct".r.findAllIn(p).length
      val rdd = "Scan ExistingRDD".r.findAllIn(p).length
      sb.append(s"| $name | $joins | $carts | $rdd |\n")
    }
    dryFailed.foreach(n => sb.append(s"| $n | dry build failed | - | - |\n"))
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${audits.size} audited, ${failed.size} failed)")
    (failed ++ dryFailed).distinct
  }

  private def shuffles(spark: SparkSession, dir: String, names: Seq[String],
                       out: String): Seq[String] = {
    final case class Row(name: String, bytes: Long, records: Long,
                         scanRows: Long)
    val (measured, failed) = each(names) { name =>
      val df: DataFrame = SparkEntry.queries(name)(spark, dir)
      // runs the exact audited plan and ships nothing to the driver
      df.queryExecution.toRdd.foreach(_ => ())
      Row(name,
        plans.ExecMetrics.shuffleBytesWritten(df),
        plans.ExecMetrics.shuffleRecordsWritten(df),
        plans.ExecMetrics.scanOutputRows(df))
    }
    val rows = measured.map(_._2)
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    val (shuffled, free) = rows.partition(_.bytes > 0)
    val sb = new StringBuilder
    sb.append("# SHUFFLES — measured shuffle volume per query\n\n")
    sb.append(s"Generated by `graft.Harness shuffles` at `$dir` " +
      s"(local[${spark.sparkContext.defaultParallelism}]).\nEach query " +
      "executed once; values are the executed plan's summed\n" +
      "SQLMetrics: shuffle bytes/records written and leaf-scan output " +
      "rows.\nSorted by shuffle bytes — the top of this file is where " +
      "cluster-scale\nshuffle pressure will appear first.\n\n")
    sb.append("| query | shuffle MB | shuffle records | scan rows |\n")
    sb.append("|---|---:|---:|---:|\n")
    shuffled.sortBy(-_.bytes).foreach { r =>
      sb.append(s"| ${r.name} | ${mb(r.bytes)} | ${r.records} | " +
        s"${r.scanRows} |\n")
    }
    sb.append(s"\n${free.size} queries execute with ZERO shuffle " +
      "bytes written\n(scan→project→broadcast/limit shapes): " +
      free.map(_.name).mkString(", ") + "\n")
    val total = rows.map(_.bytes).sum
    sb.append(f"\nTotal across ${rows.size} queries: " +
      f"${total / 1048576.0}%.1f MB shuffled.\n")
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out: ${shuffled.size} shuffled / ${rows.size}")
    failed
  }
}
