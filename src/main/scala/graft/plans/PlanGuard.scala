package graft.plans

import org.apache.spark.sql.DataFrame

/** Physical-plan lint for pipeline governance: count the plan shapes
  * that kill jobs at 100 TB and let callers gate on them — the
  * programmatic form of the `.explain` discipline PLANS.md documents.
  *
  * Counting is string-based over the executed plan (the same surface
  * `Harness plans` and the scale specs read, and the only one that works
  * uniformly under AQE's adaptive wrapper). `CartesianProduct` is the
  * true scale-killer: it only appears when BOTH join sides are
  * unkeyed and non-broadcast. A `BroadcastNestedLoopJoin` with a
  * one-row build side (the `crossJoin(broadcast(totals))` scalar
  * pattern used throughout) is fine and NOT flagged by
  * [[requireNoCartesian]].
  */
object PlanGuard {

  final case class Audit(cartesians: Int, nestedLoops: Int,
                         shuffles: Int, broadcasts: Int, scans: Int,
                         codegenSpans: Int, unpartitionedWindows: Int)

  def planString(df: DataFrame): String =
    stripInitialPlans(df.queryExecution.executedPlan.toString)

  /** Drop `== Initial Plan ==` sections from an executed adaptive
    * plan string. After execution, every finalized
    * `AdaptiveSparkPlan` (including ones NESTED inside cached
    * relations) prints BOTH its final and its pre-AQE initial plan —
    * so a string-based audit of an executed query double-counts
    * windows/shuffles/broadcasts against the same query audited
    * before execution (the r17 PlanGuardSpec-4 vs PLANS.md-7
    * discrepancy on q_pretrain_v2_kept, root-caused r18). Sections
    * are scoped by tree-connector position: the initial-plan subtree
    * is every following line whose `+-`/`:-` connector sits deeper
    * than the marker's. */
  private[graft] def stripInitialPlansPublic(plan: String): String =
    stripInitialPlans(plan)

  private[plans] def stripInitialPlans(plan: String): String = {
    def connPos(l: String): Int = {
      val a = l.indexOf("+- ")
      val b = l.indexOf(":- ")
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    }
    val out = Vector.newBuilder[String]
    var skipBelow = -1 // connector pos of the active marker, -1 = off
    plan.linesIterator.foreach { l =>
      val p = connPos(l)
      if (skipBelow >= 0 && p >= 0 && p <= skipBelow) skipBelow = -1
      if (skipBelow < 0) {
        if (l.contains("== Initial Plan ==") && p >= 0) skipBelow = p
        else out += l
      }
    }
    out.result().mkString("\n")
  }

  private def count(plan: String, token: String): Int =
    plan.sliding(token.length).count(_ == token)

  /** Count `Window` nodes with NO partition spec — the single-task
    * funnel Spark itself warns about ("No Partition Defined").
    * Unpartitioned windows over a raw table serialize the whole table
    * through one task at 100×; over a small aggregated frame (daily
    * counts, a top-k rank over ≤10³ rows) they are bounded and fine —
    * which is why this is a COUNT for callers to gate with a
    * whitelist, not a hard throw.
    *
    * Physical format: partitioned nodes print
    * `Window [exprs], [partCols], [orderSpec]`; unpartitioned ones
    * omit the partition group, so the group right after the
    * expressions is the order spec — recognizable by its
    * ` NULLS ` ordering tokens, which a bare column list never
    * carries. */
  def unpartitionedWindows(df: DataFrame): Int =
    countUnpartitionedWindows(planString(df))

  private[plans] def countUnpartitionedWindows(plan: String): Int =
    plan.linesIterator.count { ln =>
      val i = ln.indexOf("Window [")
      i >= 0 && {
        val rest = ln.substring(i + "Window [".length)
        val j = rest.indexOf("], [")
        j >= 0 && {
          val g2 = rest.substring(j + 4)
          val k = g2.indexOf("]")
          val grp = if (k >= 0) g2.substring(0, k) else g2
          grp.contains(" NULLS ")
        }
      }
    }

  def audit(df: DataFrame): Audit = {
    val p = planString(df)
    Audit(
      cartesians = count(p, "CartesianProduct"),
      nestedLoops = count(p, "BroadcastNestedLoopJoin"),
      shuffles = count(p, "Exchange hashpartitioning") +
        count(p, "Exchange rangepartitioning"),
      broadcasts = count(p, "BroadcastExchange"),
      scans = count(p, "FileScan") + count(p, "BatchScan"),
      // spans print as `*(N) Op` line prefixes in the simple plan
      // string (the "WholeStageCodegen (N)" node header only appears
      // in formatted mode); count DISTINCT span ids, and note the
      // count is 0 on an un-executed AQE plan — AQE only assigns
      // codegen in the finalized plan, so gate on this counter after
      // an action, not before
      codegenSpans = ("\\*\\((\\d+)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSet.size),
      unpartitionedWindows = countUnpartitionedWindows(p))
  }

  /** Throws (with the offending plan) if the query would execute an
    * unkeyed, non-broadcast join — the O(n·m) shape that cannot
    * survive a 100× scale-up. */
  def requireNoCartesian(df: DataFrame, label: String = "query"): Unit = {
    val a = audit(df)
    if (a.cartesians > 0)
      throw new IllegalStateException(
        s"$label plans ${a.cartesians} CartesianProduct node(s):\n" +
          planString(df).linesIterator.take(40).mkString("\n"))
  }
}
