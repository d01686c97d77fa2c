package graft

import org.apache.spark.sql.functions._

import graft.plans.PlanGuard

/** Plan lint: catches true cartesians, tolerates the broadcast-scalar
  * pattern, and holds as a suite invariant over the join-family and
  * composite registry queries. */
class PlanGuardSpec extends SparkSpec {
  import spark.implicits._

  test("flags an unkeyed non-broadcast join, tolerates broadcast scalar") {
    val a = (1 to 100).toDF("x")
    val b = (1 to 100).toDF("y")
    // force the true cartesian (disable auto-broadcast so Spark can't
    // rescue the unkeyed join)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cart = a.crossJoin(b)
      PlanGuard.audit(cart).cartesians should be > 0
      an[IllegalStateException] should be thrownBy
        PlanGuard.requireNoCartesian(cart, "cart")
    } finally
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // scalar-totals pattern: BNLJ with a 1-row build side is fine
    val scalar = a.crossJoin(broadcast(b.agg(count(lit(1)).as("n"))))
    PlanGuard.audit(scalar).cartesians shouldBe 0
    noException should be thrownBy
      PlanGuard.requireNoCartesian(scalar, "scalar")
  }

  // Queries whose plans legitimately carry unpartitioned Window nodes:
  // every one sits on a PROVABLY SMALL aggregated frame (shard-count
  // prefix sums bounded by #shards, per-source mixing tables, daily
  // rollups, top-k-limited ranks, per-column stats, sketch buckets,
  // file metadata) — never on corpus-sized rows. Re-derive with
  // `graft.Harness plans` when queries change; any NEW unpartitioned
  // window must either move to Ranks.globalRowNumber/globalNtile or
  // justify itself here.
  private val boundedWindowWhitelist: Map[String, Int] = Map(
    "q_compaction_plan" -> 1,      // file-metadata bin prefix
    "q_corpus_vocab" -> 1,         // rank over top-25-limited frame
    "q_encoding_advisor" -> 3,     // per-column stats frame
    "q_events_dau" -> 1,           // daily counts
    "q_hybrid_rrf" -> 1,           // rank over top-50-limited frame
    "q_mix_tokens" -> 1,           // per-source mixing table
    "q_mix_waterfill" -> 1,        // per-source water-fill prefix
    "q_moving_avg" -> 1,           // daily series
    "q_pack_sequences_global" -> 1, // shard bin-count prefix
    "q_pack_utilization" -> 1,     // shard bin-count prefix
    "q_pop_change" -> 1,           // per-nation-year rollup
    "q_pretrain_v2_kept" -> 4,     // stage shard-count prefixes
    "q_quantile_dd" -> 2,          // sketch bucket prefix
    "q_shuffle_order" -> 1,        // shard-count prefix
    "q_skyline" -> 1,              // per-shard max-y sidecar prefix
    "q_survival_logrank" -> 1)     // duration-bounded step-table
                                   // at-risk cumsum (same frame
                                   // q_survival_km folds post-collect)

  test("EVERY registry query plans zero cartesians and no " +
      "unpartitioned window outside the bounded whitelist") {
    // The registry-wide invariants, audited in ONE planning pass per
    // query: (a) no unkeyed, non-broadcast join anywhere; (b) no
    // single-task global-window funnel except on the whitelisted
    // bounded frames — and the whitelist must stay EXACT, so a fixed
    // query can't leave a stale entry behind. Building each DataFrame
    // at sf0.001 forces full physical planning (some constructions
    // also run their bounded fit jobs — centroids, codebooks — which
    // is the point: the audited plan is the plan that ships).
    val dir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, mk) =>
        try {
          val a = PlanGuard.audit(mk(spark, dir))
          val cart =
            if (a.cartesians > 0)
              Some(s"$name: ${a.cartesians} CartesianProduct node(s)")
            else None
          val expected = boundedWindowWhitelist.getOrElse(name, 0)
          val win =
            if (a.unpartitionedWindows != expected)
              Some(s"$name: ${a.unpartitionedWindows} unpartitioned " +
                s"window(s), whitelist says $expected")
            else None
          cart.toSeq ++ win.toSeq
        } catch {
          case e: Exception => Seq(s"$name: build failed ${e.getMessage}")
        }
    }
    withClue(failures.mkString("\n")) { failures shouldBe empty }
  }

  test("stripInitialPlans drops only the initial-plan sections of " +
      "executed adaptive (sub)plans, scoped by connector depth") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   *(2) HashAggregate
        |   +- Window [rank()], [ts ASC NULLS FIRST]
        |      +- InMemoryTableScan
        |            +- AdaptiveSparkPlan isFinalPlan=true
        |               +- == Final Plan ==
        |                  *(1) Project
        |               +- == Initial Plan ==
        |                  Window [rank()], [ts ASC NULLS FIRST]
        |                  +- Exchange hashpartitioning(k, 4)
        |+- == Initial Plan ==
        |   Window [rank()], [ts ASC NULLS FIRST]
        |   +- Exchange hashpartitioning(k, 4)""".stripMargin
    val stripped = PlanGuard.stripInitialPlansPublic(plan)
    stripped should not include "Initial Plan"
    stripped should not include "Exchange hashpartitioning"
    // exactly the one final-plan window survives
    stripped.linesIterator.count(_.contains("Window [")) shouldBe 1
    stripped should include("*(2) HashAggregate")
    stripped should include("*(1) Project")
  }

  test("dry-plan mode exposes per-round join shapes to the audit") {
    import graft.operators.Graph
    withMaterialize(graft.plans.Materialize.Plan) {
      import spark.implicits._
      val edges = (0 until 100).map(i => (i.toLong % 20, (i * 7) % 20L))
        .toDF("u", "v")
      val df = Graph.labelPropagation(edges,
        org.apache.spark.sql.functions.col("u"),
        org.apache.spark.sql.functions.col("v"), rounds = 3)
      val p = PlanGuard.planString(df)
      // one neighbor-gather join per round stays IN the plan instead
      // of hiding behind an eager-checkpoint RDD scan
      val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
        .findAllIn(p).length
      joins should be >= 3
      p should not include "Scan ExistingRDD"
      PlanGuard.audit(df).cartesians shouldBe 0
    }
  }
}
