package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc scale probe for the graph family (not part of the driver
  * contract): replicate the 4000-fold lineitem bipartite graph 20×
  * with DISJOINT node-id spaces per replica (node + rep·1e6), run
  * LPA / multi-level Louvain / modularity / SSSP / k-core, and assert
  * the EXACT replication invariants — with disjoint id spaces every
  * algorithm here is replica-local, so the 20× output must be the
  * base output shifted 20 times: community-size histograms and
  * aggregate totals scale by exactly 20, distances are identical per
  * replica. A superlinear wall-time curve or a broken invariant means
  * a hidden cross-replica funnel. Numbers are recorded in DEVNOTES
  * round over round. */
object GraphScaleProbe {
  private val Off = 1000000L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = apps.Apps.session("graph-scale-probe")

    val li = Tables.lineitem(spark, sfDir)
    val base = li.select(
        (col("l_orderkey") % 4000).as("u"),
        (col("l_partkey") % 4000 + 4000).as("v"),
        col("l_quantity").cast("long").as("w"))
      .persist()
    val nBaseEdges = base.count()
    val e20 = base.crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("u") + col("rep") * Off).as("u"),
        (col("v") + col("rep") * Off).as("v"), col("w"))
      .persist()
    val n20Edges = e20.count()
    println(s"graph probe: base_edges=$nBaseEdges x20=$n20Edges")

    def time[T](f: => T): (T, Double) = {
      val s = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - s) / 1e9)
    }
    // community-size histogram: size -> how many communities have it;
    // replica-locality makes the 20x histogram exactly 20x the base
    def sizeHist(labels: DataFrame): Map[Long, Long] =
      labels.groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def x20(m: Map[Long, Long]): Map[Long, Long] =
      m.map { case (k, v) => k -> v * 20 }

    // (a) LPA, 3 rounds
    val lpaBase = sizeHist(operators.Graph.labelPropagation(
      base, col("u"), col("v"), rounds = 3))
    val (lpa20, tLpa) = time(sizeHist(operators.Graph.labelPropagation(
      e20, col("u"), col("v"), rounds = 3)))
    require(lpa20 == x20(lpaBase),
      s"LPA 20x histogram mismatch: $lpa20 vs 20x $lpaBase")
    println(f"lpa 20x: ${lpa20.values.sum} communities $tLpa%.1fs " +
      "histogram exactly 20x")

    // (b) multi-level Louvain (2 levels x 2 moves, weighted).
    // Louvain is NOT replica-local by design: the gain compares
    // k_i,c against k_i·d_c′/2m with the GLOBAL total weight — the
    // classic resolution limit — so 20 disjoint copies legitimately
    // partition differently than one copy (measured here: they form
    // larger communities). The scale invariants that DO hold, and are
    // asserted: (i) replica CONFINEMENT — edges never cross id
    // spaces and a node only ever adopts a community containing a
    // neighbor, so no final community may span two replicas; (ii)
    // replica SYMMETRY — all 20 replicas see the same global W2 and
    // the smallest-label tie-break is shift-invariant, so the 20
    // partitions are identical up to the shift ⇒ every
    // community-size count is divisible by 20.
    val (mlLabels, tMl) = time {
      val l = operators.Graph.louvainLevels(
        e20, col("u"), col("v"), col("w"), levels = 2,
        movesPerLevel = 2).persist()
      l.count()
      l
    }
    val spans = mlLabels.groupBy(col("lbl"))
      .agg(min(expr(s"node div $Off")).as("lo"),
        max(expr(s"node div $Off")).as("hi"))
      .filter(col("lo") =!= col("hi")).count()
    require(spans == 0, s"$spans Louvain communities span replicas")
    val mlHist = sizeHist(mlLabels)
    require(mlHist.values.forall(_ % 20 == 0),
      s"Louvain 20x histogram not 20-symmetric: $mlHist")
    val nNodes20 = mlLabels.count()
    mlLabels.unpersist()
    require(nNodes20 == 8000L * 20, s"Louvain lost nodes: $nNodes20")
    println(f"louvain_ml 20x: ${mlHist.values.sum} communities " +
      f"$tMl%.1fs replica-confined, 20-symmetric, all ${nNodes20} " +
      "nodes assigned")

    // (c) modularity of the LPA partition: per-community
    // (n_nodes, intra, deg_sum) totals scale by exactly 20
    // (contrib_num depends on the global m, so totals are the
    // replica-local invariant)
    def modTotals(edges: DataFrame): (Long, Long, Long, Long) = {
      val labels = operators.Graph.labelPropagation(
        edges, col("u"), col("v"), rounds = 3)
      val r = operators.Graph.modularity(edges, col("u"), col("v"), labels)
        .agg(count(lit(1)).as("c"), sum(col("n_nodes")).as("nn"),
          sum(col("intra")).as("ii"), sum(col("deg_sum")).as("dd"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val mb = modTotals(base)
    val (m20, tMod) = time(modTotals(e20))
    require(m20 == ((mb._1 * 20, mb._2 * 20, mb._3 * 20, mb._4 * 20)),
      s"modularity 20x totals mismatch: $m20 vs 20x $mb")
    println(f"modularity 20x: ${m20._1} communities $tMod%.1fs " +
      "totals exactly 20x")

    // (d) SSSP, 3 rounds, multi-source (sources shifted per replica)
    def ssspTotals(edges: DataFrame, srcs: DataFrame): (Long, Long) = {
      val sym = edges.unionAll(
        edges.select(col("v").as("u"), col("u").as("v"), col("w")))
      val r = operators.Graph.ssspRounds(sym, col("u"), col("v"),
          col("w"), srcs, rounds = 3)
        .agg(count(lit(1)).as("n"), sum(col("d")).as("sd")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val srcBase = base.filter(col("u") % 40 === 0)
      .select(col("u").as("node")).distinct()
    val src20 = srcBase.crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("node") + col("rep") * Off).as("node"))
    val sb = ssspTotals(base, srcBase)
    val (s20, tSssp) = time(ssspTotals(e20, src20))
    require(s20 == ((sb._1 * 20, sb._2 * 20)),
      s"SSSP 20x totals mismatch: $s20 vs 20x $sb")
    println(f"sssp 20x: ${s20._1} reached $tSssp%.1fs totals exactly 20x")

    // (e) k-core (k=30, 3 peel rounds)
    def coreTotals(edges: DataFrame): (Long, Long) = {
      val r = operators.Graph.kCore(edges, col("u"), col("v"),
          k = 30, rounds = 3)
        .agg(count(lit(1)).as("n"), sum(col("deg")).as("sd")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val cb = coreTotals(base)
    val (c20, tCore) = time(coreTotals(e20))
    require(c20 == ((cb._1 * 20, cb._2 * 20)),
      s"k-core 20x totals mismatch: $c20 vs 20x $cb")
    println(f"kcore 20x: ${c20._1} survivors $tCore%.1fs totals exactly 20x")

    // (f) ANF / HyperBall neighborhood function, radius 2, k=16.
    // Ball hashes follow node IDS, so replicas are not hash-identical
    // to the base — the exact invariant is SLICE EQUALITY: running
    // the base graph shifted into replica 7's id space must reproduce
    // replica 7's slice of the 20x output row for row.
    val anfShift = 7L * Off
    val anfBase = operators.Graph.neighborhoodFunction(
        base.select((col("u") + anfShift).as("u"),
          (col("v") + anfShift).as("v")),
        col("u"), col("v"), radius = 2, k = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val (anf20, tAnf) = time {
      val d = operators.Graph.neighborhoodFunction(
        e20, col("u"), col("v"), radius = 2, k = 16).persist()
      val n = d.count()
      val slice = d.filter(col("node") >= anfShift &&
          col("node") < anfShift + Off)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
        .toMap
      d.unpersist()
      (n, slice)
    }
    require(anf20._2 == anfBase,
      "ANF replica-7 slice differs from the shifted base run")
    require(anf20._1 == anfBase.size.toLong * 20,
      s"ANF row count ${anf20._1} != 20x ${anfBase.size}")
    println(f"anf 20x: ${anf20._1} (node,r) rows $tAnf%.1fs " +
      "replica slice exactly equals shifted base")

    // (g) SGNS embedding training at 20x. The negative pool is a
    // GLOBAL top-16 (frequency ties break to the lowest node id, so
    // with disjoint replicas the pool collapses onto replica 0 and
    // training genuinely couples replicas through shared negatives)
    // — slice equality cannot hold and is not claimed. The exact
    // invariant probed is PARTITION INVARIANCE at scale: training on
    // an adversarially repartitioned copy of the 20x pair table must
    // produce the bit-identical model, which is the retry/AQE-safety
    // property the quantize-before-sum discipline buys. Wall time
    // bounds the fixed-round cost at ~6M pairs / ~18M examples.
    val walks20 = operators.Graph.randomWalks(
      e20.select(col("u"), col("v")), col("u"), col("v"),
      walksPerNode = 2, steps = 4)
    val pairs20 = operators.Graph.skipGramPairs(walks20, window = 2)
      .persist()
    val nPairs20 = pairs20.count()
    val (m1, tSgns) = time {
      operators.Sgns.train(pairs20, dims = 4, rounds = 2,
          negsPerPair = 2, lrDen = 1L)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    }
    val (m2, _) = time {
      operators.Sgns.train(pairs20.repartition(97), dims = 4,
          rounds = 2, negsPerPair = 2, lrDen = 1L)
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    }
    require(m1 == m2,
      "SGNS 20x model differs under adversarial repartitioning")
    println(f"sgns 20x: pairs=$nPairs20 model_nodes=${m1.size} " +
      f"train_sec=$tSgns%.1f partition-invariant bit-exact")
    pairs20.unpersist()

    base.unpersist()
    e20.unpersist()
    spark.stop()
  }
}
