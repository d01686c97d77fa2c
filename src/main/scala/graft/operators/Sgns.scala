package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Skip-gram-with-negative-sampling (SGNS) node-embedding training,
  * run INSIDE the engine — the stage that turns
  * [[Graph.randomWalks]] → [[Graph.skipGramPairs]] co-occurrence
  * counts into learned d-dimensional node vectors (DeepWalk), which
  * then feed the embedding-LSH dedup / ANN family
  * ([[Similarity.lshNearDupPairs]]). Closes the graph → embeddings →
  * similarity end-to-end with no external trainer.
  *
  * Bit-determinism, by the two engine-wide tricks the classifier
  * family proved ([[Classifier.logisticTrainMicro]]):
  *   - every per-example float gradient contribution is quantized to
  *     integer micro-units BEFORE any sum — ⌊(p−y)·v_k + ½⌋ with
  *     v_k already in micro — then scaled by the exact integer pair
  *     count, so the per-node gradient aggregation sums longs
  *     (partition-order-invariant, AQE/retry-safe);
  *   - the only transcendental is one exp per example per round, and
  *     the dot product is built left-to-right so the float expression
  *     tree matches an oracle's textual order exactly.
  *
  * Negative sampling is deterministic AND word2vec-faithful: a
  * unigram^0.75 CDF over the FULL context-frequency table (not a
  * top-k head), where node nd with context frequency f gets integer
  * weight w = ⌊√√(min(f, 2·10⁵)³)⌋ — i.e. ⌊f^0.75⌋ computed through
  * two IEEE-754 correctly-rounded square roots on an
  * exactly-representable double (the capped cube stays < 2^53), so
  * the weight is bit-identical in any engine, unlike a libm
  * pow(f, 0.75). Negatives for pair (c, x, i) are picked by
  * stableHash64("sgnsneg:c:x:i:seed") mod Σw landing in a node's
  * half-open CDF interval [lo, hi); the interval lookup executes as
  * an EQUI-join on a bucketed CDF (each interval exploded to the
  * ⌈w/bw⌉ fixed-width buckets it overlaps, bw = the mean weight), so
  * example construction is a hash join, never a range/theta join. A
  * hash-picked negative equal to the pair's center or true context
  * is dropped (not resampled), keeping the example set a pure
  * function of the pair table.
  *
  * Scale shape: the model is a DataFrame of (node, u0..u_{d-1},
  * v0..v_{d-1}) micro longs that NEVER visits the driver — each
  * round is one equi-join of examples against the model (node-keyed,
  * twice: center side and context/negative side), two combinable
  * long-sum groupBys, and one model-update join, with a lineage cut
  * per round. Driver traffic is ONE totals row (Σw, vocab size)
  * once, plus nothing per round; the CDF itself stays distributed.
  * At 100 TB the model is |V|·2d longs
  * distributed across the cluster; updates are joins, exactly how a
  * parameter-server round would shard.
  *
  * Init: u_k(node) = stableHash64("sgnsu:node:k:seed") mod 2001 −
  * 1000 micro (±0.001, breaks the zero-init fixed point); v = 0
  * (word2vec convention — v moves round 1, u from round 2).
  *
  * The exp() guard band from logisticTrainMicro carries over, but
  * RELATIVE: each quantization input (p−y)·m + ½ must sit more than
  * |m|·1e-14 from a floor boundary (a libm last-ulp divergence in
  * exp perturbs the input by ~1e-16·|m|, so the margin scales with
  * the multiplier; rows with dot exactly 0 are exempt — their
  * arithmetic is transcendental-free and IEEE-exact). Aggregated
  * alongside the gradients, asserted via assert_true inside the
  * update join: a cross-libm divergence fails loudly instead of
  * silently flipping a quantized unit.
  */
object Sgns {

  private val Micro = 1e6

  /** Frequency cap for the unigram^0.75 weight: min(f, FreqCap)³ ≤
    * 8·10¹⁵ < 2⁵³, so the cube is an EXACT double and the two
    * correctly-rounded sqrts below are bit-deterministic across
    * engines. Frequencies beyond the cap saturate (word2vec clamps
    * head frequencies via subsampling anyway). */
  val FreqCap = 200000L

  /** The unigram^0.75 negative-sampling CDF: one row per distinct
    * context node — (nd, lo, hi) with hi − lo = w(nd) =
    * ⌊√√(min(f, FreqCap)³)⌋ ≥ 1 and intervals laid out in node-id
    * order. Fully distributed; the single unpartitioned window runs
    * over the VOCAB-sized frequency table (sublinear in corpus
    * size), the standard one-time cost of building a sampling
    * artifact. */
  def negativeCdf(pairs: DataFrame): DataFrame = {
    val freqs = pairs.groupBy(col("context").as("nd"))
      .agg(sum(col("cnt")).as("f"))
    val fc = least(col("f"), lit(FreqCap))
    val w = floor(sqrt(sqrt((fc * fc * fc).cast("double")))).cast("long")
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("nd"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    freqs.select(col("nd"), w.as("w"))
      .withColumn("hi", sum(col("w")).over(win))
      .select(col("nd"), (col("hi") - col("w")).as("lo"), col("hi"))
  }

  /** Training example table: positives (center, other=context, y=1)
    * plus `negsPerPair` CDF-picked negatives (y=0) per pair, every
    * example carrying the exact pair multiplicity `cnt`. `tw` is the
    * CDF's total weight (max hi) and `bw` the bucket width — both
    * from [[cdfTotals]]. The interval lookup is an equi-join on
    * bucket id: each CDF interval is exploded to every fixed-width
    * bucket it overlaps (≈2 rows per bucket at bw = mean weight), so
    * the pick costs O(|pairs|) through a hash join — no range join,
    * no per-row table scan. */
  def examples(pairs: DataFrame, cdf: DataFrame, tw: Long, bw: Long,
               negsPerPair: Int, seed: Long): DataFrame = {
    require(tw >= 1 && bw >= 1, "sgns: empty negative CDF")
    val buckets = cdf.withColumn("bucket",
        explode(sequence(expr(s"lo div ${bw}L"),
          expr(s"(hi - 1) div ${bw}L"))))
      .select(col("bucket"), col("nd"), col("lo"), col("hi"))
    val pos = pairs.select(col("center"), col("context").as("other"),
      col("cnt"), lit(1.0).as("y"))
    val negs = (0 until negsPerPair).map { i =>
      pairs.select(col("center"), col("context"), col("cnt"),
          (graft.functions.stableHash64(concat_ws(":", lit("sgnsneg"),
            col("center"), col("context"), lit(i), lit(seed)))
            % lit(tw)).as("h"))
        .withColumn("bucket", expr(s"h div ${bw}L"))
        .join(buckets, Seq("bucket"))
        .filter(col("h") >= col("lo") && col("h") < col("hi"))
        .select(col("center"), col("nd").as("other"), col("cnt"),
          lit(0.0).as("y"), col("context"))
        .filter(col("other") =!= col("center") &&
          col("other") =!= col("context"))
        .drop("context")
    }.reduce(_ unionAll _)
    pos.unionAll(negs)
  }

  /** Bounded driver collect (ONE row): the CDF's total weight and
    * vocab size, from which the bucket width bw = max(1, ⌊tw/|V|⌋)
    * (the mean weight — each bucket then overlaps ~2 intervals). */
  def cdfTotals(cdf: DataFrame): (Long, Long) = {
    val r = cdf.agg(max(col("hi")).as("tw"), count(lit(1)).as("nv"))
      .collect()(0)
    if (r.isNullAt(0)) (0L, 0L)
    else (r.getLong(0), math.max(1L, r.getLong(0) / r.getLong(1)))
  }

  /** Train `dims`-dimensional embeddings over a
    * [[Graph.skipGramPairs]] table (center, context, cnt) by `rounds`
    * full-batch quantized-gradient steps. Returns the model frame
    * (node, u0.., v0..) in micro longs; the embedding is the u side
    * (see [[embeddings]]). */
  def train(pairs: DataFrame, dims: Int = 4, rounds: Int = 3,
            negsPerPair: Int = 2, lrDen: Long = 10L,
            seed: Long = 42L): DataFrame = {
    require(dims >= 1 && rounds >= 1 && negsPerPair >= 1 &&
      lrDen >= 1, "bad sgns params")
    val cdf = negativeCdf(pairs)
    val (tw, bw) = cdfTotals(cdf)
    require(tw >= 1, "sgns: empty pair table")
    val ex = examples(pairs, cdf, tw, bw, negsPerPair, seed)
      .transform(Materialize.round)
    val nodes = ex.select(col("center").as("node"))
      .unionAll(ex.select(col("other").as("node")))
      .distinct()
    var model = nodes.select(
      col("node") +:
        ((0 until dims).map(k =>
          (graft.functions.stableHash64(concat_ws(":", lit("sgnsu"),
            col("node"), lit(k), lit(seed))) % 2001L - 1000L)
            .as(s"u$k")) ++
          (0 until dims).map(k => lit(0L).as(s"v$k"))): _*)
      .transform(Materialize.round)
    var r = 0
    while (r < rounds) {
      val mc = model.select(col("node").as("center") +:
        (0 until dims).map(k => col(s"u$k")): _*)
      val mx = model.select(col("node").as("other") +:
        (0 until dims).map(k => col(s"v$k")): _*)
      // The dot product is summed in EXACT long micro² units and
      // converted to double once — a float term-by-term sum leaves
      // ~1e-25 cancellation residue when the integer dot is 0,
      // which defeats the exactness exemption below and creates
      // denormal knife-edge rows no guard threshold can classify.
      val scored = ex.join(mc, Seq("center")).join(mx, Seq("other"))
        .withColumn("dot", (0 until dims)
          .map(k => col(s"u$k") * col(s"v$k"))
          .reduceLeft(_ + _).cast("double") / lit(1e12))
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("dot"))))
      // per-example quantized gradient units, scaled by the exact
      // pair count; bd = distance to the nearest floor boundary over
      // every quantization input on this row (guard band). Rows with
      // dot == 0.0 are EXEMPT: exp(0) is exactly 1 in any conforming
      // libm, p is exactly 0.5, and (±0.5)·micro + 0.5 is pure
      // power-of-two IEEE arithmetic — such rows land exactly ON
      // boundaries by construction (v inits at 0) yet floor there is
      // bit-deterministic; only transcendental-derived inputs carry
      // the cross-libm last-ulp risk the guard exists for.
      def qIn(k: Int, side: String): Column =
        (col("p") - col("y")) * col(side + k).cast("double") + 0.5
      // RELATIVE margin: a libm last-ulp divergence perturbs the
      // input by ~1e-16·|m| (m = the micro multiplier), so the
      // boundary distance is compared against |m|·1e-14 — a 100×
      // margin that scales with the input's own magnitude. An
      // absolute threshold is wrong in both directions here: the
      // smallest legitimate nonzero dot (1 micro², 1e-12) puts
      // inputs ~2.5e-13·|m| from a boundary — unsafe-looking on an
      // absolute scale yet 25× clear of the relative one.
      def bdTerm(k: Int, side: String): Column = {
        val x = qIn(k, side)
        val fr = x - floor(x)
        least(fr, lit(1.0) - fr) -
          abs(col(side + k).cast("double")) * lit(1e-14)
      }
      val withG = (0 until dims).foldLeft(scored) { (d, k) =>
        d.withColumn(s"gu$k", floor(qIn(k, "v")).cast("long") * col("cnt"))
          .withColumn(s"gv$k", floor(qIn(k, "u")).cast("long") * col("cnt"))
      }.withColumn("bd",
        when(col("dot") === 0.0, lit(0.5)).otherwise(
          (0 until dims).flatMap(k =>
            Seq(bdTerm(k, "v"), bdTerm(k, "u")))
            .reduceLeft(least(_, _))))
      val guAggs = (0 until dims).map(k => sum(col(s"gu$k")).as(s"g$k")) ++
        Seq(sum(col("cnt")).as("nc"), min(col("bd")).as("bd"))
      val gu = withG.groupBy(col("center"))
        .agg(guAggs.head, guAggs.tail: _*)
        .withColumnRenamed("center", "node")
      val gvAggs = (0 until dims).map(k => sum(col(s"gv$k")).as(s"h$k")) :+
        sum(col("cnt")).as("nx")
      val gv = withG.groupBy(col("other"))
        .agg(gvAggs.head, gvAggs.tail: _*)
        .withColumnRenamed("other", "node")
      // bd is NULL for nodes that never appear as a center (left
      // join) — assert_true treats NULL as failure, so pass those
      val guard = coalesce(assert_true(
        col("bd").isNull || col("bd") > 0.0,
        lit("sgns: gradient quantization input within 1e-14 of a " +
          "floor boundary relative to its multiplier - cross-libm " +
          "exp() determinism not guaranteed")).cast("long"), lit(0L))
      model = model.join(gu, Seq("node"), "left")
        .join(gv, Seq("node"), "left")
        .select(col("node") +:
          ((0 until dims).map(k =>
            (coalesce(col(s"u$k") - floor(col(s"g$k").cast("double") /
              (lit(lrDen.toDouble) * col("nc")) + 0.5).cast("long")
              + guard, col(s"u$k"))).as(s"u$k")) ++
            (0 until dims).map(k =>
              coalesce(col(s"v$k") - floor(col(s"h$k").cast("double") /
                (lit(lrDen.toDouble) * col("nx")) + 0.5).cast("long"),
                col(s"v$k")).as(s"v$k"))): _*)
        .transform(Materialize.round)
      r += 1
    }
    model
  }

  /** The learned embedding table for the similarity family:
    * (vec_id, embedding array<float>) from the model's u side —
    * float to match the embeddings-table contract the LSH/ANN
    * operators consume; the micro-long → double → float round-trip
    * is exactly rounded, so an oracle can mirror it. */
  def embeddings(model: DataFrame, dims: Int): DataFrame =
    model.select(col("node").as("vec_id"),
      array((0 until dims).map(k =>
        (col(s"u$k").cast("double") / Micro).cast("float")): _*)
        .as("embedding"))
}
