package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** Relational graph analytics on edge tables. Connected components
  * live in [[Dedup.canonicalizeClusters]] (large-star/small-star);
  * this adds the other fixed-point classic, with the same determinism
  * discipline as the rest of the engine: INTEGER mass, exact integer
  * division, fixed round budget — results are bit-identical across
  * partitionings and engines, which float PageRank (order-dependent
  * double sums) can never be.
  */
object Graph {

  // shared preprocessing frames and round-carried frames; the
  // session's mode decides how (see [[graft.plans.Materialize]])
  private def preMat(df: DataFrame): DataFrame = Materialize.graphShared(df)
  private def roundMat(df: DataFrame): DataFrame = Materialize.round(df)

  /** Narrowest shuffle-key type for node ids (guide §2.3 "narrower
    * types"): when every id column resolves to an integral type, the
    * per-round joins/aggregations shuffle fixed 8-byte longs instead
    * of variable-width strings. The operator's RELEASED node column is
    * cast back to string at its boundary, so the external contract is
    * unchanged — cast(long→string) is injective and equality-
    * preserving, so join/groupBy equivalence classes (and therefore
    * every released value) are identical; none of the operators using
    * this helper ORDER or tie-break on the node id. Non-integral ids
    * keep the string path. */
  private def idKeyType(edges: DataFrame, cs: Column*): String = {
    import org.apache.spark.sql.types._
    val integral = cs.forall { c =>
      edges.select(c).schema.head.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    if (integral) "long" else "string"
  }

  /** Fixed-round integer PageRank: every node starts with `scale`
    * units of mass; each round a node sends
    * floor(pr·dampNum / (dampDen·outdeg)) units along each out-edge
    * (one exact integer division — rounding residue is dropped
    * deterministically, as is dangling-node mass) and every node
    * restarts from floor(scale·(dampDen−dampNum)/dampDen) plus its
    * received mass. Emits (node, pr) after `rounds` rounds.
    *
    * Scale: each round is one groupBy(outdeg) + one edge join + one
    * incoming-mass aggregation — all map-side combinable, shuffled by
    * node key; no driver-side state at all. Skew equals the hottest
    * node's in-degree (salt upstream if one hub dominates). */
  def pageRank(edges: DataFrame, srcCol: Column, dstCol: Column,
               rounds: Int = 3, scale: Long = 1000000L,
               dampNum: Long = 85L, dampDen: Long = 100L,
               danglingRedistribute: Boolean = false): DataFrame = {
    // e and outdeg are consumed by every round's contrib join —
    // materialize once (guide-§2.4: the per-round base re-scan +
    // re-shuffle disappears; at 100 TB this is the difference between
    // one fold of the edge table and `rounds` folds)
    val kt = idKeyType(edges, srcCol, dstCol)
    val e = edges.select(srcCol.cast(kt).as("src"),
        dstCol.cast(kt).as("dst"))
      .transform(preMat)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .transform(preMat)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .transform(preMat)
    val base = scale * (dampDen - dampNum) / dampDen
    // node count only feeds the dangling split; a single-row frame
    // broadcast back in — never collect()ed to the driver
    val nDf = nodes.agg(count(lit(1)).as("nn"))
    var pr = nodes.withColumn("pr", lit(scale))
    var r = 0
    while (r < rounds) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"),
          expr(s"(pr * $dampNum) div ($dampDen * od)").as("c"))
      val incoming = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("in"))
      val next = nodes.join(incoming, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in"), lit(0L))).as("pr"))
      pr =
        if (!danglingRedistribute) next
        else {
          // textbook correction: mass parked on sink nodes (no
          // out-edges) is split evenly across ALL nodes instead of
          // dropped — each node gains floor(D·damp / (dampDen·N)),
          // one exact integer division; D is a single-row aggregate
          // over the sinks, broadcast back in with N
          val dangling = pr
            .join(outdeg.select(col("src").as("node")), Seq("node"),
              "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("dm"))
          next.crossJoin(broadcast(dangling))
            .crossJoin(broadcast(nDf))
            .select(col("node"),
              (col("pr") +
                expr(s"(dm * $dampNum) div ($dampDen * nn)")).as("pr"))
        }
      r += 1
    }
    // released node column is string regardless of the internal key
    // type (see idKeyType) — the external contract is unchanged
    pr.select(col("node").cast("string").as("node"), col("pr"))
  }

  /** Per-node triangle counts via degree orientation + adjacency
    * intersection. Undirected input edges (either direction, dupes,
    * self-loops tolerated) are canonicalized to one (a,b) row per
    * edge, then oriented from the (degree, id)-smaller endpoint to the
    * larger. Each oriented source's neighbors are collected into one
    * sorted array; for every oriented edge (a,b), adj(a) ∩ adj(b)
    * enumerates exactly the triangles whose two total-order-smallest
    * corners are a and b — so each triangle is found exactly once,
    * credited to a, b, and every intersection member.
    *
    * Scale: orientation is THE classic shuffle bound for distributed
    * triangle enumeration — oriented outdeg is O(√m), so adjacency
    * arrays are √m-bounded (a ~10⁶-entry array on a 10¹²-edge graph:
    * megabytes, not gigabytes) and the per-edge intersect is
    * O(outdeg(a)+outdeg(b)). Unlike the wedge-self-join form, the
    * Σ C(outdeg,2) wedge set is never shuffled or materialized as
    * rows — the quadratic term lives inside one codegen'd
    * array_intersect per edge. Three equi-join/groupBy shuffles total;
    * no cartesian, no driver state. */
  def triangleCounts(edges: DataFrame, srcCol: Column, dstCol: Column): DataFrame = {
    val raw = edges.select(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val undirected = raw.select(least(col("u"), col("v")).as("p"),
      greatest(col("u"), col("v")).as("q")).distinct()
    val deg = undirected.select(col("p").as("node"))
      .union(undirected.select(col("q").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): struct comparison gives the total order
    val withDeg = undirected
      .join(deg.select(col("node").as("p"), col("deg").as("dp")), Seq("p"))
      .join(deg.select(col("node").as("q"), col("deg").as("dq")), Seq("q"))
    // oriented feeds THREE lineages (the adjacency rollup and both
    // wedge-join sides) — materialize once instead of re-running the
    // two degree joins per consumer (r19; plan is canonical-stable,
    // so the fold is also shared across the triangle-family queries)
    val oriented = withDeg.select(
      when(struct(col("dp"), col("p")) < struct(col("dq"), col("q")),
        struct(col("p").as("a"), col("q").as("b")))
        .otherwise(struct(col("q").as("a"), col("p").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .transform(preMat)
    val adj = oriented.groupBy(col("a"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    // edges whose head has no outgoing oriented edges close no
    // triangle — the inner join drops them, which is exactly right
    val tri = oriented
      .join(adj.select(col("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("w"))
      .filter(size(col("w")) > 0)
    // one generate emits endpoint AND member credits per wedge row:
    // a union of two selects over `tri` would re-run the adjacency
    // join + array_intersect (the quadratic term) once per branch —
    // ReuseExchange dedupes the exchanges but not the joins above
    // them (r19 optimization round)
    tri.select(explode(concat(
        array(struct(col("a").as("node"),
            size(col("w")).cast("long").as("n")),
          struct(col("b").as("node"),
            size(col("w")).cast("long").as("n"))),
        transform(col("w"),
          c => struct(c.as("node"), lit(1L).as("n"))))).as("cr"))
      .select(col("cr.node").as("node"), col("cr.n").as("n"))
      .groupBy(col("node")).agg(sum(col("n")).as("triangles"))
  }

  /** Local clustering coefficient per node, in exact integer
    * micro-units: cc = 2·triangles / (deg·(deg−1)), released through
    * one integral division as cc_micro = 2·tri·10⁶ div (deg·(deg−1))
    * — the per-node cohesion feature (spam farms cluster high, hub
    * spokes cluster zero). Degree-1 nodes emit 0. Built entirely from
    * [[triangleCounts]] + a degree rollup: one extra join over the
    * canonical edge list, no new shuffle shape. Emits
    * (node, deg, triangles, cc_micro) for every node. */
  def clusteringCoefficient(edges: DataFrame, uCol: Column,
                            vCol: Column): DataFrame = {
    val und = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .select(least(col("u"), col("v")).as("p"),
        greatest(col("u"), col("v")).as("q"))
      .distinct()
      .transform(preMat)
    val deg = und.select(col("p").as("node"))
      .unionAll(und.select(col("q").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(und, col("p"), col("q"))
    deg.join(tri, Seq("node"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("node"), col("deg"), col("triangles"),
        when(col("deg") < 2, lit(0L))
          .otherwise(expr(
            "(2 * triangles * 1000000) div (deg * (deg - 1))"))
          .as("cc_micro"))
  }

  /** Per-edge triangle support over a canonical (a < b) edge list:
    * the degree-oriented enumeration of [[triangleCounts]] (each
    * triangle found exactly once, quadratic term inside one codegen'd
    * array_intersect), crediting all THREE canonical edges of every
    * triangle instead of the three corners. Edges in no triangle
    * emit support 0. */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("x"), col("b").as("y")))
        .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("o"))
      .select(col("o.x").as("x"), col("o.y").as("y"))
    val adj = oriented.groupBy(col("x"))
      .agg(sort_array(collect_list(col("y"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("x"), col("nbrs").as("nx")), Seq("x"))
      .join(adj.select(col("x").as("y"), col("nbrs").as("ny")), Seq("y"))
      .select(col("x"), col("y"),
        array_intersect(col("nx"), col("ny")).as("w"))
      .filter(size(col("w")) > 0)
    // all THREE canonical edges of every triangle credited from ONE
    // generate over the wedge row — the old xy/xc/yc union re-ran the
    // adjacency join + array_intersect once per branch (see
    // triangleCounts)
    val sup = tri.select(explode(concat(
        array(struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"),
          size(col("w")).cast("long").as("n"))),
        transform(col("w"), c => struct(least(col("x"), c).as("a"),
          greatest(col("x"), c).as("b"), lit(1L).as("n"))),
        transform(col("w"), c => struct(least(col("y"), c).as("a"),
          greatest(col("y"), c).as("b"), lit(1L).as("n"))))).as("cr"))
      .select(col("cr.a").as("a"), col("cr.b").as("b"), col("cr.n").as("n"))
      .groupBy(col("a"), col("b")).agg(sum(col("n")).as("sup"))
    e.join(sup, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("sup"), lit(0L)).as("sup"))
  }

  /** Fixed-round k-truss peeling (Cohen 2008): repeatedly drop edges
    * whose triangle support is below k−2 — the EDGE-cohesion
    * community filter one rung above [[kCore]]'s node degrees (every
    * edge of a k-truss closes ≥ k−2 triangles with surviving edges).
    * Fixed `rounds` budget instead of a convergence loop, the same
    * discipline as [[kCore]] / [[pageRank]]: deterministic at every
    * budget (each extra round only peels further toward the true
    * truss), no driver-side fixpoint actions.
    *
    * Scale: each round is one [[edgeSupport]] pass — the
    * degree-oriented triangle enumeration whose shuffle bound is the
    * classic O(m^1.5) (adjacency arrays are √m-bounded), never a
    * wedge self-join — plus one filter; per-round lineage cut by the
    * round materializer. Emits the surviving canonical (a, b) edges. */
  def kTruss(edges: DataFrame, uCol: Column, vCol: Column,
             k: Int, rounds: Int = 2): DataFrame = {
    require(k >= 3 && rounds >= 1, s"need k >= 3, rounds >= 1")
    var e = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .transform(preMat)
    // BETWEEN-round cuts are lazy in plan mode, so the optimizer never
    // sees two chained edgeSupport trees; the FINAL round takes the
    // plain round cut, so the audited plan keeps the representative
    // per-round join shape in-plan.
    var i = 0
    while (i < rounds) {
      val next = edgeSupport(e)
        .filter(col("sup") >= k - 2)
        .select(col("a"), col("b"))
      e = if (i == rounds - 1) roundMat(next)
          else Materialize.kTrussRound(next)
      i += 1
    }
    e
  }

  /** Fixed-round k-core peeling: repeatedly drop nodes of degree < k
    * (and their edges), `rounds` times — the dense-subgraph filter
    * behind spam-farm detection and community seeding. A fixed budget
    * instead of a convergence loop, same discipline as
    * [[pageRank]] / [[Dedup.canonicalizeClusters]]: no driver-side
    * fixpoint actions, deterministic output at every budget (the
    * true k-core is the fixpoint; each extra round only removes more
    * non-core nodes — callers size rounds to expected peel depth).
    * Per-round lineage is truncated with an eager localCheckpoint so
    * the iterative self-reference cannot compound the plan.
    *
    * Emits the surviving (node, deg) rows. */
  def kCore(edges: DataFrame, uCol: Column, vCol: Column,
            k: Int, rounds: Int = 3): DataFrame = {
    var e = edges.select(least(uCol, vCol).as("a"),
        greatest(uCol, vCol).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .transform(preMat)
    def ends(d: DataFrame): DataFrame =
      d.select(col("a").as("n")).unionAll(d.select(col("b").as("n")))
    var i = 0
    while (i < rounds) {
      val keep = ends(e).groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n"))
      e = e.join(keep.select(col("n").as("a")), "a")
        .join(keep.select(col("n").as("b")), "b")
        .select(col("a"), col("b"))
        .transform(roundMat)
      i += 1
    }
    ends(e).groupBy(col("n").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Bounded-depth BFS shortest paths from one source over the
    * undirected graph: (node, dist) for every node within `maxHops`.
    *
    * Each round joins the CURRENT FRONTIER ONLY (nodes first reached
    * last round) against the edge table, then folds new nodes into
    * the distance table with a min-merge — so total work is
    * O(Σ frontier-adjacent edges), the relational Bellman-Ford
    * specialization for unit weights. The symmetrized edge table is
    * localCheckpointed once and reused by every round; the distance
    * table is checkpointed per round to keep the iterative lineage
    * flat (same discipline as kCore above). Frontiers are usually a
    * small fraction of the graph, so the per-round join is
    * broadcast-eligible — left to AQE rather than forced. */
  def bfsHops(edges: DataFrame, uCol: Column, vCol: Column,
              source: String, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(uCol.as("u"), vCol.as("v"))
      .unionAll(edges.select(vCol.as("u"), uCol.as("v")))
      .filter(col("u") =!= col("v")).distinct()
      .transform(preMat)
    var dist = Seq((source, 0L)).toDF("node", "dist")
      .transform(roundMat)
    var h = 1L
    var frontierEmpty = false
    while (h <= maxHops && !frontierEmpty) {
      val frontier = dist.filter(col("dist") === (h - 1))
      val next = frontier.join(sym, col("node") === col("u"))
        .select(col("v").as("node"), lit(h).as("dist"))
      dist = dist.unionAll(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .transform(roundMat)
      frontierEmpty = dist.filter(col("dist") === h).isEmpty
      h += 1
    }
    dist
  }

  /** Fixed-round SYNCHRONOUS label propagation (community detection):
    * every node starts labeled with its own id; each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — a total order, so
    * the result after any fixed round budget is deterministic across
    * partitionings and engines (classic async LPA is
    * visit-order-dependent; the synchronous variant with a fixed
    * budget is the reproducible form, at the cost of possible 2-cycle
    * oscillation on bipartite-ish regions — callers pick the budget).
    *
    * Relational per round: one edge join (neighbor label gather), one
    * (node, label) count, one argmax — all map-side combinable
    * aggregations, NO window (the argmax is max(struct(cnt, −lbl)),
    * not row_number), shuffled by node key. Per-round lineage is cut
    * with an eager localCheckpoint, same discipline as [[kCore]] /
    * [[bfsHops]]. Skew equals the hottest node's degree, as in
    * [[pageRank]].
    *
    * Node ids must be non-negative longs (the argmax negates labels
    * for the ascending tie-break). Emits (node, lbl). */
  def labelPropagation(edges: DataFrame, uCol: Column, vCol: Column,
                       rounds: Int = 3): DataFrame = {
    val sym = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .unionAll(edges.select(vCol.cast("long").as("u"),
        uCol.cast("long").as("v")))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct()
      .transform(preMat)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var r = 0
    while (r < rounds) {
      // labels is referenced exactly ONCE per round (the gather
      // join), so intermediate rounds stay LAZY over the materialized
      // sym — a linear plan with the same per-round exchanges but one
      // job instead of `rounds` eager checkpoint jobs. Only the FINAL
      // label table is cut: downstream consumers (modularity's two
      // label joins, louvainMove's three) re-read a materialized
      // frame instead of re-running the whole propagation per branch.
      labels = sym
        .join(labels.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), col("lbl"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      r += 1
    }
    // The finished label table is a SHARED family artifact (the
    // modularity report and the Louvain refinement both join it), and
    // with lazy rounds its plan is canonical-stable — route through
    // the shared-frame cut so consumers re-read one materialized map
    // instead of re-propagating per query.
    preMat(labels)
  }

  /** Fixed-round weighted single-source shortest paths — synchronous
    * Bellman-Ford from a SET of source nodes (multi-source: each
    * node's distance is to its nearest source). Non-negative integer
    * weights; `rounds` bounds path length in EDGES, so after r rounds
    * the result is exact for every node whose true shortest path uses
    * ≤ r edges — the same fixed-budget determinism contract as
    * [[pageRank]] / [[labelPropagation]], and the reason there is no
    * driver-side convergence loop.
    *
    * Relational per round: one edge join (relax every edge out of the
    * current distance table) + one min-aggregation — map-side
    * combinable, shuffled by node key, lineage cut per round. Edges
    * are directed; symmetrize upstream for undirected graphs.
    * Parallel edges collapse to their min weight first. Emits
    * (node, dist) for reached nodes only. */
  def ssspRounds(edges: DataFrame, srcCol: Column, dstCol: Column,
                 wCol: Column, sources: DataFrame,
                 rounds: Int = 3): DataFrame = {
    val e = edges.select(srcCol.cast("long").as("u"),
        dstCol.cast("long").as("v"), wCol.cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("w").isNotNull && col("w") >= 0 && col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .transform(preMat)
    var dist = sources.select(sources.columns.head)
      .toDF("node")
      .select(col("node").cast("long")).toDF("node")
      .filter(col("node").isNotNull).distinct()
      .withColumn("d", lit(0L))
      .transform(roundMat)
    var r = 0
    while (r < rounds) {
      val relaxed = e.join(dist.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("d")).as("d"))
        .transform(roundMat)
      r += 1
    }
    dist
  }

  /** One synchronous Louvain local-move round: every node
    * simultaneously joins the community (its own, or a neighbor's)
    * with the best modularity gain, ties broken by the SMALLEST
    * community label. The standard comparison — maximize
    * k_i,c − k_i·d_c′/2m with d_c′ the community degree excluding i —
    * is scaled by 4m to the integer score 4m·k_i,c − 2·k_i·d_c′, so
    * the round is bit-deterministic across partitionings and engines
    * (classic sequential Louvain is visit-order-dependent; the
    * synchronous variant is the reproducible, parallel form — like
    * [[labelPropagation]], simultaneous moves may oscillate, so
    * callers iterate with a fixed budget; a locally-optimal partition
    * is a FIXED POINT, which is the spec-testable invariant).
    *
    * Relational: one neighbor-community count (edge-sized), one
    * community-degree rollup, one scored argmax via
    * max(struct(score, −lbl)) — all map-side combinable, no windows;
    * the single-row edge total broadcasts back. Community labels must
    * be non-negative (the argmax negates them for the tie-break).
    * Integer-exact while 4·m·k_i,c stays below 2^63 (m ≲ 1.5e9
    * undirected edges — same bound as [[modularity]]). */
  def louvainMove(edges: DataFrame, uCol: Column, vCol: Column,
                  labels: DataFrame): DataFrame = {
    val sym = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .unionAll(edges.select(vCol.cast("long").as("u"),
        uCol.cast("long").as("v")))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct()
      .transform(preMat)
    val lab = labels.select(col("node"), col("lbl"))
    val mDf = sym.agg((count(lit(1)) / 2).cast("long").as("m"))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("k"))
      .withColumnRenamed("u", "node")
    val commDeg = deg.join(lab, Seq("node"))
      .groupBy(col("lbl")).agg(sum(col("k")).as("d"))
    val kic = sym
      .join(lab.select(col("node").as("v"), col("lbl").as("c")),
        Seq("v"))
      .groupBy(col("u"), col("c")).agg(count(lit(1)).as("kic"))
      .withColumnRenamed("u", "node")
    // the node's own community is always a candidate, even with zero
    // neighbors inside it — appended as a kic = 0 row WITHOUT the
    // old left-join + distinct: when the current community also
    // appears in kic, its true-kic row scores >= the 0-row (the score
    // is monotone in kic — coefficient 4·m >= 0 — and both rows tie
    // on the −c tie-break), so the argmax is unchanged and two
    // exchanges per move round disappear
    val cand = kic.unionByName(
      lab.select(col("node"), col("lbl").as("c"))
        .withColumn("kic", lit(0L)))
    // left-join degrees with a zero fill: a labeled node with no edge
    // in `edges` still has its own community as a candidate (kic = 0,
    // k = 0 → every score is 0, so it keeps its current label); an
    // inner join here would silently DROP such nodes from the output
    // partition, shrinking it across iteration rounds. Likewise a
    // community containing only zero-degree nodes has no commDeg row.
    val scored = cand
      .join(lab.withColumnRenamed("lbl", "a"), Seq("node"))
      .join(deg, Seq("node"), "left")
      .na.fill(0L, Seq("k"))
      .join(commDeg.select(col("lbl").as("c"), col("d").as("dc")),
        Seq("c"), "left")
      .na.fill(0L, Seq("dc"))
      .crossJoin(broadcast(mDf))
      .withColumn("s",
        lit(4L) * col("m") * col("kic") - lit(2L) * col("k") *
          (col("dc") -
            when(col("c") === col("a"), col("k")).otherwise(lit(0L))))
    scored.groupBy(col("node"))
      .agg(max(struct(col("s"), (-col("c")).as("nc"))).as("best"))
      .select(col("node"), (-col("best.nc")).as("lbl"))
  }

  /** Newman modularity of a node partition, in exact integer form.
    * For community c with e_c intra-community undirected edges and
    * total degree d_c over a graph of m undirected edges,
    * Q = Σ_c [e_c/m − (d_c/2m)²]; multiplying through by 4m² keeps
    * every term integral, so the per-community contribution numerator
    * is 4·m·e_c − d_c² and Q = Σ contrib_num / (4m²). Emits one row
    * per community: (lbl, n_nodes, intra, deg_sum, contrib_num) —
    * bit-identical across partitionings and engines (no division
    * happens at all; the caller divides if it wants the float).
    *
    * `labels` is a (node, lbl) frame — typically
    * [[labelPropagation]]'s output, but any partition works.
    *
    * Scale: the edge list is canonicalized (least/greatest +
    * distinct) once and localCheckpoint'd because it feeds three
    * lineages (edge count, degrees, intra-edge labeling) — one
    * materialization, no exchange-reuse assumption. Everything else
    * is equi-joins on node keys + map-side-combinable aggregations;
    * the single-row total-edge frame is broadcast back in, never
    * collect()ed. Exact while 4·m·e_c < 2^63, i.e. m below ~1.5e9
    * undirected edges; beyond that switch the two products to
    * decimal. */
  def modularity(edges: DataFrame, uCol: Column, vCol: Column,
                 labels: DataFrame): DataFrame = {
    val e = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
      .transform(preMat)
    val lab = labels.select(col("node"), col("lbl"))
    val mDf = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val commDeg = deg.join(lab, Seq("node"))
      .groupBy(col("lbl"))
      .agg(sum(col("d")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val intra = e
      .join(lab.select(col("node").as("a"), col("lbl").as("la")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")),
        Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(count(lit(1)).as("intra"))
      .withColumnRenamed("la", "lbl")
    commDeg.join(intra, Seq("lbl"), "left")
      .na.fill(0L, Seq("intra"))
      .crossJoin(broadcast(mDf))
      .select(col("lbl"), col("n_nodes"), col("intra"), col("deg_sum"),
        (lit(4L) * col("m") * col("intra") -
          col("deg_sum") * col("deg_sum")).as("contrib_num"))
  }

  /** DETERMINISTIC uniform random walks — the DeepWalk/node2vec
    * corpus-generation pass that turns a graph into walk "sentences"
    * for a skip-gram embedding pipeline. Every node starts
    * `walksPerNode` walks; at step t walk w moves from its current
    * node to neighbor number stableHash64(w:t:seed) mod degree in the
    * node's id-sorted adjacency — a pure function of (walk, step,
    * seed), so the corpus is bit-identical across partitionings,
    * retries, AQE replans, and engines (the md5-derived hash is the
    * same one the sampling family uses for oracle-checkable
    * randomness; true RNG walks would be irreproducible under task
    * retry, which at 100 TB is a correctness bug, not a nicety).
    *
    * Scale shape: the adjacency index is one keyed window
    * (row_number partitioned BY NODE — bounded by max degree, never
    * global) materialized once; each step is one equi-join of the
    * walk frontier against (node, idx) — node-key shuffles, fixed
    * `steps` budget, per-step lineage cut. Isolated nodes never
    * appear (symmetrized edges mean degree ≥ 1 for every emitted
    * node), so walks never strand. Output: (walk_id, pos, node) with
    * pos 0..steps — walk_id = start_node·walksPerNode + j. */
  def randomWalks(edges: DataFrame, uCol: Column, vCol: Column,
                  walksPerNode: Int = 2, steps: Int = 4,
                  seed: Long = 42L): DataFrame = {
    require(walksPerNode >= 1 && steps >= 0, "bad walk budget")
    val spark = edges.sparkSession
    val sym = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .unionAll(edges.select(vCol.cast("long").as("u"),
        uCol.cast("long").as("v")))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct()
      .transform(preMat)
    val byNode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("v"))
    val adj = sym
      .withColumn("idx", row_number().over(byNode).cast("long") - 1)
      .transform(preMat)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val starts = sym.select(col("u").as("node")).distinct()
      .crossJoin(spark.range(walksPerNode).select(col("id").as("j")))
      .select((col("node") * walksPerNode + col("j")).as("walk_id"),
        col("node"))
    var frontier = starts
      .select(col("walk_id"), lit(0).as("pos"), col("node"))
      .transform(preMat)
    var out = frontier
    var t = 1
    while (t <= steps) {
      frontier = frontier
        .join(deg.withColumnRenamed("u", "node"), Seq("node"))
        .withColumn("idx",
          graft.functions.stableHash64(concat_ws(":", col("walk_id"),
            lit(t), lit(seed))) % col("deg"))
        .join(adj.select(col("u").as("node"), col("idx"),
          col("v").as("next")), Seq("node", "idx"))
        .select(col("walk_id"), lit(t).as("pos"),
          col("next").as("node"))
        .transform(preMat)
      out = out.unionAll(frontier)
      t += 1
    }
    out
  }

  /** Weighted k-core ("s-core") peeling: repeatedly drop nodes whose
    * incident-WEIGHT sum (strength) is below `minStrength`, `rounds`
    * times — [[kCore]] with weighted degrees, the dense-subgraph
    * filter for similarity graphs where edge multiplicity is
    * meaningless but edge weight is the evidence. Same fixed-budget
    * determinism and per-round localCheckpoint discipline. Parallel
    * edges collapse by weight sum; self-loops dropped. Emits
    * surviving (node, strength). */
  def sCore(edges: DataFrame, uCol: Column, vCol: Column, wCol: Column,
            minStrength: Long, rounds: Int = 3): DataFrame = {
    var e = edges.select(least(uCol.cast("long"), vCol.cast("long"))
          .as("a"),
        greatest(uCol.cast("long"), vCol.cast("long")).as("b"),
        wCol.cast("long").as("w"))
      .filter(col("a") =!= col("b") && col("a").isNotNull &&
        col("b").isNotNull && col("w").isNotNull)
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .transform(preMat)
    def strengths(d: DataFrame): DataFrame =
      d.select(col("a").as("n"), col("w"))
        .unionAll(d.select(col("b").as("n"), col("w")))
        .groupBy(col("n")).agg(sum(col("w")).as("s"))
    var i = 0
    while (i < rounds) {
      val keep = strengths(e).filter(col("s") >= minStrength)
        .select(col("n"))
      e = e.join(keep.select(col("n").as("a")), "a")
        .join(keep.select(col("n").as("b")), "b")
        .select(col("a"), col("b"), col("w"))
        .transform(roundMat)
      i += 1
    }
    strengths(e).select(col("n").as("node"), col("s").as("strength"))
  }

  /** Approximate Neighborhood Function (ANF / HyperBall with bottom-k
    * sketches): for every node and radius r ≤ `radius`, an estimate
    * of |{nodes within r hops}| — the primitive behind effective
    * diameter, reachability profiles, and spam-farm "ball size"
    * features at graph scales where exact per-node BFS is hopeless.
    * Exactly Boldi–Vigna HyperBall with the engine's DETERMINISTIC
    * KMV sketch in place of HLL: each round every node's ball sketch
    * absorbs its neighbors' via the k-bounded
    * [[graft.plans.KmvSketchMergeAgg]] (min-k distributes over union,
    * so the propagated sketch IS the sketch of the true r-ball — no
    * approximation error beyond the final k-of-n estimate), and the
    * md5-derived hashes make every estimate bit-identical across
    * partitionings, retries, and engines — oracle-hashable, which no
    * HLL ball ever is. Estimates are EXACT below k members.
    *
    * Scale: per round one edge join + one sketch-merge groupBy with
    * k-LONG aggregation buffers (a 10⁶-degree hub costs k longs of
    * state, not a collect_list); lineage cut per round. Output:
    * (node, r, nbh) for r = 1..radius. */
  def neighborhoodFunction(edges: DataFrame, uCol: Column, vCol: Column,
                           radius: Int = 2, k: Int = 16): DataFrame = {
    require(radius >= 1 && k >= 2, "bad anf params")
    val sym = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"))
      .unionAll(edges.select(vCol.cast("long").as("u"),
        uCol.cast("long").as("v")))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull)
      .distinct()
      .transform(preMat)
    var sk = sym.select(col("u").as("node")).distinct()
      .withColumn("sk",
        array(graft.functions.stableHash64(col("node").cast("string"))))
      .transform(roundMat)
    var out: DataFrame = null
    var r = 1
    while (r <= radius) {
      val gathered = sym
        .join(sk.withColumnRenamed("node", "v"), Seq("v"))
        .select(col("u"), col("sk"))
        .unionAll(sk.select(col("node").as("u"), col("sk")))
      sk = gathered.groupBy(col("u"))
        .agg(graft.plans.KmvDistinctAgg
          .kmvSketchMerge(col("sk"), k).as("sk"))
        .withColumnRenamed("u", "node")
        .transform(roundMat)
      val round = sk.select(col("node"), lit(r).as("r"),
        graft.plans.KmvDistinctAgg
          .kmvEstimateFromSketch(col("sk"), k).as("nbh"))
      out = if (out == null) round else out.unionAll(round)
      r += 1
    }
    out
  }

  /** Skip-gram training pairs from a [[randomWalks]] corpus: for
    * every walk, each (center, context) node pair within `window`
    * positions of each other, counted over the whole corpus —
    * (center, context, cnt), the co-occurrence table a
    * skip-gram-with-negative-sampling embedding trainer consumes
    * (and exactly what a words-in-sentences pipeline would produce,
    * with walks as sentences). Pairs are directed (both orders
    * emitted), excluding the center itself.
    *
    * Scale: a self-equi-join on walk_id with a position band — the
    * join fan-out is walkLen·window per walk row, a constant — then
    * one combinable count. No windows, no driver state. */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "window must be positive")
    val a = walks.select(col("walk_id"), col("pos").as("pa"),
      col("node").as("center"))
    val b = walks.select(col("walk_id"), col("pos").as("pb"),
      col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("pa") =!= col("pb") &&
        abs(col("pa") - col("pb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
  }

  // ------------------------------------------------ weighted variants
  // Similarity-graph pipelines (MinHash Jaccard scores, co-occurrence
  // PMI) produce WEIGHTED edges; the integer-exactness discipline
  // carries over by quantizing weights to integer micro-units
  // upstream, so every variant below stays bit-identical across
  // partitionings and engines.

  /** Symmetrize a weighted edge list: both directions of every u≠v
    * row, parallel edges collapsed by SUM. Long weights in, long
    * weights out.
    *
    * PRECONDITION: edge weights must be NON-NEGATIVE. Negative
    * weights pass through here un-filtered (unlike [[pageRankW]],
    * which drops w ≤ 0), and downstream [[louvainMoveWSym]] relies on
    * its kic-coefficient resDen·w2 being ≥ 0 for the kic=0
    * stay-candidate shortcut to be argmax-invariant — a caller
    * supplying negative weights would get labels that differ from the
    * pre-r19 left-join+distinct form. All registry callers feed
    * counts / quantities / micro-scores, which are ≥ 0 by
    * construction. */
  private def symW(edges: DataFrame, uCol: Column, vCol: Column,
                   wCol: Column): DataFrame =
    edges.select(uCol.cast("long").as("u"), vCol.cast("long").as("v"),
        wCol.cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("w").isNotNull && col("u") =!= col("v"))
      .unionAll(edges.select(vCol.cast("long").as("u"),
          uCol.cast("long").as("v"), wCol.cast("long").as("w"))
        .filter(col("u").isNotNull && col("v").isNotNull &&
          col("w").isNotNull && col("u") =!= col("v")))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))

  /** [[pageRank]] with WEIGHTED edges: each round a node with
    * out-weight W sends floor(pr·dampNum·w / (dampDen·W)) units along
    * each out-edge of weight w — mass splits proportionally to edge
    * weight instead of evenly, one exact integer division per edge,
    * rounding residue dropped deterministically. Parallel edges
    * collapse by weight sum first; non-positive weights are dropped.
    * Same fixed-round bit-determinism contract as [[pageRank]]; exact
    * while pr·dampNum·w < 2^63 (with the default scale, edge weights
    * below ~1e8 on graphs up to ~1e5·scale total mass).
    *
    * Scale: identical shape to [[pageRank]] — one weighted outdeg
    * rollup + one edge join + one incoming-mass aggregation per
    * round, all map-side combinable, node-key shuffles only. */
  def pageRankW(edges: DataFrame, srcCol: Column, dstCol: Column,
                wCol: Column, rounds: Int = 3, scale: Long = 1000000L,
                dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    // e and outw feed every round — materialize once (see pageRank)
    val kt = idKeyType(edges, srcCol, dstCol)
    val e = edges.select(srcCol.cast(kt).as("src"),
        dstCol.cast(kt).as("dst"), wCol.cast("long").as("w"))
      .filter(col("w").isNotNull && col("w") > 0)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .transform(preMat)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .transform(preMat)
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      .transform(preMat)
    val base = scale * (dampDen - dampNum) / dampDen
    var pr = nodes.withColumn("pr", lit(scale))
    var r = 0
    while (r < rounds) {
      val contrib = e
        .join(pr.withColumnRenamed("node", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst").as("node"),
          expr(s"(pr * $dampNum * w) div ($dampDen * ow)").as("c"))
      val incoming = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("in"))
      pr = nodes.join(incoming, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in"), lit(0L))).as("pr"))
      r += 1
    }
    // string node at the boundary, long keys inside (see idKeyType)
    pr.select(col("node").cast("string").as("node"), col("pr"))
  }

  /** Personalized PageRank, fixed-round integer form: identical mass
    * mechanics to [[pageRank]], except ALL restart mass returns to the
    * SEED set (each seed restarts with floor(scale·(dampDen−dampNum)/
    * dampDen); non-seeds restart with 0) — the random-walk-with-
    * restart similarity that recommendation and local-community
    * pipelines run, where plain PageRank measures global importance.
    * Same bit-determinism contract: integer mass, one exact division
    * per edge hop, dangling residue dropped deterministically.
    *
    * Scale: per round one edge join + one map-side-combinable
    * incoming sum, node-key shuffles only; the seed flag rides the
    * node frame (no per-round broadcast). Seeds arrive as a
    * single-column DataFrame, joined once up front — never
    * collect()ed. */
  def personalizedPageRank(edges: DataFrame, srcCol: Column,
      dstCol: Column, seeds: DataFrame, rounds: Int = 3,
      scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    // The edge list and out-degree table are read by EVERY round
    // (contrib join + split divisor) — materialize each ONCE instead
    // of re-deriving them from the base scan per round (guide-§2.4
    // shuffle removal: 2 scans + 1 distinct + 1 groupBy per round
    // collapse to two cached reads).
    val kt = idKeyType(edges, srcCol, dstCol)
    val e = edges.select(srcCol.cast(kt).as("src"),
        dstCol.cast(kt).as("dst"))
      .transform(preMat)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    // seeds cast to the SAME key type: for the long path a seed that
    // is not a valid long casts to null and never matches — exactly
    // the string path's never-matches semantics for such a value
    val seedSet = seeds
      .select(col(seeds.columns.head).cast(kt).as("node"))
      .distinct()
    val marked = nodes
      .join(seedSet.withColumn("__s", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(false)).as("is_seed"))
      .transform(preMat)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .transform(preMat)
    val base = scale * (dampDen - dampNum) / dampDen
    var pr = marked.withColumn("pr",
      when(col("is_seed"), lit(scale)).otherwise(lit(0L)))
    var r = 0
    while (r < rounds) {
      val contrib = e
        .join(pr.select(col("node").as("src"), col("pr")), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("node"),
          expr(s"(pr * $dampNum) div ($dampDen * od)").as("c"))
      val incoming = contrib.groupBy(col("node"))
        .agg(sum(col("c")).as("in"))
      // pr is referenced exactly ONCE per round (the contrib join),
      // so the chain stays LAZY over the materialized e/outdeg/marked
      // frames — a linear plan, executed by the caller's one action,
      // instead of one eager checkpoint job per round
      pr = marked.join(incoming, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
            coalesce(col("in"), lit(0L))).as("pr"))
      r += 1
    }
    // string node at the boundary, long keys inside (see idKeyType)
    pr.select(col("node").cast("string").as("node"), col("pr"))
  }

  /** Fixed-round integer HITS (Kleinberg's hubs/authorities): each
    * round, authority(v) = Σ_{u→v} hub(u) and hub(u) = Σ_{u→v}
    * auth(v), each renormalized to [0, scale] by ONE exact integer
    * division against the round's max (a single-row aggregate,
    * broadcast back in — the integer stand-in for the float L2
    * normalization, with the same bit-determinism contract as
    * [[pageRank]]: order-/partitioning-independent, engine-exact).
    * Sums and the ×scale product ride DECIMAL(38,0) so a 100-TB hub
    * with ~1e13 in-degree cannot overflow a Long mid-round; the
    * released scores are back in [0, scale] and emitted as longs.
    *
    * Scale: per round, two edge equi-joins + two map-side-combinable
    * sums + two single-row max aggregates (broadcast, never
    * collect()ed) — node-key shuffles only, no cartesian, no driver
    * state. Skew equals the hottest node's degree, same salting
    * caveat as [[pageRank]]. */
  def hits(edges: DataFrame, srcCol: Column, dstCol: Column,
           rounds: Int = 2, scale: Long = 1000000L): DataFrame = {
    val kt = idKeyType(edges, srcCol, dstCol)
    val e = edges.select(srcCol.cast(kt).as("src"),
        dstCol.cast(kt).as("dst"))
      .distinct()
      .transform(preMat)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .transform(preMat)
    var hub = nodes.withColumn("hub", lit(scale))
    var auth = nodes.withColumn("auth", lit(0L))
    var r = 0
    while (r < rounds) {
      // materialize the raw sums once: they feed BOTH the round max
      // and the renormalization join (left unmaterialized, the
      // aggregation would execute twice per round)
      // materialize the raw sums once: they feed BOTH the round max
      // and the renormalization join (left unmaterialized, the
      // aggregation would execute twice per round).
      // NOTE (r19 optimization round): leaving the renormalized
      // auth/hub frames LAZY (they have one consumer per round) was
      // tried and MEASURED SLOWER at sf0.1 (full-bench mins 5.3 s ->
      // 9.0 s, both passes): each remaining checkpoint's plan then
      // carries the renormalization subtree, and the added driver
      // planning time + single-task renormalize-inside-join stages
      // cost more than the two skipped jobs saved. Eager form kept.
      val araw = roundMat(e
        .join(hub.select(col("node").as("src"), col("hub")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub").cast("decimal(38,0)")).as("s")))
      val amax = araw.agg(
        greatest(max(col("s")), lit(1L).cast("decimal(38,0)")).as("mx"))
      auth = roundMat(nodes.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(amax))
        .select(col("node"), expr(
          s"(coalesce(s, cast(0 as decimal(38,0))) * $scale) div mx")
          .as("auth")))
      val hraw = roundMat(e
        .join(auth.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth").cast("decimal(38,0)")).as("s")))
      val hmax = hraw.agg(
        greatest(max(col("s")), lit(1L).cast("decimal(38,0)")).as("mx"))
      hub = roundMat(nodes.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(hmax))
        .select(col("node"), expr(
          s"(coalesce(s, cast(0 as decimal(38,0))) * $scale) div mx")
          .as("hub")))
      r += 1
    }
    // string node at the boundary, long keys inside (see idKeyType)
    hub.join(auth, Seq("node"))
      .select(col("node").cast("string").as("node"), col("hub"),
        col("auth"))
  }

  /** [[labelPropagation]] with edge weights: each round every node
    * adopts the label with the largest incident WEIGHT SUM (ties →
    * smallest label). Same synchronous fixed-round determinism, same
    * relational shape (edge join + combinable sum + max(struct), no
    * window); parallel edges collapse by weight sum first. Node ids
    * must be non-negative longs. */
  def labelPropagationW(edges: DataFrame, uCol: Column, vCol: Column,
                        wCol: Column, rounds: Int = 3): DataFrame = {
    val sym = symW(edges, uCol, vCol, wCol).transform(preMat)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    var r = 0
    while (r < rounds) {
      // lazy intermediate rounds, one final cut — see
      // [[labelPropagation]] for the single-reference argument
      labels = sym
        .join(labels.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), col("lbl"), col("w"))
        .groupBy(col("node"), col("lbl"))
        .agg(sum(col("w")).as("ws"))
        .groupBy(col("node"))
        .agg(max(struct(col("ws"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
      r += 1
    }
    roundMat(labels)
  }

  /** Weighted Newman modularity, exact integer form: with total
    * undirected weight m_w, community intra-weight W_c and weighted
    * degree d_c, the contribution numerator is 4·m_w·W_c − d_c² and
    * Q = Σ/4m_w² — same no-division hash-exactness contract as
    * [[modularity]]. Parallel edges collapse by sum; self-loops are
    * dropped (the unweighted convention here). Exact while
    * 4·m_w·W_c < 2^63 — with 1e-6-unit micro-weights that is
    * ~1.5e9 total weight units; rescale upstream beyond that. */
  def modularityW(edges: DataFrame, uCol: Column, vCol: Column,
                  wCol: Column, labels: DataFrame): DataFrame = {
    val e = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"), wCol.cast("long").as("w"))
      .filter(col("u") =!= col("v") && col("u").isNotNull &&
        col("v").isNotNull && col("w").isNotNull)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .transform(preMat)
    val lab = labels.select(col("node"), col("lbl"))
    val mDf = e.agg(sum(col("w")).as("m"))
    val deg = e.select(col("a").as("node"), col("w"))
      .unionAll(e.select(col("b").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("d"))
    val commDeg = deg.join(lab, Seq("node"))
      .groupBy(col("lbl"))
      .agg(sum(col("d")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val intra = e
      .join(lab.select(col("node").as("a"), col("lbl").as("la")),
        Seq("a"))
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")),
        Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(sum(col("w")).as("intra_w"))
      .withColumnRenamed("la", "lbl")
    commDeg.join(intra, Seq("lbl"), "left")
      .na.fill(0L, Seq("intra_w"))
      .crossJoin(broadcast(mDf))
      .select(col("lbl"), col("n_nodes"), col("intra_w"),
        col("deg_sum"),
        (lit(4L) * col("m") * col("intra_w") -
          col("deg_sum") * col("deg_sum")).as("contrib_num"))
  }

  /** One synchronous WEIGHTED Louvain local-move round — the
    * building block of [[louvainLevels]]. `edges` rows are u≠v
    * weighted edges (either direction; parallel rows sum);
    * `selfLoops` is an optional (node, selfw) frame of RAW
    * intra-node weight — a self-loop of weight s contributes 2s to
    * the node's weighted degree (the standard convention) but never
    * to a neighbor-community weight (moving the node carries its
    * internal edges along, so they cancel out of every candidate's
    * score). Score = resDen·W2·k_i,c − resNum·k_i·d_c′ with
    * W2 = Σ degrees = 2m_w — the [[louvainMove]] integer gain halved,
    * same argmax, ties → smallest community label; resNum/resDen is
    * the RESOLUTION γ of the Reichardt–Bornholdt generalized
    * modularity (γ > 1 penalizes the null model harder → smaller
    * communities — the knob against the resolution limit the
    * GraphScaleProbe documents; γ = 1 is classic Louvain). Labels
    * must be non-negative longs. Exact while
    * resDen·W2·k_i,c < 2^63. */
  def louvainMoveW(edges: DataFrame, uCol: Column, vCol: Column,
                   wCol: Column, labels: DataFrame,
                   selfLoops: Option[DataFrame] = None,
                   resNum: Long = 1L, resDen: Long = 1L): DataFrame =
    louvainMoveWSym(symW(edges, uCol, vCol, wCol).transform(preMat),
      labels, selfLoops, resNum, resDen)

  /** Per-node weighted degree over a symmetrized frame (+2·selfw for
    * self-loops) — the label-invariant half of a Louvain move round,
    * hoistable across a level's rounds. */
  private def louvainDegrees(sym: DataFrame,
                             selfLoops: Option[DataFrame]): DataFrame = {
    val degParts = sym.select(col("u").as("node"), col("w").as("k")) +:
      selfLoops.toSeq.map(_.select(col("node"),
        (col("selfw") * 2).as("k")))
    degParts.reduce(_ unionAll _)
      .groupBy(col("node")).agg(sum(col("k")).as("k"))
  }

  /** [[louvainMoveW]] on an ALREADY symmetrized, parallel-collapsed,
    * materialized (u, v, w) frame — so an iterating caller
    * ([[louvainLevels]]) symmetrizes and checkpoints ONCE per level
    * instead of once per move round (at 100 TB each avoided
    * re-materialization is a full edge-frame shuffle write).
    *
    * `parity`: when Some(p), only nodes with node-id parity p may
    * move this round; the rest keep their current label. This is the
    * standard deterministic damping for the synchronous form's
    * 2-cycle (two nodes that each prefer the OTHER's community swap
    * labels forever under simultaneous moves — the partition never
    * merges them; alternating eligibility lets one land first and
    * the other then join it). Still a pure function of
    * (graph, labels, round), so reproducibility is unchanged. */
  private def louvainMoveWSym(sym: DataFrame, labels: DataFrame,
                              selfLoops: Option[DataFrame],
                              resNum: Long, resDen: Long,
                              parity: Option[Long] = None,
                              degPre: Option[DataFrame] = None)
      : DataFrame = {
    val lab = labels.select(col("node"), col("lbl"))
    // weighted degrees + total are LABEL-INVARIANT: an iterating
    // caller (louvainLevels) computes them once per level via
    // louvainDegrees and passes them in, saving one full sym scan +
    // groupBy per extra move round
    val deg = degPre.getOrElse(louvainDegrees(sym, selfLoops))
    val w2Df = deg.agg(sum(col("k")).as("w2"))
    val commDeg = deg.join(lab, Seq("node"))
      .groupBy(col("lbl")).agg(sum(col("k")).as("d"))
    val kic = sym
      .join(lab.select(col("node").as("v"), col("lbl").as("c")),
        Seq("v"))
      .groupBy(col("u"), col("c")).agg(sum(col("w")).as("kic"))
      .withColumnRenamed("u", "node")
    // stay candidate as a plain kic = 0 row — argmax-invariant (score
    // monotone in kic, coefficient resDen·w2 >= 0; same-c rows tie),
    // see louvainMove. Saves the left join + distinct per move round.
    val cand = kic.unionByName(
      lab.select(col("node"), col("lbl").as("c"))
        .withColumn("kic", lit(0L)))
    // left joins + zero fills so zero-degree labeled nodes and
    // all-zero-degree communities survive (see louvainMove)
    val scored = cand
      .join(lab.withColumnRenamed("lbl", "a"), Seq("node"))
      .join(deg, Seq("node"), "left")
      .na.fill(0L, Seq("k"))
      .join(commDeg.select(col("lbl").as("c"), col("d").as("dc")),
        Seq("c"), "left")
      .na.fill(0L, Seq("dc"))
      .crossJoin(broadcast(w2Df))
      .withColumn("s",
        lit(resDen) * col("w2") * col("kic") - lit(resNum) * col("k") *
          (col("dc") -
            when(col("c") === col("a"), col("k")).otherwise(lit(0L))))
    val best = scored.groupBy(col("node"))
      .agg(max(struct(col("s"), (-col("c")).as("nc"))).as("best"),
        min(col("a")).as("cur"))
    parity match {
      case None =>
        best.select(col("node"), (-col("best.nc")).as("lbl"))
      case Some(p) =>
        best.select(col("node"),
          when(pmod(col("node"), lit(2L)) === lit(p),
            -col("best.nc")).otherwise(col("cur")).as("lbl"))
    }
  }

  /** Multi-level Louvain with a FIXED budget: `movesPerLevel`
    * synchronous weighted move rounds, then CONTRACT — every
    * community collapses to one supernode, parallel inter-community
    * weights sum, intra-community weight becomes the supernode's
    * self-loop (feeding the next level's degrees) — and repeat for
    * `levels` levels. This is the full Louvain loop with bounded
    * budgets in place of convergence tests, the same determinism
    * contract as every other fixed-round operator here; a partition
    * that is locally optimal is a fixed point of the move round, so
    * extra budget never degrades it.
    *
    * Scale: contraction SHRINKS the graph geometrically in practice —
    * level-2 rounds run on the community graph, not the input — which
    * is exactly why multi-level beats move-only at 100×: the
    * expensive full-size rounds are capped at `movesPerLevel`.
    * Everything is edge-join + combinable-agg shaped; per-level
    * frames are localCheckpoint'd (the assignment join chain would
    * otherwise compound the plan exponentially).
    *
    * Emits (node, lbl): ORIGINAL node → final coarse community. */
  def louvainLevels(edges: DataFrame, uCol: Column, vCol: Column,
                    wCol: Column, levels: Int = 2,
                    movesPerLevel: Int = 2,
                    resNum: Long = 1L, resDen: Long = 1L): DataFrame = {
    require(levels >= 1 && movesPerLevel >= 1, "bad louvain budget")
    val raw = edges.select(uCol.cast("long").as("u"),
        vCol.cast("long").as("v"), wCol.cast("long").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("w").isNotNull)
    var inter = raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
      .transform(preMat)
    var selfLoops = raw.filter(col("u") === col("v"))
      .groupBy(col("u").as("node")).agg(sum(col("w")).as("selfw"))
      .transform(preMat)
    var assign = inter.select(col("a").as("node"))
      .unionAll(inter.select(col("b").as("node")))
      .unionAll(selfLoops.select(col("node")))
      .distinct()
      .withColumn("lbl", col("node"))
      .transform(preMat)
    var level = 0
    // final lab of the previous level — its distinct lbl set IS the
    // next level's node space, and it is already materialized, so
    // deriving lab-init from it (instead of from the lazily-folded
    // assign chain) keeps the fold out of every iteration plan
    var labPrev: DataFrame = null
    while (level < levels) {
      // bounded local-move rounds at the current granularity.
      // Level 0's identity labeling IS `assign` (lbl = node there) —
      // no distinct pass needed.
      var lab =
        if (level == 0) assign.select(col("node"), col("lbl"))
        else labPrev.select(col("lbl").as("node")).distinct()
          .withColumn("lbl", col("node"))
      // symmetrize + materialize ONCE for all this level's move
      // rounds; level 0 routes through preMat (shared across the
      // resolution variants), deeper levels chain off per-build
      // label RDDs where a plan-keyed cache cannot hit
      val symCurRaw = symW(inter, col("a"), col("b"), col("w"))
      val symCur =
        if (level == 0) symCurRaw.transform(preMat)
        else symCurRaw.transform(roundMat)
      // degrees are label-invariant and hoistable across the level's
      // rounds. At level 0 they are ALSO resolution-invariant with a
      // canonical-stable plan (symCur and selfLoops are both shared
      // artifacts), so they route through the shared-preprocessing
      // materializer: one build serves every move round of every
      // resolution variant. Deeper levels chain through build-unique
      // RDDs where a plan-keyed cache cannot hit; there an eager
      // materialization is 2 extra actions that MEASURED SLOWER at
      // movesPerLevel=2 (7.5s -> 8.4s, sf0.1 louvain_ml) — hoist only
      // when 3+ rounds amortize it.
      val degCur =
        if (level == 0)
          Some(louvainDegrees(symCur, Some(selfLoops))
            .transform(preMat))
        else if (movesPerLevel >= 3)
          Some(louvainDegrees(symCur, Some(selfLoops))
            .transform(roundMat))
        else None
      var mv = 0
      while (mv < movesPerLevel) {
        // alternate move eligibility by node-id parity — kills the
        // synchronous 2-cycle (supernode pairs at the coarse levels
        // otherwise swap labels instead of merging); see
        // louvainMoveWSym
        lab = louvainMoveWSym(symCur, lab, Some(selfLoops), resNum,
            resDen, Some(mv.toLong % 2L), degCur)
          .transform(roundMat)
        mv += 1
      }
      // fold this level's map into the original-node assignment —
      // LAZILY: every lab in the chain is already a materialized
      // round frame, so the fold is a flat join chain executed once
      // by the caller's action instead of one eager checkpoint per
      // level. Nothing downstream of the iteration reads `assign`.
      assign = assign
        .join(lab.select(col("node").as("lbl"), col("lbl").as("nl")),
          Seq("lbl"))
        .select(col("node"), col("nl").as("lbl"))
      labPrev = lab
      level += 1
      if (level < levels) {
        // contract: communities become nodes; intra weight → self-loop
        val ed = inter
          .join(lab.select(col("node").as("a"), col("lbl").as("x")),
            Seq("a"))
          .join(lab.select(col("node").as("b"), col("lbl").as("y")),
            Seq("b"))
          .select(col("x"), col("y"), col("w"))
        // newInter is consumed once (the next level's symCur build)
        // unless ANOTHER contraction follows — materialize only then
        val newInterRaw = ed.filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"), col("w"))
          .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
        val newInter =
          if (level + 1 < levels) roundMat(newInterRaw) else newInterRaw
        val newSelf = ed.filter(col("x") === col("y"))
          .select(col("x").as("node"), col("w").as("selfw"))
          .unionAll(selfLoops
            .join(lab, Seq("node"))
            .select(col("lbl").as("node"), col("selfw")))
          .groupBy(col("node")).agg(sum(col("selfw")).as("selfw"))
          .transform(roundMat)
        inter = newInter
        selfLoops = newSelf
      }
    }
    assign
  }
}
