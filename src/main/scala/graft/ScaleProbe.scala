package graft

import org.apache.spark.sql.functions._

/** Ad-hoc scale probe (not part of the driver contract): replicate the
  * sf0.1 documents corpus 20× (~100k docs, every text duplicated 20×),
  * run LSH pair detection + cluster collapse, print wall times. Used to
  * record DEVNOTES scale numbers round over round. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = apps.Apps.session("scale-probe")
    val docs = Tables.documents(spark, sfDir)
      .crossJoin(spark.range(20).select(col("id").as("rep")))
      .select((col("doc_id") * 20 + col("rep")).as("doc_id"), col("text"))
      .persist()
    val n = docs.count()
    var t0 = System.nanoTime()
    val pairs = operators.Dedup.minhashLshPairs(
      docs, col("text"), col("doc_id"), threshold = 0.5).persist()
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val labels = operators.Dedup.canonicalizeClusters(
      pairs.select(col("ia"), col("ib")))
    val nLabeled = labels.count()
    val tClusters = (System.nanoTime() - t0) / 1e9
    println(f"docs=$n pairs=$nPairs pairs_sec=$tPairs%.1f " +
      f"labeled=$nLabeled clusters_sec=$tClusters%.1f")

    // blocked exact near-dup scan throughput: 10x-replicated embeddings
    // (~20k vectors -> ~200M pair dot products at dim 64)
    val emb = Tables.embeddings(spark, sfDir)
      .crossJoin(spark.range(10).select(col("id").as("rep")))
      .select((col("vec_id") * 10 + col("rep")).as("vec_id"),
        col("embedding"))
      .persist()
    val nv = emb.count()
    t0 = System.nanoTime()
    val nd = operators.Similarity.nearDupPairs(emb, 0.45, nBlocks = 64)
      .count()
    val tBlocked = (System.nanoTime() - t0) / 1e9
    val gflops = nv * nv / 2.0 * 64 * 2 / tBlocked / 1e9
    println(f"vectors=$nv blocked_pairs=$nd blocked_sec=$tBlocked%.1f " +
      f"approx_gflops=$gflops%.1f")

    // round 3: contamination probe — 100k-doc corpus vs a small
    // benchmark set; the benchmark side broadcasts, the corpus streams
    val bench = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    t0 = System.nanoTime()
    val nContam = operators.Dedup.contamination(
      docs, bench, col("text"), col("doc_id"), col("text"), col("doc_id"),
      shingleN = 3, minShared = 2).count()
    val tContam = (System.nanoTime() - t0) / 1e9
    println(f"contaminated=$nContam of $n docs contam_sec=$tContam%.1f")

    // round 3: banded spatial pair join — 3x-replicated events (~300k
    // points, all latitudes incl. polar caps), eps 50 km
    val pts = Tables.events(spark, sfDir)
      .crossJoin(spark.range(3).select(col("id").as("rep")))
      .select((col("event_id") * 3 + col("rep")).as("pid"),
        graft.functions.synthLon(col("event_id") + col("rep") * 7).as("lon"),
        graft.functions.synthLat(col("event_id") + col("rep") * 13).as("lat"))
      .persist()
    val np = pts.count()
    t0 = System.nanoTime()
    val nSpatial = geo.SpatialJoin.pairsWithin(
      pts, "pid", "lon", "lat", epsMeters = 50000.0).count()
    val tSpatial = (System.nanoTime() - t0) / 1e9
    println(f"points=$np spatial_pairs=$nSpatial spatial_sec=$tSpatial%.1f")

    // round 6: polar-cap skew — a pole-dense cloud (20k of 25k points
    // above 89.9°, where every band collapses to a single cell) funnels
    // its whole candidate set through a handful of cell keys; capSalt
    // spreads each over k reducers. Counts must agree (salting is
    // plan-only); times show the skew cost.
    val polar = spark.range(25000).select(
      col("id").as("pid"),
      (pmod(col("id") * 37, lit(360000)) / 1000.0 - 180.0).as("lon"),
      when(col("id") % 5 === 0,
        lit(90.0) - pmod(col("id") * 13, lit(30000)) / 1000.0) // 60-90
        .otherwise(lit(89.9) + pmod(col("id") * 7, lit(999)) / 10000.0)
        .as("lat"))
      .persist()
    polar.count()
    def timeCap(salt: Int): (Long, Double) = {
      val s = System.nanoTime()
      val c = geo.SpatialJoin.pairsWithin(
        polar, "pid", "lon", "lat", epsMeters = 5000.0, capSalt = salt)
        .count()
      (c, (System.nanoTime() - s) / 1e9)
    }
    val (cap1, tCap1) = timeCap(1)
    val (cap8, tCap8) = timeCap(8)
    require(cap1 == cap8, s"capSalt changed the result: $cap1 vs $cap8")
    println(f"polar_pairs=$cap1 salt1_sec=$tCap1%.1f salt8_sec=$tCap8%.1f " +
      f"speedup=${tCap1 / tCap8}%.2fx")

    // round 8: J8 shuffle-path degrade — the same banded pair join with
    // auto-broadcast disabled, forcing the exchange-both-sides path a
    // 1000-executor run takes when neither cell-keyed side fits in a
    // broadcast. Counts must agree (the plan changes, the semantics
    // don't); the time delta prices the shuffle, and the executed-plan
    // join node is recorded so the degrade is visible, not assumed.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    t0 = System.nanoTime()
    val smjDf = geo.SpatialJoin.pairsWithin(
      pts, "pid", "lon", "lat", epsMeters = 50000.0)
    val nSpatialSmj = smjDf.count()
    val tSpatialSmj = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    require(nSpatialSmj == nSpatial,
      s"broadcast-off changed the result: $nSpatialSmj vs $nSpatial")
    val planStr = smjDf.queryExecution.executedPlan.toString
    val joinNode =
      if (planStr.contains("SortMergeJoin")) "SortMergeJoin"
      else if (planStr.contains("ShuffledHashJoin")) "ShuffledHashJoin"
      else if (planStr.contains("BroadcastHashJoin")) "BroadcastHashJoin"
      else "other"
    println(f"spatial_noBroadcast pairs=$nSpatialSmj join=$joinNode " +
      f"sec=$tSpatialSmj%.1f (broadcast path: $tSpatial%.1f)")

    // round 8: PretrainPipeline v2 end-to-end on the 20x-replicated
    // corpus (100k docs, 95% exact-dup by construction) — the 9-stage
    // manifest from one observe() action; per-stage lazy
    // localCheckpoints bound both plan size and recompute. The
    // replicated corpus pushes the heavy work to stage 1 (exact dedup
    // collapses 20 copies); survivors flow through line dedup, LSH,
    // gates, LM cutoff, mix, shuffle+pack.
    // benchModulus past max(doc_id): replica ids would otherwise place
    // exact COPIES of corpus texts into the bench split and
    // decontamination would (correctly) wipe the whole corpus — the
    // probe measures throughput, so the bench side stays near-empty
    t0 = System.nanoTime()
    val v2 = graft.apps.PretrainDataPipeline.runV2(
      docs.withColumn("lang",
          element_at(array(lit("en"), lit("de"), lit("fr"), lit("es")),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
        .withColumn("source",
          concat(lit("src"), pmod(col("doc_id"), lit(20)))),
      graft.apps.PretrainDataPipeline.ConfigV2(mixTarget = 2000),
      benchModulus = 999983L)
    val tV2 = (System.nanoTime() - t0) / 1e9
    val v2Drops = v2.manifest.map(r => s"${r.reason}=${r.n_dropped}")
      .mkString(" ")
    println(f"pretrain_v2 docs=$n kept=${v2.manifest.last.n_out} " +
      f"sec=$tV2%.1f [$v2Drops]")
    v2.kept.unpersist()

    // round 4: k-means/IVF assign-pass throughput — codegen
    // NearestCentroid vs the round-3 boxed Seq[Double] UDF it replaced,
    // same 20k-vector corpus, same centroid matrix
    val cents = operators.Similarity.ivfCentroids(
      emb.withColumn("label", pmod(col("vec_id"), lit(16)).cast("int")),
      "label")
    def asDouble = transform(col("embedding"), x => x.cast("double"))
    val boxedAssign = udf((v: Seq[Double]) => {
      var best = -1
      var bestD = Double.MaxValue
      cents.foreach { case (list, c) =>
        var d = 0.0
        var i = 0
        while (i < c.length && i < v.length) {
          val t = v(i) - c(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = list }
      }
      best
    })
    def timeAssign(assignCol: org.apache.spark.sql.Column): Double = {
      val reps = 5
      val s = System.nanoTime()
      var r = 0
      while (r < reps) {
        emb.select(sum(assignCol)).collect()
        r += 1
      }
      (System.nanoTime() - s) / 1e9 / reps
    }
    timeAssign(plans.ArrayExpressions.nearestCentroid(asDouble, cents)) // warm
    val tUdf = timeAssign(boxedAssign(asDouble))
    val tGen = timeAssign(plans.ArrayExpressions.nearestCentroid(asDouble, cents))
    println(f"assign_pass vectors=$nv udf_sec=$tUdf%.3f " +
      f"codegen_sec=$tGen%.3f speedup=${tUdf / tGen}%.2fx")

    // round 6: corpus-analytics passes over the 20x-replicated corpus —
    // LM train+score (two corpus passes + model joins), duplicated-gram
    // fraction (gram-table tag-back), winnowing (one UDF pass)
    t0 = System.nanoTime()
    val nScored = operators.LanguageModel.scoreDocs(
      docs, col("text"), col("doc_id")).count()
    val tLm = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nFrac = operators.Dedup.duplicatedGramFraction(
      docs, col("text"), col("doc_id")).filter(col("flagged")).count()
    val tFrac = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nFp = operators.Dedup.winnowFingerprints(
      docs, col("text"), col("doc_id"), k = 3, window = 4).count()
    val tFp = (System.nanoTime() - t0) / 1e9
    println(f"lm_scored=$nScored lm_sec=$tLm%.1f flagged=$nFrac " +
      f"dupfrac_sec=$tFrac%.1f winnow_fps=$nFp winnow_sec=$tFp%.1f")

    // round 6: PQ ADC vs brute-force top-k on the 20k-vector corpus —
    // the candidate scan reads 4 int codes instead of 64 floats
    val queries = emb.filter(col("vec_id") % 1000 === 0)
    t0 = System.nanoTime()
    val nBrute = operators.Similarity.bruteForceTopK(emb, queries, 5).count()
    val tBrute = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val books = operators.Similarity.pqCodebooks(emb, m = 4, k = 8,
      rounds = 1)
    val tTrain = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nPq = operators.Similarity.pqTopK(emb, queries, 5,
      precomputed = Some(books)).count()
    val tPq = (System.nanoTime() - t0) / 1e9
    println(f"ann_rows brute=$nBrute pq=$nPq brute_sec=$tBrute%.1f " +
      f"pq_train_sec=$tTrain%.1f pq_scan_sec=$tPq%.1f")

    // round 6: heavy-hitters sketch vs exact token count over the
    // 100k-doc corpus — k counters per partial vs a vocabulary-sized
    // exact groupBy
    val toks = docs.select(explode(
      graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    t0 = System.nanoTime()
    // collect(), NOT count(): count()'s outer Aggregate references no
    // columns, so ColumnPruning would drop the inner aggregate
    // expressions and the timed plan would never evaluate the operator
    val exact = toks.groupBy(col("term")).count()
      .orderBy(col("count").desc).limit(10).collect().length
    val tExact = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val sketch = toks.agg(
        plans.HeavyHittersAgg.heavyHitters(col("term"), 10).as("hh"))
      .collect().head.getMap[String, Long](0).size
    val tSketch = (System.nanoTime() - t0) / 1e9
    println(f"hh exact_top10_sec=$tExact%.1f sketch_sec=$tSketch%.1f " +
      f"(exact=$exact sketch_counters=$sketch)")

    // round 8: DSIR + BM25 over the 100k-doc replicated corpus —
    // both must stay linear in corpus size (weight/df tables are
    // bucket-/term-bounded broadcasts, scoring is one scan)
    val isTarget = col("doc_id") % 20 < 2 // ~10% of docs as target
    t0 = System.nanoTime()
    val nDsir = operators.Dsir.select(docs, col("doc_id"), col("text"),
      isTarget, buckets = 4096, k = 1000).count()
    val tDsir = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nBm25 = operators.Retrieval.bm25TopK(docs, col("doc_id"),
      col("text"), Seq("spark", "join", "scan"), k = 1000).count()
    val tBm25 = (System.nanoTime() - t0) / 1e9
    println(f"dsir_sel=$nDsir dsir_sec=$tDsir%.1f " +
      f"bm25_sel=$nBm25 bm25_sec=$tBm25%.1f")

    // round 8: triangle counting under a hub — the degree-orientation
    // claim made concrete. Lineitem folded to 50k nodes (~600k edges)
    // plus one artificial hub adjacent to EVERY node. Wedge count is
    // the whole cost model (Σ C(outdeg,2) candidate pairs); orienting
    // by raw id hands the hub (id -1, lowest) outdegree 50k ⇒ ~1.25e9
    // wedges from one node, while (deg,id) orientation gives the hub
    // outdegree 0 and bounds every node's outdegree near √m. Both
    // wedge counts are computed as pure aggregates (no join), then the
    // real operator runs end-to-end on the oriented path.
    val li = Tables.lineitem(spark, sfDir)
    val rawE = li.select((col("l_orderkey") % 50000).as("u"),
        (col("l_partkey") % 50000).as("v"))
      .unionByName(li.select(lit(-1L).as("u"),
        (col("l_partkey") % 50000).as("v")).distinct())
    val und = rawE.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("p"),
        greatest(col("u"), col("v")).as("q")).distinct().persist()
    val nEdges = und.count()
    def wedgeSum(out: org.apache.spark.sql.DataFrame): Long =
      out.groupBy(col("o")).agg(count(lit(1)).as("d"))
        .agg(sum(expr("d * (d - 1) div 2"))).collect().head.getLong(0)
    val wById = wedgeSum(und.select(col("p").as("o"))) // id asc: p is src
    val degT = und.select(col("p").as("node"))
      .union(und.select(col("q").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val wByDeg = wedgeSum(und
      .join(degT.select(col("node").as("p"), col("deg").as("dp")), Seq("p"))
      .join(degT.select(col("node").as("q"), col("deg").as("dq")), Seq("q"))
      .select(when(struct(col("dp"), col("p")) < struct(col("dq"), col("q")),
        col("p")).otherwise(col("q")).as("o")))
    t0 = System.nanoTime()
    val nTriNodes = operators.Graph.triangleCounts(
      rawE, col("u"), col("v")).count()
    val tTri = (System.nanoTime() - t0) / 1e9
    println(f"triangles edges=$nEdges wedges_id_orient=$wById " +
      f"wedges_deg_orient=$wByDeg nodes_with_tri=$nTriNodes " +
      f"count_sec=$tTri%.1f")
    und.unpersist()

    // round 11: new-operator probes at inflated row counts.
    // (a) DDSketch histogram over 6M values (10x lineitem prices):
    //     sketch size must stay a few hundred buckets no matter n.
    val prices = li.crossJoin(spark.range(10))
      .select((col("l_extendedprice") * (col("id") + 1)).as("v"))
    t0 = System.nanoTime()
    val hist = operators.Quantiles.ddHistogram(prices, col("v"), 0.02)
      .persist()
    val nBuckets = hist.count()
    val nVals = prices.count()
    val tDd = (System.nanoTime() - t0) / 1e9
    hist.unpersist()
    // (b) skew report over the same 6M rows / 50k keys: one combinable
    //     groupBy + top-k, sub-second at any key cardinality.
    t0 = System.nanoTime()
    val skew = operators.Scale.keySkewReport(
      li.crossJoin(spark.range(10)),
      col("l_partkey") % 50000, topK = 10).collect()
    val tSkew = (System.nanoTime() - t0) / 1e9
    // (c) drift over 1M events (10x): two groupBys, category-sized out.
    val ev10 = Tables.events(spark, sfDir).crossJoin(spark.range(10))
      .select(col("event_type"), (col("user_id") % 2 === 0).as("is_base"))
    t0 = System.nanoTime()
    val nDrift = operators.Drift.categoryDrift(
      ev10, col("event_type"), col("is_base")).count()
    val tDrift = (System.nanoTime() - t0) / 1e9
    println(f"r11 ddsketch n=$nVals buckets=$nBuckets sec=$tDd%.1f | " +
      f"skew top=${skew.length} sec=$tSkew%.1f | " +
      f"drift cats=$nDrift sec=$tDrift%.1f")

    // (d) native vs compositional AS-OF at 10x events (1M rows):
    //     the native exec shuffles each side once and streams a
    //     forward-only merge; the compositional form unions both
    //     sides and runs a window over the combined stream. Probes
    //     the claimed advantage instead of asserting it.
    val ev10b = Tables.events(spark, sfDir).crossJoin(
        spark.range(10).select(col("id").as("rep")))
      .select((col("event_id") * 10 + col("rep")).as("event_id"),
        (col("user_id") * 10 + col("rep")).as("user_id"), col("ts_us"))
    val probeL = ev10b.filter(col("event_id") % 5 =!= 0)
    val probeR = ev10b.filter(col("event_id") % 5 === 0)
      .groupBy(col("user_id").as("ruid"), col("ts_us").as("mark_ts"))
      .agg(count(lit(1)).as("mark_n"))
    t0 = System.nanoTime()
    val nNative = plans.AsOfNative.asofJoin(probeL, probeR,
      Seq("user_id" -> "ruid"), "ts_us", "mark_ts").count()
    val tNative = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nComposed = operators.Timeline.asofJoin(probeL,
      probeR.withColumnRenamed("ruid", "user_id"),
      Seq("user_id"), leftTs = "ts_us", rightTs = "mark_ts").count()
    val tComposed = (System.nanoTime() - t0) / 1e9
    println(f"r11b asof 1M rows: native n=$nNative sec=$tNative%.1f | " +
      f"composed n=$nComposed sec=$tComposed%.1f")

    // round 11c: (e) BPE training at 5x docs (25k docs at sf0.1): after the
    //     single word-frequency shuffle, each of the 8 merge rounds
    //     runs on the vocab table only — per-round cost must be flat
    //     in corpus size (the vocab here is tiny, so rounds are
    //     dominated by fixed job overhead; the probe records both).
    val docs50 = Tables.documents(spark, sfDir).crossJoin(
        spark.range(5).select(col("id").as("rep")))
      .select((col("doc_id") * 5 + col("rep")).as("doc_id"), col("text"))
    t0 = System.nanoTime()
    val wf = operators.BpeTrain.wordFreq(docs50, "text").count()
    val tWf = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nMerges = operators.BpeTrain
      .trainMerges(docs50, "text", 8).count()
    val tBpe = (System.nanoTime() - t0) / 1e9
    // (f) data-skipping manifest on 6M rows / 64 files: manifest build
    //     is one scan-local groupBy (64 rows shuffled); the pruned
    //     read must touch ~2/64 files for a narrow key range.
    val skipDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_probe_skip").getAbsolutePath
    li.crossJoin(spark.range(10).select(col("id").as("rep")))
      .withColumn("k", col("l_orderkey") * 10 + col("rep"))
      .repartitionByRange(64, col("k"))
      .write.mode("overwrite").parquet(skipDir)
    t0 = System.nanoTime()
    val man = sources.StatsManifest
      .build(spark.read.parquet(skipDir), Seq("k")).localCheckpoint()
    val nFilesAll = man.count()
    val tMan = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val keptF = sources.StatsManifest.prunedFiles(man, "k", 5000, 15000)
    val nPruned = sources.StatsManifest
      .readPruned(spark, man, "k", 5000, 15000).count()
    val tPruned = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nFull = spark.read.parquet(skipDir)
      .filter(col("k").between(5000, 15000)).count()
    val tFull = (System.nanoTime() - t0) / 1e9
    println(f"r11c bpe 25k docs: vocab=$wf freq_sec=$tWf%.1f " +
      f"merges=$nMerges train_sec=$tBpe%.1f | skipping 6M rows: " +
      f"files=$nFilesAll manifest_sec=$tMan%.1f kept=${keptF.length} " +
      f"pruned_read n=$nPruned sec=$tPruned%.1f full_scan sec=$tFull%.1f")

    // round 11d: (g) MERGE INTO at 1.5M target rows / 150k-row source
    //     delta: one full-outer shuffle of each side on the key.
    val ord = Tables.orders(spark, sfDir)
    val tgt = ord.crossJoin(spark.range(10).select(col("id").as("rep")))
      .select((col("o_orderkey") * 10 + col("rep")).as("k"),
        col("o_custkey"), col("o_totalprice"))
    val srcDelta = tgt.filter(col("k") % 10 === 0)
      .select(col("k"), col("o_custkey"),
        (col("o_totalprice") + 1.0).as("o_totalprice"))
    t0 = System.nanoTime()
    val nMerged = operators.Merge.mergeInto(tgt, srcDelta, "k",
      updateOnMatch = Seq(
        "o_totalprice" -> operators.Merge.src("o_totalprice"))).count()
    val tMerge = (System.nanoTime() - t0) / 1e9
    // (h) incremental join maintenance at the same scale: three
    //     broadcast delta joins vs rejoining history.
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val oBase = tgt.filter(col("k") % 10 =!= 0)
      .withColumnRenamed("o_custkey", "c_custkey")
    val oDelta = tgt.filter(col("k") % 10 === 0)
      .withColumnRenamed("o_custkey", "c_custkey")
    val mat = oBase.join(cust, "c_custkey").localCheckpoint()
    t0 = System.nanoTime()
    val nIvm = operators.Incremental.joinDelta(mat, oBase, oDelta,
      cust, cust.limit(0), "c_custkey").count()
    val tIvm = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nFullJoin = oBase.unionByName(oDelta).join(cust, "c_custkey").count()
    val tFullJoin = (System.nanoTime() - t0) / 1e9
    // (i) table checksum over 6M rows: map-side-combinable bit_xor.
    t0 = System.nanoTime()
    val ck = operators.Checks.tableChecksum(
      li.crossJoin(spark.range(10)),
      Seq(col("l_orderkey"), col("l_linenumber"), col("id"))).collect()
    val tCk = (System.nanoTime() - t0) / 1e9
    println(f"r11d merge 1.5M n=$nMerged sec=$tMerge%.1f | " +
      f"ivm n=$nIvm sec=$tIvm%.1f vs full-rejoin n=$nFullJoin " +
      f"sec=$tFullJoin%.1f | checksum 6M rows n=${ck(0).getLong(1)} " +
      f"sec=$tCk%.1f")

    // round 12: (j) BPE merge-learning must be FLAT in corpus size
    //     when learning on the bounded sample: 1x (5k docs) vs 20x
    //     (100k docs), both sampled to 5000 docs — the only
    //     corpus-size-dependent work is the TakeOrdered sample pass.
    val docs1x = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    def timeBpe(d: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val s = System.nanoTime()
      val n = operators.BpeTrain
        .trainMerges(d, "text", 8, sampleMaxDocs = 5000).count()
      (n, (System.nanoTime() - s) / 1e9)
    }
    val (m1, tBpe1) = timeBpe(docs1x)
    val (m20, tBpe20) = timeBpe(docs) // the 20x corpus from the top
    println(f"r12 bpe sampled-5k: 1x(5k docs) merges=$m1 sec=$tBpe1%.1f | " +
      f"20x(100k docs) merges=$m20 sec=$tBpe20%.1f " +
      f"ratio=${tBpe20 / tBpe1}%.2fx (flat => ~1x)")

    // round 12: (k) MV rewrite at 20x lineitem (12M rows): the rollup
    //     MV is built once; a matching aggregate query must answer
    //     from the stored MV (group-cardinality rows) instead of the
    //     12M-row base — the probe records the rewrite-hit delta.
    // the MV contract requires the definition to aggregate directly
    // over a file scan (that is what the rewrite rule matches), so the
    // 20x base is materialized to parquet first
    val li20Path = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_probe_li20").getAbsolutePath
    li.crossJoin(spark.range(20).select(col("id").as("rep")))
      .select((col("l_suppkey") * 20 + col("rep")).as("l_suppkey"),
        col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .write.mode("overwrite").parquet(li20Path)
    val li20 = spark.read.parquet(li20Path)
    val mvProbePath = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_probe_mv").getAbsolutePath
    val mvDefn = li20.groupBy(col("l_suppkey"), col("l_returnflag"))
      .agg(sum(graft.functions.cents(col("l_extendedprice")))
          .as("sum_price_c"),
        count(lit(1)).as("cnt"))
    t0 = System.nanoTime()
    mvDefn.write.mode("overwrite").parquet(mvProbePath)
    val tMvBuild = (System.nanoTime() - t0) / 1e9
    plans.MvRewrite.clear()
    plans.MvRewrite.register("probe_li20_rollup", mvDefn,
      spark.read.parquet(mvProbePath))
    plans.MvRewrite.install(spark)
    def mvQuery() = li20.groupBy(col("l_returnflag"))
      .agg(sum(graft.functions.cents(col("l_extendedprice")))
          .as("sum_price_c"),
        count(lit(1)).as("cnt"))
    t0 = System.nanoTime()
    val hitRows = mvQuery().collect().length
    val tMvHit = (System.nanoTime() - t0) / 1e9
    val hitScans = plans.MvRewrite.scanPaths(
      mvQuery().queryExecution.optimizedPlan)
    require(hitScans.exists(_.contains("graft_probe_mv")),
      s"MV rewrite did not fire at 20x; scans=$hitScans")
    plans.MvRewrite.clear()
    t0 = System.nanoTime()
    val missRows = mvQuery().collect().length
    val tMvMiss = (System.nanoTime() - t0) / 1e9
    require(hitRows == missRows,
      s"MV rewrite changed the result: $hitRows vs $missRows")
    println(f"r12 mv 12M rows: build_sec=$tMvBuild%.1f " +
      f"hit_sec=$tMvHit%.2f miss_sec=$tMvMiss%.2f " +
      f"speedup=${tMvMiss / tMvHit}%.1fx rows=$hitRows")

    // round 12: (l) native AS-OF at 20x events (2M rows): re-probes
    //     the custom exec (one shuffle per side + forward-only merge)
    //     against the compositional union+window form at double the
    //     r11 scale — the gap should WIDEN with size if the exec's
    //     claim holds.
    val ev20 = Tables.events(spark, sfDir).crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("event_id") * 20 + col("rep")).as("event_id"),
        (col("user_id") * 20 + col("rep")).as("user_id"), col("ts_us"))
    val probeL20 = ev20.filter(col("event_id") % 5 =!= 0)
    val probeR20 = ev20.filter(col("event_id") % 5 === 0)
      .groupBy(col("user_id").as("ruid"), col("ts_us").as("mark_ts"))
      .agg(count(lit(1)).as("mark_n"))
    t0 = System.nanoTime()
    val nNative20 = plans.AsOfNative.asofJoin(probeL20, probeR20,
      Seq("user_id" -> "ruid"), "ts_us", "mark_ts").count()
    val tNative20 = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val nComposed20 = operators.Timeline.asofJoin(probeL20,
      probeR20.withColumnRenamed("ruid", "user_id"),
      Seq("user_id"), leftTs = "ts_us", rightTs = "mark_ts").count()
    val tComposed20 = (System.nanoTime() - t0) / 1e9
    require(nNative20 == nComposed20,
      s"asof paths disagree at 20x: $nNative20 vs $nComposed20")
    println(f"r12 asof 2M rows: native n=$nNative20 sec=$tNative20%.1f | " +
      f"composed n=$nComposed20 sec=$tComposed20%.1f " +
      f"speedup=${tComposed20 / tNative20}%.2fx")

    // round 13: (m) scale-correct global ntile at 20x events (2M
    //     rows): Ranks.globalNtile must equal the single-task ntile
    //     window BIT-FOR-BIT at this size — the rewrite moves the
    //     plan from one funnel task to range-sharded parallelism
    //     without moving a single rank.
    val evN = Tables.events(spark, sfDir).crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("event_id") * 20 + col("rep")).as("eid"), col("ts_us"))
    t0 = System.nanoTime()
    val shardedT = operators.Ranks.globalNtile(evN, 100,
        Seq(col("ts_us").asc, col("eid").asc), "t")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), min(col("eid")).as("lo"))
      .orderBy(col("t")).collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)))
    val tShard = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val windowT = evN.withColumn("t", ntile(100).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ts_us").asc, col("eid").asc)))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("n"), min(col("eid")).as("lo"))
      .orderBy(col("t")).collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2)))
    val tWin = (System.nanoTime() - t0) / 1e9
    require(shardedT == windowT,
      "globalNtile disagrees with the window ntile at 2M rows")
    println(f"r13 globalNtile 2M rows x100 tiles: sharded=$tShard%.1fs " +
      f"window(single-task)=$tWin%.1fs identical=${shardedT == windowT}")

    // round 13: (n) sparse JL projection at 20x embeddings (100k
    //     vectors x 64 dims -> 16): map-only exact integers, so every
    //     replica must project identically — the 20x checksum is
    //     exactly 20x the base checksum; records throughput.
    val emBase = Tables.embeddings(spark, sfDir)
    val baseChk = operators.Similarity.randomProjectSparse(emBase, 16)
      .agg(sum(col("proj_q"))).collect()(0).getLong(0)
    val em20 = emBase.crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("vec_id") * 20 + col("rep")).as("vec_id"),
        col("embedding"))
    t0 = System.nanoTime()
    val agg20 = operators.Similarity.randomProjectSparse(em20, 16)
      .agg(sum(col("proj_q")).as("s"), count(lit(1)).as("n"))
      .collect()(0)
    val tRp = (System.nanoTime() - t0) / 1e9
    require(agg20.getLong(0) == 20L * baseChk,
      s"JL checksum not 20x base: ${agg20.getLong(0)} vs 20*$baseChk")
    println(f"r13 JL projection ${agg20.getLong(1)} rows out " +
      f"(100k vecs x16 dims): $tRp%.1fs, checksum exact at 20x")

    // round 13: (o) 2-D skyline at 50x part (≈1M points). Replication
    //     preserves the frontier POINT SET exactly (duplicates never
    //     dominate each other) and multiplies every survivor's cnt by
    //     50 — both asserted, so the sharded prefix-max sweep is
    //     proven boundary-invariant at scale, not just in the spec.
    val partBase = Tables.part(spark, sfDir)
    val skyBase = operators.Skyline.skyline2d(partBase,
        expr("CAST(round(p_retailprice*100) AS BIGINT)"),
        col("p_size"), shards = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val part50 = partBase.crossJoin(
      spark.range(50).select(col("id").as("rep")))
    t0 = System.nanoTime()
    val sky50 = operators.Skyline.skyline2d(part50,
        expr("CAST(round(p_retailprice*100) AS BIGINT)"),
        col("p_size"), shards = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val tSky = (System.nanoTime() - t0) / 1e9
    require(sky50 == skyBase.map { case (k, c) => k -> c * 50 },
      "skyline at 50x is not the base frontier with 50x counts")
    println(f"r13 skyline 50x part (${sky50.size} frontier pts): " +
      f"$tSky%.1fs, frontier identical, counts exactly 50x")

    // round 13: (p) interval sweep at 20x events with disjoint user
    //     spaces per replica: per-group results must equal the base
    //     run's groups replica by replica (asserted via totals).
    val evBase = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && col("value") > 0)
      .select(col("user_id"), unix_micros(col("ts")).as("s_us"),
        (unix_micros(col("ts")) +
          expr("CAST(round(value*1000000) AS BIGINT)")).as("e_us"))
    val sweepBase = operators.Timeline.intervalSweep(evBase,
        col("user_id"), col("s_us"), col("e_us"))
      .agg(sum(col("covered")).as("cov"), count(lit(1)).as("n"),
        sum(col("max_concurrent")).as("mx")).collect()(0)
    val evRep20 = evBase.crossJoin(
        spark.range(20).select(col("id").as("rep")))
      .select((col("user_id") + col("rep") * 10000000L).as("user_id"),
        col("s_us"), col("e_us"))
    t0 = System.nanoTime()
    val sweep20 = operators.Timeline.intervalSweep(evRep20,
        col("user_id"), col("s_us"), col("e_us"))
      .agg(sum(col("covered")).as("cov"), count(lit(1)).as("n"),
        sum(col("max_concurrent")).as("mx")).collect()(0)
    val tSweep = (System.nanoTime() - t0) / 1e9
    require(sweep20.getLong(0) == 20L * sweepBase.getLong(0) &&
      sweep20.getLong(1) == 20L * sweepBase.getLong(1) &&
      sweep20.getLong(2) == 20L * sweepBase.getLong(2),
      "interval sweep at 20x does not equal 20 disjoint base copies")
    println(f"r13 intervalSweep 20x events (${sweep20.getLong(1)} " +
      f"groups): $tSweep%.1fs, per-group results exact")

    spark.stop()
  }
}
