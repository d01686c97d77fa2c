package graft.apps

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, LanguageModel, Sampling}
import graft.functions.TextFunctions
import graft.plans.Materialize

/** LLM-pretraining data-pipeline capstone: the composition every real
  * pretraining run executes, chained from already-oracle-checked
  * operators —
  *
  *   exact dedup → LSH near-dup collapse → benchmark-contamination
  *   filter → stratified domain sampling → sequence packing
  *
  * with a per-stage manifest of drop reasons (stage, reason, n_in,
  * n_dropped, n_out) — the artifact a data run ships alongside its
  * output so every dropped document is accounted for.
  *
  * Scale shape: every stage is a narrow filter or an already-bucketed
  * operator (no new shuffles beyond what each operator needs);
  * survivors flow via anti joins on small drop sets, which AQE plans
  * as broadcast joins. [[run]] materializes the manifest with ONE
  * action: each document is tagged with the first stage that drops it
  * (`observe()` aggregates on the tagging spine count every reason in
  * the same pass that materializes the kept set) — no per-stage count
  * jobs, which is also the 100 TB shape.
  */
object PretrainDataPipeline {

  /** The STAGE-1 (exact dedup) survivor frame [[kept]] (v1) and
    * [[keptV2Packed]] (v2) share when both run over the same corpus;
    * in cache mode the first composite materializes it once and the
    * second reads the artifact (see [[graft.plans.Materialize]]). */
  private def preMat(df: DataFrame): DataFrame = Materialize.shared(df)

  /** Tuning knobs, defaulted to the values the stage-level oracle
    * queries (q_dedup_minhash/cluster, q_contamination,
    * q_sample_stratified, q_pack_sequences_global) pin down.
    * `prefixTokens = 0` means stage-1 exact dedup fingerprints the FULL
    * normalized text — a prefix fingerprint is a recall heuristic, not
    * exact dedup, and would silently swallow the near-dup stage. */
  final case class Config(
      prefixTokens: Int = 0,
      shingleN: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      nearDupThreshold: Double = 0.5,
      contamMinShared: Int = 2,
      rates: Map[String, Double] =
        Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.25),
      defaultRate: Double = 0.1,
      salt: String = "mix1",
      packBudget: Long = 4096L,
      packShardSize: Long = 100L)

  /** Stage-1 drop set: every non-canonical id under the exact
    * (full-normalized-text by default) fingerprint. */
  def droppedByExactDedup(corpus: DataFrame, cfg: Config): DataFrame =
    Dedup.exactCanonical(corpus, col("text"), col("doc_id"), cfg.prefixTokens)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select("doc_id")

  /** Stage 1: exact dedup — keep each fingerprint's min-id canonical.
    *
    * Streaming twin: an INCREMENTAL ingest runs
    * [[graft.streaming.StreamingDedupTtl.firstSeen]] at the edge —
    * the same normalized-text fingerprint, TTL-bounded RocksDB state
    * (endurance-probed at 100k keys: state 100k → 0 after expiry
    * with zero input, full re-admission after; see DEVNOTES round 14,
    * "StreamingDedupTtl endurance") — then this batch stage provides
    * the global exact pass over the accumulated corpus, as the
    * operator's scaladoc prescribes. */
  def afterExactDedup(corpus: DataFrame, cfg: Config): DataFrame =
    corpus.join(droppedByExactDedup(corpus, cfg), Seq("doc_id"), "left_anti")

  /** Stage-2 drop set: LSH candidate pairs, exact-Jaccard verify,
    * cluster collapse; everything but each cluster's min id. */
  def droppedByNearDedup(survivors: DataFrame, cfg: Config): DataFrame = {
    val pairs = Dedup.minhashLshPairs(survivors, col("text"), col("doc_id"),
      cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.nearDupThreshold)
    Dedup.canonicalizeClusters(pairs.select(col("ia"), col("ib")))
      .filter(col("canonical_id") =!= col("doc_id"))
      .select("doc_id")
  }

  /** Stage 2: near-dup collapse — only each cluster's min-id survives. */
  def afterNearDedup(survivors: DataFrame, cfg: Config): DataFrame =
    survivors.join(droppedByNearDedup(survivors, cfg),
      Seq("doc_id"), "left_anti")

  /** Stage-3 drop set: docs sharing >= minShared n-gram shingles with
    * any benchmark doc (benchmark side broadcasts). */
  def droppedByContamination(survivors: DataFrame, bench: DataFrame,
                             cfg: Config): DataFrame =
    Dedup.contamination(survivors, bench,
        col("text"), col("doc_id"), col("text"), col("doc_id"),
        cfg.shingleN, cfg.contamMinShared)
      .select("doc_id")

  /** Stage 3: contamination filter. */
  def afterDecontamination(survivors: DataFrame, bench: DataFrame,
                           cfg: Config): DataFrame =
    survivors.join(droppedByContamination(survivors, bench, cfg),
      Seq("doc_id"), "left_anti")

  /** Stage-4 keep predicate (pure, row-local, deterministic). */
  def sampleKeep(cfg: Config): Column =
    Sampling.keepPredicate(col("lang"), col("doc_id"),
      cfg.rates, cfg.defaultRate, cfg.salt)

  /** Stage 4: deterministic stratified sampling by language. */
  def afterSampling(survivors: DataFrame, cfg: Config): DataFrame =
    survivors.filter(sampleKeep(cfg))

  /** The full lazy filter composition: corpus in, kept documents out.
    * No actions — this is the oracle-checked query shape. */
  def kept(corpus: DataFrame, bench: DataFrame,
           cfg: Config = Config()): DataFrame =
    afterSampling(
      afterDecontamination(
        afterNearDedup(preMat(afterExactDedup(corpus, cfg)), cfg),
        bench, cfg), cfg)

  /** Convention used by the oracle queries: docs whose id is divisible
    * by `benchModulus` act as the held-out benchmark/eval set, the rest
    * are the training corpus. */
  def splitBench(docs: DataFrame,
                 benchModulus: Long = 97L): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % benchModulus =!= 0),
      docs.filter(col("doc_id") % benchModulus === 0))

  final case class StageRow(stage: String, reason: String,
                            n_in: Long, n_dropped: Long, n_out: Long)

  final case class Result(kept: DataFrame, packed: DataFrame,
                          manifest: Seq[StageRow])

  /** Materializing run: tags every corpus document with the FIRST stage
    * that drops it, materializes the kept set, and reads the full
    * manifest from `observe()` metrics on that single action. The tiny
    * per-stage drop sets are the only persisted intermediates; the
    * corpus streams through the tagging spine once.
    *
    * Optionally writes kept/packed parquet plus `manifest.json` under
    * `outDir`. */
  def run(docs: DataFrame, cfg: Config = Config(),
          benchModulus: Long = 97L,
          outDir: Option[String] = None): Result = {
    val (corpus, bench) = splitBench(docs, benchModulus)
    // Drop sets chain exactly like the lazy composition: each stage's
    // operator runs over the survivors of the previous stages.
    val d1 = droppedByExactDedup(corpus, cfg).persist()
    val s1 = corpus.join(d1, Seq("doc_id"), "left_anti")
    val d2 = droppedByNearDedup(s1, cfg).persist()
    val s2 = s1.join(d2, Seq("doc_id"), "left_anti")
    val d3 = droppedByContamination(s2, bench, cfg).persist()
    val tagged = corpus
      .join(d1.withColumn("__d1", lit(true)), Seq("doc_id"), "left")
      .join(d2.withColumn("__d2", lit(true)), Seq("doc_id"), "left")
      .join(d3.withColumn("__d3", lit(true)), Seq("doc_id"), "left")
      .withColumn("__stage",
        when(col("__d1"), "exact_dup")
          .when(col("__d2"), "near_dup")
          .when(col("__d3"), "contaminated")
          .when(not(sampleKeep(cfg)), "sample_out")
          .otherwise("kept"))
    val obs = Observation("pretrain_manifest")
    val observed = tagged.observe(obs,
      count(lit(1)).as("n0"),
      sum(when(col("__stage") === "exact_dup", 1L).otherwise(0L))
        .as("d_exact"),
      sum(when(col("__stage") === "near_dup", 1L).otherwise(0L))
        .as("d_near"),
      sum(when(col("__stage") === "contaminated", 1L).otherwise(0L))
        .as("d_contam"),
      sum(when(col("__stage") === "sample_out", 1L).otherwise(0L))
        .as("d_sample"))
    val keptDf = observed.filter(col("__stage") === "kept")
      .drop("__d1", "__d2", "__d3", "__stage")
      .persist()
    keptDf.count() // the ONE manifest action: fills cache + fires observe
    val m = obs.get
    def metric(name: String): Long = m(name).asInstanceOf[Long]
    val n0 = metric("n0")
    val (dE, dN, dC, dS) = (metric("d_exact"), metric("d_near"),
      metric("d_contam"), metric("d_sample"))
    val (n1, n2, n3) = (n0 - dE, n0 - dE - dN, n0 - dE - dN - dC)
    val n4 = n3 - dS
    val packed = Sampling.packSequencesGlobal(keptDf, col("doc_id"),
      col("n_chars"), cfg.packBudget, cfg.packShardSize)
    val manifest = Seq(
      StageRow("exact_dedup", "exact_dup", n0, dE, n1),
      StageRow("near_dedup", "near_dup", n1, dN, n2),
      StageRow("decontamination", "contaminated", n2, dC, n3),
      StageRow("stratified_sample", "sample_out", n3, dS, n4),
      StageRow("pack_sequences", "none", n4, 0L, n4))
    outDir.foreach { dir =>
      keptDf.write.mode("overwrite").parquet(s"$dir/kept.parquet")
      packed.write.mode("overwrite").parquet(s"$dir/packed.parquet")
      val json = manifest.map(r =>
        s"""{"stage":"${r.stage}","reason":"${r.reason}","n_in":${r.n_in},""" +
          s""""n_dropped":${r.n_dropped},"n_out":${r.n_out}}""")
        .mkString("[", ",", "]")
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/manifest.json"), json)
    }
    Seq(d1, d2, d3).foreach(_.unpersist())
    Result(keptDf, packed, manifest)
  }

  // ================================================================ v2
  // The full modern pretraining recipe, composed from the same
  // oracle-checked stage operators:
  //   exact dedup → line-level dedup (boilerplate) → MinHash-LSH
  //   near-dup collapse → duplicated-gram gate → Gopher gate →
  //   decontamination → per-language LM-score percentile cutoff →
  //   temperature mix → deterministic shuffle order → sequence packing.
  // Every gate after line dedup runs on the CLEANED text (the line pass
  // rewrites documents; scoring boilerplate would score text the model
  // never trains on). The bench side stays raw — the eval set is not
  // cleaned.

  /** v2 knobs. Gate thresholds are the published heuristics (Gopher
    * thresholds inside [[TextFunctions.gopherScala]]; RefinedWeb-style
    * dup-gram 0.3); the LM gate drops each language's bottom
    * `lmCutoffP` quantile instead of a fixed score. */
  final case class ConfigV2(
      lineMaxDocFreq: Int = 2,
      shingleN: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 3,
      nearDupThreshold: Double = 0.5,
      dupGramN: Int = 5,
      dupGramMinDocs: Int = 2,
      dupGramThreshold: Double = 0.3,
      contamMinShared: Int = 2,
      lmCutoffP: Double = 0.1,
      mixTarget: Long = 200L,
      mixAlpha: Double = 0.5,
      mixSalt: String = "v2mix",
      shuffleSalt: String = "v2shuf",
      packBudget: Long = 4096L,
      packShardSize: Long = 100L)

  /** Stage 2 core: line dedup over stage-1 survivors, keeping the
    * cleaned text alongside the carried columns. One row per input doc
    * (n_kept = 0 marks an all-boilerplate document). */
  def v2LineClean(s1: DataFrame, cfg: ConfigV2): DataFrame =
    s1.join(
      Dedup.dedupLines(s1, col("text"), col("doc_id"), cfg.lineMaxDocFreq)
        .select(col("doc_id"), col("clean_text"), col("n_kept")),
      Seq("doc_id"))

  /** Stage-3 drop set: LSH near-dup cluster collapse on cleaned text. */
  def v2DroppedByNearDedup(s2: DataFrame, cfg: ConfigV2): DataFrame =
    Dedup.canonicalizeClusters(
        Dedup.minhashLshPairs(s2, col("clean_text"), col("doc_id"),
          cfg.shingleN, cfg.bands, cfg.rowsPerBand, cfg.nearDupThreshold)
          .select(col("ia"), col("ib")))
      .filter(col("canonical_id") =!= col("doc_id"))
      .select("doc_id")

  /** [[v2DroppedByNearDedup]] over a PRECOMPUTED shingle frame — the
    * composed pipeline shingles the cleaned corpus ONCE and shares it
    * with the decontamination stage (same shingleN), instead of
    * re-tokenizing per stage. */
  def v2DroppedByNearDedupSh(sh: DataFrame, cfg: ConfigV2): DataFrame =
    Dedup.canonicalizeClusters(
        Dedup.minhashLshPairsFromShingles(sh, cfg.bands, cfg.rowsPerBand,
          cfg.nearDupThreshold)
          .select(col("ia"), col("ib")))
      .filter(col("canonical_id") =!= col("doc_id"))
      .select("doc_id")

  /** Stage-4 drop set: documents whose duplicated-`dupGramN`-gram
    * fraction exceeds the threshold (docs too short to have grams are
    * unscored and survive). */
  def v2DroppedByDupGrams(s3: DataFrame, cfg: ConfigV2): DataFrame =
    Dedup.duplicatedGramFraction(s3, col("clean_text"), col("doc_id"),
        cfg.dupGramN, cfg.dupGramMinDocs, cfg.dupGramThreshold)
      .filter(col("flagged"))
      .select("doc_id")

  /** Stage-5 keep predicate: Gopher repetition/composition gate on the
    * cleaned text (documents under 2 tokens fail). */
  def v2GopherPasses: Column =
    TextFunctions.gopherUdf(col("clean_text")).getField("_4")

  /** Stage-6 drop set: ≥ contamMinShared shared shingles with the RAW
    * bench text (the eval set is not line-cleaned). */
  def v2DroppedByContamination(s5: DataFrame, bench: DataFrame,
                               cfg: ConfigV2): DataFrame =
    Dedup.contamination(s5, bench,
        col("clean_text"), col("doc_id"), col("text"), col("doc_id"),
        cfg.shingleN, cfg.contamMinShared)
      .select("doc_id")

  /** [[v2DroppedByContamination]] over the SHARED cleaned-corpus
    * shingle frame (restricted to stage-5 survivors by the caller);
    * only the bench side still tokenizes — on its raw text, as the
    * stage contract requires. */
  def v2DroppedByContaminationSh(docSh: DataFrame, bench: DataFrame,
                                 cfg: ConfigV2): DataFrame =
    Dedup.contaminationFromShingles(docSh,
        Dedup.shingleSets(bench, col("text"), col("doc_id"),
          cfg.shingleN),
        cfg.contamMinShared)
      .select("doc_id")

  /** Stage-7 keep set: corpus-LM bigram score (exact integer
    * micro-probs), keep docs at or above their language's `lmCutoffP`
    * percentile-disc cutoff. Every stage-6 survivor has ≥ 2 tokens
    * (the Gopher gate dropped shorter docs), so all are scored. */
  def v2LmKeepIds(s6: DataFrame, cfg: ConfigV2): DataFrame = {
    val scored = LanguageModel
      .scoreDocs(s6, col("clean_text"), col("doc_id"))
      .join(s6.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("score",
        col("sum_micro").cast("double") / col("n_bigrams"))
    val cuts = Sampling.percentileCutoffs(scored, col("lang"),
      col("score"), col("doc_id"), Seq(cfg.lmCutoffP))
    scored.join(broadcast(cuts), scored("lang") === cuts("grp"))
      .filter(col("score") >= col("cutoff"))
      .select("doc_id")
  }

  /** Stage 9: deterministic shuffle order, then pack the shuffled
    * stream into `packBudget`-sized bins (documents straddle bin
    * boundaries; packing follows SHUFFLE order, not id order — the
    * layout a training run actually consumes). Cost = cleaned length,
    * clamped to ≥ 1 (packSequences forbids zero-cost rows). */
  def v2ShuffleAndPack(s8: DataFrame, cfg: ConfigV2): DataFrame = {
    val sh = Sampling.shuffleOrder(s8, col("doc_id"), cfg.shuffleSalt)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val packed = Sampling.packSequencesGlobal(
        sh.select(col("shuffle_pos"),
          greatest(length(col("clean_text")).cast(LongType), lit(1L))
            .as("__cost")),
        col("shuffle_pos"), col("__cost"),
        cfg.packBudget, cfg.packShardSize)
      .withColumnRenamed("doc_id", "shuffle_pos")
    packed
      .join(sh.select(col("doc_id"), col("lang"), col("source"),
        col("shuffle_pos")), Seq("shuffle_pos"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("shuffle_pos"), col("cost"),
        col("first_bin"), col("last_bin"), col("bin_offset"))
  }

  /** The full v2 composition, corpus in → packed layout out: one row
    * per kept document with its shuffle position and bin placement.
    * This is the oracle-checked query shape (`q_pretrain_v2_kept`).
    *
    * Each stage's survivor set is persisted MEMORY_AND_DISK: stages
    * reference their input twice (gate computation + survivor join) and
    * several gates (LSH, connected components) are expensive to
    * recompute — the same stage-checkpoint discipline a 100 TB run uses
    * (there, parquet between stages; here, block storage). */
  def keptV2Packed(corpusRaw: DataFrame, bench: DataFrame,
                   cfg: ConfigV2 = ConfigV2(),
                   afterStage1: DataFrame => DataFrame = identity)
      : DataFrame = {
    // Lazy localCheckpoint, not persist: stages reference their input
    // several times AND the logical plan must be truncated per stage —
    // nine chained self-referencing stages otherwise compound into a
    // tree exponential in the stage count (plan stringification alone
    // OOMs). Same stage-checkpoint discipline a 100 TB run uses
    // (there, parquet between stages; here, block storage), paid only
    // when an action runs.
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)
    // Stage 1 runs on the UN-projected raw corpus so its frame
    // canonicalizes identically to [[kept]]'s stage 1 — that plan-key
    // equality is what lets the two composites share one materialized
    // survivor set through [[preMat]]. `afterStage1` is the
    // seam for synthetic augmentation (the registry's boilerplate
    // header injection) — applied AFTER exact dedup, where it belongs:
    // dedup keys on the source text, not on synthesized scaffolding.
    val s1full = preMat(afterExactDedup(corpusRaw,
      Config(prefixTokens = 0)))
    val s1 = pin(afterStage1(s1full).select(col("doc_id"), col("text"),
      col("lang"), col("source")))
    val s2 = pin(v2LineClean(s1, cfg)
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"), col("lang"), col("source")))
    // One shingling pass over the cleaned corpus, shared by the
    // near-dedup (s3) and decontamination (s6) stages — the same
    // shingleN feeds both, so re-tokenizing per stage is pure waste
    // at any scale (clean_text is immutable through s3-s5, so the
    // survivor semi-join below selects exactly the shingle sets the
    // per-stage operator would recompute).
    val sh2 = pin(Dedup.shingleSets(s2, col("clean_text"),
      col("doc_id"), cfg.shingleN))
    val s3 = pin(s2.join(v2DroppedByNearDedupSh(sh2, cfg),
      Seq("doc_id"), "left_anti"))
    // The Gopher gate (s5) is a row-local filter — folding it into
    // the dup-gram stage's pin saves one full materialization pass
    // over the survivors; the stage SEMANTICS stay separate (runV2's
    // manifest still attributes drops per stage).
    // Contamination is per-doc independent, so computing it over the
    // FULL shared shingle frame and anti-joining the survivors gives
    // the same s6 as restricting the shingles to s5 first — without
    // the survivor semi-join pass. And because all three gates here
    // (dup-gram set over s3, row-local Gopher, contamination set over
    // sh2) have FIXED statistics populations that do not depend on
    // each other's survivors, the dup-gram anti-join, the Gopher
    // filter and the contamination anti-join compose into ONE pinned
    // stage (r20, guide §2.4 "one fold instead of N"): the old
    // separate s5 pin paid a full block-storage materialization pass
    // over the survivor corpus whose only consumer was s6's
    // anti-join. Set-identical by construction — anti-join ∘ filter ∘
    // anti-join applied in either grouping selects the same rows.
    val s6 = pin(s3.join(v2DroppedByDupGrams(s3, cfg),
        Seq("doc_id"), "left_anti")
      .filter(v2GopherPasses)
      .join(v2DroppedByContaminationSh(sh2, bench, cfg),
        Seq("doc_id"), "left_anti"))
    val s7 = pin(s6.join(v2LmKeepIds(s6, cfg), Seq("doc_id"), "left_semi"))
    val s8 = Sampling.temperatureMix(s7, col("source"), col("doc_id"),
      cfg.mixTarget, cfg.mixAlpha, cfg.mixSalt)
    val out = v2ShuffleAndPack(s8, cfg)
    // Keep the pinned intermediates reachable for as long as the
    // returned frame lives. Lazy localCheckpoint severs the strong
    // path to each stage's QueryExecution, so after this function
    // returns, a mid-job GC clears their SQLMetric weak refs in
    // AccumulatorContext — and every late task completion from the
    // pinned stages then logs an ERROR-level "attempted to access
    // non-existent accumulator" DAGScheduler stack (benign to
    // results, but it polluted every bench tail since round 11;
    // a round-17 diagnosis attributed all 33 stacks of a full sf0.1
    // sweep to exactly this query). The weak-keyed map holds the stage frames
    // alive until the composed frame itself is collected.
    pinsAlive.put(out, Seq(s1, s2, sh2, s3, s6, s7))
    out
  }

  /** Weak-keyed registry backing the GC-lifetime coupling documented
    * in [[keptV2Packed]]: values (stage pins) stay strongly held
    * exactly while the composed frame (key) is reachable. */
  private val pinsAlive =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]())

  /** Materializing v2 run: tags every corpus document with the FIRST
    * stage that drops it and reads the 8-stage manifest from a single
    * `observe()` action, then lays out the kept set (shuffle + pack).
    * Same one-action manifest discipline as [[run]]. */
  def runV2(docs: DataFrame, cfg: ConfigV2 = ConfigV2(),
            benchModulus: Long = 97L,
            outDir: Option[String] = None): Result = {
    val (corpusAll, bench) = splitBench(docs, benchModulus)
    val corpus = corpusAll.select(col("doc_id"), col("text"),
      col("lang"), col("source"))
    // Lazy localCheckpoint per stage — see [[keptV2Packed]]: truncates
    // the otherwise-exponential chained plan and pins each stage's
    // result for its multiple downstream references.
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(false)
    val d1 = pin(droppedByExactDedup(corpus, Config(prefixTokens = 0)))
    val s1 = corpus.join(d1, Seq("doc_id"), "left_anti")
    val lined = pin(v2LineClean(s1, cfg))
    val d2 = pin(lined.filter(col("n_kept") <= 0).select("doc_id"))
    val s2 = pin(lined.filter(col("n_kept") > 0)
      .select(col("doc_id"), col("clean_text"), col("lang"), col("source")))
    val d3 = pin(v2DroppedByNearDedup(s2, cfg))
    val s3 = pin(s2.join(d3, Seq("doc_id"), "left_anti"))
    val d4 = pin(v2DroppedByDupGrams(s3, cfg))
    val s4 = pin(s3.join(d4, Seq("doc_id"), "left_anti"))
    val d5 = pin(s4.filter(!v2GopherPasses).select("doc_id"))
    val s5 = pin(s4.filter(v2GopherPasses))
    val d6 = pin(v2DroppedByContamination(s5, bench, cfg))
    val s6 = pin(s5.join(d6, Seq("doc_id"), "left_anti"))
    val d7 = pin(s6.join(v2LmKeepIds(s6, cfg), Seq("doc_id"), "left_anti")
      .select("doc_id"))
    val s7 = pin(s6.join(d7, Seq("doc_id"), "left_anti"))
    val s8 = Sampling.temperatureMix(s7, col("source"), col("doc_id"),
      cfg.mixTarget, cfg.mixAlpha, cfg.mixSalt)
    val d8 = pin(s7.join(s8.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id"))
    def tag(name: String) = col(s"__$name")
    val dropSets = Seq("d1" -> d1.select("doc_id"), "d2" -> d2,
      "d3" -> d3.select("doc_id"), "d4" -> d4, "d5" -> d5, "d6" -> d6,
      "d7" -> d7, "d8" -> d8)
    val taggedBase = dropSets.foldLeft(corpus) { case (acc, (name, d)) =>
      acc.join(d.withColumn(s"__$name", lit(true)), Seq("doc_id"), "left")
    }
    val reasons = Seq("d1" -> "exact_dup", "d2" -> "boilerplate",
      "d3" -> "near_dup", "d4" -> "dup_grams", "d5" -> "gopher",
      "d6" -> "contaminated", "d7" -> "lm_low", "d8" -> "sample_out")
    val stageCol = reasons.foldRight(lit("kept"): Column) {
      case ((name, reason), acc) => when(tag(name), reason).otherwise(acc)
    }
    val obs = Observation("pretrain_v2_manifest")
    val observed = taggedBase.withColumn("__stage", stageCol).observe(obs,
      count(lit(1)).as("n0"),
      reasons.map { case (_, r) =>
        sum(when(col("__stage") === r, 1L).otherwise(0L)).as(r)
      }: _*)
    val keptDf = observed.filter(col("__stage") === "kept")
      .drop(reasons.map(r => s"__${r._1}") :+ "__stage": _*)
      .join(s2.select(col("doc_id"), col("clean_text")), Seq("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    keptDf.count() // the ONE manifest action
    val m = obs.get
    def metric(name: String): Long = m(name).asInstanceOf[Long]
    val stageNames = Seq("exact_dedup" -> "exact_dup",
      "line_dedup" -> "boilerplate", "near_dedup" -> "near_dup",
      "dup_gram_gate" -> "dup_grams", "gopher_gate" -> "gopher",
      "decontamination" -> "contaminated", "lm_score_gate" -> "lm_low",
      "temperature_mix" -> "sample_out")
    var nIn = metric("n0")
    val stageRows = stageNames.map { case (stage, reason) =>
      val dropped = metric(reason)
      val row = StageRow(stage, reason, nIn, dropped, nIn - dropped)
      nIn -= dropped
      row
    }
    val packed = v2ShuffleAndPack(keptDf, cfg)
    val manifest = stageRows :+
      StageRow("shuffle_pack", "none", nIn, 0L, nIn)
    outDir.foreach { dir =>
      keptDf.write.mode("overwrite").parquet(s"$dir/kept.parquet")
      packed.write.mode("overwrite").parquet(s"$dir/packed.parquet")
      val json = manifest.map(r =>
        s"""{"stage":"${r.stage}","reason":"${r.reason}","n_in":${r.n_in},""" +
          s""""n_dropped":${r.n_dropped},"n_out":${r.n_out}}""")
        .mkString("[", ",", "]")
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/manifest.json"), json)
    }
    Result(keptDf, packed, manifest)
  }

  /** CLI: <sfDir> <outDir> [v1|v2] (default v2). */
  def main(args: Array[String]): Unit = {
    val spark = Apps.session("pretrain-data-pipeline")
    try {
      val docs = graft.Tables.documents(spark, args(0))
      val res =
        if (args.length > 2 && args(2) == "v1") run(docs, outDir = Some(args(1)))
        else runV2(docs, outDir = Some(args(1)))
      res.manifest.foreach(r => println(
        f"${r.stage}%-18s in=${r.n_in}%7d dropped=${r.n_dropped}%7d " +
          f"out=${r.n_out}%7d (${r.reason})"))
    } finally spark.stop()
  }
}
