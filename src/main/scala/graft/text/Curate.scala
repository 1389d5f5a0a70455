package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * End-to-end training-data curation — the composition a real pipeline runs
 * over a raw corpus, assembled from this library's oracled primitives and
 * itself bit-reproducible (the `curate_report` query's DuckDB oracle
 * replays every stage in SQL):
 *
 *   1. language gate (detected [[TextOps.langId]] ∈ allowed)   → `lang`
 *   2. quality gate ([[TextOps.qualityColumns]] score ≥ min)   → `quality`
 *   3. repetition gate (dup-bigram fraction ≤ max)             → `repetitive`
 *   4. MinHash near-dup over gate survivors                    → `near_dup`
 *   5. eval-holdout rows excluded from training                → `eval_holdout`
 *   6. n-gram contamination vs the eval split                  → `contaminated`
 *   7. deterministic hash-gate downsampling                    → `sampled_out`
 *
 * Every input row is tagged with the FIRST stage that dropped it (or NULL
 * when kept), so the pipeline yields both the curated corpus and an audit
 * report in one DAG: row-local gates are pure codegen projections; the
 * set-based stages (4/6) compute drop sets over the preceding stage's
 * survivors — sequential semantics, exactly how a curation run composes —
 * and come back as left joins keyed on the id. Every shuffle and every
 * driver collect is a primitive's own ([[graft.core.Route]] picks each
 * set-based stage's version; the driver-local ones run eagerly, while the
 * pipeline is built). Nothing here adds an all-pairs product, so the
 * composition inherits the 100 TB story of its parts.
 */
object Curate {

  case class Config(
      langs: Set[String] = Set("en"),
      minQuality: Double = 0.25,
      maxDupBigramFrac: Double = 0.5,
      minJaccard: Double = 0.6,
      evalPred: Column => Column = _ => lit(false),
      samplePermille: Column = lit(1000),
      /** Persist stage boundaries (gate survivors + the tiny drop sets) at
       *  MEMORY_AND_DISK. The dedup and contamination stages each consume
       *  the previous stage's output on several DAG branches; without a
       *  materialization barrier the gate projections re-evaluate per
       *  branch — the standard inter-stage persist every real curation run
       *  does. Disable for one-pass/constrained-storage runs; results are
       *  identical. Use [[taggedStaged]] to release the caches once the
       *  result is materialized (long-lived sessions). */
      cacheIntermediates: Boolean = true)

  /** A pipeline result plus ownership of the intermediate stage caches it
   *  persisted: call [[release]] once `df` (and anything derived from it)
   *  is materialized, so long-lived sessions don't accumulate cached
   *  stages across repeated runs. Releasing earlier is safe — stages
   *  recompute — it just forfeits the barrier. */
  final case class Staged(df: DataFrame, private val caches: Seq[DataFrame]) {
    def release(): Unit = caches.foreach(_.unpersist(blocking = false))
  }

  /** Every input row + `drop_reason` (NULL = kept), with the stage caches
   *  owned by the caller via [[Staged.release]]. */
  def taggedStaged(df: DataFrame, textCol: String, idCol: String,
      cfg: Config): Staged = {
    val caches = Seq.newBuilder[DataFrame]
    def maybeCache(d: DataFrame): DataFrame =
      if (cfg.cacheIntermediates) {
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        caches += d
        d
      } else d
    Staged(taggedImpl(df, textCol, idCol, cfg, maybeCache), caches.result())
  }

  /** Every input row + `drop_reason` (NULL = kept). Stage caches stay
   *  persisted until `spark.catalog.clearCache()`; a long-lived session
   *  should prefer [[taggedStaged]] and release them. */
  def tagged(df: DataFrame, textCol: String, idCol: String,
      cfg: Config): DataFrame =
    taggedStaged(df, textCol, idCol, cfg).df

  private def taggedImpl(df: DataFrame, textCol: String, idCol: String,
      cfg: Config, maybeCache: DataFrame => DataFrame): DataFrame = {
    // one fused kernel pass per row (graft.expressions.GateReason) — the
    // when-chain over langId/quality/repetition re-evaluated the tokenizer
    // per branch (conditional branches are invisible to Catalyst CSE);
    // CurateSpec pins the kernel ≡ Column-composition verdicts.
    // The cache barrier sits on GATED (the full tagged frame), not on the
    // survivor projection: the final report join consumes `gated` directly,
    // so caching only pass1 re-ran the gate kernel — the most expensive
    // per-row pass of the pipeline — a second time for the report branch.
    // One cache, one kernel pass; pass1 is a filter over the cache.
    val gated = maybeCache(df
      .withColumn("__gate_reason", TextOps.gateReason(col(textCol),
        cfg.langs, cfg.minQuality, cfg.maxDupBigramFrac)))
    val pass1 = gated.where(col("__gate_reason").isNull)
      .select(col(idCol), col(textCol))
    // stage 4: near-dup drop set over gate survivors
    val ndDrop = maybeCache(TextOps.jaccardPairs(pass1, textCol, idCol,
        minJaccard = cfg.minJaccard)
      .select(col("id_b").as("__nd_id")).distinct())
    val pass2 = pass1.join(ndDrop, col(idCol) === col("__nd_id"), "left_anti")
    // stage 6: contaminated train ids over dedup survivors
    val contaminated = maybeCache(TextOps.contaminationCounts(pass2, textCol,
        idCol, cfg.evalPred)
      .select(col("id").as("__ct_id")))
    gated
      .join(ndDrop.withColumn("__nd", lit(true)),
        col(idCol) === col("__nd_id"), "left_outer").drop("__nd_id")
      .join(contaminated.withColumn("__ct", lit(true)),
        col(idCol) === col("__ct_id"), "left_outer").drop("__ct_id")
      .withColumn("drop_reason", coalesce(col("__gate_reason"),
        when(col("__nd"), "near_dup")
          .when(cfg.evalPred(col(idCol).cast("long")), "eval_holdout")
          .when(col("__ct"), "contaminated")
          .when(!TextOps.sampleGate(col(idCol), cfg.samplePermille),
            "sampled_out")))
      .drop("__gate_reason", "__nd", "__ct")
  }

  /** Stage 1–3 (gate) survivors — the exact frame the near-dup stage band-
   *  buckets. Exposed so scale audits can attach [[TextOps.lshBucketStats]]
   *  counters computed over THIS stage input, attributing `curate_report`
   *  octave growth to its own emitted/capped pair mass rather than by
   *  analogy to the standalone dedup entry's audit. */
  def gateSurvivors(df: DataFrame, textCol: String, idCol: String,
      cfg: Config): DataFrame =
    df.where(TextOps.gateReason(col(textCol), cfg.langs, cfg.minQuality,
        cfg.maxDupBigramFrac).isNull)
      .select(col(idCol), col(textCol))

  /** The curated corpus from an already-[[tagged]] frame — when a run needs
   *  BOTH the corpus and the report, call `tagged` once (persist it) and
   *  derive both views, rather than paying the full pipeline twice. */
  def curateOf(taggedDf: DataFrame): DataFrame =
    taggedDf.where(col("drop_reason").isNull).drop("drop_reason")

  /** Audit report over an already-[[tagged]] frame. */
  def reportOf(taggedDf: DataFrame): DataFrame =
    taggedDf.groupBy(coalesce(col("drop_reason"), lit("kept")).as("reason"))
      .agg(count(lit(1)).as("n"))

  /** The curated training corpus (rows surviving every stage). */
  def curate(df: DataFrame, textCol: String, idCol: String,
      cfg: Config): DataFrame =
    curateOf(tagged(df, textCol, idCol, cfg))

  /** Audit report: rows per drop reason (`kept` for survivors). */
  def report(df: DataFrame, textCol: String, idCol: String,
      cfg: Config): DataFrame =
    reportOf(tagged(df, textCol, idCol, cfg))
}
