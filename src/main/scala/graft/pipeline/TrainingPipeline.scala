package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Markup, Sampling, Selection, SubstringDedup, TextAnalysis, WordPiece}

/** End-to-end training-corpus preparation: the composition every
  * operator in this library exists for, in the order a production
  * pretraining pipeline runs it (each stage is the library operator —
  * nothing here is new logic, which is the point: the pieces compose).
  *
  *   0. html    — OPTIONAL (`htmlExtract`): jusText-style boilerplate
  *                extraction ([[graft.operators.Markup.extractText]]) —
  *                a 100 TB web crawl is mostly markup, and leaked nav/
  *                footer chrome shared across pages would create FALSE
  *                near-dup edges downstream (stage 4 would merge
  *                unrelated pages into one chrome-keyed component);
  *                `n_blocks`/`n_kept` ride along as metered columns
  *   1. scrub   — mask identifier-like spans, normalize whitespace
  *                ([[graft.functions.TextFunctions.scrubText]])
  *   2. gate    — drop low-quality docs (token count + quality score)
  *   3. exact   — drop byte-duplicate content, keep lowest id
  *   4. near    — MinHash+LSH near-dup pairs → connected components →
  *                keep each cluster's canonical (lowest-id) doc
  *   5. substr  — OPTIONAL (`exactSubstrK`): Lee-et-al ExactSubstr
  *                scrub — remove every non-first copy of any repeated
  *                k-token window corpus-wide
  *                ([[graft.operators.SubstringDedup.exactSubstringDedup]])
  *   6. tokens  — OPTIONAL (`wordPieceCfg`): fit a WordPiece vocabulary
  *                on the final corpus and attach per-doc token counts
  *                ([[graft.operators.WordPiece.wordPieceTokenCounts]])
  *   7. split   — deterministic hash-based train/val/test assignment;
  *                with `splitByComponent` the split key is the
  *                near-dup COMPONENT from stage 4 (leakage-safe when
  *                near-dup families are kept — see `dropNearDups`)
  *
  * Scale shape: stages 0-2 are pure projections/filters (no shuffle);
  * stage 3 shuffles (hash, id) pairs only — duplicate ids resolve by
  * min-id aggregation and the corpus anti-joins them away on id, so
  * the text payload never crosses an exchange (the id-join default
  * since r6; see [[graft.operators.Dedup.dedupByFingerprint]]);
  * stage 4 shuffles band keys + ids and verifies candidates only;
  * stage 5 moves only 60-bit positional shingle hashes plus ONE
  * id-keyed reassembly exchange; stage 6 fits on the distinct-word
  * table (vocabulary-bounded) and joins counts back by id; stage 7 is
  * a projection.
  */
object TrainingPipeline {

  /** Stage-6 tokenizer parameters (the q222/q223 WordPiece recipe). */
  final case class WordPieceCfg(
      maxPieceLen: Int = 4, keepMulti: Int = 16, minCount: Long = 2)

  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 10,
      minScore: Double = 0.3,
      minJaccard: Double = 0.6,
      shingleSize: Int = 7,
      numHashes: Int = 96,
      bands: Int = 24,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      // md5-based split assignment instead of xxhash64: any ANSI engine
      // reproduces it bit-for-bit (external audits, the q59 oracle);
      // costs a per-row hex materialization, so default off at scale
      auditableSplit: Boolean = false,
      // stage 5: ExactSubstr scrub window (None = stage off). When on,
      // the corpus text becomes the scrubbed text and the output gains
      // n_tokens / n_dup_tokens columns (the q208 audit counters).
      exactSubstrK: Option[Int] = None,
      // stage 6: WordPiece fit + per-doc token counts (None = stage
      // off). When on, the output gains an n_wordpiece_tokens column.
      wordPieceCfg: Option[WordPieceCfg] = None,
      // per-stage metering: when on, [[Prepared.meters]] carries one
      // (stage, rows, whitespace-tokens) row per pipeline stage. Each
      // meter is an extra action over a (mostly checkpointed) stage
      // output — default off so the metered path is opt-in at scale.
      meterStages: Boolean = false,
      // stage-4 LSH bucket cap: buckets larger than this are
      // star-linked to their representative instead of expanded
      // all-pairs (component-preserving; the Zipf-headed boilerplate
      // flood guard — see [[graft.operators.Dedup.cappedBandPairs]]).
      // A capped run surfaces through [[Prepared.cappedBucketCount]].
      maxBucketSize: Int = 10000,
      // stage 0: jusText-style HTML boilerplate extraction with this
      // minChars (None = corpus is already clean text). When on, the
      // text column becomes the extracted text and the output gains
      // n_blocks / n_kept audit columns.
      htmlExtract: Option[Int] = None,
      // stage 4 drop toggle: false KEEPS near-dup families (data-
      // augmentation mixes) — pairs/components are still computed and
      // feed splitByComponent, which is then REQUIRED for a
      // leakage-safe split (per-doc hashing would strand twins across
      // split boundaries).
      dropNearDups: Boolean = true,
      // stage 7 split key: true = the near-dup COMPONENT representative
      // from stage 4's pairs (the q231 leakage-safe policy, zero extra
      // exchange classes — the output gains a group_id column); false =
      // the per-document id. With dropNearDups = true the survivors are
      // one-per-component, so both keys give leak-free splits; with
      // dropNearDups = false only the component key is safe.
      splitByComponent: Boolean = false)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One per-stage meter row: rows surviving the stage and the total
    * whitespace-token count of the corpus text at that point (for the
    * tokenizer stage, the total WordPiece token count instead — the
    * number a packing stage actually budgets against).
    */
  final case class StageMeter(stageNo: Int, stage: String,
      nRows: Long, nTokens: Long)

  /** [[prepare]]'s result plus the near-dup stage's capped-bucket count.
    * `cappedBucketCount > 0` means some LSH buckets were star-linked:
    * the near-dup drop may then remove docs whose measured similarity
    * to the bucket representative is below `minJaccard` (the lossier
    * capped semantics — see [[graft.operators.Dedup.cappedBandPairs]]).
    */
  final case class Prepared(corpus: DataFrame, cappedBucketCount: Long,
      meters: Seq[StageMeter] = Nil)

  /** Run the full preparation; returns the cleaned corpus with a
    * `split` column. Deterministic end to end: no rand(), no
    * timestamps — re-running on the same input yields byte-identical
    * output (the property that makes a 100 TB pipeline re-entrant).
    */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame =
    prepareMetered(docs, cfg).corpus

  /** [[prepare]] with the near-dup capped-bucket count surfaced at the
    * PIPELINE level (not only in Dedup's own logs): a capped run can
    * drop docs that never verified against their representative, and
    * that data-loss mode must be visible to the pipeline caller.
    */
  def prepareMetered(docs: DataFrame, cfg: Config = Config()): Prepared =
    // label each stage's jobs: the pipeline materializes stages eagerly,
    // so without labels its dozens of jobs show up as anonymous
    // withThreadLocalCaptured entries in the UI/event log. The stages
    // relabel inside one scope; the caller's label is restored on return
    // and on a throw.
    graft.GraftSession.withLabel(docs.sparkSession.sparkContext,
      "TrainingPipeline")(prepareLabeled(docs, cfg))

  private def prepareLabeled(docs: DataFrame, cfg: Config): Prepared = {
    val sc = docs.sparkSession.sparkContext
    def label(stage: String): Unit =
      sc.setJobDescription(s"TrainingPipeline: $stage")
    val meters = scala.collection.mutable.ArrayBuffer.empty[StageMeter]
    // whitespace-token meter aggregates, empty/null-safe (mirrors
    // nonEmptyTokens)
    def meterAggs: Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("_m_rows"),
      coalesce(sum(size(filter(split(trim(col(cfg.textCol)), "\\s+"),
        t => length(t) > 0)).cast("long")), lit(0L)).as("_m_toks"))
    // post-checkpoint meter: one extra 1-row aggregate action over a
    // materialized stage output
    def meter(no: Int, stage: String, df: DataFrame): Unit =
      if (cfg.meterStages) {
        val r = df.agg(meterAggs.head, meterAggs.tail: _*).collect()(0)
        meters += StageMeter(no, stage, r.getLong(0), r.getLong(1))
      }
    // PRE-checkpoint meters (stages 1-2) ride the stage-2 checkpoint's
    // OWN execution as observe() metrics instead of re-traversing the
    // lineage: a separate aggregate action here would re-run the
    // regex-heavy scrub projection over the whole corpus once per
    // meter (at 100 TB, a metered run would pay the scrub twice more —
    // the r10 plan-audit finding). CollectMetrics nodes are free riders
    // on the execution the pipeline performs anyway.
    val obsInput =
      if (cfg.meterStages) Some(new org.apache.spark.sql.Observation("tp_input"))
      else None
    val obsScrub =
      if (cfg.meterStages) Some(new org.apache.spark.sql.Observation("tp_scrubbed"))
      else None
    def observed(df: DataFrame, obs: Option[org.apache.spark.sql.Observation]) =
      obs.map(o => df.observe(o, meterAggs.head, meterAggs(1))).getOrElse(df)
    // 0. OPTIONAL HTML boilerplate extraction (projection only): the
    // text column becomes the extracted text; n_blocks/n_kept ride as
    // audit columns. Runs BEFORE the near-dup machinery on purpose —
    // chrome shared across pages must never reach the shingler (a
    // leaked nav/footer would star unrelated pages into one
    // component). The input meter counts raw (markup) tokens; the
    // scrubbed meter is post-extraction text.
    // widen the corpus before the per-row-heavy stages 0-2 (markup
    // extraction + scrub regexes + quality gate): a bench-scale input
    // is a 2-3-branch union of one-file scans, so the chain otherwise
    // runs on 2-3 cores (measured: q240's gate checkpoint 2 tasks,
    // 2.5 s wall); stats-guarded no-op at real scale (guide §2.5)
    val docsW = graft.sources.Tables.widen(docs)
    val extracted = cfg.htmlExtract match {
      case None => observed(docsW, obsInput)
      case Some(minChars) =>
        observed(docsW, obsInput)
          .withColumn("_x", Markup.extractText(col(cfg.textCol), minChars))
          .withColumn(cfg.textCol, col("_x.text"))
          .withColumn("n_blocks", col("_x.n_blocks"))
          .withColumn("n_kept", col("_x.n_kept"))
          .drop("_x")
    }
    // 1. scrub (projection only)
    val scrubbed = observed(
      extracted.withColumn(cfg.textCol, scrubText(col(cfg.textCol))),
      obsScrub)
    // 2. quality gate — MATERIALIZED (localCheckpoint cuts lineage and
    // pins the stage output): the id-join dedup below references its
    // input twice by construction, and the near-dup stage traverses the
    // deduped corpus again — without a stage boundary here the
    // regex-heavy scrub projection re-executes once per traversal
    // (measured 8× on the q59 bench when stage 3 became a join). This
    // is the materialization any production pipeline places between
    // its expensive-transform and multi-pass stages.
    label("scrub+gate")
    val gated = TextAnalysis.qualityFilter(
      scrubbed, cfg.textCol, cfg.minTokens, cfg.minScore)
      .localCheckpoint(true)
    // the eager checkpoint above just executed the scrub ONCE; harvest
    // the stage-1/2 observations it carried (get blocks until the
    // metrics of a completed action are available)
    def harvest(no: Int, stage: String,
        obs: Option[org.apache.spark.sql.Observation]): Unit =
      obs.foreach { o =>
        val m = o.get
        meters += StageMeter(no, stage,
          m("_m_rows").asInstanceOf[Long], m("_m_toks").asInstanceOf[Long])
      }
    harvest(1, "input", obsInput)
    harvest(2, "scrubbed", obsScrub)
    // 3. exact dedup on content fingerprint — also materialized: it is
    // read by both the near-dup pair builder and the final drop
    label("exact-dedup")
    val exact = Dedup.dedupByFingerprint(gated, cfg.textCol, cfg.idCol)
      .localCheckpoint(true)
    // 4. near-dup clusters → keep canonical doc per cluster
    label("near-dup pairs")
    val cp = Dedup.verifiedNearDupPairsMetered(
      exact, cfg.idCol, cfg.textCol, cfg.minJaccard,
      cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.maxBucketSize)
    if (cp.cappedBucketCount > 0)
      log.warn(s"TrainingPipeline.prepare: ${cp.cappedBucketCount} over-cap LSH bucket(s) " +
        "were star-linked — near-dup drops in those buckets are unverified " +
        "(possible below-threshold drops); see Dedup.cappedBandPairs")
    // the pairs frame is re-read by the component split and the leak
    // meter below — materialize it (SERIALIZED: an id-pair frame at
    // data scale is exactly the edge-list shape the r11 q215 fix
    // targets) instead of re-running the MinHash band machinery per
    // consumer
    val pairs =
      if (cfg.splitByComponent || cfg.meterStages)
        graft.plans.Checkpoints.serialized(cp.pairs)
      else cp.pairs
    val nearDeduped =
      if (cfg.dropNearDups) Dedup.dropNearDuplicates(exact, cfg.idCol, pairs)
      else exact
    label("stage meters")
    meter(3, "gated", gated)
    meter(4, "exact_dedup", exact)
    meter(5, "near_dedup", nearDeduped)
    // 5. OPTIONAL corpus-wide exact-substring scrub: the text column
    // becomes the scrubbed reassembly; n_tokens/n_dup_tokens ride along
    // as audit counters. The scrub result carries only
    // (id, counters, dedup_text), so it is joined back by id onto the
    // surviving corpus — every other corpus column (source, lang,
    // metadata, ...) that stages 1-4 preserved rides through this stage
    // too. One id-keyed exchange; text crosses it once, as everywhere
    // else in the pipeline. Materialized when a tokenizer stage follows
    // (the fit traverses the corpus again).
    val substred = cfg.exactSubstrK match {
      case None => nearDeduped
      case Some(k) =>
        label("exact-substr scrub")
        val scrub = SubstringDedup
          .exactSubstringDedup(nearDeduped, cfg.idCol, cfg.textCol, k)
          .withColumnRenamed("dedup_text", cfg.textCol)
        val out = nearDeduped.drop(cfg.textCol)
          .join(scrub, Seq(cfg.idCol))
          .localCheckpoint(true)
        meter(6, "substr_scrub", out)
        out
    }
    // 6. OPTIONAL tokenizer fit + per-doc token counts on the FINAL
    // text (post-substr): the count a packing stage budgets against
    val tokenized = cfg.wordPieceCfg match {
      case None => substred
      case Some(wp) =>
        label("wordpiece fit+count")
        val counts = WordPiece.wordPieceTokenCounts(
          substred, cfg.idCol, cfg.textCol,
          wp.maxPieceLen, wp.keepMulti, wp.minCount)
        val out = substred.join(counts, Seq(cfg.idCol))
        if (cfg.meterStages) {
          val r = out.agg(count(lit(1)),
            coalesce(sum(col("n_wordpiece_tokens")), lit(0L))).collect()(0)
          meters += StageMeter(7, "wordpiece", r.getLong(0), r.getLong(1))
        }
        out
    }
    // 7. deterministic split — per-document key, or the near-dup
    // COMPONENT representative from stage 4's pairs (the q231
    // leakage-safe policy: reuses the already-computed pairs, so the
    // only addition is one id-keyed component join — no new exchange
    // class)
    val (splitKeyed, keyCol) =
      if (!cfg.splitByComponent) (tokenized, cfg.idCol)
      else {
        val comps = Dedup.connectedComponents(pairs)
          .select(col("id").as(cfg.idCol), col("component_id").as("_comp"))
        (tokenized.join(comps, Seq(cfg.idCol), "left")
          .withColumn("group_id", coalesce(col("_comp"), col(cfg.idCol)))
          .drop("_comp"), "group_id")
      }
    val assigned =
      if (cfg.auditableSplit) Sampling.md5Split(splitKeyed, keyCol, cfg.splits)
      else Sampling.hashSplit(splitKeyed, keyCol, cfg.splits)
    // split-leak audit meter: near-dup pairs straddling a split
    // boundary (Selection.crossSplitLeaks). Zero when dropNearDups
    // left one doc per component OR the split is component-keyed;
    // nonzero quantifies the leakage of a per-doc split over a kept
    // near-dup family — the number an eval-contamination review wants
    // in the pipeline report, not in a side query.
    if (cfg.meterStages) {
      label("split-leak meter")
      val lk = Selection.crossSplitLeaks(assigned, cfg.idCol, pairs)
        .collect()(0).getLong(0)
      meters += StageMeter(8, "split_leaks", lk, 0L)
    }
    Prepared(assigned, cp.cappedBucketCount, meters.toSeq)
  }
}
