package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-call corpus curation: the standard web-corpus pipeline composed
  * from this library's oracled operators, in the order production
  * pipelines run them —
  *
  * -2. optional domain-blocklist drop ([[WebText.filterByDomainBlocklist]]
  *     — on the RAW text, where markup-attribute URLs still exist),
  * -1. optional HTML markup stripping ([[WebText.stripMarkup]]),
  *  0. Unicode NFC normalization ([[TextAnalysis.normalizeNfc]]) —
  *     composes mixed-encoder variants so every later hash/shingle/
  *     equality sees canonical bytes (line structure untouched),
  *  0.5. optional C4 cleanup ([[TextAnalysis.c4Filter]] — line rules
  *     rewrite, page rules drop; the published pre-dedup order),
  *  1. line-level boilerplate removal ([[Dedup.dedupLines]]),
  *  2. PII redaction ([[TextAnalysis.piiRedact]]) — before quality
  *     scoring so scores reflect the text that will be trained on,
  *  3. quality floor ([[TextAnalysis.qualityScore]] ≥ `minQuality`),
  *     plus the optional Gopher rule set ([[TextAnalysis.gopherFilter]])
  *     and the optional char-LM perplexity filter ([[CharLm]] —
  *     self-trained on the quality-floored corpus or scored against a
  *     supplied model),
  *  4. exact dedup — one survivor (lowest id) per identical cleaned
  *     text ([[Dedup.keepCanonical]] keyed on the text),
  *  5. optional MinHash near-dedup ([[Dedup.dedupCorpus]]),
  *  6. optional cross-corpus near-dedup against an already-ingested
  *     reference corpus ([[Dedup.crossCorpusDuplicates]] — the
  *     incremental-ingestion shape; docs near-duplicating the reference
  *     are DROPPED),
  *  7. optional benchmark decontamination ([[Dedup.decontaminate]] —
  *     flagged docs are DROPPED),
  *  8. reproducible split assignment ([[Sampling.assignSplits]]).
  *
  * Output: (idCol, textCol, quality, split) with the cleaned text. Every
  * stage is narrow or broadcast-joined except the line-dedup rebuild and
  * the dedup aggregations (each one shuffle); nothing collects to the
  * driver except near dedup's size-gated edge set
  * ([[Dedup.duplicateGroups]]).
  *
  * Eagerness: with `nearDedup` or `dedupAgainst` on, `curate` starts
  * jobs at call time. It runs the chain up to exact dedup once into an
  * eager `localCheckpoint`, and near and cross dedup both read its
  * blocks instead of each re-running the chain; the blocks live as long
  * as the returned frame and are freed by the ContextCleaner. The cross
  * stage's drop ids stay lazy, so a second action on the result re-runs
  * the cross verify (over the blocks, not the chain). Self-trained
  * `maxLmBits` also checkpoints at call time. Otherwise `curate` is lazy.
  *
  * Resume story: several stages are corpus-GLOBAL (hot lines, duplicate
  * groups), so partition-granular checkpointing à la
  * [[graft.pipeline.ValidationPipeline]] cannot apply — instead every
  * decision here is a PURE function of the input bytes (hash membership,
  * exact counts, min-id survivors; no rand(), no timestamps), so a
  * restarted run recomputes the identical output and an atomic
  * write-then-commit of the final result is all the durability needed.
  */
object Curation {

  final case class CurationConfig(
    /** Drop documents mentioning a blocked domain BEFORE any text
      * transform — URLs live in markup attributes, so the filter must
      * see the raw text ([[WebText.filterByDomainBlocklist]]: exact host
      * or parent suffix, broadcast equi-join). (blocklist, domainCol). */
    domainBlocklist: Option[(DataFrame, String)] = None,
    /** Strip HTML markup ([[WebText.stripMarkup]]) after the domain
      * filter and before NFC. NOTE: stripping collapses ALL whitespace
      * (newlines included), so the line-dedup stage sees one line per
      * document — the right reading for HTML inputs, whose line breaks
      * are presentation, not structure. */
    stripMarkup: Boolean = false,
    /** Apply the published C4 cleanup ([[TextAnalysis.c4Filter]])
      * after NFC and before line dedup — the published order: line
      * rules REWRITE the text (terminal punctuation, ≥5 words, no
      * "javascript" lines), page rules (lorem ipsum, curly brace,
      * bad words, <3 sentences) DROP the page. Off by default; the
      * C4 and Gopher rule sets compose (C4 cleans lines first, the
      * Gopher thresholds then judge the cleaned text). */
    c4Rules: Boolean = false,
    c4MinSentences: Int = 3,
    c4MinLineWords: Int = 5,
    c4BadWords: Seq[String] = Nil,
    lineDedupMinDocs: Int = 3,
    lineSep: String = "\n",
    /** Skew guard for the line-dedup per-doc rebuild — the one per-key
      * collect stage in this composition ([[Dedup.dedupLines]]'s
      * contract: the cap is total exploded LINES per id, covering both
      * a pathological giant document and a duplicated-id ingestion
      * loop). Off by default; production ingestion should set
      * [[HotKeys.SkewGuard.Raise]] (fail fast) or `Drop` (route
      * degenerate ids out; recover via [[HotKeys.hotKeys]]). */
    skewGuard: HotKeys.SkewGuard = HotKeys.SkewGuard.Off,
    redactPii: Boolean = true,
    minQuality: Double = 0.5,
    /** Apply the published Gopher rule set ([[TextAnalysis.gopherFilter]])
      * beside the quality floor — docs failing ANY rule are dropped.
      * Off by default: the score floor is the cheap default; the rules
      * are the stricter web-corpus preset. */
    gopherRules: Boolean = false,
    gopherMinWords: Int = 50,
    gopherMaxWords: Int = 100000,
    /** Drop documents whose char-bigram LM surprisal
      * ([[CharLm.score]] `lm_bits_per_char`) exceeds this — the
      * CCNet-style perplexity filter, run beside the other quality
      * filters (after the score floor / Gopher rules, before dedup).
      * The model is [[lmModel]] if given (score against yesterday's
      * corpus model — the incremental-ingestion shape), else trained on
      * the post-quality-floor corpus itself (outlier removal: docs far
      * from the corpus's own character statistics are gibberish or
      * binary junk). */
    maxLmBits: Option[Double] = None,
    lmMaxAlphabet: Int = 256,
    lmModel: Option[CharLm.Model] = None,
    nearDedup: Boolean = false,
    nearDedupThreshold: Double = 0.8,
    /** Reference corpus for incremental cross-corpus near-dedup; must
      * carry the same (idCol, textCol) columns as the input. Docs whose
      * Jaccard vs ANY reference doc reaches [[nearDedupThreshold]] are
      * dropped. The cross* knobs mirror [[Dedup.crossCorpusDuplicates]]'s
      * banding parameters (the gate oracle drives them with the portable
      * hash; production keeps the xxhash default). */
    dedupAgainst: Option[DataFrame] = None,
    crossShingleN: Int = 3,
    crossBands: Int = 16,
    crossRowsPerBand: Int = 4,
    crossShingleId: Column => Column = Dedup.xxhashShingleId,
    decontaminateAgainst: Option[(DataFrame, String)] = None,
    decontaminateMinMatches: Int = 8,
    /** Broadcast the cross-dedup / decontamination drop-id sets into
      * their anti-joins (the [[Dedup.dedupLines]] `broadcastHot`
      * discipline). True is right when the overlap is a sliver of the
      * corpus; set FALSE when a batch can overlap the reference corpus
      * heavily (a re-crawl: 30–50% overlap → billions of drop ids), so
      * the anti-join plans as a shuffle join (AQE picks the strategy)
      * instead of force-broadcasting an unbounded set. */
    broadcastDrops: Boolean = true,
    nfcNormalize: Boolean = true,
    splits: Seq[(String, Double)] = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
    splitHash: Column => Column = xxhash64(_))

  def curate(df: DataFrame, idCol: String, textCol: String,
             cfg: CurationConfig = CurationConfig()): DataFrame = {
    val unblocked = cfg.domainBlocklist match {
      case Some((blk, c)) =>
        WebText.filterByDomainBlocklist(df, idCol, textCol, blk, c)
      case None => df
    }
    val stripped =
      if (cfg.stripMarkup)
        unblocked.withColumn(textCol, WebText.stripMarkup(col(textCol)))
      else unblocked
    val canonical = stripped.select(col(idCol),
      (if (cfg.nfcNormalize) TextAnalysis.normalizeNfc(col(textCol))
       else col(textCol)).as(textCol))
    val c4ed =
      if (cfg.c4Rules)
        TextAnalysis.c4Filter(canonical, textCol, cfg.c4MinSentences,
            cfg.c4MinLineWords, cfg.c4BadWords, cfg.lineSep)
          .where(col("keep"))
          .withColumn(textCol, col("clean_text"))
          .drop("clean_text", "n_sentences", "reasons", "keep")
      else canonical
    val deboiled = Dedup.dedupLines(c4ed, idCol, textCol,
      cfg.lineDedupMinDocs, cfg.lineSep, guard = cfg.skewGuard)
    // Opaque = optimizer barrier (graft.compile.Opaque): the cleaned
    // text and the quality score are each referenced by stacked filters
    // downstream (quality floor, Gopher keep, LM cap) — without the
    // barrier, predicate pushdown duplicates the whole strip/rebuild/
    // redact chain into every pushed filter while the projection still
    // computes it for output, evaluating the multi-regex chain several
    // times per row. Marked non-deterministic, the aliases materialize
    // once and every consumer reads the attribute.
    val redacted = deboiled.withColumn(textCol,
      Barrier.opaque(if (cfg.redactPii) TextAnalysis.piiRedact(col(textCol))
                     else col(textCol)))
    val scored = redacted
      .withColumn("quality",
        Barrier.opaque(TextAnalysis.qualityScore(col(textCol))))
      .where(col("quality") >= cfg.minQuality)
    val ruled =
      if (cfg.gopherRules)
        TextAnalysis.gopherFilter(scored, textCol,
          cfg.gopherMinWords, cfg.gopherMaxWords)
          .where(col("keep")).drop("word_count", "reasons", "keep")
      else scored
    val lmFiltered = cfg.maxLmBits match {
      case Some(maxBits) =>
        // self-training runs two census jobs over the upstream chain and
        // the scoring pass reads it once more — materialize the chain
        // ONCE (eager localCheckpoint) and let census jobs and the
        // scoring plan all read the blocks; the r7 shape persisted only
        // across training and re-evaluated the whole chain again for
        // scoring. A supplied model skips the checkpoint entirely.
        cfg.lmModel match {
          case Some(model) =>
            CharLm.score(ruled, textCol, model)
              .where(col("lm_bits_per_char") <= maxBits)
              .drop("n_bigrams", "lm_bits_per_char")
          case None =>
            val cached = ruled.localCheckpoint(true)
            val model = CharLm.train(cached, textCol, cfg.lmMaxAlphabet)
            CharLm.score(cached, textCol, model)
              .where(col("lm_bits_per_char") <= maxBits)
              .drop("n_bigrams", "lm_bits_per_char")
        }
      case None => ruled
    }
    // key on the text alone: the payload already carries it, and a
    // fingerprint prefix adds no discriminating power over the text it
    // accompanies — it only widens the dedup exchange
    // near dedup and the cross stage each read their input three times
    // (banding, shingle verify, final anti-join); lazily, every read
    // re-ran this whole chain (NFC, line-dedup census and rebuild,
    // redaction, quality floor, exact dedup). One eager localCheckpoint
    // runs it once, here, at call time: the write-once/read-many
    // materialization of a multi-consumer intermediate, spilling to
    // executor disk past storage memory. Its blocks live as long as the
    // returned frame and are freed by the ContextCleaner.
    val exactDeduped = {
      val deduped = Dedup.keepCanonical(lmFiltered, col(textCol), Seq(col(idCol)))
      if (cfg.nearDedup || cfg.dedupAgainst.isDefined) deduped.localCheckpoint(true)
      else deduped
    }
    val nearDeduped =
      if (cfg.nearDedup)
        Dedup.dedupCorpus(exactDeduped, idCol, textCol, cfg.nearDedupThreshold)
      else exactDeduped
    val crossDeduped = cfg.dedupAgainst match {
      case Some(ref) =>
        // the cross input is the checkpoint itself or near dedup's
        // broadcast anti-join over its blocks: cheap to read three times
        val hits = Dedup.crossCorpusDuplicates(nearDeduped, ref, idCol, textCol,
          cfg.nearDedupThreshold, cfg.crossShingleN, cfg.crossBands,
          cfg.crossRowsPerBand, shingleId = cfg.crossShingleId)
        // the drop ids stay lazy (no job at call time): each action on the
        // result re-runs the shingle verify over the checkpointed blocks
        val dropIds0 = hits.select(col("new_id").as(idCol)).distinct()
        val dropIds = if (cfg.broadcastDrops) broadcast(dropIds0) else dropIds0
        nearDeduped.join(dropIds, Seq(idCol), "left_anti")
      case None => nearDeduped
    }
    val decontaminated = cfg.decontaminateAgainst match {
      case Some((bench, benchCol)) =>
        val hits0 = Dedup.decontaminate(crossDeduped, idCol, textCol,
          bench, benchCol, minMatches = cfg.decontaminateMinMatches)
          .select(col("id").as(idCol))
        val hitIds = if (cfg.broadcastDrops) broadcast(hits0) else hits0
        crossDeduped.join(hitIds, Seq(idCol), "left_anti")
      case None => crossDeduped
    }
    Sampling.assignSplits(decontaminated, col(idCol).cast("string"),
      cfg.splits, cfg.splitHash)
      .select(col(idCol), col(textCol), col("quality"), col("split"))
  }
}
