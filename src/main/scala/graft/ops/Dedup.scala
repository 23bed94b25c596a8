package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design notes (the part that matters at 100 TB):
  *  - exact: one hash-aggregate on the key; partial aggregation makes the
  *    shuffle carry (key, count) partials only.
  *  - MinHash/LSH: signatures are narrow per-row expressions; the only
  *    shuffle is the band-bucket self-join, whose fan-out is controlled by
  *    (bands, rowsPerBand). Candidate pairs are verified with exact
  *    Jaccard BEFORE leaving the bucket join, so the output is exact
  *    above the threshold — LSH only bounds recall.
  *  - SimHash: 64-bit signature per doc; near-dup candidates via banded
  *    16-bit chunks (Hamming ≤ 3 ⇒ at least one of 4 chunks equal).
  */
object Dedup {

  /** Word n-gram shingles of a text column, via the
    * [[graft.compile.WordShingles]] kernel: the tokenization chain
    * evaluates ONCE per row (the Column formulation below re-evaluated it
    * per shingle position inside the interpreted lambda — ~length× the
    * cost, dominating every text-dedup job). */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // NULL text → [""] like the Column formulation (whose when/otherwise
    // fell through to array(concat_ws(" ", null)) = [""]); the kernel
    // itself is null-propagating, so coalesce restores the old contract
    // and NULL-text docs keep clustering with empty docs instead of
    // silently dropping out of the dedup exploded joins.
    coalesce(
      ColumnBridge.column(graft.compile.WordShingles(
        ColumnBridge.expression(TextAnalysis.words(text)), n)),
      array(lit("")))
  }

  /** The original Column formulation of [[shingles]] (parity oracle). */
  private[graft] def shinglesColumns(text: Column, n: Int): Column = {
    val ws = TextAnalysis.words(text)
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", ws)))
  }

  /** Exact duplicate groups by arbitrary key expression: returns
    * (key, occurrences) for keys seen more than once. */
  def exactDuplicates(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("occurrences"))
      .where(col("occurrences") > 1)

  /** Winnowing document fingerprints (the published MOSS local
    * fingerprinting algorithm — Schleimer, Wilkerson & Aiken 2003):
    * hash every word k-gram with the portable polynomial fingerprint,
    * slide a window of `w` consecutive hashes, select each window's
    * MINIMUM (ties to the RIGHTMOST position — the paper's rule, which
    * makes selections agree across documents), and keep the distinct
    * selections. Output: one (idCol, pos, fp) row per selected
    * fingerprint, pos = 0-based k-gram position.
    *
    * Guarantee (the algorithm's theorem): two documents sharing any run
    * of at least w+k-1 words share at least one SELECTED fingerprint —
    * so one fingerprint-keyed equi-join finds every sufficiently long
    * overlap, at expected density 2/(w+1) of the full positional w-gram
    * frame ([[duplicateSpans]] is the exhaustive variant; winnowing is
    * the bandwidth-bounded one for corpus-scale plagiarism/overlap
    * scans). Documents with fewer than w windows winnow a single window
    * over all their grams; docs with no k-gram produce no rows.
    *
    * Scale shape: selection is one narrow pass (tokenize → hash grams →
    * window minima, all HOFs over a bound array — no shuffle); only the
    * selected (id, pos, fp) rows — ~2/(w+1) of the grams — ever leave
    * the row. Downstream joins carry (fp, id) only. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    require(w >= 1, s"w ($w) must be >= 1")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // the fused kernel: gram fp31s + rightmost-tie window argmin +
    // distinct, one JVM pass (graft.compile.WinnowSelect) — exact value
    // of [[winnowSelectColumns]] (parity pinned in OpsSpec); n = 0 docs
    // yield an empty array, which explode drops
    val sel = ColumnBridge.column(graft.compile.WinnowSelect(
      ColumnBridge.expression(TextAnalysis.words(col(textCol))), k, w))
    df.select(col(idCol), explode(sel).as("_s"))
      .select(col(idCol), col("_s.p").as("pos"), col("_s.h").as("fp"))
  }

  /** The original Column formulation of the winnow selection (parity
    * oracle for [[graft.compile.WinnowSelect]]): gram hashes via
    * [[TextAnalysis.fingerprint]] of each slice-and-join k-gram, then the
    * rightmost-tie (`h <= acc.h`) window argmin fold, distinct. Test-only:
    * the inline `g` reference re-evaluates per lambda element, the cost
    * the kernel exists to remove. */
  private[graft] def winnowSelectColumns(ws: Column, k: Int, w: Int): Column = {
    val n = greatest(size(ws) - (k - 1), lit(0))
    val g = transform(sequence(lit(0), n - 1),
      i => TextAnalysis.fingerprint(concat_ws(" ", slice(ws, i + 1, lit(k)))))
    when(n >= 1,
      array_distinct(transform(
        sequence(lit(0), greatest(n - w, lit(0))),
        j => aggregate(
          sequence(j, least(j + w, n) - 1),
          struct(lit(Long.MaxValue).as("h"), lit(-1).as("p")),
          (acc, i) => {
            val h = element_at(g, i + 1)
            when(h <= acc.getField("h"),
              struct(h.as("h"), i.as("p"))).otherwise(acc)
          }))))
      .otherwise(array().cast("array<struct<h:bigint,p:int>>"))
  }

  /** Consume [[winnowFingerprints]] selections into overlap PAIRS — the
    * MOSS reporting step: a fingerprint-keyed equi-join finds every pair
    * of documents sharing a selected fingerprint (by the winnowing
    * theorem, every pair sharing a run of ≥ w+k-1 words), then per-pair
    * match count and coverage fractions rank the matches. Output:
    * (id_a, id_b, shared_fps, coverage_a, coverage_b) with
    * shared_fps ≥ `minShared` and coverage_x = shared distinct
    * fingerprints / doc x's distinct selected fingerprints.
    *
    * This is the bandwidth-bounded alternative to [[duplicateSpans]] at
    * corpus scale: the join carries only the winnowed ~2/(w+1) density
    * (id, fp) frame, never gram positions or text. The fingerprint
    * self-join gets the LSH hot-bucket guard ([[DefaultMaxBucket]]): a
    * fingerprint selected by ≥ maxBucket documents (a boilerplate k-gram
    * run) would blow up one task quadratically; such groups are dropped
    * from the PAIR join (members still pair through their other
    * fingerprints) and logged — route them via [[exactDuplicates]] on
    * the gram text if wanted. */
  def winnowOverlaps(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 4, minShared: Int = 2,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(minShared >= 1, s"minShared ($minShared) must be >= 1")
    // distinct (id, fp): coverage is over the fingerprint SET (a gram
    // repeated within one doc counts once — MOSS's match-count metric).
    // ONE id-keyed aggregation builds the per-doc fp set AND its size,
    // so every selection row carries its coverage denominator (_sz) and
    // the pair aggregation reads it with first() — the r6 shape spent a
    // distinct + a sizes aggregate + TWO re-joins of the pairs frame on
    // the same facts. Per-doc set state is bounded by doc length
    // (winnowed density ~2/(w+1)), never corpus-sized.
    val sel = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp"))
      .groupBy("id").agg(collect_set(col("fp")).as("_fps"))
      .select(col("id"), size(col("_fps")).cast("long").as("_sz"),
        explode(col("_fps")).as("fp"))
    eagerBucketJoin("winnowOverlaps", Seq("fp"), maxBucket,
        Seq(BucketSide("", sel))) { case Seq(s) =>
      s.select(col("fp"), col("id").as("id_a"), col("_sz").as("_na"))
        .join(s.select(col("fp"), col("id").as("id_b"), col("_sz").as("_nb")),
          Seq("fp"))
        .where(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"),
          first("_na").as("_na"), first("_nb").as("_nb"))
        .where(col("shared_fps") >= minShared)
        .select(col("id_a"), col("id_b"), col("shared_fps"),
          (col("shared_fps").cast("double") / col("_na")).as("coverage_a"),
          (col("shared_fps").cast("double") / col("_nb")).as("coverage_b"))
    }
  }

  /** Build a Bloom EXACT-dedup index over a corpus's `key` values — the
    * published at-scale incremental exact-dedup shape (Dolma-style Bloom
    * dedup): an already-ingested corpus reduces to a fixed bit array
    * (GBs for billions of keys) that every future batch probes with
    * ZERO joins and zero shuffles of either side. Size `expectedItems`
    * to the corpus cardinality; persist/version the blob beside the
    * corpus (e.g. via [[graft.pipeline.IndexStore]] blob round-trip)
    * and OR-merge shards for corpora past one filter's capacity.
    *
    * Contract: NO false negatives — a true duplicate of an indexed key
    * is always caught; a false positive erroneously drops a NEW doc at
    * ≈ `fpp` (1e-8 ⇒ a handful per billion — curation noise, and the
    * gate oracle's exact-membership restatement holds at that rate). */
  def buildExactIndex(df: DataFrame, key: Column,
                      expectedItems: Long, fpp: Double = 1e-8): Array[Byte] =
    df.agg(graft.sketch.BloomFunctions.bloom_agg(key, expectedItems, fpp).as("b"))
      .head().getAs[Array[Byte]](0)

  /** Drop rows whose `key` is (possibly) in a [[buildExactIndex]] blob:
    * the probe side of cross-batch exact dedup. Pure narrow filter —
    * the index rides the plan as a blob literal (deserialized once per
    * executor), so this runs at scan speed on a 100-TB batch and is
    * directly usable under Structured Streaming. */
  def dropSeenExact(df: DataFrame, key: Column, index: Array[Byte]): DataFrame = {
    graft.sketch.BloomSketch.deserialize(index) // validate geometry early
    // NULL keys never index and never drop (a NULL probe would NULL the
    // predicate and silently discard the row)
    df.where(key.isNull ||
      !graft.sketch.BloomFunctions.bloom_contains(lit(index), key))
  }

  /** OR-merge [[buildExactIndex]] shard blobs into one index — the
    * documented path for corpora past one filter's capacity: build each
    * shard over a key range (or one per ingestion batch) with the SAME
    * (expectedItems, fpp) geometry, then fold them into a single blob
    * whose probe semantics are exactly "seen by ANY shard". Bitwise OR
    * preserves the no-false-negative contract (a set bit never clears);
    * the effective fpp degrades with total fill, so size
    * `expectedItems` to the UNION's cardinality, not one shard's.
    * Mismatched geometries throw rather than silently corrupt. */
  def mergeExactIndexes(shards: Seq[Array[Byte]]): Array[Byte] = {
    require(shards.nonEmpty, "mergeExactIndexes needs at least one shard")
    shards.map(graft.sketch.BloomSketch.deserialize)
      .reduce(_ merge _).serialize()
  }

  /** Bloom index over a corpus's PARAGRAPHS (split on `sep`,
    * whitespace-only paragraphs excluded — they are structure, not
    * content): the build side of Dolma-style paragraph-mode cross-batch
    * dedup. Size `expectedItems` to the paragraph count, not the doc
    * count. One partial-combined aggregation, no shuffle of text. */
  def buildParagraphIndex(df: DataFrame, textCol: String,
                          expectedItems: Long, fpp: Double = 1e-8,
                          sep: String = "\n\n"): Array[Byte] =
    buildExactIndex(
      df.select(explode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as("_p"))
        .where(trim(col("_p")) =!= ""),
      col("_p"), expectedItems, fpp)

  /** Dolma-style PARAGRAPH-mode cross-batch dedup: remove each paragraph
    * whose exact text is in a [[buildParagraphIndex]] blob, KEEPING the
    * document (the cross-batch sibling of [[dedupLines]]' within-batch
    * boilerplate census — the published two-level shape: dedupe whole
    * documents first, then repeated paragraphs). Paragraph order is
    * preserved; whitespace-only paragraphs survive (structure); a doc
    * whose every paragraph is indexed becomes the empty string (the
    * caller's quality floor handles it); NULL text → "". Pure narrow
    * filter — the blob rides the plan as a literal, no joins, no
    * shuffle, scan speed on a 100-TB batch, streaming-safe. */
  def dropSeenParagraphs(df: DataFrame, textCol: String, index: Array[Byte],
                         sep: String = "\n\n"): DataFrame = {
    graft.sketch.BloomSketch.deserialize(index) // validate geometry early
    val paras = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    val kept = filter(paras, p => trim(p) === "" ||
      !graft.sketch.BloomFunctions.bloom_contains(lit(index), p))
    df.withColumn(textCol, array_join(kept, sep))
  }

  /** Canonical-row selection: one surviving row per duplicate group, the
    * minimum of `order` (make it total — e.g. include the id — or the
    * survivor is tie-arbitrary). Implemented as a `min_by` hash aggregate,
    * NOT a window: partial (map-side) combine means the shuffle carries
    * one candidate row per (key × task) instead of sorting every row of
    * every group — the difference between an aggregation and a full
    * repartition+sort at 10^12 rows. */
  def keepCanonical(df: DataFrame, key: Column, order: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.map(col).toSeq: _*)
    df.groupBy(key.as("_key"))
      .agg(min_by(payload, struct(order: _*)).as("_row"))
      .select(col("_row.*"))
  }

  /** Deterministic affine hash family h_i(x) = (a_i * x + b_i) mod
    * (2^31 - 1) with a,b < 2^31 over 31-bit shingle ids, so a*x+b < 2^63
    * never overflows a Long (ANSI-safe — no 128-bit arithmetic needed).
    * The modulus must be SMALL relative to a*x so the product wraps many
    * times (~a*x/p ≈ 2^31 wraps): an earlier 2^61-1 modulus wrapped at
    * most 4 times, leaving the hash rank-correlated with the raw id —
    * whichever document shingle had the numerically smallest id won most
    * of the 64 argmins at once, making band agreements all-or-nothing
    * per pair instead of independent (measured: 5% of jaccard-0.87 pairs
    * collided on ZERO of 16 bands; with the wrapping family, zero such
    * pairs and the band-agreement histogram is exactly Binomial(16, j^r)).
    * Seeded driver-side, so every run and every executor agrees. Exposed
    * (package-private) so oracle harnesses can restate the exact family
    * in SQL. */
  private[graft] def hashFamily(k: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
                 rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Default shingle-id hash: xxhash64 masked to 31 bits (the affine
    * family's input domain — see [[hashFamily]]). */
  val xxhashShingleId: Column => Column =
    s => xxhash64(s).bitwiseAND(lit(0x7FFFFFFFL))

  /** Unmasked xxhash64 shingle id — the SimHash default, where all 64
    * bits feed the majority vote. */
  val xxhashShingleId64: Column => Column = s => xxhash64(s)

  /** Map the PUBLISHED id families onto the element-wise
    * [[graft.compile.HashElements]] kernel (a reference-equality match on
    * the vals above); a custom lambda keeps the `transform` fallback. The
    * kernel path exists because a lambda HOF in the projection runs
    * interpreted per element AND ejects the stage from whole-stage
    * codegen ([[graft.compile.KernelCallCodegen]]). */
  private def shingleIdsKernel(sh: Column, shingleId: Column => Column,
                               mask31: Boolean): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def kernel(kind: String, mask: Boolean): Column =
      ColumnBridge.column(graft.compile.HashElements(
        ColumnBridge.expression(sh), kind, mask))
    // xxhashShingleId masks ITSELF (its published value is 31-bit), so
    // its kernel twin masks regardless of the caller's mask31
    if (shingleId eq xxhashShingleId) kernel("xx64", mask = true)
    else if (shingleId eq xxhashShingleId64) kernel("xx64", mask31)
    else if (shingleId eq portableShingleId) kernel("fp31", mask31)
    else if (shingleId eq portableShingleId62) kernel("fp62", mask31)
    else if (mask31) transform(sh, s => shingleId(s).bitwiseAND(lit(0x7FFFFFFFL)))
    else transform(sh, s => shingleId(s))
  }

  /** Portable shingle-id hash: a 31-bit polynomial rolling hash over code
    * points — weaker mixing than xxhash64 but restateable verbatim in any
    * SQL engine (one `list_reduce`), which is what lets the LSH gate
    * queries carry an exact independent DuckDB oracle. */
  val portableShingleId: Column => Column =
    s => TextAnalysis.fingerprint(s)

  /** Portable 62-bit shingle hash for SimHash: two independent polynomial
    * hashes (multipliers 31 and 37) packed as lo | hi<<31. Bits 62-63 are
    * always zero; the majority vote just leaves them unset. */
  val portableShingleId62: Column => Column =
    s => TextAnalysis.fingerprint(s) +
      TextAnalysis.fingerprint(s, 37L) * lit(2147483648L)

  /** MinHash signature (k values) of a text column's n-gram shingle set,
    * computed by the custom [[graft.compile.MinHashSignature]] expression:
    * one JVM loop per row updating all k slots per shingle. The equivalent
    * Catalyst-HOF fold (`aggregate` + k-wide `zip_with`) runs interpreted
    * with a fresh boxed k-array per element. */
  def minhashSignature(text: Column, shingleN: Int = 3, k: Int = 64,
                       seed: Long = 42L,
                       shingleId: Column => Column = xxhashShingleId): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // mask ids to 31 bits HERE, not in the id functions: the affine
    // kernel's no-overflow bound (x·a + b < 2^63) and its thorough-
    // wrapping requirement (see hashFamily) need x < 2^31, and a
    // caller-supplied wide hash (e.g. portableShingleId62, meant for
    // SimHash) would otherwise silently overflow into garbage signatures
    val ids = shingleIdsKernel(shingles(text, shingleN), shingleId,
      mask31 = true)
    val fam = hashFamily(k, seed)
    ColumnBridge.column(graft.compile.MinHashSignature(
      ColumnBridge.expression(ids), fam.map(_._1), fam.map(_._2)))
  }

  /** LSH candidate pairs from MinHash signatures, verified with exact
    * n-gram Jaccard. Output: (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= threshold. Input df must have (idCol, textCol).
    *
    * Scale shape: the band self-join carries ONLY (id, band, bucket) — no
    * shingle arrays cross the band shuffle or sit in the cache. The bucket
    * key is the band's raw signature slice (exact, no hash-bucket
    * collisions, and restateable by a SQL oracle). Candidate id pairs are
    * deduped and checkpointed at call time by [[eagerBucketJoin]] (they
    * are the smallest intermediate in the pipeline — bounded by LSH
    * collisions), and only then re-joined to the per-doc shingle sets for
    * exact Jaccard verification; with pairs small, that re-join
    * broadcasts the pairs and the shingles never shuffle. The checkpoint
    * truncates the pairs' lineage into executor-local blocks: an executor
    * lost afterwards cannot recompute them. */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 3,
                        bands: Int = 16, rowsPerBand: Int = 4,
                        seed: Long = 42L,
                        shingleId: Column => Column = xxhashShingleId,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandedBuckets(df, idCol, textCol, shingleN, bands,
      rowsPerBand, seed, shingleId)
    val pairIds = eagerBucketJoin("minhashDuplicates", BandKeys, maxBucket,
      Seq(BucketSide("", banded))) { case Seq(b) => bandPairs(b) }

    // re-join shingles by id for the exact verification pass
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val candidates = pairIds
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    verifyJaccard(candidates, threshold)
  }

  /** (id, band, bucket) frame: one row per document per band, bucket =
    * the band's raw signature slice. Exposed for plan audits. */
  private[graft] def bandedBuckets(df: DataFrame, idCol: String, textCol: String,
                                   shingleN: Int, bands: Int, rowsPerBand: Int,
                                   seed: Long,
                                   shingleId: Column => Column): DataFrame =
    df.select(
      col(idCol).as("id"),
      minhashSignature(col(textCol), shingleN, bands * rowsPerBand, seed, shingleId).as("sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map { b =>
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
        }: _*)).as(Seq("band", "bucket")))

  /** Hot-bucket guard threshold: at web scale one degenerate bucket
    * (empty docs, boilerplate, zero vectors — all hashing identically)
    * makes the bucket self-join O(m²) in a single task, the classic
    * LSH-dedup OOM. Buckets above the cap are DROPPED from the pair join
    * (their members still pair through their other, non-degenerate
    * bands/chunks): ≥ maxBucket documents agreeing on a whole band are an
    * exact-duplicate-style group better handled by [[exactDuplicates]] on
    * the text key — [[oversizedBuckets]] exposes them for that routing. */
  val DefaultMaxBucket: Int = 100000

  /** (keyCols..., n) of buckets the guard drops (population > maxBucket);
    * route these groups to [[exactDuplicates]]-style handling. */
  private[graft] def oversizedBuckets(bucketed: DataFrame, keys: Seq[String],
                                      maxBucket: Int): DataFrame =
    bucketed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket)

  /** Public routing surface for the hot-bucket guard: the members of every
    * band bucket [[minhashDuplicates]] would drop at this cap, as
    * (band, bucket, id) rows (linear in members — no per-bucket pair
    * blow-up). ≥ maxBucket docs agreeing on a whole MinHash band are
    * near-identical by construction; handle them as duplicate GROUPS
    * (e.g. `keepCanonical` keyed on the bucket) instead of pairs. */
  def hotBandBuckets(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                     seed: Long = 42L,
                     shingleId: Column => Column = xxhashShingleId,
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // window count instead of agg+self-join: the (expensive) signature
    // subtree is computed ONCE — this lazy helper has no persist to lean on
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
    bandedBuckets(df, idCol, textCol, shingleN, bands, rowsPerBand, seed, shingleId)
      .withColumn("_n", count(lit(1)).over(w))
      .where(col("_n") > maxBucket)
      .select("band", "bucket", "id")
  }

  /** Keep only rows of buckets within the population cap. The count
    * aggregation and the pair join partition on the same keys, so the
    * exchange is reused — the guard costs one cheap agg over the
    * already-narrow bucketed frame, not an extra full shuffle.
    * (Shared with [[Similarity.cosineDuplicates]].) */
  private[ops] def capBuckets(bucketed: DataFrame, keys: Seq[String],
                              maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) bucketed
    else {
      val ok = bucketed.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n"))
        .where(col("_n") <= maxBucket)
      bucketed.join(ok, keys).drop("_n")
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** The (band, bucket) key of a [[bandedBuckets]] frame. */
  private val BandKeys = Seq("band", "bucket")

  /** One side of a bucket join. `tag` names it in the census log ("" for
    * a self-join); `cache` is true when this call computed the frame, so
    * the census and the join share one evaluation of it. A stored index
    * frame ([[graft.pipeline.IndexStore]]) is read, not cached. */
  private final case class BucketSide(tag: String, frame: DataFrame,
                                      cache: Boolean = true)

  /** The hot-bucket census: ONE job over every side's bucket frame
    * collects the buckets above the cap (few by construction: each holds
    * more than `maxBucket` rows), logs each side's count of hot buckets
    * and their member rows at one site (no silent caps), and says which
    * sides have any. On a side with none, [[capBuckets]] is provably the
    * identity, so its recount aggregation and join are skipped (guide
    * §2.4). Run it on cached sides: it reads each side once. */
  private def hotBucketCensus(op: String, keys: Seq[String], maxBucket: Int,
                              sides: Seq[BucketSide]): Seq[Boolean] =
    if (maxBucket == Int.MaxValue) sides.map(_ => false)
    else {
      val hot = sides.zipWithIndex
        .map { case (s, i) =>
          oversizedBuckets(s.frame, keys, maxBucket).select(lit(i).as("_side"), col("n"))
        }
        .reduce(_ unionByName _).collect()
      sides.zipWithIndex.map { case (s, i) =>
        val ns = hot.collect { case r if r.getInt(0) == i => r.getLong(1) }
        if (ns.nonEmpty)
          log.warn(s"$op${s.tag}: ${ns.length} hot buckets " +
            s"(${ns.sum} member rows, over $maxBucket each) kept out of the " +
            "pair join; route them via exactDuplicates")
        ns.nonEmpty
      }
    }

  /** The eager lifecycle of every bucket-join operator: persist the sides
    * this call computed, run [[hotBucketCensus]] over all sides (its job
    * fills those caches), cap only the sides with a hot bucket, `join`
    * the sides (in `sides` order), checkpoint the pairs eagerly, then
    * release the caches. The pairs are the smallest intermediate (bounded
    * by bucket collisions), so the checkpoint bounds every cache's
    * lifetime to this call; its own blocks are freed by the ContextCleaner
    * once the result is unreferenced. */
  private def eagerBucketJoin(op: String, keys: Seq[String], maxBucket: Int,
                              sides: Seq[BucketSide])
                             (join: Seq[DataFrame] => DataFrame): DataFrame = {
    val cached = sides.filter(_.cache).map(_.frame.persist())
    try {
      val hot = hotBucketCensus(op, keys, maxBucket, sides)
      join(sides.zip(hot).map { case (s, h) =>
        if (h) capBuckets(s.frame, keys, maxBucket) else s.frame
      }).localCheckpoint(true)
    } finally cached.foreach(_.unpersist(false))
  }

  /** Bucket self-join: only docs agreeing on a full band collide; output
    * is the deduped (id_a, id_b) candidate list — no shingles, no
    * signatures cross this shuffle. The hot-bucket cap is applied to
    * `banded` before this join, by [[eagerBucketJoin]] or
    * [[dedupCorpus]]. Exposed for plan audits. */
  private[graft] def bandPairs(banded: DataFrame): DataFrame = {
    val a = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, BandKeys)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Cross-corpus near-dup pairs: each NEW document against an existing
    * REFERENCE corpus (the incremental-ingestion shape — a day's crawl is
    * deduped against the index, not the whole corpus against itself).
    * Output: (new_id, ref_id, jaccard) with jaccard >= threshold.
    *
    * Same de-payloaded discipline as [[minhashDuplicates]]: both sides
    * band to (id, band, bucket); the band join is new×ref (no self-join,
    * no id ordering); candidate id pairs dedup while narrow and are
    * checkpointed at call time; shingles re-join by id for the exact
    * verification. The hot-bucket cap applies to BOTH sides' bucket
    * populations, and the census logs each side's hot buckets. At scale
    * the reference side's banded frame is the thing to precompute and
    * persist — it is a pure function of the reference corpus
    * ([[crossCorpusDuplicatesIndexed]] runs the same body over it). */
  def crossCorpusDuplicates(newDf: DataFrame, refDf: DataFrame,
                            idCol: String, textCol: String,
                            threshold: Double, shingleN: Int = 3,
                            bands: Int = 16, rowsPerBand: Int = 4,
                            seed: Long = 42L,
                            shingleId: Column => Column = xxhashShingleId,
                            maxBucket: Int = DefaultMaxBucket): DataFrame =
    crossCorpusBody(newDf,
      BucketSide("(ref)", bandedBuckets(refDf, idCol, textCol, shingleN, bands,
        rowsPerBand, seed, shingleId)),
      refDf.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh")),
      idCol, textCol, threshold, shingleN, bands, rowsPerBand, seed, shingleId,
      maxBucket)

  /** [[crossCorpusDuplicates]] against a PRECOMPUTED reference index —
    * the production incremental-ingestion shape: the reference side's
    * banded frame and shingle sets are pure functions of the reference
    * corpus, persisted once via [[graft.pipeline.IndexStore]] and reused
    * by every new batch, so ingestion never re-hashes the (much larger)
    * existing corpus. `refBanded` must be (id, band, bucket) and
    * `refShingles` (id, sh), both produced with the SAME
    * (shingleN, bands, rowsPerBand, seed, shingleId) parameters passed
    * here — the manifest-checked load surface enforces that. The stored
    * frames are read, not cached. Output is identical to
    * [[crossCorpusDuplicates]] on the original reference. */
  def crossCorpusDuplicatesIndexed(newDf: DataFrame,
                                   refBanded: DataFrame, refShingles: DataFrame,
                                   idCol: String, textCol: String,
                                   threshold: Double, shingleN: Int = 3,
                                   bands: Int = 16, rowsPerBand: Int = 4,
                                   seed: Long = 42L,
                                   shingleId: Column => Column = xxhashShingleId,
                                   maxBucket: Int = DefaultMaxBucket): DataFrame =
    crossCorpusBody(newDf, BucketSide("(ref)", refBanded, cache = false),
      refShingles, idCol, textCol, threshold, shingleN, bands, rowsPerBand,
      seed, shingleId, maxBucket)

  /** The one cross-corpus body: the new batch's banded frame joins `ref`
    * (asymmetric, both sides capped), and the pairs verify against the
    * shared Jaccard path (oracle-proven arithmetic lives in ONE place). */
  private def crossCorpusBody(newDf: DataFrame, ref: BucketSide,
                              refShingles: DataFrame, idCol: String,
                              textCol: String, threshold: Double,
                              shingleN: Int, bands: Int, rowsPerBand: Int,
                              seed: Long, shingleId: Column => Column,
                              maxBucket: Int): DataFrame = {
    val bn = BucketSide("(new)", bandedBuckets(newDf, idCol, textCol, shingleN,
      bands, rowsPerBand, seed, shingleId))
    val pairs = eagerBucketJoin("crossCorpusDuplicates", BandKeys, maxBucket,
        Seq(bn, ref)) { case Seq(n, r) =>
      n.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(r.select(col("band"), col("bucket"), col("id").as("id_b")), BandKeys)
        .select("id_a", "id_b")
        .dropDuplicates("id_a", "id_b")
    }
    val shN = newDf.select(col(idCol).as("id_a"),
      shingles(col(textCol), shingleN).as("sh_a"))
    val shR = refShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
    verifyJaccard(pairs.join(shN, Seq("id_a")).join(shR, Seq("id_b")), threshold)
      .withColumnRenamed("id_a", "new_id")
      .withColumnRenamed("id_b", "ref_id")
  }

  /** Edge-count gate below which [[duplicateGroups]] solves the
    * components with a driver-side union-find instead of the iterative
    * distributed loop: the loop costs several shuffle stages PER ROUND
    * regardless of size, which dwarfs a bounded collect for small pair
    * sets (the broadcast-join-threshold philosophy — pick the physical
    * strategy by size). 1M edges ≈ 16 MB of ids, well inside driver
    * budget; the labels are identical by construction (min reachable id
    * under the same ordering). */
  val LocalGroupsMaxEdges: Int = 1000000

  /** Connected components over an undirected duplicate-pair list
    * (id_a, id_b) → (id, group_id), group_id = the minimum id reachable —
    * the canonical cluster key for pair-based dedup (feed to
    * [[keepCanonical]] to pick survivors). Each round: label propagation
    * to the neighborhood minimum (one narrow union + hash aggregate)
    * followed by ONE pointer-jumping step (`group_id → label(group_id)`,
    * a self-join on the label table — path halving), so label chains
    * shorten geometrically and convergence is O(log diameter) rounds,
    * not O(diameter): near-clique dedup clusters converge in 2-3 rounds
    * as before, and the long-chain components a cosine-threshold pair
    * graph produces (a₁~a₂~…~aₘ) no longer hit the round bound. Labels
    * are `localCheckpoint`ed per round so the iterative plan's lineage
    * stays flat instead of growing a join tree per round — the standard
    * Spark iterative-algorithm discipline. `maxIter` bounds pathological
    * graphs; throws if not converged (a silent partial clustering would
    * merge nothing worse than under-grouping, but callers must know). */
  def duplicateGroups(pairs: DataFrame, maxIter: Int = 25,
                      localMaxEdges: Int = LocalGroupsMaxEdges): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    // size-gated local solve: probe with limit+1 — if the whole edge set
    // fits, we already hold it and union-find replaces the round loop
    // outright (one bounded job instead of jobs-per-round). Restricted to
    // integral ids so the driver's ordering provably matches Spark's min.
    val probe: Array[org.apache.spark.sql.Row] =
      if (integral && localMaxEdges > 0)
        pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(localMaxEdges + 1).collect()
      else Array.empty
    if (integral && localMaxEdges > 0 && probe.length <= localMaxEdges) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      probe.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        // union by MIN id so every root is its component's minimum —
        // exactly the distributed loop's converged label
        if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      }
      import scala.jdk.CollectionConverters._
      val rows = parent.keySet().asScala.toSeq.map(id =>
        org.apache.spark.sql.Row(id, find(id)))
      // nullable = true matches the distributed loop's aggregate output
      // schema exactly (gate artifacts hash the dumped parquet schema)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("group_id",
          org.apache.spark.sql.types.LongType, nullable = true)))
      val out = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      return (if (idType == org.apache.spark.sql.types.IntegerType)
        out.select(col("id").cast("int").as("id"),
          col("group_id").cast("int").as("group_id"))
      else out)
    }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("group_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // the self rows of the union carry the PREVIOUS label as `_old`
      // (exactly one self row per id — labels has unique ids), so the
      // changed-label count folds into the propagation aggregate and the
      // round spends no separate join + isEmpty action on convergence.
      // The aggregate is materialized eagerly because the pointer-jump
      // join reads it TWICE — unpersisted, both join sides would
      // re-evaluate the whole edges-join-labels subtree (2x the round's
      // shuffle at scale).
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("group_id"),
          lit(null).cast(labels.schema("group_id").dataType).as("_old"))
        .union(labels.select(col("id"), col("group_id"),
          col("group_id").as("_old")))
        .groupBy("id").agg(min("group_id").as("group_id"), max("_old").as("_old"))
        .localCheckpoint(true)
      // pointer jumping: every label is itself a node id, so follow it to
      // that node's (already ≤) label; the left join never misses because
      // labels never leave the component's node set
      val next = prop
        .join(prop.select(col("id").as("group_id"), col("group_id").as("_jump")),
          Seq("group_id"), "left")
        .select(col("id"), coalesce(col("_jump"), col("group_id")).as("group_id"),
          (coalesce(col("_jump"), col("group_id")) =!= col("_old")).as("_changed"))
        .localCheckpoint(false) // lazy: the count action below materializes it
      converged = next.agg(count(when(col("_changed"), lit(1)))).head().getLong(0) == 0L
      // the superseded round's checkpoint blocks are freed by the
      // ContextCleaner once dereferenced here (Dataset.unpersist cannot
      // release localCheckpoint storage); each copy is two long columns
      // over the clustered ids, and rounds are bounded by maxIter
      labels = next.select(col("id"), col("group_id"))
      iter += 1
    }
    require(converged, s"duplicateGroups did not converge in $maxIter rounds")
    labels
  }

  /** One-call near-duplicate REMOVAL: the full production composition —
    * MinHash banding → hot-bucket split → exact-Jaccard-verified pairs →
    * connected components → min-id survivor per cluster → anti-join.
    * Returns the deduplicated corpus (all columns of `df`).
    *
    * Skew handling is semantic here, not just protective: members of an
    * oversized band bucket (≥ maxBucket docs agreeing on a whole MinHash
    * band — near-identical by construction) are clustered as a GROUP via
    * star edges to the bucket minimum (O(m) edges, not O(m²) pairs), so
    * the degenerate boilerplate group still collapses to one survivor
    * while healthy buckets take the exact-verified pair path.
    *
    * One banding pass (persisted and released); pairs persisted while
    * the components are solved (the CC iteration re-reads them each
    * round) and released before return; the final anti-join broadcasts
    * the (small) loser set, so the corpus never shuffles.
    *
    * `df` is read three times: by the banding, by the shingle verify and
    * by the final anti-join. Nothing here caches it, so a caller whose
    * `df` is an expensive lazy plan should materialize it first
    * (`localCheckpoint(true)` or `persist()`), as [[Curation.curate]]
    * does; a plain file scan is cheap enough to read three times. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
                  threshold: Double, shingleN: Int = 3,
                  bands: Int = 16, rowsPerBand: Int = 4,
                  seed: Long = 42L,
                  shingleId: Column => Column = xxhashShingleId,
                  maxBucket: Int = DefaultMaxBucket,
                  maxIter: Int = 25): DataFrame = {
    val banded = bandedBuckets(df, idCol, textCol, shingleN, bands,
      rowsPerBand, seed, shingleId).persist()
    // eager hot-bucket census (fills the banding cache): when no bucket
    // is hot, the pair join skips the cap recount AND the star-edge
    // branch collapses to a statically-empty frame — the common cold
    // case pays one bounded census job instead of two extra joins
    val anyHot = hotBucketCensus("dedupCorpus", BandKeys, maxBucket,
      Seq(BucketSide("", banded))).head
    val pairIds = bandPairs(
      if (anyHot) capBuckets(banded, BandKeys, maxBucket) else banded)
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val verified = verifyJaccard(
      pairIds
        .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b")),
      threshold).select("id_a", "id_b")
    // hot-group star edges: ONE aggregate computes both the population
    // and the min id per bucket (same (band, bucket) partitioning as the
    // cap's count, so the exchange is shared — no window sort); skipped
    // entirely when the guard is off or the census found no hot bucket
    val hotPairs =
      if (!anyHot) verified.where(lit(false))
      else {
        val hot = banded.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_n"), min("id").as("_gmin"))
          .where(col("_n") > maxBucket)
          .select("band", "bucket", "_gmin")
        banded.join(hot, Seq("band", "bucket"))
          .where(col("id") =!= col("_gmin"))
          .select(col("_gmin").as("id_a"), col("id").as("id_b"))
          .distinct()
      }
    // held only while the components are solved: the local path collects
    // the pairs, the distributed path checkpoints its labels, so neither
    // result reads them again and the cache is released on return
    val allPairs = verified.union(hotPairs).persist()
    val groups = try {
      // fills the pair cache while the band cache serves it; an RDD count
      // is one job, where Dataset.count adds a final-aggregate exchange
      allPairs.rdd.count()
      banded.unpersist(false)
      duplicateGroups(allPairs, maxIter)
    } finally allPairs.unpersist(false)
    val losers = groups.where(col("id") =!= col("group_id"))
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard over candidate pairs carrying shingle arrays.
    * Deliberately NOT [[Barrier.opaque]]-protected: the pushed threshold
    * filter lands in the pair JOIN's condition, where it short-circuits
    * row construction for non-duplicate pairs — measured 2x faster than
    * blocking the pushdown (the barrier pays off only for deep chains
    * under stacked filters, the [[Curation]] shape). */
  private def verifyJaccard(pairs: DataFrame, threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val union = size(col("sh_a")) + size(col("sh_b")) -
      size(array_intersect(col("sh_a"), col("sh_b")))
    pairs
      .withColumn("jaccard", Rounding.roundAt(inter / union, 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Brute-force n-gram Jaccard duplicates within a blocking key (for
    * oracle checks and small candidate sets — O(block²)). */
  def ngramJaccardDuplicates(df: DataFrame, idCol: String, textCol: String,
                             blockCol: Column, threshold: Double,
                             shingleN: Int = 3): DataFrame = {
    val t = df.select(col(idCol).as("id"), blockCol.as("block"),
      shingles(col(textCol), shingleN).as("sh"))
    // the block join broadcasts one side, so every stream row pays
    // O(block) set intersections in the pushed join condition — an
    // under-split stream side (one unsplittable input file) serializes
    // the whole O(block²) verification into a single task (guide §2.5).
    // Spread the stream side up to the default parallelism, hash-keyed
    // on the id; a well-split input is untouched.
    val spread = ScanSpread(t, Seq(col("id")))
    val a = spread.select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = t.select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"))
    verifyJaccard(a.join(b, Seq("block")).where(col("id_a") < col("id_b")), threshold)
  }

  /** 64-bit SimHash of the shingle set: sign of the per-bit majority vote
    * of shingle hashes, computed by the custom [[graft.compile.SimHash64]]
    * expression — a single plain-JVM loop per row. The equivalent
    * Catalyst-HOF fold runs interpreted with a 64-slot allocation per
    * element and is ~n×64 boxed ops per row. */
  def simhash(text: Column, shingleN: Int = 3,
              shingleId: Column => Column = xxhashShingleId64): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val ids = shingleIdsKernel(shingles(text, shingleN), shingleId,
      mask31 = false)
    ColumnBridge.column(graft.compile.SimHash64(ColumnBridge.expression(ids)))
  }

  /** SimHash near-duplicate candidates: Hamming(sig_a, sig_b) <= maxDist,
    * blocked on 16-bit chunks (pigeonhole: dist<=3 ⇒ ≥1 of 4 chunks equal).
    * Output: (id_a, id_b, hamming). The chunk self-join carries only one
    * long signature per side, and the pairs are checkpointed at call time
    * by [[eagerBucketJoin]] — see [[minhashDuplicates]]. */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 3, shingleN: Int = 3,
                        shingleId: Column => Column = xxhashShingleId64,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // cached by the join: its two sides would otherwise each recompute
    // the signature fold, the expensive part
    val chunked = df.select(col(idCol).as("id"),
        simhash(col(textCol), shingleN, shingleId).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until 4).map { c =>
          shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL)
        }: _*)).as(Seq("chunk", "ckey")))
    // hot-chunk guard: identical/near-empty docs all share every chunk key
    eagerBucketJoin("simhashDuplicates", Seq("chunk", "ckey"), maxBucket,
        Seq(BucketSide("", chunked))) { case Seq(c) =>
      val a = c.select(col("chunk"), col("ckey"),
        col("id").as("id_a"), col("sig").as("sig_a"))
      val b = c.select(col("chunk"), col("ckey"),
        col("id").as("id_b"), col("sig").as("sig_b"))
      a.join(b, Seq("chunk", "ckey"))
        .where(col("id_a") < col("id_b"))
        .dropDuplicates("id_a", "id_b")
        .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .where(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
    }
  }

  /** C4-style line-level dedup: every line whose exact text occurs in at
    * least `minDocs` DISTINCT documents (site boilerplate — navigation,
    * cookie banners, license footers) is removed from every document;
    * line order is preserved and documents are never dropped (a doc whose
    * every line is boilerplate becomes the empty string — the caller's
    * quality filter handles it from there). Whitespace-only lines are
    * structure, not boilerplate: they never enter the hot set, so
    * paragraph breaks survive (a blank line occurs in virtually every
    * document and would otherwise be stripped corpus-wide).
    *
    * Scale shape — one path: the exploded (doc, line) frame is exchanged
    * twice to derive the hot set (per-doc distinct, then the per-line
    * doc count, both with partial combine); the hot set is collected
    * into ONE row and broadcast back (guide §2.4: the build side is
    * small, so the corpus never shuffles for the rebuild). Every input
    * row then filters its own split line array against that row, so the
    * output is one row PER INPUT ROW: a repeated id stays repeated, not
    * merged (ingestion dedup is [[keepCanonical]]'s job). The hot set
    * must fit one broadcast row, and membership is `array_contains` over
    * it, so the per-line cost grows linearly with the hot-set size.
    * Returns (idCol, textCol) only.
    *
    * Skew guard: a routing policy, not protection for a sort — there is
    * no per-id stage. The cap is total exploded LINES per id (the
    * [[HotKeys.hotKeys]] count over this operator's exploded shape), so
    * it covers both a pathological giant document and an id ingested
    * many times. [[HotKeys.SkewGuard.Raise]] counts at call time and
    * throws; [[HotKeys.SkewGuard.Drop]] removes every row of an id over
    * the cap (a NULL id included) from the OUTPUT and from the
    * repeated-line CENSUS: a boilerplate line shared by the dropped id
    * plus only `minDocs - 1` survivors no longer reaches the hot
    * threshold, so surviving docs' dedup can differ from an unguarded
    * run (recover dropped ids via [[HotKeys.hotKeys]] on the same
    * exploded shape and route them to a degenerate path). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 3, sep: String = "\n",
                 guard: HotKeys.SkewGuard = HotKeys.SkewGuard.Off): DataFrame = {
    require(minDocs >= 2,
      s"minDocs ($minDocs) < 2 would mark every line hot and blank the corpus")
    // NULL text → "" so the document keeps its (empty) row
    val lineArr = split(coalesce(col(textCol), lit("")),
      java.util.regex.Pattern.quote(sep))
    def lines(d: DataFrame) = d.select(col(idCol).as("id"), explode(lineArr).as("line"))
    val kept = HotKeys.applyGuardBy(df, Seq(idCol), lines(df), Seq("id"),
      guard, "dedupLines")
    val hotArr = lines(kept).where(trim(col("line")) =!= "")
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("_docs"))
      .where(col("_docs") >= minDocs)
      .agg(collect_list(col("line")).as("_graft_hot"))
    kept.join(broadcast(hotArr))
      .select(col(idCol), array_join(
        filter(lineArr, l => !array_contains(col("_graft_hot"), l)), sep).as(textCol))
  }

  /** INTRA-document line dedup (the other half of the published C4 rule:
    * within one page, keep only the first occurrence of each non-blank
    * line; [[dedupLines]] is the corpus-wide half). A pure narrow
    * Column — zero shuffle, scan speed at any corpus size: lines whose
    * first index in the split equals their own position survive; blank
    * lines always survive (they are structure, not content). NULL text
    * stays NULL. */
  def dedupLinesWithinDoc(text: Column, sep: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(sep))
    // repeated lines become NULL in the zip_with and array_join WITHOUT
    // a null-replacement argument drops null elements (and their
    // separators) — the exact "delete the repeated line" reading
    array_join(
      zip_with(lines, sequence(lit(0), size(lines) - 1),
        (l, i) => when(trim(l) === "" || array_position(lines, l) === i + 1, l)),
      sep)
  }

  /** Benchmark decontamination: corpus docs sharing at least `minMatches`
    * DISTINCT word n-grams with the benchmark set (the published
    * eval-overlap filter for training corpora — n-gram collision against
    * held-out benchmarks). Output: (id, matched_ngrams).
    *
    * Scale shape: benchmark n-gram sets are small by construction (eval
    * suites, not corpora) — the distinct gram set is BROADCAST, so the
    * 100-TB corpus side never shuffles: tokenize → explode → broadcast
    * hash semi-join → per-doc count with map-side partial aggregation.
    * The only exchange carries (id, partial count). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    shingleN: Int = 3, minMatches: Int = 1): DataFrame = {
    // shingles() maps empty/NULL-text docs to [""] — a stray blank line
    // in the benchmark file would otherwise flag EVERY short corpus doc
    // (whose shingle set is also [""]) as contaminated
    val benchGrams = broadcast(benchmark
      .select(explode(shingles(col(benchTextCol), shingleN)).as("g"))
      .where(col("g") =!= "")
      .distinct())
    // shingles() is per-doc distinct, so the post-join count is the number
    // of DISTINCT grams of this doc that hit the benchmark set
    corpus
      .select(col(idCol).as("id"), explode(shingles(col(textCol), shingleN)).as("g"))
      .join(benchGrams, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("matched_ngrams"))
      .where(col("matched_ngrams") >= minMatches)
  }

  // ------------------------------------------------------------------
  // exact-substring span dedup (within-corpus repeated substrings)
  // ------------------------------------------------------------------

  /** Positional window-gram ids via the one-pass
    * [[graft.compile.WordWindowIds]] kernel (no per-window string
    * materialization; fewer than w words → empty array → no rows). */
  private[graft] def windowIds(ws: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.compile.WordWindowIds(
      ColumnBridge.expression(ws), n))
  }

  /** The original Column formulation of [[windowIds]] (parity oracle):
    * the 62-bit [[portableShingleId62]] of each slice-and-join window;
    * null-propagating like the kernel (NULL words → NULL, not empty). */
  private[graft] def windowIdsColumns(ws: Column, n: Int): Column =
    when(ws.isNull, lit(null).cast("array<long>"))
      .when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n),
          i => portableShingleId62(concat_ws(" ", slice(ws, i + 1, lit(n))))))
      .otherwise(array().cast("array<long>"))

  /** Positional word w-gram frame: one (id, pos, gid) row per window
    * start (0-based, in normalized word space), gid = the portable
    * 62-bit portable hash of the window text ([[portableShingleId62]] —
    * wide enough that billions of window OCCURRENCES don't false-share
    * at birthday rates the way a 31-bit id would). Unlike [[shingles]] this is
    * NOT distinct — positions are the point. */
  private def spanFrame(df: DataFrame, idCol: String, textCol: String,
                        windowWords: Int): DataFrame =
    df.select(col(idCol).as("id"),
      TextAnalysis.words(col(textCol)).as("_w"))
      .select(col("id"),
        posexplode(windowIds(col("_w"), windowWords)).as(Seq("pos", "gid")))

  /** Exact-substring duplicate spans: every word w-gram occurrence whose
    * gram appears in at least `minDocs` DISTINCT documents — the
    * published exact-substring self-dedup signal for training corpora
    * (repeated passages, licence blocks, templated spans; the
    * document-level analog is [[dedupLines]], the cross-set analog is
    * [[decontaminate]]). Returns (idCol, pos, gid) with pos the 0-based
    * window start in normalized word space.
    *
    * Scale shape: the exploded span frame is narrow (id, pos, 62-bit
    * gid); the shared-gram set derives from a per-doc-distinct +
    * per-gram-count aggregate (both partial-combine) and is BROADCAST
    * back for the membership join, so span rows never shuffle for the
    * test. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     windowWords: Int = 8, minDocs: Int = 2): DataFrame = {
    require(windowWords >= 1, s"windowWords ($windowWords) must be >= 1")
    require(minDocs >= 2,
      s"minDocs ($minDocs) < 2 would mark every span shared")
    val spans = spanFrame(df, idCol, textCol, windowWords)
    val hot = spans.select("id", "gid").distinct()
      .groupBy("gid").agg(count(lit(1)).as("_docs"))
      .where(col("_docs") >= minDocs)
      .select("gid")
    spans.join(broadcast(hot), Seq("gid"))
      .select(col("id").as(idCol), col("pos"), col("gid"))
  }

  /** Remove every word covered by a shared span (the Lee et al.-style
    * "deduplicating training data" transform: cut repeated substrings,
    * keep the rest). The rebuilt text is in NORMALIZED word space (the
    * same tokenization every dedup operator uses); documents with no
    * shared span keep their original text verbatim. Returns
    * (idCol, textCol).
    *
    * Scale shape: [[duplicateSpans]]'s aggregate + broadcast, then the
    * per-doc start list (bounded by the doc's word count) rides a
    * left join back; coverage testing is one narrow filter-with-index
    * pass over the word array. */
  def removeSharedSpans(df: DataFrame, idCol: String, textCol: String,
                        windowWords: Int = 8, minDocs: Int = 2): DataFrame = {
    val starts = duplicateSpans(df, idCol, textCol, windowWords, minDocs)
      .groupBy(idCol).agg(sort_array(collect_list(col("pos"))).as("_starts"))
    df.join(starts, Seq(idCol), "left")
      .withColumn("_w", TextAnalysis.words(col(textCol)))
      .withColumn(textCol,
        when(col("_starts").isNull, col(textCol))
          .otherwise(concat_ws(" ", filter(col("_w"), (_, i) =>
            !exists(col("_starts"),
              s => s <= i && i < s + lit(windowWords))))))
      .select(col(idCol), col(textCol))
  }
}
