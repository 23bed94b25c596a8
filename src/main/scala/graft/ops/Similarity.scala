package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, O(|Q|·|C|); the corpus
  * stays partitioned and the (small) query set is broadcast, so the
  * cross product never shuffles the corpus.
  *
  * Scale path: random-hyperplane LSH — embeddings are bucketed by the
  * sign pattern of `planes` seeded random projections; neighbor search
  * probes only the query's bucket. Recall is tunable via (planes,
  * tables); candidates are re-ranked with exact cosine so precision is 1.
  */
object Similarity {

  /** Exact cosine similarity of two float-array columns (computed in
    * double precision) via the [[graft.compile.CosineSim]] kernel — one
    * JVM loop per row; the interpreted-HOF formulation below is kept as
    * the parity reference. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.compile.CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The original Column formulation of [[cosine]] (parity oracle). */
  private[graft] def cosineColumns(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v))
    dot / (na * nb)
  }

  /** Brute-force top-k: for each query row, the k nearest corpus rows by
    * cosine. Queries are broadcast (must be small); ranking is made
    * deterministic by (rounded sim desc, corpus id asc). */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Deterministic random hyperplanes: `planes` vectors of `dim`
    * components in {-1, +1}, from a seeded driver-side RNG.
    * Package-visible so oracle harnesses can restate the exact planes. */
  private[graft] def hyperplanes(planes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** All `tables` LSH bucket ids of a vector in one kernel pass
    * ([[graft.compile.HyperplaneBuckets]]): element t is the sign-bit
    * pattern of table t's seeded projections. */
  def lshBuckets(vec: Column, dim: Int, planes: Int, tables: Int,
                 seed: Long): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val flat = (0 until tables).flatMap(t =>
      hyperplanes(planes, dim, seed + 7919L * t).flatten)
    ColumnBridge.column(graft.compile.HyperplaneBuckets(
      ColumnBridge.expression(vec), flat, tables, planes, dim))
  }

  /** Single-table LSH bucket id (sign bits of the projections). */
  def lshBucket(vec: Column, dim: Int, planes: Int = 16, seed: Long = 42L): Column =
    element_at(lshBuckets(vec, dim, planes, tables = 1, seed), 1)

  /** The original per-plane Column formulation of [[lshBucket]]
    * (parity oracle). */
  private[graft] def lshBucketColumns(vec: Column, dim: Int, planes: Int = 16,
                                      seed: Long = 42L): Column = {
    val hp = hyperplanes(planes, dim, seed)
    hp.zipWithIndex.map { case (plane, i) =>
      val proj = aggregate(
        zip_with(vec, typedlit(plane), (x, w) => x.cast("double") * w),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Multi-table LSH ANN: `tables` independent hyperplane sets; a corpus
    * row is a candidate if it shares ANY table's bucket with the query
    * (recall ≈ 1-(1-p^planes)^tables, p = 1-θ/π). Candidates are exactly
    * re-ranked with cosine, so precision is 1; recall < 1 by design.
    * Returns the same shape as bruteForceTopK. */
  def lshTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, dim: Int, planes: Int = 8, tables: Int = 4,
              seed: Long = 42L): DataFrame = {
    def buckets(vec: Column): Column = lshBuckets(vec, dim, planes, tables, seed)
    // The bucket join carries (neighbor_id, table, bucket) ONLY — corpus
    // vectors do not ride the ×tables explode or any shuffle (the same
    // de-payloading Dedup.minhashDuplicates applies to shingles). The
    // query side is broadcast, so candidate generation is shuffle-free on
    // the corpus; candidate ids are deduped while still narrow, then the
    // vectors are re-joined by id for the exact re-rank — candidates are
    // LSH-collision-bounded and broadcast back under AQE, so the corpus
    // never shuffles its vectors at all.
    val bucketed = corpus.select(col(corpusId).as("neighbor_id"),
      posexplode(buckets(col(corpusVec))).as(Seq("table", "bucket")))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      posexplode(buckets(col(queryVec))).as(Seq("table", "bucket"))))
    val cand = bucketed.join(q, Seq("table", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val qv = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv")))
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("cv"))
    val scored = cand
      .join(cv, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  // ---- IVF (inverted-file) ANN: the coarse-quantizer scale path ----

  /** Driver-side Lloyd's k-means over a deterministic sample (ordered by
    * id — every run trains the same centroids): the production centroid
    * trainer for [[ivfTopK]]. The sample is driver-bounded
    * (`sampleSize` rows × dim doubles); training cost never touches the
    * cluster. Empty clusters keep their previous centroid; ties assign to
    * the lower index (same rule as the [[graft.compile.NearestCells]]
    * kernel). */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                     k: Int, iters: Int = 5, seed: Long = 42L,
                     sampleSize: Int = 4096): Seq[Seq[Double]] = {
    val sample: Array[Array[Double]] = df
      .select(col(idCol), col(vecCol))
      // degenerate vectors (NULL, wrong length, null elements) are
      // excluded from training — the NearestCells kernel tolerates them
      // at assignment time, but a null element would NPE the driver fold
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dim &&
        !exists(col(vecCol), e => e.isNull))
      // order by a hash of the id, not the id: id order correlates with
      // ingestion order/source, so a first-N-by-id sample would train
      // centroids on a biased corner of the corpus. The hash order is
      // equally deterministic but uniformly spread; the id tie-breaks.
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    require(sample.length >= k, s"k-means needs >= $k sample vectors")
    val rnd = new scala.util.Random(seed)
    val centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { x =>
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = x(i) - centroids(j)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += x(i); i += 1 }
      }
      (0 until k).foreach { j =>
        if (counts(j) > 0)
          (0 until dim).foreach(i => centroids(j)(i) = sums(j)(i) / counts(j))
      }
    }
    centroids.map(_.toSeq).toSeq
  }

  /** One distributed Lloyd step over the FULL corpus — the 100-TB
    * refinement path for [[trainCentroids]]' driver-sample seeds (a
    * 4096-row sample places centroids well enough to bucket, but the
    * cell means it converges to are the SAMPLE's, not the corpus's):
    * assign every vector its nearest cell in one narrow kernel pass,
    * then per-(cell, component) means via ONE partial-agg exchange
    * carrying (cell, j, decimal sum, count) — ≤ k×dim rows out.
    * Per-element contributions are rounded to 6 places and summed as
    * DECIMAL: exact and order-independent under any shuffle or
    * partitioning, so the refined centroids are bit-reproducible
    * across runs/engines and oracle-checkable (the cross_entropy
    * decimal-sum discipline). Returns (cell, j, c, n) with 1-based
    * component j and mean c = round(sum::double / n, 6). Degenerate
    * vectors (NULL / wrong length) never assign and are excluded;
    * empty cells produce no rows ([[refineCentroids]] keeps their
    * previous centroid). */
  def refineCentroidsDf(df: DataFrame, vecCol: String, dim: Int,
                        centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      "centroid matrix must be k x dim")
    df.select(col(vecCol).as("v"),
        element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cell"))
      .where(col("cell").isNotNull)
      .select(col("cell"), posexplode(col("v")).as(Seq("_j0", "x")))
      .groupBy(col("cell"), (col("_j0") + 1).cast("int").as("j"))
      .agg(sum(Rounding.roundAt(col("x").cast("double"), 6)
          .cast("decimal(38,6)")).as("_s"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("j"),
        Rounding.roundAt(col("_s").cast("double") / col("n"), 6).as("c"),
        col("n"))
  }

  /** `iters` full-corpus Lloyd steps: each round collects the BOUNDED
    * k×dim refinement table ([[refineCentroidsDf]]) and rebuilds the
    * centroid literals for the next assignment pass; cells that lost
    * every member keep their previous centroid (standard Lloyd empty-
    * cell rule). Cost per round = one corpus scan + one bounded
    * exchange; nothing corpus-sized ever reaches the driver. */
  def refineCentroids(df: DataFrame, vecCol: String, dim: Int,
                      centroids: Seq[Seq[Double]], iters: Int = 1): Seq[Seq[Double]] = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    var cur = centroids.map(_.toArray).toArray
    (0 until iters).foreach { _ =>
      val next = cur.map(_.clone())
      refineCentroidsDf(df, vecCol, dim, cur.map(_.toSeq).toSeq)
        .collect().foreach { r =>
          next(r.getAs[Long]("cell").toInt)(r.getAs[Int]("j") - 1) =
            r.getAs[Double]("c")
        }
      cur = next
    }
    cur.map(_.toSeq).toSeq
  }

  /** The `nprobe` nearest centroid indices of a vector (ascending
    * distance, ties to the lower index), via the
    * [[graft.compile.NearestCells]] kernel. */
  def nearestCells(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dim = centroids.head.length
    ColumnBridge.column(graft.compile.NearestCells(
      ColumnBridge.expression(vec), centroids.flatten, centroids.length, dim, nprobe))
  }

  /** The original Column-fold formulation of the single nearest cell
    * (parity oracle for the kernel). */
  private[graft] def nearestCellColumns(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = centroids.map { c =>
      aggregate(zip_with(vec, typedlit(c),
        (x, w) => (x.cast("double") - w) * (x.cast("double") - w)),
        lit(0.0), (acc, v) => acc + v)
    }
    dists.zipWithIndex.foldLeft((lit(Double.MaxValue), lit(0L))) {
      case ((bd, bj), (d, j)) =>
        (when(d < bd, d).otherwise(bd), when(d < bd, lit(j.toLong)).otherwise(bj))
    }._2
  }

  /** IVF ANN top-k: the corpus is partitioned into centroid cells by ONE
    * narrow projection (no shuffle); each query probes its `nprobe`
    * nearest cells; candidates are re-ranked with exact cosine, so
    * precision is 1 and recall ≈ the probed cells' coverage. Same output
    * shape as [[bruteForceTopK]]/[[lshTopK]].
    *
    * Scale shape (same discipline as lshTopK): the cell join carries
    * (neighbor_id, cell) only — vectors are re-joined by id for the
    * re-rank; the query side broadcasts; each corpus row lives in exactly
    * one cell and probe cells are distinct, so the candidate list needs
    * no dedup. Centroids ride into the kernel as literals (k × dim
    * doubles — KBs), not through a join. */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, dim: Int, centroids: Seq[Seq[Double]],
              nprobe: Int = 2): DataFrame = {
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      "centroid matrix must be k x dim")
    val corpusCells = corpus.select(col(corpusId).as("neighbor_id"),
      element_at(nearestCells(col(corpusVec), centroids, 1), 1).as("cell"))
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      explode(nearestCells(col(queryVec), centroids, nprobe)).as("cell")))
    val cand = corpusCells.join(q, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val qv = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv")))
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("cv"))
    val scored = cand
      .join(cv, Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "sim", "rank")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, LSH-blocked
    * then exactly verified. The bucket self-join carries (id, bucket)
    * only; vectors are re-joined by id for the exact cosine (pairs are
    * collision-bounded → broadcast under AQE, so the vector table never
    * shuffles). Buckets above `maxBucket` are dropped — all-identical /
    * zero vectors collapse into one degenerate bucket whose O(m²) pairs
    * would OOM a task at web scale (see [[graft.ops.Dedup.DefaultMaxBucket]]). */
  def cosineDuplicates(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dim: Int,
                       planes: Int = 8, seed: Long = 42L,
                       maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val t = df.select(col(idCol).as("id"),
      lshBucket(col(vecCol), dim, planes, seed).as("bucket"))
    // same cap as the Dedup band/chunk joins, but this API is fully lazy:
    // no eager hot-bucket census and no log of dropped buckets — route
    // them via Dedup.oversizedBuckets
    val guarded = Dedup.capBuckets(t, Seq("bucket"), maxBucket)
    val a = guarded.select(col("bucket"), col("id").as("id_a"))
    val b = guarded.select(col("bucket"), col("id").as("id_b"))
    // single-table blocking: each pair arises from exactly one bucket, so
    // the candidate list needs no dedup
    val pairs = a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", Rounding.roundAt(cosine(col("v_a"), col("v_b")), 6))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  // ------------------------------------------------------------------
  // SemDeDup-style semantic deduplication (published method: cluster the
  // embedding space, search for near-duplicates only WITHIN a cluster)
  // ------------------------------------------------------------------

  /** Within-cluster semantic near-duplicate pairs: each row is assigned
    * its nearest centroid cell in one narrow kernel projection (no
    * shuffle), candidate pairs arise only inside a cell, and every
    * candidate is verified with exact cosine — precision 1, recall =
    * within-cell coverage (the method's published trade-off; recall
    * rises with `centroids.size`, which practitioners scale with corpus
    * size precisely so cells stay bounded).
    *
    * Scale shape (same discipline as [[cosineDuplicates]]/`lshTopK`):
    * the cell self-join carries (id, cell) only — vectors re-join by id
    * for the exact verify, which AQE broadcasts. Skew guard: a cell
    * above `maxCell` rows (a mega-cluster, or the degenerate all-zero
    * cell) would put O(m²) pairs in one task; its members are REFINED by
    * seeded hyperplane sub-buckets within the cell — pairs are still
    * exactly verified, only cross-sub-bucket recall inside the
    * mega-cell is given up — and any (cell, sub) still above the cap is
    * dropped by [[graft.ops.Dedup.DefaultMaxBucket]]'s rule. The cell
    * census the refinement needs is one partial-agg count over ≤ k
    * cells, broadcast back. */
  def semanticDuplicatePairs(df: DataFrame, idCol: String, vecCol: String,
                             dim: Int, centroids: Seq[Seq[Double]],
                             threshold: Double,
                             maxCell: Int = Dedup.DefaultMaxBucket,
                             subPlanes: Int = 8,
                             seed: Long = 42L): DataFrame = {
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      "centroid matrix must be k x dim")
    pairsFromAssignment(assignCells(df, idCol, vecCol, dim, centroids),
      dim, threshold, maxCell, subPlanes, seed)
  }

  /** The (id, v, cell) assignment frame — ONE kernel projection that
    * every downstream path (census, keying, exact verify) reads, so an
    * eager caller ([[semanticDedup]]) persists exactly this frame and
    * the nearest-cell kernel runs once per row total. */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
                          dim: Int, centroids: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cell"))

  private def pairsFromAssignment(assigned: DataFrame, dim: Int,
                                  threshold: Double, maxCell: Int,
                                  subPlanes: Int, seed: Long,
                                  censusedNoHot: Boolean = false): DataFrame = {
    val guarded = if (censusedNoHot) {
      // the caller already censused the (≤ k cells, bounded) population
      // and found NO cell above maxCell: sub-bucket keying and the cap's
      // recount are provably no-ops, so skip the census broadcast join
      // and the capBuckets join outright (two joins + an aggregation
      // exchange fewer — guide §2.4). NULL cells still never pair.
      assigned.where(col("cell").isNotNull)
        .select(col("id"), col("cell"), lit(-1L).as("sub"))
    } else {
      val census = assigned.groupBy("cell").agg(count(lit(1)).as("_n"))
      // hot rows only pay the sub-bucket kernel: the CaseWhen short-circuits
      val keyed = assigned.join(broadcast(census), Seq("cell"))
        .select(col("id"), col("cell"),
          when(col("_n") > maxCell, lshBucket(col("v"), dim, subPlanes, seed))
            .otherwise(lit(-1L)).as("sub"))
      Dedup.capBuckets(keyed, Seq("cell", "sub"), maxCell)
    }
    val a = guarded.select(col("cell"), col("sub"), col("id").as("id_a"))
    val b = guarded.select(col("cell"), col("sub"), col("id").as("id_b"))
    // each row lives in exactly one (cell, sub) key → pairs need no dedup
    val pairIds = a.join(b, Seq("cell", "sub"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // verify against the SAME assignment frame (not the raw input): a
    // persisted `assigned` then covers all three reads of the corpus
    val vecs = assigned.select(col("id"), col("v"))
    pairIds
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("sim", Rounding.roundAt(cosine(col("v_a"), col("v_b")), 6))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Cross-corpus semantic near-duplicates: pairs (new_id, ref_id, sim)
    * where a NEW document's embedding clears `threshold` cosine against
    * a REFERENCE document sharing its centroid cell — the embedding-
    * space twin of [[graft.ops.Dedup.crossCorpusDuplicates]] (semantic
    * benchmark decontamination / incremental ingestion against an
    * already-ingested index). Both sides assign cells in one narrow
    * kernel projection; the cell join carries ids only; vectors re-join
    * by id for the exact verify. Each side's cells are capped at
    * `maxCell` independently (drop, not refine — cross pairs lack the
    * self-join's sub-bucket symmetry guarantee only when the two sides'
    * hot sets differ, so the conservative rule is used; route dropped
    * cells via exact/LSH dedup). */
  def crossSemanticDuplicates(newDf: DataFrame, refDf: DataFrame,
                              idCol: String, vecCol: String,
                              dim: Int, centroids: Seq[Seq[Double]],
                              threshold: Double,
                              maxCell: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      "centroid matrix must be k x dim")
    def cells(df: DataFrame) = Dedup.capBuckets(
      df.select(col(idCol).as("id"),
        element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cell")),
      Seq("cell"), maxCell)
    val pairIds = cells(newDf).select(col("cell"), col("id").as("new_id"))
      .join(cells(refDf).select(col("cell"), col("id").as("ref_id")), Seq("cell"))
      .select("new_id", "ref_id")
    pairIds
      .join(newDf.select(col(idCol).as("new_id"), col(vecCol).as("v_n")), Seq("new_id"))
      .join(refDf.select(col(idCol).as("ref_id"), col(vecCol).as("v_r")), Seq("ref_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("v_n"), col("v_r")), 6))
      .where(col("sim") >= threshold)
      .select("new_id", "ref_id", "sim")
  }

  /** One-call semantic-duplicate REMOVAL over an embedding column:
    * cell assignment → within-cell exact-cosine pairs ≥ `threshold` →
    * connected components → min-id survivor per cluster → anti-join.
    * Returns the deduplicated corpus (all columns of `df`). Rows whose
    * vector cannot be assigned a cell (NULL / wrong length) never pair
    * and therefore always survive — dropping them is a validation
    * decision, not a dedup decision.
    *
    * Same composition discipline as [[graft.ops.Dedup.dedupCorpus]]:
    * the cell ASSIGNMENT is persisted for the duration of the eager
    * pair computation (census + keying + exact verify all read it, so
    * the nearest-cell kernel runs once per row instead of twice — the
    * same trade dedupCorpus resolves by persisting its banding), pairs
    * are localCheckpoint'ed (the CC iteration re-reads them each round)
    * and the final anti-join broadcasts the loser set, so the corpus
    * never shuffles. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    dim: Int, centroids: Seq[Seq[Double]],
                    threshold: Double,
                    maxCell: Int = Dedup.DefaultMaxBucket,
                    subPlanes: Int = 8, seed: Long = 42L,
                    maxIter: Int = 25): DataFrame = {
    val assigned = assignCells(df, idCol, vecCol, dim, centroids).persist()
    // the cell census is ≤ centroids.size groups — adjudicate the skew
    // guard eagerly (this action also fills the persist), so the common
    // no-hot-cell case skips the census join and the cap recount in the
    // pair job entirely
    val noHot = assigned.where(col("cell").isNotNull)
      .groupBy("cell").agg(count(lit(1)).as("_n"))
      .where(col("_n") > maxCell).isEmpty
    val pairs = pairsFromAssignment(assigned, dim, threshold,
        maxCell, subPlanes, seed, censusedNoHot = noHot)
      .select("id_a", "id_b").localCheckpoint(true)
    assigned.unpersist(false)
    val losers = Dedup.duplicateGroups(pairs, maxIter)
      .where(col("id") =!= col("group_id"))
    df.join(losers.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // int8 quantization — the memory/bandwidth scale path for ANN
  // ------------------------------------------------------------------

  /** Per-vector symmetric int8 scale: 127 / max|vᵢ| (1.0 for all-zero or
    * NULL vectors so quantization stays well-defined). Computed in double
    * from the float max — every step is a single correctly-rounded IEEE
    * op, so the DuckDB oracle reproduces it bit-for-bit. */
  def int8Scale(vec: Column): Column = {
    val m = array_max(transform(vec, v => abs(v))).cast("double")
    when(m.isNull || m === 0.0, lit(1.0)).otherwise(lit(127.0) / m)
  }

  /** qᵢ = floor(vᵢ·s + 0.5) — round-half-up via floor, NOT round():
    * floor is exact in IEEE and identical across engines, while round()
    * differs between Spark (BigDecimal on the binary expansion) and
    * DuckDB (scaled double) at representation boundaries. Values land in
    * [-127, 127] by construction of the scale. */
  def int8Quantize(vec: Column, scale: Column): Column =
    transform(vec, v => floor(v.cast("double") * scale + lit(0.5)).cast("byte"))

  /** Quantize an embedding table: (id, qvec array<tinyint>, qscale) —
    * the persisted form is 1/4 the bytes of the float corpus. Narrow
    * projection, no shuffle. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.withColumn("qscale", int8Scale(col(vecCol)))
      .withColumn("qvec", int8Quantize(col(vecCol), col("qscale")))
      .select(idCol, "qvec", "qscale")

  /** Exact integer dot of two quantized vectors (LONG) via the
    * [[graft.compile.QuantizedDot]] kernel — one JVM loop per row. */
  def dotQuantized(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.compile.QuantizedDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** The Column formulation of [[dotQuantized]] (parity oracle). */
  private[graft] def dotQuantizedColumns(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Quantized-cosine of two int8 vectors: the scales cancel in the
    * cosine ratio, so this is just cosine over the integer vectors —
    * integer dot and integer norms (exact), one sqrt and one division
    * (correctly rounded) → bit-identical across engines. -2.0 (below any
    * real cosine) when either quantized norm is zero. */
  def quantizedCosine(qa: Column, qb: Column): Column = {
    val denom = sqrt(dotQuantized(qa, qa).cast("double")) *
      sqrt(dotQuantized(qb, qb).cast("double"))
    when(denom === 0.0, lit(-2.0))
      .otherwise(dotQuantized(qa, qb).cast("double") / denom)
  }

  /** ANN top-k over the QUANTIZED corpus with exact float re-rank: the
    * candidate scan ranks by quantized cosine (reads 1/4 the bytes,
    * integer math), keeps `rerank` candidates per query, then re-ranks
    * those with the exact float cosine to emit k.
    *
    * Scale shape: queries are quantized and BROADCAST (both stages); the
    * corpus scan is narrow over the small quantized table; only the
    * `rerank`-bounded candidate ids travel to the float re-join (AQE
    * broadcasts them), so the full-precision corpus never shuffles.
    * Output: (query_id, neighbor_id, approx_sim, sim, rank). */
  def quantizedTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    k: Int, rerank: Int = 0,
                    preQuantized: Option[DataFrame] = None): DataFrame = {
    val r = if (rerank > 0) rerank else 4 * k
    // norms are per-side, not per-pair: bind them once on each frame so
    // the pair scan does ONE integer dot + one divide per candidate.
    // `preQuantized` is the production shape: a persisted quantizeInt8
    // output (idCol, qvec, qscale) scanned at 1/4 the float bytes with
    // ZERO per-call quantization work — the candidate stage never
    // touches the float corpus at all (AnnScaleBench measured the
    // inline path at ~3x the persisted path's scan cost)
    // candidate-scan parallelism for the compressed-code tiers: a
    // persisted int8/PQ table is tiny in BYTES (a 4-64× compression of
    // the float corpus), so bytes-based split sizing hands the scan a
    // handful of partitions, but the query-broadcast candidate stage
    // costs rows × queries regardless of bytes (AnnScaleBench measured
    // the persisted PQ scan 5× slower than inline purely from the
    // 8-vs-64 partition read). Round-robin with no byte floor: the small
    // byte size is the reason to spread; pqTopK does the same
    val qc = ScanSpread(
      preQuantized.getOrElse(quantizeInt8(corpus, corpusId, corpusVec)))
      .select(col(corpusId).as("neighbor_id"), col("qvec").as("cq"))
      .withColumn("cn", sqrt(dotQuantized(col("cq"), col("cq")).cast("double")))
    val qq = broadcast(quantizeInt8(queries, queryId, queryVec)
      .select(col(queryId).as("query_id"), col("qvec").as("qq"))
      .withColumn("qn", sqrt(dotQuantized(col("qq"), col("qq")).cast("double"))))
    val approx = qc.join(qq, col("neighbor_id") =!= col("query_id"))
      .withColumn("approx_sim", Rounding.roundAt(
        when(col("qn") * col("cn") === 0.0, lit(-2.0))
          .otherwise(dotQuantized(col("qq"), col("cq")).cast("double") /
            (col("qn") * col("cn"))), 6))
    val wa = Window.partitionBy("query_id")
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val cand = approx.withColumn("arank", row_number().over(wa))
      .where(col("arank") <= r)
      .select("query_id", "neighbor_id", "approx_sim")
    val qv = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv")))
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("cv"))
    val exact = cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "approx_sim", "sim", "rank")
  }

  // ------------------------------------------------------------------
  // product quantization — the byte-code ADC scale path for ANN
  // ------------------------------------------------------------------

  /** Squared L2 between a (possibly float) subvector column and a
    * literal centroid, summed in component order (the IEEE-deterministic
    * fold a `list_reduce` oracle restates exactly). Used only on the
    * broadcast QUERY side — per-query×code, never per-pair. */
  private def dsqColumns(sub: Column, centroid: Seq[Double]): Column =
    aggregate(zip_with(sub, typedlit(centroid),
      (x, w) => (x.cast("double") - w) * (x.cast("double") - w)),
      lit(0.0), (acc, v) => acc + v)

  private def pqValidate(dim: Int, codebooks: Seq[Seq[Seq[Double]]]): Int = {
    require(codebooks.nonEmpty, "pq: need at least one subspace codebook")
    val m = codebooks.length
    require(dim % m == 0, s"pq: dim $dim not divisible by $m subspaces")
    val subDim = dim / m
    require(codebooks.forall(cb => cb.nonEmpty && cb.forall(_.length == subDim)),
      s"pq: every codebook entry must have $subDim components")
    m
  }

  /** PQ code array of a vector: element s is the index of subspace s's
    * nearest codebook entry (L2, ties to the lower code — the
    * [[nearestCells]] kernel over a narrow `slice`, so encoding is one
    * codegen'd projection with the codebooks as plan literals; nothing
    * joins, nothing shuffles). Degenerate vectors yield NULL codes. */
  def pqEncodeCol(vec: Column, dim: Int,
                  codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = pqValidate(dim, codebooks)
    val subDim = dim / m
    array((0 until m).map { s =>
      element_at(nearestCells(
        slice(vec, s * subDim + 1, subDim), codebooks(s), 1), 1)
    }: _*)
  }

  /** Encode an embedding table to its persisted PQ form: (id, pcode
    * array<bigint> of length m) — m bytes of information per vector
    * (codebooks ≤ 256 codes) vs 4·dim bytes of float, the
    * representation that keeps a 100 TB corpus's ANN index in cluster
    * memory. Narrow projection, no shuffle. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    df.select(col(idCol), pqEncodeCol(col(vecCol), dim, codebooks).as("pcode"))

  /** Train per-subspace PQ codebooks: `iters` distributed Lloyd steps
    * over the corpus, starting from the given seeds (driver-sampled
    * rows' subvectors, the [[trainCentroids]] discipline). ONE corpus
    * pass per iteration refines ALL m subspaces (the r7 shape ran one
    * [[refineCentroids]] job — a full corpus scan — per subspace, m ×
    * iters scans total): each row explodes to its m (s, subvector)
    * slices, each slice assigns to its own subspace's nearest code (a
    * per-subspace [[nearestCells]] kernel dispatched on s — centroid
    * literals stay per-branch, everything codegen), and one partial-agg
    * exchange carries (s, cell, j, decimal sum, count) — ≤ m × codes ×
    * subDim rows to the driver, nothing corpus-sized. Per-(s, cell, j)
    * arithmetic is exactly [[refineCentroidsDf]]'s (same assignment
    * rule, same order-independent decimal sums), so the trained
    * codebooks are bit-identical to the per-subspace formulation
    * (pinned by SimilaritySpec's fused-parity test). */
  def trainPqCodebooks(df: DataFrame, vecCol: String, dim: Int,
                       seeds: Seq[Seq[Seq[Double]]],
                       iters: Int = 1): Seq[Seq[Seq[Double]]] = {
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val m = pqValidate(dim, seeds)
    val subDim = dim / m
    var cur: Array[Array[Array[Double]]] =
      seeds.map(_.map(_.toArray).toArray).toArray
    (0 until iters).foreach { _ =>
      val cbs = cur.map(_.map(_.toSeq).toSeq).toSeq
      val subs = df.select(posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * subDim + 1, subDim)): _*)).as(Seq("s", "v")))
      val cellCol = (1 until m).foldLeft(
        when(col("s") === 0,
          element_at(nearestCells(col("v"), cbs(0), 1), 1))) { (acc, s) =>
        acc.when(col("s") === s,
          element_at(nearestCells(col("v"), cbs(s), 1), 1))
      }
      val refined = subs.select(col("s"), cellCol.as("cell"), col("v"))
        .where(col("cell").isNotNull)
        .select(col("s"), col("cell"), posexplode(col("v")).as(Seq("_j0", "x")))
        .groupBy(col("s"), col("cell"), (col("_j0") + 1).cast("int").as("j"))
        .agg(sum(Rounding.roundAt(col("x").cast("double"), 6)
            .cast("decimal(38,6)")).as("_s"),
          count(lit(1)).as("n"))
        .select(col("s"), col("cell"), col("j"),
          Rounding.roundAt(col("_s").cast("double") / col("n"), 6).as("c"))
        .collect()
      val next = cur.map(_.map(_.clone()))
      refined.foreach { r =>
        next(r.getInt(0))(r.getAs[Long]("cell").toInt)(r.getInt(2) - 1) =
          r.getDouble(3)
      }
      cur = next
    }
    cur.map(_.map(_.toSeq).toSeq).toSeq
  }

  /** PQ ANN top-k via asymmetric distance computation (ADC) with exact
    * float re-rank: the corpus is scanned as PQ codes; each query
    * precomputes its per-subspace distance lookup table against every
    * codebook entry, so a candidate's approximate distance is m table
    * lookups and m-1 adds — no per-pair vector math at all. The
    * `rerank` closest candidates per query (ADC distance asc, id asc)
    * are re-ranked with the exact float cosine to emit k.
    *
    * Scale shape: the LUT rides the BROADCAST query side (queries ×
    * m × codes doubles — KBs); the corpus side carries (id, pcode)
    * only — at dim 64 / m 4 that is 1/64th the float corpus's bytes,
    * and the scan is pure codegen arithmetic. Only the rerank-bounded
    * candidate ids travel to the float re-join (AQE broadcasts them),
    * so the full-precision corpus never shuffles — the
    * [[quantizedTopK]] discipline at PQ compression. Output:
    * (query_id, neighbor_id, adc_dist, sim, rank). */
  def pqTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
             queries: DataFrame, queryId: String, queryVec: String,
             k: Int, dim: Int, codebooks: Seq[Seq[Seq[Double]]],
             rerank: Int = 0,
             preCodes: Option[DataFrame] = None): DataFrame = {
    val m = pqValidate(dim, codebooks)
    val subDim = dim / m
    val r = if (rerank > 0) rerank else 4 * k
    // `preCodes` is the production shape: a persisted pqEncode output
    // (idCol, pcode) — the ADC scan then reads m longs per vector and
    // never touches the float corpus until the rerank re-join
    // degenerate rows (NULL code array / NULL element from a degenerate
    // vector) are screened BEFORE the pair join, on the raw per-row
    // columns — never on the computed distance. A post-join
    // isnotnull(adc_dist) filter gets pushed through the projection into
    // the BNLJ join CONDITION, inlining the full m-lookup ADC expression
    // a second time into the fused codegen stage; on the persisted-code
    // plan that fused stage falls out of JIT and the candidate scan runs
    // ~6x slower (BENCH.md, "Persisted-ANN production shape": 80.7 s at
    // 1M vectors -> inline parity)
    val codes = ScanSpread(preCodes
      .map(_.select(col(corpusId).as("neighbor_id"), col("pcode")))
      .getOrElse(corpus.select(col(corpusId).as("neighbor_id"),
        pqEncodeCol(col(corpusVec), dim, codebooks).as("pcode"))))
      .where(col("pcode").isNotNull && !exists(col("pcode"), _.isNull))
    val lut = array((0 until m).map { s =>
      array(codebooks(s).map(cb =>
        dsqColumns(slice(col(queryVec), s * subDim + 1, subDim), cb)): _*)
    }: _*)
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv"), lut.as("lut"))
      .where(col("lut").isNotNull &&
        !exists(col("lut"), a => a.isNull || exists(a, _.isNull))))
    // subspace distances summed in subspace order (left-assoc), so an
    // oracle's pivoted d0+d1+…+dm-1 restates the float sum exactly
    val dist = (0 until m).map(s =>
      element_at(element_at(col("lut"), s + 1),
        (element_at(col("pcode"), s + 1) + 1).cast("int")))
      .reduce(_ + _)
    val adc = codes.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", Rounding.roundAt(dist, 6))
    // out-of-codebook codes in caller-supplied preCodes can still yield
    // a NULL lookup: rank them last and drop them AFTER the window (a
    // filter above a Window can't sink into the join — zero per-pair
    // cost), preserving the pre-fix output contract exactly
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc_nulls_last, col("neighbor_id").asc)
    val cand = adc.withColumn("arank", row_number().over(wa))
      .where(col("arank") <= r && col("adc_dist").isNotNull)
      .select("query_id", "neighbor_id", "adc_dist")
    val cv = corpus.select(col(corpusId).as("neighbor_id"),
      col(corpusVec).as("cv"))
    val qv = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("qv")))
    val exact = cand.join(cv, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .withColumn("sim", Rounding.roundAt(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "sim", "rank")
  }

  // ------------------------------------------------------------------
  // dimensionality reduction + prototypicality sampling
  // ------------------------------------------------------------------

  /** Johnson-Lindenstrauss random projection: the k raw dot products of
    * a dim-length vector against the seeded ±1 [[hyperplanes]] matrix,
    * scaled by 1/√k (the sign-matrix JL variant — pairwise distances
    * preserved in expectation), each component rounded to 6. One
    * [[graft.compile.MatVec]] kernel pass with the matrix as plan
    * literals — pure narrow projection, scan speed at any corpus size;
    * run it before LSH/IVF when the raw dimensionality makes bucketing
    * or centroid scans bandwidth-bound. Degenerate vectors (NULL, wrong
    * length, NULL element) → NULL. */
  def randomProject(vec: Column, dim: Int, k: Int, seed: Long = 42L): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(k >= 1, "randomProject: k must be >= 1")
    val raw = ColumnBridge.column(graft.compile.MatVec(
      ColumnBridge.expression(vec), hyperplanes(k, dim, seed).flatten, k, dim))
    val invScale = lit(math.sqrt(k.toDouble))
    transform(raw, d => Rounding.roundAt(d / invScale, 6))
  }

  /** Reduce an embedding table's dimensionality: adds `outCol` =
    * [[randomProject]] of `vecCol`. Narrow, no shuffle. */
  def reduceDims(df: DataFrame, vecCol: String, dim: Int, k: Int,
                 seed: Long = 42L, outCol: String = "rp"): DataFrame =
    df.withColumn(outCol, randomProject(col(vecCol), dim, k, seed))

  /** Prototypicality sampling (the SemDeDup-sibling published as
    * "Beyond neural scaling laws": rank each cluster's members by
    * cosine similarity to their centroid and keep a fixed count per
    * cluster — least-prototypical-first prunes redundancy in large
    * corpora, most-prototypical-first keeps canonical examples in small
    * ones). Adds `cell` (L2-nearest centroid index), `proto_sim`
    * (cosine to that centroid, rounded 6) and `rank`, keeping
    * `keepPerCell` rows per cell; ties break to the smaller id.
    * Degenerate vectors (NULL cosine) are excluded from the sample.
    *
    * Scale shape: assignment + similarity is ONE narrow
    * [[graft.compile.NearestCellSim]] kernel pass (centroids ride as
    * plan literals); the per-cell ranking is one shuffle over
    * (cell, proto_sim, id) — size the centroid count to the corpus
    * (~O(rows/cell) bounded, the [[trainCentroids]] sizing rule) so no
    * cell's sort exceeds a task; screen degenerate hot cells with
    * [[graft.ops.HotKeys]] if the embedding source can contain
    * mass-identical vectors. */
  def prototypeSample(df: DataFrame, idCol: String, vecCol: String,
                      centroids: Seq[Seq[Double]], keepPerCell: Int,
                      keepLeastPrototypical: Boolean = true): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(keepPerCell >= 1, "prototypeSample: keepPerCell must be >= 1")
    val dim = centroids.head.length
    val sim = ColumnBridge.column(graft.compile.NearestCellSim(
      ColumnBridge.expression(col(vecCol)), centroids.flatten,
      centroids.length, dim))
    val assigned = df.withColumn("_pc", sim)
      .withColumn("cell", col("_pc.cell"))
      .withColumn("proto_sim", Rounding.roundAt(col("_pc.cos"), 6))
      .drop("_pc")
      .where(col("proto_sim").isNotNull)
    val ord = if (keepLeastPrototypical) col("proto_sim").asc else col("proto_sim").desc
    val w = Window.partitionBy("cell").orderBy(ord, col(idCol).asc)
    assigned.withColumn("rank", row_number().over(w))
      .where(col("rank") <= keepPerCell)
  }
}
