package graft

import graft.ops._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Training-data operator tests: LSH recall against brute force, SimHash
  * locality, ANN recall, text metrics, multimodal plumbing. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus with planted near-duplicates: each base doc has
  // a unique vocabulary (cross-doc jaccard 0); doc i+100 clones doc i
  // with one perturbed word (2-gram jaccard ≈ 0.87) for i < 20
  lazy val docs = {
    val base = (0 until 100).map { i =>
      (i.toLong, (0 until 30).map(j => s"d${i}w$j").mkString(" "))
    }
    val dups = (0 until 20).map { i =>
      val words = (0 until 30).map(j => s"d${i}w$j").updated(17, "zzz")
      ((i + 100).toLong, words.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("minhash LSH recall: finds every brute-force pair above threshold") {
    val truth = Dedup.ngramJaccardDuplicates(docs, "doc_id", "text",
      blockCol = lit(1), threshold = 0.4, shingleN = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "planted duplicates must be above threshold")
    val lsh = Dedup.minhashDuplicates(docs, "doc_id", "text",
      threshold = 0.4, shingleN = 2, bands = 16, rowsPerBand = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact (verified); recall must be total at 16 bands for
    // jaccard >= 0.4 (P[miss] = (1-j^4)^16 < 3% per pair; planted pairs
    // have j ~ 0.75 → miss < 1e-8)
    assert(lsh == truth, s"missing=${truth -- lsh} extra=${lsh -- truth}")
  }

  test("minhash jaccard estimate equals exact jaccard on identical text") {
    val self = Dedup.minhashDuplicates(
      docs.union(docs.withColumn("doc_id", col("doc_id") + 1000)),
      "doc_id", "text", threshold = 0.999)
      .where(col("id_b") === col("id_a") + 1000)
    assert(self.count() == 120) // every doc pairs with its clone
  }

  test("simhash: planted near-dups within small hamming distance") {
    val pairs = Dedup.simhashDuplicates(docs, "doc_id", "text",
      maxDist = 16, shingleN = 2)
      .where(col("id_b") === col("id_a") + 100).count()
    assert(pairs >= 12, s"expected >=12 of 20 planted pairs, got $pairs")
  }

  test("WordShingles kernel matches the Column formulation exactly") {
    val edge = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "one two"),               // fewer words than n=3 → single shingle
      (3L, "solo"),
      (4L, ""),                      // empty text
      (5L, "a b a b a b a b"),       // heavy shingle repetition (dedup order)
      (6L, "Héllo wörld ünïcode test case"),
      (7L, null)                     // NULL text → [""], same as empty
    ).toDF("id", "text")
    for (n <- Seq(2, 3)) {
      val diff = edge.where(
        !(Dedup.shingles(col("text"), n) <=> Dedup.shinglesColumns(col("text"), n)))
        .count()
      assert(diff == 0, s"shingle kernel diverged for n=$n")
    }
    // docs corpus, both shingle sizes used by the gates
    val diff = docs.where(
      !(Dedup.shingles(col("text"), 2) <=> Dedup.shinglesColumns(col("text"), 2)))
      .count()
    assert(diff == 0)
  }

  test("exact dedup groups") {
    val withClones = docs.union(docs.limit(5).withColumn("doc_id", col("doc_id") + 500))
    val groups = Dedup.exactDuplicates(withClones, col("text"))
    assert(groups.count() == 5)
    assert(groups.agg(max("occurrences")).head().getLong(0) == 2)
  }

  test("duplicateGroups: connected components, multi-round chain propagation") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain: diameter 4, needs >1 round
      (10L, 11L), (11L, 10L),                 // duplicate/reversed edges
      (20L, 21L)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(groups(_) == 1L), s"chain collapsed wrong: $groups")
    assert(groups(10L) == 10L && groups(11L) == 10L)
    assert(groups(20L) == 20L && groups(21L) == 20L)
    assert(groups.size == 9)
  }

  test("duplicateGroups matches a union-find oracle on random graphs") {
    val rnd = new scala.util.Random(123)
    (0 until 5).foreach { round =>
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(20 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id)).toMap
      val got = Dedup.duplicateGroups(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"round $round: got=$got want=$want")
      // the distributed round loop (forced past the local-solve gate)
      // must produce the identical labels and schema
      val dist = Dedup.duplicateGroups(edges.toDF("id_a", "id_b"),
        localMaxEdges = 0)
      assert(dist.schema.fieldNames.toSeq == Seq("id", "group_id"))
      val gotDist = dist.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == want, s"round $round (dist): got=$gotDist want=$want")
    }
  }

  test("hashSample: deterministic, monotone in fraction, stratified, shuffle-free") {
    val df = spark.range(10000).select(col("id"),
      pmod(col("id"), lit(3)).cast("int").as("s"))
    val key = col("id").cast("string")
    val a = Sampling.hashSample(df, key, 0.25).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df, key, 0.25).collect().map(_.getLong(0)).toSet
    assert(a == b, "hash sampling must be run-stable")
    assert(math.abs(a.size / 10000.0 - 0.25) < 0.03, s"fraction off: ${a.size}")
    // growing the fraction only ADDS rows (membership by hash threshold)
    val c = Sampling.hashSample(df, key, 0.5).collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(c))
    val st = Sampling.hashSampleByStrata(df, key, col("s").cast("string"),
      Map("0" -> 0.0, "1" -> 1.0), defaultFraction = 0.5)
      .groupBy("s").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(!st.contains(0), "stratum with fraction 0 must vanish")
    assert(st(1) == 3333L, s"fraction-1 stratum must be complete: ${st.get(1)}")
    assert(math.abs(st(2) - 3333 * 0.5) < 150, s"default fraction off: ${st.get(2)}")
    // narrow projection: no shuffle in the plan
    assert(!Sampling.hashSample(df, key, 0.25)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("oovSignals: definite OOV words counted, empty docs rate 0") {
    import graft.sketch.BloomFunctions
    val vocabDf = Seq("alpha", "beta", "gamma").toDF("w")
    val blob = vocabDf.agg(BloomFunctions.bloom_agg(col("w"), 100L, 1e-8))
      .head().getAs[Array[Byte]](0)
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha zzz qqq beta"),
      (3L, ""),
      (4L, null: String)).toDF("doc_id", "text")
    val out = TextAnalysis.oovSignals(df, "doc_id", "text", blob)
      .orderBy("doc_id").collect()
      .map(r => (Option(r.get(1)), Option(r.get(2)), r.getDouble(3)))
    assert(out(0) == ((Some(3L), Some(0L), 0.0)))
    assert(out(1) == ((Some(4L), Some(2L), 0.5)))
    assert(out(2) == ((Some(0L), Some(0L), 0.0)))
    // NULL text: counts stay NULL (size-of-null), rate reads 0.0
    assert(out(3) == ((None, None, 0.0)))
    // no shuffle: the vocab is a literal, membership is a narrow filter
    assert(!TextAnalysis.oovSignals(df, "doc_id", "text", blob)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("WordWindowIds kernel: bit-identical to the slice-and-join Column fold") {
    val edge = Seq((1000L, "one two three"), (1001L, "a"), (1002L, ""),
      (1003L, null: String)).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 8)) {
      val both = docs.union(edge)
        .select(TextAnalysis.words(col("text")).as("_w"))
        .select(Dedup.windowIds(col("_w"), n).as("k"),
          Dedup.windowIdsColumns(col("_w"), n).as("c"))
      assert(both.where(not(col("k") <=> col("c"))).count() == 0,
        s"window-id kernel diverged from the Column formulation at n=$n")
    }
  }

  test("duplicateSpans finds planted repeated passages; removal cuts exactly them") {
    val passage = (0 until 8).map(i => s"rep$i").mkString(" ")
    val df = Seq(
      (1L, s"u1a u1b u1c $passage u1d u1e"),
      (2L, s"$passage u2a u2b u2c u2d u2e"),
      (3L, "u3a u3b u3c u3d u3e u3f u3g u3h u3i")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text",
      windowWords = 8, minDocs = 2)
      .select("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    // the shared 8-gram starts at word 3 in doc 1 and word 0 in doc 2
    assert(spans == Set((1L, 3), (2L, 0)), spans.toString)
    val clean = Dedup.removeSharedSpans(df, "doc_id", "text",
      windowWords = 8, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clean(1L) == "u1a u1b u1c u1d u1e")
    assert(clean(2L) == "u2a u2b u2c u2d u2e")
    assert(clean(3L) == "u3a u3b u3c u3d u3e u3f u3g u3h u3i",
      "untouched docs keep their original text verbatim")
  }

  test("topKPerGroup: k best per group, deterministic ties, guard raises") {
    val df = Seq(
      ("a", 1L, 10), ("a", 2L, 30), ("a", 3L, 30), ("a", 4L, 20),
      ("b", 5L, 5), ("b", 6L, 7)).toDF("g", "id", "score")
    val top = Sampling.topKPerGroup(df, Seq("g"), col("score"), col("id"), k = 2)
      .select("g", "id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // tie at 30 broken by lower id first
    assert(top == Set(("a", 2L, 1), ("a", 3L, 2), ("b", 6L, 1), ("b", 5L, 2)))
    val asc = Sampling.topKPerGroup(df, Seq("g"), col("score"), col("id"),
      k = 1, descending = false).select("g", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(asc == Set(("a", 1L), ("b", 5L)))
    intercept[IllegalStateException] {
      Sampling.topKPerGroup(df, Seq("g"), col("score"), col("id"), k = 1,
        guard = HotKeys.SkewGuard.Raise(3))
    }
  }

  // ---- similarity ----

  lazy val vecs = {
    val rnd = new scala.util.Random(7)
    (0 until 80).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  test("brute-force topk is exact and deterministic") {
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 5), "vec_id", "embedding", k = 3)
    val rows = topk.collect()
    assert(rows.length == 15)
    // rank 1 has max sim per query
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).toSeq == sorted.map(_.getDouble(2)).sortBy(-_).toSeq)
    }
  }

  test("LSH ANN: results are a subset of brute-force ordering with decent recall") {
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      dim = 16, planes = 4, tables = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.3, s"LSH recall $recall collapsed — bucketing broken")
    assert(lsh.nonEmpty)
  }

  test("IVF ANN: trained k-means centroids, exact precision, decent recall") {
    val centroids = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      dim = 16, k = 4, iters = 5)
    assert(centroids.length == 4 && centroids.forall(_.length == 16))
    // training is deterministic: same sample order, same seed
    assert(centroids == Similarity.trainCentroids(vecs, "vec_id", "embedding",
      dim = 16, k = 4, iters = 5))

    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 10), "vec_id", "embedding", k = 5,
      dim = 16, centroids = centroids, nprobe = 2)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // precision: every returned sim is the exact cosine brute force
    // computes for that pair (re-rank is exact)
    ivf.foreach { case (pair, sim) =>
      bf.get(pair).foreach(bfSim => assert(bfSim == sim, s"sim diverged for $pair"))
    }
    val recall = ivf.keySet.intersect(bf.keySet).size.toDouble / bf.size
    assert(recall >= 0.4, s"IVF recall $recall collapsed — cell probing broken")
  }

  test("NearestCells kernel matches the Column-fold argmin exactly") {
    val centroids = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      dim = 16, k = 5, iters = 3)
    val diff = vecs.where(
      element_at(Similarity.nearestCells(col("embedding"), centroids, 1), 1) =!=
        Similarity.nearestCellColumns(col("embedding"), centroids)).count()
    assert(diff == 0, s"cell assignment diverged on $diff rows")
    // degenerate vectors probe cells [0, 1, ...], never NULL
    val deg = vecs.limit(1)
      .select(Similarity.nearestCells(lit(null).cast("array<float>"), centroids, 2).as("p"))
      .head().getSeq[Long](0)
    assert(deg == Seq(0L, 1L))
  }

  test("ivfTopK plan: corpus vectors do not ride the cell join") {
    val centroids = Similarity.trainCentroids(vecs, "vec_id", "embedding",
      dim = 16, k = 4, iters = 2)
    val plan = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      dim = 16, centroids = centroids, nprobe = 2)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cellJoins = plan.collect {
      case j: Join if j.left.output.exists(_.name == "cell") ||
        j.right.output.exists(_.name == "cell") => j
    }
    assert(cellJoins.nonEmpty, "expected a cell join")
    cellJoins.foreach { j =>
      val arrays = j.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty, s"cell join carries vector payload: ${arrays.map(_.name)}")
    }
  }

  test("cosine of identical vectors is 1") {
    val one = vecs.limit(3)
      .withColumn("sim", round(Similarity.cosine(col("embedding"), col("embedding")), 9))
    assert(one.collect().forall(_.getAs[Double]("sim") == 1.0))
  }

  test("int8 quantization: range, all-zero guard, kernel/Column dot parity") {
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    val rows = q.collect()
    assert(rows.forall(_.getSeq[Byte](1).forall(b => b >= -127 && b <= 127)))
    // max-|v| element always hits ±127
    assert(rows.forall(_.getSeq[Byte](1).exists(b => b == 127 || b == -127)))
    // all-zero vector: scale 1.0, all-zero qvec (no NaN/overflow)
    val z = Seq((1L, Array.fill(4)(0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(z, "vec_id", "embedding").collect()(0)
    assert(zq.getDouble(2) == 1.0 && zq.getSeq[Byte](1).forall(_ == 0))
    // kernel == Column-HOF fold on every pair of quantized vectors
    val a = q.select(col("vec_id").as("ia"), col("qvec").as("qa"))
    val b = q.select(col("vec_id").as("ib"), col("qvec").as("qb"))
    val pairs = a.join(b, col("ia") < col("ib")).limit(500)
      .select(Similarity.dotQuantized(col("qa"), col("qb")).as("k"),
        Similarity.dotQuantizedColumns(col("qa"), col("qb")).as("c"))
    assert(pairs.where(col("k") =!= col("c")).count() == 0)
  }

  test("quantizedTopK: top-1 matches exact brute force, ranks are sound") {
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 5), "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qt = Similarity.quantizedTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, rerank = 20)
    val rows = qt.collect()
    assert(rows.length == 25)
    // int8 over 16 dims preserves the exact top-1 for every query
    val top1 = rows.filter(_.getInt(4) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1 == bf, s"quantized top-1 diverged: $top1 vs $bf")
    // exact sims are monotone in rank per query
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(4))
      assert(sorted.map(_.getDouble(3)).toSeq ==
        sorted.map(_.getDouble(3)).sortBy(-_).toSeq)
    }
  }

  // ---- product quantization ----

  lazy val pqCodebooks: Seq[Seq[Seq[Double]]] = {
    // 8 pivot rows' subvectors per 4-dim subspace (the gate's trick)
    val piv = vecs.where(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    (0 until 4).map(s => piv.map(v => v.slice(s * 4, s * 4 + 4).toSeq).toSeq)
  }

  test("pqEncode matches the plain-Scala per-subspace argmin") {
    val got = Similarity.pqEncode(vecs, "vec_id", "embedding", 16, pqCodebooks)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.foreach { case (id, v) =>
      val want = (0 until 4).map { s =>
        val sub = v.slice(s * 4, s * 4 + 4).map(_.toDouble)
        pqCodebooks(s).zipWithIndex.map { case (c, j) =>
          (sub.zip(c).foldLeft(0.0) { case (a, (x, w)) => a + (x - w) * (x - w) }, j)
        }.minBy { case (d, j) => (d, j) }._2.toLong
      }
      assert(got(id) == want, s"pq code mismatch for vec $id")
    }
    // pivots encode to themselves (distance 0 to their own subvector)
    (0 until 8).foreach(i => assert(got(i.toLong) == Seq.fill(4)(i.toLong)))
  }

  test("trainPqCodebooks: one Lloyd step lands on per-subspace cluster means") {
    // subspace 0 clusters at 0 and 10; subspace 1 clusters at -5 and 5
    val df = (Seq.tabulate(4)(i =>
        (i.toLong, Array(0.1f * i, 0f, -5f, 0f))) ++
      Seq.tabulate(4)(i =>
        (10L + i, Array(10f + 0.1f * i, 0f, 5f, 0f))))
      .toDF("vec_id", "embedding")
    val seeds = Seq(
      Seq(Seq(1.0, 0.0), Seq(9.0, 0.0)),
      Seq(Seq(-1.0, 0.0), Seq(1.0, 0.0)))
    val trained = Similarity.trainPqCodebooks(df, "embedding", 4, seeds, iters = 1)
    assert(trained(0)(0) == Seq(0.15, 0.0) && trained(0)(1) == Seq(10.15, 0.0))
    assert(trained(1)(0) == Seq(-5.0, 0.0) && trained(1)(1) == Seq(5.0, 0.0))
  }

  test("trainPqCodebooks: fused single-pass equals per-subspace refineCentroids") {
    // irregular clusters + a degenerate row (NULL vec) + a short vec:
    // the fused one-pass refinement must reproduce the per-subspace
    // refineCentroids loop bit-for-bit, including exclusion rules
    val rows: Seq[(Long, Array[Float])] = Seq.tabulate(17) { i =>
      (i.toLong, Array.tabulate(6)(j => (i * 7 % 5) + 0.25f * j * (i % 3)))
    } ++ Seq((100L, null.asInstanceOf[Array[Float]]),
             (101L, Array(1f, 2f)))
    val df = rows.toDF("vec_id", "embedding")
    val seeds = Seq(
      Seq(Seq(0.0, 0.0, 0.0), Seq(3.0, 3.0, 3.0), Seq(5.0, 1.0, 2.0)),
      Seq(Seq(1.0, 1.0, 1.0), Seq(4.0, 2.0, 0.0), Seq(0.0, 5.0, 5.0)))
    val fused = Similarity.trainPqCodebooks(df, "embedding", 6, seeds, iters = 2)
    // reference: the pre-fusion formulation — one refineCentroids run
    // per subspace over that subspace's slice
    val ref = (0 until 2).map { s =>
      Similarity.refineCentroids(
        df.select(slice(col("embedding"), s * 3 + 1, 3).as("_sub")),
        "_sub", 3, seeds(s), iters = 2)
    }
    assert(fused == ref, s"fused=$fused ref=$ref")
  }

  test("pqTopK: full rerank equals brute force; bounded rerank is sound") {
    val queries = vecs.where(col("vec_id") < 5)
    // rerank >= corpus-1: every pair reaches the exact re-rank, so the
    // output must equal bruteForceTopK regardless of ADC ordering
    val full = Similarity.pqTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, dim = 16,
      codebooks = pqCodebooks, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val bf = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(full == bf)
    // bounded rerank: right shape, exact sims monotone in rank
    val rows = Similarity.pqTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, dim = 16,
      codebooks = pqCodebooks, rerank = 12).collect()
    assert(rows.length == 15)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val sorted = g.sortBy(_.getInt(4))
      assert(sorted.map(_.getDouble(3)).toSeq ==
        sorted.map(_.getDouble(3)).sortBy(-_).toSeq)
      // adc_dist present and finite for every emitted candidate
      assert(g.forall(r => !r.isNullAt(2) && !r.getDouble(2).isNaN))
    }
  }

  test("pqTopK/quantizedTopK: persisted-index paths equal the inline paths") {
    val queries = vecs.where(col("vec_id") < 3)
    val codes = Similarity.pqEncode(vecs, "vec_id", "embedding", 16, pqCodebooks)
    val viaCodes = Similarity.pqTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, dim = 16,
      codebooks = pqCodebooks, rerank = 12, preCodes = Some(codes))
      .collect().toSet
    val inline = Similarity.pqTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, dim = 16,
      codebooks = pqCodebooks, rerank = 12).collect().toSet
    assert(viaCodes == inline && inline.size == 9)
    val qz = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    val viaQz = Similarity.quantizedTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, rerank = 12,
      preQuantized = Some(qz)).collect().toSet
    val inlineQz = Similarity.quantizedTopK(vecs, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, rerank = 12).collect().toSet
    assert(viaQz == inlineQz && inlineQz.size == 9)
  }

  test("bpe: closed-form merges, training-word reproduction, round-trip, OOV") {
    import graft.ops.Bpe
    // corpus: "low" x5, "lower" x2, "newest" x6, "widest" x3 — the
    // Sennrich paper's shape. Pair census round 1: (e,s) 9, (s,t) 9,
    // (w,e) 8... ties (e,s)/(s,t) break lexicographically -> (e,s)
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val m = Bpe.train(docs, "text", numMerges = 4, sampleRows = 100)
    assert(m.merges == Vector(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")),
      m.merges.toString)
    assert(m.vocab.head == "<unk>" && m.vocab.contains("est") &&
      m.vocab.contains("low"))
    // training words reproduce their final training segmentation
    val seg = Seq((1L, "newest"), (2L, "lower"), (3L, "low"))
      .toDF("id", "text")
    val toks = Bpe.tokenize(seg, "text", m).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
    assert(toks(1L) == Seq("n", "e", "w", "est"), toks(1L).toString)
    assert(toks(2L) == Seq("low", "e", "r"))
    assert(toks(3L) == Seq("low"))
    // round-trip exactness on messy text incl. whitespace runs, unicode,
    // OOV chars; whitespace chars are single tokens; ids map OOV -> unk
    val messy = Seq(
      (1L, "lowest newest\t\tlow  "), (2L, "héllo wörld"), (3L, null: String),
      (4L, "a\nb"), (5L, ""))
      .toDF("id", "text")
    val rt = Bpe.tokenize(messy, "text", m)
      .select(col("id"),
        (concat_ws("", col("tokens")) === coalesce(col("text"), lit("")))
          .as("ok"),
        col("token_ids"))
      .collect().map(r => r.getLong(0) -> r).toMap
    (1L to 5L).foreach(id => assert(rt(id).getBoolean(1), s"round-trip $id"))
    // OOV é/ö chars map to UnkId; known chars map above it
    val ids2 = rt(2L).getSeq[Int](2)
    assert(ids2.contains(Bpe.UnkId))
    // blob round-trip
    val back = Bpe.Model.deserialize(m.serialize)
    assert(back.merges == m.merges && back.vocab == m.vocab)
    intercept[IllegalArgumentException](Bpe.Model.deserialize(m.serialize.take(7)))
    // encoding is a pure narrow projection
    val plan = Bpe.tokenize(messy, "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    // duplicate vocab symbols (two merge chains assembling one string,
    // or a literal "<unk>" in the corpus) must not reach the tokenIds
    // map() literal (mapKeyDedupPolicy=EXCEPTION) nor diverge from
    // Model.ids: training dedupes keep-first, and deserialize
    // normalizes pre-dedup blobs the same way
    val dup = Seq.fill(8)("ababab").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val md = Bpe.train(dup, "text", numMerges = 6, sampleRows = 100)
    assert(md.vocab == md.vocab.distinct, md.vocab.toString)
    assert(md.ids.size == md.vocab.length)
    val blob = Bpe.Model(md.merges,
      md.vocab ++ Vector(md.vocab.last)).serialize
    assert(Bpe.Model.deserialize(blob).vocab == Bpe.Model.deserialize(blob).vocab.distinct)
    // and tokenize still round-trips under the deduped vocab
    val dd = Bpe.tokenize(Seq((1L, "abab<unk>ab")).toDF("id", "text"), "text", md)
      .select(concat_ws("", col("tokens")) === col("text")).head().getBoolean(0)
    assert(dd)
  }

  test("rankBuckets: global-sort parity, ties, nulls-first, threshold guard") {
    import graft.ops.Sampling
    // scores engineered for coarse-cell collisions (many share a cell)
    // plus exact ties and NULLs — the cases where the cell decomposition
    // could diverge from a plain global sort
    val rnd = new scala.util.Random(3)
    val rows = (0 until 200).map { i =>
      val sc: java.lang.Double =
        if (i % 37 == 0) null
        else if (i % 5 == 0) 2.5                   // exact tie group
        else math.floor(rnd.nextDouble() * 40) / 10 // collides per 0.1 cell
      (i.toLong, sc)
    }
    val df = rows.toDF("id", "sc")
    val out = Sampling.rankBuckets(df, col("sc"),
      Seq("head" -> 3.0, "middle" -> 3.0, "tail" -> 4.0), col("id"),
      cellsPerUnit = 10L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // brute-force oracle: global sort (score asc nulls first, id asc)
    val sorted = rows.sortBy { case (id, sc) =>
      (if (sc == null) (0, 0.0) else (1, sc.doubleValue()), id)
    }
    val n = rows.length
    val t1 = math.floor(n * 0.3).toLong
    val t2 = math.floor(n * 0.6).toLong
    sorted.zipWithIndex.foreach { case ((id, _), idx) =>
      val want = if (idx + 1 <= t1) "head" else if (idx + 1 <= t2) "middle" else "tail"
      assert(out(id) == want, s"id=$id rank=${idx + 1}")
    }
    // NULL scores land in head (rank first)
    assert(rows.filter(_._2 == null).forall(r => out(r._1) == "head"))
    // a bucket whose share truncates to zero rows fails loudly
    intercept[IllegalArgumentException] {
      Sampling.rankBuckets(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "sc"),
        col("sc"), Seq("a" -> 1e-9, "b" -> 1.0), col("id"))
    }
    // NaN scores rank LAST (a true global sort orders NaN above every
    // double), not into cell 0 with the low scores
    val nanOut = Sampling.rankBuckets(
      Seq((1L, Double.NaN), (2L, 1.0), (3L, 2.0), (4L, 3.0)).toDF("id", "sc"),
      col("sc"), Seq("head" -> 1.0, "tail" -> 1.0), col("id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(nanOut(1L) == "tail" && nanOut(2L) == "head")
    // reserved scratch/output names are guarded, not silently clobbered
    intercept[IllegalArgumentException] {
      Sampling.rankBuckets(Seq((1L, 1.0, "x"), (2L, 2.0, "y"))
        .toDF("id", "sc", "bucket"),
        col("sc"), Seq("a" -> 1.0, "b" -> 1.0), col("id"))
    }
  }

  test("rankBuckets: hot-cell sub-split ranks degenerate constant scores " +
    "without a single-task sort") {
    import graft.ops.Sampling
    val n = 100000
    // the exact failure input the guard exists for: a broken upstream
    // scorer emitting one constant -> the whole corpus lands in ONE cell
    val df = spark.range(n.toLong).select(col("id"), lit(0.0).as("sc"))
    val out = Sampling.rankBuckets(df, col("sc"),
      Seq("head" -> 3.0, "middle" -> 3.0, "tail" -> 4.0), col("id"),
      hotCellRows = 10000L, subSplits = 16)
    // plan: the ranking window partitions by (_cell, _sub), never _cell alone
    val winSpecs = out.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(winSpecs.contains("_sub"),
      s"rank window not partitioned by _sub:\n$winSpecs")
    // balance: the sub assignment actually splits the hot cell — no
    // sub-cell holds more than 4x the ideal share (sample-quantile bound)
    val withCell = df.withColumn("_sc", col("sc"))
      .withColumn("_cell", lit(0L))
    val sub = Sampling.hotSubColumn(withCell, col("id"), Array(0L), 16)
    val subCounts = withCell.withColumn("_sub", sub)
      .groupBy("_sub").count().collect().map(_.getLong(1))
    assert(subCounts.length >= 8 && subCounts.max <= (n / 16) * 4,
      s"sub-split unbalanced: ${subCounts.mkString(",")}")
    // exactness: bucket boundaries fall at the global-sort ranks
    val byId = out.select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(0L) == "head" && byId(29999L) == "head")
    assert(byId(30000L) == "middle" && byId(59999L) == "middle")
    assert(byId(60000L) == "tail" && byId(n - 1L) == "tail")
    val counts = out.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("head" -> 30000L, "middle" -> 30000L, "tail" -> 40000L))
  }

  // ---- text analysis ----

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "el perro y la casa es una maravilla para los gatos"),
      (3L, "der hund und die katze ist nicht ein problem"),
      (4L, "xyzzy qwerty asdf")).toDF("id", "text")
    val got = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "es" && got(3L) == "de" && got(4L) == "und")
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq((1L, "Hello, world! x=42")).toDF("id", "text")
    val r = df.select(
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("bpe")).head()
    assert(r.getInt(0) == 4) // hello world x 42
    // runs: Hello world x 42 (4) + punct , ! = (3)
    assert(r.getInt(1) == 7)
  }

  test("fingerprint matches a reference implementation and is stable") {
    val text = "abc xyz"
    def ref(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 2147483647L)
    val got = Seq((1L, text)).toDF("id", "text")
      .select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    assert(got == ref(text))
  }

  test("quality score is in [0,1] and penalizes garbage") {
    val df = Seq(
      (1L, "A perfectly reasonable document with enough words to look like quality text for the filter to accept."),
      (2L, "!!!! ???? ####"),
      (3L, "x")).toDF("id", "text")
    val scores = df.select(col("id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(1L) > scores(2L) && scores(1L) > scores(3L))
  }

  // ---- multimodal plumbing ----

  test("media wrapping, decode stub, frame sampling shapes") {
    val media = Multimodal.asMedia(
      Seq((1L, "abcdefgh" * 4), (2L, "short")).toDF("id", "text"), "id", "text", "video")
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "payload", "meta"))
    val decoded = Multimodal.decodeAndFeaturize(media).collect()
    assert(decoded.forall(_.getAs[Seq[Double]]("features").length == 8))
    val frames = Multimodal.sampleFrames(media, frames = 4)
    assert(frames.count() == 8) // 2 media × 4 frames
    val lens = frames.where(col("media_id") === 1)
      .select(octet_length(col("frame_bytes"))).collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(8, 8, 8, 8))
  }

  test("single-pass minhash/simhash equal the per-slot reference formulations") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80)
    // reference (multi-pass) formulations — 31-bit ids, wrapping modulus
    // 2^31-1 (see Dedup.hashFamily for why the modulus must be small)
    val ids31 = transform(Dedup.shingles(col("text"), 2),
      s => xxhash64(s).bitwiseAND(lit(0x7FFFFFFFL)))
    val rnd = new scala.util.Random(42L)
    val fam = Seq.fill(16)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
    val refMinhash = array(fam.map { case (a, b) =>
      array_min(transform(ids31, x => pmod(x * lit(a) + lit(b), lit(2147483647L))))
    }: _*)
    val ids = transform(Dedup.shingles(col("text"), 2), s => xxhash64(s))
    val refSimhash = (0 until 64).map { b =>
      when(size(filter(ids, h => shiftright(h, b).bitwiseAND(1L) === 1L)) * 2 > size(ids),
        shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))

    val cmp = docs.select(
      (Dedup.minhashSignature(col("text"), 2, 16) === refMinhash).as("mh_eq"),
      (Dedup.simhash(col("text"), 2) === refSimhash).as("sh_eq")).collect()
    assert(cmp.forall(r => r.getBoolean(0) && r.getBoolean(1)))
  }

  test("keepCanonical: min_by survivor per duplicate group, partial-agg plan") {
    val df = Seq(
      (3L, "dup", "c"), (1L, "dup", "a"), (2L, "dup", "b"),
      (9L, "solo", "z")).toDF("id", "key", "v")
    val kept = Dedup.keepCanonical(df, col("key"), Seq(col("id")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(kept == Set((1L, "dup", "a"), (9L, "solo", "z")))
    // must be an aggregation with map-side combine, not a window sort
    val plan = Dedup.keepCanonical(df, col("key"), Seq(col("id")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected aggregate, got window:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("partial"),
      s"expected partial aggregation:\n$plan")
  }

  // ---- defaults builder ----

  test("defaults builder: own properties suppress sibling allOf (else-if chain)") {
    // jsen.js:752-812: `properties` and `allOf` are an else-if — a node
    // with its own properties never descends into its allOf for defaults
    val df = Seq((1L, null.asInstanceOf[String], null.asInstanceOf[Integer]),
      (2L, "x", Integer.valueOf(7))).toDF("id", "name", "n")
    val built = graft.compile.DefaultsBuilder.build(df,
      """{"allOf":[{"properties":{"name":{"default":"anon"}}}],
          "properties":{"n":{"default":0}}}""")
    val rows = built.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSet == Set((1L, null, 0), (2L, "x", 7)))
  }

  test("defaults builder: allOf branches apply in order, first default wins") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "x")).toDF("id", "name")
    val built = graft.compile.DefaultsBuilder.build(df,
      """{"allOf":[{"properties":{"name":{"default":"first"}}},
                   {"properties":{"name":{"default":"second"}}}]}""")
    val rows = built.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == Set((1L, "first"), (2L, "x")))
  }

  test("defaults builder: PropertyMarker — drop only keys additional to >1 allOf branch") {
    // fixes.js:123-175 (#47): a key declared by one branch survives
    // another branch's additionalProperties:false; a key declared by no
    // branch (marked twice) is dropped
    val df = Seq((1L, "a", "b")).toDF("id", "declared_once", "rogue")
    val built = graft.compile.DefaultsBuilder.build(df,
      """{"allOf":[
           {"properties":{"id":{},"declared_once":{}},"additionalProperties":false},
           {"properties":{"id":{}},"additionalProperties":false}]}""")
    assert(built.columns.toSeq == Seq("id", "declared_once"))
    // single branch marking (count 1) keeps the key under allOf...
    val single = graft.compile.DefaultsBuilder.build(df,
      """{"allOf":[{"properties":{"id":{}},"additionalProperties":false}]}""")
    assert(single.columns.toSeq == Seq("id", "declared_once", "rogue"))
    // ...but a plain (non-allOf) node deletes immediately
    val plain = graft.compile.DefaultsBuilder.build(df,
      """{"properties":{"id":{}},"additionalProperties":false}""")
    assert(plain.columns.toSeq == Seq("id"))
  }

  test("defaults builder: nested allOf recurses; declaration doesn't shield from >1 marks") {
    // jsen build() recurses into a branch that is itself an allOf
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "name")
    val nested = graft.compile.DefaultsBuilder.build(df,
      """{"allOf":[{"allOf":[{"properties":{"name":{"default":"anon"}}}]}]}""")
    assert(nested.collect().head.getString(1) == "anon")

    // a key declared (with default) by one branch is still deleted when
    // TWO other branches mark it additional (reference: marking checks
    // only the marking branch's own properties)
    val df2 = Seq((1L, "v")).toDF("id", "x")
    val dropped = graft.compile.DefaultsBuilder.build(df2,
      """{"allOf":[
           {"properties":{"x":{"default":"d"}}},
           {"properties":{"id":{}},"additionalProperties":false},
           {"properties":{"id":{}},"additionalProperties":false}]}""")
    assert(dropped.columns.toSeq == Seq("id"))
  }

  test("defaults builder: tuple-form items apply positional defaults (jsen.js:784-799)") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, Seq[Any](null, 5, null, 7))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("xs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = true)))))
    val built = graft.compile.DefaultsBuilder.build(df,
      """{"properties":{"xs":{"items":[{"default":1},{"default":9},{"default":3}]}}}""")
    // position 0 null → 1; position 1 present → 5; position 2 null → 3;
    // position 3 beyond the tuple → untouched null-safe (stays 7)
    assert(built.select("xs").head().getSeq[Integer](0) == Seq(1, 5, 3, 7))
  }

  test("defaults builder: additionalProperties modes (default/false/'always')") {
    import graft.compile.DefaultsBuilder
    import graft.compile.DefaultsBuilder.Additional
    val df = Seq((1L, "v")).toDF("id", "extra")
    val spec = """{"properties":{"id":{}},"additionalProperties":false}"""
    val silent = """{"properties":{"id":{}}}"""
    // schema says false → dropped under default and Drop...
    assert(DefaultsBuilder.build(df, spec).columns.toSeq == Seq("id"))
    assert(DefaultsBuilder.build(df, spec, Additional.Drop).columns.toSeq == Seq("id"))
    // ...but 'always' keeps extras even then (jsen.js:764-767,
    // test/build.js:588-735)
    assert(DefaultsBuilder.build(df, spec, Additional.Always)
      .columns.toSeq == Seq("id", "extra"))
    // silent schema: default keeps, Drop drops, Always keeps
    assert(DefaultsBuilder.build(df, silent).columns.toSeq == Seq("id", "extra"))
    assert(DefaultsBuilder.build(df, silent, Additional.Drop).columns.toSeq == Seq("id"))
    assert(DefaultsBuilder.build(df, silent, Additional.Always)
      .columns.toSeq == Seq("id", "extra"))
    // 'always' suppresses allOf PropertyMarker deletions too
    val marked = DefaultsBuilder.build(df,
      """{"allOf":[
           {"properties":{"id":{}},"additionalProperties":false},
           {"properties":{"id":{}},"additionalProperties":false}]}""",
      Additional.Always)
    assert(marked.columns.toSeq == Seq("id", "extra"))
  }

  // ---- multimodal: real header parsing ----

  private def hex(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  test("imageDims parses real PNG/JPEG/GIF headers; corrupt payloads are NULL") {
    // a real 1x1 PNG header (signature + IHDR for 640x360)
    val png = hex("89504E470D0A1A0A 0000000D 49484452 00000280 00000168 08 06 000000")
    // JPEG: SOI, APP0 stub, SOF0 with height=240 width=320
    val jpg = hex("FFD8 FFE0 0004 0000 FFC0 000B 08 00F0 0140 01 01 11 00")
    // same, with 0xFF fill bytes padding both markers (legal per spec)
    val jpgFill = hex("FFD8 FFFFFFE0 0004 0000 FFFFC0 000B 08 00F0 0140 01 01 11 00")
    // GIF89a 800x600 (little-endian)
    val gif = hex("474946383961 2003 5802 00")
    val rows = Seq(
      (1L, png), (2L, jpg), (3L, gif),
      (4L, "not an image".getBytes("UTF-8")),
      (5L, png.take(10)), // truncated
      (6L, null),
      (7L, jpgFill)).toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.imageDims(col("payload")).as("d"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else { val d = r.getStruct(1); (d.getString(0), d.getInt(1), d.getInt(2)) }))
      .toMap
    assert(got(1L) == ("png", 640, 360))
    assert(got(2L) == ("jpeg", 320, 240))
    assert(got(3L) == ("gif", 800, 600))
    assert(got(4L) == null && got(5L) == null && got(6L) == null)
    assert(got(7L) == ("jpeg", 320, 240))
  }

  test("wavMeta parses a real RIFF/WAVE header; non-WAV payloads are NULL") {
    // 44.1kHz stereo 16-bit with a 1000-byte data chunk (header only)
    val wav = hex("52494646 24080000 57415645 666D7420 10000000 0100 0200" +
      "44AC0000 10B10200 0400 1000 64617461 E8030000")
    val rows = Seq((1L, wav), (2L, "RIFFnope".getBytes("UTF-8")), (3L, null))
      .toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.wavMeta(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else { val m = r.getStruct(1); (m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3)) }))
      .toMap
    assert(got(1L) == (2, 44100, 16, 1000L))
    assert(got(2L) == null && got(3L) == null)
  }

  test("flacMeta parses a real STREAMINFO block; corrupt payloads are NULL") {
    // 44.1kHz stereo 16-bit, 1,000,000 total samples:
    // packed = 44100<<44 | 1<<41 | 15<<36 | 1000000
    val packed = (44100L << 44) | (1L << 41) | (15L << 36) | 1000000L
    val flac = hex("664C6143 80000022" + "00" * 10 +
      f"$packed%016X" + "00" * 16)
    // STREAMINFO behind a preceding VORBIS_COMMENT-style block (type 4)
    val chained = hex("664C6143 04000002 ABCD 80000022" + "00" * 10 +
      f"$packed%016X" + "00" * 16)
    val rows = Seq(
      (1L, flac), (2L, chained),
      (3L, "fLaCnope".getBytes("UTF-8")),        // marker but no block
      (4L, "not flac at all".getBytes("UTF-8")),
      (5L, flac.take(20)),                        // truncated STREAMINFO
      (6L, null)).toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.flacMeta(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else { val m = r.getStruct(1); (m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3)) }))
      .toMap
    assert(got(1L) == (2, 44100, 16, 1000000L), got(1L).toString)
    assert(got(2L) == (2, 44100, 16, 1000000L))
    assert(got(3L) == null && got(4L) == null && got(5L) == null && got(6L) == null)
  }

  test("mp3Meta parses Layer-III frame headers incl. ID3v2 skip; corrupt are NULL") {
    // MPEG1 L3 128kbps 44.1kHz stereo: FF FB 90 00 (bitrateIdx 9, rateIdx 0)
    val v1 = hex("FFFB9000")
    // MPEG2 L3 64kbps 22.05kHz mono: FF F3 A0 C0 (idx 10 -> 96? no: v2 table idx 10 = 96)
    val v2 = hex("FFF3A0C0")
    // MPEG2.5: FF E3 10 00 (idx 1 -> 8kbps, rateIdx 0 -> 11025)
    val v25 = hex("FFE31000")
    // ID3v2 prefix (size 17 syncsafe) then the v1 frame
    val id3 = hex("494433040000 00000011" + "00" * 17 + "FFFB9000")
    val rows = Seq(
      (1L, v1), (2L, v2), (3L, v25), (4L, id3),
      (5L, hex("FFFD9000")),                      // layer II -> unsupported
      (6L, hex("FFFB00F0")),                      // free bitrate / bad rate idx
      (7L, "plain text".getBytes("UTF-8")),
      (8L, null)).toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.mp3Meta(col("payload")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null
         else { val m = r.getStruct(1); (m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3)) }))
      .toMap
    assert(got(1L) == (1, 128, 44100, 2), got(1L).toString)
    assert(got(2L) == (2, 96, 22050, 1), got(2L).toString)
    assert(got(3L) == (25, 8, 11025, 2), got(3L).toString)
    assert(got(4L) == (1, 128, 44100, 2), got(4L).toString)
    assert(got(5L) == null && got(6L) == null && got(7L) == null && got(8L) == null)
  }

  // ---- LSH hot-bucket guards (the 100-TB skew hazard): 10^4 identical
  // ---- docs collapse every band/chunk bucket into one degenerate group
  // ---- whose unguarded self-join is O(10^8) pairs in a single task ----

  // 10,000 byte-identical docs — every band bucket / simhash chunk key is
  // shared by all of them
  lazy val hotDocs = (0 until 10000)
    .map(i => ((20000 + i).toLong, "boilerplate header text repeated verbatim"))
    .toDF("doc_id", "text")

  test("minhash hot-bucket guard: degenerate bucket dropped, real pairs kept") {
    val truth = Dedup.ngramJaccardDuplicates(docs, "doc_id", "text",
      blockCol = lit(1), threshold = 0.4, shingleN = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val guarded = Dedup.minhashDuplicates(docs.union(hotDocs), "doc_id", "text",
      threshold = 0.4, shingleN = 2, bands = 16, rowsPerBand = 4,
      maxBucket = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot group contributes ZERO pairs (bounded — not 10^8)...
    assert(!guarded.exists { case (a, b) => a >= 20000 || b >= 20000 })
    // ...and planted duplicates in healthy buckets are unaffected
    assert(guarded == truth, s"missing=${truth -- guarded} extra=${guarded -- truth}")
  }

  test("simhash hot-chunk guard: degenerate chunk dropped, planted pairs kept") {
    val guarded = Dedup.simhashDuplicates(docs.union(hotDocs), "doc_id", "text",
      maxDist = 16, shingleN = 2, maxBucket = 100)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!guarded.exists { case (a, b) => a >= 20000 || b >= 20000 })
    val planted = guarded.count { case (a, b) => b == a + 100 }
    assert(planted >= 12, s"expected >=12 planted pairs to survive, got $planted")
  }

  test("cosineDuplicates: hot-bucket guard + vectors kept off the bucket join") {
    val rnd = new scala.util.Random(11)
    val distinct = (0 until 6).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // a clone pair that must survive the guard
    val clones = Seq((100L, distinct.head._2), (101L, distinct.head._2.clone()))
    val hot = (0 until 10000).map(i => ((1000 + i).toLong, Array.fill(16)(1.0f)))
    val df = (distinct ++ clones ++ hot).toDF("id", "v")
    val out = Similarity.cosineDuplicates(df, "id", "v",
      threshold = 0.999, dim = 16, planes = 4, maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.exists { case (a, b) => a >= 1000 && a < 20000 && b >= 1000 })
    assert(out.contains((0L, 100L)) && out.contains((0L, 101L)) && out.contains((100L, 101L)),
      s"clone pairs lost: $out")
  }

  test("compressionRatio: boilerplate << prose < random; deterministic; edge cases") {
    val rnd = new scala.util.Random(5)
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders through a meadow full of unusual flowers while birds circle " * 4
    val boiler = "click here to subscribe now " * 40
    val noise = Array.fill(1000)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq(("prose", prose), ("boiler", boiler), ("noise", noise),
      ("empty", ""), ("nul", null)).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.compressionRatio(col("text")).as("r")).collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(out("boiler").get < out("prose").get,
      s"boilerplate ${out("boiler")} not below prose ${out("prose")}")
    assert(out("prose").get < out("noise").get,
      s"prose ${out("prose")} not below random ${out("noise")}")
    assert(out("boiler").get < 0.2 && out("noise").get > 0.5)
    assert(out("empty").contains(1.0) && out("nul").isEmpty)
    // two evaluations agree bit-for-bit (thread-local deflater resets clean)
    val twice = df.select(TextAnalysis.compressionRatio(col("text")).as("a"),
      TextAnalysis.compressionRatio(col("text")).as("b"))
      .where(col("a").isNotNull && col("a") =!= col("b")).count()
    assert(twice == 0)
  }

  test("dedupLinesWithinDoc: first occurrence kept, blanks kept, null passthrough") {
    val df = Seq((1L, "a\nb\na\n\nb\nc"), (2L, null.asInstanceOf[String]),
      (3L, "solo")).toDF("id", "text")
    val out = df.select(col("id"), Dedup.dedupLinesWithinDoc(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a\nb\n\nc")
    assert(out(2L) == null)
    assert(out(3L) == "solo")
    // pure narrow op: no exchange in the plan
    val plan = df.select(Dedup.dedupLinesWithinDoc(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("sourceReport: exact rollups, dominant-language tie-break, nulls surfaced") {
    val df = Seq(
      ("s1", "en", "xx"), ("s1", "en", "yyy"), ("s1", "de", "z"),
      ("s2", null, "abcd"), ("s2", "fr", "ab")).toDF("source", "lang", "text")
    val out = Report.sourceReport(df, "source", "text", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = out("s1")
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 6 && s1.getDouble(3) == 2.0)
    assert(s1.getLong(4) == 2 && s1.getString(5) == "en" && s1.getLong(6) == 2)
    val s2 = out("s2")
    // docs tie (1 vs 1): lexically smallest lang wins, NULL lang last
    assert(s2.getLong(1) == 2 && s2.getString(5) == "fr" && s2.getLong(4) == 2)
  }

  test("scriptSignals: counts, dominance tie-break, other/null, supplementary") {
    val df = Seq(
      (1L, "hello мир"),           // latin 5, cyrillic 3, 1 space
      (2L, "漢字です"),             // han 2, hiragana 2 → tie: han wins
      (3L, "123 !?"),              // no script code points → other
      (4L, null.asInstanceOf[String]),
      (5L, "a𐍈b")       // 𐐈-style supplementary (Gothic hwair)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scriptSignals(df, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_cp") == 9 && r1.getAs[Long]("n_letters") == 8)
    assert(r1.getAs[Double]("latin_frac") == 0.555556)
    assert(r1.getAs[Double]("cyrillic_frac") == 0.333333)
    assert(r1.getAs[String]("dominant_script") == "latin")
    assert(r1.getAs[Double]("dominant_frac") == 0.555556)
    val r2 = out(2L)
    // 漢字=han(2), です=hiragana(2): tie breaks to alphabetically first
    assert(r2.getAs[String]("dominant_script") == "han")
    assert(r2.getAs[Double]("han_frac") == 0.5)
    assert(r2.getAs[Double]("hiragana_frac") == 0.5)
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_cp") == 6 && r3.getAs[Long]("n_letters") == 0)
    assert(r3.getAs[String]("dominant_script") == "other")
    assert(r3.getAs[Double]("dominant_frac") == 0.0)
    val r4 = out(4L)
    assert(r4.getAs[Long]("n_cp") == 0 &&
      r4.getAs[String]("dominant_script") == "other" &&
      r4.getAs[Double]("letter_frac") == 0.0)
    // surrogate pair = ONE code point (Gothic: a letter, not a listed script)
    val r5 = out(5L)
    assert(r5.getAs[Long]("n_cp") == 3 && r5.getAs[Long]("n_letters") == 3)
    assert(r5.getAs[Double]("latin_frac") == 0.666667)
    assert(r5.getAs[String]("dominant_script") == "latin")
    // pure narrow projection
    val plan = TextAnalysis.scriptSignals(df, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("randomProject: hand-computed fold, scaling, degenerate inputs") {
    import graft.ops.Similarity
    val planes = Similarity.hyperplanes(2, 3, 7L)
    val df = Seq(
      (1L, Seq(1.0f, 2.0f, -1.0f)),
      (2L, Seq(1.0f, 2.0f)),                     // wrong length
      (3L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "v")
    val out = df.select(col("id"),
      Similarity.randomProject(col("v"), dim = 3, k = 2, seed = 7L).as("rp"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    val x = Seq(1.0, 2.0, -1.0)
    val want = planes.map { p =>
      val s = x.zip(p).foldLeft(0.0) { case (a, (xi, wi)) => a + xi * wi }
      math.round(s / math.sqrt(2.0) * 1e6) / 1e6
    }
    assert(out(1L).get == want)
    assert(out(2L).isEmpty && out(3L).isEmpty)
    // narrow plan
    val plan = df.select(Similarity.randomProject(col("v"), 3, 2, 7L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("prototypeSample: ranking per cell, tie-break, keepMost, degenerates") {
    import graft.ops.Similarity
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq(
      (1L, Seq(10.0f, 1.0f)),   // cell 0, cos ~0.995
      (2L, Seq(5.0f, 0.0f)),    // cell 0, cos 1.0
      (3L, Seq(3.0f, 2.0f)),    // cell 0, cos ~0.857
      (4L, Seq(0.5f, 4.0f)),    // cell 1
      (5L, Seq(0.0f, 0.0f)),    // zero vector: cos NULL, excluded
      (6L, Seq(5.0f, 0.0f)))    // duplicate of 2: tie -> smaller id first
      .toDF("id", "v")
    val least = Similarity.prototypeSample(df, "id", "v", cents, keepPerCell = 2)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("cell"),
        r.getAs[Int]("rank"))).sortBy(_._1)
    // cell 0 ascending cos: 3 (0.857), 1 (0.995), [2, 6 cut]; cell 1: 4
    assert(least.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 0L, 2), (3L, 0L, 1), (4L, 1L, 1)), least.toSeq.toString)
    val most = Similarity.prototypeSample(df, "id", "v", cents,
      keepPerCell = 2, keepLeastPrototypical = false)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("rank"))).sortBy(_._1)
    // cell 0 descending cos: 2 (1.0) then tie 6 loses to... 2 and 6 tie at
    // 1.0 -> smaller id (2) ranks 1, 6 ranks 2; cell 1: 4
    assert(most.toSeq == Seq((2L, 1), (4L, 1), (6L, 2)), most.toSeq.toString)
    // excluded degenerate never appears
    assert(!least.exists(_._1 == 5L) && !most.exists(_._1 == 5L))
  }

  test("assignShards: balanced permutation, contiguous pos, null key, one shuffle") {
    import graft.ops.Sampling
    val df = (1L to 200L).map(i => (i, s"d$i")).toDF("id", "t")
    val out = Sampling.assignShards(df, col("id"), numShards = 4, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    // exhaustive, shards in range, per-shard pos contiguous from 0
    assert(out.length == 200 && out.forall(t => t._2 >= 0 && t._2 < 4))
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // hash-balance: no shard takes more than half the corpus
    assert(out.groupBy(_._2).values.map(_.size).max < 100, out.groupBy(_._2).view.mapValues(_.size).toMap.toString)
    // deterministic per seed; a different seed permutes
    val again = Sampling.assignShards(df, col("id"), 4, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val other = Sampling.assignShards(df, col("id"), 4, seed = 8L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    assert(out.sortBy(_._1).toSeq != other.sortBy(_._1).toSeq)
    // NULL key lands in shard 0 at pos 0
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("id", "t")
    val n = Sampling.assignShards(withNull, col("id"), 4, seed = 7L)
      .where(col("id").isNull).collect()
    assert(n.length == 1 && n(0).getInt(2) == 0 && n(0).getLong(3) == 0L)
    // exactly one exchange (the ranking window shuffle)
    val plan = Sampling.assignShards(df, col("id"), 4, seed = 7L)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("dsir: weights favor target-like docs, edges, resample determinism") {
    import graft.ops.{Dsir, LmScore}
    val target = Seq((100L, "the cat sat on the mat"),
      (101L, "the dog sat on the rug")).toDF("doc_id", "text")
    val pool = Seq(
      (1L, "the cat sat on the mat"),        // exactly target-like
      (2L, "zz qq xx ww yy vv"),             // nothing like target
      (3L, "the cat sat somewhere else"),    // partially target-like
      (4L, "single"),                        // 1 word: no bigrams
      (5L, null.asInstanceOf[String]))       // NULL text
      .toDF("doc_id", "text")
    val tm = LmScore.train(target, "text", topV = 100, maxBigrams = 100)
    val rm = LmScore.train(pool, "text", topV = 100, maxBigrams = 100)
    val w = Dsir.importanceWeights(pool, "doc_id", "text", tm, rm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getDecimal(2)).map(_.doubleValue))).toMap
    // zero-bigram docs carry NULL weight
    assert(w(4L) == ((0L, None)) && w(5L) == ((0L, None)))
    // target-like doc outranks the alien one; partial in between
    assert(w(1L)._2.get > w(3L)._2.get && w(3L)._2.get > w(2L)._2.get,
      w.toString)
    // resample: deterministic per seed, caps at k, rank is 1..k,
    // excludes the evidence-free docs
    val s1 = Dsir.resample(pool, "doc_id", "text", tm, rm, k = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(4)))
    val s2 = Dsir.resample(pool, "doc_id", "text", tm, rm, k = 2, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(4)))
    assert(s1.toSeq == s2.toSeq && s1.length == 2)
    assert(s1.map(_._2).sorted.toSeq == Seq(1, 2))
    assert(!s1.exists(t => t._1 == 4L || t._1 == 5L))
    // everything selected when k >= eligible population
    val all = Dsir.resample(pool, "doc_id", "text", tm, rm, k = 10, seed = 7L)
      .collect()
    assert(all.length == 3)
    // scale shape: model joins broadcast (no SortMergeJoin), selection
    // is TakeOrderedAndProject (per-task heaps, no global sort)
    val plan = Dsir.resample(pool, "doc_id", "text", tm, rm, k = 2, seed = 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dsir: trainDual is value-identical to two separate trains") {
    import graft.ops.{Dsir, LmScore, TextAnalysis}
    val pool = Seq(
      (1L, "the cat sat on the mat", "en"),
      (2L, "zz qq xx ww yy vv the cat", "xx"),
      (3L, "the cat sat somewhere else", "en"),
      (4L, "single", "en"),
      (5L, null.asInstanceOf[String], "xx"),
      (6L, "le chat et le chien et le chat", "fr"))
      .toDF("doc_id", "text", "lang")
    val tmRef = LmScore.train(pool.where(col("lang") === "en"), "text",
      topV = 5, maxBigrams = 7)
    val rmRef = LmScore.train(pool, "text", topV = 5, maxBigrams = 7)
    val w = pool.select(col("doc_id"), (col("lang") === "en").as("is_t"),
      TextAnalysis.words(col("text")).as("ws"))
    val (tm, rm) = LmScore.trainDual(w, "ws", "is_t", topV = 5, maxBigrams = 7)
    def uniSet(m: LmScore.LmModel) =
      m.uni.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def biSet(m: LmScore.LmModel) =
      m.bi.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(uniSet(tm) == uniSet(tmRef) && uniSet(rm) == uniSet(rmRef))
    assert(biSet(tm) == biSet(tmRef) && biSet(rm) == biSet(rmRef))
    assert(tm.totalTokens == tmRef.totalTokens && rm.totalTokens == rmRef.totalTokens)
    assert(tm.vocabSize == tmRef.vocabSize && rm.vocabSize == rmRef.vocabSize)
    // and the full scored output agrees bit-for-bit
    val ref = Dsir.importanceWeights(pool, "doc_id", "text", tmRef, rmRef)
      .collect().map(_.toSeq).toSet
    val got = Dsir.importanceWeightsFromWords(w, "doc_id", "ws", tm, rm)
      .collect().map(_.toSeq).toSet
    assert(got == ref)
  }

  test("nbClassifier: exact census, reference-scored parity, edges") {
    import graft.ops.QualityClassifier
    import graft.compile.NbKernels
    val B = 101
    val corpus = Seq(
      (1L, "aa bb aa", java.lang.Boolean.TRUE),
      (2L, "cc dd", java.lang.Boolean.FALSE),
      (3L, null.asInstanceOf[String], java.lang.Boolean.TRUE),
      (4L, "ee", null.asInstanceOf[java.lang.Boolean])) // null label: dropped
      .toDF("doc_id", "text", "y")
    val m = QualityClassifier.train(corpus, "text", col("y"), buckets = B)
    assert(m.posDocs == 2 && m.negDocs == 1)
    assert(m.posTotal == 5 && m.negTotal == 3)
    // reference census with the same hash
    def bucket(f: String) = (NbKernels.fp(f, 31L) % B).toInt
    val posFeats = Seq("aa", "bb", "aa", "aa bb", "bb aa")
    val negFeats = Seq("cc", "dd", "cc dd")
    val expPos = posFeats.groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val expNeg = negFeats.groupBy(bucket).view.mapValues(_.size.toLong).toMap
    assert(m.bucketKeys.toSeq == (expPos.keySet ++ expNeg.keySet).toSeq.sorted)
    assert(m.bucketKeys.zip(m.posCounts).toMap ==
      m.bucketKeys.map(k => k -> expPos.getOrElse(k, 0L)).toMap)
    assert(m.bucketKeys.zip(m.negCounts).toMap ==
      m.bucketKeys.map(k => k -> expNeg.getOrElse(k, 0L)).toMap)
    // hand scorer: identical smoothing + fold order
    val l2 = (x: Double) => math.log(x) / math.log(2.0)
    def handScore(feats: Seq[String]) = {
      val terms = feats.map { f =>
        val b = bucket(f)
        val bi = m.bucketKeys.indexOf(b)
        val (p, n) = if (bi >= 0) (m.posCounts(bi), m.negCounts(bi)) else (0L, 0L)
        l2((p + 1).toDouble / (m.posTotal + B)) -
          l2((n + 1).toDouble / (m.negTotal + B))
      }
      math.round(terms.reduceLeft(_ + _) / terms.size * 1e6) / 1e6
    }
    val scored = QualityClassifier.score(Seq(
      (1L, "aa cc"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), "text", m)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(scored(1L) == (3L, handScore(Seq("aa", "cc", "aa cc"))))
    assert(scored(2L) == (0L, 0.0) && scored(3L) == (0L, 0.0))
    assert(m.priorLogOdds == l2(3.0 / 2.0))
  }

  test("nbClassifier: separates classes, blob round-trips, narrow plan") {
    import graft.ops.QualityClassifier
    val prose = "the quick brown fox jumps over the lazy dog again "
    val junk = "zq xjw qzv kqx wvz jqk xzq vqw "
    val train = ((1L to 20L).map(i => (i, prose + i, true)) ++
      (21L to 40L).map(i => (i, junk + i, false))).toDF("id", "text", "y")
    val m = QualityClassifier.train(train, "text", col("y"))
    val out = QualityClassifier.score(Seq(
      (1L, "the brown dog jumps over the quick fox"),
      (2L, "kqx zq vqw xjw")).toDF("id", "text"), "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) > 0 && out(2L) < 0, out.toString)
    val rt = QualityClassifier.Model.deserialize(m.serialize)
    assert(rt.buckets == m.buckets && rt.mult == m.mult &&
      rt.posDocs == m.posDocs && rt.negDocs == m.negDocs &&
      rt.posTotal == m.posTotal && rt.negTotal == m.negTotal &&
      rt.bucketKeys.toSeq == m.bucketKeys.toSeq &&
      rt.posCounts.toSeq == m.posCounts.toSeq &&
      rt.negCounts.toSeq == m.negCounts.toSeq)
    intercept[IllegalArgumentException] {
      QualityClassifier.Model.deserialize(m.serialize.take(9))
    }
    intercept[IllegalArgumentException] {
      QualityClassifier.Model.deserialize(Array[Byte](9, 8, 7, 6, 5, 4, 3, 2, 1))
    }
    // scoring is a pure narrow projection
    val plan = QualityClassifier.score(train, "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("lrClassifier: one-step closed form, separation, blob round-trip, narrow plan") {
    import graft.ops.LrClassifier
    import graft.compile.NbKernels
    val B = 101
    // fixture buckets must not collide for the closed form to hold
    val bAA = (NbKernels.fp("aa", 31) % B).toInt
    val bAAaa = (NbKernels.fp("aa aa", 31) % B).toInt
    val bBB = (NbKernels.fp("bb", 31) % B).toInt
    val bBBbb = (NbKernels.fp("bb bb", 31) % B).toInt
    assert(Seq(bAA, bAAaa, bBB, bBBbb).distinct.length == 4)
    val train = Seq(
      (1L, "aa aa", true), (2L, "aa aa", true),
      (3L, "bb bb", false), (4L, "bb bb", false)).toDF("id", "text", "y")
    val m = LrClassifier.train(train, "text", col("y"),
      buckets = B, iters = 1, lr = 4.0)
    // z = 0 → p = 0.5 → r = ∓0.5; g(pos bucket) = -1.0, g(neg) = +1.0;
    // step = floor(4·(±1/4)·1e6 + 0.5) = ±1e6 → weights ±1.0, bias 0
    assert(m.biasMicro == 0L)
    assert(m.weightsMicro(bAA) == 1000000L && m.weightsMicro(bAAaa) == 1000000L)
    assert(m.weightsMicro(bBB) == -1000000L && m.weightsMicro(bBBbb) == -1000000L)
    assert(m.weightsMicro.count(_ != 0L) == 4)
    val out = LrClassifier.score(Seq(
      (1L, "aa aa"), (2L, "bb bb"), (3L, null: String)).toDF("id", "text"),
      "text", m).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4))).toMap
    // z = ±2.0 → σ = 0.880797 / 0.119203; null text → bias only
    assert(out(1L) == (2000000L, 0.880797))
    assert(out(2L) == (-2000000L, 0.119203))
    assert(out(3L) == (0L, 0.5))
    // two-iteration training separates a realistic mixed corpus
    val prose = "the quick brown fox jumps over the lazy dog again "
    val junk = "zq xjw qzv kqx wvz jqk xzq vqw "
    val corpus = ((1L to 20L).map(i => (i, prose + i, true)) ++
      (21L to 40L).map(i => (i, junk + i, false))).toDF("id", "text", "y")
    val m2 = LrClassifier.train(corpus, "text", col("y"), buckets = 512)
    val probs = LrClassifier.score(Seq(
      (1L, "the brown dog jumps over the quick fox"),
      (2L, "kqx zq vqw xjw")).toDF("id", "text"), "text", m2)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(probs(1L) > 0.5 && probs(2L) < 0.5, probs.toString)
    assert(LrClassifier.filterByProb(corpus, "text", m2, 0.5)
      .agg(max(when(col("y"), 0L).otherwise(1L))).head.getLong(0) == 0L)
    val rt = LrClassifier.Model.deserialize(m2.serialize)
    assert(rt.buckets == m2.buckets && rt.mult == m2.mult &&
      rt.biasMicro == m2.biasMicro &&
      rt.weightsMicro.toSeq == m2.weightsMicro.toSeq)
    intercept[IllegalArgumentException] {
      LrClassifier.Model.deserialize(m2.serialize.take(9))
    }
    // scoring is a pure narrow projection
    val plan = LrClassifier.score(corpus, "text", m2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("charLm: exact counts, hand-computed surprisal, UNK path, edge docs") {
    import graft.ops.CharLm
    val corpus = Seq((1L, "abab")).toDF("id", "text")
    val m = CharLm.train(corpus, "text", maxAlphabet = 2)
    assert(m.alphabet.toSeq == Seq(97, 98) && m.v == 3)
    val ab = (97L << 21) | 98L
    val ba = (98L << 21) | 97L
    assert(m.bigramKeys.toSeq == Seq(ab, ba).sorted)
    assert(m.bigramKeys.zip(m.bigramCounts).toMap == Map(ab -> 2L, ba -> 1L))
    assert(m.ctxKeys.zip(m.ctxCounts).toMap == Map(97 -> 2L, 98 -> 1L))
    val l2 = (x: Double) => math.log(x) / math.log(2.0)
    def bits(terms: Seq[Double]) =
      math.round(-terms.reduceLeft(_ + _) / terms.size * 1e6) / 1e6
    val scored = CharLm.score(Seq(
      (1L, "abab"), (2L, "axb"), (3L, "a"), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("id", "text"), "text", m)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(scored(1L) ==
      (3L, bits(Seq(l2(3.0 / 5), l2(2.0 / 4), l2(3.0 / 5)))))
    // x is out-of-alphabet: (a,UNK) unseen bigram, (UNK,b) unseen context
    assert(scored(2L) == (2L, bits(Seq(l2(1.0 / 5), l2(1.0 / 3)))))
    assert(scored(3L) == (0L, 0.0) && scored(4L) == (0L, 0.0))
    assert(scored(5L) == (0L, 0.0))
    // scoring is a pure narrow projection
    val plan = CharLm.score(corpus, "text", m)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("charLm: in-distribution text scores below gibberish; blob round-trips") {
    import graft.ops.CharLm
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "the dog jumps over the quick brown fox again and again "
    val corpus = (0 until 20).map(i => (i.toLong, prose)).toDF("id", "text")
    val m = CharLm.train(corpus, "text")
    val out = CharLm.score(Seq(
      (1L, "the quick brown dog jumps over the lazy fox"),
      (2L, "zq xj qz jx wv kq vz qk zx jq")).toDF("id", "text"), "text", m)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < out(2L))
    val rt = CharLm.Model.deserialize(m.serialize)
    assert(rt.alphabet.toSeq == m.alphabet.toSeq &&
      rt.bigramKeys.toSeq == m.bigramKeys.toSeq &&
      rt.bigramCounts.toSeq == m.bigramCounts.toSeq &&
      rt.ctxKeys.toSeq == m.ctxKeys.toSeq &&
      rt.ctxCounts.toSeq == m.ctxCounts.toSeq)
    intercept[IllegalArgumentException] {
      CharLm.Model.deserialize(m.serialize.take(7))
    }
    intercept[IllegalArgumentException] {
      CharLm.Model.deserialize(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9))
    }
  }

  test("sampleToBudget: brute-force parity, nesting, edges, collision cut") {
    import graft.ops.Sampling
    val df = (1 to 200).map(i => (i.toLong, s"doc$i", (i * 7) % 50 + 1))
      .toDF("id", "k", "w")
    def sample(b: Long) = Sampling.sampleToBudget(
      df, col("k"), col("w"), b).collect().map(_.getLong(0)).toSet
    // brute-force restatement: exclusive prefix over (pmod(xxhash64(k),1e6), k)
    val ordered = df.withColumn("_h", pmod(xxhash64(col("k")), lit(1000000L)))
      .orderBy("_h", "k").collect()
      .map(r => (r.getLong(0), r.getInt(2).toLong))
    def brute(b: Long) = {
      var cum = 0L
      ordered.filter { case (_, w) => val in = cum < b; cum += w; in }
        .map(_._1).toSet
    }
    for (b <- Seq(0L, 1L, 500L, 2500L, 100000L)) assert(sample(b) == brute(b))
    assert(sample(0L).isEmpty && sample(100000L).size == 200)
    val s1 = sample(1000L); val s2 = sample(3000L)
    assert(s1.subsetOf(s2) && s1.nonEmpty && s2.size > s1.size)
    // all rows forced into ONE straddling cell: the cut is by key order
    val one = Sampling.sampleToBudget(df, col("k"), col("w"), 300L,
      hash = _ => lit(0L)).collect().map(_.getString(1)).toSet
    var cum = 0L
    val expect = df.collect().map(r => (r.getString(1), r.getInt(2).toLong))
      .sortBy(_._1)
      .filter { case (_, w) => val in = cum < 300L; cum += w; in }
      .map(_._1).toSet
    assert(one == expect && one.nonEmpty && one.size < 200)
    // corpus side joins the broadcast cut table — never a sort-merge join
    val plan = Sampling.sampleToBudget(df, col("k"), col("w"), 500L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"))
  }

  test("sampleToBudget: NULL key lands in cell -1 and joins the sample first") {
    import graft.ops.Sampling
    // xxhash64(NULL) returns the SEED (not NULL) — the guard must not
    // rely on hash NULL-propagation or the NULL key scatters into
    // cell pmod(seed, 1e6) among ordinary keys
    val df = ((1 to 50).map(i => (i.toLong, Option(s"doc$i"), 10L)) :+
      (99L, Option.empty[String], 10L)).toDF("id", "k", "w")
    // budget of one weight unit: only cell -1's straddling cut survives
    val tiny = Sampling.sampleToBudget(df, col("k"), col("w"), 10L)
      .collect().map(_.getLong(0)).toSet
    assert(tiny == Set(99L), tiny.toString)
    // full budget keeps everything, NULL included
    val all = Sampling.sampleToBudget(df, col("k"), col("w"), 100000L)
      .collect().map(_.getLong(0)).toSet
    assert(all.size == 51 && all.contains(99L))
  }

  test("c4CleanLines + c4Filter: each published rule fires on its planted case") {
    val okLine = "This line has plenty of words and ends correctly."
    val df = Seq(
      ("good", s"$okLine\nAnother proper sentence sits right here today.\nAnd a third full sentence closes the page out."),
      ("nopunct", s"$okLine\nthis line just trails off with no punctuation"),
      ("short", s"$okLine\nToo short."),
      ("js", s"$okLine\nPlease enable javascript to continue reading this."),
      ("lorem", s"$okLine\nMore Lorem Ipsum filler text appears over here.\nAnd a third full sentence closes the page out."),
      ("curly", s"$okLine\nA config block { nested } sits in this sentence.\nAnd a third full sentence closes the page out."),
      ("bad", s"$okLine\nThe word zqnaughty appears right here in this one.\nAnd a third full sentence closes the page out."),
      ("fewsent", okLine))
      .toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(df, "text", badWords = Seq("zqnaughty"))
      .select("doc_id", "clean_text", "n_sentences", "reasons", "keep")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getSeq[String](3), r.getBoolean(4))))
      .toMap
    assert(out("good")._4, out("good").toString)
    assert(out("good")._2 == 3L)
    // line rules rewrite clean_text (page still keeps if >= 3 sentences remain)
    assert(!out("nopunct")._1.contains("trails off"))
    assert(!out("short")._1.contains("Too short."))
    assert(!out("js")._1.toLowerCase.contains("javascript"))
    // page rules
    assert(out("lorem")._3 == Seq("lorem_ipsum"))
    assert(out("curly")._3 == Seq("curly_brace"))
    assert(out("bad")._3 == Seq("bad_words"))
    assert(out("fewsent")._3 == Seq("too_few_sentences") && !out("fewsent")._4)
    // zero-shuffle contract: pure narrow projection
    val plan = TextAnalysis.c4Filter(df, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("winnowFingerprints: hand-checked selection, overlap guarantee, density, edges") {
    // hand-checkable doc: words a b c d e f g h -> 6 3-grams, w=4 windows
    val df = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    // brute-force replica of the algorithm on the same hash
    def fp(s: String): Long =
      s.codePoints.toArray.foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L)
    val words = "a b c d e f g h".split(" ")
    val grams = (0 to 5).map(i => fp(words.slice(i, i + 3).mkString(" ")))
    val sel = (0 to 2).map { j =>
      (j until j + 4).foldLeft((Long.MaxValue, -1)) { case ((h, p), i) =>
        if (grams(i) <= h) (grams(i), i) else (h, p) }
    }.map { case (h, p) => (p, h) }.distinct.sortBy(_._1)
    assert(got.toSeq == sel, s"got=${got.toSeq} want=$sel")
    // guarantee: docs sharing a run of >= w+k-1 = 6 words share a fingerprint
    val pair = Seq(
      (1L, "x y z shared run of six words exactly here p q"),
      (2L, "m n shared run of six words exactly here r s t")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(pair, "doc_id", "text", k = 3, w = 4)
    val shared = fps.where(col("doc_id") === 1).select("fp").intersect(
      fps.where(col("doc_id") === 2).select("fp")).count()
    assert(shared >= 1)
    // density: selections are a strict subset of gram positions on prose
    val long = Seq((1L, (1 to 200).map(i => s"w${i % 37}").mkString(" ")))
      .toDF("doc_id", "text")
    val nSel = Dedup.winnowFingerprints(long, "doc_id", "text", k = 3, w = 4).count()
    assert(nSel < 198 && nSel >= 198 / 4, nSel.toString) // ~2/(w+1) of 198 grams
    // edges: short doc (fewer grams than w) winnows one window; empty/null none
    val shortDoc = Seq((1L, "a b c d"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val se = Dedup.winnowFingerprints(shortDoc, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0))
    assert(se.toSeq == Seq(1L), se.toSeq.toString)
    // narrow plan: no shuffle before the output
    val plan = Dedup.winnowFingerprints(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("winnowOverlaps: brute-force parity, coverage arithmetic, hot-fp cap") {
    // docs fixture: 20 planted near-dup pairs (i, i+100) share every run
    // except around the one perturbed word; bases are cross-disjoint
    val got = Dedup.winnowOverlaps(docs, "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // oracle: recompute pairs from the selection operator's own output
    val byDoc = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      a <- byDoc.keys; b <- byDoc.keys if a < b
      shared = (byDoc(a) & byDoc(b)).size if shared >= 2
    } yield (a, b) -> ((shared.toLong,
      shared.toDouble / byDoc(a).size, shared.toDouble / byDoc(b).size))).toMap
    assert(got == expect, s"missing=${expect.keySet -- got.keySet} " +
      s"extra=${got.keySet -- expect.keySet}")
    assert(expect.keySet.map { case (a, b) => (a % 100, b % 100) }
      .forall { case (a, b) => a == b }, "only planted clone pairs overlap")
    assert(got.nonEmpty && got.size == 20, got.size.toString)
    // hot-fp cap: capping every shared fingerprint bucket kills all pairs
    val capped = Dedup.winnowOverlaps(docs, "doc_id", "text",
      k = 3, w = 4, minShared = 1, maxBucket = 1)
    assert(capped.count() == 0)
  }

  test("piiSpans: typed spans with in-doc occurrence order") {
    val df = Seq(
      (1L, "mail a@b.co then c@d.org call 555-123-4567 from 10.0.0.1"),
      (2L, "nothing here")).toDF("doc_id", "text")
    val got = TextAnalysis.piiSpans(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(got == Set(
      (1L, "email", 0, "a@b.co"), (1L, "email", 1, "c@d.org"),
      (1L, "phone", 0, "555-123-4567"), (1L, "ipv4", 0, "10.0.0.1")), got.toString)
  }

  test("bloom exact-dedup index: no false negatives, NULL keys kept, zero-join plan") {
    val seen = (1 to 300).map(i => (i.toLong, s"doc text number $i")).toDF("id", "text")
    val index = Dedup.buildExactIndex(seen, col("text"), 10000L, 1e-8)
    val batch = ((200 to 400).map(i => (i.toLong, Option(s"doc text number $i"))) :+
      (999L, Option.empty[String])).toDF("id", "text")
    val kept = Dedup.dropSeenExact(batch, col("text"), index)
      .collect().map(_.getLong(0)).toSet
    // every indexed text dropped (no false negatives); fresh texts and
    // the NULL-text row survive
    assert(kept == ((301 to 400).map(_.toLong).toSet + 999L), kept.toString)
    // the probe is a pure filter: no join, no shuffle
    val plan = Dedup.dropSeenExact(batch, col("text"), index)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    // a corrupt blob fails fast
    intercept[IllegalArgumentException] {
      Dedup.dropSeenExact(batch, col("text"), Array[Byte](1, 2, 3))
    }
  }

  test("paragraph bloom dedup: seen paragraphs drop, order/blanks/doc survive") {
    val yday = Seq(
      (1L, "shared one\n\nkeep a"),
      (2L, "shared two\n\n  \n\nkeep b")).toDF("id", "text")
    val index = Dedup.buildParagraphIndex(yday, "text", 1000L, 1e-8)
    val batch = Seq(
      (10L, Option("fresh start\n\nshared one\n\nfresh end")),   // middle drops
      (11L, Option("shared two\n\nshared one")),                 // all drop → ""
      (12L, Option("shared one\n\n \n\nnovel")),                 // blank survives
      (13L, Option.empty[String]),                               // NULL → ""
      (14L, Option("untouched\n\ndoc"))).toDF("id", "text")
    val got = Dedup.dropSeenParagraphs(batch, "text", index)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) == "fresh start\n\nfresh end")
    assert(got(11L) == "")
    assert(got(12L) == " \n\nnovel")
    assert(got(13L) == "")
    assert(got(14L) == "untouched\n\ndoc")
    // whitespace-only paragraphs never index (indexing them would blank
    // every doc's structure on probe)
    val kept12 = got(12L).split("\n\n")
    assert(kept12.head == " ")
    // pure narrow filter: no join, no shuffle
    val plan = Dedup.dropSeenParagraphs(batch, "text", index)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException] {
      Dedup.dropSeenParagraphs(batch, "text", Array[Byte](1, 2, 3))
    }
  }

  test("pcmStats: real 8/16-bit decode, truncation, non-PCM nulls") {
    import graft.ops.Multimodal
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = le16(v & 0xFFFF) ++ le16(v >>> 16)
    def wav(fmt: Int, bits: Int, data: Array[Byte], declared: Int) =
      "RIFF".getBytes ++ le32(36 + declared) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(fmt) ++ le16(1) ++ le32(8000) ++
        le32(8000 * bits / 8) ++ le16(bits / 8) ++ le16(bits) ++
        "data".getBytes ++ le32(declared) ++ data
    // 16-bit: samples 100, -200, 32767, -32768
    val d16 = le16(100) ++ le16(65536 - 200) ++ le16(32767) ++ le16(32768)
    // 8-bit unsigned centered at 128: 128, 0, 255 → 0, -128, 127
    val d8 = Array(128.toByte, 0.toByte, 255.toByte)
    val rows = Seq(
      (1L, wav(1, 16, d16, 8)),                 // exact
      (2L, wav(1, 16, d16, 18)),                // declared past payload
      (3L, wav(1, 8, d8, 3)),                   // 8-bit path
      (4L, wav(3, 16, d16, 8)),                 // float format → NULL
      (5L, wav(1, 24, d16, 8)),                 // unsupported depth → NULL
      (6L, "not audio at all".getBytes)         // non-WAV → NULL
    ).toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.pcmStats(col("payload")).as("st"))
      .select(col("id"), col("st.n_samples"), col("st.peak"),
        col("st.sum_abs"), col("st.sum_sq"),
        Multimodal.pcmRms(col("st")).as("rms"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val exp16 = (4L, 32768, 100L + 200 + 32767 + 32768,
      100L * 100 + 200 * 200 + 32767L * 32767 + 32768L * 32768)
    Seq(1L, 2L).foreach { id =>
      val r = got(id)
      assert((r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)) == exp16, s"id=$id")
      assert(r.getDouble(5) ==
        BigDecimal(math.sqrt(exp16._4.toDouble / 4))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val r8 = got(3L)
    assert((r8.getLong(1), r8.getInt(2), r8.getLong(3), r8.getLong(4)) ==
      (3L, 128, 0L + 128 + 127, 128L * 128 + 127L * 127))
    Seq(4L, 5L, 6L).foreach(id => assert(got(id).isNullAt(1), s"id=$id"))
  }

  test("rgbResize: nearest-neighbor, bottom-up + top-down, upsample, rejects") {
    import graft.ops.Multimodal
    import spark.implicits._
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = le16(v & 0xFFFF) ++ le16(v >>> 16)
    def bmp(w: Int, h: Int, px: Array[Byte]) =
      "BM".getBytes ++ le32(54 + px.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
        le32(0) ++ le32(px.length) ++ le32(2835) ++ le32(2835) ++
        le32(0) ++ le32(0) ++ px
    // 2x2 bottom-up, stride 8: disk row 0 = IMAGE row 1
    val px = Array[Byte](
      10, 20, 30, 40, 50, 60, 99, 99,  // disk row 0 → image row 1
      1, 2, 3, 4, 5, 6, 99, 99)        // disk row 1 → image row 0
    val topDown = ("BM".getBytes ++ le32(54 + px.length) ++ le32(0) ++
      le32(54) ++ le32(40) ++ le32(2) ++ le32(-2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(px.length) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0) ++ px)
    val rows = Seq(
      1L -> bmp(2, 2, px), 2L -> topDown,
      3L -> bmp(2, 2, px.dropRight(10)),      // sampled pixel missing → NULL
      4L -> "junk".getBytes).toDF("id", "payload")
    // identity 2x2 resize: image order = disk rows flipped (RGB order out)
    val got = rows.select($"id", Multimodal.rgbResize($"payload", 2, 2).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(got(1L) == Seq[Byte](3, 2, 1, 6, 5, 4, 30, 20, 10, 60, 50, 40))
    // top-down: disk row 0 IS image row 0
    assert(got(2L) == Seq[Byte](30, 20, 10, 60, 50, 40, 3, 2, 1, 6, 5, 4))
    assert(got(3L) == null && got(4L) == null)
    // 1x1 downsample picks (0,0); 4x2 upsample repeats columns (sx = x*2/4)
    val one = rows.where($"id" === 1)
      .select(Multimodal.rgbResize($"payload", 1, 1)).head().getAs[Array[Byte]](0)
    assert(one.toSeq == Seq[Byte](3, 2, 1))
    val up = rows.where($"id" === 1)
      .select(Multimodal.rgbResize($"payload", 4, 1)).head().getAs[Array[Byte]](0)
    assert(up.toSeq == Seq[Byte](3, 2, 1, 3, 2, 1, 6, 5, 4, 6, 5, 4))
  }

  test("rgbStats: real BMP decode, padding, truncation, top-down, rejects") {
    import graft.ops.Multimodal
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = le16(v & 0xFFFF) ++ le16(v >>> 16)
    def bmp(w: Int, h: Int, bits: Int, comp: Int, px: Array[Byte]) =
      "BM".getBytes ++ le32(54 + px.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(bits) ++
        le32(comp) ++ le32(px.length) ++ le32(2835) ++ le32(2835) ++
        le32(0) ++ le32(0) ++ px
    // 2x2, stride 8 (2 pad bytes/row): pixels BGR
    val px = Array[Byte](
      10, 20, 30, 40, 50, 60, 99, 99,   // row 0: (b,g,r)=(10,20,30),(40,50,60); pad 99s ignored
      1, 2, 3, 4, 5, 6, 99, 99)         // row 1
    val rows = Seq(
      (1L, bmp(2, 2, 24, 0, px)),                    // exact
      (2L, bmp(2, -2 & 0x7FFFFFFF, 24, 0, px)),      // placeholder, replaced below
      (3L, bmp(2, 2, 24, 0, px.dropRight(10))),      // truncated: row 1 loses pixel 2
      (4L, bmp(2, 2, 8, 0, px)),                     // unsupported depth
      (5L, bmp(2, 2, 24, 1, px)),                    // compressed (BI_RLE8)
      (6L, "PNG-ish junk payload".getBytes),
      (8L, bmp(2, Int.MinValue, 24, 0, px)),         // abs() would stay negative
      (9L, bmp(Int.MaxValue, Int.MaxValue, 24, 0, px))) // forged dims: y*stride would overflow Long
      .toDF("id", "payload")
    val topDown = ("BM".getBytes ++ le32(54 + px.length) ++ le32(0) ++
      le32(54) ++ le32(40) ++ le32(2) ++ le32(-2) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(px.length) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0) ++ px)
    val rows2 = rows.union(Seq((7L, topDown)).toDF("id", "payload"))
    val got = rows2.select(col("id"), Multimodal.rgbStats(col("payload")).as("st"))
      .select(col("id"), col("st.width"), col("st.height"), col("st.n_px"),
        col("st.sum_r"), col("st.sum_g"), col("st.sum_b"),
        Multimodal.rgbMeanBrightness(col("st")).as("br"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val full = got(1L)
    assert((full.getInt(1), full.getInt(2), full.getLong(3)) == (2, 2, 4L))
    assert((full.getLong(4), full.getLong(5), full.getLong(6)) ==
      (30L + 60 + 3 + 6, 20L + 50 + 2 + 5, 10L + 40 + 1 + 4))
    // top-down (negative height): same sums, |height|
    val td = got(7L)
    assert((td.getInt(1), td.getInt(2), td.getLong(3),
      td.getLong(4)) == (2, 2, 4L, 30L + 60 + 3 + 6))
    // truncated (10 of 16 pixel-array bytes dropped): only row 0's two
    // pixels remain whole — row 1's start lies past the payload
    val tr = got(3L)
    assert(tr.getLong(3) == 2L && tr.getLong(4) == 30L + 60)
    Seq(4L, 5L, 6L, 8L).foreach(id => assert(got(id).isNullAt(1), s"id=$id"))
    // forged huge height: loop is bounded by the payload, not the header
    // (2^31 declared rows must not spin; only the 2 real rows decode)
    val hh = got(2L)
    assert(hh.getInt(2) == (-2 & 0x7FFFFFFF) && hh.getLong(3) == 4L)
    // forged huge width AND height: y*stride would overflow Long without
    // the payload bound — must decode the in-payload prefix, not throw
    val ow = got(9L)
    assert(ow.getLong(3) == 5L, s"n_px=${ow.getLong(3)}") // floor((16-3)/3)+1 px of row 0 fit
  }

  test("pngStats: real PNG decode — inflate, all five filters, gray/RGBA, " +
    "truncation, rejects") {
    import graft.ops.Multimodal
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]) =
      be32(data.length) ++ typ.getBytes ++ data ++ be32(0) // CRCs unchecked
    def ihdr(w: Int, h: Int, ct: Int, depth: Int = 8, il: Int = 0) =
      chunk("IHDR", be32(w) ++ be32(h) ++
        Array(depth.toByte, ct.toByte, 0.toByte, 0.toByte, il.toByte))
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def deflate(raw: Array[Byte], level: Int = -1) = {
      val d = new java.util.zip.Deflater(level)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length * 2 + 64)
      val n = d.deflate(buf); d.end(); buf.take(n)
    }
    def png(w: Int, h: Int, ct: Int, idat: Array[Byte],
            depth: Int = 8, il: Int = 0) =
      sig ++ ihdr(w, h, ct, depth, il) ++ chunk("IDAT", idat) ++
        chunk("IEND", Array.empty[Byte])
    // inverse of the decoder's unfilter: emit the FILTERED scanline that
    // must reconstruct to `cur`
    def filterRow(f: Int, cur: Array[Byte], prev: Array[Byte], bpp: Int) = {
      val out = new Array[Byte](cur.length + 1); out(0) = f.toByte
      def u(a: Array[Byte], i: Int) = if (i >= 0) a(i) & 0xFF else 0
      def paeth(a: Int, b: Int, c: Int) = {
        val p = a + b - c
        val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      for (i <- cur.indices) {
        val left = u(cur, i - bpp); val up = u(prev, i); val ul = u(prev, i - bpp)
        val sub = f match {
          case 0 => 0; case 1 => left; case 2 => up
          case 3 => (left + up) >>> 1; case 4 => paeth(left, up, ul)
        }
        out(i + 1) = (((cur(i) & 0xFF) - sub) & 0xFF).toByte
      }
      out
    }
    // 3x5 RGB, one row per filter type 0..4, deterministic pixels
    val w = 3; val h = 5; val bpp = 3
    val pixels = Array.tabulate(h, w * bpp)((j, i) => ((j * 31 + i * 7 + 5) % 256).toByte)
    val rawB = Array.newBuilder[Byte]
    var prevRow = new Array[Byte](w * bpp)
    for (j <- 0 until h) { rawB ++= filterRow(j, pixels(j), prevRow, bpp); prevRow = pixels(j) }
    val raw = rawB.result()
    var er = 0L; var eg = 0L; var eb = 0L
    for (j <- 0 until h; x <- 0 until w) {
      er += pixels(j)(x * 3) & 0xFF; eg += pixels(j)(x * 3 + 1) & 0xFF
      eb += pixels(j)(x * 3 + 2) & 0xFF
    }
    val rgb = png(w, h, 2, deflate(raw))
    val gray = png(2, 2, 0, deflate(Array[Byte](0, 1, 2, 0, 3, 4)))
    val rgba = png(1, 2, 6, deflate(Array[Byte](
      0, 10, 20, 30, 99.toByte, 0, 40, 50, 60, 7)))
    // stored-block (level 0) stream cut after row 0: exactly w pixels decode
    val stored = deflate(raw, level = 0)
    val oneRow = png(w, h, 2, stored.take(2 + 5 + (w * bpp + 1)))
    val rows = Seq(
      (1L, rgb), (2L, gray), (3L, rgba), (4L, oneRow),
      (5L, rgb.dropRight(30)),                         // byte-truncated payload
      (6L, png(2, 2, 2, deflate(Array[Byte](0, 1, 2)), depth = 16)), // depth 16
      (7L, png(2, 2, 2, deflate(Array[Byte](0, 1, 2)), il = 1)),     // interlaced
      (8L, png(2, 2, 3, deflate(Array[Byte](0, 1, 2)))),             // palette
      (9L, "not a png at all".getBytes))
      .toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.pngStats(col("payload")).as("st"))
      .select(col("id"), col("st.width"), col("st.height"), col("st.n_px"),
        col("st.sum_r"), col("st.sum_g"), col("st.sum_b"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val full = got(1L)
    assert((full.getInt(1), full.getInt(2), full.getLong(3)) == (w, h, (w * h).toLong))
    assert((full.getLong(4), full.getLong(5), full.getLong(6)) == (er, eg, eb),
      full.toString)
    val g = got(2L)
    assert((g.getInt(1), g.getLong(3), g.getLong(4), g.getLong(5), g.getLong(6))
      == (2, 4L, 10L, 10L, 10L))
    val a = got(3L)
    assert((a.getLong(3), a.getLong(4), a.getLong(5), a.getLong(6))
      == (2L, 50L, 70L, 90L)) // alpha bytes ignored
    // stored-block cut after row 0: the decoded prefix is exactly row 0
    val o = got(4L)
    val r0 = (0 until w).map(x => pixels(0)(x * 3) & 0xFF).sum.toLong
    assert(o.getLong(3) == w.toLong && o.getLong(4) == r0, o.toString)
    // byte-truncated: never throws, decodes a strict prefix
    assert(got(5L).isNullAt(1) || got(5L).getLong(3) < (w * h).toLong)
    Seq(6L, 7L, 8L, 9L).foreach(id => assert(got(id).isNullAt(1), s"id=$id"))
  }

  test("gifStats: real GIF-LZW decode — width growth, KwKwK, deferred clear, " +
    "local palette, interlace, truncation, rejects") {
    import graft.ops.Multimodal
    // real GIF-LZW encoder (the decoder's exact inverse): emits
    // variable-width codes LSB-first, grows the width when the
    // just-added entry's code reaches 1<<codeSize, freezes at 4096
    // (deferred clear — no reset emitted, the decoder must cope)
    def lzwEncode(minCode: Int, idx: Seq[Int]): Array[Byte] = {
      val clear = 1 << minCode; val endC = clear + 1
      val out = Array.newBuilder[Byte]
      var cur = 0L; var nb = 0; var codeSize = minCode + 1
      def put(code: Int): Unit = {
        cur |= code.toLong << nb; nb += codeSize
        while (nb >= 8) { out += (cur & 0xFF).toByte; cur >>>= 8; nb -= 8 }
      }
      val dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
      var next = clear + 2
      put(clear)
      var w = -1
      idx.foreach { k =>
        if (w == -1) w = k
        else dict.get((w, k)) match {
          case Some(c) => w = c
          case None =>
            put(w)
            if (next < 4096) {
              dict((w, k)) = next
              if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
              next += 1
            }
            w = k
        }
      }
      if (w != -1) put(w)
      put(endC)
      if (nb > 0) out += (cur & 0xFF).toByte
      out.result()
    }
    def palBits(n: Int) = { // palette size -> GIF size field (2^(f+1) = n)
      var f = 0; while ((2 << f) < n) f += 1; f
    }
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >>> 8) & 0xFF).toByte)
    def gif(w: Int, h: Int, pal: Seq[(Int, Int, Int)], idx: Seq[Int],
            minCode: Int, interlace: Boolean = false, local: Boolean = false,
            gce: Boolean = false, globalPal: Seq[(Int, Int, Int)] = Nil)
      : Array[Byte] = {
      val out = Array.newBuilder[Byte]
      out ++= "GIF89a".getBytes
      out ++= le16(w); out ++= le16(h)
      val gp = if (local) globalPal else pal
      if (gp.nonEmpty) {
        out += (0x80 | (palBits(gp.size) & 7)).toByte
        out += 0.toByte; out += 0.toByte
        gp.foreach { case (r, g, b) =>
          out += r.toByte; out += g.toByte; out += b.toByte }
        // pad the declared 2^(f+1) entries
        (gp.size until (2 << palBits(gp.size))).foreach { _ =>
          out += 0.toByte; out += 0.toByte; out += 0.toByte }
      } else { out += 0.toByte; out += 0.toByte; out += 0.toByte }
      if (gce) { // graphic control extension: must be skipped
        out += 0x21.toByte; out += 0xF9.toByte
        out += 4.toByte; out ++= Array[Byte](0, 0, 0, 0); out += 0.toByte
      }
      out += 0x2C.toByte
      out ++= le16(0); out ++= le16(0); out ++= le16(w); out ++= le16(h)
      val p2 = (if (local) 0x80 else 0) | (if (interlace) 0x40 else 0) |
        (if (local) palBits(pal.size) & 7 else 0)
      out += p2.toByte
      if (local) {
        pal.foreach { case (r, g, b) =>
          out += r.toByte; out += g.toByte; out += b.toByte }
        (pal.size until (2 << palBits(pal.size))).foreach { _ =>
          out += 0.toByte; out += 0.toByte; out += 0.toByte }
      }
      out += minCode.toByte
      val data = lzwEncode(minCode, idx)
      data.grouped(255).foreach { blk =>
        out += blk.length.toByte; out ++= blk }
      out += 0.toByte; out += 0x3B.toByte
      out.result()
    }
    def expect(pal: Seq[(Int, Int, Int)], idx: Seq[Int]) = (
      idx.map(i => pal(i)._1.toLong).sum,
      idx.map(i => pal(i)._2.toLong).sum,
      idx.map(i => pal(i)._3.toLong).sum)

    // 100x100 seeded-random 128-color frame: the dictionary passes 256,
    // 512, ... and hits the 4096 freeze (deferred clear), so every code
    // width 8..12 and the frozen-table tail are all decoded
    val rnd = new scala.util.Random(42)
    val bigPal = Seq.tabulate(128)(i => ((i * 11) % 256, (i * 29) % 256, (i * 53) % 256))
    val bigIdx = Seq.fill(100 * 100)(rnd.nextInt(128))
    val (ber, beg, beb) = expect(bigPal, bigIdx)
    // 8-color 5x4 with repetition: KwKwK (code == next) fires
    val smallPal = Seq.tabulate(8)(i => (i * 3 + 1, i * 5 + 2, i * 7 + 3))
    val smallIdx = Seq(1, 1, 1, 1, 2, 2, 2, 2, 1, 1, 1, 1, 3, 3, 3, 3, 4, 5, 6, 7)
    val (ser, seg, seb) = expect(smallPal, smallIdx)
    val kwkwk = Seq.fill(9)(5) // pure KwKwK chain from the first code
    val (ker, keg, keb) = expect(smallPal, kwkwk)
    val localPal = smallPal.map { case (r, g, b) => (255 - r, 255 - g, 255 - b) }
    val (ler, leg, leb) = expect(localPal, smallIdx)
    val big = gif(100, 100, bigPal, bigIdx, 7)
    val rows = Seq(
      (1L, big),
      (2L, gif(5, 4, smallPal, smallIdx, 3, gce = true)),
      (3L, gif(3, 3, smallPal, kwkwk, 3)),
      (4L, gif(5, 4, localPal, smallIdx, 3, local = true, globalPal = smallPal)),
      (5L, gif(5, 4, smallPal, smallIdx, 3, interlace = true)),
      (6L, big.dropRight(big.length / 2)),      // truncated mid-stream
      (7L, gif(5, 4, Nil, smallIdx, 3)),        // no color table at all
      (8L, gif(2, 2, Seq((9, 9, 9), (4, 4, 4)), Seq(0, 1, 3, 1), 3)), // index 3 >= palette 2
      (9L, "definitely not a gif".getBytes),
      (10L, "GIF89a".getBytes))                 // header only
      .toDF("id", "payload")
    val got = rows.select(col("id"), Multimodal.gifStats(col("payload")).as("st"))
      .select(col("id"), col("st.width"), col("st.height"), col("st.n_px"),
        col("st.sum_r"), col("st.sum_g"), col("st.sum_b"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val b1 = got(1L)
    assert((b1.getInt(1), b1.getInt(2), b1.getLong(3)) == (100, 100, 10000L))
    assert((b1.getLong(4), b1.getLong(5), b1.getLong(6)) == (ber, beg, beb))
    val s2 = got(2L)
    assert((s2.getInt(1), s2.getInt(2), s2.getLong(3)) == (5, 4, 20L))
    assert((s2.getLong(4), s2.getLong(5), s2.getLong(6)) == (ser, seg, seb))
    val k3 = got(3L)
    assert((k3.getLong(3), k3.getLong(4), k3.getLong(5), k3.getLong(6))
      == (9L, ker, keg, keb))
    val l4 = got(4L)
    assert((l4.getLong(4), l4.getLong(5), l4.getLong(6)) == (ler, leg, leb),
      "local palette must override global")
    val i5 = got(5L)
    assert((i5.getLong(4), i5.getLong(5), i5.getLong(6)) == (ser, seg, seb),
      "interlace permutes rows, channel sums are order-free")
    // truncated: strict prefix, never a throw
    val t6 = got(6L)
    assert(t6.isNullAt(1) || (t6.getLong(3) > 0L && t6.getLong(3) < 10000L))
    // bad index stops at the decoded prefix (0,1 decoded; 3 is out)
    val x8 = got(8L)
    assert(x8.getLong(3) == 2L && x8.getLong(4) == 13L, x8.toString)
    Seq(7L, 9L, 10L).foreach(id => assert(got(id).isNullAt(1), s"id=$id"))
  }

  test("gifStats: byte-aligned SQL-oracle construction decodes exactly") {
    import graft.ops.Multimodal
    // the q_image_gif construction: clear + <=126 literal root codes at
    // min code size 7 keeps every code 8 bits — one byte per code;
    // verify the kernel agrees with the direct palette sum
    val id = 11
    val w = (id % 4) + 1; val h = (id % 3) + 1
    val out = Array.newBuilder[Byte]
    out ++= "GIF89a".getBytes
    out ++= Array((w & 0xFF).toByte, 0.toByte, (h & 0xFF).toByte, 0.toByte)
    out += 0xF6.toByte; out += 0.toByte; out += 0.toByte
    (0 until 128).foreach { i =>
      out += ((id + i * 2) % 256).toByte
      out += ((id * 2 + i * 5) % 256).toByte
      out += ((id * 3 + i * 7) % 256).toByte }
    out += 0x2C.toByte
    out ++= Array[Byte](0, 0, 0, 0)
    out ++= Array((w & 0xFF).toByte, 0.toByte, (h & 0xFF).toByte, 0.toByte)
    out += 0.toByte
    out += 7.toByte
    out += (w * h + 2).toByte
    out += 0x80.toByte
    val idx = for (j <- 0 until h; x <- 0 until w) yield (id + x * 3 + j * 5) % 128
    idx.foreach(i => out += i.toByte)
    out += 0x81.toByte; out += 0.toByte; out += 0x3B.toByte
    val st = Seq((1L, out.result())).toDF("id", "payload")
      .select(Multimodal.gifStats(col("payload")).as("st"))
      .select(col("st.n_px"), col("st.sum_r"), col("st.sum_g"), col("st.sum_b"))
      .head()
    assert(st.getLong(0) == (w * h).toLong)
    assert(st.getLong(1) == idx.map(i => ((id + i * 2) % 256).toLong).sum)
    assert(st.getLong(2) == idx.map(i => ((id * 2 + i * 5) % 256).toLong).sum)
    assert(st.getLong(3) == idx.map(i => ((id * 3 + i * 7) % 256).toLong).sum)
  }

  test("pngResize via rgbResize: nearest-neighbor over inflate+unfilter, " +
    "gray fill, truncated sampled row → NULL, non-image → NULL") {
    import graft.ops.Multimodal
    import spark.implicits._
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(tag: String, data: Array[Byte]) =
      be32(data.length) ++ tag.getBytes ++ data ++ be32(0) // CRC unchecked
    def png(w: Int, h: Int, colorType: Int, raw: Array[Byte]) = {
      val z = new java.util.zip.Deflater()
      z.setInput(raw); z.finish()
      val buf = new Array[Byte](raw.length + 64)
      val n = z.deflate(buf); z.end()
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
        chunk("IHDR", be32(w) ++ be32(h) ++
          Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)) ++
        chunk("IDAT", buf.take(n)) ++ chunk("IEND", Array.empty[Byte])
    }
    // 2x2 RGB, filter Sub on row 1 (exercises unfilter before sampling)
    val raw = Array[Byte](
      0, 1, 2, 3, 4, 5, 6,          // row 0 None: (1,2,3) (4,5,6)
      1, 10, 20, 30, 5, 5, 5)       // row 1 Sub:  (10,20,30) (15,25,35)
    val rgb = png(2, 2, 2, raw)
    // 2x1 gray, filter None
    val gray = png(2, 1, 0, Array[Byte](0, 7, 200.toByte))
    val truncated = {
      val full = png(2, 2, 2, raw)
      // cut deep into the IDAT DATA (not just the unverified checksums):
      // a sampled row can no longer arrive
      full.take(full.length - 30)
    }
    val df = Seq(1L -> rgb, 2L -> gray, 3L -> truncated,
      4L -> "nope".getBytes).toDF("id", "payload")
    val got = df.select($"id", Multimodal.rgbResize($"payload", 2, 2).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(got(1L) == Seq[Byte](1, 2, 3, 4, 5, 6, 10, 20, 30, 15, 25, 35))
    // gray source: 2x2 output repeats the single row, r=g=b
    val g2 = df.where($"id" === 2)
      .select(Multimodal.rgbResize($"payload", 2, 2)).head().getAs[Array[Byte]](0)
    assert(g2.toSeq == Seq[Byte](7, 7, 7, 200.toByte, 200.toByte, 200.toByte,
      7, 7, 7, 200.toByte, 200.toByte, 200.toByte))
    assert(got(3L) == null && got(4L) == null)
    // 2x1 thumbnail of the 2x2: only row 0 sampled — succeeds even on a
    // stream whose tail is the other row
    val thumb = df.where($"id" === 1)
      .select(Multimodal.rgbResize($"payload", 2, 1)).head().getAs[Array[Byte]](0)
    assert(thumb.toSeq == Seq[Byte](1, 2, 3, 4, 5, 6))
  }

  test("gifFrameStats/gifFrameCount: multi-frame addressing, skip-without-" +
    "decode, truncation counts the complete prefix, rejects") {
    import graft.ops.Multimodal
    val id = 11
    val w = 3; val h = 2
    def frameBytes(ci: (Int, Int) => Int): Array[Byte] = {
      val out = Array.newBuilder[Byte]
      out += 0x2C.toByte
      out ++= Array[Byte](0, 0, 0, 0)
      out ++= Array((w & 0xFF).toByte, 0.toByte, (h & 0xFF).toByte, 0.toByte)
      out += 0.toByte
      out += 7.toByte
      out += (w * h + 2).toByte
      out += 0x80.toByte
      for (j <- 0 until h; x <- 0 until w) out += (ci(x, j) % 128).toByte
      out += 0x81.toByte; out += 0.toByte
      out.result()
    }
    val head = {
      val out = Array.newBuilder[Byte]
      out ++= "GIF89a".getBytes
      out ++= Array((w & 0xFF).toByte, 0.toByte, (h & 0xFF).toByte, 0.toByte)
      out += 0xF6.toByte; out += 0.toByte; out += 0.toByte
      (0 until 128).foreach { i =>
        out += ((id + i * 2) % 256).toByte
        out += ((id * 2 + i * 5) % 256).toByte
        out += ((id * 3 + i * 7) % 256).toByte }
      out.result()
    }
    val f0 = frameBytes((x, j) => id + x * 3 + j * 5)
    val f1 = frameBytes((x, j) => id * 2 + x * 7 + j * 11)
    val full = head ++ f0 ++ f1 :+ 0x3B.toByte
    val truncated = head ++ f0 ++ f1.dropRight(4) // frame 1 incomplete
    val df = Seq(
      (1L, full), (2L, truncated), (3L, "junk!".getBytes)).toDF("id", "payload")
    val got = df.select(col("id"),
        Multimodal.gifFrameCount(col("payload")).as("n"),
        Multimodal.gifFrameStats(col("payload"), 1).as("st1"),
        Multimodal.gifStats(col("payload")).as("st0"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // full: 2 frames; frame 1's sums come from ITS index formula
    assert(got(1L).getInt(1) == 2)
    val idx1 = for (j <- 0 until h; x <- 0 until w) yield (id * 2 + x * 7 + j * 11) % 128
    val st1 = got(1L).getStruct(2)
    assert(st1.getLong(2) == (w * h).toLong)
    assert(st1.getLong(3) == idx1.map(i => ((id + i * 2) % 256).toLong).sum)
    // frame 0 via the default still decodes frame 0's formula
    val idx0 = for (j <- 0 until h; x <- 0 until w) yield (id + x * 3 + j * 5) % 128
    assert(got(1L).getStruct(3).getLong(3) ==
      idx0.map(i => ((id + i * 2) % 256).toLong).sum)
    // truncated: only the complete frame counts; SAMPLING the truncated
    // frame keeps the family's decoded-prefix contract (n_px < w*h)
    assert(got(2L).getInt(1) == 1)
    assert(got(2L).getStruct(2).getLong(2) < (w * h).toLong)
    // non-GIF → NULL count and NULL stats
    assert(got(3L).isNullAt(1) && got(3L).isNullAt(2))
  }

  test("jpegStats: real baseline JPEG decode — encoder round-trip exact for " +
    "gray/4:4:4/4:2:0, cropping, restarts, truncation, rejects") {
    import graft.ops.Multimodal
    // --- in-test baseline JPEG ENCODER (T.81): FDCT + quantize +
    // canonical Huffman with simple uniform-length tables (DC: twelve
    // 4-bit codes = categories 0..11; AC: all 162 run/size symbols at
    // 8 bits), byte-stuffing, optional restart markers ---
    val acSyms: Vector[Int] =
      Vector(0x00, 0xF0) ++ (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)
    val acCode: Map[Int, Int] = acSyms.zipWithIndex.toMap
    class BitW {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      private var cur = 0; private var nb = 0
      def put(code: Int, len: Int): Unit =
        (len - 1 to 0 by -1).foreach(i => putBit((code >>> i) & 1))
      def putBit(b: Int): Unit = {
        cur = (cur << 1) | b; nb += 1
        if (nb == 8) {
          out += cur.toByte
          if (cur == 0xFF) out += 0x00.toByte
          cur = 0; nb = 0
        }
      }
      def pad(): Unit = while (nb != 0) putBit(1)
    }
    def cat(v: Int): Int = {
      var a = math.abs(v); var c = 0
      while (a > 0) { a >>>= 1; c += 1 }; c
    }
    def mag(v: Int, c: Int): Int = if (v >= 0) v else v + (1 << c) - 1
    val zig = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val cosT = Array.tabulate(8, 8)((x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / 16.0))
    val cw = Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
    // FDCT + quantize an 8x8 spatial block (level-shifted inputs)
    def fdctQ(px: Array[Int], q: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      for (u <- 0 until 8; v <- 0 until 8) {
        var acc = 0.0
        for (y <- 0 until 8; x <- 0 until 8)
          acc += (px(y * 8 + x) - 128) * cosT(y)(u) * cosT(x)(v)
        val f = 0.25 * cw(u) * cw(v) * acc
        out(u * 8 + v) = math.round(f / q(u * 8 + v)).toInt
      }
      out
    }
    // the kernel's documented decode math, reimplemented here from the
    // formulas (NOT calling the kernel): dequant + direct IDCT +
    // floor(x+.5)+128 clamp
    // C(u)C(v) with the exact 0.5 for (0,0) — the kernel's documented table
    val ccT = Array.tabulate(8, 8)((u, v) =>
      if (u == 0 && v == 0) 0.5 else cw(u) * cw(v))
    def refIdct(coef: Array[Int], q: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      for (y <- 0 until 8; x <- 0 until 8) {
        var acc = 0.0
        for (u <- 0 until 8; v <- 0 until 8) {
          val f = coef(u * 8 + v) * q(u * 8 + v)
          if (f != 0) acc += ccT(u)(v) * f * cosT(y)(u) * cosT(x)(v)
        }
        val s = math.floor(acc / 4.0 + 0.5).toInt + 128
        out(y * 8 + x) = math.max(0, math.min(255, s))
      }
      out
    }
    def writeBlock(w: BitW, coef: Array[Int], dcPred: Int): Int = {
      val diff = coef(0) - dcPred
      val c = cat(diff)
      w.put(c, 4); if (c > 0) w.put(mag(diff, c), c)
      var k = 1; var run = 0
      while (k < 64) {
        val v = coef(zig(k))
        if (v == 0) run += 1
        else {
          while (run >= 16) { w.put(acCode(0xF0), 8); run -= 16 }
          val s = cat(v)
          w.put(acCode((run << 4) | s), 8); w.put(mag(v, s), s)
          run = 0
        }
        k += 1
      }
      if (run > 0) w.put(acCode(0x00), 8) // EOB
      coef(0)
    }
    def be16(v: Int) = Array((v >>> 8).toByte, (v & 0xFF).toByte)
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val huffBits = { // DHT bits arrays for the two tables
      val dcBits = new Array[Byte](16); dcBits(3) = 12 // twelve 4-bit codes
      val acBits = new Array[Byte](16); acBits(7) = acSyms.length.toByte
      (dcBits, acBits)
    }
    def dhtSeg = seg(0xC4,
      Array(0x00.toByte) ++ huffBits._1 ++ (0 to 11).map(_.toByte) ++
      Array(0x10.toByte) ++ huffBits._2 ++ acSyms.map(_.toByte))
    // encode: components given as full-res planes; sampling (hs, vs)
    // per component; chroma planes are pre-downsampled by the CALLER
    def jpeg(w0: Int, h0: Int, comps: Seq[(Array[Array[Int]], Int, Int)],
             q: Array[Int], dri: Int = 0, sofMarker: Int = 0xC0)
      : (Array[Byte], Seq[Array[Array[Int]]]) = {
      val hMax = comps.map(_._2).max; val vMax = comps.map(_._3).max
      val mcusX = (w0 + 8 * hMax - 1) / (8 * hMax)
      val mcusY = (h0 + 8 * vMax - 1) / (8 * vMax)
      val qzig = Array.tabulate(64)(i => q(zig(i)))
      val head = Array.newBuilder[Byte]
      head ++= Array(0xFF.toByte, 0xD8.toByte)
      head ++= seg(0xDB, Array(0x00.toByte) ++ qzig.map(_.toByte))
      head ++= seg(sofMarker, Array(8.toByte) ++ be16(h0) ++ be16(w0) ++
        Array(comps.length.toByte) ++
        comps.zipWithIndex.flatMap { case ((_, hs, vs), i) =>
          Array((i + 1).toByte, ((hs << 4) | vs).toByte, 0.toByte) })
      head ++= dhtSeg
      if (dri > 0) head ++= seg(0xDD, be16(dri))
      head ++= seg(0xDA, Array(comps.length.toByte) ++
        comps.indices.flatMap(i => Array((i + 1).toByte, 0x00.toByte)) ++
        Array(0.toByte, 63.toByte, 0.toByte))
      // entropy data + the reference decoded planes
      val bw = new BitW
      val preds = Array.fill(comps.length)(0)
      val decPlanes = comps.map { case (_, hs, vs) =>
        Array.fill(mcusY * vs * 8)(new Array[Int](mcusX * hs * 8)) }
      var mcu = 0
      for (my <- 0 until mcusY; mx <- 0 until mcusX) {
        if (dri > 0 && mcu == dri) {
          bw.pad()
          bw.out += 0xFF.toByte
          bw.out += (0xD0 + (((my * mcusX + mx) / dri - 1) % 8)).toByte
          preds.indices.foreach(i => preds(i) = 0)
          mcu = 0
        }
        for (ci <- comps.indices) {
          val (plane, hs, vs) = comps(ci)
          for (by <- 0 until vs; bx <- 0 until hs) {
            val px = new Array[Int](64)
            for (y <- 0 until 8; x <- 0 until 8) {
              val gy = (my * vs + by) * 8 + y; val gx = (mx * hs + bx) * 8 + x
              px(y * 8 + x) =
                if (gy < plane.length && gx < plane(0).length) plane(gy)(gx)
                else 128 // pad MCU overhang
            }
            val coef = fdctQ(px, q)
            preds(ci) = writeBlock(bw, coef, preds(ci))
            val dec = refIdct(coef, q)
            for (y <- 0 until 8; x <- 0 until 8)
              decPlanes(ci)((my * vs + by) * 8 + y)((mx * hs + bx) * 8 + x) =
                dec(y * 8 + x)
          }
        }
        mcu += 1
      }
      bw.pad()
      val bytes = head.result() ++ bw.out ++ Array(0xFF.toByte, 0xD9.toByte)
      (bytes, decPlanes)
    }
    def clamp(v: Int) = math.max(0, math.min(255, v))
    // expected sums from the reference planes using the kernel's
    // documented upsample + YCbCr->RGB formulas
    def expected(w0: Int, h0: Int, planes: Seq[Array[Array[Int]]],
                 samp: Seq[(Int, Int)]): (Long, Long, Long) = {
      val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h0; x <- 0 until w0) {
        if (planes.length == 1) {
          val g = planes(0)(y)(x)
          sr += g; sg += g; sb += g
        } else {
          def s(i: Int) =
            planes(i)(y / (vMax / samp(i)._2))(x / (hMax / samp(i)._1))
          val yy = s(0); val cb = s(1); val cr = s(2)
          sr += clamp(math.floor(yy + 1.402 * (cr - 128) + 0.5).toInt)
          sg += clamp(math.floor(
            yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5).toInt)
          sb += clamp(math.floor(yy + 1.772 * (cb - 128) + 0.5).toInt)
        }
      }
      (sr, sg, sb)
    }
    def kernelStats(bytes: Array[Byte]) =
      Seq(Tuple1(bytes)).toDF("payload")
        .select(Multimodal.jpegStats(col("payload")).as("st"))
        .select(col("st.width"), col("st.height"), col("st.n_px"),
          col("st.sum_r"), col("st.sum_g"), col("st.sum_b")).head()

    val q2 = Array.fill(64)(2) // mild uniform quantizer
    // 1) grayscale 16x16, rich AC content
    val gray = Array.tabulate(16, 16)((y, x) => (x * 13 + y * 7 + 30) % 256)
    val (gb, gdec) = jpeg(16, 16, Seq((gray, 1, 1)), q2)
    val (ger, geg, geb) = expected(16, 16, gdec, Seq((1, 1)))
    val g = kernelStats(gb)
    assert((g.getInt(0), g.getInt(1), g.getLong(2)) == (16, 16, 256L))
    assert((g.getLong(3), g.getLong(4), g.getLong(5)) == (ger, geg, geb))
    // 2) color 4:4:4 16x8
    val yP = Array.tabulate(8, 16)((y, x) => (x * 9 + y * 17 + 50) % 256)
    val cbP = Array.tabulate(8, 16)((y, x) => (x * 5 + y * 3 + 90) % 256)
    val crP = Array.tabulate(8, 16)((y, x) => (x * 11 + y * 2 + 10) % 256)
    val (cb444, cdec) = jpeg(16, 8,
      Seq((yP, 1, 1), (cbP, 1, 1), (crP, 1, 1)), q2)
    val (cer, ceg, ceb) = expected(16, 8, cdec, Seq((1, 1), (1, 1), (1, 1)))
    val c = kernelStats(cb444)
    assert((c.getInt(0), c.getInt(1), c.getLong(2)) == (16, 8, 128L))
    assert((c.getLong(3), c.getLong(4), c.getLong(5)) == (cer, ceg, ceb))
    // 3) color 4:2:0 20x12 (dims not MCU multiples -> cropping) with
    // pre-downsampled chroma (top-left pick) and a restart every 1 MCU
    val w0 = 20; val h0 = 12
    val yF = Array.tabulate(h0, w0)((y, x) => (x * 7 + y * 13 + 40) % 256)
    val cbF = Array.tabulate((h0 + 1) / 2, (w0 + 1) / 2)((y, x) =>
      (x * 19 + y * 5 + 100) % 256)
    val crF = Array.tabulate((h0 + 1) / 2, (w0 + 1) / 2)((y, x) =>
      (x * 3 + y * 23 + 60) % 256)
    val (sb420, sdec) = jpeg(w0, h0,
      Seq((yF, 2, 2), (cbF, 1, 1), (crF, 1, 1)), q2, dri = 1)
    val (ser2, seg2, seb2) = expected(w0, h0, sdec, Seq((2, 2), (1, 1), (1, 1)))
    val s = kernelStats(sb420)
    assert((s.getInt(0), s.getInt(1), s.getLong(2)) == (w0, h0, 240L))
    assert((s.getLong(3), s.getLong(4), s.getLong(5)) == (ser2, seg2, seb2),
      "4:2:0 + cropping + restart markers must decode exactly")
    // 4) truncation: cut mid-entropy -> decoded prefix (whole MCU rows)
    val tr = kernelStats(gb.dropRight(gb.length / 3))
    assert(tr.isNullAt(0) || (tr.getLong(2) > 0L && tr.getLong(2) < 256L))
    // 5) rejects: progressive SOF2, junk, header-only
    val (pb, _) = jpeg(16, 16, Seq((gray, 1, 1)), q2, sofMarker = 0xC2)
    assert(kernelStats(pb).isNullAt(0), "progressive must be NULL")
    assert(kernelStats("not a jpeg".getBytes).isNullAt(0))
    assert(kernelStats(Array(0xFF.toByte, 0xD8.toByte)).isNullAt(0))
  }

  test("jpegStats: DC-only byte-aligned SQL-oracle construction decodes exactly") {
    import graft.ops.Multimodal
    // the q_image_jpeg construction: single-code Huffman tables make
    // every MCU three whole bytes (DC len-8 code 0x00, eight diff bits,
    // AC len-8 EOB 0x00); q=1; DC-only so each block is one flat value
    // floor(cum/8 + 0.5) + 128
    val id = 7
    val w = 8 * (id % 2 + 1); val h = 8 * (id % 3 + 1)
    val nm = (w / 8) * (h / 8)
    val out = Array.newBuilder[Byte]
    def raw(hx: String): Unit =
      hx.grouped(2).foreach(p => out += Integer.parseInt(p, 16).toByte)
    raw("FFD8")
    raw("FFDB0043" + "00" + "01" * 64)
    raw("FFC0000B08" + f"$h%04X" + f"$w%04X" + "01" + "011100")
    raw("FFC40014" + "00" + "0000000000000001" + "0000000000000000" + "08")
    raw("FFC40014" + "10" + "0000000000000001" + "0000000000000000" + "00")
    raw("FFDA0008" + "01" + "0100" + "003F00")
    val diffs = (0 until nm).map(i => 128 + ((id + i * 7) % 42))
    diffs.foreach(d => raw(f"00$d%02X00"))
    raw("FFD9")
    val st = Seq(Tuple1(out.result())).toDF("payload")
      .select(Multimodal.jpegStats(col("payload")).as("st"))
      .select(col("st.width"), col("st.height"), col("st.n_px"),
        col("st.sum_r"), col("st.sum_g"), col("st.sum_b")).head()
    val cums = diffs.scanLeft(0)(_ + _).drop(1)
    val exp = cums.map(c => 64L * (math.floor(c / 8.0 + 0.5).toLong + 128)).sum
    assert((st.getInt(0), st.getInt(1), st.getLong(2)) == (w, h, (w * h).toLong))
    assert((st.getLong(3), st.getLong(4), st.getLong(5)) == (exp, exp, exp))
  }

  test("flacPcm: real FLAC decode — fixed/LPC/constant/verbatim, rice " +
    "partitions + escape, mid/side, wasted bits, multi-frame, truncation") {
    import graft.ops.Multimodal
    // --- in-test FLAC ENCODER: MSB-first bit packing, rice coding,
    // fixed/LPC residuals — FLAC is lossless, so expected stats are the
    // stats of the INPUT samples, no reference decode needed ---
    class FW {
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      private var cur = 0; private var nb = 0
      def put(v: Long, n: Int): Unit =
        (n - 1 to 0 by -1).foreach(i => putBit(((v >>> i) & 1).toInt))
      def putBit(x: Int): Unit = {
        cur = (cur << 1) | x; nb += 1
        if (nb == 8) { out += cur.toByte; cur = 0; nb = 0 }
      }
      def align(): Unit = while (nb != 0) putBit(0)
    }
    def rice(w: FW, e: Int, param: Int): Unit = {
      val u = if (e >= 0) e.toLong << 1 else ((-e).toLong << 1) - 1
      val q = (u >>> param).toInt
      (0 until q).foreach(_ => w.putBit(0)); w.putBit(1)
      if (param > 0) w.put(u & ((1L << param) - 1), param)
    }
    def streaminfo(nTotal: Int): Array[Byte] = {
      val w = new FW
      w.put(0x80, 8); w.put(34, 24)          // last block, STREAMINFO
      w.put(1024, 16); w.put(1024, 16)       // min/max block (metadata)
      w.put(0, 24); w.put(0, 24)             // min/max frame
      w.put((8000L << 44) | (0L << 41) | (15L << 36) | nTotal, 64)
      (0 until 16).foreach(_ => w.put(0, 8)) // md5
      w.out.toArray
    }
    def frameHeader(w: FW, frameNo: Int, bs: Int, chCode: Int): Unit = {
      w.put(0xFF, 8); w.put(0xF8, 8)
      w.put(7, 4); w.put(0, 4)               // 16-bit bs; rate from SI
      w.put(chCode, 4); w.put(4, 3); w.put(0, 1) // 16-bit samples
      w.put(frameNo, 8)                      // UTF-8 single byte
      w.put(bs - 1, 16)
      w.put(0, 8)                            // CRC-8 (unverified)
    }
    def endFrame(w: FW): Unit = { w.align(); w.put(0, 16) }
    def fixedRes(s: Array[Int], order: Int): Array[Int] =
      (order until s.length).map { k =>
        val p = order match {
          case 0 => 0L
          case 1 => s(k - 1).toLong
          case 2 => 2L * s(k - 1) - s(k - 2)
          case 3 => 3L * s(k - 1) - 3L * s(k - 2) + s(k - 3)
          case 4 => 4L * s(k - 1) - 6L * s(k - 2) + 4L * s(k - 3) - s(k - 4)
        }
        (s(k) - p).toInt
      }.toArray
    def residual(w: FW, res: Array[Int], bs: Int, order: Int, param: Int,
                 pOrder: Int = 0, escRaw: Int = -1): Unit = {
      w.put(0, 2); w.put(pOrder, 4)
      val parts = 1 << pOrder; val per = bs / parts
      var idx = 0
      (0 until parts).foreach { p =>
        val cnt = if (p == 0) per - order else per
        if (escRaw >= 0) {
          w.put(15, 4); w.put(escRaw, 5)
          (0 until cnt).foreach { _ =>
            if (escRaw > 0) w.put(res(idx).toLong & ((1L << escRaw) - 1), escRaw)
            idx += 1 }
        } else {
          w.put(param, 4)
          (0 until cnt).foreach { _ => rice(w, res(idx), param); idx += 1 }
        }
      }
    }
    def subFixed(w: FW, s: Array[Int], order: Int, sb: Int, param: Int,
                 pOrder: Int = 0, wasted: Int = 0): Unit = {
      w.put(0, 1); w.put(8 + order, 6)
      if (wasted == 0) w.put(0, 1)
      else { w.put(1, 1); (0 until wasted - 1).foreach(_ => w.putBit(0)); w.putBit(1) }
      val eff = s.map(_ >> wasted)
      (0 until order).foreach(i => w.put(eff(i).toLong & ((1L << (sb - wasted)) - 1), sb - wasted))
      residual(w, fixedRes(eff, order), s.length, order, param, pOrder)
    }
    def subVerbatim(w: FW, s: Array[Int], sb: Int): Unit = {
      w.put(0, 1); w.put(1, 6); w.put(0, 1)
      s.foreach(v => w.put(v.toLong & ((1L << sb) - 1), sb))
    }
    def subConstant(w: FW, v: Int, sb: Int): Unit = {
      w.put(0, 1); w.put(0, 6); w.put(0, 1)
      w.put(v.toLong & ((1L << sb) - 1), sb)
    }
    def subLpc(w: FW, s: Array[Int], coef: Array[Int], shift: Int,
               prec: Int, sb: Int, param: Int): Unit = {
      val order = coef.length
      w.put(0, 1); w.put(31 + order, 6); w.put(0, 1)
      (0 until order).foreach(i => w.put(s(i).toLong & ((1L << sb) - 1), sb))
      w.put(prec - 1, 4); w.put(shift.toLong & 0x1F, 5)
      coef.foreach(c => w.put(c.toLong & ((1L << prec) - 1), prec))
      val res = (order until s.length).map { k =>
        var acc = 0L
        (0 until order).foreach(j => acc += coef(j).toLong * s(k - 1 - j))
        (s(k) - (acc >> shift)).toInt
      }.toArray
      residual(w, res, s.length, order, param)
    }
    def stats(chans: Seq[Array[Int]]): (Long, Int, Long, Long) = {
      var n = 0L; var peak = 0; var sa = 0L; var sq = 0L
      chans.foreach(_.foreach { s =>
        val a = math.abs(s); if (a > peak) peak = a
        sa += a; sq += s.toLong * s; n += 1 })
      (n, peak, sa, sq)
    }
    def kernel(bytes: Array[Byte]) =
      Seq(Tuple1(bytes)).toDF("payload")
        .select(Multimodal.flacPcm(col("payload")).as("st"))
        .select(col("st.n_samples"), col("st.peak"), col("st.sum_abs"),
          col("st.sum_sq")).head()
    val magic = "fLaC".getBytes

    // 1) mono: FIXED order 2 + a second frame with LPC order 2 (shift 1)
    val s1 = Array.tabulate(64)(i => (i * 37 % 800) - 400)
    val s2 = Array.tabulate(32)(i => (i * i * 3 % 500) - 250)
    val w1 = new FW
    frameHeader(w1, 0, 64, 0); subFixed(w1, s1, 2, 16, 5); endFrame(w1)
    frameHeader(w1, 1, 32, 0); subLpc(w1, s2, Array(3, -1), 1, 5, 16, 5)
    endFrame(w1)
    val f1 = magic ++ streaminfo(96) ++ w1.out
    val (n1, p1, a1, q1) = stats(Seq(s1, s2))
    val g1 = kernel(f1)
    assert((g1.getLong(0), g1.getInt(1), g1.getLong(2), g1.getLong(3))
      == (n1, p1, a1, q1), g1.toString)
    // 2) mid/side stereo + rice partitions (order 2) on the mid channel
    val l = Array.tabulate(64)(i => (i * 53 % 1000) - 500)
    val r = Array.tabulate(64)(i => (i * 29 % 900) - 450)
    val mid = Array.tabulate(64)(i => (l(i) + r(i)) >> 1)
    val side = Array.tabulate(64)(i => l(i) - r(i))
    val w2 = new FW
    frameHeader(w2, 0, 64, 10)
    subFixed(w2, mid, 1, 16, 5, pOrder = 2)  // mid at 16 bits
    subVerbatim(w2, side, 17)                // side carries 17 bits
    endFrame(w2)
    val g2 = kernel(magic ++ streaminfo(64) ++ w2.out)
    val (n2, p2, a2, q2) = stats(Seq(l, r))
    assert((g2.getLong(0), g2.getInt(1), g2.getLong(2), g2.getLong(3))
      == (n2, p2, a2, q2), "mid/side reconstruction must be exact")
    // 3) constant subframe + rice ESCAPE partition + wasted bits
    val cv = Array.fill(48)(-123)
    val s3 = Array.tabulate(48)(i => ((i * 7 % 30) - 15) * 4) // 2 wasted bits
    val w3 = new FW
    frameHeader(w3, 0, 48, 1)                // 2 independent channels
    subConstant(w3, -123, 16)
    subFixed(w3, s3, 0, 16, 0, wasted = 2)   // order-0: residual = samples
    endFrame(w3)
    // escape variant re-encodes channel 2's residuals raw in 8 bits:
    val w3b = new FW
    frameHeader(w3b, 0, 48, 1)
    subConstant(w3b, -123, 16)
    locally {
      w3b.put(0, 1); w3b.put(8, 6); w3b.put(0, 1) // fixed order 0
      residual(w3b, s3, 48, 0, 0, escRaw = 8)
    }
    endFrame(w3b)
    val (n3, p3, a3, q3) = stats(Seq(cv, s3))
    Seq(w3, w3b).foreach { w =>
      val g = kernel(magic ++ streaminfo(96) ++ w.out)
      assert((g.getLong(0), g.getInt(1), g.getLong(2), g.getLong(3))
        == (n3, p3, a3, q3), "constant + wasted/escape must be exact")
    }
    // 4) truncation mid-second-frame: whole-frame prefix = frame 1 only
    val cut = f1.dropRight(8)
    val gt = kernel(cut)
    val (nf1, pf1, af1, qf1) = stats(Seq(s1))
    assert((gt.getLong(0), gt.getInt(1), gt.getLong(2), gt.getLong(3))
      == (nf1, pf1, af1, qf1), "truncation keeps whole decoded frames")
    // 5) rejects
    assert(Seq(Tuple1("not flac at all".getBytes)).toDF("payload")
      .select(Multimodal.flacPcm(col("payload")).as("st"))
      .select(col("st.n_samples")).head().isNullAt(0))
    assert(Seq(Tuple1(magic ++ streaminfo(0))).toDF("payload")
      .select(Multimodal.flacPcm(col("payload")).as("st"))
      .select(col("st.n_samples")).head().isNullAt(0), "no frames -> NULL")
  }

  test("flacPcm: byte-aligned verbatim SQL-oracle construction decodes exactly") {
    import graft.ops.Multimodal
    // the q_audio_flac construction: mono 16-bit VERBATIM subframe with
    // bsCode 6 — every field lands on a byte boundary, expressible in
    // SQL hex building; samples reuse the q_audio_pcm formula
    val id = 13
    val n = (id % 50) + 1
    val w = Array.newBuilder[Byte]
    def raw(hx: String): Unit =
      hx.grouped(2).foreach(p => w += Integer.parseInt(p, 16).toByte)
    raw("664C6143") // fLaC
    raw("80000022") // last, STREAMINFO, len 34
    raw(f"$n%04X" + f"$n%04X" + "000000" + "000000")
    raw(f"${(8000L << 44) | (15L << 36) | n}%016X")
    raw("00" * 16)
    raw("FFF8" + "60" + "08" + "00" + f"${n - 1}%02X" + "00")
    raw("02") // verbatim subframe
    (0 until n).foreach(i => raw(f"${(id * 7 + i * 13) % 65536}%04X"))
    raw("0000") // frame CRC-16
    val st = Seq(Tuple1(w.result())).toDF("payload")
      .select(Multimodal.flacPcm(col("payload")).as("st"))
      .select(col("st.n_samples"), col("st.peak"), col("st.sum_abs"),
        col("st.sum_sq")).head()
    val ss = (0 until n).map(i => (((id * 7 + i * 13) % 65536) << 16) >> 16)
    assert(st.getLong(0) == n.toLong)
    assert(st.getInt(1) == ss.map(math.abs).max)
    assert(st.getLong(2) == ss.map(s => math.abs(s).toLong).sum)
    assert(st.getLong(3) == ss.map(s => s.toLong * s).sum)
  }

  test("curate: c4Rules rewrites lines and drops rule-violating pages pre-dedup") {
    val body = (1 to 60).map(i => s"word$i").mkString(" ") + "."
    val junk = "this line just trails off with no punctuation at all"
    val corpus = Seq(
      (1L, s"First proper sentence stands alone right here today.\n$junk\n$body"),
      (2L, s"Second proper sentence stands alone right here today.\nSome Lorem Ipsum filler text appears over here.\n$body"),
      (3L, s"Third proper sentence stands alone right here today.\nAnother good middle sentence sits in this document.\n$body"))
      .toDF("doc_id", "text")
    val out = Curation.curate(corpus, "doc_id", "text",
      Curation.CurationConfig(c4Rules = true, c4MinSentences = 2,
        minQuality = 0.0, redactPii = false, lineDedupMinDocs = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 2 dropped (lorem ipsum page rule); docs 1 and 3 survive with
    // the junk line rewritten away
    assert(out.keySet == Set(1L, 3L), out.keySet.toString)
    assert(!out(1L).contains(junk), out(1L))
    assert(out(3L).contains("Another good middle sentence"), out(3L))
  }

  test("temperatureMix: tau=1 reproduces the natural mix, tau=0.5 lifts the tail") {
    import graft.ops.Sampling
    val df = ((1 to 900).map(i => (i.toLong, "head")) ++
      (901 to 1000).map(i => (i.toLong, "tail"))).toDF("id", "src")
    val (_, f1) = Sampling.temperatureMix(df, col("id").cast("string"), "src", tau = 1.0)
    // natural mix: every source fully kept
    assert(f1.values.forall(_ == 1.0), f1.toString)
    val (sampled, f5) = Sampling.temperatureMix(df, col("id").cast("string"), "src", tau = 0.5)
    // sqrt weighting: tail (binding) fully kept, head downsampled to
    // n_tail * sqrt(900/100) = 300 expected
    assert(f5("tail") == 1.0, f5.toString)
    assert(math.abs(f5("head") - 300.0 / 900.0) < 1e-9, f5.toString)
    val bySrc = sampled.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("tail") == 100L)
    // hash-mod noise: binomial around 300
    assert(bySrc("head") > 200L && bySrc("head") < 400L, bySrc.toString)
    // dyadic guard: non-dyadic tau rejected
    intercept[IllegalArgumentException] {
      Sampling.temperatureMix(df, col("id").cast("string"), "src", tau = 0.3)
    }
    // sqrt-chain: exact IEEE identities
    assert(Sampling.dyadicPow(16.0, 0.5) == 4.0)
    assert(Sampling.dyadicPow(16.0, 0.25) == 2.0)
    assert(Sampling.dyadicPow(16.0, 0.75) == 8.0)
  }

  test("sampleExactK: exact count, nested across k, TakeOrdered plan") {
    import graft.ops.Sampling
    val df = (1 to 500).map(i => (i.toLong, s"d$i")).toDF("id", "k")
    val s50 = Sampling.sampleExactK(df, col("k"), 50).collect().map(_.getLong(0)).toSet
    val s200 = Sampling.sampleExactK(df, col("k"), 200).collect().map(_.getLong(0)).toSet
    assert(s50.size == 50 && s200.size == 200)
    assert(s50.subsetOf(s200))
    // brute-force parity
    val expect = df.withColumn("_h", pmod(xxhash64(col("k")), lit(1000000L)))
      .collect().map(r => (r.getLong(2), r.getString(1), r.getLong(0)))
      .sortBy(t => (t._1, t._2)).take(50).map(_._3).toSet
    assert(s50 == expect)
    val plan = Sampling.sampleExactK(df, col("k"), 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // NULL key genuinely sorts first (explicit cell -1 guard — the
    // default xxhash64(NULL) returns the seed, NOT NULL, which would
    // otherwise scatter it mid-range; r5 advice)
    val withNull = df.union(Seq((9999L, null.asInstanceOf[String])).toDF("id", "k"))
    val s1 = Sampling.sampleExactK(withNull, col("k"), 1).collect()
    assert(s1.length == 1 && s1(0).getLong(0) == 9999L, s1.mkString(","))
  }

  test("refineCentroids: one Lloyd step lands on exact cluster means; empty cell kept") {
    import graft.ops.Similarity
    // two tight clusters in 4-d around (0,...) and (10,...), plus one
    // far-off centroid that captures nothing
    val vecs = (Seq.tabulate(6)(i => (i.toLong, Array(0.0f + i * 0.1f, 0f, 0f, 0f))) ++
      Seq.tabulate(4)(i => (100L + i, Array(10.0f + i * 0.1f, 10f, 10f, 10f))))
      .map { case (id, a) => (id, a.toSeq) }
    val df = vecs.toDF("id", "v")
    val seeds = Seq(Seq(0.2, 0.0, 0.0, 0.0), Seq(10.2, 10.0, 10.0, 10.0),
      Seq(-99.0, -99.0, -99.0, -99.0))
    val refined = Similarity.refineCentroids(df, "v", 4, seeds)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    // cluster 0 mean of first component: (0.0+0.1+...+0.5)/6 with
    // float->double round-6 contributions
    val exp0 = r6((0 until 6).map(i => r6((i * 0.1f).toDouble)).sum / 6)
    val exp1 = r6((0 until 4).map(i => r6((10.0f + i * 0.1f).toDouble)).sum / 4)
    assert(math.abs(refined(0)(0) - exp0) < 1e-9, refined(0).toString)
    assert(refined(0)(1) == 0.0)
    assert(math.abs(refined(1)(0) - exp1) < 1e-9, refined(1).toString)
    assert(refined(1)(1) == 10.0)
    // the empty cell keeps its seed
    assert(refined(2) == seeds(2))
    // refinement table: one bounded exchange shape, decimal-sum aggregate
    val planned = Similarity.refineCentroidsDf(df, "v", 4, seeds)
    assert(planned.columns.toSeq == Seq("cell", "j", "c", "n"))
  }

  test("gopherFilter: ASCII three-dot ellipses count as symbols") {
    // 60 words + 12 "..." runs -> 10*12 > 60 fires; the U+2026 form and
    // '#' still count; six dots = two non-overlapping matches
    val df = Seq(
      ("ascii", (1 to 60).map(i => s"w$i").mkString(" ") + " ..." * 12),
      ("clean", (1 to 60).map(i => s"w$i the and".trim).mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(df, "text", minWords = 10)
      .select("doc_id", "reasons")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(out("ascii").contains("symbol_ratio"), out("ascii").toString)
    assert(!out("clean").contains("symbol_ratio"), out("clean").toString)
  }

  test("gopherFilter: each rule fires on its planted violator") {
    val good = ("good", (("the quick brown fox jumps over the lazy dog and " * 8) +
      "some more plain sensible readable text here with the usual words ").trim)
    val cases = Seq(
      good,
      "short" -> "only three words",
      "wordlen" -> (Seq.fill(60)("zz").mkString(" ")), // mean len 2 < 3
      "alpha" -> (Seq.fill(60)("12345 the").mkString(" ")), // half numeric
      "nostops" -> (Seq.fill(60)("zebra quartz").mkString(" ")),
      "bullets" -> (0 until 4).map(i => s"- item $i of the list").mkString("\n"),
      "ellipsis" -> (0 until 4).map(i => s"line $i trails off...").mkString("\n"),
      "symbols" -> (Seq.fill(60)("w #tag").mkString(" ")),
      "repeat" -> (Seq.fill(60)("again again").mkString(" ")))
    val df = cases.toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(df, "text")
      .select("doc_id", "reasons", "keep").collect()
      .map(r => r.getString(0) -> (r.getSeq[String](1), r.getBoolean(2))).toMap
    assert(out("good")._2, s"good doc rejected: ${out("good")._1}")
    assert(out("short")._1.contains("too_few_words"))
    assert(out("wordlen")._1.contains("word_length"))
    assert(out("alpha")._1.contains("alpha_words"))
    assert(out("nostops")._1.contains("stopwords"))
    assert(out("bullets")._1.contains("bullets"))
    assert(out("ellipsis")._1.contains("ellipsis"))
    assert(out("symbols")._1.contains("symbol_ratio"))
    assert(out("repeat")._1.contains("top_bigram"))
    assert(!out("repeat")._2)
  }

  test("corpus overlap: exact identities and a sane minhash estimate") {
    val a = docs
    // self-overlap is exactly 1 everywhere
    val self = Overlap.shingleOverlap(a, a, "text", shingleN = 2).head()
    assert(self.getAs[Long]("overlap") == self.getAs[Long]("union_size"))
    assert(self.getAs[Double]("jaccard") == 1.0 &&
      self.getAs[Double]("containment_a") == 1.0 &&
      self.getAs[Double]("containment_b") == 1.0)
    // disjoint corpora share nothing
    val b = docs.select(col("doc_id"),
      concat(lit("zq"), col("text")).as("text")) // every word mutated
    val none = Overlap.shingleOverlap(
      a, b.withColumn("text", regexp_replace(col("text"), "\\w+", "zzz")),
      "text", shingleN = 2).head()
    assert(none.getAs[Long]("overlap") == 0 && none.getAs[Double]("jaccard") == 0.0)
    // estimator: identical corpora → every slot equal; J=1
    val sa = Overlap.corpusSignature(a, "text", shingleN = 2)
    val est = Overlap.estimateJaccard(sa, Overlap.corpusSignature(a, "text", shingleN = 2)).head()
    assert(est.getAs[Int]("n_equal") == 64 && est.getAs[Double]("est_jaccard") == 1.0)
    // estimator vs exact on a partial overlap: within 4σ, σ = √(J(1-J)/64)
    val half = docs.where(col("doc_id") % 2 === 0)
    val exact = Overlap.shingleOverlap(a, half, "text", shingleN = 2)
      .head().getAs[Double]("jaccard")
    val estH = Overlap.estimateJaccard(sa,
      Overlap.corpusSignature(half, "text", shingleN = 2)).head().getAs[Double]("est_jaccard")
    val sigma = math.sqrt(exact * (1 - exact) / 64)
    assert(math.abs(estH - exact) <= 4 * sigma + 0.02,
      s"estimate $estH too far from exact $exact")
  }

  test("unigramDivergence: identical zero, disjoint ln2, empty side bounded") {
    val a = Seq((1L, "the cat sat"), (2L, "the dog ran")).toDF("doc_id", "text")
    val same = Overlap.unigramDivergence(a, a, "text").head()
    assert(same.getAs[Long]("vocab_union") == 5)
    assert(same.getAs[Double]("kl_ab") == 0.0 &&
      same.getAs[Double]("kl_ba") == 0.0 &&
      same.getAs[Double]("js_divergence") == 0.0)
    // disjoint vocabularies: JS = ln 2 exactly, both KLs epsilon-bounded
    val b = Seq((3L, "un deux trois")).toDF("doc_id", "text")
    val dis = Overlap.unigramDivergence(a, b, "text").head()
    assert(dis.getAs[Long]("vocab_union") == 8)
    assert(dis.getAs[Double]("js_divergence") == 0.6931) // round(ln 2, 4)
    assert(dis.getAs[Double]("kl_ab") > 0.0 && dis.getAs[Double]("kl_ba") > 0.0)
    // empty side: KL(b||a) over nothing is 0, JS = ln 2 / 2 from the a side
    val e = Overlap.unigramDivergence(a, a.where(lit(false)), "text").head()
    assert(e.getAs[Double]("kl_ba") == 0.0 &&
      e.getAs[Double]("js_divergence") == 0.3466)
  }

  test("duplicateGroups: 2000-node path graph converges via pointer jumping") {
    // plain label propagation needs diameter rounds (1999 here); the
    // path-halving step must bring it under the default 25
    val chain = (0 until 1999).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateGroups(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 2000 && labels.forall(_._2 == 0L))
  }

  test("semanticDedup: within-cell exact pairs, min-id survivor per clone group") {
    val rnd = new scala.util.Random(23)
    val base = (0 until 6).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val clones = base.map { case (i, v) => (100L + i, v.clone()) }
    val df = (base ++ clones).toDF("id", "v")
    val centroids = Similarity.trainCentroids(df, "id", "v", dim = 16, k = 3, iters = 4)
    val pairs = Similarity.semanticDuplicatePairs(df, "id", "v", 16, centroids, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // an exact copy shares its original's cell by construction → every
    // planted pair is found; nothing else clears the 0.999 verify
    assert(pairs == (0 until 6).map(i => (i.toLong, 100L + i)).toSet)
    val out = Similarity.semanticDedup(df, "id", "v", 16, centroids, 0.999)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == (0 until 6).map(_.toLong).toSet)
  }

  test("semanticDedup: mega-cell refined into sub-buckets; ids only on the cell join") {
    val rnd = new scala.util.Random(31)
    // one centroid → every vector lands in one cell, far above the cap
    val hot = (0 until 3000).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val clonePair = Seq((9000L, hot.head._2.clone()))
    val df = (hot ++ clonePair).toDF("id", "v")
    val centroids = Seq(Seq.fill(16)(0.0))
    val pairs = Similarity.semanticDuplicatePairs(df, "id", "v", 16, centroids,
      threshold = 0.999, maxCell = 500, subPlanes = 8)
    // hyperplane refinement splits the diffuse mega-cell into sub-buckets
    // under the cap; the exact clone (identical sign pattern) still pairs
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((0L, 9000L)), s"clone pair lost in refinement: $found")
    // the cell self-join must carry (id, cell, sub) only — no vectors
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val cellJoins = pairs.queryExecution.optimizedPlan.collect {
      case j: Join if j.output.exists(_.name == "sub") => j
    }
    assert(cellJoins.nonEmpty)
    cellJoins.foreach { j =>
      val arrays = j.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty, s"cell join carries vector payload: ${arrays.map(_.name)}")
    }
  }

  test("crossSemanticDuplicates: cross-corpus clone found, within-side pairs excluded") {
    val rnd = new scala.util.Random(41)
    val ref = (0 until 20).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // new corpus: one exact clone of ref #3 plus fresh vectors
    val newer = Seq((100L, ref(3)._2.clone())) ++
      (101 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val refDf = ref.toDF("id", "v"); val newDf = newer.toDF("id", "v")
    val centroids = Similarity.trainCentroids(refDf, "id", "v", dim = 16, k = 3, iters = 4)
    val hits = Similarity.crossSemanticDuplicates(newDf, refDf, "id", "v",
      16, centroids, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 3L)), s"expected only the planted clone pair: $hits")
  }

  test("dedupCorpus: one survivor per cluster, hot group collapsed as a group") {
    val corpus = docs.union(hotDocs)
    val out = Dedup.dedupCorpus(corpus, "doc_id", "text",
      threshold = 0.4, shingleN = 2, bands = 16, rowsPerBand = 4,
      maxBucket = 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exactly ONE of the 10^4 identical boilerplate docs survives (the
    // min id), via group routing — not O(m²) pair verification
    assert(out.count(_ >= 20000) == 1 && out.contains(20000L))
    // every planted near-dup cluster keeps its min id and loses the clone
    val truth = Dedup.ngramJaccardDuplicates(docs, "doc_id", "text",
      blockCol = lit(1), threshold = 0.4, shingleN = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    truth.foreach { case (a, b) =>
      assert(out.contains(math.min(a, b)) && !out.contains(math.max(a, b)),
        s"cluster ($a,$b) misresolved")
    }
    // docs in no cluster are untouched
    val clustered = truth.flatMap(p => Seq(p._1, p._2)).toSet
    assert((docs.collect().map(_.getLong(0)).toSet -- clustered).subsetOf(out))
  }

  test("hotBandBuckets routes dropped groups: members listed, healthy docs absent") {
    val members = Dedup.hotBandBuckets(docs.union(hotDocs.limit(300)),
      "doc_id", "text", shingleN = 2, bands = 4, rowsPerBand = 4,
      maxBucket = 100)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(members.nonEmpty && members.forall(_ >= 20000),
      s"only the degenerate group should be routed, got ${members.take(5)}")
    assert(members.size == 300, s"every hot member listed once: ${members.size}")
  }

  test("lshTopK plan: corpus vectors do not ride the bucket join") {
    val plan = Similarity.lshTopK(vecs, "vec_id", "embedding",
      vecs.where(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      dim = 16, planes = 4, tables = 4)
      .queryExecution.optimizedPlan
    // the (table, bucket) join must carry no array-typed (vector) column —
    // only narrow ids ride the candidate-generation subtree; vectors are
    // re-joined by id afterwards for the exact re-rank
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val bucketJoins = plan.collect {
      case j: Join if j.left.output.exists(_.name == "bucket") ||
        j.right.output.exists(_.name == "bucket") => j
    }
    assert(bucketJoins.nonEmpty, "expected a bucket join")
    bucketJoins.foreach { j =>
      val arrays = j.output.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty,
        s"bucket join carries vector payload: ${arrays.map(_.name)}")
    }
  }

  test("repetitionSignals: hand-computed fractions, short-doc zeros") {
    val rows = Seq(
      (1L, "a b a b a"),          // bigrams: ab ba ab ba -> total 4, dis 2, top 2
      (2L, "x x x x"),            // xx xx xx -> total 3, dis 1, top 3
      (3L, "all distinct words here"), // 3 bigrams, all distinct
      (4L, "one"),                // < 2 words -> zeros
      (5L, ""))                   // no words -> zeros
      .toDF("doc_id", "text")
    val rows2 = TextAnalysis.repetitionSignals(rows, "text", 2)
      .select(col("doc_id"), col("dup_ngram_frac"), col("top_ngram_frac"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(rows2(1L) == ((0.5, 0.5)))
    assert(rows2(2L) == ((0.666667, 1.0)), s"got ${rows2(2L)}")
    assert(rows2(3L) == ((0.0, math.rint(1e6 / 3.0) / 1e6)))
    assert(rows2(4L) == ((0.0, 0.0)) && rows2(5L) == ((0.0, 0.0)))
  }

  test("ngramStats matches a naive Scala recount on the shared corpus") {
    val got = docs.select(col("doc_id"),
      TextAnalysis.ngramStats(TextAnalysis.words(col("text")), 3).as("st"))
      .select(col("doc_id"), col("st.*")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    docs.collect().foreach { r =>
      val ws = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map(_._2.size)
      val expect = if (grams.isEmpty) (0, 0, 0)
        else (grams.size, counts.size, counts.max)
      assert(got(r.getLong(0)) == expect, s"doc ${r.getLong(0)}")
    }
  }

  test("pii: counts and redaction round-trip, ordering-safe") {
    val t = Seq((1L, "mail a.b+c@x-y.co now, call 555-123-4567 or ping 10.0.0.255 twice 10.1.2.3"),
                (2L, "nothing here"),
                (3L, "a@b.co a@b.co")) // duplicate emails both counted/redacted
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.piiCounts(col("text")).as("c"),
        TextAnalysis.piiRedact(col("text")).as("red"))
      .collect().map(r => r.getLong(0) -> ((r.getStruct(1), r.getString(2)))).toMap
    assert(t(1L)._1.toSeq == Seq(1, 1, 2))
    assert(t(1L)._2 ==
      "mail [EMAIL] now, call [PHONE] or ping [IPV4] twice [IPV4]")
    assert(t(2L)._1.toSeq == Seq(0, 0, 0) && t(2L)._2 == "nothing here")
    assert(t(3L)._2 == "[EMAIL] [EMAIL]")
  }

  test("chunkWords: coverage, overlap, short tail, empty-doc drop") {
    val out = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
                  (2L, "only three words"),
                  (3L, "   ")) // tokenizes to zero words -> no chunks
      .toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkWords(out, "doc_id", "text", chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    // 10 words, size 4 stride 3 -> chunks at 0,3,6 (covers w10 via 6..9)
    assert(d1.map(_._3).toSeq == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    val d2 = chunks.filter(_._1 == 2L)
    assert(d2.map(c => (c._3, c._4)).toSeq == Seq(("only three words", 3L)))
    assert(!chunks.exists(_._1 == 3L))
  }

  test("chunkWords covers every word: last chunk reaches the end") {
    (1 to 30 by 7).foreach { m =>
      val text = (1 to m).map(i => s"t$i").mkString(" ")
      val chunks = TextAnalysis.chunkWords(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", chunkSize = 5, stride = 4)
        .orderBy("chunk_idx").collect()
      val last = chunks.last
      assert(last.getString(2).endsWith(s"t$m"), s"m=$m last=${last.getString(2)}")
      // no chunk is empty and every n_tokens is in [1, 5]
      chunks.foreach(c => assert(c.getLong(3) >= 1 && c.getLong(3) <= 5))
    }
  }

  test("decontaminate flags exactly the docs sharing grams with the benchmark") {
    // benchmark = doc 0's text; clones of doc 0 (ids 100..119 share all
    // but one bigram) must be flagged; disjoint-vocabulary docs must not
    val bench = docs.where(col("doc_id") === 0).select(col("text"))
    val hit = Dedup.decontaminate(docs, "doc_id", "text", bench, "text",
      shingleN = 2, minMatches = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hit.contains(0L) && hit.contains(100L), s"got ${hit.keySet}")
    assert(hit.keySet.forall(id => id == 0L || id == 100L),
      s"false positives: ${hit.keySet -- Set(0L, 100L)}")
    // doc 0 matches all 29 of its own bigrams; the clone all but two
    // (perturbed word 17 breaks bigrams 16-17 and 17-18)
    assert(hit(0L) == 29L && hit(100L) == 27L, s"$hit")
  }

  test("decontaminate: a blank benchmark line cannot flag short corpus docs") {
    val corpus = docs.union(Seq((500L, ""), (501L, "tiny")).toDF("doc_id", "text"))
    val bench = Seq("", "   ").toDF("text") // degenerate benchmark rows only
    assert(Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
      shingleN = 2, minMatches = 1).isEmpty,
      "empty-gram benchmark rows must match nothing")
  }

  test("chunkWords rejects gap-producing stride > chunkSize") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWords(df, "doc_id", "text", chunkSize = 4, stride = 6)
    }
  }

  test("decontaminate plan: benchmark grams are broadcast, corpus side shuffle-free") {
    val bench = docs.where(col("doc_id") < 2).select(col("text"))
    val plan = Dedup.decontaminate(docs, "doc_id", "text", bench, "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join for the benchmark grams:\n$plan")
  }

  test("normalizeNfc: composes decomposed sequences, ASCII passthrough, idempotent") {
    val rows = Seq(
      (1L, "cafe\u0301"),        // e + combining acute -> é
      (2L, "caf\u00e9"),         // already composed
      (3L, "plain ascii"),
      (4L, "ö  and \t tabs"))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.normalizeNfc(col("t")).as("nfc"),
        TextAnalysis.normalizeText(col("t")).as("full"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rows(1L)._1 == "caf\u00e9" && rows(1L)._1 == rows(2L)._1)
    assert(rows(3L)._1 == "plain ascii")
    assert(rows(4L)._1 == "ö  and \t tabs")
    assert(rows(4L)._2 == "\u00f6 and tabs") // whitespace collapsed + trimmed
    // idempotent: normalizing the normalized form is the identity
    val again = Seq(rows(1L)._1).toDF("t")
      .select(TextAnalysis.normalizeNfc(col("t"))).head().getString(0)
    assert(again == rows(1L)._1)
  }

  test("crossCorpusDuplicates: each clone pairs with its base, nothing else") {
    val newBatch = docs.where(col("doc_id") >= 100) // the 20 clones
    val ref = docs.where(col("doc_id") < 100)       // the originals
    val got = Dedup.crossCorpusDuplicates(newBatch, ref, "doc_id", "text",
      threshold = 0.4, shingleN = 2, bands = 16, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 until 20).map(i => ((i + 100).toLong, i.toLong)).toSet,
      got.toString)
  }

  test("curate: boilerplate stripped, PII redacted, low quality and dup texts dropped") {
    val body = (1 to 60).map(i => s"word$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$body\nCOOKIE BANNER"),
      (2L, s"$body other tail\nCOOKIE BANNER"),
      (3L, s"contact a@b.co now $body\nCOOKIE BANNER"),
      (4L, s"$body"),                    // duplicate of 1's cleaned text
      (5L, "x@#!$ ~~ ??"))               // garbage: quality floor drops it
      .toDF("doc_id", "text")
    val out = Curation.curate(corpus, "doc_id", "text",
      Curation.CurationConfig(lineDedupMinDocs = 3))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(3)))).toMap
    // banner removed everywhere; doc 4 (== cleaned doc 1) deduped away;
    // doc 5 below the quality floor; PII redacted in doc 3
    assert(out.keySet == Set(1L, 2L, 3L), out.keySet.toString)
    assert(out(1L)._1 == body)
    assert(out(3L)._1.startsWith("contact [EMAIL] now"), out(3L)._1)
    assert(out.values.forall(v => Set("train", "val", "test").contains(v._2)))
  }

  test("curate: textCol other than 'text' threads through every stage") {
    val body = (1 to 60).map(i => s"word$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$body\nCOOKIE BANNER"),
      (2L, s"$body other tail\nCOOKIE BANNER"),
      (3L, s"contact a@b.co now $body\nCOOKIE BANNER"),
      (4L, s"$body"),
      (5L, "x@#!$ ~~ ??"))
      .toDF("doc_id", "body") // regression: every post-dedupLines stage once hardcoded "text"
    val out = Curation.curate(corpus, "doc_id", "body",
      Curation.CurationConfig(lineDedupMinDocs = 3))
    assert(out.columns.toSeq == Seq("doc_id", "body", "quality", "split"))
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), got.keySet.toString)
    assert(got(1L) == body)
    assert(got(3L).startsWith("contact [EMAIL] now"), got(3L))
  }

  test("curate: maxLmBits drops surprisal outliers, supplied model skips training") {
    import graft.ops.CharLm
    val prose = "the quick brown fox jumps over the lazy dog and then " * 4
    val corpus = ((1L to 20L).map(i => (i, prose + s"variant number $i here")) :+
      (99L, prose.take(30) + " zq xjw qzv kqx " * 10 + "end"))
      .toDF("doc_id", "text")
    // self-trained: the gibberish doc is the corpus's surprisal outlier
    val cfgBase = Curation.CurationConfig(minQuality = 0.0, redactPii = false)
    val base = Curation.curate(corpus, "doc_id", "text", cfgBase)
      .collect().map(_.getLong(0)).toSet
    assert(base.contains(99L))
    val filtered = Curation.curate(corpus, "doc_id", "text",
      cfgBase.copy(maxLmBits = Some(3.2)))
      .collect().map(_.getLong(0)).toSet
    assert(!filtered.contains(99L) && filtered.contains(1L), filtered.toString)
    // supplied model (incremental shape): same behavior, no self-training
    val model = CharLm.train(corpus.where(col("doc_id") <= 20), "text")
    val withModel = Curation.curate(corpus, "doc_id", "text",
      cfgBase.copy(maxLmBits = Some(3.2), lmModel = Some(model)))
      .collect().map(_.getLong(0)).toSet
    assert(!withModel.contains(99L) && withModel.contains(1L))
  }

  test("curate: web stages drop blocked domains and strip markup first") {
    import spark.implicits._
    val long = (0 until 40).map(i => s"content$i").mkString(" ")
    val docs = Seq(
      (1L, s"<p>$long alpha</p> visit http://cdn.bad.test/x"),
      (2L, s"<p>$long beta</p> visit http://ok.example.test/y"),
      (3L, s"$long gamma plain no markup no urls")).toDF("doc_id", "text")
    val blk = Seq("bad.test").toDF("domain")
    val out = Curation.curate(docs, "doc_id", "text",
      Curation.CurationConfig(
        domainBlocklist = Some((blk, "domain")),
        stripMarkup = true, minQuality = 0.0, lineDedupMinDocs = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!out.contains(1L), "blocked-domain doc must be dropped")
    assert(out(2L) == s"$long beta visit http://ok.example.test/y",
      s"markup stripped, content kept: ${out(2L)}")
    assert(out(3L).startsWith(s"$long gamma"), "markup-free docs unharmed")
  }

  test("curate: dedupAgainst drops docs near-duplicating the reference corpus") {
    val ref = docs.where(col("doc_id") < 20)                  // bases 0-19
    // re-ingested copies of the reference (jaccard 1.0 — LSH finds them
    // deterministically, every band collides) plus 10 novel docs
    val input = ref.withColumn("doc_id", col("doc_id") + 100)
      .union(docs.where(col("doc_id").between(20, 29)))
    val out = Curation.curate(input, "doc_id", "text",
      Curation.CurationConfig(minQuality = 0.0, redactPii = false,
        dedupAgainst = Some(ref)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == (20L until 30L).toSet, out.toString)
  }

  test("curate: broadcastDrops=false plans plain anti-joins, same result") {
    val ref = docs.where(col("doc_id") < 20)
    val bench = docs.where(col("doc_id") === 25L).select(col("text"))
    val input = ref.withColumn("doc_id", col("doc_id") + 100)
      .union(docs.where(col("doc_id").between(20, 29)))
    def run(bcast: Boolean) = Curation.curate(input, "doc_id", "text",
      Curation.CurationConfig(minQuality = 0.0, redactPii = false,
        dedupAgainst = Some(ref),
        decontaminateAgainst = Some((bench, "text")),
        broadcastDrops = bcast))
    val forced = run(true)
    val hatched = run(false)
    // the hatch removes the FORCED broadcast hints on the drop-id
    // anti-joins: at 100-TB scale a re-crawl's drop set is unbounded, so
    // the join strategy must be AQE's call, not a hardcoded broadcast()
    // that OOMs the driver. Count structurally (plan strings truncate):
    // the drop joins are the only LeftAnti joins in the composition, so
    // hinted-anti-join count is the direct signal; other stages'
    // broadcasts (dedupLines' hot set, a LEFT join) don't register.
    def hintedAnti(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti &&
               (j.hint.leftHint.exists(_.strategy.isDefined) ||
                j.hint.rightHint.exists(_.strategy.isDefined)) => j
      }.size
    assert(hintedAnti(forced) >= 2, s"forced=${hintedAnti(forced)}")
    assert(hintedAnti(hatched) === 0,
      s"broadcastDrops=false must leave the anti-join strategy to the " +
      s"planner (got ${hintedAnti(hatched)} hinted anti-joins)")
    val a = forced.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = hatched.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b && a === ((20L until 30L).toSet - 25L), s"a=$a b=$b")
  }

  // parquet-backed curate corpus with planted clones: 120 bases of 30
  // seeded words plus a shared banner line (line dedup strips it), 20
  // exact clones of bases 0-19, 20 near clones of bases 20-39 (word 17
  // replaced), 5 junk docs under the quality floor
  lazy val clonesPath: String = {
    val rnd = new scala.util.Random(13)
    val banner = "\nSubscribe to our newsletter for updates"
    val bases = (0 until 120).map(_ => (0 until 30).map(_ => s"w${rnd.nextInt(1000000)}"))
    val rows = bases.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ") + banner) } ++
      (0 until 20).map(i => ((120 + i).toLong, bases(i).mkString(" ") + banner)) ++
      (20 until 40).map(i => ((120 + i).toLong, bases(i).updated(17, "zzz").mkString(" ") + banner)) ++
      (0 until 5).map(i => ((160 + i).toLong, s"### !? $i"))
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-clones").resolve("docs").toString
    rows.toDF("doc_id", "text").repartition(3).write.parquet(dir)
    dir
  }

  /** Rows the source file scans return while `body` runs: summed over the
    * tasks of stages that scan files, so reads of cached or checkpointed
    * blocks do not count. */
  def sourceRecordsRead[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler._
    val scanStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val markerSeen = new java.util.concurrent.atomic.AtomicBoolean()
    val marker = "graft-records-marker"
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (scanStages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == marker) markerSeen.set(true)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener events arrive in order: once the marker job's start is
      // seen, so is every task end of the jobs before it
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen.get, "marker job never reached the listener")
      (out, records.get)
    } finally sc.removeSparkListener(listener)
  }

  test("curate: near dedup runs the pre-dedup chain once") {
    val src = spark.read.parquet(clonesPath)
    def run(near: Boolean) = sourceRecordsRead {
      val df = Curation.curate(src, "doc_id", "text", Curation.CurationConfig(
        nearDedup = near, nearDedupThreshold = 0.7))
      (df, df.select("doc_id").collect().map(_.getLong(0)).toSet)
    }
    val ((lazyDf, exactOnly), chainOnce) = run(near = false)
    val ((nearDf, out), read) = run(near = true)
    // the checkpoint feeds banding, verify and the final anti-join, so
    // the source is scanned exactly as often as for one lazy evaluation
    // (three times as often when each near-dedup read re-ran the chain)
    assert(chainOnce > 0 && read == chainOnce, s"near dedup read $read rows, one chain $chainOnce")
    def fileRelations(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.size
    assert(fileRelations(lazyDf) > 0, lazyDf.queryExecution.optimizedPlan.toString)
    assert(fileRelations(nearDf) == 0, nearDf.queryExecution.optimizedPlan.toString)
    // survivors as recorded before the checkpoint: exact and near clones
    // fold into their bases, junk falls under the quality floor
    assert(exactOnly == ((0L until 120L) ++ (140L until 160L)).toSet, exactOnly.toString)
    assert(out == (0L until 120L).toSet, out.toString)
  }

  test("curate: near and cross dedup together") {
    val src = spark.read.parquet(clonesPath)
    val ref = src.where(col("doc_id").between(40, 59))
      .withColumn("doc_id", col("doc_id") + 10000)
    val out = Curation.curate(src, "doc_id", "text", Curation.CurationConfig(
      nearDedup = true, nearDedupThreshold = 0.7, dedupAgainst = Some(ref)))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val digest = out.agg(bit_xor(xxhash64(col("doc_id"), col("text"), col("quality"),
      col("split")))).head().getLong(0)
    // as recorded when the cross stage checkpointed near dedup's output
    // on its own: bases 40-59 near-duplicate the reference, clones fold
    assert(ids == ((0L until 40L) ++ (60L until 120L)).toSet, ids.toString)
    assert(digest == -364134935996150630L, s"rows differ: digest $digest")
  }

  test("dedupCorpus leaves no cached pairs behind") {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val entriesBefore = org.apache.spark.sql.graftbridge.CacheProbe.entries(spark)
    def left() = sc.getPersistentRDDs.keySet -- rddsBefore
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.4, shingleN = 2)
    // the registry holds RDDs weakly: checked at once, before a GC can
    // drop an abandoned checkpoint from it
    assert(left().isEmpty, s"persisted RDDs left on return: ${left()}")
    val n = out.count()
    assert(n == 100L, s"each planted clone folds into its base: $n")
    assert(left().isEmpty, s"persisted RDDs left: ${left()}")
    assert(org.apache.spark.sql.graftbridge.CacheProbe.entries(spark) == entriesBefore)
  }

  test("LmScore: hand-computed smoothing arithmetic, OOV, and fluency filter") {
    val corpus = Seq((1L, "a b a"), (2L, "a b"), (3L, "c"), (4L, "z z"))
      .toDF("doc_id", "text")
    val model = LmScore.train(corpus, "text", topV = 10)
    // T=8 tokens (a,b,a,a,b,c,z,z), vocab = {a:3, b:2, z:2, c:1}, V=4
    assert(model.totalTokens == 8 && model.vocabSize == 4)
    val biCounts = model.bi.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(biCounts == Map(("a", "b") -> 2L, ("b", "a") -> 1L, ("z", "z") -> 1L))
    val got = LmScore.crossEntropy(corpus, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null else r.getDouble(2)))).toMap
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    // p_uni(w) = (n+1)/(T+V+1) = (n+1)/13
    val lpAB = r6(math.log((2 + 3.0 / 13) / 4))  // n_bi=2, p_uni(b)=3/13, n_a=3
    val lpBA = r6(math.log((1 + 4.0 / 13) / 3))
    val lpZZ = r6(math.log((1 + 3.0 / 13) / 3))
    assert(got(1L) == ((2L, r6((lpAB + lpBA) / -2))), got(1L).toString)
    assert(got(2L) == ((1L, -lpAB)), got(2L).toString)
    assert(got(3L) == ((0L, null)))
    assert(got(4L) == ((1L, -lpZZ)), got(4L).toString)
    // filter keeps only docs at or under the threshold; NULL-score drops
    val kept = LmScore.fluencyFilter(corpus, "doc_id", "text", model,
      maxCrossEntropy = -lpAB + 1e-9).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), kept.toString)
  }

  test("assignSplits: exhaustive, disjoint, near-target, stable") {
    val corpus = (0 until 10000).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val out = Sampling.assignSplits(corpus, col("k"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), bySplit.toString)
    assert(bySplit.values.sum == 10000L) // exhaustive: no row unassigned
    assert(math.abs(bySplit("train") - 8000L) < 200, bySplit.toString)
    assert(math.abs(bySplit("val") - 1000L) < 100, bySplit.toString)
    // stable: same assignment on re-run
    val again = Sampling.assignSplits(corpus, col("k"),
      Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    assert(out.collect().map(r => (r.getLong(0), r.getString(2))).toSet ==
      again.collect().map(r => (r.getLong(0), r.getString(2))).toSet)
  }

  test("mixSources: largest feasible total, proportions near target, reproducible") {
    // 1000 rows of a, 300 of b, 4000 of c; target 1:1:2
    val corpus = ((0 until 1000).map(i => (i.toLong, "a")) ++
      (1000 until 1300).map(i => (i.toLong, "b")) ++
      (1300 until 5300).map(i => (i.toLong, "c"))).toDF("id", "src")
    val (out, fr) = Sampling.mixSources(corpus, col("id").cast("string"), "src",
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))
    // b is the binding source: T = 300/0.25 = 1200 -> a 300/1000, b 1.0, c 600/4000
    assert(fr("b") == 1.0 && math.abs(fr("a") - 0.3) < 1e-12 &&
      math.abs(fr("c") - 0.15) < 1e-12, fr.toString)
    val got = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("b") == 300L)
    // hash-uniformity tolerance: ±10% of the per-source quota
    assert(math.abs(got("a") - 300L) < 30 && math.abs(got("c") - 600L) < 60, got.toString)
    // reproducible: second run selects the identical rows
    val again = Sampling.mixSources(corpus, col("id").cast("string"), "src",
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))._1
    assert(out.select("id").collect().map(_.getLong(0)).toSet ==
      again.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("dedupLines strips corpus-wide boilerplate, keeps order, never drops docs") {
    val corpus = Seq(
      (1L, "unique one\nBOILER\nunique two"),
      (2L, "BOILER\nown line"),
      (3L, "third doc\nBOILER"),
      (4L, "BOILER"), // all-boilerplate: must survive as empty text
      (5L, "no boiler here"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unique one\nunique two",
      2L -> "own line",
      3L -> "third doc",
      4L -> "",
      5L -> "no boiler here"), out.toString)
  }

  test("dedupLines plan: hot set broadcast as 1-row array, narrow rebuild (no corpus shuffle)") {
    val plan = Dedup.dedupLines(docs, "doc_id", "text", minDocs = 3)
      .queryExecution.executedPlan.toString
    // the hot-line set attaches as a broadcast single-row array
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the rebuild is a narrow array filter: no array_sort(collect_list(
    // struct(pos, line))) regroup of the exploded corpus lines, so the
    // only exchanges in the whole plan are the (small, distinct-line)
    // census aggregations
    assert(!plan.contains("array_sort"), plan)
    // the narrow path never regroups the corpus lines by doc id
    assert(!plan.contains("ObjectHashAggregate(keys=[id#"), plan)
    // the broadcastHot=false fallback keeps the grouped-rebuild shape
    // (an id-keyed collect_list regroup of the exploded lines)
    val lazyPlan = Dedup.dedupLines(docs, "doc_id", "text", minDocs = 3,
      broadcastHot = false).queryExecution.executedPlan.toString
    assert(lazyPlan.contains("ObjectHashAggregate(keys=[id#"), lazyPlan)
  }

  test("dedupLines skew guard: degenerate id dropped/raised, cool docs unchanged") {
    import graft.ops.HotKeys.SkewGuard
    // one pathological 50k-line document among three normal ones
    val giant = spark.range(50000L)
      .agg(concat_ws("\n", collect_list(concat(lit("spam line "), col("id"))))
        .as("text"))
      .select(lit(999L).as("doc_id"), col("text"))
    val cool = Seq(
      (1L, "unique one\nBOILER\nkeep"),
      (2L, "BOILER\nown line"),
      (3L, "third doc\nBOILER")).toDF("doc_id", "text")
    val corpus = cool.unionByName(giant)
    val unguarded = Dedup.dedupLines(cool, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dropped = Dedup.dedupLines(corpus, "doc_id", "text", minDocs = 3,
      guard = SkewGuard.Drop(10000L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the degenerate id vanishes from the OUTPUT; cool results identical
    assert(dropped.keySet == Set(1L, 2L, 3L), dropped.keySet.toString)
    assert(dropped == unguarded, dropped.toString)
    val ex = intercept[IllegalStateException] {
      Dedup.dedupLines(corpus, "doc_id", "text", minDocs = 3,
        guard = SkewGuard.Raise(10000L))
    }
    assert(ex.getMessage.contains("dedupLines"), ex.getMessage)
    // the dropped id is recoverable via the public routing surface
    val hot = HotKeys.hotKeys(
      corpus.select(col("doc_id"),
        explode(split(col("text"), "\n")).as("line")),
      Seq("doc_id"), 10000L).collect()
    assert(hot.map(_.getLong(0)).toSeq == Seq(999L))
  }

  test("curate: skewGuard routes a degenerate source id out of the line rebuild") {
    import graft.ops.HotKeys.SkewGuard
    val body = (1 to 60).map(i => s"word$i").mkString(" ")
    val giant = spark.range(50000L)
      .agg(concat_ws("\n", collect_list(concat(lit("crawler loop line "), col("id"))))
        .as("text"))
      .select(lit(999L).as("doc_id"), col("text"))
    val corpus = Seq(
      (1L, s"$body\nCOOKIE BANNER"),
      (2L, s"$body other tail\nCOOKIE BANNER"),
      (3L, s"$body third tail\nCOOKIE BANNER"))
      .toDF("doc_id", "text").unionByName(giant)
    val out = Curation.curate(corpus, "doc_id", "text",
      Curation.CurationConfig(lineDedupMinDocs = 3,
        skewGuard = SkewGuard.Drop(10000L)))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L), out.toString)
    intercept[IllegalStateException] {
      Curation.curate(corpus, "doc_id", "text",
        Curation.CurationConfig(lineDedupMinDocs = 3,
          skewGuard = SkewGuard.Raise(10000L)))
    }
  }

  test("tfidf: hand-computed scores, rare terms outweigh common ones") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana durian"))
      .toDF("doc_id", "text")
    val got = TfIdf.tfidf(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    def idf(df: Int) = math.log(4.0 / (df + 1)) + 1
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got((1L, "apple")) == ((2L, r6(2 * idf(1)))), got.toString)
    assert(got((3L, "banana")) == ((2L, r6(2 * idf(3)))), got.toString)
    assert(got((2L, "cherry")) == ((1L, r6(1 * idf(1)))), got.toString)
    // banana appears in every doc: per-occurrence weight below any rare term
    assert(got((2L, "banana"))._2 < got((2L, "cherry"))._2)
    // df table is broadcast by default
    val plan = TfIdf.tfidf(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("madOutliers flags planted corruption and nothing else; mad=0 yields no flags") {
    val base = (1 to 200).map(i => (i.toLong, 100.0 + (i % 11))) ++
      Seq((900L, 5000.0), (901L, -4000.0))
    val out = Outliers.madOutliers(base.toDF("id", "v"), col("v"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(out == Set(900L, 901L), s"got $out")
    // constant column: robust scale is undefined -> empty, not everything
    val const = (1 to 50).map(i => (i.toLong, 7.0)).toDF("id", "v")
    assert(Outliers.madOutliers(const, col("v")).isEmpty)
  }
}
