package graft.pipeline

import graft.json._
import graft.ops.Dedup
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable index artifacts for the incremental-ingestion paths —
  * the precomputed state a production pipeline reuses across runs
  * instead of re-deriving from the full corpus each time:
  *
  *  - **dedup index**: the reference corpus's MinHash banded frame
  *    (id, band, bucket) plus its shingle sets (id, sh) — everything
  *    [[Dedup.crossCorpusDuplicatesIndexed]] needs, so a day's crawl
  *    dedups against yesterday's index without touching yesterday's
  *    text;
  *  - **IVF centroids**: the trained k-means matrix
  *    [[graft.ops.Similarity.ivfTopK]] consumes;
  *  - **drift profiles**: a serialized KLL or frequency sketch blob, the
  *    reference side of [[graft.checks.SketchDriftCheck]] /
  *    [[graft.checks.FreqDriftCheck]].
  *
  * Storage shape mirrors [[Checkpoint]] (Iceberg-shaped, plain-directory
  * backed in-sandbox): bulk data as parquet, one small JSON manifest
  * written temp-then-rename LAST, so a crash mid-save never yields a
  * loadable half-index — the manifest's existence IS the commit. Loads
  * check the manifest's format version and artifact kind and reconstruct
  * the exact generation parameters, so an index can never silently be
  * probed with mismatched banding.
  */
object IndexStore {

  val FormatVersion = 1

  /** Named shingle-id hashes (the persistable subset — a custom
    * `Column => Column` cannot ride a manifest). */
  def hashFn(kind: String): Column => Column = kind match {
    case "xxhash"     => Dedup.xxhashShingleId
    case "portable"   => Dedup.portableShingleId
    case "portable62" => Dedup.portableShingleId62
    case other => throw new IllegalArgumentException(
      s"unknown shingle hash kind '$other' (expected xxhash|portable|portable62)")
  }

  final case class DedupIndexParams(shingleN: Int, bands: Int,
                                    rowsPerBand: Int, seed: Long,
                                    hashKind: String) {
    def shingleId: Column => Column = hashFn(hashKind)
  }
  final case class DedupIndex(banded: DataFrame, shingles: DataFrame,
                              params: DedupIndexParams)

  // ---- manifest plumbing (temp-then-rename, the Checkpoint discipline) --

  private def writeManifest(dir: String, kind: String,
                            fields: (String, JValue)*): Unit = {
    Files.createDirectories(Paths.get(dir))
    val body = Json.render(JObj((Seq[(String, JValue)](
      "format_version" -> JNum(FormatVersion), "kind" -> JStr(kind))
      ++ fields).toVector))
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(dir: String, expectKind: String): JObj = {
    val p = Paths.get(dir, "manifest.json")
    require(Files.exists(p), s"no committed index manifest at $dir")
    val o = Json.parse(Files.readString(p)).asInstanceOf[JObj]
    val v = o.int("format_version").getOrElse(-1L)
    require(v == FormatVersion,
      s"index at $dir has format version $v, this build reads $FormatVersion")
    val k = o.str("kind").getOrElse("")
    require(k == expectKind, s"index at $dir is a '$k', expected '$expectKind'")
    o
  }

  // ---- dedup reference index -------------------------------------------

  /** Band + shingle the reference corpus once and persist the result.
    * One pass over the corpus; the banded frame and the shingle frame
    * are each one narrow projection + write (no shuffle). */
  def saveDedupIndex(ref: DataFrame, idCol: String, textCol: String,
                     dir: String, shingleN: Int = 3, bands: Int = 16,
                     rowsPerBand: Int = 4, seed: Long = 42L,
                     hashKind: String = "xxhash"): Unit = {
    val fn = hashFn(hashKind) // validate the kind before any work
    Dedup.bandedBuckets(ref, idCol, textCol, shingleN, bands, rowsPerBand,
      seed, fn)
      .write.mode("overwrite").parquet(s"$dir/banded")
    ref.select(col(idCol).as("id"),
        Dedup.shingles(col(textCol), shingleN).as("sh"))
      .write.mode("overwrite").parquet(s"$dir/shingles")
    writeManifest(dir, "dedup_index",
      "shingle_n" -> JNum(shingleN), "bands" -> JNum(bands),
      "rows_per_band" -> JNum(rowsPerBand), "seed" -> JNum(BigDecimal(seed)),
      "hash_kind" -> JStr(hashKind))
  }

  def loadDedupIndex(spark: SparkSession, dir: String): DedupIndex = {
    val m = readManifest(dir, "dedup_index")
    val p = DedupIndexParams(
      m.int("shingle_n").get.toInt, m.int("bands").get.toInt,
      m.int("rows_per_band").get.toInt, m.int("seed").get,
      m.str("hash_kind").get)
    DedupIndex(spark.read.parquet(s"$dir/banded"),
      spark.read.parquet(s"$dir/shingles"), p)
  }

  /** New batch vs a persisted index — the parameters travel WITH the
    * index, so a probe can never band differently than the index was
    * built. Output identical to [[Dedup.crossCorpusDuplicates]] against
    * the original reference corpus. */
  def crossCorpusAgainst(newDf: DataFrame, index: DedupIndex,
                         idCol: String, textCol: String, threshold: Double,
                         maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.crossCorpusDuplicatesIndexed(newDf, index.banded, index.shingles,
      idCol, textCol, threshold, index.params.shingleN, index.params.bands,
      index.params.rowsPerBand, index.params.seed, index.params.shingleId,
      maxBucket)

  // ---- IVF centroids ---------------------------------------------------

  /** Centroid matrix as parquet (cell, vec) — parquet doubles round-trip
    * exactly, unlike a JSON rendering. */
  def saveCentroids(spark: SparkSession, centroids: Seq[Seq[Double]],
                    dir: String): Unit = {
    require(centroids.nonEmpty && centroids.map(_.length).distinct.size == 1,
      "centroid matrix must be non-empty and rectangular")
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    writeManifest(dir, "ivf_centroids",
      "k" -> JNum(centroids.length), "dim" -> JNum(centroids.head.length))
  }

  def loadCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] = {
    val m = readManifest(dir, "ivf_centroids")
    val k = m.int("k").get.toInt
    val dim = m.int("dim").get.toInt
    val out = spark.read.parquet(s"$dir/centroids")
      .orderBy("cell").collect()
      .map(r => r.getSeq[Double](1))
    require(out.length == k && out.forall(_.length == dim),
      s"centroid parquet at $dir does not match its manifest ($k x $dim)")
    out.toSeq
  }

  /** Persist per-subspace PQ codebooks ([[graft.ops.Similarity.pqTopK]])
    * as one parquet of (subspace, code, vec) rows — train once on
    * today's corpus ([[graft.ops.Similarity.trainPqCodebooks]]), encode
    * and search tomorrow's ingest against the same code space. */
  def savePqCodebooks(spark: SparkSession, codebooks: Seq[Seq[Seq[Double]]],
                      dir: String): Unit = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty) &&
      codebooks.map(_.length).distinct.size == 1 &&
      codebooks.flatMap(_.map(_.length)).distinct.size == 1,
      "pq codebooks must be non-empty and rectangular (m x codes x subdim)")
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (v, c) => (s, c, v) }
    }.toDF("subspace", "code", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    writeManifest(dir, "pq_codebooks",
      "m" -> JNum(codebooks.length),
      "codes" -> JNum(codebooks.head.length),
      "subdim" -> JNum(codebooks.head.head.length))
  }

  def loadPqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val mf = readManifest(dir, "pq_codebooks")
    val m = mf.int("m").get.toInt
    val codes = mf.int("codes").get.toInt
    val subdim = mf.int("subdim").get.toInt
    val rows = spark.read.parquet(s"$dir/codebooks")
      .orderBy("subspace", "code").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val out = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
    require(out.length == m && out.forall(_.length == codes) &&
      out.forall(_.forall(_.length == subdim)),
      s"pq codebook parquet at $dir does not match its manifest " +
        s"($m x $codes x $subdim)")
    out
  }

  // ---- drift profiles (serialized sketch blobs) ------------------------

  /** Persist a reference profile: the serialized sketch bytes
    * ([[graft.sketch.KllSketch]], [[graft.sketch.FreqSketch]], or
    * [[graft.sketch.BloomSketch]] — all self-describing via their magic
    * words) plus which column it profiles. */
  def saveProfile(blob: Array[Byte], sketchKind: String, column: String,
                  dir: String): Unit = {
    require(sketchKind == "kll" || sketchKind == "freq" || sketchKind == "bloom",
      s"sketchKind must be kll|freq|bloom, got $sketchKind")
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".profile.bin.tmp")
    Files.write(tmp, blob)
    Files.move(tmp, Paths.get(dir, "profile.bin"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    writeManifest(dir, "drift_profile",
      "sketch" -> JStr(sketchKind), "column" -> JStr(column),
      "bytes" -> JNum(blob.length))
  }

  /** Returns (blob, sketchKind, column). The blob's own magic word is
    * re-validated by the sketch deserializer at use. */
  def loadProfile(dir: String): (Array[Byte], String, String) = {
    val m = readManifest(dir, "drift_profile")
    val blob = Files.readAllBytes(Paths.get(dir, "profile.bin"))
    require(m.int("bytes").contains(blob.length.toLong),
      s"profile blob at $dir is ${blob.length} bytes, manifest says ${m.int("bytes")}")
    (blob, m.str("sketch").get, m.str("column").get)
  }
}
