package graft

import graft.checks.{ReferentialBloomCheck, ReferentialCheck}
import graft.sketch.{BloomFunctions, BloomSketch}
import org.apache.spark.sql.functions._

/** Bloom filter + bloom-screened referential check: the no-false-
  * negative contract across merge orders, FP rate near spec, blob
  * round-trips, and screen ⊆ exact-violation containment. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives across arbitrary partial/merge orders; FP rate near fpp") {
    val rnd = new scala.util.Random(11)
    val keys = (0 until 20000).map(i => s"key-$i-${rnd.nextInt(1 << 30)}")
    val parts = keys.grouped(977).toSeq
    val merged = parts.map { p =>
      val sk = BloomSketch.sized(20000, 0.01)
      p.foreach(k => sk.add(k.getBytes("UTF-8")))
      if (rnd.nextBoolean()) BloomSketch.deserialize(sk.serialize()) else sk
    }.reduce(_ merge _)
    keys.foreach(k => assert(merged.contains(k.getBytes("UTF-8")),
      s"false negative for $k"))
    val fps = (0 until 50000)
      .count(i => merged.contains(s"absent-$i".getBytes("UTF-8")))
    val rate = fps / 50000.0
    assert(rate < 0.03, s"FP rate $rate far above the 0.01 spec")
  }

  test("sized() refuses a geometry that cannot honor the requested fpp") {
    val e = intercept[IllegalArgumentException](
      BloomSketch.sized(1000000000L, 0.001))
    assert(e.getMessage.contains("shard"), e.getMessage)
    // the feasible edge still sizes fine
    val ok = BloomSketch.sized(100000000L, 0.01)
    assert(ok.numBits > 0 && ok.numHashes >= 1)
  }

  test("blob round-trips; corrupt and mismatched-geometry inputs are rejected") {
    val sk = BloomSketch.sized(100, 0.001)
    sk.add("a".getBytes); sk.add("b".getBytes)
    val back = BloomSketch.deserialize(sk.serialize())
    assert(back.contains("a".getBytes) && back.contains("b".getBytes))
    assert(back.numBits == sk.numBits && back.numHashes == sk.numHashes)
    intercept[IllegalArgumentException](
      BloomSketch.deserialize(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](
      BloomSketch.deserialize(graft.sketch.FreqSketch.empty(4).serialize()))
    val truncated = sk.serialize().dropRight(4)
    intercept[IllegalArgumentException](BloomSketch.deserialize(truncated))
    intercept[IllegalArgumentException](
      back.merge(BloomSketch.sized(1000000, 0.001)))
  }

  test("aggregate shape: partial-combined blobs OR to the same filter") {
    val df = (0 until 5000).map(i => s"k$i").toDF("k").repartition(13)
    val blob = df.agg(BloomFunctions.bloom_agg(col("k"), 5000, 0.001))
      .head().getAs[Array[Byte]](0)
    val f = BloomSketch.deserialize(blob)
    assert(f.itemsAdded == 5000)
    (0 until 5000).foreach(i => assert(f.contains(s"k$i".getBytes)))
    // in-plan probe against the blob literal: every present key true
    val misses = df.where(!BloomFunctions.bloom_contains(lit(blob), col("k"))).count()
    assert(misses == 0)
  }

  test("bloom referential screen: definite violations only, exact at tiny fpp") {
    val dim = (0 until 3000).filter(_ % 7 != 0).map(i => (i.toLong, true))
      .toDF("key", "active")
    val fact = (0 until 6000).map(i => (i.toLong, (i % 3000).toLong, i % 4))
      .toDF("doc_id", "fk", "part")
    val bloomV = ReferentialBloomCheck("fk", dim, "key",
      expectedKeys = 3000, fpp = 1e-9, idCol = "doc_id").run(fact)
      .violations.select("doc_id").collect().map(_.getString(0)).toSet
    val exactV = ReferentialCheck("fk", dim, "key", idCol = "doc_id").run(fact)
      .violations.select("doc_id").collect().map(_.getString(0)).toSet
    assert(bloomV.subsetOf(exactV), "bloom flagged a non-violation (false negative in filter)")
    assert(bloomV == exactV, s"screen missed ${exactV -- bloomV} at fpp=1e-9")
    assert(exactV.nonEmpty)
  }

  test("persisted filter probes identically (IndexStore bloom profile)") {
    val dim = (0 until 1000).map(i => s"d$i").toDF("key")
    val blob = dim.agg(BloomFunctions.bloom_agg(col("key"), 1000, 1e-6))
      .head().getAs[Array[Byte]](0)
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    graft.pipeline.IndexStore.saveProfile(blob, "bloom", "key", dir)
    val (loaded, kind, colName) = graft.pipeline.IndexStore.loadProfile(dir)
    assert(kind == "bloom" && colName == "key")
    val fact = (0 until 2000).map(i => s"d$i").toDF("fk")
    val flagged = ReferentialBloomCheck.FromBlob(loaded, "fk", "key",
      idCol = "fk").run(fact.withColumn("part", lit(0)))
    val got = flagged.violations.select("additional_properties")
      .collect().map(_.getString(0)).toSet
    assert(got == (1000 until 2000).map(i => s"d$i").toSet)
  }

  test("SQL surface: bloom_agg / bloom_contains registered") {
    graft.ext.GraftFunctions.register(spark)
    spark.range(100).selectExpr("concat('s', id) AS k")
      .createOrReplaceTempView("bloom_keys")
    val n = spark.sql(
      """SELECT count(*) FROM (
           SELECT bloom_contains(f, k) AS hit
           FROM bloom_keys, (SELECT bloom_agg(k, 100, 0.000001) AS f FROM bloom_keys))
         WHERE hit""").head().getLong(0)
    assert(n == 100L)
  }
}
