package graft

import graft.sketch.{KeyCounts, SortedKeyCounts}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The `key_counts` buffer on its own: exact counts through merges and
  * serialization, key order per type, and foreign blobs rejected. */
class KeyCountsSpec extends AnyFunSuite {

  def counts(dt: DataType, values: Seq[Any]): KeyCounts = {
    val enc = KeyCounts.encoder(dt).get
    val b = new KeyCounts(enc.byteKeys)
    values.foreach(enc.add(b, _))
    b
  }

  def pairs(s: SortedKeyCounts): Seq[(Any, Long)] =
    (0 until s.size).map(i =>
      (if (s.longKeys != null) s.longKeys(i) else s.stringKeys(i).toString) -> s.counts(i))

  test("counts stay exact through partial buffers, merges and both blob forms") {
    val rnd = new scala.util.Random(3)
    val values = Seq.fill(20000)(rnd.nextInt(3000).toLong - 1500) ++ Seq(Long.MinValue, Long.MaxValue)
    val want = values.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    // four partial buffers, shipped unsorted and merged into an empty one
    val merged = values.grouped(5003).map(counts(LongType, _))
      .map(p => KeyCounts.deserialize(p.serialize(sorted = false)))
      .foldLeft(counts(LongType, Nil))(_ merge _)
    val sorted = KeyCounts.sorted(merged.serialize(sorted = true))
    assert(sorted.total == values.size)
    assert(pairs(sorted) == want)
    val strings = values.map(v => UTF8String.fromString(s"k$v"))
    val byString = KeyCounts.sorted(strings.grouped(7001).map(counts(StringType, _))
      .reduce(_ merge _).serialize(sorted = true))
    assert(pairs(byString) == values.groupBy(v => s"k$v").view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1))
  }

  test("encoded keys sort as Spark orders the type, with -0.0 = 0.0 and one NaN") {
    def order(dt: DataType, values: Seq[Any]): Seq[Int] = {
      val s = KeyCounts.sorted(counts(dt, values).serialize(sorted = true))
      s.counts.toSeq.map(_.toInt)
    }
    // each value i occurs i + 1 times, so the counts read back the order
    def check(dt: DataType, ascending: Seq[Any]): Unit = {
      val values = ascending.zipWithIndex.flatMap { case (v, i) => Seq.fill(i + 1)(v) }
      assert(order(dt, scala.util.Random.shuffle(values)) == ascending.indices.map(_ + 1),
        s"$dt order of $ascending")
    }
    check(DoubleType, Seq(Double.NegativeInfinity, -2.5, -1e-300, 0.0, 1e-300, 3.0,
      Double.PositiveInfinity, Double.NaN))
    check(FloatType, Seq(Float.NegativeInfinity, -2.5f, 0.0f, 1.5f, Float.NaN))
    check(DecimalType(30, 2), Seq("-99999999999999999999.99", "-1.00", "0.00", "0.01",
      "12345678901234567890.12").map(s => Decimal(BigDecimal(s), 30, 2)))
    check(DecimalType(10, 1), Seq("-5.5", "0.0", "7.2").map(s => Decimal(BigDecimal(s), 10, 1)))
    check(StringType, Seq("", "A", "a", "ab", "é", "中").map(UTF8String.fromString))
    check(BinaryType, Seq(Array[Byte](), Array[Byte](1), Array[Byte](1, 0), Array[Byte](127),
      Array[Byte](-128), Array[Byte](-1)))
    check(BooleanType, Seq(false, true))
    assert(order(DoubleType, Seq(-0.0, 0.0, Double.NaN, java.lang.Double.longBitsToDouble(0x7ff0000000000001L)))
      == Seq(2, 2), "-0.0/0.0 and the NaNs must be one key each")
    assert(KeyCounts.encoder(ArrayType(IntegerType)).isEmpty)
  }

  test("key_counts over an array counts its non-NULL elements, as over the explode") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sketch.KeyCountsFunctions.key_counts
    graft.ext.GraftFunctions.register(spark)
    val df = Seq[(Int, Option[Seq[Option[Int]]], Option[Seq[String]])](
      (0, Some(Seq(Some(1), None, Some(3), Some(1))), Some(Seq("a", null, "b", "a"))),
      (0, None, None),
      (1, Some(Seq()), Some(Seq())),
      (1, Some(Seq(Some(2), None)), Some(Seq(null, "c"))),
      (2, None, None),
      (3, Some(Seq(None)), Some(Seq(null)))).toDF("g", "ints", "strs")
    df.createOrReplaceTempView("key_counts_arrays")
    def blobs(d: org.apache.spark.sql.DataFrame): Map[Int, Seq[(Any, Long)]] =
      d.collect().map(r => r.getInt(0) -> pairs(KeyCounts.sorted(r.getAs[Array[Byte]](1)))).toMap
    for ((c, want) <- Seq(
        "ints" -> Map(0 -> Seq(1L -> 2L, 3L -> 1L), 1 -> Seq(2L -> 1L), 2 -> Nil, 3 -> Nil),
        "strs" -> Map(0 -> Seq("a" -> 2L, "b" -> 1L), 1 -> Seq("c" -> 1L), 2 -> Nil, 3 -> Nil))) {
      val arrays = blobs(df.groupBy("g").agg(key_counts(col(c))))
      assert(arrays == want, c)
      // explode_outer keeps the groups whose arrays are NULL or empty
      assert(blobs(df.select(col("g"), explode_outer(col(c)).as("k"))
        .groupBy("g").agg(key_counts(col("k")))) == arrays, s"$c exploded")
      assert(blobs(spark.sql(s"SELECT g, key_counts($c) FROM key_counts_arrays GROUP BY g"))
        == arrays, s"$c through SQL")
    }
  }

  test("foreign or truncated blobs fail with a message") {
    val blob = counts(IntegerType, Seq(1, 2, 2, 3)).serialize(sorted = true)
    for (bad <- Seq(Array[Byte](1, 2, 3), blob.updated(0, 0.toByte), blob.take(blob.length - 1))) {
      val e = intercept[IllegalArgumentException](KeyCounts.deserialize(bad))
      assert(e.getMessage.startsWith("not a key_counts blob"), e.getMessage)
    }
    val unsorted = counts(IntegerType, Seq(1)).serialize(sorted = false)
    assert(intercept[IllegalArgumentException](KeyCounts.sorted(unsorted))
      .getMessage.contains("not sorted"))
  }
}
