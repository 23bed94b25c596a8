package perfbench

import java.nio.file.Path

import graft.ops.{Curation, Dedup, HotKeys}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Curation.curate` with near dedup on and `SkewGuard.Drop` over the
  * planted-truth corpus of `graft.CurateScaleBench`, seeded. Of `n` docs:
  * 80% bases (30 hash-vocabulary words and a shared banner line), 10% exact
  * clones of the first bases, 5% near clones (word 17 replaced), 2.5% PII
  * docs (unique words and one email address), 2.5% junk (short punctuation),
  * plus one hot doc of 0.12·n unique lines that the skew guard (cap 0.05·n
  * lines per doc) must route out: CurateScaleBench's 120k and 50k at 1M docs.
  * The survivors follow in closed form, which run.py checks. */
final class CurateWorkload(seed: Long, dataRoot: Path) extends Workload {

  /** a multiple of 40, so every planted share is a whole number of docs */
  val rows: Long = 20000L
  private val nBase = rows * 16 / 20
  private val nExact = rows * 2 / 20
  private val nNear = rows / 20
  private val nPii = rows / 40
  private val nJunk = rows / 40
  private val hotId = rows
  private val hotLines = (rows * 3 / 25).toInt
  private val lineCap = rows / 20
  private val banner = "Subscribe to our newsletter for updates"
  private val files = 8

  private val dir = dataRoot.resolve("curate-planted")
  private var docs: DataFrame = _

  private def words(baseId: Column, count: Int, perturb: Boolean): Column = {
    val w = transform(sequence(lit(0), lit(count - 1)), j =>
      concat(lit("w"), pmod(xxhash64(baseId, j, lit(seed)), lit(50000000L))))
    if (perturb) concat_ws(" ", transform(w, (x, j) => when(j === 17, lit("zzz")).otherwise(x)))
    else concat_ws(" ", w)
  }
  private def withBanner(line: Column): Column = concat(line, lit("\n" + banner))

  def generateInputs(s: SparkSession): Unit = {
    Fs.deleteRecursively(dir)
    val corpus =
      s.range(nBase).select(col("id").as("doc_id"),
          withBanner(words(col("id"), 30, perturb = false)).as("text"))
        .union(s.range(nExact).select((col("id") + nBase).as("doc_id"),
          withBanner(words(col("id"), 30, perturb = false)).as("text")))
        .union(s.range(nNear).select((col("id") + nBase + nExact).as("doc_id"),
          withBanner(words(col("id"), 30, perturb = true)).as("text")))
        .union(s.range(nPii).select((col("id") + nBase + nExact + nNear).as("doc_id"),
          withBanner(concat(words(col("id") + 77777777L, 20, perturb = false),
            lit(" contact user"), col("id").cast("string"),
            lit("@example.com now"))).as("text")))
        .union(s.range(nJunk).select((col("id") + nBase + nExact + nNear + nPii).as("doc_id"),
          concat(lit("### !? "), col("id").cast("string")).as("text")))
        .union(s.range(1).select(lit(hotId).as("doc_id"),
          concat_ws("\n", transform(sequence(lit(0), lit(hotLines - 1)), j =>
            concat(lit("u"), j, lit("h"), pmod(xxhash64(j, lit(hotId), lit(seed)),
              lit(1000000L))))).as("text")))
    corpus.repartition(files).write.parquet(dir.resolve("docs").toString)
  }

  def inputBytes: Long = Fs.dataBytes(dir.resolve("docs"))

  def info: Map[String, Any] = Map(
    "inputs_id" -> s"curate-planted-s$seed-r$rows",
    "n" -> rows, "n_base" -> nBase, "n_exact" -> nExact, "n_near" -> nNear,
    "n_pii" -> nPii, "n_junk" -> nJunk, "hot_id" -> hotId)

  def open(s: SparkSession): Double = {
    docs = s.read.parquet(dir.resolve("docs").toString)
    0.0
  }

  private def curated(): DataFrame =
    Curation.curate(docs, "doc_id", "text", Curation.CurationConfig(
      skewGuard = HotKeys.SkewGuard.Drop(lineCap),
      nearDedup = true, nearDedupThreshold = 0.7))

  private def keepCanonical(): Long =
    Dedup.keepCanonical(docs, col("text"), Seq(col("doc_id"))).count()

  /** the cheapest op of the loop: a full curate would triple set-up */
  def warmUp(): Unit = keepCanonical()

  /** the aggregates the closed form constrains, over one curate output */
  private def closedForm(out: DataFrame): Map[String, Any] = {
    val nearLo = nBase + nExact
    def cnt(p: Column): Column = sum(when(p, 1L).otherwise(0L))
    val id = col("doc_id")
    val r = out.agg(
      cnt(id < nBase), cnt(id >= nBase && id < nearLo),
      cnt(id >= nearLo && id < nearLo + nNear),
      cnt(id >= nearLo + nNear && id < nearLo + nNear + nPii),
      cnt(id >= nearLo + nNear + nPii && id < rows), cnt(id === hotId),
      cnt(col("text").contains(banner)), cnt(col("text").contains("@")),
      cnt(col("text").contains("[EMAIL]")), min("quality"),
      cnt(col("split") === "train"), cnt(col("split") === "val"),
      cnt(col("split") === "test"), count(lit(1))).head()
    Seq("bases", "exact_clones", "near_clones", "pii", "junk", "hot", "banner",
      "at_signs", "email_redactions", "min_quality", "train", "val", "test", "survivors")
      .zipWithIndex.map { case (k, i) => k -> r.get(i) }.toMap
  }

  /** the three dedup stages each called alone on the raw corpus, then the
    * production composition; its output is consumed by the closed-form
    * aggregate, one pass that also counts the survivors */
  def iteration(it: Int, run: Run): Unit = {
    run.op(it, "ops.dedup_lines")(Dedup.dedupLines(docs, "doc_id", "text", 3, "\n",
      guard = HotKeys.SkewGuard.Drop(lineCap)).count())(n => Map("rows" -> n))
    run.op(it, "ops.keep_canonical")(keepCanonical())(n => Map("rows" -> n))
    run.op(it, "ops.dedup_corpus")(
      Dedup.dedupCorpus(docs, "doc_id", "text", 0.7).count())(n => Map("rows" -> n))
    run.op(it, "ops.curate")(closedForm(curated()))(identity)
  }

  def traceOnly(run: Run): Unit = ()
}
