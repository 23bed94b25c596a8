package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TF-IDF term weighting — the corpus-statistics join shape: a per-doc
  * term-frequency aggregation joined against a corpus-wide document-
  * frequency table, with the corpus size attached in-plan (1-row
  * broadcast cross-join, the [[Outliers]]/Chi2 pattern — no driver-side
  * collect splitting the job).
  *
  * Scale shape: tf aggregates on (doc, term) with map-side combine; the
  * document-frequency table aggregates the SAME exploded frame one level
  * further (term only) — both partial-aggregated, and the df table is
  * vocabulary-sized and broadcast. IDF is the sklearn-style smoothed form
  * ln((N+1)/(df+1)) + 1, which never divides by zero and keeps unseen-term
  * weights finite.
  */
object TfIdf {

  /** (term, doc_freq): number of documents containing each term. */
  def docFrequencies(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(array_distinct(TextAnalysis.words(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))

  /** (id, term, tf, tfidf): every (document, term) pair scored. The
    * document-frequency table is broadcast, which is right whenever the
    * vocabulary fits an executor (use the [[graft.sketch.FreqSketch]]
    * heavy-hitters path when it does not). */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = df
      .select(col(idCol).as("id"), explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // df table derived from the SAME (id, term) aggregation — terms has
    // one row per distinct (doc, term), so counting rows per term IS the
    // document frequency, the corpus tokenizes once, and Spark reuses
    // the (id, term) partial-aggregate exchange for both branches
    val dfTable = broadcast(terms.groupBy("term").agg(count(lit(1)).as("doc_freq")))
    val n = df.agg(count(lit(1)).as("_n"))
    terms
      .join(dfTable, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", Rounding.roundAt(
        col("tf") * (log((col("_n") + 1).cast("double") / (col("doc_freq") + 1)) + 1), 6))
      .select("id", "term", "tf", "tfidf")
  }
}
