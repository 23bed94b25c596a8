package graft.entry

import graft.ops._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Training-data pipeline operator queries: dedup family, similarity
  * search, text analysis, multimodal plumbing. SQL oracles restate the
  * deterministic ones; LSH/SimHash families are covered by property tests
  * in DedupSpec instead (hash-family internals are not SQL-expressible) —
  * they still ship here as rows-only queries so the driver can smoke them.
  */
object OpsQueries {
  import QueryUtil._

  /** The documents table with guaranteed scan parallelism — for queries
    * whose per-row TEXT work (multi-regex chains, tokenizer/shingle/
    * winnow kernels, BPE encode, LM scoring) dwarfs one exchange of the
    * rows: the sf tables are one parquet file with one row group, which
    * cannot split below a single task (guide §2.5 unsplittable input),
    * so without the spread the whole kernel chain runs one-core. Cheap
    * scans keep plain [[QueryUtil.T]]; see [[QueryUtil.Tspread]]. */
  private def Tdocs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tspread(s, d, "documents", Seq("doc_id"), minBytes = 0L)

  // shared DuckDB fragment: word list of an arbitrary string expression
  // (mirrors TextAnalysis.words)
  private def duckWordsOf(e: String): String =
    s"list_filter(string_split_regex(lower(regexp_replace($e, '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+'), w -> w <> '')"
  private val duckWords = duckWordsOf("text")

  private def duckStopRatio(lang: String): String = {
    val sw = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(",")
    s"(CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN ($sw)))::DOUBLE / len(w) ELSE 0.0 END)"
  }

  // DuckDB restatement of graft.compile.Fingerprint32 (the portable
  // shingle-id hash): polynomial rolling hash over code points mod 2^31-1.
  // list_reduce seeds with the first element, which equals folding from 0
  // because (0*m + cp0) % M = cp0.
  private def duckFp(s: String, mult: Int = 31): String =
    s"""(CASE WHEN length($s) = 0 THEN 0
         ELSE list_reduce(list_transform(string_split($s, ''), c -> ascii(c)::BIGINT),
                          (a, b) -> (a*$mult + b) % 2147483647) END)"""

  // DuckDB restatement of LmScore.train (topV=500, maxBigrams=2000) as a
  // prefixed CTE block parameterized by the training-corpus filter —
  // shared by the DSIR gate pair (target slice vs whole corpus)
  private def dsirModelCtes(p: String, where: String): String =
    s"""${p}w AS (SELECT doc_id, $duckWords AS w FROM documents $where),
      ${p}nz AS (SELECT doc_id, w FROM ${p}w WHERE len(w) > 0),
      ${p}toks AS (SELECT doc_id, unnest(w) AS term FROM ${p}nz),
      ${p}t AS (SELECT count(*) AS total FROM ${p}toks),
      ${p}unir AS (SELECT term, count(*) AS n,
                     row_number() OVER (ORDER BY count(*) DESC, term ASC) AS r
                   FROM ${p}toks GROUP BY term),
      ${p}uni AS (SELECT term, n FROM ${p}unir WHERE r <= 500),
      ${p}v AS (SELECT count(*) AS vs FROM ${p}uni),
      ${p}pairs AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
                    FROM ${p}nz, unnest(range(0, len(w)-1)) AS u(i)),
      ${p}bir AS (SELECT w1, w2, count(*) AS n,
                    row_number() OVER (ORDER BY count(*) DESC, w1 ASC, w2 ASC) AS r
                  FROM ${p}pairs q
                  WHERE EXISTS (SELECT 1 FROM ${p}uni WHERE term = q.w1)
                    AND EXISTS (SELECT 1 FROM ${p}uni WHERE term = q.w2)
                  GROUP BY w1, w2),
      ${p}bi AS (SELECT w1, w2, n FROM ${p}bir WHERE r <= 2000)"""

  // the fused dual-model scoring over the whole corpus's bigram pairs
  // (r_pairs — the raw model trains on everything): per-bigram round-6
  // decimal log probs under both models, decimal-summed per doc
  private val dsirScoreCtes: String =
    """sc AS (SELECT p.doc_id,
              round(ln((coalesce(tb.n, 0) +
                  1.0 * (coalesce(tu2.n, 0) + 1.0) / (tt.total + tv.vs + 1.0))
                / (coalesce(tu1.n, 0) + 1.0)), 6)::DECIMAL(18,6) AS lt,
              round(ln((coalesce(rb.n, 0) +
                  1.0 * (coalesce(ru2.n, 0) + 1.0) / (rt.total + rv.vs + 1.0))
                / (coalesce(ru1.n, 0) + 1.0)), 6)::DECIMAL(18,6) AS lr
            FROM r_pairs p
            LEFT JOIN t_uni tu1 ON tu1.term = p.w1
            LEFT JOIN t_uni tu2 ON tu2.term = p.w2
            LEFT JOIN t_bi tb ON tb.w1 = p.w1 AND tb.w2 = p.w2
            LEFT JOIN r_uni ru1 ON ru1.term = p.w1
            LEFT JOIN r_uni ru2 ON ru2.term = p.w2
            LEFT JOIN r_bi rb ON rb.w1 = p.w1 AND rb.w2 = p.w2
            CROSS JOIN t_t tt CROSS JOIN t_v tv
            CROSS JOIN r_t rt CROSS JOIN r_v rv),
      agg AS (SELECT doc_id, count(*) AS n_bigrams,
                sum(lt) AS st, sum(lr) AS sr
              FROM sc GROUP BY 1)"""

  // DuckDB restatement of the cross-corpus banding->pair->verify chain,
  // shared by the direct (q_dedup_cross) and the persisted-index
  // (q_dedup_cross_persisted) gate variants
  private lazy val duckCrossOracle: String = {
    val fam = Dedup.hashFamily(16 * 2, 42L)
    val slots = fam.map { case (a, b) =>
      s"list_min(list_transform(ids, x -> (x*$a + $b) % 2147483647))"
    }.mkString("[", ",\n                 ", "]")
    s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents
                   WHERE doc_id < 300),
        sh AS (SELECT doc_id,
                 CASE WHEN len(w) >= 2
                      THEN list_distinct(list_transform(range(0, len(w)-1),
                             i -> w[i+1] || ' ' || w[i+2]))
                      ELSE [coalesce(list_aggregate(w, 'string_agg', ' '), '')]
                 END AS sh
               FROM w),
        ids AS (SELECT doc_id, list_transform(sh, s -> ${duckFp("s")}) AS ids FROM sh),
        sig AS (SELECT doc_id, $slots AS sig FROM ids),
        banded AS (
          SELECT doc_id, t.b AS band, sig[t.b*2 + 1 : t.b*2 + 2] AS bucket
          FROM sig, unnest(range(0, 16)) AS t(b)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id >= 100 AND b.doc_id < 100),
        v AS (
          SELECT p.new_id, p.ref_id,
            round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
          FROM pairs p
          JOIN sh sa ON sa.doc_id = p.new_id
          JOIN sh sb ON sb.doc_id = p.ref_id)
        SELECT new_id, ref_id, jaccard FROM v WHERE jaccard >= 0.10"""
  }

  // planted-mess input for the curation gate queries: shared cookie
  // banner inserted mid-text, per-modulus PII suffixes, an even-doc
  // footer (shared by q_curate and q_curate_cross)
  private def curateInput(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val id = col("doc_id")
    val suffix = when(pmod(id, lit(3)) === 0,
        concat(lit(" reach u"), id, lit("@ex"), pmod(id, lit(7)),
          lit(".com from 10."), pmod(id, lit(256)), lit(".0."), pmod(id, lit(100))))
      .when(pmod(id, lit(3)) === 1,
        concat(lit(" call 555-01"), pmod(id, lit(10)), lit("-"),
          lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
      .otherwise(lit(""))
    val t2 = concat(substring(col("text"), 1, 40),
      lit("\nSHARED COOKIE BANNER\n"), substring(col("text"), 41, 1000000),
      suffix,
      when(pmod(id, lit(2)) === 0, lit("\nEVEN FOOTER")).otherwise(lit("")))
    docs.select(id, t2.as("text"))
  }

  // the deterministic curate INPUT injection (mirrors curateInput)
  private lazy val duckCurateTCte: String =
    """t AS (
          SELECT doc_id,
            substr(text, 1, 40) || chr(10) || 'SHARED COOKIE BANNER' ||
            chr(10) || substr(text, 41) ||
            CASE WHEN doc_id % 3 = 0
                   THEN ' reach u' || doc_id || '@ex' || (doc_id % 7) ||
                        '.com from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                 WHEN doc_id % 3 = 1
                   THEN ' call 555-01' || (doc_id % 10) || '-' ||
                        lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END ||
            CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'EVEN FOOTER'
                 ELSE '' END AS text
          FROM documents)"""

  // the q_curate derivation from a (doc_id, text) CTE through the
  // exact-dedup survivor set `keep` (line dedup → PII → quality → exact
  // dedup), shared by q_curate / q_curate_cross / q_curate_web
  private def duckCurateChain(src: String,
                              gopherMinWords: Option[Int] = None,
                              lmMaxBits: Option[Double] = None,
                              lmMaxAlphabet: Int = 64): String = {
    val Seq(email, phone, ipv4) = TextAnalysis.piiPatterns.map(_._2)
    // optional Gopher-rule stage between the quality floor and exact
    // dedup (mirrors CurationConfig.gopherRules; rule arithmetic is the
    // q_gopher restatement — every threshold compares integers)
    val afterGopher = if (gopherMinWords.isDefined) "qa2" else "qa"
    val preKeep = if (lmMaxBits.isDefined) "qa3" else afterGopher
    val gopherStage = gopherMinWords.map { mw =>
      val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")
      s"""gw AS (SELECT doc_id, text, quality, $duckWords AS w FROM qa),
          gg AS (SELECT doc_id,
                   CASE WHEN len(w) >= 2
                        THEN list_transform(range(0, len(w)-1),
                               i -> w[i+1] || ' ' || w[i+2])
                        ELSE [] END AS g
                 FROM gw),
          gex AS (SELECT doc_id, unnest(g) AS gram FROM gg),
          gcnt AS (SELECT doc_id, gram, count(*) AS c FROM gex GROUP BY 1, 2),
          gst AS (SELECT doc_id, sum(c) AS total, max(c) AS top
                  FROM gcnt GROUP BY 1),
          gsig AS (SELECT gw.doc_id, gw.text, gw.quality,
                     len(gw.w) AS n,
                     list_reduce(list_prepend(0, list_transform(gw.w, x -> length(x))),
                       (a, b) -> a + b) AS sumlen,
                     len(list_filter(gw.w, x -> regexp_matches(x, '\\p{L}'))) AS alphaw,
                     len(list_filter(gw.w, x -> x IN ($stops))) AS stopn,
                     list_filter(string_split(gw.text, chr(10)),
                       l -> trim(l) <> '') AS lines,
                     length(gw.text) - length(replace(gw.text, '#', ''))
                       + len(regexp_extract_all(gw.text, '\\.\\.\\.|…')) AS symbols,
                     coalesce(gst.total, 0) AS bg_total,
                     coalesce(gst.top, 0) AS bg_top
                   FROM gw LEFT JOIN gst ON gw.doc_id = gst.doc_id),
          qa2 AS (SELECT doc_id, text, quality FROM gsig
                  WHERE NOT (n < $mw) AND NOT (n > 100000)
                    AND NOT (n > 0 AND (sumlen < 3*n OR sumlen > 10*n))
                    AND NOT (n > 0 AND 5*alphaw < 4*n)
                    AND NOT (stopn < 2)
                    AND NOT (len(lines) > 0 AND
                      10*len(list_filter(lines,
                        l -> regexp_matches(trim(l), '^[-*•]'))) > 9*len(lines))
                    AND NOT (len(lines) > 0 AND
                      10*len(list_filter(lines,
                        l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) > 3*len(lines))
                    AND NOT (n > 0 AND 10*symbols > n)
                    AND NOT (bg_total > 0 AND 5*bg_top > bg_total)),"""
    }.getOrElse("")
    s"""lls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM $src),
        lines AS (SELECT doc_id, i AS pos, ls[i+1] AS line
                  FROM lls, unnest(range(0, len(ls))) AS u(i)),
        hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines
                                  WHERE trim(line) <> '')
                GROUP BY line HAVING count(*) >= 3),
        ld AS (SELECT doc_id,
                 coalesce(string_agg(line, chr(10) ORDER BY pos)
                   FILTER (WHERE line NOT IN (SELECT line FROM hot)), '') AS text
               FROM lines GROUP BY doc_id),
        red AS (SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(text,
                    '$email', '[EMAIL]', 'g'),
                    '$phone', '[PHONE]', 'g'),
                    '$ipv4', '[IPV4]', 'g') AS text
                FROM ld),
        qm AS (SELECT doc_id, text, length(text) AS n, $duckWords AS w,
                 length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE
                   / greatest(length(text), 1) AS alpha_ratio
               FROM red),
        qq AS (SELECT doc_id, text, n, alpha_ratio,
                 CASE WHEN len(w) > 0
                      THEN length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(w)
                      ELSE 0.0 END AS mwl
               FROM qm),
        q AS (SELECT doc_id, text, round(
                (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                      WHEN n >= 20 AND n < 100 THEN 0.5 ELSE 0.0 END) * 0.4
                + alpha_ratio * 0.3
                + (CASE WHEN mwl >= 3 AND mwl <= 12 THEN 1.0 ELSE 0.3 END) * 0.3,
                4) AS quality
              FROM qq),
        qa AS (SELECT * FROM q WHERE quality >= 0.5),
        $gopherStage
        ${lmStage(afterGopher, lmMaxBits, lmMaxAlphabet)}
        keep AS (SELECT doc_id, text, quality FROM (
                   SELECT *, row_number() OVER (PARTITION BY text
                                                ORDER BY doc_id) AS rn
                   FROM $preKeep) WHERE rn = 1)"""
  }

  // optional char-LM perplexity stage between the quality filters and
  // exact dedup (mirrors CurationConfig.maxLmBits; the q_lm_score
  // restatement re-sourced from the cleaned post-quality corpus)
  private def lmStage(src: String, maxBits: Option[Double],
                      maxAlphabet: Int): String = maxBits.map { mb =>
    s"""lmch AS (SELECT doc_id, unnest(string_split(text, '')) AS c FROM $src),
        lmcc AS (SELECT unicode(c) AS cp, count(*) AS k FROM lmch GROUP BY 1),
        lmalpha AS (SELECT cp FROM lmcc ORDER BY k DESC, cp ASC LIMIT $maxAlphabet),
        lmcs AS (SELECT doc_id, string_split(text, '') AS cs FROM $src),
        lmbg AS (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(cs) - 1),
                     i -> {'i': i, 'c1': unicode(cs[i]),
                           'c2': unicode(cs[i + 1])})) AS b
                 FROM lmcs WHERE len(cs) >= 2),
        lmmb AS (SELECT doc_id, b.i AS i,
                   (CASE WHEN a1.cp IS NULL THEN 1114112 ELSE b.c1 END)::BIGINT
                     * 2097152 +
                   (CASE WHEN a2.cp IS NULL THEN 1114112 ELSE b.c2 END) AS key
                 FROM lmbg LEFT JOIN lmalpha a1 ON b.c1 = a1.cp
                           LEFT JOIN lmalpha a2 ON b.c2 = a2.cp),
        lmbc AS (SELECT key, count(*) AS cnt FROM lmmb GROUP BY key),
        lmctx AS (SELECT key // 2097152 AS c1, sum(cnt) AS cn
                  FROM lmbc GROUP BY 1),
        lmv AS (SELECT count(*) + 1 AS v FROM lmalpha),
        lmterms AS (SELECT lmmb.doc_id, lmmb.i,
                      log2((lmbc.cnt + 1)::DOUBLE / (lmctx.cn + lmv.v)::DOUBLE) AS t
                    FROM lmmb JOIN lmbc ON lmmb.key = lmbc.key
                              JOIN lmctx ON lmmb.key // 2097152 = lmctx.c1
                              CROSS JOIN lmv),
        lmsc AS (SELECT doc_id, count(*) AS n,
                   list_reduce(list(t ORDER BY i), (a, b) -> a + b) AS s
                 FROM lmterms GROUP BY doc_id),
        qa3 AS (SELECT g.doc_id, g.text, g.quality
                FROM $src g LEFT JOIN lmsc ON g.doc_id = lmsc.doc_id
                WHERE coalesce(round(-(lmsc.s) / lmsc.n, 6), 0.0) <= $mb),"""
  }.getOrElse("")

  private lazy val duckCurateKeepCtes: String =
    s"""$duckCurateTCte,
        ${duckCurateChain("t")}"""

  private def duckCurateSplitSelect(from: String): String =
    s"""SELECT doc_id, text, quality,
          CASE WHEN h < trunc((98.0/100.0) * 1000000)::BIGINT THEN 'train'
               WHEN h < trunc((98.0/100.0 + 1.0/100.0) * 1000000)::BIGINT THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT *,
                (${duckFp("CAST(doc_id AS VARCHAR) || '#salt'")} % 1000000) AS h
              FROM $from)"""

  // shared CTE prefix: word-bigram shingle sets of documents with
  // doc_id < 200 (mirrors Dedup.shingles(text, 2))
  private val duckShingles200 =
    s"""w AS (SELECT doc_id, $duckWords AS w FROM documents WHERE doc_id < 200),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(w) >= 2
                 THEN list_distinct(list_transform(range(0, len(w)-1),
                        i -> w[i+1] || ' ' || w[i+2]))
                 ELSE [list_aggregate(w, 'string_agg', ' ')] END AS sh
          FROM w)"""

  val all: Seq[Q] = Seq(

    Q("q_dedup_exact",
      (s, d) => Dedup.exactDuplicates(T(s, d, "documents"),
        substring(col("text"), 1, 30)),
      Some("""SELECT substr(text, 1, 30) AS key, count(*) AS occurrences
              FROM documents GROUP BY 1 HAVING count(*) > 1""")),

    // O(block²) verification path: bounded to 800 docs so the sf0.1 bench
    // isn't dominated by the quadratic oracle query (at scale this runs
    // only on LSH-candidate pairs, never on raw blocks)
    Q("q_dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccardDuplicates(
        T(s, d, "documents").where(col("doc_id") < 800),
        "doc_id", "text", blockCol = col("lang"), threshold = 0.12, shingleN = 2),
      Some(s"""WITH w AS (
                 SELECT doc_id, lang, $duckWords AS w FROM documents
                 WHERE doc_id < 800),
               sh AS (
                 SELECT doc_id, lang,
                   CASE WHEN len(w) >= 2
                        THEN list_distinct(list_transform(range(0, len(w)-1),
                               i -> w[i+1] || ' ' || w[i+2]))
                        ELSE [list_aggregate(w, 'string_agg', ' ')] END AS sh
                 FROM w)
               SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                   (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
               FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
               WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.12""")),

    // canonical-row selection: min_by hash aggregate (map-side combine),
    // not a window sort — the survivor per duplicate group is the lowest
    // doc_id
    Q("q_dedup_keep_first",
      (s, d) => Dedup.keepCanonical(
        T(s, d, "documents"), substring(col("text"), 1, 30),
        Seq(col("doc_id")))
        .select("doc_id", "lang", "source"),
      Some("""SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source,
                  row_number() OVER (PARTITION BY substr(text, 1, 30)
                                     ORDER BY doc_id) AS rn
                FROM documents) WHERE rn = 1""")),

    // MinHash LSH with an EXACT DuckDB oracle: the gate variant swaps the
    // shingle-id hash for the portable polynomial hash (xxhash64 is not
    // SQL-restateable; the affine family, banding, bucket join, pair
    // dedup, and Jaccard verification — the parts that matter at scale —
    // are identical to the production path and are restated verbatim).
    Q("q_dedup_minhash_lsh",
      (s, d) => Dedup.minhashDuplicates(
        T(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text",
        threshold = 0.10, shingleN = 2, bands = 16, rowsPerBand = 2,
        shingleId = Dedup.portableShingleId),
      Some {
        val fam = Dedup.hashFamily(16 * 2, 42L)
        val slots = fam.map { case (a, b) =>
          s"list_min(list_transform(ids, x -> (x*$a + $b) % 2147483647))"
        }.mkString("[", ",\n                 ", "]")
        s"""WITH $duckShingles200,
            ids AS (SELECT doc_id, list_transform(sh, s -> ${duckFp("s")}) AS ids FROM sh),
            sig AS (SELECT doc_id, $slots AS sig FROM ids),
            banded AS (
              SELECT doc_id, t.b AS band, sig[t.b*2 + 1 : t.b*2 + 2] AS bucket
              FROM sig, unnest(range(0, 16)) AS t(b)),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
            v AS (
              SELECT p.id_a, p.id_b,
                round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.id_a
              JOIN sh sb ON sb.doc_id = p.id_b)
            SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.10"""
      }),

    // SimHash near-dup with an EXACT DuckDB oracle: the gate variant packs
    // two portable polynomial hashes into a 62-bit shingle hash; the
    // majority-vote signature, 16-bit chunk blocking, pair dedup, and
    // Hamming filter are restated verbatim.
    Q("q_dedup_simhash",
      (s, d) => Dedup.simhashDuplicates(
        T(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text",
        maxDist = 16, shingleN = 2,
        shingleId = Dedup.portableShingleId62),
      Some(
        s"""WITH $duckShingles200,
            hs AS (SELECT doc_id,
                     list_transform(sh, s -> ${duckFp("s")} + ${duckFp("s", 37)} * 2147483648) AS hs
                   FROM sh),
            sig AS (SELECT doc_id,
                     list_sum(list_transform(range(0, 62), b ->
                       CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                            THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS sig
                   FROM hs),
            chunked AS (
              SELECT doc_id, sig, t.c AS chunk, (sig >> (t.c*16)::INT) & 65535 AS ckey
              FROM sig, unnest(range(0, 4)) AS t(c)),
            pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.sig AS sig_a, b.sig AS sig_b
              FROM chunked a JOIN chunked b
                ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, bit_count(xor(sig_a, sig_b))::INT AS hamming
            FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 16""")),

    // the full near-dedup composition (banding → verified pairs →
    // connected components → min-id survivors → anti-join) with the same
    // portable hash and parameters as q_dedup_minhash_lsh, so the oracle
    // extends that query's restatement with a recursive closure and an
    // anti-join
    Q("q_dedup_corpus",
      (s, d) => Dedup.dedupCorpus(
        T(s, d, "documents").where(col("doc_id") < 200), "doc_id", "text",
        threshold = 0.10, shingleN = 2, bands = 16, rowsPerBand = 2,
        shingleId = Dedup.portableShingleId)
        .select("doc_id", "lang", "n_chars"),
      Some {
        val fam = Dedup.hashFamily(16 * 2, 42L)
        val slots = fam.map { case (a, b) =>
          s"list_min(list_transform(ids, x -> (x*$a + $b) % 2147483647))"
        }.mkString("[", ",\n                 ", "]")
        s"""WITH RECURSIVE $duckShingles200,
            ids AS (SELECT doc_id, list_transform(sh, s -> ${duckFp("s")}) AS ids FROM sh),
            sig AS (SELECT doc_id, $slots AS sig FROM ids),
            banded AS (
              SELECT doc_id, t.b AS band, sig[t.b*2 + 1 : t.b*2 + 2] AS bucket
              FROM sig, unnest(range(0, 16)) AS t(b)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
            vp AS (
              SELECT p.id_a, p.id_b
              FROM cand p
              JOIN sh sa ON sa.doc_id = p.id_a
              JOIN sh sb ON sb.doc_id = p.id_b
              WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) >= 0.10),
            edges AS (SELECT id_a AS src, id_b AS dst FROM vp
                      UNION ALL SELECT id_b, id_a FROM vp),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach AS (
              SELECT id, id AS r FROM nodes
              UNION
              SELECT e.dst AS id, reach.r FROM reach JOIN edges e
                ON e.src = reach.id),
            losers AS (
              SELECT id FROM (SELECT id, min(r) AS g FROM reach GROUP BY id)
              WHERE id <> g)
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id < 200 AND doc_id NOT IN (SELECT id FROM losers)"""
      }),

    // connected components over a duplicate-pair list: the step real
    // dedup needs between pair generation and survivor selection. The
    // gate graph is synthesized from orders as 5-node chains (diameter 4,
    // so label propagation genuinely iterates); the oracle restates the
    // algorithm itself as a recursive closure, not the expected answer.
    Q("q_dedup_groups",
      (s, d) => {
        val base = pmod(col("o_orderkey"), lit(200))
        val lvl = pmod(col("o_orderkey"), lit(4)) + 1
        val pairs = T(s, d, "orders").select(
          (base + lvl * 200).as("id_a"),
          (base + (lvl + 1) * 200).as("id_b")).distinct()
        Dedup.duplicateGroups(pairs)
      },
      Some("""WITH RECURSIVE pairs AS (
                SELECT DISTINCT
                  (o_orderkey % 200) + ((o_orderkey % 4) + 1) * 200 AS id_a,
                  (o_orderkey % 200) + ((o_orderkey % 4) + 2) * 200 AS id_b
                FROM orders),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION ALL SELECT id_b, id_a FROM pairs),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              reach AS (
                SELECT id, id AS r FROM nodes
                UNION
                SELECT e.dst AS id, reach.r FROM reach JOIN edges e
                  ON e.src = reach.id)
              SELECT id, min(r) AS group_id FROM reach GROUP BY id""")),

    // reproducible hash-mod sampling (curation): membership is a pure
    // function of (doc_id, lang-stratum fraction) — the gate uses the
    // portable fingerprint hash so DuckDB restates membership exactly
    Q("q_sample_strata",
      (s, d) => Sampling.hashSampleByStrata(
        T(s, d, "documents"),
        // salt the key past the hash's low range so short numeric ids
        // spread over the full modulus (bare "123" hashes below every
        // threshold and nothing would be filtered)
        key = concat(col("doc_id").cast("string"), lit("#"), col("source")),
        strata = col("lang"),
        fractions = Map("en" -> 0.3, "zh" -> 1.0), defaultFraction = 0.6,
        hash = TextAnalysis.fingerprint(_))
        .select("doc_id", "lang", "source"),
      Some(s"""SELECT doc_id, lang, source FROM documents
               WHERE (${duckFp("CAST(doc_id AS VARCHAR) || '#' || source")} % 1000000) <
                 CASE lang WHEN 'en' THEN 300000
                           WHEN 'zh' THEN 1000000 ELSE 600000 END""")),

    Q("q_embed_cosine_pairs",
      (s, d) => {
        val e = T(s, d, "embeddings").where(col("vec_id") < 100)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("sim", Rounding.roundAt(Similarity.cosine(col("v_a"), col("v_b")), 6))
          .where(col("sim") >= 0.25)
          .select("id_a", "id_b", "sim")
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings WHERE vec_id < 100)
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.v, b.v), 6) AS sim
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25""")),

    Q("q_ann_topk",
      (s, d) => {
        val e = T(s, d, "embeddings")
        Similarity.bruteForceTopK(
          corpus = e, corpusId = "vec_id", corpusVec = "embedding",
          queries = e.where(col("vec_id") < 8), queryId = "vec_id",
          queryVec = "embedding", k = 5)
      },
      Some("""WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              q AS (SELECT * FROM e WHERE vec_id < 8),
              scored AS (
                SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                  round(list_cosine_similarity(q.v, e.v), 6) AS sim
                FROM q JOIN e ON e.vec_id <> q.vec_id),
              ranked AS (
                SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, sim, rank::INT AS rank
              FROM ranked WHERE rank <= 5""")),

    // multi-table hyperplane LSH with an EXACT DuckDB oracle: the ±1
    // planes are seeded and injected as literals; both engines compute
    // the projections as the same left-fold double sum, so the sign
    // pattern (bucket) is bit-identical, and the exact cosine re-rank is
    // the same computation q_ann_topk already oracles.
    Q("q_ann_lsh",
      (s, d) => {
        val e = T(s, d, "embeddings")
        Similarity.lshTopK(
          corpus = e, corpusId = "vec_id", corpusVec = "embedding",
          queries = e.where(col("vec_id") < 8), queryId = "vec_id",
          queryVec = "embedding", k = 5, dim = 64, planes = 8)
      },
      Some {
        val tables = 4; val planes = 8; val dim = 64; val seed = 42L
        // one bucket expression per table: sign bits of the 8 projections
        val bucketExprs = (0 until tables).map { t =>
          val hp = Similarity.hyperplanes(planes, dim, seed + 7919L * t)
          val bits = hp.zipWithIndex.map { case (plane, i) =>
            val w = plane.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
            s"""(CASE WHEN list_reduce(
                  list_transform(range(1, ${dim + 1}),
                    j -> CAST(embedding[j] AS DOUBLE) * ($w)[j]),
                  (a, b) -> a + b) >= 0 THEN ${1L << i} ELSE 0 END)"""
          }.mkString(" + ")
          s"($bits) AS b$t"
        }.mkString(",\n                 ")
        s"""WITH sig AS (SELECT vec_id, $bucketExprs FROM embeddings),
            banded AS (
              SELECT vec_id, u.tbl,
                CASE u.tbl WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bucket
              FROM sig, unnest(range(0, $tables)) AS u(tbl)),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM banded q JOIN banded c
                ON q.tbl = c.tbl AND q.bucket = c.bucket AND c.vec_id <> q.vec_id
              WHERE q.vec_id < 8),
            ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
            scored AS (
              SELECT cand.query_id, cand.neighbor_id,
                round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
              FROM cand
              JOIN ev qe ON qe.vec_id = cand.query_id
              JOIN ev ce ON ce.vec_id = cand.neighbor_id),
            ranked AS (
              SELECT *, row_number() OVER
                (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, sim, rank::INT AS rank
            FROM ranked WHERE rank <= 5"""
      }),

    // IVF ANN with an EXACT DuckDB oracle. The gate variant uses pivot
    // centroids (the embedding vectors of a fixed id list — a k-medoid
    // init without iteration) so the oracle can fetch the identical
    // centroids from the same table; the production path trains real
    // k-means centroids driver-side (Similarity.trainCentroids, OpsSpec)
    // and feeds them through the SAME ivfTopK operator. Cell assignment
    // is the same sequential (x-c)² double fold in both engines →
    // bit-identical distances, same argmin (ties to the lower index).
    Q("q_ann_ivf",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.ivfTopK(e, "vec_id", "embedding",
          e.where(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, dim = 64, centroids = centroids, nprobe = 2)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              ranked AS (
                SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                FROM dist),
              cells AS (SELECT vec_id, j AS cell FROM ranked WHERE rn = 1),
              probes AS (SELECT vec_id, j AS cell FROM ranked
                         WHERE rn <= 2 AND vec_id < 8),
              cand AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM probes q JOIN cells c
                  ON q.cell = c.cell AND c.vec_id <> q.vec_id),
              scored AS (
                SELECT cand.query_id, cand.neighbor_id,
                  round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
                FROM cand
                JOIN ev qe ON qe.vec_id = cand.query_id
                JOIN ev ce ON ce.vec_id = cand.neighbor_id),
              rr AS (
                SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, sim, rank::INT AS rank
              FROM rr WHERE rank <= 5""")),

    // Johnson-Lindenstrauss random projection 64 -> 8 dims: the seeded
    // ±1 hyperplane matrix is interpolated into the oracle as list
    // literals; each component is the identical positional double fold
    // scaled by 1/sqrt(k) (IEEE sqrt + division — bit-equal both sides)
    Q("q_embed_project",
      // rp is an ARRAY internally; the gate surface explodes it to one
      // (vec_id, j, p) row per component — no float-to-string formatting
      // drift and no array cell for the driver comparer to sort
      (s, d) => Similarity.reduceDims(
        T(s, d, "embeddings"), "embedding", dim = 64, k = 8, seed = 42L)
        .select(col("vec_id"), posexplode(col("rp")).as(Seq("_j0", "p")))
        .select(col("vec_id"), (col("_j0") + 1).cast("int").as("j"), col("p")),
      Some {
        val rows = Similarity.hyperplanes(8, 64, 42L).zipWithIndex.map {
          case (p, j) => s"(${j + 1}, [${p.mkString(", ")}])"
        }.mkString(",\n                  ")
        s"""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              planes AS (SELECT j, m FROM (VALUES
                  $rows) AS t(j, m)),
              dots AS (
                SELECT ev.vec_id, planes.j,
                  round(list_reduce(list_transform(range(1, 65),
                    i -> ev.v[i] * planes.m[i]), (a, b) -> a + b) / sqrt(8.0), 6) AS p
                FROM ev, planes)
              SELECT vec_id, j::INT AS j, p FROM dots"""
      }),

    // prototypicality sampling (SSL-prototypes / "beyond neural scaling
    // laws" pruning): assign each vector to its L2-nearest pivot
    // centroid, rank by cosine to the centroid (least-prototypical
    // first), keep 10 per cell. Same pivot-centroid pinning and fold
    // parity as q_ann_ivf; dominance ties break to the smaller id
    Q("q_proto_sample",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.prototypeSample(e, "vec_id", "embedding", centroids,
          keepPerCell = 10, keepLeastPrototypical = true)
          .select("vec_id", "cell", "proto_sim", "rank")
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              cells AS (
                SELECT vec_id, j FROM (
                  SELECT vec_id, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                  FROM dist) WHERE rn = 1),
              ps AS (
                SELECT cells.vec_id, cells.j - 1 AS cell,
                  round(list_cosine_similarity(ev.v, piv.c), 6) AS proto_sim
                FROM cells JOIN ev ON ev.vec_id = cells.vec_id
                           JOIN piv ON piv.j = cells.j
                WHERE list_cosine_similarity(ev.v, piv.c) IS NOT NULL),
              r AS (
                SELECT *, row_number() OVER
                  (PARTITION BY cell ORDER BY proto_sim ASC, vec_id ASC) AS rank
                FROM ps)
              SELECT vec_id, cell, proto_sim, rank::INT AS rank
              FROM r WHERE rank <= 10""")),

    // the same IVF probe with the centroid matrix round-tripped through
    // the persisted-index surface (save -> manifest-checked load): pins
    // that persisted centroids reproduce the direct result bit-for-bit
    Q("q_ann_ivf_persisted",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        val dir = java.nio.file.Files
          .createTempDirectory("graft-ivf-index").toString
        graft.pipeline.IndexStore.saveCentroids(s, centroids, dir)
        Similarity.ivfTopK(e, "vec_id", "embedding",
          e.where(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, dim = 64,
          centroids = graft.pipeline.IndexStore.loadCentroids(s, dir),
          nprobe = 2)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              ranked AS (
                SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                FROM dist),
              cells AS (SELECT vec_id, j AS cell FROM ranked WHERE rn = 1),
              probes AS (SELECT vec_id, j AS cell FROM ranked
                         WHERE rn <= 2 AND vec_id < 8),
              cand AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM probes q JOIN cells c
                  ON q.cell = c.cell AND c.vec_id <> q.vec_id),
              scored AS (
                SELECT cand.query_id, cand.neighbor_id,
                  round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
                FROM cand
                JOIN ev qe ON qe.vec_id = cand.query_id
                JOIN ev ce ON ce.vec_id = cand.neighbor_id),
              rr AS (
                SELECT *, row_number() OVER
                  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, sim, rank::INT AS rank
              FROM rr WHERE rank <= 5""")),

    // int8-quantized ANN with exact float re-rank, EXACT oracle: the
    // quantization (floor half-up — floor, not round(), is IEEE-exact in
    // both engines), the integer dots, and the one-sqrt-one-divide
    // quantized cosine are all bit-reproducible, so the approx ranking
    // matches exactly; the re-rank stage is the q_ann_topk computation
    Q("q_ann_quantized",
      (s, d) => {
        val e = T(s, d, "embeddings")
        Similarity.quantizedTopK(
          corpus = e, corpusId = "vec_id", corpusVec = "embedding",
          queries = e.where(col("vec_id") < 8), queryId = "vec_id",
          queryVec = "embedding", k = 5, rerank = 20)
      },
      Some("""WITH qz AS (
                SELECT vec_id, embedding,
                  (CASE WHEN m IS NULL OR m = 0 THEN 1.0 ELSE 127.0 / m END) AS s
                FROM (SELECT vec_id, embedding,
                        list_max(list_transform(embedding, x -> abs(x)))::DOUBLE AS m
                      FROM embeddings)),
              qv AS (
                SELECT vec_id,
                  list_transform(embedding,
                    x -> floor(x::DOUBLE * s + 0.5)::BIGINT) AS q
                FROM qz),
              qn AS (SELECT vec_id, q, sqrt(list_dot_product(q, q)) AS n FROM qv),
              approx AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                  round(CASE WHEN qq.n * cc.n = 0 THEN -2.0
                        ELSE list_dot_product(qq.q, cc.q) / (qq.n * cc.n) END,
                        6) AS approx_sim
                FROM qn qq JOIN qn cc ON cc.vec_id <> qq.vec_id
                WHERE qq.vec_id < 8),
              cand AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY approx_sim DESC, neighbor_id ASC) AS arank
                FROM approx),
              ev AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                     FROM embeddings),
              scored AS (
                SELECT c.query_id, c.neighbor_id, c.approx_sim,
                  round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
                FROM cand c
                JOIN ev qe ON qe.vec_id = c.query_id
                JOIN ev ce ON ce.vec_id = c.neighbor_id
                WHERE c.arank <= 20),
              ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, approx_sim, sim, rank::INT AS rank
              FROM ranked WHERE rank <= 5""")),

    // PQ (product quantization) ANN via asymmetric distance, EXACT
    // oracle: per-subspace codebooks from pivot rows' subvectors (the
    // q_ann_ivf trick applied per 16-dim slice), encoding = the
    // q_refine_centroids nearest-centroid restatement per subspace, ADC
    // = the query-to-assigned-centroid squared distances summed in
    // subspace order (max-CASE pivot keeps the float sum order exact),
    // and the re-rank tail is the q_ann_quantized computation
    Q("q_ann_pq",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val pivVecs = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        val codebooks = (0 until 4).map(sub =>
          pivVecs.map(v => v.slice(sub * 16, sub * 16 + 16)))
        Similarity.pqTopK(e, "vec_id", "embedding",
          e.where(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, dim = 64, codebooks = codebooks, rerank = 20)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS cidx, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              sub AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(s)),
              cdist AS (
                SELECT ev.vec_id, sub.s, piv.cidx,
                  list_reduce(list_transform(range(1, 17),
                    i -> (ev.v[sub.s*16+i]-piv.c[sub.s*16+i])
                       * (ev.v[sub.s*16+i]-piv.c[sub.s*16+i])),
                    (a,b) -> a+b) AS dsq
                FROM ev, sub, piv),
              codes AS (
                SELECT vec_id, s, cidx,
                  row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY dsq, cidx) AS rn
                FROM cdist),
              qlut AS (
                SELECT q.vec_id AS query_id, sub.s, piv.cidx,
                  list_reduce(list_transform(range(1, 17),
                    i -> (q.v[sub.s*16+i]-piv.c[sub.s*16+i])
                       * (q.v[sub.s*16+i]-piv.c[sub.s*16+i])),
                    (a,b) -> a+b) AS d
                FROM ev q, sub, piv WHERE q.vec_id < 8),
              adcp AS (
                SELECT l.query_id, c.vec_id AS neighbor_id, c.s, l.d
                FROM codes c
                JOIN qlut l ON l.s = c.s AND l.cidx = c.cidx
                WHERE c.rn = 1 AND c.vec_id <> l.query_id),
              adc AS (
                SELECT query_id, neighbor_id,
                  round(max(CASE WHEN s=0 THEN d END)
                      + max(CASE WHEN s=1 THEN d END)
                      + max(CASE WHEN s=2 THEN d END)
                      + max(CASE WHEN s=3 THEN d END), 6) AS adc_dist
                FROM adcp GROUP BY query_id, neighbor_id),
              cand AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_dist ASC, neighbor_id ASC) AS arank
                FROM adc),
              scored AS (
                SELECT c.query_id, c.neighbor_id, c.adc_dist,
                  round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
                FROM cand c
                JOIN ev qe ON qe.vec_id = c.query_id
                JOIN ev ce ON ce.vec_id = c.neighbor_id
                WHERE c.arank <= 20),
              ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, adc_dist, sim, rank::INT AS rank
              FROM ranked WHERE rank <= 5""")),

    // PQ with TRAINED codebooks, EXACT oracle end-to-end through the
    // training: one distributed Lloyd step per subspace (the
    // q_refine_centroids restatement on each 16-dim slice, empty cells
    // keeping their seed), then the q_ann_pq encode/ADC/re-rank tail
    // against the refined codebooks — proving trainPqCodebooks itself,
    // not just search over fixed codebooks (the q_lr_quality discipline)
    Q("q_ann_pq_trained",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val pivVecs = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        val seeds = (0 until 4).map(sub =>
          pivVecs.map(v => v.slice(sub * 16, sub * 16 + 16)))
        val trained = Similarity.trainPqCodebooks(e, "embedding", 64,
          seeds, iters = 1)
        Similarity.pqTopK(e, "vec_id", "embedding",
          e.where(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, dim = 64, codebooks = trained, rerank = 20)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS cidx, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              sub AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(s)),
              sdist AS (
                SELECT ev.vec_id, sub.s, piv.cidx,
                  list_reduce(list_transform(range(1, 17),
                    i -> (ev.v[sub.s*16+i]-piv.c[sub.s*16+i])
                       * (ev.v[sub.s*16+i]-piv.c[sub.s*16+i])),
                    (a,b) -> a+b) AS dsq
                FROM ev, sub, piv),
              scell AS (
                SELECT vec_id, s, cidx FROM (
                  SELECT vec_id, s, cidx,
                    row_number() OVER (PARTITION BY vec_id, s
                      ORDER BY dsq, cidx) AS rn
                  FROM sdist) WHERE rn = 1),
              refined AS (
                SELECT sc.s, sc.cidx, u.i AS j,
                  round((sum(round(ev.v[sc.s*16+u.i], 6)::DECIMAL(38,6))::DOUBLE)
                        / count(*), 6) AS c
                FROM scell sc JOIN ev USING (vec_id),
                     unnest(range(1, 17)) AS u(i)
                GROUP BY sc.s, sc.cidx, u.i),
              grid AS (
                SELECT sub.s, piv.cidx, u.i AS j,
                  piv.c[sub.s*16+u.i] AS seed
                FROM piv, sub, unnest(range(1, 17)) AS u(i)),
              tc0 AS (
                SELECT g.s, g.cidx, g.j, coalesce(r.c, g.seed) AS cc
                FROM grid g
                LEFT JOIN refined r
                  ON r.s = g.s AND r.cidx = g.cidx AND r.j = g.j),
              tc AS (
                SELECT s, cidx, list(cc ORDER BY j) AS c
                FROM tc0 GROUP BY s, cidx),
              cdist AS (
                SELECT ev.vec_id, tc.s, tc.cidx,
                  list_reduce(list_transform(range(1, 17),
                    i -> (ev.v[tc.s*16+i]-tc.c[i])
                       * (ev.v[tc.s*16+i]-tc.c[i])),
                    (a,b) -> a+b) AS dsq
                FROM ev, tc),
              codes AS (
                SELECT vec_id, s, cidx,
                  row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY dsq, cidx) AS rn
                FROM cdist),
              qlut AS (
                SELECT q.vec_id AS query_id, tc.s, tc.cidx,
                  list_reduce(list_transform(range(1, 17),
                    i -> (q.v[tc.s*16+i]-tc.c[i])
                       * (q.v[tc.s*16+i]-tc.c[i])),
                    (a,b) -> a+b) AS d
                FROM ev q, tc WHERE q.vec_id < 8),
              adcp AS (
                SELECT l.query_id, c.vec_id AS neighbor_id, c.s, l.d
                FROM codes c
                JOIN qlut l ON l.s = c.s AND l.cidx = c.cidx
                WHERE c.rn = 1 AND c.vec_id <> l.query_id),
              adc AS (
                SELECT query_id, neighbor_id,
                  round(max(CASE WHEN s=0 THEN d END)
                      + max(CASE WHEN s=1 THEN d END)
                      + max(CASE WHEN s=2 THEN d END)
                      + max(CASE WHEN s=3 THEN d END), 6) AS adc_dist
                FROM adcp GROUP BY query_id, neighbor_id),
              cand AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_dist ASC, neighbor_id ASC) AS arank
                FROM adc),
              scored AS (
                SELECT c.query_id, c.neighbor_id, c.adc_dist,
                  round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
                FROM cand c
                JOIN ev qe ON qe.vec_id = c.query_id
                JOIN ev ce ON ce.vec_id = c.neighbor_id
                WHERE c.arank <= 20),
              ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id ASC) AS rank
                FROM scored)
              SELECT query_id, neighbor_id, adc_dist, sim, rank::INT AS rank
              FROM ranked WHERE rank <= 5""")),

    // SemDeDup-style semantic dedup, EXACT oracle: pivot centroids (the
    // q_ann_ivf trick) make the cell assignment restatable, the
    // within-cell exact-cosine pairs reuse the q_embed_cosine_pairs
    // parity, and the min-id survivor clustering restates the
    // connected-components algorithm as the q_dedup_groups closure
    Q("q_dedup_semantic",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.semanticDedup(e, "vec_id", "embedding",
          dim = 64, centroids = centroids, threshold = 0.35)
          .select("vec_id")
      },
      Some("""WITH RECURSIVE ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              rankedc AS (
                SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                FROM dist),
              cells AS (SELECT vec_id, j AS cell FROM rankedc WHERE rn = 1),
              pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
                JOIN ev ea ON ea.vec_id = a.vec_id
                JOIN ev eb ON eb.vec_id = b.vec_id
                WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.35),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION ALL SELECT id_b, id_a FROM pairs),
              nodes AS (SELECT DISTINCT src AS id FROM edges),
              reach AS (
                SELECT id, id AS r FROM nodes
                UNION
                SELECT e.dst AS id, reach.r FROM reach JOIN edges e
                  ON e.src = reach.id),
              losers AS (
                SELECT id FROM (SELECT id, min(r) AS g FROM reach GROUP BY id)
                WHERE id <> g)
              SELECT vec_id FROM embeddings
              WHERE vec_id NOT IN (SELECT id FROM losers)""")),

    // cross-corpus semantic near-duplicates (embedding-space benchmark
    // decontamination): new side = vec_id >= 100, reference = vec_id <
    // 100, same pivot-centroid cell restatement as q_dedup_semantic
    Q("q_dedup_semantic_cross",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.crossSemanticDuplicates(
          e.where(col("vec_id") >= 100), e.where(col("vec_id") < 100),
          "vec_id", "embedding", dim = 64, centroids = centroids,
          threshold = 0.35)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              rankedc AS (
                SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                FROM dist),
              cells AS (SELECT vec_id, j AS cell FROM rankedc WHERE rn = 1)
              SELECT n.vec_id AS new_id, r.vec_id AS ref_id,
                round(list_cosine_similarity(en.v, er.v), 6) AS sim
              FROM cells n JOIN cells r ON n.cell = r.cell
              JOIN ev en ON en.vec_id = n.vec_id
              JOIN ev er ON er.vec_id = r.vec_id
              WHERE n.vec_id >= 100 AND r.vec_id < 100
                AND round(list_cosine_similarity(en.v, er.v), 6) >= 0.35""")),

    // bigram-LM perplexity scoring (the CCNet-style fluency filter):
    // train counts on the corpus, score the same corpus; every count,
    // the smoothing arithmetic, and the order-independent decimal
    // accumulation are restated verbatim in the oracle
    Q("q_lm_score",
      (s, d) => {
        val docs = T(s, d, "documents")
        // tokenize ONCE (lazy local checkpoint — the train census job
        // fills it, no dedicated materialization job, and the
        // ContextCleaner frees it with the frame): the unigram census,
        // the bigram census and the scoring pass all read the stored arrays
        // instead of re-running tokenize+explode from parquet per
        // consumer — words() is deterministic, so results are identical
        val w = docs.select(col("doc_id"),
          TextAnalysis.words(col("text")).as("ws")).localCheckpoint(false)
        val model = LmScore.trainFromWords(w, "ws", topV = 500, maxBigrams = 2000)
        LmScore.crossEntropyFromWords(w, "doc_id", "ws", model)
      },
      Some("""WITH w AS (SELECT doc_id,
                list_filter(string_split_regex(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), x -> x <> '') AS w
              FROM documents),
              nz AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
              toks AS (SELECT doc_id, unnest(w) AS term FROM nz),
              t AS (SELECT count(*) AS total FROM toks),
              unir AS (SELECT term, count(*) AS n,
                         row_number() OVER (ORDER BY count(*) DESC, term ASC) AS r
                       FROM toks GROUP BY term),
              uni AS (SELECT term, n FROM unir WHERE r <= 500),
              v AS (SELECT count(*) AS vs FROM uni),
              pairs AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
                        FROM nz, unnest(range(0, len(w)-1)) AS u(i)),
              bir AS (SELECT w1, w2, count(*) AS n,
                        row_number() OVER (ORDER BY count(*) DESC, w1 ASC, w2 ASC) AS r
                      FROM pairs p
                      WHERE EXISTS (SELECT 1 FROM uni WHERE term = p.w1)
                        AND EXISTS (SELECT 1 FROM uni WHERE term = p.w2)
                      GROUP BY w1, w2),
              bi AS (SELECT w1, w2, n FROM bir WHERE r <= 2000),
              sc AS (SELECT p.doc_id,
                       round(ln((coalesce(b.n, 0) +
                           1.0 * (coalesce(u2.n, 0) + 1.0) / (t.total + v.vs + 1.0))
                         / (coalesce(u1.n, 0) + 1.0)), 6)::DECIMAL(18,6) AS lp
                     FROM pairs p
                     LEFT JOIN uni u1 ON u1.term = p.w1
                     LEFT JOIN uni u2 ON u2.term = p.w2
                     LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
                     CROSS JOIN t CROSS JOIN v),
              agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS s
                      FROM sc GROUP BY 1)
              SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
                     round(-(a.s::DOUBLE) / a.n_bigrams, 6) AS cross_entropy
              FROM documents d LEFT JOIN agg a USING (doc_id)""")),

    // DSIR importance weights: target LM trained on the lang='en' slice,
    // raw LM on the whole corpus (the published shape: select
    // target-like docs out of a multilingual pool); both models and the
    // fused dual scoring restated verbatim — weight is the DECIMAL
    // subtraction of the two round-6 decimal log-prob sums, cast to
    // double at the GATE SURFACE (the driver comparer cannot hash
    // DECIMAL; values are round-6 exact so the cast is lossless —
    // same convention as cross_entropy / nb_score)
    Q("q_dsir_weights",
      (s, d) => {
        val docs = T(s, d, "documents")
        // tokenize ONCE (lazy local checkpoint — trainDual's census job
        // fills it) and train BOTH models in
        // one shared census (LmScore.trainDual): the r7 shape re-ran
        // tokenize+explode from parquet in every one of the five
        // consumers (two unigram censuses, two bigram censuses, the
        // scoring join) across ~8 jobs; this shape is 3 — unigram census
        // (which also fills the words cache), bigram census, scoring.
        // words() is deterministic and trainDual is value-identical to
        // the two-train formulation: results identical.
        val w = docs.select(col("doc_id"), (col("lang") === "en").as("is_t"),
          TextAnalysis.words(col("text")).as("ws")).localCheckpoint(false)
        val (target, raw) = LmScore.trainDual(w, "ws", "is_t",
          topV = 500, maxBigrams = 2000)
        Dsir.importanceWeightsFromWords(w, "doc_id", "ws", target, raw)
          .withColumn("log_weight", round(col("log_weight").cast("double"), 6))
      },
      Some(s"""WITH ${dsirModelCtes("t_", "WHERE lang = 'en'")},
              ${dsirModelCtes("r_", "")},
              ${dsirScoreCtes}
              SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
                     round((a.st - a.sr)::DOUBLE, 6) AS log_weight
              FROM documents d LEFT JOIN agg a USING (doc_id)""")),

    // DSIR Gumbel-top-k resampling: u derives from the oracled
    // fingerprint32 of (doc_id || ':42'), so the weighted
    // sample-without-replacement is exactly restatable; top-25 by
    // (key desc, doc_id asc)
    Q("q_dsir_resample",
      // log_weight cast to double at the gate surface (driver comparer
      // cannot hash DECIMAL; round-6 exact so lossless)
      (s, d) => {
        val docs = T(s, d, "documents")
        // tokenize ONCE (lazy local checkpoint) + one shared dual-model census —
        // the q_dsir_weights words-sharing/trainDual shape
        val w = docs.select(col("doc_id"), (col("lang") === "en").as("is_t"),
          TextAnalysis.words(col("text")).as("ws")).localCheckpoint(false)
        val (target, raw) = LmScore.trainDual(w, "ws", "is_t",
          topV = 500, maxBigrams = 2000)
        Dsir.resampleFromWords(w, "doc_id", "ws", target, raw, k = 25, seed = 42L)
          .withColumn("log_weight", round(col("log_weight").cast("double"), 6))
      },
      Some(s"""WITH ${dsirModelCtes("t_", "WHERE lang = 'en'")},
              ${dsirModelCtes("r_", "")},
              ${dsirScoreCtes},
              g AS (
                SELECT doc_id, n_bigrams,
                  round((st - sr)::DOUBLE, 6) AS log_weight,
                  round((st - sr)::DOUBLE - ln(-ln(
                    (${duckFp("doc_id::VARCHAR || ':42'")} + 1.0) / 2147483648.0)), 6)
                    AS gumbel_key
                FROM agg),
              r AS (SELECT *, row_number() OVER
                      (ORDER BY gumbel_key DESC, doc_id ASC) AS rank
                    FROM g)
              SELECT doc_id, n_bigrams, log_weight, gumbel_key, rank::INT AS rank
              FROM r WHERE rank <= 25""")),

    // words() is bound in its own projection: CollapseProject keeps a
    // non-cheap multiply-referenced alias un-inlined, so the tokenization
    // HOF runs once per row instead of once per language
    Q("q_lang_id",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.words(col("text")).as("_w"))
        .select(col("doc_id"), TextAnalysis.langIdFromWords(col("_w")).as("pred_lang")),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               scored AS (
                 SELECT doc_id, list_aggregate([
                   {'score': ${duckStopRatio("de")}, 'lang': 'de'},
                   {'score': ${duckStopRatio("en")}, 'lang': 'en'},
                   {'score': ${duckStopRatio("es")}, 'lang': 'es'},
                   {'score': ${duckStopRatio("fr")}, 'lang': 'fr'}], 'max') AS best
                 FROM w)
               SELECT doc_id,
                 CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS pred_lang
               FROM scored""")),

    Q("q_quality_score",
      (s, d) => T(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")),
      Some(s"""WITH t AS (
                 SELECT doc_id, text, length(text) AS n, $duckWords AS w,
                   length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1) AS alpha_ratio
                 FROM documents),
               m AS (
                 SELECT doc_id, n, alpha_ratio,
                   CASE WHEN len(w) > 0 THEN
                     length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(w)
                   ELSE 0.0 END AS mean_word_len
                 FROM t)
               SELECT doc_id, round(
                 (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                       WHEN n >= 20 AND n < 100 THEN 0.5 ELSE 0.0 END) * 0.4
                 + alpha_ratio * 0.3
                 + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12
                         THEN 1.0 ELSE 0.3 END) * 0.3, 4) AS quality
               FROM m""")),

    Q("q_token_counts",
      (s, d) => T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"),
        TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe")),
      Some(s"""SELECT doc_id,
                 len($duckWords)::BIGINT AS n_ws,
                 (len(list_filter(string_split_regex(text, '[^\\p{L}\\p{N}]+'), x -> x <> ''))
                  + length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')))::BIGINT AS n_bpe
               FROM documents""")),

    Q("q_fingerprint",
      (s, d) => T(s, d, "documents").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
                coalesce(list_reduce(
                  list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
                  (a, b) -> (a * 31 + b) % 2147483647), 0) AS fp
              FROM documents""")),

    // the same fingerprint kernel reached through the SQL surface
    // (GraftFunctions registered on the live session — the
    // spark.sql.extensions path for spark-submit SQL users)
    Q("q_fingerprint_sql",
      (s, d) => {
        graft.ext.GraftFunctions.register(s)
        T(s, d, "documents").createOrReplaceTempView("graft_docs_fp_sql")
        s.sql("SELECT doc_id, graft_fingerprint(text) AS fp FROM graft_docs_fp_sql")
      },
      Some("""SELECT doc_id,
                coalesce(list_reduce(
                  list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
                  (a, b) -> (a * 31 + b) % 2147483647), 0) AS fp
              FROM documents""")),

    // REAL header parsing over synthesized-but-genuine image bytes: PNG
    // and JPEG containers are built per row with hex/unhex (both engines'
    // byte-level primitives), parsed back by the ImageDims expression;
    // the oracle restates the expected dimensions arithmetically — if the
    // parser mis-read a single header byte the widths would diverge.
    Q("q_image_dims",
      (s, d) => {
        val docs = T(s, d, "documents")
        val w = (pmod(col("doc_id"), lit(1920)) + 1).cast("int")
        val h = (pmod(col("doc_id"), lit(1080)) + 1).cast("int")
        val png = unhex(concat(lit("89504E470D0A1A0A0000000D49484452"),
          lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000")))
        val jpg = unhex(concat(lit("FFD8FFC0000B08"),
          lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"), lit("01011100")))
        val payload = when(pmod(col("doc_id"), lit(3)) === 0, png)
          .when(pmod(col("doc_id"), lit(3)) === 1, jpg)
          .otherwise(encode(col("text"), "UTF-8"))
        docs.select(col("doc_id"),
          Multimodal.imageDims(payload).as("d"))
          .select(col("doc_id"), col("d.format").as("format"),
            col("d.width").as("width"), col("d.height").as("height"))
      },
      Some("""SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'png'
                    WHEN doc_id % 3 = 1 THEN 'jpeg' END AS format,
               (CASE WHEN doc_id % 3 = 2 THEN NULL
                     ELSE (doc_id % 1920) + 1 END)::INT AS width,
               (CASE WHEN doc_id % 3 = 2 THEN NULL
                     ELSE (doc_id % 1080) + 1 END)::INT AS height
              FROM documents""")),

    // the audio twin of q_image_dims: genuine RIFF/WAVE headers built per
    // row (little-endian fields via hex/unhex), parsed back by WavMeta,
    // oracle restated arithmetically
    Q("q_audio_meta",
      (s, d) => {
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          lpad(hex(pmod(v, lit(256))), 2, "0"),
          lpad(hex(pmod(floor(v / 256).cast("int"), lit(256))), 2, "0")) }
        def le32h(v0: Column) = { val v = v0.cast("int"); concat(
          le16h(pmod(v, lit(65536))), le16h(floor(v / 65536).cast("int"))) }
        val ch = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
        val rate = (lit(8000) + pmod(col("doc_id"), lit(8)) * 4000).cast("int")
        val bits = when(pmod(col("doc_id"), lit(2)) === 0, 16).otherwise(8)
        val dataB = ((pmod(col("doc_id"), lit(1000)) + 1) * 4).cast("int")
        val wav = unhex(concat(
          lit("52494646"), le32h(lit(36) + dataB), lit("57415645"),
          lit("666D7420"), lit("10000000"), lit("0100"), le16h(ch),
          le32h(rate), le32h((rate * ch * bits / 8).cast("int")),
          le16h((ch * bits / 8).cast("int")),
          le16h(bits), lit("64617461"), le32h(dataB)))
        val payload = when(pmod(col("doc_id"), lit(4)) === 3,
          encode(col("text"), "UTF-8")).otherwise(wav)
        T(s, d, "documents").select(col("doc_id"),
          Multimodal.wavMeta(payload).as("m"))
          .select(col("doc_id"), col("m.channels").as("channels"),
            col("m.sample_rate").as("sample_rate"), col("m.bits").as("bits"),
            col("m.data_bytes").as("data_bytes"))
      },
      Some("""SELECT doc_id,
               (CASE WHEN doc_id % 4 = 3 THEN NULL
                     ELSE (doc_id % 2) + 1 END)::INT AS channels,
               (CASE WHEN doc_id % 4 = 3 THEN NULL
                     ELSE 8000 + (doc_id % 8) * 4000 END)::INT AS sample_rate,
               (CASE WHEN doc_id % 4 = 3 THEN NULL
                     WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END)::INT AS bits,
               (CASE WHEN doc_id % 4 = 3 THEN NULL
                     ELSE ((doc_id % 1000) + 1) * 4 END)::BIGINT AS data_bytes
              FROM documents""")),

    // FLAC STREAMINFO + MP3 frame-header parsing over genuine container
    // bytes built per row (bit-packing the STREAMINFO u64 / assembling
    // the Layer-III header, with an ID3v2 prefix on every 5th doc to
    // exercise the syncsafe skip); the oracle restates the expected
    // fields arithmetically — any mis-read bit diverges
    // REAL BMP pixel decode: uncompressed 24-bit BI_RGB bitmaps with
    // formula-generated BGR pixels and proper 4-byte row padding — the
    // kernel decodes the actual bytes; the oracle recomputes the channel
    // sums from the SAME (x, row) formula without touching bytes.
    // doc_id%5==4 is a non-BMP payload (all NULLs). Orientation is
    // irrelevant to channel sums, so the formula indexes FILE rows
    // REAL image resize over PNG: same SQL-built stored-block PNGs as
    // q_image_png (top-down rows, so j = srcY — no orientation flip);
    // the shared rgbResize entry dispatches to the PNG kernel, whose
    // streaming decode stops after the last sampled row
    Q("q_image_resize_png",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        def be32h(v0: Column) = lpad(hex(v0.cast("int")), 8, "0")
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val rawLen = (h * (w * 3 + 1)).cast("int")
        val scanlines = concat_ws("", transform(sequence(lit(0), h - 1), j =>
          concat(lit("00"),
            concat_ws("", transform(sequence(lit(0), w - 1), x => concat(
              hex2(id * 3 + x + j * 11),         // R (PNG order)
              hex2(id * 2 + x * 5 + j),          // G
              hex2(id + x * 3 + j * 7)))))))     // B
        val zlib = concat(lit("780101"), le16h(rawLen),
          le16h(lit(65535) - rawLen), scanlines)
        val png = unhex(concat(
          lit("89504E470D0A1A0A"),
          lit("0000000D"), lit("49484452"), be32h(w), be32h(h),
          lit("0802000000"), lit("00000000"),
          be32h(rawLen + 7), lit("49444154"), zlib, lit("00000000"),
          lit("00000000"), lit("49454E44"), lit("00000000")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(png)
        T(s, d, "documents").select(id,
          hex(Multimodal.rgbResize(payload, 3, 2)).as("rgb_hex"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id,
                  ty.y, tx.x,
                  (tx.x * w) // 3 AS sx,
                  (ty.y * h) // 2 AS j
                FROM g, unnest(range(0, 2)) AS ty(y),
                        unnest(range(0, 3)) AS tx(x)),
              px AS (
                SELECT doc_id, y, x,
                  printf('%02X%02X%02X',
                    (doc_id*3 + sx + j*11) % 256,
                    (doc_id*2 + sx*5 + j) % 256,
                    (doc_id + sx*3 + j*7) % 256) AS hx
                FROM pix)
              SELECT g.doc_id,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE (SELECT string_agg(hx, '' ORDER BY y, x)
                      FROM px WHERE px.doc_id = g.doc_id) END AS rgb_hex
              FROM g""")),

    // REAL image resize: same SQL-built BMPs as q_image_rgb, nearest-
    // neighbor to 3x2; the oracle recomputes every output pixel from the
    // SAME source-pixel formulas + the floor sampling arithmetic without
    // touching bytes (disk rows are bottom-up: image row y = disk row
    // h-1-y — an orientation bug flips the hex and fails the hash)
    Q("q_image_resize",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        def le32h(v0: Column) = { val v = v0.cast("int"); concat(
          le16h(pmod(v, lit(65536))), le16h(floor(v / 65536).cast("int"))) }
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val pad = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4)).cast("int")
        val stride = (w * 3 + pad).cast("int")
        val rows = concat_ws("", transform(sequence(lit(0), h - 1), j =>
          concat(
            concat_ws("", transform(sequence(lit(0), w - 1), x => concat(
              hex2(id + x * 3 + j * 7),          // B on disk
              hex2(id * 2 + x * 5 + j),          // G
              hex2(id * 3 + x + j * 11)))),      // R
            rpad(lit(""), (pad * 2).cast("int"), lit("0")))))
        val bmp = unhex(concat(
          lit("424D"), le32h(lit(54) + stride * h), le32h(lit(0)),
          le32h(lit(54)), le32h(lit(40)), le32h(w), le32h(h),
          lit("0100"), lit("1800"), le32h(lit(0)), le32h(stride * h),
          le32h(lit(2835)), le32h(lit(2835)), le32h(lit(0)), le32h(lit(0)),
          rows))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(bmp)
        T(s, d, "documents").select(id,
          hex(Multimodal.rgbResize(payload, 3, 2)).as("rgb_hex"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id,
                  ty.y, tx.x,
                  (tx.x * w) // 3 AS sx,
                  h - 1 - ((ty.y * h) // 2) AS j
                FROM g, unnest(range(0, 2)) AS ty(y),
                        unnest(range(0, 3)) AS tx(x)),
              px AS (
                SELECT doc_id, y, x,
                  printf('%02X%02X%02X',
                    (doc_id*3 + sx + j*11) % 256,
                    (doc_id*2 + sx*5 + j) % 256,
                    (doc_id + sx*3 + j*7) % 256) AS hx
                FROM pix)
              SELECT g.doc_id,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE (SELECT string_agg(hx, '' ORDER BY y, x)
                      FROM px WHERE px.doc_id = g.doc_id) END AS rgb_hex
              FROM g""")),

    Q("q_image_rgb",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        def le32h(v0: Column) = { val v = v0.cast("int"); concat(
          le16h(pmod(v, lit(65536))), le16h(floor(v / 65536).cast("int"))) }
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val pad = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4)).cast("int")
        val stride = (w * 3 + pad).cast("int")
        val rows = concat_ws("", transform(sequence(lit(0), h - 1), j =>
          concat(
            concat_ws("", transform(sequence(lit(0), w - 1), x => concat(
              hex2(id + x * 3 + j * 7),          // B on disk
              hex2(id * 2 + x * 5 + j),          // G
              hex2(id * 3 + x + j * 11)))),      // R
            rpad(lit(""), (pad * 2).cast("int"), lit("0")))))
        val bmp = unhex(concat(
          lit("424D"), le32h(lit(54) + stride * h), le32h(lit(0)),
          le32h(lit(54)), le32h(lit(40)), le32h(w), le32h(h),
          lit("0100"), lit("1800"), le32h(lit(0)), le32h(stride * h),
          le32h(lit(2835)), le32h(lit(2835)), le32h(lit(0)), le32h(lit(0)),
          rows))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(bmp)
        val st = Multimodal.rgbStats(payload)
        T(s, d, "documents").select(id, st.as("st"))
          .select(id,
            col("st.width").as("width"), col("st.height").as("height"),
            col("st.n_px").as("n_px"), col("st.sum_r").as("sum_r"),
            col("st.sum_g").as("sum_g"), col("st.sum_b").as("sum_b"),
            Multimodal.rgbMeanBrightness(col("st")).as("brightness"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id, x, j FROM g,
                  unnest(range(0, h)) AS tj(j),
                  unnest(range(0, w)) AS tx(x)),
              st AS (
                SELECT doc_id,
                  count(*) AS n,
                  sum((doc_id*3 + x + j*11) % 256) AS sr,
                  sum((doc_id*2 + x*5 + j) % 256) AS sg,
                  sum((doc_id + x*3 + j*7) % 256) AS sb
                FROM pix GROUP BY doc_id)
              SELECT g.doc_id,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE w END)::INT
                  AS width,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE h END)::INT
                  AS height,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE n END)::BIGINT
                  AS n_px,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sr END)::BIGINT
                  AS sum_r,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sg END)::BIGINT
                  AS sum_g,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sb END)::BIGINT
                  AS sum_b,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE round((sr+sg+sb)::DOUBLE / (3*n), 6) END AS brightness
              FROM g JOIN st USING (doc_id)""")),

    // REAL PNG pixel decode: payloads are genuine PNGs — zlib stream
    // (stored-block deflate, expressible in SQL byte-building) + filter-0
    // scanlines — decoded by the PngStats kernel's Inflater + unfilter
    // path; the oracle recomputes the stats from the SAME pixel formulas
    // without touching bytes, so a decode bug cannot cancel out. Pixel
    // values match q_image_rgb's formulas exactly (PNG stores RGB order
    // vs BMP's BGR — a channel-order bug flips sum_r/sum_b and fails the
    // hash). doc_id%5==4 is a non-PNG payload (all NULLs). Compressed
    // (non-stored) deflate and filters 1-4 are exercised by PngStatsSpec
    // fixtures in OpsSpec (Deflater isn't expressible in the SQL oracle).
    Q("q_image_png",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        def be32h(v0: Column) = lpad(hex(v0.cast("int")), 8, "0")
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val rawLen = (h * (w * 3 + 1)).cast("int")
        val scanlines = concat_ws("", transform(sequence(lit(0), h - 1), j =>
          concat(lit("00"), // filter type None
            concat_ws("", transform(sequence(lit(0), w - 1), x => concat(
              hex2(id * 3 + x + j * 11),         // R on disk (PNG order)
              hex2(id * 2 + x * 5 + j),          // G
              hex2(id + x * 3 + j * 7)))))))     // B
        // zlib: header 0x7801, one final stored block (BFINAL=1 BTYPE=00),
        // LEN/NLEN little-endian; adler trailer omitted (the kernel reads
        // exactly h scanlines and never needs the checksum)
        val zlib = concat(lit("780101"), le16h(rawLen),
          le16h(lit(65535) - rawLen), scanlines)
        val png = unhex(concat(
          lit("89504E470D0A1A0A"),
          lit("0000000D"), lit("49484452"), be32h(w), be32h(h),
          lit("0802000000"), lit("00000000"), // depth 8, RGB; CRC unchecked
          be32h(rawLen + 7), lit("49444154"), zlib, lit("00000000"),
          lit("00000000"), lit("49454E44"), lit("00000000")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(png)
        val st = Multimodal.pngStats(payload)
        T(s, d, "documents").select(id, st.as("st"))
          .select(id,
            col("st.width").as("width"), col("st.height").as("height"),
            col("st.n_px").as("n_px"), col("st.sum_r").as("sum_r"),
            col("st.sum_g").as("sum_g"), col("st.sum_b").as("sum_b"),
            Multimodal.rgbMeanBrightness(col("st")).as("brightness"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id, x, j FROM g,
                  unnest(range(0, h)) AS tj(j),
                  unnest(range(0, w)) AS tx(x)),
              st AS (
                SELECT doc_id,
                  count(*) AS n,
                  sum((doc_id*3 + x + j*11) % 256) AS sr,
                  sum((doc_id*2 + x*5 + j) % 256) AS sg,
                  sum((doc_id + x*3 + j*7) % 256) AS sb
                FROM pix GROUP BY doc_id)
              SELECT g.doc_id,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE w END)::INT
                  AS width,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE h END)::INT
                  AS height,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE n END)::BIGINT
                  AS n_px,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sr END)::BIGINT
                  AS sum_r,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sg END)::BIGINT
                  AS sum_g,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sb END)::BIGINT
                  AS sum_b,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE round((sr+sg+sb)::DOUBLE / (3*n), 6) END AS brightness
              FROM g JOIN st USING (doc_id)""")),

    // REAL GIF pixel decode: payloads are genuine GIF89a files — global
    // 128-entry color table + LZW data in the byte-aligned construction
    // (min code size 7 → 8-bit codes; a clear code first and ≤126
    // literals after it keep the code width fixed, which is valid LZW
    // that SQL byte-building can express); the kernel runs its FULL
    // variable-width decoder on them and maps indices through the
    // palette; the oracle recomputes the stats from the SAME
    // index+palette formulas without touching bytes, so a decode or
    // palette-mapping bug cannot cancel out. doc_id%7==3 sets the
    // interlace flag (row order permutes, channel sums don't).
    // doc_id%5==4 is a non-GIF payload (all NULLs). The general
    // code-width-growth / KwKwK / deferred-clear paths are exercised by
    // OpsSpec's real LZW encoder round-trip (not expressible in SQL).
    // REAL GIF frame-sample: TWO-frame animations built in SQL (the
    // q_image_gif byte-aligned LZW construction, twice, different pixel
    // formulas per frame) — frame count + the SECOND frame's decoded
    // stats; the oracle recomputes frame 1's sums from its own formula,
    // so sampling the wrong frame (or not skipping frame 0's data
    // correctly) fails the hash. doc_id%5==4 → non-GIF (NULLs).
    Q("q_gif_frames",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val pal = concat_ws("", transform(sequence(lit(0), lit(127)), i =>
          concat(hex2(id + i * 2), hex2(id * 2 + i * 5),
            hex2(id * 3 + i * 7))))
        def frame(ci: (Column, Column) => Column) = concat(
          lit("2C"), lit("00000000"), le16h(w), le16h(h), lit("00"),
          lit("07"), hex2(w * h + 2), lit("80"),
          concat_ws("", transform(sequence(lit(0), h - 1), j =>
            concat_ws("", transform(sequence(lit(0), w - 1), x =>
              hex2(pmod(ci(x, j), lit(128))))))),
          lit("81"), lit("00"))
        val gif = unhex(concat(
          lit("474946383961"), le16h(w), le16h(h), lit("F60000"), pal,
          frame((x, j) => id + x * 3 + j * 5),
          frame((x, j) => id * 2 + x * 7 + j * 11),
          lit("3B")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(gif)
        val st = Multimodal.gifFrameStats(payload, 1)
        Tdocs(s, d)
          .select(id, Multimodal.gifFrameCount(payload).as("n_frames"),
            st.as("st"))
          .select(id, col("n_frames"),
            col("st.n_px").as("n_px"), col("st.sum_r").as("sum_r"),
            col("st.sum_g").as("sum_g"), col("st.sum_b").as("sum_b"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id,
                  (doc_id*2 + x*7 + j*11) % 128 AS ci
                FROM g, unnest(range(0, h)) AS tj(j),
                  unnest(range(0, w)) AS tx(x)),
              st AS (
                SELECT doc_id,
                  count(*) AS n,
                  sum((doc_id + ci*2) % 256) AS sr,
                  sum((doc_id*2 + ci*5) % 256) AS sg,
                  sum((doc_id*3 + ci*7) % 256) AS sb
                FROM pix GROUP BY doc_id)
              SELECT g.doc_id,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE 2 END)::INT
                  AS n_frames,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE st.n END)::BIGINT
                  AS n_px,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE st.sr END)::BIGINT
                  AS sum_r,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE st.sg END)::BIGINT
                  AS sum_g,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE st.sb END)::BIGINT
                  AS sum_b
              FROM g JOIN st USING (doc_id)""")),

    Q("q_image_gif",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          hex2(v), hex2(floor(v / 256).cast("int"))) }
        val id = col("doc_id")
        val w = (pmod(id, lit(4)) + 1).cast("int")
        val h = (pmod(id, lit(3)) + 1).cast("int")
        val pal = concat_ws("", transform(sequence(lit(0), lit(127)), i =>
          concat(hex2(id + i * 2), hex2(id * 2 + i * 5),
            hex2(id * 3 + i * 7))))
        val pixels = concat_ws("", transform(sequence(lit(0), h - 1), j =>
          concat_ws("", transform(sequence(lit(0), w - 1), x =>
            hex2(pmod(id + x * 3 + j * 5, lit(128)))))))
        val packed2 = when(pmod(id, lit(7)) === 3, lit("40")).otherwise(lit("00"))
        val gif = unhex(concat(
          lit("474946383961"), le16h(w), le16h(h), lit("F60000"), pal,
          lit("2C"), lit("00000000"), le16h(w), le16h(h), packed2,
          lit("07"), hex2(w * h + 2), lit("80"), pixels, lit("81"),
          lit("00"), lit("3B")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(gif)
        val st = Multimodal.gifStats(payload)
        Tdocs(s, d).select(id, st.as("st"))
          .select(id,
            col("st.width").as("width"), col("st.height").as("height"),
            col("st.n_px").as("n_px"), col("st.sum_r").as("sum_r"),
            col("st.sum_g").as("sum_g"), col("st.sum_b").as("sum_b"),
            Multimodal.rgbMeanBrightness(col("st")).as("brightness"))
      },
      Some("""WITH g AS (
                SELECT doc_id, (doc_id % 4) + 1 AS w, (doc_id % 3) + 1 AS h
                FROM documents),
              pix AS (
                SELECT doc_id,
                  (doc_id + x*3 + j*5) % 128 AS ci
                FROM g, unnest(range(0, h)) AS tj(j),
                  unnest(range(0, w)) AS tx(x)),
              st AS (
                SELECT doc_id,
                  count(*) AS n,
                  sum((doc_id + ci*2) % 256) AS sr,
                  sum((doc_id*2 + ci*5) % 256) AS sg,
                  sum((doc_id*3 + ci*7) % 256) AS sb
                FROM pix GROUP BY doc_id)
              SELECT g.doc_id,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE w END)::INT
                  AS width,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE h END)::INT
                  AS height,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE n END)::BIGINT
                  AS n_px,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sr END)::BIGINT
                  AS sum_r,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sg END)::BIGINT
                  AS sum_g,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE sb END)::BIGINT
                  AS sum_b,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE round((sr+sg+sb)::DOUBLE / (3*n), 6) END AS brightness
              FROM g JOIN st USING (doc_id)""")),

    // REAL baseline JPEG pixel decode: payloads are genuine JPEGs in the
    // DC-only byte-aligned construction — single-code Huffman tables
    // (one 8-bit DC code, one 8-bit AC EOB) make every MCU exactly three
    // whole bytes (code, eight diff bits, EOB), which SQL byte-building
    // can express; with q=1 and no AC the decoded block is the closed
    // form floor(cumDC/8 + 0.5) + 128, so the oracle recomputes the
    // stats from the running-sum formula without touching bytes. The
    // kernel still runs its FULL entropy decoder + IDCT on these bytes —
    // a Huffman, EXTEND, dequant, IDCT, or level-shift bug all diverge.
    // The general path (AC content, 4:2:0 subsampling, cropping,
    // restart markers, byte-stuffing) is exercised by OpsSpec's real
    // in-test JPEG encoder round-trip (not expressible in SQL).
    // doc_id%5==4 is a non-JPEG payload (all NULLs).
    Q("q_image_jpeg",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def be16h(v0: Column) = lpad(hex(v0.cast("int")), 4, "0")
        val id = col("doc_id")
        val w = (pmod(id, lit(2)) + 1) * 8
        val h = (pmod(id, lit(3)) + 1) * 8
        val nm = ((pmod(id, lit(2)) + 1) * (pmod(id, lit(3)) + 1)).cast("int")
        val mcus = concat_ws("", transform(sequence(lit(0), nm - 1), i =>
          concat(lit("00"), hex2(lit(128) + pmod(id + i * 7, lit(42))),
            lit("00"))))
        val jpg = unhex(concat(
          lit("FFD8"),
          lit("FFDB004300" + "01" * 64),
          lit("FFC0000B08"), be16h(h), be16h(w), lit("01011100"),
          lit("FFC40014000000000000000001000000000000000008"),
          lit("FFC40014100000000000000001000000000000000000"),
          lit("FFDA0008010100003F00"),
          mcus, lit("FFD9")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(jpg)
        val st = Multimodal.jpegStats(payload)
        T(s, d, "documents").select(id, st.as("st"))
          .select(id,
            col("st.width").as("width"), col("st.height").as("height"),
            col("st.n_px").as("n_px"), col("st.sum_r").as("sum_r"),
            col("st.sum_g").as("sum_g"), col("st.sum_b").as("sum_b"),
            Multimodal.rgbMeanBrightness(col("st")).as("brightness"))
      },
      Some("""WITH g AS (
                SELECT doc_id, ((doc_id % 2) + 1) * 8 AS w,
                  ((doc_id % 3) + 1) * 8 AS h,
                  ((doc_id % 2) + 1) * ((doc_id % 3) + 1) AS nm
                FROM documents),
              m AS (
                SELECT doc_id, i, 128 + ((doc_id + i*7) % 42) AS diff
                FROM g, unnest(range(0, nm)) AS t(i)),
              c AS (
                SELECT doc_id,
                  sum(diff) OVER (PARTITION BY doc_id ORDER BY i) AS cum
                FROM m),
              st AS (
                SELECT doc_id,
                  sum(64 * (floor(cum / 8.0 + 0.5)::BIGINT + 128)) AS spx
                FROM c GROUP BY doc_id)
              SELECT g.doc_id,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE w END)::INT
                  AS width,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE h END)::INT
                  AS height,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE w * h END)::BIGINT
                  AS n_px,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE spx END)::BIGINT
                  AS sum_r,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE spx END)::BIGINT
                  AS sum_g,
                (CASE WHEN g.doc_id % 5 = 4 THEN NULL ELSE spx END)::BIGINT
                  AS sum_b,
                CASE WHEN g.doc_id % 5 = 4 THEN NULL
                ELSE round(spx::DOUBLE / (w * h), 6) END AS brightness
              FROM g JOIN st USING (doc_id)""")),

    // REAL FLAC audio decode: payloads are genuine FLAC files — the
    // byte-aligned construction (mono 16-bit VERBATIM subframe, bsCode
    // 6, every field on a byte boundary) that SQL hex-building can
    // express; the kernel runs its full frame decoder on them; the
    // oracle recomputes the stats from the SAME sample formula as
    // q_audio_pcm without touching bytes (FLAC is lossless, so expected
    // stats ARE the input-sample stats). The rice/fixed/LPC/mid-side
    // paths are exercised by OpsSpec's real in-test FLAC encoder (not
    // expressible in SQL). doc_id%5==4 is a non-FLAC payload (NULLs).
    Q("q_audio_flac",
      (s, d) => {
        def hex2(v: Column) = lpad(hex(pmod(v.cast("int"), lit(256))), 2, "0")
        def be16h(v0: Column) = lpad(hex(v0.cast("int")), 4, "0")
        val id = col("doc_id")
        val n = (pmod(id, lit(50)) + 1).cast("int")
        val frames = concat_ws("", transform(sequence(lit(0), n - 1),
          i => be16h(pmod(id * 7 + i * 13, lit(65536)))))
        val packed = lpad(hex((lit((8000L << 44) | (15L << 36)) + n)
          .cast("long")), 16, "0")
        val flac = unhex(concat(
          lit("664C6143"), lit("80000022"),
          be16h(n), be16h(n), lit("000000000000"),
          packed, lit("00" * 16),
          lit("FFF8600800"), hex2(n - 1), lit("00"),
          lit("02"), frames, lit("0000")))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(flac)
        val st = Multimodal.flacPcm(payload)
        T(s, d, "documents").select(id, st.as("st"))
          .select(id,
            col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
            col("st.sum_abs").as("sum_abs"), col("st.sum_sq").as("sum_sq"),
            Multimodal.pcmRms(col("st")).as("rms"))
      },
      Some("""WITH p AS (
                SELECT doc_id, (doc_id % 50) + 1 AS n,
                  list_transform(range(0, (doc_id % 50) + 1),
                    i -> (((doc_id*7 + i*13) % 65536) + 32768) % 65536
                         - 32768) AS ss
                FROM documents)
              SELECT doc_id,
                (CASE WHEN doc_id % 5 = 4 THEN NULL ELSE n END)::BIGINT
                  AS n_samples,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_max(list_transform(ss, s -> abs(s))) END)::INT
                  AS peak,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_reduce(list_transform(ss, s -> abs(s)),
                        (a,b) -> a+b) END)::BIGINT AS sum_abs,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_reduce(list_transform(ss, s -> s*s),
                        (a,b) -> a+b) END)::BIGINT AS sum_sq,
                CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE round(sqrt(list_reduce(list_transform(ss, s -> s*s),
                       (a,b) -> a+b)::DOUBLE / n), 6) END AS rms
              FROM p""")),

    // REAL PCM decode: 16-bit mono WAVs with formula-generated frames —
    // the kernel decodes the actual bytes; the oracle recomputes the
    // integer stats from the SAME sample formula (never touching bytes),
    // so a decode bug cannot cancel out. doc_id%7==0 declares a data
    // size 10 bytes past the payload (kernel decodes what's present —
    // stats unchanged); doc_id%5==4 is a non-WAV payload (all NULLs)
    Q("q_audio_pcm",
      (s, d) => {
        def le16h(v0: Column) = { val v = v0.cast("int"); concat(
          lpad(hex(pmod(v, lit(256))), 2, "0"),
          lpad(hex(pmod(floor(v / 256).cast("int"), lit(256))), 2, "0")) }
        def le32h(v0: Column) = { val v = v0.cast("int"); concat(
          le16h(pmod(v, lit(65536))), le16h(floor(v / 65536).cast("int"))) }
        val id = col("doc_id")
        val n = (pmod(id, lit(50)) + 1).cast("int")
        val dataB = (n * 2).cast("int")
        val declared = when(pmod(id, lit(7)) === 0, dataB + 10).otherwise(dataB)
        val frames = concat_ws("", transform(sequence(lit(0), n - 1),
          i => le16h(pmod(id * 7 + i * 13, lit(65536)))))
        val wav = unhex(concat(
          lit("52494646"), le32h(lit(36) + declared), lit("57415645"),
          lit("666D7420"), lit("10000000"), lit("0100"), lit("0100"),
          le32h(lit(8000)), le32h(lit(16000)), lit("0200"), lit("1000"),
          lit("64617461"), le32h(declared), frames))
        val payload = when(pmod(id, lit(5)) === 4,
          encode(coalesce(col("text"), lit("x")), "UTF-8")).otherwise(wav)
        val st = Multimodal.pcmStats(payload)
        T(s, d, "documents").select(id, st.as("st"))
          .select(id,
            col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
            col("st.sum_abs").as("sum_abs"), col("st.sum_sq").as("sum_sq"),
            Multimodal.pcmRms(col("st")).as("rms"))
      },
      Some("""WITH p AS (
                SELECT doc_id, (doc_id % 50) + 1 AS n,
                  list_transform(range(0, (doc_id % 50) + 1),
                    i -> (((doc_id*7 + i*13) % 65536) + 32768) % 65536
                         - 32768) AS ss
                FROM documents)
              SELECT doc_id,
                (CASE WHEN doc_id % 5 = 4 THEN NULL ELSE n END)::BIGINT
                  AS n_samples,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_max(list_transform(ss, s -> abs(s))) END)::INT
                  AS peak,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_reduce(list_transform(ss, s -> abs(s)),
                        (a,b) -> a+b) END)::BIGINT AS sum_abs,
                (CASE WHEN doc_id % 5 = 4 THEN NULL
                 ELSE list_reduce(list_transform(ss, s -> s*s),
                        (a,b) -> a+b) END)::BIGINT AS sum_sq,
                CASE WHEN doc_id % 5 = 4 THEN NULL
                ELSE round(sqrt(list_reduce(list_transform(ss, s -> s*s),
                       (a,b) -> a+b)::DOUBLE / n), 6) END AS rms
              FROM p""")),

    Q("q_audio_containers",
      (s, d) => {
        val id = col("doc_id")
        // FLAC: fLaC + last-block STREAMINFO (type 0, len 34)
        val fRate = (lit(8000) + pmod(id, lit(12)) * 4000).cast("long")
        val fCh = (pmod(id, lit(8)) + 1).cast("long")
        val fBits = when(pmod(id, lit(2)) === 0, 16L).otherwise(24L)
        val fTotal = (pmod(id, lit(100000)) * 1000).cast("long")
        val packed = fRate * lit(1L << 44) + (fCh - 1) * lit(1L << 41) +
          (fBits - 1) * lit(1L << 36) + fTotal
        val flacBytes = unhex(concat(lit("664C6143"), lit("80000022"),
          lit("0" * 20), lpad(hex(packed), 16, "0"), lit("0" * 32)))
        val flac = when(pmod(id, lit(9)) === 0, encode(col("text"), "UTF-8"))
          .otherwise(flacBytes)
        // MP3: FF + (sync|version|layerIII) + (bitrateIdx|rateIdx) + mode
        val vsel = pmod(id, lit(3))
        val b1 = when(vsel === 0, lit("FB")).when(vsel === 1, lit("F3"))
          .otherwise(lit("E3"))
        val bIdx = (pmod(id, lit(14)) + 1).cast("int")
        val rIdx = pmod(floor(id / 3).cast("long"), lit(3)).cast("int")
        val byte2 = lpad(hex(shiftleft(bIdx, 4).bitwiseOR(shiftleft(rIdx, 2))), 2, "0")
        val b3 = when(pmod(id, lit(2)) === 0, lit("C0")).otherwise(lit("00"))
        val core = concat(lit("FF"), b1, byte2, b3)
        val id3 = concat(lit("494433040000"), lit("00000011"), lit("00" * 17))
        val mp3Hex = when(pmod(id, lit(5)) === 0, concat(id3, core)).otherwise(core)
        val mp3 = when(pmod(id, lit(7)) === 0, encode(col("text"), "UTF-8"))
          .otherwise(unhex(mp3Hex))
        T(s, d, "documents").select(id,
          Multimodal.flacMeta(flac).as("f"), Multimodal.mp3Meta(mp3).as("m"))
          .select(id,
            col("f.channels").as("f_channels"),
            col("f.sample_rate").as("f_rate"),
            col("f.bits").as("f_bits"),
            col("f.total_samples").as("f_total"),
            col("m.mpeg_version").as("m_version"),
            col("m.bitrate_kbps").as("m_kbps"),
            col("m.sample_rate").as("m_rate"),
            col("m.channels").as("m_channels"))
      },
      Some("""SELECT doc_id,
               (CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (doc_id % 8) + 1 END)::INT AS f_channels,
               (CASE WHEN doc_id % 9 = 0 THEN NULL ELSE 8000 + (doc_id % 12) * 4000 END)::INT AS f_rate,
               (CASE WHEN doc_id % 9 = 0 THEN NULL WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END)::INT AS f_bits,
               (CASE WHEN doc_id % 9 = 0 THEN NULL ELSE (doc_id % 100000) * 1000 END)::BIGINT AS f_total,
               (CASE WHEN doc_id % 7 = 0 THEN NULL
                     WHEN doc_id % 3 = 0 THEN 1
                     WHEN doc_id % 3 = 1 THEN 2 ELSE 25 END)::INT AS m_version,
               (CASE WHEN doc_id % 7 = 0 THEN NULL
                     WHEN doc_id % 3 = 0
                       THEN ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[(doc_id % 14) + 2]
                     ELSE ([0,8,16,24,32,40,48,56,64,80,96,112,128,144,160])[(doc_id % 14) + 2]
                END)::INT AS m_kbps,
               (CASE WHEN doc_id % 7 = 0 THEN NULL
                     ELSE ([44100,48000,32000])[((doc_id // 3) % 3) + 1]
                          // (CASE WHEN doc_id % 3 = 0 THEN 1
                                  WHEN doc_id % 3 = 1 THEN 2 ELSE 4 END)
                END)::INT AS m_rate,
               (CASE WHEN doc_id % 7 = 0 THEN NULL
                     WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END)::INT AS m_channels
              FROM documents""")),

    Q("q_multimodal_media",
      (s, d) => {
        val media = Multimodal.asMedia(T(s, d, "documents").where(col("doc_id") < 50),
          "doc_id", "text", "video")
        Multimodal.sampleFrames(media, frames = 4)
          .select(col("media_id"), col("frame_idx"),
            octet_length(col("frame_bytes")).as("frame_len"))
      },
      Some("""WITH m AS (
                SELECT doc_id AS media_id, octet_length(encode(text)) AS n,
                       text FROM documents WHERE doc_id < 50),
              f AS (SELECT media_id, n, greatest(n // 4, 1) AS flen, text FROM m)
              SELECT media_id, i AS frame_idx,
                octet_length(encode(substr(text, (i*flen + 1)::INT, flen::INT))) AS frame_len
              FROM f, unnest(range(0, 4)) AS t(i)""")),

    // Gopher/C4-style repetition signals over word bigrams via the
    // NgramStats kernel (one JVM HashMap pass); the oracle rebuilds the
    // NON-distinct gram list and re-derives total/distinct/top relationally
    Q("q_repetition",
      (s, d) => TextAnalysis.repetitionSignals(T(s, d, "documents"), "text", 2)
        .select("doc_id", "dup_ngram_frac", "top_ngram_frac"),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               g AS (SELECT doc_id,
                       CASE WHEN len(w) >= 2
                            THEN list_transform(range(0, len(w)-1),
                                   i -> w[i+1] || ' ' || w[i+2])
                            ELSE [] END AS g
                     FROM w),
               ex AS (SELECT doc_id, unnest(g) AS gram FROM g),
               cnt AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2),
               st AS (SELECT doc_id, sum(c) AS total, count(*) AS dis, max(c) AS top
                      FROM cnt GROUP BY 1)
               SELECT w.doc_id,
                 coalesce(round(1.0 - st.dis / st.total::DOUBLE, 6), 0.0) AS dup_ngram_frac,
                 coalesce(round(st.top / st.total::DOUBLE, 6), 0.0) AS top_ngram_frac
               FROM w LEFT JOIN st ON w.doc_id = st.doc_id""")),

    // INTRA-document line dedup (the within-page half of the C4 rule —
    // q_dedup_lines gates the corpus-wide half): repeated lines are
    // injected deterministically in BOTH engines, kept-line selection is
    // first-occurrence-index arithmetic restated with list_position
    Q("q_dedup_lines_doc",
      (s, d) => {
        val injected = concat(col("text"), lit("\nREPEAT ME\nREPEAT ME\n"),
          substring(col("text"), 1, 30),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("\n"), substring(col("text"), 1, 30))).otherwise(lit("")))
        T(s, d, "documents")
          .select(col("doc_id"),
            Dedup.dedupLinesWithinDoc(injected).as("text"))
      },
      Some("""WITH inj AS (
                SELECT doc_id,
                  text || chr(10) || 'REPEAT ME' || chr(10) || 'REPEAT ME' ||
                  chr(10) || substr(text, 1, 30) ||
                  CASE WHEN doc_id % 2 = 0
                       THEN chr(10) || substr(text, 1, 30) ELSE '' END AS t
                FROM documents),
              ls AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM inj)
              SELECT doc_id,
                array_to_string(
                  list_filter(ls, (l, i) -> trim(l) = '' OR list_position(ls, l) = i),
                  chr(10)) AS text
              FROM ls""")),

    // per-source corpus composition report: exact integer rollups + one
    // IEEE division, dominant language via a deterministic tie-break
    Q("q_source_report",
      (s, d) => Report.sourceReport(T(s, d, "documents"), "source", "text", "lang"),
      Some("""WITH pl AS (
                SELECT source, lang, count(*) AS docs,
                       sum(coalesce(length(text), 0))::BIGINT AS chars
                FROM documents GROUP BY source, lang),
              rk AS (SELECT *, row_number() OVER
                       (PARTITION BY source
                        ORDER BY docs DESC, lang ASC NULLS LAST) AS r
                     FROM pl)
              SELECT source,
                sum(docs)::BIGINT AS n_docs,
                sum(chars)::BIGINT AS total_chars,
                round(sum(chars)::DOUBLE / sum(docs), 6) AS avg_chars,
                count(*)::BIGINT AS n_langs,
                max(CASE WHEN r = 1 THEN lang END) AS top_lang,
                max(CASE WHEN r = 1 THEN docs END)::BIGINT AS top_lang_docs
              FROM rk GROUP BY source""")),

    // corpus-trained character-bigram LM scoring (the CCNet-style
    // perplexity filter, dependency-free form). The oracle restates the
    // WHOLE pipeline: top-64 alphabet census (ties → smaller code
    // point), UNK collapse, add-one-smoothed conditionals, and the
    // POSITION-ORDERED log2 fold (the q_lexical list_reduce technique);
    // cap 64 so the UNK path is exercised on the gate corpus
    Q("q_char_lm",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = CharLm.train(docs, "text", maxAlphabet = 64)
        CharLm.score(docs, "text", model)
          .select("doc_id", "n_bigrams", "lm_bits_per_char")
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                          FROM documents WHERE text IS NOT NULL),
              cc AS (SELECT unicode(c) AS cp, count(*) AS k FROM ch GROUP BY 1),
              alpha AS (SELECT cp FROM cc ORDER BY k DESC, cp ASC LIMIT 64),
              cs AS (SELECT doc_id, string_split(text, '') AS cs
                     FROM documents WHERE text IS NOT NULL),
              bg AS (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(cs) - 1),
                         i -> {'i': i, 'c1': unicode(cs[i]),
                               'c2': unicode(cs[i + 1])})) AS b
                     FROM cs WHERE len(cs) >= 2),
              mb AS (SELECT doc_id, b.i AS i,
                       (CASE WHEN a1.cp IS NULL THEN 1114112 ELSE b.c1 END)::BIGINT
                         * 2097152 +
                       (CASE WHEN a2.cp IS NULL THEN 1114112 ELSE b.c2 END) AS key
                     FROM bg LEFT JOIN alpha a1 ON b.c1 = a1.cp
                             LEFT JOIN alpha a2 ON b.c2 = a2.cp),
              bc AS (SELECT key, count(*) AS cnt FROM mb GROUP BY key),
              ctx AS (SELECT key // 2097152 AS c1, sum(cnt) AS cn
                      FROM bc GROUP BY 1),
              v AS (SELECT count(*) + 1 AS v FROM alpha),
              terms AS (SELECT mb.doc_id, mb.i,
                          log2((bc.cnt + 1)::DOUBLE / (ctx.cn + v.v)::DOUBLE) AS t
                        FROM mb JOIN bc ON mb.key = bc.key
                                JOIN ctx ON mb.key // 2097152 = ctx.c1
                                CROSS JOIN v),
              sc AS (SELECT doc_id, count(*) AS n,
                       list_reduce(list(t ORDER BY i), (a, b) -> a + b) AS s
                     FROM terms GROUP BY doc_id)
              SELECT d.doc_id,
                coalesce(sc.n, 0)::BIGINT AS n_bigrams,
                coalesce(round(-(sc.s) / sc.n, 6), 0.0) AS lm_bits_per_char
              FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""")),

    // Unicode script signals: per-script code-point fractions and the
    // dominant script. The oracle restates the kernel's counts with
    // RE2 \p{Script} classes (one regexp strip per script) and the
    // alphabetical-first-match dominance CASE; fractions are the usual
    // portable rounding of exact-integer divisions
    Q("q_script_signals",
      (s, d) => TextAnalysis.scriptSignals(T(s, d, "documents"), "text")
        .select("doc_id", "n_cp", "n_letters", "letter_frac",
          "latin_frac", "han_frac", "cyrillic_frac",
          "dominant_script", "dominant_frac"),
      Some {
        val names = graft.compile.ScriptHistogram.scripts.map(_._1)
        val cnts = graft.compile.ScriptHistogram.scripts.map { case (n, _, re) =>
          s"coalesce(length(regexp_replace(text, '[^\\p{$re}]', '', 'g')), 0) AS $n"
        }.mkString(",\n                   ")
        val m = s"greatest(${names.mkString(", ")})"
        val firstMatch = names.map(n => s"WHEN $n = m THEN '$n'").mkString("\n                     ")
        s"""WITH c AS (SELECT doc_id,
                   coalesce(length(text), 0)::BIGINT AS n_cp,
                   coalesce(length(regexp_replace(text, '[^\\p{L}]', '', 'g')), 0)::BIGINT AS n_letters,
                   $cnts
                 FROM documents),
              g AS (SELECT *, $m AS m FROM c)
              SELECT doc_id, n_cp, n_letters,
                CASE WHEN n_cp > 0 THEN round(n_letters::DOUBLE / n_cp, 6) ELSE 0.0 END AS letter_frac,
                CASE WHEN n_cp > 0 THEN round(latin::DOUBLE / n_cp, 6) ELSE 0.0 END AS latin_frac,
                CASE WHEN n_cp > 0 THEN round(han::DOUBLE / n_cp, 6) ELSE 0.0 END AS han_frac,
                CASE WHEN n_cp > 0 THEN round(cyrillic::DOUBLE / n_cp, 6) ELSE 0.0 END AS cyrillic_frac,
                CASE WHEN m = 0 THEN 'other'
                     $firstMatch
                     END AS dominant_script,
                CASE WHEN n_cp > 0 AND m > 0 THEN round(m::DOUBLE / n_cp, 6) ELSE 0.0 END AS dominant_frac
              FROM g"""
      }),

    // hashed Naive-Bayes quality classifier (the GPT-3/CCNet
    // "reference vs crawl" model-based filter): train en-vs-rest on the
    // corpus, score every document's mean log-likelihood ratio. The
    // oracle restates the WHOLE pipeline — unigram+bigram features in
    // position order, Fingerprint32 bucket hash, per-bucket per-class
    // census, add-one smoothing over the bucket event space, and the
    // (kind, i)-ordered float fold (the q_lm_score technique)
    Q("q_nb_quality",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = QualityClassifier.train(
          docs, "text", col("lang") === "en", buckets = 4096)
        QualityClassifier.score(docs, "text", model)
          .select("doc_id", "n_features", "nb_score")
      },
      Some(s"""WITH w AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
              feats AS (
                SELECT doc_id, lang, 0 AS kind, i, w[i] AS f
                FROM w, unnest(generate_series(1, len(w))) AS t(i)
                UNION ALL
                SELECT doc_id, lang, 1 AS kind, i, w[i] || ' ' || w[i+1] AS f
                FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)),
              fb AS (SELECT doc_id, lang, kind, i,
                       ${duckFp("f")} % 4096 AS b
                     FROM feats),
              counts AS (SELECT b,
                       sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos,
                       sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS neg
                     FROM fb GROUP BY b),
              tot AS (SELECT sum(pos) AS pt, sum(neg) AS nt FROM counts),
              terms AS (SELECT fb.doc_id, fb.kind, fb.i,
                          log2((c.pos + 1)::DOUBLE / (tot.pt + 4096)::DOUBLE)
                        - log2((c.neg + 1)::DOUBLE / (tot.nt + 4096)::DOUBLE) AS t
                        FROM fb JOIN counts c ON fb.b = c.b CROSS JOIN tot),
              sc AS (SELECT doc_id, count(*) AS n,
                       list_reduce(list(t ORDER BY kind, i), (a, b) -> a + b) AS s
                     FROM terms GROUP BY doc_id)
              SELECT d.doc_id,
                coalesce(sc.n, 0)::BIGINT AS n_features,
                coalesce(round(sc.s / sc.n, 6), 0.0) AS nb_score
              FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""")),

    // hashed logistic-regression quality classifier with the TRAINING
    // restated in the oracle (not just scoring): micro-integer weights
    // make every per-doc score an order-free integer SUM, sigmoids are
    // rounded to exact decimals, residuals aggregate as decimal(38,6),
    // and updates are floor-half-up — so both unrolled gradient steps
    // replay bit-identically in DuckDB
    Q("q_lr_quality",
      (s, d) => {
        val docs = T(s, d, "documents")
        val model = LrClassifier.train(docs, "text", col("lang") === "en",
          buckets = 512, mult = 31L, iters = 2, lr = 4.0)
        LrClassifier.score(docs, "text", model)
          .select("doc_id", "n_features", "lr_zmicro", "lr_prob")
      },
      Some(s"""WITH w AS (SELECT doc_id, lang, $duckWords AS w FROM documents),
              feats AS (
                SELECT doc_id, w[i] AS f
                FROM w, unnest(generate_series(1, len(w))) AS t(i)
                UNION ALL
                SELECT doc_id, w[i] || ' ' || w[i+1] AS f
                FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)),
              fbd AS (SELECT DISTINCT doc_id, ${duckFp("f")} % 512 AS b
                      FROM feats),
              docs0 AS (SELECT doc_id,
                          CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
                        FROM documents),
              nn AS (SELECT count(*)::DOUBLE AS n FROM docs0),
              r1 AS (SELECT doc_id, CAST(0.5 - y AS DECIMAL(38,6)) AS r
                     FROM docs0),
              g1 AS (SELECT b, sum(r) AS g
                     FROM fbd JOIN r1 USING (doc_id) GROUP BY b),
              w1 AS (SELECT b,
                       -floor((4.0 * (g::DOUBLE / nn.n)) * 1000000.0
                              + 0.5)::BIGINT AS wm
                     FROM g1, nn),
              b1 AS (SELECT -floor((4.0 * (sum(r)::DOUBLE / (SELECT n FROM nn)))
                              * 1000000.0 + 0.5)::BIGINT AS bm
                     FROM r1),
              z2 AS (SELECT d0.doc_id, d0.y,
                       (SELECT bm FROM b1) + coalesce(sum(w1.wm), 0) AS zm
                     FROM docs0 d0
                     LEFT JOIN fbd ON fbd.doc_id = d0.doc_id
                     LEFT JOIN w1 ON w1.b = fbd.b
                     GROUP BY d0.doc_id, d0.y),
              r2 AS (SELECT doc_id,
                       CAST(round(1/(1+exp(-(zm/1000000.0))), 6) - y
                            AS DECIMAL(38,6)) AS r
                     FROM z2),
              g2 AS (SELECT b, sum(r) AS g
                     FROM fbd JOIN r2 USING (doc_id) GROUP BY b),
              w2 AS (SELECT w1.b,
                       w1.wm - floor((4.0 * (g2.g::DOUBLE / (SELECT n FROM nn)))
                                 * 1000000.0 + 0.5)::BIGINT AS wm
                     FROM w1 JOIN g2 ON g2.b = w1.b),
              b2 AS (SELECT (SELECT bm FROM b1)
                       - floor((4.0 * (sum(r)::DOUBLE / (SELECT n FROM nn)))
                           * 1000000.0 + 0.5)::BIGINT AS bm
                     FROM r2),
              zf AS (SELECT d0.doc_id,
                       count(fbd.b)::BIGINT AS n_features,
                       (SELECT bm FROM b2) + coalesce(sum(w2.wm), 0) AS zm
                     FROM docs0 d0
                     LEFT JOIN fbd ON fbd.doc_id = d0.doc_id
                     LEFT JOIN w2 ON w2.b = fbd.b
                     GROUP BY d0.doc_id)
              SELECT doc_id, n_features, zm::BIGINT AS lr_zmicro,
                round(1/(1+exp(-(zm/1000000.0))), 6) AS lr_prob
              FROM zf""")),

    // URL canonicalization for URL-level dedup: messy URLs synthesized
    // with identical concat arithmetic on both sides exercise every
    // rule — case folding, www/default-port/fragment/tracking-param
    // stripping, query sort, trailing-slash collapse, non-URL
    // passthrough; the oracle restates the same RE2 decomposition
    Q("q_url_canonical",
      (s, d) => {
        val id = col("doc_id")
        val url = when(id % 7 === 0,
            concat(lit("not a url "), id.cast("string")))
          .otherwise(concat(
            when(id % 2 === 0, lit("HTTP")).otherwise(lit("https")),
            lit("://"),
            when(id % 3 === 0, lit("WWW.")).otherwise(lit("")),
            lit("Host"), (id % 20).cast("string"), lit(".Example.TEST"),
            when(id % 4 === 0, lit(":80")).when(id % 4 === 1, lit(":443"))
              .when(id % 4 === 2, lit(":8080")).otherwise(lit("")),
            when(id % 5 === 0, lit(""))
              .otherwise(concat(lit("/Path/"), id.cast("string"),
                when(id % 5 === 1, lit("/")).otherwise(lit("")))),
            when(id % 3 === 0, lit("?utm_source=x&b=2&a=1&gclid=z"))
              .when(id % 3 === 1, lit("?b=2&a=1&utm_campaign=c"))
              .otherwise(lit("")),
            when(id % 2 === 0, lit("#frag")).otherwise(lit(""))))
        T(s, d, "documents")
          .select(id, concat(lit("  "), url, lit(" ")).as("url"))
          .withColumn("canonical", WebText.canonicalizeUrl(col("url")))
          .select("doc_id", "url", "canonical")
      },
      Some("""WITH u0 AS (SELECT doc_id,
                '  ' || (CASE WHEN doc_id % 7 = 0 THEN 'not a url ' || doc_id::VARCHAR ELSE
                  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
                  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
                  'Host' || (doc_id % 20)::VARCHAR || '.Example.TEST' ||
                  (CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443'
                        WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END) ||
                  (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '/Path/' || doc_id::VARCHAR ||
                    (CASE WHEN doc_id % 5 = 1 THEN '/' ELSE '' END) END) ||
                  (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&b=2&a=1&gclid=z'
                        WHEN doc_id % 3 = 1 THEN '?b=2&a=1&utm_campaign=c' ELSE '' END) ||
                  (CASE WHEN doc_id % 2 = 0 THEN '#frag' ELSE '' END)
                END) || ' ' AS url
              FROM documents),
              p0 AS (SELECT doc_id, url, trim(url) AS t FROM u0),
              p1 AS (SELECT *,
                       lower(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                       regexp_replace(t, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
                     FROM p0),
              p2 AS (SELECT *, regexp_extract(rest, '^([^/?#]*)', 1) AS hostport,
                       substr(rest, length(regexp_extract(rest, '^([^/?#]*)', 1)) + 1) AS tail
                     FROM p1),
              p3 AS (SELECT *,
                       regexp_replace(lower(regexp_extract(hostport, '^([^:]+)', 1)), '^www\.', '') AS host,
                       regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                       regexp_extract(tail, '^([^?#]*)', 1) AS path,
                       regexp_extract(tail, '^[^?#]*\?([^#]*)', 1) AS query
                     FROM p2),
              p4 AS (SELECT *,
                       CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                            ELSE regexp_replace(path, '/+$', '') END AS npath,
                       coalesce(list_aggregate(list_sort(list_filter(string_split(query, '&'),
                         p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)(=.*)?$'))),
                         'string_agg', '&'), '') AS nquery,
                       CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                                  OR (scheme = 'https' AND port = '443'))
                            THEN ':' || port ELSE '' END AS nport
                     FROM p3)
              SELECT doc_id, url,
                CASE WHEN scheme = '' OR host = '' THEN t
                     ELSE scheme || '://' || host || nport || npath ||
                          (CASE WHEN nquery <> '' THEN '?' || nquery ELSE '' END) END AS canonical
              FROM p4""")),

    // deterministic token-budget sampling: the kept set is the
    // hash-ordered prefix whose exclusive cumulative char count stays
    // under the budget — the oracle restates it as ONE window cumsum
    // over (h, key) order (the library's bounded-grid + straddling-cell
    // decomposition computes the identical set without shuffling the
    // corpus); same salted portable hash as q_sample_strata
    Q("q_sample_budget",
      (s, d) => Sampling.sampleToBudget(
        T(s, d, "documents"),
        key = concat(col("doc_id").cast("string"), lit("#"), col("source")),
        weight = length(col("text")),
        budget = 30000L,
        hash = TextAnalysis.fingerprint(_))
        .select("doc_id", "source", "lang"),
      Some(s"""WITH t AS (SELECT doc_id, source, lang,
                 CAST(doc_id AS VARCHAR) || '#' || source AS k,
                 ${duckFp("CAST(doc_id AS VARCHAR) || '#' || source")} % 1000000 AS h,
                 coalesce(length(text), 0)::BIGINT AS w
               FROM documents),
               c AS (SELECT *, coalesce(sum(w) OVER
                       (ORDER BY h, k
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                     FROM t)
               SELECT doc_id, source, lang FROM c WHERE cb < 30000""")),

    // corpus-level overlap (the corpus-granularity contamination
    // question): EXACT distinct-shingle Jaccard/containment between the
    // 'en' and non-'en' halves, portable shingle hash so DuckDB restates
    // the id space verbatim (same restatement as the LSH oracles)
    Q("q_corpus_overlap",
      (s, d) => {
        val docs = T(s, d, "documents")
        Overlap.shingleOverlap(
          docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"),
          "text", shingleN = 2, shingleId = Dedup.portableShingleId)
      },
      Some(s"""WITH w AS (SELECT lang, $duckWords AS w FROM documents),
               sh AS (SELECT lang,
                        CASE WHEN len(w) >= 2
                             THEN list_distinct(list_transform(range(0, len(w)-1),
                                    i -> w[i+1] || ' ' || w[i+2]))
                             ELSE [coalesce(list_aggregate(w, 'string_agg', ' '), '')]
                        END AS sh
                      FROM w),
               ids AS (SELECT lang, unnest(list_transform(sh, s -> ${duckFp("s")})) AS id
                       FROM sh),
               a AS (SELECT DISTINCT id FROM ids WHERE lang = 'en'),
               b AS (SELECT DISTINCT id FROM ids WHERE lang <> 'en'),
               m AS (SELECT (a.id IS NOT NULL)::INT AS ina,
                            (b.id IS NOT NULL)::INT AS inb
                     FROM a FULL OUTER JOIN b ON a.id = b.id),
               t AS (SELECT sum(ina)::BIGINT AS shingles_a,
                            sum(inb)::BIGINT AS shingles_b,
                            sum(ina*inb)::BIGINT AS overlap,
                            count(*)::BIGINT AS union_size FROM m)
               SELECT shingles_a, shingles_b, overlap, union_size,
                 CASE WHEN union_size > 0
                      THEN round(overlap::DOUBLE / union_size, 6) ELSE 0.0 END AS jaccard,
                 CASE WHEN shingles_a > 0
                      THEN round(overlap::DOUBLE / shingles_a, 6) ELSE 0.0 END AS containment_a,
                 CASE WHEN shingles_b > 0
                      THEN round(overlap::DOUBLE / shingles_b, 6) ELSE 0.0 END AS containment_b
               FROM t""")),

    // unigram-distribution divergence between the en and non-en corpora:
    // KL both ways (epsilon-clamped, PSI convention) + Jensen-Shannon;
    // the oracle restates the clamps and mixture term-for-term
    Q("q_unigram_divergence",
      (s, d) => {
        val docs = T(s, d, "documents")
        Overlap.unigramDivergence(
          docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"),
          "text")
      },
      Some(s"""WITH w AS (SELECT lang, unnest($duckWords) AS term FROM documents),
               j AS (SELECT sum((lang = 'en')::INT)::DOUBLE AS ca,
                            sum((lang <> 'en')::INT)::DOUBLE AS cb
                     FROM w GROUP BY term),
               t AS (SELECT greatest(sum(ca), 1.0) AS na,
                            greatest(sum(cb), 1.0) AS nb FROM j),
               d AS (SELECT ca/na AS p, cb/nb AS q, (ca/na + cb/nb)/2 AS m
                     FROM j, t)
               SELECT count(*)::BIGINT AS vocab_union,
                 coalesce(round(sum(CASE WHEN p > 0
                   THEN p * ln(p / greatest(q, 1e-9)) ELSE 0.0 END), 4), 0.0) AS kl_ab,
                 coalesce(round(sum(CASE WHEN q > 0
                   THEN q * ln(q / greatest(p, 1e-9)) ELSE 0.0 END), 4), 0.0) AS kl_ba,
                 coalesce(round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0.0 END)
                        + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0.0 END), 4),
                   0.0) AS js_divergence
               FROM d""")),

    // the 100-TB overlap path: mergeable corpus-level MinHash signatures
    // (k min-aggregates, a few hundred bytes per corpus) compared
    // slot-for-slot; the affine family is interpolated into the oracle so
    // both engines build the IDENTICAL signature
    Q("q_corpus_minhash",
      (s, d) => {
        val docs = T(s, d, "documents")
        val sa = Overlap.corpusSignature(docs.where(col("lang") === "en"),
          "text", shingleN = 2, k = 64, seed = 42L,
          shingleId = Dedup.portableShingleId)
        val sb = Overlap.corpusSignature(docs.where(col("lang") =!= "en"),
          "text", shingleN = 2, k = 64, seed = 42L,
          shingleId = Dedup.portableShingleId)
        Overlap.estimateJaccard(sa, sb)
      },
      Some {
        val fam = Dedup.hashFamily(64, 42L)
        val slots = fam.map { case (ha, hb) =>
          s"min((id*$ha + $hb) % 2147483647)"
        }.mkString("[", ",\n                 ", "]")
        s"""WITH w AS (SELECT lang, $duckWords AS w FROM documents),
            sh AS (SELECT lang,
                     CASE WHEN len(w) >= 2
                          THEN list_distinct(list_transform(range(0, len(w)-1),
                                 i -> w[i+1] || ' ' || w[i+2]))
                          ELSE [coalesce(list_aggregate(w, 'string_agg', ' '), '')]
                     END AS sh
                   FROM w),
            ids AS (SELECT lang, unnest(list_transform(sh, s -> ${duckFp("s")})) AS id
                    FROM sh),
            sa AS (SELECT $slots AS sig FROM ids WHERE lang = 'en'),
            sb AS (SELECT $slots AS sig FROM ids WHERE lang <> 'en'),
            eq AS (SELECT len(list_filter(range(1, 65),
                     i -> sa.sig[i] = sb.sig[i])) AS n FROM sa, sb)
            SELECT n::INT AS n_equal, round(n / 64.0, 6) AS est_jaccard FROM eq"""
      }),

    // lexical-diversity signals: code-point entropy (CharEntropy kernel —
    // both engines sum -(k/n)·log2(k/n) in ascending code-point order, so
    // round-6 absorbs only last-ulp libm differences) and type-token ratio
    Q("q_lexical",
      (s, d) => TextAnalysis.lexicalSignals(T(s, d, "documents"), "text")
        .select("doc_id", "char_entropy", "ttr"),
      Some(s"""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                           FROM documents WHERE length(text) > 0),
               cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
               tot AS (SELECT doc_id, sum(k)::DOUBLE AS n FROM cnt GROUP BY doc_id),
               terms AS (SELECT cnt.doc_id, unicode(cnt.c) AS cp,
                           (cnt.k / tot.n) * log2(cnt.k / tot.n) AS t
                         FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
               ent AS (SELECT doc_id,
                         list_reduce(list(t ORDER BY cp), (a, b) -> a + b) AS s
                       FROM terms GROUP BY doc_id),
               w AS (SELECT doc_id, $duckWords AS w FROM documents),
               toks AS (SELECT doc_id, unnest(w) AS term FROM w),
               tt AS (SELECT doc_id,
                        round(count(DISTINCT term) / count(*)::DOUBLE, 6) AS ttr
                      FROM toks GROUP BY doc_id)
               SELECT d.doc_id,
                 coalesce(CASE WHEN ent.s = 0 THEN 0.0 ELSE round(-ent.s, 6) END,
                          0.0) AS char_entropy,
                 coalesce(tt.ttr, 0.0) AS ttr
               FROM documents d
               LEFT JOIN ent ON d.doc_id = ent.doc_id
               LEFT JOIN tt ON d.doc_id = tt.doc_id""")),

    // deflate compression ratio — the long-range-repetition quality
    // signal. No SQL engine exposes deflate, so the exact values stay
    // unit-pinned (OpsSpec: boilerplate ≪ prose < shuffled orderings);
    // the gate instead asserts SQL-expressible INVARIANTS per document,
    // each of which a broken kernel would flip:
    //  - in_range: 0 < ratio ≤ 1.5 for ≥64-byte inputs (deflate's
    //    worst case is raw + 5 B/64 KiB block + 11 B header),
    //  - doubling_compresses: ratio(text||text) < ratio(text) — the
    //    second copy sits inside the 32 KiB LZ77 window, so long-range
    //    repetition MUST compress (the signal's entire point). The
    //    invariant is window-bounded: past 32768 chars the second copy
    //    cannot back-reference the first, so the gate (and oracle)
    //    filter to docs that fit the window (r5 advice),
    //  - deterministic: two separate kernel invocations agree (the
    //    concat(text,'') spelling defeats subexpression elimination)
    Q("q_compression",
      (s, d) => {
        val t = coalesce(col("text"), lit(""))
        val r = TextAnalysis.compressionRatio(t)
        val rTwice = TextAnalysis.compressionRatio(concat(t, t))
        val rAgain = TextAnalysis.compressionRatio(concat(t, lit("")))
        T(s, d, "documents")
          .where(length(t) >= 64 && length(t) <= 32768)
          .select(col("doc_id"),
            (r > 0.0 && r <= 1.5).as("in_range"),
            (rTwice < r).as("doubling_compresses"),
            (rAgain === r).as("deterministic"))
      },
      Some("""SELECT doc_id, true AS in_range, true AS doubling_compresses,
                     true AS deterministic
              FROM documents
              WHERE length(coalesce(text, '')) BETWEEN 64 AND 32768""")),

    // Gopher quality-filter rule set: every threshold is an INTEGER
    // comparison (mean-word-length ∈ [3,10] is 3n ≤ Σlen ≤ 10n, etc.),
    // so the oracle restates each verdict with zero float drift; the
    // bigram stats reuse the q_repetition restatement
    Q("q_gopher",
      // reasons is an ARRAY internally; the gate surface serializes it
      // ('|' join, order fixed by the rule list) because the driver's
      // comparer cannot sort array cells
      (s, d) => TextAnalysis.gopherFilter(Tdocs(s, d), "text")
        .select(col("doc_id"), col("word_count"),
          array_join(col("reasons"), "|").as("reasons"), col("keep")),
      Some {
        val stops = TextAnalysis.stopwords("en").map(w => s"'$w'").mkString(",")
        s"""WITH w AS (SELECT doc_id, text, $duckWords AS w FROM documents),
             g AS (SELECT doc_id,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(range(0, len(w)-1),
                                 i -> w[i+1] || ' ' || w[i+2])
                          ELSE [] END AS g
                   FROM w),
             ex AS (SELECT doc_id, unnest(g) AS gram FROM g),
             cnt AS (SELECT doc_id, gram, count(*) AS c FROM ex GROUP BY 1, 2),
             st AS (SELECT doc_id, sum(c) AS total, max(c) AS top
                    FROM cnt GROUP BY 1),
             s AS (SELECT w.doc_id,
                     len(w.w) AS n,
                     list_reduce(list_prepend(0, list_transform(w.w, x -> length(x))),
                       (a, b) -> a + b) AS sumlen,
                     len(list_filter(w.w, x -> regexp_matches(x, '\\p{L}'))) AS alphaw,
                     len(list_filter(w.w, x -> x IN ($stops))) AS stopn,
                     list_filter(string_split(w.text, chr(10)),
                       l -> trim(l) <> '') AS lines,
                     length(w.text) - length(replace(w.text, '#', ''))
                       + len(regexp_extract_all(w.text, '\\.\\.\\.|…')) AS symbols,
                     coalesce(st.total, 0) AS bg_total, coalesce(st.top, 0) AS bg_top
                   FROM w LEFT JOIN st ON w.doc_id = st.doc_id),
             v AS (SELECT doc_id, n::INT AS word_count,
                     list_filter([
                       CASE WHEN n < 50 THEN 'too_few_words' END,
                       CASE WHEN n > 100000 THEN 'too_many_words' END,
                       CASE WHEN n > 0 AND (sumlen < 3*n OR sumlen > 10*n)
                            THEN 'word_length' END,
                       CASE WHEN n > 0 AND 5*alphaw < 4*n THEN 'alpha_words' END,
                       CASE WHEN stopn < 2 THEN 'stopwords' END,
                       CASE WHEN len(lines) > 0 AND
                         10*len(list_filter(lines,
                           l -> regexp_matches(trim(l), '^[-*•]'))) > 9*len(lines)
                            THEN 'bullets' END,
                       CASE WHEN len(lines) > 0 AND
                         10*len(list_filter(lines,
                           l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) > 3*len(lines)
                            THEN 'ellipsis' END,
                       CASE WHEN n > 0 AND 10*symbols > n THEN 'symbol_ratio' END,
                       CASE WHEN bg_total > 0 AND 5*bg_top > bg_total
                            THEN 'top_bigram' END
                     ], x -> x IS NOT NULL) AS reasons
                   FROM s)
             SELECT doc_id, word_count,
                    coalesce(array_to_string(reasons, '|'), '') AS reasons,
                    (len(reasons) = 0) AS keep FROM v"""
      }),

    // PII detect + redact: deterministic synthetic PII is appended per row
    // in BOTH engines (the corpus itself carries none — verified), then
    // counts and the redacted text must agree span for span. Patterns are
    // interpolated from TextAnalysis.piiPatterns so the two engines run
    // the IDENTICAL (lookaround-free) regexes.
    Q("q_pii", {
      (s, d) => {
        val id = col("doc_id")
        val suffix = when(pmod(id, lit(3)) === 0,
            concat(lit(" reach u"), id, lit("@ex"), pmod(id, lit(7)),
              lit(".com from 10."), pmod(id, lit(256)), lit(".0."), pmod(id, lit(100))))
          .when(pmod(id, lit(3)) === 1,
            concat(lit(" call 555-01"), pmod(id, lit(10)), lit("-"),
              lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))
        Tdocs(s, d)
          .select(id, concat(col("text"), suffix).as("_t"))
          .select(col("doc_id"),
            TextAnalysis.piiCounts(col("_t")).as("c"),
            TextAnalysis.piiRedact(col("_t")).as("redacted"))
          .select(col("doc_id"),
            col("c.email").cast("long").as("n_email"),
            col("c.phone").cast("long").as("n_phone"),
            col("c.ipv4").cast("long").as("n_ipv4"),
            col("redacted"))
      }},
      Some {
        val Seq(email, phone, ipv4) = TextAnalysis.piiPatterns.map(_._2)
        s"""WITH t AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 3 = 0
                       THEN ' reach u' || doc_id || '@ex' || (doc_id % 7) ||
                            '.com from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                     WHEN doc_id % 3 = 1
                       THEN ' call 555-01' || (doc_id % 10) || '-' ||
                            lpad((doc_id % 10000)::VARCHAR, 4, '0')
                     ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
              len(regexp_extract_all(t, '$email'))::BIGINT AS n_email,
              len(regexp_extract_all(t, '$phone'))::BIGINT AS n_phone,
              len(regexp_extract_all(t, '$ipv4'))::BIGINT AS n_ipv4,
              regexp_replace(regexp_replace(regexp_replace(t,
                '$email', '[EMAIL]', 'g'),
                '$phone', '[PHONE]', 'g'),
                '$ipv4', '[IPV4]', 'g') AS redacted
            FROM t"""
      }),

    // fixed-size/strided token chunking (training-sequence prep): 40-word
    // windows stepping by 32 (overlapping); the oracle restates the window
    // arithmetic and the list slicing independently
    Q("q_chunk_words",
      (s, d) => TextAnalysis.chunkWords(T(s, d, "documents"),
        "doc_id", "text", chunkSize = 40, stride = 32),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               n AS (SELECT doc_id, w,
                       ((greatest(len(w) - 40, 0) + 31) // 32) + 1 AS nc
                     FROM w WHERE len(w) > 0)
               SELECT doc_id, i AS chunk_idx,
                 list_aggregate(w[i*32 + 1 : i*32 + 40], 'string_agg', ' ') AS chunk,
                 least(40, len(w) - i*32)::BIGINT AS n_tokens
               FROM n, unnest(range(0, nc)) AS t(i)""")),

    // benchmark decontamination: corpus docs sharing >= 2 distinct word
    // bigrams with the benchmark set (every 50th doc). The broadcast
    // semi-join shape is the operator's; the oracle re-derives membership
    // from scratch with a relational shingle join.
    Q("q_decontaminate",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.decontaminate(docs, "doc_id", "text",
          docs.where(pmod(col("doc_id"), lit(50)) === 0), "text",
          shingleN = 2, minMatches = 2)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               sh AS (SELECT doc_id,
                        CASE WHEN len(w) >= 2
                             THEN list_distinct(list_transform(range(0, len(w)-1),
                                    i -> w[i+1] || ' ' || w[i+2]))
                             ELSE [coalesce(list_aggregate(w, 'string_agg', ' '), '')]
                        END AS sh
                      FROM w),
               bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
               ex AS (SELECT doc_id, unnest(sh) AS g FROM sh)
               SELECT ex.doc_id AS id, count(*) AS matched_ngrams
               FROM ex JOIN bg USING (g)
               GROUP BY 1 HAVING count(*) >= 2""")),

    // robust median/MAD outlier screen with planted corruption (every
    // 97th doc +5000 chars); medians are exact and in-plan in both engines
    Q("q_outlier_mad",
      (s, d) => {
        val v = (col("n_chars") +
          when(pmod(col("doc_id"), lit(97)) === 0, 5000).otherwise(0)).cast("double")
        Outliers.madOutliers(
          T(s, d, "documents").select(col("doc_id"), v.as("value")), col("value"))
          .select(col("doc_id"), col("value"),
            Rounding.roundAt(col("robust_z"), 4).as("robust_z"))
      },
      Some("""WITH v AS (SELECT doc_id,
                (n_chars + CASE WHEN doc_id % 97 = 0 THEN 5000 ELSE 0 END)::DOUBLE AS value
              FROM documents),
              med AS (SELECT median(value) AS m FROM v),
              mad AS (SELECT median(abs(value - m)) AS md FROM v, med)
              SELECT doc_id, value, round((value - m) / (md * 1.4826), 4) AS robust_z
              FROM v, med, mad
              WHERE abs((value - m) / (md * 1.4826)) > 3.5""")),

    // Unicode NFC normalization: decomposed combining sequences are
    // planted on every row (e + U+0301, o + U+0308) and must compose to
    // the identical bytes in both engines (the Unicode standard fixes
    // the answer; DuckDB's independent nfc_normalize is the oracle)
    Q("q_normalize",
      (s, d) => {
        val t2 = concat(col("text"), lit(" cafe\u0301 \t  o\u0308k"))
        T(s, d, "documents")
          .select(col("doc_id"), t2.as("_t2"),
            TextAnalysis.normalizeText(t2).as("text_norm"))
          .select(col("doc_id"), col("text_norm"),
            length(col("_t2")).cast("long").as("len_raw"),
            length(col("text_norm")).cast("long").as("len_norm"))
      },
      Some("""WITH t AS (SELECT doc_id,
                  text || ' cafe' || chr(769) || ' ' || chr(9) || '  o' || chr(776) || 'k' AS t2
                FROM documents)
              SELECT doc_id,
                trim(regexp_replace(nfc_normalize(t2), '\s+', ' ', 'g')) AS text_norm,
                length(t2)::BIGINT AS len_raw,
                length(trim(regexp_replace(nfc_normalize(t2), '\s+', ' ', 'g')))::BIGINT AS len_norm
              FROM t""")),

    // cross-corpus (incremental-ingestion) dedup: docs 100-299 as the new
    // batch against docs <100 as the reference index, exact DuckDB oracle
    // via the portable hash family (same restatement as q_dedup_minhash_lsh
    // with a new×ref band join instead of a self-join)
    Q("q_dedup_cross",
      (s, d) => {
        val docs = T(s, d, "documents")
        Dedup.crossCorpusDuplicates(
          docs.where(col("doc_id") >= 100 && col("doc_id") < 300),
          docs.where(col("doc_id") < 100),
          "doc_id", "text", threshold = 0.10, shingleN = 2,
          bands = 16, rowsPerBand = 2, shingleId = Dedup.portableShingleId)
      },
      Some(duckCrossOracle)),

    // the identical computation against a PERSISTED reference index
    // (save -> manifest-checked load -> probe): same oracle, so the gate
    // proves the round-tripped banded frame + shingles reproduce the
    // direct two-corpus result bit-for-bit
    Q("q_dedup_cross_persisted",
      (s, d) => {
        val docs = T(s, d, "documents")
        val dir = java.nio.file.Files
          .createTempDirectory("graft-dedup-index").toString
        graft.pipeline.IndexStore.saveDedupIndex(
          docs.where(col("doc_id") < 100), "doc_id", "text", dir,
          shingleN = 2, bands = 16, rowsPerBand = 2, hashKind = "portable")
        val idx = graft.pipeline.IndexStore.loadDedupIndex(s, dir)
        graft.pipeline.IndexStore.crossCorpusAgainst(
          docs.where(col("doc_id") >= 100 && col("doc_id") < 300), idx,
          "doc_id", "text", threshold = 0.10)
      },
      Some(duckCrossOracle)),

    // the full curation composition, end to end: planted boilerplate
    // lines + PII + duplicate texts run through line dedup → redaction →
    // quality floor → exact dedup → split assignment, and the oracle
    // chains the (individually proven) relational restatements of every
    // stage into one derivation
    Q("q_curate", {
      (s, d) =>
        Curation.curate(
          curateInput(T(s, d, "documents")), "doc_id", "text",
          Curation.CurationConfig(
            splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
            splitHash = c => TextAnalysis.fingerprint(concat(c, lit("#salt")))))
      },
      Some(s"WITH $duckCurateKeepCtes\n${duckCurateSplitSelect("keep")}")),

    // the curation composition with the Gopher rule set engaged beside
    // the quality floor: the oracle chains the q_curate derivation with
    // the q_gopher integer-arithmetic verdicts over the CLEANED texts
    Q("q_curate_quality", {
      (s, d) =>
        Curation.curate(
          curateInput(T(s, d, "documents")), "doc_id", "text",
          Curation.CurationConfig(
            gopherRules = true, gopherMinWords = 20,
            splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
            splitHash = c => TextAnalysis.fingerprint(concat(c, lit("#salt")))))
      },
      Some(s"""WITH $duckCurateTCte,
              ${duckCurateChain("t", gopherMinWords = Some(20))}
              ${duckCurateSplitSelect("keep")}""")),

    // the curation composition with the char-LM perplexity filter
    // engaged (self-trained on the post-quality-floor corpus, cap 64,
    // ceiling at the corpus's ~p90 surprisal): the oracle chains the
    // q_curate derivation with the q_lm_score restatement re-sourced
    // from the cleaned texts
    Q("q_curate_lm", {
      (s, d) =>
        Curation.curate(
          curateInput(T(s, d, "documents")), "doc_id", "text",
          Curation.CurationConfig(
            maxLmBits = Some(2.65), lmMaxAlphabet = 64,
            splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
            splitHash = c => TextAnalysis.fingerprint(concat(c, lit("#salt")))))
      },
      Some(s"""WITH $duckCurateTCte,
              ${duckCurateChain("t", lmMaxBits = Some(2.65))}
              ${duckCurateSplitSelect("keep")}""")),

    // the same curation composition with the cross-corpus dedup stage
    // engaged against a reference corpus (raw documents < 50): the
    // oracle chains the q_curate derivation with the q_dedup_cross
    // banding restatement over the CLEANED texts
    Q("q_curate_cross", {
      (s, d) => {
        val ref = T(s, d, "documents").where(col("doc_id") < 50)
          .select(col("doc_id"), col("text"))
        Curation.curate(
          curateInput(T(s, d, "documents")), "doc_id", "text",
          Curation.CurationConfig(
            dedupAgainst = Some(ref),
            nearDedupThreshold = 0.10,
            crossShingleN = 2, crossBands = 16, crossRowsPerBand = 2,
            crossShingleId = Dedup.portableShingleId,
            splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
            splitHash = c => TextAnalysis.fingerprint(concat(c, lit("#salt")))))
      }},
      Some {
        val fam = Dedup.hashFamily(16 * 2, 42L)
        val slots = fam.map { case (a, b) =>
          s"list_min(list_transform(ids, x -> (x*$a + $b) % 2147483647))"
        }.mkString("[", ",\n                 ", "]")
        def shingleCtes(p: String, src: String) =
          s"""${p}w AS (SELECT doc_id, $duckWords AS w FROM $src),
              ${p}sh AS (SELECT doc_id,
                       CASE WHEN len(w) >= 2
                            THEN list_distinct(list_transform(range(0, len(w)-1),
                                   i -> w[i+1] || ' ' || w[i+2]))
                            ELSE [coalesce(list_aggregate(w, 'string_agg', ' '), '')]
                       END AS sh
                     FROM ${p}w),
              ${p}ids AS (SELECT doc_id, list_transform(sh, s -> ${duckFp("s")}) AS ids FROM ${p}sh),
              ${p}sig AS (SELECT doc_id, $slots AS sig FROM ${p}ids),
              ${p}band AS (
                SELECT doc_id, u2.b AS band, sig[u2.b*2 + 1 : u2.b*2 + 2] AS bucket
                FROM ${p}sig, unnest(range(0, 16)) AS u2(b))"""
        s"""WITH $duckCurateKeepCtes,
            ${shingleCtes("n", "keep")},
            ${shingleCtes("r", "(SELECT doc_id, text FROM documents WHERE doc_id < 50)")},
            cpairs AS (
              SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
              FROM nband n JOIN rband r
                ON n.band = r.band AND n.bucket = r.bucket),
            cdrop AS (
              SELECT DISTINCT p.new_id
              FROM cpairs p
              JOIN nsh sa ON sa.doc_id = p.new_id
              JOIN rsh sb ON sb.doc_id = p.ref_id
              WHERE round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6)
                >= 0.10),
            kept2 AS (SELECT * FROM keep
                      WHERE doc_id NOT IN (SELECT new_id FROM cdrop))
            ${duckCurateSplitSelect("kept2")}"""
      }),

    // the curation composition with the WEB stages engaged: the injected
    // corpus is wrapped in markup and given per-doc URLs; the blocklist
    // drop (suffix chain restated), the strip chain (q_html_strip's), and
    // then the full q_curate derivation are all chained into ONE oracle
    Q("q_curate_web", {
      (s, d) => {
        import s.implicits._
        val web = curateInput(T(s, d, "documents")).withColumn("text",
          concat(lit("<div class=\"c\">"), col("text"),
            lit(" see http://h"), pmod(col("doc_id"), lit(50)).cast("string"),
            lit("."),
            when(pmod(col("doc_id"), lit(7)) === 0, lit("bad.test"))
              .otherwise(lit("example.test")),
            lit("/p/"), col("doc_id").cast("string"),
            lit("</div><script>track()</script>")))
        val blk = Seq("bad.test").toDF("domain")
        Curation.curate(web, "doc_id", "text",
          Curation.CurationConfig(
            domainBlocklist = Some((blk, "domain")),
            stripMarkup = true,
            splits = Seq("train" -> 98.0, "val" -> 1.0, "test" -> 1.0),
            splitHash = c => TextAnalysis.fingerprint(concat(c, lit("#salt")))))
      }},
      Some(s"""WITH $duckCurateTCte,
        wrapped AS (
          SELECT doc_id,
            '<div class="c">' || text || ' see http://h' ||
            (doc_id % 50)::VARCHAR || '.' ||
            CASE WHEN doc_id % 7 = 0 THEN 'bad.test'
                 ELSE 'example.test' END ||
            '/p/' || doc_id::VARCHAR ||
            '</div><script>track()</script>' AS text
          FROM t),
        dm AS (
          SELECT doc_id,
            lower(regexp_extract(u, 'https?://([^/\\s:?#<>"'']+)', 1)) AS domain
          FROM wrapped,
               unnest(regexp_extract_all(text, 'https?://[^\\s<>"'']+')) AS uu(u)),
        badids AS (
          SELECT DISTINCT doc_id FROM dm
          WHERE len(list_filter(
            list_transform(range(1, len(string_split(domain, '.')) + 1),
              i -> array_to_string(string_split(domain, '.')[i:], '.')),
            x -> x IN ('bad.test'))) > 0),
        kept0 AS (SELECT * FROM wrapped
                  WHERE doc_id NOT IN (SELECT doc_id FROM badids)),
        x1 AS (SELECT doc_id,
                 regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x
               FROM kept0),
        x2 AS (SELECT doc_id,
                 regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM x1),
        x3 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM x2),
        x4 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', ' ', 'g') AS x FROM x3),
        x5 AS (SELECT doc_id,
                 replace(replace(replace(replace(replace(replace(x,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS x FROM x4),
        ws AS (SELECT doc_id,
                 trim(regexp_replace(x, '\\s+', ' ', 'g')) AS text FROM x5),
        ${duckCurateChain("ws")}
        ${duckCurateSplitSelect("keep")}""")),

    // reproducible 8:1:1 train/val/test assignment by disjoint hash
    // ranges; the oracle recomputes the cumulative truncated cut points
    // with identical double arithmetic
    Q("q_assign_splits",
      (s, d) => Sampling.assignSplits(
        T(s, d, "documents"),
        key = concat(col("doc_id").cast("string"), lit("#"), col("source")),
        splits = Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0),
        hash = TextAnalysis.fingerprint(_))
        .select("doc_id", "split"),
      Some(s"""SELECT doc_id,
                 CASE WHEN h < trunc((8.0/10.0) * 1000000)::BIGINT THEN 'train'
                      WHEN h < trunc((8.0/10.0 + 1.0/10.0) * 1000000)::BIGINT THEN 'val'
                      ELSE 'test' END AS split
               FROM (SELECT doc_id,
                       (${duckFp("CAST(doc_id AS VARCHAR) || '#' || source")} % 1000000) AS h
                     FROM documents)""")),

    // deterministic shard layout: hash-balanced shard + seeded
    // within-shard permutation, restated verbatim (fingerprint is
    // non-negative so pmod == %)
    Q("q_assign_shards",
      (s, d) => Sampling.assignShards(
        T(s, d, "documents"), key = col("doc_id"), numShards = 8,
        seed = 42L, hash = TextAnalysis.fingerprint(_))
        .select("doc_id", "shard", "pos"),
      Some(s"""WITH h AS (SELECT doc_id,
                 ${duckFp("CAST(doc_id AS VARCHAR) || ':42'")} AS h
               FROM documents)
               SELECT doc_id, (h % 8)::INT AS shard,
                 (row_number() OVER (PARTITION BY h % 8
                    ORDER BY h ASC, CAST(doc_id AS VARCHAR) ASC) - 1)::BIGINT AS pos
               FROM h""")),

    // training-data mixing: 2:1:1 target over three sources at the
    // largest feasible total (the weight-2 source is fully kept, the
    // others hash-downsample); the oracle recomputes counts → feasible
    // total → fractions → truncated hash cuts with identical arithmetic
    Q("q_mix_sources",
      (s, d) => Sampling.mixSources(
        T(s, d, "documents"),
        key = concat(col("doc_id").cast("string"), lit("#"), col("source")),
        sourceCol = "source",
        weights = Map("src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0),
        hash = TextAnalysis.fingerprint(_))._1
        .select("doc_id", "source"),
      Some(s"""WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents
                          WHERE source IN ('src1','src2','src3') GROUP BY 1),
               b AS (SELECT source AS bsrc,
                       n / (CASE source WHEN 'src1' THEN 2.0/4.0
                            WHEN 'src2' THEN 1.0/4.0 ELSE 1.0/4.0 END) AS total
                     FROM c
                     ORDER BY n / (CASE source WHEN 'src1' THEN 2.0/4.0
                                   WHEN 'src2' THEN 1.0/4.0 ELSE 1.0/4.0 END), source
                     LIMIT 1),
               f AS (SELECT source,
                       CASE WHEN source = bsrc THEN 1000000
                            ELSE trunc(least(1.0,
                              ((CASE source WHEN 'src1' THEN 2.0/4.0
                                WHEN 'src2' THEN 1.0/4.0
                                ELSE 1.0/4.0 END) * total) / n) * 1000000)::BIGINT
                       END AS cut
                     FROM c, b)
               SELECT d.doc_id, d.source FROM documents d JOIN f USING (source)
               WHERE (${duckFp("CAST(doc_id AS VARCHAR) || '#' || source")} % 1000000) < f.cut""")),

    // C4-style line-level dedup: a shared banner line (planted in every
    // doc) and an every-other-doc footer line must be stripped from all
    // docs while each doc's own lines survive in order; the oracle
    // re-derives hot lines and the rebuild relationally
    Q("q_dedup_lines",
      (s, d) => {
        val t2 = concat(substring(col("text"), 1, 40),
          lit("\nSHARED COOKIE BANNER\n"), substring(col("text"), 41, 1000000),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\nEVEN FOOTER"))
            .otherwise(lit("")))
        Dedup.dedupLines(
          T(s, d, "documents").select(col("doc_id"), t2.as("text")),
          "doc_id", "text", minDocs = 3)
      },
      Some("""WITH t AS (
                SELECT doc_id,
                  substr(text, 1, 40) || chr(10) || 'SHARED COOKIE BANNER' ||
                  chr(10) || substr(text, 41) ||
                  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'EVEN FOOTER'
                       ELSE '' END AS text
                FROM documents),
              ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
              lines AS (SELECT doc_id, i AS pos, ls[i+1] AS line
                        FROM ls, unnest(range(0, len(ls))) AS u(i)),
              hot AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines
                                        WHERE trim(line) <> '')
                      GROUP BY line HAVING count(*) >= 3)
              SELECT doc_id,
                coalesce(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE line NOT IN (SELECT line FROM hot)), '') AS text
              FROM lines GROUP BY doc_id""")),

    // TF-IDF over a 100-doc sub-corpus: per-doc tf agg joined to the
    // broadcast document-frequency table, corpus size attached in-plan;
    // the oracle re-derives tf/df/N relationally with the identical
    // smoothed-idf arithmetic
    Q("q_tfidf",
      (s, d) => TfIdf.tfidf(
        T(s, d, "documents").where(col("doc_id") < 100), "doc_id", "text"),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents
                          WHERE doc_id < 100),
               terms AS (SELECT doc_id AS id, unnest(w) AS term FROM w),
               tf AS (SELECT id, term, count(*)::BIGINT AS tf
                      FROM terms GROUP BY 1, 2),
               dfq AS (SELECT term, count(*)::BIGINT AS doc_freq
                       FROM (SELECT DISTINCT id, term FROM terms) GROUP BY 1),
               n AS (SELECT count(*) AS n FROM w)
               SELECT tf.id, tf.term, tf.tf,
                 round(tf.tf * (ln((n.n + 1)::DOUBLE / (dfq.doc_freq + 1)) + 1), 6) AS tfidf
               FROM tf JOIN dfq USING (term), n""")),

    // gap-based sessionization (per-event labels): lag + running sum over
    // the entity window; boundaries compared as exact integer micros. The
    // 6 h gap sits at the events table's median per-user spacing, so both
    // multi-event sessions and breaks are exercised.
    Q("q_sessionize",
      (s, d) => Sessions.sessionize(T(s, d, "events"),
        "user_id", "ts", "event_id", gapSeconds = 21600)
        .select("event_id", "user_id", "session_seq"),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
              l AS (SELECT event_id, user_id, us,
                      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
                    FROM e),
              b AS (SELECT event_id, user_id, us,
                      CASE WHEN pus IS NULL OR us - pus > 21600::BIGINT * 1000000 THEN 1 ELSE 0 END AS brk
                    FROM l)
              SELECT event_id, user_id,
                (sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_seq
              FROM b""")),

    // per-session aggregates via Spark's NATIVE session_window (the
    // streaming-capable path — no per-event sort); the oracle re-derives
    // the identical sessions from scratch with the lag formulation
    // (boundary parity: a gap exactly equal to the threshold merges, as
    // SessionsSpec pins) and aggregates them relationally. Values sum as
    // DECIMAL(18,2) in both engines — order-independent, exact.
    Q("q_session_stats",
      (s, d) => Sessions.sessionStats(T(s, d, "events"),
        "user_id", "ts", "value", gapSeconds = 21600),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events),
              l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
                    FROM e),
              b AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 21600::BIGINT * 1000000
                                   THEN 1 ELSE 0 END AS brk
                    FROM l),
              sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                                ROWS UNBOUNDED PRECEDING) AS seq
                       FROM b)
              SELECT user_id, min(us) AS session_start_us,
                max(us) + 21600::BIGINT * 1000000 AS session_end_us,
                count(*)::BIGINT AS n_events,
                sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
              FROM sess GROUP BY user_id, seq""")),

    // global top-k vocabulary: partial-agg counts + TakeOrderedAndProject
    // (per-task top-k heaps, no global sort); the (count desc, term asc)
    // total order makes the k-boundary cut deterministic in both engines
    Q("q_vocab_topk",
      (s, d) => TextAnalysis.topTerms(T(s, d, "documents"), "text", 20),
      Some(s"""WITH w AS (SELECT $duckWords AS w FROM documents),
               t AS (SELECT unnest(w) AS term FROM w)
               SELECT term, count(*)::BIGINT AS occurrences FROM t GROUP BY 1
               ORDER BY occurrences DESC, term LIMIT 20""")),

    // LEFT as-of join (every 5th event is a reference mark; each event
    // matches its user's latest mark at-or-before its timestamp): the
    // union + window carry-forward formulation vs DuckDB's NATIVE ASOF
    // JOIN — two entirely independent algorithms must agree row for row.
    // (user_id, ts) is unique in events, so the match is well-defined.
    Q("q_asof_join",
      (s, d) => {
        val ev = T(s, d, "events")
        val marks = ev.where(pmod(col("event_id"), lit(5)) === 0)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        TemporalJoins.asofJoin(ev.select("event_id", "user_id", "ts"),
          marks, "user_id", "ts", Seq("event_id", "value"))
          .select(col("event_id"), col("user_id"),
            col("asof_event_id"), col("asof_value"))
      },
      Some("""WITH marks AS (
                SELECT user_id, ts, event_id, value FROM events
                WHERE event_id % 5 = 0)
              SELECT l.event_id, l.user_id,
                m.event_id AS asof_event_id, m.value AS asof_value
              FROM events l ASOF LEFT JOIN marks m
                ON l.user_id = m.user_id AND m.ts <= l.ts""")),

    // bucketized range join (documents' n_chars into overlapping nation
    // intervals): the equi-join-on-bucket formulation vs the oracle's
    // direct non-equi join — membership must agree exactly, including
    // the [lo, hi) boundary semantics
    Q("q_range_join",
      (s, d) => {
        val iv = T(s, d, "nation").select(col("n_nationkey"),
          (col("n_nationkey") * 20 + 40).cast("long").as("lo"),
          (col("n_nationkey") * 20 + 85).cast("long").as("hi"))
        TemporalJoins.rangeJoin(T(s, d, "documents").select("doc_id", "n_chars"),
          "n_chars", iv, "lo", "hi", bucketWidth = 32)
          .select("doc_id", "n_chars", "n_nationkey", "lo", "hi")
      },
      Some("""SELECT d.doc_id, d.n_chars, n.n_nationkey,
                (n.n_nationkey*20 + 40)::BIGINT AS lo,
                (n.n_nationkey*20 + 85)::BIGINT AS hi
              FROM documents d JOIN nation n
                ON d.n_chars >= n.n_nationkey*20 + 40
               AND d.n_chars <  n.n_nationkey*20 + 85""")),

    // mergeable space-saving heavy-hitters sketch (the 100-TB vocabulary
    // path: bounded blobs through the shuffle instead of the full term
    // key space). Capacity 256 exceeds the corpus vocabulary, so the
    // sketch is provably exact here regardless of partitioning/merge
    // order — the oracle is the exact count with max_error pinned to 0;
    // the lossy regime's guarantees are property-tested in FreqSketchSpec.
    Q("q_vocab_sketch",
      (s, d) => {
        import graft.sketch.FreqFunctions._
        T(s, d, "documents")
          .select(explode(TextAnalysis.words(col("text"))).as("term"))
          .agg(freq_topk(freq_sketch(col("term"), capacity = 256), 20).as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.term").as("term"), col("e.estimate").as("estimate"),
            col("e.max_error").as("max_error"))
      },
      Some(s"""WITH w AS (SELECT $duckWords AS w FROM documents),
               t AS (SELECT unnest(w) AS term FROM w)
               SELECT term, count(*)::BIGINT AS estimate, 0::BIGINT AS max_error
               FROM t GROUP BY 1
               ORDER BY estimate DESC, term LIMIT 20""")),

    // GPT-style sequence packing (concat-and-chunk): documents laid end
    // to end per lang shard in doc_id order, 2048-token packs, docs may
    // straddle boundaries; the oracle re-derives every pack coordinate
    // from a window cumulative sum
    Q("q_pack_stream",
      (s, d) => Packing.packStream(T(s, d, "documents"),
        "lang", "doc_id", "n_chars", capacity = 2048)
        .select("doc_id", "lang", "tok_start", "pack_id", "pack_offset",
          "n_packs_spanned"),
      Some("""WITH c AS (
                SELECT doc_id, lang, n_chars,
                  (sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_chars)::BIGINT AS tok_start
                FROM documents)
              SELECT doc_id, lang, tok_start,
                (tok_start // 2048)::BIGINT AS pack_id,
                (tok_start % 2048)::BIGINT AS pack_offset,
                (((tok_start + greatest(n_chars, 1) - 1) // 2048)
                  - (tok_start // 2048) + 1)::BIGINT AS n_packs_spanned
              FROM c""")),

    // web-curation family: URLs are injected deterministically (the
    // synthetic corpus has none) with identical concat arithmetic on both
    // sides; every regex is RE2-safe and shared verbatim with the oracle
    Q("q_url_signals",
      (s, d) => {
        val t2 = T(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" see http://h"),
            (col("doc_id") % 50).cast("string"),
            lit("."),
            when(col("doc_id") % 7 === 0, lit("bad.test"))
              .otherwise(lit("example.test")),
            lit("/p/"), col("doc_id").cast("string"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" and https://Extra.Example.test/x?q="),
                col("doc_id").cast("string"))).otherwise(lit(""))))
        // domains is an ARRAY internally; serialized at the gate surface
        // (first-appearance order, '|' join) for the driver comparer
        WebText.urlSignals(t2, "doc_id", "text")
          .select(col("doc_id"), col("n_urls"),
            array_join(col("domains"), "|").as("domains"), col("top_domain"))
      },
      Some(s"""WITH t AS (
                 SELECT doc_id, text || ' see http://h' || (doc_id % 50)::VARCHAR ||
                   '.' || (CASE WHEN doc_id % 7 = 0 THEN 'bad.test'
                                   ELSE 'example.test' END) ||
                   '/p/' || doc_id::VARCHAR ||
                   (CASE WHEN doc_id % 3 = 0
                        THEN ' and https://Extra.Example.test/x?q=' || doc_id::VARCHAR
                        ELSE '' END) AS text2
                 FROM documents),
               u AS (SELECT doc_id,
                       regexp_extract_all(text2, 'https?://[^\\s<>"'']+') AS urls
                     FROM t),
               ds AS (SELECT doc_id, urls,
                        list_transform(urls, x ->
                          lower(regexp_extract(x,
                            'https?://([^/\\s:?#<>"'']+)', 1))) AS dall
                      FROM u)
               SELECT doc_id, len(urls)::BIGINT AS n_urls,
                 array_to_string(
                   list_filter(dall, (x, i) -> list_position(dall, x) = i),
                   '|') AS domains,
                 coalesce(list_filter(dall, (x, i) -> list_position(dall, x) = i)[1],
                          '') AS top_domain
               FROM ds""")),

    Q("q_domain_filter",
      (s, d) => {
        import s.implicits._
        val t2 = T(s, d, "documents").withColumn("text",
          concat(col("text"), lit(" http://h"),
            (col("doc_id") % 50).cast("string"),
            lit("."),
            when(col("doc_id") % 7 === 0, lit("bad.test"))
              .otherwise(lit("example.test")),
            lit("/p/"), col("doc_id").cast("string")))
        val blocked = Seq("bad.test", "h3.example.test").toDF("domain")
        WebText.filterByDomainBlocklist(t2, "doc_id", "text", blocked, "domain")
          .select("doc_id", "lang", "n_chars")
      },
      Some("""WITH t AS (
                SELECT doc_id, lang, n_chars,
                  'h' || (doc_id % 50)::VARCHAR || '.' ||
                  (CASE WHEN doc_id % 7 = 0 THEN 'bad.test'
                        ELSE 'example.test' END) AS domain
                FROM documents),
              m AS (
                SELECT doc_id, lang, n_chars,
                  list_filter(
                    list_transform(range(1, len(string_split(domain, '.')) + 1),
                      i -> array_to_string(string_split(domain, '.')[i:], '.')),
                    s -> s IN ('bad.test', 'h3.example.test')) AS hits
                FROM t)
              SELECT doc_id, lang, n_chars FROM m WHERE len(hits) = 0""")),

    Q("q_html_strip",
      (s, d) => {
        val html = T(s, d, "documents").withColumn("text",
          concat(
            lit("<html><head><title>T</title><style>body{color:red}</style>" +
              "</head><body class=\"c\"><h1>Doc "),
            col("doc_id").cast("string"),
            lit("</h1>\n<p>"), col("text"),
            lit(" &amp; more &lt;tags&gt; B&amp;lt;C</p><!-- hidden " +
              "<b>bold</b> --><script type=\"text/javascript\">var x=1; " +
              "</script></body></html>")))
        html.select(col("doc_id"), WebText.stripMarkup(col("text")).as("clean"))
      },
      Some("""WITH h AS (
                SELECT doc_id,
                  '<html><head><title>T</title><style>body{color:red}</style>' ||
                  '</head><body class="c"><h1>Doc ' || doc_id::VARCHAR ||
                  '</h1>' || chr(10) || '<p>' || text ||
                  ' &amp; more &lt;tags&gt; B&amp;lt;C</p><!-- hidden ' ||
                  '<b>bold</b> --><script type="text/javascript">var x=1; ' ||
                  '</script></body></html>' AS html
                FROM documents),
              s1 AS (SELECT doc_id,
                regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
                FROM h),
              s2 AS (SELECT doc_id,
                regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM s1),
              s3 AS (SELECT doc_id,
                regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM s2),
              s4 AS (SELECT doc_id,
                regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s3),
              s5 AS (SELECT doc_id,
                replace(replace(replace(replace(replace(replace(t,
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s4)
              SELECT doc_id,
                trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean
              FROM s5""")),

    // exact-substring span dedup: every word 8-gram occurrence shared by
    // >= 2 distinct docs, with 0-based positions in normalized word
    // space; the gid is the 62-bit two-polynomial hash (SimHash's
    // portable combination) so occurrence-scale corpora don't birthday
    Q("q_dup_spans",
      (s, d) => Dedup.duplicateSpans(Tdocs(s, d),
        "doc_id", "text", windowWords = 8, minDocs = 2),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               wins AS (SELECT doc_id, i AS pos,
                          array_to_string(w[i+1:i+8], ' ') AS gram
                        FROM w, unnest(range(0, greatest(len(w)-7, 0)::BIGINT)) AS t(i)),
               ids AS (SELECT doc_id, pos, (${duckFp("gram")} + ${duckFp("gram", 37)} * 2147483648) AS gid FROM wins),
               shared AS (SELECT gid FROM ids GROUP BY gid
                          HAVING count(DISTINCT doc_id) >= 2)
               SELECT doc_id, pos::INT AS pos, gid FROM ids
               WHERE gid IN (SELECT gid FROM shared)""")),

    // the Lee-et-al-style transform built on the same span frame: cut
    // every word covered by a shared 8-gram, keep untouched docs verbatim
    Q("q_span_removal",
      (s, d) => Dedup.removeSharedSpans(Tdocs(s, d),
        "doc_id", "text", windowWords = 8, minDocs = 2),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               wins AS (SELECT doc_id, i AS pos,
                          array_to_string(w[i+1:i+8], ' ') AS gram
                        FROM w, unnest(range(0, greatest(len(w)-7, 0)::BIGINT)) AS t(i)),
               ids AS (SELECT doc_id, pos, (${duckFp("gram")} + ${duckFp("gram", 37)} * 2147483648) AS gid FROM wins),
               shared AS (SELECT gid FROM ids GROUP BY gid
                          HAVING count(DISTINCT doc_id) >= 2),
               starts AS (SELECT doc_id, list_sort(list(pos)) AS starts
                          FROM ids WHERE gid IN (SELECT gid FROM shared)
                          GROUP BY doc_id)
               SELECT d.doc_id,
                 CASE WHEN s.starts IS NULL THEN d.text
                      ELSE coalesce(array_to_string(list_filter(w.w, (x, i) ->
                        len(list_filter(s.starts,
                          st -> st <= i-1 AND i-1 < st+8)) = 0), ' '), '')
                 END AS text
               FROM documents d
               JOIN w ON w.doc_id = d.doc_id
               LEFT JOIN starts s ON s.doc_id = d.doc_id""")),

    // per-doc OOV rate against a Bloom vocabulary built from the first
    // 50 docs' words (fpp 1e-8 → the oracle's exact list-membership
    // restatement holds); zero joins — the vocab rides as a blob literal
    Q("q_oov_rate",
      (s, d) => {
        import graft.sketch.BloomFunctions
        val docs = T(s, d, "documents")
        val blob = docs.where(col("doc_id") < 50)
          .select(explode(TextAnalysis.words(col("text"))).as("w"))
          .agg(BloomFunctions.bloom_agg(col("w"), 10000L, 1e-8).as("b"))
          .head().getAs[Array[Byte]](0)
        TextAnalysis.oovSignals(docs, "doc_id", "text", blob)
      },
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               v AS (SELECT list(DISTINCT t) AS vl
                     FROM (SELECT unnest(w) AS t FROM w WHERE doc_id < 50)),
               m AS (SELECT doc_id, len(w)::BIGINT AS n_words,
                       len(list_filter(w, t -> NOT list_contains(v.vl, t)))::BIGINT
                         AS n_oov
                     FROM w, v)
               SELECT doc_id, n_words, n_oov,
                 CASE WHEN n_words > 0
                      THEN round(n_oov::DOUBLE / n_words, 6) ELSE 0.0 END AS oov_rate
               FROM m""")),

    // deterministic per-group top-k (quality-budgeted selection): same
    // window-sort family as sessionize — one shuffle on the group key —
    // with the HotKeys guard available for degenerate groups
    Q("q_topk_per_group",
      (s, d) => Sampling.topKPerGroup(T(s, d, "documents"),
        Seq("source"), col("n_chars"), col("doc_id"), k = 3)
        .select("doc_id", "source", "n_chars", "rank"),
      Some("""WITH r AS (
                SELECT doc_id, source, n_chars, row_number() OVER
                  (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rank
                FROM documents)
              SELECT doc_id, source, n_chars, rank::INT AS rank
              FROM r WHERE rank <= 3""")),

    // C4 page filter (Raffel et al. 2020 §2.2): one planted violator
    // per rule class, injected deterministically by doc_id residue; the
    // oracle restates the line keep-predicate and every page verdict
    // (reasons serialized — the driver comparer cannot sort arrays)
    Q("q_c4",
      (s, d) => {
        val t2 = concat(
          lit("A good first sentence with plenty of words here.\n"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("This page contains Lorem Ipsum filler text honestly.\n"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("function f() { return broken markup }\n")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("Please enable JavaScript to view the comments properly.\n"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit("The word zqnaughty appears right here in this sentence.\n"))
            .otherwise(lit("")),
          col("text"))
        TextAnalysis.c4Filter(
          T(s, d, "documents").select(col("doc_id"), t2.as("text")),
          "text", badWords = Seq("zqnaughty"))
          .select(col("doc_id"), col("clean_text"), col("n_sentences"),
            array_join(col("reasons"), "|").as("reasons"), col("keep"))
      },
      Some {
        val inj = """'A good first sentence with plenty of words here.' || chr(10) ||
            CASE WHEN doc_id % 5 = 0
                 THEN 'This page contains Lorem Ipsum filler text honestly.' || chr(10)
                 ELSE '' END ||
            CASE WHEN doc_id % 7 = 0
                 THEN 'function f() { return broken markup }' || chr(10) ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
                 THEN 'Please enable JavaScript to view the comments properly.' || chr(10)
                 ELSE '' END ||
            CASE WHEN doc_id % 11 = 0
                 THEN 'The word zqnaughty appears right here in this sentence.' || chr(10)
                 ELSE '' END || text"""
        s"""WITH t AS (SELECT doc_id, $inj AS text FROM documents),
            c AS (SELECT doc_id, text,
                    coalesce(array_to_string(list_filter(
                      string_split(text, chr(10)), l ->
                        regexp_matches(trim(l), '[.!?"]$$')
                        AND len(${duckWordsOf("l")}) >= 5
                        AND NOT regexp_matches(lower(l), '\\bjavascript\\b')),
                      chr(10)), '') AS clean_text
                  FROM t),
            v AS (SELECT doc_id, clean_text,
                    len(regexp_extract_all(clean_text, '[.!?]+'))::BIGINT
                      AS n_sentences,
                    list_filter([
                      CASE WHEN contains(lower(text), 'lorem ipsum')
                           THEN 'lorem_ipsum' END,
                      CASE WHEN contains(text, '{') THEN 'curly_brace' END,
                      CASE WHEN len(list_filter($duckWords,
                             w -> w = 'zqnaughty')) > 0 THEN 'bad_words' END,
                      CASE WHEN len(regexp_extract_all(clean_text, '[.!?]+')) < 3
                           THEN 'too_few_sentences' END
                    ], x -> x IS NOT NULL) AS reasons
                  FROM c)
            SELECT doc_id, clean_text, n_sentences,
                   coalesce(array_to_string(reasons, '|'), '') AS reasons,
                   (len(reasons) = 0) AS keep
            FROM v"""
      }),

    // temperature-scaled source mixing (tau = 0.5): weights sqrt(n_s)
    // via the IEEE sqrt-chain, the binding-source/fraction math and the
    // ordered weight-sum fold restated verbatim (the q_mix_sources
    // machinery with census-derived weights)
    Q("q_temperature_mix",
      (s, d) => Sampling.temperatureMix(
        T(s, d, "documents"),
        key = concat(col("doc_id").cast("string"), lit("#"), col("source")),
        sourceCol = "source", tau = 0.5,
        hash = TextAnalysis.fingerprint(_))._1
        .select("doc_id", "source"),
      Some(s"""WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents
                          WHERE source IS NOT NULL GROUP BY 1),
               w AS (SELECT source, n, sqrt(n::DOUBLE) AS wt FROM c),
               ws AS (SELECT list_reduce(list(wt ORDER BY source),
                               (a, b) -> a + b) AS wsum FROM w),
               b AS (SELECT source AS bsrc,
                       n::DOUBLE / (wt / ws.wsum) AS total
                     FROM w, ws
                     ORDER BY n::DOUBLE / (wt / ws.wsum) ASC, source ASC
                     LIMIT 1),
               f AS (SELECT w.source,
                       CASE WHEN w.source = b.bsrc THEN 1000000
                            ELSE trunc(least(1.0,
                              (w.wt / ws.wsum) * b.total / w.n) * 1000000)::BIGINT
                       END AS cut
                     FROM w, ws, b)
               SELECT d.doc_id, d.source FROM documents d JOIN f USING (source)
               WHERE (${duckFp("CAST(doc_id AS VARCHAR) || '#' || source")}
                      % 1000000) < f.cut""")),

    // deterministic exact-k uniform sample: hash-rank prefix as
    // TakeOrderedAndProject; collisions at 1e6 granularity tie-break by
    // the key string, so the boundary is total and restatable
    Q("q_sample_exact_k",
      (s, d) => Sampling.sampleExactK(
        T(s, d, "documents").select("doc_id", "source"),
        col("doc_id").cast("string"), k = 100,
        hash = TextAnalysis.fingerprint(_)),
      Some(s"""SELECT doc_id, source FROM documents
               ORDER BY (${duckFp("CAST(doc_id AS VARCHAR)")} % 1000000) ASC,
                        CAST(doc_id AS VARCHAR) ASC
               LIMIT 100""")),

    // distributed Lloyd refinement step over the full embedding corpus:
    // assignment restated via the q_ann_ivf pivot-centroid fold parity
    // (0-based cells), per-(cell, component) means as round-6 DECIMAL
    // sums (order-independent, exact) divided under the cross_entropy
    // double convention
    Q("q_refine_centroids",
      (s, d) => {
        val e = T(s, d, "embeddings")
        val pivots = Seq(7L, 68L, 129L, 190L, 251L, 312L, 373L, 434L)
        val centroids = e.where(col("vec_id").isin(pivots: _*))
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
        Similarity.refineCentroidsDf(e, "embedding", dim = 64, centroids)
      },
      Some("""WITH ev AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
              piv AS (
                SELECT row_number() OVER (ORDER BY vec_id) AS j, v AS c
                FROM ev WHERE vec_id IN (7,68,129,190,251,312,373,434)),
              dist AS (
                SELECT ev.vec_id, piv.j,
                  list_reduce(list_transform(range(1, 65),
                    i -> (ev.v[i]-piv.c[i])*(ev.v[i]-piv.c[i])), (a,b) -> a+b) AS dsq
                FROM ev, piv),
              ranked AS (
                SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY dsq, j) AS rn
                FROM dist),
              cells AS (SELECT vec_id, j - 1 AS cell FROM ranked WHERE rn = 1),
              x AS (SELECT cl.cell, u.i::INT AS j,
                      round(ev.v[u.i], 6)::DECIMAL(38,6) AS xr
                    FROM cells cl JOIN ev USING (vec_id),
                         unnest(range(1, 65)) AS u(i))
              SELECT cell, j, round((sum(xr)::DOUBLE) / count(*), 6) AS c,
                     count(*)::BIGINT AS n
              FROM x GROUP BY cell, j""")),

    // cross-batch exact dedup via a Bloom index of the ingested corpus
    // (the Dolma-style zero-join shape): docs 0..249 are "yesterday's"
    // corpus; the probe drops any doc whose text is indexed. fpp 1e-8
    // makes the oracle's exact NOT EXISTS restatement hold (the
    // q_oov_rate precedent); no false negatives by construction
    // winnowing fingerprints (MOSS): k=3-gram hashes, w=4 windows,
    // rightmost-tie minima — the gram hash, window fold (list_reduce
    // seeds with the first element ≡ folding from +inf), distinct
    // selection and explode restated verbatim
    Q("q_winnow",
      (s, d) => Dedup.winnowFingerprints(
        T(s, d, "documents"), "doc_id", "text", k = 3, w = 4),
      Some(s"""WITH w AS (SELECT doc_id, $duckWords AS w FROM documents),
               g AS (SELECT doc_id,
                       list_transform(range(0, greatest(len(w) - 2, 0)),
                         i -> ${duckFp("array_to_string(w[i+1:i+3], ' ')")}) AS g
                     FROM w),
               s AS (SELECT doc_id, g, len(g) AS n FROM g WHERE len(g) >= 1),
               sel AS (SELECT doc_id,
                         -- (h, p) packed into one BIGINT (h < 2^31, so
                         -- h*2^32 + p is exact): DuckDB's list_distinct
                         -- cannot hash STRUCT elements
                         list_distinct(list_transform(
                           range(0, greatest(n - 4, 0) + 1),
                           j -> list_reduce(
                             list_transform(range(j, least(j + 4, n)),
                               i -> g[i+1] * 4294967296 + i),
                             (a, b) -> CASE WHEN b // 4294967296 <= a // 4294967296
                                            THEN b ELSE a END))) AS sels
                       FROM s),
               u AS (SELECT doc_id, unnest(sels) AS sl FROM sel)
               SELECT doc_id, (sl % 4294967296)::INT AS pos,
                      sl // 4294967296 AS fp FROM u""")),

    // winnowing overlap pairs (the MOSS consumer of q_winnow's
    // selections): corpus ∪ prefixed copies (ids +1e6) plants pairs
    // whose shared run is everything past the perturbed prefix; the
    // oracle restates selection (q_winnow's packed-struct argmin) +
    // distinct-fp sets + the fingerprint-keyed pair join + coverage.
    // Coverage divisions are exact-int / exact-int in IEEE double —
    // bit-identical across engines
    Q("q_winnow_pairs",
      (s, d) => {
        val base = T(s, d, "documents").select(col("doc_id"), col("text"))
        val copies = base.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("zz"), pmod(col("doc_id"), lit(5)).cast("string"),
            lit(" "), coalesce(col("text"), lit(""))).as("text"))
        Dedup.winnowOverlaps(base.unionByName(copies), "doc_id", "text",
          k = 3, w = 4, minShared = 2)
      },
      Some(s"""WITH t AS (
                 SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000 AS doc_id,
                        'zz' || (doc_id % 5) || ' ' || coalesce(text, '') AS text
                 FROM documents),
               w AS (SELECT doc_id, ${duckWordsOf("text")} AS w FROM t),
               g AS (SELECT doc_id,
                       list_transform(range(0, greatest(len(w) - 2, 0)),
                         i -> ${duckFp("array_to_string(w[i+1:i+3], ' ')")}) AS g
                     FROM w),
               s AS (SELECT doc_id, g, len(g) AS n FROM g WHERE len(g) >= 1),
               sel AS (SELECT doc_id,
                         list_distinct(list_transform(
                           range(0, greatest(n - 4, 0) + 1),
                           j -> list_reduce(
                             list_transform(range(j, least(j + 4, n)),
                               i -> g[i+1] * 4294967296 + i),
                             (a, b) -> CASE WHEN b // 4294967296 <= a // 4294967296
                                            THEN b ELSE a END))) AS sels
                       FROM s),
               f AS (SELECT DISTINCT doc_id, sl // 4294967296 AS fp
                     FROM (SELECT doc_id, unnest(sels) AS sl FROM sel)),
               n AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id),
               p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            count(*) AS shared_fps
                     FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
                     GROUP BY 1, 2 HAVING count(*) >= 2)
               SELECT p.id_a, p.id_b, p.shared_fps,
                      p.shared_fps::DOUBLE / na.n AS coverage_a,
                      p.shared_fps::DOUBLE / nb.n AS coverage_b
               FROM p JOIN n na ON p.id_a = na.doc_id
                      JOIN n nb ON p.id_b = nb.doc_id""")),

    // typed PII span extraction over the q_pii planted corpus: per-kind
    // regexp_extract_all with 0-based occurrence index, stacked
    Q("q_pii_spans",
      (s, d) => {
        val id = col("doc_id")
        val suffix = when(pmod(id, lit(3)) === 0,
            concat(lit(" reach u"), id, lit("@ex"), pmod(id, lit(7)),
              lit(".com from 10."), pmod(id, lit(256)), lit(".0."), pmod(id, lit(100))))
          .when(pmod(id, lit(3)) === 1,
            concat(lit(" call 555-01"), pmod(id, lit(10)), lit("-"),
              lpad(pmod(id, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))
        TextAnalysis.piiSpans(
          T(s, d, "documents").select(id, concat(col("text"), suffix).as("text")),
          "doc_id", "text")
      },
      Some {
        val kinds = TextAnalysis.piiPatterns.map { case (name, pat) =>
          s"""SELECT doc_id, '$name' AS kind,
                regexp_extract_all(text, '$pat') AS ms FROM t"""
        }.mkString("\n              UNION ALL\n              ")
        s"""WITH t AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 3 = 0
                       THEN ' reach u' || doc_id || '@ex' || (doc_id % 7) ||
                            '.com from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100)
                     WHEN doc_id % 3 = 1
                       THEN ' call 555-01' || (doc_id % 10) || '-' ||
                            lpad((doc_id % 10000)::VARCHAR, 4, '0')
                     ELSE '' END AS text
              FROM documents),
            k AS ($kinds)
            SELECT doc_id, kind, (i - 1)::INT AS match_idx, ms[i] AS span
            FROM k, unnest(range(1, len(ms) + 1)) AS r(i)
            WHERE len(ms) > 0"""
      }),

    Q("q_dedup_bloom_cross",
      (s, d) => {
        val docs = T(s, d, "documents")
        val index = Dedup.buildExactIndex(
          docs.where(col("doc_id") < 250), col("text"), 10000L, 1e-8)
        Dedup.dropSeenExact(docs, col("text"), index).select("doc_id")
      },
      Some("""SELECT doc_id FROM documents d
              WHERE NOT EXISTS (
                SELECT 1 FROM documents r
                WHERE r.doc_id < 250 AND r.text = d.text)""")),

    // CCNet-style rank buckets over the (already-oracled) quality score:
    // the oracle restates the SAME labels via one plain global
    // row_number — exactly what the cell-decomposed implementation must
    // equal, since the coarse cell grid is monotone in the score.
    // Weights 3:3:4 so the cumulative fractions (0.3, 0.6) are the
    // correctly-rounded doubles the SQL literals denote; NULL quality
    // (NULL text) ranks first in both engines via explicit NULLS FIRST
    Q("q_rank_buckets",
      (s, d) => Sampling.rankBuckets(
        T(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q")),
        col("q"), Seq("head" -> 3.0, "middle" -> 3.0, "tail" -> 4.0),
        col("doc_id"))
        .select("doc_id", "bucket"),
      Some(s"""WITH t AS (
                 SELECT doc_id, text, length(text) AS n, $duckWords AS w,
                   length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1) AS alpha_ratio
                 FROM documents),
               m AS (
                 SELECT doc_id, n, alpha_ratio,
                   CASE WHEN len(w) > 0 THEN
                     length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / len(w)
                   ELSE 0.0 END AS mean_word_len
                 FROM t),
               q AS (
                 SELECT doc_id, round(
                   (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                         WHEN n >= 20 AND n < 100 THEN 0.5 ELSE 0.0 END) * 0.4
                   + alpha_ratio * 0.3
                   + (CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12
                           THEN 1.0 ELSE 0.3 END) * 0.3, 4) AS quality
                 FROM m),
               r AS (
                 SELECT doc_id,
                   row_number() OVER (ORDER BY quality ASC NULLS FIRST,
                                      doc_id ASC) AS rk,
                   (SELECT count(*) FROM q) AS nn
                 FROM q)
               SELECT doc_id,
                 CASE WHEN rk <= floor(nn * 0.3) THEN 'head'
                      WHEN rk <= floor(nn * 0.6) THEN 'middle'
                      ELSE 'tail' END AS bucket
               FROM r""")),

    // trainable BPE tokenizer — the q_compression-style INVARIANT
    // oracle: the merge table depends on training, so token VALUES are
    // not SQL-restatable, but the tokenizer's defining properties are,
    // and each would flip under a broken trainer/encoder: round_trip
    // (token concatenation IS the document — the whitespace-preserving
    // segmentation contract), token_count_bounded (every token ≥ 1
    // char, empty ⇔ empty), deterministic (two separate kernel
    // invocations agree; concat(text,'') defeats subexpression
    // elimination), ids_align (one id per token)
    Q("q_bpe_tokenize",
      (s, d) => {
        val docs = Tdocs(s, d)
        val model = Bpe.train(docs, "text", numMerges = 200, sampleRows = 2000)
        val t = coalesce(col("text"), lit(""))
        val toks = Bpe.encode(col("text"), model)
        val toksAgain = Bpe.encode(concat(t, lit("")), model)
        docs.select(col("doc_id"),
          (concat_ws("", toks) === t).as("round_trip"),
          (size(toks) <= length(t) &&
            ((length(t) === 0) === (size(toks) === 0))).as("token_count_bounded"),
          (toks === toksAgain).as("deterministic"),
          (size(Bpe.tokenIds(toks, model)) === size(toks)).as("ids_align"))
      },
      Some("""SELECT doc_id, true AS round_trip, true AS token_count_bounded,
                     true AS deterministic, true AS ids_align
              FROM documents""")),

    // Dolma paragraph-mode cross-batch dedup: three-paragraph docs with
    // a unique intro, a 40-residue shared banner, and a unique tail;
    // yesterday = docs < 250 (all residues covered), so every probe
    // doc's banner drops while intro/tail survive. fpp 1e-8 makes the
    // oracle's exact NOT-IN restatement hold (the q_dedup_bloom_cross
    // precedent); the oracle restates the OPERATOR (per-paragraph
    // membership + ordered rejoin), not the planted outcome
    Q("q_dedup_bloom_paras",
      (s, d) => {
        val body = translate(coalesce(col("text"), lit("")), "\n", " ")
        val wrapped = T(s, d, "documents").withColumn("text",
          concat(lit("intro "), col("doc_id").cast("string"),
            lit("\n\nbanner "), pmod(col("doc_id"), lit(40)).cast("string"),
            lit("\n\ntail "), body))
        val index = Dedup.buildParagraphIndex(
          wrapped.where(col("doc_id") < 250), "text", 10000L, 1e-8)
        Dedup.dropSeenParagraphs(wrapped.where(col("doc_id") >= 250),
          "text", index).select("doc_id", "text")
      },
      Some("""WITH wrapped AS (
                SELECT doc_id,
                  ['intro ' || doc_id::VARCHAR,
                   'banner ' || (doc_id % 40)::VARCHAR,
                   'tail ' || replace(coalesce(text, ''), chr(10), ' ')] AS ps
                FROM documents),
              paras AS (
                SELECT doc_id, i, ps[i] AS p
                FROM wrapped, unnest(generate_series(1, 3)) AS t(i)),
              yday AS (
                SELECT DISTINCT p FROM paras
                WHERE doc_id < 250 AND trim(p) <> ''),
              kept AS (
                SELECT doc_id, i, p FROM paras
                WHERE doc_id >= 250 AND
                  (trim(p) = '' OR p NOT IN (SELECT p FROM yday)))
              SELECT w.doc_id,
                coalesce(string_agg(k.p, chr(10) || chr(10) ORDER BY k.i), '')
                  AS text
              FROM wrapped w LEFT JOIN kept k ON k.doc_id = w.doc_id
              WHERE w.doc_id >= 250
              GROUP BY w.doc_id""")),
  )
}
