package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-corpus curation primitives: URL/domain signals, domain-blocklist
  * filtering, and HTML markup stripping — the pre-tokenization steps a
  * crawl-derived training corpus runs before the quality/dedup stages in
  * [[Curation]]. No reference counterpart (jsen validates, it does not
  * curate); these follow the published C4/RefinedWeb-style pipeline
  * shapes re-expressed as narrow Catalyst projections.
  *
  * Every regex here is RE2-safe (no backreferences, no lookaround) so the
  * DuckDB gate oracles can share the pattern literally.
  */
object WebText {

  /** Conservative URL matcher: scheme + everything to the next
    * whitespace/angle-bracket/quote. Shared verbatim with the oracles. */
  val UrlPattern = "https?://[^\\s<>\"']+"

  /** Capture group = the authority host (stops at path/port/query). */
  val DomainGroupPattern = "https?://([^/\\s:?#<>\"']+)"

  /** All URLs appearing in a text column (empty array for none/NULL). */
  def urls(text: Column): Column =
    regexp_extract_all(coalesce(text, lit("")), lit(UrlPattern), lit(0))

  /** Lower-cased host of a single URL ("" when the URL has no host). */
  def domainOf(url: Column): Column =
    lower(regexp_extract(url, DomainGroupPattern, 1))

  /** Distinct lower-cased domains mentioned in a text column, in first-
    * occurrence order (array_distinct keeps the first copy). */
  def domains(text: Column): Column =
    array_distinct(transform(urls(text), u => domainOf(u)))

  /** Per-document URL signals: URL count, distinct domain list, and the
    * dominant (first) domain. Narrow projection — one regex scan per row,
    * no shuffle; at 100 TB this is scan-bound like the validators. */
  def urlSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // bind the url list once in its own projection: transform/filter
    // subtrees carry lambda variables, which Spark's subexpression
    // elimination skips (see TextAnalysis.repetitionSignals)
    df.select(col(idCol), urls(col(textCol)).as("_urls"))
      .select(
        col(idCol),
        size(col("_urls")).cast("long").as("n_urls"),
        array_distinct(transform(col("_urls"), u => domainOf(u))).as("domains"))
      .withColumn("top_domain",
        coalesce(try_element_at(col("domains"), lit(1)), lit("")))
  }

  /** The parent-suffix chain of a dotted host: a.b.c → [a.b.c, b.c, c].
    * Label counts are tiny (registrable names have 2-5), so the explode
    * is bounded — this is what turns suffix-blocklist matching into an
    * EQUI-join instead of an ends-with nested-loop join. */
  def domainSuffixes(domain: Column): Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts) - i + 1), "."))
  }

  /** Drop every document that mentions a blocked domain, where "blocked"
    * matches the exact host or any parent suffix (blocking "bad.test"
    * also blocks "cdn.bad.test") — the standard crawl-blocklist contract.
    *
    * Scale shape: the corpus derives (id, suffix) by two bounded narrow
    * explodes (URLs per doc, then ≤5 suffix labels per domain); the
    * blocklist — small by construction — is BROADCAST for the membership
    * equi-join; the matched id set is then anti-joined back, where AQE
    * broadcasts it (violating ids are a sliver of the corpus). The corpus
    * itself never shuffles. */
  def filterByDomainBlocklist(corpus: DataFrame, idCol: String,
                              textCol: String, blocked: DataFrame,
                              blockedCol: String): DataFrame = {
    val sfx = corpus
      .select(col(idCol).as("_id"),
        explode(domains(col(textCol))).as("_domain"))
      .select(col("_id"), explode(domainSuffixes(col("_domain"))).as("_sfx"))
    val blk = broadcast(blocked.select(lower(col(blockedCol)).as("_sfx")).distinct())
    val bad = sfx.join(blk, Seq("_sfx")).select(col("_id")).distinct()
    corpus.join(bad.withColumnRenamed("_id", idCol), Seq(idCol), "left_anti")
  }

  /** Canonicalize a URL for URL-level dedup (the crawl-frontier /
    * WARC-dedup normalization): lower-case scheme and host, strip a
    * leading `www.`, drop the default port (`:80` for http, `:443` for
    * https — others kept), drop the fragment, drop tracking parameters
    * (`utm_*`, `gclid`, `fbclid`), sort the remaining query parameters
    * byte-ascending, collapse the path's trailing slashes (empty path →
    * `/`). Inputs that don't parse as scheme://host URLs pass through
    * trimmed but otherwise untouched (no guessing). Pure narrow Column
    * chain — RE2-safe regexes shared verbatim with the oracle, scan
    * speed at any corpus size; key [[Dedup.keepCanonical]] on the
    * result for URL-level dedup. NULL → "". */
  def canonicalizeUrl(url: Column): Column = {
    val t = trim(coalesce(url, lit("")))
    val scheme = lower(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(t, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = regexp_extract(rest, "^([^/?#]*)", 1)
    val tail = rest.substr(length(hostport) + lit(1), length(rest))
    val host = regexp_replace(
      lower(regexp_extract(hostport, "^([^:]+)", 1)), "^www\\.", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val path = regexp_extract(tail, "^([^?#]*)", 1)
    val query = regexp_extract(tail, "^[^?#]*\\?([^#]*)", 1)
    val strippedPath = regexp_replace(path, "/+$", "")
    val normPath = when(strippedPath === "", lit("/")).otherwise(strippedPath)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=.*)?$"))
    val normQuery = array_join(array_sort(params), "&")
    val normPort = when(port =!= "" &&
        !((scheme === "http" && port === "80") ||
          (scheme === "https" && port === "443")),
      concat(lit(":"), port)).otherwise(lit(""))
    when(scheme === "" || host === "", t).otherwise(
      concat(scheme, lit("://"), host, normPort, normPath,
        when(normQuery =!= "", concat(lit("?"), normQuery)).otherwise(lit(""))))
  }

  // HTML entity decode table, applied AFTER tag removal; "&amp;" is
  // decoded last so "&amp;lt;" single-decodes to the literal text "&lt;"
  private val Entities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Strip HTML markup from a text column: script/style blocks (with
    * their contents), comments, then all remaining tags are replaced by a
    * space; the six universal entities are decoded; whitespace collapses
    * to single spaces and the result is trimmed. One narrow byte-level
    * kernel pass ([[graft.compile.StripMarkup]]) — no shuffle; replaces
    * the former eleven-`regexp_replace` chain (kept below as
    * [[stripMarkupChain]], the parity oracle StripMarkupSpec sweeps
    * against; the q_html_strip / q_curate_web DuckDB oracles restate the
    * chain in SQL, so the gate re-proves equivalence every round).
    * NULL → "". */
  def stripMarkup(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.compile.StripMarkup(
      ColumnBridge.expression(coalesce(text, lit("")))))
  }

  /** The original sequential regex chain — the executable specification
    * [[stripMarkup]]'s kernel is proven against (StripMarkupSpec:
    * ScalaCheck sweep + pathological corpus). Semantics are pass-exact:
    * script, then style, then comments, then tags (order matters on
    * interleaved blocks), entities with `&amp;` last, `\s+` collapse,
    * trim. */
  private[graft] def stripMarkupChain(text: Column): Column = {
    val t0 = coalesce(text, lit(""))
    val noScript = regexp_replace(t0, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Entities.foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(ent),
        java.util.regex.Matcher.quoteReplacement(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
