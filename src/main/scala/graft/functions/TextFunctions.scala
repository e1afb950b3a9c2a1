package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tokenization / shingling / text-statistics column builders for the
  * text-analysis and dedup extension surface. All pure built-in Catalyst
  * expressions (codegen'd, no UDFs); every formula is replicable in ANSI
  * SQL for the DuckDB oracle.
  */
object TextFunctions {
  private val emptyStrArray = array().cast(ArrayType(StringType))

  /** Whitespace tokenization (fixture texts are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles of a token array; [] when < n tokens.
    * (The `when` guard matters: Spark's `sequence(1, k)` with k < 1 would
    * generate a descending sequence, not an empty one.)
    */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(emptyStrArray)

  /** Word n-grams with multiplicity preserved ([[wordShingles]] distincts);
    * [] when < n tokens. Repetition metrics need duplicate n-grams counted.
    *
    * Built as n−1 chained `zip_with`s over shifted views of the token
    * array — O(n·len) work per document. The tempting per-position
    * `transform(sequence(…), i -> slice(toks, i, n))` is O(len²): `slice`
    * copies per element, and higher-order functions evaluate interpreted
    * (outside whole-stage codegen), which made the quadratic form dominate
    * a whole bench run (measured 14.8 s → 0.6 s for `text_gopher` at
    * sf0.1 after this rewrite).
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    val g = (1 until n).foldLeft(slice(toks, lit(1), m)) {
      case (acc, i) => zip_with(acc, slice(toks, lit(i + 1), m),
        (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n, g).otherwise(emptyStrArray)
  }

  /** Exact Jaccard similarity of two set-valued (distinct) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  /** Tokens kept that appear in `vocab` (e.g. a stopword list). */
  def countIn(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isin(vocab.map(lit): _*)))

  /** Rolling polynomial fingerprint (Karp-Rabin style) over a token array:
    * left fold of `acc*31 + (ascii(tok)*131 + length(tok))  mod 1e9+7`.
    * Sequential, integer-exact, replicable via DuckDB `list_reduce`.
    */
  def rollingFingerprint(toks: Column): Column = {
    val MOD = 1000000007L
    aggregate(
      toks,
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + (ascii(t).cast(LongType) * lit(131L) + length(t)), lit(MOD)))
  }

  /** English-ish stopword list used by quality scoring (public knowledge). */
  val stopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for", "on", "with")

  /** Tracking query parameters stripped by [[canonicalizeUrl]]. */
  val trackingParamPrefixes: Seq[String] = Seq("utm_", "gclid", "fbclid")

  /** URL canonicalization for crawl dedup — the normalization every web
    * corpus runs before URL-level dedup, as pure built-in expressions
    * (one narrow codegen'd projection; every step replicable in the
    * oracle SQL):
    *
    *  1. fragment dropped;
    *  2. scheme and host lowercased (path case PRESERVED — it is
    *     significant);
    *  3. default ports stripped (http:80, https:443), explicit others
    *     kept;
    *  4. one trailing slash stripped from the path;
    *  5. query parameters: tracking params (utm_*, gclid*, fbclid*)
    *     dropped, the rest SORTED so parameter order never splits a
    *     URL's identity; an emptied query drops its '?'.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = split(u, "#").getItem(0)
    val qsplit = split(noFrag, "\\?")
    val base = qsplit.getItem(0)
    val rawQuery = when(size(qsplit) > 1, element_at(qsplit, 2))
    val scheme = lower(regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(base, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostport = split(rest, "/").getItem(0)
    val host = lower(split(hostport, ":").getItem(0))
    val portArr = split(hostport, ":")
    val port = when(size(portArr) > 1, element_at(portArr, 2))
    val keepPort = port.isNotNull &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"))
    val path = regexp_replace(
      rest.substr(length(hostport) + 1, length(rest)), "/$", "")
    val kept = filter(split(rawQuery, "&"), p =>
      !(p.like("utm\\_%") || p.like("gclid%") || p.like("fbclid%") ||
        p === ""))
    val sortedQ = array_join(array_sort(kept), "&")
    concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(rawQuery.isNotNull && sortedQ =!= "", concat(lit("?"), sortedQ))
        .otherwise(lit("")))
  }
}
