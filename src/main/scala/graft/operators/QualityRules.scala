package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q70: GOPHER-STYLE RULE FILTERING (Rae et al., "Scaling Language
  * Models: ... Gopher", 2021, arXiv:2112.11446 Appendix A) — the
  * rule battery every web-scale curation pipeline runs before any
  * model-based scoring: hard document-shape gates on word count,
  * mean word length, symbol density, alphabetic-word ratio, and
  * stopword presence. Unlike q23's continuous quality SCORES, this
  * emits the per-rule booleans and the conjunctive pass/fail — the
  * actual drop decision, attributable rule by rule.
  *
  * All ratios are integer parts-per-myriad (the q37 no-FP
  * discipline), so the whole battery is one pure-map projection,
  * hash-exact vs a DuckDB replay of the same list ops. Thresholds
  * are the paper's structure with bounds calibrated to the synthetic
  * corpus so each data-dependent rule BITES non-degenerately
  * (probed: words 10–99 median 56, mean-wlen×100 370–530, stopword
  * p10 = 0); the symbol and alphabetic rules cannot fire on this
  * all-alpha corpus and are exercised by planted documents in the
  * spec instead — kept because a real web corpus is where they earn
  * their place.
  *
  * Scale: a stateless narrow projection — no shuffle, no join; scan
  * prunes to (doc_id, text); composes with any pushdown. The
  * cheapest possible 100 TB pre-filter, which is the point of
  * rule-first curation.
  */
object QualityRules {

  private val MinWords = 20L
  private val MaxWords = 100000L
  private val MinWlenX100 = 300L
  private val MaxWlenX100 = 520L
  private val MinAlphaMyriad = 8000L
  private val MaxSymbolMyriad = 1000L
  private val MinStopwords = 1L
  private val Stopwords = Seq("the", "and", "of", "to", "is", "it", "that", "for")

  /** The tokenization every rule reads (shared by [[gopherRules]] and
    * [[gopherFilter]] so the two surfaces cannot drift).
    */
  private def toksExpr: Column =
    filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
      t => length(t) > 0)

  /** Raw counting metrics over a `toks` array column. */
  private def rawMetrics(toks: Column): Seq[Column] = {
    val stop = array(Stopwords.map(lit): _*)
    Seq(
      size(toks).cast("long").as("n_words"),
      aggregate(transform(toks, t => length(t).cast("long")),
        lit(0L), (a, b) => a + b).as("chars"),
      size(filter(toks, t => t.rlike("^[a-z]+$"))).cast("long").as("alpha_words"),
      size(filter(toks, t => t.rlike("#|\\.\\.\\."))).cast("long").as("sym_words"),
      size(filter(toks, t => array_contains(stop, t))).cast("long").as("n_stop"))
  }

  /** Integer ratio metrics from the raw counts (column references into
    * the previous projection).
    */
  private def ratioMetrics: Seq[Column] = Seq(
    when(col("n_words") === 0L, lit(0L))
      .otherwise(expr("chars * 100 div n_words")).as("wlen_x100"),
    when(col("n_words") === 0L, lit(0L))
      .otherwise(expr("alpha_words * 10000 div n_words")).as("alpha_myriad"),
    when(col("n_words") === 0L, lit(0L))
      .otherwise(expr("sym_words * 10000 div n_words")).as("symbol_myriad"))

  /** The five rule booleans (BIGINT 0/1) from the metric columns. */
  private def ruleCols: Seq[Column] = Seq(
    (col("n_words") >= MinWords && col("n_words") <= MaxWords).cast("long").as("r_words"),
    (col("wlen_x100") >= MinWlenX100 && col("wlen_x100") <= MaxWlenX100).cast("long").as("r_wlen"),
    (col("alpha_myriad") >= MinAlphaMyriad).cast("long").as("r_alpha"),
    (col("symbol_myriad") <= MaxSymbolMyriad).cast("long").as("r_symbol"),
    (col("n_stop") >= MinStopwords).cast("long").as("r_stop"))

  private def passCol: Column =
    (col("r_words") === 1L && col("r_wlen") === 1L && col("r_alpha") === 1L &&
      col("r_symbol") === 1L && col("r_stop") === 1L).cast("long")

  def gopherRules(documents: DataFrame): DataFrame = {
    val withM = documents
      .select(col("doc_id"), toksExpr.as("toks"))
      .select(col("doc_id") +: rawMetrics(col("toks")): _*)
    val m = withM.select(Seq(col("doc_id"), col("n_words")) ++
      ratioMetrics :+ col("n_stop"): _*)
    m.select(Seq(col("doc_id"), col("n_words"), col("wlen_x100"),
        col("alpha_myriad"), col("symbol_myriad"), col("n_stop")) ++ ruleCols: _*)
      .withColumn("pass", passCol)
  }

  /** The battery as an inline FILTER that preserves every input column
    * (r17): the q53/q103 chains' stage 0b uses this instead of running
    * [[gopherRules]] on a second copy of the normalized corpus and
    * joining the pass set back — the text prefix is evaluated ONCE and
    * there is no join. Exactly the rows gopherRules would pass
    * (identical metric/rule expressions, identical null semantics:
    * a NULL pass never satisfies pass = 1).
    */
  def gopherFilter(documents: DataFrame): DataFrame = {
    val cols = documents.columns.toIndexedSeq.map(col)
    documents
      .select(cols :+ toksExpr.as("toks"): _*)
      .select(cols ++ rawMetrics(col("toks")): _*)
      .select(cols ++ ratioMetrics :+ col("n_words") :+ col("n_stop"): _*)
      .select(cols ++ ruleCols: _*)
      .filter(passCol === 1L)
      .select(cols: _*)
  }

  /** The q70 oracle: the identical list ops and integer myriad
    * ratios replayed over the q33 tokenization.
    */
  def gopherRulesOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           x -> length(x) > 0) AS toks
       |  FROM documents),
       |m0 AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS BIGINT) AS chars,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS alpha_words,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '#|\\.\\.\\.'))) AS BIGINT) AS sym_words,
       |         CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','it','that','for'))) AS BIGINT) AS n_stop
       |  FROM t),
       |m AS (
       |  SELECT doc_id, n_words,
       |         CASE WHEN n_words = 0 THEN 0 ELSE chars * 100 // n_words END AS wlen_x100,
       |         CASE WHEN n_words = 0 THEN 0 ELSE alpha_words * 10000 // n_words END AS alpha_myriad,
       |         CASE WHEN n_words = 0 THEN 0 ELSE sym_words * 10000 // n_words END AS symbol_myriad,
       |         n_stop
       |  FROM m0)
       |SELECT doc_id, n_words, wlen_x100, alpha_myriad, symbol_myriad, n_stop,
       |       CAST(n_words >= $MinWords AND n_words <= $MaxWords AS BIGINT) AS r_words,
       |       CAST(wlen_x100 >= $MinWlenX100 AND wlen_x100 <= $MaxWlenX100 AS BIGINT) AS r_wlen,
       |       CAST(alpha_myriad >= $MinAlphaMyriad AS BIGINT) AS r_alpha,
       |       CAST(symbol_myriad <= $MaxSymbolMyriad AS BIGINT) AS r_symbol,
       |       CAST(n_stop >= $MinStopwords AS BIGINT) AS r_stop,
       |       CAST(n_words >= $MinWords AND n_words <= $MaxWords
       |            AND wlen_x100 >= $MinWlenX100 AND wlen_x100 <= $MaxWlenX100
       |            AND alpha_myriad >= $MinAlphaMyriad
       |            AND symbol_myriad <= $MaxSymbolMyriad
       |            AND n_stop >= $MinStopwords AS BIGINT) AS pass
       |FROM m""".stripMargin

  /** The `pass` conjunction as a JVM function, for per-record callers
    * outside a query plan — same tokenization contract as the Column battery
    * (trim + ROOT-locale lower + \\s+ split, empties dropped), same
    * integer myriad ratios, same thresholds. Null/blank text fails
    * (n_words = 0 misses MinWords), matching the batch filter's
    * null-drop semantics.
    */
  def gopherPassJvm(text: String): Boolean = {
    val toks =
      if (text == null) Array.empty[String]
      else text.replaceAll("^\\s+|\\s+$", "")
        .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val n = toks.length.toLong
    if (n < MinWords || n > MaxWords) return false
    val chars = toks.map(_.length.toLong).sum
    val alphaWords = toks.count(_.matches("[a-z]+")).toLong
    val symWords = toks.count(t => t.contains("#") || t.contains("...")).toLong
    val nStop = toks.count(Stopwords.contains).toLong
    val wlenX100 = chars * 100 / n
    val alphaMyriad = alphaWords * 10000 / n
    val symbolMyriad = symWords * 10000 / n
    wlenX100 >= MinWlenX100 && wlenX100 <= MaxWlenX100 &&
      alphaMyriad >= MinAlphaMyriad && symbolMyriad <= MaxSymbolMyriad &&
      nStop >= MinStopwords
  }

  /** The q70 pass predicate as an oracle CTE pair for chain replays
    * (q53): metrics over `srcCte`'s (doc_id, text), a `ruled` CTE
    * keeping only passing docs. Mirrors gopherRulesOracleSql minus
    * the per-rule reporting.
    */
  def gopherFilterCtes(srcCte: String, p: String = ""): String =
    s"""${p}r_m AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
       |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS BIGINT) AS chars,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '^[a-z]+$$'))) AS BIGINT) AS alpha_words,
       |         CAST(len(list_filter(toks, x -> regexp_matches(x, '#|\\.\\.\\.'))) AS BIGINT) AS sym_words,
       |         CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is','it','that','for'))) AS BIGINT) AS n_stop
       |  FROM (SELECT doc_id, list_filter(
       |          regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |          x -> length(x) > 0) AS toks
       |        FROM $srcCte) t),
       |${p}ruled AS MATERIALIZED (
       |  SELECT c.* FROM $srcCte c JOIN ${p}r_m USING (doc_id)
       |  WHERE n_words >= $MinWords AND n_words <= $MaxWords
       |    AND chars * 100 // n_words >= $MinWlenX100
       |    AND chars * 100 // n_words <= $MaxWlenX100
       |    AND alpha_words * 10000 // n_words >= $MinAlphaMyriad
       |    AND sym_words * 10000 // n_words <= $MaxSymbolMyriad
       |    AND n_stop >= $MinStopwords)""".stripMargin

  // ---------------------------------------------------------------- q77

  private val C4MinLineWords = 5L
  private val C4MinSentences = 3L

  /** q77: C4-STYLE LINE-LEVEL CLEANING (Raffel et al., "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", 2020, arXiv:1910.10683 §2.2) — the line-granular
    * companion to q70's document-shape battery, and the one cleaning
    * family the library lacked: q70/q23 gate WHOLE documents, q52/q71
    * cut DUPLICATED spans, but C4's recipe edits documents line by
    * line on intrinsic shape. Per line: keep iff it ends in a terminal
    * punctuation mark (`.` `!` `?` `"`) AND contains >= 5 words; per
    * page: drop iff it mentions "lorem ipsum" (case-insensitive),
    * contains a curly brace, or the cleaned text has fewer than 3
    * sentences. Output = the cleaned text plus per-rule booleans (the
    * q70 attributability contract: r_* = 1 means the rule PASSES) and
    * the conjunctive `pass`.
    *
    * Sentence count is the terminal-mark count of the KEPT text
    * (every kept line ends in one, so this is >= n_kept), computed as
    * a length difference over three plain `replace`s — byte-exact in
    * both engines, no regex dialect in play.
    *
    * Like q75, the synthetic corpus has no line structure (zero
    * newlines, zero punctuation — every raw doc would trivially fail),
    * so the registered query PLANTS lines deterministically from
    * (doc_id, word index) — see [[c4Plant]] — and the spec replays
    * hand-built documents; the operator itself never looks at doc_id.
    *
    * Scale: a stateless narrow projection — no shuffle, no join; the
    * scan prunes to (doc_id, text). Same class as q70: the cheap
    * pre-filter that runs FIRST at 100 TB, upstream of every
    * model-based score.
    */
  def c4Clean(documents: DataFrame): DataFrame = {
    val nWords = (l: Column) => size(filter(split(l, " "), w => w =!= lit("")))
    val isTerminal = (l: Column) =>
      l.substr(lit(-1), lit(1)).isin(".", "!", "?", "\"")
    // multi-select shape: `lines`/`kept`/`clean` are each referenced
    // more than once downstream — materialize so the lambda chain
    // evaluates once per doc (the §8 CollapseProject guard)
    val withKept = documents
      .select(col("doc_id"), col("text"), split(col("text"), "\n").as("lines"))
      .select(col("doc_id"), col("text"), col("lines"),
        filter(col("lines"),
          l => nWords(l) >= C4MinLineWords && isTerminal(l)).as("kept"))
    val withClean = withKept.select(col("doc_id"), col("text"),
      size(col("lines")).cast("long").as("nl"),
      size(col("kept")).cast("long").as("nk"),
      array_join(col("kept"), "\n").as("clean"))
    val withSent = withClean.select(col("doc_id"), col("text"), col("nl"),
      col("nk"), col("clean"),
      (length(col("clean")) - length(
        replace(replace(replace(col("clean"), lit("."), lit("")),
          lit("!"), lit("")), lit("?"), lit("")))).cast("long").as("ns"))
    val nul = col("text").isNull
    withSent.select(
      col("doc_id"),
      when(nul, lit(null).cast("string")).otherwise(col("clean")).as("clean_text"),
      when(nul, lit(0L)).otherwise(col("nl")).as("n_lines"),
      when(nul, lit(0L)).otherwise(col("nk")).as("n_kept"),
      when(nul, lit(0L)).otherwise(col("ns")).as("n_sent"),
      when(nul, lit(0L))
        .otherwise((!lower(col("text")).contains(lit("lorem ipsum"))).cast("long"))
        .as("r_lorem"),
      when(nul, lit(0L))
        .otherwise((!col("text").contains(lit("{"))).cast("long")).as("r_brace"),
      when(nul, lit(0L))
        .otherwise((col("ns") >= C4MinSentences).cast("long")).as("r_sent"),
      when(nul, lit(0L))
        .otherwise((col("nk") > 0L).cast("long")).as("r_lines"))
      .withColumn("pass",
        (col("r_lorem") === 1L && col("r_brace") === 1L &&
          col("r_sent") === 1L && col("r_lines") === 1L).cast("long"))
  }

  /** Deterministic line-structure planting for q77 (the q58/q75
    * self-contained-construction discipline): the corpus text is one
    * punctuation-free line, so the registered query synthesizes lines
    * from the word stream — after 1-based word p (except the last), a
    * line break lands when p%5=0 or p%7=0 (line lengths cycle
    * 5,2,3,4,1,5,1,4,3,2,5 — both the word-count and the
    * terminal-punct rule get kept AND dropped lines), carrying `.`
    * when p%2=0, `!` when p%3=0 (checked after), else no terminal
    * mark. doc_id%11=0 prepends a "lorem ipsum" line; doc_id%13=3
    * appends a brace line — the two page-level rules fire on real
    * rows, not just in the spec.
    */
  def c4Plant(documents: DataFrame): DataFrame = {
    val withW = documents.select(col("doc_id"), col("text"),
      split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("text"), col("w"), size(col("w")).as("nw"))
    val sep = (p: Column) =>
      when(p === col("nw"), lit(""))
        .otherwise(when(p % 5 === 0 || p % 7 === 0,
          concat(when(p % 2 === 0, lit("."))
            .otherwise(when(p % 3 === 0, lit("!")).otherwise(lit(""))), lit("\n")))
          .otherwise(lit(" ")))
    val assembled = withW.select(col("doc_id"), col("text"),
      array_join(transform(col("w"), (x, i0) => concat(x, sep(i0 + 1))), "").as("pt"))
    assembled.select(col("doc_id"),
      when(col("text").isNull, lit(null).cast("string"))
        .otherwise(concat(
          when(col("doc_id") % 11 === 0, lit("lorem ipsum\n")).otherwise(lit("")),
          col("pt"),
          when(col("doc_id") % 13 === 3, lit("\n{ }")).otherwise(lit(""))))
        .as("text"))
  }

  /** The q77 oracle: the identical planting (DuckDB's 1-based indexed
    * list_transform lambda) and the identical line filter / replace
    * chain. string_split and Spark's split both KEEP empty fields, and
    * the empty-word filter inside the per-line count makes any
    * residual difference unobservable.
    */
  def c4CleanOracleSql: String =
    s"""WITH w0 AS (
       |  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
       |p0 AS (
       |  SELECT doc_id, text,
       |         list_aggregate(list_transform(w, (x, i) ->
       |           x || CASE WHEN i = len(w) THEN ''
       |                     WHEN i % 5 = 0 OR i % 7 = 0 THEN
       |                       (CASE WHEN i % 2 = 0 THEN '.'
       |                             WHEN i % 3 = 0 THEN '!'
       |                             ELSE '' END) || chr(10)
       |                     ELSE ' ' END), 'string_agg', '') AS pt
       |  FROM w0),
       |planted AS (
       |  SELECT doc_id,
       |         CASE WHEN text IS NULL THEN NULL ELSE
       |           (CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum' || chr(10) ELSE '' END)
       |           || coalesce(pt, '')
       |           || (CASE WHEN doc_id % 13 = 3 THEN chr(10) || '{ }' ELSE '' END)
       |         END AS text
       |  FROM p0),
       |k AS (
       |  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
       |         list_filter(string_split(text, chr(10)), l ->
       |           len(list_filter(string_split(l, ' '), x -> x <> '')) >= $C4MinLineWords
       |           AND right(l, 1) IN ('.', '!', '?', '"')) AS kept
       |  FROM planted),
       |c AS (
       |  SELECT doc_id, text, CAST(len(lines) AS BIGINT) AS nl,
       |         CAST(len(kept) AS BIGINT) AS nk,
       |         coalesce(list_aggregate(kept, 'string_agg', chr(10)), '') AS clean
       |  FROM k),
       |s AS (
       |  SELECT doc_id, text, nl, nk, clean,
       |         CAST(length(clean) - length(
       |           replace(replace(replace(clean, '.', ''), '!', ''), '?', '')) AS BIGINT) AS ns
       |  FROM c)
       |SELECT doc_id,
       |       CASE WHEN text IS NULL THEN NULL ELSE clean END AS clean_text,
       |       CASE WHEN text IS NULL THEN 0 ELSE nl END AS n_lines,
       |       CASE WHEN text IS NULL THEN 0 ELSE nk END AS n_kept,
       |       CASE WHEN text IS NULL THEN 0 ELSE ns END AS n_sent,
       |       CAST(CASE WHEN text IS NULL THEN 0
       |            ELSE CAST(NOT contains(lower(text), 'lorem ipsum') AS BIGINT) END AS BIGINT) AS r_lorem,
       |       CAST(CASE WHEN text IS NULL THEN 0
       |            ELSE CAST(NOT contains(text, '{') AS BIGINT) END AS BIGINT) AS r_brace,
       |       CAST(CASE WHEN text IS NULL THEN 0
       |            ELSE CAST(ns >= $C4MinSentences AS BIGINT) END AS BIGINT) AS r_sent,
       |       CAST(CASE WHEN text IS NULL THEN 0
       |            ELSE CAST(nk > 0 AS BIGINT) END AS BIGINT) AS r_lines,
       |       CAST(text IS NOT NULL AND NOT contains(lower(text), 'lorem ipsum')
       |            AND NOT contains(text, '{') AND ns >= $C4MinSentences
       |            AND nk > 0 AS BIGINT) AS pass
       |FROM s""".stripMargin
}
