package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q71: exact duplicated-substring removal (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better",
  * arXiv:2107.06499) — the ExactSubstr pass most LLM pretraining
  * pipelines run AFTER document-level dedup: a span that appears
  * verbatim in two places in the corpus is kept only at its first
  * occurrence and cut everywhere else, catching boilerplate and
  * quotation overlap that document-level MinHash (q25) and segment
  * dedup (q52) both miss.
  *
  * The paper works in the byte domain with a corpus-wide suffix
  * array; a suffix array is a single global sorted structure — the
  * wrong shape for a shared-nothing engine. The Spark-first
  * restatement is the k-token WINDOW formulation: a duplicated
  * substring of length >= k tokens is exactly a run of duplicated
  * k-token windows, so marking every non-first duplicated window and
  * cutting the union of their [p, p+k-1] spans removes precisely the
  * duplicated regions (the paper's §4.1 minimum-match-length
  * threshold plays the role k plays here). Window identity is
  * md5(window text) — the q20/q52 fixed-width-key discipline: the
  * shuffle never carries window text (k x corpus inflation), only
  * 32-char digests, and 128 bits makes collisions a non-event at any
  * corpus size (vs the 2^31 universal family, which at 100 TB would
  * mark ~one false window per 2^15 windows).
  *
  * Keep rule: the globally FIRST occurrence in (doc_id, pos) order
  * survives; every other occurrence is cut — including a second
  * occurrence inside the SAME document (within-doc repetition is
  * duplication too; q39 measures it, this operator removes it).
  * Like the paper's pass, the operator is deliberately NOT
  * idempotent: cutting a span can juxtapose previously-distant
  * tokens into a new duplicated window; production runs iterate or
  * accept the residue (documented, not hidden).
  *
  * Scale shape: the corpus is scanned twice (window emission +
  * reconstruction — recompute-lineage, NEVER a corpus-sized
  * checkpoint); ONE shuffle keyed by the fixed-width digest (group →
  * first occurrence, reusing the same exchange for the probe side),
  * one narrow (doc_id, pos) shuffle back to per-doc start lists
  * (bounded by doc length), and reconstruction is a pure map — the
  * kept-token filter is a higher-order `filter` with index against
  * the start list (cost O(|starts|) per token, and `exists`
  * short-circuits on the first covering start, so dense-dup docs pay
  * O(k), not O(n), per token). No window function over the corpus,
  * no driver collect.
  */
object ExactSubstr {

  /** Registered contract: k = 6 (six-token windows — below the
    * corpus's random-collision floor, probed at sf0.01: k=4 marks 235
    * docs on word-salad noise, k=6 marks the 24 genuinely-duplicated
    * docs; the paper's 50-BPE-token threshold scaled to this corpus's
    * ~50-token documents).
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text) — clean_text
    * is the kept tokens rejoined with single spaces (the q68
    * normalized-stream convention; token-domain ops canonicalize
    * whitespace by construction).
    */
  def substringDedup(documents: DataFrame, k: Int = 6): DataFrame = {
    val starts = windowStarts(documents, k)
    tokFrame(documents).join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("starts"), array().cast("array<int>")).as("st"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr(s"filter(toks, (t, j) -> NOT exists(st, p -> j+1 >= p AND j+1 < p + $k))")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Materialize the token array ONCE per select chain (the §8
    * multi-reference guard: `toks` is referenced by both the sequence
    * bound and the per-element slice, so CollapseProject keeps the
    * split out of the lambda).
    */
  private def tokFrame(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
        t => length(t) > 0).as("toks"))

  /** The marked-start side of q71 alone: per document, the sorted
    * 1-based positions of every non-first duplicated k-token window
    * — a NARROW (doc_id, array<int>) frame with no text, bounded by
    * the corpus's duplicated-window mass. Exposed separately so a
    * caller with an EXPENSIVE lineage (the q53 chain) can checkpoint
    * this frame once (the q69 docB narrow-checkpoint class) and apply
    * the cut as a pure map, instead of letting every downstream
    * consumer re-derive the whole window machinery — at 10× bench
    * scale the un-checkpointed chain multiplied the upstream stages
    * past single-JVM execution memory.
    */
  def windowStarts(documents: DataFrame, k: Int = 6): DataFrame = {
    require(k >= 2, "substring window must span at least 2 tokens")
    val wins = windowHashFrame(documents, k)
    // First (doc_id, pos) per digest, duplicated digests only: the
    // probe-side join input is exactly the dup set, so a corpus with
    // little duplication broadcasts it (AQE), and a pathological one
    // degrades to a plain linear shuffle join — never all-pairs.
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    val marked = wins.join(firsts, Seq("h"))
      .filter(col("doc_id") =!= col("fdoc") || col("pos") =!= col("fpos"))
      .select(col("doc_id"), col("pos"))
    // Per-doc start list (<= tokens-per-doc entries), sorted for a
    // deterministic array.
    marked.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
  }

  /** One (doc_id, pos, h) row per k-token window — q71's map-side
    * digest frame exposed (text never leaves the map side): q103's
    * frozen-state builder persists v1's distinct `h` column, and
    * [[windowStartsVs]] marks delta windows against it.
    */
  private[graft] def windowHashFrame(documents: DataFrame, k: Int): DataFrame =
    tokFrame(documents)
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> struct(i AS pos, md5(concat_ws(' ', slice(toks, i, $k))) AS h))")).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))

  /** q71's marked starts with a FROZEN prior-corpus window set (q103's
    * incremental stage 3): every v1 occurrence of a window PRECEDES
    * every delta occurrence (the release shipped first), so a delta
    * window whose digest exists in `priorDigests` (one `h` column) is
    * never the keep-first copy — ALL its delta occurrences cut; windows
    * new to the delta follow q71's within-corpus keep-first rule
    * unchanged.
    */
  def windowStartsVs(documents: DataFrame, k: Int,
                     priorDigests: DataFrame): DataFrame = {
    require(k >= 2, "substring window must span at least 2 tokens")
    val wins = windowHashFrame(documents, k).localCheckpoint(true)
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    val markedWithin = wins.join(firsts, Seq("h"))
      .filter(col("doc_id") =!= col("fdoc") || col("pos") =!= col("fpos"))
      .select(col("doc_id"), col("pos"))
    val markedPrior = wins.join(priorDigests.select(col("h")), Seq("h"))
      .select(col("doc_id"), col("pos"))
    markedWithin.union(markedPrior).distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
  }

  /** The frozen first-occurrence table as a driver-side map:
    * digest -> (first doc_id, first pos) for every duplicated window
    * of the training corpus. Bounded-collect protocol with an
    * asserted cap: the dup set is the corpus's DUPLICATED windows
    * only (not all windows), small on curated corpora; past the cap
    * this fails loudly rather than OOM the driver.
    */
  def dupWindowTable(documents: DataFrame, k: Int = 6,
                     maxDupWindows: Int = 1000000): Map[String, (Long, Int)] = {
    val toks = documents.select(col("doc_id"),
      filter(split(lower(TextOps.wsTrim(col("text"))), "\\s+"),
        t => length(t) > 0).as("toks"))
    val wins = toks
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> struct(i AS pos, md5(concat_ws(' ', slice(toks, i, $k))) AS h))")).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    val n = firsts.count()
    require(n <= maxDupWindows,
      s"dup-window table has $n entries > cap $maxDupWindows; " +
        "use the stream-static join shape for this corpus")
    firsts.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
  }

  /** The q71 oracle: the identical window/first/cut chain in DuckDB —
    * same tokenization as the q69 toks CTE, md5 window digests,
    * row_number-over-(doc,pos) firsts, and the same nested
    * index-lambda reconstruction (DuckDB list lambdas are 1-based
    * where Spark's are 0-based; both sides compare i against the
    * 1-based start positions). Replay gotcha: DuckDB's
    * array_to_string over an EMPTY list is NULL where Spark's
    * concat_ws is '' — a fully-cut document (exact-dup later copy)
    * hits it, hence the coalesce.
    */
  def substringDedupOracleSql(k: Int = 6): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(
       |           regexp_split_to_array(lower(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')), '\\s+'),
       |           t -> length(t) > 0) AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+$k-1], ' ')) AS h
       |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - $k + 2)) AS i
       |        FROM toks WHERE len(toks) >= $k) x),
       |m AS (
       |  SELECT doc_id, pos,
       |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
       |         count(*) OVER (PARTITION BY h) AS c
       |  FROM w),
       |starts AS (
       |  SELECT doc_id, list_sort(list(pos)) AS st
       |  FROM m WHERE rn > 1 AND c >= 2 GROUP BY 1),
       |fin AS (
       |  SELECT t.doc_id, t.toks, coalesce(s.st, []) AS st
       |  FROM toks t LEFT JOIN starts s USING (doc_id)),
       |cut AS (
       |  SELECT doc_id, toks,
       |         list_filter(toks,
       |           (t, i) -> len(list_filter(st, p -> i >= p AND i < p + $k)) = 0) AS kept
       |  FROM fin)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |       CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |       coalesce(array_to_string(kept, ' '), '') AS clean_text
       |FROM cut""".stripMargin
}
