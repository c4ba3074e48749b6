package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpus generation for the `curate` workload (the `topology`
  * tables come from gen_tables.py, the `stream` events from the
  * program's OrderGenerator). Every value is a hash of (seed, row id,
  * field tag), so the same seed yields the same corpus on any
  * partitioning, and the program under test only ever sees the written
  * files.
  */
object Gen {

  /** Uniform draw in [0, n) for a row, keyed by the seed and a tag. */
  private def draw(seed: Long, tag: String, n: Long, ids: Column*): Column =
    pmod(xxhash64((lit(seed) +: ids :+ lit(tag)): _*), lit(n))

  // ---------------------------------------------------------------
  // curate: the document corpus
  // ---------------------------------------------------------------

  /** Corpus shape of the `curate` workload, matched to the sf0.1
    * documents table: a 30-word vocabulary, 10..100 words per doc,
    * 5% near-duplicates (an earlier doc plus a marker word), 0.16%
    * exact duplicates, language mix en 41% / es, de, fr, zh ~15% each,
    * 20 sources, and about 15% of the corpus sharing a 4-word shingle
    * with the benchmark split (doc_id % 97 = 0). At sf0.1's 5000 docs
    * the random texts alone reach that share; a smaller corpus has
    * fewer benchmark docs to collide with, so `contamPct` of its docs
    * also quote six words of a benchmark doc.
    */
  final case class CorpusSize(docs: Long, nearDupPct: Int, exactDupPerMyriad: Int, contamPct: Int)

  val corpusSize = CorpusSize(docs = 600, nearDupPct = 5, exactDupPerMyriad = 16, contamPct = 13)

  private val words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  private def docText(seed: Long, docId: Column): Column = {
    val n = draw(seed, "n_words", 91, docId) + 10
    val vocab = array(words.map(lit): _*)
    array_join(transform(sequence(lit(1L), n), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), docId, i, lit("w")), lit(words.size.toLong)) + 1).cast("int"))), " ")
  }

  /** The text of doc `id` before any benchmark quote. */
  private def baseText(seed: Long, sz: CorpusSize, id: Column): Column = {
    val back = draw(seed, "dup_src", 50, id) + 1
    val src = greatest(id - back, lit(0L))
    val kind = draw(seed, "dup_kind", 10000, id)
    when(id > 0 && kind < sz.exactDupPerMyriad, docText(seed, src))
      .when(id > 0 && kind < sz.exactDupPerMyriad + sz.nearDupPct * 100,
        concat(docText(seed, src), lit(" dup")))
      .otherwise(docText(seed, id))
  }

  def corpus(spark: SparkSession, dir: String, seed: Long,
             sz: CorpusSize = corpusSize): Unit = {
    val id = col("id")
    val benchDoc = draw(seed, "contam_src", (sz.docs - 1) / 97 + 1, id) * 97
    val quote = array_join(slice(split(baseText(seed, sz, benchDoc), " "), 1, 6), " ")
    val text = when(id % 97 =!= 0 && draw(seed, "contam", 100, id) < sz.contamPct,
      concat(baseText(seed, sz, id), lit(" "), quote)).otherwise(baseText(seed, sz, id))
    val langDraw = draw(seed, "lang", 100, id)
    val lang = when(langDraw < 41, "en").when(langDraw < 56, "es")
      .when(langDraw < 71, "de").when(langDraw < 86, "fr").otherwise("zh")
    spark.range(0, sz.docs, 1, 4)
      .select(id.as("doc_id"), text.as("text"), lang.as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
