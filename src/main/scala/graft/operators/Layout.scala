package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** q93: Z-ORDER data layout — the multi-dimensional clustering pass a
  * 100 TB table gets before it is written (Delta OPTIMIZE ZORDER /
  * Iceberg sort-order rewrite): interleave the bits of the clustering
  * keys so that a file (bucket) of consecutive z-values covers a
  * RECTANGLE of the key space, giving min/max-stats pruning on EVERY
  * clustering dimension — where a lexicographic sort prunes only its
  * leading column.
  *
  * The encode is deterministic integer arithmetic end to end:
  *  1. each key is range-scaled to the 16-bit grid with the table's
  *     own min/max — ((v - min) · 65535) div (max - min) — the q82
  *     SQ8 grid discipline (one cheap global aggregate, a bounded
  *     1-row collect, the q88 scalar pattern: a constant-key join
  *     would fold to BNLJ);
  *  2. the two 16-bit grid coordinates interleave into a 32-bit
  *     z-value (x in even bits, y in odd);
  *  3. zbucket = zval div 2²⁶ — 64 buckets = the top 3 interleaved
  *     bits of each dimension, an 8×8 grid tile per bucket.
  *
  * Scale shape: the stats aggregate is one map-side-combined pass;
  * the encode itself is a pure map (zero exchange). The LAYOUT step
  * ([[writeZOrdered]]) is one range exchange on zval — exactly the
  * shuffle the table write would pay for any clustered layout.
  *
  * Pruning claim (LayoutSpec, measured not asserted-by-faith): on the
  * 64-bucket layout each bucket's (partkey, suppkey) min/max box is a
  * grid tile, so a predicate on EITHER key overlaps ~1/8 of the
  * buckets, where the lexicographic layout prunes suppkey-only
  * predicates not at all (every partkey slice spans the full suppkey
  * range).
  */
object Layout {

  final val GridBits = 16
  final val GridMax = (1 << GridBits) - 1 // 65535
  final val Buckets = 64 // zval >> 26

  /** Bit interleave of two 16-bit grid coordinates: x in even bits,
    * y in odd bits — 32 codegen'd integer terms, no UDF.
    */
  def interleave16(x: Column, y: Column): Column =
    (0 until GridBits).map { b =>
      shiftright(x, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
        shiftright(y, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
    }.reduce(_ + _)

  /** The same 32 terms as SQL text (over columns named zx / zy) so the
    * DuckDB oracle replays the interleave verbatim.
    */
  def interleaveSql(x: String = "zx", y: String = "zy"): String =
    (0 until GridBits).map { b =>
      s"(($x >> $b) & 1) * ${1L << (2 * b)} + (($y >> $b) & 1) * ${1L << (2 * b + 1)}"
    }.mkString(" + ")

  /** q93 registered encode: lineitem keyed on (l_partkey, l_suppkey),
    * grid = the table's own min/max (in-range by construction, so the
    * frozen encode's clamp is the identity and the oracle replays the
    * plain scale). Output: (l_orderkey, l_linenumber, l_partkey,
    * l_suppkey, zval, zbucket).
    */
  def zorderEncode(lineitem: DataFrame): DataFrame = {
    val (pmin, pmax, smin, smax) = zGrid(lineitem)
    zEncodeFrozen(lineitem, pmin, pmax, smin, smax)
  }

  /** s50: the q93 encode against a FROZEN grid: a stream cannot
    * re-derive global min/max per batch without the encoding of old
    * rows drifting, so the grid is solved offline on the reference
    * corpus and novel out-of-range keys CLAMP to the grid edge
    * (deterministic, order-free).
    * With the grid = the batch min/max, in-range rows encode
    * bit-identically to [[zorderEncode]] (spec-pinned).
    */
  def zEncodeFrozen(rows: DataFrame, pmin: Long, pmax: Long,
                    smin: Long, smax: Long): DataFrame = {
    def clamped(v: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else expr(s"CAST(((least(greatest($v, $lo), $hi) - $lo) * 65535) DIV ${hi - lo} AS BIGINT)")
    rows
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        clamped("l_partkey", pmin, pmax).as("zx"),
        clamped("l_suppkey", smin, smax).as("zy"))
      .withColumn("zval", interleave16(col("zx"), col("zy")))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("zval"),
        shiftright(col("zval"), 26).as("zbucket"))
  }

  /** The frozen q93 grid (pmin, pmax, smin, smax) for s50 — a 1-row
    * collect (the q88 scalar protocol).
    */
  def zGrid(lineitem: DataFrame): (Long, Long, Long, Long) = {
    val r = lineitem.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    (Option(r.get(0)).fold(0L)(_ => r.getLong(0)),
      Option(r.get(1)).fold(0L)(_ => r.getLong(1)),
      Option(r.get(2)).fold(0L)(_ => r.getLong(2)),
      Option(r.get(3)).fold(0L)(_ => r.getLong(3)))
  }

  /** The physical layout: range-partition on zval (one exchange — the
    * write-side shuffle ANY clustered layout pays) with an
    * intra-partition sort, so each output file covers one contiguous
    * z-range and its parquet footer min/max box is a key-space tile.
    */
  def writeZOrdered(encoded: DataFrame, dir: String, files: Int = Buckets): Unit =
    encoded.repartitionByRange(files, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(dir)

  /** q93b: HILBERT-CURVE layout encode — the same grid scale as q93,
    * the curve index from the fused [[graft.functions.HilbertExpr]]
    * kernel instead of the bit interleave. Z-order's weakness is its
    * long-jump diagonal seams: consecutive z-values can be grid-
    * distance 2^15 apart, so a bucket (a run of consecutive z) can
    * span a tall thin L around a seam and its min/max box balloons.
    * The Hilbert curve's unit-step continuity (every consecutive pair
    * of indices is a grid NEIGHBOR — spec-pinned exhaustively at
    * bits=4) keeps each bucket a connected blob with a tighter box —
    * measured in LayoutSpec, not asserted by faith (the q93
    * discipline): on the box predicate Hilbert touches ≤ z-order's
    * bucket count, and it must never lose the suppkey-band test.
    * Output schema mirrors q93: (keys, hval, hbucket = hval div 2²⁶).
    */
  def hilbertEncode(lineitem: DataFrame): DataFrame = {
    val (pmin, pmax, smin, smax) = zGrid(lineitem)
    hEncodeFrozen(lineitem, pmin, pmax, smin, smax)
  }

  /** The frozen-grid Hilbert encode (the zEncodeFrozen contract:
    * offline grid, out-of-range keys clamp to the edge — streaming-
    * admissible unmodified, the s50 class).
    */
  def hEncodeFrozen(rows: DataFrame, pmin: Long, pmax: Long,
                    smin: Long, smax: Long): DataFrame = {
    def clamped(v: String, lo: Long, hi: Long): Column =
      if (hi == lo) lit(0L)
      else expr(s"CAST(((least(greatest($v, $lo), $hi) - $lo) * 65535) DIV ${hi - lo} AS BIGINT)")
    rows
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        clamped("l_partkey", pmin, pmax).as("zx"),
        clamped("l_suppkey", smin, smax).as("zy"))
      .withColumn("hval",
        graft.functions.HilbertExpr.hilbert_d(col("zx"), col("zy"), GridBits))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("hval"),
        shiftright(col("hval"), 26).as("hbucket"))
  }

  /** One Hilbert walk level as SQL text for the DuckDB oracle — the
    * sequential per-level state update CANNOT inline (each level reads
    * the previous (x, y) several times → 2^bits tree growth), so the
    * oracle unrolls it as `bits` MATERIALIZED CTE levels (the q67
    * discipline); this generates level `b` (bit position, high first)
    * over columns (x, y, d) of the previous level. Semantics mirror
    * HilbertExpr.xy2d line for line; quadrant (3·rx) XOR ry is stated
    * arithmetically (3rx + ry − 2rx·ry — identical on {0,1}×{0,1}) so
    * no bitwise-XOR dialect is in play.
    */
  def hilbertLevelSql(b: Int, nMinus1: Long = GridMax.toLong): String = {
    val rx = s"((x >> $b) & 1)"
    val ry = s"((y >> $b) & 1)"
    val sSq = 1L << (2 * b) // s*s with s = 2^b
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       d + $sSq * (3 * $rx + $ry - 2 * $rx * $ry) AS d,
       CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $nMinus1 - y ELSE y END) ELSE x END AS x,
       CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN $nMinus1 - x ELSE x END) ELSE y END AS y"""
  }

  /** The Hilbert physical layout — the writeZOrdered shape on hval.
    *
    * REGISTERED WRITER DECISION (r13, measured in LayoutSpec — the
    * q93 measured-not-asserted discipline): at POWER-OF-4 bucket
    * counts the two curves partition the grid into the SAME quadrant
    * tiles (top 2k index bits name a level-k quadrant under either
    * order), so their min/max boxes are IDENTICAL — spec-pinned
    * equality at 64, and why the first comparison attempt read "tie"
    * everywhere. The regime that discriminates is the one a real
    * range-partitioned write actually produces: bucket = a RANGE of
    * the curve at a non-aligned count. There z-order ranges straddle
    * diagonal seams (consecutive z-values up to 2^15 grid cells
    * apart → ballooned boxes) while Hilbert's unit-step continuity
    * keeps every range a connected blob. Measured at sf0.001/sf0.01,
    * 24 and 48 equal-length curve ranges: Hilbert wins or ties EVERY
    * box predicate (e.g. 3 vs 4 and 1 vs 2 buckets touched) and wins
    * mean bucket-box area consistently (119 vs 145, 52 vs 69, 14.3k
    * vs 16.3k, 6.1k vs 8.1k) — so Hilbert is the registered default
    * ([[writeClustered]]). Honest caveat, also pinned: single-AXIS
    * band predicates can favor z-order at some splits (8 vs 10 at 32
    * buckets — axis-aligned z halves track a y-band better than
    * Hilbert's rotated blobs); a table whose workload is one-axis
    * bands should stay on [[writeZOrdered]].
    */
  def writeHilbertOrdered(encoded: DataFrame, dir: String, files: Int = Buckets): Unit =
    encoded.repartitionByRange(files, col("hval"))
      .sortWithinPartitions(col("hval"))
      .write.mode("overwrite").parquet(dir)

  /** The registered clustered-layout writer (see the decision note on
    * [[writeHilbertOrdered]]).
    */
  def writeClustered(lineitem: DataFrame, dir: String, files: Int = Buckets): Unit =
    writeHilbertOrdered(hilbertEncode(lineitem), dir, files)

  /** File-pruning simulation over a bucketed layout: the buckets whose
    * (pk, sk) min/max box — exactly what a parquet footer stores —
    * overlaps the query box. Returns (buckets touched, total buckets).
    */
  def bucketsTouched(encoded: DataFrame, bucket: Column,
                     pkRange: (Long, Long), skRange: (Long, Long)): (Long, Long) = {
    val stats = encoded.groupBy(bucket.as("b")).agg(
      min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
      min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      .localCheckpoint(true)
    val touched = stats.filter(
      col("pmax") >= pkRange._1 && col("pmin") <= pkRange._2 &&
        col("smax") >= skRange._1 && col("smin") <= skRange._2).count()
    (touched, stats.count())
  }
}
