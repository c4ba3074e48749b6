package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Exactly-once delivery into a keyed table — the Spark analog of the
  * reference's end-to-end EOS contract (streams config
  * `processing.guarantee=exactly_once_v2`, Streams.java:35-49, plus the
  * transactional publisher, publisher/src/main/java/dev/buesing/ksd/
  * publisher/Producer.java). Structured Streaming gives at-least-once
  * delivery into `foreachBatch` with a MONOTONIC batchId; exactly-once
  * is recovered by making the batch commit idempotent.
  *
  * The table is LOG-STRUCTURED (the dependency-free miniature of the
  * Delta/Iceberg protocol — write data files, then commit them with a
  * marker, readers only see marker-committed files):
  *
  *  - every batch appends ONLY ITS OWN ROWS as a keyed delta
  *    `delta/v=<batchId>` and marks it committed after the write
  *    succeeds — a microbatch costs O(batch), never O(table);
  *  - a replayed batchId ≤ the last committed version is SKIPPED —
  *    duplicate delivery after a checkpoint recovery changes nothing;
  *  - readers resolve key→newest across the latest compacted base plus
  *    the deltas committed after it (`max_by(row, version)` per key);
  *  - every `compactEvery` committed deltas, the resolved table is
  *    rewritten as a new base `base/v=<batchId>` under the same
  *    write-then-commit marker, and folded deltas are garbage-collected
  *    (one previous base + its trailing deltas are retained for lagging
  *    readers) — the amortized O(table) work happens once per K
  *    batches, not per trigger;
  *  - a crash mid-write leaves an UNMARKED dir: readers never see it,
  *    the retried batch overwrites it, an interrupted compaction is
  *    simply re-attempted on the next commit and its orphaned output
  *    swept before the next base is written.
  *
  * Rows upsert by key: new keys append, re-sent keys replace, and a
  * TOMBSTONE deletes — the Kafka Streams KTable contract where a
  * null-valued record removes the key from the store
  * (Streams.java:102-115; the reference's dim topics are compacted
  * tables built on exactly that). Tombstones are retained in deltas
  * (they must shadow older versions of the key) and dropped at
  * compaction, when nothing older remains to resurrect the key.
  */
object ExactlyOnceSink {

  // private[graft]: the offline restore tool (operators.Restore) speaks
  // the same on-disk protocol — marker files, meta JSON, internal
  // version/tombstone columns — without re-deriving the constants
  private[graft] val Marker = "_graft_committed"
  private[graft] val MetaFile = "_graft_meta.json"
  private[graft] val VCol = "__v"
  private[graft] val DelCol = "__deleted"

  private[graft] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedUnder(spark: SparkSession, path: Path): Seq[Long] = {
    val f = fs(spark, path.toString)
    if (!f.exists(path)) Seq.empty
    else f.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .filter(s => f.exists(new Path(s.getPath, Marker)))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** batchIds of committed delta versions, ascending. */
  def committedDeltas(spark: SparkSession, dir: String): Seq[Long] =
    committedUnder(spark, new Path(dir, "delta"))

  /** batchIds of committed compacted-base versions, ascending. */
  def committedBases(spark: SparkSession, dir: String): Seq[Long] =
    committedUnder(spark, new Path(dir, "base"))

  /** All committed versions (deltas and bases), ascending. */
  def committedVersions(spark: SparkSession, dir: String): Seq[Long] =
    (committedDeltas(spark, dir) ++ committedBases(spark, dir)).distinct.sorted

  /** (keyCols, dataCols) recorded at first commit — the read side
    * needs them to resolve key→newest and restore column order.
    * Jackson (on the Spark classpath) does the JSON both ways, so
    * column names containing quotes/commas/braces round-trip exactly.
    */
  private[graft] def readMeta(spark: SparkSession, dir: String): (Seq[String], Seq[String]) = {
    val f = fs(spark, dir)
    val in = f.open(new Path(dir, MetaFile))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    def field(name: String): Seq[String] = Option(node.get(name)) match {
      case Some(arr) =>
        val it = arr.elements(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      case None => Seq.empty
    }
    (field("keyCols"), field("dataCols"))
  }

  /** Read-modify-write of the meta JSON (single-writer contract). */
  private def updateMeta(spark: SparkSession, dir: String)(
      mutate: com.fasterxml.jackson.databind.node.ObjectNode => Boolean): Unit = {
    val f = fs(spark, dir)
    val p = new Path(dir, MetaFile)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root =
      if (f.exists(p)) {
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
        m.readTree(txt).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      } else m.createObjectNode()
    if (mutate(root)) {
      // write-then-rename, the same crash-safety contract the data dirs
      // get from write-then-marker: txnOffset rewrites a HEALTHY meta at
      // every fresh-lineage start, and an in-place create() torn by a
      // crash mid-write would lose keyCols/dataCols AND the txns map —
      // leaving the committed table unreadable. Rename is atomic on
      // HDFS/most stores; FileContext supports overwrite-rename, which
      // plain FileSystem.rename does not.
      val tmp = new Path(dir, MetaFile + ".tmp")
      val out = f.create(tmp, true)
      try out.write(m.writeValueAsBytes(root)) finally out.close()
      try
        org.apache.hadoop.fs.FileContext
          .getFileContext(tmp.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // a scheme with a FileSystem impl but no AbstractFileSystem
          // binding (common for third-party connectors) can't do the
          // atomic overwrite-rename — fall back to delete+rename. The
          // crash window narrows to between the two calls (vs the whole
          // serialize+write before), and the tmp file survives such a
          // crash for manual recovery.
          f.delete(p, false)
          if (!f.rename(tmp, p))
            throw new java.io.IOException(s"rename $tmp -> $p failed")
      }
    }
  }

  private def writeMeta(spark: SparkSession, dir: String,
                        keyCols: Seq[String], dataCols: Seq[String]): Unit =
    updateMeta(spark, dir) { root =>
      if (root.has("keyCols")) false
      else {
        def arr(name: String, xs: Seq[String]): Unit = {
          val a = root.putArray(name); xs.foreach(a.add)
        }
        arr("keyCols", keyCols); arr("dataCols", dataCols)
        true
      }
    }

  /** The internal version offset for a writer lineage (`txnId`):
    * version = offset + batchId. A lineage FIRST seen gets offset =
    * (last committed version + 1), persisted in the meta BEFORE its
    * first write — so after a checkpoint reset (batchIds restart at 0)
    * the replayed stream lands as NEW monotonically-increasing
    * versions and upserts idempotently by key, instead of being
    * silently skipped forever by the `batchId <= last` check (the
    * Delta (txnAppId, txnVersion) idempotency design). Crash ordering
    * is safe either way: offset persisted + batch uncommitted ⇒ the
    * retry recomputes the same version and writes; batch committed ⇒
    * the retry's version is ≤ last and skips.
    */
  private def txnOffset(spark: SparkSession, dir: String, txnId: String,
                        lastCommitted: Long): Long = {
    var off = -1L
    updateMeta(spark, dir) { root =>
      val txns =
        if (root.has("txns"))
          root.get("txns").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else root.putObject("txns")
      if (txns.has(txnId)) { off = txns.get(txnId).asLong(); false }
      else { off = lastCommitted + 1; txns.put(txnId, off); true }
    }
    off
  }

  /** The resolved live table (base ∪ trailing deltas, newest version
    * per key, tombstones applied), with the internal version/tombstone
    * columns still attached — compaction writes exactly this.
    */
  private[graft] def resolved(spark: SparkSession, dir: String,
                       keyCols: Seq[String]): Option[DataFrame] = {
    val baseV = committedBases(spark, dir).lastOption
    val deltaVs = committedDeltas(spark, dir).filter(v => baseV.forall(_ < v))
    val paths = baseV.map(v => s"$dir/base/v=$v").toSeq ++
      deltaVs.map(v => s"$dir/delta/v=$v")
    if (paths.isEmpty) None
    else {
      val all = Tables.parquet(spark, paths: _*)
      val keyStruct = struct(keyCols.map(col): _*)
      val rowStruct = struct(all.columns.toIndexedSeq.map(col): _*)
      Some(all.groupBy(keyStruct.as("k"))
        .agg(max_by(rowStruct, col(VCol)).as("r"))
        .select(col("r.*")))
    }
  }

  /** The latest committed state of the table (None before the first
    * commit). Deleted keys are absent; internal columns are stripped
    * and the original column order restored.
    */
  def snapshot(spark: SparkSession, dir: String): Option[DataFrame] = {
    val (keyCols, dataCols) = try readMeta(spark, dir) catch {
      case _: java.io.IOException => return None
    }
    resolved(spark, dir, keyCols)
      .map(_.filter(!col(DelCol)).select(dataCols.map(col): _*))
  }

  /** The idempotent keyed MERGE body for `foreachBatch`. Usage:
    *   stream.writeStream.foreachBatch(upsertBatch(dir, Seq("k")) _)
    *
    * Within-batch collapse: if a single trigger can carry SEVERAL rows
    * per key (changelog/append producers), pass `versionCol` — the
    * row with the greatest version wins, deterministically. Without
    * it, the input contract is at-most-one-row-per-key-per-batch
    * (update-mode aggregation output); violations throw rather than
    * silently keeping an arbitrary row.
    *
    * Tombstones: rows where boolean `tombstoneCol` is true DELETE
    * their key (the KTable null-value contract). The flag column is
    * consumed by the sink — it does not appear in snapshots.
    */
  def upsertBatch(dir: String, keyCols: Seq[String],
                  versionCol: Option[String] = None,
                  tombstoneCol: Option[String] = None,
                  compactEvery: Int = 8,
                  txnId: Option[String] = None)
                 (batch: Dataset[Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val last = committedVersions(spark, dir).lastOption.getOrElse(-1L)
    // `txnId` identifies the writer LINEAGE (use the streaming query's
    // checkpoint path or query id): versions are offset per lineage,
    // so a restart with a FRESH checkpoint — batchIds restarting at
    // 0 — replays into new versions instead of being skipped forever.
    // Without txnId the raw batchId is the version: replay-idempotent
    // within one checkpoint lineage only (documented contract).
    val version = txnId match {
      case None => batchId
      case Some(t) => txnOffset(spark, dir, t, last) + batchId
    }
    if (version <= last) return // duplicate delivery: already committed

    val flagged = tombstoneCol match {
      case Some(t) => batch.withColumn(DelCol, coalesce(col(t), lit(false)))
        .drop(t)
      case None => batch.withColumn(DelCol, lit(false))
    }
    val deduped = versionCol match {
      case Some(v) =>
        val keyStruct = struct(keyCols.map(col): _*)
        val rowStruct = struct(flagged.columns.toIndexedSeq.map(col): _*)
        // tie-break on the row's ORDERABLE columns after the version:
        // max_by on the version alone picks an ARBITRARY row among
        // version ties (coarse timestamps, default seqs), so a retried
        // batch could commit a different winner than its first attempt
        // — breaking the documented "wins, deterministically". The
        // whole-row struct would be the obvious key, but a single
        // non-orderable column (MapType) then fails analysis for every
        // caller; filtering to orderable fields keeps those schemas
        // working. Rows that differ ONLY in non-orderable columns
        // remain an arbitrary pick — the contract callers already had.
        import org.apache.spark.sql.catalyst.expressions.RowOrdering
        val orderable = flagged.schema.fields.toIndexedSeq
          .filter(fd => RowOrdering.isOrderable(fd.dataType))
          .map(fd => col(fd.name))
        flagged.groupBy(keyStruct.as("k"))
          .agg(max_by(rowStruct, struct((col(v) +: orderable): _*)).as("r"))
          .select(col("r.*"))
      case None =>
        // contract check folded into the write job itself (zero extra
        // jobs, was two counts): the guard lives INSIDE the expression
        // producing the row, so pruning can't drop it, and a violation
        // aborts the write before the commit marker — the partial
        // delta dir is unmarked, invisible, and overwritten on retry
        val keyStruct = struct(keyCols.map(col): _*)
        val rowStruct = struct(flagged.columns.toIndexedSeq.map(col): _*)
        flagged.groupBy(keyStruct.as("k"))
          .agg(count(lit(1)).as("c"), first(rowStruct).as("r"))
          .select(when(col("c") > 1, raise_error(format_string(
              s"batch $batchId carries %s rows for key %s " +
                s"(${keyCols.mkString(",")}); pass versionCol to define " +
                "which row wins", col("c"), to_json(col("k")))))
            .otherwise(col("r")).as("r"))
          .select(col("r.*"))
    }
    val dataCols = deduped.columns.filterNot(_ == DelCol).toSeq
    writeMeta(spark, dir, keyCols, dataCols)

    // O(batch): only this trigger's rows are written
    val target = s"$dir/delta/v=$version"
    deduped.withColumn(VCol, lit(version))
      .select((dataCols :+ VCol :+ DelCol).map(col): _*)
      .write.mode("overwrite").parquet(target)
    fs(spark, dir).create(new Path(target, Marker), true).close()

    maybeCompact(spark, dir, keyCols, version, compactEvery)
  }

  /** Fold the trailing deltas into a new base once `compactEvery` have
    * accumulated — the amortized O(table) pass. Tombstones are dropped
    * here: the new base is the oldest readable version, so no earlier
    * row remains for a dropped tombstone to un-shadow. Retention keeps
    * one previous base and the deltas newer than it (a lagging reader
    * may still hold their listing); everything older is deleted.
    */
  private def maybeCompact(spark: SparkSession, dir: String, keyCols: Seq[String],
                           batchId: Long, compactEvery: Int): Unit = {
    // list bases and deltas ONCE at entry; the single-writer contract
    // means nothing else mutates them, and the one version this call
    // adds is known locally — on an object store each committedUnder
    // is a listing plus one exists() RPC per version dir, so the old
    // shape (bases listed 3x, deltas 2x, three FileSystem lookups) was
    // dozens of redundant metadata RPCs per compaction.
    val bases0 = committedBases(spark, dir)
    val deltas0 = committedDeltas(spark, dir)
    val baseV = bases0.lastOption
    val pending = deltas0.count(v => baseV.forall(_ < v))
    if (pending < compactEvery) return

    // GC crashed compactions first: an unmarked base dir (crash between
    // the data write and its marker) is invisible to readers and its
    // batchId is never reused — without this sweep orphans accumulate
    // forever (the single-writer foreachBatch contract makes the sweep
    // race-free).
    val f0 = fs(spark, dir)
    val basePath = new Path(dir, "base")
    if (f0.exists(basePath))
      f0.listStatus(basePath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filterNot(s => f0.exists(new Path(s.getPath, Marker)))
        .foreach(s => f0.delete(s.getPath, true))

    val target = s"$dir/base/v=$batchId"
    resolved(spark, dir, keyCols).foreach { r =>
      r.filter(!col(DelCol))
        .write.mode("overwrite").parquet(target)
      f0.create(new Path(target, Marker), true).close()

      // bases after this commit = the entry listing plus the version
      // just written (no re-listing needed under single-writer)
      val bases = (bases0 :+ batchId).distinct.sorted
      // previous base (if any) survives one more round for lagging readers
      bases.dropRight(2)
        .foreach(v => f0.delete(new Path(s"$dir/base/v=$v"), true))
      val keepAfter = bases.dropRight(1).lastOption.getOrElse(-1L)
      deltas0.filter(_ <= keepAfter)
        .foreach(v => f0.delete(new Path(s"$dir/delta/v=$v"), true))
    }
  }
}

/** Continuously-updated dimension semantics for stream-static joins —
  * the GlobalKTable/KTable contract (Streams.java:102-115): the dim
  * table keeps changing while the stream runs, and each microbatch must
  * join against the CURRENT dim, not the one captured at plan time. A
  * static DataFrame in a stream-static join pins its file listing when
  * the plan is built; re-reading the dim INSIDE `foreachBatch` re-lists
  * and re-scans per microbatch — rate-limited dim refresh at exactly
  * microbatch granularity. Per trigger the cost is one driver-side
  * listing plus one footer read (`Tables.parquet`, no schema job) and
  * one small-dim scan, broadcast — never a fact shuffle.
  */
object RefreshingDim {

  /** Enrich a line-item stream with prices from the parquet dim at
    * `dimDir`, re-read every microbatch; enriched rows append to
    * `sinkDir`. Returns the started query.
    */
  def enrichPriceQuery(lineitemStream: DataFrame, dimDir: String,
                       sinkDir: String, checkpoint: String) =
    lineitemStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val dim = Tables.parquet(spark, dimDir) // fresh listing and footer
        // one directory per batchId, OVERWRITTEN on write: a batch
        // replayed after checkpoint recovery rewrites its own partition
        // instead of appending duplicates (blind append is not
        // replay-idempotent; partition discovery on the read side
        // exposes batch_id as a column)
        batch.join(broadcast(dim), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
            col("l_quantity"), col("p_retailprice").as("price"))
          .write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
        ()
      }
      .start()
}
