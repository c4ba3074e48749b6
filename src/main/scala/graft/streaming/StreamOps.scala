package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming re-expression of the reference's streaming
  * topology (SURVEY.md §2 s01–s06, s08, s12 and s23; reference
  * streams/src/main/java/dev/buesing/ksd/streams/Streams.java), plus
  * the per-record shingle and minhash helpers that reproduce the batch
  * q25/q38 hashing outside a query plan.
  *
  * A few streaming twins of batch queries stay with it, each pinned
  * row-exact against its batch operator in StreamingSpec: the keyed
  * folds s24 (as-of join, q34), s48/s53 (SCD2 history with late-drop
  * audit, q92) and s52 (k-anonymity groups, q97); s07 (exact dedup);
  * and the stateless frozen-model maps s13 (q38), s26 (q60), s28
  * (q65), s31 (q68), s35 (q72), s40 (q82) and s56 (q101b), whose
  * models ModelStore persists.
  *
  * Each op is a pure stream→stream transform usable under any source
  * (Kafka in production, MemoryStream in tests, files in the driver
  * environment): the reference's Kafka-topic plumbing is a *source*
  * concern, not an operator concern, so the operators take/return
  * Datasets and `KafkaIO` owns the source/sink config surface.
  */
object StreamOps {

  /** Per-sku running stats — streaming state for s01.
    * Mirrors ProductStatsV2 (common/src/main/java/dev/buesing/ksd/common/
    * domain/ProductStatsV2.java): total quantity + the set of orders that
    * touched the sku (the reference keeps the full orderIds list in its
    * state store; `orderIds` here is that same set, so `orders` is an
    * EXACT distinct count, merged idempotently on re-delivery).
    */
  case class SkuStats(l_partkey: Long, quantity: BigDecimal, orders: Long)
  case class SkuState(quantity: BigDecimal, orderIds: Set[Long])

  case class SkuEvent(l_partkey: Long, l_orderkey: Long, l_quantity: Double)

  /** s01: continuous groupByKey(sku) + aggregate (Streams.java:205-220)
    * via flatMapGroupsWithState in Update mode: one state entry per sku,
    * emitting the updated stats on every batch — the exact semantics of
    * a Kafka Streams KTable aggregation + changelog emission.
    *
    * Scale: state is hash-partitioned by sku across executors (RocksDB/
    * HDFS state store on a real cluster); quantity accumulates in
    * BigDecimal so merge order never changes the result. The orderIds
    * set grows with distinct orders per sku — same linear state the
    * reference's ProductStats carries; swap in an HLL sketch when an
    * approximate distinct count is acceptable.
    */
  def streamProductStats(events: Dataset[SkuEvent]): Dataset[SkuStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.l_partkey)
      .flatMapGroupsWithState[SkuState, SkuStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[SkuEvent], state: GroupState[SkuState]) =>
          val prev = state.getOption.getOrElse(SkuState(BigDecimal(0), Set.empty))
          val next = rows.foldLeft(prev) { (s, e) =>
            SkuState(s.quantity + BigDecimal(e.l_quantity), s.orderIds + e.l_orderkey)
          }
          state.update(next)
          Iterator.single(SkuStats(key, next.quantity, next.orderIds.size.toLong))
      }
  }

  /** s01b: the bounded-state variant of streamProductStats — distinct
    * orders tracked with an HLL sketch (graft.functions.Hll) instead of
    * the reference's explicit orderIds list (ProductStatsV1.java keeps
    * every id in the state store). State per sku becomes a constant
    * 4 KiB regardless of order volume — the difference between state
    * that fits executors at 100 TB and state that grows with the
    * stream. `orders` is then a ±1.6% estimate (near-exact in the
    * linear-counting regime).
    */
  def streamProductStatsApprox(events: Dataset[SkuEvent]): Dataset[SkuStats] = {
    import events.sparkSession.implicits._
    import graft.functions.Hll
      events
      .groupByKey(_.l_partkey)
      .flatMapGroupsWithState[(BigDecimal, Array[Byte]), SkuStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[SkuEvent], state: GroupState[(BigDecimal, Array[Byte])]) =>
          val (q0, regs) = state.getOption.getOrElse((BigDecimal(0), Hll.emptyRegisters()))
          var q = q0
          rows.foreach { e =>
            q += BigDecimal(e.l_quantity)
            Hll.add(regs, e.l_orderkey)
          }
          state.update((q, regs))
          Iterator.single(SkuStats(key, q, Hll.estimate(regs)))
      }
  }

  /** HLL-backed per-sku state row for the transformWithState variant. */
  case class SkuHllState(quantity: BigDecimal, regs: Array[Byte])

  /** s08: the s01b state machine on Spark 4's `transformWithState` —
    * the successor API to flatMapGroupsWithState (typed ValueState
    * handles, TTL support, timers; requires the RocksDB state store
    * provider). Same semantics as s01b: exact quantity + HLL distinct
    * orders, update-mode changelog.
    */
  class SkuStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, SkuEvent, SkuStats] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SkuHllState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SkuHllState](
        "sku_stats", Encoders.product[SkuHllState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SkuEvent],
                                 timers: TimerValues): Iterator[SkuStats] = {
      import graft.functions.Hll
      val prev =
        if (state.exists()) state.get()
        else SkuHllState(BigDecimal(0), Hll.emptyRegisters())
      var q = prev.quantity
      val regs = prev.regs
      rows.foreach { e =>
        q += BigDecimal(e.l_quantity)
        Hll.add(regs, e.l_orderkey)
      }
      state.update(SkuHllState(q, regs))
      Iterator.single(SkuStats(key, q, Hll.estimate(regs)))
    }
  }

  /** s08 entry point. The session must run the RocksDB state store
    * (spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider) — transformWithState requires it.
    */
  def streamProductStatsTws(events: Dataset[SkuEvent]): Dataset[SkuStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    events
      .groupByKey(_.l_partkey)
      .transformWithState(new SkuStatsProcessor, TimeMode.None(), OM.Update())
  }

  /** A mergeable per-sku stats record for the restore path: partial
    * quantity + serialized HLL order sketch (what the V1 changelog
    * carries, re-expressed as bounded state).
    */
  case class SkuSketch(l_partkey: Long, quantity: Double, sketch: Array[Byte])

  /** s05: the V1→V2 restore stream (Streams.java:222-259 restore
    * transformer; restore module): replay a stream of V1 partial stats
    * into the V2 running state by MERGING — quantities add, order
    * sketches merge register-wise (the exact ProductStatsV2.merge
    * contract, with an HLL instead of the unbounded orderIds list).
    * Batch produces the sketches (HllFunctions.hll_sketch), this op
    * consumes them: same bytes on both sides of the store boundary.
    */
  def streamStatsRestore(restore: Dataset[SkuSketch]): Dataset[SkuStats] = {
    import restore.sparkSession.implicits._
    import graft.functions.Hll
    restore
      .groupByKey(_.l_partkey)
      .flatMapGroupsWithState[(BigDecimal, Array[Byte]), SkuStats](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[SkuSketch], state: GroupState[(BigDecimal, Array[Byte])]) =>
          val (q0, regs) = state.getOption.getOrElse((BigDecimal(0), Hll.emptyRegisters()))
          var q = q0
          rows.foreach { r =>
            q += BigDecimal(r.quantity)
            Hll.merge(regs, r.sketch)
          }
          state.update((q, regs))
          Iterator.single(SkuStats(key, q, Hll.estimate(regs)))
      }
  }

  /** s02: event-time tumbling-window aggregation with a watermark —
    * the streaming form of Analytics.eventsWindowAgg. Late events beyond
    * the watermark are dropped; closed windows stop consuming state.
    */
  def streamWindowAgg(events: DataFrame, watermark: String = "1 hour",
                      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** One enriched line item flowing through the streaming pickup
    * topology: already keyed by order, price present iff the product
    * lookup matched (null ⇒ not yet priceable, the reference's
    * "item without price" state).
    */
  case class OrderItem(l_orderkey: Long, l_linenumber: Int, l_quantity: Double,
                       price: Option[Double])

  /** Reassembled order state/output (reference pickup-order-reduce +
    * filter, Streams.java:152-169).
    */
  case class OrderState(l_orderkey: Long, item_count: Long,
                        order_total: BigDecimal, all_priced: Boolean)

  /** s06: streaming order reassembly — the pickup branch's
    * groupBy(orderId) + reduce + filter(all priced) as one stateful
    * operator. Update-mode changelog like the reference's KTable: each
    * batch emits the order's current reduction; consumers take the
    * rows with all_priced=true (the filter is downstream, exactly as
    * in the reference topology, so partially-priced orders remain
    * observable for monitoring).
    *
    * State per order: three scalars — NOT the item list (the reduce
    * only ever needs count/total/all-priced, so the state store stays
    * O(1) per key where the reference materializes whole
    * PurchaseOrders).
    */
  def streamOrderReassembly(items: Dataset[OrderItem]): Dataset[OrderState] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_.l_orderkey)
      .flatMapGroupsWithState[(Long, BigDecimal, Boolean), OrderState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[OrderItem], state: GroupState[(Long, BigDecimal, Boolean)]) =>
          val (n0, total0, priced0) = state.getOption.getOrElse((0L, BigDecimal(0), true))
          var n = n0; var total = total0; var priced = priced0
          rows.foreach { it =>
            n += 1
            it.price match {
              case Some(p) => total += BigDecimal(it.l_quantity) * BigDecimal(p)
              case None => priced = false
            }
          }
          state.update((n, total, priced))
          Iterator.single(OrderState(key, n, total, priced))
      }
  }

  /** The full topology, streaming end-to-end (Streams.java:99-169):
    * order-item stream → static dim joins (product prices) → stateful
    * reassembly. Returns the update-mode changelog of ALL orders with
    * their completion disposition (`all_priced`) — NOT pre-filtered to
    * completed orders: the KTable-filter contract the reference
    * applies (Streams.java:152-169) forwards a TOMBSTONE when a key
    * stops matching, and a plain `.filter(_.all_priced)` here would
    * swallow exactly that true→false retraction (an order that
    * completed, then received an unpriced item) and leave the sink
    * showing a stale completed order forever. Apply the filter AT THE
    * SINK: upsert where all_priced, delete where not —
    * `ExactlyOnceSink.upsertBatch(..., tombstoneCol = Some(...))` with
    * `!all_priced` as the flag (retraction spec in StreamingSpec).
    */
  def pickupPipelineStream(lineitemStream: DataFrame, part: DataFrame): Dataset[OrderState] = {
    import lineitemStream.sparkSession.implicits._
    val enriched = lineitemStream
      .join(part, col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey").cast("long"), col("l_linenumber").cast("int"),
        col("l_quantity").cast("double"), col("p_retailprice").cast("double").as("price"))
      .as[OrderItem]
    streamOrderReassembly(enriched)
  }

  /** s07: streaming exact deduplication — the streaming analog of the
    * q20 batch pass. Keyed on the content hash, not the payload, so
    * dedup state is a fixed-width key per distinct document. With an
    * event-time column + watermark, `withinWatermark` bounds state
    * (late duplicates beyond the watermark pass through — the standard
    * trade; unbounded mode is exact-forever at O(distinct) state).
    */
  def streamDedupExact(docs: DataFrame,
                       eventTimeCol: Option[String] = None,
                       watermark: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("text_hash",
      md5(regexp_replace(lower(graft.operators.TextOps.wsTrim(col("text"))), "\\s+", " ")))
    eventTimeCol match {
      case Some(tsCol) =>
        hashed.withWatermark(tsCol, watermark)
          .dropDuplicatesWithinWatermark("text_hash")
      case None =>
        hashed.dropDuplicates("text_hash")
    }
  }

  /** s03: stream ⋈ static-table join (Streams.java:137/147 — joining
    * the order stream against KTable dims). The static side is a plain
    * DataFrame; Spark broadcasts it when small, exactly the
    * GlobalKTable pattern; otherwise it shuffle-joins per microbatch.
    */
  def streamEnrichPrice(lineitemStream: DataFrame, part: DataFrame): DataFrame =
    lineitemStream
      .join(part, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity"), col("p_retailprice").as("price"))

  /** One update to a keyed table: `value = None` is a TOMBSTONE — the
    * Kafka Streams KTable contract where a null-valued record deletes
    * the key from the store (the reference's dim topics are compacted
    * tables built on exactly that; Streams.java:102-115 consumes them
    * as KTables).
    *
    * `seq` is the per-key changelog position (a Kafka offset, a CDC
    * LSN, an ingest timestamp): Kafka Streams gets apply-order for
    * free from per-partition consumption, but Spark's shuffle into
    * `groupByKey` does NOT preserve intra-group arrival order across a
    * multi-partition source, so the winner within a batch must be
    * determined by data, not iterator position. The greatest seq wins;
    * on a seq tie a tombstone shadows an upsert. Sources without a
    * natural sequence can leave the default 0 ONLY if they guarantee
    * one update per key per batch.
    */
  case class DimUpdate(p_partkey: Long, p_retailprice: Option[Double],
                       seq: Long = 0L)

  /** KTable state per live key: the current value and the seq that set
    * it, so a stale cross-batch replay (seq below what state already
    * holds) can never regress the table.
    */
  case class DimState(seq: Long, price: Double)

  /** The KTable changelog row s12 emits: the key's current value, or
    * `deleted = true` when a tombstone removed it. Feeds
    * `ExactlyOnceSink.upsertBatch(..., tombstoneCol = Some("deleted"))`
    * so the delete propagates to the committed table.
    */
  case class DimRow(p_partkey: Long, p_retailprice: Double, deleted: Boolean)

  /** s12: KTable materialization with DELETE semantics — upserts set
    * the key's state, tombstones `state.remove()` it (a re-arriving
    * key after a delete is a fresh insert, exactly a compacted topic's
    * behavior). Update-mode changelog: every input row emits the key's
    * new state, tombstones emit a `deleted` marker row so downstream
    * sinks can drop the key too.
    *
    * Scale: state is one scalar per LIVE key, hash-partitioned across
    * executors; deletes free store space immediately rather than
    * accumulating null sentinels.
    */
  def streamDimTable(updates: Dataset[DimUpdate]): Dataset[DimRow] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(_.p_partkey)
      .flatMapGroupsWithState[DimState, DimRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[DimUpdate], state: GroupState[DimState]) =>
          // max-by-seq fold, NOT iterator order: the group iterator's
          // order is a shuffle artifact (see DimUpdate doc). Only the
          // key's final disposition this batch is emitted (a KTable
          // changelog is compacted per commit interval). Ties go to
          // the tombstone — deletes shadow same-seq upserts.
          var win: DimUpdate = null
          rows.foreach { u =>
            if (win == null || u.seq > win.seq ||
                (u.seq == win.seq && u.p_retailprice.isEmpty)) win = u
          }
          // a batch entirely below the seq state already holds is a
          // stale replay: keep state, re-emit the current disposition
          val stale = state.getOption.exists(_.seq > win.seq)
          if (stale) {
            val s = state.get
            Iterator.single(DimRow(key, s.price, deleted = false))
          } else win.p_retailprice match {
            case Some(p) =>
              state.update(DimState(win.seq, p))
              Iterator.single(DimRow(key, p, deleted = false))
            case None =>
              // remove() frees the store immediately (no null
              // sentinels); a pre-tombstone seq arriving in a LATER
              // batch is indistinguishable from a fresh insert — that
              // cross-batch case is covered by checkpointed replay
              // determinism, not by state (documented contract)
              if (state.exists) state.remove()
              Iterator.single(DimRow(key, 0.0, deleted = true))
          }
      }
  }

  /** The changelog row s23 consumes — the q56 events shape with the
    * version flattened to epoch micros (event_id restores the total
    * order on timestamp ties, the s09 deterministic-winner
    * discipline). */
  case class ChangelogEvent(user_id: Long, event_id: Long, ts_us: Long,
                            event_type: String, value: Double)

  /** s23 output: the key's currently-restored state, or
    * `deleted = true` while the newest version is an 'error'
    * tombstone — the marker row the s12 sink contract uses to drop
    * the key downstream. */
  case class RestoreRow(user_id: Long, last_event_id: Long, last_ts_us: Long,
                        last_type: String, last_value: Double, deleted: Boolean)

  /** s23: the reference restore tool run CONTINUOUSLY (Restore.java
    * consumes the changelog to its end then stops; a stream never
    * stops) — `Restore.stateFromChangelog`'s last-write-wins fold as
    * per-key state. Each batch folds its rows into the stored winner
    * by (ts_us, event_id) and re-emits the key's disposition; an
    * 'error'-type winner emits the s12-style `deleted` marker.
    *
    * UNLIKE s12, a tombstoned key's state is NOT removed: q56's batch
    * contract drops a key iff the GLOBAL newest version is an error,
    * so the tombstone's VERSION must keep shadowing older replays —
    * state.remove() here would let a stale pre-tombstone event
    * "revive" the key and diverge from the batch fold. The cost is
    * one retained row per tombstoned key — exactly what the
    * compacted changelog topic itself retains for a deleted key. A
    * NULL event_type is NOT a tombstone (the `<=>` contract).
    *
    * Scale: state is one row per key, hash-partitioned; batch work is
    * one fold pass per key per batch, no sort, no window.
    */
  def streamRestoreState(changelog: Dataset[ChangelogEvent]): Dataset[RestoreRow] = {
    import changelog.sparkSession.implicits._
    def newer(a: ChangelogEvent, b: ChangelogEvent): Boolean =
      a.ts_us > b.ts_us || (a.ts_us == b.ts_us && a.event_id > b.event_id)
    changelog
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ChangelogEvent, RestoreRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ChangelogEvent], state: GroupState[ChangelogEvent]) =>
          // fold by VERSION, not iterator order (a shuffle artifact);
          // seeding with state makes stale cross-batch replays no-ops
          var win = state.getOption.orNull
          rows.foreach { e => if (win == null || newer(e, win)) win = e }
          state.update(win)
          Iterator.single(RestoreRow(key, win.event_id, win.ts_us,
            win.event_type, win.value,
            deleted = win.event_type == "error"))
      }
  }

  /** s48 per-key state: the OPEN SCD2 version plus the (ts, event_id)
    * high-water mark that guards against stale cross-batch replays.
    */
  case class Scd2State(version: Long, state: Option[String],
                       valid_from_us: Long, last_ts_us: Long, last_event_id: Long)

  /** s48 output: one batch-q92 row in the micros domain; the open
    * version re-emits each batch (Update mode) with `is_current` true
    * until a change closes it.
    */
  case class Scd2Row(user_id: Long, version: Long, state: Option[String],
                     valid_from_us: Long, valid_to_us: Option[Long],
                     is_current: Boolean)

  /** s48: q92's SCD Type-2 history maintained CONTINUOUSLY — the
    * warehouse-dimension twin of s23 (s23 keeps "state now", this
    * keeps the whole validity history): each arriving change CLOSES
    * the open version (emitting it with its final valid_to) and opens
    * the next; re-asserting the current state is a no-op (the
    * IS-DISTINCT-FROM rule, null-safe — batch q92's contract).
    *
    * Batch-order contract (the s24 discipline): rows are folded in
    * (ts_us, event_id) order WITHIN a batch — one batch, or any
    * per-key-monotone batch split, is row-exact vs batch q92 on the
    * final emission per (user, version). An event arriving BELOW the
    * key's (ts, event_id) high-water mark is IGNORED (an online
    * history cannot retroactively split an already-closed interval —
    * the same no-retract class as s20/s24, spec-asserted), where the
    * batch fold would have inserted it; in-order delivery is the
    * converge condition.
    *
    * Scale: state is ONE open version + two longs per key (closed
    * versions are emitted, never retained), hash-partitioned; per
    * batch one fold pass per key, no sort beyond the per-key batch
    * slice, no window.
    */
  /** One dead-letter row (s53): an arriving event REJECTED by its
    * key's (ts, event_id) high-water mark, with the HWM that rejected
    * it — the attribution an ingest SLA needs (which key, which event,
    * how far behind the key's clock it arrived).
    */
  case class LateDrop(user_id: Long, event_id: Long, ts_us: Long,
                      event_type: Option[String],
                      hwm_ts_us: Long, hwm_event_id: Long)

  /** s53 union output: `kind` = "version" (a batch-q92 row, the s48
    * emission) or "late_drop" (a [[LateDrop]] flattened in) — one
    * stream, two sinks at the writer (the foreachBatch split-by-kind
    * pattern), so the audit needs NO second stateful query.
    */
  case class Scd2Emit(kind: String, user_id: Long,
                      version: Long, state: Option[String], valid_from_us: Long,
                      valid_to_us: Option[Long], is_current: Boolean,
                      event_id: Long, ts_us: Long,
                      hwm_ts_us: Long, hwm_event_id: Long)

  /** THE s48/s53 fold — single definition so the audited and
    * unaudited operators cannot drift: processes a batch's rows for
    * one key in (ts_us, event_id) order against the open-version
    * state, returning (closed+open version emissions, late drops,
    * new state). The HWM advances only on ACCEPTED rows, and (the r12
    * ADVICE fix) a key's initial null run opens no version — matching
    * batch q92's null <=> null lag filter.
    */
  private def scd2FoldBatch(key: Long, batchRows: Seq[ChangelogEvent],
                            st0: Option[Scd2State])
      : (Seq[Scd2Row], Seq[LateDrop], Option[Scd2State]) = {
    val out = collection.mutable.ArrayBuffer[Scd2Row]()
    val drops = collection.mutable.ArrayBuffer[LateDrop]()
    var st = st0.orNull
    batchRows.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      val stale = st != null && (e.ts_us < st.last_ts_us ||
        (e.ts_us == st.last_ts_us && e.event_id <= st.last_event_id))
      if (stale)
        drops += LateDrop(key, e.event_id, e.ts_us, Option(e.event_type),
          st.last_ts_us, st.last_event_id)
      else {
        val et = Option(e.event_type)
        if (st == null) {
          if (et.isDefined)
            st = Scd2State(1L, et, e.ts_us, e.ts_us, e.event_id)
        } else if (et != st.state) { // null-safe: Option equality
          out += Scd2Row(key, st.version, st.state, st.valid_from_us,
            Some(e.ts_us), is_current = false)
          st = Scd2State(st.version + 1, et, e.ts_us, e.ts_us, e.event_id)
        } else
          st = st.copy(last_ts_us = e.ts_us, last_event_id = e.event_id)
      }
    }
    val opens =
      if (st == null) Seq.empty
      else Seq(Scd2Row(key, st.version, st.state,
        st.valid_from_us, None, is_current = true))
    (out.toSeq ++ opens, drops.toSeq, Option(st))
  }

  def streamScd2(changelog: Dataset[ChangelogEvent]): Dataset[Scd2Row] = {
    import changelog.sparkSession.implicits._
    changelog
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ChangelogEvent], state: GroupState[Scd2State]) =>
          val (versions, _, st) = scd2FoldBatch(key, rows.toSeq, state.getOption)
          st.foreach(state.update)
          versions.iterator
      }
  }

  /** s53: the s48 SCD2 stream WITH dead-letter accounting — the one
    * streaming production surface the family left silent: every
    * below-watermark arrival s48 ignores by contract (the s20/s24
    * no-retract class) is COUNTED AND ATTRIBUTED here instead of
    * vanishing. The fold is [[scd2FoldBatch]], shared verbatim with
    * [[streamScd2]], so the version emissions are identical by
    * construction and the audit rows are EXACTLY the events the
    * unaudited twin dropped (spec-asserted); each drop carries the
    * HWM that rejected it, so the SLA dashboard can histogram
    * lateness (hwm_ts_us − ts_us) per key. State is unchanged (one
    * open version + the HWM — late rows never touch it); the writer
    * splits the union by `kind` into the dimension table and the
    * dead-letter queue in one foreachBatch.
    */
  def streamScd2Audited(changelog: Dataset[ChangelogEvent]): Dataset[Scd2Emit] = {
    import changelog.sparkSession.implicits._
    changelog
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Emit](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[ChangelogEvent], state: GroupState[Scd2State]) =>
          val (versions, drops, st) = scd2FoldBatch(key, rows.toSeq, state.getOption)
          st.foreach(state.update)
          versions.iterator.map(v =>
            Scd2Emit("version", v.user_id, v.version, v.state, v.valid_from_us,
              v.valid_to_us, v.is_current, -1L, -1L, -1L, -1L)) ++
            drops.iterator.map(d =>
              Scd2Emit("late_drop", d.user_id, -1L, d.event_type, -1L,
                None, is_current = false, d.event_id, d.ts_us,
                d.hwm_ts_us, d.hwm_event_id))
      }
  }

  /** The s24 tagged input: side 0 = QUOTE (an order version — t_us is
    * o_orderdate as epoch micros, orderkey set), side 1 = QUERY (an
    * event — t_us is the event time, event_id set). One stream carries
    * both, the union-tag shape batch q34 uses.
    */
  case class AsofInput(user_id: Long, side: Int, t_us: Long,
                       event_id: Long, orderkey: Long)

  /** s24 output: batch q34's row with timestamps in epoch micros
    * (None where the user had no quote at or before the event). */
  case class AsofOut(event_id: Long, user_id: Long, event_ts_us: Long,
                     last_orderkey: Option[Long], last_orderdate_us: Option[Long])

  /** s24: the as-of join run CONTINUOUSLY — each arriving event is
    * enriched with the latest order version at or before its event
    * time, which is exactly what the reference's stream-KTable join
    * semantics deliver (the KTable holds "the latest value as of now",
    * Streams.java:137; batch q34 reconstructs it point-in-time,
    * this maintains it live).
    *
    * State per user: the quote book — (o_orderdate_us → max orderkey),
    * stored sorted by date. Bounded by DISTINCT order dates per key
    * (quotes on the same date compact to max orderkey, batch q34's
    * pre-dedup), i.e. the compacted-topic retention a KTable holds; a
    * deployment facing unbounded version churn adds watermark-based
    * eviction of versions older than the event watermark.
    *
    * Batch-order contract (the s16/s17 as-of-ARRIVAL discipline):
    * within a batch, quotes fold into the book BEFORE any query is
    * answered (the GlobalKTable bootstrap order — the reference
    * populates dim tables before streams flow) and queries are
    * answered in (t_us, event_id) order; a quote at t == query-t IS
    * visible (inclusive as-of, batch q34's (t, side) sort). So a run
    * whose quotes arrive no later than their queries — one batch, or
    * dims-first batches — is ROW-EXACT vs batch q34. A quote arriving
    * in a LATER batch than a query it would have matched does NOT
    * retract the already-emitted row (an online enricher cannot
    * retract; the same keep-first divergence class as s20, asserted
    * both ways in the spec).
    *
    * Scale: one shuffle on user_id per batch; state lookups are a
    * sorted scan per query (versions-per-key bounded); no sort, no
    * window, no dim re-read per batch.
    */
  def streamAsofJoin(inputs: Dataset[AsofInput]): Dataset[AsofOut] = {
    import inputs.sparkSession.implicits._
    inputs
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Long)], AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[AsofInput], state: GroupState[List[(Long, Long)]]) =>
          val rs = rows.toSeq
          // 1. quotes first: fold into the book, same-date compaction
          //    to max orderkey (batch q34's per-(user, date) pre-dedup)
          var book: Map[Long, Long] = state.getOption.getOrElse(Nil).toMap
          val quotes = rs.filter(_.side == 0)
          quotes.foreach { qr =>
            book = book.updated(qr.t_us,
              math.max(qr.orderkey, book.getOrElse(qr.t_us, Long.MinValue)))
          }
          if (quotes.nonEmpty) state.update(book.toList.sortBy(_._1))
          val sorted = book.toSeq.sortBy(_._1)
          // 2. queries in (t, event_id) order — iterator order is a
          //    shuffle artifact (the s12 class of fix)
          rs.filter(_.side == 1).sortBy(r => (r.t_us, r.event_id)).iterator.map { e =>
            val m = sorted.takeWhile(_._1 <= e.t_us).lastOption
            AsofOut(e.event_id, key, e.t_us, m.map(_._2), m.map(_._1))
          }
      }
  }

  /** The batch tokenization (wsTrim → lower → split → drop empties),
    * evaluated INSIDE executors — byte-identical to the q39/q40/q45
    * token stream; the s35 scorer featurizes with it.
    */
  def normTokens(text: String): Array[String] =
    // null-safe: the batch twins evaluate split(lower(NULL)) to NULL
    // and explode nothing — one bad record must degrade the same way
    // here, not kill the query with an NPE
    if (text == null) Array.empty
    else text.replaceAll("^\\s+|\\s+$", "")
      // Locale.ROOT: Spark's lower() is locale-independent; the JVM
      // default-locale overload would break the row-exact-vs-batch
      // contracts under e.g. a Turkish locale ('I' → dotless i)
      .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Distinct word n-gram poly-hashes of one text, evaluated INSIDE
    * executors — IDENTICAL normalization + hashing to the batch
    * `Dedup.postings` (wsTrim → lower → split → n-gram join → base-31
    * poly hash), asserted in specs, so stream and batch agree on
    * shingle sets exactly.
    */
  def wordShingleHashes(text: String, shingleN: Int): Set[Long] = {
    val toks = text.replaceAll("^\\s+|\\s+$", "")
      .toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val nSh = math.max(toks.length - (shingleN - 1), 1)
    (0 until nSh).iterator
      .map(i => toks.slice(i, i + shingleN).mkString(" "))
      .map(graft.functions.PolyHashExpr.hash).toSet
  }

  /** Minhash of one text — IDENTICAL hashing to the batch q25
    * pipeline (PolyHashExpr.hash shingles, universal-hash
    * permutations), so a per-record caller and batch agree exactly on
    * signatures.
    */
  def minhashSignature(text: String, numPerm: Int = 32, shingleN: Int = 3): Array[Long] =
    minhashSignatureOf(wordShingleHashes(text, shingleN).toArray, numPerm)

  /** Signature over an ALREADY-SHINGLED set (the q25 permutations). */
  def minhashSignatureOf(shingles: Array[Long], numPerm: Int): Array[Long] = {
    import graft.operators.Dedup.ReplayableHash
    Array.tabulate(numPerm) { i =>
      var m = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = (ReplayableHash.a(i) * shingles(j) + ReplayableHash.b(i)) % ReplayableHash.P
        if (h < m) m = h
        j += 1
      }
      m
    }
  }

  /** s13 output: one row per streamed document — the q38 columns. */
  case class ContamReport(doc_id: Long, n_shingles: Long, n_overlap: Long,
                          contaminated: Long)

  /** Collect a benchmark's distinct shingle hashes to the driver —
    * eval sets are small by definition (thousands of docs against a
    * corpus of billions), so the set broadcasts; the same assumption
    * the batch q38 broadcast join makes, made explicit here.
    */
  def benchmarkShingleSet(benchmark: org.apache.spark.sql.DataFrame,
                          shingleN: Int = 4): Set[Long] = {
    import org.apache.spark.sql.functions.col
    graft.operators.Dedup.postings(benchmark, shingleN)
      .select(col("shingle")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** s52 output: one QI-group disposition row (the q97 group table —
    * the per-row suppression join is downstream batch work, the s42
    * close-of-stream discipline).
    */
  case class KanonGroup(nk: Long, seg: String, bb: Long,
                        group_size: Long, released: Boolean)

  /** s52: STREAMING k-anonymity group dispositions — q97's group-size
    * table maintained as customers arrive: keyed state per QI triple
    * is ONE counter; a group crossing k flips suppressed→released
    * (Update mode re-emits the disposition — monotone, a release can
    * never un-release, spec-asserted). End-of-stream group table is
    * ROW-EXACT vs batch q97's sizes under any batching.
    */
  def streamKanonGroups(cust: Dataset[(Long, Long, String, Double)],
                        k: Int = 5): Dataset[KanonGroup] = {
    import cust.sparkSession.implicits._
    cust.groupByKey(r => (r._2, r._3, math.floor(r._4 / 1000.0).toLong))
      .flatMapGroupsWithState[Long, KanonGroup](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator.single(KanonGroup(key._1, key._2, key._3, n, n >= k))
      }
  }

  /** s13: STREAMING train/eval decontamination — q38 as an online
    * admission check (the shape an ingest service runs: score each
    * arriving document against the frozen eval set BEFORE it enters
    * the training corpus). Stateless: the benchmark set rides as a
    * broadcast value, each doc maps to its overlap report — no state
    * store, no shuffle, scales with input rate. Shingle bytes are
    * IDENTICAL to batch q38 (shared wordShingleHashes), so the spec
    * asserts row-exact parity with `TextOps.decontaminate`.
    */
  def streamDecontaminate(docs: Dataset[(Long, String)], benchShingles: Set[Long],
                          shingleN: Int = 4, minOverlap: Int = 1): Dataset[ContamReport] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(benchShingles)
    docs.map { case (id, text) =>
      val shs = wordShingleHashes(text, shingleN)
      val bench = bc.value
      val overlap = shs.count(bench.contains)
      ContamReport(id, shs.size.toLong, overlap.toLong,
        if (overlap >= minOverlap) 1L else 0L)
    }
  }

  /** s26 output: the q60 columns — one assignment per vector. */
  case class KmAssign(vec_id: Long, cluster: Long, d2: Long)

  /** s26: STREAMING k-means assignment — q60 as an online router
    * (the shape a training pipeline runs once a clustering exists:
    * every arriving embedding is bucketed to its semantic shard by a
    * FROZEN codebook; the model must not drift with the stream).
    * Stateless: the k·dim centroid table rides as a broadcast, each
    * vector maps to its (cluster, d2) — no state store, no shuffle.
    * The quantization (`floor(v·2²⁰+0.5)+2²⁰`) and the (d2 ASC, cid
    * ASC) argmin replay batch q60's integer arithmetic EXACTLY, so
    * streaming the training corpus against
    * `Similarity.kmeansCentroids` reproduces q60 row-for-row
    * (spec-asserted).
    */
  def streamKmeansAssign(vecs: Dataset[(Long, Seq[Float])],
                         centroids: Seq[(Int, Seq[Long])]): Dataset[KmAssign] = {
    import vecs.sparkSession.implicits._
    require(centroids.nonEmpty, "frozen codebook must be non-empty")
    val bc = vecs.sparkSession.sparkContext.broadcast(
      centroids.map { case (cid, c) => (cid, c.toArray) }.toArray)
    vecs.map { case (id, emb) =>
      val q = emb.toArray.map(v => math.floor(v.toDouble * 1048576.0 + 0.5).toLong + 1048576L)
      var bestD = Long.MaxValue
      var bestC = Int.MaxValue
      bc.value.foreach { case (cid, c) =>
        var d = 0L
        var i = 0
        while (i < q.length) { val x = q(i) - c(i); d += x * x; i += 1 }
        if (d < bestD || (d == bestD && cid < bestC)) { bestD = d; bestC = cid }
      }
      KmAssign(id, bestC.toLong, bestD)
    }
  }

  /** s28 output: the q65 columns — M rows per vector. */
  case class PqCode(vec_id: Long, sub: Long, code: Long, d2: Long)

  /** s28: STREAMING PQ ENCODING — q65 as an online compressor: every
    * arriving embedding is encoded to its M sub-codes by a FROZEN
    * codebook (Similarity.pqCodebook — the s26 frozen-model protocol:
    * a drifting codebook would re-encode history). Stateless: the
    * M·kcode·PQ_D-long codeword table rides as a broadcast, each
    * vector flatMaps to M (sub, code, d2) rows — no state store, no
    * shuffle. The quantization and (d2 ASC, cid ASC) argmin replay
    * batch q65's integer arithmetic EXACTLY, so streaming the
    * training corpus reproduces q65 row-for-row (spec-asserted).
    */
  def streamPqEncode(vecs: Dataset[(Long, Seq[Float])],
                     codebook: Map[(Int, Int), Seq[Long]]): Dataset[PqCode] = {
    import vecs.sparkSession.implicits._
    require(codebook.nonEmpty, "frozen PQ codebook must be non-empty")
    val M = codebook.keys.map(_._1).max + 1
    val subDim = codebook.values.head.length
    val bc = vecs.sparkSession.sparkContext.broadcast(
      codebook.map { case ((m, j), c) => (m, j) -> c.toArray })
    vecs.flatMap { case (id, emb) =>
      val q = emb.toArray.map(v => math.floor(v.toDouble * 1048576.0 + 0.5).toLong + 1048576L)
      (0 until M).iterator.map { m =>
        var bestD = Long.MaxValue
        var bestJ = Int.MaxValue
        bc.value.foreach { case ((mm, j), c) =>
          if (mm == m) {
            var d = 0L
            var i = 0
            while (i < subDim) { val x = q(m * subDim + i) - c(i); d += x * x; i += 1 }
            if (d < bestD || (d == bestD && j < bestJ)) { bestD = d; bestJ = j }
          }
        }
        PqCode(id, m.toLong, bestJ.toLong, bestD)
      }
    }
  }

  /** s40 output: the q82 columns — one row per dimension. */
  case class Sq8Code(vec_id: Long, pos: Long, code: Long, err: Long)

  /** s40: STREAMING SQ8 ENCODING — q82 as an online compressor: every
    * arriving embedding is encoded to its per-dimension byte codes by
    * a FROZEN grid (Similarity.sq8Grid — the s26/s28 frozen-model
    * protocol: a drifting grid would re-encode history). Stateless:
    * the 64 (min, span) pairs ride as a broadcast-closure array, each
    * vector flatMaps to its 64 (pos, code, err) rows — no state
    * store, no shuffle. The quantize-shift and truncating division
    * replay batch q82's integer arithmetic EXACTLY on in-grid inputs,
    * so streaming the training corpus reproduces q82 row-for-row
    * under any batching (spec-asserted).
    *
    * Novel inputs (a streamed vector OUTSIDE the frozen grid — the
    * case batch training never sees) CLAMP to the grid ends, the
    * production SQ rule: code pins to 0/255 and `err` carries the
    * signed residual vs the clamped reconstruction — attributable,
    * never an exception (the s36 unknown-lang-→-tail discipline).
    * In-grid rows never clamp, so the batch contract is untouched.
    */
  def streamSq8Encode(vecs: Dataset[(Long, Seq[Float])],
                      grid: Seq[(Long, Long)]): Dataset[Sq8Code] = {
    import vecs.sparkSession.implicits._
    require(grid.nonEmpty, "frozen SQ8 grid must be non-empty")
    val g = grid.toArray
    vecs.flatMap { case (id, emb) =>
      val q = emb.toArray.map(v => math.floor(v.toDouble * 1048576.0 + 0.5).toLong + 1048576L)
      q.indices.iterator.map { i =>
        val (mn, sp) = g(i)
        val x = q(i) - mn
        // in-grid (0 <= x <= sp): identical to batch q82 (nonnegative
        // operands make / floor); out-of-grid: clamp to the byte ends
        val code =
          if (sp <= 0L) 0L
          else if (x < 0L) 0L
          else if (x > sp) 255L
          else x * 255L / sp
        val err = if (sp <= 0L) x else x - code * sp / 255L
        Sq8Code(id, i.toLong, code, err)
      }
    }
  }

  /** s31 output: the q68 columns — one row per arriving document. */
  case class BpeDoc(doc_id: Long, n_subwords: Long, subtext: String)

  /** s31: STREAMING BPE ENCODING — q68 as an online tokenizer: every
    * arriving document is subword-encoded by a FROZEN rule list
    * (Bpe.bpeTrain's output collected once — the s26/s28 frozen-model
    * protocol: evolving rules would re-segment history). Stateless: a
    * rank-ordered array of (pattern, replacement) pairs rides as a
    * broadcast, each doc maps to its subword stream with plain
    * java String.replace per rule — the same left-to-right
    * non-overlapping semantics as the batch expression and the DuckDB
    * oracle (the q67 run contract), so streaming the training corpus
    * reproduces q68 row-for-row (spec-asserted).
    */
  def streamBpeEncode(docs: Dataset[(Long, String)],
                      rules: Seq[(String, String)]): Dataset[BpeDoc] = {
    import docs.sparkSession.implicits._
    require(rules.nonEmpty, "frozen BPE rule list must be non-empty")
    val SEP = "\u0001"
    val bc = docs.sparkSession.sparkContext.broadcast(rules.map { case (l, r) =>
      (SEP + l + SEP + r + SEP, SEP + l + r + SEP)
    }.toArray)
    docs.map { case (id, text) =>
      val toks = Option(text).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(t => t.nonEmpty && !t.contains(SEP))
      val subtext = toks.map { t =>
        var packed = SEP + t.map(c => s"$c$SEP").mkString
        bc.value.foreach { case (p, s) => packed = packed.replace(p, s) }
        packed.replace(SEP, " ").trim
      }.mkString(" ")
      val n = if (subtext.isEmpty) 0L else subtext.split(" ").length.toLong
      BpeDoc(id, n, subtext)
    }
  }

  /** s35 output: the q72 columns — one row per arriving document. */
  case class NbScore(doc_id: Long, is_train: Long, n_feats: Long,
                     score_q16: Long, pred: Long)

  /** s35: STREAMING NB classification — q72 as an online scorer:
    * every arriving document is scored by the FROZEN weight table +
    * prior (Classifier.nbModel, exactly B entries — the s26/s28/s31
    * frozen-model protocol: a live-updating model would re-score
    * history). Every possible bucket has a weight (add-one smoothing
    * covers unseen features), so scoring is total: stateless
    * broadcast + one pure map, no shuffle, no state. Streams are
    * ROW-EXACT vs batch q72 on any corpus (spec, multi-batch) because
    * per-doc scores depend only on the doc and the frozen model.
    */
  def streamNbClassify(docs: Dataset[(Long, String)],
                       model: graft.operators.Classifier.NbModel): Dataset[NbScore] = {
    import docs.sparkSession.implicits._
    require(model.weights.size == model.buckets, "frozen model must cover all buckets")
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val ha = graft.operators.Dedup.ReplayableHash.a(218)
    val hb = graft.operators.Dedup.ReplayableHash.b(218)
    val P = graft.operators.Dedup.ReplayableHash.P
    docs.map { case (id, text) =>
      val m = bc.value
      val ts = normTokens(text)
      val feats = ts.iterator ++
        ts.iterator.sliding(2).withPartial(false).map(_.mkString(" "))
      var n = 0L; var s = m.priorQ16
      feats.foreach { f =>
        val b = ((ha * graft.functions.PolyHashExpr.hash(f) + hb) % P) % m.buckets
        n += 1L; s += m.weights(b)
      }
      NbScore(id, if (id % 2 == 0) 1L else 0L, n, s, if (s >= 0L) 1L else 0L)
    }
  }

  /** s56 output: the q101b columns per arrival. */
  case class UnigramSegDoc(doc_id: Long, n_pieces: Long, subtext: String)

  /** s56: STREAMING UNIGRAM ENCODE — q101b as a continuous tokenizer
    * service: each arriving document is Viterbi-segmented against the
    * FROZEN q101 model (the s25/s31 frozen-model rule — a live-trained
    * vocab would re-segment history; ModelStore family `unigram` is
    * the artifact). A pure stateless map — the cheapest streaming
    * class: no state, no shuffle, trivially row-exact vs batch q101b
    * under any batching (ModelStoreSpec asserts it from the LOADED
    * artifact; StreamingSpec under shuffled multi-batch arrival). The
    * normalization is the batch column chain's JVM twin
    * (lower(wsTrim(coalesce(text,''))) — Locale.ROOT lowering, the
    * s21 GreedyTokenStats parity precedent; the segmenter itself
    * skips whitespace, so the trim is absorbed).
    */
  def streamUnigramEncode(docs: Dataset[(Long, String)],
                          model: graft.operators.Unigram.Model,
                          maxLen: Int = 4): Dataset[UnigramSegDoc] = {
    import docs.sparkSession.implicits._
    require(model.pieces.nonEmpty, "frozen unigram model must be non-empty")
    val bc = docs.sparkSession.sparkContext.broadcast {
      val m = new java.util.HashMap[String, java.lang.Long]()
      model.costs.foreach { case (p, c) => m.put(p, c) }
      m
    }
    docs.map { case (id, text) =>
      val norm = (if (text == null) "" else text)
        .toLowerCase(java.util.Locale.ROOT)
      val pieces = graft.functions.UnigramSegExpr.segment(
        norm, bc.value, maxLen, graft.operators.Unigram.UnkCostQ16)
      UnigramSegDoc(id, pieces.length.toLong, pieces.mkString(" "))
    }
  }
}

/** s04: the Kafka source/sink config surface (Streams.java:35-49 —
  * bootstrap servers, topic, consumer group, exactly-once). The Kafka
  * connector jar is not present in this environment, so `.load()` on
  * these is exercised in production only; the builders themselves (and
  * the file-based substitution used in tests/driver runs) are the
  * supported surface.
  */
object KafkaIO {

  /** Configured Kafka stream reader (call `.load()` where the
    * spark-sql-kafka connector is on the classpath).
    */
  def reader(spark: SparkSession, bootstrap: String, topic: String,
             startingOffsets: String = "earliest") =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)

  /** Kafka sink for a streaming frame with `key`/`value` columns;
    * checkpointing gives exactly-once into Kafka (the reference enables
    * EOS via processing.guarantee=exactly_once_v2).
    */
  def writer(df: DataFrame, bootstrap: String, topic: String, checkpoint: String) =
    df.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** File-based source substitution with an explicit schema — the
    * environment-portable stand-in the specs and driver use.
    */
  def fileSource(spark: SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 format: String = "parquet", glob: Option[String] = None): DataFrame = {
    val r = spark.readStream.format(format).schema(schema)
    glob.foreach(g => r.option("pathGlobFilter", g))
    r.load(dir)
  }

}
