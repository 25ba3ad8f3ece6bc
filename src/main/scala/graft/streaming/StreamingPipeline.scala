package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.etl.{EtlPipeline, Extract, Load, MergeSink, PartitionedParquetMergeSink}

/** The streaming ETL (SURVEY §2.8, §3 entry point 2): what the reference's
  * `--continuous` mode stubs out (`src/main.rs:144-147` logs the slot window
  * but never re-runs), implemented for real as
  *
  *   readStream(slot-blocks) -> parse -> enrich -> foreachBatch upsert
  *
  * Delivery is the canonical exactly-once-ish pattern (ST5): checkpointed
  * slot offsets give at-least-once replay; the last-write-wins upsert keyed
  * on (slot | signature) makes re-processing idempotent, so the landed
  * tables converge to exactly-once — the same argument the reference makes
  * for its `ON CONFLICT DO UPDATE` loader (README.md:358).
  */
object StreamingPipeline {

  /** ST1-ST3: the raw micro-batch block stream. `maxRetries` and
    * `retryDelayMs` set the RPC retry schedule of the driver's calls and of
    * every read task (ST4).
    */
  def readBlockStream(
      spark: SparkSession,
      blocksDir: String,
      finalityLag: Long = 20L,
      maxSlotsPerTrigger: Option[Long] = None,
      startSlot: Option[Long] = None,
      maxRetries: Int = 3,
      retryDelayMs: Long = 2000L): DataFrame = {
    val base = spark.readStream
      .format("slot-blocks")
      .option("path", blocksDir)
      .option("finalityLag", finalityLag.toString)
      .option("maxRetries", maxRetries.toString)
      .option("retryDelayMs", retryDelayMs.toString)
    val withMax = maxSlotsPerTrigger.fold(base)(n => base.option("maxSlotsPerTrigger", n.toString))
    startSlot.fold(withMax)(s => withMax.option("startSlot", s.toString)).load()
  }

  /** Slots per landed partition directory. At ~2.5 blocks/s (Solana slot
    * cadence) one bucket is ~a week of chain; a micro-batch touches 1-2
    * buckets, so a batch that must rewrite costs O(bucket), not O(table).
    */
  val DefaultBucketSize = 1000000L

  /** One micro-batch upsert: raw JSON lines -> blocks + transactions tables
    * under `tablesDir`, keyed last-write-wins on slot / signature. Only the
    * two tables the reference's loader writes (SURVEY §1.1 asymmetry).
    * `batchId` is the version stamp: monotonically increasing per
    * micro-batch, so a replayed batch deterministically supersedes itself.
    *
    * Both tables are laid out as slot-range partitions (`slot_bucket`);
    * transactions bucket by `block_slot`, so a replayed signature (same
    * block, same slot) always collides with its prior version inside one
    * bucket. Each table lands the batch by one of two paths, picked from
    * its [[Load.LandedMark]]:
    *
    *  - append (`MergeSink.append`, O(batch)): the batch's rows become new
    *    files in its buckets. Taken when the batch is not a replay and all
    *    its slots are above everything landed — the usual case, since the
    *    source's offsets only move forward — so it has no key to dedup
    *    against;
    *  - rewrite (`MergeSink.merge`, O(touched buckets)): only the buckets
    *    the batch touches are read, deduped with it and swapped
    *    (`Load.upsertPartitioned`). Taken by a replay after a crash, by a
    *    run over slots already landed, and by a table without a mark.
    *
    * A batch's cost is mostly fixed per Spark job, so it runs few of them
    * (5 for a 10-block batch appended to landed tables): one fills the parse
    * cache and collects the block rows, and each append runs two, the
    * shuffle and the write. Parents above the landed blocks' high slot
    * resolve from the mark; only older ones cost a probe job.
    */
  def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      tablesDir: String,
      bucketSize: Long = DefaultBucketSize,
      sinkOverride: Option[MergeSink] = None): Unit = {
    val spark = batch.sparkSession
    val parsed = Extract.parseBlocks(batch.select("value")).cache()
    try {
      val r = EtlPipeline.run(spark, parsed)
      def bucketOf(c: Column) = floor(c / bucketSize).cast("long")
      // The same bucket as bucketOf, computed on the driver (double division).
      def bucketOfSlot(slot: Long) = math.floor(slot.toDouble / bucketSize.toDouble).toLong
      // One row per block, so at most maxSlotsPerTrigger rows; this job
      // also fills the parse cache the transactions merge reads.
      val rows = r.blocks.collect().toSeq
      if (rows.isEmpty) return
      val slots = rows.map(_.getAs[Long]("slot"))
      // Both tables' buckets: every transaction's block_slot is a batch slot.
      val buckets = slots.map(bucketOfSlot).distinct.sorted
      def mark(table: String, slotCol: String) =
        Load.landedMark(spark, s"$tablesDir/$table", "slot_bucket", slotCol)
      val blocksMark = mark("blocks", "slot")
      val parentIdx = r.blocks.schema.fieldIndex("parent_slot")
      // S9/J2: parent_slot survives only when the parent block is already
      // landed or arrives in this batch (load.rs:172-182 FK-safety probe),
      // resolved on the driver. A committed blocks mark answers for parents
      // at or above its high slot: none above it landed, and the high slot
      // itself did, unless it came from a crashed batch that was never
      // replayed (the CLI's fixed checkpoint always replays one). Older
      // parents outside the batch are probed in one read pruned to their
      // buckets and filtered to their slots. It reads through the merge's
      // own heal-then-read, so a parent in a bucket an interrupted swap
      // left aside still counts as landed.
      def landed(parents: Seq[Long]): Set[Long] = {
        val (probed, answered) = parents.partition(p => !blocksMark.committed || p < blocksMark.high)
        answered.filter(_ == blocksMark.high).toSet ++
          Load.readBuckets(spark, s"$tablesDir/blocks", probed.map(bucketOfSlot), "slot_bucket",
            Some(StructType(Seq(StructField("slot", LongType)))))
            .fold(Set.empty[Long])(_.filter(col("slot").isin(probed: _*)).select("slot")
              .collect().map(_.getLong(0)).toSet)
      }
      val parents = Load.resolveParents(
        slots.zip(rows.map(b => Option(b.getAs[java.lang.Long](parentIdx)).map(_.longValue))), landed)
      val resolved = rows.zip(parents).map { case (b, p) =>
        Row.fromSeq(b.toSeq.updated(parentIdx, p.fold[Any](null)(identity)))
      }
      // The sink seam (MergeSink): parquet by default; pass sinkOverride
      // to land the same batches in a database target (JdbcMergeSink's
      // Derby MERGE path is integration-tested; scalar-project first —
      // JDBC refuses array columns).
      val sink = sinkOverride.getOrElse(new PartitionedParquetMergeSink(tablesDir))
      // Pending before the first data file, committed after the last: a
      // crash in between leaves the table pending, so its replay rewrites.
      def land(df: DataFrame, table: String, keys: Seq[String], prior: Load.LandedMark): Unit = {
        val path = s"$tablesDir/$table"
        val next = prior.advance(batchId, slots.max)
        Load.writeMark(spark, path, next)
        if (prior.admitsAppend(batchId, slots.min)) sink.append(df, table, keys, buckets)
        else sink.merge(df, table, keys)
        Load.writeMark(spark, path, next.copy(committed = true))
      }
      val blocks = spark.createDataFrame(resolved.asJava, r.blocks.schema)
        .withColumn("slot_bucket", bucketOf(col("slot")))
        .withColumn("__version", lit(batchId))
      land(blocks, "blocks", Seq("slot"), blocksMark)
      val txs = r.transactions
        .withColumn("slot_bucket", bucketOf(col("block_slot")))
        .withColumn("__version", lit(batchId))
      land(txs, "transactions", Seq("signature"), mark("transactions", "block_slot"))
    } finally parsed.unpersist()
  }

  /** Start the end-to-end streaming ETL with checkpoint recovery. */
  def start(
      spark: SparkSession,
      blocksDir: String,
      tablesDir: String,
      checkpointDir: String,
      finalityLag: Long = 20L,
      maxSlotsPerTrigger: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      startSlot: Option[Long] = None,
      bucketSize: Long = DefaultBucketSize,
      sinkOverride: Option[MergeSink] = None,
      maxRetries: Int = 3,
      retryDelayMs: Long = 2000L): StreamingQuery =
    readBlockStream(spark, blocksDir, finalityLag, maxSlotsPerTrigger, startSlot,
      maxRetries, retryDelayMs)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, id: Long) =>
        upsertBatch(batch, id, tablesDir, bucketSize, sinkOverride))
      .trigger(trigger)
      .start()

  // -------------------------------------------------------------------
  // ST6 capability surface (absent in the reference, declared in SURVEY):
  // event-time stateful operators for the analytical layer.

  /** Tumbling-window event counts with a watermark: late events beyond
    * `lateness` are dropped and window state is bounded — the 100 TB-safe
    * form of a streaming histogram.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLen: String,
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col(keyCol), col("n"))

  /** Streaming trending terms (ST8): per tumbling window, the top-k terms
    * of a text stream — TWO chained stateful aggregations in append mode
    * (term counts per window, then a bounded-heap top-k per window), the
    * multiple-stateful-operator shape Spark 4 supports when the second
    * aggregation re-windows over `window_time` so the watermark keeps
    * propagating. Both states evict on the same watermark; the heap
    * aggregate caps the second shuffle at k rows per mapper per window —
    * a global trending board over an unbounded stream with bounded
    * everything.
    *
    * Emits (window_start, rk, term, n) once the watermark closes a
    * window; ties rank lexicographically first.
    */
  def trendingTerms(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      windowLen: String,
      lateness: String,
      k: Int): DataFrame =
    docs
      .withWatermark(tsCol, lateness)
      .select(col(tsCol),
        explode(graft.text.TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(window(col(tsCol), windowLen).as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("w")), windowLen).as("w2"))
      .agg(org.apache.spark.sql.graftnative.TopK.collectTopK(
        struct(negate(col("n")).as("neg_n"), col("term").as("term")),
        k, reverse = true).as("__top"))
      .select(col("w2.start").as("window_start"),
        posexplode(array_sort(col("__top"))).as(Seq("__pos", "__it")))
      .select(
        col("window_start"),
        (col("__pos") + 1).cast("long").as("rk"),
        col("__it.term").as("term"),
        negate(col("__it.neg_n")).as("n"))

  /** Stream-stream interval join (ST7): each left event matched to right
    * events with the same key whose timestamp falls in
    * `[left_ts - within, left_ts]` — the streaming enrichment shape
    * (purchase ← clicks that preceded it). BOTH the watermarks and the
    * explicit time bound are load-bearing: Structured Streaming can only
    * evict buffered rows once it can prove no future match exists, and it
    * proves that from watermark + bound — without them state grows
    * without limit, the 100 TB-stream failure mode. Output columns are
    * the left row plus the right's timestamp/value columns prefixed
    * `r_`.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      tsCol: String,
      within: String,
      lateness: String,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"stream-stream join supports inner/left_outer here, got $joinType")
    val l = left.withWatermark(tsCol, lateness).alias("l")
    val r = right.withWatermark(tsCol, lateness).alias("r")
    val rCols = right.columns.filterNot(_ == key).toSeq
    // left_outer: an unmatched left row emits (with nulls) only once the
    // watermark proves no future right row can match it — correctness and
    // state eviction from the same bound.
    l.join(r,
      expr(s"l.$key = r.$key AND " +
        s"r.$tsCol >= l.$tsCol - interval $within AND r.$tsCol <= l.$tsCol"),
      joinType)
      .select(
        left.columns.map(c => col(s"l.$c")) ++
          rCols.map(c => col(s"r.$c").as(s"r_$c")): _*)
  }

  /** Streaming dedup with bounded state: duplicates arriving within the
    * watermark horizon are dropped, state for older keys is evicted.
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      lateness: String,
      keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keys)

  // -------------------------------------------------------------------
  // Custom state: gap-based sessionization via flatMapGroupsWithState —
  // the operator shape windowed aggregation can't express (session bounds
  // depend on the data, not the clock grid).

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class UserSession(
      user_id: Long,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp,
      n_events: Long)

  // -------------------------------------------------------------------
  // ST9: streaming funnel tracker — the per-user step machine whose batch
  // face is q45 (ordered funnel). Each user's state is just (step index,
  // ts of last completed step); an event advances the funnel iff it is
  // the NEXT step's type and strictly later than the previous completion
  // (the q45 contract). Events sort by event time within a micro-batch;
  // a cross-batch straggler older than an already-consumed step cannot
  // retroactively count — the standard streaming-funnel approximation,
  // with the batch operator as the exact reference. Completed funnels
  // keep a terminal state until the ttl evicts it SILENTLY, so a late
  // repeat of step one cannot restart the funnel and double-count the
  // user; incomplete funnels evict on the same event-time timeout but
  // emit an observable `abandoned` marker.

  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  /** lastTs = event time of the last COMPLETED step (the strictly-later
    * gate); seenTs = max event time observed for the user at all — the ttl
    * clock, so a no-progress funnel ages from its own events' times, not
    * from the first batch's still-zero watermark.
    */
  final case class FunnelProgress(step: Int, lastTs: Long, seenTs: Long)
  final case class FunnelStep(user_id: Long, step: String, step_ts: java.sql.Timestamp)

  def funnelTrack(
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      ttlSecs: Long,
      lateness: String = "10 seconds"): Dataset[FunnelStep] = {
    require(steps.nonEmpty, "steps must be non-empty")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelStep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, _, state) if state.hasTimedOut =>
          val s = state.get
          state.remove()
          // only an INCOMPLETE funnel is "abandoned" — completed ones keep
          // their terminal state until this same timeout so a late repeat
          // of step one can't restart the funnel and double-count the
          // user (the q45 batch face counts each user exactly once).
          if (s.step < steps.length)
            Iterator.single(FunnelStep(user, "abandoned",
              new java.sql.Timestamp(s.seenTs)))
          else Iterator.empty
        case (user, evs, state) =>
          var s = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue, 0L))
          val out = Seq.newBuilder[FunnelStep]
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_type)).foreach { e =>
            s = s.copy(seenTs = math.max(s.seenTs, e.ts.getTime))
            if (s.step < steps.length && e.event_type == steps(s.step) &&
              e.ts.getTime > s.lastTs) {
              s = FunnelProgress(s.step + 1, e.ts.getTime, s.seenTs)
              out += FunnelStep(user, s"${s.step}_${steps(s.step - 1)}", e.ts)
            }
          }
          state.update(s)
          // timeout must land beyond the current watermark; aging runs
          // from the user's own newest event (the watermark on the
          // FIRST batch is still 0, which would expire 2026 event-time
          // state instantly). Completed funnels keep their terminal
          // state on the same clock (evicted silently) so later repeat
          // events can't restart them.
          val base = math.max(s.seenTs, state.getCurrentWatermarkMs())
          state.setTimeoutTimestamp(base + ttlSecs * 1000L)
          out.result().iterator
      }
  }

  /** Sessions close after `gapSecs` of inactivity, finalized by event-time
    * timeout when the watermark passes session_end + gap — so state is
    * bounded and every session is emitted exactly once (append mode).
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapSecs: Long,
      lateness: String = "10 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapSecs * 1000L
    def toTs(ms: Long) = new java.sql.Timestamp(ms)

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, _, state) if state.hasTimedOut =>
          val s = state.get
          state.remove()
          Iterator.single(UserSession(user, toTs(s.start), toTs(s.last), s.n))
        case (user, evs, state) =>
          val times = evs.map(_.ts.getTime).toSeq.sorted
          val closed = Seq.newBuilder[UserSession]
          var cur = state.getOption
          times.foreach { t =>
            cur = cur match {
              case Some(s) if t - s.last <= gapMs =>
                Some(s.copy(last = math.max(s.last, t), n = s.n + 1))
              case Some(s) =>
                closed += UserSession(user, toTs(s.start), toTs(s.last), s.n)
                Some(SessionState(t, t, 1))
              case None => Some(SessionState(t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.last + gapMs)
          }
          closed.result().iterator
      }
  }
}
