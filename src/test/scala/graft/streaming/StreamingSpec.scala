package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase

/** SURVEY §2.8: slot-offset micro-batch source (ST1), finality lag (ST2),
  * admission control (ST3), checkpointed idempotent upsert = effectively
  * exactly-once (ST5), and the stateful capability surface (ST6).
  */
class StreamingSpec extends SparkTestBase {

  /** Minimal valid jsonParsed block: one successful system transfer. */
  private def blockJson(slot: Long): String =
    s"""{"slot":$slot,"blockhash":"hash$slot","parentSlot":${slot - 1},""" +
      s""""blockTime":${1700000000L + slot},"blockHeight":${slot - 100},""" +
      s""""transactions":[{"meta":{"err":null,"fee":5000},"transaction":{""" +
      s""""signatures":["sig_$slot"],"message":{"accountKeys":[""" +
      s"""{"pubkey":"A$slot","signer":true,"writable":true},""" +
      s"""{"pubkey":"B$slot","signer":false,"writable":true}],""" +
      s""""instructions":[{"program":"system","programId":"11111111111111111111111111111111",""" +
      s""""parsed":{"type":"transfer","info":{"lamports":1000,"source":"A$slot","destination":"B$slot"}}}]}}}]}"""

  private def writeSlots(dir: String, slots: Seq[Long]): Unit = {
    Files.createDirectories(Paths.get(dir))
    slots.foreach(s => Files.writeString(Paths.get(dir, s"$s.json"), blockJson(s)))
  }

  private def tmpDir(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  test("finality lag: only slots <= tip - lag are processed (ST2)") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, 100L to 130L)
    val q = StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 20L)
    q.awaitTermination()

    val slots = spark.read.parquet(s"$tables/blocks")
      .select("slot").collect().map(_.getLong(0)).sorted
    assert(slots.toSeq == (100L to 110L)) // tip=130, horizon=110
  }

  test("admission control caps slots per micro-batch (ST3)") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, 1L to 30L)
    val q = StreamingPipeline.start(
      spark, src, tables, ckpt, finalityLag = 0L, maxSlotsPerTrigger = Some(5L))
    q.awaitTermination()

    // All 30 slots land, across >= 6 capped micro-batches.
    assert(spark.read.parquet(s"$tables/blocks").count() == 30L)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 6)
    assert(batches.forall(_.numInputRows <= 5))
  }

  test("checkpoint recovery resumes from the committed slot; upsert is idempotent (ST5)") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, 1L to 10L)
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L).awaitTermination()
    assert(spark.read.parquet(s"$tables/blocks").count() == 10L)

    // New slots land; restart against the same checkpoint.
    writeSlots(src, 11L to 15L)
    val q2 = StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L)
    q2.awaitTermination()

    val blocks = spark.read.parquet(s"$tables/blocks")
    assert(blocks.count() == 15L) // exactly one row per slot: no dup from replay
    assert(blocks.select("slot").distinct().count() == 15L)
    // Only the 5 new slots were read on restart.
    assert(q2.recentProgress.map(_.numInputRows).sum == 5L)

    val txs = spark.read.parquet(s"$tables/transactions")
    assert(txs.count() == 15L)
    assert(txs.select("signature").distinct().count() == 15L)
  }

  test("parent-slot FK safety (S9): orphan parents null, in-batch and landed parents kept") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, Seq(5L, 6L)) // 5's parent (4) absent -> null; 6's parent (5) in batch
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L).awaitTermination()
    writeSlots(src, Seq(7L)) // second batch: parent 6 already landed
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L).awaitTermination()

    val parents = spark.read.parquet(s"$tables/blocks")
      .select("slot", "parent_slot").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(parents(5L).isEmpty)        // orphan: parent 4 never fetched
    assert(parents(6L).contains(5L))   // same-batch parent
    assert(parents(7L).contains(6L))   // previously landed parent
  }

  test("incremental upsert touches only the batch's slot-range partitions") {
    import scala.jdk.CollectionConverters._
    def partitionFiles(tables: String): Map[String, (Long, String)] =
      Files.walk(Paths.get(tables)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map { p =>
          val bytes = Files.readAllBytes(p)
          val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          p.toString -> (Files.size(p), md.map("%02x".format(_)).mkString)
        }.toMap

    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    // bucketSize=4: slots 1-10 land in buckets 0 (1-3), 1 (4-7), 2 (8-10).
    writeSlots(src, 1L to 10L)
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L, bucketSize = 4L)
      .awaitTermination()
    val before = partitionFiles(tables)
    assert(before.keys.exists(_.contains("slot_bucket=0")))
    assert(before.keys.exists(_.contains("slot_bucket=2")))

    // Second batch: slots 11 (bucket 2) and 12 (bucket 3), above every
    // landed slot, so both tables append — buckets 0 and 1 of BOTH tables
    // must not be rewritten (files byte-identical), bucket 2 gains one new
    // file, bucket 3 is new.
    writeSlots(src, Seq(11L, 12L))
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L, bucketSize = 4L)
      .awaitTermination()
    val after = partitionFiles(tables)

    def bucketOf(path: String): Option[String] =
      "slot_bucket=(\\d+)".r.findFirstMatchIn(path).map(_.group(1))
    val untouchedBefore = before.filter { case (p, _) => bucketOf(p).exists(b => b == "0" || b == "1") }
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"untouched partition file rewritten: $p")
    }
    // Touched bucket 2 was appended to: its old files are byte-identical,
    // and each table's bucket 2 holds exactly one new file.
    val touchedBefore = before.filter { case (p, _) => bucketOf(p).contains("2") }
    assert(touchedBefore.nonEmpty)
    touchedBefore.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"appended-to partition file rewritten: $p")
    }
    Seq("blocks", "transactions").foreach { t =>
      val added = after.keys.filter(p => p.contains(s"/$t/") && bucketOf(p).contains("2")).toSet --
        touchedBefore.keys
      assert(added.size == 1, s"$t bucket 2 new files: $added")
    }
    // New bucket 3 exists and all 12 slots are present exactly once.
    assert(after.keys.exists(_.contains("slot_bucket=3")))
    val blocks = spark.read.parquet(s"$tables/blocks")
    assert(blocks.count() == 12L)
    assert(blocks.select("slot").distinct().count() == 12L)
    val txs = spark.read.parquet(s"$tables/transactions")
    assert(txs.select("signature").distinct().count() == 12L)
    // Cross-bucket parents resolve: slot 12 (bucket 3) keeps parent 11
    // (bucket 2, same batch); slot 11 (bucket 2) keeps landed parent 10 —
    // the pruned probe scans the PARENT's bucket, not the incoming slot's.
    val parents = blocks.filter("slot >= 11").select("slot", "parent_slot")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(parents == Map(11L -> 10L, 12L -> 11L))
  }

  test("parent probe reads through the heal: a bucket left aside by a crash still counts") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, Seq(5L, 6L))
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L).awaitTermination()
    // The crash window of a bucket swap: old -> aside done, staged -> live not.
    assert(new java.io.File(s"$tables/blocks/slot_bucket=0")
      .renameTo(new java.io.File(s"$tables/blocks.old-0")))
    writeSlots(src, Seq(7L))
    StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L).awaitTermination()

    val parents = spark.read.parquet(s"$tables/blocks")
      .select("slot", "parent_slot").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(parents.keySet == Set(5L, 6L, 7L)) // the aside was restored
    assert(parents(7L).contains(6L))          // and its parent seen by the probe
  }

  test("a crash between the blocks and transactions merges replays to a clean run's tables") {
    import graft.etl.{MergeSink, PartitionedParquetMergeSink}
    val src = tmpDir("src")
    writeSlots(src, 1L to 10L)
    def land(tables: String, ckpt: String, sink: MergeSink) =
      StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L,
        maxSlotsPerTrigger = Some(5L), sinkOverride = Some(sink)).awaitTermination()
    val clean = tmpDir("clean")
    land(clean, tmpDir("cclean"), new PartitionedParquetMergeSink(clean))

    // Second batch: blocks merge lands, then the process dies before the
    // transactions merge; the restart replays the batch from the checkpoint.
    val crashed = tmpDir("crashed"); val ckpt = tmpDir("ccrashed")
    val merges = new java.util.concurrent.atomic.AtomicInteger()
    val inner = new PartitionedParquetMergeSink(crashed)
    val crashing = new MergeSink {
      def merge(b: org.apache.spark.sql.DataFrame, table: String, keys: Seq[String]): Unit = {
        if (table == "transactions" && merges.incrementAndGet() == 2)
          throw new IllegalStateException("crash between merges")
        inner.merge(b, table, keys)
      }
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](land(crashed, ckpt, crashing))
    assert(spark.read.parquet(s"$crashed/transactions").count() == 5L) // batch 1's txs missing
    land(crashed, ckpt, crashing)

    def rows(tables: String, table: String) = // processed_at is wall-clock
      spark.read.parquet(s"$tables/$table").drop("processed_at")
        .collect().map(_.toString).sorted.toSeq
    Seq("blocks", "transactions").foreach { t =>
      assert(rows(crashed, t) == rows(clean, t), s"$t differs from the clean run")
    }
    assert(rows(clean, "blocks").size == 10 && rows(clean, "transactions").size == 10)
  }

  test("a 10-block batch into landed tables runs at most 5 Spark jobs, none a footer read") {
    import org.apache.spark.graftbridge.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val tables = tmpDir("tables")
    def raw(slots: Seq[Long]) = slots.map(blockJson).toDF("value")
    StreamingPipeline.upsertBatch(raw(1L to 10L), 0L, tables)
    ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000L)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(js)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamingPipeline.upsertBatch(raw(11L to 20L), 1L, tables) // slot 11's parent is landed
      ListenerBridge.waitUntilEmpty(spark.sparkContext, 30000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // Every job of the batch runs inside a SQL query; schema inference's
    // footer-read job (and a parallel file listing) runs outside one.
    val described = jobs.asScala.toSeq.map { j =>
      Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .fold("outside a query")(id => s"query $id") +
        ": " + j.stageInfos.map(_.name).mkString("; ")
    }
    assert(described.size <= 5, described.mkString("\n"))
    assert(!described.exists(_.startsWith("outside a query")), described.mkString("\n"))
    val parent = spark.read.parquet(s"$tables/blocks").filter("slot = 11")
      .select("parent_slot").head()
    assert(parent.getLong(0) == 10L) // the landed parent was resolved from the mark
  }

  /** The parquet sink, forwarding both landing paths and recording which
    * one each table's batch took.
    */
  private class PathRecordingSink(tables: String) extends graft.etl.MergeSink {
    private val inner = new graft.etl.PartitionedParquetMergeSink(tables)
    private val taken = scala.collection.mutable.ArrayBuffer[(String, String)]()
    def merge(b: org.apache.spark.sql.DataFrame, table: String, keys: Seq[String]): Unit = {
      taken.synchronized(taken += table -> "rewrite")
      inner.merge(b, table, keys)
    }
    override def append(
        b: org.apache.spark.sql.DataFrame, table: String, keys: Seq[String], buckets: Seq[Long]): Unit = {
      taken.synchronized(taken += table -> "append")
      inner.append(b, table, keys, buckets)
    }
    /** The paths taken since the last call. */
    def paths(): Seq[(String, String)] = taken.synchronized {
      val out = taken.toSeq; taken.clear(); out
    }
  }

  private def both(path: String) = Seq("blocks" -> path, "transactions" -> path)

  private def mark(tables: String, table: String) =
    graft.etl.Load.landedMark(spark, s"$tables/$table", "slot_bucket",
      if (table == "blocks") "slot" else "block_slot")

  private def landedKeys(tables: String): (Seq[Long], Seq[String]) = (
    spark.read.parquet(s"$tables/blocks").select("slot").collect().map(_.getLong(0)).sorted.toSeq,
    spark.read.parquet(s"$tables/transactions").select("signature").collect().map(_.getString(0))
      .sorted.toSeq)

  test("a crash mid-append leaves the mark pending; the replay rewrites to a clean run's tables") {
    import graft.etl.Load.LandedMark
    val src = tmpDir("src")
    writeSlots(src, 1L to 10L)
    def land(tables: String, ckpt: String, sink: graft.etl.MergeSink) =
      StreamingPipeline.start(spark, src, tables, ckpt, finalityLag = 0L,
        maxSlotsPerTrigger = Some(5L), sinkOverride = Some(sink)).awaitTermination()
    val clean = tmpDir("clean")
    land(clean, tmpDir("cclean"), new PathRecordingSink(clean))

    // Second batch: the blocks append writes half of its rows, then the
    // process dies before the mark is committed.
    val crashed = tmpDir("crashed"); val ckpt = tmpDir("ccrashed")
    val blockAppends = new java.util.concurrent.atomic.AtomicInteger()
    val crashing = new PathRecordingSink(crashed) {
      override def append(
          b: org.apache.spark.sql.DataFrame, table: String, keys: Seq[String], buckets: Seq[Long]): Unit =
        if (table == "blocks" && blockAppends.incrementAndGet() == 2) {
          super.append(b.filter("slot % 2 = 0"), table, keys, buckets)
          throw new IllegalStateException("crash mid-append")
        } else super.append(b, table, keys, buckets)
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](land(crashed, ckpt, crashing))
    assert(crashing.paths() == both("append") :+ ("blocks" -> "append"))
    assert(landedKeys(crashed)._1 == Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 10L))
    assert(mark(crashed, "blocks") == LandedMark(1L, 10L, committed = false))
    assert(mark(crashed, "transactions") == LandedMark(0L, 5L, committed = true))

    val replay = new PathRecordingSink(crashed)
    land(crashed, ckpt, replay)
    assert(replay.paths() == Seq("blocks" -> "rewrite", "transactions" -> "append"))
    def rows(tables: String, table: String) = // processed_at is wall-clock
      spark.read.parquet(s"$tables/$table").drop("processed_at")
        .collect().map(_.toString).sorted.toSeq
    Seq("blocks", "transactions").foreach { t =>
      assert(rows(crashed, t) == rows(clean, t), s"$t differs from the clean run")
      assert(mark(crashed, t) == LandedMark(1L, 10L, committed = true))
    }
  }

  test("the same batchId applied twice rewrites and leaves one row per key") {
    import spark.implicits._
    val tables = tmpDir("tables"); val sink = new PathRecordingSink(tables)
    val raw = (1L to 10L).map(blockJson).toDF("value")
    StreamingPipeline.upsertBatch(raw, 0L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("append"))
    StreamingPipeline.upsertBatch(raw, 0L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("rewrite"))
    assert(landedKeys(tables) == ((1L to 10L).toSeq, (1L to 10L).map(s => s"sig_$s").sorted))
  }

  test("a new batchId over slots at or below the high-water slot rewrites, landing no duplicates") {
    import spark.implicits._
    val tables = tmpDir("tables"); val sink = new PathRecordingSink(tables)
    def raw(slots: Seq[Long]) = slots.map(blockJson).toDF("value")
    StreamingPipeline.upsertBatch(raw(1L to 10L), 0L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("append"))
    StreamingPipeline.upsertBatch(raw(10L to 12L), 1L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("rewrite")) // its lowest slot is the high-water slot
    assert(landedKeys(tables) == ((1L to 12L).toSeq, (1L to 12L).map(s => s"sig_$s").sorted))
    assert(mark(tables, "blocks") == graft.etl.Load.LandedMark(1L, 12L, committed = true))
    val parent = spark.read.parquet(s"$tables/blocks").filter("slot = 10").select("parent_slot").head()
    assert(parent.getLong(0) == 9L) // a parent below the high slot is probed
  }

  test("a table with rows but no _landed mark rewrites, then appends under the mark it committed") {
    import spark.implicits._
    val tables = tmpDir("tables"); val sink = new PathRecordingSink(tables)
    def raw(slots: Seq[Long]) = slots.map(blockJson).toDF("value")
    StreamingPipeline.upsertBatch(raw(1L to 10L), 0L, tables, sinkOverride = Some(sink))
    sink.paths()
    // As landed before marks existed.
    val fs = new org.apache.hadoop.fs.Path(tables).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("blocks", "transactions").foreach { t =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$tables/$t/_landed"), false))
    }
    StreamingPipeline.upsertBatch(raw(3L to 4L), 1L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("rewrite"))
    // The committed mark's high slot comes from the landed rows.
    assert(mark(tables, "transactions") == graft.etl.Load.LandedMark(1L, 10L, committed = true))
    StreamingPipeline.upsertBatch(raw(11L to 12L), 2L, tables, sinkOverride = Some(sink))
    assert(sink.paths() == both("append"))
    assert(landedKeys(tables) == ((1L to 12L).toSeq, (1L to 12L).map(s => s"sig_$s").sorted))
  }

  test("run stats from streaming progress (A3)") {
    val src = tmpDir("src"); val tables = tmpDir("tables"); val ckpt = tmpDir("ckpt")
    writeSlots(src, 1L to 8L)
    val q = StreamingPipeline.start(
      spark, src, tables, ckpt, finalityLag = 0L, maxSlotsPerTrigger = Some(4L))
    q.awaitTermination()
    val stats = graft.etl.RunStats.fromQuery(q)
      .copy(totalTransactions = spark.read.parquet(s"$tables/transactions").count())
    assert(stats.blocksAttempted == 8L)
    assert(stats.successRate == 100.0)
    assert(stats.totalTransactions == 8L)
    assert(stats.elapsedSecs > 0.0)
    assert(stats.topErrors.isEmpty)
  }

  test("file-streamed events: windowed counts match the batch plan (ST1+ST6)") {
    val sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    def fixTs(df: org.apache.spark.sql.DataFrame) = graft.tables.Tables.normalizeTs(df, "ts")

    // The file source streams a directory of files landing over time.
    val evDir = tmpDir("events")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(evDir, "part-0.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val stream = fixTs(spark.readStream.schema(schema).parquet(evDir))
    val q = StreamingPipeline.windowedCounts(stream, "ts", "event_type", "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("ev_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("ev_stream")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = StreamingPipeline.windowedCounts(
      fixTs(spark.read.parquet(s"$sf/events.parquet")), "ts", "event_type", "1 hour", "0 seconds")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("connection probe returns tip slot + blockhash (S4)") {
    val src = tmpDir("src")
    writeSlots(src, Seq(41L, 42L))
    val info = new FileSlotRpc(src).connectionInfo(src)
    assert(info.exists(i => i.currentSlot == 42L && i.latestBlockhash == "hash42"))
    assert(info.exists(_.version.nonEmpty)) // S4: get_version parity (rpc/mod.rs:57-61)
    assert(new FileSlotRpc(tmpDir("empty")).connectionInfo("x").isEmpty)
  }

  test("re-processing the same slot converges (last write wins)") {
    val src = tmpDir("src"); val tables = tmpDir("tables")
    writeSlots(src, 1L to 3L)
    // Two runs with *different* checkpoints = full replay of all slots.
    StreamingPipeline.start(spark, src, tables, tmpDir("c1"), finalityLag = 0L).awaitTermination()
    StreamingPipeline.start(spark, src, tables, tmpDir("c2"), finalityLag = 0L).awaitTermination()
    val blocks = spark.read.parquet(s"$tables/blocks")
    assert(blocks.count() == 3L)
  }

  test("windowed counts with watermark drop too-late events (ST6)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val counts = StreamingPipeline.windowedCounts(
      mem.toDF().toDF("ts", "user"), "ts", "user", "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData((t(0), "u1"), (t(1), "u1"), (t(12), "u2"))
    q.processAllAvailable() // watermark -> 10:07
    mem.addData((t(30), "u3")) // watermark -> 10:25: [10:00,10:10) + [10:10,10:20) finalize
    q.processAllAvailable()
    // Too late: window end 10:10 < watermark 10:25 — must be dropped, the
    // already-emitted count stays 2 (a row is late only once the watermark
    // passes its window END, not its own timestamp).
    mem.addData((t(1), "u1"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wc")
      .select($"window_start", $"user", $"n").as[(Timestamp, String, Long)]
      .collect().toSet
    assert(rows.contains((t(0), "u1", 2L))) // late row NOT counted
    assert(rows.contains((t(10), "u2", 1L)))
    assert(!rows.exists { case (w, u, n) => w == t(0) && u == "u1" && n != 2L })
  }

  test("streaming trending terms: chained windowed aggs emit a closed window's top-k (ST8)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val out = StreamingPipeline.trendingTerms(
      mem.toDF().toDF("ts", "text"), "ts", "text", "10 minutes", "5 minutes", k = 2)
    val q = out.writeStream.format("memory").queryName("tt")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData((t(0), "spark spark flink"), (t(1), "spark beam"))
    q.processAllAvailable()
    // watermark -> 10:25: the [10:00,10:10) window closes through BOTH
    // stateful operators and its top-k emits exactly once.
    mem.addData((t(30), "later window terms"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tt")
      .select($"window_start", $"rk", $"term", $"n")
      .as[(Timestamp, Long, String, Long)].collect().toSet
    // counts in 10:00-10:10: spark=3, beam=1, flink=1 -> top-2 = spark,
    // then the count-1 TIE resolves lexicographically to beam.
    assert(rows == Set((t(0), 1L, "spark", 3L), (t(0), 2L, "beam", 1L)))
  }

  test("streaming funnel: steps advance in order across batches; stragglers can't rewind (ST9)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[StreamingPipeline.FunnelEvent]
    // lateness spans the fixture's cross-batch gap: u2's 10:03 signup
    // arrives after the watermark passed 10:04:50 under the default 10s —
    // it must be admitted as in-horizon, not dropped as late data.
    val out = StreamingPipeline.funnelTrack(
      mem.toDS(), steps = Seq("signup", "view", "click"), ttlSecs = 3600,
      lateness = "10 minutes")
    val q = out.writeStream.format("memory").queryName("fn")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    import StreamingPipeline.FunnelEvent
    // u1: signup+view arrive OUT OF ORDER in one batch -> in-batch event-
    // time sort still advances both. u2: view BEFORE signup -> no progress.
    mem.addData(
      FunnelEvent(1L, t(5), "view"), FunnelEvent(1L, t(1), "signup"),
      FunnelEvent(2L, t(1), "view"))
    q.processAllAvailable()
    // u1 click in a LATER batch advances to completion (state removed);
    // u2's signup arrives now, but its earlier view was already missed.
    // u1 straggler: a second 'view' older than the consumed click — the
    // funnel is complete and gone; nothing emits.
    mem.addData(FunnelEvent(1L, t(9), "click"), FunnelEvent(2L, t(3), "signup"),
      FunnelEvent(1L, t(7), "view"))
    q.processAllAvailable()
    // u1's funnel is COMPLETE: a later repeat of step one must not
    // restart it (the q45 batch face counts each user exactly once).
    mem.addData(FunnelEvent(1L, t(11), "signup"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("fn")
      .select($"user_id", $"step", $"step_ts")
      .as[(Long, String, Timestamp)].collect().toSet
    assert(rows == Set(
      (1L, "1_signup", t(1)), (1L, "2_view", t(5)), (1L, "3_click", t(9)),
      (2L, "1_signup", t(3))))
  }

  test("streaming funnel: abandoned state evicts by event-time timeout with a marker (ST9)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[StreamingPipeline.FunnelEvent]
    val out = StreamingPipeline.funnelTrack(
      mem.toDS(), steps = Seq("signup", "view"), ttlSecs = 60,
      lateness = "1 second")
    val q = out.writeStream.format("memory").queryName("fnttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    import StreamingPipeline.FunnelEvent
    mem.addData(FunnelEvent(1L, t(0), "signup"))
    q.processAllAvailable()
    // another user's much-later event pushes the watermark far past
    // u1's ttl: u1's half-done funnel must evict with the marker.
    mem.addData(FunnelEvent(9L, t(30), "signup"))
    q.processAllAvailable()
    mem.addData(FunnelEvent(9L, t(59), "view"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("fnttl")
      .select($"user_id", $"step").as[(Long, String)].collect().toSet
    assert(rows.contains((1L, "abandoned")))
    assert(rows.contains((1L, "1_signup")) && rows.contains((9L, "1_signup")))
  }

  test("sessionization: gap-based sessions via flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, Timestamp)]
    val sessions = StreamingPipeline.sessionize(
      mem.toDS().map { case (u, ts) => StreamingPipeline.SessionEvent(u, ts) },
      gapSecs = 300L) // 5-minute gap
    val q = sessions.toDF().writeStream.format("memory").queryName("sess")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // user 1: burst at 10:00-10:02, then again at 10:20 (new session).
    mem.addData((1L, t(0)), (1L, t(1)), (1L, t(2)))
    q.processAllAvailable()
    mem.addData((1L, t(20)), (2L, t(21)))
    q.processAllAvailable() // closes user 1's first session on arrival
    mem.addData((2L, t(50)))
    q.processAllAvailable() // watermark passes 10:25 -> timeouts fire
    q.stop()

    val got = spark.table("sess")
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Timestamp, Timestamp, Long)].collect().toSet
    assert(got.contains((1L, t(0), t(2), 3L)))   // closed by the gap
    assert(got.contains((1L, t(20), t(20), 1L))) // closed by event-time timeout
    assert(got.contains((2L, t(21), t(21), 1L)))
  }

  test("left-outer stream-stream join emits unmatched rows once the watermark proves it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(h: Int, m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamingPipeline.streamStreamJoin(
      purchases.toDF().toDF("user_id", "ts", "amount"),
      clicks.toDF().toDF("user_id", "ts", "page"),
      key = "user_id", tsCol = "ts", within = "10 minutes", lateness = "5 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // u1 matches; u2's purchase has no click in its window.
    clicks.addData((1L, t(10, 0), "home"))
    purchases.addData((1L, t(10, 5), 9.99), (2L, t(10, 5), 5.0))
    q.processAllAvailable()
    // Advance both watermarks far past u2's window end before asserting
    // the null emission (outer results wait for the proof).
    clicks.addData((9L, t(11, 0), "later"))
    purchases.addData((9L, t(11, 0), 1.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj_outer")
      .select($"user_id", $"amount", $"r_page").as[(Long, Double, Option[String])]
      .collect().toSet
    assert(got.contains((1L, 9.99, Some("home"))))
    assert(got.contains((2L, 5.0, None)), s"unmatched left must emit with nulls: $got")
  }

  test("the MergeSink seam: a swapped-in sink receives both tables' stamped batches") {
    import spark.implicits._
    val raw = Seq(blockJson(42L), blockJson(43L)).toDF("value")
    val seen = scala.collection.mutable.Map[String, (Seq[String], Long, Set[Long])]()
    val recorder = new graft.etl.MergeSink {
      def merge(b: org.apache.spark.sql.DataFrame, table: String, keys: Seq[String]): Unit =
        seen.synchronized {
          seen(table) = (keys, b.count(),
            b.select("__version").distinct().as[Long].collect().toSet)
        }
    }
    StreamingPipeline.upsertBatch(raw, batchId = 7L, tablesDir = tmpDir("seam"),
      sinkOverride = Some(recorder))
    assert(seen.keySet == Set("blocks", "transactions"))
    assert(seen("blocks")._1 == Seq("slot") && seen("blocks")._2 == 2L)
    assert(seen("transactions")._1 == Seq("signature") && seen("transactions")._2 == 2L)
    assert(seen.values.forall(_._3 == Set(7L))) // every row version-stamped
  }

  test("stream-stream interval join enriches within the bound, drops beyond it (ST7)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamingPipeline.streamStreamJoin(
      purchases.toDF().toDF("user_id", "ts", "amount"),
      clicks.toDF().toDF("user_id", "ts", "page"),
      key = "user_id", tsCol = "ts", within = "10 minutes", lateness = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    // u1: click at 10:00 and 10:03, purchase at 10:05 -> both match.
    // u2: click at 10:00, purchase at 10:20 -> outside the 10-min bound.
    clicks.addData((1L, t(0), "home"), (1L, t(3), "item"), (2L, t(0), "home"))
    purchases.addData((1L, t(5), 9.99))
    q.processAllAvailable()
    purchases.addData((2L, t(20), 5.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj")
      .select($"user_id", $"ts", $"amount", $"r_ts", $"r_page")
      .as[(Long, Timestamp, Double, Timestamp, String)].collect().toSet
    assert(got == Set(
      (1L, t(5), 9.99, t(0), "home"),
      (1L, t(5), 9.99, t(3), "item")))
  }

  test("dropDuplicatesWithinWatermark bounds dedup state (ST6)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val deduped = StreamingPipeline.dedupWithinWatermark(
      mem.toDF().toDF("ts", "event_id"), "ts", "10 minutes", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def t(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData((t(0), "e1"), (t(1), "e1"), (t(2), "e2"))
    q.processAllAvailable()
    mem.addData((t(3), "e1")) // duplicate within watermark horizon
    q.processAllAvailable()
    q.stop()

    assert(spark.table("dd").select($"event_id").as[String].collect().sorted.toSeq
      == Seq("e1", "e2"))
  }
}
