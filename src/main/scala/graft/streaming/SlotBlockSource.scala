package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming source for slot-addressed block JSON (SURVEY §2.8
  * ST1-ST3) — the real version of the reference's stubbed continuous mode
  * (`src/main.rs:123-148`, which logs the next slot window but never re-runs
  * the pipeline).
  *
  * Offsets are slot numbers — naturally monotonic longs, so checkpointing
  * and replay are trivial. Three reference behaviors become source options:
  *
  *  - `finalityLag` (default 20): only slots <= tip - lag are offered,
  *    mirroring the reference's `latest - 20` reorg-safety window
  *    (`src/main.rs:94-98,139-140`). An availability horizon, not a
  *    watermark: unfinalized slots are simply not visible yet.
  *  - `maxSlotsPerTrigger`: admission control, the analog of the
  *    reference's 100 ms inter-fetch rate limit
  *    (`src/etl/extract.rs:284-286`) re-expressed as batch-size capping
  *    (Kafka's maxOffsetsPerTrigger pattern).
  *  - `path`: directory of `<slot>.json` files — the file-backed RPC
  *    required by the zero-egress environment; a live deployment swaps
  *    [[SlotRpc]] for an HTTP getBlock/getSlot client with the same
  *    interface.
  *  - `maxRetries` (default 3) and `retryDelayMs` (default 2000): the
  *    [[RetryingSlotRpc]] schedule for the driver's tip/listing calls and
  *    every executor's block reads (`src/pipeline.rs:187-243`).
  *
  * Rows are `(slot LONG, value STRING)` raw JSON lines; downstream parsing
  * goes through [[graft.etl.Extract.parseBlocks]] so batch and streaming
  * share one code path.
  */
class SlotBlockDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "slot-blocks"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SlotBlockSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SlotBlockTable(properties.asScala.toMap)
}

object SlotBlockSource {
  val schema: StructType = StructType(Seq(
    StructField("slot", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))
}

/** Minimal RPC surface the source needs (reference `src/rpc/mod.rs:64-90`):
  * the chain tip and one block's JSON by slot. File-backed here; the
  * interface is where a live JSON-RPC client would plug in.
  */
trait SlotRpc extends Serializable {
  def tipSlot(): Option[Long]
  def availableSlots(fromExclusive: Long, toInclusive: Long): Seq[Long]
  def blockJson(slot: Long): Option[String]

  /** The node software version (rpc/mod.rs:57-61 `get_version` — the
    * reference's connectivity check). File-backed sources report a static
    * descriptor; a live JSON-RPC client returns the node's `solana-core`.
    */
  def serverVersion(): String = "file-backed"

  /** S4 — startup connection probe (rpc/mod.rs:41-61, models.rs:73-78):
    * endpoint + node version + tip blockhash + tip slot + probe time. A
    * readiness check, not a query operator.
    */
  def connectionInfo(endpoint: String): Option[ConnectionInfo] =
    tipSlot().map { tip =>
      val blockhash = blockJson(tip)
        .flatMap("\"blockhash\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(_))
        .map(_.group(1)).getOrElse("")
      ConnectionInfo(
        endpoint, serverVersion(), blockhash, tip, System.currentTimeMillis() / 1000L)
    }
}

final case class ConnectionInfo(
    endpoint: String,
    version: String,
    latestBlockhash: String,
    currentSlot: Long,
    timestampSecs: Long)

/** ST4 — retrying decorator over any [[SlotRpc]]: every call retries
  * transient (IO) failures with the reference's linear-backoff schedule
  * (graft.util.Retry; ref src/pipeline.rs:187-243). Wrapping at the RPC
  * seam keeps the source/pipeline code retry-oblivious, and composes with
  * Spark task retries + the idempotent sink for non-transient crashes.
  */
final class RetryingSlotRpc(
    inner: SlotRpc,
    val maxRetries: Int = 3,
    val delayMs: Long = 2000L,
    sleeper: Long => Unit = Thread.sleep) extends SlotRpc {
  private def retry[T](f: => T): T =
    graft.util.Retry.withBackoff(maxRetries, delayMs, sleeper = sleeper)(f)

  override def tipSlot(): Option[Long] = retry(inner.tipSlot())
  override def availableSlots(fromExclusive: Long, toInclusive: Long): Seq[Long] =
    retry(inner.availableSlots(fromExclusive, toInclusive))
  override def blockJson(slot: Long): Option[String] = retry(inner.blockJson(slot))
  override def serverVersion(): String = retry(inner.serverVersion())
}

/** Reads `<slot>.json` files from a local/DFS-visible directory. */
final class FileSlotRpc(dir: String) extends SlotRpc {
  private def slotFiles(): Seq[(Long, java.io.File)] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).toSeq.flatten
      .flatMap { f =>
        val n = f.getName
        if (n.endsWith(".json")) scala.util.Try(n.stripSuffix(".json").toLong).toOption.map(_ -> f)
        else None
      }
      .sortBy(_._1)
  }

  override def tipSlot(): Option[Long] = slotFiles().lastOption.map(_._1)

  override def availableSlots(fromExclusive: Long, toInclusive: Long): Seq[Long] =
    slotFiles().map(_._1).filter(s => s > fromExclusive && s <= toInclusive)

  override def blockJson(slot: Long): Option[String] = {
    val f = new java.io.File(dir, s"$slot.json")
    if (f.isFile) Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }
}

class SlotBlockTable(properties: Map[String, String]) extends Table with SupportsRead {
  private val path = properties.getOrElse("path",
    throw new IllegalArgumentException("slot-blocks source requires a 'path' option"))

  override def name(): String = s"slot-blocks:$path"
  override def schema(): StructType = SlotBlockSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  /** Option lookup: Spark hands the options over with lower-cased keys. */
  private def opt(name: String): Option[String] =
    properties.get(name.toLowerCase).orElse(properties.get(name))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SlotBlockSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SlotBlockMicroBatchStream(
            new RetryingSlotRpc(
              new FileSlotRpc(path),
              maxRetries = opt("maxRetries").fold(3)(_.toInt),
              delayMs = opt("retryDelayMs").fold(2000L)(_.toLong)),
            path,
            finalityLag = opt("finalityLag").fold(20L)(_.toLong),
            maxSlotsPerTrigger = opt("maxSlotsPerTrigger").map(_.toLong),
            startSlot = opt("startSlot").map(_.toLong))
      }
    }
}

/** Slot-number offset: `json` is just the decimal slot. The offset value is
  * the highest slot *included* so far (exclusive start of the next batch).
  */
case class SlotOffset(slot: Long) extends Offset {
  override def json: String = slot.toString
}

class SlotBlockMicroBatchStream(
    rpc: RetryingSlotRpc,
    dir: String,
    finalityLag: Long,
    maxSlotsPerTrigger: Option[Long],
    startSlot: Option[Long] = None)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override def getDefaultReadLimit: ReadLimit =
    maxSlotsPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  /** Trigger.AvailableNow support: snapshot the horizon once at query start;
    * subsequent (rate-capped) batches drain up to that snapshot, then the
    * query stops — new slots landing mid-drain wait for the next run.
    */
  @volatile private var availableNowHorizon: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHorizon = Some(rpc.tipSlot().map(_ - finalityLag).getOrElse(Long.MinValue))

  /** First offset: just before `startSlot` when given (main.rs:90-98 range
    * resolution), else just before the earliest available slot (or -1 for an
    * empty directory — the stream starts as soon as files land).
    */
  override def initialOffset(): Offset =
    SlotOffset(startSlot.map(_ - 1).getOrElse(
      rpc.tipSlot().map(_ => rpc.availableSlots(Long.MinValue, Long.MaxValue).head - 1)
        .getOrElse(-1L)))

  /** ST2+ST3: the offered end offset is tip - finalityLag, optionally capped
    * to `start + maxSlotsPerTrigger` (ReadMaxRows: one slot ≈ one "row" for
    * admission purposes; transaction fan-out happens downstream).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[SlotOffset].slot
    val horizon = availableNowHorizon.getOrElse(
      rpc.tipSlot().map(_ - finalityLag).getOrElse(from))
    val capped = limit match {
      case mr: ReadMaxRows => math.min(horizon, from + mr.maxRows())
      case _ => horizon
    }
    SlotOffset(math.max(capped, from))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SlotOffset].slot
    val to = end.asInstanceOf[SlotOffset].slot
    val slots = rpc.availableSlots(from, to)
    // Deterministically chunk slots so a large backfill doesn't schedule one
    // task per block: cap at 256 partitions per micro-batch, >=1 slot each.
    // Contiguous chunks keep each task's reads sequential.
    val chunkSize = math.max(1, math.ceil(slots.size / 256.0).toInt)
    slots.grouped(chunkSize)
      .map(chunk =>
        SlotInputPartition(chunk.toArray, dir, rpc.maxRetries, rpc.delayMs): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new SlotPartitionReaderFactory

  override def deserializeOffset(json: String): Offset = SlotOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One read task's slots, with the retry schedule its reader uses. */
case class SlotInputPartition(
    slots: Array[Long],
    dir: String,
    maxRetries: Int,
    retryDelayMs: Long) extends InputPartition

class SlotPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SlotInputPartition]
    new PartitionReader[InternalRow] {
      private val rpc = new RetryingSlotRpc(new FileSlotRpc(p.dir), p.maxRetries, p.retryDelayMs)
      private val rows: Iterator[(Long, String)] = p.slots.iterator.flatMap { slot =>
        rpc.blockJson(slot).iterator.flatMap(_.split('\n')).filter(_.nonEmpty).map(slot -> _)
      }
      private var current: (Long, String) = _
      override def next(): Boolean = { val has = rows.hasNext; if (has) current = rows.next(); has }
      override def get(): InternalRow =
        InternalRow(current._1, UTF8String.fromString(current._2))
      override def close(): Unit = ()
    }
  }
}
