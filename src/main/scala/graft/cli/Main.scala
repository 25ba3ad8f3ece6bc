package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.streaming.{FileSlotRpc, RetryingSlotRpc, StreamingPipeline}

/** Entry point mirroring the reference's `main()` flow (SURVEY §3):
  * resolve the slot range against the chain tip (file-backed), run the
  * batch ETL over it, then optionally keep following the tip — except here
  * continuous mode actually re-runs (the reference stubs it,
  * `src/main.rs:144-147`).
  *
  * Range defaulting matches `src/main.rs:90-98`: start = tip - 30,
  * end = tip - 20 (the 20-slot finality lag), `--num-blocks` arithmetic
  * from `src/cli.rs:75-83`. `--max-retries` / `--retry-delay` drive every
  * RPC call — the tip probe, the source's slot listing and each executor's
  * block reads — with the reference's linear backoff
  * (`src/pipeline.rs:187-243`); a crash past them is replayed from the
  * checkpoint into the idempotent upsert sink.
  */
object Main {

  def main(args: Array[String]): Unit =
    Cli.parse(args.toSeq) match {
      case Left(err) =>
        System.err.println(s"error: $err")
        sys.exit(2)
      case Right(cfg) =>
        val blocksDir = cfg.rpcUrl.getOrElse(
          sys.env.getOrElse("GRAFT_BLOCKS_DIR",
            sys.error("pass --rpc-url <blocks dir> or set GRAFT_BLOCKS_DIR")))
        val tablesDir = cfg.databaseUrl.getOrElse(
          sys.env.getOrElse("GRAFT_TABLES_DIR",
            sys.error("pass --database-url <tables dir> or set GRAFT_TABLES_DIR")))
        val spark = GraftSession.fromEnv("block-data-fetcher")
        try run(spark, cfg, blocksDir, tablesDir)
        finally spark.stop()
    }

  /** The RPC client behind the tip probe, retrying as the CLI's retry flags say. */
  def slotRpc(cfg: Config, blocksDir: String): RetryingSlotRpc =
    new RetryingSlotRpc(new FileSlotRpc(blocksDir), cfg.maxRetries, cfg.retryDelay * 1000L)

  def run(spark: SparkSession, cfg: Config, blocksDir: String, tablesDir: String): Unit = {
    val finalityLag = 20L
    val rpc = slotRpc(cfg, blocksDir)
    val tip = rpc.tipSlot().getOrElse(sys.error(s"no <slot>.json blocks found under $blocksDir"))

    // main.rs:90-98 range resolution against the tip: an explicit
    // --end-slot/--num-blocks is honored verbatim (the reference never
    // clamps it); only the DEFAULT end is tip - lag.
    val start = cfg.startSlot.getOrElse(math.max(tip - 30, 0L))
    val end =
      if (cfg.endSlot.isDefined || cfg.numBlocks.isDefined) cfg.calculateEndSlot(start)
      else tip - finalityLag
    if (end > tip - finalityLag)
      System.err.println(
        s"warning: end slot $end is past the finality horizon ${tip - finalityLag}; " +
          "slots beyond the current tip will not be processed by this run — re-run to pick them up")
    println(s"Processing slots [$start, $end] (tip $tip, finality lag $finalityLag)")

    // Batch run: one AvailableNow drain of the requested range, upserted
    // batch-size slots at a time (pipeline.rs:136-159 batching, made
    // idempotent per micro-batch instead of per DB transaction).
    StreamingPipeline.start(
      spark, blocksDir, tablesDir, s"$tablesDir/_checkpoint",
      finalityLag = math.max(tip - end, 0L), // offer exactly [.., end]
      maxSlotsPerTrigger = Some(cfg.batchSize.toLong),
      trigger = Trigger.AvailableNow(),
      startSlot = Some(start),
      maxRetries = rpc.maxRetries,
      retryDelayMs = rpc.delayMs
    ).awaitTermination()

    if (cfg.continuous) {
      // The real continuous mode: keep draining every `interval` seconds.
      val q = StreamingPipeline.start(
        spark, blocksDir, tablesDir, s"$tablesDir/_checkpoint",
        finalityLag = finalityLag,
        maxSlotsPerTrigger = Some(cfg.batchSize.toLong),
        trigger = Trigger.ProcessingTime(cfg.interval * 1000L),
        maxRetries = rpc.maxRetries,
        retryDelayMs = rpc.delayMs)
      q.awaitTermination()
    }
  }
}
