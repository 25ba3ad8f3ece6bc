package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.streaming.{SlotInputPartition, StreamingPipeline}

/** End-to-end CLI run over a file-backed slot directory. */
class MainSpec extends SparkTestBase {

  private def blockJson(slot: Long): String =
    s"""{"slot":$slot,"blockhash":"hash$slot","parentSlot":${slot - 1},""" +
      s""""blockTime":${1700000000L + slot},"blockHeight":$slot,"transactions":[{""" +
      s""""meta":{"err":null,"fee":5000},"transaction":{"signatures":["sig_$slot"],""" +
      s""""message":{"accountKeys":[{"pubkey":"A","signer":true,"writable":true}],"instructions":[]}}}]}"""

  test("batch run lands the requested range, continuous off") {
    val src = Files.createTempDirectory("cli-src").toString
    val out = Files.createTempDirectory("cli-out").toString
    (100L to 150L).foreach(s =>
      Files.writeString(Paths.get(src, s"$s.json"), blockJson(s)))

    val Right(cfg) = Cli.parse(Seq("-s", "105", "-n", "10", "-b", "4")): @unchecked
    Main.run(spark, cfg, src, out)

    val slots = spark.read.parquet(s"$out/blocks")
      .select("slot").collect().map(_.getLong(0)).sorted
    // start 105, num-blocks 10 -> exactly [105, 114]; tip 150, finality moot.
    assert(slots.toSeq == (105L to 114L))
    assert(spark.read.parquet(s"$out/transactions").count() == 10L)
  }

  test("explicit --end-slot past the finality horizon is honored, not clamped") {
    val src = Files.createTempDirectory("cli-src2").toString
    val out = Files.createTempDirectory("cli-out2").toString
    (100L to 150L).foreach(s =>
      Files.writeString(Paths.get(src, s"$s.json"), blockJson(s)))

    // tip=150, horizon=130; an explicit end of 140 must land [135, 140]
    // (main.rs:94-98 never clamps explicit ranges — warn only).
    val Right(cfg) = Cli.parse(Seq("-s", "135", "-e", "140")): @unchecked
    Main.run(spark, cfg, src, out)
    val slots = spark.read.parquet(s"$out/blocks")
      .select("slot").collect().map(_.getLong(0)).sorted
    assert(slots.toSeq == (135L to 140L))
  }

  test("default range (no -e/-n) ends at tip - finality lag") {
    val src = Files.createTempDirectory("cli-src3").toString
    val out = Files.createTempDirectory("cli-out3").toString
    (100L to 150L).foreach(s =>
      Files.writeString(Paths.get(src, s"$s.json"), blockJson(s)))

    // tip=150: default start = tip-30 = 120, default end = tip-20 = 130.
    val Right(cfg) = Cli.parse(Nil): @unchecked
    Main.run(spark, cfg, src, out)
    val slots = spark.read.parquet(s"$out/blocks")
      .select("slot").collect().map(_.getLong(0)).sorted
    assert(slots.toSeq == (120L to 130L))
  }

  test("--max-retries and --retry-delay reach the tip probe and every read task") {
    val src = Files.createTempDirectory("cli-src4").toString
    (100L to 107L).foreach(s =>
      Files.writeString(Paths.get(src, s"$s.json"), blockJson(s)))
    val Right(cfg) = Cli.parse(Seq("--max-retries", "5", "--retry-delay", "7")): @unchecked

    val rpc = Main.slotRpc(cfg, src)
    assert((rpc.maxRetries, rpc.delayMs) == ((5, 7000L)))

    // The stream Main.run starts takes the probe's schedule; every input
    // partition the source plans must carry it to its executor-side reader.
    val q = StreamingPipeline.readBlockStream(spark, src, finalityLag = 0L,
        maxRetries = rpc.maxRetries, retryDelayMs = rpc.delayMs)
      .writeStream.format("noop")
      .option("checkpointLocation", Files.createTempDirectory("cli-ckpt4").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val planned = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      .executedPlan.collect { case s: MicroBatchScanExec => s.inputPartitions }.flatten
      .map(_.asInstanceOf[SlotInputPartition])
    assert(planned.flatMap(_.slots).sorted.toSeq == (100L to 107L))
    assert(planned.forall(p => p.maxRetries == 5 && p.retryDelayMs == 7000L))
  }
}
