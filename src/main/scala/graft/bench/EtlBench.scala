package graft.bench

import org.apache.spark.sql.SparkSession

import graft.streaming.StreamingPipeline

/** Apples-to-apples ETL throughput vs BASELINE.md's headline regime: the
  * reference processes 10 blocks ≈ 12,000 transactions in ~20-25 s
  * (README.md:366-367, 200-300 tx/s end-to-end incl. classification and
  * load). This generates the same shape of workload — 10 blocks x 1,200
  * jsonParsed transactions rotating through every transaction class — and
  * times the full parse -> classify -> enrich -> idempotent-upsert-write
  * path via the exact micro-batch code the streaming pipeline runs.
  */
object EtlBench {

  private val programs = Seq(
    // rotate through the classifier's priority classes (transform.rs:82-114)
    Seq("11111111111111111111111111111111"),                    // SOL Transfer
    Seq("TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"),         // SPL Token Transfer
    Seq("JUP6LkbZbjS1jKKwapdHNy74zcZ3tLUZoi5QNyVTaV4",
      "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"),           // DEX Swap
    Seq("metaqbxxUerdq28cj1RbAWkYQm3ybzjb6a8bt518x1s"),         // NFT Mint
    Seq("11111111111111111111111111111111",
      "MemoSq4gqABAXKb96qnH8TysNcWxMyWCqXgDLGmfcHr"),           // Program Interaction
    Seq("UnknownProgramXXXXXXXXXXXXXXXXXXXXXXXXXXXXX"))         // Unknown

  private def tx(slot: Long, i: Int): String = {
    val pids = programs(i % programs.length)
    val instructions = pids.map { p =>
      if (p == "11111111111111111111111111111111")
        s"""{"programId":"$p","parsed":{"type":"transfer","info":{"lamports":${1000 + i},"source":"src$i","destination":"dst$i"}}}"""
      else if (p.startsWith("Tokenkeg"))
        s"""{"programId":"$p","parsed":{"type":"transfer","info":{"amount":"${5000 + i}","mint":"MintAAAA","source":"ta$i","destination":"tb$i"}}}"""
      else s"""{"programId":"$p"}"""
    }.mkString(",")
    val err = if (i % 50 == 49) """{"code":1}""" else "null"
    s"""{"meta":{"err":$err,"fee":${5000 + i % 7}},"transaction":{"signatures":["sig_${slot}_$i"],""" +
      s""""message":{"accountKeys":[{"pubkey":"signer$i","signer":true,"writable":true},""" +
      s"""{"pubkey":"other$i","signer":false,"writable":false}],"instructions":[$instructions]}}}"""
  }

  private def block(slot: Long, txsPerBlock: Int): String =
    s"""{"slot":$slot,"blockhash":"hash$slot","parentSlot":${slot - 1},""" +
      s""""blockTime":${1700000000L + slot},"blockHeight":$slot,""" +
      s""""transactions":[${(0 until txsPerBlock).map(tx(slot, _)).mkString(",")}]}"""

  /** Returns (transactions processed, elapsed seconds, tx/s). */
  def run(spark: SparkSession, nBlocks: Int = 10, txsPerBlock: Int = 1200): (Long, Double, Double) = {
    import spark.implicits._
    val tables = java.nio.file.Files.createTempDirectory("graft-etlbench").toString
    val raw = (1 to nBlocks).map(s => block(s.toLong, txsPerBlock)).toDF("value")

    val t0 = System.nanoTime()
    StreamingPipeline.upsertBatch(raw, batchId = 0L, tablesDir = tables)
    val secs = (System.nanoTime() - t0) / 1e9
    // Counted outside the timer: the check read is not part of the ETL.
    val txCount = spark.read.parquet(s"$tables/transactions").count()
    (txCount, secs, txCount / secs)
  }
}
