package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkTestBase

class LoadSpec extends SparkTestBase {
  import spark.implicits._

  private def asSet(df: DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("upsert keeps newest version per key (S6/S7 last-write-wins)") {
    val existing = Seq((1L, "old", 1L), (2L, "old", 1L)).toDF("slot", "v", "version")
    val incoming = Seq((2L, "new", 2L), (3L, "new", 2L)).toDF("slot", "v", "version")
    val got = asSet(Load.upsert(existing, incoming, Seq("slot"), "version"))
    assert(got == Set((1L, "old", 1L), (2L, "new", 2L), (3L, "new", 2L)))
  }

  test("upsert is idempotent: re-applying a batch changes nothing (ST5)") {
    val existing = Seq((1L, "a", 1L)).toDF("slot", "v", "version")
    val batch = Seq((1L, "b", 2L), (2L, "b", 2L)).toDF("slot", "v", "version")
    val once = Load.upsert(existing, batch, Seq("slot"), "version")
    val twice = Load.upsert(once, batch, Seq("slot"), "version")
    assert(asSet(once) == asSet(twice))
  }

  test("parent probe: parent in batch kept, unknown parent nulled (S9/J2)") {
    val probed = Seq.newBuilder[Long]
    val got = Load.resolveParents(Seq(1000L -> Some(999L), 1001L -> Some(1000L)),
      slots => { probed ++= slots; Set.empty })
    assert(got(0).isEmpty)            // slot 999 unknown -> NULL (FK safety)
    assert(got(1).contains(1000L))    // parent in same batch -> kept
    assert(probed.result() == Seq(999L)) // only the parent outside the batch is probed
  }

  test("parent probe: parent in existing table kept") {
    val got = Load.resolveParents(Seq(1000L -> Some(999L)), _.toSet.intersect(Set(999L)))
    assert(got.head.contains(999L))
  }

  test("upsertPartitioned's existing-slice read is partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/t"
    def batch(version: Long, slots: Long*) =
      slots.map(s => (s, s"v$version")).toDF("slot", "v")
        .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
        .withColumn("__version", lit(version))
    Load.upsertPartitioned(batch(0L, 1L, 11L, 21L), dir, Seq("slot"), "__version", "slot_bucket")
    // The scan feeding a second batch's merge must carry a PartitionFilters
    // entry on slot_bucket (pruning, not a full-table read). Assert on the
    // physical plan of the same pruned read the merge performs.
    val pruned = spark.read.parquet(dir)
      .withColumn("slot_bucket", col("slot_bucket").cast("long"))
      .filter(col("slot_bucket").isin(Seq(1L): _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("slot_bucket"))
    assert(pruned.count() == 1) // only bucket 1's row is read
    // And the merge itself converges: second batch only touches bucket 1.
    Load.upsertPartitioned(batch(1L, 12L), dir, Seq("slot"), "__version", "slot_bucket")
    val got = spark.read.parquet(dir).select("slot", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "v0"), (11L, "v0"), (21L, "v0"), (12L, "v1")))
  }

  test("appendPartitioned compacts a bucket once past the file threshold") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsm").toString + "/t"
    def batch(version: Long, slots: Long*) =
      slots.map(s => (s, s"v$version")).toDF("slot", "v")
        .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
        .withColumn("__version", lit(version))
    def bucketFiles(b: Long): Int =
      Option(new java.io.File(s"$dir/slot_bucket=$b").listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    // Three appends of the same key: O(batch) writes, files accumulate...
    Load.appendPartitioned(batch(0L, 1L), dir, Seq("slot"), "__version", "slot_bucket",
      Seq(0L), compactThreshold = 2)
    Load.appendPartitioned(batch(1L, 1L), dir, Seq("slot"), "__version", "slot_bucket",
      Seq(0L), compactThreshold = 2)
    assert(bucketFiles(0L) == 2) // under threshold: pure appends, no rewrite
    assert(spark.read.parquet(dir).count() == 2) // both versions present raw
    // ...third append crosses the threshold: the bucket compacts to one
    // deduped file and the raw read IS the LWW view.
    Load.appendPartitioned(batch(2L, 1L), dir, Seq("slot"), "__version", "slot_bucket",
      Seq(0L), compactThreshold = 2)
    assert(bucketFiles(0L) == 1)
    val rows = spark.read.parquet(dir).select("slot", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "v2")))
    // readDeduped is stable across compacted and uncompacted states.
    val dd = Load.readDeduped(spark, dir, Seq("slot"), "__version")
      .select("slot", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(dd == Seq((1L, "v2")))
  }

  test("a swap interrupted between renames heals on the next operation") {
    // Simulate the crash window: old -> aside done, staged -> live never
    // happened. The bucket's live dir is gone; only the aside survives.
    val dir = java.nio.file.Files.createTempDirectory("graft-heal").toString + "/t"
    def batch(version: Long, slots: Long*) =
      slots.map(s => (s, s"v$version")).toDF("slot", "v")
        .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
        .withColumn("__version", lit(version))
    Load.upsertPartitioned(batch(0L, 1L, 11L), dir, Seq("slot"), "__version", "slot_bucket")
    val live = new java.io.File(s"$dir/slot_bucket=1")
    val aside = new java.io.File(s"$dir.old-1")
    assert(live.renameTo(aside)) // the crash
    // Without healing this read would silently drop slot 11 and an upsert
    // retry would delete the aside for good. With healing, both recover.
    val healed = Load.readDeduped(spark, dir, Seq("slot"), "__version")
      .select("slot").collect().map(_.getLong(0)).toSet
    assert(healed == Set(1L, 11L))
    assert(live.isDirectory && !aside.exists())
    // A completed-swap leftover (live exists AND aside exists) is stale:
    // healing must drop the aside and keep the live version.
    val stale = new java.io.File(s"$dir.old-0")
    assert(new java.io.File(s"$dir/slot_bucket=0").isDirectory)
    java.nio.file.Files.createDirectory(stale.toPath)
    Load.upsertPartitioned(batch(1L, 11L), dir, Seq("slot"), "__version", "slot_bucket")
    assert(!stale.exists())
    val rows = spark.read.parquet(dir).select("slot", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "v0"), (11L, "v1")))
  }

  test("swaps leave no staging/aside debris next to the table") {
    // The aside-rename dance (upsertPartitioned, compactBuckets) stages
    // SIBLING dirs of the table root; after a successful swap every one of
    // them must be gone, or retries would resurrect stale data and
    // partition discovery of a parent dir would see junk.
    val root = java.nio.file.Files.createTempDirectory("graft-debris")
    val dir = root.toString + "/t"
    def batch(version: Long, slots: Long*) =
      slots.map(s => (s, s"v$version")).toDF("slot", "v")
        .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
        .withColumn("__version", lit(version))
    Load.upsertPartitioned(batch(0L, 1L, 11L), dir, Seq("slot"), "__version", "slot_bucket")
    Load.upsertPartitioned(batch(1L, 1L), dir, Seq("slot"), "__version", "slot_bucket")
    Load.appendPartitioned(batch(2L, 1L), dir, Seq("slot"), "__version", "slot_bucket",
      Seq(0L), compactThreshold = 1)  // forces a compaction pass too
    val siblings = Option(root.toFile.listFiles()).toSeq.flatten.map(_.getName).toSet
    assert(siblings == Set("t"), s"unexpected debris: $siblings")
  }

  private def bucketed(version: Long, slots: Long*): DataFrame =
    slots.map(s => (s, s"v$version")).toDF("slot", "v")
      .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
      .withColumn("__version", lit(version))

  /** Lands ~200 signatures in one bucket, arriving in shuffled order over
    * several partitions, with `land(incoming, dir)`; the landed file must
    * read back in key order.
    */
  private def assertLandsSorted(land: (DataFrame, String) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString + "/t"
    val sigs = new scala.util.Random(7).shuffle((0 until 200).map(i => f"sig_$i%04d"))
    val incoming = sigs.zipWithIndex.map { case (s, i) => (s, i % 7 + 1L) }
      .toDF("signature", "block_slot").repartition(8)
      .withColumn("slot_bucket", floor(col("block_slot") / 10).cast("long"))
      .withColumn("__version", lit(0L))
    // AQE would coalesce this small shuffle into one partition, which comes
    // out sorted by accident; a real batch's shuffle spans several.
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try land(incoming, dir)
    finally spark.conf.set(coalesce, prev)
    val files = new java.io.File(s"$dir/slot_bucket=0").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1)
    val landed = spark.read.parquet(files.head.getPath).select("signature")
      .collect().map(_.getString(0)).toSeq
    assert(landed == sigs.sorted)
  }

  test("a rewritten bucket's file is sorted by key") {
    assertLandsSorted(Load.upsertPartitioned(_, _, Seq("signature"), "__version", "slot_bucket"))
  }

  test("an appended bucket's file is sorted by key") {
    assertLandsSorted(Load.appendPartitioned(_, _, Seq("signature"), "__version", "slot_bucket", Seq(0L)))
  }

  test("an append lands a key repeated within its batch once, the newest version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString + "/t"
    val incoming = Seq((1L, "old", 1L), (1L, "new", 2L), (12L, "only", 1L)).toDF("slot", "v", "__version")
      .withColumn("slot_bucket", floor(col("slot") / 10).cast("long"))
    Load.appendPartitioned(incoming, dir, Seq("slot"), "__version", "slot_bucket", Seq(0L, 1L))
    val got = spark.read.parquet(dir).select("slot", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "new"), (12L, "only")))
  }

  test("readBuckets skips a requested bucket that has no directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rb").toString + "/t"
    Load.upsertPartitioned(bucketed(0L, 1L, 11L), dir, Seq("slot"), "__version", "slot_bucket")
    val dataSchema = Some(StructType(bucketed(0L).schema.filterNot(_.name == "slot_bucket")))
    val got = Load.readBuckets(spark, dir, Seq(1L, 5L), "slot_bucket", dataSchema).get
    assert(got.select("slot", "slot_bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((11L, 1L)))
    assert(Load.readBuckets(spark, dir, Seq(5L), "slot_bucket", dataSchema).isEmpty)
  }

  test("readBuckets heals and reads a requested bucket a crash left aside") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rb").toString + "/t"
    Load.upsertPartitioned(bucketed(0L, 1L, 11L), dir, Seq("slot"), "__version", "slot_bucket")
    assert(new java.io.File(s"$dir/slot_bucket=1").renameTo(new java.io.File(s"$dir.old-1")))
    val got = Load.readBuckets(spark, dir, Seq(1L), "slot_bucket",
      Some(StructType(Seq(StructField("slot", LongType))))).get
    assert(got.select("slot").collect().map(_.getLong(0)).toSeq == Seq(11L))
    assert(!new java.io.File(s"$dir.old-1").exists())
  }

  test("readBuckets on a bare table root with no bucket directories is None") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rb").toString + "/t"
    assert(Load.readBuckets(spark, dir, Seq(0L), "slot_bucket").isEmpty) // no root at all
    assert(new java.io.File(dir).mkdirs())
    assert(Load.readBuckets(spark, dir, Seq(0L, 1L), "slot_bucket").isEmpty)
  }
}
