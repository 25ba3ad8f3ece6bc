package graft.etl

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Idempotent load (SURVEY §2.1 S6-S9): the reference's
  * `INSERT ... ON CONFLICT (key) DO UPDATE` semantics — last write wins,
  * re-processing is safe — re-expressed for a MERGE-less parquet world as
  * union + window-dedup keyed on the natural key, newest version first.
  *
  * At cluster scale the same operation is a MERGE into a transactional table
  * keyed on (slot | signature); the window form below is the deterministic
  * equivalent the correctness harness can hash. The window shuffles once on
  * the upsert key — the same shuffle a MERGE would do.
  */
object Load {

  /** Last-write-wins upsert: one row per key, keeping the highest
    * `versionCol` (ties broken arbitrarily-but-deterministically by
    * preferring the incoming batch, which the caller encodes in versionCol).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String], versionCol: String): DataFrame =
    latestPerKey(existing.unionByName(incoming), keys, versionCol)

  /** One row per key: the one with the highest `versionCol`. */
  private def latestPerKey(rows: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
    rows
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** S9/J2 — parent-existence probe, resolved on the driver: a block's
    * `parent_slot` survives only when the parent block is already landed or
    * arrives in the same batch (the reference probes the DB before each
    * insert while looping slots ascending, so a parent earlier in the same
    * batch counts — load.rs:172-182). `blocks` are the batch's
    * (slot, parent_slot) pairs; `landed` is called once, with exactly the
    * parents outside the batch, and returns those already landed. Returns
    * each block's resolved parent, in input order.
    */
  def resolveParents(blocks: Seq[(Long, Option[Long])], landed: Seq[Long] => Set[Long]): Seq[Option[Long]] = {
    val inBatch = blocks.map(_._1).toSet
    val known = inBatch ++ landed(blocks.flatMap(_._2).distinct.filterNot(inBatch))
    blocks.map(_._2.filter(known))
  }

  /** The reference's 19 B-tree indexes re-expressed as physical layout
    * (SURVEY §3/§4): partition directories give partition *pruning* on the
    * filter column (the index's selectivity), sorting within partitions
    * gives parquet min/max page skipping on the sort keys (the index's
    * ordered scan). E.g. transactions partitioned by `transaction_type`,
    * sorted by `(block_slot, signature)` serves the by-type, by-slot and
    * by-signature indexes of migrations ...0002...sql:36-41.
    */
  def writeIndexed(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String]): Unit =
    df
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      .write
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .parquet(path)

  /** Incremental partitioned upsert — the scale-safe form of `upsert` for a
    * continuously-loaded table. The table is laid out as one directory per
    * `bucketCol` value (a slot-range bucket); a micro-batch then only
    * rewrites the buckets its rows touch ([[rewriteBuckets]]). Cost per
    * batch is O(touched buckets), not O(table) — the parquet analog of
    * the reference's per-row `ON CONFLICT DO UPDATE` (load.rs:185-204),
    * where each conflict touches one B-tree page, not the relation.
    * Untouched partition directories are never rewritten (their files stay
    * byte-identical). A batch whose keys are all new to the table can skip
    * the read and the swap: [[appendPartitioned]].
    *
    * `incoming` must already carry `bucketCol` (derivable from the key) and
    * `versionCol`. Requires every duplicate of a key to land in the same
    * bucket — true when the bucket is a function of the key, as with
    * slot-range buckets.
    */
  def upsertPartitioned(
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      versionCol: String,
      bucketCol: String): Unit =
    rewriteBuckets(incoming.sparkSession, path, touchedBuckets(incoming, bucketCol),
      keys, versionCol, bucketCol, Some(incoming.withColumn(bucketCol, col(bucketCol).cast("long"))))

  /** LSM-style landing: the batch's rows are written as NEW files in each
    * touched bucket — O(batch), independent of bucket size — instead of
    * rewriting the bucket ([[upsertPartitioned]], O(bucket)). The rows go
    * through the same dedup-and-sort as a rewrite ([[writeLatest]]), so a
    * key repeated within the batch lands once and each new file is sorted
    * by key. `buckets` are the batch's touched buckets, which the caller
    * knows (the streaming pipeline computes them from the slots it
    * collected); no job finds them.
    *
    * The streaming pipeline appends only batches whose keys are all new to
    * the table (its [[LandedMark]] rule). Otherwise duplicate keys across a
    * bucket's files are resolved
    *
    *  - at read time by [[readDeduped]] (the LWW window over the bucket),
    *  - physically by compaction of each of `buckets` that holds more than
    *    `compactThreshold` files — so read amplification is bounded and
    *    steady-state cost is O(batch) + amortized O(bucket / threshold).
    *
    * This is the parquet rendition of the LSM/delta-file pattern MERGE
    * table formats use (append deltas, compact in the background).
    */
  def appendPartitioned(
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      versionCol: String,
      bucketCol: String,
      buckets: Seq[Long],
      compactThreshold: Int = 16): Unit = {
    if (buckets.isEmpty) return
    val spark = incoming.sparkSession
    val fs = fileSystem(spark, path)
    // Heal before appending: a live dir re-created by the append would make
    // a lost swap's aside look stale, and the next heal would drop it.
    healInterruptedSwaps(fs, path, bucketCol)
    writeLatest(incoming.withColumn(bucketCol, col(bucketCol).cast("long")), path,
      keys, versionCol, bucketCol, SaveMode.Append)
    val overThreshold = buckets.filter { b =>
      val dir = new Path(s"$path/$bucketCol=$b")
      fs.exists(dir) && fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet")) > compactThreshold
    }
    // All over-threshold buckets compact in ONE Spark job (partition-pruned
    // read, one output file per bucket), not a per-bucket job loop — the
    // driver must not serialize O(buckets) jobs at scale.
    compactBuckets(spark, path, overThreshold, keys, versionCol, bucketCol)
  }

  /** Rewrite `buckets` with duplicates resolved (LWW on `versionCol`) in a
    * single Spark job ([[rewriteBuckets]] with no incoming rows). Batching
    * matters at scale — a micro-batch that trips N buckets over the
    * threshold must not serialize N driver-side jobs.
    */
  def compactBuckets(
      spark: SparkSession,
      path: String,
      buckets: Seq[Long],
      keys: Seq[String],
      versionCol: String,
      bucketCol: String): Unit =
    rewriteBuckets(spark, path, buckets, keys, versionCol, bucketCol, None)

  /** The read view over an append-mode table: one row per key, newest
    * version wins — what [[upsertPartitioned]] guarantees physically,
    * recovered logically over not-yet-compacted buckets. Heals any
    * interrupted swap first so a crash mid-rename never reads as silently
    * missing rows (`bucketCol` identifies the aside dirs; pass the same
    * value the writers used).
    */
  def readDeduped(
      spark: SparkSession,
      path: String,
      keys: Seq[String],
      versionCol: String,
      bucketCol: String = "slot_bucket"): DataFrame = {
    healInterruptedSwaps(fileSystem(spark, path), path, bucketCol)
    latestPerKey(spark.read.parquet(path), keys, versionCol)
  }

  /** The landed rows of `buckets`, read after healing interrupted swaps —
    * so a bucket a crash left aside reads as present, not as empty. Only
    * the requested `<bucketCol>=<b>` directories that exist are listed and
    * read; `basePath` keeps `bucketCol` a column, whose discovered int type
    * is normalized here to long. `dataSchema` (the table's columns without
    * `bucketCol`) spares the footer-read job schema inference costs; None
    * infers it. None when no requested bucket has a directory (a bare or
    * empty root, e.g. a crash between mkdirs and the first swap, reads as
    * "no rows yet", not as an unreadable parquet dir).
    */
  def readBuckets(
      spark: SparkSession,
      path: String,
      buckets: Seq[Long],
      bucketCol: String,
      dataSchema: Option[StructType] = None): Option[DataFrame] = {
    if (buckets.isEmpty) return None
    val fs = fileSystem(spark, path)
    healInterruptedSwaps(fs, path, bucketCol)
    val dirs = buckets.distinct.map(b => s"$path/$bucketCol=$b").filter(d => fs.exists(new Path(d)))
    if (dirs.isEmpty) None
    else {
      val reader = spark.read.option("basePath", path)
      Some(dataSchema.fold(reader)(reader.schema).parquet(dirs: _*)
        .withColumn(bucketCol, col(bucketCol).cast("long")))
    }
  }

  /** The one bucket rewrite protocol. `buckets` of the table at `path` are
    * replaced by the LWW dedup of their landed rows ([[readBuckets]]) plus
    * `incoming`:
    *
    *   1. heal interrupted swaps, then read only those buckets, under
    *      `incoming`'s schema when there is one;
    *   2. dedup and write them ([[writeLatest]]), staged OUTSIDE the table
    *      root — a leftover dir under it would poison partition discovery;
    *   3. swap each staged bucket in ([[swapBuckets]]).
    */
  private def rewriteBuckets(
      spark: SparkSession,
      path: String,
      buckets: Seq[Long],
      keys: Seq[String],
      versionCol: String,
      bucketCol: String,
      incoming: Option[DataFrame]): Unit = {
    if (buckets.isEmpty) return
    val landed = readBuckets(spark, path, buckets, bucketCol,
      incoming.map(i => StructType(i.schema.filterNot(_.name == bucketCol))))
    val rows = (landed ++ incoming).reduceOption(_.unionByName(_))
    if (rows.isEmpty) return
    val staging = s"$path.staging"
    writeLatest(rows.get, staging, keys, versionCol, bucketCol, SaveMode.Overwrite)
    swapBuckets(fileSystem(spark, path), path, staging, buckets, bucketCol)
  }

  /** The write both commits share ([[appendPartitioned]] in place,
    * [[rewriteBuckets]] staged): shuffle once on `bucketCol` (one task =>
    * one file per bucket), then window-dedup on `(bucketCol, keys)` — the
    * same groups as `keys`, since the bucket is a function of the key. The
    * window's sort leaves each file sorted by key, for parquet min/max
    * skipping on point lookups, with no second sort. (A separate
    * `sortWithinPartitions(keys)` would not survive: the writer's own sort
    * on `bucketCol` replaces it.)
    */
  private def writeLatest(
      rows: DataFrame,
      dest: String,
      keys: Seq[String],
      versionCol: String,
      bucketCol: String,
      mode: SaveMode): Unit = {
    val sortKeys = bucketCol +: keys
    latestPerKey(rows.repartition(col(bucketCol)), sortKeys, versionCol)
      .sortWithinPartitions(sortKeys.map(col): _*)
      .write.mode(mode)
      .partitionBy(bucketCol)
      .parquet(dest)
  }

  /** Swap each staged bucket in via old -> aside, staged -> live, drop
    * aside, then drop the staging dir. The bucket's prior rows are on disk
    * at every step: a crash between the renames leaves the old rows in
    * `<table>.old-<bucket>` (outside the table root, so partition discovery
    * never sees it), which [[healInterruptedSwaps]] restores, and
    * checkpoint replay of the batch then converges via LWW dedup (ST5). A
    * plain delete-then-rename would have a window where rows absent from
    * the current batch are lost for good, because replay only re-runs the
    * last micro-batch, not history.
    */
  private def swapBuckets(
      fs: FileSystem,
      path: String,
      staging: String,
      buckets: Seq[Long],
      bucketCol: String): Unit = {
    fs.mkdirs(new Path(path))
    buckets.foreach { b =>
      val src = new Path(s"$staging/$bucketCol=$b")
      if (fs.exists(src)) {
        val dst = new Path(s"$path/$bucketCol=$b")
        val aside = new Path(s"$path.old-$b")
        if (fs.exists(aside)) fs.delete(aside, true)
        val hadOld = fs.exists(dst)
        if (hadOld) fs.rename(dst, aside)
        fs.rename(src, dst)
        if (hadOld) fs.delete(aside, true)
      }
    }
    fs.delete(new Path(staging), true)
  }

  /** Crash-recovery for the aside-rename swap: a swap interrupted between
    * `old -> aside` and `staged -> live` leaves a `<table>.old-<bucket>`
    * sibling with NO live bucket directory — without healing, the next
    * partition-pruned read would treat the bucket as empty and a retry
    * would delete the aside, making the loss permanent. Restore such
    * asides as the live bucket (the staged data never landed, so the old
    * rows are the current truth); delete asides whose live directory
    * exists (the swap completed, the aside is stale). Idempotent, one
    * directory listing when no debris exists.
    */
  private def healInterruptedSwaps(fs: FileSystem, path: String, bucketCol: String): Unit = {
    val root = new Path(path)
    val parent = root.getParent
    if (parent == null || !fs.exists(parent)) return
    val prefix = root.getName + ".old-"
    fs.listStatus(parent).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix)) {
        val bucket = name.stripPrefix(prefix)
        val live = new Path(root, s"$bucketCol=$bucket")
        if (fs.exists(live)) fs.delete(st.getPath, true) // swap completed
        else { fs.mkdirs(root); fs.rename(st.getPath, live) } // swap lost
      }
    }
  }

  /** A table's landing mark, the small file `<table>/_landed` (Spark's file
    * index skips `_` names): the highest batch `version` and slot (`high`)
    * landed in the table, and whether the landing that set them finished.
    * A writer records the mark pending, already advanced, before its first
    * data file, and committed after its last — the rule the Structured
    * Streaming file sink follows (log the batch id before writing). So every
    * landed row, even one a crashed append left behind, is at or below
    * `high`, and a batch may append ([[appendPartitioned]]) only when its
    * keys cannot collide with landed ones: the mark is committed, the batch
    * is newer than `version` (not a replay) and its lowest slot is above
    * `high`. Every other batch rewrites its buckets ([[upsertPartitioned]]).
    */
  final case class LandedMark(version: Long, high: Long, committed: Boolean) {
    def admitsAppend(batchVersion: Long, lowSlot: Long): Boolean =
      committed && batchVersion > version && lowSlot > high

    /** The pending mark of landing batch `batchVersion`, up to `highSlot`. */
    def advance(batchVersion: Long, highSlot: Long): LandedMark =
      LandedMark(version max batchVersion, high max highSlot, committed = false)
  }

  object LandedMark {
    /** The mark of a table with no rows: any batch may append. */
    val Empty: LandedMark = LandedMark(Long.MinValue, Long.MinValue, committed = true)
  }

  private val MarkFile = "_landed"

  /** The [[LandedMark]] of the table at `path`. A table without a mark file
    * gets one from its rows: [[LandedMark.Empty]] when it holds none, else a
    * pending mark at its highest `slotCol` (one read of that column) — a
    * table landed before marks existed rewrites its next batch, which then
    * commits a real mark.
    */
  def landedMark(spark: SparkSession, path: String, bucketCol: String, slotCol: String): LandedMark = {
    val fs = fileSystem(spark, path)
    val file = new Path(path, MarkFile)
    if (fs.exists(file)) {
      val in = fs.open(file)
      val Array(version, high, state) =
        try new String(in.readAllBytes(), UTF_8).trim.split(' ') finally in.close()
      LandedMark(version.toLong, high.toLong, state == "committed")
    } else {
      healInterruptedSwaps(fs, path, bucketCol)
      val root = new Path(path)
      val buckets = if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq
        .map(_.getPath.getName).filter(_.startsWith(s"$bucketCol="))
        .map(_.stripPrefix(s"$bucketCol=").toLong)
      readBuckets(spark, path, buckets, bucketCol, Some(StructType(Seq(StructField(slotCol, LongType)))))
        .flatMap(rows => Option(rows.agg(max(col(slotCol))).head().getAs[java.lang.Long](0)))
        .fold(LandedMark.Empty)(high => LandedMark(Long.MinValue, high, committed = false))
    }
  }

  /** Record `mark` for the table at `path`: written aside, then renamed
    * over the old mark, so a reader sees the old mark or the new one.
    */
  def writeMark(spark: SparkSession, path: String, mark: LandedMark): Unit = {
    val fs = fileSystem(spark, path)
    val file = new Path(path, MarkFile)
    val tmp = new Path(path, s"$MarkFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"${mark.version} ${mark.high} ${if (mark.committed) "committed" else "pending"}"
      .getBytes(UTF_8))
    finally out.close()
    FileContext.getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, file, Options.Rename.OVERWRITE)
  }

  /** The distinct `bucketCol` values of `incoming`, in one job with no
    * shuffle: distinct within each partition, merged on the driver.
    */
  private def touchedBuckets(incoming: DataFrame, bucketCol: String): Seq[Long] =
    incoming.select(col(bucketCol).cast("long")).as(Encoders.scalaLong)
      .mapPartitions((it: Iterator[Long]) => it.toSet.iterator)(Encoders.scalaLong)
      .collect().distinct.sorted.toSeq

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bucketed + sorted catalog table: the co-located-join layout. Both
    * sides of a repeated equi-join (transactions ⋈ blocks on slot,
    * instructions ⋈ transactions on signature) written with the same bucket
    * count on the join key join WITHOUT an Exchange — the shuffle happens
    * once at write time instead of once per query, which at 100 TB is the
    * difference between a layout decision and a per-query network pass.
    * (Spec: BucketedJoinSpec asserts the exchange-free plan.)
    */
  def writeBucketedTable(
      df: DataFrame,
      tableName: String,
      bucketKeys: Seq[String],
      nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val w = df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketKeys.head, bucketKeys.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(tableName)
  }
}
