package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.etl.{EtlPipeline, Extract, MergeSink, PartitionedParquetMergeSink}
import graft.streaming.StreamingPipeline
import graft.util.CacheScope

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * harness in a fresh JVM (once or more per run) and reads back the JSON it
  * writes; everything timed here is a call into the program's public entry
  * points.
  *
  *   etl   <plan.properties>  a CLI invocation (`graft.cli.Main.main`, in
  *                            process), then the read phase
  *   query <plan.properties>  warm-up dump, then timed passes of queries
  *
  * Given `replay_batches`, the ETL mode also replays those batches
  * through `StreamingPipeline.upsertBatch`, recording spans around it and
  * around each of its `MergeSink.merge` calls.
  */
object Harness {

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall-clock epoch milliseconds with nanoTime resolution. */
  private def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, String])

  /** Spans are kept in memory and written out when the run ends. */
  final class Tracer {
    val spans = ArrayBuffer.empty[Span]
    private var stack = List(0)
    private var lastId = 0
    def span[T](name: String, attrs: (String, String)*)(f: => T): T = {
      lastId += 1
      val id = lastId
      val parent = stack.head
      val start = nowMs()
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, start, nowMs(), attrs.toMap)
      }
    }
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def js(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${q(k.toString)}:${js(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  private def loadPlan(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(path))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(args: Array[String]): Unit = {
    val plan = loadPlan(args(1))
    val out = args(0) match {
      case "etl" => etl(plan)
      case "query" => queries(plan)
      case m => sys.error(s"unknown mode $m")
    }
    val full = out + ("vmhwm_kb" -> vmHwmKb())
    Files.write(Paths.get(plan("result")), js(full).getBytes(UTF_8))
  }

  // ---------------------------------------------------------------- ETL

  private def etl(plan: Map[String, String]): Map[String, Any] = {
    val blocks = plan("blocks")
    val work = plan("work")
    val cores = plan("cores").toInt
    val tracer = new Tracer
    val invocations = ArrayBuffer.empty[Map[String, Any]]

    def cli(tables: String, first: Long, last: Long, batch: Int, role: String): Unit = {
      val start = nowMs()
      graft.cli.Main.main(Array("-r", blocks, "-d", tables,
        "-s", first.toString, "-e", last.toString, "-b", batch.toString))
      invocations += Map("role" -> role, "tables" -> tables, "first" -> first, "last" -> last,
        "start_ms" -> start, "end_ms" -> nowMs())
    }

    // Set-up (etl_live): pre-land a populated table in one large batch; the
    // timed invocation then follows its tip.
    val base = s"$work/base"
    val first = plan("first_slot").toLong
    val setupSlots = plan("setup_slots").toLong
    val follow = setupSlots > 0
    if (follow) cli(base, first, first + setupSlots - 1, setupSlots.toInt, "setup")
    val replayBatches = plan.getOrElse("replay_batches", "")
    if (replayBatches.nonEmpty) {
      if (follow) copyDir(Paths.get(base), Paths.get(s"$work/shadow"))
      else Files.createDirectories(Paths.get(s"$work/shadow"))
    }

    // Timed phase: one CLI invocation of `span_slots` slots.
    val from = first + setupSlots
    val timedTables = if (follow) base else s"$work/cli"
    cli(timedTables, from, from + plan("span_slots").toLong - 1, plan("batch_size").toInt, "timed")

    val spark = GraftSession.build(cores, "perfbench-reads")
    val reads = try readPhase(spark, timedTables, plan) finally spark.stop()
    if (replayBatches.nonEmpty) replay(replayBatches, tracer, cores, s"$work/shadow")

    Map("invocations" -> invocations.toSeq, "read_tables" -> timedTables, "reads" -> reads,
      "spans" -> tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
  }

  private def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val paths = Files.walk(src)
    try paths.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally paths.close()
  }

  /** Reads a downstream user makes of the landed tables. Each result is
    * returned for `run.py` to check against the generator's ground truth.
    */
  private def readPhase(spark: SparkSession, tables: String,
      plan: Map[String, String]): Seq[Map[String, Any]] = {
    def txs: DataFrame = spark.read.parquet(s"$tables/transactions")
    def pointLookup(sig: String): Any =
      txs.filter(col("signature") === sig)
        .select("block_slot", "transaction_index", "transaction_type", "success", "fee")
        .collect().toSeq.map(r => Seq(r.getLong(0), r.getInt(1), r.getString(2),
          r.getBoolean(3), r.getLong(4)))
    def rangeScan(lo: Long): Any = {
      val rows = txs.filter(col("block_slot").between(lo, lo + 9)).select("signature", "fee")
        .collect()
      Map("rows" -> rows.length, "fees" -> rows.map(_.getLong(1)).sum)
    }
    def typeHistogram(): Any =
      try EtlPipeline.typeHistogram(txs).collect().toSeq.map(r => Seq(r.getString(0), r.getLong(1)))
      finally CacheScope.releaseAll()
    def extractionStats(): Any = {
      val r = EtlPipeline.extractionStats(txs).collect().head
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }

    val sigs = plan("read_signatures").split(',').toSeq
    val ranges = plan("read_ranges").split(',').map(_.toLong).toSeq
    // One untimed read of each kind first, as query_mix warms up: the first
    // call of a code path in a JVM is 2x slower.
    pointLookup(sigs.head); rangeScan(ranges.head); typeHistogram(); extractionStats()

    val out = ArrayBuffer.empty[Map[String, Any]]
    def timed(kind: String, arg: String)(f: => Any): Unit = {
      spark.sparkContext.setJobGroup(s"read:$kind", s"read:$kind:$arg")
      val start = nowMs()
      val result = f
      out += Map("kind" -> kind, "arg" -> arg, "start_ms" -> start, "end_ms" -> nowMs(),
        "result" -> result)
      spark.sparkContext.clearJobGroup()
    }
    // Each repetition: two point lookups and two range scans, then one of
    // each whole-table aggregate, so lookups and scans are two thirds of
    // the reads, as for a downstream user.
    sigs.zip(ranges).grouped(2).foreach { pairs =>
      pairs.foreach { case (sig, lo) =>
        timed("point_lookup", sig)(pointLookup(sig))
        timed("range_scan", lo.toString)(rangeScan(lo))
      }
      timed("type_histogram", "")(typeHistogram())
      timed("extraction_stats", "")(extractionStats())
    }
    out.toSeq
  }

  /** Replays `replay_batches` of the workload's batches through the
    * program's own `StreamingPipeline.upsertBatch`, into a copy of the tables
    * the batches land in. Spans: `etl.upsert_batch` around each call, and
    * `etl.merge.<table>` around each `MergeSink.merge` it makes (the default
    * parquet sink, wrapped). Before each upsert, `etl.parse_classify` times
    * the benchmark's own call of `Extract.parseBlocks` + `EtlPipeline.run`
    * on the batch, both outputs written to `noop` with every column, the
    * parse cached as `upsertBatch` caches it. The session carries the
    * settings `graft.cli.Main` builds its session with.
    */
  private def replay(replayBatches: String, tracer: Tracer, cores: Int, tables: String): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench-replay")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val inner = new PartitionedParquetMergeSink(tables)
    val sink = new MergeSink {
      def merge(batch: DataFrame, table: String, keys: Seq[String]): Unit =
        tracer.span(s"etl.merge.$table")(inner.merge(batch, table, keys))
    }
    val batches = replayBatches.split(';').toSeq.map(_.split(',').toSeq)
    try batches.zipWithIndex.foreach { case (files, id) =>
      val raw = spark.read.text(files: _*)
      tracer.span("etl.parse_classify", "batch" -> id.toString) {
        val parsed = Extract.parseBlocks(raw).cache()
        try {
          val r = EtlPipeline.run(spark, parsed)
          r.blocks.write.format("noop").mode("overwrite").save()
          r.transactions.write.format("noop").mode("overwrite").save()
        } finally parsed.unpersist()
      }
      tracer.span("etl.upsert_batch", "batch" -> id.toString, "blocks" -> files.size.toString) {
        StreamingPipeline.upsertBatch(raw, 1000L + id, tables, sinkOverride = Some(sink))
      }
    } finally spark.stop()
  }

  // ------------------------------------------------------------ queries

  private def queries(plan: Map[String, String]): Map[String, Any] = {
    val names = plan("queries").split(',').toSeq
    val sf = plan("sf_dir")
    val dump = plan("dump_dir")
    val passes = plan("passes").toInt
    val spark = GraftSession.build(plan("cores").toInt, "perfbench-queries")
    val registered = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val failures = ArrayBuffer.empty[Map[String, Any]]

    // Set-up: one untimed warm-up pass, which also dumps each result for
    // the oracle check (the first execution in a JVM is 1.3-8x slower).
    names.foreach { n =>
      try registered(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n.parquet")
      catch { case e: Exception => failures += Map("query" -> n, "phase" -> "warmup",
        "error" -> String.valueOf(e.getMessage).take(300)) }
      finally CacheScope.releaseAll()
    }
    Files.write(Paths.get(s"$dump/oracle_sql.json"),
      js(names.flatMap(n => oracles.get(n).map(n -> _)).toMap).getBytes(UTF_8))

    val runs = ArrayBuffer.empty[Map[String, Any]]
    for (pass <- 0 until passes) {
      val passStart = nowMs()
      names.foreach { n =>
        spark.sparkContext.setJobGroup(s"query:$n", s"query:$n:pass$pass")
        val start = nowMs()
        val ok =
          try { registered(n)(spark, sf).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Exception =>
            failures += Map("query" -> n, "phase" -> s"pass$pass",
              "error" -> String.valueOf(e.getMessage).take(300)); false }
          finally CacheScope.releaseAll()
        runs += Map("query" -> n, "pass" -> pass, "start_ms" -> start, "end_ms" -> nowMs(),
          "ok" -> ok)
        spark.sparkContext.clearJobGroup()
      }
      runs += Map("query" -> "", "pass" -> pass, "start_ms" -> passStart, "end_ms" -> nowMs(),
        "ok" -> true)
    }
    spark.stop()
    Map("runs" -> runs.toSeq, "failures" -> failures.toSeq)
  }
}
