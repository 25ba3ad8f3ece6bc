package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables

/** Extended relational surface: JSON extraction, time bucketing, string
  * functions, idempotent upsert semantics, tumbling windows, window
  * functions, set operations, rollup, pivot (SURVEY.md §2.6-§2.8 plus the
  * Spark-SQL capability surface the reference delegates to Postgres).
  */
object RelationalExtended {

  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** The q45/q47 funnel contract, stated once: first qualifying event per
    * stage, each stage strictly later than the previous completion.
    * Returns (step name, (user_id, t)) per stage in order.
    */
  private def funnelStages(ev: DataFrame): Seq[(String, DataFrame)] = {
    // Each stage persisted: stage N is consumed by stage N+1's join AND by
    // the caller's per-step aggregate (q45) or timing leg (q47) — without
    // the persists the chain re-ran cumulatively (s1 four times for s4's
    // one use; the DupAudit x3/x5 Aggregate finding). The stage tables are
    // one row per surviving user — far smaller than the event scan.
    val persist = graft.util.CacheScope.persist _
    def stage(prev: DataFrame, step: String): DataFrame =
      persist(ev.filter(col("event_type") === step)
        .join(prev.select(col("user_id"), col("t").as("__pt")), Seq("user_id"))
        .filter(col("ts") > col("__pt"))
        .groupBy("user_id").agg(min(col("ts")).as("t")))
    val s1 = persist(ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t")))
    val s2 = stage(s1, "view")
    val s3 = stage(s2, "click")
    val s4 = stage(s3, "purchase")
    Seq("signup" -> s1, "view" -> s2, "click" -> s3, "purchase" -> s4)
  }

  /** (Re)write the q25 bucketed catalog tables: 8 buckets on the join key,
    * both sides. The in-memory catalog forgets tables across JVM runs but
    * their warehouse directories persist; clear both or the second run
    * dies with LOCATION_ALREADY_EXISTS.
    */
  /** Which (session, sfDir) the gate_b_* tables were last written for —
    * q25b's reuse guard. Table existence alone is NOT enough: in a shared
    * session a later call with a DIFFERENT sf dir would silently join the
    * stale tables while its oracle reads the new dir's parquet.
    */
  private var bucketedGateFor: Option[(org.apache.spark.sql.SparkSession, String)] = None

  private def writeBucketedGateTables(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq("gate_b_orders", "gate_b_customer").foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      fs.delete(new org.apache.hadoop.fs.Path(wh, t), true)
    }
    graft.etl.Load.writeBucketedTable(
      Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "gate_b_orders", Seq("o_custkey"), 8, Seq("o_custkey"))
    graft.etl.Load.writeBucketedTable(
      Tables.customer(s, dir).select("c_custkey", "c_name", "c_mktsegment"),
      "gate_b_customer", Seq("c_custkey"), 8, Seq("c_custkey"))
    bucketedGateFor = Some((s, dir))
  }

  /** The co-located equi-join over the q25 catalog tables. */
  private def bucketedGateJoin(s: org.apache.spark.sql.SparkSession): DataFrame = {
    val ob = s.table("gate_b_orders")
    val cb = s.table("gate_b_customer")
    ob.join(cb, ob("o_custkey") === cb("c_custkey"))
      .select("o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val sqlBucketedGateJoin =
    """SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // Q9 — JSON extraction from a string column (SURVEY §2.7 F8: the
    // raw_data JSONB escape hatch). get_json_object is codegen'd; no UDF.
    Q(
      "q9_json_extract",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type"),
      // CAST the sum: DuckDB types sum(BIGINT) as HUGEINT, which pandas
      // materializes as float64 and breaks the driver's value hash even
      // though the numbers are equal.
      Some("""SELECT event_type, count(*) AS n,
             |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
             |       min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
             |       max(CAST(props->>'$.k' AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q10 — unix-time/timestamp formatting (SURVEY §2.7 F3/F4): month
    // bucketing via date_format, the reference's strftime analog.
    Q(
      "q10_orders_by_month",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("month"),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // ------------------------------------------------------------------
    // Q11 — string scalar functions (SURVEY §2.7 F1/F2, C3 label
    // synthesis): abbreviation first7...last3 + thousands separators.
    Q(
      "q11_string_functions",
      (s, dir) =>
        Tables.customer(s, dir)
          .select(
            col("c_custkey"),
            concat(substring(col("c_name"), 1, 7), lit("..."),
              substring(col("c_name"), -3, 3)).as("abbrev"),
            format_number(col("c_custkey") * 1000, 0).as("fmt"),
            length(col("c_name")).cast("long").as("name_len"),
            upper(col("c_mktsegment")).as("seg"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
             |       substr(c_name, 1, 7) || '...' || substr(c_name, -3, 3) AS abbrev,
             |       format('{:,}', c_custkey * 1000) AS fmt,
             |       CAST(length(c_name) AS BIGINT) AS name_len,
             |       upper(c_mktsegment) AS seg
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q12 — idempotent upsert / last-write-wins dedup (SURVEY §2.1 S6/S7,
    // §2.8 ST5): re-processing half the keys with updated values must keep
    // exactly the newest version per key. Window dedup is the plan-level
    // strategy graft.etl.Load uses for MERGE-less parquet.
    Q(
      "q12_upsert_last_write_wins",
      (s, dir) => {
        val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
        val v1 = o.withColumn("version", lit(1L))
        val v2 = o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("version", lit(2L))
        val w = Window.partitionBy("o_orderkey").orderBy(col("version").desc)
        v1.unionByName(v2)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .drop("rn")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |       CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             |       CAST(CASE WHEN o_orderkey % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS version
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q13 — tumbling event-time window (SURVEY §2.8 ST1/ST2): the batch
    // equivalent of the streaming hourly count; streaming parity is pinned
    // by StreamingSpec.
    Q(
      "q13_tumbling_hourly",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour").as("w"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:00").as("hour"),
            col("n"), col("sum_value"))
          .orderBy("hour"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
             |       count(*) AS n,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY hour""".stripMargin)),

    // ------------------------------------------------------------------
    // Q14 — ranking window function: top-3 orders per customer. Spark has
    // no index for this (the reference leans on Postgres indexes); the
    // window shuffles once on o_custkey.
    Q(
      "q14_window_topn_per_customer",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |         CAST(row_number() OVER (PARTITION BY o_custkey
             |              ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ------------------------------------------------------------------
    // Q15 — lag/lead analytic window: per-user value delta between
    // consecutive events.
    Q(
      "q15_window_lag_delta",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, dir)
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("delta", col("value") - col("prev_value"))
          .select("user_id", "event_id", "value", "prev_value", "delta")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id, value, prev_value, value - prev_value AS delta FROM (
             |  SELECT user_id, event_id, ts, value,
             |         lag(value, 1) OVER (PARTITION BY user_id
             |             ORDER BY ts ASC, event_id ASC) AS prev_value
             |  FROM events) t
             |ORDER BY user_id, event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q16 — INTERSECT set op: customers placing both urgent and low
    // priority orders.
    Q(
      "q16_intersect",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
          .intersect(o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
             |ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q17 — EXCEPT set op: customers with orders but never urgent ones.
    Q(
      "q17_except",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.select("o_custkey")
          .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q18 — anti join (NOT EXISTS): parts never shipped. Broadcast-able
    // build side at scale when the filtered side stays small; otherwise
    // shuffled hash anti.
    Q(
      "q18_anti_join_unsold_parts",
      (s, dir) => {
        val p = Tables.part(s, dir)
        val li = Tables.lineitem(s, dir)
          .filter(col("l_shipdate") >= lit("2001-01-01"))
          .select("l_partkey")
        p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
          .select("p_partkey", "p_name")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem
             |                  WHERE l_partkey = p_partkey
             |                    AND l_shipdate >= TIMESTAMP '2001-01-01')
             |ORDER BY p_partkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q19 — ROLLUP grouping sets with exact decimal totals.
    Q(
      "q19_rollup_status_priority",
      (s, dir) =>
        Tables.orders(s, dir)
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy(
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // Q20 — pivot: per-user event-type counts as columns (conditional
    // aggregation; DuckDB side uses FILTER).
    Q(
      "q20_pivot_event_counts",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      Some("""SELECT user_id,
             |       count(*) FILTER (WHERE event_type = 'click') AS click,
             |       count(*) FILTER (WHERE event_type = 'view') AS view,
             |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
             |       count(*) FILTER (WHERE event_type = 'error') AS error
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q24 — the LSM append/compact/read-dedup cycle under the oracle gate
    // (SURVEY §2.1 S6/S7 in append mode): four micro-batches land via
    // appendPartitioned with compactThreshold=2, so every bucket crosses
    // the file threshold at least twice and compacts mid-sequence; the
    // readDeduped view must still be exact last-write-wins. Batches carry
    // ascending versions; later batches rewrite overlapping key slices.
    // Every batch passes all 16 possible buckets (o_orderkey % 16).
    Q(
      "q24_lsm_append_compact",
      (s, dir) => {
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_lsm"
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        // JVM-exit cleanup: the returned DataFrame reads `tmp` lazily (and
        // the bench re-reads it), so deletion can only happen at exit —
        // without it every harness run leaves its output in /tmp forever.
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
        // A quarter of the key space in 4 buckets: the cycle's cost is per
        // write/compaction JOB, not per row, so a slimmer table exercises
        // identical semantics at a fraction of the bench time (bulk write
        // throughput is etl_baseline_comparable's job, not this entry's).
        val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
          .filter(col("o_orderkey") % 4 === 1)
          .withColumn("slot_bucket", (col("o_orderkey") % 16).cast("long"))
        val batches = Seq(
          o.withColumn("version", lit(1L)),
          o.filter(col("o_orderkey") % 3 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 3)
            .withColumn("version", lit(2L)),
          o.filter(col("o_orderkey") % 5 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 5)
            .withColumn("version", lit(3L)),
          o.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 7)
            .withColumn("version", lit(4L)))
        batches.foreach(b =>
          graft.etl.Load.appendPartitioned(
            b, tmp, Seq("o_orderkey"), "version", "slot_bucket", 0L until 16L, compactThreshold = 2))
        graft.etl.Load.readDeduped(s, tmp, Seq("o_orderkey"), "version")
          .select("o_orderkey", "o_totalprice", "version")
          .orderBy("o_orderkey")
      },
      // LWW expectation in closed form: the highest-version batch touching
      // each key wins (batch order = version order, so CASE checks %7
      // first, then %5, then %3).
      Some("""SELECT o_orderkey,
             |       o_totalprice * CASE WHEN o_orderkey % 7 = 0 THEN 7
             |                           WHEN o_orderkey % 5 = 0 THEN 5
             |                           WHEN o_orderkey % 3 = 0 THEN 3
             |                           ELSE 1 END AS o_totalprice,
             |       CAST(CASE WHEN o_orderkey % 7 = 0 THEN 4
             |                 WHEN o_orderkey % 5 = 0 THEN 3
             |                 WHEN o_orderkey % 3 = 0 THEN 2
             |                 ELSE 1 END AS BIGINT) AS version
             |FROM orders WHERE o_orderkey % 4 = 1 ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q25 — the bucketed-catalog-table join surface under the oracle gate
    // (SURVEY §4): both sides written via writeBucketedTable (8 buckets on
    // the join key), read back from the catalog, equi-joined. Correctness
    // is hash-matched against the plain join; the exchange-free physical
    // plan is pinned separately by BucketedJoinSpec.
    Q(
      "q25_bucketed_join_catalog",
      (s, dir) => {
        writeBucketedGateTables(s, dir)
        bucketedGateJoin(s)
      },
      Some(sqlBucketedGateJoin)),

    // ------------------------------------------------------------------
    // Q25b — the READ face of q25's cycle, split out so the bench reports
    // the write and the co-located join as SEPARATE costs: q25 times the
    // full write+join cycle, q25b reuses the catalog tables when they
    // already exist (bench steady state — the untimed warmup pass or q25
    // itself wrote them) and writes them only when absent (a fresh Verify
    // JVM), so its timed runs measure the Exchange-free join alone — the
    // cost a 100 TB reader of a pre-bucketed table actually pays per
    // query, with the one-time bucketing amortized across every
    // subsequent join. Same oracle as q25; the no-Exchange physical plan
    // is pinned by BucketedJoinSpec.
    Q(
      "q25b_bucketed_join_read",
      (s, dir) => {
        // rewrite when absent OR when written for a different session/sf
        // dir — stale-table reuse would silently join the wrong dataset
        if (!s.catalog.tableExists("gate_b_orders") ||
          !s.catalog.tableExists("gate_b_customer") ||
          !bucketedGateFor.contains((s, dir)))
          writeBucketedGateTables(s, dir)
        bucketedGateJoin(s)
      },
      Some(sqlBucketedGateJoin)),

    // ------------------------------------------------------------------
    // Q26 — exact interpolated percentiles per group (the percentile_cont
    // analytics the reference delegates to Postgres): Spark `percentile`
    // and DuckDB `quantile_cont` both sort exactly and linearly
    // interpolate, so values hash-match without approximation.
    Q(
      "q26_percentiles",
      (s, dir) =>
        Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            percentile(col("o_totalprice"), lit(0.5)).as("p50"),
            percentile(col("o_totalprice"), lit(0.9)).as("p90"),
            percentile(col("o_totalprice"), lit(0.99)).as("p99"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n,
             |       quantile_cont(o_totalprice, 0.5) AS p50,
             |       quantile_cont(o_totalprice, 0.9) AS p90,
             |       quantile_cont(o_totalprice, 0.99) AS p99
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q26b — the SAME percentiles computed DISTRIBUTED (the q25/q25b
    // declarative-face/scale-face pairing): the native exact `percentile`
    // aggregate buffers a whole group's values on one task — fine for
    // per-source rollups, an OOM for q26's shape at 100 TB (5 priority
    // groups × billions of orders). ExactPercentiles ranks values with
    // the c11 two-phase numbering bucketed on (group, value-range) and
    // interpolates the two target-rank rows per (group, q) — identical
    // values (same oracle as q26), no task ever holds a group.
    Q(
      "q26b_percentiles_distributed",
      (s, dir) =>
        graft.operators.ExactPercentiles.perGroup(
          Tables.orders(s, dir), groupCol = "o_orderpriority",
          valueCol = "o_totalprice",
          qs = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)),
          bucketWidth = 4096.0)
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(*) AS n,
             |       quantile_cont(o_totalprice, 0.5) AS p50,
             |       quantile_cont(o_totalprice, 0.9) AS p90,
             |       quantile_cont(o_totalprice, 0.99) AS p99
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q27 — batch sessionization (SURVEY §2.8 ST6's semantics under the
    // oracle gate): a 30-minute inactivity gap starts a new session;
    // session id = running count of gap boundaries per user. The streaming
    // path implements the same semantics with flatMapGroupsWithState
    // (StreamingSpec); this pins the assignment logic against SQL.
    Q(
      "q27_sessionize_batch",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("boundary",
            when(col("prev_ts").isNull ||
              col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_idx", sum(col("boundary")).over(w))
          .groupBy("user_id", "session_idx")
          .agg(
            count(lit(1)).as("n_events"),
            min(col("event_id")).as("first_event"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
            date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
          .orderBy("user_id", "session_idx")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, ts,
             |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events),
             |b AS (
             |  SELECT *, CASE WHEN prev_ts IS NULL
             |                   OR date_diff('second', prev_ts, ts) > 1800
             |                 THEN 1 ELSE 0 END AS boundary FROM e),
             |s AS (
             |  SELECT *, CAST(sum(boundary) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
             |  FROM b)
             |SELECT user_id, session_idx, count(*) AS n_events,
             |       CAST(min(event_id) AS BIGINT) AS first_event,
             |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
             |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q28 — skew-salted join under the oracle gate: saltedJoin spreads each
    // left key across 8 salts and replicates the right side per salt, so
    // no task owns a whole hot key; the result must be IDENTICAL to the
    // plain equi-join, which is exactly what the oracle states. (AQE skew
    // splitting is the first line of defense; salting is for keys hot
    // enough that one split partition still stalls.)
    Q(
      "q28_salted_join",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey").as("p_partkey"), col("l_quantity"))
        val p = Tables.part(s, dir).select("p_partkey", "p_brand")
        graft.util.Salting.saltedJoin(li, p, Seq("p_partkey"), numSalts = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n,
             |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q23 — VariantType: Spark 4's JSONB analog (SURVEY §1.2). props parses
    // once into a variant; typed extraction happens at query time — the
    // open-schema path, vs q9's string-functions path.
    Q(
      "q23_variant_json",
      (s, dir) =>
        Tables.events(s, dir)
          .select(variant_get(parse_json(col("props")), "$.k", "long").as("k"))
          // `%` (sign-of-dividend remainder) matches DuckDB's `%`; pmod
          // would silently diverge on a future negative-k fixture.
          .groupBy((col("k") % 10).as("k_mod"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .orderBy("k_mod"),
      Some("""SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
             |       count(*) AS n,
             |       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q35 — cube: all four grouping combinations of (status, priority) in
    // one pass, with grouping_id disambiguating real NULLs from subtotal
    // rows (the reason ORDER BY includes it).
    Q(
      "q35_cube_grouping_id",
      (s, dir) =>
        Tables.orders(s, dir)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping_id().as("gid"),
            count(lit(1)).as("n"),
            dsum(col("o_totalprice")).as("total"))
          .orderBy(
            col("gid"),
            col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority,
             |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             |       count(*) AS n,
             |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ------------------------------------------------------------------
    // Q36 — RANGE-framed rolling window: per user, how many events (and
    // how much value) the trailing hour holds at each event — a VALUE
    // range over epoch micros, not a row count, so sparse and dense hours
    // aggregate correctly. The streaming-free form of a sliding-window
    // metric; per-user partitions keep it parallel.
    Q(
      "q36_rolling_hour",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(-3600000000L + 1, 0)
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("value_1h",
            sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
             |       count(*) OVER w AS n_1h,
             |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q37 — ranking-function family: ntile/percent_rank/cume_dist over a
    // deterministic total order (spend desc, customer key breaks ties).
    // Spark's native global-window forms funnel every row through ONE
    // task, so the rank comes from the c11 TWO-PHASE numbering
    // (range-bucket on -floor(spend/4096), per-bucket row_number + a
    // bucket-count offsets table) and the three functions are their exact
    // CLOSED FORMS from (rank, N) — legal because the order is TIE-FREE
    // (custkey breaks all ties), making rank ≡ row_number, cume_dist ≡
    // r/N, percent_rank ≡ (r-1)/(N-1) (single IEEE divisions of
    // integers — exactly what the native implementations compute), and
    // ntile(4) the standard remainder-first fill from (r, N). Identical
    // output, no single-task stage anywhere.
    Q(
      "q37_rank_functions",
      (s, dir) => {
        val spend = Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(dsum(col("o_totalprice")).as("spend"))
          .withColumn("__b", -floor(col("spend") / 4096).cast("long"))
        val offsets = graft.operators.TwoPhase.offsets(spend, "__b", count(lit(1)))
          .drop("__bt")
        val total = spend.agg(count(lit(1)).as("__N"))
        val rnW = Window.partitionBy("__b")
          .orderBy(col("spend").desc, col("o_custkey"))
        spend.join(broadcast(offsets), Seq("__b"))
          .withColumn("__r", col("__off") + row_number().over(rnW))
          .crossJoin(broadcast(total))
          .withColumn("__q", expr("__N div 4"))
          .withColumn("__m", col("__N") % 4)
          // ntile(4) remainder-first fill: tiles 1..m carry q+1 rows, the
          // rest carry q; the otherwise branch divides by __q only when
          // r > m(q+1), which is unreachable while q = 0 (CASE is lazy).
          .withColumn("quartile",
            when(col("__r") <= col("__m") * (col("__q") + 1),
              expr("(__r - 1) div (__q + 1) + 1"))
              .otherwise(expr("__m + (__r - __m * (__q + 1) - 1) div __q + 1"))
              .cast("int"))
          .withColumn("pct_rank",
            when(col("__N") === 1, lit(0.0))
              .otherwise((col("__r") - 1).cast("double") / (col("__N") - 1)))
          .withColumn("cume", col("__r").cast("double") / col("__N"))
          .select("o_custkey", "spend", "quartile", "pct_rank", "cume")
          .orderBy("o_custkey")
      },
      Some("""WITH spend AS (SELECT o_custkey,
             |                      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
             |               FROM orders GROUP BY 1)
             |SELECT o_custkey, spend,
             |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |       percent_rank() OVER w AS pct_rank,
             |       cume_dist() OVER w AS cume
             |FROM spend
             |WINDOW w AS (ORDER BY spend DESC, o_custkey)
             |ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q39 — unpivot (melt): the four lineitem measures to long form —
    // the inverse of q20's pivot, Spark's native `unpivot` operator
    // (UNION-ALL-free single pass; the oracle spells the same melt as
    // UNION ALL).
    Q(
      "q39_unpivot_measures",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 50 === 0)
          .select("l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")),
            "measure", "value")
          .orderBy("l_orderkey", "l_linenumber", "measure"),
      Some("""WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0)
             |SELECT l_orderkey, l_linenumber, measure, value FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM f)
             |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin)),

    // ------------------------------------------------------------------
    // Q60 — pivot as unpivot's exact inverse: q39's long form re-widened
    // with `pivot` back to the original four measure columns (q20 is the
    // counting pivot; this is the value-restoring one — melt ∘ pivot =
    // identity). The pivot VALUES are passed explicitly: with an explicit
    // list Spark skips the eager driver-side `distinct` discovery pass —
    // at 100 TB dynamic pivot would scan the table once just to learn the
    // column set. One shuffle on the group keys with map-side partial
    // max; each (key, measure) holds exactly one row, so max IS the
    // value and both engines agree deterministically (first() would not).
    Q(
      "q60_pivot_roundtrip",
      (s, dir) => {
        val long = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 50 === 0)
          .select("l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"),
              col("l_discount"), col("l_tax")),
            "measure", "value")
        long.groupBy("l_orderkey", "l_linenumber")
          .pivot("measure",
            Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
          .agg(max(col("value")))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0),
             |long AS (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM f
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM f)
             |SELECT l_orderkey, l_linenumber,
             |       max(value) FILTER (WHERE measure = 'l_quantity') AS l_quantity,
             |       max(value) FILTER (WHERE measure = 'l_extendedprice') AS l_extendedprice,
             |       max(value) FILTER (WHERE measure = 'l_discount') AS l_discount,
             |       max(value) FILTER (WHERE measure = 'l_tax') AS l_tax
             |FROM long GROUP BY 1, 2
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ------------------------------------------------------------------
    // Q40 — calendar arithmetic surface: part extraction, month-end,
    // clamped month addition, day difference. Parts chosen for identical
    // cross-engine definitions (dayofweek/weekofyear conventions differ
    // between engines and are deliberately absent).
    Q(
      "q40_date_arithmetic",
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(col("o_orderkey") % 20 === 0)
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("y"),
            quarter(col("o_orderdate")).as("q"),
            month(col("o_orderdate")).as("m"),
            dayofmonth(col("o_orderdate")).as("d"),
            dayofyear(col("o_orderdate")).as("doy"),
            last_day(col("o_orderdate")).as("month_end"),
            add_months(col("o_orderdate"), 3).as("plus3m"),
            datediff(lit("2026-01-01").cast("date"), col("o_orderdate"))
              .cast("long").as("days_to_2026"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |       CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
             |       CAST(date_part('quarter', o_orderdate) AS INTEGER) AS q,
             |       CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
             |       CAST(date_part('day', o_orderdate) AS INTEGER) AS d,
             |       CAST(date_part('doy', o_orderdate) AS INTEGER) AS doy,
             |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
             |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS BIGINT) AS days_to_2026
             |FROM orders WHERE o_orderkey % 20 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q45 — ordered funnel over the events stream: users who reached each
    // step of signup -> view -> click -> purchase with strictly later
    // timestamps stage over stage (first qualifying event per stage).
    // Each stage is one filtered aggregation joined on user_id — four
    // co-partitioned shuffles on the same key, no windows over the full
    // event log.
    Q(
      "q45_funnel_steps",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
        funnelStages(ev).zipWithIndex.map { case ((name, df), i) =>
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(s"${i + 1}_$name").as("step"), col("n_users"))
        }.reduce(_ unionByName _).orderBy("step")
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s3 ON e.user_id = s3.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1)
             |SELECT '1_signup' AS step, count(*) AS n_users FROM s1
             |UNION ALL SELECT '2_view', count(*) FROM s2
             |UNION ALL SELECT '3_click', count(*) FROM s3
             |UNION ALL SELECT '4_purchase', count(*) FROM s4
             |ORDER BY step""".stripMargin)),

    // ------------------------------------------------------------------
    // Q46 — retention cohorts: users grouped by first-active day, counted
    // on each later day they return (distinct user-days first, so a
    // user's event volume can't inflate retention). The classic
    // product-analytics triangle table.
    Q(
      "q46_retention_cohorts",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
        val firsts = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
        ev.distinct()
          .join(firsts, Seq("user_id"))
          .groupBy(col("cohort_day"),
            datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
             |firsts AS (SELECT user_id, min(d) AS cohort_day FROM ud GROUP BY 1)
             |SELECT f.cohort_day,
             |       CAST(date_diff('day', f.cohort_day, ud.d) AS BIGINT) AS day_offset,
             |       count(DISTINCT ud.user_id) AS n_users
             |FROM ud JOIN firsts f ON ud.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q47 — funnel conversion timing: for each adjacent step pair of q45's
    // funnel, how many users converted and how fast (mean + median
    // seconds between the first qualifying events). Seconds compare as
    // floor(epoch) per side on both engines; the mean is an exact
    // integer-sum division and the median interpolates like q26.
    Q(
      "q47_funnel_timing",
      (s, dir) => {
        val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
        val stages = funnelStages(ev)
        def leg(name: String, from: DataFrame, to: DataFrame): DataFrame =
          to.join(from.select(col("user_id"), col("t").as("t0")), Seq("user_id"))
            .select((col("t").cast("long") - col("t0").cast("long")).as("d"))
            .agg(
              count(lit(1)).as("n_users"),
              (sum(col("d")).cast("double") / count(lit(1))).as("avg_secs"),
              percentile(col("d"), lit(0.5)).as("p50_secs"))
            .select(lit(name).as("leg"), col("n_users"), col("avg_secs"), col("p50_secs"))
        stages.sliding(2).zipWithIndex.map {
          case (Seq((fromName, from), (toName, to)), i) =>
            leg(s"${i + 1}_${fromName}_to_$toName", from, to)
        }.reduce(_ unionByName _).orderBy("leg")
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1),
             |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN s3 ON e.user_id = s3.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1),
             |legs AS (
             |  SELECT '1_signup_to_view' AS leg,
             |         CAST(floor(epoch(s2.t)) AS BIGINT) - CAST(floor(epoch(s1.t)) AS BIGINT) AS d
             |  FROM s2 JOIN s1 USING (user_id)
             |  UNION ALL
             |  SELECT '2_view_to_click',
             |         CAST(floor(epoch(s3.t)) AS BIGINT) - CAST(floor(epoch(s2.t)) AS BIGINT)
             |  FROM s3 JOIN s2 USING (user_id)
             |  UNION ALL
             |  SELECT '3_click_to_purchase',
             |         CAST(floor(epoch(s4.t)) AS BIGINT) - CAST(floor(epoch(s3.t)) AS BIGINT)
             |  FROM s4 JOIN s3 USING (user_id))
             |SELECT leg, count(*) AS n_users,
             |       CAST(sum(d) AS DOUBLE) / count(*) AS avg_secs,
             |       quantile_cont(d, 0.5) AS p50_secs
             |FROM legs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q48 — CSV source/sink roundtrip: a slice of orders written as
    // headered CSV, read back under an explicit schema, aggregated — and
    // the oracle computes the same aggregate from the PARQUET table, so
    // the gate asserts the text roundtrip is lossless (longs exact,
    // doubles via shortest-repr print/parse).
    Q(
      "q48_csv_roundtrip",
      (s, dir) => {
        // app-id-suffixed: a fixed shared path would let two concurrent
        // harness runs delete each other's files mid-query.
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_csv_${s.sparkContext.applicationId}"
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        // JVM-exit cleanup: the returned DataFrame reads `tmp` lazily (and
        // the bench re-reads it), so deletion can only happen at exit —
        // without it every harness run leaves its output in /tmp forever.
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
        Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
          .write.option("header", "true").csv(tmp)
        s.read.option("header", "true")
          .schema("o_orderkey LONG, o_orderstatus STRING, o_orderpriority STRING, o_totalprice DOUBLE")
          .csv(tmp)
          .groupBy("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("price_sum"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
             |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q49 — JSON-lines source/sink roundtrip (the reference's in-flight
    // format, SURVEY §1.3): documents written as JSONL, read back under an
    // explicit schema, aggregated; oracle from the parquet table. Unicode
    // text (the zh docs) must survive the escape/unescape cycle.
    Q(
      "q49_json_roundtrip",
      (s, dir) => {
        // app-id-suffixed: a fixed shared path would let two concurrent
        // harness runs delete each other's files mid-query.
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_json_${s.sparkContext.applicationId}"
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        // JVM-exit cleanup: the returned DataFrame reads `tmp` lazily (and
        // the bench re-reads it), so deletion can only happen at exit —
        // without it every harness run leaves its output in /tmp forever.
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
        Tables.documents(s, dir)
          .select("doc_id", "lang", "source", "text", "n_chars")
          .write.json(tmp)
        s.read
          .schema("doc_id LONG, lang STRING, source STRING, text STRING, n_chars LONG")
          .json(tmp)
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n"),
            sum(col("n_chars")).as("chars_sum"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_check"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, count(*) AS n,
             |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
             |       CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT) AS text_check
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // Q50 — trending terms, the ST8 operator's batch face: documents on a
    // synthetic minute grid, tumbling hourly windows, top-3 terms per
    // window (ties lexicographic). Runs the EXACT streaming code path
    // (trendingTerms — chained windowed aggregations; watermark is a
    // no-op in batch) under the DuckDB oracle; the append-mode streaming
    // semantics are pinned by StreamingSpec's ST8 test.
    Q(
      "q50_trending_terms",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(
          timestamp_seconds(lit(1704067200L) + (col("doc_id") % 600) * 60).as("ts"),
          col("text"))
        graft.streaming.StreamingPipeline
          .trendingTerms(d, "ts", "text", "1 hour", "0 seconds", k = 3)
          .orderBy("window_start", "rk")
      },
      Some("""WITH d AS (SELECT TIMESTAMP '2024-01-01 00:00:00'
             |         + (doc_id % 600) * INTERVAL 1 MINUTE AS ts, text
             |       FROM documents),
             |tok AS (SELECT date_trunc('hour', ts) AS ws,
             |               unnest(string_split(text, ' ')) AS term FROM d),
             |cnt AS (SELECT ws, term, count(*) AS n FROM tok GROUP BY 1, 2),
             |rked AS (SELECT ws, term, n,
             |           row_number() OVER (PARTITION BY ws
             |             ORDER BY n DESC, term) AS rk
             |         FROM cnt)
             |SELECT ws AS window_start, CAST(rk AS BIGINT) AS rk, term, n
             |FROM rked WHERE rk <= 3 ORDER BY window_start, rk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q51 — robust outlier detection via median absolute deviation: per
    // group, med = median(x), mad = median(|x - med|), and a row is an
    // outlier when |x - med| > 3 * 1.4826 * mad (the normal-consistency
    // constant). Medians interpolate identically on both engines (the
    // q26 percentile contract); everything after is plain IEEE
    // arithmetic. Two grouped aggregations + two broadcast joins — the
    // winsorize/quality-floor family's detection face.
    Q(
      "q51_mad_outliers",
      (s, dir) => {
        val e = Tables.events(s, dir).select("event_id", "event_type", "value")
        val med = e.groupBy("event_type")
          .agg(percentile(col("value"), lit(0.5)).as("med"))
        val mad = e.join(broadcast(med), Seq("event_type"))
          .groupBy("event_type")
          .agg(
            first(col("med")).as("med"),
            percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
        e.join(broadcast(mad), Seq("event_type"))
          .withColumn("robust_z",
            (col("value") - col("med")) / (lit(1.4826) * col("mad")))
          .filter(abs(col("value") - col("med")) > lit(3 * 1.4826) * col("mad"))
          .select("event_id", "event_type", "value", "med", "mad", "robust_z")
          .orderBy("event_id")
      },
      Some("""WITH med AS (SELECT event_type,
             |                    quantile_cont(value, 0.5) AS med
             |             FROM events GROUP BY 1),
             |mad AS (SELECT e.event_type, any_value(m.med) AS med,
             |               quantile_cont(abs(e.value - m.med), 0.5) AS mad
             |        FROM events e JOIN med m USING (event_type)
             |        GROUP BY 1)
             |SELECT e.event_id, e.event_type, e.value,
             |       m.med, m.mad,
             |       (e.value - m.med) / (1.4826 * m.mad) AS robust_z
             |FROM events e JOIN mad m USING (event_type)
             |WHERE abs(e.value - m.med) > 3 * 1.4826 * m.mad
             |ORDER BY e.event_id""".stripMargin)),

    // ------------------------------------------------------------------
    // Q37b — distribution window functions (q37's rank/dense_rank/
    // row_number sibling): ntile quartiles, percent_rank, cume_dist per
    // priority over order totals. Both percent_rank ((r-1)/(n-1)) and
    // cume_dist (r_peer_end/n) are exact integer-ratio divisions — IEEE-
    // identical on both engines; ntile's uneven-bucket rule (first
    // n mod k buckets one larger) matches between Spark and DuckDB.
    Q(
      "q37b_distribution_ranks",
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Tables.orders(s, dir)
          .filter(col("o_orderkey") % 10 === 0)
          .select(
            col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority, o_totalprice,
             |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
             |       percent_rank() OVER w AS pct_rank,
             |       cume_dist() OVER w AS cume
             |FROM orders WHERE o_orderkey % 10 = 0
             |WINDOW w AS (PARTITION BY o_orderpriority
             |             ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q52 — ORC source/sink roundtrip (the q48/q49 contract for Spark's
    // second native columnar format): DuckDB can't read ORC, so the
    // oracle aggregates the parquet original — equality PROVES the ORC
    // write/read cycle is lossless for longs, doubles, strings, and
    // timestamps-as-longs.
    Q(
      "q52_orc_roundtrip",
      (s, dir) => {
        // app-id-suffixed: a fixed shared path would let two concurrent
        // harness runs delete each other's files mid-query.
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_orc_${s.sparkContext.applicationId}"
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        // JVM-exit cleanup: the returned DataFrame reads `tmp` lazily (and
        // the bench re-reads it), so deletion can only happen at exit —
        // without it every harness run leaves its output in /tmp forever.
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ts").cast("long").as("ts_secs"))
          .write.orc(tmp)
        s.read.orc(tmp)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("event_id")).as("id_sum"),
            sum(col("user_id")).as("user_sum"),
            sum(col("value").cast(DecimalType(18, 2))).cast("double").as("value_sum"),
            sum(col("ts_secs")).as("ts_sum"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |       CAST(sum(event_id) AS BIGINT) AS id_sum,
             |       CAST(sum(user_id) AS BIGINT) AS user_sum,
             |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             |       CAST(sum(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS ts_sum
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q53 — ingestion-gap detection: a minute-granular calendar spine
    // from the stream's own bounds, anti-joined against observed minutes,
    // collapsed to maximal gap runs (the q33 islands trick inverted) —
    // the monitoring query every ingestion pipeline runs. The spine is
    // calendar-bounded (~526k minutes/year) and the anti-join is the only
    // data-sized operation; the islands numbering is still the c11
    // two-phase shape (bucket = the minute's DAY, per-day row_number +
    // a days-count offsets table) so no single task ever funnels the
    // whole spine — grp = idx - global_rn is identical because the
    // bucket key is a monotone prefix of the idx order.
    Q(
      "q53_ingestion_gaps",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val bounds = ev.agg(
          date_trunc("minute", min(col("ts"))).as("lo"),
          date_trunc("minute", max(col("ts"))).as("hi"))
        val spine = broadcast(bounds)
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 minute"))).as("m"))
        val present = ev.select(date_trunc("minute", col("ts")).as("m")).distinct()
        // Persisted: the missing-minute table feeds both the TwoPhase
        // offsets aggregate and the grouping join — without this the
        // spine/anti-join (two events scans) ran twice (guide §2.4).
        // Gap-minute-sized, never event-sized.
        val missing = graft.util.CacheScope.persist(
          spine.join(present, Seq("m"), "left_anti")
            .withColumn("idx", (col("m").cast("long") / 60).cast("long"))
            .withColumn("__b", (col("idx") / 1440).cast("long")))
        val offsets = graft.operators.TwoPhase.offsets(missing, "__b", count(lit(1)))
          .drop("__bt")
        val rnW = Window.partitionBy("__b").orderBy("idx")
        missing.join(broadcast(offsets), Seq("__b"))
          .withColumn("grp",
            col("idx") - (col("__off") + row_number().over(rnW)))
          .groupBy("grp")
          .agg(
            min(col("m")).as("gap_start"),
            max(col("m")).as("gap_end"),
            count(lit(1)).as("n_minutes"))
          .select("gap_start", "gap_end", "n_minutes")
          .orderBy("gap_start")
      },
      Some("""WITH bounds AS (SELECT date_trunc('minute', min(ts)) AS lo,
             |                       date_trunc('minute', max(ts)) AS hi FROM events),
             |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS m
             |          FROM bounds),
             |present AS (SELECT DISTINCT date_trunc('minute', ts) AS m FROM events),
             |missing AS (SELECT m, CAST(floor(epoch(m)) AS BIGINT) // 60 AS idx
             |            FROM spine ANTI JOIN present USING (m)),
             |grps AS (SELECT m, idx - row_number() OVER (ORDER BY idx) AS grp
             |         FROM missing)
             |SELECT min(m) AS gap_start, max(m) AS gap_end,
             |       count(*) AS n_minutes
             |FROM grps GROUP BY grp ORDER BY gap_start""".stripMargin)),

    // ------------------------------------------------------------------
    // Q55 — event-transition (Markov) matrix: per user, each event's
    // successor by (ts, event_id) order, rolled into from→to counts and
    // row-normalized probabilities — the navigation/behavior model next
    // to the funnel (q45) and retention (q46) views. The per-user lead()
    // partitions by user (no global window); the probability divides two
    // integers on the bounded |types|² matrix.
    Q(
      "q55_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val t = Tables.events(s, dir)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        t.withColumn("prob",
            col("n").cast("double") /
              sum(col("n")).over(Window.partitionBy("from_type")))
          .orderBy("from_type", "to_type")
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS next_type
             |       FROM events),
             |t AS (SELECT event_type AS from_type, next_type AS to_type,
             |             count(*) AS n
             |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT from_type, to_type, n,
             |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS prob
             |FROM t ORDER BY from_type, to_type""".stripMargin)),

    // ------------------------------------------------------------------
    // Q59 — ABC / Pareto analysis: customers ranked by revenue with
    // cumulative share and the classic A (≤80%) / B (≤95%) / C bands —
    // the concentration view every revenue (or token-contribution)
    // report ships. The rank-ordered cumsum is the c11/c24 TWO-PHASE
    // shape, never one global window: range-bucket on a monotone
    // function of the sort key (-floor(rev/4096) — the double cast is
    // fine, bucketing needs monotonicity, not exactness; equal revenues
    // always share a bucket so the custkey tie-break stays intra-bucket),
    // then per-bucket running windows plus a broadcast offsets table
    // whose own cumsum is over BUCKET-COUNT rows (value-range/4096 —
    // bounded by the revenue range, not the customer count). Class
    // boundaries are exact decimal compares (cum·5 ≤ total·4,
    // cum·20 ≤ total·19), no float thresholds.
    Q(
      "q59_abc_pareto",
      (s, dir) => {
        val rev = Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("__rev"))
          .withColumn("__b", -floor(col("__rev").cast("double") / 4096).cast("long"))
        val offsets = graft.operators.TwoPhase.offsets(rev, "__b", sum(col("__rev")))
          .drop("__bt")
        val runW = Window.partitionBy("__b")
          .orderBy(col("__rev").desc, col("o_custkey"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val total = rev.agg(sum(col("__rev")).as("__total"))
        rev
          .join(broadcast(offsets), Seq("__b"))
          .withColumn("__cum", col("__off") + sum(col("__rev")).over(runW))
          .crossJoin(broadcast(total))
          .select(
            col("o_custkey"),
            col("__rev").cast("double").as("revenue"),
            (col("__cum").cast("double") / col("__total").cast("double"))
              .as("cum_share"),
            when(col("__cum") * 5 <= col("__total") * 4, "A")
              .when(col("__cum") * 20 <= col("__total") * 19, "B")
              .otherwise("C").as("abc_class"))
          .orderBy("o_custkey")
      },
      Some("""WITH rev AS (SELECT o_custkey,
             |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
             |       FROM orders GROUP BY 1),
             |t AS (SELECT sum(r) AS total FROM rev),
             |c AS (SELECT o_custkey, r,
             |        sum(r) OVER (ORDER BY r DESC, o_custkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM rev)
             |SELECT o_custkey, CAST(r AS DOUBLE) AS revenue,
             |       CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
             |       CASE WHEN cum * 5 <= total * 4 THEN 'A'
             |            WHEN cum * 20 <= total * 19 THEN 'B'
             |            ELSE 'C' END AS abc_class
             |FROM c CROSS JOIN t ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // Q58 — time-series profile similarity: each user's 24-dim
    // hour-of-day activity histogram, cosine top-3 most-similar users
    // per probe — the behavioral nearest-neighbor view (EDBT'19-style
    // streaming-series similarity, batch face) beside q55's transition
    // matrix. The series build is one explode (user × 24 hours, NO
    // join for the spine) + a left join on counts + a sort_array
    // collect; counts are INTEGERS so the vectors — and e1's exact
    // cosine over them — mirror bit-for-bit.
    Q(
      "q58_ts_user_similarity",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val cnt = ev
          .groupBy(col("user_id"), hour(col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        val spine = ev.select("user_id").distinct()
          .select(col("user_id"), explode(sequence(lit(0), lit(23))).as("h"))
        val series = spine
          .join(cnt, Seq("user_id", "h"), "left_outer")
          .withColumn("c", coalesce(col("c"), lit(0L)).cast("double"))
          .groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("h"), col("c")))).as("__hc"))
          .select(col("user_id"),
            transform(col("__hc"), x => x.getField("c")).as("v"))
        graft.similarity.Similarity.bruteForceTopK(
            series.filter(col("user_id") < 5), series, k = 3,
            idCol = "user_id", vecCol = "v")
          .withColumnRenamed("rank", "rnk")
          .select("query_id", "rnk", "neighbor_id", "cosine")
          .orderBy("query_id", "rnk")
      },
      Some("""WITH cnt AS (SELECT user_id, CAST(hour(ts) AS INT) AS h,
             |                    count(*) AS c
             |             FROM events GROUP BY 1, 2),
             |sp AS (SELECT u.user_id, r.h
             |       FROM (SELECT DISTINCT user_id FROM events) u,
             |            (SELECT CAST(unnest(range(24)) AS INT) AS h) r),
             |ful AS (SELECT sp.user_id, sp.h,
             |          CAST(coalesce(cnt.c, 0) AS DOUBLE) AS c
             |        FROM sp LEFT JOIN cnt USING (user_id, h)),
             |ser AS (SELECT user_id, list(c ORDER BY h) AS v
             |        FROM ful GROUP BY 1),
             |sc AS (SELECT q.user_id AS query_id, c.user_id AS neighbor_id,
             |         list_dot_product(q.v, c.v) /
             |         (sqrt(list_dot_product(q.v, q.v)) *
             |          sqrt(list_dot_product(c.v, c.v))) AS cosine
             |       FROM ser c, (SELECT * FROM ser WHERE user_id < 5) q
             |       WHERE c.user_id <> q.user_id),
             |r AS (SELECT query_id, neighbor_id, cosine,
             |             CAST(row_number() OVER (PARTITION BY query_id
             |                  ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rnk
             |      FROM sc)
             |SELECT query_id, rnk, neighbor_id, cosine FROM r
             |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)),

    // ------------------------------------------------------------------
    // Q57 — referential-integrity audit: orphan counts for every FK
    // relation in the star schema, one row per relation — the
    // constraint check a lake runs because parquet won't (q38 gates
    // values, q41 profiles columns; this audits the JOINS). Each
    // relation is a left-anti join rolled to one row; the six tiny
    // one-row sides union into the report.
    Q(
      "q57_fk_orphans",
      (s, dir) => {
        def audit(name: String, child: org.apache.spark.sql.DataFrame,
            key: String, parent: org.apache.spark.sql.DataFrame,
            pkey: String) = {
          val n = child.agg(count(lit(1)).as("n_child"))
          val o = child
            .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          n.crossJoin(o).select(lit(name).as("relation"),
            col("n_child"), col("n_orphans"))
        }
        val li = Tables.lineitem(s, dir)
        Seq(
          audit("customer->nation", Tables.customer(s, dir), "c_nationkey",
            Tables.nation(s, dir), "n_nationkey"),
          audit("lineitem->orders", li, "l_orderkey",
            Tables.orders(s, dir), "o_orderkey"),
          audit("lineitem->part", li, "l_partkey",
            Tables.part(s, dir), "p_partkey"),
          audit("lineitem->supplier", li, "l_suppkey",
            Tables.supplier(s, dir), "s_suppkey"),
          audit("nation->region", Tables.nation(s, dir), "n_regionkey",
            Tables.region(s, dir), "r_regionkey"),
          audit("orders->customer", Tables.orders(s, dir), "o_custkey",
            Tables.customer(s, dir), "c_custkey"))
          .reduce(_ unionByName _)
          .orderBy("relation")
      },
      Some("""SELECT 'customer->nation' AS relation,
             |       (SELECT count(*) FROM customer) AS n_child,
             |       (SELECT count(*) FROM customer c WHERE NOT EXISTS
             |          (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
             |UNION ALL
             |SELECT 'lineitem->orders',
             |       (SELECT count(*) FROM lineitem),
             |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             |UNION ALL
             |SELECT 'lineitem->part',
             |       (SELECT count(*) FROM lineitem),
             |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |          (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
             |UNION ALL
             |SELECT 'lineitem->supplier',
             |       (SELECT count(*) FROM lineitem),
             |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |          (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
             |UNION ALL
             |SELECT 'nation->region',
             |       (SELECT count(*) FROM nation),
             |       (SELECT count(*) FROM nation n WHERE NOT EXISTS
             |          (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
             |UNION ALL
             |SELECT 'orders->customer',
             |       (SELECT count(*) FROM orders),
             |       (SELECT count(*) FROM orders o WHERE NOT EXISTS
             |          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             |ORDER BY relation""".stripMargin)),

    // ------------------------------------------------------------------
    // Q56 — incremental aggregate maintenance (materialized-view
    // refresh): a per-customer order summary maintained across 5 delta
    // batches by MERGING each delta's partial aggregates into the state
    // (state ⊎ delta → re-aggregate) — the O(delta + |state|) refresh
    // pattern, distinct from q12's last-write-wins row upsert. Counts
    // and decimal sums are mergeable, so 5 incremental folds must equal
    // one full recompute — which IS the oracle. At scale each fold
    // shuffles only (key, partial) rows, never order lines.
    Q(
      "q56_incremental_aggregate",
      (s, dir) => {
        val orders = Tables.orders(s, dir)
        def partial(delta: org.apache.spark.sql.DataFrame) = delta
          .groupBy("o_custkey")
          .agg(
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("__tp"))
        val state = (0 until 5)
          .map(i => partial(orders.filter(col("o_orderkey") % 5 === i)))
          .reduce { (acc, delta) =>
            acc.unionByName(delta)
              .groupBy("o_custkey")
              .agg(sum(col("n_orders")).as("n_orders"), sum(col("__tp")).as("__tp"))
          }
        state
          .select(col("o_custkey"), col("n_orders"),
            col("__tp").cast("double").as("total_price"))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // Q54 — XML source roundtrip (Spark 4 native `xml` datasource — the
    // fourth interchange format after CSV/JSON/ORC): write a nation
    // projection as XML rows, read it back under an explicit schema, and
    // gate losslessness with the same aggregate-vs-parquet-original trick
    // as q48/q49/q52 (any value corrupted in transit moves a sum or a
    // count). Strings here are alphanumeric-with-spaces, so XML escaping
    // round-trips identity.
    Q(
      "q54_xml_roundtrip",
      (s, dir) => {
        // app-id-suffixed: a fixed shared path would let two concurrent
        // harness runs delete each other's files mid-query.
        val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_gate_xml_${s.sparkContext.applicationId}"
        val fs = new org.apache.hadoop.fs.Path(tmp)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
        fs.deleteOnExit(new org.apache.hadoop.fs.Path(tmp))
        Tables.customer(s, dir)
          .select("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
          .write.option("rowTag", "customer").format("xml").save(tmp)
        s.read.option("rowTag", "customer")
          .schema("c_custkey LONG, c_nationkey LONG, c_mktsegment STRING, c_acctbal DOUBLE")
          .format("xml").load(tmp)
          .groupBy("c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            sum(col("c_custkey")).as("key_sum"),
            sum(col("c_nationkey")).as("nation_sum"),
            sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("bal_sum"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |       CAST(sum(c_custkey) AS BIGINT) AS key_sum,
             |       CAST(sum(c_nationkey) AS BIGINT) AS nation_sum,
             |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
             |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
