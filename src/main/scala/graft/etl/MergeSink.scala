package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The loader's sink seam. The reference lands batches in Postgres via
  * `INSERT ... ON CONFLICT (key) DO UPDATE` inside one transaction
  * (src/etl/load.rs:162-286); this trait is where that target plugs into
  * the Spark pipeline, so the streaming path is sink-agnostic:
  *
  *  - [[PartitionedParquetMergeSink]] — the default in this environment:
  *    slot-range-partitioned parquet, merged by incremental window-dedup
  *    ([[Load.upsertPartitioned]]) and appended as new bucket files
  *    ([[Load.appendPartitioned]]).
  *  - [[JdbcMergeSink]] — the reference's actual target shape: per-partition
  *    batched upsert statements, dialect-selected from the URL. The
  *    Postgres form is the reference's own `ON CONFLICT` text
  *    (spec-pinned; no Postgres server exists here); the ANSI `MERGE` form
  *    EXECUTES against embedded Derby and is integration-tested end to end
  *    (DerbyMergeSinkSpec round-trips blocks+transactions and proves LWW
  *    idempotency: re-delivering a batch leaves the table byte-identical).
  *  - `InMemoryMergeSink` (test scope) — trait-semantics fake for specs.
  */
trait MergeSink extends Serializable {

  /** Idempotently upsert `batch` into `table` keyed by `keys`: one row per
    * key after the call, re-delivery of the same batch converges (LWW).
    */
  def merge(batch: DataFrame, table: String, keys: Seq[String]): Unit

  /** Land `batch`, whose keys the caller knows are all new to `table`, into
    * `buckets` (its distinct `slot_bucket` values). A sink that can skip the
    * conflict check overrides this; the default merges, which is correct
    * whatever the keys.
    */
  def append(batch: DataFrame, table: String, keys: Seq[String], buckets: Seq[Long]): Unit =
    merge(batch, table, keys)
}

object MergeSink {

  /** The reference's upsert statement (load.rs:185-204), generated from a
    * schema: every non-key column is overwritten from the incoming row on
    * conflict — last write wins, exactly the window-dedup semantics the
    * parquet sink implements.
    */
  def upsertStatement(table: String, columns: Seq[String], keys: Seq[String]): String = {
    require(keys.nonEmpty && keys.forall(columns.contains), s"keys $keys must be columns")
    val updates = columns.filterNot(keys.contains)
    val setClause =
      if (updates.isEmpty) "DO NOTHING"
      else "DO UPDATE SET " + updates.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keys.mkString(", ")}) $setClause"
  }

  /** One dialect's upsert: the statement text plus the column each `?`
    * placeholder binds, in order (dialects repeat columns at different
    * positions — Postgres binds each column once, Derby's MERGE binds keys
    * in ON, values in UPDATE, and everything again in INSERT).
    */
  final case class Upsert(sql: String, paramColumns: Seq[String])

  def postgresUpsert(table: String, columns: Seq[String], keys: Seq[String]): Upsert =
    Upsert(upsertStatement(table, columns, keys), columns)

  /** ANSI/Derby `MERGE` upsert. Derby (>= 10.11) requires the source to be
    * a base table or table function — a VALUES derived table is rejected —
    * so the single-row form merges against SYSIBM.SYSDUMMY1 with the row's
    * values as parameters, batched via addBatch like the reference's
    * loader. Every `?` is wrapped in a CAST derived from the Spark schema:
    * Derby cannot infer types for naked parameters in MERGE branches.
    */
  def derbyMerge(table: String, schema: StructType, keys: Seq[String]): Upsert = {
    val columns = schema.fieldNames.toSeq
    require(keys.nonEmpty && keys.forall(columns.contains), s"keys $keys must be columns")
    def cast(c: String) = s"CAST(? AS ${derbySqlType(schema(c).dataType, c)})"
    val updates = columns.filterNot(keys.contains)
    val on = keys.map(k => s"t.$k = ${cast(k)}").mkString(" AND ")
    val matched =
      if (updates.isEmpty) ""
      else "WHEN MATCHED THEN UPDATE SET " +
        updates.map(c => s"$c = ${cast(c)}").mkString(", ") + " "
    val sql =
      s"MERGE INTO $table t USING SYSIBM.SYSDUMMY1 ON $on " +
        matched +
        s"WHEN NOT MATCHED THEN INSERT (${columns.mkString(", ")}) " +
        s"VALUES (${columns.map(cast).mkString(", ")})"
    Upsert(sql, keys ++ updates ++ columns)
  }

  /** Spark -> Derby type mapping for the MERGE casts (scalar types only —
    * [[JdbcMergeSink]] refuses non-scalar schemas before this is reached).
    */
  def derbySqlType(dt: DataType, col: String): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType | ByteType => "SMALLINT"
    case BooleanType => "BOOLEAN"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case StringType => "VARCHAR(32672)"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => throw new IllegalArgumentException(
      s"no Derby mapping for column '$col' of type $other")
  }
}

/** Default sink: incremental upsert into a slot-range-partitioned parquet
  * table under `rootDir/<table>`. `batch` must carry `slot_bucket` and
  * `__version` (the streaming pipeline stamps both).
  */
final class PartitionedParquetMergeSink(rootDir: String) extends MergeSink {

  override def merge(batch: DataFrame, table: String, keys: Seq[String]): Unit =
    Load.upsertPartitioned(batch, s"$rootDir/$table", keys, "__version", "slot_bucket")

  override def append(batch: DataFrame, table: String, keys: Seq[String], buckets: Seq[Long]): Unit =
    Load.appendPartitioned(batch, s"$rootDir/$table", keys, "__version", "slot_bucket", buckets)
}

/** The reference-shaped JDBC target: per-partition connections, batched
  * upsert statements, one commit per partition (the micro-batch analog of
  * load.rs's wrapping transaction; cross-partition atomicity is provided
  * by the streaming checkpoint + idempotent replay, same as the parquet
  * sink).
  *
  * Dialect is URL-selected: `jdbc:derby:` gets the ANSI `MERGE` form —
  * executed for real in DerbyMergeSinkSpec against the embedded engine —
  * everything else gets the reference's Postgres `ON CONFLICT` text.
  *
  * Within one JDBC batch the statements run in order, so a batch carrying
  * several versions of one key converges to the LAST row — callers that
  * need a specific winner (the streaming pipeline's LWW) must order rows
  * version-ascending per key, exactly as the reference's loader relies on
  * Postgres executing its VALUES in order.
  */
final class JdbcMergeSink(
    url: String,
    props: java.util.Properties,
    jdbcBatchSize: Int = 500) extends MergeSink {

  override def merge(batch: DataFrame, table: String, keys: Seq[String]): Unit = {
    // setObject has no portable mapping for Spark array/struct/map values
    // (a dialect needs conn.createArrayOf etc.); refuse non-scalar schemas
    // up front instead of failing row-by-row inside executors.
    val nonScalar = batch.schema.fields.filter(f => f.dataType match {
      case _: ArrayType | _: StructType | _: MapType => true
      case _ => false
    })
    require(nonScalar.isEmpty,
      s"JdbcMergeSink supports scalar column types only; non-scalar: ${nonScalar.map(_.name).mkString(", ")}")
    val columns = batch.schema.fieldNames.toSeq
    val upsert =
      if (url.startsWith("jdbc:derby:")) MergeSink.derbyMerge(table, batch.schema, keys)
      else MergeSink.postgresUpsert(table, columns, keys)
    val paramIdx = upsert.paramColumns.map(columns.indexOf)
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) { // empty partitions never open a connection
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val st = conn.prepareStatement(upsert.sql)
          try {
            var pending = 0
            rows.foreach { r =>
              paramIdx.zipWithIndex.foreach { case (ci, p) =>
                st.setObject(p + 1, r.get(ci))
              }
              st.addBatch()
              pending += 1
              if (pending >= jdbcBatchSize) { st.executeBatch(); pending = 0 }
            }
            if (pending > 0) st.executeBatch()
          } finally st.close()
          conn.commit()
        } finally conn.close()
      }
    }
  }
}
