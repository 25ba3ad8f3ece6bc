package graft.bench

import graft.{SparkEntry, SparkTestBase}

/** The partitioning-determinism contract as a GATE: every registered
  * query, executed at two different shuffle-partition settings, must
  * produce byte-identical rows. The driver's DuckDB hash compare runs at
  * ONE partitioning, so an order-dependent double accumulation (the
  * decimal-cast pattern exists to prevent exactly this) could sit green
  * until a cluster reshuffle flips it — this sweep flips the shuffle
  * width locally instead and fails `sbt test` the day the bug lands.
  * Hash-seeded families are covered too: their hashes are row-local, so
  * they are just as partitioning-deterministic as the oracled set.
  */
class DeterminismSweepSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** Canonical row-set snapshot: order-independent, double-exact
    * (Double.toString round-trips bits), null-explicit.
    */
  private def snapshot(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every registered query is shuffle-partitioning-deterministic") {
    val conf = spark.conf
    val original = conf.get("spark.sql.shuffle.partitions")
    // AQE coalescing would shrink the final stages of both runs to the same
    // partition count; off, each run really shuffles at its setting.
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val originalCoalesce = conf.get(coalesce)
    conf.set(coalesce, "false")
    val mismatches = scala.collection.mutable.ListBuffer.empty[String]
    try {
      SparkEntry.allQueries.foreach { q =>
        val runs =
          try Seq("3", "13").map { parts =>
            conf.set("spark.sql.shuffle.partitions", parts)
            val rows = snapshot(q.run(spark, sfDir))
            graft.util.CacheScope.releaseAll()
            rows
          }
          catch {
            case e: Throwable =>
              graft.util.CacheScope.releaseAll()
              mismatches += s"${q.name}: failed to run (${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("<no message>")})"
              Nil
          }
        if (runs.nonEmpty && runs.head != runs.last) {
          val diff = runs.head.zip(runs.last).collectFirst {
            case (a, b) if a != b => s"first diff: $a VS $b"
          }.getOrElse(s"row counts ${runs.head.size} vs ${runs.last.size}")
          mismatches += s"${q.name}: $diff"
        }
      }
    } finally {
      conf.set("spark.sql.shuffle.partitions", original)
      conf.set(coalesce, originalCoalesce)
    }
    assert(mismatches.isEmpty,
      s"partitioning-dependent queries found:\n${mismatches.mkString("\n")}")
  }
}
