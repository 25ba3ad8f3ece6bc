package graft.bench

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.{GraftSession, SparkEntry}

/** Recompute audit: for every registered query, count duplicated logical
  * subtrees in the OPTIMIZED plan — a subtree that appears N >= 2 times is
  * (re)computed N times at execution unless it sits under an exchange the
  * engine can reuse, which is exactly the silent multi-pass pattern the
  * optimization guide's §2.4 ("remove shuffles/passes outright") hunts.
  * Persisted frames surface as InMemoryRelation leaves and stop the
  * descent, so only genuinely re-executed work is reported.
  *
  * `runMain graft.bench.DupAudit [minNodes] [namePrefix ...]` — prints one
  * line per (query, duplicated-subtree) with the subtree's node count,
  * occurrence count and root operator, largest first.
  */
object DupAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val minNodes = args.headOption.map(_.toInt).getOrElse(4)
    val prefixes = args.drop(1).toSeq
    val spark = GraftSession.fromEnv("graft-dupaudit")
    spark.sparkContext.setLogLevel("ERROR")
    val selected =
      if (prefixes.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.toSeq.filter { case (n, _) =>
        prefixes.exists(n.startsWith) }.sortBy(_._1)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.optimizedPlan
        // Collect every subtree (stopping below cached relations), keyed by
        // canonicalized form so alias/exprId noise doesn't split groups.
        val counts = new scala.collection.mutable.HashMap[LogicalPlan, (Int, LogicalPlan)]
        def visit(p: LogicalPlan): Unit = {
          p match {
            case _: InMemoryRelation => // cached: recompute already stopped
            case _ =>
              val key = p.canonicalized
              val (c, _) = counts.getOrElse(key, (0, p))
              counts(key) = (c + 1, p)
              p.children.foreach(visit)
              p.subqueries.foreach(visit)
          }
        }
        visit(plan)
        // Report only MAXIMAL duplicated subtrees: a duplicated tree's
        // children are duplicated too — suppress any subtree whose parent
        // is already reported with the same occurrence count.
        val dup = counts.filter { case (k, (c, _)) =>
          c >= 2 && k.collect { case n => n }.size >= minNodes }
        val maximal = dup.filter { case (k, (c, _)) =>
          !dup.exists { case (k2, (c2, _)) =>
            (k2 ne k) && c2 >= c && k2.collect { case n => n }
              .exists(_ == k) && k2 != k }
        }
        maximal.toSeq.sortBy { case (k, (c, _)) =>
          -c * k.collect { case n => n }.size }.take(3)
          .foreach { case (k, (c, orig)) =>
            val sz = k.collect { case n => n }.size
            println(s"[dup] $name x$c nodes=$sz root=${orig.nodeName}")
          }
      } catch { case e: Throwable =>
        println(s"[dup] $name AUDIT_ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally graft.util.CacheScope.releaseAll()
    }
    spark.stop()
  }
}
