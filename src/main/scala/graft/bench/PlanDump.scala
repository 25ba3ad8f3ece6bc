package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Write `explain("formatted")` dumps for named queries to
  * `$SPARK_GRAFT_PLAN_DIR/<query>_<suffix>.txt` — the per-round
  * before/after plan evidence (`plans/rNN/`) the judge diffs against the
  * optimization notes. Usage:
  *   SPARK_GRAFT_PLAN_DIR=plans/r21 runMain graft.bench.PlanDump before q1 q2 ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21"))
    val suffix = args.head
    val names = if (args.drop(1).toSeq == Seq("all")) SparkEntry.queries.keys.toSeq
      else args.drop(1).toSeq
    Files.createDirectories(outDir)
    val spark = GraftSession.fromEnv("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote ${n}_$suffix.txt (${txt.linesIterator.size} lines)")
      } catch { case e: Throwable =>
        println(s"[plandump] $n ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally graft.util.CacheScope.releaseAll()
    }
    spark.stop()
  }
}
