package graft.examples

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Executed-plan dumper for the optimization rounds: runs each named
  * query at the bench scale (default sf0.1) under the Bench session
  * config, materializes it so AQE settles on the FINAL plan, and writes
  * `explain("formatted")` output to `<outDir>/<name>_<suffix>.txt`.
  *
  * `collect()` (not a noop write) is the materializing action because a
  * write wraps the plan in its own QueryExecution — the final adaptive
  * plan of the query itself would stay unfinalized. The queries dumped
  * here return bounded frames (grid/top-k/group-sized), so the collect
  * is driver-safe. It dumps plans and times nothing; timings come from
  * [[graft.Bench]].
  *
  * Run: `sbt "runMain graft.examples.PlanDump plans/r09 before q_triangles ..."`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(defaultCpus = 32,
      "spark.sql.maxMetadataStringLength" -> "2000")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"plandump: $n")
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.collect()
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
