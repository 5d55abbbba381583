package graft

import graft.engine.GraftSession

/** Dump a registered query's EXECUTED plan (post-AQE) to a file — the
  * instrument behind plan-stability pinning: run it several times in
  * fresh JVMs and diff the dumps to find which join AQE re-decides.
  *
  *   sbt -batch "runMain graft.PlanDump q118_jaccard_prefix /root/testdata/sf0.1 /tmp/q118_plan_1.txt"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, out) = args.take(3)
    val spark = GraftSession.local("graft-plan-dump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.toRdd.foreach(_ => ())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
