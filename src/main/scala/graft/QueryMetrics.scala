package graft

import graft.engine.GraftSession

/** Per-query TaskMetrics decomposition at an arbitrary SF (round-17
  * verdict task 4): the 1B jaccard run got its superlinearity measured
  * (shuffle-write blocking at the single-box page-cache knee); this main
  * gives ANY registered query the same treatment, so sf1/sf0.1 ratios
  * decompose into measured IO instead of being attributed by analogy.
  *
  * For each named query it runs `reps` measured executions (after one
  * warm-up), keeps the MINIMUM wall time, and reports that run's task
  * metric sums: executor time, GC, memory/disk spill, shuffle write
  * bytes + write-block time, shuffle read bytes + fetch-wait, input
  * bytes. The listener bus is drained (sleep) both BEFORE clearing and
  * AFTER each run — queued onTaskEnd events from the warm-up must not
  * leak into a measured run's sums (the r17 ScaleBench advice fix,
  * applied here from the start).
  *
  * Usage: runMain graft.QueryMetrics <sfDir> <name,name,...> [out.json]
  * Env: SPARK_GRAFT_CPUS (default: all processors), SPARK_GRAFT_REPS
  * (default 2).
  */
object QueryMetrics {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val outPath = if (args.length > 2) Some(args(2)) else None
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = GraftSession.local("graft-query-metrics").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mAgg = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.LongAdder]()
    def addM(k: String, v: Long): Unit =
      mAgg.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.LongAdder).add(v)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            addM("executor_run_ms", m.executorRunTime)
            addM("jvm_gc_ms", m.jvmGCTime)
            addM("memory_spill_bytes", m.memoryBytesSpilled)
            addM("disk_spill_bytes", m.diskBytesSpilled)
            addM("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            addM("shuffle_write_block_ms",
              m.shuffleWriteMetrics.writeTime / 1000000L)
            addM("shuffle_read_local_bytes",
              m.shuffleReadMetrics.localBytesRead)
            addM("shuffle_read_remote_bytes",
              m.shuffleReadMetrics.remoteBytesRead)
            addM("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
            addM("input_bytes", m.inputMetrics.bytesRead)
          }
        }
      })
    import scala.jdk.CollectionConverters._
    def snap(): Map[String, Long] = {
      Thread.sleep(600) // listener bus drains async
      mAgg.asScala.map { case (k, v) => k -> v.sum() }.toMap
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val rows = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      def once(): (Double, Map[String, Long]) = {
        Thread.sleep(600)
        mAgg.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        val t = (System.nanoTime() - t0) / 1e9
        graft.ext.Checkpoints.release(df)
        (t, snap())
      }
      once() // warm-up
      val best = (1 to reps).map(_ => once()).minBy(_._1)
      System.err.println(f"[qm] $name: ${best._1}%.2f s")
      val ms = best._2.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      f""""$name":{"sec":${best._1}%.3f,"metrics":$ms}"""
    }
    val json =
      s"""{"metric":"query_metrics","sf":"$sfDir","reps":$reps,"queries":${rows.mkString("{", ",", "}")}}"""
    println(json)
    outPath.foreach(p => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(p), json + "\n"))
    spark.stop()
  }
}
