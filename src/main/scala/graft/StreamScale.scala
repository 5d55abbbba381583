package graft

import org.apache.spark.sql.functions._
import graft.engine.GraftSession

/** Decade scale shape for a STATEFUL stream (round-17 verdict task 5):
  * streaming has crash tests and sf1 anchors, but no measurement that
  * state stays MODEL-sized as event volume grows a decade. This main
  * synthesizes n events to parquet, streams them through the q371
  * E-step shape (per-cell census: k bounded cells, count + exact
  * integer inertia) in several micro-batches, and reports — per decade
  * — wall time, micro-batch count, and the state store's OWN metrics
  * from StreamingQueryProgress (max numRowsTotal, max
  * memoryUsedBytes): the contract is state rows = k at BOTH decades
  * while throughput stays linear, i.e. state size is a function of the
  * MODEL (k cells), never of event count.
  *
  * Usage: runMain graft.StreamScale [rowsSmall rowsBig [k batches]]
  * Env: SPARK_GRAFT_CPUS (default: all processors).
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val small = args.headOption.map(_.toLong).getOrElse(10000000L)
    val big = args.drop(1).headOption.map(_.toLong).getOrElse(100000000L)
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(16)
    val batches = args.drop(3).headOption.map(_.toInt).getOrElse(4)
    val spark = GraftSession.local("graft-stream-scale").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(n: Long): (Double, Int, Long, Long, Long) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"stream_scale_${n}_").toString
      // `batches` equal parquet files -> `batches` micro-batches under
      // maxFilesPerTrigger=1: the state must absorb each increment, so
      // a state table that secretly scaled with events would grow
      // batch over batch and show in max numRowsTotal
      spark.range(n).select(col("id"),
          pmod(hash(col("id")), lit(k)).cast("long").as("cid"),
          pmod(hash(col("id"), lit(7)), lit(1000)).cast("long").as("d2"))
        .repartition(batches)
        .write.mode("overwrite").parquet(s"$dir/events")
      val schema = "id BIGINT, cid BIGINT, d2 BIGINT"
      val raw = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/events")
      val state = raw.groupBy("cid")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("d2").cast("decimal(38,0)")).cast("long").as("inertia"))
      val name = s"stream_scale_mem_${n}_${System.nanoTime()}"
      val key = "spark.sql.shuffle.partitions"
      val prevParts = spark.conf.get(key)
      spark.conf.set(key, "8")
      val t0 = System.nanoTime()
      val q = state.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.conf.set(key, prevParts)
      val progresses = q.recentProgress.toSeq
      val stateRows = progresses.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).maxOption.getOrElse(0L)
      val stateMem = progresses.flatMap(_.stateOperators.toSeq)
        .map(_.memoryUsedBytes).maxOption.getOrElse(0L)
      val outRows = spark.table(name).count()
      spark.sql(s"DROP TABLE IF EXISTS $name")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      (sec, progresses.count(_.numInputRows > 0), stateRows, stateMem, outRows)
    }

    run(math.max(small / 10, 1000L)) // warm-up
    val (sa, ba, ra, ma, oa) = run(small)
    val (sb, bb, rb, mb, ob) = run(big)
    require(oa == k && ob == k,
      s"state census must emit exactly k=$k rows, got $oa/$ob")
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", v)
    val perRow = (sb / big.toDouble) / (sa / small.toDouble)
    println(s"""{"metric":"stream_scaling","shape":"kmeans_estep_census","rows_small":$small,"rows_big":$big,"k":$k,"small_sec":${d3(sa)},"big_sec":${d3(sb)},"per_row_ratio":${d3(perRow)},"batches_small":$ba,"batches_big":$bb,"state_rows_small":$ra,"state_rows_big":$rb,"state_mem_small":$ma,"state_mem_big":$mb}""")
    spark.stop()
  }
}
