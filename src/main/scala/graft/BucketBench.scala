package graft

import org.apache.spark.sql.functions._
import graft.engine.{GraftSession, Warehouse}

/** Companion to ScaleBench: demonstrates the engine's answer to the one
  * badly-scaling join shape. Times the same big-big join (a) as a plain
  * shuffle join and (b) over tables pre-bucketed on the join key with
  * `Warehouse.writeBucketed` — the bucketed plan has no shuffle exchange,
  * so the recurring cost drops to a scan + merge, with the shuffle paid
  * once at layout time. Usage: runMain graft.BucketBench [rows]
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(100000000L)
    val cpus = GraftSession.envCpus
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_bench")
    val spark = GraftSession.local("graft-bucket-bench")
      .config("spark.sql.warehouse.dir", wh.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def fact = spark.range(rows).select(
      col("id").as("orderkey"),
      (pmod(hash(col("id")), lit(10000)) / 100.0).as("price"))
    def orders = spark.range(rows / 10).select(
      col("id").as("orderkey"),
      (pmod(hash(col("id"), lit(7)), lit(5))).cast("string").as("priority"))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def joinAgg(l: org.apache.spark.sql.DataFrame,
                r: org.apache.spark.sql.DataFrame): Unit =
      l.join(r, "orderkey").groupBy("priority")
        .agg(round(sum("price"), 2)).collect()

    // broadcast disabled for BOTH legs — the experiment compares shuffle
    // vs bucketed SMJ; at small row counts the plain leg would otherwise
    // silently become a broadcast join and the comparison meaningless
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joinAgg(fact.limit(1000000), orders.limit(100000)) // warm-up
    val plainSec = time(joinAgg(fact, orders))

    val layoutSec = time {
      Warehouse.writeBucketed(fact, "bb_fact", "orderkey", cpus)
      Warehouse.writeBucketed(orders, "bb_orders", "orderkey", cpus)
    }
    val bucketedSec = time(
      joinAgg(spark.table("bb_fact"), spark.table("bb_orders")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def d(x: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    println(s"""{"metric":"bucketed_join","rows":$rows,"plain_shuffle_sec":${d(plainSec)},"bucketed_layout_once_sec":${d(layoutSec)},"bucketed_join_sec":${d(bucketedSec)}}""")
    spark.stop()
  }
}
