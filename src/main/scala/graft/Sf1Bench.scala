package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession

/** sf1 scaling anchor (round-13 verdict task 3): every per-query number
  * in the sf0.1 bench sits on a ~1 s job-overhead floor, so the bench
  * ranks overhead, not data cost. This main (1) deterministically
  * scales sf0.1 → sf1 (10×: 6M lineitem rows per the TESTDATA.md
  * convention) under `testdata-sf1/` — data stays OUT of git, only the
  * generator and the measured ratios are committed — and (2) times the
  * 20 most expensive BENCH_r13 queries at sf0.1 AND sf1, INTERLEAVED
  * rep-by-rep so a box stall cannot poison one scale, writing
  * docs/bench_sf1_top20.json with per-query sf1/sf0.1 ratios.
  *
  * Scaling preserves the combinatorics a larger driver SF would have:
  * ten key-shifted copies with DISJOINT vocabularies (documents: every
  * token suffixed per copy, so shingle df distributions keep their
  * shape and Jaccard/substring pair counts scale linearly, not
  * quadratically) and jittered embeddings (copies stay near-dup
  * clusters instead of exact zero-distance replicas). Dimension tables
  * nation/region stay fixed, as in TPC-H.
  */
object Sf1Bench {

  val Top20: Seq[String] = Seq(
    "q118_jaccard_prefix", "q156_seeded_pagerank",
    "q226_weighted_pagerank", "q123_pagerank", "q259_local_clustering",
    "q292_ks_drift", "q158_label_propagation", "q188_scd2_merge",
    "q183_bfs_hops", "q202_sssp", "q149_leakage_free_split",
    "q212_entity_resolution", "q99_semdedup", "q227_poisson_bootstrap",
    "q122_compact_roundtrip", "q141_dedup_keep_best", "q190_basket_lift",
    "q293_dedup_cluster_census", "q73_dedup_jaccard_capped", "q267_hits")

  def generate(spark: SparkSession, src: String, dst: String): Unit = {
    val copies = 10
    def rd(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).collect()(0).getLong(0) + 1L
    val ko = maxOf(rd("orders"), "o_orderkey")
    val kc = maxOf(rd("customer"), "c_custkey")
    val ks = maxOf(rd("supplier"), "s_suppkey")
    val kp = maxOf(rd("part"), "p_partkey")
    val ke = maxOf(rd("events"), "event_id")
    val ku = maxOf(rd("events"), "user_id")
    val kd = maxOf(rd("documents"), "doc_id")
    val kv = maxOf(rd("embeddings"), "vec_id")
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(c => f(df, c)).reduce(_.union(_))
    def shift(c: Column, by: Long, i: Int): Column = c + lit(by * i)
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    wr(rep(rd("lineitem")) { (df, c) =>
      df.withColumn("l_orderkey", shift(col("l_orderkey"), ko, c))
        .withColumn("l_partkey", shift(col("l_partkey"), kp, c))
        .withColumn("l_suppkey", shift(col("l_suppkey"), ks, c))
    }, "lineitem")
    wr(rep(rd("orders")) { (df, c) =>
      df.withColumn("o_orderkey", shift(col("o_orderkey"), ko, c))
        .withColumn("o_custkey", shift(col("o_custkey"), kc, c))
    }, "orders")
    wr(rep(rd("customer")) { (df, c) =>
      df.withColumn("c_custkey", shift(col("c_custkey"), kc, c))
    }, "customer")
    wr(rep(rd("supplier")) { (df, c) =>
      df.withColumn("s_suppkey", shift(col("s_suppkey"), ks, c))
    }, "supplier")
    wr(rep(rd("part")) { (df, c) =>
      df.withColumn("p_partkey", shift(col("p_partkey"), kp, c))
    }, "part")
    wr(rd("nation"), "nation")
    wr(rd("region"), "region")
    wr(rep(rd("events")) { (df, c) =>
      df.withColumn("event_id", shift(col("event_id"), ke, c))
        .withColumn("user_id", shift(col("user_id"), ku, c))
    }, "events")
    wr(rep(rd("documents")) { (df, c) =>
      val text = if (c == 0) col("text")
      else array_join(transform(split(col("text"), "\\s+"),
        t => concat(t, lit(s"~$c"))), " ")
      df.withColumn("doc_id", shift(col("doc_id"), kd, c))
        .withColumn("text", text)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    wr(rep(rd("embeddings")) { (df, c) =>
      val emb = if (c == 0) col("embedding")
      else transform(col("embedding"), (x, j) =>
        (x.cast("double") +
          (pmod(hash(col("vec_id"), lit(c), j), lit(1001)) - 500)
            .cast("double") / 1e5).cast("float"))
      df.withColumn("vec_id", shift(col("vec_id"), kv, c))
        .withColumn("embedding", emb)
    }, "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val dst = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR",
      "/root/repo/testdata-sf1")
    // `gen` as the sole arg: (re)generate the sf1 tables and exit —
    // testdata-sf1 stays out of git, so a fresh checkout needs a
    // one-command regeneration that does NOT overwrite the committed
    // timing artifacts.
    val genOnly = args.headOption.contains("gen")
    val reps =
      if (genOnly) 0 else args.headOption.map(_.toInt).getOrElse(2)
    // optional explicit query set (args 2+): anchors a NEW operator
    // batch without redefining the committed top-20 artifact; output
    // goes to docs/bench_sf1_extra.json instead
    val names = if (args.length > 1) args.drop(1).toSeq else Top20
    val outPath = if (args.length > 1) "docs/bench_sf1_extra.json"
                  else "docs/bench_sf1_top20.json"
    val spark = GraftSession.local("graft-sf1-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    StallMeter.start()
    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      println(s"[sf1] generating $dst from $src")
      generate(spark, src, dst)
    }
    if (genOnly) { println(s"[sf1] ready: $dst"); spark.stop(); return }
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def once(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      StallMeter.mark()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      df.queryExecution.toRdd.foreach(_ => ())
      val t = (System.nanoTime() - t0) / 1e9
      graft.ext.Checkpoints.release(df)
      t
    }
    def d2(x: Double): String = f"$x%.2f"
    val out = new StringBuilder("{")
    var first = true
    for (name <- names) {
      var mSmall = Double.MaxValue
      var mBig = Double.MaxValue
      for (_ <- 1 to reps) {
        mBig = math.min(mBig, once(name, dst))
        mSmall = math.min(mSmall, once(name, src))
      }
      val ratio = mBig / mSmall
      if (!first) out.append(",")
      first = false
      out.append(s""""$name":{"sf01_sec":${d2(mSmall)},""" +
        s""""sf1_sec":${d2(mBig)},"ratio":${d2(ratio)}}""")
      println(s"""[sf1] $name sf0.1=${d2(mSmall)} sf1=${d2(mBig)} """ +
        s"""ratio=${d2(ratio)}""")
    }
    out.append(s""","max_stall_sec":${d2(StallMeter.runMaxGapSec())}}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), out.toString)
    println(out.toString)
    spark.stop()
  }
}
