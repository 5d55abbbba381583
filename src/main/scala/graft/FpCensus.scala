package graft

import graft.engine.GraftSession

/** fp-stability census (round-16 verdict task 1): q140/q254 were only
  * discovered because ONE pair of bench runs happened to flip them — and
  * one of the two losing variants was a latent wrong-at-scale plan (AQE
  * broadcasting the corpus-shaped ranked side of groupMedian's pick
  * join). This main casts the net systematically: it executes EVERY
  * registered query N times (default 10 passes over the full surface, in
  * registry order, one JVM) and fingerprints each executed plan with the
  * SAME [[PlanFp]] canonicalization the bench uses, so any query whose
  * plan is not a pure function of (code, data, config) shows up as >1
  * distinct fingerprint across passes.
  *
  * Forensics are captured inline: the FIRST time a (query, fp) variant is
  * seen, its canonical node multiset is dumped to `<out>/<query>.<fp>.nodes`
  * — two variants of a flipping query then diff directly to the nodes
  * that moved, without re-running anything. A kill-safe cumulative JSON
  * artifact (`<out>/census.json`) is rewritten after every pass with the
  * per-query fp→count map and the current flip list.
  *
  * Env: SPARK_GRAFT_CENSUS_PASSES (default 10), SPARK_GRAFT_CENSUS_OUT
  * (default target/fp_census), SPARK_GRAFT_SF_DIR (default sf0.1),
  * SPARK_GRAFT_ONLY (comma-separated name filter), SPARK_GRAFT_CPUS.
  */
object FpCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_CENSUS_PASSES", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_CENSUS_OUT", "target/fp_census")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local("graft-fp-census").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq
    def short(name: String): String = name.takeWhile(_ != '_')
    // query -> fp -> count across passes (REAL fingerprints only; a
    // transient per-pass failure is tracked in `errors`, not as an "err"
    // fp variant — r17 advice: one flaky pass must not flag a query as a
    // genuine plan instability for the rest of the run)
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Int]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def emit(passesDone: Int): Unit = {
      val flips = seen.collect { case (q, m) if m.size > 1 => q }.toSeq
      val qs = seen.map { case (q, m) =>
        "\"" + q + "\":" + m.map { case (fp, n) => "\"" + fp + "\":" + n }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      val errs = errors.map { case (q, n) => "\"" + q + "\":" + n }
        .mkString("{", ",", "}")
      val json = s"""{"passes":$passesDone,"sf":"$sfDir","n_queries":${seen.size},"flips":${flips.map("\"" + _ + "\"").mkString("[", ",", "]")},"errors":$errs,"queries":$qs}"""
      java.nio.file.Files.write(out.resolve("census.json"),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[census] pass $passesDone/$passes done, " +
        s"flips so far: ${flips.mkString(",")}")
      System.out.flush()
    }
    for (pass <- 1 to passes) {
      for ((name, fn) <- selected) {
        val sk = short(name)
        try {
          val df = fn(spark, sfDir)
          df.queryExecution.toRdd.foreach(_ => ())
          val canon = PlanFp.canon(df)
          val fp = PlanFp.md5Hex12(canon.mkString(","))
          graft.ext.Checkpoints.release(df)
          val m = seen.getOrElseUpdate(sk,
            scala.collection.mutable.LinkedHashMap.empty[String, Int])
          if (!m.contains(fp)) {
            val f = out.resolve(s"$sk.$fp.nodes")
            if (!java.nio.file.Files.exists(f))
              java.nio.file.Files.writeString(f, canon.mkString("\n"))
          }
          m(fp) = m.getOrElse(fp, 0) + 1
        } catch {
          case e: Throwable =>
            System.err.println(s"[census] $sk pass $pass FAILED: ${e.getMessage}")
            errors(sk) = errors.getOrElse(sk, 0) + 1
        }
      }
      emit(pass)
    }
    spark.stop()
  }
}
