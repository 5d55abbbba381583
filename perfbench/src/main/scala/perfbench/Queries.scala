package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.SparkEntry

/** The `queries` workload: repeated passes over a fixed list of registry
  * queries on generated star-schema tables. The first [[Warmup]] passes
  * are the warm-up. Every execution's result is checked against a row
  * count and an order-insensitive digest pinned in `expected/queries.json`.
  *
  * One query spends most of its time building its plan before the final
  * job (q65: an iterative connected-components loop with eager jobs); the
  * other six spend most of theirs executing the final plan. The list is
  * short so that a run can afford the passes the JIT needs to settle.
  * Queries whose cost depends on what ran before them in the same process
  * are left out, so a pass costs the same in any order.
  */
object Queries {

  val Names: Seq[String] = Seq(
    "q01_budget_report", "q12_join_shuffle", "q30_embed_knn",
    "q27_dedup_jaccard", "q113_median_mad",
    "q227_poisson_bootstrap", "q65_dedup_groups")

  val Warmup = 3

  /** The seed picks one of this many generated datasets. */
  val Variants = 4

  def variant(seed: Long): Int = Math.floorMod(seed, Variants.toLong).toInt

  private def dataSeed(v: Int): Long = 1000L + v

  /** Table size: the reference data's row counts at scale factor 0.01. */
  val Scale = 10

  /** Canonical text of one cell: doubles rounded to 9 significant digits
    * so a last-bit difference in summation order does not change the
    * digest, NaN and null spelled as `tools/compare.py` spells them.
    */
  def cell(v: Any): String = v match {
    case null => "None"
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new MathContext(9))
        .stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, digest) of a result: columns sorted by name, rows
    * rendered cell by cell and sorted, then SHA-256 of the lines.
    */
  def digest(result: (Array[String], Array[Row])): (Long, String) = {
    val (columns, rows) = result
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  private def collect(spark: SparkSession, dir: String, name: String)
  : (Array[String], Array[Row]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    try (df.columns, df.collect())
    finally graft.ext.Checkpoints.release(df)
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val v = variant(ctx.seed)
    val dir = ctx.work.resolve(s"data-$v").toString
    ctx.prep(Gen.tables(ctx.spark, dir, dataSeed(v), Scale))
    val want = JsonMethods.parse(Files.readString(ctx.expected)) \ "variants" \
      v.toString
    val t = ctx.tracer
    def check(name: String)(got: (Array[String], Array[Row])): Option[String] = {
      val (rows, dig) = digest(got)
      val w = want \ name
      (w \ "rows", w \ "digest") match {
        case (JInt(r), JString(d)) =>
          if (r.toLong != rows) Some(s"$name rows $rows != $r")
          else if (d != dig) Some(s"$name digest $dig != $d")
          else None
        case _ => Some(s"$name has no pinned result for variant $v")
      }
    }
    def once(name: String, phase: String, pass: Int): Double =
      if (!t.enabled || phase == "untraced")
        ctx.op(name, phase)(collect(ctx.spark, dir, name))(check(name))
      else ctx.op(name, phase)(t.span("query", s"$name#$pass") {
        val df = t.span("query.build")(SparkEntry.queries(name)(ctx.spark, dir))
        try {
          t.span("query.plan")(df.queryExecution.executedPlan)
          (df.columns, t.span("query.exec")(df.collect()))
        } finally graft.ext.Checkpoints.release(df)
      })(check(name))
    val passes = Map("measure" -> Vector.newBuilder[Double],
      "untraced" -> Vector.newBuilder[Double], "traced" -> Vector.newBuilder[Double])
    // passes 0 to 2 are the warm-up: pass times fall (about 10 s, 6 s,
    // 5.6 s on 4 cores) as the JIT settles near 5 s. Measured passes count
    // from 3; at least three of them, so every run times the same mix of
    // queries and the tail has ten samples beyond it.
    ctx.warmup((0 until Warmup).foreach(k => Names.foreach(once(_, "warmup", k))))
    if (!t.enabled) ctx.loop(ctx.seconds, 3) { k =>
      passes("measure") += Names.map(once(_, "measure", k + Warmup)).sum / 1000.0
    } else ctx.gcDuring(ctx.loop(ctx.seconds, 1) { k =>
      // each query runs untraced and traced back to back, in alternating
      // order, so the pass times differ only by the tracing
      var plain, traced = 0.0
      Names.zipWithIndex.foreach { case (n, i) =>
        ctx.paired(i + k)(plain += once(n, "untraced", k + Warmup))(
          traced += once(n, "traced", k + Warmup))
      }
      passes("untraced") += plain / 1000.0
      passes("traced") += traced / 1000.0
    })
    Map("clients" -> 1, "variant" -> v, "queries" -> Names,
      "passes_s" -> passes.map { case (p, b) => p -> b.result() })
  }

  /** Pin the expected results: for every variant, generate the tables,
    * run each query twice (list order, then reversed) and require equal
    * digests, then write `expected`. Each variant's tables, results and
    * oracle SQL also go under `out/` so `tools/compare.py` can check the
    * pinned results against DuckDB.
    */
  def pin(spark: SparkSession, work: Path, out: Path, expected: Path): Unit = {
    val variants = (0 until Variants).map { v =>
      val data = out.resolve(s"data-$v").toString
      Gen.tables(spark, data, dataSeed(v), Scale)
      val first = Names.map(n => n -> digest(collect(spark, data, n))).toMap
      val second = Names.reverse.map(n => n -> digest(collect(spark, data, n))).toMap
      Names.foreach(n => require(first(n) == second(n),
        s"$n is not deterministic on variant $v: ${first(n)} vs ${second(n)}"))
      val results = out.resolve(s"out-$v")
      Files.createDirectories(results)
      Names.foreach { n =>
        SparkEntry.queries(n)(spark, data).write.mode("overwrite")
          .parquet(results.resolve(n).toString)
      }
      val oracle = Names.flatMap { n =>
        SparkEntry.oracleSql.get(n)
          .orElse(SparkEntry.dynamicOracleSql.get(n).map(_(spark, data)))
          .map(n -> _)
      }.toMap
      Files.writeString(results.resolve("oracle_sql.json"),
        Serialization.write(oracle)(DefaultFormats))
      v.toString -> Names.map(n => n -> Map("rows" -> first(n)._1,
        "digest" -> first(n)._2)).toMap
    }
    Files.createDirectories(expected.getParent)
    Files.writeString(expected,
      Serialization.writePretty(Map("variants" -> variants.toMap))(
        DefaultFormats) + "\n")
  }
}
