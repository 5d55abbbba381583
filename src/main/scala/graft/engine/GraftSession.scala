package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DotProduct, IntDotProduct}

/** Session construction for the engine.
  *
  * [[GraftExtensions]] registers the custom Catalyst expressions as SQL
  * functions via `SparkSessionExtensions` (`spark.sql.extensions=
  * graft.engine.GraftExtensions`), so `SELECT graft_dot(a, b)` works from
  * pure SQL. [[GraftSession.registerFunctions]] does the same injection on
  * an already-built session (the driver hands us its own session, so both
  * paths are supported).
  *
  * [[GraftSession.builder]] encodes the scale-oriented defaults this
  * engine assumes; every knob is overridable by the caller afterwards:
  *  - AQE on with coalescing + skew-join splitting (hot keys in the
  *    dedup inverted-index joins are split at runtime);
  *  - shuffle partitions sized to the cluster, not Spark's legacy 200;
  *  - 128m scan partitions so executor memory bounds hold on wide rows
  *    (binary media columns);
  *  - broadcast threshold left at default — joins that MUST broadcast say
  *    so in code (`broadcast()`), size-based choices stay Catalyst's.
  */
object GraftSession {

  def builder(appName: String = "graft",
              parallelism: Int = Runtime.getRuntime.availableProcessors)
  : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** `SPARK_GRAFT_CPUS` parsed: a positive integer, or the machine's
    * processor count when unset. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** Cores for a local session, from the environment. */
  lazy val envCpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The engine's local session for mains and tests: [[builder]] on
    * `local[cpus]`, `cpus` shuffle partitions, UI off. */
  def local(appName: String, cpus: Int = envCpus): SparkSession.Builder =
    builder(appName, cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")

  /** Register the engine's SQL functions on an existing session.
    * (Only the expressions constructible from child expressions alone are
    * SQL-facing; the reference-object probes — NearestCentroid,
    * BloomMightContain, CmsEstimateLong — carry runtime state and are
    * reached through their typed Scala wrappers.)
    */
  def registerFunctions(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes 2 arguments")
        DotProduct(children.head, children(1))
      },
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_int_dot",
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_int_dot(a, b) takes 2 arguments")
        IntDotProduct(children.head, children(1))
      },
      "scala_udf")
  }
}

/** `spark.sql.extensions` entry point: injects the engine's functions at
  * session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot(a, b) takes 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_int_dot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_int_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_int_dot(a, b) takes 2 arguments")
        IntDotProduct(children.head, children(1))
      }))
  }
}
