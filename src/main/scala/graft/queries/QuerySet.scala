package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.engine.Readers

/** One registry file of the query surface: every query object extends
  * this, and [[graft.SparkEntry]] folds its list of sets into the driver
  * maps, so a set is registered (with its oracles) in exactly one place.
  *
  * The protected helpers are the per-file fragments the sets share: the
  * parquet table scan and the DuckDB twins of the engine-portable
  * tokenizer, cents rounding and 60-bit hash.
  */
trait QuerySet {

  /** Query name -> (session, sfDir) => result. */
  def queries: Map[String, (SparkSession, String) => DataFrame]

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = Map.empty

  /** Oracles whose SQL depends on run-time-learned parameters, rendered
    * per (session, sfDir). */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] =
    Map.empty

  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Readers.table(s, dir, name)

  /** events with the nanosecond timestamp as epoch micros (`tsu`). */
  protected def eventsUs(s: SparkSession, dir: String): DataFrame =
    Readers.eventsNanos(s, dir).select(
      col("user_id"), expr("ts div 1000").as("tsu"),
      col("event_id"), col("event_type"), col("value"))

  /** DuckDB twin of [[graft.functions.Portable.wsTokens]]. */
  protected val tokSql = raw"string_split_regex(trim(text), '\s+')"

  /** DuckDB twin of [[graft.ext.Stats.cents]]. */
  protected def centsSql(e: String, scale: Int = 100): String =
    s"CAST(floor($e * $scale + 0.5) AS BIGINT)"

  /** DuckDB twin of [[graft.functions.Portable.hash60]]. */
  protected def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"
}
