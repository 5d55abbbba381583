package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec
import graft.engine.GraftSession

/** Shared local SparkSession for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSpec {
  lazy val spark: SparkSession = SparkSpec.session
  import scala.language.implicitConversions
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession.local("graft-test", cpus = 4).getOrCreate()
}
