package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for specs: one local session per suite, UTC, small
  * shuffle fan-out (local[8] ≈ test-box cores; never the 200 default),
  * graft's extensions installed. A whole-stage codegen fallback is an
  * error here, so a plan that stops compiling fails the suite instead of
  * running interpreted. `Props` sets the same conf: `newSession()`s take
  * it from whichever of the two starts the context.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    graft.ext.Ext.register(s)
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String) = SparkEntry.queries(name)(spark, sf)
}
