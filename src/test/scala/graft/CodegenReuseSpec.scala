package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.core.Q

/** Each generated class compiles once per JVM, not once per session.
  * Spark keys its codegen cache by (context class loader, source); with
  * artifact isolation on, every session's tasks run under a class loader
  * of their own, so each fresh `newSession()` compiles all its executor
  * code again. `Q.build` declares the sessions it builds in artifact-free.
  *
  * Reads the JVM-wide `CodegenMetrics` counter: the forked test JVM runs
  * one suite at a time, and each test here runs one query at a time.
  *
  * LIMIT plans are left out: Spark names each `_limit_counter_<n>` from a
  * JVM-wide counter, so their source differs on every run and, for example,
  * `scan_source_limit_prune` compiles 16 classes every time whatever the
  * session.
  */
class CodegenReuseSpec extends SparkSuite {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `id` to the `noop` sink in `s`; returns the classes it compiled. */
  private def run(id: String, s: SparkSession): Long = {
    val before = compiles
    SparkEntry.queries(id)(s, sf).write.format("noop").mode("overwrite").save()
    compiles - before
  }

  for (id <- Seq("join_star", "zonal_stats_polygon"))
    test(s"$id: a second fresh session compiles no class") {
      run(id, spark.newSession())
      val second = run(id, spark.newSession())
      assert(second == 0, s"$id compiled $second classes again in a fresh session")
    }

  test("Q.build declares a fresh session artifact-free; an explicit value wins") {
    val fresh = spark.newSession()
    SparkEntry.queries("join_star")(fresh, sf)
    assert(fresh.conf.get(Q.ArtifactIsolationKey) == "false")

    val isolated = spark.newSession()
    isolated.conf.set(Q.ArtifactIsolationKey, "true")
    // under the isolated session's own class loader the query compiles
    // again, whatever ran before: the counter sees executor compiles
    assert(run("join_star", isolated) > 0,
      "an isolated session compiled nothing: the zero counts above prove nothing")
    assert(isolated.conf.get(Q.ArtifactIsolationKey) == "true")
  }
}
