package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Dev tool (not part of the driver contract): dump the formatted
  * physical plan of each named registry query to its own file, one
  * session for all of them.
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>"
  *
  * writes <outDir>/<query>_<suffix>.txt for each query. With a 4th
  * arg "exec", runs the query (noop-sink count) FIRST so the dumped
  * AdaptiveSparkPlan is the FINAL one (isFinalPlan=true) — the only
  * form that shows runtime exchange/stage reuse under AQE.
  *
  * Each `[plandump]` line also gives the optimized plan's expression
  * node count ([[exprNodes]]): a plan that re-inlines a projection
  * chain into a filter shows there as thousands of nodes.
  */
object PlanDump {
  /** Expression nodes over every operator of `plan`. */
  def exprNodes(plan: LogicalPlan): Int =
    plan.collect { case n => n.expressions.map(_.collect { case e => e }.size).sum }.sum

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val exec = args.length > 3 && args(3) == "exec"
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { nm =>
      val df = graft.SparkEntry.queries(nm)(spark, d)
      // collect(), not count(): count() wraps the frame in a NEW
      // QueryExecution, leaving df's own plan unexecuted (still the
      // initial adaptive plan); collect() drives df.queryExecution
      // itself, so the dump below is the FINAL plan with runtime
      // exchange/stage reuse visible. exec mode is for small-result
      // queries only.
      if (exec) df.collect()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${nm}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      val scans = "FileScan|Scan parquet|Scan ExistingRDD".r
        .findAllIn(plan).size
      val exch = "Exchange".r.findAllIn(plan).size
      val nodes = exprNodes(df.queryExecution.optimizedPlan)
      println(s"[plandump] $nm: $scans scans, $exch Exchange (pre-AQE), " +
        s"$nodes expression nodes, -> $outDir/${nm}_$suffix.txt")
    }
    spark.stop()
  }
}
