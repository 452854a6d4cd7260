package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.Q

/** JVM-side self-tests of the harness, run by `perfbench/selftest.py`.
  *
  *  - the `noop` write keeps the global sort at the root of `sort_multi`;
  *  - `zonal_raster_nad83` counts at least one codegen fallback;
  *  - a throwing query is a failed execution with no time recorded.
  *
  * Usage: perfbench.SelfTest <sfDir>. Exits 1 if a check fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Harness.session(2)
    val registry = SparkEntry.registry.toMap
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(name: String, ok: Boolean, detail: => String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name: $detail")
      if (!ok) failures += name
    }

    // the plan the noop sink executes: the first operator under the write
    // (past adaptive and codegen wrappers) must be a global sort
    val plans = mutable.ArrayBuffer.empty[QueryExecution]
    val s = spark.newSession()
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.synchronized(plans += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    registry("sort_multi").build(s, sfDir).write.format("noop").mode("overwrite").save()
    BusDrain(spark.sparkContext)
    def top(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => top(a.executedPlan)
      case q: QueryStageExec => top(q.plan)
      case _ if p.nodeName.startsWith("WholeStageCodegen") || p.nodeName == "InputAdapter" ||
          p.nodeName.contains("Overwrite") || p.nodeName.contains("AppendData") => top(p.children.head)
      case _ => p
    }
    val root = plans.lastOption.map(qe => top(qe.executedPlan))
    expect("noop plan root sorts sort_multi", root.exists {
      case so: SortExec => so.global
      case _ => false
    }, root.map(_.nodeName).getOrElse("no plan captured"))

    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer.tasks)
    val runner = new Harness.Runner(spark, sfDir, Some(tracer), Some(CodegenFallbacks.attach()))
    val nad83 = runner.run("zonal_raster_nad83", registry("zonal_raster_nad83"), 1, traced = true)
    val fb = nad83.layers.getOrElse("catalyst.codegen_fallbacks", 0.0)
    expect("zonal_raster_nad83 codegen fallbacks >= 1", nad83.ok && fb >= 1, s"ok=${nad83.ok} fallbacks=$fb")

    val boom = Q.noOracle((_, _) => throw new IllegalStateException("boom"))
    val failed = runner.run("boom", boom, 1, traced = true)
    expect("throwing query is a failed execution without time", !failed.ok &&
      failed.buildS == 0.0 && failed.actionS == 0.0 && failed.error.contains("boom"), failed.toString)

    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
