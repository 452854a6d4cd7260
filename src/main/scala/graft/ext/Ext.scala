package graft.ext

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.plans.{TopKRewriteRule, TopKStrategy}

/** Installation of graft's Catalyst extensions: the functions in
  * [[Ext.functions]], the planner strategy [[graft.plans.TopKStrategy]] and
  * the optimizer rule [[graft.plans.TopKRewriteRule]].
  *
  * Two front doors, the same three lists:
  *   - [[Ext.register]]: installs all three into a live session. `Q.build`
  *     calls it on every session it builds in, so registry entries and
  *     the helpers they call never install anything themselves. A caller
  *     that uses a helper outside `Q.build` calls it once per session.
  *   - [[GraftExtensions]]: injects the same three at session
  *     construction, through
  *     `SparkSession.builder().withExtensions(new GraftExtensions)` or
  *     `spark.sql.extensions=graft.ext.GraftExtensions`.
  */
object Ext {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es(0), es(1))),
    "byte_stats" -> (es => ByteStats(es.head)),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "poly_hash" -> (es => PolyHash(es.head)),
    "poly_hash_shingles" -> (es => PolyHashShingles(es(0), es(1))),
    "point_in_quad" -> (es => PointInQuad(es)),
    "cell_cover" -> (es => CellCover(es)),
    "argmax_cosine" -> (es => ArgmaxCosine(es(0), es(1))),
    "lsh_bucket" -> (es => LshBucket(es.head)),
    "make_wkb" -> (es => MakeWkb(es.head)),
    "point_in_wkb" -> (es => PointInWkb(es(0), es(1), es(2))),
    "cell_cover_wkb" -> (es => CellCoverWkb(es(0), es(1), es(2))),
    "wkb_stats" -> (es => WkbStats(es.head)),
    "wkb_geojson" -> (es => WkbGeoJson(es.head)))

  val strategies: Seq[SparkStrategy] = Seq(TopKStrategy)
  val rules: Seq[Rule[LogicalPlan]] = Seq(TopKRewriteRule)

  /** Idempotent: adds only the functions, strategies and rules the session
    * lacks, so a second call, or a call on a session built with
    * [[GraftExtensions]], changes nothing and logs nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
    strategies.foreach(GraftBridge.ensureStrategy(spark, _))
    rules.foreach(GraftBridge.ensureOptimization(spark, _))
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Ext.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.ext", name), builder))
    }
    Ext.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
    Ext.rules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}
