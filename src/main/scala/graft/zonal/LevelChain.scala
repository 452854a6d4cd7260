package graft.zonal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** A closed-form reprojection as per-level projection lists, each level
  * a SELECT over the one before: [[sql]] nests them into the oracle
  * text, [[apply]] runs the SAME strings as a Spark `selectExpr` chain.
  *
  * [[apply]] ends by declaring the chain's `lon`/`lat` non-null. Spark
  * types sin, sqrt, asin, atan, degrees, round and `/` as nullable, so
  * the zone join's null-intolerant `lon BETWEEN … AND lat BETWEEN …`
  * makes Catalyst infer `isnotnull(lon) AND isnotnull(lat)` and push it
  * down through every level, inlining the whole chain into the filter
  * once per reference (6,869 expression nodes for the NAD83 shift,
  * past Janino's 64 KB method limit). The coalesce changes no value:
  * the chains take no logarithm and ANSI division throws, so non-null
  * inputs never give null.
  */
object LevelChain {

  def sql(cellsSql: String, levels: Seq[Seq[String]], tag: String): String = {
    val nested = levels.zipWithIndex.foldLeft(s"($cellsSql) ${tag}_l0") {
      case (from, (exprs, i)) =>
        s"(SELECT ${exprs.mkString(",\n    ")}\n  FROM $from) ${tag}_l${i + 1}"
    }
    s"SELECT * FROM $nested"
  }

  def apply(df: DataFrame, levels: Seq[Seq[String]]): DataFrame =
    levels.foldLeft(df)((d, exprs) => d.selectExpr(exprs: _*))
      .withColumns(Seq("lon", "lat").map(c => c -> coalesce(col(c), lit(Double.NaN))).toMap)
}
