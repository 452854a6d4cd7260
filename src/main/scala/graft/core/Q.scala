package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator-registry entry (SURVEY.md §2 row): a DataFrame builder
  * `(session, sfDir) => DataFrame` plus, when the semantics are
  * SQL-expressible, an equivalent DuckDB oracle SQL string the driver
  * replays over the same parquet tables (hash-compare gate).
  *
  * Determinism contract for every oracle-checked entry (SURVEY.md §2
  * totals + FIXTURES.md checklist): trailing ORDER BY over a unique key,
  * money aggregates summed as DECIMAL(18,2) then cast back to DOUBLE on
  * both engines, no approx/rand/now, collect_list always sorted.
  *
  * The builder body is private: every caller goes through [[build]].
  */
final case class Q(
    private val body: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None) {

  /** Builds the entry's DataFrame in `s` after two declarations on `s`:
    * it is artifact-free, and graft's Catalyst extensions are installed.
    *
    * The install is [[graft.ext.Ext.register]]: the `graft.ext` functions,
    * the TopK strategy and the TopK rewrite rule, each added only if the
    * session lacks it. Builders and the helpers they call install nothing
    * themselves, so every entry plans the same way whatever ran before it
    * in the session.
    *
    * Artifact-free: [[Q.ArtifactIsolationKey]] is set to `false` unless
    * the caller set it.
    *
    * Nothing in the registry adds a jar or an artifact to a session. With
    * isolation on (Spark's default), each session gets its own executor
    * class loader, and Spark's codegen cache, keyed by class loader and
    * source, misses in every fresh `newSession()`: each execution compiles
    * its executor-side classes again. Off, tasks run under the executor's
    * default session state, so a class compiles once per JVM.
    *
    * An explicit value, `true` included, wins; `conf.getAll` holds only
    * explicit settings, whereas `getOption` returns the registered default.
    * Spark reads the key on the session's first execution, so on a session
    * that has already executed something the declaration sets the conf but
    * changes nothing at run time. Streaming queries clone the session and
    * inherit the key.
    */
  def build(s: SparkSession, sfDir: String): DataFrame = {
    if (!s.conf.getAll.contains(Q.ArtifactIsolationKey))
      s.conf.set(Q.ArtifactIsolationKey, "false")
    graft.ext.Ext.register(s)
    body(s, sfDir)
  }
}

object Q {
  /** Oracle-checked entry. */
  def apply(sql: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(build, Some(sql))
  /** Non-oracle entry (verified by unit/property tests instead). */
  def noOracle(build: (SparkSession, String) => DataFrame): Q =
    Q(build, None)

  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"
}
