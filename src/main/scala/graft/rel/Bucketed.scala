package graft.rel

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBridge
import graft.core.Tables

/** Bucketed-table support for the co-located join path (`join_bucketed`,
  * SURVEY.md §2.3): orders and customer are saved `bucketBy(8, key)`
  * into the session warehouse, pre-repartitioned on the bucket key so
  * each bucket is exactly ONE file — which both lets the scan honor the
  * `sortBy` order (sorted-bucket reads require one file per bucket) and
  * mirrors how a production pipeline would lay the table out once and
  * join shuffle-free forever after.
  *
  * Written at most once per (session, sfDir) per JVM; `overwrite` mode
  * clobbers any stale layout from a previous run. Keyed by the session's
  * UUID, not the session: `newSession()`s share one context, so a map
  * keyed by the session would keep every session it saw reachable.
  */
object Bucketed {

  val NumBuckets = 8

  // computeIfAbsent both dedupes and BLOCKS concurrent callers for the
  // same (session, dir) until the build completes — a thread can never
  // observe table names before the files exist
  private val done =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, String)]()

  private def warehousePath(s: SparkSession, t: String): java.io.File =
    new java.io.File(new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)

  private def rmTree(f: java.io.File): Unit = graft.core.Fs.rmTree(f)

  /** Ensure the bucketed twins exist; returns (ordersTable, customerTable).
    *
    * The bucketed files survive the JVM (warehouse dir on disk) but the
    * in-memory catalog doesn't, so a fresh session with a fingerprint-
    * matching layout re-registers the existing files as an EXTERNAL
    * bucketed table (`CREATE TABLE … CLUSTERED BY … LOCATION`) instead of
    * rewriting them — the "pay the shuffle once" claim made literal
    * across sessions. A stale/fingerprint-mismatched layout is rebuilt.
    */
  def ensure(s: SparkSession, d: String): (String, String) =
    done.computeIfAbsent((GraftBridge.sessionUUID(s), d), { _ =>
      val sf = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9]", "_")
      val to = s"graft_orders_bucketed_$sf"
      val tc = s"graft_customer_bucketed_$sf"
      val specs = Seq(
        (to, "orders", "o_custkey", Tables.orders(s, d)),
        (tc, "customer", "c_custkey", Tables.customer(s, d)))
      specs.foreach { case (t, srcName, key, df) =>
        // fingerprint from THIS table's own source file — a regenerated
        // customer.parquet must invalidate the customer layout even when
        // orders.parquet is unchanged
        val src = new java.io.File(d, s"$srcName.parquet")
        val stampName = s"_FINGERPRINT_${src.length()}_${src.lastModified()}"
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = warehousePath(s, t)
        if (new java.io.File(loc, stampName).exists()) {
          s.sql(
            s"""CREATE TABLE $t (${df.schema.toDDL}) USING PARQUET
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $NumBuckets BUCKETS
               |LOCATION '${loc.toURI}'""".stripMargin)
        } else {
          rmTree(loc)
          df.repartition(NumBuckets, col(key))
            .write.mode("overwrite").format("parquet")
            .bucketBy(NumBuckets, key).sortBy(key)
            .saveAsTable(t)
          new java.io.File(loc, stampName).createNewFile()
        }
      }
      (to, tc)
    })
}
