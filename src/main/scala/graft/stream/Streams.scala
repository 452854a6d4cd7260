package graft.stream

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Det.{dsum, dsumSql}

/** SURVEY.md §2.10 — event-time windowing over the `events` table.
  *
  * The registry entries here are the *batch-equivalent* semantics
  * (windowing is pure event-time bucketing arithmetic, identical in
  * micro-batch and batch) so every operator stays DuckDB-oracle-checked;
  * the same transformations run as real Structured Streaming queries in
  * [[Streaming]] and are exercised against MemoryStream in StreamSpec
  * (watermark drop, stateful dedup, custom state — the parts batch can't
  * show).
  *
  * Oracle note: Spark `window(ts, …)` buckets are epoch-aligned; the
  * DuckDB spelling reconstructs them with integer µs arithmetic
  * (`epoch_us // 1e6 // width * width`) — no timezone dependence.
  */
object Streams {

  private val winStartSql =
    "TIMESTAMP '1970-01-01' + to_seconds((epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 300) * 300)"

  def defs: Seq[(String, Q)] = Seq(
    "stream_tumbling" -> Q(
      s"""SELECT $winStartSql AS win_start, event_type,
         |  count(*) AS n, ${dsumSql("value")} AS sum_v
         |FROM events GROUP BY win_start, event_type
         |ORDER BY win_start, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_v"))
        .orderBy("win_start", "event_type")
    },

    // windowed approx-distinct (round 8): per-window unique-user counts
    // via HLL — THE streaming cardinality metric (exact distinct in a
    // streaming agg would buffer every key per window; the sketch is
    // constant-size state and merges across partitions map-side, the
    // same mergeability agg_sketch_union materializes for batch).
    // Sketch estimate ≠ hash-match → no DuckDB twin; StreamSpec bounds
    // the estimate against the exact batch distinct per window.
    "stream_approx_distinct" -> Q.noOracle { (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "15 minutes"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("approx_users"), col("n"))
        .orderBy("win_start")
    },

    "stream_sliding" -> Q(
      s"""SELECT $winStartSql - to_seconds(off) AS win_start, count(*) AS n,
         |  ${dsumSql("value")} AS sum_v
         |FROM events CROSS JOIN (VALUES (0), (300)) AS offs(off)
         |GROUP BY win_start ORDER BY win_start""".stripMargin) { (s, d) =>
      // 10-minute windows sliding by 5: every event falls in exactly two
      // windows; the oracle reconstructs them as bucket − {0, 300 s}
      Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .select(col("window.start").as("win_start"), col("n"), col("sum_v"))
        .orderBy("win_start")
    },

    // REAL streaming sessionization (promoted r3): session_window +
    // watermark in append mode. A session is emitted once it can no
    // longer grow — session_end ≤ final watermark (max−10min) — so the
    // oracle is gaps-and-islands PLUS the emission filter; the open
    // tail sessions stay in state by design (978/979 at sf0.001).
    "stream_session" -> Q(
      """WITH m AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w > INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))),
        |s AS (SELECT user_id, ts,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS w FROM events)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 10 MINUTE AS session_end, count(*) AS n_events
        |FROM s CROSS JOIN wm GROUP BY user_id, sid, w
        |HAVING max(ts) + INTERVAL 10 MINUTE <= w
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      Runner.runToTable(s, "graft_sess_out", statePartitions = Runner.eventsStateFanout(s, d)) {
        Runner.eventsStream(s, d)
          .withWatermark("ts", "10 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events"))
          .writeStream.format("memory").queryName("graft_sess_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy("user_id", "session_start")
    },

    // REAL streaming watermark semantics (promoted r3): file source →
    // withWatermark → windowed count → append-mode memory sink,
    // Trigger.AvailableNow. The one data batch advances the watermark
    // to max−10min and the trailing no-data batch flushes every window
    // with end ≤ watermark — exactly the oracle's closed-window set
    // (verified: 935/936 windows at sf0.001, the open tail held back).
    // Late-row DROP behavior (needs ≥2 batches) stays in StreamSpec via
    // MemoryStream.
    "stream_watermark" -> Q(
      s"""WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS w FROM events)
         |SELECT $winStartSql AS win_start, count(*) AS n
         |FROM events CROSS JOIN wm
         |GROUP BY win_start, w
         |HAVING win_start + INTERVAL 5 MINUTE <= w
         |ORDER BY win_start""".stripMargin) { (s, d) =>
      Runner.runToTable(s, "graft_wm_out", statePartitions = Runner.eventsStateFanout(s, d)) {
        Runner.eventsStream(s, d)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes")).agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n"))
          .writeStream.format("memory").queryName("graft_wm_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy("win_start")
    },

    // REAL streaming stateful dedup (promoted r3): keep the first
    // (user, type) event per 10-minute event-time bucket, run as a
    // transformWithState query — seen buckets live in ListState (RocksDB)
    // and survive across micro-batches; rows fold per key in
    // (µs ts, event_id) order, so the result equals the batch window
    // spelling and shares its oracle.
    "stream_dedup" -> Q(
      """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    row_number() OVER (
        |      PARTITION BY user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 600
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = Runner.eventsStream(s, d)
        .select("event_id", "user_id", "event_type", "ts").as[DedupEv]
      // statePartitions stays the r18 constant here (NOT the r22
      // adaptive input-size rule): this query runs every row through
      // flatMapGroupsWithState — per-row COMPUTE dominates, not state
      // commits — and the adaptive 1-partition value serializes it
      // (measured 2.2-3.0 s vs 1.5-2.2 s at 8, while the commit-bound
      // join/window family moved the other way).
      Runner.runToTable(s, "graft_dedup_out", rocksdb = true, statePartitions = Some(8)) {
        Stateful.bucketDedupTws(ev)
          .writeStream.format("memory").queryName("graft_dedup_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy("event_id")
    },

    // REAL stream-stream inner join (r3): two file-source streams over
    // the same events table (clicks / purchases), watermarked on both
    // sides, joined on user with an event-time range — the range bounds
    // each side's state retention (watermark + 30 min) so state never
    // grows unboundedly. Inner-join emission is match-time (not
    // watermark-gated), so the append output equals the batch join: the
    // oracle is the plain range-join spelling.
    "stream_stream_join" -> Q(
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  CAST(c.ts AS TIMESTAMP) AS click_ts, CAST(p.ts AS TIMESTAMP) AS purchase_ts
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        |  AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin) { (s, d) =>
      val clicks = Runner.eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = Runner.eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      Runner.runToTable(s, "graft_ssj_out", statePartitions = Runner.eventsStateFanout(s, d)) {
        clicks.join(purchases,
            col("user_id") === col("p_user")
              && col("purchase_ts") >= col("click_ts")
              && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"))
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            col("click_ts"), col("purchase_ts"))
          .writeStream.format("memory").queryName("graft_ssj_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy("click_id", "purchase_id")
    },

    // REAL watermarked stream-stream LEFT OUTER join (r17 — verdict
    // missing #4: the clicks-without-purchase enrichment): unlike the
    // inner join's match-time emission, the null-extended side is
    // WATERMARK-GATED — an unmatched click emits only once its state
    // expires, i.e. when the final watermark (min of both sides'
    // max − 10 min) passes click_ts + 30 min, the latest instant a
    // purchase could still match it. The trailing no-data batch of
    // Trigger.AvailableNow performs exactly that eviction, so the
    // oracle is the range left-join PLUS the eviction filter on the
    // null-extended rows (open-tail clicks stay in state by design —
    // the stream_session posture). StreamSpec pins the two-batch
    // emission order the batch oracle can't show.
    "stream_stream_left" -> Q(
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS click_ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(click_ts) FROM c),
        |    (SELECT max(purchase_ts) FROM p)) - INTERVAL 10 MINUTE AS w)
        |SELECT * FROM (
        |  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
        |  FROM c JOIN p ON c.user_id = p.p_user
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        |  UNION ALL
        |  SELECT c.click_id, NULL, c.user_id, c.click_ts, NULL
        |  FROM c CROSS JOIN wm
        |  WHERE c.click_ts + INTERVAL 30 MINUTE < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.p_user = c.user_id
        |      AND p.purchase_ts >= c.click_ts
        |      AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE))
        |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin) { (s, d) =>
      val clicks = Runner.eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = Runner.eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      Runner.runToTable(s, "graft_ssl_out", statePartitions = Runner.eventsStateFanout(s, d)) {
        clicks.join(purchases,
            col("user_id") === col("p_user")
              && col("purchase_ts") >= col("click_ts")
              && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"),
            "left_outer")
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            col("click_ts"), col("purchase_ts"))
          .writeStream.format("memory").queryName("graft_ssl_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy(col("click_id"), col("purchase_id").asc_nulls_first)
    },

    // REAL watermarked stream-stream FULL OUTER join (r17 — completes
    // the outer family next to stream_stream_left): null emission on
    // BOTH sides, each gated by its own state eviction — an unmatched
    // click once the watermark passes click_ts + 30 min (its last
    // possible match instant), an unmatched purchase once the
    // watermark passes purchase_ts itself (matching clicks cannot be
    // later than the purchase). The oracle is the range full-join
    // plus BOTH eviction filters.
    "stream_stream_full" -> Q(
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS click_ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(click_ts) FROM c),
        |    (SELECT max(purchase_ts) FROM p)) - INTERVAL 10 MINUTE AS w)
        |SELECT * FROM (
        |  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
        |  FROM c JOIN p ON c.user_id = p.p_user
        |    AND p.purchase_ts >= c.click_ts
        |    AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
        |  UNION ALL
        |  SELECT c.click_id, NULL, c.user_id, c.click_ts, NULL
        |  FROM c CROSS JOIN wm
        |  WHERE c.click_ts + INTERVAL 30 MINUTE < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.p_user = c.user_id
        |      AND p.purchase_ts >= c.click_ts
        |      AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        |  UNION ALL
        |  SELECT NULL, p.purchase_id, p.p_user AS user_id, NULL, p.purchase_ts
        |  FROM p CROSS JOIN wm
        |  WHERE p.purchase_ts < wm.w
        |    AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.p_user
        |      AND p.purchase_ts >= c.click_ts
        |      AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE))
        |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin) { (s, d) =>
      val clicks = Runner.eventsStream(s, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val purchases = Runner.eventsStream(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
      Runner.runToTable(s, "graft_ssf_out", statePartitions = Runner.eventsStateFanout(s, d)) {
        clicks.join(purchases,
            col("user_id") === col("p_user")
              && col("purchase_ts") >= col("click_ts")
              && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"),
            "full_outer")
          .select(col("click_id"), col("purchase_id"),
            coalesce(col("user_id"), col("p_user")).as("user_id"),
            col("click_ts"), col("purchase_ts"))
          .writeStream.format("memory").queryName("graft_ssf_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy(col("click_id").asc_nulls_first, col("purchase_id").asc_nulls_first)
    },

    // streaming ZONAL stats (round 7) — the engine's two halves in one
    // plan: each event maps to a lattice cell (same modulo derivation
    // family as the cube), the tiny zone-envelope table broadcasts
    // against every micro-batch (a stream ⋈ static range join — no
    // stream state beyond the windowed agg), and the tumbling window
    // keys the per-zone aggregate. At 100 TB of events this is one
    // broadcast join + one windowed hash agg per micro-batch.
    "stream_zonal_stats" -> Q(
      s"""WITH zones AS (
         |${graft.zonal.Cube.ZonesSql}
         |)
         |SELECT $winStartSql AS win_start, zone_id,
         |  count(*) AS n, ${dsumSql("value")} AS sum_v
         |FROM events JOIN zones
         |  ON user_id % 64 BETWEEN xmin AND xmax
         | AND event_id % 64 BETWEEN ymin AND ymax
         |GROUP BY win_start, zone_id
         |ORDER BY win_start, zone_id""".stripMargin) { (s, d) =>
      val z = graft.zonal.Cube.zones(s, d)
      Tables.events(s, d)
        .withColumn("cell_x", col("user_id") % 64)
        .withColumn("cell_y", col("event_id") % 64)
        .join(broadcast(z),
          col("cell_x").between(col("xmin"), col("xmax")) &&
          col("cell_y").between(col("ymin"), col("ymax")))
        .groupBy(window(col("ts"), "5 minutes"), col("zone_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .select(col("window.start").as("win_start"), col("zone_id"), col("n"), col("sum_v"))
        .orderBy("win_start", "zone_id")
    },

    "stream_static_join" -> Q(
      """SELECT event_id, user_id, c_name, c_mktsegment, event_type FROM events
        |JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      // stream ⋈ static dimension (the streaming form joins each
      // micro-batch against the same broadcast table)
      val c = Tables.customer(s, d)
      Tables.events(s, d)
        .join(broadcast(c), col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "c_name", "c_mktsegment", "event_type")
        .orderBy("event_id")
    },

    // REAL streaming FILE sink (the production `readStream → transform →
    // writeStream(parquet)` shape): a stateless filter/project streamed
    // to a parquet directory with an exactly-once checkpoint, then read
    // back and aggregated. Sink+checkpoint are cleared first so each
    // run is a fresh exactly-once write — the oracle aggregates the
    // source table directly.
    "stream_sink_files" -> Q(
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_v
         |FROM events WHERE value > 100
         |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val sfName = new java.io.File(d).getName
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_io/$sfName/stream_sink"
      graft.core.Fs.rmTree(s"$base/out")
      graft.core.Fs.rmTree(s"$base/ckpt")
      val q = Runner.eventsStream(s, d)
        .filter(col("value") > 100)
        .select("event_id", "user_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Tables.parquet(s, s"$base/out")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy("event_type")
    },

    // the foreachBatch sink — the canonical production pattern for
    // "stream into a keyed store": the staged events replay as FOUR
    // micro-batches (maxFilesPerTrigger=1 under AvailableNow); each
    // batch writes its per-user PARTIAL aggregate into a batch_id
    // partition with dynamic partition overwrite, so a replayed batch
    // overwrites its own partition — idempotent, effectively
    // exactly-once, no read-modify-write race on the store. The final
    // read re-aggregates the partials (decimal addition is associative,
    // so the split into batches cannot perturb the sums). At scale the
    // same shape backs Delta/Iceberg MERGE: append partials, compact by
    // key downstream.
    "stream_foreach_batch" -> Q(
      s"""SELECT user_id, count(*) AS n_events, ${dsumSql("value")} AS sum_v
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val sfName = new java.io.File(d).getName
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_io/$sfName/stream_feb"
      graft.core.Fs.rmTree(base)
      Tables.events(s, d).repartition(4).write.parquet(s"$base/in")
      val store = s"$base/store"
      val q = s.readStream.schema(Tables.parquet(s, s"$base/in").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          batch.groupBy("user_id")
            .agg(count(lit(1)).as("n_part"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sum_part"))
            .withColumn("batch_id", lit(id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(store)
          ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Tables.parquet(s, store)
        .groupBy("user_id")
        .agg(sum(col("n_part")).as("n_events"),
          sum(col("sum_part")).cast("double").as("sum_v"))
        .orderBy("user_id")
    },

    // classic event-pipeline funnel: view → click → purchase in temporal
    // order per user (each stage's anchor = first qualifying event at or
    // after the previous stage's anchor). Three hash aggregations + two
    // broadcast-scale joins — no window over the full event stream, so
    // the plan is shuffle-light at any event volume.
    "events_funnel" -> Q(
      """WITH fv AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS v
        |            FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS c
        |       FROM events e JOIN fv ON e.user_id = fv.user_id
        |       WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) >= fv.v
        |       GROUP BY e.user_id),
        |fp AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS p
        |       FROM events e JOIN fc ON e.user_id = fc.user_id
        |       WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= fc.c
        |       GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM fv) AS n_view,
        |       (SELECT count(*) FROM fc) AS n_view_click,
        |       (SELECT count(*) FROM fp) AS n_full_funnel""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v"))
      val fc = ev.filter(col("event_type") === "click")
        .join(fv, "user_id").filter(col("ts") >= col("v"))
        .groupBy("user_id").agg(min("ts").as("c"))
      val fp = ev.filter(col("event_type") === "purchase")
        .join(fc, "user_id").filter(col("ts") >= col("c"))
        .groupBy("user_id").agg(min("ts").as("p"))
      fv.agg(count(lit(1)).as("n_view"))
        .crossJoin(fc.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(fp.agg(count(lit(1)).as("n_full_funnel")))
    },

    // cohort retention: users bucketed by first-seen hour, retention =
    // any activity exactly 1/2 hours later. The distinct-activity set
    // and the cohort table are both per-user aggregates — two shuffles
    // total regardless of event volume.
    "events_retention" -> Q(
      """WITH f AS (SELECT user_id, date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS cohort
        |           FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        |r AS (SELECT f.user_id, f.cohort,
        |        max(CASE WHEN act.h = f.cohort + INTERVAL 1 HOUR THEN 1 ELSE 0 END) AS ret1,
        |        max(CASE WHEN act.h = f.cohort + INTERVAL 2 HOUR THEN 1 ELSE 0 END) AS ret2
        |      FROM f JOIN act ON f.user_id = act.user_id
        |      GROUP BY f.user_id, f.cohort)
        |SELECT cohort, count(*) AS n_users,
        |  CAST(SUM(ret1) AS BIGINT) AS n_ret_1h, CAST(SUM(ret2) AS BIGINT) AS n_ret_2h
        |FROM r GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy("user_id")
        .agg(date_trunc("hour", min("ts")).as("cohort"))
      val act = ev.select(col("user_id"), date_trunc("hour", col("ts")).as("h")).distinct()
      f.join(act, "user_id")
        .groupBy(col("user_id"), col("cohort"))
        .agg(max(when(col("h") === col("cohort") + expr("INTERVAL 1 HOUR"), 1).otherwise(0)).as("ret1"),
          max(when(col("h") === col("cohort") + expr("INTERVAL 2 HOUR"), 1).otherwise(0)).as("ret2"))
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_users"),
          sum("ret1").as("n_ret_1h"), sum("ret2").as("n_ret_2h"))
        .orderBy("cohort")
    },

    // time-series GAP FILL (the resample staple: turn an irregular
    // event stream into a dense per-user daily series, zeros where
    // nothing happened — what every downstream rolling metric assumes):
    // per-user [first,last]-day span → sequence/explode generates the
    // calendar (bounded by each user's own span, never a global
    // calendar cross join) → left join the per-day counts, zero-fill.
    // Both joins hash on (user_id, day) — co-partitioned, no broadcast
    // of a corpus-sized side at any scale.
    "events_gapfill" -> Q(
      """WITH span AS (
        |  SELECT user_id,
        |    CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
        |    CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS d1
        |  FROM events GROUP BY user_id),
        |days AS (
        |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |act AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT days.user_id, days.day, coalesce(act.n, 0) AS n_events
        |FROM days LEFT JOIN act ON days.user_id = act.user_id AND days.day = act.day
        |ORDER BY days.user_id, days.day""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val days = ev.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val act = ev.groupBy("user_id", "day").agg(count(lit(1)).as("n"))
      days.join(act, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("user_id", "day")
    },

    // z-score ANOMALY flags (the metric-monitoring staple): per-type
    // population mean/std from EXACT decimal moment sums (raw 2-decimal
    // values cast to DECIMAL(18,2); the square is computed IN decimal —
    // the drevenue rule, casting a computed double is not portable),
    // then one broadcast join of the 5-row stats table back onto the
    // stream and a fixed IEEE chain per event: identical bits on both
    // engines, so the |z| > 3 boundary needs no tolerance. One wide
    // scan + one tiny-broadcast join at any event volume.
    "events_anomaly" -> Q(
      """WITH st AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - s / n) / sqrt(ss / n - (s / n) * (s / n)), 6) AS z_r
        |FROM events e JOIN st ON e.event_type = st.event_type
        |WHERE sqrt(ss / n - (s / n) * (s / n)) > 0
        |  AND abs((e.value - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 3
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val dec = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))
      val st = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec).cast("double").as("s"),
          sum(dec * dec).cast("double").as("ss"))
      val mean = col("s") / col("n")
      val std = sqrt(col("ss") / col("n") - mean * mean)
      val z = (col("value") - mean) / std
      ev.join(broadcast(st), "event_type")
        .filter(std > 0 && abs(z) > 3)
        .select(col("event_id"), col("event_type"), col("value"),
          round(z, 6).as("z_r"))
        .orderBy("event_id")
    },

    // batch sessionization — the window-function twin of stream_session:
    // a session breaks after a >10-minute gap; session index = running
    // sum of break flags per user (lag + cumulative sum), then one
    // hash agg per (user, session). Gap arithmetic runs in WHOLE
    // MICROSECONDS on both engines (the ns->us truncation rule), so the
    // break decisions are bit-identical. One window shuffle on user_id
    // + one agg — the classic shape at any event volume.
    "events_sessionize" -> Q(
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
         |), s AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |      OR epoch_us(ts) - epoch_us(prev_ts) > 600000000 THEN 1 ELSE 0 END AS new_s
         |  FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e)
         |), t AS (
         |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx FROM s
         |)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |  min(ts) AS start_ts, max(ts) AS end_ts, ${dsumSql("value")} AS sum_v
         |FROM t GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull
            || unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 600000000L, 1)
            .otherwise(0))
        .withColumn("session_idx",
          sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("start_ts"), max("ts").as("end_ts"),
          dsum(col("value")).as("sum_v"))
        .orderBy("user_id", "session_idx")
    },

    // batch twin of the custom-state operator (capped running spend with
    // reset); the streaming twins (flatMapGroupsWithState +
    // transformWithState) are equivalence-tested in StreamSpec. The fold
    // is iterative but SEQUENTIAL per key, so a DuckDB recursive CTE
    // replays it exactly (same double-add order → bit-identical) — the
    // literal 500 mirrors Stateful.Cap.
    "stream_stateful" -> Q(CappedSpendOracle) { (s, d) =>
      Stateful.cappedSpendBatch(Tables.events(s, d)).orderBy("event_id")
    },

    // the SAME operator run as a REAL Structured Streaming query on the
    // Spark 4 arbitrary-state API: file source → transformWithState
    // (typed ValueState in the RocksDB state store) → memory sink,
    // Trigger.AvailableNow. One input file ⇒ one micro-batch, and the
    // processor sorts each key's rows by (µs ts, event_id), so the result
    // equals the batch fold — same recursive-CTE oracle.
    "stream_tws" -> Q(CappedSpendOracle) { (s, d) =>
      import s.implicits._
      val ev = Runner.eventsStream(s, d)
        .select("event_id", "user_id", "ts", "value").as[Ev]
      // constant fan-out, same reason as stream_dedup: per-row
      // transformWithState compute, not commit-bound
      Runner.runToTable(s, "graft_tws_out", rocksdb = true, statePartitions = Some(8)) {
        Stateful.cappedSpendTws(ev)
          .writeStream.format("memory").queryName("graft_tws_out")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      }.orderBy("event_id")
    }
  )

  /** DuckDB replay of the sequential capped-spend fold (Stateful.Cap =
    * 500): recursion steps through each user's events in (ts, event_id)
    * order with the same double-add order as the Scala fold.
    */
  private val CappedSpendOracle: String =
    """WITH RECURSIVE e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      |  FROM events),
      |r AS (
      |  SELECT user_id, rn, event_id, ts, value,
      |    value AS cum_after, (value > 500) AS did_reset,
      |    CASE WHEN value > 500 THEN 0 ELSE value END AS acc
      |  FROM e WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.event_id, e.ts, e.value,
      |    r.acc + e.value, (r.acc + e.value) > 500,
      |    CASE WHEN r.acc + e.value > 500 THEN 0 ELSE r.acc + e.value END
      |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      |SELECT event_id, user_id, ts, value, cum_after, did_reset
      |FROM r ORDER BY event_id""".stripMargin
}
