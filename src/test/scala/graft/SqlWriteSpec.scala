package graft

import org.apache.spark.sql.functions._

/** SQL DDL + DML over the DSv2 WRITE faces (r19): a catalog table
  * created `USING graft.zonal.ZarrSource` with write options accepts
  * INSERT INTO (append) and INSERT OVERWRITE (truncate), and the same
  * table SELECTs back through the catalog read path. The catalog hands
  * the provider a `file:` URI — the write faces normalize it (the
  * literal-"file:" directory bug class).
  */
class SqlWriteSpec extends SparkSuite {

  test("r20 CTAS: CREATE TABLE ... USING ZarrSource AS SELECT builds the store; pushdown fires on the catalog read") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/sqlw_ctas"
    graft.core.Fs.rmTree(dir)
    spark.sql("DROP TABLE IF EXISTS sqlw_ctas")
    spark.sql(
      s"""CREATE TABLE sqlw_ctas
         |USING graft.zonal.ZarrSource
         |OPTIONS (path '$dir', height '16', width '32', chunk '16,16')
         |AS SELECT CAST(x.id AS INT) AS cell_x, CAST(y.id AS INT) AS cell_y,
         |  CAST((7 * x.id + 11 * y.id) % 101 AS DOUBLE) AS value
         |FROM range(0, 32) x CROSS JOIN range(0, 16) y""".stripMargin)
    // the store is real on disk (the write went through the DSv2
    // BatchWrite, not a catalog-side copy)
    assert(new java.io.File(dir, ".zarray").exists(), "CTAS must build the store")
    val back = spark.sql(
      "SELECT * FROM sqlw_ctas WHERE cell_x < 16 AND cell_y < 16")
    assert(back.count() == 256)
    assert(back.filter(org.apache.spark.sql.functions.expr(
      "value <> CAST((7 * cell_x + 11 * cell_y) % 101 AS DOUBLE)")).count() == 0)
    // pushdown still fires on the subsequent catalog read: the window
    // above prunes to ONE of the 1x2 chunk columns
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") || plan.contains("graft"), plan.take(400))
    val parts = plannedChunks(back)
    assert(parts == 1, s"chunk pruning through the catalog: want 1 chunk, got $parts")
  }

  test("r20 MERGE INTO a cube table: matched cells update, others keep values; one equi-join plan; DELETE refuses") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/sqlw_merge"
    graft.core.Fs.rmTree(dir)
    spark.sql("DROP TABLE IF EXISTS sqlw_merge")
    spark.sql(
      s"""CREATE TABLE sqlw_merge
         |USING graft.zonal.ZarrSource
         |OPTIONS (path '$dir', height '16', width '32', chunk '16,16')
         |AS SELECT CAST(x.id AS INT) AS cell_x, CAST(y.id AS INT) AS cell_y,
         |  CAST(x.id + y.id AS DOUBLE) AS value
         |FROM range(0, 32) x CROSS JOIN range(0, 16) y""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW merge_changes AS
        |SELECT CAST(id AS INT) AS cell_x, CAST(3 AS INT) AS cell_y,
        |  CAST(1000 + id AS DOUBLE) AS value
        |FROM range(5, 9)""".stripMargin)
    // the rewrite must be ONE equi-join on the merge keys, never a
    // cartesian explosion
    val explain = spark.sql(
      """EXPLAIN MERGE INTO sqlw_merge t USING merge_changes s
        |ON t.cell_x = s.cell_x AND t.cell_y = s.cell_y
        |WHEN MATCHED THEN UPDATE SET value = s.value""".stripMargin)
      .head().getString(0)
    assert(!explain.contains("CartesianProduct"), explain)
    assert(explain.toLowerCase.contains("join"), explain)
    // the DELTA rewrite, not group-based copy-on-write: only changed
    // rows reach the writer, so only touched chunks do IO
    assert(explain.contains("WriteDelta"), explain.take(600))
    spark.sql(
      """MERGE INTO sqlw_merge t USING merge_changes s
        |ON t.cell_x = s.cell_x AND t.cell_y = s.cell_y
        |WHEN MATCHED THEN UPDATE SET value = s.value
        |WHEN NOT MATCHED THEN INSERT (cell_x, cell_y, value)
        |  VALUES (s.cell_x, s.cell_y, s.value)""".stripMargin)
    val back = spark.sql("SELECT * FROM sqlw_merge")
    assert(back.count() == 512, "the dense grid survives whole")
    assert(spark.sql(
      "SELECT count(*) FROM sqlw_merge WHERE value >= 1000").head().getLong(0) == 4)
    assert(spark.sql(
      """SELECT count(*) FROM sqlw_merge
        |WHERE NOT (cell_y = 3 AND cell_x BETWEEN 5 AND 8)
        |  AND value <> cell_x + cell_y""".stripMargin).head().getLong(0) == 0,
      "unmatched cells must keep their values")
    assert(spark.sql(
      "SELECT value FROM sqlw_merge WHERE cell_x = 6 AND cell_y = 3")
      .head().getDouble(0) == 1006.0)
    // DELETE refuses by name — a dense grid has no missing cells
    val e = intercept[Throwable](spark.sql("DELETE FROM sqlw_merge WHERE cell_x = 0"))
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("dense grid") || msgs(e).toLowerCase.contains("delete"), msgs(e))
  }

  test("r20 MERGE on a rank-3 cube: the epoch joins the row id; overlay keeps every other cell") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/sqlw_merge3"
    graft.core.Fs.rmTree(dir)
    spark.sql("DROP TABLE IF EXISTS sqlw_merge3")
    spark.sql(
      s"""CREATE TABLE sqlw_merge3
         |USING graft.zonal.ZarrSource
         |OPTIONS (path '$dir', height '8', width '16', epochs '3', chunk '1,8,8')""".stripMargin)
    spark.sql(
      """INSERT INTO sqlw_merge3
        |SELECT CAST(id % 16 AS INT), CAST((id DIV 16) % 8 AS INT),
        |  CAST(id DIV 128 AS INT),
        |  CAST(id % 16 + 2 * ((id DIV 16) % 8) + 100 * (id DIV 128) AS DOUBLE)
        |FROM range(0, 384)""".stripMargin)
    spark.sql(
      """MERGE INTO sqlw_merge3 t
        |USING (SELECT CAST(id AS INT) AS cell_x, CAST(4 AS INT) AS cell_y,
        |         CAST(1 AS INT) AS epoch, CAST(900 + id AS DOUBLE) AS value
        |       FROM range(2, 6)) s
        |ON t.cell_x = s.cell_x AND t.cell_y = s.cell_y AND t.epoch = s.epoch
        |WHEN MATCHED THEN UPDATE SET value = s.value""".stripMargin)
    val back = spark.sql("SELECT * FROM sqlw_merge3")
    assert(back.count() == 384)
    assert(spark.sql("SELECT count(*) FROM sqlw_merge3 WHERE value >= 900 AND value < 1000")
      .head().getLong(0) == 4)
    // epochs 0 and 2, and every epoch-1 cell outside the window, keep
    // their formula values — the overlay read-modify-write in action
    assert(spark.sql(
      """SELECT count(*) FROM sqlw_merge3
        |WHERE NOT (epoch = 1 AND cell_y = 4 AND cell_x BETWEEN 2 AND 5)
        |  AND value <> cell_x + 2 * cell_y + 100 * epoch""".stripMargin)
      .head().getLong(0) == 0)
    assert(spark.sql(
      "SELECT value FROM sqlw_merge3 WHERE cell_x = 3 AND cell_y = 4 AND epoch = 1")
      .head().getDouble(0) == 903.0)
  }

  test("r20: an un-CAST column type refuses loudly instead of reinterpreting raw bits") {
    // code-review finding: getDouble on a BIGINT UnsafeRow slot would
    // silently write garbage cells — every write face now type-gates
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/sqlw_typegate"
    graft.core.Fs.rmTree(dir)
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    // the DataFrameWriter path auto-casts against the declared table
    // schema (TableOutputResolver), so the exposure is CTAS, where the
    // QUERY's schema becomes the table's via supportsExternalMetadata
    spark.sql("DROP TABLE IF EXISTS sqlw_typegate")
    val e = intercept[Throwable] {
      spark.sql(
        s"""CREATE TABLE sqlw_typegate
           |USING graft.zonal.ZarrSource
           |OPTIONS (path '$dir', height '8', width '8')
           |AS SELECT CAST(id % 8 AS INT) AS cell_x, CAST(id DIV 8 AS INT) AS cell_y,
           |  id * 2 AS value FROM range(0, 64)""".stripMargin) // value is BIGINT
    }
    // Spark's own schema check fires first on this path (the table
    // reports its geometry schema); the write-face typedIdx gate is the
    // defense-in-depth for paths that bypass it — either way, LOUD
    assert(msgs(e).contains("CAST it") || msgs(e).contains("SCHEMA_MISMATCH"),
      msgs(e))
    // the gate itself stays pinned directly
    val g = intercept[IllegalArgumentException](
      graft.zonal.NetcdfWrite.typedIdx(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.LongType))),
        "/t", "value", org.apache.spark.sql.types.DoubleType, "value"))
    assert(g.getMessage.contains("CAST it"), g.getMessage)
  }

  test("INSERT INTO a ZarrSource catalog table writes the store; OVERWRITE truncates") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_io/sqlw_zarr"
    graft.core.Fs.rmTree(dir)
    spark.sql("DROP TABLE IF EXISTS sqlw_cube")
    spark.sql(s"""CREATE TABLE sqlw_cube
                 |USING graft.zonal.ZarrSource
                 |OPTIONS (path '$dir', height '16', width '32', chunk '16,16')""".stripMargin)
    spark.sql("""INSERT INTO sqlw_cube
                |SELECT CAST(id % 32 AS INT), CAST(id DIV 32 AS INT),
                |  CAST(id AS DOUBLE) FROM range(0, 512)""".stripMargin)
    // the store is real on disk and reads back through BOTH faces
    assert(new java.io.File(dir, ".zarray").exists(), "INSERT must build the store")
    assert(spark.sql("SELECT count(*) FROM sqlw_cube").head().getLong(0) == 512)
    val direct = spark.read.format("graft.zonal.ZarrSource").load(dir)
    assert(direct.filter(col("value") =!=
      (col("cell_y") * 32 + col("cell_x")).cast("double")).count() == 0)
    // chunk-granular append through SQL: a second INSERT upserts more
    // chunks (rows land where the first insert wrote nothing)
    spark.sql("""INSERT OVERWRITE sqlw_cube
                |SELECT CAST(id % 32 AS INT), CAST(id DIV 32 AS INT),
                |  CAST(7.0 AS DOUBLE) FROM range(0, 512)""".stripMargin)
    assert(spark.sql("SELECT sum(value) FROM sqlw_cube").head().getDouble(0)
      == 512 * 7.0, "OVERWRITE must replace, not merge")
    spark.sql("DROP TABLE sqlw_cube")
  }

  test("a remote-scheme write path refuses loudly instead of writing a literal dir") {
    val e = intercept[Throwable] {
      spark.range(4)
        .selectExpr("CAST(id AS INT) AS cell_x", "CAST(0 AS INT) AS cell_y",
          "CAST(id AS DOUBLE) AS value")
        .write.format("graft.zonal.ZarrSource")
        .option("height", 1).option("width", 4)
        .mode("overwrite").save("hdfs://nn/cube")
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("scheme"), msgs(e))
  }
}
