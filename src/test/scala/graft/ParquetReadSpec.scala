package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables

/** `Tables.parquet`: the schema comes from one driver-side footer read,
  * matches Spark's inference exactly, and resolving a table runs no
  * Spark job. Also pins the source guard that keeps every schema-less
  * parquet read going through it.
  */
class ParquetReadSpec extends SparkSuite {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_parquet_$tag").toFile.getPath

  private def outputAttrs(df: DataFrame) =
    df.queryExecution.optimizedPlan.output.map(a => (a.name, a.dataType, a.nullable))

  private def assertSameAsInferred(s: SparkSession, path: String): Unit = {
    val want = s.read.parquet(path)
    val got = Tables.parquet(s, path)
    assert(got.schema == want.schema, s"$path: schema")
    assert(outputAttrs(got) == outputAttrs(want), s"$path: optimized-plan output")
  }

  test("same schema and optimized-plan output as Spark's inference: tables, partitioned and _SUCCESS dirs") {
    Tables.names.foreach(n => assertSameAsInferred(spark, s"$sf/$n.parquet"))
    val part = tmp("partitioned")
    spark.read.parquet(s"$sf/orders.parquet").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(part)
    assertSameAsInferred(spark, part)
    val plain = tmp("success")
    spark.read.parquet(s"$sf/nation.parquet").coalesce(2).write.mode("overwrite").parquet(plain)
    assert(new java.io.File(plain, "_SUCCESS").exists())
    assertSameAsInferred(spark, plain)
  }

  test("resolving the ten tables in a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    assert(jobStagesDuring(Tables.names.foreach(n => Tables.load(fresh, sf, n))).isEmpty)
    // the listener does see schema inference when it happens
    val other = spark.newSession()
    assert(jobStagesDuring(other.read.parquet(s"$sf/region.parquet")).nonEmpty)
  }

  test("no data file: the same error class as Spark's read") {
    val empty = tmp("empty")
    for (p <- Seq(empty, s"$empty/missing")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass == want.getClass, s"$p: ${got.getClass} vs ${want.getClass}")
      (got, want) match {
        case (g: org.apache.spark.SparkThrowable, w: org.apache.spark.SparkThrowable) =>
          assert(g.getCondition == w.getCondition, s"$p")
        case _ =>
      }
    }
  }

  test("loading events leaves nanosAsLong unset for a microsecond file") {
    // `conf.getOption` answers a registered key's default ("false"), so
    // the leak shows as an explicit setting in `conf.getAll`
    val fresh = spark.newSession()
    val before = fresh.conf.getOption(NanosKey)
    def unchanged(): Unit = {
      assert(fresh.conf.getAll.get(NanosKey).isEmpty)
      assert(fresh.conf.getOption(NanosKey) == before)
    }
    Tables.events(fresh, sf).schema
    unchanged()
    graft.stream.Runner.eventsStream(fresh, sf).schema
    unchanged()
  }

  test("a TIMESTAMP(NANOS) events file sets nanosAsLong and normalizes to µs") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    (0L until 3L).foreach { i =>
      val ns = (t0.getEpochSecond + 60 * i) * 1000000000L + 123456789L
      w.write(rows.newGroup().append("event_id", i).append("ts", ns))
    }
    w.close()
    val fresh = spark.newSession()
    val ev = Tables.events(fresh, dir)
    assert(fresh.conf.getAll.get(NanosKey).contains("true"))
    assertSameAsInferred(fresh, s"$dir/events.parquet")
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val got = ev.orderBy("event_id").collect().map(_.getTimestamp(1).toInstant).toSeq
    assert(got == (0L until 3L).map(i => t0.plusSeconds(60 * i).plusNanos(123456000L)))
  }

  test("source guard: schema-less parquet reads in src/main go through Tables.parquet") {
    // a schema-less read resolves its schema with a Spark job per call;
    // only Spark's own fallback in the helper, the schema-merging scan and
    // the session warm-ups of the Bench and RunOne mains may do that
    val allowed = Set(
      "graft/core/Tables.scala" -> ".fold(s.read.parquet(path)) { f =>",
      "graft/rel/Scans.scala" -> """s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")""",
      "graft/Bench.scala" -> """spark.read.parquet(s"$sfDir/region.parquet").count()""",
      "graft/Bench.scala" -> "spark.read.parquet(wtmp).count()",
      "graft/RunOne.scala" -> """spark.read.parquet(s"$sfDir/region.parquet").count()""")
    val read = """\.read(\.option\([^)]*\))*\.(parquet\(|format\("parquet"\))""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    import scala.jdk.CollectionConverters._
    val hits = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val rel = root.relativize(f).toString
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") &&
            !allowed((rel, line.trim)) => s"src/main/scala/$rel:${i + 1}: ${line.trim}"
      }
    }.toList
    assert(hits.isEmpty, hits.mkString(
      "schema-less parquet read outside Tables.parquet (use Tables.parquet(s, path)):\n", "\n", ""))
  }
}
