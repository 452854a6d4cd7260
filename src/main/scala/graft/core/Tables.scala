package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md:13-15,
  * schemas in FIXTURES.md). One parquet file per table under the
  * scale-factor directory; [[parquet]] resolves each schema from one
  * footer read on the driver.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A parquet read whose schema comes from one footer read on the
    * driver. A schema-less `s.read.parquet(path)` runs a one-task Spark
    * job to read the same footer (`ParquetFileFormat.mergeSchemasInParallel`
    * parallelizes even a single file), once per session and table. The
    * file is the one Spark's inference would pick: the path itself, or
    * the first visible data file under it in path order (`_*` and `.*`
    * names skipped, subdirectories such as `k=v` partitions descended).
    * Conversion is Spark's own, under the session conf, so `nanosAsLong`,
    * NTZ inference and the Spark row metadata behave as in the inferring
    * read. Falls back to Spark's read when the path holds no data file
    * (its error is the caller's) or the session asks to merge schemas.
    * Stateless: changed data is read fresh on every call.
    */
  def parquet(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = s.sessionState.conf
    (if (conf.isParquetSchemaMergingEnabled) None else footer(s, path))
      .fold(s.read.parquet(path)) { f =>
        s.read.schema(ParquetFileFormat.readSchemaFromFooter(
          f, new ParquetToSparkSchemaConverter(conf))).parquet(path)
      }
  }

  private def footer(s: SparkSession, path: String): Option[org.apache.parquet.hadoop.Footer] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(st)
    val first = if (fs.exists(root)) leaves(fs.getFileStatus(root)).minByOption(_.getPath.toString)
      else None
    first.map(st => new Footer(st.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)))
  }

  /** Whether the file's footer has an INT64 `TIMESTAMP(NANOS)` column,
    * which Spark reads only under `spark.sql.legacy.parquet.nanosAsLong`.
    */
  private def hasNanosTimestamp(s: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    footer(s, path).exists(_.getParquetMetadata.getFileMetaData.getSchema.getColumns.asScala
      .exists(_.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }))
  }

  /** Table `name` under `dir`: a fresh [[parquet]] read on every call
    * (one driver-side footer read, no Spark job), so two calls give two
    * frames with distinct column ids.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` has shipped as two physical Parquet types across fixture
    * generations, so the loader branches on the dtype Spark actually read:
    *
    *  - `timestamp[ns]`: Spark 4 rejects ns unless read as raw Long
    *    (`nanosAsLong`, runtime-settable — see [[rawEvents]]). Convert
    *    to a microsecond Timestamp with integer `div` —
    *    `/` would round-trip through Double and lose precision above
    *    2^53 ns (~1970+104 days).
    *  - `timestamp[us]` (current fixtures): arrives as TIMESTAMP_NTZ
    *    (no UTC-adjust flag in the footer); cast to the session
    *    TimestampType — value-identical under the pinned-UTC session.
    *
    * Either way the published schema is `ts: TIMESTAMP` in microseconds.
    * DuckDB reads both encodings natively, so oracles compare at µs or
    * coarser — see SURVEY.md §1.2.
    */
  def events(s: SparkSession, d: String): DataFrame = normalizeEventsTs(rawEvents(s, d))

  /** The events table before the dtype branch. Sets `nanosAsLong` on the
    * session only when the footer has a `TIMESTAMP(NANOS)` column: the
    * setting is session-wide, and µs fixtures leave the session as it was.
    */
  def rawEvents(s: SparkSession, d: String): DataFrame = {
    if (hasNanosTimestamp(s, s"$d/events.parquet"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }

  /** The dtype branch alone, shared with the streaming reader
    * ([[graft.stream.Runner.eventsStream]]) and specs that read the raw
    * file themselves — both fixture generations must normalize
    * identically wherever the file is read.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // the NTZ→TIMESTAMP cast below is instant-preserving ONLY under a
    // UTC session (the repo's entry points all pin it); a library caller
    // on a zoned session would silently shift every event — fail loudly
    // instead of skewing data
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"events.ts normalization requires spark.sql.session.timeZone=UTC " +
        s"(got '$tz') — the TIMESTAMP_NTZ cast would shift every instant")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported Parquet type $other (expected ns-as-long, timestamp_ntz, or timestamp)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every table as a temp view — the SQL front door (E2).
    * Goes through the typed loaders so `events.ts` arrives converted.
    */
  def reg(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** The synthetic lineitem has no short primary key (FIXTURES.md); this
    * column set is verified unique at sf0.001/sf0.01 and is the standard
    * deterministic ORDER BY for row-level lineitem outputs.
    */
  val liKey: Seq[String] =
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_extendedprice")
  val liKeySql: String = liKey.mkString(", ")
}
