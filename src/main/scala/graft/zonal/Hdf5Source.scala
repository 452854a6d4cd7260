package graft.zonal

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the netCDF-4/HDF5 reader (r18 — completing
  * the DSv2 trio next to [[TiffSource]] and [[ZarrSource]]):
  *
  *  - `spark.read.format("graft.zonal.Hdf5Source").option("var", name)
  *    .load(path)` is the one scan path for a netCDF-4/HDF5 variable:
  *    it prunes the driver-side B-tree chunk manifest and packs the
  *    kept chunks into at most `defaultParallelism` partitions
  *    ([[ChunkPlan]]) — zero shuffle anywhere in the scan;
  *  - the schema infers from the variable's RANK: rank-2 reads
  *    `(cell_x, cell_y, value)`, rank-3 (t, y, x) adds `epoch`,
  *    rank-4 (t, level, y, x) adds `level` and `epoch` — so the xarray
  *    `cube.sel(time=, level=, x=, y=)` query is a plain `.filter`
  *    whose comparisons PUSH DOWN and prune the chunk manifest at
  *    planning time in ALL FOUR axes (chunk-granular, so every pushed
  *    filter also stays residual and Spark re-applies it exactly to
  *    boundary chunks);
  *  - column pruning reaches the decoder: a projection without `value`
  *    (or `count(*)`) computes positions from chunk geometry — pad
  *    clipping included — and reads ZERO chunk bytes; absent chunks
  *    contribute fill VALUES, not masks, so counts never touch data.
  *
  * At 100 TB this is the cube scan you want: the driver touches only
  * header + B-tree metadata, executors see exactly the pruned chunk
  * list, and Catalyst reasons about the source like a parquet scan.
  */
class Hdf5Source extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    // WRITE face (r19): height/width declare the target grid — the
    // destination file need not exist yet, so never probe it
    if (options.containsKey("height") && options.containsKey("width"))
      (if (options.containsKey("epochs") && options.get("epochs").trim.toInt > 0)
        H5Write.WriteSchema3 else NetcdfWrite.WriteSchema)
    // a MEMBER LANDING directory is the STREAMING face (r19) — see
    // [[Hdf5MembersTable]]
    else if (path != null && path.nonEmpty && Hdf5MembersTable.isMemberDir(path))
      Hdf5MembersTable.Schema
    else Hdf5Source.schemaFor(path, options.get("var"),
      options.get("time"), options.get("coords"))
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    val geom = H5Write.geomFrom(properties)
    if (geom.isDefined)
      new Hdf5Table(NetcdfWrite.localWritePath(path),
        Option(properties.get("var")).getOrElse("v"), null, null, geom)
    else if (path != null && path.nonEmpty && Hdf5MembersTable.isMemberDir(path)) {
      val varName = properties.get("var")
      require(varName != null && varName.nonEmpty,
        "graft.zonal.Hdf5Source: .option(\"var\", <dataset name>) is required")
      new Hdf5MembersTable(path, varName,
        Option(properties.get("members_per_batch")).map(_.toInt).getOrElse(-1))
    } else new Hdf5Table(path, properties.get("var"),
      properties.get("time"), properties.get("coords"))
  }
}

object Hdf5Source {
  private[zonal] def schemaFor(path: String, varName: String,
      timeVar: String = null, coords: String = null): StructType = {
    require(path != null && path.nonEmpty,
      "graft.zonal.Hdf5Source: a load(path) is required")
    require(varName != null && varName.nonEmpty,
      "graft.zonal.Hdf5Source: .option(\"var\", <dataset name>) is required")
    val m = Hdf5.readMeta(path, varName)
    require(timeVar == null || m.epochs > 0,
      s"$path: .option(\"time\", ...) needs a time axis " +
        s"('$varName' is rank 2)")
    // r19: coords compose with rank-3/4 and the time face — the chunk
    // planner prunes every axis on the same manifest
    val pos = Seq(
      StructField("cell_x", IntegerType, nullable = false),
      StructField("cell_y", IntegerType, nullable = false))
    val mid =
      (if (m.levels > 0) Seq(StructField("level", IntegerType, nullable = false)) else Nil) ++
      (if (m.epochs > 0) Seq(StructField("epoch", IntegerType, nullable = false)) else Nil) ++
      (if (coords != null) Seq(
        StructField("x_coord", DoubleType, nullable = false),
        StructField("y_coord", DoubleType, nullable = false)) else Nil) ++
      (if (timeVar != null) Seq(StructField("t_ts", TimestampType, nullable = false)) else Nil)
    StructType(pos ++ mid :+ StructField("value", DoubleType, nullable = false))
  }

  /** The `coords` option names the file's own 1-D coordinate
    * DATASETS ("x,y" order): strictly monotonic, read driver-side.
    */
  private[zonal] def coordAxes(path: String,
      coords: String): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val parts = coords.split(",").map(_.trim)
    require(parts.length == 2,
      s"$path: .option(\"coords\", \"x,y\") wants exactly two dataset names")
    def axis(n: String): IndexedSeq[Double] = {
      val vs = Hdf5.h5CoordAxis(path, n)
      val inc = vs.sliding(2).forall(w => w.length < 2 || w(0) < w(1))
      val dec = vs.sliding(2).forall(w => w.length < 2 || w(0) > w(1))
      require(inc || dec, s"$path/$n: coordinate axis must be strictly " +
        "monotonic for label-based selection")
      vs
    }
    (axis(parts(0)), axis(parts(1)))
  }

  /** Full-axis CF labels of the file's own time coordinate dataset:
    * (epoch, micros). Windowing happens at the chunk-prune,
    * residual-trim stage.
    */
  private[zonal] def timeLabels(path: String, timeVar: String,
      epochs: Int): Map[Int, Long] = {
    val (raw, scale) = Hdf5.h5TimeAxis(path, timeVar)
    require(raw.length == epochs,
      s"$path: time axis has ${raw.length} values but the cube has $epochs epochs")
    Netcdf.cfEpochLabels(raw, scale, None, s"$path:$timeVar").toMap
  }
}

final class Hdf5Table(path: String, varName: String, timeVar: String = null,
    coords: String = null, geom: Option[H5WGeom] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"hdf5:$path#$varName"
  override def schema(): StructType =
    if (geom.isDefined)
      (if (geom.get.rank3) H5Write.WriteSchema3 else NetcdfWrite.WriteSchema)
    else Hdf5Source.schemaFor(path, varName, timeVar, coords)
  override def capabilities(): java.util.Set[TableCapability] =
    if (geom.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new Hdf5ScanBuilder(path, varName, timeVar, coords)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val g = geom.getOrElse(throw new IllegalArgumentException(
      s"$path: the netCDF-4/HDF5 write face wants .option(\"height\", h)" +
        ".option(\"width\", w) (+ optional chunk, var)"))
    new H5WriteBuilder(path, g, info)
  }
}

/** Accumulates a (t, level, y, x) window from pushed comparisons and
  * the pruned column set; `build()` freezes both into the scan.
  */
final class Hdf5ScanBuilder(path: String, varName: String, timeVar: String = null,
    coords: String = null)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var x0 = Int.MinValue; private var x1 = Int.MaxValue
  private var y0 = Int.MinValue; private var y1 = Int.MaxValue
  private var t0 = Int.MinValue; private var t1 = Int.MaxValue
  private var l0 = Int.MinValue; private var l1 = Int.MaxValue
  private var u0 = Long.MinValue; private var u1 = Long.MaxValue // t_ts micros
  private var vx0 = Double.NegativeInfinity; private var vx1 = Double.PositiveInfinity
  private var vy0 = Double.NegativeInfinity; private var vy1 = Double.PositiveInfinity
  private var inSets = Map.empty[String, Set[Int]] // static IN lists
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType =
    Hdf5Source.schemaFor(path, varName, timeVar, coords)

  // a pushed timestamp arrives as java.sql.Timestamp (or Instant under
  // the java8 datetime API) — either way an exact micros instant
  private def micros(v: Any): Option[Long] = v match {
    case ts: java.sql.Timestamp =>
      Some(ts.getTime * 1000L + ts.getNanos / 1000 % 1000)
    case i: java.time.Instant =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L))
    case _ => None
  }
  private def bound(f: Filter): Boolean = f match {
    case And(l, r) => val a = bound(l); val b = bound(r); a || b
    // label-based selection (r18): coordinate-VALUE bounds — MUST match
    // before the generic integer clamps (those truncate via longValue)
    case GreaterThanOrEqual(c @ ("x_coord" | "y_coord"), v: Number) => vClamp(c, lo = v.doubleValue())
    case GreaterThan(c @ ("x_coord" | "y_coord"), v: Number) => vClamp(c, lo = v.doubleValue())
    case LessThanOrEqual(c @ ("x_coord" | "y_coord"), v: Number) => vClamp(c, hi = v.doubleValue())
    case LessThan(c @ ("x_coord" | "y_coord"), v: Number) => vClamp(c, hi = v.doubleValue())
    case EqualTo(c @ ("x_coord" | "y_coord"), v: Number) =>
      vClamp(c, lo = v.doubleValue()) | vClamp(c, hi = v.doubleValue())
    case GreaterThanOrEqual(c, v: Number) => clamp(c, lo = v.longValue())
    case GreaterThan(c, v: Number) => clamp(c, lo = v.longValue() + 1)
    case LessThanOrEqual(c, v: Number) => clamp(c, hi = v.longValue())
    case LessThan(c, v: Number) => clamp(c, hi = v.longValue() - 1)
    case EqualTo(c, v: Number) => clamp(c, lo = v.longValue()) | clamp(c, hi = v.longValue())
    case In(c, vs) if Set("cell_x", "cell_y", "epoch", "level")(c)
        && vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
      inSets = inSets.updated(c, inSets.get(c)
        .fold(vs.map(_.asInstanceOf[Number].intValue()).toSet)(
          _ intersect vs.map(_.asInstanceOf[Number].intValue()).toSet))
      true
    case GreaterThanOrEqual("t_ts", v) => micros(v).exists(u => tsClamp(lo = u))
    case GreaterThan("t_ts", v) => micros(v).exists(u => tsClamp(lo = u + 1))
    case LessThanOrEqual("t_ts", v) => micros(v).exists(u => tsClamp(hi = u))
    case LessThan("t_ts", v) => micros(v).exists(u => tsClamp(hi = u - 1))
    case EqualTo("t_ts", v) => micros(v).exists(u => tsClamp(lo = u) | tsClamp(hi = u))
    case _ => false
  }
  private def tsClamp(lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Boolean = {
    u0 = math.max(u0, lo); u1 = math.min(u1, hi); true
  }
  private def vClamp(col: String, lo: Double = Double.NegativeInfinity,
      hi: Double = Double.PositiveInfinity): Boolean = col match {
    case "x_coord" => vx0 = math.max(vx0, lo); vx1 = math.min(vx1, hi); true
    case "y_coord" => vy0 = math.max(vy0, lo); vy1 = math.min(vy1, hi); true
    case _ => false
  }
  private def clamp(col: String, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Boolean = {
    def toI(v: Long): Int = math.max(Int.MinValue.toLong, math.min(Int.MaxValue.toLong, v)).toInt
    col match {
      case "cell_x" => x0 = math.max(x0, toI(lo)); x1 = math.min(x1, toI(hi)); true
      case "cell_y" => y0 = math.max(y0, toI(lo)); y1 = math.min(y1, toI(hi)); true
      case "epoch" => t0 = math.max(t0, toI(lo)); t1 = math.min(t1, toI(hi)); true
      case "level" => l0 = math.max(l0, toI(lo)); l1 = math.min(l1, toI(hi)); true
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(bound)
    filters // chunk-granular pruning: every filter stays residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(s: StructType): Unit = required = s

  // COUNT(*) from metadata (r18): dimension product, zero chunks
  // planned; fill is a value so absent chunks never change the count.
  private var countPushed = false
  private def canPushCount(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar] &&
      pushed.isEmpty && x0 == Int.MinValue && x1 == Int.MaxValue &&
      y0 == Int.MinValue && y1 == Int.MaxValue &&
      t0 == Int.MinValue && t1 == Int.MaxValue &&
      l0 == Int.MinValue && l1 == Int.MaxValue &&
      u0 == Long.MinValue && u1 == Long.MaxValue
  override def supportCompletePushDown(agg: Aggregation): Boolean = canPushCount(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    countPushed = canPushCount(agg); countPushed
  }

  // LIMIT pushdown (r18): partial — keep the shortest chunk-partition
  // PREFIX whose in-bounds cell count covers the limit.
  private var limit = -1
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    if (countPushed) {
      val m = Hdf5.readMeta(path, varName)
      val n = m.width.toLong * m.height *
        math.max(1, m.epochs).toLong * math.max(1, m.levels).toLong
      new MetaCountScan(n, s"hdf5:$path#$varName")
    } else new Hdf5Scan(path, varName, timeVar, coords, required,
      x0, x1, y0, y1, t0, t1, l0, l1, u0, u1, limit, inSets, vx0, vx1, vy0, vy1)
}

final class Hdf5Scan(path: String, varName: String, timeVar: String,
    coords: String, required: StructType, x0: Int, x1: Int, y0: Int, y1: Int,
    t0: Int, t1: Int, l0: Int, l1: Int, u0: Long, u1: Long,
    limit: Int = -1, inSets: Map[String, Set[Int]] = Map.empty,
    vx0: Double = Double.NegativeInfinity, vx1: Double = Double.PositiveInfinity,
    vy0: Double = Double.NegativeInfinity, vy1: Double = Double.PositiveInfinity)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val plan = new ChunkPlan(limit)

  // EXACT statistics from geometry (r18): rows = in-bounds cells of the
  // pruned manifest (capped by a pushed limit)
  override def estimateStatistics(): Statistics = {
    // r19: report the cells the scan will actually EMIT (the pruned,
    // limit-prefixed manifest), NEVER min(limit, total) — a rowCount
    // capped at the limit lets EliminateLimits drop Spark's GlobalLimit
    // while multiple prefix partitions each LocalLimit-truncate, which
    // over-delivers (the r18 scan_source_limit_prune red row)
    val rows = plan.prefix(plannedWithCells()).map(_._2).sum
    GeomStats(rows, math.max(1, required.fields.map(_.dataType.defaultSize).sum))
  }

  // RUNTIME filtering (r18 — DPP for cubes): join-key In/EqualTo values
  // arriving after planning re-prune the chunk manifest; unknown filter
  // shapes are ignored (the scan stays a superset, the join stays
  // exact). Seeded with the builder's STATIC IN-list pushdown.
  private var rt: Map[String, Set[Int]] = inSets
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    required.fieldNames.filter(Set("cell_x", "cell_y", "epoch", "level"))
      .map(Expressions.column).toArray
  }
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In(c, vs) => rtSet(c, vs.collect { case n: Number => n.intValue() }.toSet)
    case EqualTo(c, v: Number) => rtSet(c, Set(v.intValue()))
    case _ => ()
  }
  private def rtSet(c: String, vs: Set[Int]): Unit =
    if (Set("cell_x", "cell_y", "epoch", "level")(c))
      rt = rt.updated(c, rt.get(c).fold(vs)(_ intersect vs))
  private def rtKeep(c: String, lo: Int, n: Int): Boolean =
    rt.get(c).forall(vs => vs.exists(v => v >= lo && v < lo + n))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-hdf5 $path#$varName window=[$x0..$x1]x[$y0..$y1] " +
      s"t=[$t0..$t1] level=[$l0..$l1] t_ts=[$u0..$u1] " +
      s"cols=${required.fieldNames.mkString(",")}$plan"

  override def planInputPartitions(): Array[InputPartition] =
    plan.partitions(plannedWithCells())

  private def plannedWithCells(): Seq[(InputPartition, Long)] = {
    val m = Hdf5.readMeta(path, varName)
    // label-based selection (r18): invert the pushed coordinate-VALUE
    // windows to INDEX windows driver-side — BOTH axes prune chunks
    // (HDF5 chunks are (oy, ox) windows, unlike classic stripes)
    val (axes, ex0, ex1, ey0, ey1) =
      if (coords == null)
        (null: (IndexedSeq[Double], IndexedSeq[Double]), x0, x1, y0, y1)
      else {
        val a = Hdf5Source.coordAxes(path, coords)
        val (ix0, ix1) = ZarrSource.valueWindowToIndex(a._1, vx0, vx1)
        val (iy0, iy1) = ZarrSource.valueWindowToIndex(a._2, vy0, vy1)
        (a, math.max(x0, ix0), math.min(x1, ix1),
          math.max(y0, iy0), math.min(y1, iy1))
      }
    // with a time dataset declared, CF-decode its axis driver-side and
    // intersect the pushed TIMESTAMP window with the labels: a chunk
    // survives iff ANY of its epochs is in-window; each partition
    // carries ALL its epochs' label micros so boundary epochs get real
    // t_ts values and the residual filter trims them exactly
    val labels: Map[Int, Long] =
      if (timeVar == null) Map.empty
      else Hdf5Source.timeLabels(path, timeVar, m.epochs)
    val inWin: Int => Boolean =
      e => timeVar == null || { val u = labels(e); u >= u0 && u <= u1 }
    val nEpochs = math.max(1, m.epochs)
    // a chunk covers [ox, ox+cols) × [oy, oy+rows) × [ot, ot+chunkT) ×
    // [ol, ol+chunkL) — keep it iff every axis overlaps its window
    // (rank-2/3 refs carry chunkT/chunkL = 1 so the unbounded defaults
    // pass through)
    val nLevels = math.max(1, m.levels)
    Hdf5.chunkRefs(path, m)
      .filter(r =>
        r.ox <= ex1 && r.ox + r.cols > ex0 &&
        r.oy <= ey1 && r.oy + r.rows > ey0 &&
        r.ot <= t1 && r.ot + r.chunkT > t0 &&
        r.ol <= l1 && r.ol + r.chunkL > l0 &&
        rtKeep("cell_x", r.ox, r.cols) && rtKeep("cell_y", r.oy, r.rows) &&
        rtKeep("epoch", r.ot, r.chunkT) && rtKeep("level", r.ol, r.chunkL) &&
        (timeVar == null ||
          (r.ot until math.min(r.ot + r.chunkT, nEpochs)).exists(inWin)))
      .map { r =>
        val cells =
          (math.min(r.ox + r.cols, m.width) - r.ox).toLong *
          (math.min(r.oy + r.rows, m.height) - r.oy) *
          (math.min(r.ot + r.chunkT, nEpochs) - r.ot) *
          (math.min(r.ol + r.chunkL, nLevels) - r.ol)
        (Hdf5InputPartition(r,
          if (timeVar == null) Map.empty
          else (r.ot until math.min(r.ot + r.chunkT, nEpochs))
            .map(e => e -> labels(e)).toMap,
          if (axes == null) null
          else (r.ox, axes._1.slice(r.ox, math.min(r.ox + r.cols, m.width)).toArray,
            r.oy, axes._2.slice(r.oy, math.min(r.oy + r.rows, m.height)).toArray)): InputPartition,
          cells)
      }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PackedReaderFactory(new Hdf5ReaderFactory(required.fieldNames))
}

final case class Hdf5InputPartition(ref: Hdf5.H5ChunkRef,
    labelMicros: Map[Int, Long] = Map.empty,
    // label slices: (chunk x0, x slice, chunk y0, y slice)
    coordSlices: (Int, Array[Double], Int, Array[Double]) = null)
    extends InputPartition

final class Hdf5ReaderFactory(cols: Array[String]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ip = p.asInstanceOf[Hdf5InputPartition]
    new Hdf5PartitionReader(ip.ref, ip.labelMicros, ip.coordSlices, cols)
  }
}

/** One chunk's reader. With `value` pruned away the chunk bytes are
  * never read — positions come from chunk geometry with the pad clip
  * applied in all four axes (HDF5 stores full-size edge chunks).
  */
final class Hdf5PartitionReader(r: Hdf5.H5ChunkRef,
    labelMicros: Map[Int, Long],
    coordSlices: (Int, Array[Double], Int, Array[Double]), cols: Array[String])
    extends PartitionReader[InternalRow] {

  private val needsValue = cols.contains("value")
  private val it: Iterator[(Int, Int, Int, Int, Double)] =
    if (needsValue) Hdf5.readChunk(r)
    else for {
      tt <- Iterator.range(0, r.chunkT)
      t = r.ot + tt
      if t < r.epochs
      ll <- Iterator.range(0, r.chunkL)
      l = r.ol + ll
      if l < r.levels
      rr <- Iterator.range(0, r.rows)
      y = r.oy + rr
      if y < r.height
      cc <- Iterator.range(0, r.cols)
      x = r.ox + cc
      if x < r.width
    } yield (x, y, l, t, 0.0)
  private var cur: (Int, Int, Int, Int, Double) = _

  override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
  override def get(): InternalRow = {
    val row = new GenericInternalRow(cols.length)
    var k = 0
    while (k < cols.length) {
      cols(k) match {
        case "cell_x" => row.update(k, cur._1)
        case "cell_y" => row.update(k, cur._2)
        case "level" => row.update(k, cur._3)
        case "epoch" => row.update(k, cur._4)
        case "x_coord" => row.update(k, coordSlices._2(cur._1 - coordSlices._1))
        case "y_coord" => row.update(k, coordSlices._4(cur._2 - coordSlices._3))
        case "t_ts" => row.update(k, labelMicros(cur._4)) // TimestampType = micros
        case "value" => row.update(k, cur._5)
      }
      k += 1
    }
    row
  }
  override def close(): Unit = ()
}

// ======================================================================
// netCDF-4/HDF5 DSv2 WRITE face (r19):
//   `df.write.format("graft.zonal.Hdf5Source").option("height", h)
//    .option("width", w).option("chunk", "ch,cw").option("var", name)
//    .mode("overwrite").save(path)`
// builds ONE netCDF-4 (HDF5) file with a deflate-chunked rank-2
// variable. Tasks stage FINAL deflated chunk blobs (the exact bytes
// the reader inflates) plus presence bitmaps; the driver's commit
// inflates + merges only chunks genuinely split across partitions
// (cross-partition duplicates refuse loudly), writes the header —
// superblock, object headers, the v1 chunk B-tree sized from the
// staged blob lengths — and streams the blobs in C-order into a temp
// file installed by atomic rename. A single-file container
// concatenates: the driver moves compressed BYTES, never cells.
// Absent cells are 0.0 (= the declared fill). Append REFUSES — the
// chunk-granular upsert face is the Zarr store.
// ======================================================================

private[zonal] case class H5WGeom(h: Int, w: Int, epochs: Int, ct: Int,
    ch: Int, cw: Int, varName: String) {
  def rank3: Boolean = epochs > 0
}

private[graft] object H5Write {
  /** Last commit's (chunks written, chunks merged) — a test hook. */
  @volatile var lastCommit: (Int, Int) = (0, 0)

  /** Rank-3 write schema: the read face's (cell_x, cell_y, epoch, value). */
  val WriteSchema3: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("epoch", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private[zonal] def geomFrom(p: java.util.Map[String, String]): Option[H5WGeom] = {
    val h = p.get("height"); val w = p.get("width")
    if (h == null || w == null) None
    else {
      val ne = Option(p.get("epochs")).map(_.trim.toInt).getOrElse(0)
      require(ne >= 0, s"""option "epochs" wants a non-negative count, got $ne""")
      val c = Option(p.get("chunk")).getOrElse(if (ne > 0) "1,16,16" else "16,16")
        .split(",").map(_.trim.toInt)
      if (ne > 0) {
        require(c.length == 3 && c.forall(_ > 0),
          s"""option "chunk" wants "chunkT,chunkH,chunkW" on a rank-3 write, got ${p.get("chunk")}""")
        Some(H5WGeom(h.toInt, w.toInt, ne, c(0), c(1), c(2),
          Option(p.get("var")).getOrElse("v")))
      } else {
        require(c.length == 2 && c.forall(_ > 0),
          s"""option "chunk" wants "chunkH,chunkW", got ${p.get("chunk")}""")
        Some(H5WGeom(h.toInt, w.toInt, 0, 1, c(0), c(1),
          Option(p.get("var")).getOrElse("v")))
      }
    }
  }
}

private[zonal] case class H5ChunkFrag(ot: Int, ci: Int, cj: Int, file: String)
private[zonal] case class H5ChunksMsg(frags: Seq[H5ChunkFrag])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class H5WriteBuilder(path: String, g: H5WGeom,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    require(doTruncate,
      s"$path: netCDF-4/HDF5 is one flat file — an append would rewrite " +
        "every byte, so only mode(\"overwrite\") is supported here; the " +
        "chunk-granular upsert face is the Zarr store")
    new H5BatchWrite(path, g, info.schema(), info.queryId())
  }
}

final class H5BatchWrite(path: String, g: H5WGeom, in: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft-hdf5-write $path ${g.h}x${g.w} chunk=${g.ch}x${g.cw} var=${g.varName}"

  private def stageDir = {
    val f = new java.io.File(path)
    new java.io.File(Option(f.getParentFile).getOrElse(new java.io.File(".")),
      s".stage_${f.getName}_$queryId")
  }

  override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory = {
    val (xi, yi, vi) = NetcdfWrite.requireCols(in, path)
    val ti =
      if (!g.rank3) -1
      else NetcdfWrite.typedIdx(in, path, "epoch",
        org.apache.spark.sql.types.IntegerType, "cell_x, cell_y, epoch, value")
    stageDir.mkdirs()
    new H5ChunkWriterFactory(stageDir.getPath, g, xi, yi, vi, ti)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val frags = messages.collect { case m: H5ChunksMsg => m.frags }.flatten.toSeq
    var merged = 0
    val blobs = frags.groupBy(f => (f.ot, f.ci, f.cj)).map { case ((ot, ci, cj), fs) =>
      val file =
        if (fs.size == 1) fs.head.file
        else {
          // the split-chunk path: inflate, bitmap-merge, re-deflate
          merged += 1
          val n = g.ct * g.ch * g.cw
          val acc = new Array[Byte](n * 8)
          val seen = new java.util.BitSet(n)
          fs.foreach { f =>
            val raw = TiffCodec.inflate(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(f.file)), n * 8)
            val bm = java.util.BitSet.valueOf(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(f.file + ".bm")))
            var i = bm.nextSetBit(0)
            while (i >= 0) {
              require(!seen.get(i),
                s"$path chunk ($ot, $ci, $cj): cell $i written from two partitions " +
                  "— duplicate (cell_x, cell_y, epoch) rows in the input")
              seen.set(i)
              System.arraycopy(raw, i * 8, acc, i * 8, 8)
              i = bm.nextSetBit(i + 1)
            }
          }
          val out = new java.io.File(stageDir,
            f"merged_$ot%05d_$ci%05d_$cj%05d.bin")
          java.nio.file.Files.write(out.toPath, TiffCodec.deflate(acc))
          out.getPath
        }
      (ot, ci, cj) -> file
    }.toSeq.sortBy(_._1)
    val sizes = blobs.map { case ((ot, ci, cj), f) =>
      ((ot * g.ct, ci * g.ch, cj * g.cw), new java.io.File(f).length().toInt)
    }
    val tmp = new java.io.File(stageDir, "sink.tmp")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
    try {
      out.write(Hdf5.hdf5HeaderBytes(g.varName, g.epochs, g.h, g.w, g.ct, g.ch, g.cw,
        "<f8", deflate = true, shuffle = false, fill = Some(0.0),
        contiguous = false, 0L, sizes))
      blobs.foreach { case (_, f) =>
        java.nio.file.Files.copy(java.nio.file.Paths.get(f), out)
      }
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    H5Write.lastCommit = (blobs.size, merged)
    NetcdfWrite.rmTree(stageDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    NetcdfWrite.rmTree(stageDir)
}

final class H5ChunkWriterFactory(stage: String, g: H5WGeom,
    xi: Int, yi: Int, vi: Int, ti: Int)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new H5ChunkDataWriter(stage, g, xi, yi, vi, ti, partitionId, taskId)
}

/** Buffers dense per-chunk arrays (HDF5 chunks are always full-size;
  * the reader clips the pad); stages final DEFLATED blobs + presence
  * bitmaps — compression happens in the tasks, never on the driver.
  */
final class H5ChunkDataWriter(stage: String, g: H5WGeom,
    xi: Int, yi: Int, vi: Int, ti: Int, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val bufs = scala.collection.mutable.HashMap
    .empty[(Int, Int, Int), (Array[Double], java.util.BitSet)]

  override def write(r: InternalRow): Unit = {
    require(!r.isNullAt(xi) && !r.isNullAt(yi) && !r.isNullAt(vi)
        && (ti < 0 || !r.isNullAt(ti)),
      s"NULL in (cell_x, cell_y, epoch, value) — the cube grid has no null cells")
    val x = r.getInt(xi); val y = r.getInt(yi); val v = r.getDouble(vi)
    val t = if (ti < 0) 0 else r.getInt(ti)
    require(x >= 0 && x < g.w && y >= 0 && y < g.h,
      s"cell ($x, $y) outside the ${g.h}x${g.w} grid")
    require(ti < 0 || (t >= 0 && t < g.epochs),
      s"epoch $t outside the ${g.epochs}-epoch cube")
    val ot = t / g.ct; val ci = y / g.ch; val cj = x / g.cw
    val n = g.ct * g.ch * g.cw
    val (arr, bm) = bufs.getOrElseUpdate((ot, ci, cj),
      (new Array[Double](n), new java.util.BitSet(n)))
    val idx = ((t - ot * g.ct) * g.ch + (y - ci * g.ch)) * g.cw + (x - cj * g.cw)
    arr(idx) = v; bm.set(idx)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val frags = bufs.toSeq.map { case ((ot, ci, cj), (arr, bm)) =>
      val f = new java.io.File(stage,
        f"chunk_$ot%05d_$ci%05d_$cj%05d.p${partitionId}_t$taskId.bin")
      java.nio.file.Files.write(f.toPath,
        TiffCodec.deflate(Hdf5.encodeCells(arr, "<f8")))
      java.nio.file.Files.write(new java.io.File(f.getPath + ".bm").toPath,
        bm.toByteArray)
      H5ChunkFrag(ot, ci, cj, f.getPath)
    }
    H5ChunksMsg(frags)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
