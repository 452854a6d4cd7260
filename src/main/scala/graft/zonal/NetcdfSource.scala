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

/** DataSource V2 face of the classic NetCDF reader (r18 — the fourth
  * and last member of the DSv2 quartet next to [[TiffSource]],
  * [[ZarrSource]] and [[Hdf5Source]]):
  *
  *  - `spark.read.format("graft.zonal.NetcdfSource").option("var",
  *    name).load(path)` prunes the row-stripe manifest read from the
  *    driver-side header and packs the kept stripes into at most
  *    `defaultParallelism` partitions ([[ChunkPlan]]) — zero shuffle
  *    anywhere;
  *  - the schema infers from the variable's RANK: rank-2 `(y, x)`
  *    reads `(cell_x, cell_y, value)`, rank-3 `(t, y, x)` — record or
  *    fixed leading dim — adds `epoch`, rank-4 `(t, level, y, x)`
  *    adds `level` and `epoch`;
  *  - pushed `cell_y` / `epoch` / `level` comparisons prune the STRIPE
  *    manifest at planning time (stripe-granular, every filter kept
  *    residual). A `cell_x` bound is NOT pushed: classic NetCDF is
  *    row-major contiguous, a stripe always spans the full width —
  *    the filter stays a plain residual, stated not hidden;
  *  - column pruning reaches the decoder: positions-only / `count(*)`
  *    projections compute cells from stripe geometry and read ZERO
  *    data bytes. Values surface RAW (`_FillValue` is data here; the
  *    CF ops [[Netcdf.scanNetcdfFill]], [[Netcdf.scanNetcdfPacked]] and
  *    [[Netcdf.scanNetcdfValid]] mask and unpack on top of this face),
  *    which is what makes the geometry shortcut exact;
  *  - `.option("time", <coord name>)` on a rank-3 or rank-4 variable
  *    adds a real `t_ts` TIMESTAMP column, CF-decoded (units +
  *    calendar) from the coordinate driver-side — and a pushed `t_ts`
  *    comparison prunes the stripe manifest at planning time: the
  *    xarray `cube.sel(time=slice(...))` query as a plain SQL WHERE
  *    over a DSv2 table (the oracle-gated fixture is rank-3; rank-4
  *    rides the same epoch-keyed labels since stripes carry one
  *    epoch each).
  */
class NetcdfSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    // WRITE face (r19): height/width declare the target grid — the
    // destination file need not exist yet, so never probe it
    if (options.containsKey("height") && options.containsKey("width"))
      NetcdfWrite.WriteSchema
    // a LANDING DIRECTORY of .nc member files is the STREAMING face —
    // see [[NetcdfMembersTable]]
    else if (path != null && path.nonEmpty && NetcdfMembersTable.isMemberDir(path))
      NetcdfMembersTable.Schema
    else {
      val varName = options.get("var")
      NetcdfSource.schemaFor(path, varName,
        NetcdfSource.rankOf(path, Netcdf.readMeta(path), varName),
        options.get("time"), options.get("coords"))
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    val geom = NetcdfWrite.geomFrom(properties)
    if (geom.isDefined)
      new NetcdfTable(NetcdfWrite.localWritePath(path),
        Option(properties.get("var")).getOrElse("v"), null, null, geom)
    else if (path != null && path.nonEmpty && NetcdfMembersTable.isMemberDir(path)) {
      val varName = properties.get("var")
      require(varName != null && varName.nonEmpty,
        "graft.zonal.NetcdfSource: .option(\"var\", <variable>) is required")
      new NetcdfMembersTable(path, varName,
        Option(properties.get("members_per_batch")).map(_.toInt).getOrElse(-1))
    } else new NetcdfTable(path, properties.get("var"), properties.get("time"),
      properties.get("coords"))
  }
}

object NetcdfSource {
  /** What one `load()` reads from the file, once: the header, the
    * variable, its schema, and the axes its `time` / `coords` options
    * name. Every refusal of a bad variable or axis (char data, rank,
    * missing units, a non-CF calendar, fractional time offsets, a
    * missing coordinate) fires here, at `load()` — so a `count()` the
    * header answers never skips one. Scans and metadata counts of the
    * same DataFrame reuse it instead of re-reading the header, so a
    * file rewritten under a live DataFrame needs a fresh `load()` (as
    * with Spark's own file tables).
    *
    * @param labels per-epoch CF time labels (micros), or empty
    * @param axes   the (x, y) coordinate values, or null
    */
  private[graft] final case class Resolved(path: String, varName: String,
      timeVar: String, coords: String, m: Netcdf.NcMeta, v: Netcdf.NcVar,
      schema: StructType, labels: Map[Int, Long],
      axes: (IndexedSeq[Double], IndexedSeq[Double]))

  private[graft] def resolve(path: String, varName: String, timeVar: String,
      coords: String): Resolved = {
    val m = Netcdf.readMeta(path)
    val schema = schemaFor(path, varName, rankOf(path, m, varName), timeVar, coords)
    val labels =
      if (timeVar == null) Map.empty[Int, Long]
      else {
        val (raw, scale) = Netcdf.readTimeAxis(path, m, timeVar)
        Netcdf.cfEpochLabels(raw, scale, None, s"$path:$timeVar").toMap
      }
    Resolved(path, varName, timeVar, coords, m, m.variable(varName), schema, labels,
      if (coords == null) null else coordAxes(path, m, coords))
  }

  private[zonal] def rankOf(path: String, m: Netcdf.NcMeta, varName: String): Int = {
    require(path != null && path.nonEmpty,
      "graft.zonal.NetcdfSource: a load(path) is required")
    require(varName != null && varName.nonEmpty,
      "graft.zonal.NetcdfSource: .option(\"var\", <variable name>) is required")
    // a char variable refuses here, at load(), by name
    val r = Netcdf.dataVar(path, m, varName).dimIds.length
    require(r >= 2 && r <= 4,
      s"$path: '$varName' is rank $r — the DSv2 source reads rank 2/3/4")
    r
  }
  private[zonal] def schemaFor(path: String, varName: String, r: Int,
      timeVar: String, coords: String): StructType = {
    require(timeVar == null || r >= 3,
      s"$path: .option(\"time\", ...) needs a time axis " +
        s"('$varName' is rank 2)")
    require(coords == null || (r == 2 && timeVar == null),
      s"$path: .option(\"coords\", ...) is the 2-D label face")
    val pos = Seq(
      StructField("cell_x", IntegerType, nullable = false),
      StructField("cell_y", IntegerType, nullable = false))
    val mid =
      (if (r == 4) Seq(StructField("level", IntegerType, nullable = false)) else Nil) ++
      (if (r >= 3) Seq(StructField("epoch", IntegerType, nullable = false)) else Nil) ++
      (if (coords != null) Seq(
        StructField("x_coord", DoubleType, nullable = false),
        StructField("y_coord", DoubleType, nullable = false)) else Nil) ++
      (if (timeVar != null) Seq(StructField("t_ts", TimestampType, nullable = false)) else Nil)
    StructType(pos ++ mid :+ StructField("value", DoubleType, nullable = false))
  }

  /** The `coords` option names the file's own 1-D coordinate
    * VARIABLES ("x,y" order), read driver-side (axis-scale). Classic
    * stripes span the full width, so the x axis ships whole with every
    * stripe (axis-sized, like the stripe's own row buffer).
    */
  private def coordAxes(path: String, m: Netcdf.NcMeta,
      coords: String): (IndexedSeq[Double], IndexedSeq[Double]) = {
    val parts = coords.split(",").map(_.trim)
    require(parts.length == 2,
      s"$path: .option(\"coords\", \"x,y\") wants exactly two variable names")
    (Netcdf.readCoordAxis(path, m, parts(0)), Netcdf.readCoordAxis(path, m, parts(1)))
  }

  /** An axis a pushed coordinate-VALUE window selects on must be
    * strictly monotonic; an unwindowed axis is only labels.
    */
  private[zonal] def requireMonotonic(path: String, name: String,
      vs: IndexedSeq[Double]): Unit = {
    val inc = vs.sliding(2).forall(w => w.length < 2 || w(0) < w(1))
    val dec = vs.sliding(2).forall(w => w.length < 2 || w(0) > w(1))
    require(inc || dec, s"$path/$name: coordinate axis must be strictly " +
      "monotonic for label-based selection")
  }
}

final class NetcdfTable(path: String, varName: String, timeVar: String,
    coords: String = null, geom: Option[NcWGeom] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  // read faces only; Spark asks for schema() as load() builds the
  // relation, so every refusal in resolve fires there
  private lazy val res = NetcdfSource.resolve(path, varName, timeVar, coords)
  override def name(): String = s"netcdf:$path#$varName"
  override def schema(): StructType =
    if (geom.isDefined) NetcdfWrite.WriteSchema else res.schema
  override def capabilities(): java.util.Set[TableCapability] =
    if (geom.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
    else java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfScanBuilder(res)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val g = geom.getOrElse(throw new IllegalArgumentException(
      s"$path: the classic-NetCDF write face wants .option(\"height\", h)" +
        ".option(\"width\", w) (+ optional stripe, var)"))
    new NcWriteBuilder(path, g, info)
  }
}

/** Accumulates a (t, level, y) window from pushed comparisons and the
  * pruned column set; `build()` freezes both into the scan. `cell_x`
  * deliberately does NOT clamp (row-major stripes span the width).
  */
final class NetcdfScanBuilder(res: NetcdfSource.Resolved)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private var y0 = Int.MinValue; private var y1 = Int.MaxValue
  private var t0 = Int.MinValue; private var t1 = Int.MaxValue
  private var l0 = Int.MinValue; private var l1 = Int.MaxValue
  private var u0 = Long.MinValue; private var u1 = Long.MaxValue // t_ts micros
  private var vx0 = Double.NegativeInfinity; private var vx1 = Double.PositiveInfinity
  private var vy0 = Double.NegativeInfinity; private var vy1 = Double.PositiveInfinity
  private var inSets = Map.empty[String, Set[Int]] // static IN lists
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = res.schema

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
    case In(c, vs) if Set("cell_y", "epoch", "level")(c)
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
      case "cell_y" => y0 = math.max(y0, toI(lo)); y1 = math.min(y1, toI(hi)); true
      case "epoch" => t0 = math.max(t0, toI(lo)); t1 = math.min(t1, toI(hi)); true
      case "level" => l0 = math.max(l0, toI(lo)); l1 = math.min(l1, toI(hi)); true
      case _ => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(bound)
    filters // stripe-granular pruning: every filter stays residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(s: StructType): Unit = required = s

  // LIMIT pushdown (r18): partial — keep the shortest stripe PREFIX
  // whose cell count covers the limit.
  private var limit = -1
  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true

  // COUNT(*) from metadata (r18): dimension product straight from the
  // header (record epochs via numRecs), zero stripes planned. The
  // time / coords axes were decoded (and any refusal raised) at load.
  private var countPushed = false
  private def canPushCount(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar] &&
      pushed.isEmpty && y0 == Int.MinValue && y1 == Int.MaxValue &&
      t0 == Int.MinValue && t1 == Int.MaxValue &&
      l0 == Int.MinValue && l1 == Int.MaxValue &&
      u0 == Long.MinValue && u1 == Long.MaxValue
  override def supportCompletePushDown(agg: Aggregation): Boolean = canPushCount(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    countPushed = canPushCount(agg); countPushed
  }

  override def build(): Scan =
    if (countPushed) {
      val m = res.m
      val n = res.v.dimIds.map { d =>
        val len = m.dims(d).length
        (if (len == 0) m.numRecs else len).toLong
      }.product
      new MetaCountScan(n, s"netcdf:${res.path}#${res.varName}")
    } else new NetcdfScan(res, required,
      y0, y1, t0, t1, l0, l1, u0, u1, limit, inSets, vx0, vx1, vy0, vy1)
}

final class NetcdfScan(res: NetcdfSource.Resolved,
    required: StructType, y0: Int, y1: Int, t0: Int, t1: Int,
    l0: Int, l1: Int, u0: Long, u1: Long,
    limit: Int = -1, inSets: Map[String, Set[Int]] = Map.empty,
    vx0: Double = Double.NegativeInfinity, vx1: Double = Double.PositiveInfinity,
    vy0: Double = Double.NegativeInfinity, vy1: Double = Double.PositiveInfinity)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val plan = new ChunkPlan(limit)
  private val path = res.path
  private val varName = res.varName

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

  // RUNTIME filtering (r18): join-key In/EqualTo values arriving after
  // planning re-prune the stripe manifest (cell_x is deliberately NOT
  // offered — row-major stripes span the width); unknown shapes are
  // ignored (the scan stays a superset, the join stays exact).
  // Seeded with the builder's STATIC IN-list pushdown.
  private var rt: Map[String, Set[Int]] = inSets
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    required.fieldNames.filter(Set("cell_y", "epoch", "level"))
      .map(Expressions.column).toArray
  }
  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In(c, vs) => rtSet(c, vs.collect { case n: Number => n.intValue() }.toSet)
    case EqualTo(c, v: Number) => rtSet(c, Set(v.intValue()))
    case _ => ()
  }
  private def rtSet(c: String, vs: Set[Int]): Unit =
    if (Set("cell_y", "epoch", "level")(c))
      rt = rt.updated(c, rt.get(c).fold(vs)(_ intersect vs))
  private def rtKeep(c: String, lo: Int, n: Int): Boolean =
    rt.get(c).forall(vs => vs.exists(v => v >= lo && v < lo + n))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-netcdf $path#$varName y=[$y0..$y1] t=[$t0..$t1] " +
      s"level=[$l0..$l1] t_ts=[$u0..$u1] cols=${required.fieldNames.mkString(",")}$plan"

  override def planInputPartitions(): Array[InputPartition] =
    plan.partitions(plannedWithCells())

  /** The stripes the pushed windows keep, with their partitions —
    * fixed once built, so statistics and planning share one pass;
    * runtime filters only re-select from it.
    */
  private lazy val staticPlan: Seq[(Netcdf.StripeRef, InputPartition)] = {
    val m = res.m
    // label-based selection (r18): invert the pushed coordinate-VALUE
    // windows to INDEX windows driver-side; the y window prunes
    // stripes, the x window stays residual (stripes span the width)
    val axes = res.axes
    val (ey0, ey1) =
      if (axes == null) (y0, y1)
      else {
        val Array(xn, yn) = res.coords.split(",").map(_.trim)
        if (vx0 > Double.NegativeInfinity || vx1 < Double.PositiveInfinity)
          NetcdfSource.requireMonotonic(path, xn, axes._1)
        if (vy0 > Double.NegativeInfinity || vy1 < Double.PositiveInfinity)
          NetcdfSource.requireMonotonic(path, yn, axes._2)
        val (iy0, iy1) = ZarrSource.valueWindowToIndex(axes._2, vy0, vy1)
        (math.max(y0, iy0), math.min(y1, iy1))
      }
    val hint = org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism
    // with a time coordinate declared, the CF-decoded labels (read at
    // load) meet the pushed TIMESTAMP window: epochs outside it vanish
    // from the stripe manifest before any data read (the xarray
    // `sel(time=slice(...))` posture, as a plain SQL WHERE)
    val labels = res.labels.filter { case (_, u) => u >= u0 && u <= u1 }
    val refs = res.v.dimIds.length match {
      case 2 => Netcdf.stripes2d(path, m, res.v, hint)
      case 3 => Netcdf.stripes3d(path, m, res.v, hint)
      case 4 => Netcdf.stripes4d(path, m, res.v, hint)
      case r => sys.error(s"$path: '$varName' is rank $r — want 2/3/4")
    }
    val timed = res.timeVar != null
    // a stripe covers rows [y0, y0+rows) of ONE (epoch, level) plane
    refs.filter(r =>
        r.y0 <= ey1 && r.y0 + r.rows > ey0 &&
        r.epoch >= t0 && r.epoch <= t1 &&
        r.level >= l0 && r.level <= l1 &&
        (!timed || labels.contains(r.epoch)))
      .map(r => (r, NetcdfInputPartition(r,
        if (timed) labels(r.epoch) else 0L,
        if (axes == null) null
        else (axes._1.toArray, r.y0, axes._2.slice(r.y0, r.y0 + r.rows).toArray)): InputPartition))
  }

  private def plannedWithCells(): Seq[(InputPartition, Long)] =
    staticPlan.filter { case (r, _) =>
        rtKeep("cell_y", r.y0, r.rows) &&
        rtKeep("epoch", r.epoch, 1) && rtKeep("level", r.level, 1) }
      .map { case (r, p) => (p, r.rows.toLong * r.width) }
  override def createReaderFactory(): PartitionReaderFactory =
    new PackedReaderFactory(new NetcdfReaderFactory(required.fieldNames))
}

final case class NetcdfInputPartition(ref: Netcdf.StripeRef,
    labelMicros: Long = 0L,
    // label slices: (full x axis, stripe y0, stripe's y-axis slice)
    coordSlices: (Array[Double], Int, Array[Double]) = null)
    extends InputPartition

final class NetcdfReaderFactory(cols: Array[String]) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ip = p.asInstanceOf[NetcdfInputPartition]
    new NetcdfPartitionReader(ip.ref, ip.labelMicros, ip.coordSlices, cols)
  }
}

/** One stripe's reader. With `value` pruned away the stripe bytes are
  * never read — positions come from stripe geometry (full-width rows,
  * the stripe's own epoch/level plane).
  */
final class NetcdfPartitionReader(r: Netcdf.StripeRef, labelMicros: Long,
    coordSlices: (Array[Double], Int, Array[Double]), cols: Array[String])
    extends PartitionReader[InternalRow] {

  private val needsValue = cols.contains("value")
  private val it: Iterator[(Int, Int, Int, Double)] =
    if (needsValue) Netcdf.readStripe(r)
    else for {
      rr <- Iterator.range(0, r.rows)
      cc <- Iterator.range(0, r.width)
    } yield (cc, r.y0 + rr, r.epoch, 0.0)
  private var cur: (Int, Int, Int, Double) = _

  override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
  override def get(): InternalRow = {
    val row = new GenericInternalRow(cols.length)
    var k = 0
    while (k < cols.length) {
      cols(k) match {
        case "cell_x" => row.update(k, cur._1)
        case "cell_y" => row.update(k, cur._2)
        case "level" => row.update(k, r.level)
        case "epoch" => row.update(k, cur._3)
        case "x_coord" => row.update(k, coordSlices._1(cur._1))
        case "y_coord" => row.update(k, coordSlices._3(cur._2 - coordSlices._2))
        case "t_ts" => row.update(k, labelMicros) // TimestampType = micros
        case "value" => row.update(k, cur._4)
      }
      k += 1
    }
    row
  }
  override def close(): Unit = ()
}

// ======================================================================
// Classic-NetCDF DSv2 WRITE face (r19):
//   `df.write.format("graft.zonal.NetcdfSource").option("height", h)
//    .option("width", w).option("stripe", rows).option("var", name)
//    .mode("overwrite").save(path)`
// builds ONE classic CDF-1 file. Tasks stage dense per-stripe slabs
// (the exact big-endian bytes the reader decodes) plus presence
// bitmaps; the driver's commit merges only stripes genuinely split
// across input partitions (cross-partition duplicate cells refuse
// loudly), then streams header + slabs in stripe order into a temp
// file and installs it by atomic rename. A single-file container
// concatenates — the driver moves BYTES (bounded copy buffer), never
// decoded cells, and the slab bytes themselves are task-encoded.
// Absent cells are 0.0 (the sink_netcdf contract). Append REFUSES:
// rewriting a classic file in place would rewrite every byte — the
// chunk-granular upsert face is the Zarr store.
// ======================================================================

private[zonal] case class NcWGeom(h: Int, w: Int, stripe: Int, varName: String)

private[graft] object NetcdfWrite {
  /** Last commit's (stripes with data, stripes merged) — a test hook. */
  @volatile var lastCommit: (Int, Int) = (0, 0)

  val WriteSchema: StructType = StructType(Seq(
    StructField("cell_x", IntegerType, nullable = false),
    StructField("cell_y", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private[zonal] def geomFrom(p: java.util.Map[String, String]): Option[NcWGeom] = {
    val h = p.get("height"); val w = p.get("width")
    if (h == null || w == null) None
    else {
      val st = Option(p.get("stripe")).map(_.trim.toInt).getOrElse(16)
      require(st > 0, s"""option "stripe" wants a positive row count, got ${p.get("stripe")}""")
      Some(NcWGeom(h.toInt, w.toInt, st, Option(p.get("var")).getOrElse("v")))
    }
  }

  /** Column lookup with a TYPE gate (r20 code review): getInt/getDouble
    * on a mismatched UnsafeRow slot silently reinterprets raw bits (an
    * un-CAST BIGINT value column would write garbage cells) — refuse
    * with a CAST hint instead.
    */
  private[graft] def typedIdx(in: StructType, path: String, n: String,
      want: org.apache.spark.sql.types.DataType, cols: String): Int = {
    val i = in.fieldNames.indexOf(n)
    require(i >= 0, s"$path: the write face wants columns ($cols); " +
      s"missing $n in ${in.fieldNames.mkString(",")}")
    require(in.fields(i).dataType == want,
      s"$path: column $n is ${in.fields(i).dataType.simpleString} where " +
        s"${want.simpleString} is required — CAST it; refusing rather than " +
        "reinterpreting raw bits")
    i
  }

  private[zonal] def requireCols(in: StructType, path: String): (Int, Int, Int) = {
    val cols = "cell_x, cell_y, value"
    (typedIdx(in, path, "cell_x", org.apache.spark.sql.types.IntegerType, cols),
      typedIdx(in, path, "cell_y", org.apache.spark.sql.types.IntegerType, cols),
      typedIdx(in, path, "value", org.apache.spark.sql.types.DoubleType, cols))
  }

  /** The write faces stage with java.io — normalize the catalog's
    * `file:` URI form to a plain local path, refuse remote schemes
    * loudly (a silent literal-"file:" directory is the alternative).
    */
  private[zonal] def localWritePath(p: String): String = {
    val uri = new org.apache.hadoop.fs.Path(p).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"$p: the DSv2 write faces stage to the local filesystem — " +
        s"scheme '${uri.getScheme}' is not supported for writes")
    if (uri.getScheme == null) p else uri.getPath
  }

  private[zonal] def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rmTree)
    f.delete(); ()
  }

  /** Merge staged (slab, bitmap) fragments of one stripe; duplicate
    * cells across fragments refuse loudly.
    */
  private[zonal] def mergeSlabs(files: Seq[String], nBytes: Int,
      what: String): Array[Byte] = {
    val acc = new Array[Byte](nBytes)
    val seen = new java.util.BitSet(nBytes / 8)
    files.foreach { f =>
      val slab = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
      require(slab.length == nBytes,
        s"$what: staged fragment $f is ${slab.length} bytes, want $nBytes")
      val bm = java.util.BitSet.valueOf(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f + ".bm")))
      var i = bm.nextSetBit(0)
      while (i >= 0) {
        require(!seen.get(i),
          s"$what: cell $i written from two partitions — " +
            "duplicate (cell_x, cell_y) rows in the input")
        seen.set(i)
        System.arraycopy(slab, i * 8, acc, i * 8, 8)
        i = bm.nextSetBit(i + 1)
      }
    }
    acc
  }
}

private[zonal] case class NcStripeFrag(si: Int, file: String)
private[zonal] case class NcStripesMsg(frags: Seq[NcStripeFrag])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class NcWriteBuilder(path: String, g: NcWGeom,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    require(doTruncate,
      s"$path: classic NetCDF is one flat file — an append would rewrite " +
        "every byte, so only mode(\"overwrite\") is supported here; the " +
        "chunk-granular upsert face is the Zarr store")
    new NcBatchWrite(path, g, info.schema(), info.queryId())
  }
}

final class NcBatchWrite(path: String, g: NcWGeom, in: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"graft-netcdf-write $path ${g.h}x${g.w} stripe=${g.stripe} var=${g.varName}"

  private def stageDir = {
    val f = new java.io.File(path)
    new java.io.File(Option(f.getParentFile).getOrElse(new java.io.File(".")),
      s".stage_${f.getName}_$queryId")
  }

  override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory = {
    val (xi, yi, vi) = NetcdfWrite.requireCols(in, path)
    stageDir.mkdirs()
    new NcStripeWriterFactory(stageDir.getPath, g, xi, yi, vi)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val frags = messages.collect { case m: NcStripesMsg => m.frags }.flatten.toSeq
    var merged = 0
    val bySi = frags.groupBy(_.si).map { case (si, fs) =>
      val y0 = si * g.stripe
      val n = math.min(g.stripe, g.h - y0)
      val slabFile =
        if (fs.size == 1) fs.head.file
        else {
          merged += 1
          val out = new java.io.File(stageDir, f"merged_$si%05d.bin")
          java.nio.file.Files.write(out.toPath,
            NetcdfWrite.mergeSlabs(fs.map(_.file), n * g.w * 8,
              s"$path stripe $si"))
          out.getPath
        }
      si -> slabFile
    }
    // header + ordered byte stream into a temp twin, then atomic rename
    val tmp = new java.io.File(stageDir, "sink.tmp")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp))
    try {
      out.write(Netcdf.headerBytes2D(g.varName, g.h, g.w, Netcdf.NcDouble))
      for (si <- 0 until (g.h + g.stripe - 1) / g.stripe) {
        bySi.get(si) match {
          case Some(f) =>
            java.nio.file.Files.copy(java.nio.file.Paths.get(f), out)
          case None =>
            out.write(new Array[Byte](math.min(g.stripe, g.h - si * g.stripe) * g.w * 8))
        }
      }
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    NetcdfWrite.lastCommit = (bySi.size, merged)
    NetcdfWrite.rmTree(stageDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    NetcdfWrite.rmTree(stageDir)
}

final class NcStripeWriterFactory(stage: String, g: NcWGeom,
    xi: Int, yi: Int, vi: Int)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new NcStripeDataWriter(stage, g, xi, yi, vi, partitionId, taskId)
}

/** Buffers dense per-stripe slabs; stages the exact big-endian reader
  * bytes + presence bitmaps.
  */
final class NcStripeDataWriter(stage: String, g: NcWGeom,
    xi: Int, yi: Int, vi: Int, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val bufs = scala.collection.mutable.HashMap
    .empty[Int, (java.nio.ByteBuffer, java.util.BitSet)]

  override def write(r: InternalRow): Unit = {
    require(!r.isNullAt(xi) && !r.isNullAt(yi) && !r.isNullAt(vi),
      s"NULL in (cell_x, cell_y, value) — the raster grid has no null cells")
    val x = r.getInt(xi); val y = r.getInt(yi); val v = r.getDouble(vi)
    require(x >= 0 && x < g.w && y >= 0 && y < g.h,
      s"cell ($x, $y) outside the ${g.h}x${g.w} grid")
    val si = y / g.stripe
    val n = math.min(g.stripe, g.h - si * g.stripe)
    val (bb, bm) = bufs.getOrElseUpdate(si,
      (java.nio.ByteBuffer.allocate(n * g.w * 8)
        .order(java.nio.ByteOrder.BIG_ENDIAN),
        new java.util.BitSet(n * g.w)))
    val idx = (y - si * g.stripe) * g.w + x
    bb.putDouble(idx * 8, v); bm.set(idx)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val frags = bufs.toSeq.map { case (si, (bb, bm)) =>
      val f = new java.io.File(stage, f"stripe_$si%05d.p${partitionId}_t$taskId.bin")
      java.nio.file.Files.write(f.toPath, bb.array())
      java.nio.file.Files.write(new java.io.File(f.getPath + ".bm").toPath,
        bm.toByteArray)
      NcStripeFrag(si, f.getPath)
    }
    NcStripesMsg(frags)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}
