package graft.zonal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Fixture, Fs}

/** GeoPackage vector ingestion (round 11 — the r10 verdict's missing
  * #4: the third ubiquitous zone-table format after GeoJSON and
  * shapefile). A GeoPackage is a SQLite 3 database with feature tables
  * whose geometry column holds a GPKG-header-prefixed WKB blob — so the
  * reader is (a) a minimal read-only SQLite table-b-tree walker built
  * from the public file-format spec (sqlite.org/fileformat2), plus (b)
  * the GPKG geometry-blob header parse, feeding the exact vertex
  * pipeline the shapefile reader uses (`make_wkb` + `point_in_wkb`).
  *
  * Scale posture (the shapefile/TIFF manifest pattern): the driver
  * reads the 100-byte header, the sqlite_master root, and the feature
  * table's INTERIOR pages only — a few KB of fanout metadata, the
  * b-tree's own manifest — and ships one [[LeafRef]] per LEAF page;
  * executors range-read exactly their 1 leaf page (+ any overflow
  * chains its cells spill into) and decode records to vertex rows.
  * Zone tables are broadcast-scale by the engine's doctrine, but the
  * read path still fans out page-parallel like every other source.
  *
  * Supported: SQLite 3 main files, UTF-8 encoding, table b-trees,
  * overflow chains, INTEGER-PRIMARY-KEY rowid aliasing, GPKG Polygon
  * geometry (either endianness, any envelope indicator). WAL spill
  * files, non-UTF-8 encodings, and non-Polygon geometry fail loudly by
  * name.
  */
object Gpkg {

  // ---- SQLite file-level facts ----

  /** Parsed header facts + usable page size. */
  final case class DbMeta(path: String, pageSize: Int, reserved: Int) {
    def usable: Int = pageSize - reserved
  }

  /** One executor work unit: a table-b-tree LEAF page. Carries the
    * db-level facts so tasks parse standalone (overflow chains are
    * followed through the same open file).
    */
  final case class LeafRef(path: String, page: Int, pageSize: Int,
      reserved: Int, pkOrdinal: Int, nCols: Int)

  private def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = Fs.fs(p)
    val in = fs.open(p)
    try {
      val b = new Array[Byte](len)
      in.readFully(offset, b)
      b
    } finally in.close()
  }

  /** Driver-side header read (the first 100 bytes). */
  def readDbMeta(path: String): DbMeta = {
    val h = readRange(path, 0, 100)
    require(h.take(15).sameElements("SQLite format 3".getBytes("ISO-8859-1"))
        && h(15) == 0,
      s"$path: not a SQLite 3 main database (GeoPackage container)")
    val b = java.nio.ByteBuffer.wrap(h) // big-endian
    val psRaw = b.getShort(16) & 0xffff
    val pageSize = if (psRaw == 1) 65536 else psRaw
    require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0,
      s"$path: page size $psRaw invalid")
    val reserved = h(20) & 0xff
    val enc = b.getInt(56)
    // enc 0 appears in empty/never-written dbs; GeoPackage mandates UTF-8
    require(enc == 1 || enc == 0,
      s"$path: text encoding $enc unsupported (1 = UTF-8; GeoPackage mandates UTF-8)")
    DbMeta(path, pageSize, reserved)
  }

  // ---- varint + record decoding (shared driver/executor) ----

  /** SQLite varint: 1-9 bytes, 7 high-first bits per byte, 9th byte
    * contributes a full 8. Returns (value, bytesRead).
    */
  private[graft] def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i)
      if ((x & 0x80) == 0) return ((v << 7) | x, i + 1)
      v = (v << 7) | (x & 0x7f)
      i += 1
    }
    (((v << 8) | (b(off + 8) & 0xff)), 9)
  }

  /** Decoded SQLite value: Long / Double / String / Array[Byte] / null. */
  private def serialLen(t: Long): Int = t match {
    case 0 | 8 | 9 => 0
    case 1 => 1
    case 2 => 2
    case 3 => 3
    case 4 => 4
    case 5 => 6
    case 6 | 7 => 8
    case n if n >= 12 && n % 2 == 0 => ((n - 12) / 2).toInt
    case n if n >= 13 => ((n - 13) / 2).toInt
    case n => sys.error(s"sqlite: reserved serial type $n")
  }

  private def readBE(b: Array[Byte], off: Int, n: Int): Long = {
    var v = if (n > 0 && b(off) < 0) -1L else 0L // sign-extend
    var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }

  private def decodeValue(t: Long, b: Array[Byte], off: Int): Any = t match {
    case 0 => null
    case 8 => 0L
    case 9 => 1L
    case 1 | 2 | 3 | 4 | 5 | 6 =>
      readBE(b, off, serialLen(t))
    case 7 => java.lang.Double.longBitsToDouble(readBE(b, off, 8))
    case n if n >= 12 && n % 2 == 0 =>
      java.util.Arrays.copyOfRange(b, off, off + serialLen(n))
    case n if n >= 13 =>
      new String(b, off, serialLen(n), java.nio.charset.StandardCharsets.UTF_8)
    case n => sys.error(s"sqlite: reserved serial type $n")
  }

  /** Decode one record payload → column values (null-padded to nCols:
    * columns added by ALTER TABLE may be absent from old records).
    */
  private[graft] def decodeRecord(payload: Array[Byte], nCols: Int): Array[Any] = {
    val (hdrLen, n0) = varint(payload, 0)
    var ho = n0
    val types = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (ho < hdrLen) {
      val (t, n) = varint(payload, ho)
      types += t; ho += n
    }
    require(ho == hdrLen, s"sqlite: record header overran ($ho != $hdrLen)")
    val out = new Array[Any](nCols)
    var off = hdrLen.toInt
    var i = 0
    while (i < types.length && i < nCols) {
      out(i) = decodeValue(types(i), payload, off)
      off += serialLen(types(i))
      i += 1
    }
    out
  }

  // ---- b-tree walking ----

  private[graft] def pageBytes(db: DbMeta, page: Int): Array[Byte] =
    readRange(db.path, (page - 1).toLong * db.pageSize, db.pageSize)

  /** Page read over an ALREADY-OPEN stream (r16 — executors read many
    * pages per task; one open per (partition, path), not per page).
    */
  private[graft] def pageBytesIn(in: org.apache.hadoop.fs.FSDataInputStream,
      db: DbMeta, page: Int): Array[Byte] = {
    val b = new Array[Byte](db.pageSize)
    in.readFully((page - 1).toLong * db.pageSize, b)
    b
  }

  /** Cells of one table page: (payloadLen, rowid, payloadOffsetInPage)
    * for leaves; (leftChild, key) for interiors.
    */
  private[graft] def pageHeaderAt(page: Int): Int = if (page == 1) 100 else 0

  /** Walk a table b-tree from `root`, returning all LEAF page numbers.
    * Interior pages only — the b-tree's fanout metadata (≈ nLeaves /
    * (pageSize/16) pages), read driver-side like the TIFF IFD.
    */
  private[graft] def leafPages(db: DbMeta, root: Int): Seq[Int] = {
    val hp = new org.apache.hadoop.fs.Path(db.path)
    val in = Fs.fs(hp).open(hp)
    try leafPagesIn(in, db, root) finally in.close()
  }

  private def leafPagesIn(in: org.apache.hadoop.fs.FSDataInputStream,
      db: DbMeta, root: Int): Seq[Int] = {
    val b = pageBytesIn(in, db, root)
    val h = pageHeaderAt(root)
    val typ = b(h) & 0xff
    typ match {
      case 0x0d => Seq(root)
      case 0x05 =>
        val bb = java.nio.ByteBuffer.wrap(b)
        val nCells = bb.getShort(h + 3) & 0xffff
        val rightMost = bb.getInt(h + 8)
        val kids = (0 until nCells).map { i =>
          val cellOff = bb.getShort(h + 12 + 2 * i) & 0xffff
          bb.getInt(cellOff)
        } :+ rightMost
        // b-tree leaves share ONE depth: probe the FIRST child's type
        // instead of reading every child page — the naive recursion
        // cost O(leaves) serial driver reads (r16: 2500 pages = tens
        // of seconds); a mixed-type corruption still fails loudly in
        // the executor-side leafRecords type check
        val probe = pageBytesIn(in, db, kids.head)
        if ((probe(pageHeaderAt(kids.head)) & 0xff) == 0x0d) kids
        else kids.flatMap(k => leafPagesIn(in, db, k))
      case t => sys.error(
        s"${db.path}: page $root has b-tree type 0x${t.toHexString} — " +
          "expected a table b-tree (0x05/0x0d); index/freelist/ptrmap " +
          "pages are not tables")
    }
  }

  /** Iterate one LEAF page's full record payloads as (rowid, payload),
    * following overflow chains through `readChain`.
    */
  private[graft] def leafRecords(db: DbMeta, pageNo: Int): Iterator[(Long, Array[Byte])] =
    leafRecordsBy(pageBytes(db, _), db, pageNo)

  /** [[leafRecords]] over an already-open stream — overflow chains ride
    * the same handle. The caller keeps the stream open while iterating.
    */
  private[graft] def leafRecordsIn(in: org.apache.hadoop.fs.FSDataInputStream,
      db: DbMeta, pageNo: Int): Iterator[(Long, Array[Byte])] =
    leafRecordsBy(pageBytesIn(in, db, _), db, pageNo)

  private def leafRecordsBy(fetch: Int => Array[Byte], db: DbMeta,
      pageNo: Int): Iterator[(Long, Array[Byte])] = {
    val b = fetch(pageNo)
    val h = pageHeaderAt(pageNo)
    require((b(h) & 0xff) == 0x0d,
      s"${db.path}: page $pageNo is not a table leaf (0x${(b(h) & 0xff).toHexString})")
    val bb = java.nio.ByteBuffer.wrap(b)
    val nCells = bb.getShort(h + 3) & 0xffff
    val u = db.usable
    val x = u - 35
    val m = (u - 12) * 32 / 255 - 23
    (0 until nCells).iterator.map { i =>
      val off0 = bb.getShort(h + 8 + 2 * i) & 0xffff
      val (pLen, n1) = varint(b, off0)
      val (rowid, n2) = varint(b, off0 + n1)
      val contentOff = off0 + n1 + n2
      val p = pLen.toInt
      if (p <= x) {
        (rowid, java.util.Arrays.copyOfRange(b, contentOff, contentOff + p))
      } else {
        // spilled payload: K local bytes then a 4-byte overflow pointer
        val k = m + (p - m) % (u - 4)
        val local = if (k <= x) k else m
        val out = new Array[Byte](p)
        System.arraycopy(b, contentOff, out, 0, local)
        var got = local
        var next = bb.getInt(contentOff + local)
        while (got < p) {
          require(next != 0, s"${db.path}: overflow chain ended at $got of $p bytes")
          val ob = fetch(next)
          next = java.nio.ByteBuffer.wrap(ob).getInt(0)
          val take = math.min(p - got, u - 4)
          System.arraycopy(ob, 4, out, got, take)
          got += take
        }
        (rowid, out)
      }
    }
  }

  // ---- sqlite_master + DDL column names ----

  /** Feature-table facts from sqlite_master (page 1's b-tree, walked
    * driver-side — the catalog is KB-scale).
    */
  final case class TableInfo(name: String, rootPage: Int, columns: Seq[String],
      pkOrdinal: Int)

  private val ConstraintLead = Set("primary", "foreign", "unique", "check", "constraint")

  /** Column names (+ INTEGER-PRIMARY-KEY ordinal, -1 if none) from a
    * CREATE TABLE statement — top-level comma split, quotes stripped;
    * exotic DDL the split can't handle fails loudly rather than
    * misattributing columns.
    */
  private[graft] def parseColumns(sql: String): (Seq[String], Int) = {
    val open = sql.indexOf('(')
    val close = sql.lastIndexOf(')')
    require(open > 0 && close > open, s"gpkg: unparseable CREATE TABLE: $sql")
    val body = sql.substring(open + 1, close)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    val cur = new StringBuilder
    body.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => parts += cur.toString; cur.clear()
      case c => cur += c
    }
    parts += cur.toString
    val defs = parts.map(_.trim).filter(_.nonEmpty)
      .filterNot(p => ConstraintLead.contains(p.split("\\s+")(0).toLowerCase))
    val cols = defs.map { d =>
      val tok = d.split("\\s+")(0)
      val name = tok.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`").stripPrefix("[").stripSuffix("]")
      require(name.nonEmpty && !name.contains("("),
        s"gpkg: unparseable column definition '$d' in: $sql")
      name
    }
    val pk = defs.indexWhere(_.toLowerCase.matches("(?s).*\\binteger\\s+primary\\s+key\\b.*"))
    (cols.toSeq, pk)
  }

  /** Locate a table in sqlite_master, or None (r12 — optional shadow
    * tables like the rtree index are consulted only when present).
    */
  def tableInfoOpt(db: DbMeta, table: String): Option[TableInfo] = {
    val rows = leafPages(db, 1).iterator
      .flatMap(p => leafRecords(db, p))
      .map { case (_, payload) => decodeRecord(payload, 5) }
    rows.collectFirst {
      case Array(t: String, n: String, _, rp: Long, sql: String)
        if t == "table" && n == table && rp > 0 =>
        val (cols, pk) = parseColumns(sql)
        TableInfo(table, rp.toInt, cols, pk)
    }
  }

  /** Locate a table in sqlite_master: (rootpage, columns, pk ordinal). */
  def tableInfo(db: DbMeta, table: String): TableInfo =
    tableInfoOpt(db, table).getOrElse(sys.error(
      s"${db.path}: no table '$table' in sqlite_master (a GeoPackage names " +
        "its feature tables in gpkg_contents)"))

  // ---- GPKG geometry blob + WKB polygon ----

  /** Skip the GPKG binary header, returning the WKB offset. */
  private[graft] def wkbOffset(blob: Array[Byte], what: String): Int = {
    require(blob.length >= 8 && blob(0) == 'G'.toByte && blob(1) == 'P'.toByte,
      s"$what: not a GeoPackage geometry blob (magic)")
    val flags = blob(3) & 0xff
    require((flags & 0x20) == 0, s"$what: extended-GPKG geometry unsupported")
    require((flags & 0x10) == 0, s"$what: empty geometry")
    val env = (flags >> 1) & 0x7
    val envDoubles = env match {
      case 0 => 0
      case 1 => 4
      case 2 | 3 => 6
      case 4 => 8
      case e => sys.error(s"$what: invalid envelope indicator $e")
    }
    8 + 8 * envDoubles
  }

  /** Parse a WKB Polygon (either endianness) to (ring, i, x, y) vertex
    * rows — closing vertices dropped (the WKB builder recloses),
    * fractional coordinates or non-Polygon types throw, mirroring the
    * shapefile record parser.
    */
  private[graft] def parseWkbPolygon(blob: Array[Byte], off: Int,
      what: String): Iterator[(Int, Int, Int, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    bb.order(if (blob(off) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    val gtype = bb.getInt(off + 1)
    require(gtype == 3, s"$what: WKB geometry type $gtype unsupported " +
      "(3 = Polygon; split MultiPolygon features upstream)")
    val nRings = bb.getInt(off + 5)
    var p = off + 9
    (0 until nRings).iterator.flatMap { ring =>
      val np = bb.getInt(p)
      p += 4
      val base = p
      p += 16 * np
      require(np >= 4, s"$what ring $ring: $np points (min 4, closed)")
      (0 until np - 1).iterator.map { j =>
        val x = bb.getDouble(base + 16 * j)
        val y = bb.getDouble(base + 16 * j + 8)
        require(x == math.rint(x) && y == math.rint(y),
          s"$what ring $ring: fractional coordinate ($x, $y) — align to the lattice")
        (ring, j, x.toInt, y.toInt)
      }
    }
  }

  /** Parse a WKB Point OR MultiPoint (r16 — the station-feature types)
    * to `(i, x, y)` member rows; every MultiPoint member is a full WKB
    * Point carrying its own endianness byte per the spec. Other
    * geometry types throw.
    */
  private[graft] def parseWkbPoints(blob: Array[Byte], off: Int,
      what: String): Iterator[(Int, Int, Int)] = {
    def onePt(start: Int, i: Int): (Int, Int, Int) = {
      val cb = java.nio.ByteBuffer.wrap(blob)
      cb.order(if (blob(start) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      require(cb.getInt(start + 1) == 1,
        s"$what member $i: WKB child type ${cb.getInt(start + 1)}, want Point (1)")
      val x = cb.getDouble(start + 5)
      val y = cb.getDouble(start + 13)
      require(x == math.rint(x) && y == math.rint(y),
        s"$what member $i: fractional coordinate ($x, $y) — align to the lattice")
      (i, x.toInt, y.toInt)
    }
    val bb = java.nio.ByteBuffer.wrap(blob)
    bb.order(if (blob(off) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    bb.getInt(off + 1) match {
      case 1 => Iterator.single(onePt(off, 0))
      case 4 =>
        val n = bb.getInt(off + 5)
        require(n >= 1, s"$what: empty MultiPoint")
        (0 until n).iterator.map(j => onePt(off + 9 + 21 * j, j))
      case other => sys.error(s"$what: WKB geometry type $other unsupported " +
        "(1 = Point, 4 = MultiPoint)")
    }
  }

  /** Parse a WKB Polygon OR MultiPolygon (r14 — parity with the
    * shapefile reader's multi-part semantics) to
    * `(part, ring, i, x, y)` vertex rows; every child polygon carries
    * its own endianness byte per WKB. Other geometry types throw.
    */
  private[graft] def parseWkbGeometry(blob: Array[Byte], off: Int,
      what: String): Iterator[(Int, Int, Int, Int, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    bb.order(if (blob(off) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    bb.getInt(off + 1) match {
      case 3 =>
        parseWkbPolygon(blob, off, what).map { case (ring, i, x, y) =>
          (0, ring, i, x, y)
        }
      case 6 =>
        val n = bb.getInt(off + 5)
        require(n >= 1, s"$what: empty MultiPolygon")
        var p = off + 9
        (0 until n).iterator.flatMap { part =>
          val start = p
          val cb = java.nio.ByteBuffer.wrap(blob)
          cb.order(if (blob(start) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
            else java.nio.ByteOrder.BIG_ENDIAN)
          require(cb.getInt(start + 1) == 3,
            s"$what part $part: MultiPolygon child type ${cb.getInt(start + 1)}")
          val nRings = cb.getInt(start + 5)
          var q = start + 9
          (0 until nRings).foreach { _ => q += 4 + 16 * cb.getInt(q) }
          p = q
          parseWkbPolygon(blob, start, s"$what part $part").map {
            case (ring, i, x, y) => (part, ring, i, x, y)
          }
        }
      case other => sys.error(s"$what: WKB geometry type $other unsupported " +
        "(3 = Polygon, 6 = MultiPolygon)")
    }
  }

  // ---- the readers ----

  /** Run `parse` over each leaf page's `(rowid, payload)` records with
    * ONE file open per (partition, path) — the per-page open made a
    * 2500-page road table IO-bound on opens (r16; the
    * Shapefile.scanRecords rationale applied to the page walk).
    */
  private def scanLeaves[T](s: SparkSession, refs: Seq[LeafRef])(
      parse: (LeafRef, Long, Array[Byte]) => IterableOnce[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    import s.implicits._
    s.createDataset(refs)
      .repartition(math.max(1, math.min(refs.size,
        s.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        it.toArray.groupBy(_.path).iterator.flatMap { case (p, rs) =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val in = Fs.fs(hp).open(hp)
          try rs.toSeq.flatMap { ref =>
            val rdb = DbMeta(ref.path, ref.pageSize, ref.reserved)
            leafRecordsIn(in, rdb, ref.page).toSeq.flatMap { case (rowid, payload) =>
              parse(ref, rowid, payload)
            }
          } finally in.close()
        }
      }
  }

  /** Page-parallel feature scan → long-form vertices
    * `(zone_id, part, ring, i, x, y)` (zone_id = the id column via
    * rowid aliasing), the exact [[Shapefile.readVerts]] shape.
    * `geomCol`/`idCol` default to the GeoPackage convention.
    */
  def readVerts(s: SparkSession, path: String, table: String,
      idCol: String = "id", geomCol: String = "geom"): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val idIx = ti.columns.indexOf(idCol)
    val geomIx = ti.columns.indexOf(geomCol)
    require(idIx >= 0 && geomIx >= 0,
      s"$path/$table: need columns '$idCol' and '$geomCol', have ${ti.columns.mkString(", ")}")
    val refs = leafPages(db, ti.rootPage)
      .map(p => LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size))
    scanLeaves(s, refs) { (ref, rowid, payload) =>
      val vals = decodeRecord(payload, ref.nCols)
      val zid = vals(idIx) match {
        case l: Long => l
        case null if idIx == ref.pkOrdinal => rowid // INTEGER PRIMARY KEY alias
        case other => sys.error(s"${ref.path}: id column holds $other")
      }
      val blob = vals(geomIx) match {
        case b: Array[Byte] => b
        case other => sys.error(s"${ref.path}: geometry column holds " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
      }
      // a 64-bit rowid above Int.MaxValue would silently truncate
      // into a wrong (possibly colliding) zone_id — refuse by name
      require(zid >= Int.MinValue && zid <= Int.MaxValue,
        s"${ref.path}: feature id $zid outside the 32-bit zone_id range")
      val what = s"${ref.path} feature $zid"
      parseWkbGeometry(blob, wkbOffset(blob, what), what).map {
        case (part, ring, i, x, y) => (zid.toInt, part, ring, i, x, y)
      }
    }.toDF("zone_id", "part", "ring", "i", "x", "y")
  }

  /** The operator face: GeoPackage → the engine's zone shape
    * `(zone_id, geom: WKB, xmin, xmax, ymin, ymax)`, plugging straight
    * into [[Cube.rasterize]] + `point_in_wkb` — identical aggregation
    * to [[Shapefile.readZones]], so the even-odd oracle gates it.
    */
  def readZones(s: SparkSession, path: String, table: String): DataFrame = {
    readVerts(s, path, table)
      .groupBy(col("zone_id"))
      .agg(expr("make_wkb(sort_array(collect_list(struct(part, ring, i, x, y))))").as("geom"),
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("y")).as("ymin"), max(col("y")).as("ymax"))
  }

  /** Shared point-feature scan (r16): leaf-page-parallel record walk →
    * `(station_id, i, x, y)` member rows through [[parseWkbPoints]].
    */
  private def readPointRows(s: SparkSession, path: String, table: String,
      idCol: String, geomCol: String): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val idIx = ti.columns.indexOf(idCol)
    val geomIx = ti.columns.indexOf(geomCol)
    require(idIx >= 0 && geomIx >= 0,
      s"$path/$table: need columns '$idCol' and '$geomCol', have ${ti.columns.mkString(", ")}")
    val refs = leafPages(db, ti.rootPage)
      .map(p => LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size))
    scanLeaves(s, refs) { (ref, rowid, payload) =>
      val vals = decodeRecord(payload, ref.nCols)
      val sid = vals(idIx) match {
        case l: Long => l
        case null if idIx == ref.pkOrdinal => rowid
        case other => sys.error(s"${ref.path}: id column holds $other")
      }
      val blob = vals(geomIx) match {
        case b: Array[Byte] => b
        case other => sys.error(s"${ref.path}: geometry column holds " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
      }
      require(sid >= Int.MinValue && sid <= Int.MaxValue,
        s"${ref.path}: feature id $sid outside the 32-bit station_id range")
      val what = s"${ref.path} feature $sid"
      parseWkbPoints(blob, wkbOffset(blob, what), what).map {
        case (i, x, y) => (sid.toInt, i, x, y)
      }
    }.toDF("station_id", "i", "x", "y")
  }

  /** Point-feature scan (r16 — WKB type 1): `(station_id, x, y)`. */
  def readPoints(s: SparkSession, path: String, table: String,
      idCol: String = "id", geomCol: String = "geom"): DataFrame =
    readPointRows(s, path, table, idCol, geomCol).drop("i")

  /** MultiPoint-feature scan (r16 — WKB type 4): long-form
    * `(station_id, i, x, y)` member rows.
    */
  def readMultiPoints(s: SparkSession, path: String, table: String,
      idCol: String = "id", geomCol: String = "geom"): DataFrame =
    readPointRows(s, path, table, idCol, geomCol)

  /** LineString-feature scan (r16 — WKB type 2): long-form
    * `(road_id, i, x, y)` vertex rows through [[parseWkbLine]], the
    * same leaf-page-parallel walk as the other feature readers.
    */
  def readLines(s: SparkSession, path: String, table: String,
      idCol: String = "id", geomCol: String = "geom"): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val idIx = ti.columns.indexOf(idCol)
    val geomIx = ti.columns.indexOf(geomCol)
    require(idIx >= 0 && geomIx >= 0,
      s"$path/$table: need columns '$idCol' and '$geomCol', have ${ti.columns.mkString(", ")}")
    val refs = leafPages(db, ti.rootPage)
      .map(p => LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size))
    scanLeaves(s, refs) { (ref, rowid, payload) =>
      val vals = decodeRecord(payload, ref.nCols)
      val rid = vals(idIx) match {
        case l: Long => l
        case null if idIx == ref.pkOrdinal => rowid
        case other => sys.error(s"${ref.path}: id column holds $other")
      }
      val blob = vals(geomIx) match {
        case b: Array[Byte] => b
        case other => sys.error(s"${ref.path}: geometry column holds " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
      }
      require(rid >= Int.MinValue && rid <= Int.MaxValue,
        s"${ref.path}: feature id $rid outside the 32-bit road_id range")
      val what = s"${ref.path} feature $rid"
      parseWkbLine(blob, wkbOffset(blob, what), what).map {
        case (i, x, y) => (rid.toInt, i, x, y)
      }
    }.toDF("road_id", "i", "x", "y")
  }

  /** MultiLineString-feature scan (r16 — WKB type 5: branched
    * rivers/track networks): long-form `(road_id, part, i, x, y)`
    * vertex rows through [[parseWkbLines]].
    */
  def readMultiLines(s: SparkSession, path: String, table: String,
      idCol: String = "id", geomCol: String = "geom"): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val idIx = ti.columns.indexOf(idCol)
    val geomIx = ti.columns.indexOf(geomCol)
    require(idIx >= 0 && geomIx >= 0,
      s"$path/$table: need columns '$idCol' and '$geomCol', have ${ti.columns.mkString(", ")}")
    val refs = leafPages(db, ti.rootPage)
      .map(p => LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size))
    scanLeaves(s, refs) { (ref, rowid, payload) =>
      val vals = decodeRecord(payload, ref.nCols)
      val rid = vals(idIx) match {
        case l: Long => l
        case null if idIx == ref.pkOrdinal => rowid
        case other => sys.error(s"${ref.path}: id column holds $other")
      }
      val blob = vals(geomIx) match {
        case b: Array[Byte] => b
        case other => sys.error(s"${ref.path}: geometry column holds " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
      }
      require(rid >= Int.MinValue && rid <= Int.MaxValue,
        s"${ref.path}: feature id $rid outside the 32-bit road_id range")
      val what = s"${ref.path} feature $rid"
      parseWkbLines(blob, wkbOffset(blob, what), what).map {
        case (part, i, x, y) => (rid.toInt, part, i, x, y)
      }
    }.toDF("road_id", "part", "i", "x", "y")
  }

  /** Write-once per-sf feature GeoPackage fixture: a Point table, a
    * MultiPoint table, a LineString table AND a MultiLineString table
    * in one db (512-byte pages → several leaves + multi-level
    * interiors at real SFs, so the page-parallel path is exercised on
    * all four).
    */
  def writePointsFixture(s: SparkSession, d: String, path: String): Unit = {
    val pts = Cube.stations(s, d).select("station_id", "px", "py").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).sortBy(_._1).toSeq
    val mpts = Cube.multiPoints(s, d).select("station_id", "i", "qx", "qy").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (id, ms) => (id, ms.sortBy(_._2).map(m => (m._3, m._4)).toSeq) }
    val roads = Cube.roadVerts(s, d).select("road_id", "j", "rx", "ry").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (id, ms) => (id, ms.sortBy(_._2).map(m => (m._3, m._4)).toSeq) }
    writeTables(path, Seq(
      ("stations",
        "CREATE TABLE stations (id INTEGER PRIMARY KEY, name TEXT, geom BLOB)",
        pts.map { case (id, x, y) =>
          (id.toLong, Seq[Any](null, s"station $id", gpkgBlobPoint(x, y))) }),
      ("stations_multi",
        "CREATE TABLE stations_multi (id INTEGER PRIMARY KEY, geom BLOB)",
        mpts.map { case (id, ms) =>
          (id.toLong, Seq[Any](null, gpkgBlobMultiPoint(ms))) }),
      ("roads",
        "CREATE TABLE roads (id INTEGER PRIMARY KEY, geom BLOB)",
        roads.map { case (id, ms) =>
          (id.toLong, Seq[Any](null, gpkgBlobLine(ms))) }),
      // branched twin: branch 0 = the first segment, branch 1 = the
      // rest (overlapping at vertex 1 so every branch has ≥ 2 points
      // for any 3..5-vertex road)
      ("roads_multi",
        "CREATE TABLE roads_multi (id INTEGER PRIMARY KEY, geom BLOB)",
        roads.map { case (id, ms) =>
          (id.toLong, Seq[Any](null,
            gpkgBlobMultiLine(Seq(ms.take(2), ms.drop(1))))) })))
  }

  /** Write-once per-sf stations GeoPackage fixture path. */
  def pointsFixturePath(s: SparkSession, d: String): String =
    Fixture.once("stations.gpkg", Seq(d))(writePointsFixture(s, d, _))

  // ---- rtree-pruned window read (r12 — the r11 verdict's missing #4
  // second half: consult `gpkg_rtree` when present, pruning LEAF PAGES
  // by envelope before any record is range-read, the .shx-manifest
  // pattern) ----

  /** GPKG header envelope (when carried): (minx, maxx, miny, maxy) in
    * the header's own byte order.
    */
  private[graft] def blobEnvelope(blob: Array[Byte]): Option[(Double, Double, Double, Double)] = {
    val flags = blob(3) & 0xff
    if (((flags >> 1) & 0x7) == 0) None
    else {
      val bb = java.nio.ByteBuffer.wrap(blob)
      bb.order(if ((flags & 1) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      Some((bb.getDouble(8), bb.getDouble(16), bb.getDouble(24), bb.getDouble(32)))
    }
  }

  /** Leaf pages with their rowid ranges `(page, loExclusive,
    * hiInclusive)` from the interior keys — the manifest that lets a
    * rowid candidate set prune page reads.
    */
  private[graft] def leafPageRanges(db: DbMeta, root: Int,
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Seq[(Int, Long, Long)] = {
    val b = pageBytes(db, root)
    val h = pageHeaderAt(root)
    (b(h) & 0xff) match {
      case 0x0d => Seq((root, lo, hi))
      case 0x05 =>
        val bb = java.nio.ByteBuffer.wrap(b)
        val nCells = bb.getShort(h + 3) & 0xffff
        val rightMost = bb.getInt(h + 8)
        var prev = lo
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        (0 until nCells).foreach { i =>
          val cellOff = bb.getShort(h + 12 + 2 * i) & 0xffff
          val kid = bb.getInt(cellOff)
          val (key, _) = varint(b, cellOff + 4)
          out ++= leafPageRanges(db, kid, prev, key)
          prev = key
        }
        out ++= leafPageRanges(db, rightMost, prev, hi)
        out.toSeq
      case t => sys.error(s"${db.path}: page $root b-tree type 0x${t.toHexString}")
    }
  }

  /** Walk the SQLite rtree shadow `_node` table (public rtree node
    * format: 2-byte tree depth in the root, 2-byte cell count, then
    * cells of 8-byte BE id/child + 4 BE float32 coords) → feature
    * rowids whose boxes intersect the window. None when the file
    * carries no rtree for (table, geomCol) — the reader then scans all
    * pages and relies on the envelope residual filter alone.
    */
  /** Conservative double→float32 box rounding for WRITTEN rtree nodes
    * (r14, ADVICE): nearest-rounding a min up (or a max down) would
    * SHRINK the box and silently drop an intersecting feature from
    * window reads, so mins round down and maxes round up whenever the
    * conversion is inexact.
    */
  private[graft] def rtreeFloorF(v: Double): Float = {
    val f = v.toFloat
    if (f.toDouble > v) Math.nextDown(f) else f
  }

  private[graft] def rtreeCeilF(v: Double): Float = {
    val f = v.toFloat
    if (f.toDouble < v) Math.nextUp(f) else f
  }

  private[graft] def rtreeCandidates(db: DbMeta, table: String, geomCol: String,
      wx0: Double, wx1: Double, wy0: Double, wy1: Double): Option[Set[Long]] = {
    tableInfoOpt(db, s"rtree_${table}_${geomCol}_node").map { ti =>
      val dataIx = ti.columns.indexOf("data")
      require(dataIx >= 0, s"${db.path}: rtree node table without a data column")
      val nodes: Map[Long, Array[Byte]] = leafPages(db, ti.rootPage).iterator
        .flatMap(p => leafRecords(db, p))
        .map { case (rowid, payload) =>
          val vals = decodeRecord(payload, ti.columns.size)
          val nodeno = vals(0) match {
            case l: Long => l
            case null => rowid // INTEGER PRIMARY KEY alias
            case other => sys.error(s"${db.path}: rtree nodeno holds $other")
          }
          nodeno -> (vals(dataIx) match {
            case b: Array[Byte] => b
            case other => sys.error(s"${db.path}: rtree node data holds " +
              s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
          })
        }.toMap
      val out = Set.newBuilder[Long]
      def walk(nodeno: Long, depth: Int): Unit = {
        val b = nodes.getOrElse(nodeno,
          sys.error(s"${db.path}: rtree node $nodeno missing from the shadow table"))
        val bb = java.nio.ByteBuffer.wrap(b) // rtree nodes are big-endian
        val n = bb.getShort(2) & 0xffff
        require(b.length >= 4 + 24 * n, s"${db.path}: rtree node $nodeno truncated")
        var i = 0
        while (i < n) {
          val off = 4 + 24 * i
          val id = bb.getLong(off)
          val minx = bb.getFloat(off + 8)
          val maxx = bb.getFloat(off + 12)
          val miny = bb.getFloat(off + 16)
          val maxy = bb.getFloat(off + 20)
          if (minx <= wx1 && maxx >= wx0 && miny <= wy1 && maxy >= wy0) {
            if (depth == 0) out += id else walk(id, depth - 1)
          }
          i += 1
        }
      }
      val root = nodes.getOrElse(1L, sys.error(s"${db.path}: rtree has no root node 1"))
      walk(1L, java.nio.ByteBuffer.wrap(root).getShort(0) & 0xffff)
      out.result()
    }
  }

  /** The pruned leaf manifest for a window read: with an rtree, only
    * leaves whose rowid range holds a candidate are kept (exposed for
    * GpkgSpec's fewer-leaf-reads assertion).
    */
  private[graft] def windowLeafRefs(db: DbMeta, path: String, ti: TableInfo,
      cands: Option[Set[Long]]): Seq[LeafRef] = {
    val ranges = leafPageRanges(db, ti.rootPage)
    val kept = cands match {
      case Some(ids) => ranges.filter { case (_, lo, hi) =>
        ids.exists(id => id > lo && id <= hi) }
      case None => ranges
    }
    kept.map { case (p, _, _) =>
      LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size) }
  }

  /** WINDOW feature read: rtree-pruned page manifest (when the file
    * carries the index), then an executor-side header-envelope
    * residual filter — so the RESULT is identical with or without the
    * rtree (bbox-intersection semantics, like the index itself), and
    * the index only saves I/O. Same long-form vertex shape as
    * [[readVerts]].
    */
  def readVertsWindow(s: SparkSession, path: String, table: String,
      wx0: Double, wx1: Double, wy0: Double, wy1: Double,
      idCol: String = "id", geomCol: String = "geom"): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val idIx = ti.columns.indexOf(idCol)
    val geomIx = ti.columns.indexOf(geomCol)
    require(idIx >= 0 && geomIx >= 0,
      s"$path/$table: need columns '$idCol' and '$geomCol', have ${ti.columns.mkString(", ")}")
    val cands = rtreeCandidates(db, table, geomCol, wx0, wx1, wy0, wy1)
    val refs = windowLeafRefs(db, path, ti, cands)
    s.createDataset(refs)
      .repartition(math.max(1, math.min(math.max(1, refs.size),
        s.sparkContext.defaultParallelism)))
      .flatMap { ref =>
        val rdb = DbMeta(ref.path, ref.pageSize, ref.reserved)
        leafRecords(rdb, ref.page).flatMap { case (rowid, payload) =>
          val vals = decodeRecord(payload, ref.nCols)
          val zid = vals(idIx) match {
            case l: Long => l
            case null if idIx == ref.pkOrdinal => rowid
            case other => sys.error(s"${ref.path}: id column holds $other")
          }
          val blob = vals(geomIx) match {
            case b: Array[Byte] => b
            case other => sys.error(s"${ref.path}: geometry column holds " +
              s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
          }
          val keep = blobEnvelope(blob) match {
            case Some((minx, maxx, miny, maxy)) =>
              minx <= wx1 && maxx >= wx0 && miny <= wy1 && maxy >= wy0
            case None => sys.error(s"${ref.path} feature $zid: window read " +
              "needs header envelopes (write with envelope indicator 1)")
          }
          require(zid >= Int.MinValue && zid <= Int.MaxValue,
            s"${ref.path}: feature id $zid outside the 32-bit zone_id range")
          if (!keep) Iterator.empty
          else {
            val what = s"${ref.path} feature $zid"
            parseWkbGeometry(blob, wkbOffset(blob, what), what).map {
              case (part, ring, i, x, y) => (zid.toInt, part, ring, i, x, y)
            }
          }
        }
      }
      .toDF("zone_id", "part", "ring", "i", "x", "y")
  }

  // ---- writer (fixture generation; driver-side over the broadcast-
  // scale zone table — the READ path above is the operator). Builds a
  // REAL SQLite 3 main file from the format spec: header, page-1
  // sqlite_master, table leaves, an interior root when the leaves
  // overflow one page, and overflow chains for big payloads. ----

  private[graft] def varintBytes(v: Long): Array[Byte] = {
    require(v >= 0, s"varint $v")
    if (v <= 0x7f) Array(v.toByte)
    else {
      val groups = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var x = v
      while (x != 0) { groups += (x & 0x7f).toByte; x >>>= 7 }
      val out = groups.reverse.toArray
      (0 until out.length - 1).foreach(i => out(i) = (out(i) | 0x80).toByte)
      out
    }
  }

  /** Serialize one record body (SQLite record format). Values: null /
    * Long / Double / String / Array[Byte].
    */
  private[graft] def recordPayload(vals: Seq[Any]): Array[Byte] = {
    val typed = vals.map {
      case null => (0L, Array.empty[Byte])
      case l: Long =>
        // smallest signed BE width among the spec's 1/2/3/4/6/8
        val w = Seq(1, 2, 3, 4, 6, 8).find { n =>
          val bits = n * 8 - 1
          l >= -(1L << bits) && l < (1L << bits)
        }.get
        val t = Seq(1, 2, 3, 4, 6, 8).indexOf(w) + 1
        val b = new Array[Byte](w)
        (0 until w).foreach(i => b(i) = ((l >> (8 * (w - 1 - i))) & 0xff).toByte)
        (t.toLong, b)
      case d: Double =>
        val bits = java.lang.Double.doubleToLongBits(d)
        val b = new Array[Byte](8)
        (0 until 8).foreach(i => b(i) = ((bits >> (8 * (7 - i))) & 0xff).toByte)
        (7L, b)
      case s: String =>
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        (13L + 2 * b.length, b)
      case b: Array[Byte] => (12L + 2 * b.length, b)
      case other => sys.error(s"gpkg writer: unsupported value $other")
    }
    val typeBytes = typed.flatMap(t => varintBytes(t._1)).toArray
    // header length includes its own varint — iterate to the fixed point
    var hdrLen = typeBytes.length + 1
    while (varintBytes(hdrLen.toLong).length + typeBytes.length != hdrLen)
      hdrLen = varintBytes(hdrLen.toLong).length + typeBytes.length
    val out = new java.io.ByteArrayOutputStream()
    out.write(varintBytes(hdrLen.toLong))
    out.write(typeBytes)
    typed.foreach(t => out.write(t._2))
    out.toByteArray
  }

  /** Write a single-table SQLite db — the original r11 entry point,
    * now a thin wrapper over the multi-table writer.
    */
  def writeTable(path: String, table: String, ddl: String,
      records: Seq[(Long, Seq[Any])], pageSize: Int = 512): Unit =
    writeTables(path, Seq((table, ddl, records)), pageSize)

  /** Write a MULTI-table SQLite db (r12 — a real GeoPackage carries
    * gpkg_contents / gpkg_spatial_ref_sys / gpkg_geometry_columns
    * alongside the feature table): page 1 = header + sqlite_master
    * leaf with one row per table; each table's b-tree (interior root
    * when its leaves overflow one page) and overflow chains follow
    * sequentially. Records are (rowid, values) in ascending-rowid
    * order. Driver-side by design — the honest posture for
    * broadcast-scale zone exports (the same 2 GB-class container
    * rationale as the shapefile sink; petabyte exports go through
    * GeoJSONSeq).
    */
  def writeTables(path: String,
      tables: Seq[(String, String, Seq[(Long, Seq[Any])])],
      pageSize: Int = 512): Unit = {
    val u = pageSize // reserved = 0
    val x = u - 35
    val m = (u - 12) * 32 / 255 - 23
    // plan each record's leaf cell: local payload size + overflow need
    final case class Cell(rowid: Long, payload: Array[Byte], local: Int) {
      def bytesInLeaf: Int =
        varintBytes(payload.length.toLong).length + varintBytes(rowid).length +
          local + (if (local < payload.length) 4 else 0)
    }
    final case class Plan(name: String, ddl: String,
        leaves: Seq[Seq[Cell]], rootPage: Int, leafPageNos: Seq[Int],
        overflowOf: Map[(Int, Int), Seq[Int]],
        // r16: interior pages at ANY depth — (page, child pages, child
        // max rowids), root first; empty for a single-leaf table
        interior: Seq[(Int, Seq[Int], Seq[Long])] = Nil)
    var nextPage = 2
    val plans = tables.map { case (table, ddl, records) =>
      if (ddl.trim.toUpperCase.startsWith("CREATE VIRTUAL")) {
        // a virtual table owns no pages: sqlite_master row with
        // rootpage 0 (its data lives in the shadow tables)
        require(records.isEmpty, s"gpkg writer: virtual table $table with records")
        Plan(table, ddl, Nil, 0, Nil, Map.empty)
      } else {
      val cells = records.map { case (rowid, vals) =>
        val p = recordPayload(vals)
        val local =
          if (p.length <= x) p.length
          else { val k = m + (p.length - m) % (u - 4); if (k <= x) k else m }
        Cell(rowid, p, local)
      }
      // pack leaves greedily (leaf header 8 + 2 bytes/pointer + cells)
      val leaves = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[Cell])
      cells.foreach { c =>
        val cur = leaves.last
        val used = 8 + 2 * (cur.size + 1) + cur.map(_.bytesInLeaf).sum + c.bytesInLeaf
        if (cur.nonEmpty && used > u) leaves += scala.collection.mutable.ArrayBuffer(c)
        else cur += c
      }
      val nLeaves = leaves.size
      val rootPage = nextPage
      // r16: interior levels BOTTOM-UP until one node fits as root —
      // the single-level root silently overflowed its page past a few
      // hundred leaves. Fan-out is bounded by the page: 12-byte header
      // + 2 B pointer + ≤13 B cell per child (the right-most child
      // rides the header pointer, costing nothing)
      val fanout = math.max(2, 1 + (u - 12) / 15)
      val sizes = scala.collection.mutable.ArrayBuffer(nLeaves)
      while (sizes.last > 1) sizes += (sizes.last + fanout - 1) / fanout
      val kTop = sizes.length - 1 // 0 = single leaf, no interior
      val nInterior = if (kTop == 0) 0 else sizes.tail.sum
      val leafPageNos =
        if (kTop == 0) Seq(rootPage)
        else (0 until nLeaves).map(rootPage + nInterior + _)
      def levelBase(j: Int): Int = // first page of interior level j
        rootPage + (j + 1 to kTop).map(sizes(_)).sum
      def nodePage(j: Int, i: Int): Int =
        if (j == 0) leafPageNos(i) else levelBase(j) + i
      val leafMaxes: IndexedSeq[Long] = // an EMPTY table is one bare leaf
        leaves.map(lv => if (lv.isEmpty) 0L else lv.last.rowid).toIndexedSeq
      val maxes = scala.collection.mutable.ArrayBuffer[IndexedSeq[Long]](leafMaxes)
      (1 to kTop).foreach { j =>
        maxes += (0 until sizes(j)).map(i =>
          maxes(j - 1)(math.min((i + 1) * fanout, sizes(j - 1)) - 1)).toIndexedSeq
      }
      val interior: Seq[(Int, Seq[Int], Seq[Long])] =
        (1 to kTop).flatMap { j =>
          (0 until sizes(j)).map { i =>
            val lo = i * fanout
            val hi = math.min(lo + fanout, sizes(j - 1))
            (nodePage(j, i), (lo until hi).map(nodePage(j - 1, _)),
              (lo until hi).map(maxes(j - 1)(_)))
          }
        }
      require(kTop == 0 || nodePage(kTop, 0) == rootPage,
        s"gpkg writer: interior page accounting for $table")
      nextPage = rootPage + nInterior + (if (kTop == 0) 1 else nLeaves)
      val overflowOf = scala.collection.mutable.Map.empty[(Int, Int), Seq[Int]]
      leaves.zipWithIndex.foreach { case (lv, li) =>
        lv.zipWithIndex.foreach { case (c, ci) =>
          if (c.local < c.payload.length) {
            val rest = c.payload.length - c.local
            val per = u - 4
            val n = (rest + per - 1) / per
            overflowOf((li, ci)) = (0 until n).map(i => nextPage + i)
            nextPage += n
          }
        }
      }
      Plan(table, ddl, leaves.map(_.toSeq).toSeq, rootPage, leafPageNos,
        overflowOf.toMap, interior)
      }
    }
    val nPages = nextPage - 1
    val file = new Array[Byte](nPages * pageSize)
    def bb(page: Int) = java.nio.ByteBuffer.wrap(file, (page - 1) * pageSize, pageSize).slice()

    def writeLeaf(page: Int, lv: Seq[Cell], li: Int, headerAt: Int,
        overflowOf: Map[(Int, Int), Seq[Int]]): Unit = {
      val b = bb(page)
      b.put(headerAt, 0x0d.toByte)
      b.putShort(headerAt + 3, lv.size.toShort)
      var content = pageSize
      lv.zipWithIndex.foreach { case (c, ci) =>
        val cellBytes = new java.io.ByteArrayOutputStream()
        cellBytes.write(varintBytes(c.payload.length.toLong))
        cellBytes.write(varintBytes(c.rowid))
        cellBytes.write(c.payload, 0, c.local)
        if (c.local < c.payload.length) {
          val first = overflowOf((li, ci)).head
          cellBytes.write(Array[Byte]((first >> 24).toByte, (first >> 16).toByte,
            (first >> 8).toByte, first.toByte))
        }
        val arr = cellBytes.toByteArray
        content -= arr.length
        System.arraycopy(arr, 0, file, (page - 1) * pageSize + content, arr.length)
        b.putShort(headerAt + 8 + 2 * ci, content.toShort)
      }
      b.putShort(headerAt + 5, content.toShort)
      // write overflow chains
      lv.zipWithIndex.foreach { case (c, ci) =>
        overflowOf.get((li, ci)).foreach { pages =>
          var off = c.local
          pages.zipWithIndex.foreach { case (pg, i) =>
            val ob = bb(pg)
            val next = if (i + 1 < pages.length) pages(i + 1) else 0
            ob.putInt(0, next)
            val take = math.min(c.payload.length - off, u - 4)
            System.arraycopy(c.payload, off, file, (pg - 1) * pageSize + 4, take)
            off += take
          }
        }
      }
    }

    plans.filter(_.rootPage > 0).foreach { pl =>
      // interior pages at any depth (r16): one cell per child but the
      // LAST (rightmost child rides the header pointer); key = max
      // rowid in that child's subtree
      pl.interior.foreach { case (page, kids, maxs) =>
        val b = bb(page)
        b.put(0, 0x05.toByte)
        b.putShort(3, (kids.size - 1).toShort)
        b.putInt(8, kids.last)
        var content = pageSize
        (0 until kids.size - 1).foreach { i =>
          val cell = new java.io.ByteArrayOutputStream()
          val kid = kids(i)
          cell.write(Array[Byte]((kid >> 24).toByte, (kid >> 16).toByte,
            (kid >> 8).toByte, kid.toByte))
          cell.write(varintBytes(maxs(i)))
          val arr = cell.toByteArray
          content -= arr.length
          System.arraycopy(arr, 0, file, (page - 1) * pageSize + content, arr.length)
          b.putShort(12 + 2 * i, content.toShort)
        }
        require(content >= 12 + 2 * (kids.size - 1),
          s"$path: interior page $page overflowed (${kids.size} children)")
        b.putShort(5, content.toShort)
      }
      pl.leaves.zipWithIndex.foreach { case (lv, li) =>
        writeLeaf(pl.leafPageNos(li), lv, li, 0, pl.overflowOf)
      }
    }

    // page 1: 100-byte header + sqlite_master leaf, one row per table
    val hdr = bb(1)
    val magic = "SQLite format 3".getBytes("ISO-8859-1") :+ 0.toByte
    (0 until 16).foreach(i => hdr.put(i, magic(i)))
    hdr.putShort(16, (if (pageSize == 65536) 1 else pageSize).toShort)
    hdr.put(18, 1.toByte); hdr.put(19, 1.toByte) // legacy write/read versions
    hdr.put(21, 64.toByte); hdr.put(22, 32.toByte); hdr.put(23, 32.toByte)
    hdr.putInt(28, nPages)
    hdr.putInt(40, 1)  // schema cookie
    hdr.putInt(44, 4)  // schema format
    hdr.putInt(48, 0)
    hdr.putInt(56, 1)  // UTF-8
    hdr.put(100, 0x0d.toByte)
    hdr.putShort(103, plans.size.toShort)
    var content = pageSize
    plans.zipWithIndex.foreach { case (pl, i) =>
      val masterRow = recordPayload(
        Seq("table", pl.name, pl.name, pl.rootPage.toLong, pl.ddl))
      require(masterRow.length <= x,
        s"gpkg writer: sqlite_master row of ${masterRow.length} bytes needs overflow (unsupported here)")
      val cell = new java.io.ByteArrayOutputStream()
      cell.write(varintBytes(masterRow.length.toLong))
      cell.write(varintBytes((i + 1).toLong))
      cell.write(masterRow)
      val arr = cell.toByteArray
      content -= arr.length
      require(content > 108 + 2 * plans.size,
        s"gpkg writer: ${plans.size} sqlite_master rows overflow page 1")
      System.arraycopy(arr, 0, file, content, arr.length)
      hdr.putShort(108 + 2 * i, content.toShort)
    }
    hdr.putShort(105, content.toShort)

    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, file)
  }

  /** GPKG geometry blob for closed integer rings: standard header
    * (version 0, little-endian, xy envelope) + WKB Polygon.
    */
  private[graft] def gpkgBlob(ringsClosed: Seq[Seq[(Int, Int)]]): Array[Byte] = {
    val all = ringsClosed.flatten
    val nPts = all.size
    val b = java.nio.ByteBuffer.allocate(8 + 32 + 9 + ringsClosed.map(4 + 16 * _.size).sum)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte) // xy envelope, little-endian
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0) // srs_id
    b.putDouble(all.map(_._1).min).putDouble(all.map(_._1).max)
    b.putDouble(all.map(_._2).min).putDouble(all.map(_._2).max)
    b.put(1.toByte).putInt(3).putInt(ringsClosed.size)
    ringsClosed.foreach { ring =>
      b.putInt(ring.size)
      ring.foreach { case (px, py) => b.putDouble(px.toDouble).putDouble(py.toDouble) }
    }
    require(nPts == ringsClosed.map(_.size).sum)
    b.array()
  }

  /** GPKG geometry blob for a MULTIPOLYGON of closed integer rings
    * (r14): standard header + WKB type 6, one child Polygon per part.
    */
  /** GPKG geometry blob around a WKB Point (r16). */
  private[graft] def gpkgBlobPoint(x: Int, y: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 32 + 21)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte) // xy envelope, little-endian
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0) // srs_id
    b.putDouble(x.toDouble).putDouble(x.toDouble)
    b.putDouble(y.toDouble).putDouble(y.toDouble)
    b.put(1.toByte).putInt(1).putDouble(x.toDouble).putDouble(y.toDouble)
    b.array()
  }

  /** GPKG geometry blob around a WKB MultiPoint (r16) — each member is
    * a full WKB Point with its own endianness byte, per the spec.
    */
  private[graft] def gpkgBlobMultiPoint(pts: Seq[(Int, Int)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 32 + 9 + 21 * pts.size)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0)
    b.putDouble(pts.map(_._1).min.toDouble).putDouble(pts.map(_._1).max.toDouble)
    b.putDouble(pts.map(_._2).min.toDouble).putDouble(pts.map(_._2).max.toDouble)
    b.put(1.toByte).putInt(4).putInt(pts.size)
    pts.foreach { case (px, py) =>
      b.put(1.toByte).putInt(1).putDouble(px.toDouble).putDouble(py.toDouble)
    }
    b.array()
  }

  /** GPKG geometry blob around a WKB LineString (r16). */
  private[graft] def gpkgBlobLine(pts: Seq[(Int, Int)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 32 + 9 + 16 * pts.size)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0)
    b.putDouble(pts.map(_._1).min.toDouble).putDouble(pts.map(_._1).max.toDouble)
    b.putDouble(pts.map(_._2).min.toDouble).putDouble(pts.map(_._2).max.toDouble)
    b.put(1.toByte).putInt(2).putInt(pts.size)
    pts.foreach { case (px, py) => b.putDouble(px.toDouble).putDouble(py.toDouble) }
    b.array()
  }

  /** Parse a WKB LineString (r16 — the road-feature type) to
    * `(i, x, y)` vertex rows; other geometry types throw.
    */
  private[graft] def parseWkbLine(blob: Array[Byte], off: Int,
      what: String): Iterator[(Int, Int, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    bb.order(if (blob(off) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    val gtype = bb.getInt(off + 1)
    require(gtype == 2, s"$what: WKB geometry type $gtype unsupported " +
      "(2 = LineString)")
    val n = bb.getInt(off + 5)
    require(n >= 2, s"$what: $n-point LineString (min 2)")
    (0 until n).iterator.map { i =>
      val x = bb.getDouble(off + 9 + 16 * i)
      val y = bb.getDouble(off + 9 + 16 * i + 8)
      require(x == math.rint(x) && y == math.rint(y),
        s"$what vertex $i: fractional coordinate ($x, $y) — align to the lattice")
      (i, x.toInt, y.toInt)
    }
  }

  /** GPKG geometry blob around a WKB MultiLineString (r16) — each
    * branch a full WKB LineString with its own endianness byte.
    */
  private[graft] def gpkgBlobMultiLine(parts: Seq[Seq[(Int, Int)]]): Array[Byte] = {
    val all = parts.flatten
    val b = java.nio.ByteBuffer.allocate(
      8 + 32 + 9 + parts.map(9 + 16 * _.size).sum)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0)
    b.putDouble(all.map(_._1).min.toDouble).putDouble(all.map(_._1).max.toDouble)
    b.putDouble(all.map(_._2).min.toDouble).putDouble(all.map(_._2).max.toDouble)
    b.put(1.toByte).putInt(5).putInt(parts.size)
    parts.foreach { pts =>
      b.put(1.toByte).putInt(2).putInt(pts.size)
      pts.foreach { case (px, py) => b.putDouble(px.toDouble).putDouble(py.toDouble) }
    }
    b.array()
  }

  /** Parse a WKB LineString OR MultiLineString (r16) to long-form
    * `(part, i, x, y)` vertex rows; every MultiLineString branch is a
    * full WKB LineString carrying its own endianness byte per the
    * spec. Other geometry types throw.
    */
  private[graft] def parseWkbLines(blob: Array[Byte], off: Int,
      what: String): Iterator[(Int, Int, Int, Int)] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
    bb.order(if (blob(off) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    bb.getInt(off + 1) match {
      case 2 =>
        parseWkbLine(blob, off, what).map { case (i, x, y) => (0, i, x, y) }
      case 5 =>
        val n = bb.getInt(off + 5)
        require(n >= 1, s"$what: empty MultiLineString")
        var p = off + 9
        (0 until n).iterator.flatMap { part =>
          val start = p
          val cb = java.nio.ByteBuffer.wrap(blob)
          cb.order(if (blob(start) == 1) java.nio.ByteOrder.LITTLE_ENDIAN
            else java.nio.ByteOrder.BIG_ENDIAN)
          require(cb.getInt(start + 1) == 2,
            s"$what branch $part: MultiLineString child type ${cb.getInt(start + 1)}")
          p = start + 9 + 16 * cb.getInt(start + 5)
          parseWkbLine(blob, start, s"$what branch $part").map {
            case (i, x, y) => (part, i, x, y)
          }
        }
      case other => sys.error(s"$what: WKB geometry type $other unsupported " +
        "(2 = LineString, 5 = MultiLineString)")
    }
  }

  private[graft] def gpkgBlobMulti(parts: Seq[Seq[Seq[(Int, Int)]]]): Array[Byte] = {
    val all = parts.flatten.flatten
    val wkbLen = 9 + parts.map(p => 9 + p.map(4 + 16 * _.size).sum).sum
    val b = java.nio.ByteBuffer.allocate(8 + 32 + wkbLen)
    b.put('G'.toByte).put('P'.toByte).put(0.toByte)
    b.put(((1 << 1) | 1).toByte)
    b.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0)
    b.putDouble(all.map(_._1).min).putDouble(all.map(_._1).max)
    b.putDouble(all.map(_._2).min).putDouble(all.map(_._2).max)
    b.put(1.toByte).putInt(6).putInt(parts.size)
    parts.foreach { rings =>
      b.put(1.toByte).putInt(3).putInt(rings.size)
      rings.foreach { ring =>
        b.putInt(ring.size)
        ring.foreach { case (px, py) => b.putDouble(px.toDouble).putDouble(py.toDouble) }
      }
    }
    b.array()
  }

  /** Write-once per-sf MULTIPOLYGON GeoPackage fixture of the
    * MultiRings family (r14): one WKB type-6 blob per zone, parts
    * preserved.
    */
  def multiFixturePath(s: SparkSession, d: String): String =
    Fixture.once("zones_multi.gpkg", Seq(d)) { path =>
      val verts = Cube.verts(s, d, Cube.MultiRings)
        .select("zone_id", "part", "ring", "i", "vx", "vy")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      val records = verts.groupBy(_._1).toSeq.sortBy(_._1).map { case (zoneId, vs) =>
        val parts = vs.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, pvs) =>
          pvs.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, pts) =>
            val ordered = pts.sortBy(_._4).map { case (_, _, _, _, px, py) => (px, py) }.toSeq
            ordered :+ ordered.head
          }
        }
        (zoneId.toLong, Seq[Any](null, s"zone $zoneId", gpkgBlobMulti(parts)))
      }
      writeTable(path, "zones",
        "CREATE TABLE zones (id INTEGER PRIMARY KEY, zone_name TEXT, geom BLOB)",
        records)
    }

  /** Write-once per-sf GeoPackage fixture of the NGonRings family: the
    * `zones` feature table (id INTEGER PRIMARY KEY — rowid-aliased —
    * zone_name, a long `note` on zone 0 that forces a real overflow
    * chain at the 512-byte page size, and the GPKG geometry blob).
    * 512-byte pages force several leaves + an interior root, so the
    * page-parallel read path is genuinely exercised.
    */
  def fixturePath(s: SparkSession, d: String): String =
    Fixture.once("zones.gpkg", Seq(d))(writeFixture(s, d, Cube.NGonRings, _))

  def writeFixture(s: SparkSession, d: String, rings: Seq[Cube.RingSpec],
      path: String): Unit = {
    val verts = Cube.verts(s, d, rings)
      .select("zone_id", "part", "ring", "i", "vx", "vy")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    val zoneNames = Cube.zones(s, d).select("zone_id", "zone_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val records = verts.groupBy(_._1).toSeq.sortBy(_._1).map { case (zoneId, vs) =>
      val ringsClosed = vs.groupBy(v => (v._2, v._3)).toSeq.sortBy(_._1).map { case (_, pts) =>
        val ordered = pts.sortBy(_._4).map { case (_, _, _, _, px, py) => (px, py) }.toSeq
        ordered :+ ordered.head
      }
      val note = if (zoneId == 0) "long-attribute " * 80 else s"zone $zoneId"
      (zoneId.toLong, Seq[Any](null, zoneNames(zoneId), note, gpkgBlob(ringsClosed)))
    }
    writeTable(path, "zones",
      "CREATE TABLE zones (id INTEGER PRIMARY KEY, zone_name TEXT, note TEXT, geom BLOB)",
      records)
  }

  /** Write a FULL GeoPackage (r12 — `sink_geopackage`): the three
    * mandatory metadata tables (gpkg_spatial_ref_sys / gpkg_contents /
    * gpkg_geometry_columns), the feature table, and the rtree spatial
    * index (virtual-table master row + `_node`/`_rowid`/`_parent`
    * shadow tables, single-root node with one BE-float32 box per
    * feature). Driver-side over the broadcast-scale zone table — the
    * same honest posture and 2 GB-class container rationale as the
    * shapefile sink; petabyte vector exports go through GeoJSONSeq.
    * Deviation noted: srs rows carry explicit srs_id values with
    * sequential rowids (the spec's -1 srs would need a negative rowid,
    * which the record writer refuses; our reader reads the explicit
    * column either way).
    */
  def writeGeoPackage(s: SparkSession, d: String, path: String): Unit = {
    val verts = Cube.verts(s, d, Cube.NGonRings)
      .select("zone_id", "part", "ring", "i", "vx", "vy")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
    val zoneNames = Cube.zones(s, d).select("zone_id", "zone_name").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val byZone = verts.groupBy(_._1).toSeq.sortBy(_._1)
    val features = byZone.map { case (zoneId, vs) =>
      val ringsClosed = vs.groupBy(v => (v._2, v._3)).toSeq.sortBy(_._1).map { case (_, pts) =>
        val ordered = pts.sortBy(_._4).map { case (_, _, _, _, px, py) => (px, py) }.toSeq
        ordered :+ ordered.head
      }
      (zoneId.toLong, Seq[Any](null, zoneNames(zoneId), s"zone $zoneId", gpkgBlob(ringsClosed)))
    }
    val envs = byZone.map { case (zoneId, vs) =>
      val xs = vs.map(_._5); val ys = vs.map(_._6)
      (zoneId.toLong, xs.min, xs.max, ys.min, ys.max)
    }
    // rtree root node: depth 0, one cell per feature (BE id + 4 BE f32)
    val node = java.nio.ByteBuffer.allocate(4 + 24 * envs.size)
    node.putShort(0, 0.toShort) // tree depth
    node.putShort(2, envs.size.toShort)
    envs.zipWithIndex.foreach { case ((id, x0, x1, y0, y1), i) =>
      val off = 4 + 24 * i
      node.putLong(off, id)
      node.putFloat(off + 8, rtreeFloorF(x0))
      node.putFloat(off + 12, rtreeCeilF(x1))
      node.putFloat(off + 16, rtreeFloorF(y0))
      node.putFloat(off + 20, rtreeCeilF(y1))
    }
    val totX0 = envs.map(_._2).min; val totX1 = envs.map(_._3).max
    val totY0 = envs.map(_._4).min; val totY1 = envs.map(_._5).max
    writeTables(path, Seq(
      ("gpkg_spatial_ref_sys",
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)",
        Seq(
          (1L, Seq[Any]("Undefined cartesian SRS", -1L, "NONE", -1L, "undefined", null)),
          (2L, Seq[Any]("Undefined geographic SRS", 0L, "NONE", 0L, "undefined", null)),
          (3L, Seq[Any]("WGS 84", 4326L, "EPSG", 4326L,
            "GEOGCS[\"WGS 84\",DATUM[\"WGS_1984\"]]", null)))),
      ("gpkg_contents",
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL, identifier TEXT, description TEXT, last_change TEXT, min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)",
        Seq((1L, Seq[Any]("zones", "features", "zones", "graft zone export",
          "2026-01-01T00:00:00.000Z", totX0.toDouble, totY0.toDouble,
          totX1.toDouble, totY1.toDouble, 4326L)))),
      ("gpkg_geometry_columns",
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)",
        Seq((1L, Seq[Any]("zones", "geom", "POLYGON", 4326L, 0L, 0L)))),
      ("zones",
        "CREATE TABLE zones (id INTEGER PRIMARY KEY, zone_name TEXT, note TEXT, geom BLOB)",
        features),
      ("rtree_zones_geom",
        "CREATE VIRTUAL TABLE rtree_zones_geom USING rtree(id, minx, maxx, miny, maxy)",
        Nil),
      ("rtree_zones_geom_node",
        "CREATE TABLE rtree_zones_geom_node (nodeno INTEGER PRIMARY KEY, data BLOB)",
        Seq((1L, Seq[Any](null, node.array())))),
      ("rtree_zones_geom_rowid",
        "CREATE TABLE rtree_zones_geom_rowid (rowid INTEGER PRIMARY KEY, nodeno INTEGER)",
        envs.map { case (id, _, _, _, _) => (id, Seq[Any](null, 1L)) }),
      ("rtree_zones_geom_parent",
        "CREATE TABLE rtree_zones_geom_parent (nodeno INTEGER PRIMARY KEY, parentnode INTEGER)",
        Nil)),
      // 8 tables of DDL on page 1 need more than the fixture writer's
      // 512-byte pages (4096 is SQLite's own default)
      pageSize = 4096)
  }

  /** Write-once full-GeoPackage fixture (metadata + rtree + zones). */
  def fullFixturePath(s: SparkSession, d: String): String =
    Fixture.once("zones_full.gpkg", Seq(d))(writeGeoPackage(s, d, _))

  /** Attribute face: every non-geometry column as a DataFrame row per
    * feature (rowid-aliased ids resolved), schema from the DDL —
    * the .dbf-attrs analogue.
    */
  def readAttrs(s: SparkSession, path: String, table: String,
      geomCol: String = "geom"): DataFrame = {
    import s.implicits._
    val db = readDbMeta(path)
    val ti = tableInfo(db, table)
    val geomIx = ti.columns.indexOf(geomCol)
    val keep = ti.columns.zipWithIndex.filter(_._2 != geomIx)
    val refs = leafPages(db, ti.rootPage)
      .map(p => LeafRef(path, p, db.pageSize, db.reserved, ti.pkOrdinal, ti.columns.size))
    val rows = scanLeaves(s, refs) { (ref, rowid, payload) =>
      val vals = decodeRecord(payload, ref.nCols)
      if (ref.pkOrdinal >= 0 && vals(ref.pkOrdinal) == null)
        vals(ref.pkOrdinal) = rowid
      // stringly-typed transport; the select below re-types per use
      Seq((rowid, vals.map(v => if (v == null) null else v.toString).toSeq))
    }
    rows.toDF("rowid", "vals")
      .select(col("rowid") +: keep.map { case (n, i) =>
        element_at(col("vals"), i + 1).as(n) }: _*)
  }
}
