package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/**
 * Format-neutral view of a NetCDF file: resolved dimensions (the
 * classic record dim reads as its current extent), variables with
 * their dim tuples, and offset-addressed slab reads. Dispatches on the
 * file magic — CDF-1/CDF-2 through [[NetCDF3]], NetCDF-4/HDF5 through
 * [[NetCDF4]] — so every consumer (the DSv2 below, the engine's
 * importnc) handles both transparently.
 */
final case class NcVarView(name: String, dimIds: Seq[Int])
final case class NcView(
    dims: Seq[NetCDF3.Dim],
    vars: Seq[NcVarView],
    slab: (String, Long, Int) => Array[Double],
    /** Global attributes: (name, text-or-rendered-number). */
    gatts: Seq[(String, String)] = Seq.empty,
    /** Per-variable attributes, same rendering. */
    varAtts: Map[String, Seq[(String, String)]] = Map.empty,
    /** Partition-boundary grain in flat cells: for chunked NetCDF-4,
      * the (largest) per-chunk cell count of the data variables, so
      * split planning can avoid two partitions inflating the same
      * chunk. 1 = no constraint (classic files are offset-addressed
      * at any cell). */
    alignCells: Long = 1L,
    /** Format-native hyper-rectangle read — (var, per-axis origins,
      * per-axis lens) → row-major box cells, touching only the
      * storage chunks the box intersects. Null = fall back to the
      * generic run decomposition over [[slab]]. */
    boxSlab: (String, Seq[Long], Seq[Int]) => Array[Double] = null,
    /** n-D chunk dims of a variable's storage; None = unchunked. */
    chunkDimsOf: String => Option[Seq[Int]] = _ => None) {
  def varByName(n: String): NcVarView = vars.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"no variable '$n'"))

  /** Box read with the generic fallback for formats without a native
    * one (classic NetCDF-3: per-run offset slabs — no decompression,
    * so runs cost only their bytes). */
  def box(name: String, origin: Seq[Long], lens: Seq[Int]): Array[Double] =
    if (boxSlab != null) boxSlab(name, origin, lens)
    else {
      val shape = varByName(name).dimIds.map(dims(_).length.toLong)
      NcView.boxViaSlab(slab(name, _, _), shape, origin, lens)
    }
}

object NcView {
  /** Decompose a box into flat contiguous runs (trailing fully-covered
    * axes merge into the run) and gather them through `slab`. */
  private[sources] def boxViaSlab(slab: (Long, Int) => Array[Double],
      shape: Seq[Long], origin: Seq[Long],
      lens: Seq[Int]): Array[Double] = {
    val rank = shape.size
    if (rank == 0) return slab(0L, 1)
    val cells = lens.map(_.toLong).product
    require(cells <= Int.MaxValue, s"box of $cells cells")
    if (cells == 0) return Array.empty
    val strides = new Array[Long](rank)
    locally {
      var s = 1L; var d = rank - 1
      while (d >= 0) { strides(d) = s; s *= shape(d); d -= 1 }
    }
    var k = rank - 1
    while (k >= 0 && origin(k) == 0 && lens(k).toLong == shape(k)) k -= 1
    if (k < 0) return slab(0L, cells.toInt)
    val runLenL = lens(k).toLong * strides(k)
    require(runLenL <= Int.MaxValue,
      s"box run of $runLenL cells exceeds a single slab read")
    val runLen = runLenL.toInt
    val out = new Array[Double](cells.toInt)
    val outerIdx = new Array[Int](k)
    var dst = 0
    var more = true
    while (more && dst < cells) {
      var flat = origin(k) * strides(k)
      var i = 0
      while (i < k) { flat += (origin(i) + outerIdx(i)) * strides(i); i += 1 }
      System.arraycopy(slab(flat, runLen), 0, out, dst, runLen)
      dst += runLen
      var j = k - 1
      var carry = true
      while (j >= 0 && carry) {
        outerIdx(j) += 1
        if (outerIdx(j) == lens(j)) outerIdx(j) = 0 else carry = false
        j -= 1
      }
      more = k > 0 && !carry
    }
    out
  }

  private def renderAtt(a: NetCDF3.Att): (String, String) =
    a.name -> (if (a.text.nonEmpty || a.numbers.isEmpty) a.text
               else a.numbers.mkString(","))

  /** True when `path` is a NetCDF file of EITHER flavor — by
    * extension or, for files on disk, by magic (plenty of NetCDF-4
    * archives are named plain `.nc`). */
  def isNetcdf(path: String): Boolean =
    path.endsWith(".nc") || path.endsWith(".nc4") || {
      val f = new java.io.File(path)
      f.isFile && f.length >= 8 && {
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val m = new Array[Byte](8)
          raf.readFully(m)
          (m(0) == 'C' && m(1) == 'D' && m(2) == 'F' &&
            (m(3) == 1 || m(3) == 2)) ||
            (m(0) == 0x89.toByte && m(1) == 'H' && m(2) == 'D' && m(3) == 'F')
        } finally raf.close()
      }
    }

  def open(path: String): NcView =
    if (Hdf5.isHdf5(path)) {
      val m = NetCDF4.open(path)
      val align = m.vars.map(_.ds.layout).collect {
        case c: Hdf5.Chunked => c.chunkDims.map(_.toLong).product
      }.maxOption.getOrElse(1L)
      NcView(m.dims, m.vars.map(v => NcVarView(v.name, v.dimIds)),
        (n, s, c) => NetCDF4.readSlab(path, m.varByName(n), s, c),
        gatts = m.gatts.map(renderAtt),
        varAtts = m.vars.map(v => v.name -> v.ds.attrs
          .filterNot(a => Seq("CLASS", "NAME", "DIMENSION_LIST",
            "_Netcdf4Dimid").contains(a.name))
          .map(a => a.name -> a.text)).toMap,
        alignCells = align max 1L,
        boxSlab = (n, o, l) => Hdf5.readBox(path, m.varByName(n).ds, o, l),
        chunkDimsOf = n => m.varByName(n).ds.layout match {
          case c: Hdf5.Chunked => Some(c.chunkDims)
          case _ => None
        })
    } else {
      val h = NetCDF3.readHeader(path)
      NcView(
        h.dims.indices.map(i => NetCDF3.Dim(h.dims(i).name, h.dimLength(i))),
        h.vars.map(v => NcVarView(v.name, v.dimIds)),
        (n, s, c) => NetCDF3.readSlab(path, h, h.varByName(n), s, c),
        gatts = h.gatts.map(renderAtt),
        varAtts = h.vars.map(v => v.name -> v.atts.map(renderAtt)).toMap)
    }
}

/**
 * DataSource V2 for NetCDF files (classic AND NetCDF-4/HDF5):
 * `spark.read.format("netcdf3").load(path)` yields the relational view
 * of the file's grid — one row per cell, one column per dimension
 * (coordinate-variable values when the file has them, 1-based indices
 * otherwise) and one column per data variable. The short name is
 * historical; `netcdf4` registers the same source.
 *
 * Spark-first mechanics:
 *  - the driver reads ONLY the metadata (KBs) to infer the schema;
 *  - `planInputPartitions` splits the flat cell range into
 *    `spark.default.parallelism`-sized chunks — each partition reads
 *    just its cell range of each variable (offset-addressed slabs for
 *    classic, only the intersecting chunks for NetCDF-4);
 *  - column pruning (`SupportsPushDownRequiredColumns`) reaches the
 *    reader: unprojected variables are never read, unprojected
 *    dimension columns are never computed.
 *
 * Cube-shaped mode (read option [[NetCDFSource.CubeImplicit]] naming
 * one axis of a single measure variable; set by the engine's
 * `oph_importnc`, not a workflow argument): the scan emits the
 * datacube rows themselves — one row per cell of the OTHER (explicit)
 * axes, each explicit axis a `double` column, the measure as
 * `array<double>` holding that cell's whole series along the implicit
 * axis in index order, and `__dim_<axis>` as the axis' coordinate
 * array. Partitions are boxes that span the whole implicit axis and
 * tile the explicit ones at the storage-chunk grain (one index when
 * the variable is unchunked or classic), split greedily outermost
 * first up to the default parallelism, no tile over
 * [[NetCDFSource.MaxTileCells]] (a variable whose single-chunk tile is
 * larger is refused at planning); each reader does one box read per
 * projected variable and gathers every series by stride, so the cube
 * needs no groupBy and no shuffle. Comparison hints on the explicit
 * axes prune tiles exactly as in box planning.
 * [[NetCDFSource.seriesFits]] tells which storage layouts this mode
 * reads well.
 *
 * This is the real-format replacement for the reference's
 * `oph_importnc` source (`src/oph_json/oph_json_objkeys.h:114`).
 */
class NetCDFSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf3"

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("netcdf: 'path' option required"))
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetCDFSource.schemaOf(NcView.open(pathOf(options)),
      Option(options.get("measure")),
      Option(options.get(NetCDFSource.CubeImplicit)))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new NcTable(pathOf(opts), schema, Option(opts.get("measure")),
      Option(opts.get(NetCDFSource.CubeImplicit)))
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** `spark.read.format("netcdf4")` — alias for the same dual-format
  * source, for callers who want the intent in the code. */
class NetCDF4Source extends NetCDFSource {
  override def shortName(): String = "netcdf4"
}

object NetCDFSource {
  /** Read option selecting the cube-shaped mode: the name of the axis
    * each row carries as an array (see the class doc). */
  val CubeImplicit = "cube_implicit"

  /** Cells one planned tile may hold, so box buffers stay
    * executor-sized (and far below a primitive array's limit). */
  val MaxTileCells: Long = 1L << 24

  /** Plan the box `ranges` (per-axis [lo, hi)) as a cartesian grid of
    * tiles whose inner boundaries fall on multiples of `grain(i)`.
    * Split counts are chosen GREEDILY from the outermost axis inward
    * until the tile count reaches `parallelism` and the cell target —
    * a file with few outer chunks but many inner ones (a short-time
    * high-resolution archive) still parallelizes across its inner
    * chunk grid. Tiles are then shrunk, outermost axis first and never
    * below one grain, until each holds at most `maxCells` cells; so
    * the bound holds whenever one grain's box does. An axis whose
    * grain covers it is never split. */
  private[sources] def tileGrid(ranges: Seq[(Long, Long)], grain: Seq[Long],
      parallelism: Long,
      maxCells: Long = MaxTileCells): Array[InputPartition] = {
    val rank = ranges.size
    val span = ranges.map(r => r._2 - r._1)
    val firstChunk = ranges.indices.map(i => ranges(i)._1 / grain(i))
    val nAlong = ranges.indices.map(i =>
      (ranges(i)._2 - 1) / grain(i) - firstChunk(i) + 1)
    var remaining = math.max(parallelism, (span.product + maxCells - 1) / maxCells)
    // grains per tile along each axis
    val per = Array.tabulate(rank) { i =>
      val s = if (remaining <= 1) 1L else math.min(nAlong(i), remaining)
      remaining = (remaining + s - 1) / s
      (nAlong(i) + s - 1) / s
    }
    // uneven splits (and axes the greedy pass left whole) can leave a
    // tile over the bound
    def edge(i: Int): Long = math.min(per(i) * grain(i), span(i))
    for (i <- 0 until rank) {
      val others = (0 until rank).filter(_ != i).map(edge).product
      if (others * edge(i) > maxCells)
        per(i) = math.max(1L, math.min(per(i), maxCells / (others * grain(i))))
    }
    val axisTiles: Seq[Seq[(Long, Long)]] = ranges.indices.map { i =>
      val c = grain(i)
      (0L until (nAlong(i) + per(i) - 1) / per(i)).map { t =>
        (math.max(ranges(i)._1, (firstChunk(i) + t * per(i)) * c),
          math.min(ranges(i)._2, (firstChunk(i) + (t + 1) * per(i)) * c))
      }
    }
    axisTiles
      .foldLeft(Seq(Seq.empty[(Long, Long)])) { (acc, ts) =>
        acc.flatMap(p => ts.map(p :+ _))
      }
      .map(combo => NcBoxPartition(
        combo.map(_._1),
        combo.map(t => (t._2 - t._1).toInt)): InputPartition)
      .toArray
  }

  /** Tile grain of the cube-shaped mode over a variable of axis
    * lengths `lens`, implicit axis `k`: the whole implicit axis (it is
    * never cut), and on the explicit axes the storage chunk — so no
    * two tiles decode the same chunk — or one index when the variable
    * is unchunked or classic. */
  private[sources] def seriesGrain(lens: Seq[Long], chunk: Option[Seq[Int]],
      k: Int): Seq[Long] =
    lens.indices.map(i =>
      if (i == k) lens(i) else chunk.fold(1L)(c => math.min(c(i).toLong, lens(i))))

  /** Whether the cube-shaped read suits the storage of `measure`
    * along implicit axis `imp`: one grain's tile (see [[seriesGrain]])
    * fits `maxCells`, and the tiles split the variable — it is
    * unchunked or classic, has no explicit axis, or its chunks cut at
    * least one explicit axis. A variable chunked along the implicit
    * axis only, e.g. (1, lat, lon) per time step, would read as ONE
    * tile in one task; it imports faster through the long-form scan. */
  def seriesFits(v: NcView, measure: String, imp: String,
      maxCells: Long = MaxTileCells): Boolean = {
    val axes = v.varByName(measure).dimIds.map(v.dims(_))
    val k = axes.indexWhere(_.name == imp)
    val lens = axes.map(_.length.toLong)
    val chunk = v.chunkDimsOf(measure).filter(_.size == axes.size)
    k >= 0 && seriesGrain(lens, chunk, k).product <= maxCells &&
      (axes.size == 1 || chunk.forall(c =>
        axes.indices.exists(i => i != k && c(i) < lens(i))))
  }

  /** Grid variables = the non-coordinate vars of maximal rank (or the
    * explicit `measure` list); their shared dims are the axes. */
  def gridVars(v: NcView, measure: Option[String]): Seq[NcVarView] = {
    val dimNames = v.dims.map(_.name).toSet
    measure match {
      case Some(ms) =>
        val vs = ms.split('|').toSeq.map(_.trim).filter(_.nonEmpty)
          .map(v.varByName)
        // mixed grids would misalign the flat cell indexing
        vs.find(_.dimIds != vs.head.dimIds).foreach { bad =>
          throw new IllegalArgumentException(
            s"netcdf: variable '${bad.name}' is not on the same grid as " +
              s"'${vs.head.name}' — select variables sharing one dim tuple")
        }
        vs
      case None =>
        val data = v.vars.filterNot(x =>
          x.dimIds.size == 1 && dimNames.contains(x.name) &&
            v.dims(x.dimIds.head).name == x.name)
        if (data.isEmpty) v.vars
        else {
          val maxRank = data.map(_.dimIds.size).max
          val top = data.filter(_.dimIds.size == maxRank)
          top.filter(_.dimIds == top.head.dimIds)
        }
    }
  }

  def schemaOf(v: NcView, measure: Option[String],
      implicitAxis: Option[String] = None): StructType = {
    val vs = gridVars(v, measure)
    require(vs.nonEmpty, "netcdf: no data variables")
    val axes = vs.head.dimIds.map(v.dims(_))
    implicitAxis match {
      case None =>
        StructType(
          axes.map(d => StructField(d.name, DoubleType, nullable = false)) ++
            vs.map(x => StructField(x.name, DoubleType, nullable = false)))
      case Some(imp) =>
        implicitIndex(axes, vs, imp)
        val series = ArrayType(DoubleType, containsNull = false)
        StructType(
          axes.filterNot(_.name == imp)
            .map(d => StructField(d.name, DoubleType, nullable = false)) ++
            Seq(StructField(vs.head.name, series, nullable = false),
              StructField(s"__dim_$imp", series, nullable = false)))
    }
  }

  /** Position of the implicit axis among the grid's axes; the
    * cube-shaped mode needs exactly one measure variable. */
  private[sources] def implicitIndex(axes: Seq[NetCDF3.Dim],
      vs: Seq[NcVarView], imp: String): Int = {
    require(vs.size == 1,
      s"netcdf: the cube-shaped read takes one measure variable, got " +
        vs.map(_.name).mkString("|"))
    val k = axes.indexWhere(_.name == imp)
    require(k >= 0 && axes.count(_.name == imp) == 1,
      s"netcdf: '$imp' is not an axis of '${vs.head.name}'")
    k
  }

  /** Row-major strides of a box with edge lengths `lens`. */
  private[sources] def rowMajorStrides(lens: Seq[Int]): Array[Long] =
    lens.scanRight(1L)(_ * _).tail.toArray

  /** Whether `name` is a 1-D coordinate variable over its own dim. */
  def isCoordVar(v: NcView, name: String): Boolean =
    v.vars.exists(x => x.name == name &&
      x.dimIds == Seq(v.dims.indexWhere(_.name == name)))
}

final class NcTable(path: String, schema: StructType,
    measure: Option[String], implicitAxis: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"netcdf:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NcScanBuilder(path, schema, measure, implicitAxis)
}

final class NcScanBuilder(path: String, fullSchema: StructType,
    measure: Option[String], implicitAxis: Option[String] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var hints: Array[sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the file's column order; an empty projection (count(*))
    // keeps one cheapest column for row counting
    required =
      if (requiredSchema.isEmpty) StructType(fullSchema.take(1))
      else StructType(fullSchema.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))
  /** Filters are SCAN-RANGE HINTS only: comparisons on the first axis
    * shrink the planned cell range (partition pruning on the time
    * axis of a huge file), but every filter is returned for Spark to
    * re-apply — correctness never depends on the pruning. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    hints = filters
    filters // Spark must still evaluate everything
  }
  override def pushedFilters(): Array[sources.Filter] = hints
  override def build(): Scan =
    new NcScan(path, fullSchema, required, measure, hints, implicitAxis)
}

final class NcScan(path: String, fullSchema: StructType,
    required: StructType, measure: Option[String],
    hints: Array[sources.Filter] = Array.empty,
    implicitAxis: Option[String] = None) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"netcdf $path [${required.fieldNames.mkString(",")}]" +
      implicitAxis.map(a => s" series along $a").getOrElse("") +
      (if (hints.nonEmpty) s" hints: ${hints.mkString(",")}" else "")
  override def toBatch: Batch = this

  /** Index range [lo, hi) of ANY axis surviving the filter hints.
    * The axis value per index is the coordinate variable when present
    * (must be non-decreasing for pruning) or the 1-based index. At
    * most 16M coordinate values are examined at planning time — the
    * axis metadata, never the measure data. Used for the first axis
    * in flat-range planning and for every axis in box planning. */
  private def axisRange(v: NcView, axis: NetCDF3.Dim,
      rows: Int): (Long, Long) = {
    val relevant = hints.flatMap {
      case sources.GreaterThan(a, x: Number) if a == axis.name =>
        Some(('>', x.doubleValue))
      case sources.GreaterThanOrEqual(a, x: Number) if a == axis.name =>
        Some(('g', x.doubleValue))
      case sources.LessThan(a, x: Number) if a == axis.name =>
        Some(('<', x.doubleValue))
      case sources.LessThanOrEqual(a, x: Number) if a == axis.name =>
        Some(('l', x.doubleValue))
      case sources.EqualTo(a, x: Number) if a == axis.name =>
        Some(('=', x.doubleValue))
      case _ => None
    }
    if (relevant.isEmpty || rows > (1 << 24)) return (0L, rows.toLong)
    val coords: Array[Double] =
      if (NetCDFSource.isCoordVar(v, axis.name)) v.slab(axis.name, 0, rows)
      else Array.tabulate(rows)(i => (i + 1).toDouble)
    // pruning must be CONSERVATIVE: an unsorted axis — or any NaN,
    // which breaks the total order binary search relies on — scans
    // fully rather than risk excluding live rows
    if (coords.exists(_.isNaN) ||
        coords.sliding(2).exists(w => w.length == 2 && w(0) > w(1)))
      return (0L, rows.toLong)
    var lo = 0L; var hi = rows.toLong
    relevant.foreach { case (op, x) =>
      def lowerBound(strict: Boolean): Long = { // first row NOT excluded
        var a = 0; var b = rows
        while (a < b) {
          val m = (a + b) >>> 1
          if (coords(m) < x || (strict && coords(m) == x)) a = m + 1 else b = m
        }
        a.toLong
      }
      def upperBound(strict: Boolean): Long = { // first row excluded
        var a = 0; var b = rows
        while (a < b) {
          val m = (a + b) >>> 1
          if (coords(m) < x || (!strict && coords(m) == x)) a = m + 1 else b = m
        }
        a.toLong
      }
      op match {
        case '>' => lo = lo max lowerBound(strict = true)
        case 'g' => lo = lo max lowerBound(strict = false)
        case '<' => hi = hi min upperBound(strict = true)
        case 'l' => hi = hi min upperBound(strict = false)
        case '=' => lo = lo max lowerBound(strict = false)
                    hi = hi min upperBound(strict = false)
      }
    }
    (lo min hi, hi)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val v = NcView.open(path)
    val vs = NetCDFSource.gridVars(v, measure)
    val axes = vs.head.dimIds.map(v.dims(_))
    val total = axes.map(_.length.toLong).product
    val imp = implicitAxis.map(NetCDFSource.implicitIndex(axes, vs, _))
    // per-axis pruning: the conjunctive comparison hints cut every
    // axis to a surviving index range, so the scan plans only the
    // predicate hyper-rectangle — the reference pushes subsets into
    // storage on ANY dimension (oph_subset_library.h:35 via
    // oph_filters.c:223); the chunk grid is this source's equivalent.
    // A cube-shaped scan's implicit axis is not a column and is never
    // cut: every row carries its whole series.
    val ranges = axes.indices.map(i =>
      if (imp.contains(i)) (0L, axes(i).length.toLong)
      else axisRange(v, axes(i), axes(i).length))
    if (ranges.exists(r => r._2 <= r._1) || total == 0) return Array.empty
    val chunkDimsOpt = v.chunkDimsOf(vs.head.name)
      .filter(_.size == axes.size)
    imp match {
      case Some(k) =>
        // cube-shaped: tiles span the implicit axis and cut the
        // explicit ones (see seriesGrain)
        val grain =
          NetCDFSource.seriesGrain(axes.map(_.length.toLong), chunkDimsOpt, k)
        require(grain.product <= NetCDFSource.MaxTileCells,
          s"netcdf: one tile of the series along '${axes(k).name}' holds " +
            s"${grain.product} cells, over ${NetCDFSource.MaxTileCells}; " +
            "read this variable without the cube-shaped mode")
        NetCDFSource.tileGrid(ranges, grain, parallelism)
      case None =>
        val innerConstrained = axes.zip(ranges).drop(1).exists {
          case (a, (lo, hi)) => lo > 0 || hi < a.length
        }
        // storage tiled on an INNER axis: a flat cell range's chunk
        // overlap test degenerates (an inner-axis chunk's flat bounding
        // range spans nearly the whole variable), so flat partitions
        // would each decode nearly every chunk — box partitions decode
        // each chunk exactly once whether or not a filter constrains it
        val ndChunked = chunkDimsOpt.exists(cd =>
          cd.zipWithIndex.drop(1).exists { case (c, i) => c < axes(i).length })
        if (innerConstrained || ndChunked)
          // an INNER axis is constrained (or tiled): plan the predicate
          // box as chunk-aligned tiles. Readers fetch each variable
          // with one box read that touches only the intersecting
          // chunks — a (lat, lon) subset of a (time, lat, lon) archive
          // reads a slab, not the world.
          NetCDFSource.tileGrid(ranges,
            chunkDimsOpt.getOrElse(1 +: axes.drop(1).map(_.length))
              .map(_.toLong), parallelism)
        else {
          // only the first axis (or nothing) is constrained: flat
          // contiguous cell ranges, chunk-grain aligned — one slab read
          // per variable per partition
          val rowCells = axes.drop(1).map(_.length.toLong).product max 1L
          val (loRow, hiRow) =
            if (axes.isEmpty) (0L, 1L) else ranges.head
          val (first, last) = (loRow * rowCells, (hiRow * rowCells) min total)
          val span = (last - first) max 0L
          if (span == 0) return Array.empty
          val slices = math.max(1, math.min(span, parallelism)).toInt
          val raw = (span + slices - 1) / slices
          // round the split up to the chunk grain: a boundary inside a
          // NetCDF-4 chunk would make BOTH partitions read+inflate it
          val step = ((raw + v.alignCells - 1) / v.alignCells) * v.alignCells
          // align the range start DOWN to the grain too
          val start = (first / v.alignCells) * v.alignCells
          (start until last by step).map(s =>
            NcPartition(s max first, math.min(s + step, last)): InputPartition)
            .filter(p => p.asInstanceOf[NcPartition].start <
              p.asInstanceOf[NcPartition].end)
            .toArray
        }
    }
  }

  private def parallelism: Long = org.apache.spark.sql.SparkSession.active
    .sparkContext.defaultParallelism.toLong

  override def createReaderFactory(): PartitionReaderFactory =
    new NcReaderFactory(path, required.fieldNames, measure, implicitAxis)
}

final case class NcPartition(start: Long, end: Long) extends InputPartition

/** A hyper-rectangle of the grid: `lens(i)` cells from `origin(i)`
  * along each axis — the unit of any-axis pruned planning. */
final case class NcBoxPartition(origin: Seq[Long], lens: Seq[Int])
    extends InputPartition

final class NcReaderFactory(path: String, projected: Array[String],
    measure: Option[String], implicitAxis: Option[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: NcPartition => new NcReader(path, projected, measure, p)
      case p: NcBoxPartition => implicitAxis match {
        case Some(imp) => new NcSeriesReader(path, projected, measure, imp, p)
        case None => new NcBoxReader(path, projected, measure, p)
      }
    }
}

/** Reads one flat cell range: each projected VARIABLE costs exactly one
  * offset slab read of `end-start` cells; projected DIMENSION columns
  * come from index arithmetic (+ one tiny coordinate-var read). */
final class NcReader(path: String, projected: Array[String],
    measure: Option[String], part: NcPartition)
    extends PartitionReader[InternalRow] {

  private val view = NcView.open(path)
  private val vs = NetCDFSource.gridVars(view, measure)
  private val axes = vs.head.dimIds.map(view.dims(_))
  private val shape = vs.head.dimIds.map(view.dims(_).length)
  private val n = (part.end - part.start).toInt

  // per projected column: a function flat-offset -> double
  private val columns: Array[Int => Double] = projected.map { name =>
    axes.indexWhere(_.name == name) match {
      case ax if ax >= 0 =>
        // stride of this axis in the row-major flat index
        val stride = shape.drop(ax + 1).map(_.toLong).product
        val len = shape(ax)
        val isCoordVar = NetCDFSource.isCoordVar(view, name)
        // the FIRST axis only ever touches its partition's index range
        // — read just that slice (a 10^9-step time axis would otherwise
        // cost every partition the whole coordinate array); inner axes
        // wrap modulo, so they read fully (they are small: lat/lon)
        val (coordBase, coords) =
          if (!isCoordVar) (0, None)
          else if (ax == 0 && stride > 0) {
            val lo = (part.start / stride).toInt
            val hi = ((part.end - 1) / stride).toInt
            (lo, Some(view.slab(name, lo, hi - lo + 1)))
          } else (0, Some(view.slab(name, 0, len)))
        (i: Int) => {
          val idx = (((part.start + i) / stride) % len).toInt
          coords.map(_(idx - coordBase)).getOrElse((idx + 1).toDouble)
        }
      case _ =>
        val slab = view.slab(name, part.start, n)
        (i: Int) => slab(i)
    }
  }

  // reuse one mutable row: get() runs once per CELL — per-row Seq
  // allocation and boxing would dominate the scan at scale
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      columns.length)
  private var pos = -1
  override def next(): Boolean = { pos += 1; pos < n }
  override def get(): InternalRow = {
    var i = 0
    while (i < columns.length) { row.update(i, columns(i)(pos)); i += 1 }
    row
  }
  override def close(): Unit = ()
}

/** Reads one hyper-rectangle (any-axis pruned planning): each
  * projected VARIABLE costs one box read touching only the storage
  * chunks the box intersects; projected DIMENSION columns come from
  * index arithmetic plus a per-axis coordinate slice no longer than
  * the box edge. */
final class NcBoxReader(path: String, projected: Array[String],
    measure: Option[String], part: NcBoxPartition)
    extends PartitionReader[InternalRow] {

  private val view = NcView.open(path)
  private val vs = NetCDFSource.gridVars(view, measure)
  private val axes = vs.head.dimIds.map(view.dims(_))
  private val lens = part.lens
  private val n = {
    val cells = lens.map(_.toLong).product
    require(cells <= Int.MaxValue,
      s"NcBoxReader: tile of $cells cells exceeds Int.MaxValue — " +
        "the planner must split this box (same guard as Hdf5.readBox)")
    cells.toInt
  }
  // row-major strides WITHIN the box
  private val boxStrides = NetCDFSource.rowMajorStrides(lens)

  private val columns: Array[Int => Double] = projected.map { name =>
    axes.indexWhere(_.name == name) match {
      case ax if ax >= 0 =>
        val stride = boxStrides(ax)
        val len = lens(ax)
        val o = part.origin(ax)
        val isCoordVar = NetCDFSource.isCoordVar(view, name)
        val coords: Option[Array[Double]] =
          if (!isCoordVar) None
          else Some(view.slab(name, o, len))
        (i: Int) => {
          val idx = ((i / stride) % len).toInt
          coords.map(_(idx)).getOrElse((o + idx + 1).toDouble)
        }
      case _ =>
        val slab = view.box(name, part.origin, lens)
        (i: Int) => slab(i)
    }
  }

  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      columns.length)
  private var pos = -1
  override def next(): Boolean = { pos += 1; pos < n }
  override def get(): InternalRow = {
    var i = 0
    while (i < columns.length) { row.update(i, columns(i)(pos)); i += 1 }
    row
  }
  override def close(): Unit = ()
}

/** Reads one tile of the cube-shaped mode: rows are the tile's
  * explicit cells in row-major order, each carrying its series along
  * the implicit axis (which the tile spans whole). The measure costs
  * one box read; every series is gathered from it by stride into a
  * primitive array — no per-cell row is built. */
final class NcSeriesReader(path: String, projected: Array[String],
    measure: Option[String], implicitAxis: String, part: NcBoxPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  private val view = NcView.open(path)
  private val vs = NetCDFSource.gridVars(view, measure)
  private val axes = vs.head.dimIds.map(view.dims(_))
  private val k = NetCDFSource.implicitIndex(axes, vs, implicitAxis)
  private val lens = part.lens
  private val seriesLen = lens(k)
  private val explicitAxes = axes.indices.filter(_ != k)
  private val rows = {
    val n = explicitAxes.map(lens(_).toLong).product
    require(n * seriesLen <= Int.MaxValue,
      s"NcSeriesReader: tile of ${n * seriesLen} cells exceeds Int.MaxValue")
    n.toInt
  }
  // row-major strides within the box, and over the explicit axes
  // alone (the row index)
  private val boxStrides = NetCDFSource.rowMajorStrides(lens)
  private val rowStrides: Map[Int, Int] = explicitAxes.zip(
    NetCDFSource.rowMajorStrides(explicitAxes.map(lens)).map(_.toInt)).toMap

  /** Box offset of row `r`'s first series element. */
  private def base(r: Int): Int = {
    var off = 0L
    explicitAxes.foreach { a =>
      off += ((r / rowStrides(a)) % lens(a)) * boxStrides(a)
    }
    off.toInt
  }

  private val columns: Array[Int => Any] = projected.map { name =>
    axes.indexWhere(_.name == name) match {
      case ax if ax >= 0 =>
        val stride = rowStrides(ax)
        val len = lens(ax)
        val o = part.origin(ax)
        val coords =
          if (NetCDFSource.isCoordVar(view, name)) Some(view.slab(name, o, len))
          else None
        (r: Int) => {
          val idx = (r / stride) % len
          coords.map(_(idx)).getOrElse((o + idx + 1).toDouble)
        }
      case _ if name == s"__dim_$implicitAxis" =>
        val coords =
          if (NetCDFSource.isCoordVar(view, implicitAxis))
            view.slab(implicitAxis, 0, seriesLen)
          else Array.tabulate(seriesLen)(i => (i + 1).toDouble)
        val arr = UnsafeArrayData.fromPrimitiveArray(coords)
        (_: Int) => arr
      case _ =>
        val box = view.box(name, part.origin, lens)
        val step = boxStrides(k).toInt
        (r: Int) => {
          val series = new Array[Double](seriesLen)
          var i = 0; var src = base(r)
          while (i < seriesLen) { series(i) = box(src); i += 1; src += step }
          UnsafeArrayData.fromPrimitiveArray(series)
        }
    }
  }

  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      columns.length)
  private var pos = -1
  override def next(): Boolean = { pos += 1; pos < rows }
  override def get(): InternalRow = {
    var i = 0
    while (i < columns.length) { row.update(i, columns(i)(pos)); i += 1 }
    row
  }
  override def close(): Unit = ()
}
