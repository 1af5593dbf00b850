package graft.sources

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

import org.apache.spark.TaskContext

/**
 * NetCDF-4 — the netCDF data model carried in HDF5 — on top of the
 * pure-JVM [[Hdf5]] subset. Maps the public netCDF-4 on-disk
 * conventions to the same dims/vars/attributes view [[NetCDF3]]
 * exposes, so `oph_importnc` (`/root/reference/src/oph_json/
 * oph_json_objkeys.h:114`) transparently consumes both classic and
 * NetCDF-4 archives:
 *
 *  - a DIMENSION is a dataset tagged `CLASS="DIMENSION_SCALE"` with
 *    its id in `_Netcdf4Dimid`; a dim WITHOUT a coordinate variable
 *    carries the "This is a netCDF dimension but not a netCDF
 *    variable" sentinel in `NAME` (and no allocated storage);
 *  - a VARIABLE is any other dataset; its dims resolve through the
 *    `DIMENSION_LIST` attribute (vlen of object references to the
 *    scale datasets), with a shape-match fallback;
 *  - global attributes live on the root group's object header.
 *
 * Writing splits into [[write]] (in-memory data, the NetCDF3.write
 * mirror) and the lower-level [[emit]] used by the engine's
 * DISTRIBUTED export: executors deflate their own chunks in parallel
 * and emit streams the metadata + compressed payloads sequentially —
 * the driver never holds the data, only the chunk size table.
 */
object NetCDF4 {

  final case class V4Var(name: String, dimIds: Seq[Int], ds: Hdf5.Dataset)

  final case class Model(
      dims: Seq[NetCDF3.Dim],
      gatts: Seq[NetCDF3.Att],
      vars: Seq[V4Var]) {
    def dimLength(id: Int): Int = dims(id).length
    def shapeOf(v: V4Var): Seq[Int] = v.dimIds.map(dimLength)
    def varByName(n: String): V4Var = vars.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no variable '$n'"))
  }

  private val NotAVariable = "This is a netCDF dimension but not a netCDF variable"

  def open(path: String): Model = {
    val f = Hdf5.open(path)
    val scales = f.datasets.filter(
      _.attr("CLASS").exists(_.text == "DIMENSION_SCALE"))
    // dim order: _Netcdf4Dimid when present, else file order
    val ordered = scales.zipWithIndex.sortBy { case (s, i) =>
      s.attr("_Netcdf4Dimid").flatMap(_.numbers.headOption)
        .map(_.toInt).getOrElse(i)
    }.map(_._1)
    val dims = ordered.map { s =>
      val len = s.shape.headOption.getOrElse(0L)
      // HDF5 dims are u64; the Dim model is Int — fail LOUDLY rather
      // than silently truncating a >2^31 axis
      if (len > Int.MaxValue) throw new Hdf5.FormatError(
        s"$path: dimension ${s.name} length $len exceeds the Int dim model")
      NetCDF3.Dim(s.name, len.toInt)
    }
    val idOfAddr: Map[Long, Int] =
      ordered.zipWithIndex.map { case (s, i) => s.addr -> i }.toMap
    def resolveDims(ds: Hdf5.Dataset): Seq[Int] = {
      val viaList = ds.attr("DIMENSION_LIST").map(_.refs.flatMap(idOfAddr.get))
        .filter(_.size == ds.shape.size)
      viaList.getOrElse {
        // fallback: greedy match of each axis extent against dim lengths
        var used = Set.empty[Int]
        ds.shape.map { n =>
          val id = dims.indices.find(i => dims(i).length == n && !used(i))
            .orElse(dims.indices.find(dims(_).length == n))
            .getOrElse(throw new Hdf5.FormatError(
              s"$path: ${ds.name}: no dimension of length $n"))
          used += id
          id
        }
      }
    }
    // symbol-table order is alphabetical; ascending object-header
    // address recovers creation (declaration) order
    val dataVars = f.datasets.filterNot(scales.contains).sortBy(_.addr)
      .map(ds => V4Var(ds.name, resolveDims(ds), ds))
    // a scale that IS a netCDF variable (coordinate variable)
    val coordVars = ordered.zipWithIndex.collect {
      case (s, i) if !s.attr("NAME").exists(_.text.startsWith(NotAVariable)) =>
        V4Var(s.name, Seq(i), s)
    }
    val gatts = f.rootAttrs.filterNot(_.name.startsWith("_Netcdf")).map(a =>
      NetCDF3.Att(a.name, if (a.text.nonEmpty) NetCDF3.NcChar else NetCDF3.NcDouble,
        a.text, a.numbers))
    Model(dims, gatts, coordVars ++ dataVars)
  }

  def readSlab(path: String, v: V4Var, start: Long, count: Int): Array[Double] =
    Hdf5.readSlab(path, v.ds, start, count)

  // =========================================================== WRITE

  private val Undef = -1L

  /** Chunk geometry of one variable — a general n-D chunk grid.
    * [[chunkGrid]] builds the row-block special case (first-dim tiles,
    * full-width trailing dims — what netcdf-c's default chunking and
    * the distributed exporter emit); explicit `chunkDims` tile every
    * axis, which is what real archives use and what any-axis subset
    * pruning needs to skip I/O on. Chunks enumerate in row-major order
    * of their grid indices — the order HDF5's v1 chunk B-tree keys
    * require (the LAST row-major chunk has the maximal index on every
    * axis, so the B-tree end key of origin+chunkDims stays correct). */
  private[sources] final case class ChunkGrid(shape: Seq[Long],
      chunkDims: Seq[Int]) {
    val rowCells: Long = shape.drop(1).product max 1L
    val chunkRows: Int = chunkDims.headOption.getOrElse(1)
    val cellsPerChunk: Int = chunkDims.map(_.toLong).product.toInt
    /** Chunk count along each axis. */
    val axisChunks: Seq[Int] =
      shape.zip(chunkDims).map { case (s, c) => ((s + c - 1) / c).toInt }
    val nChunks: Int =
      if (shape.product == 0) 0 else axisChunks.product max 1
    def origin(c: Int): Seq[Long] = {
      // legacy scalar-variable grids carry chunkDims=Seq(1) over an
      // EMPTY shape (chunkGrid's historical contract) — there is one
      // chunk at the zero origin, not a grid to decompose
      if (axisChunks.isEmpty) return chunkDims.map(_ => 0L)
      val out = new Array[Long](chunkDims.size)
      var rem = c
      var i = chunkDims.size - 1
      while (i >= 0) {
        out(i) = (rem % axisChunks(i)).toLong * chunkDims(i)
        rem /= axisChunks(i)
        i -= 1
      }
      out.toSeq
    }
  }

  private[sources] def chunkGrid(shape: Seq[Long], chunkCells: Int): ChunkGrid = {
    val rowCells = shape.drop(1).product max 1L
    val chunkRows = math.max(1L, math.min(shape.headOption.getOrElse(1L) max 1L,
      chunkCells / rowCells max 1L)).toInt
    ChunkGrid(shape, chunkRows +: shape.drop(1).map(_.toInt))
  }

  /** One variable for [[emit]]: geometry plus the STORED byte size of
    * each compressed chunk, in chunk order. */
  private[sources] final case class VarMeta(name: String, dimIds: Seq[Int],
      grid: ChunkGrid, chunkSizes: Seq[Int],
      atts: Seq[(String, String)] = Seq.empty)

  /** Gather one chunk's cells from a flat row-major array: the full
    * chunk box in row-major box order, zero-padded where the chunk
    * overhangs the shape (HDF5 stores full edge chunks). */
  private def gatherChunk(data: Array[Double], shape: Seq[Long],
      chunkDims: Seq[Int], origin: Seq[Long]): Array[Double] = {
    val rank = shape.size
    val cells = chunkDims.map(_.toLong).product.toInt
    val out = new Array[Double](cells)
    val strides = new Array[Long](rank)
    var s = 1L
    var d = rank - 1
    while (d >= 0) { strides(d) = s; s *= shape(d); d -= 1 }
    val local = new Array[Long](rank)
    var c = 0
    while (c < cells) {
      var flat = 0L; var inBounds = true
      var i = 0
      while (i < rank) {
        val g = origin(i) + local(i)
        if (g >= shape(i)) inBounds = false
        flat += g * strides(i)
        i += 1
      }
      if (inBounds) out(c) = data(flat.toInt)
      var k = rank - 1
      var carry = true
      while (k >= 0 && carry) {
        local(k) += 1
        if (local(k) == chunkDims(k)) local(k) = 0 else carry = false
        k -= 1
      }
      c += 1
    }
    out
  }

  /** Deflate one chunk's values (padding to the full chunk cell count
    * — HDF5 stores full edge chunks); see [[deflateChunk]]. */
  private[sources] def compressChunk(values: Array[Double], cells: Int,
      deflateLevel: Int, shuffle: Boolean,
      fletcher32: Boolean = false): Array[Byte] = {
    val buf = ByteBuffer.allocate(cells * 8).order(ByteOrder.LITTLE_ENDIAN)
    buf.asDoubleBuffer().put(values, 0, math.min(values.length, cells))
    deflateChunk(buf.array(), deflateLevel, shuffle, fletcher32)
  }

  /** Run one chunk's little-endian bytes through the write pipeline
    * [shuffle,] [fletcher32,] deflate — the netcdf-c filter order, so
    * external readers verify the checksum after inflate. Executor-side
    * half of the distributed export. */
  private[sources] def deflateChunk(raw: Array[Byte], deflateLevel: Int,
      shuffle: Boolean, fletcher32: Boolean): Array[Byte] = {
    // shuffle filter: transpose the 8 byte planes so deflate sees runs
    // of high-order bytes (the reader runs the pipeline in reverse)
    val shuffled =
      if (!shuffle) raw
      else {
        val n = raw.length / 8
        val sh = new Array[Byte](raw.length)
        var b = 0
        while (b < 8) {
          var j = 0
          while (j < n) { sh(b * n + j) = raw(j * 8 + b); j += 1 }
          b += 1
        }
        sh
      }
    val src =
      if (!fletcher32) shuffled
      else {
        val c = Hdf5.fletcher32(shuffled, shuffled.length)
        val withSum = java.util.Arrays.copyOf(shuffled, shuffled.length + 4)
        withSum(shuffled.length) = c.toByte
        withSum(shuffled.length + 1) = (c >> 8).toByte
        withSum(shuffled.length + 2) = (c >> 16).toByte
        withSum(shuffled.length + 3) = (c >> 24).toByte
        withSum
      }
    val defl = new Deflater(deflateLevel)
    defl.setInput(src); defl.finish()
    val out = new ByteArrayOutputStream
    val tmp = new Array[Byte](64 * 1024)
    while (!defl.finished()) out.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    out.toByteArray
  }

  /** Mirror of [[NetCDF3.write]]: double variables over shared dims,
    * emitted as netCDF-4/HDF5. Variables are chunked by row-block and
    * deflated; dims with a same-named 1-D variable become coordinate
    * scales carrying that data, others are anonymous scales. */
  def write(path: String,
      dims: Seq[NetCDF3.Dim],
      vars: Seq[(String, Seq[Int], Array[Double])],
      gatts: Seq[(String, String)] = Seq.empty,
      deflateLevel: Int = 1,
      chunkCells: Int = 256 * 1024,
      shuffle: Boolean = false,
      varAtts: Map[String, Seq[(String, String)]] = Map.empty,
      fletcher32: Boolean = false,
      denseGroups: Boolean = false,
      /** Explicit n-D chunk dims per variable (real archives tile
        * EVERY axis — the layout any-axis subset pruning skips I/O
        * on); variables absent here keep the row-block default. */
      chunkDimsOf: Map[String, Seq[Int]] = Map.empty,
      /** Coordinate variables with at most this many cells are stored
        * COMPACT (layout class 0, bytes inline in the object header —
        * what h5py/"latest" netCDF-c emit for tiny datasets). 0 = all
        * coordinates stay contiguous. */
      compactCoordCells: Int = 0): Unit = {
    val coordOf: Map[Int, Array[Double]] =
      dims.indices.flatMap { i =>
        vars.find(v => v._1 == dims(i).name && v._2 == Seq(i)).map(i -> _._3)
      }.toMap
    val plainVars = vars.filterNot(v =>
      coordOf.contains(v._2.headOption.getOrElse(-1)) &&
        dims.indices.exists(i => dims(i).name == v._1 && v._2 == Seq(i)))
    def gridFor(name: String, dimIds: Seq[Int]): ChunkGrid = {
      val shape = dimIds.map(dims(_).length.toLong)
      chunkDimsOf.get(name) match {
        case Some(cd) =>
          require(cd.size == shape.size && cd.forall(_ > 0) &&
            cd.zip(shape).forall { case (c, s) => c <= math.max(s, 1L) },
            s"netcdf4 writer: chunk dims $cd invalid for $name shape $shape")
          ChunkGrid(shape, cd)
        case None => chunkGrid(shape, chunkCells)
      }
    }
    // compress every chunk up front (in-memory data), then stream
    val blobs: Seq[Seq[Array[Byte]]] = plainVars.map { case (name, dimIds, data) =>
      val grid = gridFor(name, dimIds)
      val shape = dimIds.map(dims(_).length.toLong)
      (0 until grid.nChunks).map { c =>
        val slice = gatherChunk(data, shape, grid.chunkDims, grid.origin(c))
        compressChunk(slice, grid.cellsPerChunk, deflateLevel, shuffle,
          fletcher32)
      }
    }
    val metas = plainVars.zip(blobs).map { case ((name, dimIds, _), bs) =>
      VarMeta(name, dimIds, gridFor(name, dimIds),
        bs.map(_.length), varAtts.getOrElse(name, Seq.empty))
    }
    // attributes of a coordinate variable attach to its scale dataset
    val coordAtts = dims.indices.flatMap(i =>
      varAtts.get(dims(i).name).filter(_ => coordOf.contains(i)).map(i -> _)
    ).toMap
    emit(path, dims, coordOf, metas, gatts, deflateLevel, shuffle,
      (vi, ci, os) => os.write(blobs(vi)(ci)), coordAtts, fletcher32,
      denseGroups, compactCoordCells)
  }

  /** One chunk's sidecar blob: every variable's compressed bytes back
    * to back, written by task attempt `attempt`. */
  private final case class ChunkBlob(chunk: Int, attempt: Int, sizes: Array[Int]) {
    def fileName: String = f"chunk-$chunk%08d-a$attempt"
  }

  /**
   * DISTRIBUTED table export — the scale path for `oph_exportnc` to
   * NetCDF-4: every column of `df` (all DoubleType) becomes a deflated
   * chunked variable over one `row` dimension.
   *
   * Compressed chunk sizes are unknown until compression, so the HDF5
   * layout is planned last. The input plan runs ONCE and no row is
   * shuffled:
   *  - SEGMENT pass: one job over the plan; each partition spills its
   *    rows column-major to a segment file in the `out.chunks` sidecar
   *    directory and returns only its row count ([[ColumnSegments]]);
   *  - the driver turns those counts into global row offsets;
   *  - CHUNK pass: one job, one task per chunk; each task reads only
   *    the byte ranges of the segments that overlap its rows, checks
   *    it saw exactly its row count, deflates every column (padded to
   *    the chunk grid's cell count) and writes one sidecar blob;
   *  - the DRIVER collects only the chunk SIZE table (nChunks x nVars
   *    ints), plans the HDF5 layout, and streams metadata + sidecar
   *    bytes sequentially into the final file — O(compressed bytes)
   *    IO, O(size table) memory, no decompression.
   *
   * The driver and every executor must share the filesystem that holds
   * `out` (always true in local mode; the reference exports to a
   * server-side directory too). The sidecar directory is removed
   * whether the export succeeds or fails, and a failed assembly removes
   * its partial `out`.
   *
   * Returns the exported row count.
   */
  def writeTableDistributed(df: org.apache.spark.sql.DataFrame,
      out: String,
      gatts: Seq[(String, String)] = Seq.empty,
      chunkRows: Int = 256 * 1024,
      deflateLevel: Int = 1,
      shuffle: Boolean = false,
      fletcher32: Boolean = false,
      denseGroups: Boolean = false): Long = {
    val names = df.columns.toSeq
    val nV = names.size
    ColumnSegments.withSegments(df, out) { segs =>
      val total = segs.total
      if (total > Int.MaxValue)
        throw new Hdf5.FormatError(
          s"netcdf4 export: $total rows exceed the Int dim model — " +
            "split the cube first")
      val grid = chunkGrid(Seq(total), chunkRows)
      val nChunks = grid.nChunks
      val blobs: Array[ChunkBlob] =
        if (nChunks == 0) Array.empty
        else df.sparkSession.sparkContext
          .parallelize(0 until nChunks, nChunks).map { cid =>
            val from = cid.toLong * grid.chunkRows
            val rowsIn = math.min(grid.chunkRows.toLong, total - from).toInt
            // zero-filled past rowsIn: the edge chunk's padding
            val raw = Array.fill(nV)(new Array[Byte](grid.cellsPerChunk * 8))
            val seen = segs.readRows(from, rowsIn, raw)
            if (seen != rowsIn) throw new IllegalStateException(
              s"netcdf4 export: chunk $cid saw $seen of $rowsIn rows")
            val bs = raw.map(deflateChunk(_, deflateLevel, shuffle, fletcher32))
            val blob = ChunkBlob(cid, TaskContext.get().attemptNumber(),
              bs.map(_.length))
            val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(
              new java.io.File(segs.dir, blob.fileName)))
            try bs.foreach(os.write) finally os.close()
            blob
          }.collect()
      val metas = names.zipWithIndex.map { case (n, j) =>
        VarMeta(n, Seq(0), grid, blobs.map(_.sizes(j)).toSeq)
      }
      // var-major assembly: seek to this var's blob inside the chunk's
      // sidecar, copy exactly its bytes
      emit(out, Seq(NetCDF3.Dim("row", total.toInt)), Map.empty, metas,
        gatts, deflateLevel, shuffle, fletcher32 = fletcher32,
        denseGroups = denseGroups,
        payload = (vi, ci, os) => {
          val blob = blobs(ci)
          val f = new java.io.RandomAccessFile(
            new java.io.File(segs.dir, blob.fileName), "r")
          try {
            f.seek(blob.sizes.take(vi).map(_.toLong).sum)
            val buf = new Array[Byte](blob.sizes(vi))
            f.readFully(buf)
            os.write(buf)
          } finally f.close()
        })
      total
    }
  }

  /**
   * Stream a complete netCDF-4/HDF5 file: superblock, local heap,
   * dimension-scale datasets (+ coordinate data), global heap
   * (DIMENSION_LIST references), variable object headers, then each
   * variable's chunks — whose bytes come from `payload(varIdx,
   * chunkIdx, out)`, so callers can hand over pre-compressed chunks
   * from anywhere (memory, executor sidecar files) — chunk B-trees,
   * symbol table, and the root group.
   *
   * All addresses are planned from block SIZES before a byte is
   * written; the stream position is asserted against the plan.
   */
  private[sources] def emit(path: String,
      dims: Seq[NetCDF3.Dim],
      coordOf: Map[Int, Array[Double]],
      varMetas: Seq[VarMeta],
      gatts: Seq[(String, String)],
      deflateLevel: Int,
      shuffle: Boolean,
      payload: (Int, Int, OutputStream) => Unit,
      coordAtts: Map[Int, Seq[(String, String)]] = Map.empty,
      fletcher32: Boolean = false,
      denseGroups: Boolean = false,
      compactCoordCells: Int = 0): Unit = {
    require(dims.forall(_.length >= 0), "netcdf4: negative dimension")
    // layout class 0 (inline-in-message) for small coordinate scales —
    // what h5py/netCDF-c "latest" emit for tiny datasets. Spec caps
    // compact storage at 64 KiB; stay under it with the cell bound.
    require(compactCoordCells.toLong * 8 < 65536,
      s"netcdf4 writer: compactCoordCells=$compactCoordCells exceeds " +
        "the 64 KiB compact-layout cap")
    val compactCoord: Set[Int] = coordOf.keySet.filter(i =>
      dims(i).length <= compactCoordCells)

    def pad8(n: Int): Int = (n + 7) & ~7

    final class B {
      val o = new ByteArrayOutputStream
      def u8(v: Int): B = { o.write(v & 0xFF); this }
      def u16(v: Int): B = { u8(v); u8(v >> 8) }
      def u32(v: Long): B = { u16(v.toInt); u16((v >> 16).toInt) }
      def u64(v: Long): B = { u32(v); u32(v >> 32) }
      def raw(b: Array[Byte]): B = { o.write(b); this }
      def str(s: String): B = raw(s.getBytes("UTF-8"))
      def padTo8(): B = { while (o.size % 8 != 0) u8(0); this }
      def bytes: Array[Byte] = o.toByteArray
    }

    def dtDouble: Array[Byte] = new B()
      .u8(0x11).u8(0x20).u8(0x3F).u8(0x00).u32(8)
      .u16(0).u16(64).u8(52).u8(11).u8(0).u8(52).u32(1023).bytes
    def dtInt: Array[Byte] =
      new B().u8(0x10).u8(0x08).u8(0).u8(0).u32(4).u16(0).u16(32).bytes
    def dtString(n: Int): Array[Byte] =
      new B().u8(0x13).u8(0).u8(0).u8(0).u32(n).bytes
    def dtRef: Array[Byte] =
      new B().u8(0x17).u8(0).u8(0).u8(0).u32(8).bytes
    def dtVlenRef: Array[Byte] =
      new B().u8(0x19).u8(0).u8(0).u8(0).u32(16).raw(dtRef).bytes
    def dsScalar: Array[Byte] =
      new B().u8(1).u8(0).u8(0).u8(0).u32(0).bytes
    def dsSimple(shape: Seq[Long]): Array[Byte] = {
      val b = new B().u8(1).u8(shape.size).u8(0).u8(0).u32(0)
      shape.foreach(b.u64)
      b.bytes
    }

    def attrMsg(name: String, dt: Array[Byte], ds: Array[Byte],
        data: Array[Byte]): Array[Byte] = {
      val nb = name.getBytes("UTF-8") :+ 0.toByte
      val b = new B().u8(1).u8(0).u16(nb.length).u16(dt.length).u16(ds.length)
      b.raw(nb); b.raw(new Array[Byte](pad8(nb.length) - nb.length))
      b.raw(dt); b.raw(new Array[Byte](pad8(dt.length) - dt.length))
      b.raw(ds); b.raw(new Array[Byte](pad8(ds.length) - ds.length))
      b.raw(data).bytes
    }
    def strAttr(name: String, v: String): Array[Byte] = {
      val vb = v.getBytes("UTF-8") :+ 0.toByte
      attrMsg(name, dtString(vb.length), dsScalar, vb)
    }
    def intAttr(name: String, v: Int): Array[Byte] =
      attrMsg(name, dtInt, dsScalar, new B().u32(v).bytes)

    /** v1 object header: prefix + 4-pad + messages (each padded to 8). */
    def objectHeader(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
      val body = new B()
      msgs.foreach { case (t, d) =>
        val sz = pad8(d.length)
        body.u16(t).u16(sz).u8(0).u8(0).u8(0).u8(0)
        body.raw(d).raw(new Array[Byte](sz - d.length))
      }
      val bb = body.bytes
      new B().u8(1).u8(0).u16(msgs.size).u32(1).u32(bb.length).u32(0)
        .raw(bb).bytes
    }

    val fillMsg: Array[Byte] = new B().u8(2).u8(2).u8(2).u8(0).bytes

    // ---- local heap: "" at offset 0, then every dataset name
    val dsNames = (dims.map(_.name) ++ varMetas.map(_.name)).distinct
    val heapOffsets = scala.collection.mutable.Map.empty[String, Long]
    val heapData = {
      val b = new B().u8(0).padTo8()
      dsNames.foreach { n =>
        heapOffsets(n) = b.o.size.toLong
        b.str(n).u8(0).padTo8()
      }
      b.bytes
    }

    val rank1 = dims.indices.map(i => Seq(dims(i).length.toLong))
    def scaleMsgs(i: Int, dataAddr: Long): Seq[(Int, Array[Byte])] = {
      val name = dims(i).name
      val isCoord = coordOf.contains(i)
      val layout =
        if (compactCoord(i)) {
          // compact: size(2) + the element bytes inline in the message
          val data = coordOf(i)
          val b = new B().u8(3).u8(0).u16(data.length * 8)
          val buf = ByteBuffer.allocate(data.length * 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          data.foreach(buf.putDouble)
          b.raw(buf.array()).bytes
        } else new B().u8(3).u8(1).u64(dataAddr)
          .u64(dims(i).length.toLong * 8).bytes
      Seq(
        0x0001 -> dsSimple(rank1(i)),
        0x0003 -> dtDouble,
        0x0005 -> fillMsg,
        0x0008 -> layout,
        0x000C -> strAttr("CLASS", "DIMENSION_SCALE"),
        0x000C -> strAttr("NAME",
          if (isCoord) name
          else s"$NotAVariable. ${dims(i).length}"),
        0x000C -> intAttr("_Netcdf4Dimid", i)) ++
        coordAtts.getOrElse(i, Seq.empty).map { case (k, v) =>
          0x000C -> strAttr(k, v)
        }
    }
    def varMsgs(p: VarMeta, btreeAddr: Long, gcolAddr: Long,
        gcolBase: Int): Seq[(Int, Array[Byte])] = {
      val dimList = {
        val data = new B()
        p.dimIds.indices.foreach { k =>
          data.u32(1).u64(gcolAddr).u32(gcolBase + k)
        }
        attrMsg("DIMENSION_LIST", dtVlenRef,
          dsSimple(Seq(p.dimIds.size.toLong)), data.bytes)
      }
      Seq(
        0x0001 -> dsSimple(p.grid.shape),
        0x0003 -> dtDouble,
        0x0005 -> fillMsg,
        0x000B -> {
          // v1 pipeline, in application order:
          // [shuffle,] [fletcher32,] deflate (the netcdf-c call order —
          // checksum covers the shuffled bytes, verified post-inflate)
          val nf = 1 + (if (shuffle) 1 else 0) + (if (fletcher32) 1 else 0)
          val b = new B().u8(1).u8(nf).u16(0).u32(0)
          if (shuffle) b.u16(2).u16(0).u16(0).u16(1).u32(8).u32(0)
          if (fletcher32) b.u16(3).u16(0).u16(0).u16(0)
          b.u16(1).u16(0).u16(0).u16(1).u32(deflateLevel).u32(0)
          b.bytes
        },
        0x0008 -> {
          val b = new B().u8(3).u8(2).u8(p.grid.shape.size + 1).u64(btreeAddr)
          p.grid.chunkDims.foreach(d => b.u32(d.toLong))
          b.u32(8)
          b.bytes
        },
        0x000C -> dimList) ++
        p.atts.map { case (k, v) => 0x000C -> strAttr(k, v) }
    }

    // chunk B-tree geometry: leaves of <=32 entries (+ level-1 root).
    // The superblock is v1 with indexed-storage K=128 so external HDF5
    // readers size internal-node buffers at 2K=256 — a v0 superblock
    // implies the default K=16 and libhdf5 rejects a root with >32
    // children, making >1024-chunk files unreadable outside this repo
    val keySize = (rank: Int) => 8 + 8 * (rank + 1)
    def btreeNodeSize(rank: Int, used: Int): Int =
      24 + used * (keySize(rank) + 8) + keySize(rank)
    final case class BtPlan(leaves: Seq[Seq[Int]], hasRoot: Boolean)
    def btPlan(p: VarMeta): BtPlan = {
      val groups = (0 until p.grid.nChunks).grouped(32).map(_.toSeq).toSeq
      if (groups.size > 256) throw new Hdf5.FormatError(
        s"${p.name}: ${p.grid.nChunks} chunks exceed the writer's B-tree plan")
      BtPlan(groups, groups.size > 1)
    }
    val btPlans = varMetas.map(btPlan)

    // global heap: one 8-byte ref object per (var, axis)
    val nRefs = varMetas.map(_.dimIds.size).sum
    val gcolSize = math.max(4096L, 16L + 24L * nRefs + 16L)
    val gcolBase = varMetas.scanLeft(1)((a, p) => a + p.dimIds.size)

    // sizes: OH sizes are independent of the addresses they embed
    val scaleOhSize = dims.indices.map(i =>
      objectHeader(scaleMsgs(i, 0L)).length)
    val scaleDataSize = dims.indices.map(i =>
      if (coordOf.contains(i) && !compactCoord(i))
        dims(i).length.toLong * 8
      else 0L)
    val varOhSize = varMetas.map(p =>
      objectHeader(varMsgs(p, 0L, 0L, 1)).length)
    // netcdf-c's threshold: past 8 root links libhdf5 converts the
    // group to dense storage; mirror it (or force via denseGroups)
    val dense = denseGroups || dsNames.size > 8
    // dense root group: the two address args are (fractal heap hdr,
    // name-index v2 B-tree hdr); old-style: (group B-tree, local heap)
    val rootMsgsOf = (a: Long, b: Long) =>
      (if (dense) 0x0002 -> new B().u8(0).u8(0).u64(a).u64(b).bytes
       else 0x0011 -> new B().u64(a).u64(b).bytes) +:
        gatts.map { case (k, v) => 0x000C -> strAttr(k, v) }
    val rootOhSize = objectHeader(rootMsgsOf(0L, 0L)).length
    // dense-link plan: every link-message body in ONE fractal-heap
    // direct block (power-of-two sized), indexed by a single-leaf v2
    // B-tree of (name hash, heap id) records
    def linkBody(name: String, oh: Long): Array[Byte] = {
      val nb = name.getBytes("UTF-8")
      val b = new B().u8(1) // link message version
      if (nb.length > 255) b.u8(1).u16(nb.length) else b.u8(0).u8(nb.length)
      b.raw(nb).u64(oh).bytes
    }
    val denseBodySizes = dsNames.map(n => linkBody(n, 0L).length)
    if (dense) {
      require(denseBodySizes.forall(_ <= 4096),
        "netcdf4 writer: link name exceeds the 4096-byte managed-object cap")
      require(dsNames.size <= 65535,
        "netcdf4 writer: too many root links for a single-leaf v2 B-tree")
    }
    val FhDbHeader = 4 + 1 + 8 + 4 + 4 // sig, ver, hdr addr, 4B offset, cksum
    val fhObjOff = denseBodySizes.scanLeft(FhDbHeader.toLong)(_ + _)
    def pow2ceil(v: Long): Long = { var s = 512L; while (s < v) s <<= 1; s }
    val fhBlockSize = pow2ceil(fhObjOff.last)
    val btNodeSize = pow2ceil(10L + 11L * dsNames.size)

    // ---- assign addresses; the plan must `take` blocks in the EXACT
    // emission order
    var at = 100L // superblock v1 (96 + indexed-storage K field)
    def take(n: Long): Long = { val a = at; at += n; a }
    val heapDataAddr = if (dense) Undef else take(heapData.length)
    val heapHdrAddr = if (dense) Undef else take(32)
    // per dim: OH then (for coordinates) its contiguous data
    val scaleOhAddr = new Array[Long](dims.size)
    val scaleDataAddr = new Array[Long](dims.size)
    dims.indices.foreach { i =>
      scaleOhAddr(i) = take(scaleOhSize(i))
      scaleDataAddr(i) =
        if (coordOf.contains(i) && !compactCoord(i))
          take(scaleDataSize(i))
        else Undef
    }
    val gcolAddr = take(gcolSize)
    val varOhAddr = varMetas.indices.map(i => take(varOhSize(i)))
    // per var: chunk data, B-tree leaves, optional level-1 root
    val chunkAddr = Array.ofDim[Seq[Long]](varMetas.size)
    val leafAddr = Array.ofDim[Seq[Long]](varMetas.size)
    val btRootAddr = Array.ofDim[Long](varMetas.size)
    varMetas.zipWithIndex.foreach { case (p, i) =>
      val bt = btPlans(i)
      chunkAddr(i) = p.chunkSizes.map(sz => take(sz.toLong))
      leafAddr(i) = bt.leaves.map(l =>
        take(btreeNodeSize(p.grid.shape.size, l.size)))
      btRootAddr(i) =
        if (bt.hasRoot) take(btreeNodeSize(p.grid.shape.size, bt.leaves.size))
        else leafAddr(i).headOption.getOrElse(Undef)
    }
    val (fhDirectAddr, fhHdrAddr, btLeafAddr, btHdrAddr) =
      if (dense) (take(fhBlockSize), take(146L), take(btNodeSize), take(38L))
      else (Undef, Undef, Undef, Undef)
    val snodAddr = if (dense) Undef else take(8L + 40L * dsNames.size)
    val gbtreeAddr = if (dense) Undef else take(24L + 8L * 3)
    val rootOhAddr = take(rootOhSize)
    val eof = at

    // ---- stream the file; `pos` asserts each block lands on plan
    val fos = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20)
    var pos = 0L
    def putBytes(b: Array[Byte]): Unit = { fos.write(b); pos += b.length }
    def expect(addr: Long, what: String): Unit =
      if (pos != addr) throw new Hdf5.FormatError(
        s"netcdf4 writer: $what planned @$addr, streaming @$pos")
    try {
      // superblock v1: like v0 plus the indexed-storage internal-node K
      val sb = new B()
      sb.raw(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
      sb.u8(1).u8(0).u8(0).u8(0).u8(0).u8(8).u8(8).u8(0)
      // leaf K, internal K, file-consistency flags (u32), then the
      // v1-only indexed-storage K + reserved — flags precede the K
      // fields per the HDF5 spec (and our own reader, Hdf5.scala:172)
      sb.u16(dsNames.size max 4).u16(16).u32(0).u16(128).u16(0)
      sb.u64(0).u64(Undef).u64(eof).u64(Undef)
      // root symbol-table entry: old-style caches the group B-tree +
      // local heap (cache type 1); a dense root has nothing to cache
      if (dense) sb.u64(0).u64(rootOhAddr).u32(0).u32(0).u64(0).u64(0)
      else sb.u64(0).u64(rootOhAddr).u32(1).u32(0)
        .u64(gbtreeAddr).u64(heapHdrAddr)
      putBytes(sb.bytes)

      if (!dense) {
        expect(heapDataAddr, "local heap data")
        putBytes(heapData)
        putBytes(new B().str("HEAP").u8(0).u8(0).u8(0).u8(0)
          .u64(heapData.length).u64(Undef).u64(heapDataAddr).bytes)
      }
      dims.indices.foreach { i =>
        expect(scaleOhAddr(i), s"scale OH ${dims(i).name}")
        putBytes(objectHeader(scaleMsgs(i, scaleDataAddr(i))))
        if (!compactCoord(i)) coordOf.get(i).foreach { data =>
          val buf = ByteBuffer.allocate(data.length * 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          data.foreach(buf.putDouble)
          putBytes(buf.array())
        }
      }
      // global heap collection
      expect(gcolAddr, "global heap")
      locally {
        val g = new B().str("GCOL").u8(1).u8(0).u8(0).u8(0).u64(gcolSize)
        var idx = 1
        varMetas.foreach { p =>
          p.dimIds.foreach { d =>
            g.u16(idx).u16(1).u32(0).u64(8).u64(scaleOhAddr(d))
            idx += 1
          }
        }
        val free = gcolSize - (16 + 24L * nRefs)
        g.u16(0).u16(0).u32(0).u64(free)
        g.raw(new Array[Byte]((free - 16).toInt))
        putBytes(g.bytes)
      }
      varMetas.zipWithIndex.foreach { case (p, i) =>
        expect(varOhAddr(i), s"var OH ${p.name}")
        putBytes(objectHeader(varMsgs(p, btRootAddr(i), gcolAddr, gcolBase(i))))
      }
      // chunk data (streamed from the caller), then B-trees
      varMetas.zipWithIndex.foreach { case (p, i) =>
        (0 until p.grid.nChunks).foreach { c =>
          expect(chunkAddr(i)(c), s"${p.name} chunk $c")
          payload(i, c, fos)
          pos += p.chunkSizes(c)
        }
        val bt = btPlans(i)
        def key(b: B, chunkIdx: Int): Unit = {
          b.u32(p.chunkSizes(chunkIdx).toLong).u32(0)
          p.grid.origin(chunkIdx).foreach(b.u64); b.u64(0)
        }
        def endKey(b: B): Unit = {
          b.u32(0).u32(0)
          // one past the last chunk in every axis
          val last = p.grid.origin(p.grid.nChunks - 1)
          last.indices.foreach(k => b.u64(last(k) + p.grid.chunkDims(k)))
          b.u64(0)
        }
        bt.leaves.zipWithIndex.foreach { case (leaf, li) =>
          val b = new B().str("TREE").u8(1).u8(0).u16(leaf.size)
          b.u64(if (li > 0) leafAddr(i)(li - 1) else Undef)
          b.u64(if (li < bt.leaves.size - 1) leafAddr(i)(li + 1) else Undef)
          leaf.foreach { ci => key(b, ci); b.u64(chunkAddr(i)(ci)) }
          if (li == bt.leaves.size - 1) endKey(b)
          else key(b, bt.leaves(li + 1).head)
          putBytes(b.bytes)
        }
        if (bt.hasRoot) {
          val b = new B().str("TREE").u8(1).u8(1).u16(bt.leaves.size)
          b.u64(Undef).u64(Undef)
          bt.leaves.zipWithIndex.foreach { case (leaf, li) =>
            key(b, leaf.head); b.u64(leafAddr(i)(li))
          }
          endKey(b)
          putBytes(b.bytes)
        }
      }
      val ohOf: Map[String, Long] =
        dims.indices.map(i => dims(i).name -> scaleOhAddr(i)).toMap ++
          varMetas.zipWithIndex.map { case (p, i) => p.name -> varOhAddr(i) }
      if (dense) {
        // fractal heap: one checksummed direct block holding every
        // link-message body back to back
        expect(fhDirectAddr, "fractal heap direct block")
        locally {
          val b = new B().str("FHDB").u8(0).u64(fhHdrAddr).u32(0).u32(0)
          dsNames.foreach(n => b.raw(linkBody(n, ohOf(n))))
          b.raw(new Array[Byte]((fhBlockSize - b.o.size).toInt))
          val img = b.bytes
          // checksum over the whole block with its field zeroed, then
          // patched in place (bytes 17..20)
          val sum = Hdf5.lookup3(img)
          img(17) = sum.toByte; img(18) = (sum >> 8).toByte
          img(19) = (sum >> 16).toByte; img(20) = (sum >> 24).toByte
          putBytes(img)
        }
        expect(fhHdrAddr, "fractal heap header")
        locally {
          val h = new B().str("FRHP").u8(0)
            .u16(7)    // heap ID length: 1 type + 4 offset + 2 length
            .u16(0)    // no I/O filters on link heaps
            .u8(0x02)  // direct blocks carry checksums
            .u32(4096) // max managed object size (=> 2-byte lengths)
            .u64(0).u64(Undef)                  // huge: next id, B-tree
            .u64(fhBlockSize - fhObjOff.last)   // free space
            .u64(Undef)                         // free-space manager
            .u64(fhBlockSize).u64(fhBlockSize)  // managed, allocated
            .u64(fhBlockSize)                   // block iterator offset
            .u64(dsNames.size.toLong)           // managed object count
            .u64(0).u64(0).u64(0).u64(0)        // huge/tiny sizes+counts
            .u16(4)                             // doubling-table width
            .u64(fhBlockSize)                   // starting block size
            .u64(math.max(fhBlockSize, 65536L)) // max direct block size
            .u16(32)                            // max heap size (bits)
            .u16(1)                             // starting rows
            .u64(fhDirectAddr)                  // root block address
            .u16(0)                             // cur rows 0: root direct
          h.u32(Hdf5.lookup3(h.bytes).toLong)
          putBytes(h.bytes)
        }
        // v2 B-tree, single leaf: (lookup3 name hash, heap id) records
        // in unsigned hash order — the on-disk sort libhdf5 expects
        expect(btLeafAddr, "v2 B-tree leaf")
        locally {
          val lb = new B().str("BTLF").u8(0).u8(5)
          // tie-break colliding hashes by unsigned UTF-8 byte order
          // (libhdf5 memcmp's the heap-resident names, not UTF-16
          // code units — Scala String order diverges for names mixing
          // supplementary-plane and U+E000..U+FFFF characters)
          val utf8Ord = new Ordering[Array[Byte]] {
            def compare(a: Array[Byte], b: Array[Byte]): Int = {
              val n = math.min(a.length, b.length)
              var i = 0
              while (i < n) {
                val d = (a(i) & 0xFF) - (b(i) & 0xFF)
                if (d != 0) return d
                i += 1
              }
              a.length - b.length
            }
          }
          dsNames.indices
            .map { j =>
              val nb = dsNames(j).getBytes("UTF-8")
              (Hdf5.lookup3(nb).toLong & 0xFFFFFFFFL, nb, j)
            }
            .sortBy(r => (r._1, r._2))(Ordering.Tuple2(Ordering.Long, utf8Ord))
            .foreach { case (hash, _, j) =>
              lb.u32(hash).u8(0).u32(fhObjOff(j)).u16(denseBodySizes(j))
            }
          lb.u32(Hdf5.lookup3(lb.bytes).toLong)
          lb.raw(new Array[Byte]((btNodeSize - lb.o.size).toInt))
          putBytes(lb.bytes)
        }
        expect(btHdrAddr, "v2 B-tree header")
        locally {
          val hb = new B().str("BTHD").u8(0).u8(5).u32(btNodeSize)
            .u16(11).u16(0).u8(100).u8(40)
            .u64(btLeafAddr).u16(dsNames.size).u64(dsNames.size.toLong)
          hb.u32(Hdf5.lookup3(hb.bytes).toLong)
          putBytes(hb.bytes)
        }
      } else {
        // SNOD: entries sorted by link name
        expect(snodAddr, "symbol node")
        locally {
          val b = new B().str("SNOD").u8(1).u8(0).u16(dsNames.size)
          dsNames.sorted.foreach { n =>
            b.u64(heapOffsets(n)).u64(ohOf(n)).u32(0).u32(0)
              .u64(0).u64(0)
          }
          putBytes(b.bytes)
        }
        // group B-tree: one SNOD child
        expect(gbtreeAddr, "group B-tree")
        locally {
          val b = new B().str("TREE").u8(0).u8(0).u16(1).u64(Undef).u64(Undef)
          b.u64(0).u64(snodAddr).u64(heapOffsets(dsNames.sorted.last))
          putBytes(b.bytes)
        }
      }
      expect(rootOhAddr, "root OH")
      putBytes(objectHeader(
        if (dense) rootMsgsOf(fhHdrAddr, btHdrAddr)
        else rootMsgsOf(gbtreeAddr, heapHdrAddr)))
    } finally fos.close()
    if (pos != eof)
      throw new Hdf5.FormatError(
        s"netcdf4 writer: layout planned $eof bytes, emitted $pos")
  }
}
