package graft.sources

import java.io.{DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.charset.StandardCharsets

/**
 * NetCDF-3 "classic" binary format — pure-JVM reader/writer for the
 * subset the reference's importnc/exportnc traffic needs: fixed-size
 * (non-record) variables of type byte/char/short/int/float/double,
 * dimensions, and (name, text/numeric) attributes.
 *
 * The classic format is public and simple: a big-endian header
 * (magic 'CDF\x01|\x02', numrecs, dim list, global attributes, var
 * list with per-var begin offsets) followed by each variable's
 * row-major data slab, everything padded to 4-byte boundaries. Version
 * 2 ('CDF\x02') differs only in 8-byte begin offsets. This replaces
 * round-2's parquet stand-in for `oph_importnc`
 * (`/root/reference/src/oph_json/oph_json_objkeys.h:114`) with the real
 * file format.
 *
 * Scale note: `readHeader` touches only the header bytes (KBs), never
 * the data; slab reads are offset-addressed, so a distributed reader
 * can open the file per partition and read ONLY its row range of ONLY
 * the projected variables — column pruning maps to skipping whole
 * slabs.
 */
object NetCDF3 {

  // nc_type codes (classic spec)
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6

  private val TagDim = 0x0A
  private val TagVar = 0x0B
  private val TagAtt = 0x0C

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
    case other => throw new IllegalArgumentException(s"nc_type $other")
  }

  final case class Dim(name: String, length: Int)
  final case class Att(name: String, ncType: Int, text: String,
      numbers: Seq[Double])
  final case class Var(
      name: String,
      ncType: Int,
      dimIds: Seq[Int],
      atts: Seq[Att],
      vsize: Long,
      begin: Long)
  final case class Header(
      version: Int,
      numrecs: Int,
      dims: Seq[Dim],
      gatts: Seq[Att],
      vars: Seq[Var]) {
    /** The UNLIMITED dimension: header length 0, actual extent in
      * `numrecs` (classic spec: at most one, first dim of every record
      * variable). */
    val recordDimId: Option[Int] = {
      val i = dims.indexWhere(_.length == 0)
      if (i >= 0) Some(i) else None
    }
    def isRecord(v: Var): Boolean =
      v.dimIds.headOption.exists(recordDimId.contains)
    /** Resolved extent: the record dim reads as `numrecs`. */
    def dimLength(id: Int): Int =
      if (recordDimId.contains(id)) numrecs else dims(id).length
    def shapeOf(v: Var): Seq[Int] = v.dimIds.map(dimLength)
    /** Cells in ONE record of a record variable (non-record dims). */
    def cellsPerRecord(v: Var): Long =
      v.dimIds.drop(1).map(dims(_).length.toLong).product
    /** Byte stride between consecutive records in the interleaved
      * record section. Spec: each record var's per-record slab is
      * padded to 4 bytes, EXCEPT when there is exactly one record
      * variable (then records pack without padding). */
    lazy val recSize: Long = {
      val rvs = vars.filter(isRecord)
      if (rvs.size == 1) cellsPerRecord(rvs.head) * typeSize(rvs.head.ncType)
      else rvs.map(v => pad4L(cellsPerRecord(v) * typeSize(v.ncType))).sum
    }
    def varByName(n: String): Var = vars.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no variable '$n'"))
  }

  final class FormatError(msg: String) extends Exception(msg)

  // ------------------------------------------------------------ read

  def readHeader(path: String): Header = {
    val f = new RandomAccessFile(path, "r")
    try {
      val magic = new Array[Byte](4)
      f.readFully(magic)
      // the HDF5 signature means NetCDF-4: name the format in the
      // error instead of failing as a generic parse error
      if (magic(0) == 0x89.toByte && magic(1) == 'H' && magic(2) == 'D' &&
          magic(3) == 'F')
        throw new FormatError(s"$path: NetCDF-4/HDF5 file — read it " +
          "through NetCDF4/Hdf5 (the netcdf3 reader handles classic " +
          "CDF-1/CDF-2 only)")
      if (magic(0) != 'C' || magic(1) != 'D' || magic(2) != 'F')
        throw new FormatError(s"$path: not a NetCDF classic file")
      val version = magic(3).toInt
      if (version != 1 && version != 2)
        throw new FormatError(s"$path: unsupported CDF version $version")
      def u32(): Int = f.readInt()
      def offset(): Long = if (version == 2) f.readLong() else u32().toLong
      def name(): String = {
        val n = u32()
        val bytes = new Array[Byte](n)
        f.readFully(bytes)
        f.skipBytes(pad4(n) - n)
        new String(bytes, StandardCharsets.UTF_8)
      }
      def attList(): Seq[Att] = {
        val tag = u32(); val count = u32()
        if (tag == 0 && count == 0) return Seq.empty
        if (tag != TagAtt) throw new FormatError(s"bad att tag $tag")
        (0 until count).map { _ =>
          val an = name(); val t = u32(); val n = u32()
          if (t == NcChar) {
            val bytes = new Array[Byte](n)
            f.readFully(bytes)
            f.skipBytes(pad4(n) - n)
            Att(an, t, new String(bytes, StandardCharsets.UTF_8), Seq.empty)
          } else {
            val vals = (0 until n).map { _ =>
              t match {
                case NcByte => f.readByte().toDouble
                case NcShort => f.readShort().toDouble
                case NcInt => f.readInt().toDouble
                case NcFloat => f.readFloat().toDouble
                case NcDouble => f.readDouble()
                case other => throw new FormatError(s"att type $other")
              }
            }
            f.skipBytes(pad4(n * typeSize(t)) - n * typeSize(t))
            Att(an, t, "", vals)
          }
        }
      }
      val numrecs = u32()
      val dims = {
        val tag = u32(); val count = u32()
        if (tag == 0 && count == 0) Seq.empty[Dim]
        else {
          if (tag != TagDim) throw new FormatError(s"bad dim tag $tag")
          (0 until count).map(_ => Dim(name(), u32()))
        }
      }
      val gatts = attList()
      val vars = {
        val tag = u32(); val count = u32()
        if (tag == 0 && count == 0) Seq.empty[Var]
        else {
          if (tag != TagVar) throw new FormatError(s"bad var tag $tag")
          (0 until count).map { _ =>
            val vn = name()
            val nd = u32()
            val dimIds = (0 until nd).map(_ => u32())
            val atts = attList()
            val t = u32()
            // vsize is UNSIGNED on disk (CDF-2 vars can exceed 2 GiB;
            // 0xFFFFFFFF is the too-large sentinel)
            val vsize = u32().toLong & 0xFFFFFFFFL
            val begin = offset()
            Var(vn, t, dimIds, atts, vsize, begin)
          }
        }
      }
      Header(version, numrecs, dims, gatts, vars)
    } finally f.close()
  }

  /** Read `count` cells of `v` starting at row-major cell `start` —
    * exactly the bytes of that range, independent of variable size.
    * Fixed variables are one contiguous seek+read; record variables
    * gather per-record slabs at stride `recSize` (still offset-
    * addressed — a partition reads only its records of only this
    * variable). */
  def readSlab(path: String, header: Header, v: Var,
      start: Long, count: Int): Array[Double] = {
    val ts = typeSize(v.ncType)
    val f = new RandomAccessFile(path, "r")
    try {
      val out = new Array[Double](count)
      def decode(bytes: Array[Byte], outOff: Int, n: Int): Unit = {
        val buf = java.nio.ByteBuffer.wrap(bytes) // big-endian by default
        var i = 0
        while (i < n) {
          out(outOff + i) = v.ncType match {
            case NcByte | NcChar => buf.get().toDouble
            case NcShort => buf.getShort().toDouble
            case NcInt => buf.getInt().toDouble
            case NcFloat => buf.getFloat().toDouble
            case NcDouble => buf.getDouble()
          }
          i += 1
        }
      }
      if (!header.isRecord(v)) {
        f.seek(v.begin + start * ts)
        val bytes = new Array[Byte](count * ts)
        f.readFully(bytes)
        decode(bytes, 0, count)
      } else {
        val perRec = header.cellsPerRecord(v)
        var cell = start   // flat row-major cell index across records
        var done = 0
        while (done < count) {
          val rec = cell / perRec
          val within = cell % perRec
          // min as Long FIRST: (perRec - within) can exceed Int range
          // for records wider than 2^31 cells; the min always fits
          val n = math.min((count - done).toLong, perRec - within).toInt
          f.seek(v.begin + rec * header.recSize + within * ts)
          val bytes = new Array[Byte](n * ts)
          f.readFully(bytes)
          decode(bytes, done, n)
          cell += n; done += n
        }
      }
      out
    } finally f.close()
  }

  // ----------------------------------------------------------- write

  private def pad4(n: Int): Int = (n + 3) & ~3
  private[sources] def pad4L(n: Long): Long = (n + 3) & ~3L

  /**
   * Header-only writer for a distributed table export: every variable
   * is a fixed DOUBLE var over `dims` (no record dimension). Emits the
   * same header bytes `write` would, extends the file to its final
   * size, and returns the per-variable begin offsets — classic slabs
   * are offset-addressed, so parallel writers can then fill DISJOINT
   * row ranges at `begin + rowStart*8` without coordination. This is
   * the scale path for `oph_exportnc` ([[writeTableDistributed]]):
   * the driver never buffers the data, executors stream their
   * segments straight into the file (single-file classic output
   * assumes a shared filesystem, exactly like the reference's
   * server-side export directory).
   */
  def writeTableHeader(path: String,
      dims: Seq[Dim],
      varDefs: Seq[(String, Seq[Int])],
      gatts: Seq[(String, String)] = Seq.empty): Seq[Long] = {
    require(dims.forall(_.length > 0),
      "writeTableHeader: fixed dimensions only")
    def cells(ds: Seq[Int]): Long = ds.map(dims(_).length.toLong).product
    val totalData = varDefs.map(v => cells(v._2) * 8).sum
    def headerSizeFor(offBytes: Int): Long = {
      def nameLen(s: String) = 4 + pad4(s.getBytes(StandardCharsets.UTF_8).length)
      def attLen(a: (String, String)) =
        nameLen(a._1) + 8 + pad4(a._2.getBytes(StandardCharsets.UTF_8).length)
      4L + 4 +
        8 + dims.map(d => nameLen(d.name) + 4).sum +
        8 + gatts.map(attLen).sum +
        8 + varDefs.map { case (n, ds) =>
          nameLen(n) + 4 + 4 * ds.size + 8 + 4 + 4 + offBytes
        }.sum
    }
    val version =
      if (headerSizeFor(4) + totalData > Int.MaxValue.toLong) 2 else 1
    val offBytes = if (version == 2) 8 else 4
    val headerSize = headerSizeFor(offBytes)
    val begins = Seq.newBuilder[Long]
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path)))
    try {
      def wName(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
        (b.length until pad4(b.length)).foreach(_ => out.writeByte(0))
      }
      out.write(Array[Byte]('C', 'D', 'F', version.toByte))
      out.writeInt(0) // numrecs: no record dimension in a table export
      if (dims.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagDim); out.writeInt(dims.size)
        dims.foreach { d => wName(d.name); out.writeInt(d.length) }
      }
      if (gatts.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagAtt); out.writeInt(gatts.size)
        gatts.foreach { case (k, v) =>
          wName(k); out.writeInt(NcChar)
          val b = v.getBytes(StandardCharsets.UTF_8)
          out.writeInt(b.length); out.write(b)
          (b.length until pad4(b.length)).foreach(_ => out.writeByte(0))
        }
      }
      if (varDefs.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagVar); out.writeInt(varDefs.size)
        var begin = headerSize
        varDefs.foreach { case (n, dimIds) =>
          wName(n)
          out.writeInt(dimIds.size)
          dimIds.foreach(out.writeInt)
          out.writeInt(0); out.writeInt(0) // no per-var attributes
          out.writeInt(NcDouble)
          val vsize = cells(dimIds) * 8
          out.writeInt(if (vsize > 0XFFFFFFFCL) -1 else vsize.toInt)
          if (version == 2) out.writeLong(begin)
          else out.writeInt(begin.toInt)
          begins += begin
          begin += vsize
        }
      }
    } finally out.close()
    // extend to the final size so concurrent slab writers and early
    // readers see a complete (zero-filled) data section
    val raf = new RandomAccessFile(path, "rw")
    try raf.setLength(headerSize + totalData) finally raf.close()
    begins.result()
  }

  /** Fill rows [rowStart, rowStart+values.length) of a fixed variable
    * whose begin offset is `begin` — positioned contiguous writes,
    * safe to run concurrently with writers of disjoint ranges. Chunked
    * (16 MiB) so a large partition neither overflows Int byte
    * arithmetic (2^28 rows × 8 B) nor double-buffers itself on the
    * heap. */
  def writeSlab(path: String, begin: Long, rowStart: Long,
      values: Array[Double]): Unit = {
    val chunkRows = 2 * 1024 * 1024 // 16 MiB of doubles per write
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.seek(begin + rowStart * 8)
      var off = 0
      while (off < values.length) {
        val n = math.min(chunkRows, values.length - off)
        val bb = java.nio.ByteBuffer.allocate(n * 8)
        var i = 0
        while (i < n) { bb.putDouble(values(off + i)); i += 1 }
        raf.write(bb.array())
        off += n
      }
    } finally raf.close()
  }

  /**
   * DISTRIBUTED table export — the `.nc` path of `oph_exportnc`: every
   * column of `df` (all DoubleType) becomes a fixed double variable
   * over one `row` dimension. The input plan runs ONCE, in the segment
   * pass ([[ColumnSegments]]), which spills each partition
   * column-major and returns its row count. The driver then sizes the
   * file, writes its header ([[writeTableHeader]]) and derives each
   * segment's first row; one task per non-empty segment fills that
   * segment's rows of every variable with [[writeSlab]] — disjoint
   * ranges, so writers never overlap. Same shared-filesystem
   * assumption as the segments. Returns the exported row count.
   */
  def writeTableDistributed(df: org.apache.spark.sql.DataFrame,
      out: String, gatts: Seq[(String, String)] = Seq.empty): Long = {
    val names = df.columns.toSeq
    ColumnSegments.withSegments(df, out) { segs =>
      val total = segs.total
      if (total > Int.MaxValue - 8)
        throw new FormatError(s"exportnc: $total rows exceed the classic " +
          "'row' dimension; split the cube first")
      if (total == 0)
        // a zero-length FIXED dim would parse as the record dim, so the
        // empty table goes through the driver-side writer
        write(out, Seq(Dim("row", 0)),
          names.map(n => (n, Seq(0), Array.empty[Double])), gatts = gatts)
      else {
        val begins = writeTableHeader(out, Seq(Dim("row", total.toInt)),
          names.map(n => (n, Seq(0))), gatts)
        val nVars = names.size
        val filled = segs.segs.indices.filter(segs.segs(_).rows > 0)
        df.sparkSession.sparkContext.parallelize(filled, filled.size)
          .foreach { i =>
            val rows = segs.segs(i).rows
            var j = 0
            while (j < nVars) {
              // 2M-row slabs: bounded buffers for any partition size
              var off = 0L
              while (off < rows) {
                val n = math.min(rows - off, 2L * 1024 * 1024).toInt
                writeSlab(out, begins(j), segs.starts(i) + off,
                  segs.readColumn(i, j, off, n))
                off += n
              }
              j += 1
            }
          }
      }
      total
    }
  }

  /** Write a classic file of double variables over shared dimensions;
    * `varData` is row-major per variable. A `Dim` of length 0 declares
    * the record (UNLIMITED) dimension: variables whose FIRST dim it is
    * become record variables, written interleaved record-by-record
    * after all fixed data (the classic record section), with the
    * record count in the header's `numrecs`. Files whose data section
    * would overflow 4-byte begin offsets are written as CDF-2
    * (64-bit-offset variant — same layout, 8-byte begins), so exports
    * past 2 GiB stay valid. */
  def write(path: String,
      dims: Seq[Dim],
      vars: Seq[(String, Seq[Int], Array[Double])], // (name, dimIds, data)
      gatts: Seq[(String, String)] = Seq.empty,
      varAtts: Map[String, Seq[(String, String)]] = Map.empty): Unit = {
    val recDimId = dims.indexWhere(_.length == 0)
    def isRec(dimIds: Seq[Int]) =
      recDimId >= 0 && dimIds.headOption.contains(recDimId)
    vars.foreach { case (n, ds, _) =>
      if (ds.drop(1).contains(recDimId) && recDimId >= 0)
        throw new FormatError(
          s"$n: the record dimension must be a variable's FIRST dimension")
    }
    def cellsPerRec(ds: Seq[Int]): Long =
      ds.drop(1).map(dims(_).length.toLong).product
    val recVars = vars.filter(v => isRec(v._2))
    val numrecs: Int = recVars.headOption.map { case (n, ds, data) =>
      val cpr = cellsPerRec(ds)
      if (cpr <= 0 || data.length % cpr != 0)
        throw new FormatError(s"$n: data length ${data.length} is not a " +
          s"whole number of records of $cpr cells")
      (data.length / cpr).toInt
    }.getOrElse(0)
    recVars.foreach { case (n, ds, data) =>
      if (data.length != cellsPerRec(ds) * numrecs)
        throw new FormatError(
          s"$n: record variables disagree on the record count")
    }
    // per-record byte stride (doubles are 4-aligned, so the >1-var
    // padding rule is a no-op here)
    val recSize: Long =
      if (recVars.size == 1) cellsPerRec(recVars.head._2) * 8
      else recVars.map(v => pad4L(cellsPerRec(v._2) * 8)).sum
    val totalData =
      vars.filterNot(v => isRec(v._2)).map(_._3.length.toLong * 8).sum +
        numrecs.toLong * recSize
    def headerSizeFor(offBytes: Int): Long = {
      def nameLen(s: String) = 4 + pad4(s.getBytes(StandardCharsets.UTF_8).length)
      def attLen(a: (String, String)) =
        nameLen(a._1) + 8 + pad4(a._2.getBytes(StandardCharsets.UTF_8).length)
      def attListLen(as: Seq[(String, String)]) = 8 + as.map(attLen).sum
      4L + 4 + // magic + numrecs
        8 + dims.map(d => nameLen(d.name) + 4).sum +
        8 + gatts.map(attLen).sum +
        8 + vars.map { case (n, ds, _) =>
          nameLen(n) + 4 + 4 * ds.size +
            attListLen(varAtts.getOrElse(n, Seq.empty)) + 4 + 4 + offBytes
        }.sum
    }
    val version =
      if (headerSizeFor(4) + totalData > Int.MaxValue.toLong) 2 else 1
    val offBytes = if (version == 2) 8 else 4
    val headerSize = headerSizeFor(offBytes)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new FileOutputStream(path)))
    try {
      def wName(s: String): Unit = {
        val b = s.getBytes(StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
        (b.length until pad4(b.length)).foreach(_ => out.writeByte(0))
      }
      out.write(Array[Byte]('C', 'D', 'F', version.toByte))
      out.writeInt(numrecs)
      if (dims.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagDim); out.writeInt(dims.size)
        dims.foreach { d => wName(d.name); out.writeInt(d.length) }
      }
      def wAttList(as: Seq[(String, String)]): Unit =
        if (as.isEmpty) { out.writeInt(0); out.writeInt(0) }
        else {
          out.writeInt(TagAtt); out.writeInt(as.size)
          as.foreach { case (k, v) =>
            wName(k); out.writeInt(NcChar)
            val b = v.getBytes(StandardCharsets.UTF_8)
            out.writeInt(b.length); out.write(b)
            (b.length until pad4(b.length)).foreach(_ => out.writeByte(0))
          }
        }
      wAttList(gatts)
      if (vars.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagVar); out.writeInt(vars.size)
        // begins: fixed slabs pack from the end of the header; record
        // vars get their record-0 slot after ALL fixed data (records
        // then repeat at stride recSize)
        var fixedBegin = headerSize
        val fixedEnd = headerSize +
          vars.filterNot(v => isRec(v._2)).map(_._3.length.toLong * 8).sum
        var recBegin = fixedEnd
        vars.foreach { case (n, dimIds, data) =>
          wName(n)
          out.writeInt(dimIds.size)
          dimIds.foreach(out.writeInt)
          wAttList(varAtts.getOrElse(n, Seq.empty))
          out.writeInt(NcDouble)
          // vsize: whole slab for fixed vars, per-RECORD bytes for
          // record vars; caps at the spec's 2^32-4 sentinel
          val vsize =
            if (isRec(dimIds)) pad4L(cellsPerRec(dimIds) * 8)
            else data.length.toLong * 8
          out.writeInt(if (vsize > 0XFFFFFFFCL) -1 else vsize.toInt)
          val begin = if (isRec(dimIds)) recBegin else fixedBegin
          if (version == 2) out.writeLong(begin)
          else out.writeInt(begin.toInt)
          if (isRec(dimIds)) recBegin += vsize else fixedBegin += data.length.toLong * 8
        }
        vars.foreach { case (_, dimIds, data) =>
          if (!isRec(dimIds)) data.foreach(out.writeDouble)
        }
        // the record section: record r = one slab of each record var
        var r = 0
        while (r < numrecs) {
          recVars.foreach { case (_, ds, data) =>
            val cpr = cellsPerRec(ds).toInt
            var i = r * cpr
            val end = i + cpr
            while (i < end) { out.writeDouble(data(i)); i += 1 }
          }
          r += 1
        }
      }
    } finally out.close()
  }
}
