package graft.sources

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DoubleType

/**
 * One evaluation of a double-typed DataFrame's plan, spilled
 * column-major to per-partition segment files: the first half of the
 * distributed NetCDF exports ([[NetCDF4.writeTableDistributed]],
 * [[NetCDF3.writeTableDistributed]]).
 *
 * The segment job reads `df.queryExecution.toRdd` (InternalRows, no
 * external-Row conversion). Each partition buffers its rows into one
 * primitive `double` array per column and writes them raw to ONE
 * file: column 0's rows, then column 1's, ..., every value a
 * little-endian IEEE double (null as NaN) — the byte order HDF5
 * chunks store, so the NetCDF-4 chunk pass copies bytes without
 * decoding them. The task returns only its [[Segment]]; the driver
 * derives every partition's global row offset from those counts, so
 * the plan runs once and no row is shuffled.
 *
 * A file is named by partition AND task attempt: a retried or
 * speculative attempt writes its own file and never overwrites the one
 * whose result the driver accepted. Readers open only the accepted
 * files. `dir` must be on a filesystem the driver and every executor
 * share (always true in local mode; the same assumption as the
 * classic exporter's slab writes and the reference's server-side
 * export directory).
 */
private[graft] object ColumnSegments {

  /** The accepted output of one partition. */
  final case class Segment(partition: Int, attempt: Int, rows: Long) {
    def fileName: String = f"seg-$partition%05d-a$attempt"
  }

  /** Every partition's segment, in partition order, with its global
    * row offset. Small (one entry per partition), so it ships to the
    * tasks that read the segments back. */
  final case class Segments(dir: String, nCols: Int, segs: IndexedSeq[Segment]) {
    val starts: Array[Long] = segs.map(_.rows).scanLeft(0L)(_ + _).toArray
    def total: Long = starts.last

    private def open(i: Int): RandomAccessFile = {
      val s = segs(i)
      val f = new RandomAccessFile(new File(dir, s.fileName), "r")
      if (f.length != s.rows * nCols * 8) {
        f.close()
        throw new IllegalStateException(s"segment ${s.fileName}: " +
          s"${f.length} bytes, expected ${s.rows} rows x $nCols columns")
      }
      f
    }

    /** Copy global rows [from, from + count) of every column as raw
      * little-endian bytes: column j lands in `dst(j)` from byte 0.
      * Returns how many of those rows the segments held. */
    def readRows(from: Long, count: Int, dst: Array[Array[Byte]]): Long = {
      val until = from + count
      var seen = 0L
      var i = 0
      while (i < segs.length) {
        val lo = math.max(from, starts(i))
        val hi = math.min(until, starts(i + 1))
        if (lo < hi) {
          val rows = segs(i).rows
          val f = open(i)
          try {
            var j = 0
            while (j < nCols) {
              f.seek((j * rows + lo - starts(i)) * 8)
              f.readFully(dst(j), ((lo - from) * 8).toInt, ((hi - lo) * 8).toInt)
              j += 1
            }
          } finally f.close()
          seen += hi - lo
        }
        i += 1
      }
      seen
    }

    /** Rows [from, from + count) of column `col` of segment `i`. */
    def readColumn(i: Int, col: Int, from: Long, count: Int): Array[Double] = {
      val raw = new Array[Byte](count * 8)
      val f = open(i)
      try {
        f.seek((col * segs(i).rows + from) * 8)
        f.readFully(raw)
      } finally f.close()
      val out = new Array[Double](count)
      ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
      out
    }
  }

  /** Growable primitive column; `values` is valid up to `n`. */
  private final class DoubleColumn {
    var values = new Array[Double](1024)
    var n = 0
    def add(v: Double): Unit = {
      if (n == values.length)
        values = java.util.Arrays.copyOf(values, n * 2)
      values(n) = v
      n += 1
    }
  }

  /** Run `df`'s plan once, writing one segment file per partition
    * under `dir` (which must exist). */
  def write(df: DataFrame, dir: String): Segments = {
    val nCols = df.schema.size
    require(nCols > 0, "export: no columns")
    require(df.schema.fields.forall(_.dataType == DoubleType),
      "export: all columns must be double")
    val segs = df.queryExecution.toRdd.mapPartitionsWithIndex { (pi, it) =>
      val cols = Array.fill(nCols)(new DoubleColumn)
      while (it.hasNext) {
        val r = it.next()
        var j = 0
        while (j < nCols) {
          cols(j).add(if (r.isNullAt(j)) Double.NaN else r.getDouble(j))
          j += 1
        }
      }
      val seg = Segment(pi, TaskContext.get().attemptNumber(), cols(0).n)
      val ch = FileChannel.open(new File(dir, seg.fileName).toPath,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.allocate(64 * 1024).order(ByteOrder.LITTLE_ENDIAN)
        val block = buf.capacity / 8
        cols.foreach { c =>
          var k = 0
          while (k < c.n) {
            val m = math.min(block, c.n - k)
            buf.clear()
            buf.asDoubleBuffer().put(c.values, k, m)
            buf.limit(m * 8)
            while (buf.hasRemaining) ch.write(buf)
            k += m
          }
        }
      } finally ch.close()
      Iterator.single(seg)
    }.collect()
    Segments(dir, nCols, segs.sortBy(_.partition).toIndexedSeq)
  }

  /** Spill `df` into the `out + ".chunks"` sidecar directory, then run
    * `body` over the segments. The directory is removed whether either
    * step succeeds or fails; a failing `body` also removes the partial
    * `out` it may have started. */
  def withSegments[A](df: DataFrame, out: String)(body: Segments => A): A = {
    val dir = new File(out + ".chunks")
    dir.mkdirs()
    try {
      val segs = write(df, dir.getPath)
      try body(segs)
      catch { case e: Throwable => new File(out).delete(); throw e }
    } finally {
      // a straggler task of a failed job may still add a file between
      // the listing and the rmdir; once the directory is gone, no task
      // can create one in it
      var tries = 0
      while (dir.exists && tries < 10) {
        Option(dir.listFiles()).foreach(_.foreach(_.delete()))
        dir.delete()
        tries += 1
      }
    }
  }
}
