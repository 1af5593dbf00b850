package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{NetCDF3, NetCDF4}

/** A generated input file, fingerprinted so that a change to a writer
  * that alters the bytes shows up as "not comparable" rather than as a
  * speed change. */
final case class InputFile(name: String, path: Path, bytes: Long, sha256: String)

/** The seeded `time x lat x lon` field behind the climate workload.
  * `tas` is row-major over (time, lat, lon); coordinates are plain
  * numbers (no CF units, so the time axis stays numeric). */
final case class Climate(file: InputFile, nt: Int, nlat: Int, nlon: Int,
    time: Array[Double], tas: Array[Double]) {
  def cell(t: Int, y: Int, x: Int): Double = tas((t * nlat + y) * nlon + x)
}

/** One generated lineitem row (the columns the control-plane
  * workflows touch). */
final case class Line(orderkey: Long, linenumber: Int, extendedprice: Double,
    quantity: Double)

final case class Lineitem(file: InputFile, lines: IndexedSeq[Line])

object Inputs {
  // Fixed by the benchmark, not by the seed: only values vary with the
  // seed, so every seed does the same amount of work.
  val Nt = 64
  val Nlat = 32
  val Nlon = 64
  /** Chunked on every axis, as real archives are. */
  val ChunkDims = Seq(24, 16, 32)
  val DeflateLevel = 4
  val Orders = 1500

  def climate(dir: Path, seed: Long): Climate = {
    val rnd = new java.util.Random(seed)
    val time = Array.tabulate(Nt)(_.toDouble)
    val lat = Array.tabulate(Nlat)(y => -87.1875 + y * 5.625)
    val lon = Array.tabulate(Nlon)(x => x * 5.625)
    val phase = rnd.nextDouble() * 2 * math.Pi
    val tas = new Array[Double](Nt * Nlat * Nlon)
    var i = 0
    for (t <- 0 until Nt; y <- 0 until Nlat; x <- 0 until Nlon) {
      val season = 12.0 * math.sin(2 * math.Pi * t / 60.0 + phase) *
        math.sin(math.toRadians(lat(y)))
      tas(i) = 288.0 - 30.0 * math.abs(math.sin(math.toRadians(lat(y)))) +
        season + rnd.nextGaussian() * 2.0
      i += 1
    }
    val path = dir.resolve("climate.nc4")
    NetCDF4.write(path.toString,
      Seq(NetCDF3.Dim("time", Nt), NetCDF3.Dim("lat", Nlat),
        NetCDF3.Dim("lon", Nlon)),
      Seq(("time", Seq(0), time), ("lat", Seq(1), lat), ("lon", Seq(2), lon),
        ("tas", Seq(0, 1, 2), tas)),
      gatts = Seq("title" -> s"graftbench seeded field (seed $seed)"),
      deflateLevel = DeflateLevel,
      chunkDimsOf = Map("tas" -> ChunkDims))
    Climate(fingerprint("climate.nc4", path), Nt, Nlat, Nlon, time, tas)
  }

  /** A lineitem-shaped parquet table: `Orders` orders of 1 to 7 lines.
    * Written through Spark as a single part file. */
  def lineitem(spark: SparkSession, dir: Path, seed: Long): Lineitem = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    val lines = (1 to Orders).flatMap { o =>
      val n = 1 + rnd.nextInt(7)
      (1 to n).map { ln =>
        Line(o.toLong * 4, ln, (90000 + rnd.nextInt(9000000)) / 100.0,
          (1 + rnd.nextInt(50)).toDouble)
      }
    }
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_linenumber", IntegerType, nullable = false),
      StructField("l_extendedprice", DoubleType, nullable = false),
      StructField("l_quantity", DoubleType, nullable = false)))
    val rows = new java.util.ArrayList[Row](lines.size)
    lines.foreach(l => rows.add(Row(l.orderkey, l.linenumber, l.extendedprice,
      l.quantity)))
    val out = dir.resolve("lineitem.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator()
    var file: Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) file = p
    }
    val fp = fingerprint("lineitem.parquet", file)
    Lineitem(fp.copy(path = out), lines)
  }

  def fingerprint(name: String, p: Path): InputFile = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    InputFile(name, p, Files.size(p), md.digest().map("%02x".format(_)).mkString)
  }
}
