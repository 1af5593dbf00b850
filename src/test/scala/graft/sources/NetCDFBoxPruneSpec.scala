package graft.sources

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Any-axis subset pruning for the NetCDF DSv2 — the chunk-grid
 * equivalent of the reference's in-engine subset pushdown on ANY
 * dimension (`/root/reference/src/oph_subset_library.h:35`, applied at
 * `src/oph_filters.c:223`). Covers:
 *  - the n-D chunked WRITER (explicit chunk dims on every axis),
 *  - [[Hdf5.readBox]] parity against the flat reader,
 *  - the I/O audit: a mid/fast-axis filter decodes ONLY the chunks its
 *    predicate box intersects (counted via [[Hdf5.chunkDecodes]]),
 *  - zero partitions for an impossible inner-axis range,
 *  - the classic (contiguous NetCDF-3) box fallback.
 */
class NetCDFBoxPruneSpec extends SparkSpec {

  private val (nt, nlat, nlon) = (12, 16, 20)
  private def gen(t: Int, la: Int, lo: Int): Double =
    ((t * 31 + la * 7 + lo * 3) % 97 + 0.25)

  /** (time x lat x lon) NetCDF-4 file chunked (4,4,5) on EVERY axis —
    * 3 x 4 x 4 = 48 chunks — with monotone coordinate variables. */
  private lazy val ndPath: String = {
    val f = java.io.File.createTempFile("box_prune", ".nc4")
    f.delete(); f.deleteOnExit()
    val vals = Array.tabulate(nt * nlat * nlon) { k =>
      gen(k / (nlat * nlon), (k / nlon) % nlat, k % nlon)
    }
    NetCDF4.write(f.getPath,
      dims = Seq(NetCDF3.Dim("time", nt), NetCDF3.Dim("lat", nlat),
        NetCDF3.Dim("lon", nlon)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(nt)(_.toDouble)),
        ("lat", Seq(1), Array.tabulate(nlat)(i => -40.0 + 5 * i)),
        ("lon", Seq(2), Array.tabulate(nlon)(i => 2.0 * i)),
        ("tas", Seq(0, 1, 2), vals)),
      chunkDimsOf = Map("tas" -> Seq(4, 4, 5)))
    f.getPath
  }

  test("n-D chunked writer roundtrips every cell through the reader") {
    val ds = Hdf5.open(ndPath).datasets.find(_.name == "tas").get
    ds.layout match {
      case c: Hdf5.Chunked => assert(c.chunkDims == Seq(4, 4, 5))
      case l => fail(s"expected chunked layout, got $l")
    }
    val all = Hdf5.readSlab(ndPath, ds, 0, nt * nlat * nlon)
    (0 until nt * nlat * nlon).foreach { k =>
      val exp = gen(k / (nlat * nlon), (k / nlon) % nlat, k % nlon)
      assert(all(k) == exp, s"cell $k: ${all(k)} vs $exp")
    }
  }

  test("readBox returns exactly the box, decoding only its chunks") {
    val ds = Hdf5.open(ndPath).datasets.find(_.name == "tas").get
    // boxes chosen to clip chunks on every side, incl. single-cell
    val boxes = Seq(
      (Seq(0L, 0L, 0L), Seq(nt, nlat, nlon)),          // everything
      (Seq(3L, 5L, 7L), Seq(5, 6, 9)),                 // straddles chunks
      (Seq(11L, 15L, 19L), Seq(1, 1, 1)),              // last cell
      (Seq(0L, 4L, 5L), Seq(nt, 4, 5)),                // exactly one (lat,lon) chunk column
      (Seq(2L, 0L, 0L), Seq(3, nlat, nlon)))           // time slab
    boxes.foreach { case (o, l) =>
      val got = Hdf5.readBox(ndPath, ds, o, l)
      val cells = l.map(_.toLong).product.toInt
      assert(got.length == cells)
      var i = 0
      while (i < cells) {
        val lo = (i % l(2)) + o(2).toInt
        val la = ((i / l(2)) % l(1)) + o(1).toInt
        val t = (i / (l(1) * l(2))) + o(0).toInt
        assert(got(i) == gen(t, la, lo), s"box $o+$l cell $i")
        i += 1
      }
    }
    // decode audit: one (lat,lon) chunk column = 3 time chunks x 1 x 1
    Hdf5.chunkDecodes.set(0)
    Hdf5.readBox(ndPath, ds, Seq(0L, 4L, 5L), Seq(nt, 4, 5))
    assert(Hdf5.chunkDecodes.get() == 3,
      s"expected 3 chunk decodes, got ${Hdf5.chunkDecodes.get()}")
  }

  test("mid-axis subset: exact rows, and only intersecting chunks decoded") {
    val df = spark.read.format("netcdf4").load(ndPath)
    // lat in [-20, 20) -> idx 4..11 (chunks 1..2 of 4);
    // lon < 20 -> idx 0..9 (chunks 0..1 of 4); time unconstrained (3)
    val filtered = df.filter(col("lat") >= -20.0 && col("lat") < 20.0 &&
      col("lon") < 20.0)
    Hdf5.chunkDecodes.set(0)
    val rows = filtered.collect()
    val prunedDecodes = Hdf5.chunkDecodes.get()
    // row correctness against the generator
    assert(rows.length == nt * 8 * 10)
    rows.foreach { r =>
      val t = r.getDouble(0).toInt
      val la = ((r.getDouble(1) + 40.0) / 5.0).round.toInt
      val lo = (r.getDouble(2) / 2.0).round.toInt
      assert(la >= 4 && la < 12 && lo < 10)
      assert(r.getDouble(3) == gen(t, la, lo))
    }
    // the predicate box intersects 3 x 2 x 2 = 12 of 48 chunks
    assert(prunedDecodes == 12,
      s"mid-axis subset decoded $prunedDecodes chunks, expected 12")
    // an unfiltered MEASURE scan decodes all 48, each exactly once
    // (box planning holds for n-D-chunked storage even without a
    // filter; a count() scan prunes to an axis column and reads NO
    // chunks at all)
    Hdf5.chunkDecodes.set(0)
    val total = df.agg(sum(col("tas"))).collect()(0).getDouble(0)
    assert(total > 0)
    assert(Hdf5.chunkDecodes.get() == 48,
      s"full scan decoded ${Hdf5.chunkDecodes.get()} chunks, expected 48")
    Hdf5.chunkDecodes.set(0)
    assert(df.count() == nt * nlat * nlon)
    assert(Hdf5.chunkDecodes.get() == 0,
      "a count() scan must prune to an axis column and read no chunks")
  }

  test("pruned read equals post-scan filtering of the full read") {
    val df = spark.read.format("netcdf4").load(ndPath)
    val pred = col("lat") >= -20.0 && col("lat") < 20.0 &&
      col("lon") >= 10.0 && col("time") >= 5.0
    val pruned = df.filter(pred).collect()
      .map(_.toSeq.map(_.asInstanceOf[Double])).sortBy(_.toString)
    val full = df.collect()
      .map(_.toSeq.map(_.asInstanceOf[Double]))
      .filter(r => r(1) >= -20.0 && r(1) < 20.0 && r(2) >= 10.0 &&
        r(0) >= 5.0)
      .sortBy(_.toString)
    assert(pruned.length == full.length && pruned.sameElements(full))
  }

  test("impossible inner-axis range plans zero partitions") {
    import org.apache.spark.sql.sources
    val schema = spark.read.format("netcdf4").load(ndPath).schema
    val b = new NcScanBuilder(ndPath, schema, None)
    b.pushFilters(Array[sources.Filter](
      sources.GreaterThan("lat", 1000.0)))
    val parts = b.build().toBatch.planInputPartitions()
    assert(parts.isEmpty, s"expected 0 partitions, got ${parts.length}")
    // and an impossible FAST-axis range too
    val b2 = new NcScanBuilder(ndPath, schema, None)
    b2.pushFilters(Array[sources.Filter](sources.LessThan("lon", -5.0)))
    assert(b2.build().toBatch.planInputPartitions().isEmpty)
  }

  test("inner-axis filters plan box partitions covering only the predicate box") {
    import org.apache.spark.sql.sources
    val schema = spark.read.format("netcdf4").load(ndPath).schema
    val b = new NcScanBuilder(ndPath, schema, None)
    b.pushFilters(Array[sources.Filter](
      sources.GreaterThanOrEqual("lat", -20.0),
      sources.LessThan("lat", 20.0),
      sources.LessThan("lon", 20.0)))
    val parts = b.build().toBatch.planInputPartitions()
    assert(parts.nonEmpty && parts.forall(_.isInstanceOf[NcBoxPartition]))
    val boxes = parts.map(_.asInstanceOf[NcBoxPartition])
    val cells = boxes.map(_.lens.map(_.toLong).product).sum
    assert(cells == nt.toLong * 8 * 10,
      s"planned $cells cells, predicate box is ${nt * 8 * 10}")
    // the tile grid is disjoint (distinct origins + exact cell sum
    // above together prove no overlap for axis-aligned boxes)
    val origins = boxes.map(_.origin)
    assert(origins.distinct.size == origins.size)
    // multi-axis splitting: the box spans several partitions even
    // though the OUTER axis alone has only 3 chunks
    assert(boxes.size >= 3, s"expected >=3 tiles, got ${boxes.size}")
  }

  test("few outer chunks still parallelize across inner chunk axes") {
    // a short-time high-resolution shape: ONE time chunk, many
    // (lat, lon) chunks — the planner must tile the inner axes, not
    // produce a single partition
    val f = java.io.File.createTempFile("box_inner", ".nc4")
    f.delete(); f.deleteOnExit()
    val (t1, la1, lo1) = (2, 16, 20)
    val vals = Array.tabulate(t1 * la1 * lo1)(k => (k % 13).toDouble)
    NetCDF4.write(f.getPath,
      dims = Seq(NetCDF3.Dim("time", t1), NetCDF3.Dim("lat", la1),
        NetCDF3.Dim("lon", lo1)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(t1)(_.toDouble)),
        ("lat", Seq(1), Array.tabulate(la1)(_.toDouble)),
        ("lon", Seq(2), Array.tabulate(lo1)(_.toDouble)),
        ("tas", Seq(0, 1, 2), vals)),
      chunkDimsOf = Map("tas" -> Seq(2, 4, 5)))
    val schema = spark.read.format("netcdf4").load(f.getPath).schema
    val b = new NcScanBuilder(f.getPath, schema, None)
    val parts = b.build().toBatch.planInputPartitions()
    // n-D-chunked storage takes box planning even unfiltered; the
    // single outer chunk forces the split onto lat/lon
    assert(parts.length >= 4,
      s"one outer chunk must not serialize the scan: ${parts.length}")
    val cells = parts.map(_.asInstanceOf[NcBoxPartition])
      .map(_.lens.map(_.toLong).product).sum
    assert(cells == t1.toLong * la1 * lo1)
    // and the data still reads exactly once per cell
    val total = spark.read.format("netcdf4").load(f.getPath)
      .agg(org.apache.spark.sql.functions.sum(col("tas")))
      .collect()(0).getDouble(0)
    assert(total == vals.sum)
  }

  test("tile planning never exceeds the cell bound while one grain fits it") {
    def cells(p: InputPartition) = p.asInstanceOf[NcBoxPartition].lens
      .map(_.toLong).product
    // 5 lat grains split 4 ways would leave 2-grain tiles of 80 cells
    val tiles = NetCDFSource.tileGrid(Seq((0L, 10L), (0L, 20L), (0L, 1L)),
      grain = Seq(10L, 4L, 1L), parallelism = 1, maxCells = 50)
    assert(tiles.map(cells).toSeq == Seq.fill(5)(40L))
    assert(tiles.map(_.asInstanceOf[NcBoxPartition].origin(1)).toSeq ==
      Seq(0L, 4L, 8L, 12L, 16L))
    // cube-shaped tiles along time over (4, 4, 5) chunks hold at least
    // one chunk's lat x lon footprint times the 12-step series
    val v = NcView.open(ndPath)
    assert(NetCDFSource.seriesFits(v, "tas", "time", maxCells = 240))
    assert(!NetCDFSource.seriesFits(v, "tas", "time", maxCells = 239))
  }

  test("classic NetCDF-3 contiguous box fallback prunes inner axes") {
    val f = java.io.File.createTempFile("box_classic", ".nc")
    f.delete(); f.deleteOnExit()
    val vals = Array.tabulate(nt * nlat * nlon) { k =>
      gen(k / (nlat * nlon), (k / nlon) % nlat, k % nlon)
    }
    NetCDF3.write(f.getPath,
      dims = Seq(NetCDF3.Dim("time", nt), NetCDF3.Dim("lat", nlat),
        NetCDF3.Dim("lon", nlon)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(nt)(_.toDouble)),
        ("lat", Seq(1), Array.tabulate(nlat)(i => -40.0 + 5 * i)),
        ("lon", Seq(2), Array.tabulate(nlon)(i => 2.0 * i)),
        ("tas", Seq(0, 1, 2), vals)))
    val df = spark.read.format("netcdf3").load(f.getPath)
      .filter(col("lat") >= -20.0 && col("lat") < 20.0 && col("lon") < 20.0)
    val rows = df.collect()
    assert(rows.length == nt * 8 * 10)
    rows.foreach { r =>
      val t = r.getDouble(0).toInt
      val la = ((r.getDouble(1) + 40.0) / 5.0).round.toInt
      val lo = (r.getDouble(2) / 2.0).round.toInt
      assert(r.getDouble(3) == gen(t, la, lo))
    }
  }
}
