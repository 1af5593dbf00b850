package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * NetCDF-4/HDF5: the pure-JVM writer/reader pair and its DSv2
 * integration. The writer emits real HDF5 structures (superblock v0,
 * v1 object headers, symbol-table group, chunked+deflate layout,
 * dimension scales + DIMENSION_LIST through the global heap) and the
 * reader walks them back — every assertion below exercises both sides
 * of the public spec subset.
 */
class Hdf5Spec extends SparkSpec {

  private def tmp(prefix: String): String = {
    val f = java.io.File.createTempFile(prefix, ".nc4")
    f.delete(); f.getPath
  }

  private def writeGrid(path: String): Unit = {
    import NetCDF3.Dim
    NetCDF4.write(path,
      dims = Seq(Dim("time", 2), Dim("level", 3)),
      vars = Seq(
        ("time", Seq(0), Array(100.0, 200.0)),
        ("level", Seq(1), Array(1000.0, 850.0, 500.0)),
        ("tas", Seq(0, 1), Array(11.0, 12.0, 13.0, 21.0, 22.0, 23.0)),
        ("pr", Seq(0, 1), Array(1.1, 1.2, 1.3, 2.1, 2.2, 2.3))),
      gatts = Seq("title" -> "graft nc4 grid"))
  }

  test("superblock v1 byte layout: flags precede indexed-storage K") {
    // our reader skips both fields, so pin the spec ordering at the
    // byte level: leaf K, internal K, consistency flags (u32), THEN
    // the v1-only indexed-storage K + reserved, then base address 0
    val path = tmp("sbv1")
    writeGrid(path)
    val in = new java.io.DataInputStream(
      new java.io.FileInputStream(path))
    val head = new Array[Byte](36)
    in.readFully(head); in.close()
    def u16(o: Int) = (head(o) & 0xff) | ((head(o + 1) & 0xff) << 8)
    def u32(o: Int) = u16(o).toLong | (u16(o + 2).toLong << 16)
    assert(head(8) == 1, "superblock version 1")
    assert(u16(18) == 16, "group internal node K")
    assert(u32(20) == 0L, "file consistency flags (before v1 K fields)")
    assert(u16(24) == 128, "indexed-storage internal node K")
    assert(u16(26) == 0, "reserved after indexed-storage K")
    assert(u32(28) == 0L && u32(32) == 0L, "base address 0")
  }

  test("hdf5 magic: NetCDF3 rejects it by name, isHdf5 detects it") {
    val path = tmp("magic")
    writeGrid(path)
    assert(Hdf5.isHdf5(path))
    val err = intercept[NetCDF3.FormatError](NetCDF3.readHeader(path))
    assert(err.getMessage.contains("NetCDF-4"))
    // and the classic writer's output is NOT detected as HDF5
    val classic = tmp("classic")
    NetCDF3.write(classic, Seq(NetCDF3.Dim("x", 2)),
      Seq(("v", Seq(0), Array(1.0, 2.0))))
    assert(!Hdf5.isHdf5(classic))
  }

  test("nc4 roundtrip: dims, scales, DIMENSION_LIST, attrs, data") {
    val path = tmp("grid")
    writeGrid(path)
    val m = NetCDF4.open(path)
    assert(m.dims == Seq(NetCDF3.Dim("time", 2), NetCDF3.Dim("level", 3)))
    assert(m.gatts.exists(a => a.name == "title" && a.text == "graft nc4 grid"))
    // coordinate vars and data vars, with dims resolved through
    // DIMENSION_LIST object references
    val tas = m.varByName("tas")
    assert(tas.dimIds == Seq(0, 1))
    assert(m.varByName("pr").dimIds == Seq(0, 1))
    assert(m.varByName("time").dimIds == Seq(0))
    assert(NetCDF4.readSlab(path, tas, 0, 6).toSeq ==
      Seq(11.0, 12.0, 13.0, 21.0, 22.0, 23.0))
    // partial slab across the row boundary
    assert(NetCDF4.readSlab(path, tas, 2, 3).toSeq == Seq(13.0, 21.0, 22.0))
    assert(NetCDF4.readSlab(path, m.varByName("level"), 1, 2).toSeq ==
      Seq(850.0, 500.0))
  }

  test("multi-chunk deflate: slab reads cross chunk boundaries") {
    val path = tmp("chunky")
    val n = 10000
    val data = Array.tabulate(n)(i => (i * 7 % 1000).toDouble)
    // chunkCells=512 -> 20 chunks -> exercises the chunk B-tree
    NetCDF4.write(path, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 512)
    val m = NetCDF4.open(path)
    val v = m.varByName("v")
    val chunks = Hdf5.chunkIndex(path, v.ds)
    assert(chunks.size == 20, s"expected 20 chunks, got ${chunks.size}")
    // deflate actually compressed the repetitive data
    assert(chunks.map(_._3).sum < n * 8)
    assert(NetCDF4.readSlab(path, v, 0, n).toSeq == data.toSeq)
    // a slab spanning chunks 1..3 only
    assert(NetCDF4.readSlab(path, v, 500, 1050).toSeq ==
      data.slice(500, 1550).toSeq)
    // single-cell read deep in the file
    assert(NetCDF4.readSlab(path, v, 9997, 3).toSeq ==
      data.slice(9997, 10000).toSeq)
  }

  test("anonymous dimension: scale without data reads as index column") {
    val path = tmp("anon")
    // no coordinate variable for 'row'
    NetCDF4.write(path, Seq(NetCDF3.Dim("row", 4)),
      Seq(("v", Seq(0), Array(5.0, 6.0, 7.0, 8.0))))
    val m = NetCDF4.open(path)
    assert(m.dims == Seq(NetCDF3.Dim("row", 4)))
    // the sentinel-NAMEd scale is not a variable
    assert(m.vars.map(_.name) == Seq("v"))
    val df = spark.read.format("netcdf4").load(path)
    assert(df.columns.toSeq == Seq("row", "v"))
    val rows = df.orderBy("row").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(5.0, 6.0, 7.0, 8.0))
  }

  test("DSv2 reads an nc4 grid with coordinate values and pruning") {
    val path = tmp("dsv2")
    writeGrid(path)
    // the historical 'netcdf3' short name dispatches on magic
    val df = spark.read.format("netcdf3").load(path)
    assert(df.columns.toSeq == Seq("time", "level", "tas", "pr"))
    val rows = df.orderBy("time", "level").collect()
    assert(rows.length == 6)
    assert(rows.map(_.getDouble(0)).toSet == Set(100.0, 200.0))
    assert(rows.map(_.getDouble(1)).toSet == Set(1000.0, 850.0, 500.0))
    assert(rows.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .contains((200.0, 850.0, 22.0)))
    // pruning: a 2-column projection plans a 2-column scan
    val pruned = df.select("tas").queryExecution.executedPlan.toString
    assert(pruned.contains("tas") && !pruned.contains("pr"),
      s"projection should prune pr:\n$pruned")
    // aggregate matches the written data
    val s = df.agg(sum("pr")).collect()(0).getDouble(0)
    assert(math.abs(s - 10.2) < 1e-9)
  }

  test("importnc engine path consumes an nc4 file transparently") {
    val path = tmp("engine")
    writeGrid(path)
    val df = spark.read.format("netcdf3").option("measure", "tas").load(path)
    assert(df.columns.toSeq == Seq("time", "level", "tas"))
    assert(df.count() == 6)
  }

  test("2-D chunked variable: partial slabs decode the right cells") {
    val path = tmp("grid2d")
    val rows = 50; val cols = 40
    val data = Array.tabulate(rows * cols)(i => i.toDouble)
    // chunkCells=400 -> 10 rows per chunk -> 5 chunks
    NetCDF4.write(path, Seq(NetCDF3.Dim("y", rows), NetCDF3.Dim("x", cols)),
      Seq(("m", Seq(0, 1), data)), chunkCells = 400)
    val m = NetCDF4.open(path)
    val v = m.varByName("m")
    assert(m.shapeOf(v) == Seq(50, 40))
    assert(Hdf5.chunkIndex(path, v.ds).size == 5)
    // a slab crossing the chunk-row boundary at row 10
    val got = NetCDF4.readSlab(path, v, 9 * cols + 20, cols)
    assert(got.toSeq == data.slice(9 * cols + 20, 10 * cols + 20).toSeq)
  }

  test("shuffle+deflate filter pipeline roundtrips (reverse-order read)") {
    val path = tmp("shuffled")
    val n = 3000
    val data = Array.tabulate(n)(i => (i / 10).toDouble) // byte-plane friendly
    NetCDF4.write(path, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 1000, shuffle = true)
    val m = NetCDF4.open(path)
    val v = m.varByName("v")
    // both filters recorded, in application order
    assert(v.ds.filters.map(_.id) == Seq(2, 1))
    assert(NetCDF4.readSlab(path, v, 0, n).toSeq == data.toSeq)
    assert(NetCDF4.readSlab(path, v, 995, 10).toSeq ==
      data.slice(995, 1005).toSeq)
    // shuffle + deflate beats deflate alone on this monotone data
    val plain = tmp("plainz")
    NetCDF4.write(plain, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 1000)
    val shufBytes = Hdf5.chunkIndex(path, v.ds).map(_._3).sum
    val plainBytes = Hdf5.chunkIndex(plain,
      NetCDF4.open(plain).varByName("v").ds).map(_._3).sum
    assert(shufBytes < plainBytes,
      s"shuffle should help deflate: $shufBytes vs $plainBytes")
  }

  test("fletcher32 checksums roundtrip; full 3-filter pipeline verified") {
    val n = 3000
    val data = Array.tabulate(n)(i => math.sin(i * 0.01) * 50)
    // fletcher only: pipeline [fletcher32, deflate]
    val p1 = tmp("fl32")
    NetCDF4.write(p1, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 1000, fletcher32 = true)
    val v1 = NetCDF4.open(p1).varByName("v")
    assert(v1.ds.filters.map(_.id) == Seq(3, 1))
    assert(NetCDF4.readSlab(p1, v1, 0, n).toSeq == data.toSeq)
    // netcdf-c order [shuffle, fletcher32, deflate]: checksum covers
    // the shuffled bytes and the read verifies it post-inflate
    val p2 = tmp("fl32sh")
    NetCDF4.write(p2, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 1000, shuffle = true,
      fletcher32 = true)
    val v2 = NetCDF4.open(p2).varByName("v")
    assert(v2.ds.filters.map(_.id) == Seq(2, 3, 1))
    assert(NetCDF4.readSlab(p2, v2, 0, n).toSeq == data.toSeq)
    assert(NetCDF4.readSlab(p2, v2, 995, 10).toSeq ==
      data.slice(995, 1005).toSeq)
  }

  test("distributed nc4 export with fletcher32 roundtrips") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).repartition(3)
      .select(col("id").cast("double").as("k"),
        sin(col("id").cast("double")).as("v"))
    val out = tmp("distfl32")
    assert(NetCDF4.writeTableDistributed(df, out, chunkRows = 1500,
      fletcher32 = true) == 5000L)
    val m = NetCDF4.open(out)
    assert(m.varByName("v").ds.filters.map(_.id) == Seq(3, 1))
    val back = spark.read.format("netcdf4").load(out)
    val s = back.agg(sum(col("v"))).head.getDouble(0)
    assert(math.abs(s - (0 until 5000).map(i => math.sin(i.toDouble)).sum)
      < 1e-6)
  }

  test("engine exportnc honors fletcher32=yes and shuffle=yes args") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    val e = new Engine(spark, new Catalog("sess"))
    val mk = e.runDataOperator("oph_randcube",
      Map("nrows" -> "10", "array_length" -> "4", "container" -> "c"))
    val out = tmp("englfl32").stripSuffix(".nc4") + ".nc4"
    val r = e.runDataOperator("oph_exportnc2",
      Map("cube" -> mk.cubePid.get, "output_path" -> out,
        "fletcher32" -> "yes", "shuffle" -> "yes"))
    assert(r.status == JobStatus.Completed)
    val m = NetCDF4.open(out)
    assert(m.varByName("measure").ds.filters.map(_.id) == Seq(2, 3, 1))
    assert(spark.read.format("netcdf4").load(out).count() == 40)
  }

  test("partition planning aligns to the chunk grain") {
    val path = tmp("aligned")
    val n = 10000
    NetCDF4.write(path, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), Array.tabulate(n)(_.toDouble))), chunkCells = 768)
    val view = NcView.open(path)
    assert(view.alignCells == 768)
    val scan = new NcScan(path, NetCDFSource.schemaOf(view, None),
      NetCDFSource.schemaOf(view, None), None)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[NcPartition])
    // every internal boundary sits on a chunk multiple; full coverage
    assert(parts.head.start == 0L && parts.last.end == n)
    parts.dropRight(1).foreach(p =>
      assert(p.end % 768 == 0, s"boundary ${p.end} splits a chunk"))
    assert(parts.sliding(2).forall(w =>
      w.length < 2 || w(0).end == w(1).start))
  }

  test("distributed nc4 export: executor-deflated chunks, exact roundtrip") {
    import org.apache.spark.sql.functions._
    // multi-partition, multi-chunk: 10k rows over 4 partitions with
    // chunkRows 1500 -> 7 chunks assembled var-major from sidecars
    val df = spark.range(10000).repartition(4)
      .select(col("id").cast("double").as("k"),
        (col("id") * 2 + 1).cast("double").as("v"))
    val out = tmp("distnc4")
    val n = NetCDF4.writeTableDistributed(df, out,
      gatts = Seq("source" -> "graft"), chunkRows = 1500)
    assert(n == 10000)
    assert(!new java.io.File(out + ".chunks").exists(), "sidecars cleaned")
    val m = NetCDF4.open(out)
    assert(m.vars.map(_.name) == Seq("k", "v"))
    assert(Hdf5.chunkIndex(out, m.varByName("v").ds).size == 7)
    val back = spark.read.format("netcdf4").load(out)
    assert(back.count() == 10000)
    // exact content parity, not just aggregates
    val got = back.select(col("k"), col("v")).orderBy("k").collect()
    assert(got.length == 10000)
    assert(got.zipWithIndex.forall { case (r, i) =>
      r.getDouble(0) == i.toDouble && r.getDouble(1) == i * 2.0 + 1 })
  }

  test("single-chunk distributed export stores exactly rows x 8 bytes") {
    import org.apache.spark.sql.functions._
    // fewer rows than chunkRows: the grid's one chunk holds `rows`
    // rows, so the stored chunk must inflate to exactly that (plus the
    // fletcher32 checksum), not to a chunkRows-sized padded block
    val rows = 1000
    val df = spark.range(0, rows, 1, 3)
      .select(sin(col("id").cast("double")).as("v"))
    val expected = (0 until rows).map(i => math.sin(i.toDouble))
    Seq(false, true).foreach { filters =>
      val out = tmp(s"onechunk_$filters")
      assert(NetCDF4.writeTableDistributed(df, out, shuffle = filters,
        fletcher32 = filters) == rows)
      val v = NetCDF4.open(out).varByName("v")
      val Seq((_, addr, size)) = Hdf5.chunkIndex(out, v.ds)
      val stored = new Array[Byte](size)
      val f = new java.io.RandomAccessFile(out, "r")
      try { f.seek(addr); f.readFully(stored) } finally f.close()
      val inf = new java.util.zip.Inflater()
      inf.setInput(stored)
      val inflated = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished() && !inf.needsInput())
        inflated.write(buf, 0, inf.inflate(buf))
      assert(inf.finished(), "chunk did not inflate to its end")
      inf.end()
      val inflatedBytes = inflated.size
      val checksum = if (filters) 4 else 0
      assert(inflatedBytes == rows * 8 + checksum, s"filters=$filters")
      assert(NetCDF4.readSlab(out, v, 0, rows).toSeq == expected)
    }
  }

  test("a failing distributed export leaves no sidecars and no partial file") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 100, 1, 2).select(
      when(col("id") === 57, raise_error(lit("boom at row 57")))
        .otherwise(col("id").cast("double")).as("v"))
    val out = tmp("failnc4")
    val err = intercept[Exception](
      NetCDF4.writeTableDistributed(df, out, chunkRows = 16))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom at row 57")),
      s"error did not propagate: $err")
    assert(!new java.io.File(out + ".chunks").exists(), "sidecars leaked")
    assert(!new java.io.File(out).exists(), "partial output left behind")
  }

  test("distributed nc4 and classic exports evaluate their input plan once") {
    import org.apache.spark.sql.functions._
    // the counting UDF sits after the shuffle, in the stage the export
    // itself runs: a second evaluation of the plan would double it
    val evals = spark.sparkContext.longAccumulator("nc4-export-evals")
    val tick = udf((x: Double) => { evals.add(1); x })
    val df = spark.range(10000).repartition(4)
      .select(tick(col("id").cast("double")).as("k"),
        (col("id") * 2 + 1).cast("double").as("v"))
    val out = tmp("oncenc4")
    assert(NetCDF4.writeTableDistributed(df, out, chunkRows = 1500) == 10000)
    assert(evals.value == 10000L, s"${evals.value} row evaluations")
    val m = NetCDF4.open(out)
    assert(Hdf5.chunkIndex(out, m.varByName("v").ds).size == 7)
    val got = spark.read.format("netcdf4").load(out)
      .select(col("k"), col("v")).orderBy("k").collect()
    assert(got.length == 10000)
    assert(got.zipWithIndex.forall { case (r, i) =>
      r.getDouble(0) == i.toDouble && r.getDouble(1) == i * 2.0 + 1 })
    val classic = tmp("oncenc3") + ".nc"
    assert(NetCDF3.writeTableDistributed(df, classic) == 10000)
    assert(evals.value == 20000L, s"${evals.value - 10000} classic evaluations")
  }

  test("engine exportnc to .nc4 roundtrips through the engine importer") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    import org.apache.spark.sql.functions._
    val e = new Engine(spark, new Catalog("sess"))
    val mk = e.runDataOperator("oph_randcube",
      Map("nrows" -> "10", "array_length" -> "4", "container" -> "c"))
    val out = tmp("engineout").stripSuffix(".nc4") + ".nc4"
    val r = e.runDataOperator("oph_exportnc2",
      Map("cube" -> mk.cubePid.get, "output_path" -> out))
    assert(r.status == JobStatus.Completed)
    assert(r.message.contains("netcdf4"))
    val back = spark.read.format("netcdf3").load(out) // magic dispatch
    assert(back.count() == 40)
    val orig = e.cube(mk.cubePid.get).get.flatten
      .agg(sum(col("measure"))).head.getDouble(0)
    val readBack = back.agg(sum(col("measure"))).head.getDouble(0)
    assert(math.abs(orig - readBack) < 1e-9)
  }

  test("distributed nc4 export of an empty frame writes a valid file") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10).filter(col("id") < 0)
      .select(col("id").cast("double").as("v"))
    val out = tmp("emptync4")
    assert(NetCDF4.writeTableDistributed(df, out) == 0L)
    val m = NetCDF4.open(out)
    assert(m.dims == Seq(NetCDF3.Dim("row", 0)))
    assert(m.vars.map(_.name) == Seq("v"))
    assert(NetCDF4.readSlab(out, m.varByName("v"), 0, 0).isEmpty)
  }

  test("importnc: magic dispatch for .nc-named HDF5, subset + metadata import") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    import org.apache.spark.sql.functions._
    // an HDF5 file named plain .nc — the common real-world case
    val path = java.io.File.createTempFile("nc4named_nc", ".nc").getPath
    NetCDF4.write(path,
      dims = Seq(NetCDF3.Dim("row", 100)),
      vars = Seq(
        ("row", Seq(0), Array.tabulate(100)(i => (i + 1).toDouble)),
        ("tas", Seq(0), Array.tabulate(100)(i => i * 2.0))),
      gatts = Seq("institution" -> "graft test", "frequency" -> "day"))
    assert(NcView.isNetcdf(path))
    val cat = new Catalog("sess")
    val e = new Engine(spark, cat)
    // subset at import: coord filter keeps rows 11..20
    val r = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "tas", "exp_dim" -> "row",
        "container" -> "c", "subset_dims" -> "row",
        "subset_filter" -> "11:20", "subset_type" -> "coord"))
    assert(r.status == JobStatus.Completed)
    val cube = e.cube(r.cubePid.get).get
    assert(cube.df.count() == 10)
    assert(cube.df.agg(sum(col("tas"))).head.getDouble(0) ==
      (10 to 19).map(_ * 2.0).sum)
    // global attributes landed as cube metadata
    val meta = e.runDataOperator("oph_metadata",
      Map("cube" -> r.cubePid.get, "mode" -> "read"))
    assert(meta.message.contains("institution") &&
      meta.message.contains("graft test"))
    // import_metadata=no suppresses it
    val r2 = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "tas", "exp_dim" -> "row",
        "container" -> "c", "import_metadata" -> "no"))
    val meta2 = e.runDataOperator("oph_metadata",
      Map("cube" -> r2.cubePid.get, "mode" -> "read"))
    assert(!meta2.message.contains("institution"))
  }

  test("metadata survives import -> export -> re-import (both formats)") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    val src = java.io.File.createTempFile("metasrc", ".nc4").getPath
    NetCDF4.write(src, Seq(NetCDF3.Dim("row", 20)),
      vars = Seq(("v", Seq(0), Array.tabulate(20)(_.toDouble))),
      gatts = Seq("experiment" -> "piControl"))
    val e = new Engine(spark, new Catalog("sess"))
    val imp = e.runDataOperator("oph_importnc",
      Map("src_path" -> src, "measure" -> "v", "container" -> "c"))
    assert(imp.status == JobStatus.Completed)
    for (ext <- Seq(".nc", ".nc4")) {
      val out = java.io.File.createTempFile("metaout", ext).getPath
      val r = e.runDataOperator("oph_exportnc",
        Map("cube" -> imp.cubePid.get, "output_path" -> out))
      assert(r.status == JobStatus.Completed)
      // the cube's imported metadata rode along as global attributes
      val gatts = NcView.open(out).gatts.toMap
      assert(gatts.get("experiment").contains("piControl"), s"$ext: $gatts")
      assert(gatts.get("measure").contains("v"))
      // and a re-import carries it into the new cube's metadata
      val again = e.runDataOperator("oph_importnc",
        Map("src_path" -> out, "measure" -> "v", "container" -> "c"))
      val meta = e.runDataOperator("oph_metadata",
        Map("cube" -> again.cubePid.get, "mode" -> "read"))
      assert(meta.message.contains("piControl"))
    }
  }

  test("CF time axis: 'days since' units become a real date dimension") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    import org.apache.spark.sql.functions._
    val path = java.io.File.createTempFile("cftime", ".nc4").getPath
    // one year of daily tas over a time coord with CF units
    NetCDF4.write(path,
      dims = Seq(NetCDF3.Dim("time", 366)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(366)(_.toDouble)),
        ("tas", Seq(0), Array.tabulate(366)(i => 250.0 + i % 40))),
      varAtts = Map("time" -> Seq("units" -> "days since 2020-01-01",
        "standard_name" -> "time")))
    // the attribute round-trips through the nc4 writer/reader
    assert(NcView.open(path).varAtts("time")
      .contains("units" -> "days since 2020-01-01"))
    val e = new Engine(spark, new Catalog("sess"))
    val r = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "tas", "exp_dim" -> "time",
        "container" -> "c"))
    assert(r.status == JobStatus.Completed)
    val df = e.cube(r.cubePid.get).get.df
    assert(df.schema("time").dataType ==
      org.apache.spark.sql.types.DateType)
    val mm = df.agg(min(col("time")).cast("string"),
      max(col("time")).cast("string")).head
    assert(mm.getString(0) == "2020-01-01" && mm.getString(1) == "2020-12-31")
    // a coord subset in DATE terms now works on the imported cube
    val sub = e.runDataOperator("oph_subset",
      Map("cube" -> r.cubePid.get, "subset_dims" -> "time",
        "subset_type" -> "coord",
        "subset_filter" -> "2020-03-01:2020-03-31"))
    assert(e.cube(sub.cubePid.get).get.df.count() == 31)
    // time_conversion=no keeps the raw numeric axis
    val rawImp = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "tas", "exp_dim" -> "time",
        "container" -> "c", "time_conversion" -> "no"))
    assert(e.cube(rawImp.cubePid.get).get.df.schema("time").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // non-standard calendars keep the numeric axis too
    val cal360 = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "tas", "exp_dim" -> "time",
        "container" -> "c", "calendar" -> "360_day"))
    assert(e.cube(cal360.cubePid.get).get.df.schema("time").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("CF time axis: 'hours since' yields timestamps (classic writer)") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    import org.apache.spark.sql.functions._
    val path = java.io.File.createTempFile("cfhours", ".nc").getPath
    NetCDF3.write(path,
      dims = Seq(NetCDF3.Dim("time", 48)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(48)(_.toDouble)),
        ("pr", Seq(0), Array.tabulate(48)(i => i * 0.1))),
      varAtts = Map("time" -> Seq("units" -> "hours since 2021-06-01")))
    val h = NetCDF3.readHeader(path)
    assert(h.varByName("time").atts
      .exists(a => a.name == "units" && a.text == "hours since 2021-06-01"))
    val e = new Engine(spark, new Catalog("sess"))
    val r = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "pr", "exp_dim" -> "time",
        "container" -> "c"))
    assert(r.status == JobStatus.Completed)
    val df = e.cube(r.cubePid.get).get.df
    assert(df.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val mm = df.agg(min(col("time")).cast("string"),
      max(col("time")).cast("string")).head
    assert(mm.getString(0).startsWith("2021-06-01 00:00") &&
      mm.getString(1).startsWith("2021-06-02 23:00"))
  }

  test("first-axis filter pushdown prunes the planned cell range") {
    import org.apache.spark.sql.functions._
    val n = 10000
    val path = tmp("pushdown")
    // sorted time coordinate 0..9999, 10 chunks of 1000
    NetCDF4.write(path, Seq(NetCDF3.Dim("time", n)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(n)(_.toDouble)),
        ("v", Seq(0), Array.tabulate(n)(i => i * 3.0))),
      chunkCells = 1000)
    val df = spark.read.format("netcdf4").load(path)
      .filter(col("time") >= 7000 && col("time") < 7500)
    // correctness first: Spark re-applies the filters regardless
    assert(df.count() == 500)
    assert(df.agg(sum(col("v"))).head.getDouble(0) ==
      (7000 until 7500).map(_ * 3.0).sum)
    // the scan planned ONLY the pruned row range (chunk-aligned)
    val view = NcView.open(path)
    val scan = {
      val b = new NcScanBuilder(path,
        NetCDFSource.schemaOf(view, None), None)
      b.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("time", 7000.0),
        org.apache.spark.sql.sources.LessThan("time", 7500.0)))
      b.build().asInstanceOf[NcScan]
    }
    val parts = scan.planInputPartitions().map(_.asInstanceOf[NcPartition])
    assert(parts.nonEmpty)
    val lo = parts.map(_.start).min; val hi = parts.map(_.end).max
    assert(lo >= 7000 - 1000 && hi <= 7500 + 1000,
      s"planned [$lo,$hi) should hug [7000,7500) to the chunk grain")
    // an impossible range plans nothing at all
    val b2 = new NcScanBuilder(path, NetCDFSource.schemaOf(view, None), None)
    b2.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThan("time", 99999.0)))
    assert(b2.build().asInstanceOf[NcScan].planInputPartitions().isEmpty)
    // equality pins a single chunk's worth of rows
    val b3 = new NcScanBuilder(path, NetCDFSource.schemaOf(view, None), None)
    b3.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("time", 4242.0)))
    val p3 = b3.build().asInstanceOf[NcScan].planInputPartitions()
      .map(_.asInstanceOf[NcPartition])
    assert(p3.map(p => p.end - p.start).sum <= 1000)
    // and the end-to-end equality query still answers exactly
    val one = spark.read.format("netcdf4").load(path)
      .filter(col("time") === 4242).select("v").collect()
    assert(one.map(_.getDouble(0)).toSeq == Seq(4242 * 3.0))
  }

  test("nc4 export keeps column NAMES for date/timestamp dims") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    // a cube whose dim is a real DATE (the CF import shape): the .nc4
    // export must name the variable 'time', not the cast expression
    val src = java.io.File.createTempFile("dexp", ".nc4").getPath
    NetCDF4.write(src, Seq(NetCDF3.Dim("time", 10)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(10)(_.toDouble)),
        ("v", Seq(0), Array.tabulate(10)(i => i * 1.5))),
      varAtts = Map("time" -> Seq("units" -> "days since 2020-01-01")))
    val e = new Engine(spark, new Catalog("sess"))
    val imp = e.runDataOperator("oph_importnc",
      Map("src_path" -> src, "measure" -> "v", "exp_dim" -> "time",
        "container" -> "c"))
    val out = java.io.File.createTempFile("dexpout", ".nc4").getPath
    val r = e.runDataOperator("oph_exportnc2",
      Map("cube" -> imp.cubePid.get, "output_path" -> out))
    assert(r.status == JobStatus.Completed)
    val m = NetCDF4.open(out)
    assert(m.vars.map(_.name).toSet == Set("time", "v"),
      s"got ${m.vars.map(_.name)}")
    // dates round-tripped as epoch days under their own name
    assert(NetCDF4.readSlab(out, m.varByName("time"), 0, 10).toSeq ==
      (0 until 10).map(i => 18262.0 + i)) // 2020-01-01 = epoch day 18262
  }

  test("CF fractional 'days since' become timestamps, not collapsed dates") {
    import graft.core.{Catalog, JobStatus}
    import graft.workflow.Engine
    import org.apache.spark.sql.functions._
    val path = java.io.File.createTempFile("cffrac", ".nc4").getPath
    // 6-hourly data: 0.0, 0.25, 0.5 ... day offsets
    NetCDF4.write(path, Seq(NetCDF3.Dim("time", 8)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(8)(_ * 0.25)),
        ("v", Seq(0), Array.tabulate(8)(_.toDouble))),
      varAtts = Map("time" -> Seq("units" -> "days since 2020-01-01")))
    val e = new Engine(spark, new Catalog("sess"))
    val r = e.runDataOperator("oph_importnc",
      Map("src_path" -> path, "measure" -> "v", "exp_dim" -> "time",
        "container" -> "c"))
    assert(r.status == JobStatus.Completed)
    val df = e.cube(r.cubePid.get).get.df
    // TIMESTAMP, not DATE: the 8 sub-daily points stay distinct
    assert(df.schema("time").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.select(col("time")).distinct().count() == 8)
    val times = df.select(date_format(col("time"), "yyyy-MM-dd HH:mm"))
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().sorted
    assert(times.head == "2020-01-01 00:00" &&
      times.last == "2020-01-02 18:00")
  }

  test("edge chunk: a non-multiple extent pads, reads back exactly") {
    val path = tmp("edge")
    val n = 777 // chunkCells 256 -> chunks of 256, last one partial
    val data = Array.tabulate(n)(i => math.sin(i).abs * 100)
    NetCDF4.write(path, Seq(NetCDF3.Dim("row", n)),
      Seq(("v", Seq(0), data)), chunkCells = 256)
    val m = NetCDF4.open(path)
    assert(NetCDF4.readSlab(path, m.varByName("v"), 0, n).toSeq == data.toSeq)
    assert(NetCDF4.readSlab(path, m.varByName("v"), 770, 7).toSeq ==
      data.slice(770, 777).toSeq)
  }

  test("compact layout (class 0): coords inline, slab + box reads exact") {
    // h5py and netCDF-c "latest" store tiny datasets with the bytes
    // inline in the object header; the reader must serve slabs and
    // boxes from the message with zero data-section I/O
    val path = tmp("compact")
    import NetCDF3.Dim
    val times = Array.tabulate(40)(i => 0.5 * i)
    val xs = Array.tabulate(12)(i => 1.5 * i)
    NetCDF4.write(path,
      dims = Seq(Dim("time", 40), Dim("x", 12)),
      vars = Seq(
        ("time", Seq(0), times),
        ("x", Seq(1), xs),
        ("tas", Seq(0, 1),
          Array.tabulate(480)(k => (k * 13 % 101).toDouble))),
      chunkDimsOf = Map("tas" -> Seq(16, 8)),
      compactCoordCells = 64)
    val f = Hdf5.open(path)
    val time = f.datasets.find(_.name == "time").get
    assert(time.layout.isInstanceOf[Hdf5.Compact],
      s"time scale not compact: ${time.layout}")
    assert(Hdf5.readSlab(path, time, 0, 40).toSeq == times.toSeq)
    assert(Hdf5.readSlab(path, time, 17, 5).toSeq ==
      times.slice(17, 22).toSeq)
    assert(Hdf5.readBox(path, time, Seq(30L), Seq(10)).toSeq ==
      times.slice(30, 40).toSeq)
    val x = f.datasets.find(_.name == "x").get
    assert(x.layout.isInstanceOf[Hdf5.Compact])
    assert(Hdf5.readBox(path, x, Seq(3L), Seq(4)).toSeq ==
      xs.slice(3, 7).toSeq)
    // and the full netcdf4 view still reads the measure correctly
    val m = NetCDF4.open(path)
    assert(NetCDF4.readSlab(path, m.varByName("tas"), 0, 480).sum ==
      Array.tabulate(480)(k => (k * 13 % 101).toDouble).sum)
  }
}
