package graft.workflow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Catalog
import graft.cube.{Cube, CubeOps}
import graft.sources.{Hdf5, NcView, NetCDF3, NetCDF4}

/**
 * `oph_importnc` of a grid-shaped NetCDF file builds the cube inside
 * the source's cube-shaped scan instead of `CubeOps.buildN`. Every
 * case compares the engine's cube with `buildN` over the long-form
 * scan of the same file: identical schema (names, types, nullability),
 * descriptor dims and row multiset. Imports that are not grid-shaped
 * must keep taking `buildN`.
 */
class SeriesImportSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val (nt, nlat, nlon) = (12, 8, 10)
  private def gen(t: Int, la: Int, lo: Int): Double =
    (t * 31 + la * 7 + lo * 3) % 97 + 0.25

  private def tmp(suffix: String): String = {
    val f = java.io.File.createTempFile("series_import", suffix)
    f.delete(); f.deleteOnExit(); f.getPath
  }

  /** (time x lat x lon) NetCDF-4 grid, by default chunked (4, 4, 5) on
    * every axis — 3 x 2 x 2 = 12 chunks. `lon` has a coordinate
    * variable only when `lonCoord`. */
  private def grid(time: Array[Double] = Array.tabulate(nt)(_.toDouble),
      timeAtts: Seq[(String, String)] = Seq.empty,
      lonCoord: Boolean = true,
      lat: Array[Double] = Array.tabulate(nlat)(i => -40.0 + 10 * i),
      chunks: Seq[Int] = Seq(4, 4, 5)): String = {
    val path = tmp(".nc4")
    NetCDF4.write(path,
      dims = Seq(NetCDF3.Dim("time", nt), NetCDF3.Dim("lat", nlat),
        NetCDF3.Dim("lon", nlon)),
      vars = Seq(
        ("time", Seq(0), time),
        ("lat", Seq(1), lat)) ++
        (if (lonCoord) Seq(("lon", Seq(2), Array.tabulate(nlon)(i => 2.0 * i)))
         else Seq.empty) :+
        ("tas", Seq(0, 1, 2), Array.tabulate(nt * nlat * nlon)(k =>
          gen(k / (nlat * nlon), (k / nlon) % nlat, k % nlon))),
      varAtts = if (timeAtts.isEmpty) Map.empty else Map("time" -> timeAtts),
      chunkDimsOf = Map("tas" -> chunks))
    path
  }

  /** Classic NetCDF-3: time is the record (UNLIMITED) dim; both
    * coordinates increase, so either axis can be the implicit one. */
  private def recordGrid(): String = {
    val path = tmp(".nc")
    val recs = 5
    NetCDF3.write(path,
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("level", 3)),
      vars = Seq(
        ("time", Seq(0), Array.tabulate(recs)(r => 100.0 * (r + 1))),
        ("level", Seq(1), Array(500.0, 850.0, 1000.0)),
        ("tas", Seq(0, 1), Array.tabulate(recs * 3)(i => (i / 3 + 1) * 10.0 + i % 3))))
    path
  }

  private def engine() = new Engine(spark, new Catalog("sess"))

  private def importArgs(path: String, exp: String, imp: String,
      measure: String = "tas"): Map[String, String] =
    Map("src_path" -> path, "measure" -> measure, "exp_dim" -> exp,
      "imp_dim" -> imp)

  private def imported(e: Engine, args: Map[String, String]): Cube =
    e.cube(e.runDataOperator("oph_importnc", args).cubePid.get).get

  private def isSeriesScan(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("series along")

  /** `buildN` over the long-form scan of the same files, after the
    * import's CF time conversion. */
  private def viaBuildN(args: Map[String, String]): Cube = {
    val paths = args("src_path").split('|').toSeq
    val exp = args("exp_dim").split('|').toSeq
    val imp = args("imp_dim").split('|').toSeq
    val view = NcView.open(paths.head)
    val raw = paths.map(spark.read.format("netcdf3")
      .option("measure", args("measure")).load(_)).reduce(_.unionByName(_))
    val converted = (exp ++ imp).foldLeft(raw) { (df, d) =>
      Engine.CfTime.of(view, d).fold(df)(t => df.withColumn(d, t(col(d))))
    }
    CubeOps.buildN(converted, args("measure"), exp, imp, "container",
      args("src_path"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Imports through the engine and checks it against `buildN`;
    * returns whether the cube-shaped scan built the cube. */
  private def parity(args: Map[String, String]): Boolean = {
    val got = imported(engine(), args)
    val want = viaBuildN(args)
    assert(got.df.schema == want.df.schema,
      s"\n${got.df.schema.treeString}\nvs buildN\n${want.df.schema.treeString}")
    assert(got.desc.explicitDims == want.desc.explicitDims)
    assert(got.desc.implicitDims == want.desc.implicitDims)
    assert(got.desc.measureType == want.desc.measureType)
    val (g, w) = (rows(got.df), rows(want.df))
    assert(g.nonEmpty && g == w, s"\n${g.take(3)}\nvs buildN\n${w.take(3)}")
    isSeriesScan(got.df)
  }

  test("chunked NetCDF-4: implicit axis first, middle and last") {
    val path = grid()
    assert(parity(importArgs(path, "lat|lon", "time")))
    assert(parity(importArgs(path, "time|lon", "lat")))
    assert(parity(importArgs(path, "time|lat", "lon")))
  }

  test("exp_dim in an order different from the file's axes") {
    val path = grid()
    assert(parity(importArgs(path, "lon|lat", "time")))
    assert(parity(importArgs(path, "lon|time", "lat")))
  }

  test("classic NetCDF-3 with a record dim, as implicit and as explicit axis") {
    val path = recordGrid()
    assert(parity(importArgs(path, "level", "time")))
    assert(parity(importArgs(path, "time", "level")))
  }

  test("an axis with no coordinate variable reads as 1-based indices") {
    val path = grid(lonCoord = false)
    assert(parity(importArgs(path, "time|lat", "lon")))
    assert(parity(importArgs(path, "lat|lon", "time")))
  }

  test("a CF 'days since' implicit axis is converted on the coordinate array") {
    // whole days -> DATE
    val days = grid(timeAtts = Seq("units" -> "days since 2000-01-01"))
    assert(parity(importArgs(days, "lat|lon", "time")))
    val c = imported(engine(), importArgs(days, "lat|lon", "time"))
    assert(c.df.schema("__dim_time").dataType.simpleString == "array<date>")
    assert(c.df.select(element_at(col("__dim_time"), 3)).head().get(0)
      .toString == "2000-01-03")
    // fractional days -> TIMESTAMP
    val sixHourly = grid(time = Array.tabulate(nt)(_ * 0.25),
      timeAtts = Seq("units" -> "days since 2000-01-01"))
    assert(parity(importArgs(sixHourly, "lat|lon", "time")))
    assert(imported(engine(), importArgs(sixHourly, "lat|lon", "time"))
      .df.schema("__dim_time").dataType.simpleString == "array<timestamp>")
  }

  test("fallback: a non-increasing implicit coordinate") {
    val path = grid(time = Array.tabulate(nt)(i => (nt - i).toDouble))
    assert(!parity(importArgs(path, "lat|lon", "time")))
    // strictly increasing raw values that collapse after the CF
    // conversion (whole seconds) are non-increasing too
    val collapsing = grid(time = Array.tabulate(nt)(_ * 0.5),
      timeAtts = Seq("units" -> "seconds since 2000-01-01"))
    assert(!parity(importArgs(collapsing, "lat|lon", "time")))
  }

  test("fallback: a NaN implicit coordinate") {
    val path = grid(time = Array.tabulate(nt)(i =>
      if (i == 5) Double.NaN else i.toDouble))
    assert(!parity(importArgs(path, "lat|lon", "time")))
  }

  test("fallback: a repeated or NaN explicit coordinate") {
    // buildN merges the cells of equal lat keys (two NaNs group
    // together too) into one row with a longer series
    val lat = Array.tabulate(nlat)(i => -40.0 + 10 * i)
    val repeated = grid(lat = lat.updated(3, lat(4)))
    assert(!parity(importArgs(repeated, "lat|lon", "time")))
    val nan = grid(lat = lat.updated(2, Double.NaN).updated(6, Double.NaN))
    assert(!parity(importArgs(nan, "lat|lon", "time")))
  }

  test("fallback: storage chunked along the implicit axis only") {
    // one chunk per time step, the usual layout of climate archives:
    // the explicit chunk grid is a single tile, which would read the
    // whole variable in one task
    val perStep = grid(chunks = Seq(1, nlat, nlon))
    assert(!parity(importArgs(perStep, "lat|lon", "time")))
    // the same chunks cut the explicit time axis when lat is implicit
    assert(parity(importArgs(perStep, "time|lon", "lat")))
  }

  test("fallback: exp_dim omits an axis") {
    assert(!parity(importArgs(grid(), "lat", "time")))
  }

  test("fallback: a multi-file importncs") {
    val (a, b) = (grid(), grid(time = Array.tabulate(nt)(i => 100.0 + i)))
    assert(!parity(importArgs(s"$a|$b", "lat|lon", "time")))
  }

  test("fallback: a multi-variable (table-encoded) measure read") {
    // an exported cube: every column is a variable over one record dim
    val src = imported(engine(), importArgs(grid(), "lat|lon", "time"))
    val out = tmp(".nc")
    NetCDF3.writeTableDistributed(src.flatten, out)
    val c = imported(engine(), importArgs(out, "lat|lon", "time"))
    assert(!isSeriesScan(c.df))
    assert(rows(c.df) == rows(src.df))
  }

  test("import -> subset -> apply runs with no Exchange") {
    val path = grid()
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", importArgs(path, "lat|lon", "time"))
    val sub = e.runDataOperator("oph_subset", Map("cube" -> imp.cubePid.get,
      "subset_dims" -> "time", "subset_filter" -> "3:8"))
    val app = e.runDataOperator("oph_apply", Map("cube" -> sub.cubePid.get,
      "query" -> "oph_mul_scalar(measure,2)"))
    val df = e.cube(app.cubePid.get).get.df
    val got = df.collect()
    assert(got.length == nlat * nlon)
    assert(got.forall(_.getSeq[Double](2).size == 6))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("series along") && !plan.contains("Exchange"), plan)
  }

  test("a lat-range subset plans fewer tiles and decodes only its chunks") {
    val path = grid()
    val e = engine()
    val imp = e.runDataOperator("oph_importnc", importArgs(path, "lat|lon", "time"))
    def scanParts(df: DataFrame): Int = {
      df.collect()
      collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size
      }.sum
    }
    val full = scanParts(e.cube(imp.cubePid.get).get.df)
    // lat -40..-10 = indices 0..3, the first of two lat chunks
    val sub = e.runDataOperator("oph_subset", Map("cube" -> imp.cubePid.get,
      "subset_dims" -> "lat", "subset_type" -> "coord",
      "subset_filter" -> "-40:-10"))
    val subDf = e.cube(sub.cubePid.get).get.df
    Hdf5.chunkDecodes.set(0)
    assert(subDf.collect().length == 4 * nlon)
    // 3 time chunks x 1 lat chunk x 2 lon chunks of 12
    assert(Hdf5.chunkDecodes.get() == 6,
      s"decoded ${Hdf5.chunkDecodes.get()} chunks, expected 6")
    assert(scanParts(subDf) < full, s"subset ${scanParts(subDf)} vs full $full")
  }
}
