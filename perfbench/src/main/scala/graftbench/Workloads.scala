package graftbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One workflow request and the checks that judge its answer.
  * `check` reads the rendered Response (the `response` member of the
  * HTTP envelope, or `Engine.renderResponse` output in the replay);
  * `after` runs once the reply is in, outside the timed window. */
final case class Request(body: String, session: String,
    check: JsonNode => Option[String],
    after: () => Option[String] = () => None,
    output: Option[Path] = None)

/** A workload: how many closed-loop clients, and each client's endless
  * seeded request stream. */
trait Workload {
  def clients: Int
  /** Warm-up requests per client before timing starts: until the
    * latency curve has flattened (JIT and codegen caches filled). */
  def warmup: Int
  /** Requests in one round of the stream's shapes: the traced pass
    * sends whole rounds, so each of its slices gets the same mix. */
  def round: Int
  /** The `sessionid` client `client` routes its requests to. */
  def session(client: Int): String
  def stream(client: Int, seed: Long): Iterator[Request]
}

object Workloads {
  val Names = Seq("climate_export", "control_plane")

  private val mapper = new ObjectMapper()

  def json(s: String): JsonNode = mapper.readTree(s)

  private def q(s: String): String = graft.render.ResponseWriter.jsonQuote(s)

  /** A task object of the request JSON. */
  private def task(name: String, op: String, args: Seq[String],
      deps: Seq[String] = Seq.empty, onExit: Boolean = false): String = {
    val d = deps.map(t => s"""{"task":${q(t)},"type":"single"}""")
    s"""{"name":${q(name)},"operator":${q(op)},""" +
      (if (onExit) """"on_exit":"oph_delete",""" else "") +
      s""""arguments":[${args.map(q).mkString(",")}],""" +
      s""""dependencies":[${d.mkString(",")}]}"""
  }

  private def flowDep(name: String, op: String, args: Seq[String],
      after: Seq[String]): String = {
    val d = after.map(t => s"""{"task":${q(t)}}""")
    s"""{"name":${q(name)},"operator":${q(op)},""" +
      s""""arguments":[${args.map(q).mkString(",")}],""" +
      s""""dependencies":[${d.mkString(",")}]}"""
  }

  private def workflow(name: String, session: String, tasks: Seq[String],
      variables: Map[String, String] = Map.empty): String = {
    val vars = variables.map { case (k, v) => s"${q(k)}:${q(v)}" }
    s"""{"name":${q(name)},"author":"graftbench","exec_mode":"sync",""" +
      s""""sessionid":${q(session)},"variables":{${vars.mkString(",")}},""" +
      s""""tasks":[${tasks.mkString(",")}]}"""
  }

  // ------------------------------------------------- response reading

  /** objkey -> objcontent[0] of every response element. */
  def objects(resp: JsonNode): Map[String, JsonNode] = {
    val arr = resp.get("response")
    (0 until arr.size).map { i =>
      val o = arr.get(i)
      o.get("objkey").asText -> o.get("objcontent").get(0)
    }.toMap
  }

  /** Every text object's status must read Completed. */
  def allCompleted(resp: JsonNode): Option[String] = {
    val arr = resp.get("response")
    (0 until arr.size).map(arr.get).collectFirst {
      case o if o.get("objclass").asText == "text" &&
          !o.get("objcontent").get(0).get("message").asText.startsWith("Completed") =>
        s"task ${o.get("objkey").asText}: ${o.get("objcontent").get(0).get("message").asText.take(300)}"
    }
  }

  /** Grid rows as string columns keyed by column name. */
  def gridRows(grid: JsonNode): Seq[Map[String, String]] = {
    val keys = (0 until grid.get("rowkeys").size).map(grid.get("rowkeys").get(_).asText)
    val rows = grid.get("rowvalues")
    (0 until rows.size).map { r =>
      keys.zipWithIndex.map { case (k, i) => k -> rows.get(r).get(i).asText }.toMap
    }
  }

  def close(a: Double, b: Double, rel: Double = Tolerance): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Relative tolerance for float answers: the engine sums in another
    * order than the plain-Scala reference. */
  val Tolerance = 1e-9

  private def firstError(checks: Option[String]*): Option[String] =
    checks.collectFirst { case Some(e) => e }

  /** Lists the session's cubes: after its requests' on_exit deletes,
    * the session must hold none. */
  def listProbe(session: String): Request = Request(
    workflow("probe", session,
      Seq(task("list", "oph_list", Seq("path=/", "recursive=yes")))),
    session, resp => objects(resp).get("list").map(_.get("message").asText) match {
      case Some(m) if m.stripPrefix("Completed").trim.isEmpty => None
      case other => Some(s"session $session still holds cubes: $other")
    })

  // --------------------------------------------------------- climate

  /** The apply step of the climate workload: Kelvin to Fahrenheit. */
  val ApplyQuery = "oph_sum_scalar(oph_mul_scalar(measure,1.8),-459.67)"
  def applied(v: Double): Double = v * 1.8 + -459.67

  /** Seeded 1-based time windows of fixed length (same work for every
    * seed; only the position moves). */
  def windows(c: Climate, client: Int, seed: Long): Iterator[(Int, Int)] = {
    val rnd = new java.util.Random(seed * 31 + client)
    val len = c.nt / 3
    Iterator.continually {
      val a = 1 + rnd.nextInt(c.nt - len + 1)
      (a, a + len - 1)
    }
  }

  private def climateHead(c: Climate, a: Int, b: Int): Seq[String] = Seq(
    task("imp", "oph_importnc", Seq(s"src_path=${c.file.path}", "measure=tas",
      "exp_dim=lat|lon", "imp_dim=time", "container=clim"), onExit = true),
    task("sub", "oph_subset", Seq("subset_dims=time", s"subset_filter=$a:$b"),
      Seq("imp"), onExit = true),
    task("app", "oph_apply", Seq(s"query=$ApplyQuery"), Seq("sub"), onExit = true))

  def climateExport(c: Climate, outDir: Path): Workload = new Workload {
    val clients = 1
    val warmup = 30
    val round = 1
    def session(client: Int) = s"ce$client"
    def stream(client: Int, seed: Long): Iterator[Request] = {
      var n = 0
      windows(c, client, seed).map { case (a, b) =>
        n += 1
        val out = outDir.resolve(s"export-$client-$n.nc4")
        val body = workflow("climate_export", session(client), climateHead(c, a, b) :+
          task("exp", "oph_exportnc", Seq(s"output_path=$out"), Seq("app")))
        Request(body, session(client), allCompleted, () => {
          try verifyExport(c, out, a, b)
          finally deleteExport(out)
        }, Some(out))
      }
    }
  }

  /** Reopen an exported table with the NetCDF-4 reader: shape, then
    * checksums of the measure and of the time coordinate. */
  def verifyExport(c: Climate, out: Path, a: Int, b: Int): Option[String] = {
    import graft.sources.NetCDF4
    if (!Files.isRegularFile(out)) return Some(s"no exported file $out")
    val m = NetCDF4.open(out.toString)
    val rows = c.nlat.toLong * c.nlon * (b - a + 1)
    val names = m.vars.map(_.name).toSet
    if (m.dims.map(_.length) != Seq(rows))
      return Some(s"export dims ${m.dims}, want one of $rows rows")
    if (!Set("lat", "lon", "time", "tas").subsetOf(names))
      return Some(s"export vars $names")
    def col(n: String) = NetCDF4.readSlab(out.toString, m.varByName(n), 0, rows.toInt)
    val tas = col("tas").sum
    val time = col("time").sum
    var wantTas = 0.0
    for (t <- a - 1 until b; y <- 0 until c.nlat; x <- 0 until c.nlon)
      wantTas += applied(c.cell(t, y, x))
    val wantTime = (a - 1 until b).map(c.time(_)).sum * c.nlat * c.nlon
    if (!close(tas, wantTas)) Some(s"export tas sum $tas, want $wantTas")
    else if (!close(time, wantTime)) Some(s"export time sum $time, want $wantTime")
    else None
  }

  private def deleteExport(out: Path): Unit = {
    Files.deleteIfExists(out)
    val side = out.resolveSibling(out.getFileName.toString + ".chunks")
    if (Files.isDirectory(side)) {
      val it = Files.list(side).iterator()
      while (it.hasNext) Files.deleteIfExists(it.next())
      Files.deleteIfExists(side)
    }
  }

  // --------------------------------------------------- control plane

  def controlPlane(li: Lineitem): Workload = new Workload {
    val clients = 4
    val warmup = 30
    val round = 3
    val LoopIterations = 2
    val FanOut = 3
    private val src = li.file.path.toString
    private val byOrder = li.lines.groupBy(_.orderkey)
    private val byLine = li.lines.groupBy(_.linenumber)

    private def metadataTasks(dep: String): Seq[String] = Seq(
      task("schema", "oph_cubeschema", Seq.empty, Seq(dep)),
      task("size", "oph_cubesize", Seq.empty, Seq(dep)),
      flowDep("list", "oph_list", Seq("path=/", "recursive=yes"), Seq("size")))

    /** `oph_cubesize` of the imported cube: one row per explicit key. */
    private def sizeCheck(resp: JsonNode, rows: Int): Option[String] =
      objects(resp).get("size").map(gridRows) match {
        case Some(Seq(r)) if r("n_rows").toLong == rows => None
        case other => Some(s"cubesize: $other, want $rows rows")
      }

    /** FIXTURES.md section 5: a sequential oph_for whose subset picks
      * its input by massive filter and reads the loop counter `&i`. */
    private def forLoop(session: String, k: Int): Request = {
      val body = workflow("cp_for", session, Seq(
        task("imp", "oph_importnc", Seq(s"src_path=$src", "measure=@m",
          "exp_dim=l_orderkey", "imp_dim=l_linenumber", "container=li"),
          onExit = true),
        flowDep("loop", "oph_for", Seq("key=i", s"counter=1:$k", "parallel=no"),
          Seq("imp")),
        s"""{"name":"sub","operator":"oph_subset","on_exit":"oph_delete",""" +
          """"arguments":["cube=[measure=@m;level=0]","subset_dims=l_linenumber",""" +
          """"subset_filter=&i:7"],"dependencies":[{"task":"loop"}]}""",
        task("red", "oph_reduce", Seq("operation=sum"), Seq("sub"), onExit = true),
        task("peek", "oph_explorecube", Seq("limit_filter=100"), Seq("red")),
        flowDep("endloop", "oph_endfor", Seq.empty, Seq("peek"))) ++
        metadataTasks("imp"), Map("m" -> "l_extendedprice"))
      Request(body, session, resp => firstError(allCompleted(resp), sizeCheck(resp, byOrder.size), {
        val objs = objects(resp)
        (1 to k).iterator.map { i =>
          val key = objs.keys.find(o => o == s"peek_$i" || (k == 1 && o == "peek"))
          key.map(objs).map(gridRows) match {
            case None => Some(s"for: no grid for iteration $i in ${objs.keys}")
            case Some(rows) if rows.size != 100 => Some(s"for $i: ${rows.size} rows")
            case Some(rows) => rows.collectFirst {
              case r if !close(r("l_extendedprice").toDouble,
                  byOrder(r("l_orderkey").toLong).filter(_.linenumber >= i)
                    .map(_.extendedprice).sum) =>
                s"for $i: order ${r("l_orderkey")} got ${r("l_extendedprice")}"
            }
          }
        }.collectFirst { case Some(e) => e }
      }))
    }

    /** An oph_if / oph_elseif / oph_else chain; the seeded variable
      * picks the branch, each branch aggregates by line number. */
    private def ifChain(session: String, x: Int): Request = {
      val ops = Seq("sum", "max", "avg")
      def branch(tag: String, op: String) = Seq(
        task(s"agg$tag", "oph_aggregate", Seq(s"operation=$op",
          "group_by=l_linenumber"), Seq("imp"), onExit = true),
        task(s"peek$tag", "oph_explorecube", Seq("limit_filter=100"), Seq(s"agg$tag")))
      val body = workflow("cp_if", session, Seq(
        task("imp", "oph_importnc", Seq(s"src_path=$src", "measure=l_quantity",
          "exp_dim=l_orderkey|l_linenumber", "container=li"), onExit = true),
        flowDep("if", "oph_if", Seq("condition=@x<1"), Seq("imp"))) ++
        branch("A", ops(0)) ++
        Seq(flowDep("elif", "oph_elseif", Seq("condition=@x<2"), Seq.empty)) ++
        branch("B", ops(1)) ++
        Seq(flowDep("else", "oph_else", Seq.empty, Seq.empty)) ++
        branch("C", ops(2)) ++
        Seq(flowDep("endif", "oph_endif", Seq.empty, Seq.empty)) ++
        metadataTasks("imp"), Map("x" -> x.toString))
      val tag = Seq("A", "B", "C")(x)
      Request(body, session, resp => firstError(allCompleted(resp), sizeCheck(resp, li.lines.size), {
        val objs = objects(resp)
        val others = Seq("A", "B", "C").filter(_ != tag).map("peek" + _)
        objs.get(s"peek$tag").map(gridRows) match {
          case _ if others.exists(objs.contains) => Some(s"if: wrong branch ran, want $tag")
          case None => Some(s"if: no grid peek$tag")
          case Some(rows) if rows.size != byLine.size => Some(s"if: ${rows.size} rows")
          case Some(rows) => rows.collectFirst {
            case r if {
              val qs = byLine(r("l_linenumber").toInt).map(_.quantity)
              val want = ops(x) match {
                case "sum" => qs.sum
                case "max" => qs.max
                case _ => qs.sum / qs.size
              }
              !close(r("l_quantity").toDouble, want)
            } => s"if: line ${r("l_linenumber")} got ${r("l_quantity")}"
          }
        }
      }))
    }

    /** A `cube=[container=...;level=1]` fan-out over the subsets the
      * request just made: it must mint exactly one cube per subset. */
    private def massive(session: String, picks: Seq[Int]): Request = {
      val subs = picks.zipWithIndex.map { case (ln, j) =>
        task(s"s$j", "oph_subset", Seq("subset_dims=l_linenumber",
          s"subset_filter=$ln"), Seq("imp"), onExit = true)
      }
      val body = workflow("cp_massive", session, Seq(
        task("imp", "oph_importnc", Seq(s"src_path=$src", "measure=l_quantity",
          "exp_dim=l_orderkey|l_linenumber", "container=li"), onExit = true)) ++
        subs ++ Seq(
        flowDep("fan", "oph_aggregate", Seq("cube=[container=li;level=1]",
          "operation=sum", "group_by=l_linenumber"), picks.indices.map(j => s"s$j")),
        task("peek", "oph_explorecube", Seq("limit_filter=100"), Seq("fan")),
        // on_exit covers only the last pid of a fan-out, so the
        // workflow drops the minted cubes itself
        flowDep("drop", "oph_delete", Seq("cube=[container=li;level=2]"), Seq("peek"))) ++
        metadataTasks("imp"))
      Request(body, session, resp => firstError(allCompleted(resp), sizeCheck(resp, li.lines.size), {
        val objs = objects(resp)
        val minted = objs.get("fan").map(_.get("message").asText
          .stripPrefix("Completed").trim.split(' ').last.split('|').count(_.nonEmpty))
        objs.get("peek").map(gridRows) match {
          case _ if !minted.contains(picks.size) =>
            Some(s"massive: minted $minted cubes, want ${picks.size}")
          case Some(Seq(r)) if picks.contains(r("l_linenumber").toInt) &&
              close(r("l_quantity").toDouble,
                byLine(r("l_linenumber").toInt).map(_.quantity).sum) => None
          case other => Some(s"massive: grid $other")
        }
      }))
    }

    def session(client: Int) = s"cp$client"

    /** Rounds of one request of each shape, in a seeded order, with
      * seeded arguments of equal cost: the mix, and so the latency
      * distribution, is the same for every seed. */
    def stream(client: Int, seed: Long): Iterator[Request] = {
      val rnd = new scala.util.Random(seed * 131 + client)
      Iterator.continually(rnd.shuffle(List(0, 1, 2))).flatten.map {
        case 0 => forLoop(session(client), LoopIterations)
        case 1 => ifChain(session(client), rnd.nextInt(3))
        case _ => massive(session(client), rnd.shuffle((1 to 7).toList).take(FanOut))
      }
    }
  }
}
