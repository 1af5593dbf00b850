package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Catalog, JobStatus}
import graft.server.{AuthService, HttpService}
import graft.workflow.{Engine, Workflow}

/**
 * End-to-end benchmark of graft's server path: `HttpService` runs
 * in-process and closed-loop clients POST sync workflow requests to
 * `/services/execute`. One run = set-up (Spark session, server,
 * warm-up), a timed window with tracing off, and with `--trace 1` a
 * traced pass: an in-process replay of the request stream, bare and
 * traced, alternating with untraced HTTP, that splits each request by
 * layer.
 *
 * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
 *   --trace <0|1> --work <dir> --report <file> [--source-digest <hex>]
 *   [--git-commit <sha>]
 */
object Main {
  val User = "bench"
  val Password = "bench-password"
  private val AuthHeader = "Basic " + java.util.Base64.getEncoder
    .encodeToString(s"$User:$Password".getBytes(StandardCharsets.UTF_8))

  /** The traced pass alternates bare, HTTP and traced slices this many
    * times, sized to take about `--seconds` in total. Even: every other
    * round runs its slices in reverse order. */
  val TraceRounds = 2

  final case class Config(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, report: Path, sourceDigest: String,
      gitCommit: String)

  /** One finished request: round trip and how it ended. */
  final case class Sample(latencyMs: Double, outcome: Stats.Outcome)

  /** A closed-loop pass; `samples` run client by client, each client's
    * in the order it sent them. */
  final case class Pass(samples: Seq[Sample], windowS: Double)

  /** Round trips of the successful requests; if none succeeded, of all
    * of them, so a broken run still reports (with `correct: false`). */
  def latencies(samples: Seq[Sample]): Seq[Double] = {
    val ok = samples.collect { case Sample(ms, Stats.Ok) => ms }
    if (ok.nonEmpty) ok else samples.map(_.latencyMs)
  }

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(Workloads.Names.contains(wl), s"unknown workload '$wl'")
    Config(wl, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Path.of(need("work")), Path.of(need("report")),
      m.getOrElse("source-digest", ""), m.getOrElse("git-commit", ""))
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cfg = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(cfg.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    // exit explicitly: a failed run must not linger on the server's
    // non-daemon threads
    val status =
      try { run(cfg, spark, cores, jvmStartMs); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(status)
  }

  private def run(cfg: Config, spark: SparkSession, cores: Int, jvmStartMs: Long): Unit = {
    val inputDir = Files.createDirectories(cfg.work.resolve("inputs"))
    val ((wl, inputs), inputgenMs) = Trace.timed {
      cfg.workload match {
        case "climate_export" =>
          val c = Inputs.climate(inputDir, cfg.seed)
          val out = Files.createDirectories(cfg.work.resolve("exports"))
          (Workloads.climateExport(c, out), Seq(c.file))
        case _ =>
          val li = Inputs.lineitem(spark, inputDir, cfg.seed)
          (Workloads.controlPlane(li), Seq(li.file))
      }
    }
    val auth = new AuthService
    auth.addUser(User, Password)
    val svc = new HttpService(new Engine(spark, new Catalog("bench0"), User), auth).start()
    val base = s"http://127.0.0.1:${svc.boundPort}/services/execute"
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val http: Request => Sample = post(client, base, _)
    val warm = closedLoop(wl, cfg.seed ^ 0x5eedL, http, wl.warmup, Long.MaxValue)
    val setupS = (System.currentTimeMillis() - jvmStartMs - inputgenMs) / 1000.0

    val timed = closedLoop(wl, cfg.seed, http, Int.MaxValue,
      System.nanoTime() + cfg.seconds * 1000000000L)
    val report = mutable.LinkedHashMap[String, Any]()
    // units live in BENCHMARK.json; the report carries values only
    val metrics = mutable.LinkedHashMap[String, Double]()
    val lat = latencies(timed.samples)
    val tail = Stats.tail(lat)
    metrics("setup_s") = setupS
    metrics("latency_p50_s") = Stats.median(lat) / 1000
    metrics("latency_tail_s") = tail.value / 1000
    metrics("throughput_wf_s") = lat.size / timed.windowS

    var samples = warm.samples ++ timed.samples
    if (cfg.trace) {
      // bare replay, untraced HTTP and traced replay alternate in short
      // slices, so that JIT warm-up still under way drifts all three
      // alike. Every slice sends the same requests: the same stream, cut
      // after a fixed count of whole rounds of its shapes (sized from the
      // timed window's pace), never by a deadline, so a slower slice
      // cannot run a different mix.
      val bare = new Replay(spark, auth, traced = false)
      val traced = new Replay(spark, auth, traced = true)
      val listener = new LayerListener
      val perClient = sliceRequests(timed.samples.size, wl, 3 * TraceRounds)
      def slice(send: Request => Sample) =
        closedLoop(wl, cfg.seed + 1, send, perClient, Long.MaxValue)
      var codegenNs = 0L
      def tracedSlice() = {
        spark.sparkContext.addSparkListener(listener)
        val c0 = compileNs()
        val t = slice(traced.send)
        codegenNs += compileNs() - c0
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        t
      }
      // bare, HTTP, traced, then traced, HTTP, bare: a drift that is
      // linear over the pass favours none of the three
      val rounds = (1 to TraceRounds).map { r =>
        if (r % 2 == 1) {
          val b = slice(bare.send); val h = slice(http); (b, h, tracedSlice())
        } else {
          val t = tracedSlice(); val h = slice(http); (slice(bare.send), h, t)
        }
      }
      val bareS = rounds.flatMap(_._1.samples)
      val httpS = rounds.flatMap(_._2.samples)
      val tracedS = rounds.flatMap(_._3.samples)
      samples = samples ++ bareS ++ httpS ++ tracedS
      def p50(xs: Seq[Sample]) = Stats.median(latencies(xs))
      val spans = traced.spans.asScala.toSeq
      val perRequest = Trace.layers(spans, listener, cores, inputs.map(_.bytes).sum)
      perRequest.foreach { case (k, v) => metrics(k) = Stats.median(v) }
      metrics("server.http_ms") = pairedDiffMs(rounds.map(_._1), rounds.map(_._2))
      metrics("spark.codegen_ms") = codegenNs / 1e6 / math.max(1, spans.size)
      val unattributed = listener.synchronized {
        listener.jobs.values.filter(_.request.isEmpty).map(j => j.end - j.start).sum
      }
      metrics("spark.unattributed_job_ms") =
        unattributed.toDouble / math.max(1, spans.size)
      metrics("trace.overhead_ms") = pairedDiffMs(rounds.map(_._1), rounds.map(_._3))
      report("replay") = Map("rounds" -> TraceRounds,
        "requests_per_client_per_slice" -> perClient,
        "bare_requests" -> bareS.size, "http_requests" -> httpS.size,
        "traced_requests" -> tracedS.size, "bare_p50_ms" -> p50(bareS),
        "http_p50_ms" -> p50(httpS), "traced_p50_ms" -> p50(tracedS),
        "per_request_values" -> perRequest)
    }
    // each session must be empty again: on_exit dropped every cube
    val probes = (0 until wl.clients).map(c =>
      post(client, base, Workloads.listProbe(wl.session(c))))
    samples = samples ++ probes
    svc.stop()

    val tally = Stats.tally(samples.map(_.outcome))
    metrics("retained_heap_mb") = retainedHeapMb()

    report("workload") = cfg.workload
    report("seed") = cfg.seed
    report("seconds") = cfg.seconds
    report("trace") = cfg.trace
    report("clients") = wl.clients
    report("loop") = "closed"
    report("fingerprint") = fingerprint(cfg, cores)
    report("inputs") = inputs.map(f => Map("name" -> f.name, "bytes" -> f.bytes,
      "sha256" -> f.sha256))
    report("inputgen_s") = inputgenMs / 1000
    report("latency_samples") = lat.size
    report("latencies_ms") = timed.samples.map(_.latencyMs)
    report("latency_tail_percentile") = tail.percentile
    report("latency_tail_beyond") = tail.beyond
    report("attempted") = tally.attempted
    report("failed") = tally.failed
    report("failed_frac") = tally.failedFrac
    report("failures") = tally.byKind
    report("first_failures") = samples.map(_.outcome).filter(_ != Stats.Ok)
      .take(5).map(_.toString)
    report("metrics") = metrics
    Files.writeString(cfg.report, new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(report))
  }

  /** Median over requests of the round trip in `other` minus that in
    * `base`, pairing each request with the same request (same client,
    * same place in its stream) of the matching slice. Pairs where either
    * side failed are left out, unless every pair has a failure. Pairing
    * keeps the difference free of the spread between request shapes. */
  def pairedDiffMs(base: Seq[Pass], other: Seq[Pass]): Double = {
    val pairs = base.zip(other).flatMap { case (b, o) => b.samples.zip(o.samples) }
    val ok = pairs.filter { case (b, o) => b.outcome == Stats.Ok && o.outcome == Stats.Ok }
    Stats.median((if (ok.nonEmpty) ok else pairs).map { case (b, o) =>
      o.latencyMs - b.latencyMs })
  }

  /** Requests per client in one slice of the traced pass: whole rounds
    * of the workload's shapes, as many as fit in a `1/slices` share of
    * the timed window at its pace (`timedRequests` over all clients),
    * and at least one round. */
  def sliceRequests(timedRequests: Int, wl: Workload, slices: Int): Int =
    math.max(1, timedRequests / wl.clients / slices / wl.round) * wl.round

  /** Cumulative whole-stage codegen compile time (process-global). */
  private def compileNs(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Driver heap still in use after full collections. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def fingerprint(cfg: Config, cores: Int): Map[String, Any] = {
    val memTotal = scala.util.Try(Files.readAllLines(Path.of("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)).getOrElse(-1L)
    Map("nproc" -> cores, "mem_total_kb" -> memTotal,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "git_commit" -> cfg.gitCommit, "source_digest" -> cfg.sourceDigest,
      "seed" -> cfg.seed)
  }

  // ------------------------------------------------------ transport

  /** POST one request and judge the reply. Only the round trip is
    * timed; parsing and checking the answer are not. */
  def post(client: HttpClient, url: String, r: Request): Sample = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .header("Authorization", AuthHeader)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
    val t0 = System.nanoTime()
    val resp =
      try Right(client.send(req, HttpResponse.BodyHandlers.ofString()))
      catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    Sample(ms, resp match {
      case Left(e) => Stats.HttpError(-1, e.toString)
      case Right(x) if x.statusCode != 200 => Stats.classify(x.statusCode, 0, None)
      case Right(x) =>
        judge {
          val env = Workloads.json(x.body)
          Stats.classify(200, env.get("error").asInt, r.check(env.get("response")))
        }
    })
  }

  /** A check that throws is a wrong answer, not a crash. */
  private def judge(o: => Stats.Outcome): Stats.Outcome =
    try o catch { case e: Exception => Stats.WrongAnswer(s"unreadable answer: $e") }

  /** Closed loop: each client thread sends its next request only after
    * the reply to the previous one, until it has sent `perClient` or
    * the deadline (System.nanoTime) has passed. Work done by a request's
    * `after` hook is excluded from the window. */
  def closedLoop(wl: Workload, seed: Long, send: Request => Sample,
      perClient: Int, deadline: Long): Pass = {
    val results = Array.fill(wl.clients)(mutable.ArrayBuffer[Sample]())
    val afterNs = new java.util.concurrent.atomic.AtomicLong(0)
    val start = System.nanoTime()
    val threads = (0 until wl.clients).map { c =>
      val t = new Thread(() => {
        val it = wl.stream(c, seed)
        var n = 0
        while (n < perClient && System.nanoTime() < deadline) {
          val r = it.next()
          val s = send(r)
          val a0 = System.nanoTime()
          val after = judge(r.after().map(Stats.WrongAnswer(_)).getOrElse(Stats.Ok))
          afterNs.addAndGet(System.nanoTime() - a0)
          results(c) += (if (s.outcome == Stats.Ok) s.copy(outcome = after) else s)
          n += 1
        }
      }, s"graftbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    val wallNs = System.nanoTime() - start - afterNs.get / wl.clients
    Pass(results.toSeq.flatten, wallNs / 1e9)
  }

  /**
   * The in-process replay: the public calls `HttpService.handleExecute`
   * makes, in its order — authenticate, parse, validate, admission,
   * runRequest, renderResponse — on the client thread, against
   * engines of its own (one per session, as the service routes them).
   * Traced, it also tags the thread's Spark jobs with the request id
   * and keeps the spans.
   */
  final class Replay(spark: SparkSession, auth: AuthService, traced: Boolean) {
    private val engines = scala.collection.concurrent.TrieMap[String, Engine]()
    private val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Spans]()

    def send(r: Request): Sample = {
      val eng = engines.getOrElseUpdate(r.session,
        new Engine(spark, new Catalog(r.session), User))
      val cubesBefore = eng.cubeCount
      val id = s"req-${seq.incrementAndGet()}"
      val sc = spark.sparkContext
      if (traced) sc.setLocalProperty(Trace.RequestKey, id)
      try {
        val t0 = System.nanoTime()
        val (user, authMs) = Trace.timed(auth.authenticate(Some(AuthHeader), "127.0.0.1"))
        val (spec, parseMs) = Trace.timed(Workflow.parse(r.body))
        val (_, validateMs) = Trace.timed(Workflow.validate(spec))
        val (_, admitMs) = Trace.timed(eng.checkAdmission())
        val wfId = eng.reserveWorkflowId()
        val runStart = Trace.nowMs()
        val results = eng.runRequest(spec, Some(r.body), presetId = Some(wfId),
          submitter = user)
        val runEnd = Trace.nowMs()
        val rendered = eng.renderResponse(spec.name, results, spec.outputFormat)
        val renderEnd = Trace.nowMs()
        val ms = (System.nanoTime() - t0) / 1e6
        val failed = results.values.exists(_.status == JobStatus.Error)
        val cubesAfter = eng.cubeCount
        if (traced) spans.add(Spans(id, authMs, parseMs, validateMs, admitMs,
          runStart, runEnd, runEnd, renderEnd,
          rendered.getBytes(StandardCharsets.UTF_8).length, cubesAfter,
          results.values.count(_.status == JobStatus.Completed), results.size,
          r.output.filter(Files.isRegularFile(_)).map(Files.size).getOrElse(0L)))
        Sample(ms, judge(Stats.classify(if (user.isEmpty) 401 else 200,
          if (failed) HttpService.ErrGeneric else HttpService.Ok,
          r.check(Workloads.json(rendered)).orElse(
            if (cubesAfter != cubesBefore)
              Some(s"cubes live $cubesBefore -> $cubesAfter after the request")
            else None))))
      } catch {
        case e: Exception => Sample(0, Stats.HttpError(500, e.toString))
      } finally if (traced) sc.setLocalProperty(Trace.RequestKey, null)
    }
  }
}
