package graftbench

import org.apache.spark.BenchEvents
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail is the highest percentile with 10 samples beyond: the 11th largest") {
    def pick(n: Int) = Stats.tail((1 to n).map(_.toDouble).reverse)
    assert(pick(20) == Stats.Tail(50.0, 10.0, 20, 10))
    assert(pick(40) == Stats.Tail(75.0, 30.0, 40, 10))
    assert(pick(100) == Stats.Tail(90.0, 90.0, 100, 10))
    assert(pick(1000) == Stats.Tail(99.0, 990.0, 1000, 10))
  }

  test("below 20 samples the tail falls back to the median and says so") {
    val t = Stats.tail(Seq(5.0, 1.0, 3.0))
    assert(t == Stats.Tail(200.0 / 3, 3.0, 3, 1))
    assert(Stats.tail((1 to 19).map(_.toDouble)).value == 10.0)
  }

  test("median is nearest-rank on unsorted input") {
    assert(Stats.median(Seq(9.0, 1.0, 5.0, 7.0)) == 5.0)
    assert(Stats.median(Seq(2.0)) == 2.0)
  }

  test("traced-pass slices send whole rounds of shapes, at least one") {
    def wl(c: Int, r: Int) = new Workload {
      val clients = c
      val warmup = 0
      val round = r
      def session(client: Int) = ""
      def stream(client: Int, seed: Long) = Iterator.empty
    }
    // 4 clients, rounds of 3: 100 timed requests over 6 slices is 4 per
    // client per slice, cut down to one whole round
    assert(Main.sliceRequests(100, wl(4, 3), 6) == 3)
    assert(Main.sliceRequests(150, wl(4, 3), 6) == 6)
    assert(Main.sliceRequests(5, wl(4, 3), 6) == 3)
    assert(Main.sliceRequests(23, wl(1, 1), 6) == 3)
    assert(Main.sliceRequests(0, wl(1, 1), 6) == 1)
  }

  test("paired differences match the same request across slices, skipping failures") {
    import Main.{Pass, Sample}
    def pass(ms: Double*) = Pass(ms.map(Sample(_, Stats.Ok)), 1.0)
    val bad = Sample(1.0, Stats.WrongAnswer("x"))
    // shapes of very different cost: the p50s differ by 900 ms, while
    // every request is 10 ms slower
    val base = Seq(pass(100, 1000, 5000), pass(100, 1000))
    val other = Seq(pass(110, 1010, 5010), pass(110, 1010))
    assert(Main.pairedDiffMs(base, other) == 10.0)
    val withFailure = Seq(Pass(Seq(bad, Sample(200, Stats.Ok)), 1.0))
    assert(Main.pairedDiffMs(Seq(pass(0, 150)), withFailure) == 50.0)
    assert(Main.pairedDiffMs(Seq(pass(0)), Seq(Pass(Seq(bad), 1.0))) == 1.0)
  }

  test("failed_frac counts refused, non-200, engine errors and wrong answers") {
    def boom: Option[String] = throw new AssertionError("check must not run")
    val outcomes = Seq(
      Stats.classify(200, 0, None),
      Stats.classify(429, 0, boom),
      Stats.classify(503, 0, boom),
      Stats.classify(500, 0, boom),
      Stats.classify(401, 0, boom),
      Stats.classify(200, 3, boom),
      Stats.classify(200, 0, Some("lat 1.0: got 2, want 3")),
      Stats.classify(200, 0, None))
    assert(outcomes(1) == Stats.Refused(429) && outcomes(2) == Stats.Refused(503))
    assert(outcomes(3).isInstanceOf[Stats.HttpError])
    assert(outcomes(5).isInstanceOf[Stats.EngineError])
    assert(outcomes(6) == Stats.WrongAnswer("lat 1.0: got 2, want 3"))
    val t = Stats.tally(outcomes)
    assert(t.attempted == 8 && t.failed == 6)
    assert(t.failedFrac == 0.75)
    assert(t.byKind == Map("refused" -> 2, "http_error" -> 2,
      "engine_error" -> 1, "wrong_answer" -> 1))
    assert(Stats.tally(Seq.empty).failedFrac == 0.0)
  }

  test("covered merges overlapping intervals and clips to the window") {
    assert(Stats.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L), (-5L, 5L))) == 45)
    assert(Stats.covered(0, 100, Seq.empty) == 0)
  }

  test("core_busy_frac, self time and attribution from a synthetic event stream") {
    val l = new LayerListener
    val req = Some("req-1")
    // request req-1: one job 1000..1400 with two tasks on stage 7
    l.onJobStart(BenchEvents.jobStart(0, 1000, req))
    l.onStageSubmitted(BenchEvents.stageSubmitted(7, req))
    l.onTaskEnd(BenchEvents.taskEnd(7, 1, 1010, 1300, runMs = 250, recordsRead = 10))
    l.onTaskEnd(BenchEvents.taskEnd(7, 2, 1010, 1350, runMs = 300, recordsRead = 0))
    l.onJobEnd(BenchEvents.jobEnd(0, 1400))
    // a job nobody tagged is not guessed onto the request
    l.onJobStart(BenchEvents.jobStart(1, 1500, None))
    l.onStageSubmitted(BenchEvents.stageSubmitted(8, None))
    l.onTaskEnd(BenchEvents.taskEnd(8, 3, 1500, 1600, runMs = 90, recordsRead = 5))
    l.onJobEnd(BenchEvents.jobEnd(1, 1600))
    // spans: 0.5 ms of auth/parse/validate/admit, run 900..1200, render 1200..1900
    val s = Spans("req-1", 0.2, 0.1, 0.1, 0.1, 900.0, 1200.0, 1200.0, 1900.0,
      100L, 0, 3, 3, 0L)
    val m = Trace.layers(Seq(s), l, cores = 4, inputFileBytes = 1000L)
      .map { case (k, v) => k -> v.head }
    assert(m("spark.jobs") == 1 && m("spark.stages") == 1 && m("spark.tasks") == 2)
    assert(m("spark.executor_run_ms") == 550)
    // 550 ms of task time over a 1000.5 ms request on 4 cores
    assert(math.abs(m("spark.core_busy_frac") - 550.0 / (1000.5 * 4)) < 1e-12)
    assert(m("spark.empty_task_frac") == 0.5)
    assert(m("engine.driver_self_ms") == 100.0) // run 900..1200, job from 1000
    assert(m("render.self_ms") == 500.0)        // render 1200..1900, job to 1400
    assert(m("sources.file_bytes_read") == 1000.0) // one scanning stage
    assert(l.jobs.values.count(_.request.isEmpty) == 1)
  }
}
