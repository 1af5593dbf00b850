package graftbench

/** The benchmark's arithmetic, kept free of Spark so it can be tested
  * on synthetic inputs. */
object Stats {

  /** Nearest-rank median: the ceil(n/2)-th smallest value. */
  def median(xs: Iterable[Double]): Double = {
    val sorted = xs.toIndexedSeq.sorted
    require(sorted.nonEmpty, "median of no samples")
    sorted((sorted.size + 1) / 2 - 1)
  }

  /** The tail the benchmark reports: the highest percentile with at
    * least 10 samples beyond it, i.e. the 11th-largest sample, which
    * sits at percentile (n - 10) / n. Below 20 samples that would fall
    * under the median, so the median stands in; `beyond` says how many
    * samples lie past the reported one either way. */
  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  def tail(values: Iterable[Double]): Tail = {
    val sorted = values.toIndexedSeq.sorted
    val n = sorted.size
    require(n > 0, "tail of no samples")
    val rank = if (n >= 20) n - 10 else (n + 1) / 2
    Tail(100.0 * rank / n, sorted(rank - 1), n, n - rank)
  }

  // ------------------------------------------------------- failures

  /** How one attempted request ended. Everything but `Ok` counts as
    * failed: a refusal misses any latency limit just as an error does. */
  sealed trait Outcome
  case object Ok extends Outcome
  /** 429/503: admission or quota refused the request. */
  final case class Refused(status: Int) extends Outcome
  /** Any other non-200 HTTP status, or an exception before a reply. */
  final case class HttpError(status: Int, message: String) extends Outcome
  /** 200 but `error != 0`: some workflow task failed. */
  final case class EngineError(message: String) extends Outcome
  /** 200 and `error == 0`, but the answer is wrong. */
  final case class WrongAnswer(message: String) extends Outcome

  def kind(o: Outcome): String = o match {
    case Ok => "ok"
    case _: Refused => "refused"
    case _: HttpError => "http_error"
    case _: EngineError => "engine_error"
    case _: WrongAnswer => "wrong_answer"
  }

  final case class Tally(attempted: Int, failed: Int, byKind: Map[String, Int]) {
    def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  def tally(outcomes: Iterable[Outcome]): Tally = {
    val kinds = outcomes.map(kind).groupBy(identity).map { case (k, v) => k -> v.size }
    val n = outcomes.size
    Tally(n, n - kinds.getOrElse("ok", 0), kinds - "ok")
  }

  /** Classify an HTTP reply to `/services/execute`; `check` judges the
    * rendered response once the transport and engine both said yes. */
  def classify(status: Int, error: Int, check: => Option[String]): Outcome =
    if (status == 429 || status == 503) Refused(status)
    else if (status != 200) HttpError(status, s"status $status")
    else if (error != 0) EngineError(s"error $error")
    else check.map(WrongAnswer(_)).getOrElse(Ok)

  // -------------------------------------------------- time coverage

  /** Length of the part of [from, to) that the union of `intervals`
    * covers. Intervals may overlap and may stick out of the window. */
  def covered(from: Long, to: Long, intervals: Iterable[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Share of the available core time the executors were busy. */
  def coreBusyFrac(executorRunMs: Double, wallMs: Double, cores: Int): Double =
    if (wallMs <= 0 || cores <= 0) 0.0 else executorRunMs / (wallMs * cores)
}
