package servebench

/** Summary statistics with the benchmark's reporting rules. */
object Stats {

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Samples that must lie beyond a reported percentile. */
  val MinBeyond = 10
  /** Tail percentiles a report tries, highest first. */
  val Tails: Seq[Double] = Seq(99, 90)

  /** Nearest-rank percentile `p` (0 < p < 100), reported only when at
    * least [[MinBeyond]] samples lie strictly above its rank; otherwise
    * the sample is too small to say anything about that tail. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    val rank = math.ceil(p / 100 * xs.size).toInt // 1-based
    if (xs.isEmpty || xs.size - rank < MinBeyond) None
    else Some(xs.sorted.apply(rank - 1))
  }

  /** The highest of [[Tails]] that [[percentile]] can report, with its value. */
  def highestTail(xs: Seq[Double]): Option[(Double, Double)] =
    Tails.iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()
}

/** Operations attempted and failed. An operation fails when it throws or
  * when its output disagrees with the reference; either way it counts
  * once, against the operations attempted. */
final class Tally {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failures: Seq[String] = synchronized(notes.toList)

  /** Count one operation; `problem` is None when it was correct. */
  def record(problem: Option[String]): Unit = synchronized {
    attempted0 += 1
    problem.foreach { p => failed0 += 1; if (notes.size < 20) notes += p }
  }

  /** Run `op` and `check` its result, counting the operation once:
    * failed if either throws or `check` names a problem. Returns the
    * result when `op` did not throw. */
  def run[T](what: String)(op: => T)(check: T => Option[String]): Option[T] = {
    val out = try Right(op) catch { case e: Exception => Left(s"$what threw $e") }
    out match {
      case Left(problem) => record(Some(problem)); None
      case Right(v) =>
        record(try check(v) catch { case e: Exception => Some(s"$what check threw $e") })
        Some(v)
    }
  }

  def errorRate: Double = synchronized(if (attempted0 == 0) 0.0 else failed0.toDouble / attempted0)
}
