package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded sensor-line generator. Lines have the reference's shape
  * `"{unix_ts} {metric} {value}"`, Voltage/Current only, over `Days`
  * days from `firstDay`; the last day is the current day. Each accepted reading is also kept as
  * parsed columns, so the benchmark can recompute the expected store
  * without trusting the pipeline. */
object Gen {
  val Days = 30
  val firstDay: LocalDate = LocalDate.parse("2024-03-01")
  private val epoch0 = firstDay.toEpochDay * 86400L

  /** Accepted readings, as per-day, per-metric sums and counts of the
    * values exactly as sent (metric 0 is Voltage, 1 is Current). That is
    * all the checks need, and its size does not grow with the store, so
    * it adds nothing to the live heap the benchmark reports. */
  final class Readings {
    val sum: Array[Array[Double]] = Array.ofDim[Double](2, Days)
    val count: Array[Array[Long]] = Array.ofDim[Long](2, Days)
    var n = 0L
    def add(t: Long, m: String, v: String): Unit = {
      val d = ((t - epoch0) / 86400L).toInt
      val k = if (m == "Voltage") 0 else 1
      sum(k)(d) += v.toDouble; count(k)(d) += 1; n += 1
    }
    def addAll(o: Readings): Unit = {
      for (k <- 0 to 1; d <- 0 until Days) { sum(k)(d) += o.sum(k)(d); count(k)(d) += o.count(k)(d) }
      n += o.n
    }
    def perDay: Array[Long] = Array.tabulate(Days)(d => count(0)(d) + count(1)(d))
  }

  def reading(r: SplittableRandom, day: Int): (Long, String, String) = {
    val t = epoch0 + day * 86400L + r.nextInt(86400)
    if (r.nextBoolean()) {
      val c = 21000 + r.nextInt(4000)
      (t, "Voltage", f"${c / 100}%d.${c % 100}%02d")
    } else {
      val m = 500 + r.nextInt(14500)
      (t, "Current", f"${m / 1000}%d.${m % 1000}%03d")
    }
  }

  def line(t: Long, m: String, v: String): String = s"$t $m $v"

  /** A line the silver regexes of the staging model reject. */
  def badSilverLine(r: SplittableRandom, day: Int): String = {
    val (t, m, v) = reading(r, day)
    r.nextInt(5) match {
      case 0 => s"x$t $m $v"
      case 1 => s"$t 9$m $v"
      case 2 => s"$t $m $v.5"
      case 3 => s"$t $m"
      case _ => s"$t  $m $v"
    }
  }

  /** A line the API edge (`Serve.postData`) refuses, so its whole body is refused. */
  def badPostLine(r: SplittableRandom, day: Int): String = {
    val (t, m, v) = reading(r, day)
    r.nextInt(4) match {
      case 0 => s"t$t $m $v"
      case 1 => s"$t $m"
      case 2 => s"$t 7$m $v"
      case _ => s"$t $m x$v"
    }
  }

  /** A bronze backlog of `n` lines over all days, `badShare` of them
    * rejected by silver, split round-robin into `files` files. */
  def backlog(seed: Long, n: Int, files: Int, badShare: Double): (Array[String], Readings) = {
    val r = new SplittableRandom(seed)
    val acc = new Readings
    val out = Array.fill(files)(new java.lang.StringBuilder)
    var i = 0
    while (i < n) {
      val day = r.nextInt(Days)
      val l =
        if (r.nextDouble() < badShare) badSilverLine(r, day)
        else { val (t, m, v) = reading(r, day); acc.add(t, m, v); line(t, m, v) }
      out(i % files).append(l).append('\n')
      i += 1
    }
    (out.map(_.toString), acc)
  }

  def dayString(d: Int): String = firstDay.plusDays(d.toLong).toString
}
