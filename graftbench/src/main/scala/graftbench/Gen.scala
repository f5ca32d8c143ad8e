package graftbench

import java.util.SplittableRandom

/** Seeded input material shared by the workloads. */
object Gen {
  private val Letters = "abcdefghijklmnopqrstuvwxyz0123456789"

  def word(rnd: SplittableRandom, n: Int): String = {
    val c = new Array[Char](n)
    var i = 0
    while (i < n) { c(i) = Letters.charAt(rnd.nextInt(Letters.length)); i += 1 }
    new String(c)
  }

  /** Zipf-distributed rank in [0, n) with exponent `s`, by inverse CDF over
    * a precomputed table.
    */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def next(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
