package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload comes from here,
  * so one seed always yields the same data. */
object Gen {
  /** A random stream for (seed, stream id): independent streams let each
    * input be generated on its own without shifting the others. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A vocabulary of `n` distinct lowercase pronounceable words. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, 7001)
    val cons = "bcdfghjklmnprstvwz"
    val vows = "aeiou"
    val out = new java.util.LinkedHashSet[String]()
    while (out.size < n) {
      val syll = 2 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until syll).foreach { _ =>
        sb += cons(r.nextInt(cons.length)); sb += vows(r.nextInt(vows.length))
      }
      out.add(sb.toString)
    }
    out.toArray(new Array[String](0))
  }

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def words(r: SplittableRandom, vocab: Array[String], zipf: Zipf, n: Int): String =
    Iterator.fill(n)(vocab(zipf.sample(r))).mkString(" ")
}
