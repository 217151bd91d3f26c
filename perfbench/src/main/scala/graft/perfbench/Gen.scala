package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. The same seed yields the same rows, and every
  * generator folds what it yields into a SHA-256 input digest.
  */
final class Digest {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
  def hex: String = md.clone().asInstanceOf[java.security.MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString
}

/** Zipf(s) over ranks 0 until n, drawn by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def draw(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

object Gen {
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  def round2(x: Double): Double = math.rint(x * 100.0) / 100.0

  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Unit-norm Gaussian vector, float32. */
  def unitVector(r: SplittableRandom, dim: Int): Array[Float] = {
    val g = Array.fill(dim) {
      val u1 = math.max(r.nextDouble(), 1e-12)
      val u2 = r.nextDouble()
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val norm = math.sqrt(g.map(x => x * x).sum)
    g.map(x => (x / norm).toFloat)
  }
}
