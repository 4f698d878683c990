package perfbench

import scala.util.Random

/** Seeded input generators. Every input a workload feeds the engine is
  * derived from the run's `--seed`, so one seed always yields one input.
  */
object Gen {
  private val Colors = Vector("red", "blue", "green", "black", "white", "grey",
    "navy", "beige", "brown", "pink", "olive", "teal", "maroon", "ivory")
  private val Items = Vector("shoes", "boots", "jacket", "coat", "gloves",
    "scarf", "hat", "dress", "shirt", "jeans", "sweater", "shorts", "socks",
    "belt", "bag", "skirt", "sandals", "hoodie")
  private val Materials = Vector("leather", "wool", "cotton", "denim", "linen",
    "silk", "suede", "fleece", "nylon", "canvas")
  private val Uses = Vector("winter", "summer", "running", "hiking", "office",
    "wedding", "beach", "travel", "party", "school", "rain", "gym")

  private def pick[A](r: Random, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  /** A catalogue product description; the `sku` token keeps every
    * description's token set (and so its hash embedding) distinct.
    */
  def product(r: Random, i: Int): String =
    s"${pick(r, Colors)} ${pick(r, Materials)} ${pick(r, Items)} for " +
      s"${pick(r, Uses)} sku$i"

  def question(r: Random): String =
    s"I am looking for ${pick(r, Colors)} ${pick(r, Items)} for ${pick(r, Uses)}"

  /** `n` unit-scale centres in `dim` dimensions. */
  def centres(r: Random, n: Int, dim: Int): Array[Array[Float]] =
    Array.fill(n)(Array.fill(dim)(r.nextGaussian().toFloat))

  /** A point of a clustered distribution: a random centre plus isotropic
    * noise of standard deviation `spread`.
    */
  def clustered(r: Random, cs: Array[Array[Float]], spread: Double): Array[Float] = {
    val c = cs(r.nextInt(cs.length))
    Array.tabulate(c.length)(j => (c(j) + spread * r.nextGaussian()).toFloat)
  }

  /** Zipf(s) sampler over ranks 0 until n (rank 0 hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // Curation corpus vocabulary: stopwords pass the quality gate's
  // stopword rule; the content words are 4-9 letters so the mean word
  // length stays inside the gate's band.
  private val Stop = Vector("the", "and", "of", "to", "is", "that", "with",
    "for", "on", "as", "by", "from")

  /** `n` distinct pronounceable content words. */
  def vocabulary(r: Random, n: Int): Vector[String] = {
    val cons = "bcdfghklmnprstvz"; val vow = "aeiou"
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val len = 2 + r.nextInt(3)
      out += (0 until len).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString
    }
    out.toVector
  }

  /** A document that passes every curation gate: `words` tokens, one in
    * four a stopword.
    */
  def document(r: Random, vocab: Vector[String], words: Int): String =
    (0 until words).map(i => if (i % 4 == 1) pick(r, Stop) else pick(r, vocab))
      .mkString(" ")

  /** A near duplicate: the same text with `edits` words replaced. */
  def nearCopy(r: Random, text: String, vocab: Vector[String], edits: Int): String = {
    val ws = text.split(" ")
    (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = pick(r, vocab))
    ws.mkString(" ")
  }

  /** A document the quality gate rejects (too short). */
  def junk(r: Random, vocab: Vector[String]): String =
    (0 until 6).map(_ => pick(r, vocab)).mkString(" ")
}
