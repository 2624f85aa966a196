package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded synthetic documents: whitespace-separated lowercase words drawn
  * from a seeded vocabulary, so that two independently drawn documents
  * share almost no word 3-shingles. */
final class Corpus(seed: Long, vocabularySize: Int = 5000) {
  private val rng = new SplittableRandom(seed)

  val vocabulary: Array[String] = Array.fill(vocabularySize) {
    val len = 3 + rng.nextInt(7)
    new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
  }

  def word(): String = vocabulary(rng.nextInt(vocabulary.length))

  def tokens(n: Int): Array[String] = Array.fill(n)(word())

  def nextInt(bound: Int): Int = rng.nextInt(bound)

  def nextDouble(): Double = rng.nextDouble()

  /** A near copy: each token is dropped with probability `rate / 2` and
    * replaced with probability `rate / 2`; at least one token changes. */
  def edit(doc: Array[String], rate: Double): Array[String] = {
    val out = ArrayBuffer.empty[String]
    for (t <- doc) {
      val u = rng.nextDouble()
      if (u < rate / 2) ()
      else if (u < rate) out += word()
      else out += t
    }
    if (out.sameElements(doc)) out(rng.nextInt(out.size)) = word() + "x"
    out.toArray
  }

  /** Fisher-Yates permutation of 0 until n. */
  def permutation(n: Int): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }
}
