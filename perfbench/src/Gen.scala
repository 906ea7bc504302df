package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import graft.sources.kafka.KafkaWireProtocol.WireMessage

/** Seeded input generators. Every wave is a pure function of
  * (seed, wave index), so a run's inputs never depend on its timing. */
object Gen {

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); w(i) = acc; i += 1 }
      w.map(_ / acc)
    }
    def sample(r: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  /** A seeded permutation, so Zipf-hot ranks land on scattered keys. */
  def permutation(n: Int, r: Random): Array[Int] = {
    val p = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1
    }
    p
  }

  /** One produced record: target partition, wire key and value. */
  final case class Rec(partition: Int, key: Array[Byte], value: Array[Byte]) {
    def msg: WireMessage = WireMessage(0L, key, value)
    def bytes: Long = key.length.toLong + value.length
  }

  // ------------------------------------------------- purchase (FIXTURES §1.1)

  private val Fruits = Array("apple", "banana", "cherry", "damson", "elder",
    "fig", "grape", "guava", "kiwi", "lemon", "lime", "mango", "melon",
    "nectarine", "orange", "papaya", "peach", "pear", "plum", "quince")

  def userKey(k: Int): String = f"user$k%07d"

  /** One upsert row of the `purchase` schema; the model keeps it per key. */
  final case class Purchase(key: Int, item: String, count: Int, cents: Int) {
    def csv: String = f"${userKey(key)},$item,$count,${cents / 100}.${cents % 100}%02d"
  }

  /** A wave of `n` purchases over a Zipf-skewed sample of `keys` drawn
    * without replacement, so a commit never carries a key twice. */
  def purchases(seed: Long, wave: Int, n: Int, keys: Int,
      zipf: Zipf, perm: Array[Int]): Array[Purchase] = {
    val r = rng(seed, wave)
    val seen = new java.util.BitSet(keys)
    val out = new Array[Purchase](n)
    var i = 0
    while (i < n) {
      val k = perm(zipf.sample(r))
      if (!seen.get(k)) {
        seen.set(k)
        out(i) = Purchase(k, s"${Fruits(r.nextInt(Fruits.length))}-${r.nextInt(10000)}",
          1 + r.nextInt(20), 100 + r.nextInt(99900))
        i += 1
      }
    }
    out
  }

  def purchaseRec(p: Purchase, partitions: Int): Rec =
    Rec(p.key % partitions, userKey(p.key).getBytes(UTF_8), p.csv.getBytes(UTF_8))

  // ------------------------------------------------------------ bulk text

  /** A seeded vocabulary of lower-case words, 2 to 11 letters. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, -1L)
    Array.fill(n)(Array.fill(2 + r.nextInt(10))(('a' + r.nextInt(26)).toChar).mkString)
  }

  def docKey(k: Int): String = f"doc$k%08d"

  /** Text of lognormal length (median `medianBytes`, capped at `capBytes`)
    * made of Zipf-drawn words. */
  def document(r: Random, words: Array[String], zipf: Zipf,
      medianBytes: Int, sigma: Double, capBytes: Int): String = {
    val target = math.min(capBytes,
      math.max(16, (medianBytes * math.exp(sigma * r.nextGaussian())).toInt))
    val sb = new java.lang.StringBuilder(target + 16)
    while (sb.length < target) {
      if (sb.length > 0) sb.append(' ')
      sb.append(words(zipf.sample(r)))
    }
    sb.setLength(target)
    sb.toString
  }
}
