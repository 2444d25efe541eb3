package graft.perfbench

/** Seeded input generation shared by the workloads and their models.
  *
  * Every generated value is a pure function of (seed, stream, index), so
  * the rows Spark writes and the rows the client model checks against come
  * from the same function and never need to be stored twice. */
object Gen {

  /** SplitMix64 finalizer over a combined (seed, stream, index) word. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, n). */
  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, stream, i), n.toLong).toInt

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11).toDouble / (1L << 53).toDouble

  private val Words: Array[String] = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "join", "vector", "customer", "the", "a")

  /** Space-joined words; `stream` separates unrelated texts. */
  def words(seed: Long, stream: Long, i: Long, n: Int): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(Words(pick(seed, stream, i * 131 + j, Words.length)))
      j += 1
    }
    sb.toString
  }

  /** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(u: Double): Int = {
      val j = java.util.Arrays.binarySearch(cdf, u)
      val r = if (j >= 0) j else -j - 1
      math.min(r, n - 1)
    }
  }

  /** Op kinds dealt from a shuffled deck: every run, whatever its seed and
    * length, issues the kinds in the same proportions (to within one deck),
    * so the mix never drifts between seeds. */
  final class Deck[K](cards: Seq[K]) {
    private var left: List[K] = Nil
    def draw(rnd: scala.util.Random): K = {
      if (left.isEmpty) left = rnd.shuffle(cards).toList
      val k = left.head
      left = left.tail
      k
    }
  }

  /** Canonical digest of generated rows: the determinism check compares it
    * across two generations of one seed. */
  def digest(rows: Iterator[Seq[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(r.map(String.valueOf).mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
