package enrichbench

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), so executors generate rows in parallel and the checks regenerate
  * the expected inputs without keeping them. */
object Gen {
  /** splitmix64 finalizer over (seed, id, salt). */
  def mix(seed: Long, id: Long, salt: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L +
      salt * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo",
    "shi", "de", "pa", "go", "bu", "xe", "fi", "zo", "qua")

  /** A pronounceable lowercase word for vocabulary rank `r`. */
  def word(r: Int): String = {
    val b = new StringBuilder
    var x = r
    do { b ++= syllables(x & 15); x >>>= 4 } while (x > 0)
    b.toString
  }

  /** A unique review text of 4 to 63 words (vocabulary of 400 words). */
  def review(seed: Long, id: Long): String = {
    val n = 4 + below(mix(seed, id, 1), 60).toInt
    val b = new StringBuilder(s"item $id:")
    var i = 0
    while (i < n) {
      b += ' ' ++= word(below(mix(seed, id, 100 + i), 400).toInt)
      i += 1
    }
    b.toString
  }

  /** Row whose text a row repeats: with probability `dupShare` an earlier
    * row's source, else the row itself. */
  def source(seed: Long, id: Long, dupShare: Double): Long = {
    var i = id
    while (i > 0 && below(mix(seed, i, 2), 1000000L) < (dupShare * 1e6).toLong)
      i = below(mix(seed, i, 3), i)
    i
  }

  def pacedText(seed: Long, id: Long, dupShare: Double): String =
    review(seed, source(seed, id, dupShare))

  /** Zipf(1) cumulative weights over a 5,000-word vocabulary. */
  val VocabSize = 5000
  private lazy val zipfCdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / r)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** 24 Zipf-distributed words; `salt` separates claims from queries. */
  def zipfText(seed: Long, id: Long, salt: Long): String = {
    val cdf = zipfCdf
    (0 until 24).map { i =>
      val u = (mix(seed, id, salt * 1000 + i) >>> 11).toDouble / (1L << 53)
      val r = java.util.Arrays.binarySearch(cdf, u)
      word(math.min(VocabSize - 1, if (r >= 0) r else -r - 1))
    }.mkString(" ")
  }

  def claim(seed: Long, id: Long): String = zipfText(seed, id, 7)
  def query(seed: Long, id: Long): String = zipfText(seed, id, 11)
}
