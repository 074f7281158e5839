package perfbench

/** Seeded, stateless input generation: every document and vector is a
  * pure function of (seed, id), so executors generate their partitions
  * independently and the Spark driver can regenerate any single item (the
  * planted-duplicate truth) without a shuffle or a collect. */
object Gen {
  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed) ^ a) ^ (b * 0x632BE59BD9B4E019L) ^ (c * 0x2545F4914F6CDD1DL))

  /** Uniform in [0, 1). */
  def u01(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (hash(seed, a, b, c) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal (Box-Muller over two hashed uniforms). */
  def gauss(seed: Long, a: Long, b: Long, c: Long = 0L): Double = {
    val u1 = math.max(u01(seed, a, b, 2 * c), 1e-300)
    val u2 = u01(seed, a, b, 2 * c + 1)
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  // ---- vocabulary -------------------------------------------------------

  val VocabSize = 20000
  private val Onsets = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "w", "z")
  private val Vowels = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")

  /** Word `w` of the fixed vocabulary: `w` in base 128, one
    * consonant-vowel syllable per digit, so words are distinct lowercase
    * ASCII and shortest for the most frequent ids. */
  val vocab: Array[String] = Array.tabulate(VocabSize) { w =>
    val sb = new StringBuilder
    var x = w
    do {
      sb.append(Onsets(x % Onsets.length)); x /= Onsets.length
      sb.append(Vowels(x % Vowels.length)); x /= Vowels.length
    } while (x > 0)
    sb.toString
  }
  require(vocab.distinct.length == VocabSize, "vocabulary words must be distinct")

  /** Zipf(1.05) cumulative weights over the vocabulary. */
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, 1.05))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipfWord(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  // ---- curation corpus --------------------------------------------------

  val Orig = 0
  val ExactDup = 1
  val NearDup = 2
  /** Near duplicates are planted only on originals at least this long, so
    * one or two substituted tokens keep 3-shingle Jaccard above 0.8. */
  val NearMinTokens = 60

  /** Long-tailed token count: log-normal, median 48, clipped to [8, 3000]. */
  def docLen(seed: Long, id: Long): Int = {
    val n = math.exp(math.log(48.0) + 0.9 * gauss(seed, id, 1L))
    math.max(8, math.min(3000, math.round(n).toInt))
  }

  private def baseKind(seed: Long, id: Long): Int =
    if (id < 100) Orig
    else {
      val u = u01(seed, id, 2L)
      if (u < 0.05) ExactDup else if (u < 0.10) NearDup else Orig
    }

  /** (kind, source id): a duplicate's source is an earlier original chosen
    * by hashed probes; a duplicate with no valid source in 64 probes is
    * itself an original (and nothing else picks it as a source). */
  def kindOf(seed: Long, id: Long): (Int, Long) = {
    val k = baseKind(seed, id)
    if (k == Orig) (Orig, id)
    else {
      var probe = 0
      var src = -1L
      while (src < 0 && probe < 64) {
        val j = (u01(seed, id, 3L, probe) * id).toLong
        if (baseKind(seed, j) == Orig && (k == ExactDup || docLen(seed, j) >= NearMinTokens))
          src = j
        probe += 1
      }
      if (src < 0) (Orig, id) else (k, src)
    }
  }

  private def origTokens(seed: Long, id: Long): Array[Int] =
    Array.tabulate(docLen(seed, id))(t => zipfWord(u01(seed, id, 4L, t)))

  /** Document text. Exact duplicates differ from their source only in
    * case and spacing (both normalized away); near duplicates have one
    * (under 120 tokens) or two tokens substituted. */
  def docText(seed: Long, id: Long): String = {
    val (kind, src) = kindOf(seed, id)
    val toks = origTokens(seed, src)
    kind match {
      case ExactDup =>
        val words = toks.map(vocab(_))
        words(0) = words(0).toUpperCase
        "  " + words.mkString("  ") + " "
      case NearDup =>
        val subs = if (toks.length < 120) 1 else 2
        for (s <- 0 until subs) {
          val pos = (u01(seed, id, 5L, s) * toks.length).toInt
          toks(pos) = (toks(pos) + 1 + (u01(seed, id, 6L, s) * (VocabSize - 1)).toInt) % VocabSize
        }
        toks.map(vocab(_)).mkString(" ")
      case _ => toks.map(vocab(_)).mkString(" ")
    }
  }

  // ---- vectors (kernel inputs) -------------------------------------------

  val Dim = 64

  /** Vector of [[Dim]] components, each uniform in [-1, 1). */
  def vector(seed: Long, id: Long): Array[Float] =
    Array.tabulate(Dim)(d => (2.0 * u01(seed, id, 10L, d) - 1.0).toFloat)
}
