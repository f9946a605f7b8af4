package graftbench

import scala.collection.mutable

/** One generated document. `lang` is the language the generator wrote
  * it in ("unk" = no stopwords at all); `origin` is the id of the doc
  * it copies (exact or near dup, or a stream re-delivery), else -1.
  */
final case class Doc(id: Long, text: String, lang: String, origin: Long)

/** Seeded input generator. Every workload's inputs come from here and
  * from nothing else, so one `--seed` fixes them completely.
  *
  * Content words are pseudo-words ("kalo", "tepisu", ...) ranked under
  * a Zipf law over a large vocabulary — a small closed vocabulary
  * makes every document a near duplicate of every other one and the
  * dedup stages degenerate. Two quality tiers draw from the same
  * vocabulary: "clean" documents use a steep exponent (low perplexity,
  * the tier the LM gate keeps) and "noisy" ones a flat exponent that
  * reaches deep into the tail (the tier it drops). Stopwords come from
  * the library's own language-ID lists, so the expected language of
  * every document can be computed here without calling the library.
  */
final class Gen(seed: Long) {
  import Gen._

  private val rng = new java.util.SplittableRandom(seed)

  def nextDouble(): Double = rng.nextDouble()
  def nextInt(n: Int): Int = rng.nextInt(n)

  /** The boilerplate span: 8 fixed mid-frequency content words that a
    * fixed share of documents carry verbatim (one key held by a large
    * part of the corpus). The same span for every seed: its shingles'
    * hashes decide how many minhash band buckets it floods, and that
    * should not change with the seed.
    */
  val boilerplate: Vector[String] = Vector.tabulate(SpanLen)(i => word(500 + 37 * i))

  private def zipfRank(cdf: Array[Double]): Int = {
    val u = rng.nextDouble() * cdf(cdf.length - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -i - 1
  }

  private def length(): Int = {
    val g = rng.nextGaussian()
    math.max(MinLen, math.min(MaxLen, math.exp(LenMu + LenSigma * g).toInt))
  }

  /** Tokens of one fresh document in `lang` (short when `short`). */
  def tokens(lang: String, short: Boolean, boiler: Boolean): Vector[String] = {
    // short docs draw from the flat tier: a handful of steep-Zipf
    // tokens would make random short docs near dups of each other
    val clean = rng.nextDouble() < CleanShare && !short
    val cdf = if (clean) CleanCdf else NoisyCdf
    val n = if (short) 4 + nextInt(6) else length()
    val stops = StopwordsByLang.getOrElse(lang, Nil).toIndexedSeq
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < n) {
      b += (if (stops.nonEmpty && rng.nextDouble() < StopRate) stops(nextInt(stops.size))
            else word(zipfRank(cdf)))
      i += 1
    }
    val t = b.result()
    if (boiler && !short) {
      val at = nextInt(t.size + 1)
      (t.take(at) ++ boilerplate ++ t.drop(at)).take(MaxLen + SpanLen)
    } else t
  }

  /** Fisher-Yates shuffle driven by the seed. */
  def shuffle[A](xs: Vector[A]): Vector[A] = {
    val a = mutable.ArrayBuffer.from(xs)
    var i = a.size - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  /** `NearDupEdits` content words replaced at random positions. */
  def nearDup(text: String): String = {
    val t = text.split(' ').toBuffer
    (0 until NearDupEdits).foreach(_ => t(nextInt(t.size)) = word(zipfRank(NoisyCdf)))
    t.mkString(" ")
  }

  /** A corpus of `n` documents with ids `firstId until firstId + n`.
    * Every planted property holds for an exact share of the documents
    * (seeded positions, fixed counts), so runs on different seeds do
    * the same amount of each kind of work: exact dups and near dups
    * copy an EARLIER original of the same corpus, each original at most
    * once (keep-first dedup keeps the original), a share of the originals carry the
    * boilerplate span, a share are too short for the quality gate,
    * and languages follow [[LangShares]].
    */
  def corpus(n: Int, firstId: Long = 0L): Vector[Doc] = {
    def exactly(share: Double) = math.round(share * n).toInt
    val kind = shuffle(Vector.fill(exactly(ExactDupShare))('x') ++
      Vector.fill(exactly(NearDupShare))('n')).padTo(n, 'o')
    val head = kind.take(10).count(_ != 'o')
    // the first docs are originals, so every copy has a source
    val kinds = kind.filter(_ == 'o').take(10) ++ kind.drop(10) ++ Vector.fill(head)('o')
    val origins = kinds.count(_ == 'o')
    val langs = shuffle(LangShares.toVector.flatMap { case (l, sh) => Vector.fill(math.round(sh * origins).toInt)(l) }
      .padTo(origins, "en"))
    val short = shuffle(Vector.fill(math.round(ShortShare * origins).toInt)(true).padTo(origins, false))
    val boiler = shuffle(Vector.fill(math.round(BoilerShare * origins).toInt)(true).padTo(origins, false))
    val out = new mutable.ArrayBuffer[Doc](n)
    // originals not copied yet: each original has at most one copy, so
    // dup groups are pairs and the pair work does not vary with the seed
    val uncopied = new mutable.ArrayBuffer[Int]
    def source(): Doc =
      if (uncopied.isEmpty) out(nextInt(out.size))
      else {
        val j = nextInt(uncopied.size)
        val d = out(uncopied(j))
        uncopied(j) = uncopied.last
        uncopied.remove(uncopied.size - 1)
        d
      }
    var o = 0
    kinds.take(n).foreach { k =>
      val id = firstId + out.size
      k match {
        case 'x' =>
          val src = source()
          out += Doc(id, src.text, src.lang, src.id)
        case 'n' =>
          val src = source()
          out += Doc(id, nearDup(src.text), src.lang, src.id)
        case _ =>
          uncopied += out.size
          out += Doc(id, tokens(langs(o), short(o), boiler(o)).mkString(" "), langs(o), -1L)
          o += 1
      }
    }
    out.toVector
  }

  /** Input properties the workloads' behaviour depends on. */
  def properties(docs: Seq[Doc]): Map[String, Any] = {
    val lens = docs.map(d => nWords(d.text)).sorted.toVector
    def q(p: Double) =
      if (lens.isEmpty) 0 else lens(math.min(lens.size - 1, (p * lens.size).toInt))
    val textOf = docs.iterator.map(d => d.id -> d.text).toMap
    val exact = docs.count(d => d.origin >= 0 && textOf.get(d.origin).contains(d.text))
    val near = docs.count(_.origin >= 0) - exact
    val span = boilerplate.mkString(" ")
    val n = math.max(1, docs.size).toDouble
    Map(
      "docs" -> docs.size,
      "bytes" -> docs.map(_.text.length.toLong).sum,
      "vocab_size" -> VocabSize,
      "distinct_tokens" -> docs.iterator.flatMap(_.text.split(' ')).toSet.size,
      "zipf_s_clean" -> CleanZipf,
      "zipf_s_noisy" -> NoisyZipf,
      "clean_share" -> CleanShare,
      "len_p10" -> q(0.1), "len_p50" -> q(0.5), "len_p90" -> q(0.9),
      "len_mean" -> (if (lens.isEmpty) 0.0 else lens.sum.toDouble / lens.size),
      "exact_dup_share" -> exact / n,
      "near_dup_share" -> near / n,
      "boilerplate_span_share" -> docs.count(_.text.contains(span)) / n,
      "lang_mix" -> docs.groupBy(_.lang).map { case (k, v) => k -> v.size },
    )
  }
}

object Gen {
  val VocabSize = 50000
  val CleanZipf = 1.7
  val NoisyZipf = 1.1
  val CleanShare = 0.7
  val StopRate = 0.3
  val LenMu = 3.6
  val LenSigma = 0.5
  val MinLen = 20
  val MaxLen = 300
  val SpanLen = 8
  val ExactDupShare = 0.06
  val NearDupShare = 0.06
  val NearDupEdits = 3
  val BoilerShare = 0.2
  val ShortShare = 0.04
  /** Language shares of original documents; "unk" docs carry no stopwords. */
  val LangShares: Seq[(String, Double)] =
    Seq("en" -> 0.50, "fr" -> 0.20, "de" -> 0.15, "es" -> 0.10, "unk" -> 0.05)

  val StopwordsByLang: Map[String, Seq[String]] =
    graft.functions.TextAnalysis.stopwords.toMap

  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"

  /** Rank → pseudo-word of at least two consonant-vowel syllables, so
    * no content word can equal a stopword.
    */
  def word(rank: Int): String = {
    val base = Consonants.length * Vowels.length
    val sb = new StringBuilder
    var r = rank
    var syl = 0
    while (syl < 2 || r > 0) {
      val s = r % base
      sb.append(Consonants(s / Vowels.length)).append(Vowels(s % Vowels.length))
      r /= base
      syl += 1
    }
    sb.toString
  }

  private def cdf(s: Double): Array[Double] = {
    val a = new Array[Double](VocabSize)
    var acc = 0.0
    var i = 0
    while (i < VocabSize) { acc += math.pow(i + 1.0, -s); a(i) = acc; i += 1 }
    a
  }
  private lazy val CleanCdf = cdf(CleanZipf)
  private lazy val NoisyCdf = cdf(NoisyZipf)

  /** The language `TextAnalysis.langIdScored` must assign: most
    * distinct stopword hits, ties in declared order, none → "unk".
    */
  def expectedLang(text: String): String = {
    val toks = text.split(' ').filter(_.nonEmpty).toSet
    val hits = graft.functions.TextAnalysis.stopwords.map { case (l, sw) =>
      l -> sw.count(toks.contains)
    }
    val best = hits.map(_._2).max
    if (best == 0) "unk" else hits.find(_._2 == best).get._1
  }

  def nWords(text: String): Int = text.split(' ').count(_.nonEmpty)

}
