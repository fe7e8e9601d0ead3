package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Seeded input generators. Every document is a pure function of
  * (seed, doc id), so the same seed always gives the same tables.
  *
  * Documents are generated on the driver and parallelized into tables of
  * the library's `documents` shape [doc_id, text, lang, source, n_chars].
  * They are cached at the RDD level, so `spark.catalog.clearCache()`
  * between timed ops releases what the library persisted but keeps the
  * inputs. */
object Gen {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("n_chars", LongType, nullable = false)))

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of one long. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Per-document random stream. */
  final class Rand(seed: Long, stream: Long, id: Long) {
    private var s = mix(mix(seed * 0x632BE59BD9B4E019L + stream) + id)
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
  }

  /** Zipf(1) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(n: Int) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += math.pow(i + 1.0, -1.0); c(i) = acc; i += 1 }
      i = 0
      while (i < n) { c(i) /= acc; i += 1 }
      c
    }
    def sample(r: Rand): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      val k = if (i >= 0) i else -i - 1
      math.min(k, n - 1)
    }
  }

  private def materialize(spark: SparkSession, rows: Seq[Row], parts: Int): DataFrame = {
    val cached: RDD[Row] = spark.sparkContext.parallelize(rows, parts).persist(StorageLevel.MEMORY_ONLY)
    cached.count()
    spark.createDataFrame(cached, schema)
  }

  // ---- ARTM corpora -------------------------------------------------

  /** Topic-structured bag-of-words documents. Each of [[LatentTopics]]
    * latent topics is the same Zipf(1) law over a topic-specific
    * permutation of the vocabulary; a document mixes 1 to 3 topics.
    * Tokens are "w<rank>". Doc ids are `idBase + i`. The seed draws the
    * topics and words; lengths and topic counts follow the doc index. */
  final case class ArtmShape(docs: Int, vocab: Int, minLen: Int, maxLen: Int)

  val LatentTopics = 20

  /** The corpus plus its (doc, token) entry count and its vocabulary
    * size, counted here independently of the library. */
  final case class ArtmCorpus(docs: DataFrame, entries: Long, vocab: Long)

  def artmDocs(spark: SparkSession, shape: ArtmShape, seed: Long, stream: Long,
      idBase: Long, parts: Int): ArtmCorpus = {
    val zipf = new Zipf(shape.vocab)
    val v = shape.vocab.toLong
    // odd multipliers coprime with the vocabulary size give per-topic
    // permutations rank -> (a*rank + b) mod V
    val perms: Array[(Long, Long)] = {
      val r = new Rand(seed, stream + 7, -1L)
      Array.fill(LatentTopics) {
        var a = 0L
        while ({ a = 1L + 2L * (r.nextLong() >>> 34); gcd(a, v) != 1L }) ()
        (a % v, (r.nextLong() >>> 1) % v)
      }
    }
    val seen = new java.util.BitSet(shape.vocab)
    var entries = 0L
    val rows = (0 until shape.docs).map { i =>
      val r = new Rand(seed, stream, i.toLong)
      val nTopics = 1 + i % 3
      val topics = Array.fill(nTopics)(r.nextInt(LatentTopics))
      val len = spread(i.toLong, shape.minLen, shape.maxLen)
      val inDoc = new java.util.BitSet(shape.vocab)
      val sb = new java.lang.StringBuilder(len * 6)
      var k = 0
      while (k < len) {
        val (a, b) = perms(topics(r.nextInt(nTopics)))
        val w = ((a * zipf.sample(r) + b) % v).toInt
        inDoc.set(w)
        if (k > 0) sb.append(' ')
        sb.append('w').append(w)
        k += 1
      }
      entries += inDoc.cardinality()
      seen.or(inDoc)
      val text = sb.toString
      Row(idBase + i, text, "en", "corpus", text.length.toLong)
    }
    ArtmCorpus(materialize(spark, rows, parts), entries, seen.cardinality().toLong)
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)

  // ---- curation corpus ----------------------------------------------

  /** The 30 words of the hot-bucket slice: the vocabulary of the
    * synthetic sf0.1 `documents` table (uniform words, 10-100 per doc,
    * 20 round-robin sources). Over a vocabulary this small, MinHash
    * bands collide often, so LSH buckets are large. */
  val hotWords: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  private val stopwords: Map[String, Array[String]] = Map(
    "en" -> Array("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr" -> Array("le", "la", "les", "et", "est", "un", "une", "des", "du", "que"),
    "es" -> Array("el", "la", "los", "las", "es", "un", "una", "de", "que", "y"),
    "xx" -> Array.empty[String])
  private val syllables = Array("ka", "ro", "mi", "te", "su", "an", "vel", "dor",
    "pi", "ne", "lu", "gar", "so", "ti", "ber", "ma", "ch", "qu", "ix", "ol")

  /** Pseudo-word for a Zipf rank: its base-20 digits as syllables, at
    * least two. */
  def webWord(rank: Int): String = {
    val sb = new java.lang.StringBuilder
    var x = rank
    var j = 0
    while (j < 2 || x > 0) { sb.append(syllables(x % 20)); x /= 20; j += 1 }
    sb.toString
  }

  /** Spread a doc index over [lo, hi] the same way for every seed. */
  private def spread(i: Long, lo: Int, hi: Int): Int = lo + ((i * 7919L) % (hi - lo + 1)).toInt

  /** Web-like curation input.
    *  - `hotDocs` hot-bucket docs (ids 0 until hotDocs): uniform words
    *    from [[hotWords]], 10-100 per doc, sources src0..src19;
    *  - `webBase` web documents over a Zipf vocabulary of 5×10⁴
    *    pseudo-words, 50-500 words, a language's stopwords mixed in,
    *    sentence punctuation, and a few e-mail addresses, URLs and
    *    repetitive spam docs; sources web0..web7;
    *  - 3 in 20 web documents get 1-3 copies: one in three copies is
    *    exact up to case and spacing, the others replace about 2% of the
    *    words.
    * Copies take the ids right after their original. The seed draws the
    * words; lengths, languages, copies, spam and PII placement follow
    * the doc index, so every seed has the same amount of each kind of
    * work. */
  final case class CurateShape(hotDocs: Int, webBase: Int)

  private val langCycle: Array[String] =
    (Seq.fill(8)("en") ++ Seq.fill(4)("de") ++ Seq.fill(4)("fr") ++ Seq.fill(3)("es") :+ "xx").toArray

  def curateDocs(spark: SparkSession, shape: CurateShape, seed: Long,
      parts: Int): (DataFrame, Long) = {
    def copiesOf(b: Int): Int = if (b % 20 < 3) 1 + (b / 20) % 3 else 0
    val offsets = (0 until shape.webBase).scanLeft(shape.hotDocs.toLong)((acc, b) => acc + 1 + copiesOf(b))
    val total = offsets.last
    val zipf = new Zipf(50000)
    val hot = (0L until shape.hotDocs.toLong).map { i =>
      val r = new Rand(seed, 30L, i)
      val text = Array.fill(spread(i, 10, 100))(hotWords(r.nextInt(hotWords.length))).mkString(" ")
      Row(i, text, langCycle((i % 20).toInt), s"src${i % 20}", text.length.toLong)
    }
    val web = (0 until shape.webBase).flatMap { b =>
      val r = new Rand(seed, 32L, b.toLong)
      val lang = langCycle(b % 20)
      val sw = stopwords(lang)
      val len = spread(b.toLong, 50, 500)
      val spam = b % 33 == 5
      val words = new Array[String](len)
      var k = 0
      while (k < len) {
        words(k) =
          if (spam) webWord(k % 3)
          else if (sw.nonEmpty && k % 4 == 1) sw(r.nextInt(sw.length))
          else webWord(zipf.sample(r))
        k += 1
      }
      if (b % 20 == 7) words(len / 2) = s"user${r.nextInt(1000)}@mail${r.nextInt(50)}.example.com"
      if (b % 20 == 13) words(len / 3) = s"https://site${r.nextInt(500)}.example.org/p/${r.nextInt(10000)}"
      val source = s"web${b % 8}"
      def render(ws: Array[String], upper: Boolean, wide: Boolean): String = {
        val sb = new java.lang.StringBuilder(ws.length * 7)
        var j = 0
        while (j < ws.length) {
          if (j > 0) sb.append(if (wide && j % 11 == 0) "  " else " ")
          sb.append(if (upper && j % 9 == 0) ws(j).toUpperCase else ws(j))
          if (j % 13 == 12) sb.append('.')
          j += 1
        }
        sb.append('.')
        sb.toString
      }
      val base = render(words, upper = false, wide = false)
      val copies = (1 to copiesOf(b)).map { c =>
        if (c == 1 && (b / 20) % 3 == 0) render(words, upper = true, wide = true)
        else {
          val rc = new Rand(seed, 33L, b * 4L + c)
          val ws = words.clone()
          var j = 0
          while (j < ws.length) {
            if (j % 50 == c * 7 % 50) ws(j) = webWord(zipf.sample(rc))
            j += 1
          }
          render(ws, upper = false, wide = false)
        }
      }
      val id0 = offsets(b)
      (base +: copies).zipWithIndex.map { case (t, c) =>
        Row(id0 + c, t, lang, source, t.length.toLong)
      }
    }
    (materialize(spark, hot ++ web, parts), total)
  }

  val hotSources: Seq[String] = (0 until 20).map(i => s"src$i")
  val webSources: Seq[String] = (0 until 8).map(i => s"web$i")
}
