package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every stream derives from (seed, stream
  * name), so one seed reproduces every workload's inputs exactly and
  * the streams of one workload do not shift when another changes.
  * Nothing here calls the library: the program only ever sees the
  * generated rows.
  */
object Gen {

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A planted near-duplicate pair with its exact shingle Jaccard. */
  final case class Planted(a: Long, b: Long, jaccard: Double)

  final case class Sale(orderId: Long, storeId: Int, itemId: Int, qty: Int,
                        priceCents: Long, amountCents: Long, dt: String)

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); w(i) = acc; i += 1 }
      w.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Open vocabulary in the shape of the repository's open-vocabulary
    * document generator (`graft.tools.GenDocs`): 50k word types drawn
    * Zipf(1.1), so new documents keep minting rare words the way web
    * text does. The `stopwords` take the top ranks, as the commonest
    * words of a language do; with the seven English ones that puts
    * about a third of all tokens on stopwords. The other types are
    * pseudo-words of 3–9 letters, whose length depends on the rank
    * only and whose letters depend on the seed; with the stopwords the
    * mean token is about 4.7 letters long, as in English text.
    */
  final class Vocab(seed: Long, stopwords: Seq[String], size: Int = 50000, s: Double = 1.1) {
    private val zipf = new Zipf(size, s)
    private val words: Array[String] = {
      val r = rng(seed, "vocab")
      val stop = stopwords.toSet
      def pseudo(rank: Int): String = {
        val len = 3 + (rank * 5 + rank / 7) % 7
        var w = ""
        while (w.isEmpty || stop(w)) w = Iterator.fill(len)(('a' + r.nextInt(26)).toChar).mkString
        w
      }
      Array.tabulate(size)(rank => if (rank < stopwords.size) stopwords(rank) else pseudo(rank))
    }
    def word(r: SplittableRandom): String = words(zipf.sample(r))
    def doc(r: SplittableRandom, nTokens: Int): String =
      Iterator.fill(nTokens)(word(r)).mkString(" ")
  }

  /** Lowercase character k-gram shingle set, with the library's
    * convention for texts shorter than k (the whole text is one
    * shingle).
    */
  def shingles(text: String, k: Int = 4): Set[String] = {
    val t = text.toLowerCase
    if (t.length <= k) Set(t)
    else (0 to t.length - k).iterator.map(i => t.substring(i, i + k)).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a)
    val sb = shingles(b)
    val inter = sa.count(sb.contains)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  /** Raw bytes of a doc row as generated: id, text, lang, source. */
  def rawBytes(d: Doc): Long =
    8L + d.text.length + d.lang.length + d.source.length

  def rawBytes(s: Sale): Long = 8L + 4 + 4 + 4 + 8 + 8 + s.dt.length

  // ------------------------------------------------------------------ //
  // curate: one corpus with planted near-duplicate pairs                //
  // ------------------------------------------------------------------ //

  final case class Corpus(docs: Array[Doc], planted: Seq[Planted])

  /** `nDocs` documents in the shape `graft.tools.GenDocs` takes from
    * the shipped corpus: 10–100 tokens a doc, uniform (mean ≈ 54);
    * langs en ~43%, de/es/fr/zh ~14% each; 20 round-robin sources; and
    * near-duplicate pairs for 5.1% of the docs (≈ 10.2% of docs in a
    * pair). A pair copies a doc from the front half over a doc in the
    * back half (a copy is never a source) and appends one word; 3% of
    * the pairs are exact copies.
    */
  def curateCorpus(seed: Long, nDocs: Int, stopwords: Seq[String]): Corpus = {
    val vocab = new Vocab(seed, stopwords)
    val r = rng(seed, "curate")
    val texts = Array.fill(nDocs)(vocab.doc(r, 10 + r.nextInt(91)))
    val half = nDocs / 2
    val back = (half until nDocs).toArray
    val pairs = (0 until (nDocs * 0.051).toInt).map { k =>
      // a partial shuffle of the back half draws distinct copies
      val j = k + r.nextInt(back.length - k)
      val dst = back(j); back(j) = back(k); back(k) = dst
      val src = r.nextInt(half)
      texts(dst) = if (r.nextDouble() < 0.03) texts(src) else texts(src) + " " + vocab.word(r)
      (src, dst)
    }
    val docs = Array.tabulate(nDocs)(i =>
      Doc(i + 1L, texts(i), langs(r.nextInt(langs.length)), s"src${(i + 1) % 20}"))
    val planted = pairs.map { case (src, dst) =>
      Planted(src + 1L, dst + 1L, jaccard(texts(src), texts(dst)))
    }
    Corpus(docs, planted)
  }

  // ------------------------------------------------------------------ //
  // lake_etl: date-partitioned fact table plus two dimensions           //
  // ------------------------------------------------------------------ //

  val nStores = 200
  val nItems = 2000
  val nRegions = 8
  val nCategories = 20

  def region(storeId: Int): String = s"region-${storeId % nRegions}"
  def category(itemId: Int): String = s"cat-${(itemId * 7) % nCategories}"

  def day(i: Int): String = java.time.LocalDate.of(2026, 1, 1).plusDays(i).toString

  private val storeZipf = new Zipf(nStores, 1.1)
  private val itemZipf = new Zipf(nItems, 1.1)

  /** One day's sales. `version` 0 is the seed dataset; each rewrite of
    * a day draws a new version, with fresh order ids.
    */
  def salesForDay(seed: Long, dayIdx: Int, version: Int, rows: Int): Array[Sale] = {
    val r = rng(seed, s"sales-$dayIdx-$version")
    val dt = day(dayIdx)
    Array.tabulate(rows) { i =>
      val qty = 1 + r.nextInt(10)
      val price = 100L + r.nextInt(9900)
      Sale(((version.toLong * 1000 + dayIdx) * 100000L) + i,
        storeZipf.sample(r), itemZipf.sample(r), qty, price, qty * price, dt)
    }
  }
}
