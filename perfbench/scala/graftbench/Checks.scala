package graftbench

/** Output checks. Each takes the program's result as collected to the
  * driver plus an expectation computed without the library, and returns
  * the list of problems found (empty = pass). They are pure, so the
  * self-test can feed them perturbed results.
  */
object Checks {

  type Pair = (Long, Long)

  /** curate: whether a doc passes the Gopher-style rules that
    * `TextAnalysis.qualityFilter` documents, recomputed token by token:
    * tokens are the whitespace-separated runs of the trimmed lowercase
    * text; average token length is non-space characters per token;
    * symbols are `#`,
    * `…` and `...`; an alpha token holds a letter a–z; stopword hits
    * count tokens in `stopwords`, duplicates included.
    */
  def passesQuality(text: String, rules: graft.llm.TextAnalysis.QualityRules,
                    stopwords: Set[String]): Boolean = {
    val t = text.trim.toLowerCase(java.util.Locale.ROOT)
    val toks = t.split("\\s+").filter(_.nonEmpty)
    val n = toks.length.toDouble
    def symbols = {
      var i, c = 0
      while (i < t.length) {
        if (t.charAt(i) == '#' || t.charAt(i) == '\u2026') { c += 1; i += 1 }
        else if (t.startsWith("...", i)) { c += 1; i += 3 }
        else i += 1
      }
      c
    }
    n > 0 && n >= rules.minTokens && n <= rules.maxTokens && {
      val avgLen = toks.map(_.length).sum / n
      avgLen >= rules.minAvgTokenLen && avgLen <= rules.maxAvgTokenLen &&
        symbols / n <= rules.maxSymbolFrac &&
        toks.count(_.exists(c => c >= 'a' && c <= 'z')) / n >= rules.minAlphaTokenFrac &&
        toks.count(stopwords) >= rules.minStopwordHits
    }
  }

  /** curate: the quality filter keeps exactly the expected docs. */
  def kept(expected: Set[Long], got: Seq[Long]): List[String] = {
    val g = got.toSet
    if (got.size == g.size && g == expected) Nil
    else List(s"quality filter kept ${got.size} rows: ${(expected -- g).size} expected docs missing, " +
      s"${(g -- expected).size} unexpected, ${got.size - g.size} duplicated")
  }

  /** curate: every planted pair at or above the threshold whose docs
    * both pass the quality rules is returned, and every returned
    * pair's exact shingle Jaccard is at or above the threshold.
    */
  def nearDupPairs(planted: Seq[Gen.Planted], kept: Set[Long],
                   returned: Seq[(Long, Long, Double)], texts: Long => String,
                   threshold: Double): List[String] = {
    val got = returned.map(p => (p._1, p._2)).toSet
    val missing = planted.filter(p =>
      p.jaccard >= threshold && kept(p.a) && kept(p.b) && !got((p.a, p.b)))
    val wrong = returned.filter { case (a, b, j) =>
      val exact = Gen.jaccard(texts(a), texts(b))
      a >= b || exact < threshold || math.abs(exact - j) > 1e-9
    }
    (if (missing.nonEmpty) List(s"${missing.size} planted pairs missing, e.g. ${missing.head}") else Nil) ++
      (if (wrong.nonEmpty) List(s"${wrong.size} returned pairs fail the exact Jaccard, e.g. ${wrong.head}") else Nil)
  }

  /** Ids that near-dedup drops: every member of a pair-connected
    * cluster except the cluster's smallest id.
    */
  def losers(pairs: Seq[Pair]): Set[Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.filter(x => find(x) != x).toSet
  }

  /** curate: the written ids are exactly the expected survivors and the
    * data card counts them.
    */
  def curated(expected: Set[Long], written: Seq[Long], cardDocs: Double): List[String] = {
    val w = written.toSet
    (if (written.size != w.size) List(s"${written.size - w.size} duplicate ids written") else Nil) ++
      (if (w != expected)
        List(s"written ids differ: ${(expected -- w).size} missing, ${(w -- expected).size} extra")
      else Nil) ++
      (if (cardDocs != expected.size.toDouble)
        List(s"data card n_docs $cardDocs != ${expected.size}") else Nil)
  }

  /** Order-independent checksum of one sale row, in arithmetic that
    * Spark SQL evaluates identically (every step stays below 2^63).
    */
  val P = 1000000007L
  def rowHash(s: Gen.Sale): Long = {
    var h = s.orderId % P
    for (v <- Seq(s.storeId.toLong, s.itemId.toLong, s.qty.toLong, s.priceCents, s.amountCents))
      h = (h * 1009 + v) % P
    h
  }
  val rowHashSql: String =
    "((((((order_id % 1000000007) * 1009 + store_id) % 1000000007 * 1009 + item_id) " +
      "% 1000000007 * 1009 + qty) % 1000000007 * 1009 + price_cents) % 1000000007 " +
      "* 1009 + amount_cents) % 1000000007"

  /** lake_etl: per-partition (count, checksum) read back from disk
    * equals the model, so rewritten partitions hold exactly the new
    * rows and untouched partitions are unchanged.
    */
  def partitions(model: Map[String, (Long, Long)],
                 onDisk: Map[String, (Long, Long)]): List[String] = {
    val bad = (model.keySet ++ onDisk.keySet).toSeq.sorted
      .filter(d => model.get(d) != onDisk.get(d))
    if (bad.isEmpty) Nil
    else List(s"${bad.size} partitions differ, e.g. ${bad.head}: " +
      s"model ${model.get(bad.head)} disk ${onDisk.get(bad.head)}")
  }

  /** Exact comparison of keyed integer aggregates. */
  def aggregates(what: String, expected: Map[String, Seq[Long]],
                 got: Map[String, Seq[Long]]): List[String] =
    if (expected == got) Nil
    else {
      val k = (expected.keySet ++ got.keySet).toSeq.sorted
        .find(k => expected.get(k) != got.get(k)).get
      List(s"$what differs at $k: expected ${expected.get(k)} got ${got.get(k)}")
    }

  /** Interpolated quantile as Spark's exact `percentile` defines it. */
  def quantile(sorted: Array[Long], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) sorted(lo).toDouble
    else (hi - pos) * sorted(lo) + (pos - lo) * sorted(hi)
  }

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def numbers(what: String, expected: Map[String, Double],
              got: Map[String, Double], tol: Double): List[String] = {
    val bad = (expected.keySet ++ got.keySet).toSeq.sorted.filter { k =>
      !(expected.contains(k) && got.contains(k) && close(got(k), expected(k), tol))
    }
    if (bad.isEmpty) Nil
    else List(s"$what differs at ${bad.head}: expected ${expected.get(bad.head)} got ${got.get(bad.head)}")
  }
}
