package graftbench

/** Shows that every output check accepts a correct result and rejects
  * a perturbed one. Runs without Spark: the checks are pure.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, accepts: List[String], rejects: List[String]): Unit = {
    val ok = accepts.isEmpty && rejects.nonEmpty
    if (!ok) failures += 1
    println(f"${if (ok) "ok  " else "FAIL"} $name%-44s correct: ${accepts.size} problems; " +
      s"perturbed: ${rejects.headOption.getOrElse("accepted")}")
  }

  def main(args: Array[String]): Unit = {
    // curate: quality filter, planted pairs and exact Jaccard
    val rules = graft.llm.TextAnalysis.QualityRules()
    val stop = graft.llm.TextAnalysis.stopwords(rules.stopLang)
    val c = Gen.curateCorpus(seed = 7, nDocs = 800, stop)
    val text = c.docs.map(d => d.id -> d.text).toMap
    val kept = c.docs.filter(d => Checks.passesQuality(d.text, rules, stop.toSet)).map(_.id).toSet
    expect("curate: one passing doc filtered out",
      Checks.kept(kept, kept.toSeq),
      Checks.kept(kept, kept.toSeq.tail))
    val short = c.docs.find(d => d.text.split(" ").length < rules.minTokens).get
    expect("curate: one short doc kept",
      Checks.kept(kept, kept.toSeq),
      Checks.kept(kept, kept.toSeq :+ short.id))
    val good = c.planted.filter(p => p.jaccard >= 0.8 && kept(p.a) && kept(p.b))
    val returned = good.map(p => (p.a, p.b, p.jaccard))
    expect("curate: one planted pair dropped",
      Checks.nearDupPairs(c.planted, kept, returned, text, 0.8),
      Checks.nearDupPairs(c.planted, kept, returned.tail, text, 0.8))
    val stranger = c.docs.map(_.id).filterNot(id => c.planted.exists(p => p.a == id || p.b == id)).take(2)
    val bogus = (stranger(0) min stranger(1), stranger(0) max stranger(1),
      Gen.jaccard(text(stranger(0)), text(stranger(1))))
    expect("curate: a pair below the threshold returned",
      Checks.nearDupPairs(c.planted, kept, returned, text, 0.8),
      Checks.nearDupPairs(c.planted, kept, returned :+ bogus, text, 0.8))
    val expected = kept -- Checks.losers(returned.map(p => (p._1, p._2)))
    expect("curate: one output row dropped",
      Checks.curated(expected, expected.toSeq, expected.size.toDouble),
      Checks.curated(expected, expected.toSeq.tail, expected.size.toDouble))
    expect("curate: data card count off by one",
      Checks.curated(expected, expected.toSeq, expected.size.toDouble),
      Checks.curated(expected, expected.toSeq, expected.size + 1.0))

    // lake_etl: partition readback, aggregates, quantiles
    val day0 = Gen.salesForDay(3, 0, 0, 50)
    val day1 = Gen.salesForDay(3, 1, 0, 50)
    def digest(s: Seq[Gen.Sale]) = (s.size.toLong, s.map(Checks.rowHash).sum)
    val model = Map("d0" -> digest(day0), "d1" -> digest(day1))
    val changed = day0.updated(5, day0(5).copy(qty = day0(5).qty + 1))
    expect("lake_etl: one row changed in a partition",
      Checks.partitions(model, Map("d0" -> digest(day0), "d1" -> digest(day1))),
      Checks.partitions(model, Map("d0" -> digest(changed), "d1" -> digest(day1))))
    expect("lake_etl: an untouched partition lost",
      Checks.partitions(model, model),
      Checks.partitions(model, model - "d1"))
    val agg = Map("region-0" -> Seq(10L, 2L), "region-1" -> Seq(7L, 1L))
    expect("lake_etl: one scan aggregate off",
      Checks.aggregates("scan", agg, agg),
      Checks.aggregates("scan", agg, agg.updated("region-1", Seq(8L, 1L))))
    val sorted = day0.map(_.amountCents).sorted
    val q = Map("p0.5" -> Checks.quantile(sorted, 0.5), "p0.9" -> Checks.quantile(sorted, 0.9))
    expect("lake_etl: one quantile off",
      Checks.numbers("quantiles", q, q, 1e-12),
      Checks.numbers("quantiles", q, q.updated("p0.9", q("p0.9") + 0.5), 1e-12))

    // generator sanity: planted copies really are near-duplicates, and
    // the default quality rules keep the docs with enough tokens
    val share = c.planted.count(_.jaccard >= 0.8).toDouble / c.planted.size
    val longDocs = c.docs.filter(_.text.split(" ").length >= rules.minTokens).map(_.id).toSet
    val sane = share >= 0.9 && good.nonEmpty && kept == longDocs
    if (!sane) failures += 1
    println(f"${if (sane) "ok  " else "FAIL"} generator: planted pairs at or above 0.8: $share%.3f; " +
      s"docs passing the quality rules: ${kept.size} of ${c.docs.length}, all with >= ${rules.minTokens} tokens")

    if (failures > 0) {
      println(s"$failures self-test cases failed")
      sys.exit(1)
    }
    println("all checks reject their perturbed results")
  }
}
