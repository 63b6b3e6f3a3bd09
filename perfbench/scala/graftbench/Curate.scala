package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.llm.{DataCard, Dedup, TextAnalysis}
import graft.sinks.Writer
import graft.sources.Reader

/** `curate`: a bulk curation pass over an open-vocabulary corpus with
  * planted near-duplicates — quality filter → minhash near-dup pairs →
  * near-dedup → data card → parquet. One unit is one pass over the
  * whole corpus, with the library's default quality rules.
  */
final class Curate(ctx: Ctx, nDocs: Int) extends Workload {
  import ctx.{spark, tracer => tr}

  val threshold = 0.8
  val rules = TextAnalysis.QualityRules()
  private var corpus: Gen.Corpus = _
  private var byId: Map[Long, Gen.Doc] = _
  /** Ids of the docs that pass the quality rules, computed without Spark. */
  private var passing: Set[Long] = _
  private val corpusPath = ctx.inputs.resolve("corpus").toString
  private var lastOut: String = _
  private var lastRawBytes = 1L

  def itemName = "docs"
  def itemsPerUnit: Long = corpus.docs.length.toLong
  def unitSeconds = 45.0

  def prepare(): Unit = {
    val stopwords = TextAnalysis.stopwords(rules.stopLang)
    corpus = Gen.curateCorpus(ctx.seed, nDocs, stopwords)
    byId = corpus.docs.iterator.map(d => d.id -> d).toMap
    val stopSet = stopwords.toSet
    passing = corpus.docs.iterator
      .filter(d => Checks.passesQuality(d.text, rules, stopSet)).map(_.id).toSet
    require(passing.size >= Curate.knee,
      s"${passing.size} of $nDocs docs pass the quality rules, below the ${Curate.knee}-doc knees")
    Inputs.cached(ctx.inputs.resolve("corpus")) { path =>
      import spark.implicits._
      spark.createDataset(corpus.docs.toSeq).repartition(ctx.cores).write.mode("overwrite").parquet(path)
    }
  }

  /** The pass needs nothing but its input: set-up is the session alone. */
  def setup(): Unit = ()

  def unit(i: Int): Unit = {
    val out = ctx.dir(s"curate/out-${i % 2}")
    val before = if (tr.tracing) ctx.dataFiles(out) else Set.empty[String]
    var kept: DataFrame = null
    var pairs: DataFrame = null
    var deduped: DataFrame = null
    val card = ctx.op("pass") {
      val input = tr.call("sources", "Reader.readParquet") { Reader.readParquet(spark, corpusPath) }
      kept = tr.call("llm.text", "TextAnalysis.qualityFilter") {
        val keep = TextAnalysis.qualityFilter(input, "id", "text", rules)
          .filter(col("keep") === 1).select("id")
        val k = ctx.persistOwn(input.join(keep, Seq("id"), "left_semi"))
        k.count()
        k
      }
      pairs = tr.call("llm.dedup", "Dedup.minhashNearDups") {
        Dedup.minhashNearDups(kept, "id", "text", threshold = threshold)
      }
      deduped = tr.call("llm.dedup", "Dedup.dedupNearDups") {
        val d = ctx.persistOwn(Dedup.dedupNearDups(kept, "id", pairs))
        d.count()
        d
      }
      val rows = tr.call("llm.datacard", "DataCard.corpusDataCard") {
        DataCard.corpusDataCard(deduped, "id", "text", "lang", "source", rules).collect()
      }
      tr.call("sinks", "Writer.toParquet") {
        Writer.toParquet(spark, deduped, out, Writer.WriteOptions(mode = "overwrite"))
      }
      rows
    }
    card.foreach { rows =>
      val returned = pairs.collect().toSeq
        .map(r => (r.getAs[Number]("id_a").longValue, r.getAs[Number]("id_b").longValue,
          r.getAs[Double]("jaccard")))
      val expected = passing -- Checks.losers(returned.map(p => (p._1, p._2)))
      ctx.check("curate quality filter") {
        Checks.kept(passing, kept.select("id").collect().map(_.getLong(0)).toSeq)
      }
      ctx.check("curate near-dup pairs") {
        Checks.nearDupPairs(corpus.planted, passing, returned, id => byId(id).text, threshold)
      }
      ctx.check("curate output") {
        val written = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSeq
        val nDocs = rows.find(r => r.getString(0) == "corpus" && r.getString(1) == "n_docs")
          .map(_.getDouble(2)).getOrElse(-1.0)
        Checks.curated(expected, written, nDocs)
      }
      lastOut = out
      lastRawBytes = expected.iterator.map(id => Gen.rawBytes(byId(id))).sum
      tr.count("llm.dedup.pairs_out", returned.size)
      tr.count("sinks.input_bytes", lastRawBytes)
      if (tr.tracing) tr.count("sinks.files_written", (ctx.dataFiles(out) -- before).size)
    }
    Seq(kept, pairs, deduped).filter(_ != null).foreach(_.unpersist(blocking = false))
  }

  def storedBytesRatio: Double = ctx.dirBytes(lastOut).toDouble / lastRawBytes

  def inputSizes: Seq[(String, Long)] = Seq(
    "curate.docs" -> corpus.docs.length.toLong,
    "curate.planted_pairs" -> corpus.planted.size.toLong,
    "curate.passing_quality" -> passing.size.toLong,
    "curate.raw_bytes" -> corpus.docs.iterator.map(Gen.rawBytes).sum)
}

object Curate {
  /** The minhash funnel's corpus-size knees (`pairSketchMinCorpus`,
    * `estimateSemiJoinMinCorpus`), both 20000 docs by default.
    */
  val knee = 20000
}
