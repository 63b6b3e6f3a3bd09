package graftbench

import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

import graft.catalog.Catalog
import graft.operators.{Profiling, Quantiles}
import graft.sinks.Writer
import graft.sql.Sql

/** `lake_etl`: a Data-Wrangler-style lake loop over a date-partitioned
  * fact table and two dimension tables. One unit is a round: one
  * partition-overwrite write, `scansPerRound` skewed SQL scans through
  * the result cache, and one profile of a pruned slice.
  *
  * The seed drives the data. The operation stream (which days a write
  * touches, each scan's template and window, each profile's window) is
  * the workload's definition and the same for every seed, so two runs
  * do the same work on different data.
  *
  * A driver-side model of the table (rows per day) is the independent
  * expectation for every check.
  */
final class LakeEtl(ctx: Ctx, nDays: Int, rowsPerDay: Int, scansPerRound: Int) extends Workload {
  import ctx.{spark, tracer => tr}

  private val db = "lake"
  private val factPath = ctx.dir("lake/sales")
  private val seedPath = ctx.inputs.resolve("sales")
  private val model = scala.collection.mutable.TreeMap[String, Array[Gen.Sale]]()
  private val versions = Array.fill(nDays)(0)
  private val r = Gen.rng(0L, "lake-ops")
  private val dayZipf = new Gen.Zipf(nDays, 1.1)
  private val windowZipf = new Gen.Zipf(LakeEtl.windows.size, 1.2)
  private val templateZipf = new Gen.Zipf(3, 1.0)
  private val regionZipf = new Gen.Zipf(Gen.nRegions, 1.2)

  def itemName = "ops"
  def itemsPerUnit: Long = 2L + scansPerRound
  def unitSeconds = 10.0

  private def seedModel(): Unit = {
    model.clear()
    for (d <- 0 until nDays) {
      model(Gen.day(d)) = Gen.salesForDay(ctx.seed, d, 0, rowsPerDay)
      versions(d) = 0
    }
  }

  def prepare(): Unit = {
    seedModel()
    Inputs.cached(seedPath) { path =>
      salesDf(model.values.flatten.toSeq).repartition(ctx.cores)
        .write.mode("overwrite").parquet(path)
    }
  }

  private def salesDf(rows: Seq[Gen.Sale]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.createDataset(rows)
      .toDF("order_id", "store_id", "item_id", "qty", "price_cents", "amount_cents", "dt")
  }

  def setup(): Unit = {
    import spark.implicits._
    seedModel()
    spark.conf.set(graft.GraftSession.confKeys.cacheSeconds, "3600")
    tr.call("catalog", "Catalog.createDatabase") { Catalog.createDatabase(spark, db) }
    val stores = (0 until Gen.nStores).map(s => (s, Gen.region(s))).toDF("store_id", "region")
    val items = (0 until Gen.nItems).map(i => (i, Gen.category(i))).toDF("item_id", "category")
    tr.call("sinks", "Writer.toParquetCataloged") {
      Writer.toParquetCataloged(spark, stores, ctx.dir("lake/stores"), db, "stores",
        Writer.WriteOptions(mode = "overwrite"))
      Writer.toParquetCataloged(spark, items, ctx.dir("lake/items"), db, "items",
        Writer.WriteOptions(mode = "overwrite"))
      Writer.toParquetCataloged(spark, spark.read.parquet(seedPath.toString), factPath, db,
        "sales", Writer.WriteOptions(mode = "overwrite", partitionCols = Seq("dt")))
    }
  }

  def unit(i: Int): Unit = {
    write()
    for (_ <- 0 until scansPerRound) scan()
    profile()
  }

  private def write(): Unit = {
    val days = Iterator.continually(nDays - 1 - dayZipf.sample(r)).distinct.take(2).toSeq
    val rows = days.map { d =>
      versions(d) += 1
      d -> Gen.salesForDay(ctx.seed, d, versions(d), rowsPerDay / 2 + r.nextInt(rowsPerDay))
    }
    val df = salesDf(rows.flatMap(_._2))
    val before = if (tr.tracing) ctx.dataFiles(factPath) else Set.empty[String]
    val registered = ctx.op("write") {
      tr.call("sinks", "Writer.toParquetCataloged") {
        Writer.toParquetCataloged(spark, df, factPath, db, "sales",
          Writer.WriteOptions(mode = "overwrite_partitions", partitionCols = Seq("dt")))
      }
      tr.call("catalog", "Catalog.getPartitions") { Catalog.getPartitions(spark, db, "sales") }
    }
    rows.foreach { case (d, s) => model(Gen.day(d)) = s }
    if (tr.tracing) {
      tr.count("sinks.files_written", (ctx.dataFiles(factPath) -- before).size)
      tr.count("sinks.input_bytes", rows.iterator.flatMap(_._2).map(Gen.rawBytes).sum)
    }
    registered.foreach { parts =>
      ctx.check("lake_etl write") {
        val onDisk = spark.read.parquet(factPath).groupBy("dt")
          .agg(count(lit(1)), sum(expr(Checks.rowHashSql)))
          .collect().map(r => r.get(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
        val expected = model.map { case (d, s) => d -> ((s.length.toLong, s.map(Checks.rowHash).sum)) }
        Checks.partitions(expected.toMap, onDisk) ++
          Checks.aggregates("registered partitions",
            model.keys.map(_ -> Nil).toMap, parts.map(_("dt") -> Nil).toMap)
      }
    }
  }

  private def window(): (String, String) = {
    val (a, b) = LakeEtl.windows(windowZipf.sample(r))
    (Gen.day(math.max(0, nDays - a)), Gen.day(nDays - b))
  }

  private def scan(): Unit = {
    val (lo, hi) = window()
    val t = templateZipf.sample(r)
    val region = Gen.region(regionZipf.sample(r))
    val range = s"f.dt BETWEEN '$lo' AND '$hi'"
    val sql = t match {
      case 0 => "SELECT s.region AS k, SUM(f.amount_cents) AS v, COUNT(*) AS n " +
        s"FROM $db.sales f JOIN $db.stores s ON f.store_id = s.store_id WHERE $range GROUP BY s.region"
      case 1 => "SELECT i.category AS k, SUM(f.qty) AS v, COUNT(DISTINCT f.store_id) AS n " +
        s"FROM $db.sales f JOIN $db.items i ON f.item_id = i.item_id WHERE $range GROUP BY i.category"
      case _ => "SELECT f.dt AS k, SUM(f.amount_cents) AS v, MAX(f.price_cents) AS n " +
        s"FROM $db.sales f JOIN $db.stores s ON f.store_id = s.store_id " +
        s"WHERE $range AND s.region = '$region' GROUP BY f.dt"
    }
    val res = ctx.op("scan") {
      tr.call("sql", "Sql.readSqlQuery") {
        val q = Sql.readSqlQuery(spark, sql)
        (q.metadata.cacheHit, q.df.collect())
      }
    }
    res.foreach { case (hit, rows) =>
      tr.count("sql.queries", 1)
      tr.count("sql.cache_hits", if (hit) 1 else 0)
      ctx.check(s"lake_etl scan t$t") {
        val in = model.range(lo, hi + "\u0000").values.flatten.toSeq
        val expected: Map[String, Seq[Long]] = t match {
          case 0 => in.groupBy(s => Gen.region(s.storeId)).map { case (k, ss) =>
            k -> Seq(ss.map(_.amountCents).sum, ss.size.toLong) }
          case 1 => in.groupBy(s => Gen.category(s.itemId)).map { case (k, ss) =>
            k -> Seq(ss.map(_.qty.toLong).sum, ss.map(_.storeId).distinct.size.toLong) }
          case _ => in.filter(s => Gen.region(s.storeId) == region).groupBy(_.dt).map { case (k, ss) =>
            k -> Seq(ss.map(_.amountCents).sum, ss.map(_.priceCents).max) }
        }
        val got = rows.map(r => r.get(0).toString ->
          Seq(r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)).toMap
        Checks.aggregates(s"scan template $t", expected, got)
      }
    }
  }

  /** A fixed-length window whose end is skewed toward recent days, so
    * every profile refines over a similar number of rows.
    */
  private def profileWindow(): (String, String) = {
    val end = nDays - 1 - LakeEtl.profileEnd.sample(r)
    (Gen.day(end - LakeEtl.profileDays + 1), Gen.day(end))
  }

  private def profile(): Unit = {
    val (lo, hi) = profileWindow()
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val cols = Seq("qty", "price_cents", "amount_cents")
    var slice: org.apache.spark.sql.DataFrame = null
    val res = ctx.op("profile") {
      slice = tr.call("sources", "Catalog.readParquetTable") {
        val s = ctx.persistOwn(Catalog.readParquetTable(spark, db, "sales")
          .filter(col("dt").between(lo, hi)))
        tr.count("sources.rows_out", s.count())
        s
      }
      val q = tr.call("operators", "Quantiles.exactQuantiles") {
        Quantiles.exactQuantiles(slice, Nil, "amount_cents", ps).collect()
      }
      val p = tr.call("operators", "Profiling.profileNumeric") {
        Profiling.profileNumeric(slice, cols).collect()
      }
      (q, p)
    }
    if (slice != null) slice.unpersist(blocking = false)
    res.foreach { case (q, p) =>
      ctx.check("lake_etl profile") {
        val in = model.range(lo, hi + "\u0000").values.flatten.toArray
        val amounts = in.map(_.amountCents).sorted
        val gotQ = q.map(r => s"p${r.getAs[Double]("p")}" -> r.getAs[Double]("q")).toMap
        val expQ = ps.map(pp => s"p$pp" -> Checks.quantile(amounts, pp)).toMap
        def stats(c: String, v: Array[Long]): Seq[(String, Double)] = {
          val n = v.length
          val mean = v.map(BigDecimal(_)).sum / n
          val sd = math.sqrt(v.map(x => (x - mean.toDouble) * (x - mean.toDouble)).sum / (n - 1))
          val sorted = v.sorted
          Seq(s"$c.n" -> n.toDouble,
            s"$c.mean" -> mean.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
            s"$c.sd" -> sd, s"$c.min" -> sorted.head.toDouble, s"$c.max" -> sorted.last.toDouble,
            s"$c.median" -> Checks.quantile(sorted, 0.5))
        }
        val expP = (stats("qty", in.map(_.qty.toLong)) ++ stats("price_cents", in.map(_.priceCents)) ++
          stats("amount_cents", amounts)).toMap
        val gotP = p.flatMap { r =>
          val c = r.getAs[String]("column")
          Seq(s"$c.n" -> r.getAs[Number]("n_nonnull").doubleValue,
            s"$c.mean" -> r.getAs[Double]("mean"), s"$c.sd" -> r.getAs[Double]("sd"),
            s"$c.min" -> r.getAs[Double]("min"), s"$c.max" -> r.getAs[Double]("max"),
            s"$c.median" -> r.getAs[Double]("median"))
        }.toMap
        Checks.numbers("quantiles", expQ, gotQ, 1e-12) ++ Checks.numbers("profile", expP, gotP, 1e-6)
      }
    }
  }

  def storedBytesRatio: Double =
    ctx.dirBytes(factPath).toDouble / model.values.iterator.flatten.map(Gen.rawBytes).sum

  def inputSizes: Seq[(String, Long)] = Seq(
    "lake_etl.days" -> nDays.toLong,
    "lake_etl.seed_rows" -> nDays.toLong * rowsPerDay,
    "lake_etl.rows_per_rewritten_day" -> rowsPerDay.toLong,
    "lake_etl.scans_per_round" -> scansPerRound.toLong)
}

object LakeEtl {
  val profileDays = 8
  private val profileEnd = new Gen.Zipf(8, 1.2)

  /** Query windows as (days back to the first day, days back to the
    * last day), most popular first.
    */
  val windows: Seq[(Int, Int)] = Seq((7, 1), (14, 1), (3, 1), (16, 1), (12, 6), (10, 4), (5, 2), (15, 8))
}
