package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{functions => F}

/** Closed-loop benchmark driver: one client, one `local[N]` session,
  * one workload per process.
  *
  *   Main --workload curate|lake_etl --seed N --seconds S
  *        --trace 0|1 --work DIR --inputs DIR --cores N --driver-mem M
  *
  * The process generates (or reuses) the seed's inputs, starts the
  * session and runs the workload's set-up three times. An untraced run
  * then records `--seconds` worth of units from the process's first one
  * on, JIT and codegen included, as a fresh job would. A traced run
  * records one traced unit after a full warm-up unit. The
  * last stdout line is the JSON result; a record with per-operation
  * latencies, input sizes and settings is written beside the spans.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Paths.get(opts("work")).toAbsolutePath
    val inputsRoot = Paths.get(opts("inputs")).toAbsolutePath
    val runId = s"$workloadName-s$seed-t${opts("trace")}-${System.currentTimeMillis()}"

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder("graft-perfbench", s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.applyEngineConf(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, runId)
    val ctx = new Ctx(spark, tracer, cores, seed, work, inputsRoot.resolve(s"$workloadName/seed-$seed"))
    val w: Workload = workloadName match {
      // about 21k of 37k docs pass the default quality rules: above
      // the funnel's 20k-doc knees
      case "curate"   => new Curate(ctx, nDocs = 37000)
      case "lake_etl" => new LakeEtl(ctx, nDays = 16, rowsPerDay = 2000, scansPerRound = 4)
      case other      => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]("session" -> sessionS)
    def phase[T](name: String)(body: => T): T = {
      val p0 = System.nanoTime()
      try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - p0) / 1e9
    }
    phase("prepare")(w.prepare())
    val setups = Seq.fill(3) {
      val s0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + Stats.median(setups)
    phases("setup") = setups.sum

    // An untraced run records `--seconds` worth of units from the
    // process's first on. The count comes from the units' nominal
    // length, not the clock, so every run of one length does the same
    // work. A traced run runs one full warm-up unit (checked, not
    // recorded), then records one traced unit.
    if (trace) phase("warmup")(w.unit(0))
    ctx.recording = true
    val units = if (trace) 1 else math.max(1, math.ceil(seconds / w.unitSeconds).toInt)
    def opSeconds = ctx.samples.values.map(_.sum).sum
    // per unit, the time of its timed operations (checks excluded)
    val unitS = (1 to units).map { i =>
      val before = opSeconds
      phase("loop")(tracer.unit(s"$workloadName unit $i", trace)(w.unit(i)))
      opSeconds - before
    }
    val storedRatio = w.storedBytesRatio
    val peakRssMb = Stats.vmHwmMb()
    val calib = phase("calibration")(calibrate(spark))

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("peak_cache_mb", tracer.blocks.memPeak / (1024.0 * 1024.0), "MB"),
      ("items_per_s", w.itemsPerUnit / Stats.median(unitS), "1/s"),
      ("stored_bytes_ratio", storedRatio, "ratio"))
    val perLayer =
      if (!trace) Nil
      else Layers.metrics(tracer, cores) :+
        (("trace.overhead_frac", tracer.overheadS / opSeconds, "fraction"))

    val record = Json.obj(
      "run" -> runId, "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "master" -> s"local[$cores]", "driver_memory" -> opts("driver-mem"),
      "loop" -> "closed, one client",
      "input_sizes" -> Json.obj(w.inputSizes: _*),
      "units" -> Json.obj("recorded" -> units, "traced" -> trace, "unit_s" -> unitS,
        "item" -> w.itemName, "items_per_unit" -> w.itemsPerUnit),
      "setup" -> Json.obj("session_s" -> sessionS, "workload_setup_s" -> setups),
      "operations" -> Json.obj(ctx.samples.toSeq.map { case (k, v) =>
        k -> Json.obj("n" -> v.size, "mean_s" -> v.sum / v.size, "max_s" -> v.max) }: _*),
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_frac" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
      "errors" -> ctx.errors.take(20).toSeq,
      "calibration_s" -> calib,
      "peak_rss_mb" -> peakRssMb,
      "phase_s" -> Json.obj(phases.toSeq: _*),
      "end_to_end" -> Json.obj(endToEnd.map(m => m._1 -> m._2): _*),
      "per_layer" -> Json.obj(perLayer.map(m => m._1 -> m._2): _*))
    val records = work.resolve("records")
    Files.createDirectories(records)
    Files.write(records.resolve(s"$runId.json"), record.s.getBytes("UTF-8"))
    if (trace) tracer.writeSpans(records.resolve(s"$runId.spans.jsonl"))
    spark.stop()

    System.err.println(s"[perfbench] record: ${record.s}")
    val metrics = if (trace) perLayer else endToEnd
    metrics.foreach { case (n, v, u) => println(f"$n%-34s $v%.6g $u") }
    println(Json.obj(
      "correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*)).s)
  }

  /** Library-independent ambient-load probe, shaped like the library
    * bench's calibration (range → hash aggregate → shuffle → sort) at a
    * tenth of its size, timed once at the end of the run. It annotates
    * the record; it is not a metric.
    */
  def calibrate(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(2000000L)
      .select((F.col("id") * 2654435761L % 1000003L).as("k"), F.col("id").as("v"))
      .groupBy("k").agg(F.sum("v").as("s"), F.count(F.lit(1)).as("c"))
      .orderBy(F.desc("s")).limit(100)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Per-layer metrics of the traced unit. */
object Layers {
  val names = Seq("sources", "sinks", "catalog", "sql", "operators", "llm.dedup", "llm.text", "llm.datacard")

  def metrics(tr: Tracer, cores: Int): Seq[(String, Double, String)] = {
    val per = tr.layers
    val mb = 1024.0 * 1024.0
    names.flatMap { l =>
      val (calls, self, c) = per.getOrElse(l, (0, 0.0, new Counters))
      val taskS = c.taskMs / 1000.0
      Seq((s"$l.calls", calls.toDouble, "count"), (s"$l.self_s", self, "s"),
        (s"$l.jobs", c.jobs.toDouble, "count"), (s"$l.tasks", c.tasks.toDouble, "count"),
        (s"$l.task_s", taskS, "s"), (s"$l.gc_s", c.gcMs / 1000.0, "s"),
        (s"$l.shuffle_write_mb", c.shuffleWriteB / mb, "MB"), (s"$l.spill_mb", c.spillB / mb, "MB"),
        (s"$l.busy_frac", if (self > 0) taskS / (cores * self) else 0.0, "fraction"))
    } ++ {
      val src = per.get("sources").map(_._3).getOrElse(new Counters)
      val sinks = per.get("sinks").map(_._3).getOrElse(new Counters)
      val sql = per.get("sql").map(_._3).getOrElse(new Counters)
      val rows = tr.counter("sources.rows_out")
      val inBytes = tr.counter("sinks.input_bytes")
      Seq(
        ("sources.input_mb_per_row_out", if (rows > 0) src.inputB / mb / rows else 0.0, "MB"),
        ("sql.input_mb", sql.inputB / mb, "MB"),
        ("sql.cache_hit_frac", tr.counter("sql.cache_hits") / math.max(1.0, tr.counter("sql.queries")), "fraction"),
        ("sinks.files_written", tr.counter("sinks.files_written"), "count"),
        ("sinks.bytes_per_input_byte", if (inBytes > 0) sinks.outputB / inBytes else 0.0, "ratio"),
        ("cache.peak_storage_mb", tr.blocks.memPeak / mb, "MB"),
        ("cache.disk_mb", tr.blocks.diskPeak / mb, "MB"),
        ("llm.dedup.pairs_out", tr.counter("llm.dedup.pairs_out"), "count"),
        ("harness.self_s", per.get("unit").map(_._2).getOrElse(0.0), "s"))
    }
  }
}

/** Minimal JSON rendering for the record and the result line. */
object Json {
  final case class Raw(s: String)

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
