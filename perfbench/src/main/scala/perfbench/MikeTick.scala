package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable

import graft.jobs._
import org.apache.spark.sql.SparkSession

/** Workload `mike_tick`: the reference's cron tick, one closed-loop client.
  * A cycle is one input tick (`PrepMikeInputsJob.run` over all four
  * generators, into a fresh output directory) followed by one extract
  * (`ExtractToWarehouseJob.run` for WaterLevel, then Discharge) into an
  * embedded in-memory Derby warehouse that holds a loaded history. Every
  * fourth extract replays the previous forecast generation time (fgt).
  *
  * Traced runs make `PrepMikeInputsJob.run`'s own config read, then call the
  * four generator `run`s directly, in the order it dispatches them, so each
  * gets its own span and the tick runs the same Spark jobs as untraced. */
final class MikeTick(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
                     setupRep: Int) extends Workload {

  import MikeInputs._

  /** Earlier forecasts loaded into the warehouse before timing starts. */
  val HistoryFgts = 2
  val ReplayEvery = 4

  private val url = s"jdbc:derby:memory:perfbench_wh_$setupRep;create=true"
  private val base = LocalDateTime.parse("2020-05-24T06:00:00")
  private val in: Inputs = generate(spark, work.resolve("inputs"), seed)
  loadHistory(url, in, (HistoryFgts to 1 by -1).map(h => base.minusHours(h.toLong)), seed + 1)

  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap(
    "cycle_s" -> mutable.ArrayBuffer[Double](),
    "prep_tick_s" -> mutable.ArrayBuffer[Double](),
    "extract_tick_s" -> mutable.ArrayBuffer[Double](),
    "extract_replay_s" -> mutable.ArrayBuffer[Double]())
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  var maxPersisted = 0
  /** Per extract call: (kind, rows upserted, rows inserted). */
  val upserts = mutable.ArrayBuffer[(String, Long, Long)]()

  /** Cycles run so far, warm-up included: names tick directories and fgts. */
  private var seq = 0
  /** Measured cycles so far. */
  private var cycle = 0
  private var lastFgt: Option[(LocalDateTime, Map[String, String])] = None

  private def fail(what: String): Unit = { failed += 1; failures += what }

  private def pins(): Unit =
    maxPersisted = math.max(maxPersisted, spark.sparkContext.getPersistentRDDs.size)

  private def q(sql: String, args: Any*): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val ps = c.prepareStatement(sql)
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      val rs = ps.executeQuery(); rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** One CSV part in `dir` with exactly `lines` lines and `cols` fields. */
  private def csvOk(dir: Path, lines: Int, cols: Int): Boolean = Files.isDirectory(dir) && {
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".csv"))
    parts.length == 1 && {
      val ls = Files.readAllLines(parts.head)
      ls.size == lines && ls.get(0).split(",", -1).length == cols
    }
  }

  /** The input tick, then its checks: one operation per generator step. */
  private def prepTick(timed: Boolean): Unit = {
    val dir = work.resolve(s"ticks/t$seq")
    Files.createDirectories(dir)
    val outs = Seq("rainfall", "discharge", "tide", "raw_rainfall").map(n => n -> dir.resolve(n))
      .toMap
    val cfgs = Map(
      "rainfall" -> in.rainfallCfg, "discharge" -> in.dischargeCfg,
      "tide" -> in.tideCfg, "raw_rainfall" -> in.rawRainfallCfg).map { case (n, m) =>
      n -> writeCfg(dir.resolve(s"$n.json"), m + ("output_path" -> outs(n).toString))
    }
    val prepCfg = writeCfg(dir.resolve("prep.json"), cfgs.map { case (n, p) => s"${n}_config" -> p })
    // a pre-existing output would make the step a skipped no-op, not a tick
    val preexisting = outs.filter { case (_, p) => Files.exists(p) }.keySet
    val t0 = System.nanoTime()
    val status: Map[String, Boolean] =
      try {
        tracer.span("prep_tick") {
          if (tracer.enabled) {
            // PrepMikeInputsJob.run's config read and dispatch order, one
            // span per generator
            tracer.span("jobs.prep_config") {
              spark.read.option("multiLine", true).json(prepCfg).first()
            }
            def step(n: String)(f: => Boolean): (String, Boolean) =
              tracer.span(s"jobs.$n") { n -> scala.util.Try(f).getOrElse(false) }
            Seq(
              step("rainfall")(RainfallInputJob.run(spark, cfgs("rainfall"), StartTs, EndTs)),
              step("discharge")(DischargeInputJob.run(spark, cfgs("discharge"), StartTs, EndTs)._1),
              step("tide")(TideInputJob.run(spark, cfgs("tide"), StartTs, EndTs)),
              step("raw_rainfall")(
                RawRainfallInputJob.run(spark, cfgs("raw_rainfall"), StartTs, EndTs)))
          } else PrepMikeInputsJob.run(spark, prepCfg, StartTs, EndTs).map(s => s._1 -> s._2)
        }.toMap
      } catch { case _: Exception => Map.empty }
    if (timed) samples("prep_tick_s") += (System.nanoTime() - t0) / 1e9
    pins()
    val ex = in.expected
    val shapes = Map(
      "rainfall" -> (ex.rainfallRows + 1, ex.rainfallCols),
      "raw_rainfall" -> (ex.rawRainfallRows + 1, ex.rawRainfallCols),
      "discharge" -> (ex.dischargeRows, 2),
      "tide" -> (ex.tideRows, 2))
    shapes.foreach { case (n, (lines, cols)) =>
      attempted += 1
      val ok = !preexisting(n) && status.getOrElse(n, false) && csvOk(outs(n), lines, cols)
      if (!ok) fail(s"cycle $seq: step $n (ran on a fresh output: ${!preexisting(n)}, " +
        s"status ${status.get(n)}, want $lines lines x $cols)")
    }
  }

  private def writeCfg(p: Path, m: Map[String, String]): String = {
    Files.writeString(p, json(m)); p.toString
  }

  private def extract(timed: Boolean, replay: Boolean): Unit = {
    val (fgtTime, resultFiles) =
      if (replay) lastFgt.get
      else {
        val f = base.plusHours(seq.toLong)
        val dir = work.resolve(s"runs/${f.format(Fmt).replace(' ', '_').replace(':', '-')}")
        Files.createDirectories(dir)
        f -> Variables.map { case (v, _) =>
          v -> writeResults(dir.resolve(s"resmike11_$v.csv"), in, seed * 1000 + seq * 2 +
            v.length)
        }.toMap
      }
    val fgt = fgtTime.format(Fmt)
    val kind = if (replay) "replay" else "extract"
    val cfgs = Variables.map { case (v, unit) =>
      v -> writeCfg(work.resolve(s"runs/cfg_${seq}_$v.json"), Map(
        "results_csv" -> resultFiles(v), "stations_csv" -> in.stationsCsv,
        "jdbc_url" -> url, "fact_table" -> "facts", "run_table" -> "runs",
        "sim_tag" -> SimTag, "model" -> Model, "variable" -> v, "unit" -> unit))
    }
    val counts = mutable.ArrayBuffer[Long](q("SELECT COUNT(*) FROM facts"))
    val results = mutable.ArrayBuffer[(String, Option[(Long, Seq[String])])]()
    var elapsed = 0.0
    cfgs.foreach { case (v, cfg) =>
      val t0 = System.nanoTime()
      val r = tracer.span(s"$kind.$v") {
        try Some(ExtractToWarehouseJob.run(spark, cfg, fgt))
        catch { case e: Exception => fail(s"cycle $seq: $kind $v threw ${e.getMessage}"); None }
      }
      elapsed += (System.nanoTime() - t0) / 1e9
      results += v -> r
      counts += q("SELECT COUNT(*) FROM facts")
    }
    if (timed) samples(if (replay) "extract_replay_s" else "extract_tick_s") += elapsed
    pins()
    results.zipWithIndex.foreach { case ((v, r), i) =>
      attempted += 1
      val inserted = counts(i + 1) - counts(i)
      val variableId = seriesId("variable", v)
      r match {
        case None => ()
        case Some((n, missing)) =>
          upserts += ((kind, n, inserted))
          val stale = q("SELECT COUNT(*) FROM runs WHERE variable_id = ? AND latest_fgt <> ?",
            variableId, java.sql.Timestamp.valueOf(fgtTime))
          val runs = q("SELECT COUNT(*) FROM runs WHERE variable_id = ?", variableId)
          val ok = n == in.factsPerVariable && missing.toSet == in.absent &&
            inserted == (if (replay) 0L else n) && stale == 0 && runs == in.matched
          if (!ok) fail(s"cycle $seq: $kind $v upserted=$n inserted=$inserted " +
            s"missing=${missing.sorted} stale_runs=$stale runs=$runs")
      }
    }
    lastFgt = Some(fgtTime -> resultFiles)
  }

  private def cycleOnce(timed: Boolean, replay: Boolean): Unit = {
    prepTick(timed)
    extract(timed, replay)
    seq += 1
  }

  /** Untimed warm-up: one new-fgt cycle. */
  def warmUp(): Unit = cycleOnce(timed = false, replay = false)

  def cyclesDone: Int = cycle
  def blockSize: Int = ReplayEvery
  def runOne(): Unit = {
    val before = samples.values.map(_.sum).sum
    cycleOnce(timed = true, replay = cycle % ReplayEvery == ReplayEvery - 1)
    samples("cycle_s") += samples.values.map(_.sum).sum - before
    cycle += 1
  }

  override def discard(): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
}
