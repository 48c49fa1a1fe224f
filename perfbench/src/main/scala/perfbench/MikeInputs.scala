package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Seeded generator for the MIKE cron tick's inputs, at the reference shapes:
  *  - 22 observed rainfall series, 5-minute steps over a 5-day window, folded
  *    into 114 catchments by a 204-row coefficient table;
  *  - 46 raw-rainfall stations with coordinates (k-NN neighbour fill);
  *  - one discharge series and one tide series, 15-minute steps;
  *  - per extract tick, a 481 x 48 wide result matrix per variable against a
  *    53-row station table.
  *
  * It plants negative readings, gaps, `-99999` tide sentinels, stations with no
  * data in the window and result stations absent from the station table, and
  * records what each output must then look like. The program receives only
  * the written files. */
object MikeInputs {

  val Fmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Start: LocalDateTime = LocalDateTime.parse("2020-05-22T00:00:00")
  val End: LocalDateTime = Start.plusDays(5)
  val StartTs: String = Start.format(Fmt)
  val EndTs: String = End.format(Fmt)
  /** 15-minute spine rows in the window, both ends included. */
  val SpineRows: Int = 5 * 24 * 4 + 1

  val ObsSeries = 22
  val Catchments = 114
  val CoeffRows = 204
  val RawStations = 46
  val ResultStations = 48
  val StationTable = 53

  val SimTag = "hourly_run"
  val Model = "mike11_2016"
  val Variables: Seq[(String, String)] = Seq("WaterLevel" -> "m", "Discharge" -> "m3/s")

  /** What the generated inputs must produce. */
  final case class Expected(
      rainfallRows: Int, rainfallCols: Int,
      rawRainfallRows: Int, rawRainfallCols: Int,
      dischargeRows: Int, tideRows: Int)

  final case class Inputs(dir: Path, expected: Expected,
                          rainfallCfg: Map[String, String],
                          dischargeCfg: Map[String, String],
                          tideCfg: Map[String, String],
                          rawRainfallCfg: Map[String, String],
                          resultStations: Seq[String], stationIds: Map[String, Int],
                          absent: Set[String], stationsCsv: String) {
    def matched: Int = resultStations.size - absent.size
    def factsPerVariable: Int = SpineRows * matched
  }

  private def spine(stepMin: Int): Seq[LocalDateTime] =
    Iterator.iterate(Start)(_.plusMinutes(stepMin)).takeWhile(!_.isAfter(End)).toSeq

  private def writeText(p: Path, s: String): String = { Files.writeString(p, s); p.toString }

  private val seriesSchema = StructType(Seq(
    StructField("obs_id", IntegerType, nullable = false),
    StructField("time", TimestampNTZType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  private val singleSchema = StructType(Seq(
    StructField("time", TimestampNTZType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  private def writeParquet(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                           schema: StructType, path: Path): String = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path.toString)
    path.toString
  }

  /** A rain reading: mostly dry, some showers. */
  private def rain(r: Random): Double =
    if (r.nextDouble() < 0.6) 0.0 else math.round(r.nextDouble() * 40) / 10.0

  def generate(spark: SparkSession, dir: Path, seed: Long): Inputs = {
    import org.apache.spark.sql.Row
    val r = new Random(seed)
    Files.createDirectories(dir)
    val t5 = spine(5)
    val t15 = spine(15)

    // --- observed rainfall: 22 series; 2 have no data in the window (the
    // grid still carries them, and row-mean imputation fills them)
    val obsIds = (1 to ObsSeries).map(100000 + _)
    val silentObs = r.shuffle(obsIds).take(2).toSet
    val obsRows = obsIds.flatMap { id =>
      val times = if (silentObs(id)) t5.take(24).map(_.minusDays(2)) else t5
      times.flatMap { t =>
        val u = r.nextDouble()
        if (u < 0.03) None // gap
        else if (u < 0.05) Some(Row(id, t, -1.0 - r.nextInt(5))) // negative noise
        else Some(Row(id, t, rain(r)))
      }
    }
    val obsPath = writeParquet(spark, obsRows, seriesSchema, dir.resolve("obs_rain"))
    // 114 catchments over 204 coefficient rows: 90 catchments take 2 series
    val coeff = new StringBuilder("name,curw_obs_id,coefficient\n")
    val catchments = (1 to Catchments).map(i => f"catchment_$i%03d")
    val doubles = r.shuffle(catchments.indices.toList).take(CoeffRows - Catchments).toSet
    catchments.zipWithIndex.foreach { case (c, i) =>
      if (doubles(i)) {
        val Seq(a, b) = r.shuffle(obsIds).take(2)
        val w = math.round((0.2 + 0.6 * r.nextDouble()) * 1000) / 1000.0
        coeff ++= s"$c,$a,$w\n$c,$b,${math.round((1 - w) * 1000) / 1000.0}\n"
      } else coeff ++= s"$c,${obsIds(r.nextInt(obsIds.size))},1.0\n"
    }
    val coeffCsv = writeText(dir.resolve("coefficients.csv"), coeff.toString)

    // --- raw rainfall: 46 stations; 3 have no data in the window and drop
    // out of the active-station gate
    val rawIds = (1 to RawStations).map(200000 + _)
    val silentRaw = r.shuffle(rawIds).take(3).toSet
    val rawStations = new StringBuilder("obs_id,station_name,latitude,longitude\n")
    rawIds.foreach { id =>
      val lat = 6.8 + r.nextDouble() * 0.4
      val lon = 79.8 + r.nextDouble() * 0.5
      rawStations ++= f"$id,raw_station_$id,$lat%.5f,$lon%.5f\n"
    }
    val rawStationsCsv = writeText(dir.resolve("raw_stations.csv"), rawStations.toString)
    val rawRows = rawIds.flatMap { id =>
      val times = if (silentRaw(id)) t5.take(12).map(_.plusDays(9)) else t5
      times.flatMap { t =>
        val u = r.nextDouble()
        if (u < 0.03) None
        else if (u < 0.06) Some(Row(id, t, -2.0))
        else Some(Row(id, t, rain(r)))
      }
    }
    val rawPath = writeParquet(spark, rawRows, seriesSchema, dir.resolve("raw_rain"))

    // --- discharge: 15-min series over the window plus a tail past it; gaps
    // are dropped rows, except that a missing last row is patched to 0
    val dGaps = r.shuffle(t15.indices.init.toList).take(5 + r.nextInt(10)).toSet
    val lastMissingD = r.nextBoolean()
    val dRows = t15.indices.flatMap { i =>
      if (dGaps(i) || (i == t15.size - 1 && lastMissingD)) None
      else Some(Row(t15(i), math.round((80 + 40 * r.nextDouble()) * 100) / 100.0))
    } ++ (1 to 8).map(k => Row(End.plusMinutes(15L * k), 99.0))
    val disPath = writeParquet(spark, dRows, singleSchema, dir.resolve("discharge"))
    val dischargeRows = t15.size - dGaps.size

    // --- tide: -99999 sentinels become gaps; a sentinel or missing last row
    // is patched to 0
    val tideGaps = r.shuffle(t15.indices.init.toList).take(4 + r.nextInt(8)).toSet
    val sentinels = r.shuffle(t15.indices.init.filterNot(tideGaps).toList)
      .take(4 + r.nextInt(8)).toSet
    val lastTide = r.nextInt(3) // 0 value, 1 sentinel, 2 missing
    val tRows = t15.indices.flatMap { i =>
      val last = i == t15.size - 1
      if (tideGaps(i) || (last && lastTide == 2)) None
      else if (sentinels(i) || (last && lastTide == 1)) Some(Row(t15(i), -99999.0))
      else Some(Row(t15(i), math.round((0.3 * math.sin(i / 8.0) + 0.05 * r.nextDouble()) *
        1000) / 1000.0))
    }
    val tidePath = writeParquet(spark, tRows, singleSchema, dir.resolve("tide"))
    val tideRows = t15.size - tideGaps.size - sentinels.size

    // --- extract side: 53-row station table; the 48 result columns take
    // 48 - k of its stations and k names it does not know
    val tableNames = (1 to StationTable).map(i => f"Station $i%02d")
    val ids = tableNames.zipWithIndex.map { case (n, i) => n -> (1000 + i) }.toMap
    val nAbsent = 2 + r.nextInt(3)
    val absent = (1 to nAbsent).map(i => f"Unmapped $i%02d").toSet
    val resultStations = r.shuffle(r.shuffle(tableNames).take(ResultStations - nAbsent) ++
      absent.toSeq.sorted)
    val stationsCsv = writeText(dir.resolve("stations.csv"),
      tableNames.map { n =>
        f"$n,${ids(n)},${6.8 + r.nextDouble() * 0.4}%.5f,${79.8 + r.nextDouble() * 0.5}%.5f"
      }.mkString("station,station_id,latitude,longitude\n", "\n", "\n"))

    Inputs(dir,
      Expected(SpineRows, Catchments + 1, SpineRows, RawStations - silentRaw.size + 1,
        dischargeRows, tideRows),
      rainfallCfg = Map("series_path" -> obsPath, "coefficients_csv" -> coeffCsv),
      dischargeCfg = Map("series_path" -> disPath),
      tideCfg = Map("series_path" -> tidePath),
      rawRainfallCfg = Map("series_path" -> rawPath, "stations_csv" -> rawStationsCsv),
      resultStations = resultStations, stationIds = ids, absent = absent,
      stationsCsv = stationsCsv)
  }

  /** One MIKE result matrix (`Time Stamp` + 48 station columns, 481 rows). */
  def writeResults(path: Path, in: Inputs, seed: Long): String = {
    val r = new Random(seed)
    val sb = new StringBuilder(in.resultStations.mkString("Time Stamp,", ",", "\n"))
    spine(15).foreach { t =>
      sb ++= t.format(Fmt)
      in.resultStations.foreach(_ => sb ++= f",${r.nextDouble() * 5}%.4f")
      sb += '\n'
    }
    writeText(path, sb.toString)
  }

  def json(m: Map[String, String]): String =
    m.map { case (k, v) => "\"" + k + "\": \"" + v.replace("\\", "\\\\") + "\"" }
      .mkString("{", ", ", "}")

  /** The program's deterministic series id: sha2(concat_ws(":", parts), 256). */
  def seriesId(parts: String*): String =
    MessageDigest.getInstance("SHA-256").digest(parts.mkString(":").getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  val WarehouseDdl: Seq[String] = Seq(
    """CREATE TABLE facts (tms_id VARCHAR(64) NOT NULL, time TIMESTAMP NOT NULL,
      |  fgt TIMESTAMP NOT NULL, value DOUBLE,
      |  PRIMARY KEY (tms_id, time, fgt))""".stripMargin,
    """CREATE TABLE runs (tms_id VARCHAR(64) NOT NULL PRIMARY KEY,
      |  sim_tag VARCHAR(64), source_id VARCHAR(64), variable_id VARCHAR(64),
      |  unit_id VARCHAR(64), station_id INT,
      |  start_date TIMESTAMP, latest_fgt TIMESTAMP)""".stripMargin,
    "CREATE TABLE source_dim (source_id VARCHAR(64), model VARCHAR(64) NOT NULL PRIMARY KEY)",
    "CREATE TABLE variable_dim (variable_id VARCHAR(64), variable VARCHAR(64) NOT NULL PRIMARY KEY)",
    "CREATE TABLE unit_dim (unit_id VARCHAR(64), unit VARCHAR(32) NOT NULL PRIMARY KEY)",
    """CREATE TABLE station_dim (station VARCHAR(64), station_id INT NOT NULL PRIMARY KEY,
      |  latitude DOUBLE, longitude DOUBLE)""".stripMargin)

  /** Creates the warehouse and loads `fgts.size` earlier forecasts of every
    * matched series for both variables, with their run rows, through Derby's
    * bulk import. */
  def loadHistory(url: String, in: Inputs, fgts: Seq[LocalDateTime], seed: Long): Unit = {
    val r = new Random(seed)
    val matched = in.resultStations.filterNot(in.absent)
    val times = spine(15).map(_.format(Fmt))
    val facts = new StringBuilder
    val runs = new StringBuilder
    for ((variable, unit) <- Variables; st <- matched) {
      val sid = in.stationIds(st)
      val tms = seriesId(SimTag, Model, variable, unit, sid.toString)
      for (f <- fgts.map(_.format(Fmt)); t <- times) {
        facts ++= s"$tms,$t,$f,${math.round(r.nextDouble() * 5000) / 1000.0}\n"
      }
      runs ++= Seq(tms, SimTag, seriesId("source", Model), seriesId("variable", variable),
        seriesId("unit", unit), sid.toString, fgts.head.format(Fmt), fgts.last.format(Fmt))
        .mkString("", ",", "\n")
    }
    val factsCsv = writeText(in.dir.resolve("history_facts.csv"), facts.toString)
    val runsCsv = writeText(in.dir.resolve("history_runs.csv"), runs.toString)
    val c = java.sql.DriverManager.getConnection(url)
    try {
      WarehouseDdl.foreach(c.createStatement().execute)
      for ((table, file) <- Seq("FACTS" -> factsCsv, "RUNS" -> runsCsv)) {
        val cs = c.prepareCall("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, ?, ?, null, null, null, 0)")
        cs.setString(1, table); cs.setString(2, file); cs.execute()
      }
    } finally c.close()
  }
}
