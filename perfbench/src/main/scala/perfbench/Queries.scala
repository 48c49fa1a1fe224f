package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query workloads: passes over a fixed list of `SparkEntry.queries`, one
  * closed-loop client. Each query is forced with a noop write, as
  * `graft.Bench` does, then its pins are released (`Dedup.release` and
  * `clearCache`) before the next one. The seed permutes the pass order.
  *
  * Timed passes force the plain query frame, nothing more. Every run is still
  * checked, on two untimed passes (the first warm-up pass and one pass after
  * the timed loop): there a `Dataset.observe` on the forced frame counts the rows
  * and sums an order-insensitive row hash in the same pass, and both must
  * equal the values recorded for this commit in `expected/<workload>.json`. */
final class Queries(spark: SparkSession, tracer: Tracer, dataDir: String,
                    names: Seq[String], expected: Map[String, (Long, String)], seed: Long)
    extends Workload {

  private val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
    sys.error(s"query $n is not in SparkEntry.queries"))).toMap
  private val rnd = new Random(seed)

  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap("cycle_s" -> mutable.ArrayBuffer[Double](), "pass_s" -> mutable.ArrayBuffer[Double]())
  val perQuery: Map[String, mutable.ArrayBuffer[Double]] =
    names.map(_ -> mutable.ArrayBuffer[Double]()).toMap
  val rowsOut: mutable.Map[String, Long] = mutable.Map()
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  var maxPersisted = 0
  private var passes = 0
  private var obsSeq = 0

  /** Order-insensitive row hash: maps become JSON, doubles are rounded so
    * that last-bit float noise cannot flip the fingerprint. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case _: MapType | _: ArrayType | _: StructType => to_json(c)
    case _ => c
  }

  /** The query forced with a noop write, under `observe` when checked. */
  private def force(name: String, q: DataFrame, checked: Boolean): Unit =
    if (!checked) q.write.format("noop").mode("overwrite").save()
    else {
      val hash = xxhash64(q.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
      obsSeq += 1
      val obs = Observation(s"pb_${obsSeq}")
      q.observe(obs, count(lit(1)).as("rows"), sum(hash.cast(DecimalType(38, 0))).as("fp"))
        .write.format("noop").mode("overwrite").save()
      val row = obs.get
      val got = (row("rows").asInstanceOf[Long],
        Option(row("fp")).map(_.toString).getOrElse("null"))
      rowsOut(name) = got._1
      if (!expected.get(name).contains(got)) {
        failed += 1
        failures += s"$name: rows/fingerprint $got, expected ${expected.get(name)}"
      }
    }

  /** One query, then its pins released. A timed run is never checked. */
  private def once(name: String, timed: Boolean, checked: Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val df = tracer.span(s"queries.$name") {
        val q = fns(name)(spark, dataDir)
        force(name, q, checked)
        q
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      graft.operators.Dedup.release(df)
      spark.catalog.clearCache()
      maxPersisted = math.max(maxPersisted, spark.sparkContext.getPersistentRDDs.size)
      if (timed) perQuery(name) += elapsed
      elapsed
    } catch {
      case e: Exception =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
    }
  }

  private def pass(timed: Boolean, checked: Boolean): Unit = {
    val total = rnd.shuffle(names).map(n => once(n, timed, checked)).sum
    if (timed) { samples("pass_s") += total; samples("cycle_s") += total }
  }

  /** The cold first pass is checked. Passes keep getting faster for a while
    * as the JIT catches up, and the checked form runs other generated code
    * than the plain one, so a second, plain pass warms up what the timed
    * passes run. */
  def warmUp(): Unit = {
    pass(timed = false, checked = true)
    pass(timed = false, checked = false)
  }
  def runOne(): Unit = { pass(timed = true, checked = false); passes += 1 }
  override def check(): Unit = pass(timed = false, checked = true)
  def cyclesDone: Int = passes
  def blockSize: Int = 1
}

object Queries {

  /** Workload name -> query list; the data sits in `perfbench/data/<sf>`. */
  val lists: Map[String, Seq[String]] = Map(
    "queries_sf0.1" -> Seq(
      "q12_resample_right_closed", "q23_dedup_ngram_jaccard", "q43_ann_ivf_topk",
      "q88_bpe_tokens"))

  /** `expected/<workload>.json`: `{"<query>": [rows, "<fingerprint>"], ...}`. */
  def loadExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else {
      val Entry = """"([^"]+)"\s*:\s*\[\s*(\d+)\s*,\s*"([^"]*)"\s*\]""".r
      Entry.findAllMatchIn(Files.readString(p)).map { m =>
        m.group(1) -> (m.group(2).toLong, m.group(3))
      }.toMap
    }
}
