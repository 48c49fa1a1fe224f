package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What the measuring loop needs from a workload. */
trait Workload {
  def warmUp(): Unit
  def runOne(): Unit
  /** Untimed output check after the timed loop, for a workload whose timed
    * cycles are not checked as they run. */
  def check(): Unit = ()
  def cyclesDone: Int
  /** Traced runs measure whole blocks, so per-cycle counters repeat exactly. */
  def blockSize: Int
  def samples: mutable.Map[String, mutable.ArrayBuffer[Double]]
  def attempted: Int
  def failed: Int
  def failures: mutable.ArrayBuffer[String]
  def maxPersisted: Int
  /** Releases what a discarded set-up holds. */
  def discard(): Unit = ()
}

/** Benchmark entry: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--root <checkout>]`. Sets up (several times; the median is
  * `setup_s`), measures for `--seconds`, checks every output, and prints
  * every metric with its unit; the last stdout line is one JSON object. */
object Main {

  val Cores = 4
  val SetupReps = 3
  /** Cycles measured at least, whatever `--seconds` says. */
  val MinCycles = 2

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Opts(m("--workload"), m("--seed").toLong, m("--seconds").toDouble, m("--trace") == "1",
      Paths.get(m.getOrElse("--root", ".")).toAbsolutePath.normalize)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The machine's cumulative CPU ticks (`/proc/stat`): user, nice, system,
    * idle, iowait, irq, softirq, steal. */
  def cpuStat(): Seq[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9)
      .map(_.toLong).toSeq

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }

  def main(args: Array[String]): Unit =
    try run(parse(args))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(2) // no result line: a run that could not finish is not a measurement
    }

  def run(o: Opts): Unit = {
    val bench = o.root.resolve("perfbench")
    val src = o.root.resolve("src/main/scala/graft")
    require(Files.isDirectory(src), s"program sources not found under ${o.root}")
    val work = o.root.resolve(".perfbench_work").resolve("run")
    deleteTree(work)
    Files.createDirectories(work)
    val tracer = new Tracer(o.trace)

    def make(spark: SparkSession, rep: Int): Workload = o.workload match {
      case "mike_tick" => new MikeTick(spark, tracer, work.resolve(s"setup$rep"), o.seed, rep)
      case w if Queries.lists.contains(w) =>
        new Queries(spark, tracer, bench.resolve("data").resolve(w.stripPrefix("queries_"))
          .toString, Queries.lists(w),
          Queries.loadExpected(bench.resolve(s"expected/$w.json")), o.seed)
      case w => sys.error(s"unknown workload $w")
    }

    // set-up: session start, then the inputs (and warehouse history)
    // SetupReps times, of which the median counts, then the warm-up
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    var t = System.nanoTime()
    val spark = session(work)
    val sessionStart = secs(t)
    val builds = mutable.ArrayBuffer[Double]()
    var wl: Workload = null
    // a traced run reports no setup_s, so it builds its inputs once
    for (rep <- 1 to (if (o.trace) 1 else SetupReps)) {
      if (wl != null) wl.discard()
      t = System.nanoTime()
      wl = make(spark, rep)
      builds += secs(t)
    }
    t = System.nanoTime()
    wl.warmUp()
    val warmUp = secs(t)
    val setupS = sessionStart + median(builds.toSeq) + warmUp

    tracer.install(spark)
    tracer.startRecording()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // the share of the machine's CPU time the host took for others while
    // measuring: it slows every timing, so the report shows it
    val stat0 = cpuStat()
    while (wl.cyclesDone < MinCycles || elapsed < o.seconds ||
      (o.trace && wl.cyclesDone % wl.blockSize != 0)) wl.runOne()
    val measured = elapsed
    val stolen = cpuStat().zip(stat0).map { case (a, b) => a - b }
    tracer.drain()
    tracer.stopRecording()
    wl.check()

    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    val timings = wl.samples.toSeq
    e2e("cycle_s") = median(wl.samples("cycle_s").toSeq) -> "s"
    e2e("setup_s") = setupS -> "s"
    e2e("peak_rss_mb") = peakRssMb() -> "MB"
    val failRatio = wl.failed.toDouble / math.max(1, wl.attempted)
    e2e("ok_ratio") = (1.0 - failRatio) -> "ratio"

    // human-readable report: every metric with its unit and sample count
    println(f"[perfbench] workload=${o.workload} seed=${o.seed} trace=${o.trace} " +
      f"cycles=${wl.cyclesDone} measured=${measured}%.1fs " +
      f"host_steal=${100.0 * stolen.lift(7).getOrElse(0L) / math.max(1L, stolen.sum)}%.1f%%")
    timings.foreach { case (k, xs) =>
      val t = tail(xs.toSeq).fold("")(p => f" p${p._1}=${p._2}%.4f")
      println(f"[perfbench]   $k%-18s median=${median(xs.toSeq)}%.4f s n=${xs.size}$t " +
        xs.map(x => f"$x%.3f").mkString("[", " ", "]"))
    }
    println(f"[perfbench]   setup_s            $setupS%.4f s = session $sessionStart%.3f + " +
      f"inputs median ${median(builds.toSeq)}%.3f (n=${builds.size} " +
      builds.map(x => f"$x%.3f").mkString("[", " ", "]") + f") + warm-up $warmUp%.3f")
    println(f"[perfbench]   peak_rss_mb        ${e2e("peak_rss_mb")._1}%.1f MB")
    println(f"[perfbench]   fail_ratio         $failRatio%.4f (${wl.failed}/${wl.attempted})")
    wl match {
      case q: Queries => q.perQuery.toSeq.sortBy(_._1).foreach { case (n, xs) =>
        println(f"[perfbench]     $n%-32s median=${median(xs.toSeq)}%.4f s n=${xs.size} " +
          f"rows=${q.rowsOut.getOrElse(n, 0L)}")
      }
      case _ => ()
    }
    wl.failures.take(20).foreach(f => println(s"[perfbench]   FAILED $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e.toSeq.map { case (k, (v, u)) => (k, v, u) }
      else {
        val report = tracer.report(new Modules(src))
        val tracePath = o.root.resolve(s".perfbench_work/traces/${o.workload}-${o.seed}.jsonl")
        report.write(tracePath)
        println(s"[perfbench]   spans and jobs written to $tracePath")
        report.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
          println(f"[perfbench]   span $n%-40s n=${ss.size}%3d self=${ss.map(report.selfMs).sum}%10.1f ms")
        }
        val layer = Layers.metrics(wl, report, failRatio)
        layer.foreach { case (k, v, u) => println(f"[perfbench]   $k%-44s $v%.4f $u") }
        layer
      }

    spark.stop()

    val body = metrics.map { case (k, v, u) =>
      "\"" + k + "\": {\"value\": " + (if (v.isNaN || v.isInfinite) "null" else v.toString) +
        ", \"unit\": \"" + u + "\"}"
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${wl.failed == 0}, "attempted": ${wl.attempted}, """ +
      s""""failed": ${wl.failed}, "metrics": $body}""")
    System.out.flush()
    sys.exit(0)
  }
}
