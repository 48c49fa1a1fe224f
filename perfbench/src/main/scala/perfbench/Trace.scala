package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: name, start, end and parent (-1 = top level). Times are epoch ms
  * with sub-millisecond precision, comparable with listener event times. */
final case class Span(id: Int, name: String, parent: Int, start: Double, var end: Double)

/** `site` is the short call site of the job, or of the SQL execution that
  * ran it: jobs of adaptive query stages start on other threads, whose own
  * call site names no program file. */
final case class JobStart(id: Int, time: Long, stageIds: Seq[Int], site: String)

final case class TaskEnd(stageId: Int, runMs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, input: Long)

/** Per-layer tracing from outside the program: one `SparkListener`, one
  * `QueryExecutionListener` and client-thread spans, all registered by the
  * benchmark. Listener callbacks only append raw events to queues; every
  * attribution (job -> innermost open span, job -> graft module by call site,
  * task -> job) happens after the run, in [[Report]].
  *
  * A disabled tracer, or one not yet recording, records nothing; its spans
  * are plain calls. */
final class Tracer(val enabled: Boolean) {

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  @volatile private var recording = false

  private val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  private val planning = new ConcurrentLinkedQueue[Double]()
  private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  def startRecording(): Unit = recording = enabled
  def stopRecording(): Unit = recording = false

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), nowMs, Double.NaN)
      spans += s
      open = s.id :: open
      try body
      finally { s.end = nowMs; open = open.tail }
    }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if recording =>
        executionSites.put(x.executionId, x.description)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(x => Option(executionSites.get(x.toLong)))
        .orElse(prop("callSite.short"))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("")
      jobStarts.add(JobStart(e.jobId, e.time, e.stageIds, site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (recording) jobEnds.add(e.jobId -> e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskEnd(e.stageId, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
      }
  }

  /** Analysis + optimization + planning time of every executed query. */
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      if (recording) planning.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Listener events arrive asynchronously: wait until every started job has
    * ended and the queues have been quiet for a moment. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 20000L
    var last = -1
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = jobStarts.size + jobEnds.size + tasks.size + planning.size
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      if (jobStarts.size == jobEnds.size && System.currentTimeMillis() - quietSince > 400) return
      Thread.sleep(50)
    }
  }

  def report(modules: Modules): Report = new Report(spans.toSeq,
    jobStarts.asScala.toSeq.sortBy(_.id), jobEnds.asScala.toMap, tasks.asScala.toSeq,
    planning.asScala.sum, modules)
}

/** The recorded run, attributed. */
final class Report(val spans: Seq[Span], val starts: Seq[JobStart], ends: Map[Int, Long],
                   tasks: Seq[TaskEnd], val planningMs: Double, modules: Modules) {

  private val byId = spans.map(s => s.id -> s).toMap
  private val stageJob = starts.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
  private val startTime = starts.map(j => j.id -> j.time).toMap
  private val taskByJob = tasks.groupBy(t => stageJob.getOrElse(t.stageId, -1))

  val top: Seq[Span] = spans.filter(_.parent < 0)

  /** Innermost span open when the job started (one client thread, so spans
    * never overlap). */
  val jobSpan: Map[Int, Option[Span]] = starts.map { j =>
    j.id -> spans.filter(s => s.start <= j.time && j.time <= s.end).sortBy(-_.start).headOption
  }.toMap
  val jobModule: Map[Int, String] = starts.map(j => j.id -> modules.of(j.site)).toMap

  def jobMs(id: Int): Double =
    ends.get(id).map(e => (e - startTime(id)).toDouble).getOrElse(0.0)

  def within(s: Span, anc: Span): Boolean =
    s.id == anc.id || (s.parent >= 0 && within(byId(s.parent), anc))

  /** Jobs started under `s` or one of its descendants. */
  def jobsUnder(s: Span): Seq[JobStart] = starts.filter(j => jobSpan(j.id).exists(within(_, s)))

  def jobsOf(module: String): Seq[JobStart] = starts.filter(j => jobModule(j.id) == module)

  def taskSum(js: Seq[JobStart], f: TaskEnd => Long): Double =
    js.flatMap(j => taskByJob.getOrElse(j.id, Nil)).map(f).sum.toDouble

  /** A span's duration minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    (s.end - s.start) - spans.filter(_.parent == s.id).map(c => c.end - c.start).sum

  /** Span time during which no Spark job was running. */
  def gapMs(s: Span): Double = {
    val iv = starts.flatMap { j =>
      ends.get(j.id).map(e => (math.max(j.time.toDouble, s.start), math.min(e.toDouble, s.end)))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur = Option.empty[(Double, Double)]
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some(ca -> math.max(cb, b))
        case Some((ca, cb)) => covered += cb - ca; cur = Some(a -> b)
        case None => cur = Some(a -> b)
      }
    }
    cur.foreach { case (ca, cb) => covered += cb - ca }
    (s.end - s.start) - covered
  }

  /** Every span (name, start, end, parent, self time, jobs) and every job
    * (span, module, call site, wall ms), as JSON lines. */
  def write(path: Path): Unit = {
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val jobsBySpan = starts.groupBy(j => jobSpan(j.id).map(_.id).getOrElse(-1))
    val lines = spans.map { s =>
      f"""{"span": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, """ +
        f""""start_ms": ${s.start}%.3f, "end_ms": ${s.end}%.3f, "self_ms": ${selfMs(s)}%.3f, """ +
        s""""jobs": ${jobsBySpan.getOrElse(s.id, Nil).size}}"""
    } ++ starts.map { j =>
      s"""{"job": ${j.id}, "span": ${jobSpan(j.id).map(_.id).getOrElse(-1)}, """ +
        s""""module": ${str(jobModule(j.id))}, "site": ${str(j.site)}, "ms": ${jobMs(j.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Maps a Spark call site (`"save at MikeCsv.scala:55"`) to a graft module
  * (`io.MikeCsv`), from the program's source tree: a file under
  * `graft/<layer>/` is `<layer>.<File>`, and `graft/SparkEntry.scala` is the
  * `queries` layer. Call sites in the benchmark's own files map to `bench`,
  * anything else to `spark`. */
final class Modules(srcRoot: Path) {
  private val byFile: Map[String, String] = {
    val st = Files.walk(srcRoot)
    val files = try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
    files.map { p =>
      val rel = srcRoot.relativize(p).iterator().asScala.map(_.toString).toList
      val base = rel.last.stripSuffix(".scala")
      val module = rel.init match {
        case Nil if base == "SparkEntry" => "queries"
        case Nil => s"graft.$base"
        case dirs => s"${dirs.mkString(".")}.$base"
      }
      rel.last -> module
    }.toMap
  }
  private val Site = """.* at ([A-Za-z0-9_$]+\.scala):\d+.*""".r
  private val benchFiles = Set("Main.scala", "MikeTick.scala", "Queries.scala")

  def of(site: String): String = site match {
    case Site(file) => byFile.getOrElse(file, if (benchFiles(file)) "bench" else "spark")
    case _ => "spark"
  }
}
