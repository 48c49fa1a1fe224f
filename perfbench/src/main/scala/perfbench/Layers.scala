package perfbench

/** Per-layer metrics of a traced run, each normalised per measured cycle
  * (mike_tick: one input tick + one extract; query workloads: one pass)
  * unless its name says otherwise. Every workload prints the full list;
  * a layer a workload does not reach reads 0. */
object Layers {

  /** Modules that run Spark jobs of their own in some workload. GeoOps and
    * Similarity only build plans here: their work runs in their callers'
    * jobs, so call-site attribution can never give them one. */
  val OpsModules = Seq("TimeSeriesOps")
  val OperatorModules = Seq("Dedup", "Bpe")
  val Generators = Seq("rainfall", "discharge", "tide", "raw_rainfall")
  val QueryNames: Seq[String] = Queries.lists.values.flatten.toSeq.distinct.sorted

  def metrics(wl: Workload, r: Report, failRatio: Double): Seq[(String, Double, String)] = {
    val cycles = math.max(1, wl.cyclesDone).toDouble
    def per(x: Double) = x / cycles
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    def spanMs(name: String) = r.spans.filter(_.name == name).map(s => s.end - s.start).sum
    /** Median jobs per top-level span whose name passes `p`. */
    def spanJobs(p: String => Boolean): Double =
      med(r.top.filter(s => p(s.name)).map(s => r.jobsUnder(s).size.toDouble))

    val out = Seq.newBuilder[(String, Double, String)]
    def add(k: String, v: Double, u: String): Unit = out += ((k, v, u))

    add("spark.jobs", per(r.starts.size), "count")
    add("spark.driver_gap_ms", per(r.top.map(r.gapMs).sum), "ms")
    add("spark.planning_ms", per(r.planningMs), "ms")
    add("spark.task_ms", per(r.taskSum(r.starts, _.runMs)), "ms")
    add("spark.shuffle_read_bytes", per(r.taskSum(r.starts, _.shuffleRead)), "bytes")
    add("spark.shuffle_write_bytes", per(r.taskSum(r.starts, _.shuffleWrite)), "bytes")
    add("spark.spill_bytes", per(r.taskSum(r.starts, _.spill)), "bytes")
    add("spark.input_bytes", per(r.taskSum(r.starts, _.input)), "bytes")
    add("spark.gc_ms", per(r.taskSum(r.starts, _.gcMs)), "ms")

    Generators.foreach(g => add(s"jobs.$g.ms", per(spanMs(s"jobs.$g")), "ms"))
    add("jobs.prep_tick.jobs", spanJobs(_ == "prep_tick"), "count")
    add("jobs.extract.jobs", spanJobs(_.startsWith("extract.")), "count")
    add("jobs.replay.jobs", spanJobs(_.startsWith("replay.")), "count")
    add("io.MikeCsv.jobs", per(r.jobsOf("io.MikeCsv").size), "count")

    val jdbc = r.jobsOf("io.JdbcUpsert")
    add("io.JdbcUpsert.ms", per(jdbc.map(j => r.jobMs(j.id)).sum), "ms")
    add("io.JdbcUpsert.jobs", per(jdbc.size), "count")
    val ups = wl match { case m: MikeTick => m.upserts.toSeq; case _ => Nil }
    add("io.jdbc.rows_upserted", per(ups.map(_._2).sum), "rows")
    add("io.jdbc.rows_inserted", per(ups.map(_._3).sum), "rows")
    def hit(kind: String) = {
      val u = ups.filter(_._1 == kind)
      val n = u.map(_._2).sum
      if (n == 0) 0.0 else (n - u.map(_._3).sum).toDouble / n
    }
    add("io.jdbc.update_hit_ratio_new", hit("extract"), "ratio")
    add("io.jdbc.update_hit_ratio_replay", hit("replay"), "ratio")

    OpsModules.foreach { m =>
      val js = r.jobsOf(s"ops.$m")
      add(s"ops.$m.jobs", per(js.size), "count")
      add(s"ops.$m.task_ms", per(r.taskSum(js, _.runMs)), "ms")
    }
    OperatorModules.foreach { m =>
      val js = r.jobsOf(s"operators.$m")
      add(s"operators.$m.jobs", per(js.size), "count")
      add(s"operators.$m.task_ms", per(r.taskSum(js, _.runMs)), "ms")
    }

    val q = wl match { case q: Queries => Some(q); case _ => None }
    QueryNames.foreach { n =>
      val xs = q.flatMap(_.perQuery.get(n)).map(_.toSeq).getOrElse(Nil)
      add(s"queries.$n.ms", med(xs) * 1000, "ms")
      add(s"queries.$n.rows_out", q.flatMap(_.rowsOut.get(n)).getOrElse(0L).toDouble, "rows")
      add(s"queries.$n.jobs", spanJobs(_ == s"queries.$n"), "count")
    }

    add("pins.persisted_rdds_after", wl.maxPersisted.toDouble, "count")
    add("fail_ratio", failRatio, "ratio")
    // the end-to-end timings as measured in this traced run; against the
    // untraced run on the same seed they give the tracing overhead
    Seq("cycle_s", "prep_tick_s", "extract_tick_s", "extract_replay_s", "pass_s").foreach { k =>
      val xs = wl.samples.get(k).map(_.toSeq).getOrElse(Nil)
      add(s"traced.$k", med(xs), "s")
    }
    out.result()
  }
}
