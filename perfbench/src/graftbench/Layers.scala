package graftbench

/** Per-layer metrics of the traced phase, each per operation unless its
  * name says otherwise.
  */
object Layers {
  private val MB = 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  def apply(tr: Tracer, ops: Set[Int], untraced: Seq[Double],
            traced: Seq[Double], keys: Seq[String], storedMb: Seq[Double],
            pending: Seq[Int], cores: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val spans = tr.spans.filter(s => ops(s.op))
    def spanS(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
    val tasks = tr.tasks.filter(t => ops(t.op))
    val jobs = tr.jobs.filter(j => ops(j.op))
    val qes = tr.qes.filter(q => ops(q.op))
    val wall = traced.sum

    // first occurrence vs repeats of each key, and whether a repeat ran
    // fewer jobs than the first occurrence (its memo was used)
    val jobsPerOp = jobs.groupBy(_.op).map { case (op, js) => op -> js.size }
    val opIds = ops.toSeq.sorted
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    val first = Seq.newBuilder[Double]
    val repeat = Seq.newBuilder[Double]
    var repeats, hits = 0
    opIds.zip(keys).zip(traced).foreach { case ((op, key), lat) =>
      seen.get(key) match {
        case None => seen(key) = jobsPerOp.getOrElse(op, 0); first += lat
        case Some(firstJobs) =>
          repeat += lat
          repeats += 1
          if (jobsPerOp.getOrElse(op, 0) < firstJobs) hits += 1
      }
    }

    Map(
      "sources.scan_s" -> qes.map(_.scanMs).sum / 1000 / n,
      "sources.sink_s" -> qes.filter(_.fileWrite).map(_.durNs).sum / 1e9 / n,
      "sources.written_mb" -> tasks.map(_.written).sum / MB / n,
      "queries.construct_s" -> spanS("construct"),
      "queries.action_s" -> spanS("action"),
      "queries.eager_jobs" -> jobs.count(_.span == "construct") / n,
      "queries.first_p50_s" -> median(first.result()),
      "queries.repeat_p50_s" -> median(repeat.result()),
      "queries.memo_hit_frac" -> (if (repeats == 0) 0.0 else hits.toDouble / repeats),
      "cache.release_s" -> spanS("cache.release"),
      "cache.pending_at_release" -> pending.sum.toDouble / n,
      "cache.storage_peak_mb" -> (if (storedMb.isEmpty) 0.0 else storedMb.max),
      "plans.analysis_ms" -> qes.map(_.analysisMs).sum / n,
      "plans.optimization_ms" -> qes.map(_.optimizationMs).sum / n,
      "plans.planning_ms" -> qes.map(_.planningMs).sum / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> tr.stagesDone.count(ops) / n,
      "spark.tasks" -> tasks.size / n,
      "spark.tasks_failed" -> tasks.count(_.failed) / n,
      "spark.scheduler_delay_s" -> tasks.map(_.schedDelayMs).sum / 1000.0 / n,
      "spark.deserialize_s" -> tasks.map(_.deserMs).sum / 1000.0 / n,
      "spark.task_run_s" -> tasks.map(_.runMs).sum / 1000.0 / n,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "spark.task_occupancy" -> tasks.map(_.runMs).sum / 1000.0 / (wall * cores),
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB / n,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / MB / n,
      "spark.spill_mb" -> tasks.map(_.spill).sum / MB / n,
      "streaming.triggers" -> tr.triggers.count(t => ops(t.op)) / n,
      "trace.overhead_frac" -> (wall / untraced.sum - 1))
  }

  /** Layer numbers of the breakdown and the streams: the self time of each
    * stage span (ops.*, ml.*), the jobs the LDA fit ran, the breakdown's
    * row counts, and the trigger figures of the streams that ran.
    */
  def stages(tr: Tracer, wl: Workload): Map[String, Double] = {
    val self = tr.selfNs
    val stageSpans = tr.spans.filter(s => s.name.startsWith("ops.") || s.name.startsWith("ml."))
    val byName = stageSpans.groupBy(_.name).map { case (name, ss) =>
      s"${name}_s" -> ss.map(s => self(s.id)).sum / 1e9
    }
    val fitJobs = tr.jobs.count(_.span == "ml.fit").toDouble
    val trig = tr.triggers.toSeq
    byName ++ wl.extraLayers ++ Map("ml.fit_jobs" -> fitJobs) ++ (
      if (trig.isEmpty) Map.empty
      else Map(
        "streaming.trigger_p50_ms" -> median(trig.map(_.durMs.toDouble)),
        "streaming.state_commit_ms" -> median(trig.map(_.commitMs.toDouble))))
  }

  /** Per operation key of the traced phase: how many operations, and the
    * median construct (eager work while the DataFrame is built) and action
    * seconds and jobs.
    */
  def byKey(tr: Tracer, ops: Set[Int], keys: Seq[String]): Map[String, Map[String, Double]] = {
    val keyOf = ops.toSeq.sorted.zip(keys).toMap
    val spans = tr.spans.filter(s => ops(s.op))
    val jobs = tr.jobs.filter(j => ops(j.op)).groupBy(_.op).map { case (op, js) => op -> js.size }
    keyOf.groupBy(_._2).map { case (key, entries) =>
      val opIds = entries.keys.toSet
      def med(name: String) =
        median(spans.filter(s => opIds(s.op) && s.name == name).map(_.durNs / 1e9).toSeq)
      key -> Map("n" -> opIds.size.toDouble, "construct_s" -> med("construct"),
        "action_s" -> med("action"),
        "jobs" -> median(opIds.toSeq.map(op => jobs.getOrElse(op, 0).toDouble)))
    }
  }
}
