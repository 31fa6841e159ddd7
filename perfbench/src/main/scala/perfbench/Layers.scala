package perfbench

/** The per-layer metrics every traced run reports, by name and unit.
  * A workload that does not exercise a layer reports 0 for it. */
object Layers {
  val DailyStages: Seq[String] = Seq("occurrence", "retention", "active_users",
    "feature_active_users", "sessions", "user_rfe", "feature_roi", "user_channels", "revenue")

  val Catalog: Seq[(String, String)] =
    DailyStages.map(s => s"pipelines.daily.${s}_s" -> "s") ++ Seq(
      "pipelines.absorb_daily_s" -> "s",
      "pipelines.nightly_s" -> "s",
      "pipelines.lookup_p50_ms" -> "ms",
      "pipelines.job_s" -> "s",
      "operators.job_s" -> "s",
      "queries.job_s" -> "s",
      "functions.job_s" -> "s",
      "sources.job_s" -> "s",
      "sources.events_scan_s" -> "s",
      "sources.read_amp" -> "ratio",
      "sources.compact_bytes_rewritten" -> "bytes",
      "sources.chain_len_max" -> "count",
      "sources.lookup_files_touched" -> "count",
      "sources.write_amp" -> "ratio",
      "sources.files_written" -> "count",
      "sources.base_commit_s" -> "s",
      "sources.snapshot_read_ms" -> "ms",
      "dedup.job_s" -> "s",
      "dedup.lsh_build_s" -> "s",
      "dedup.planted_recall" -> "ratio",
      "dedup.fresh_drop_frac" -> "ratio",
      "similarity.job_s" -> "s",
      "similarity.vector_build_s" -> "s",
      "similarity.ann_p50_ms" -> "ms",
      "similarity.recall_at_10" -> "ratio",
      "engine.jobs" -> "count",
      "engine.tasks" -> "count",
      "engine.shuffle_write_mb" -> "MB",
      "engine.spill_mb" -> "MB",
      "engine.gc_s" -> "s",
      "engine.executor_cpu_s" -> "s",
      "engine.busy_frac" -> "ratio",
      "engine.driver_gap_s" -> "s",
      "engine.driver_gap_ms" -> "ms",
      "engine.jobs_per_op" -> "count",
      "engine.tasks_per_op" -> "count",
      "engine.sched_wait_ms" -> "ms",
      "trace.overhead_s" -> "s")

  val Modules: Seq[String] = Seq("pipelines", "operators", "queries", "functions",
    "sources", "dedup", "similarity")

  private val unitOf = Catalog.toMap

  /** Per-layer values measured by a traced run; the rest read 0. */
  final class Sheet {
    private val values = scala.collection.mutable.Map.empty[String, Double]
    def update(name: String, v: Double): Unit = {
      require(unitOf.contains(name), s"unknown per-layer metric $name")
      values(name) = v
    }
    def emit(ctx: Ctx): Unit =
      Catalog.foreach { case (n, u) => ctx.metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Engine counters of the traced cycles (each a `bench.cycle` span
    * whose children are the workload's ops), as per-cycle and per-op
    * means, plus each module's job time per cycle by call site. */
  def engine(ctx: Ctx, sheet: Sheet): Unit = {
    ctx.drainListener()
    val cycles = ctx.tracer.named("bench.cycle")
    if (cycles.isEmpty) return
    val all = ctx.tracer.spans.toArray(Array.empty[Span]).toSeq
    val perCycle = cycles.map(c => c -> ctx.folder.totals(ctx.tracer.subtree(c)))
    def perC(f: EngineTotals => Double): Double = Stats.mean(perCycle.map(p => f(p._2)))
    sheet("engine.jobs") = perC(_.jobs.toDouble)
    sheet("engine.tasks") = perC(_.tasks.toDouble)
    sheet("engine.shuffle_write_mb") = perC(_.shuffleWriteBytes / 1e6)
    sheet("engine.spill_mb") = perC(_.spillBytes / 1e6)
    sheet("engine.gc_s") = perC(_.gcMs / 1e3)
    sheet("engine.executor_cpu_s") = perC(_.cpuNs / 1e9)
    sheet("engine.busy_frac") = Stats.mean(perCycle.map { case (c, t) =>
      t.taskMs.toDouble / (math.max(1L, c.endMs - c.startMs) * ctx.cores) })
    sheet("engine.driver_gap_s") = Stats.mean(perCycle.map { case (c, t) =>
      JobFolder.gapMs(c.startMs, c.endMs, t.jobIntervals) / 1e3 })
    val sched = perCycle.flatMap(_._2.schedWaitMs).map(_.toDouble)
    sheet("engine.sched_wait_ms") = Stats.mean(sched)
    Modules.foreach { m =>
      sheet(s"$m.job_s") = perC(_.jobMsByModule.getOrElse(m, 0L) / 1e3)
    }
    val cycleIds = cycles.map(_.id).toSet
    val ops = all.filter(s => cycleIds(s.parent))
    val perOp = ops.map(o => o -> ctx.folder.totals(ctx.tracer.subtree(o)))
    sheet("engine.jobs_per_op") = Stats.mean(perOp.map(_._2.jobs.toDouble))
    sheet("engine.tasks_per_op") = Stats.mean(perOp.map(_._2.tasks.toDouble))
    sheet("engine.driver_gap_ms") = Stats.mean(perOp.map { case (o, t) =>
      JobFolder.gapMs(o.startMs, o.endMs, t.jobIntervals).toDouble })
  }

  /** Median duration of the spans called `name`. */
  def spanMedian(ctx: Ctx, name: String): Double =
    Stats.median(ctx.tracer.named(name).map(_.seconds))
}
