package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, SaveMode}

import graft.pipelines.DailyPipeline
import graft.sources.Tables

/** `daily_dag`: the reference's daily BI run. One cycle opens the day
  * (`DailyPipeline.run` builds the nine lazy outputs) and writes every
  * output as parquet, one op per output table. The outputs are checked
  * against the DuckDB oracle by run.py after the run. */
object DailyDag {
  /** The oracle query the repository carries for each output. */
  val OracleOf: Map[String, String] = Map(
    "occurrence" -> "q_user_occurrence", "retention" -> "q_cohort_retained",
    "active_users" -> "q_active_user_count", "feature_active_users" -> "q_feature_active_users",
    "sessions" -> "q_sessionize", "user_rfe" -> "q_user_rfe", "feature_roi" -> "q_feature_roi",
    "user_channels" -> "q_user_channels", "revenue" -> "q_revenue_join")

  /** Outputs built by the operators layer; the rest come from queries. */
  private val OperatorStages = Set("occurrence", "retention", "active_users",
    "feature_active_users", "sessions")

  private val WarmupCycles = 1

  /** Runs `tasks` on `threads` threads; the results in task order. */
  private def inParallel[T](tasks: Seq[() => T], threads: Int): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() })).map(_.get())
    finally pool.shutdown()
  }

  private def frames(o: DailyPipeline.Outputs): Seq[DataFrame] = Seq(o.occurrence, o.retention,
    o.activeUsers, o.featureActiveUsers, o.sessions, o.userRfe, o.featureRoi, o.userChannels,
    o.revenue)

  def run(ctx: Ctx): Unit = {
    val inputs = Seq("events.parquet", "supplier.parquet")
    // each set-up opens the day from its own directory, so no table
    // resolution is shared between set-ups or with the measured cycles
    def dayDir(tag: String): String = {
      val d = Paths.get(s"${ctx.work}/day-$tag")
      Files.createDirectories(d)
      inputs.foreach(n => Files.createSymbolicLink(d.resolve(n), Paths.get(s"${ctx.data}/$n").toAbsolutePath))
      d.toString
    }
    // the first set-up in a process is several times slower than the
    // rest; five keep their median on the warm ones
    val setups = (1 to 5).map { r =>
      val t0 = System.nanoTime()
      ctx.startSession()
      ctx.tracer.call("pipelines.DailyPipeline.run") { DailyPipeline.run(ctx.spark, dayDir(s"setup$r")) }
      Stats.since(t0)
    }
    val dir = dayDir("run")

    def cycle(c: Int): Seq[(String, Double)] = {
      val (outs, tPlan) = ctx.tracer.call("pipelines.DailyPipeline.run") { DailyPipeline.run(ctx.spark, dir) }
      val writes = Layers.DailyStages.zip(frames(outs)).map { case (stage, df) => () =>
        var t = Double.NaN
        ctx.op(s"write $stage") {
          t = ctx.tracer.call(s"pipelines.daily.$stage") {
            df.write.mode(SaveMode.Overwrite).parquet(s"${ctx.work}/out/c$c/$stage")
          }._2
          None
        }
        stage -> t
      }
      // the untimed warm-up cycle is mostly JIT and code generation on
      // the driver; writing three outputs at a time spreads it over the
      // cores and leaves the run's time for timed cycles
      ("plan", tPlan) +: (if (c < WarmupCycles) inParallel(writes, 3) else writes.map(_()))
    }

    // the first DAG run in a process takes about twice as long as the
    // next (class loading, JIT, code generation): it runs untimed
    val done = ctx.cycles(warmup = WarmupCycles)(cycle)
    val measured = done.filter(_.measured)
    val walls = measured.map(_.seconds)
    val stageTimes = measured.flatMap(_.result.filter(_._1 != "plan").map(_._2)).filterNot(_.isNaN)
    val outBytes = Stats.treeBytes(s"${ctx.work}/out/c${done.last.index}")

    ctx.metric("setup_s", Stats.median(setups), "s")
    ctx.metric("wall_s", Stats.median(walls), "s")
    ctx.metric("main_op_p50_ms", Stats.median(walls) * 1e3, "ms")
    ctx.metric("short_op_p50_ms", Stats.quantile(stageTimes, 0.5) * 1e3, "ms")
    ctx.metric("short_op_p90_ms", Stats.quantile(stageTimes, 0.9) * 1e3, "ms")
    ctx.metric("ops_per_s", Layers.DailyStages.size * walls.size / walls.sum, "1/s")
    ctx.metric("stored_bytes_per_input_byte", outBytes.toDouble / ctx.inputBytes(inputs: _*), "ratio")
    ctx.extra("samples", Json.obj("setup_s" -> Json.arr(setups.map(Json.num)),
      "cycle_s" -> Json.arr(walls.map(Json.num)),
      "output_write_ms" -> Json.arr(stageTimes.map(t => Json.num(math.round(t * 1e3).toDouble)))))
    ctx.extra("oracle", Json.obj(Layers.DailyStages.map { s =>
      s -> Json.obj("sql" -> Json.str(graft.SparkEntry.oracleSql(OracleOf(s))),
        // outputs whose write failed are already counted as failed ops
        "outputs" -> Json.arr(done.filter(_.result.toMap.get(s).exists(!_.isNaN))
          .map(d => Json.str(s"${ctx.work}/out/c${d.index}/$s"))))
    }: _*))

    if (ctx.traced) {
      val sheet = new Layers.Sheet
      Layers.DailyStages.foreach(s => sheet(s"pipelines.daily.${s}_s") = Layers.spanMedian(ctx, s"pipelines.daily.$s"))
      ctx.tracer.on = true
      (1 to 3).foreach(_ => ctx.tracer.call("sources.Tables.events") {
        graft.tools.FullEval.run(Tables.events(ctx.spark, dir))
      })
      ctx.tracer.on = false
      sheet("sources.events_scan_s") = Layers.spanMedian(ctx, "sources.Tables.events")
      Layers.engine(ctx, sheet)
      val tracedCycles = ctx.tracer.named("bench.cycle")
      val perCycle = tracedCycles.map(c => ctx.folder.totals(ctx.tracer.subtree(c)))
      sheet("sources.read_amp") =
        Stats.mean(perCycle.map(_.inputBytes.toDouble)) / ctx.inputBytes("events.parquet")
      // outputs are written by the benchmark's own call, so their jobs
      // carry no program frame: attribute them by the stage's span
      val stageSpans = tracedCycles.flatMap(c => ctx.tracer.spans.toArray(Array.empty[Span])
        .filter(s => s.parent == c.id && s.name.startsWith("pipelines.daily.")))
      def jobS(stages: Seq[Span]): Double =
        stages.map(s => ctx.folder.totals(ctx.tracer.subtree(s)).jobIntervals
          .map { case (a, b) => b - a }.sum).sum / 1e3 / math.max(1, tracedCycles.size)
      val (ops, qs) = stageSpans.partition(s => OperatorStages(s.name.stripPrefix("pipelines.daily.")))
      sheet("operators.job_s") = jobS(ops)
      sheet("queries.job_s") = jobS(qs)
      sheet("trace.overhead_s") = ctx.tracingOverhead(done)
      sheet.emit(ctx)
    }
  }
}
