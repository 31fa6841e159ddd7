package graft

/** CLI entry mirroring the reference's `etl.py` dispatcher
  * (reference etl.py + utils/config.get_arg_parser: --task / --step /
  * --source / --dest args routed to a task main).
  *
  * Usage:
  *   runMain graft.Main --task <queryName|daily|all|backfill|curate|compact> \
  *     [--dir /root/testdata/sf0.01] [--out /tmp/graft_out] \
  *     [--start 2024-01-01 --end 2024-01-04]   (backfill range, half-open)
  *     [--target-mb 128]                        (compact file-size target)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val task = opts.getOrElse("--task", "all")
    val dir  = opts.getOrElse("--dir", "/root/testdata/sf0.001")
    val out  = opts.get("--out")

    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)

    def emit(name: String, df: org.apache.spark.sql.DataFrame): Unit = out match {
      case Some(p) => df.write.mode("overwrite").parquet(s"$p/$name")
      case None    => println(s"$name: ${df.count()} rows")
    }

    task match {
      case "daily" =>
        pipelines.DailyPipeline.run(spark, dir).named.foreach { case (n, df) => emit(n, df) }
      case "backfill" =>
        val start = java.time.LocalDate.parse(opts.getOrElse("--start",
          sys.error("backfill needs --start YYYY-MM-DD")))
        val end = java.time.LocalDate.parse(opts.getOrElse("--end",
          sys.error("backfill needs --end YYYY-MM-DD (exclusive)")))
        val dest = out.getOrElse(sys.error("backfill needs --out"))
        pipelines.Backfill.run(
          sources.Tables.events(spark, dir), "ts", start, end, dest, "staging", "events", "t")
        println(s"backfilled [$start, $end) to $dest")
      case "compact" =>
        val target = opts.getOrElse("--target-mb", "128").toLong * 1024 * 1024
        val path = out.getOrElse(sys.error("compact needs --out <parquet dir>"))
        val (before, after) = sources.Compact.compactDir(spark, path, target)
        println(s"compacted $path: $before files -> $after")
      case "curate" =>
        val dest = out.getOrElse(sys.error("curate needs --out"))
        val r = pipelines.CurationJob.run(sources.Tables.documents(spark, dir), dest)
        println(s"curated: input=${r.input} quality=${r.afterQuality} " +
          s"dedup=${r.afterDedup} mix=${r.afterMix} bins=${r.bins} → $dest")
      case "all" =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) => emit(n, fn(spark, dir)) }
      case name =>
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown task '$name'; valid: daily, all, backfill, curate, compact, ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
        emit(name, fn(spark, dir))
    }
    spark.stop()
  }
}
