package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Mirrors the runtime posture the reference ETL gets from BigQuery
  * implicitly (UTC dates, partition-pruned scans): AQE on for runtime
  * re-planning/skew handling, shuffle partitions sized for the local
  * harness (a real cluster deployment would raise it to ~2-3x cores).
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // runtime skew mitigation: a hot key in a sort-merge join is
      // split into subpartitions instead of stalling one task — the
      // complement of the explicit Skew.saltedJoin for unplanned skew
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which the vectorized
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // generated-code cache (Janino classes keyed by their source
      // text): a warm daily DAG cycle generates 182-187 classes
      // (perfbench daily_dag, local[2]) and Spark keeps 100 by default,
      // so the LRU, swept in the same order every cycle, never hit and
      // each cycle recompiled them all. 2000 holds a DAG cycle and a
      // curation day with room to spare; a warm cycle now compiles
      // 0-14. The cache is one per JVM, sized from the active session's
      // conf when code is first generated — hence a static conf set here,
      // where every session of the program is built.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // shuffle/spill files on tmpfs when available: the default /tmp
      // sits on a virtual disk here, where shuffle-file churn burns
      // multiple CORES of kernel time with run-to-run writeback
      // variance (q_edge_jaccard swung 5.5-44.6 s across identical
      // runs; the wedge stream's shuffle is ~GBs of short-lived
      // files). A cluster deployment sets spark.local.dir to fast
      // local disks — this is the local-mode equivalent.
      .config("spark.local.dir", GraftSession.localDir)

  def get(): SparkSession = builder().getOrCreate()

  /** tmpfs-backed scratch dir when the host can afford one, else the
    * default tmpdir. tmpfs is typically capped at 50% of RAM, so the
    * redirect is gated on actual usable space — a smaller host whose
    * /dev/shm could not absorb a multi-GB shuffle falls back to disk
    * (slower, but it finishes) instead of dying on ENOSPC mid-stage.
    * `SPARK_GRAFT_LOCAL_DIR` overrides both branches. */
  private def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    // 24 GiB ≈ the largest shuffle footprint any gated query reaches
    // at bench scale, with headroom for concurrent sessions
    val minBytes = 24L * 1024 * 1024 * 1024
    if (shm.isDirectory && shm.getUsableSpace >= minBytes)
      "/dev/shm/graft-spark-local"
    else System.getProperty("java.io.tmpdir", "/tmp")
  })
}
