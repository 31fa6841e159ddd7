package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload against the program's
  * public entry points and writes the measured result as JSON.
  *
  * {{{
  * perfbench.Main --workload <daily_dag|curation_week>
  *   --data <generated input dir> --work <scratch dir> --out <result.json>
  *   --spans <spans.jsonl> --seed <n> --seconds <s> --trace <0|1> --cores <n>
  * }}}
  *
  * `perfbench/run.py` generates the inputs, builds this package and
  * checks the daily DAG's outputs against the DuckDB oracle. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    ctx.phase("start")
    args("workload") match {
      case "daily_dag"     => DailyDag.run(ctx)
      case "curation_week" => CurationWeek.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.finish()
  }
}

/** Run state shared by the workloads: the session, the tracer, op
  * accounting, and the metrics the run reports. */
final class Ctx(args: Map[String, String]) {
  val data: String = args("data")
  val work: String = args("work")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val cores: Int = args("cores").toInt
  val master = s"local[$cores]"
  val tracer = new Tracer
  val folder = new JobFolder
  private var session: SparkSession = _

  private var attempted, failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val extras = mutable.LinkedHashMap.empty[String, String]

  def spark: SparkSession = session

  /** Start (or restart) the engine the way the program configures it:
    * `GraftSession.builder` with only the master chosen here. */
  def startSession(): Unit = {
    phase("session")
    if (session != null) session.stop()
    session = graft.GraftSession.builder(master).getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    tracer.sc = session.sparkContext
    if (traced) session.sparkContext.addSparkListener(folder)
  }

  /** One operation: counted as attempted, and as failed when it throws
    * or its check returns a message. */
  def op(what: String)(body: => Option[String]): Unit = {
    synchronized { attempted += 1 }
    val problem =
      try body
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    problem.foreach { p =>
      synchronized {
        failed += 1
        if (failures.size < 20) failures += s"$what: ${p.take(300)}"
      }
    }
  }

  /** Runs `body` on cycles 0, 1, ...: first `warmup` untimed cycles,
    * then timed cycles until `seconds` have passed since the first timed
    * one, at least one and `maxCycles` cycles in all at most. Every
    * cycle's ops are counted and checked; only timed cycles are
    * measured. A traced run alternates untraced and traced timed cycles,
    * starting untraced, and times at least three, so the tracing
    * overhead compares a traced cycle with the untraced ones on either
    * side of it and the cycles' warming trend cancels. */
  def cycles[T](warmup: Int, maxCycles: Int = Int.MaxValue)(body: Int => T): Seq[Cycle[T]] = {
    val out = mutable.ArrayBuffer.empty[Cycle[T]]
    val atLeast = if (traced) 3 else 1
    var t0 = System.nanoTime()
    def timed = out.count(!_.warmup)
    while (out.size < maxCycles && (out.size < warmup || timed < atLeast || Stats.since(t0) < seconds)) {
      val c = out.size
      val warm = c < warmup
      if (c == warmup) t0 = System.nanoTime()
      tracer.on = traced && !warm && (c - warmup) % 2 == 1
      val tc = System.nanoTime()
      phase(s"cycle $c${if (warm) " (warm-up)" else ""}")
      val r = tracer.call("bench.cycle", request = false)(body(c))._1
      out += Cycle(c, Stats.since(tc), warm, tracer.on, r)
    }
    tracer.on = false
    out.toSeq
  }

  /** Median traced timed cycle minus median untraced timed cycle. */
  def tracingOverhead(done: Seq[Cycle[_]]): Double =
    Stats.median(done.filter(_.traced).map(_.seconds)) -
      Stats.median(done.filter(c => !c.traced && !c.warmup).map(_.seconds))

  /** Progress line in the run's log, with seconds since the process started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.1f s $what")

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def extra(name: String, json: String): Unit = extras(name) = json

  /** Wait until the listener has seen every event posted so far. */
  def drainListener(): Unit = org.apache.spark.PerfbenchBus.drain(session.sparkContext)

  def inputBytes(names: String*): Long =
    names.map(n => Files.size(Paths.get(s"$data/$n"))).sum

  def finish(): Unit = {
    phase("measured")
    metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    val env = Json.obj(
      "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
      "master" -> Json.str(master),
      "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filter(a => a.startsWith("-Xm")).map(Json.str)),
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(session.version),
      "spark_local_dir" -> Json.str(session.conf.get("spark.local.dir")),
      "shuffle_partitions" -> Json.str(session.conf.get("spark.sql.shuffle.partitions")),
      "seed" -> Json.num(seed.toDouble), "seconds" -> Json.num(seconds),
      "trace" -> Json.num(if (traced) 1 else 0))
    if (traced) {
      drainListener()
      val lines = tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
        Json.obj("id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
          "op" -> Json.num(s.op.toDouble), "name" -> Json.str(s.name),
          "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble),
          "seconds" -> Json.num(s.seconds))
      }
      Files.write(Paths.get(args("spans")), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    val out = Json.obj(Seq(
      "env" -> env,
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)) ++ extras.toSeq: _*)
    Files.write(Paths.get(args("out")), out.getBytes(StandardCharsets.UTF_8))
    session.stop()
  }
}

final case class Cycle[T](index: Int, seconds: Double, warmup: Boolean, traced: Boolean, result: T) {
  /** Timed and untraced: the cycles the end-to-end metrics are read off. */
  def measured: Boolean = !warmup && !traced
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Seconds since `t0` (a nanoTime). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Total bytes of the regular files under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Number of parquet data files under `dir`. */
  def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
