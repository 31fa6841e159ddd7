package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** What one operation cost the engine: the Spark jobs it submitted and
  * the classes Janino compiled for it (codegen cache misses). */
final case class OpCost(jobs: Int, compiles: Long)

object OpCost {
  import TestSpark.spark

  private val Tag = "graft.test.opcost"
  private val jobsByTag = new ConcurrentHashMap[String, AtomicInteger]()
  private val tags = new AtomicInteger

  /** Counts job starts by the tag their submitting thread carried;
    * local properties pass to child threads, so jobs from a pool the
    * operation starts count too. */
  private lazy val listener: Unit = spark.sparkContext.addSparkListener(
    new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
          .foreach(t => jobsByTag.computeIfAbsent(t, _ => new AtomicInteger).incrementAndGet())
    })

  /** Runs `body` and returns its result with its cost. Compiles are
    * counted JVM-wide, so nothing else may generate code meanwhile. */
  def of[T](body: => T): (T, OpCost) = {
    listener
    val sc = spark.sparkContext
    val tag = s"op-${tags.incrementAndGet()}"
    val outer = sc.getLocalProperty(Tag)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setLocalProperty(Tag, tag)
    val out = try body finally sc.setLocalProperty(Tag, outer)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    ListenerDrain(sc)
    val jobs = Option(jobsByTag.remove(tag)).fold(0)(_.get)
    (out, OpCost(jobs, compiles))
  }
}
