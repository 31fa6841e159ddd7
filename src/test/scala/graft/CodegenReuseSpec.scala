package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.DailyPipeline

/** The daily DAG runs the same plans every day, so a second run in one
  * process must find its generated classes in the codegen cache
  * instead of compiling them again with Janino. A cache smaller than
  * one run (Spark's default holds 100 classes, a run needs more), swept
  * in the same order each run, never hits. */
class CodegenReuseSpec extends AnyFunSuite {
  import TestSpark._

  /** Janino compilations (cache misses) while `body` runs. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Empties the JVM-wide codegen cache: earlier suites in this JVM may
    * have compiled these plans already, and the first run's count must
    * be a cold run's. The session must exist first: the cache takes its
    * size from the active session's conf when CodeGenerator loads. */
  private def clearCodegenCache(): Unit = {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    val cacheGetter = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheGetter.setAccessible(true)
    val cache = cacheGetter.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  test("a second daily DAG run reuses the first run's generated code") {
    def runDag(): Unit = DailyPipeline.run(spark, sf).named.foreach(_._2.collect())
    clearCodegenCache()
    val first = compiles(runDag())
    val second = compiles(runDag())
    info(s"first run compiled $first classes, second $second")
    assert(second * 4 < first, s"first run compiled $first classes, second $second")
  }
}
