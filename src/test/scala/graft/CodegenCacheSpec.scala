package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-class cache must hold the engine's working set. It is
  * built once per JVM, sized from the conf of the session active at the
  * first codegen; at Spark's default of 100 entries a round-robin working
  * set of more classes than that hits 0% and every round re-compiles.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the shared test session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Graft.CodegenCacheEntries.toString)
  }

  test("150 distinct generated classes stay resident: a second round compiles nothing") {
    spark // the cache is sized from this session's conf
    // a long literal is inlined into the generated source, so each i is a
    // distinct class; the offset keeps them apart from any other spec's
    val units = 150
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until units).foreach { i =>
        GenerateUnsafeProjection.generate(Seq(
          Add(BoundReference(0, LongType, nullable = false), Literal(7919000000L + i))))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles() === units)
    assert(compiles() === 0, "the second round re-compiled evicted classes")
  }
}
