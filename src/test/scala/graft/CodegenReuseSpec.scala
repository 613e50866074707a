package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.{sf, spark}

/** A warm query compiles nothing: its generated classes are still in
  * Spark's JVM-wide class cache (sized in `Sessions`), and the Java source
  * it generates is the same on every call. Compiles are counted through
  * Spark's own `CodegenMetrics`, which counts Janino compilations, that
  * is, cache misses. */
class CodegenReuseSpec extends AnyFunSuite {

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Classes compiled while `body` runs. */
  private def compilesIn(body: => Unit): Long = {
    val c0 = compiled
    body
    compiled - c0
  }

  test("a projection compiled 150 distinct projections ago is still cached") {
    // the offset is an int literal, inlined into the generated source, so
    // each projection is a class of its own: 150 classes overflow a
    // 100-entry cache, whose LRU order evicts the first one
    def projection(i: Int): DataFrame =
      spark.range(4).select((col("id") * 7 + lit(1000 + i)).as("v"))
    val fresh = (0 until 150).map(i => compilesIn(run(projection(i))))
    assert(fresh.sum >= 150L, s"each projection compiles a class: $fresh")
    assert(compilesIn(run(projection(0))) === 0L)
  }

  test("ddl_rollback compiles nothing on its second call") {
    val q = SparkEntry.queries("ddl_rollback")
    run(q(spark, sf))
    // the rollback commits at wall-clock time; its changelog read must
    // not carry that timestamp into the generated source
    assert(compilesIn(run(q(spark, sf))) === 0L)
  }

  test("ddl_topk_pruning and agg_hll_sketch compile nothing after their first call") {
    for (name <- Seq("ddl_topk_pruning", "agg_hll_sketch")) {
      val q = SparkEntry.queries(name)
      run(q(spark, sf))
      // a codegen'd bare LIMIT's counter field and AQE's stage numbering
      // vary between calls; AQE's order is racy, so three calls give it
      // room to show
      val again = (1 to 3).map(_ => compilesIn(run(q(spark, sf))))
      assert(again === Seq(0L, 0L, 0L), name)
    }
  }
}
