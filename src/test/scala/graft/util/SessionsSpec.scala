package graft.util

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkTestBase

/** The session settings [[Sessions.get]] applies that no gate output
  * shows: they change what the engine costs, not what it returns.
  */
class SessionsSpec extends SparkTestBase {

  test("a replayed plan hits the codegen cache after more than 100 other compiles") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // a literal Spark inlines into the generated source: each multiplier
    // is a distinct source, compiled once when planned and once by the
    // task (two cache entries in local mode)
    def run(i: Int) = spark.range(8).selectExpr(s"id * ${7919 + i}").collect()
    val c0 = compiles
    (1 to 60).foreach(run)
    val c1 = compiles
    assert(c1 - c0 > 100, s"only ${c1 - c0} compiles: the cache was never full at 100")
    assert(run(1).map(_.getLong(0)).toSeq == (0L until 8L).map(_ * 7920))
    assert(compiles == c1, s"the replay compiled ${compiles - c1} classes again")
  }
}
