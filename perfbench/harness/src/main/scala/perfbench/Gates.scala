package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed loop, one client: the gates run one at a time over the
  * generated tables, each as the builder call (`queries.build`, which
  * includes any eager loop or stream work) and then the execution of the
  * returned frame (`queries.exec`) into Spark's `noop` sink. The sink
  * materializes every row and column and writes nothing; `count()` would
  * let the optimizer drop the final sort and any column the count does
  * not need.
  */
object Gates {

  def run(
      spark: SparkSession,
      order: Seq[String],
      seconds: Double,
      dataDir: String,
      work: String,
      res: mutable.Map[String, Any],
      timed: Timed): Unit = {
    val sc = spark.sparkContext
    val builders = SparkEntry.queries
    res("order") = order

    def one(name: String): Map[String, Any] = {
      val t0 = System.nanoTime()
      var t1 = t0
      val error =
        try Tracer.span(s"gate.$name", sc, root = true) {
          val df = Tracer.span("queries.build", sc)(builders(name)(spark, dataDir))
          t1 = System.nanoTime()
          Tracer.span("queries.exec", sc)(df.write.format("noop").mode("overwrite").save())
          None
        } catch { case scala.util.control.NonFatal(e) => Some(Ops.error(e)) }
      val t2 = System.nanoTime()
      Ops.clearCaches(spark)
      Map("name" -> name, "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "error" -> error)
    }

    // the warm-up pass executes each gate once and writes its output for
    // the oracle compare run.py makes, coalesced to one ordered file like
    // graft.Verify's dump; the timed passes then execute the same plans
    val warm = order.map { name =>
      val t0 = System.nanoTime()
      val err =
        try {
          builders(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$work/gates_out/$name")
          None
        } catch { case scala.util.control.NonFatal(e) => Some(Ops.error(e)) }
        finally Ops.clearCaches(spark)
      Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
    }
    res("warmup") = warm

    timed.begin()
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    do passes += order.map(one)
    while ((System.nanoTime() - start) / 1e9 < seconds)
    timed.end()
    res("passes") = passes

    val oracle = SparkEntry.oracleSql
    res("oracle_sql") = order.flatMap(n => oracle.get(n).map(n -> _)).toMap
  }
}
