package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst probe must census the plan that ran. Under AQE the noop
  * write executes its own QueryExecution; `df.queryExecution.executedPlan`
  * is the initial, never-run adaptive plan, which shows two shuffles and
  * no reuse for the self-union below. */
class PlanCensusSpec extends AnyFunSuite {
  test("a listener-captured plan of agg.filter(even) union agg.filter(odd) reports a reused exchange") {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer("census", enabled = false)
      val probes = new Probes(spark, tracer)
      // s is an aggregate, so neither filter can move below the exchange
      val agg = spark.range(0, 100000).selectExpr("id % 100 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      val df = agg.filter("s % 2 = 0").union(agg.filter("s % 2 = 1"))
      df.write.format("noop").mode("overwrite").save()
      val m = probes.snapshot()
      probes.detach()
      assert(m("catalyst.reused_exchanges") >= 1)
      assert(m("catalyst.shuffles") == 1)
      assert(PlanCensus.of(df.queryExecution.executedPlan).reused == 0)
    } finally spark.stop()
  }
}
