package graft.plans

import graft.SparkSuite
import graft.plans.GroupCepPlan.GLeafSpec
import org.apache.spark.GraftContextShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The `spark.sql.extensions` entry point for spark-submit deployments:
  * a session built with `spark.sql.extensions=graft.plans.CepExtensions`
  * plans the CEP operator with no `register` call. */
class CepExtensionsSpec extends SparkSuite {

  test("spark.sql.extensions=graft.plans.CepExtensions plans GroupCepExec") {
    val ext =
      try GraftContextShim.sessionWithConf(spark.sparkContext,
        "spark.sql.extensions", classOf[CepExtensions].getName)
      finally {
        // building a session makes it the active and default one
        SparkSession.setActiveSession(spark)
        SparkSession.setDefaultSession(spark)
      }
    import ext.implicits._
    val events = Seq((1L, 1L, "view", 1L), (2L, 2L, "error", 1L))
      .toDF("event_id", "ts", "event_type", "user_id")
    val df = GroupCepPlan.matchGroupPattern(events,
      col("user_id"), col("ts"), col("event_id"),
      Seq(GLeafSpec("view", col("event_type") === "view"),
        GLeafSpec("error", col("event_type") === "error")))
    // matchGroupPattern registers the strategy on the session it is
    // given; drop that registration so only the injected copy can plan
    // the logical node (planning reads the strategy list lazily)
    ext.experimental.extraStrategies = Nil
    assert(df.select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSeq === Seq((1L, 1L, 2L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupCep user_id") && !plan.contains("!GroupCep"),
      plan)
    assert(ext.experimental.extraStrategies.isEmpty)
  }
}
