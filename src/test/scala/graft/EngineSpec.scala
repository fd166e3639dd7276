package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The session `Engine.session` builds, and what its settings buy. */
class EngineSpec extends SparkSuite {

  test("every Engine.session branch sizes the generated-class cache") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val want = Engine.CodegenCacheEntries.toString
    val base = spark // Engine.session(4)
    assert(base.conf.get(key) === want)
    // a new session on the running context carries its builder's options
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val rocks =
      try Engine.session(rocksdbState = true)
      finally {
        SparkSession.setActiveSession(base)
        SparkSession.setDefaultSession(base)
      }
    assert(rocks ne base)
    assert(rocks.conf.get("spark.sql.streaming.stateStore.providerClass") ===
      Engine.RocksDbProvider)
    assert(rocks.conf.get(key) === want)
  }

  test("a second pass over the headline mix compiles no generated class " +
      "beyond qp7's second-run plan") {
    // as the benchmark harness runs the mix: build, count, clear the cache
    def pass(): Map[String, Long] = Bench.headline.map { n =>
      n -> EngineSpec.compiles {
        run(n).count()
        spark.catalog.clearCache()
      }
    }.toMap
    val warm = pass()
    val steady = pass().filter(_._2 > 0)
    // the allowance: qp7's second run in a session plans one stage unlike
    // its first (a broadcast join fused into it), so that run compiles two
    // classes (the stage's driver and task copies); later runs compile none
    assert(steady.keySet.subsetOf(Set("qp7_curation_pipeline")) &&
      steady.values.sum <= 2,
      s"steady pass compiled $steady; warm-up ${warm.values.sum} classes")
  }
}

object EngineSpec {
  /** The number of Janino compiles the JVM runs while `f` runs (every
    * session of the JVM counts; generated classes the cache still holds
    * are not compiled again). */
  def compiles(f: => Unit): Long = {
    val n = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = n.getCount
    f
    n.getCount - before
  }
}
