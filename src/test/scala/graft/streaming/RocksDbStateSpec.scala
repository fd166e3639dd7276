package graft.streaming

import graft.{Engine, SparkSuite}
import org.apache.spark.sql.streaming.StreamingQuery

/** Round-9 scale knob: the stateful streaming drivers must run unchanged
  * under Spark's RocksDB state store (Engine.session(rocksdbState=true) /
  * the per-session conf). At 100 TB key cardinality the default in-memory
  * provider keeps every key's state on the executor heap; RocksDB spills
  * to local disk with a block cache, bounding memory at any cardinality —
  * the same role the reference's RocksDBStateBackend plays. The provider
  * conf is read per QUERY at start, so flipping it at runtime on the
  * shared session is safe and scoped to the queries started under it. */
class RocksDbStateSpec extends SparkSuite {
  import spark.implicits._

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** Runs `body` with the session's state-store provider set to RocksDB,
    * restoring (or unsetting) the previous value afterwards. */
  private def withRocksDbProvider[A](body: => A): A = {
    val before = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, Engine.RocksDbProvider)
    try body
    finally before match {
      case Some(v) => spark.conf.set(ProviderConf, v)
      case None => spark.conf.unset(ProviderConf)
    }
  }

  /** Proves the provider was actually RocksDB, not a silent fallback: the
    * query's state-operator custom metrics are rocksdb-prefixed. */
  private def assertRocksDbMetrics(q: StreamingQuery): Unit = {
    val metrics = q.lastProgress.stateOperators.apply(0).customMetrics
    assert(metrics.keySet().asScala.exists(_.startsWith("rocksdb")),
      s"no rocksdb metrics in ${metrics.keySet()}")
  }

  test("streaming CEP keyed state runs green under RocksDBStateStoreProvider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    withRocksDbProvider {
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      // the MATCH_RECOGNIZE surface: kryo-encoded GArrivalState,
      // partials crossing micro-batches — the enveloped state shape
      // every CEP driver persists
      val q = MatchRecognize(sdf,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES FIRST(E.event_id) AS e1, LAST(E.event_id) AS e2
          |AFTER MATCH SKIP PAST LAST ROW
          |PATTERN (E{2})
          |DEFINE E AS event_type = 'error'""".stripMargin)
        .writeStream.outputMode("append")
        .format("memory").queryName("rocksdb_cep_out").start()
      try {
        input.addData((1L, 10L, "error", 1L))
        q.processAllAvailable()
        assert(spark.table("rocksdb_cep_out").count() === 0)
        // the open partial crossed a micro-batch boundary through RocksDB
        input.addData((2L, 20L, "error", 1L), (3L, 30L, "error", 2L))
        q.processAllAvailable()
        input.addData((4L, 40L, "error", 2L))
        q.processAllAvailable()
        assert(spark.table("rocksdb_cep_out").as[(Long, Long, Long)]
          .collect().toSet === Set((1L, 1L, 2L), (2L, 3L, 4L)))
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  test("Column-surface join envelope state runs green under RocksDBStateStoreProvider") {
    // the other kryo-carrying state shape: NonWindowJoinSql's
    // JoinStateEnvelope (version, schema digest, blob) rows must cross
    // micro-batch boundaries through RocksDB exactly like the CEP
    // GArrivalState does — a buffered left null-pads in batch 1 and
    // retracts/pairs when its right arrives in batch 2
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    withRocksDbProvider {
      val in1 = MemoryStream[(Int, String)]
      val in2 = MemoryStream[(Int, String)]
      val got = java.util.concurrent.ConcurrentHashMap
        .newKeySet[(Boolean, String, String)]()
      val joined = NonWindowJoinSql.unboundedOuterJoin(
        in1.toDS().toDF("a", "l"), in2.toDS().toDF("d", "r"),
        Seq(col("a")), Seq(col("d")), "left_outer")
      val q = joined.writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { row =>
            got.add((row.getAs[Boolean]("change"),
              Option(row.getAs[String]("l")).getOrElse("null"),
              Option(row.getAs[String]("r")).getOrElse("null"))); ()
          }
        }.start()
      try {
        in1.addData((7, "l1"))
        q.processAllAvailable()
        // asScala via the class's own JSetOps (KeySetView is a j.u.Set)
        assert(got.asScala.toSet === Set((true, "l1", "null")))
        in2.addData((7, "r1"))
        q.processAllAvailable()
        assert(got.asScala.toSet === Set((true, "l1", "null"),
          (false, "l1", "null"), (true, "l1", "r1")))
        assertRocksDbMetrics(q)
      } finally q.stop()
    }
  }

  test("the eager sentinel raises the named schema error through RocksDB state") {
    // the round-16 sentinel's failure path under the scale provider: a
    // schema-changed resume against a ROCKSDB-persisted checkpoint must
    // fail at the first post-resume micro-batch via the sentinel key
    // (only never-seen data keys are fed), with the named error intact
    // through the RocksDB read path + the StreamingQueryException chain
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx = spark.sqlContext
    withRocksDbProvider {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_rocksdb_sentinel").toString
      val sink = (df: org.apache.spark.sql.DataFrame, _: Long) => {
        df.collect(); ()
      }
      val in1 = MemoryStream[(Int, String)]
      val in2 = MemoryStream[(Int, String)]
      val q1 = NonWindowJoinSql.unboundedOuterJoin(
        in1.toDS().toDF("a", "l"), in2.toDS().toDF("d", "r"),
        Seq(col("a")), Seq(col("d")), "left_outer")
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").foreachBatch(sink).start()
      try {
        in1.addData((7, "l1"))
        q1.processAllAvailable()
        assertRocksDbMetrics(q1)
      } finally q1.stop()
      val in1b = MemoryStream[(Int, String, Long)]
      val in2b = MemoryStream[(Int, String)]
      val q2 = NonWindowJoinSql.unboundedOuterJoin(
        in1b.toDS().toDF("a", "l", "extra"), in2b.toDS().toDF("d", "r"),
        Seq(col("a")), Seq(col("d")), "left_outer")
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("append").foreachBatch(sink).start()
      val ex = intercept[StreamingQueryException] {
        try {
          in2b.addData((99, "r-new"))
          q2.processAllAvailable()
        } finally q2.stop()
      }
      val named = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).take(20)
        .collectFirst { case e: JoinStateSchemaException => e }
      assert(named.isDefined,
        s"expected JoinStateSchemaException in the cause chain, got $ex")
      assert(named.get.getMessage.contains("sentinel"))
    }
  }

  private implicit class JSetOps[T](s: java.util.Set[T]) {
    def asScala: Iterable[T] = {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toIterable
    }
  }
}
