package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.sql.types.DecimalType

/** Session + IO helpers shared by every operator module.
  *
  * Scale design: the config below is sized for the local[32] harness but is
  * chosen so the identical code runs unchanged on a 1000-executor cluster —
  * AQE does runtime partition coalescing and skew-join splitting, shuffle
  * partition count is explicit (cluster deployments override it), and no
  * operator in this library ever collects data to the driver.
  */
object Engine {
  /** Fully-qualified class of Spark's in-box RocksDB state store. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Entries of Catalyst's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100), sized to
    * the engine's working set so a steady pass compiles no code again.
    *
    * The cache is one LRU per JVM, sized once from the conf of the session
    * that first uses `CodeGenerator`; in-repo code builds every session
    * through [[session]], so this value always takes effect. A cyclic mix
    * larger than the cap evicts each class before its next use and
    * recompiles all of its code every pass, and the cap is split over four
    * hash segments, so it needs headroom over the working set.
    *
    * A key is (context class loader, source), and local mode compiles a
    * whole-stage stage twice: once on the driver, which checks that the
    * code compiles, under the application loader, and once in its tasks
    * under the executor's loader, so such a stage holds two entries (70
    * of the headline mix's 139 distinct sources did).
    *
    * Entries one pass needs, counted with an unbounded cache in one
    * session at sf0.01: the 18-query headline mix 209; a full Verify pass
    * over all 219 queries 1,402. 4096 keeps more than twice the larger. */
  val CodegenCacheEntries: Int = 4096

  /** `rocksdbState = true` backs every stateful streaming operator
    * (CEP/MATCH_RECOGNIZE keyed state, OVER windows, running aggs with
    * TTL, dedup) with Spark's RocksDB state store instead of the default
    * HDFS-backed in-memory map. At 100 TB key cardinality the in-memory
    * provider is the scale risk — every key's state lives on the executor
    * heap; RocksDB spills to local SSD with an in-heap block cache,
    * bounding memory at any cardinality (the same role RocksDB plays as
    * the reference's RocksDBStateBackend — flink-statebackend-rocksdb).
    * The conf is also settable per-session at runtime:
    * `spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    * Engine.RocksDbProvider)` before starting the query. */
  def session(cores: Int = 32, rocksdbState: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read the raw int64 and convert in table() below.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
      // a stage id in the class name makes equal code differ wherever
      // stage numbering does (a query's first and later runs number some
      // stages apart), so the cache would compile it again under a new
      // name; without it, equal stages of any query share one class
      .config("spark.sql.codegen.useIdInClassName", "false")
      // streaming checkpoint files are written without forking a process
      .config(streaming.NoForkCheckpointFileManager.ConfKey,
        classOf[streaming.NoForkCheckpointFileManager].getName)
    val s = (if (rocksdbState)
      b.config("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
    else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Read one of the driver-generated parquet tables under `dir`.
    * Plain `spark.read.parquet` gives predicate pushdown + column pruning
    * (the reference needed bespoke Projectable/FilterableTableSource
    * interfaces for the same — flink-table sources package). */
  // Reuse the reader per (session, dir, table): every spark.read.parquet
  // re-lists files and re-reads footers, a fixed ~30ms that dominates
  // sub-second queries. Plans are immutable, so sharing is safe. Entries
  // for stopped sessions are purged on access so a long-lived JVM that
  // cycles sessions doesn't retain them (and their plans) forever.
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private[graft] def purgeStopped(): Unit =
    tableCache.keySet.removeIf(_._1.sparkContext.isStopped)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    purgeStopped()
    tableCache.computeIfAbsent((spark, dir, name), { _ =>
      val df = spark.read.parquet(s"$dir/$name.parquet")
      // Normalize events.ts to TimestampType regardless of how the driver
      // generation wrote it. Seen in the wild across rounds:
      //  - TIMESTAMP(NANOS): Spark 4 rejects it unless nanosAsLong, then
      //    it arrives as int64 nanos → integer-divide to µs (double
      //    arithmetic would lose bits at 1e18);
      //  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      //    TIMESTAMP_NTZ → cast reinterprets the wall-clock fields in the
      //    session zone (pinned UTC above), preserving the epoch micros.
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(types.LongType) =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case Some(types.TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast(types.TimestampType))
        case _ => df
      }
    })
  }
}

/** A named query plus its DuckDB oracle SQL (None → driver does a weaker
  * rows-only check). `run` takes (session, sf-dir) per the driver contract. */
final case class Q(name: String, oracle: Option[String])(
    val run: (SparkSession, String) => DataFrame)

/** A module of named, oracled queries.
  *
  * CACHE CONTRACT: a query lambda may `.cache()` a subtree that feeds
  * multiple DIFFERENT downstream shapes (see ENGINE.md's scale-up notes
  * for when that helps vs when ReusedExchange already covers it — e.g.
  * qp23's pair tables, qp27/qp29's gram tables, qp28's scored table,
  * qt17's reduced word counts). Those caches are registered in the
  * session's CacheManager and are NOT unpersisted inside the lambda —
  * the lambda returns an unexecuted plan, so there is no post-execution
  * point inside it to release them. Every harness caller therefore owns
  * `spark.catalog.clearCache()` after consuming a query's result
  * (Bench per sample, Verify/VerifyOne/ScaleUpBench/BaselineCompare per
  * query). A direct caller embedding a query lambda in a long-lived
  * session must do the same, or corpus-scale cached tables stay pinned
  * for the session's lifetime. */
trait QueryModule {
  def all: Seq[Q]
  protected def q(name: String, oracle: String)(
      f: (SparkSession, String) => DataFrame): Q = Q(name, Some(oracle))(f)
  protected def qNoOracle(name: String)(
      f: (SparkSession, String) => DataFrame): Q = Q(name, None)(f)
  protected def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)
}

/** Cross-engine bit-determinism helpers.
  *
  * Floating-point SUM/AVG are order-dependent, and Spark's partial
  * aggregation order differs from DuckDB's sequential scan — a raw
  * `sum(double)` would hash-mismatch the oracle in the low bits. Routing the
  * per-row value through an exact DECIMAL accumulator makes the aggregate
  * order-independent and bit-identical in both engines; the final cast back
  * to double is a single deterministic IEEE rounding. Per-row double
  * arithmetic (+,*,-,/ in a fixed expression order) is itself deterministic,
  * so only the aggregation boundary needs the decimal detour.
  *
  * CAVEAT — computed ("dirty") doubles: the double→DECIMAL cast itself can
  * diverge between engines (Spark rounds the shortest decimal repr HALF_UP,
  * DuckDB rounds the true binary value), which matters once values carry
  * digits at the cast scale. Raw data columns with few decimals are safe;
  * for derived doubles aggregate `floor(x * 10^k)` as integers instead —
  * floor on a double is a pure binary op, identical everywhere (see
  * qp7_curation_pipeline).
  */
object Det {
  val DEC: DecimalType = DecimalType(30, 8)
  /** Order-independent double sum (exact decimal accumulation). */
  def dsum(c: Column): Column = sum(c.cast(DEC)).cast("double")
  /** Deterministic mean over non-null rows (SQL AVG semantics): exact
    * null-skipping sum / non-null count. */
  def davg(c: Column): Column = dsum(c) / count(c)
  /** DuckDB text of [[dsum]]. The decimal→double cast routes through a
    * string because DuckDB's direct CAST(DECIMAL AS DOUBLE) double-
    * rounds (int128 → double, then ÷10^scale — two roundings), drifting
    * a last ulp once sums reach ~1e10 (seen at sf0.1: q1/q2/q4/q7); the
    * string parse rounds the exact decimal once, matching Spark's
    * BigDecimal.doubleValue at any magnitude. STRING (not VARCHAR) so
    * the same text still parses under spark.sql for BaselineCompare. */
  def DSUM(e: String): String =
    s"CAST(CAST(SUM(CAST(($e) AS DECIMAL(30,8))) AS STRING) AS DOUBLE)"
  /** DuckDB text of [[davg]]. */
  def DAVG(e: String): String = s"(${DSUM(e)} / COUNT($e))"
}
