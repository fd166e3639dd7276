package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds. Timing includes full
  * plan execution via count() (the driver's contract).
  *
  * Contention self-flagging (round-9 hardening): two of eight rounds
  * shipped a BENCH artifact contaminated by driver-box contention that
  * arrived AFTER the single pre-loop sentinel passed. The artifact now
  * brackets the query loop with a sentinel on each side
  * (`sentinel_pre`/`sentinel_post`), records each query's min alongside
  * its median (`queries_min` — the min is far more contention-robust),
  * and sets `suspect: true` with machine-readable reasons when either
  * sentinel leaves the historical band or any non-trivial query's
  * median diverges >2x from its own min. A suspect artifact must not be
  * read as a regression — rerun on a quiet box (decision rule recorded
  * in ENGINE.md).
  */
object Bench {
  // Headline set: one per operator family (agg, multi-join, window, OVER,
  // dedup/LSH, text, similarity). Full inventory runs in Verify.
  private[graft] val headline = Seq(
    "q1_pricing_summary", "q3_distinct_aggs", "q9_revenue_by_nation",
    "q10_left_join", "q21_sort_limit_offset",
    "qw1_running_sum", "qw5_tumble", "qw7_session",
    "qp1_dedup_exact", "qp4_minhash_pairs", "qp5_ngram_jaccard",
    "qp7_curation_pipeline", "qt1_text_stats", "qe2_knn_brute",
    "qm1_media_meta", "qsql1_shipping_priority", "qg1_connected_components",
    "qc1_cep_view_error")

  /** Historical sentinel band at 32 threads (ENGINE.md: ~0.1-0.3s across
    * eight rounds of clean runs; 0.35 adds headroom for normal jitter). */
  val SentinelBandSec = 0.35
  /** Median/min divergence flagged as contention; queries with medians
    * under [[DivergenceFloorSec]] jitter 2x from scheduler noise alone
    * and are exempt from the divergence rule (not from the sentinels). */
  val DivergenceRatio = 2.0
  val DivergenceFloorSec = 0.2

  /** One timed sample of a fixed-cost, no-I/O computation whose runtime
    * depends only on the box, never on this round's code. */
  private def sentinelOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }
  /** Median-of-3 sentinel (first call also warms the shape). */
  private def sentinel(spark: SparkSession): Double = {
    val samples = (1 to 3).map(_ => sentinelOnce(spark))
    samples.sorted.apply(1)
  }

  /** The contamination decision rule, pure so BenchJsonSpec pins it:
    * returns the (possibly empty) reason list. `perQuery` carries
    * (name, medianSec, minSec); failed queries (negative times) are
    * skipped — they flag through the `failed` field instead. */
  def suspectReasons(sentinelPre: Double, sentinelPost: Double,
      perQuery: Seq[(String, Double, Double)]): List[String] = {
    val b = List.newBuilder[String]
    if (sentinelPre > SentinelBandSec)
      b += f"sentinel_pre $sentinelPre%.3f > band $SentinelBandSec"
    if (sentinelPost > SentinelBandSec)
      b += f"sentinel_post $sentinelPost%.3f > band $SentinelBandSec"
    perQuery.foreach { case (name, median, min) =>
      if (median >= DivergenceFloorSec && min > 0 &&
          median / min > DivergenceRatio)
        b += f"$name median $median%.3f > ${DivergenceRatio}%.0fx min $min%.3f"
    }
    b.result()
  }

  /** Renders the one-line artifact. Pure so BenchJsonSpec pins the shape
    * the judge parses. `perQuery` = (name, medianSec, minSec), median
    * -1.0 for failed queries. */
  def renderJson(perQuery: Seq[(String, Double, Double)],
      failed: Seq[String], sentinelPre: Double, sentinelPost: Double,
      sfDir: String): String = {
    val qjson = perQuery.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mjson = perQuery.filter(_._2 >= 0)
      .map { case (k, _, min) => "\"" + k + "\":" + min }
      .mkString("{", ",", "}")
    val fjson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = perQuery.map(_._2).filter(_ >= 0).sum
    val reasons = suspectReasons(sentinelPre, sentinelPost,
      perQuery.filter(_._2 >= 0))
    val rjson = reasons.map(r => "\"" + r + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,""" +
      s""""queries_min":$mjson,"failed":$fjson,"sentinel_sec":$sentinelPre,""" +
      s""""sentinel_pre":$sentinelPre,"sentinel_post":$sentinelPost,""" +
      s""""suspect":${reasons.nonEmpty},"suspect_reasons":$rjson,""" +
      s""""sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Engine.session(cpus)
    val qs = SparkEntry.queries
    // Warm the JVM/codegen/parquet-footer paths so the timed sf runs
    // measure plan execution, not per-query Janino compilation and
    // analyzer bootstrap (each query's first-ever run pays 100-500 ms of
    // whole-stage-codegen compile that no steady-state deployment sees).
    // Warmup uses the smallest SF so the warm work itself is negligible.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      headline.filter(qs.contains).foreach { name =>
        try qs(name)(spark, warmDir).count()
        catch { case _: Throwable => () }
        spark.catalog.clearCache() // warm codegen, don't pin warmup caches
      }
    val sentinelPre = sentinel(spark)
    var failed = List.empty[String]
    val results = headline.filter(qs.contains).map { name =>
      val fn = qs(name)
      // Median-of-3: single samples on this box swing up to ±3x (documented
      // in ENGINE.md), which fabricates phantom regressions in round-over-
      // round comparison. The median absorbs one outlier sample per query;
      // the min (also shipped) survives two.
      val samples = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        // A failed sample records no time (never its partial elapsed) so
        // the headline total only ever sums completed runs and stays
        // comparable across runs with different failure sets.
        val s =
          try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            None
          }
        spark.catalog.clearCache() // query-scoped caches end with the query
        s
      }
      if (samples.isEmpty) { failed ::= name; (name, -1.0, -1.0) }
      else (name, samples.sorted.apply(samples.size / 2), samples.min)
    }
    val sentinelPost = sentinel(spark)
    println(renderJson(results, failed.reverse, sentinelPre, sentinelPost,
      sfDir))
    spark.stop()
  }
}
