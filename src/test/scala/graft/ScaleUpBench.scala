package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up stress: measure the scale-critical queries at 1x
  * and 10x the sf0.1 corpus and record t(10x)/t(1x) — converting the
  * plan-shape scale claims (PlanAudit) into measured evidence.
  *
  * The 10x corpus is synthesized locally (no egress) as TEN DISJOINT
  * STRUCTURE-PRESERVING SHARDS of sf0.1: copy 0 is the original; copies
  * 1..9 re-salt every key by a per-copy offset (doc_id offsets are a
  * multiple of 97 so qp9/qp24's `doc_id % 97` benchmark slice keeps its
  * per-copy structure) and suffix every document word with the copy
  * index so cross-copy shingles are DISJOINT — each shard carries the
  * original's exact duplicate/benchmark/graph/funnel structure and no
  * cross-shard coincidences, so input size, expected work, and expected
  * output all grow 10x. This is exactly the regime a 1000-executor
  * cluster sees: more independent data, same statistics.
  *
  * Protocol per query and scale: warm once on sf0.001, then 3 timed
  * runs (count() forces full plan execution, the Bench contract);
  * median + min recorded. The 1x tables are REWRITTEN through the same
  * generator (copies=1) so both scales share file layout and row-group
  * geometry. Results print as one JSON line plus a markdown table for
  * ENGINE.md.
  *
  * Run: Test/runMain graft.ScaleUpBench [workDir] [copies]
  */
object ScaleUpBench {

  /** Per-copy key offsets. doc_id's is 97 * 100k (structure of the
    * `% 97` bench slice preserved); the rest just need disjointness. */
  private val DocOff = 9700000L
  private val EventOff = 100000000L
  private val UserOff = 10000000L
  private val OrderOff = 100000000L
  private val CustOff = 10000000L
  private val SuppOff = 1000000L
  private val PartOff = 10000000L

  /** One salted copy of a scaled table; copy 0 is the identity. */
  private def salted(name: String, df: DataFrame, c: Int): DataFrame = {
    if (c == 0) return df
    val k = c.toLong
    name match {
      case "documents" =>
        df.withColumn("doc_id", col("doc_id") + lit(k * DocOff))
          .withColumn("text", expr(
            s"array_join(transform(split(text, ' '), x -> concat(x, '_$c')), ' ')"))
      case "events" =>
        df.withColumn("event_id", col("event_id") + lit(k * EventOff))
          .withColumn("user_id", col("user_id") + lit(k * UserOff))
      case "lineitem" =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * OrderOff))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * SuppOff))
          .withColumn("l_partkey", col("l_partkey") + lit(k * PartOff))
      case "orders" =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(k * OrderOff))
          .withColumn("o_custkey", col("o_custkey") + lit(k * CustOff))
      case "customer" =>
        df.withColumn("c_custkey", col("c_custkey") + lit(k * CustOff))
      case "supplier" =>
        df.withColumn("s_suppkey", col("s_suppkey") + lit(k * SuppOff))
      case other => sys.error(s"no salt rule for $other")
    }
  }

  private val scaledTables =
    Seq("documents", "events", "lineitem", "orders", "customer", "supplier")
  private val copiedTables = Seq("part", "nation", "region", "embeddings")

  def generate(spark: SparkSession, srcDir: String, outDir: String,
      copies: Int): Unit = {
    scaledTables.foreach { name =>
      val src = Engine.table(spark, srcDir, name)
      val all = (0 until copies).map(salted(name, src, _))
        .reduce(_.unionByName(_))
      all.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    copiedTables.foreach { name =>
      Engine.table(spark, srcDir, name).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
    }
  }

  /** The scale-critical set: LSH near-dup, two-phase packing, n-gram
    * decontamination (membership + span removal), iterative CC, the
    * sequential-NFA CEP funnel — plus (wide sweep) the Bench headline
    * families over scaled tables (qe2 excluded: embeddings replicate
    * as-is, so its input would not grow). */
  private val allQueries = Seq(
    "qp5_ngram_jaccard", "qp17_sequence_packing", "qp9_decontamination",
    "qp24_decontaminate_spans", "qg1_connected_components",
    "qc12_cep_funnel",
    "q1_pricing_summary", "q3_distinct_aggs", "q9_revenue_by_nation",
    "q10_left_join", "q21_sort_limit_offset",
    "qw1_running_sum", "qw5_tumble", "qw7_session",
    "qp1_dedup_exact", "qp4_minhash_pairs", "qp7_curation_pipeline",
    "qt1_text_stats", "qm1_media_meta", "qsql1_shipping_priority",
    "qc1_cep_view_error",
    // round 13: the greedy planned-exec route (SpanCaps + run-walk emission +
    // NFA fast paths) — the class whose per-key cost is O(events x
    // open starts); disjoint shards grow keys, not per-key runs, so
    // the expected wall ratio is ~linear in input. qc38 adds the
    // output-heavy ALL ROWS twin (emitted rows ~ #input x avg span).
    "qc34_mr_sql_greedy", "qc35_mr_sql_greedy_multi",
    "qc38_mr_greedy_all_rows",
    // round 14: corpus-internal substring dedup — the scale-critical
    // stage is ONE window pass over the gram stream (owner =
    // min(doc_id) OVER (PARTITION BY gram), a single gram-key
    // shuffle); there is no join against the corpus-sized gram set
    // (PlanAudit asserts the Window is present and the plan has no
    // cartesian/broadcast-nested-loop join)
    "qp26_substring_dedup",
    // round 15: the CCNet perplexity filter — LM training + scoring
    // joins + the two-phase tercile prefix sum; every stage is keyed
    // or bounded-by-construction, so expected wall is ~linear. The
    // nearest as-of join rides one key shuffle + two in-partition
    // sorts (both O(n) running frames after the qj6 frame fix).
    "qp28_perplexity_buckets", "qj7_asof_nearest",
    // round 15 continuation: containment dedup (df-pruned inverted
    // index — the df ≤ 10 cap bounds per-gram fan-out, and disjoint
    // shards add new grams rather than deepening existing ones),
    // token entropy + gram novelty (each ONE gram/token-keyed
    // partial-agg shuffle), scene cuts (frames explode + per-item LAG)
    "qp29_containment_dedup", "qt17_token_entropy",
    "qt18_gram_novelty", "qm5_scene_cuts",
    // round 16 (VERDICT r15 #2): qp27's own row — the prose claimed the
    // single-materialization cache fix but only qt17's ratio was
    // recorded. Its per-gram source sets are bounded by #sources;
    // disjoint shards add new grams (suffixed words), so expected work
    // grows linearly with input while pair cardinality stays #sources².
    "qp27_source_overlap",
    // round 16: domain rollup — one corpus partial-agg to (source, h4)
    // cells (bounded by #domains × 65536), thresholds broadcast; the
    // corpus pass is the only stage that grows with input
    "qp30_domain_rollup",
    // round 16: zipf fit (one (source, word) partial-agg — suffixed
    // shard words grow the vocab 10x while the head cap bounds the fit
    // itself) and energy segments (frames explode + per-item islands;
    // same frame pattern as qm5 plus the doc-reduced broadcast join).
    // qe15 is excluded like qe2: embeddings replicate as-is, so its
    // input would not grow.
    "qt19_zipf_slope", "qm6_energy_segments",
    // round 16 batch 2: KL drift (the cached (source, word) reduce is
    // the only corpus-growing stage; the scoring join is vocab-bounded
    // on both sides) and the clip manifest (one doc exchange, windows
    // bounded per item)
    "qt20_source_kl_drift", "qm7_clip_manifest",
    // round 16 batch 3: the cluster-mass histogram (qp8's LSH + CC
    // machinery — disjoint shards add clusters, not cluster depth —
    // plus cluster-reduced rollups). qp32 is EXCLUDED as unmeasurable
    // under the count() protocol: its final LEFT JOINs onto the 3-row
    // threshold table have unique aggregate keys, so count() eliminates
    // the outer joins and never executes the pair stage (measured
    // 0.26s flat at 1x AND 10x — a join-elimination artifact, not
    // scale evidence); its corpus-growing stage is qp5's, which has
    // its own measured row.
    "qp31_cluster_histogram",
    // round 17: winnowing — the per-doc window scan grows with input,
    // the pair join with the number of rare shared fingerprints;
    // disjoint shards (suffixed words → disjoint shingles → disjoint
    // fingerprints) add prints, never deepen a print's df, so
    // expected wall is ~linear. (Unlike qp32/qp33 the verdict tail is
    // an inner-join aggregate — count() cannot eliminate it.)
    "qp34_winnow_fingerprints",
    // round 17: Heaps fit — two cached token-stream partial-agg passes
    // dominate; suffixed shard words grow both the vocab and the doc
    // set 10x while the checkpoint fit stays 8 points/source
    "qt21_heaps_fit",
    // round 17: survivorship audit — dominated by the shared
    // dupClusters stage (qp31's row measures the same chain; this row
    // adds the doc-keyed attribution join + map-side ledger on top,
    // so the DELTA over qp31 is the new shape being measured)
    "qp35_dedup_survivorship")
    // round 17: qp33_incremental_neardup is EXCLUDED for qp32's exact
    // reason — its final per-doc verdict is a LEFT JOIN onto the
    // unique-keyed `ver` aggregate, which count() eliminates, so the
    // band/verify chain never runs under the protocol; its
    // corpus-growing stages (band explode, shingle surrogate table)
    // are qp4/qp5's, which have their own measured rows, and the
    // increment-bounded join is the plan fact PlanAudit asserts.
    // round 18 continuation: qe17_incremental_semdedup is EXCLUDED on
    // BOTH standing grounds — embeddings replicate as-is under the
    // shard protocol (the qe2/qe15 reason: its input would not grow)
    // AND its final per-vec verdict is a LEFT JOIN onto the
    // unique-keyed `ver` aggregate that count() eliminates (the
    // qp32/qp33 reason); the increment-vs-corpus cell join is the plan
    // fact PlanAudit asserts (fact 152). qe18_semdedup_eval is
    // EXCLUDED on the same embeddings-replicate-as-is ground (and like
    // qp23/qp36, an eval over a fixed universe reads flat by
    // construction).
    // round 18: qp36_winnow_eval is EXCLUDED like qp23 (neither has a
    // row): both evaluate on the FIXED doc_id < 500 audit slice, which
    // salted-shard scaling does not grow (salted ids land outside the
    // slice), so a measurement would read flat by construction — slice
    // constancy, not scale evidence. Their corpus-growing machinery
    // (the print table / band table) is qp34's / qp4's measured row.
    // round 18 continuation: qp37_ingest_decision is EXCLUDED for the
    // qp32/qp33 reason — its verdict rows are LEFT JOINs onto the
    // unique-keyed per-gate aggregates, which count() eliminates, so
    // none of the gate legs would run under the protocol; each leg's
    // corpus-growing machinery has its own measured row (qp1 exact
    // fingerprints, qp4 bands, qp34 prints) and the keyed
    // increment-vs-corpus join structure is PlanAudit fact 154.

  private def timeQuery(spark: SparkSession, name: String,
      dir: String): (Double, Double) = {
    val fn = SparkEntry.queries(name)
    val samples = (1 to 3).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }
    (samples.sorted.apply(1), samples.min)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/scaleup")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val queries =
      if (args.length > 2) allQueries.filter(args.drop(2).contains)
      else allQueries
    val src = "/root/testdata/sf0.1"
    val spark = Engine.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val d1 = s"$work/x1"; val dN = s"$work/x$copies"
    println(s"[scaleup] generating $d1 and $dN from $src")
    generate(spark, src, d1, 1)
    generate(spark, src, dN, copies)

    // warm codegen paths on the smallest SF (the Bench protocol)
    queries.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    val rows = queries.map { name =>
      val (m1, n1) = timeQuery(spark, name, d1)
      val (mN, nN) = timeQuery(spark, name, dN)
      val ratioMed = mN / m1
      val ratioMin = nN / n1
      val expo = math.log(ratioMin) / math.log(copies.toDouble)
      println(f"[scaleup] $name%-28s 1x med $m1%6.2fs min $n1%6.2fs | " +
        f"${copies}x med $mN%6.2fs min $nN%6.2fs | " +
        f"ratio(min) $ratioMin%5.2f exp $expo%4.2f")
      (name, m1, n1, mN, nN, ratioMed, ratioMin, expo)
    }
    val qjson = rows.map { case (k, m1, n1, mN, nN, rm, rn, e) =>
      f""""$k":{"x1_med":$m1%.3f,"x1_min":$n1%.3f,"x$copies%d_med":$mN%.3f,""" +
        f""""x$copies%d_min":$nN%.3f,"ratio_med":$rm%.2f,"ratio_min":$rn%.2f,""" +
        f""""exponent":$e%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scaleup","copies":$copies,"queries":$qjson}""")
    println()
    println("| query | 1x min | " + copies + "x min | ratio | exponent |")
    println("|---|---|---|---|---|")
    rows.foreach { case (k, _, n1, _, nN, _, rn, e) =>
      println(f"| $k | $n1%.2fs | $nN%.2fs | $rn%.2fx | $e%.2f |")
    }
  }
}
