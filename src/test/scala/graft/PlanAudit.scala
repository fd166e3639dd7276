package graft

/** Physical-plan audit of the claims the docs make: pushdown reaches the
  * scan, constant-size dims broadcast, top-k plans as TakeOrderedAndProject,
  * similarity queries contain NO unconditioned cross join, and the planned
  * CEP operator gets exactly one shuffle + one sort from EnsureRequirements.
  * Prints PASS/FAIL per assertion; exit code 1 if any fail. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val s = Engine.session(8)
    val d = "/root/testdata/sf0.01"
    var failed = 0
    def plan(name: String): String =
      SparkEntry.queries(name)(s, d).queryExecution.executedPlan.toString
    def check(label: String, ok: Boolean): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"}  $label")
      if (!ok) failed += 1
    }

    val q1 = plan("q1_pricing_summary")
    check("q1 filter pushed to parquet scan",
      q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    val q9 = plan("q9_revenue_by_nation")
    check("q9 dimension join broadcasts", q9.contains("BroadcastHashJoin"))
    val q22 = plan("q22_topk")
    check("q22 top-k plans as TakeOrderedAndProject",
      q22.contains("TakeOrderedAndProject"))
    val qe2 = plan("qe2_knn_brute")
    check("qe2 bounded query side broadcasts (BNLJ acceptable: 20-row side)",
      qe2.contains("BroadcastNestedLoopJoin") || qe2.contains("BroadcastHashJoin"))

    // similarity/dedup: the scale claims — no unconditioned cross joins
    for (name <- Seq("qe5_cosine_dedup", "qp4_minhash_pairs",
        "qp5_ngram_jaccard")) {
      val p = plan(name)
      check(s"$name has no Cartesian product", !p.contains("CartesianProduct"))
      check(s"$name has no broadcast nested-loop join",
        !p.contains("BroadcastNestedLoopJoin"))
    }

    // planned CEP operator: exactly one exchange + one sort below
    // GroupCepExec
    val qc3 = plan("qc3_cep_planned")
    val cepIdx = qc3.linesIterator.indexWhere(_.contains("- GroupCep "))
    val below = qc3.linesIterator.toVector.drop(cepIdx)
    check("qc3 has a GroupCepExec node", cepIdx >= 0)
    check("qc3 exactly one shuffle below GroupCepExec",
      below.count(_.contains("Exchange hashpartitioning")) == 1)
    check("qc3 exactly one sort below GroupCepExec",
      below.count(_.contains("Sort [")) == 1)

    // terminal-negation funnel through the planned path: same shape —
    // the NegGate adds no data movement
    val qc13 = plan("qc13_cep_funnel_planned")
    val cep13 = qc13.linesIterator.indexWhere(_.contains("- GroupCep "))
    val below13 = qc13.linesIterator.toVector.drop(cep13)
    check("qc13 has a GroupCepExec node", cep13 >= 0)
    check("qc13 exactly one shuffle below GroupCepExec",
      below13.count(_.contains("Exchange hashpartitioning")) == 1)
    check("qc13 exactly one sort below GroupCepExec",
      below13.count(_.contains("Sort [")) == 1)

    // frame sampling: scan should prune to the two referenced columns
    val qm2 = plan("qm2_frame_sample")
    check("qm2 scan reads only doc_id + text",
      qm2.contains("ReadSchema: struct<doc_id:bigint,text:string>"))

    // round-8 TPC-H decorrelation family: the planner must turn the
    // subqueries into joins (no per-row re-execution shapes) and never
    // fall back to an unconditioned cross product
    val qsql7 = plan("qsql7_waiting_suppliers")
    check("qsql7 NOT EXISTS decorrelates to an anti join",
      qsql7.contains("LeftAnti"))
    check("qsql7 EXISTS decorrelates to a semi join",
      qsql7.contains("LeftSemi"))
    check("qsql7 has no Cartesian product", !qsql7.contains("CartesianProduct"))
    val qsql9 = plan("qsql9_small_quantity_revenue")
    check("qsql9 correlated scalar agg decorrelates (no cartesian)",
      !qsql9.contains("CartesianProduct") &&
        !qsql9.contains("BroadcastNestedLoopJoin"))
    val qsql12 = plan("qsql12_quiet_customers")
    check("qsql12 NOT IN plans as an anti join",
      qsql12.contains("LeftAnti"))
    val qsql13 = plan("qsql13_min_cost_supplier")
    check("qsql13 correlated MIN decorrelates (no cartesian/BNLJ)",
      !qsql13.contains("CartesianProduct") &&
        !qsql13.contains("BroadcastNestedLoopJoin"))
    val qp9 = plan("qp9_decontamination")
    check("qp9 benchmark gram set broadcasts (corpus side shuffle-free join)",
      qp9.contains("BroadcastHashJoin"))

    // round-9 paragraph dedup: map + explode + ONE partial-aggregating
    // shuffle — no join at all, no window exchange-and-sort per row
    val qp10 = plan("qp10_paragraph_dedup")
    check("qp10 has no join of any kind",
      !qp10.contains("Join") && !qp10.contains("CartesianProduct"))
    check("qp10 aggregates with map-side partials (no Window)",
      // min(struct) plans as SortAggregate; what matters at 100 TB is the
      // partial_min/partial_count BEFORE the exchange and no per-row
      // Window exchange-and-sort
      qp10.contains("partial_min") && !qp10.contains("Window"))

    // round-9 sampling/scrub additions: the map-only claims. The single
    // rangepartitioning Exchange each plan keeps is the presentation
    // ORDER BY; the operators themselves must add no hash shuffle, no
    // join, no window.
    for (name <- Seq("qp11_stratified_sample", "qt8_pii_redaction")) {
      val p = plan(name)
      check(s"$name is map-only (no join/window/hash shuffle)",
        !p.contains("Join") && !p.contains("Window") &&
          !p.contains("Exchange hashpartitioning"))
    }
    // centroids: ONE partial-aggregated shuffle (map-side combine before
    // the exchange), no window
    val qe6 = plan("qe6_label_centroids")
    check("qe6 aggregates with map-side partials, no Window",
      qe6.contains("partial_sum") && !qe6.contains("Window"))
    check("qe6 exactly one hash shuffle",
      qe6.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    // CMS estimate: the one-row sketch side broadcasts to the key list
    val qs14 = plan("qs14_cms_freq")
    check("qs14 sketch side broadcasts (1-row side, BNLJ acceptable)",
      qs14.contains("BroadcastNestedLoopJoin") ||
        qs14.contains("BroadcastHashJoin"))
    // IVF probe: the 8-row pivot set broadcasts to the corpus (BNLJ over
    // a constant side is the intended shape); assignment partial-aggs;
    // no unconditioned corpus-corpus product anywhere
    val qe7 = plan("qe7_ivf_probe")
    check("qe7 pivots broadcast and assignment partial-aggregates",
      qe7.contains("Broadcast") && qe7.contains("partial_min") &&
        !qe7.contains("CartesianProduct"))
    // anchored MATCH_RECOGNIZE routes onto the planned GroupCepExec: the
    // anchors are NFA-level gates, so there is NO boundary-flag window
    // and only the one exchange EnsureRequirements inserts below it
    for (name <- Seq("qc21_match_recognize_head_anchor",
        "qc22_match_recognize_tail_anchor")) {
      val p = plan(name)
      check(s"$name plans as GroupCepExec with no Window",
        p.contains("- GroupCep ") && !p.contains("Window"))
      check(s"$name has exactly one hash shuffle",
        p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    }

    // Bloom incremental dedup: the 128 KiB filter broadcasts (1-row
    // side, BNLJ is the intended shape) and the historical corpus is
    // never re-joined against the incoming side
    val qp15 = plan("qp15_bloom_incremental")
    check("qp15 bloom filter broadcasts to the incoming side",
      qp15.contains("BroadcastNestedLoopJoin") ||
        qp15.contains("BroadcastHashJoin"))
    check("qp15 no corpus-vs-corpus join (membership is map-side)",
      !qp15.contains("SortMergeJoin") && !qp15.contains("CartesianProduct"))
    // near-dup gate: same broadcast shape over LSH band values — no
    // historical band self-join anywhere in the plan
    val qp16 = plan("qp16_bloom_near_dup")
    check("qp16 band bloom broadcasts (no historical self-join)",
      (qp16.contains("BroadcastNestedLoopJoin") ||
        qp16.contains("BroadcastHashJoin")) &&
        !qp16.contains("SortMergeJoin") && !qp16.contains("CartesianProduct"))

    // sequence packing: the distributed two-phase prefix sum — exactly ONE
    // corpus shuffle (the md5-byte bucket hash); the 256-row bucket bases
    // broadcast back (never a corpus-wide single-partition window)
    val qp17 = plan("qp17_sequence_packing")
    check("qp17 two bucket-keyed shuffles (corpus window + partial-agg " +
        "bases whose shuffle payload is <=256 rows/task)",
      qp17.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2)
    check("qp17 bases side partial-aggregates before its shuffle",
      qp17.contains("partial_sum"))
    check("qp17 corpus window is bucket-partitioned (never single-partition)",
      qp17.linesIterator.exists(l =>
        l.contains("AS local_end") && l.contains("], [pid")))
    check("qp17 bucket bases broadcast", qp17.contains("BroadcastHashJoin"))
    // interleave: the schedule head is a top-k, not a global sort
    val qp18 = plan("qp18_mix_interleave")
    check("qp18 schedule head plans as TakeOrderedAndProject",
      qp18.contains("TakeOrderedAndProject"))

    // manifest: the same two-phase shape plus one narrow explode — no
    // extra corpus shuffle appears
    val qp20 = plan("qp20_pack_manifest")
    check("qp20 keeps the two-phase shape (two hash shuffles + explode)",
      qp20.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2
        && qp20.contains("Generate explode"))
    // temperature mix: quotas broadcast back; the only corpus window is
    // source-partitioned
    val qp21 = plan("qp21_temperature_mix")
    check("qp21 per-source quotas broadcast (no cartesian)",
      qp21.contains("BroadcastHashJoin") &&
        !qp21.contains("CartesianProduct"))

    // span decontamination: the benchmark gram set broadcasts (the qp9
    // claim carried to the removal op); no corpus-corpus product
    val qp24 = plan("qp24_decontaminate_spans")
    check("qp24 gram set broadcasts; no cartesian",
      qp24.contains("BroadcastHashJoin") &&
        !qp24.contains("CartesianProduct"))
    // substring dedup: the owner comes from ONE window pass over the
    // gram stream (no join against the corpus-sized gram set at all)
    val qp26 = plan("qp26_substring_dedup")
    check("qp26 owner via window; no cartesian/BNLJ",
      qp26.contains("Window") &&
        !qp26.contains("CartesianProduct") &&
        !qp26.contains("BroadcastNestedLoopJoin"))
    // source-overlap matrix: pairs come from the per-gram source SET
    // (collect_set, bounded by #sources) — never a corpus-vs-corpus
    // join; the per-source totals broadcast into the final join
    val qp27 = plan("qp27_source_overlap")
    check("qp27 per-gram collect_set + broadcast totals; no cartesian/BNLJ",
      qp27.contains("collect_set") &&
        qp27.contains("BroadcastHashJoin") &&
        !qp27.contains("CartesianProduct") &&
        !qp27.contains("BroadcastNestedLoopJoin"))
    // nearest as-of: ONE key shuffle feeds both direction passes (the
    // output ORDER BY adds its own range exchange, excluded here) —
    // NO join of any kind, and both window frames are the O(n)
    // running shape, never the O(n²) unbounded-following frame
    val qj7 = plan("qj7_asof_nearest")
    check("qj7 one key shuffle, two running frames, no join",
      qj7.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1 &&
        qj7.contains("unboundedpreceding$(), currentrow$()") &&
        !qj7.contains("unboundedfollowing$()") &&
        !qj7.contains("Join") && !qj7.contains("CartesianProduct"))

    // perplexity terciles: the within-bucket cumulative window is
    // PARTITIONED (distributed), the cutoffs broadcast, and there is no
    // CartesianProduct — the only nested-loop joins are the broadcast
    // one-row scalar attachments (cuts/n), the adjudicated pattern
    val qp28 = plan("qp28_perplexity_buckets")
    // the within-bucket window must be PARTITIONED by bkt and ordered by
    // s — "windowspecdefinition(bkt#NNN, s#NNN ASC" pins exactly that
    // shape (the order-only bases window over the tiny bucket table
    // reads "windowspecdefinition(bkt#NNN ASC" and cannot satisfy it)
    check("qp28 bkt-partitioned s-ordered window + broadcast cutoffs; no cartesian",
      "windowspecdefinition\\(bkt#\\d+L?, s#\\d+L? ASC".r
        .findFirstIn(qp28).isDefined &&
        qp28.contains("BroadcastExchange") &&
        !qp28.contains("CartesianProduct"))

    // containment dedup: candidates from the per-gram doc SET (bounded
    // ≤ 10 by the df filter — collect_set expansion), never a gram
    // self-join; no cartesian/BNLJ anywhere
    val qp29 = plan("qp29_containment_dedup")
    check("qp29 bounded collect_set pair expansion; no cartesian/BNLJ",
      qp29.contains("collect_set") &&
        !qp29.contains("CartesianProduct") &&
        !qp29.contains("BroadcastNestedLoopJoin"))

    // domain rollup: the corpus reduces through ONE partial-aggregated
    // (source, h4) pass; the per-domain thresholds BROADCAST into the
    // capped re-aggregation; and there is NO window anywhere — the cap
    // is hash-rate selection, never a per-domain row_number (a hot
    // domain at scale would skew a window partition)
    val qp30 = plan("qp30_domain_rollup")
    check("qp30 partial-agg reduce + broadcast thresholds; no window/cartesian",
      qp30.contains("partial_sum") &&
        qp30.contains("BroadcastHashJoin") &&
        !qp30.contains("Window") &&
        !qp30.contains("CartesianProduct"))

    // zipf fit: the corpus reduces through ONE map-side-combined
    // (source, word) pass, the rank windows run after ONE source
    // shuffle, and the moments rollup REUSES that partitioning (a
    // source partition clusters (source, vocab) too) — exactly two
    // hash exchanges, no join anywhere
    val qt19 = plan("qt19_zipf_slope")
    check("qt19 two hash exchanges, map-side combine, windows, no join",
      qt19.linesIterator.count(_.contains("Exchange hashpartitioning")) == 2
        && qt19.contains("partial_count") && qt19.contains("Window")
        && !qt19.contains("Join"))

    // energy segments: frames explode distributed, the island window
    // and BOTH run rollups share the one doc_id partitioning (two hash
    // exchanges total), and the doc-reduced segment summary BROADCASTS
    // into the left join — never a corpus-wide shuffle join
    // review r18 re-pin: the frame-count summary side is now the
    // CLOSED FORM over frameDocs (doc metadata only), so the plan
    // carries exactly ONE Generate (the single frame explode — the
    // former shape ran it twice) and ONE exchange (the island window's
    // doc_id partitioning, which both downstream groupBys reuse)
    val qm6 = plan("qm6_energy_segments")
    check("qm6 one frame explode, one doc-bounded exchange, broadcast summary join",
      qm6.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1
        && qm6.linesIterator.count(_.contains("Generate explode")) == 1
        && qm6.contains("Window") && qm6.contains("BroadcastHashJoin")
        && !qm6.contains("CartesianProduct"))

    // dedup threshold curve: the pair universe is qp5's shared stage
    // (cached shingle/band/surrogate tables — the InMemoryRelations);
    // the threshold attachment is the 3-row broadcast BNLJ with the
    // integer cross-product test PUSHED INTO its join condition (the
    // qe2 posture — each pair row scans 3 broadcast rows); no
    // cartesian
    val qp32 = plan("qp32_dedup_threshold_curve")
    check("qp32 cached pair stage + conditioned 3-row threshold BNLJ",
      qp32.contains("InMemoryRelation")
        && qp32.contains("BroadcastNestedLoopJoin BuildRight, Cross, ((ni")
        && !qp32.contains("CartesianProduct"))

    // KL drift: the cached (source, word) reduce feeds all four
    // consumers (one corpus scan materialized once), every aggregate
    // map-side combines, totals broadcast; the only nested-loop join
    // is the 1-row corpus-total attachment — no cartesian
    val qt20 = plan("qt20_source_kl_drift")
    check("qt20 cached single reduce + broadcast totals; no cartesian",
      qt20.contains("InMemoryRelation") && qt20.contains("partial_sum")
        && qt20.contains("BroadcastExchange")
        && !qt20.contains("CartesianProduct"))

    // clip manifest: ONE doc_id exchange serves the LAG window, the
    // running scene-id window, the scene rollup, the n_scenes window,
    // AND the argmax rank — which also gets the WindowGroupLimit
    // rank<=1 pushdown; no join anywhere
    val qm7 = plan("qm7_clip_manifest")
    check("qm7 one doc exchange for all windows + WindowGroupLimit, no join",
      qm7.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1
        && qm7.contains("WindowGroupLimit") && !qm7.contains("Join"))

    // binary-quantization audit: probe words broadcast (the qe2
    // 3-row-build posture), and BOTH top-5 windows get the
    // WindowGroupLimit rank<=5 pushdown — candidates prune partial
    // AND final, before and after the qid shuffle
    val qe15 = plan("qe15_binary_recall")
    check("qe15 broadcast probes + WindowGroupLimit top-5 both legs",
      qe15.contains("BroadcastExchange")
        && qe15.linesIterator.count(_.contains("WindowGroupLimit")) >= 4
        && !qe15.contains("CartesianProduct"))

    // filtered ANN: pivots/probes broadcast; the only nested-loop joins
    // are the broadcast probe attachments (qe2 posture), no cartesian
    val qe14 = plan("qe14_filtered_ann")
    check("qe14 broadcast pivots/probes; no cartesian",
      qe14.contains("BroadcastExchange") &&
        !qe14.contains("CartesianProduct"))

    // nprobe curve: same shared ivfRanked stage (pivots/probes/nprobe
    // levels broadcast), cells prune the re-rank; no cartesian
    val qe16 = plan("qe16_nprobe_curve")
    check("qe16 broadcast pivots/probes/levels; no cartesian",
      qe16.contains("BroadcastExchange") &&
        !qe16.contains("CartesianProduct"))

    // incremental near-dup: the candidate join is an equi-join on
    // (band, bv) whose two sides are COMPLEMENTARY slices of the
    // cached doc table (Filter is_incr vs Filter NOT is_incr) — never
    // the full-corpus self-join qp4/qp8 run; no cartesian/BNLJ
    val qp33 = plan("qp33_incremental_neardup")
    check("qp33 band join is increment-vs-corpus (complementary filters), no self-join",
      qp33.contains("Join [band") &&
        qp33.contains("NOT is_incr") &&
        qp33.linesIterator.exists(l => l.contains("Filter (")
          && l.contains(" is_incr") && !l.contains("NOT is_incr")) &&
        !qp33.contains("CartesianProduct") &&
        !qp33.contains("BroadcastNestedLoopJoin"))

    // Heaps fit: the two reduced tables cache (fw, dd — without them
    // the token explode re-ran five times), the prefix sums ride ONE
    // window over the cached doc-reduced table, and the 8-point
    // checkpoint table broadcasts; no cartesian
    val qt21 = plan("qt21_heaps_fit")
    check("qt21 cached reduced tables + ONE window + broadcast checkpoints",
      qt21.linesIterator.count(_.contains("Window [")) == 1 &&
        qt21.contains("InMemoryRelation") &&
        qt21.contains("BroadcastHashJoin [source") &&
        !qt21.contains("CartesianProduct"))

    // survivorship audit: the rollup partial-aggregates BELOW the
    // source shuffle (map-side combine of all four ledger sums), the
    // cluster attribution is one doc_id-keyed outer join, no cartesian
    val qp35 = plan("qp35_dedup_survivorship")
    check("qp35 map-side-combined ledger + doc-keyed cluster join, no cartesian",
      qp35.contains("partial_count") && qp35.contains("partial_sum")
        && qp35.contains("Join [doc_id")
        && !qp35.contains("CartesianProduct")
        && !qp35.contains("BroadcastNestedLoopJoin"))

    // winnowing: the pair join is keyed on the fingerprint with the
    // df <= 10 boilerplate cap filtering BOTH sides (bounded per-print
    // fan-out), the window-scanned fp table materializes once (cached),
    // and nothing degenerates to a cartesian
    val qp34 = plan("qp34_winnow_fingerprints")
    check("qp34 fp-keyed capped pair join over the cached fp table; no cartesian",
      qp34.contains("Join [fp") &&
        qp34.contains("<= 10)") &&
        qp34.contains("InMemoryRelation") &&
        !qp34.contains("CartesianProduct") &&
        !qp34.contains("BroadcastNestedLoopJoin"))

    // winnow-gate eval: both pair universes are KEYED joins (prints on
    // fp, hexagram truth on g) over cached reduced tables with the
    // df <= 10 caps; the only nested-loop joins are the three 1-row
    // count aggregates crossing at the end (broadcast, trivial) — a
    // CartesianProduct anywhere means a pair stage degenerated
    val qp36 = plan("qp36_winnow_eval")
    check("qp36 fp- and gram-keyed pair joins over cached capped tables; no cartesian",
      qp36.contains("Join [fp") &&
        qp36.contains("Join [g") &&
        qp36.contains("<= 10)") &&
        qp36.contains("InMemoryRelation") &&
        !qp36.contains("CartesianProduct"))

    // incremental semantic dedup: the cell join's two sides are
    // COMPLEMENTARY is_incr filters of the ONE cached normed table
    // (never corpus × corpus — qp33's posture in embedding space),
    // the corpus cell assignment partial-aggregates (min-struct,
    // map-side combined), and the 8-row pivot set broadcasts (its
    // BNLJ over a constant side is the intended qe7 shape)
    val qe17 = plan("qe17_incremental_semdedup")
    check("qe17 cell join is increment-vs-corpus over the cached base; " +
        "pivots broadcast; corpus assignment partial-aggregates",
      qe17.contains("Join [cell") &&
        qe17.contains("NOT is_incr") &&
        qe17.linesIterator.exists(l => l.contains("Filter (")
          && l.contains(" is_incr") && !l.contains("NOT is_incr")) &&
        qe17.contains("partial_min") &&
        qe17.contains("InMemoryRelation") &&
        qe17.contains("Broadcast") &&
        !qe17.contains("CartesianProduct"))

    // semantic-dedup eval: the candidate leg is the cell-keyed join
    // over the SAME cached base as qe17 (the shared incrCells
    // definition), and the truth leg is the broadcast audit cross
    // join (small increment side broadcast — BNLJ over a broadcast
    // side is the intended qe2/qe11 shape); the hit join is keyed on
    // the pair; no CartesianProduct anywhere
    val qe18 = plan("qe18_semdedup_eval")
    check("qe18 cell-keyed candidates over the cached base + broadcast " +
        "truth cross join; no cartesian",
      qe18.contains("Join [cell") &&
        qe18.contains("BroadcastNestedLoopJoin") &&
        qe18.contains("InMemoryRelation") &&
        qe18.contains("partial_min") &&
        !qe18.contains("CartesianProduct"))

    // ingest decision: all three gate legs are KEYED joins over the
    // cached corpus artifacts (exact on xfp, near on (band, bv), span
    // on fp — never a doc product), each leg's per-doc verdict
    // reduction partial-aggregates (map-side count+min before the
    // doc_id shuffle), and no CartesianProduct anywhere
    val qp37 = plan("qp37_ingest_decision")
    check("qp37 keyed gate joins over cached artifacts + partial-agg " +
        "verdict reduction; no cartesian",
      qp37.contains("Join [xfp") &&
        qp37.contains("Join [band") &&
        qp37.contains("Join [fp") &&
        qp37.contains("partial_min") &&
        qp37.contains("InMemoryRelation") &&
        !qp37.contains("CartesianProduct"))

    // gram novelty: first_seen is ONE map-side-combined gram groupBy
    // (partial_min before the shuffle), checkpoints broadcast —
    // never four conditional-DISTINCT shuffles
    val qt18 = plan("qt18_gram_novelty")
    check("qt18 partial_min gram pass + broadcast checkpoints; no cartesian",
      qt18.contains("partial_min") &&
        qt18.contains("BroadcastExchange") &&
        !qt18.contains("CartesianProduct"))

    // Gram-identity diversity: one partial-aggregated pass, the only
    // join is over the per-label reduced tables
    val qe10 = plan("qe10_sample_diversity")
    check("qe10 partial-aggregates; no cartesian/BNLJ",
      qe10.contains("partial_sum") && !qe10.contains("CartesianProduct")
        && !qe10.contains("BroadcastNestedLoopJoin"))
    // oracled pipeline chain: the min-survivor window gets the
    // WindowGroupLimit rank<=1 pushdown (partial+final group limits
    // prune non-survivors BEFORE the shuffle), no cartesian
    val qp25 = plan("qp25_curated_rollup")
    check("qp25 survivor rank gets WindowGroupLimit pushdown",
      qp25.contains("WindowGroupLimit") &&
        !qp25.contains("CartesianProduct"))

    // histogram: the (min,max) scalar broadcasts; counts partial-agg
    val qs15 = plan("qs15_histogram")
    check("qs15 min/max scalar broadcasts and counts partial-aggregate",
      qs15.contains("Broadcast") && qs15.contains("partial_count"))
    // cumulate: composed from explode + partial-agg — no Window at all
    val qw11 = plan("qw11_cumulate")
    check("qw11 cumulate is explode + partial-agg (no Window, no join)",
      qw11.contains("Generate explode") && qw11.contains("partial_count")
        && !qw11.contains("Window") && !qw11.contains("Join"))

    // duplicate frames: one fingerprint-keyed partial-agg shuffle, no
    // join of any kind (the qp1 shape on binary content)
    val qm4 = plan("qm4_duplicate_frames")
    check("qm4 is one partial-agg groupBy with no join",
      qm4.contains("partial_count") && !qm4.contains("Join") &&
        !qm4.contains("CartesianProduct"))

    // PMI: scoring joins run on the reduced count tables; the result is
    // a top-k, and no unconditioned corpus product appears
    val qt13 = plan("qt13_pmi_collocations")
    check("qt13 plans top-k over reduced tables (no cartesian)",
      qt13.contains("TakeOrderedAndProject") &&
        !qt13.contains("CartesianProduct"))
    // ANN recall eval: ground-truth side broadcasts the query set (qe2
    // shape); no corpus-corpus product
    val qe9 = plan("qe9_ann_recall")
    check("qe9 query set broadcasts; no cartesian product",
      qe9.contains("Broadcast") && !qe9.contains("CartesianProduct"))

    // SemDeDup: pivots broadcast, cell assignment partial-aggregates,
    // and the pair join is cell-keyed (the cluster-bounded quadratic),
    // never a corpus cross product
    val qe8 = plan("qe8_semdedup_cells")
    check("qe8 pivots broadcast and cell assignment partial-aggregates",
      qe8.contains("Broadcast") && qe8.contains("partial_min") &&
        !qe8.contains("CartesianProduct"))
    // bigram LM: training counts partial-aggregate before any shuffle;
    // the only nested-loop is the broadcast 1-row vocabulary scalar
    val qt12 = plan("qt12_bigram_logprob")
    check("qt12 bigram counts partial-aggregate (no cartesian)",
      qt12.contains("partial_count") && !qt12.contains("CartesianProduct"))
    // leakage-safe split: the clustered-docs table broadcasts back to the
    // corpus; the LSH band join stays an equi-join
    val qp19 = plan("qp19_split_leakage_safe")
    check("qp19 cluster table broadcasts to the corpus join",
      qp19.contains("BroadcastHashJoin") &&
        !qp19.contains("CartesianProduct"))

    // FOR SYSTEM_TIME AS OF SQL surface (round 10): the as-of resolves
    // in ONE window pass over the union — one hash exchange on the key,
    // never a per-key join quadratic or a cartesian
    val qj4 = plan("qj4_temporal_sql")
    check("qj4 as-of = one window pass, no cartesian/BNLJ",
      qj4.contains("Window") && !qj4.contains("CartesianProduct") &&
        !qj4.contains("BroadcastNestedLoopJoin") &&
        qj4.linesIterator.count(_.contains("Exchange hashpartitioning")) <= 2)
    // the capture lowering (SUBSET, LAST over a quantified variable,
    // aggregates, PREV, WITH UNMATCHED): each measure is a Catalyst
    // expression over the operator's captured rows — the same one
    // exchange into the planned operator, never a groupByKey
    for (n <- Seq("qc27_mr_alt_subset_agg", "qc18_match_recognize_permute",
        "qc14_match_recognize_all_rows")) {
      val pl = plan(n)
      val gidx = pl.linesIterator.indexWhere(_.contains("- GroupCep "))
      val below = pl.linesIterator.toVector.drop(gidx max 0)
      check(s"$n routes onto the planned GroupCepExec", gidx >= 0)
      check(s"$n exactly one shuffle below GroupCepExec",
        below.count(_.contains("Exchange hashpartitioning")) == 1)
      check(s"$n no MapGroups", !pl.contains("MapGroups"))
    }
    // ... and no object round trip above the operator: no typed map
    // deserializes the captured rows into Rows and back
    for (n <- Seq("qc11_match_recognize_times",
        "qc14_match_recognize_all_rows", "qc15_match_recognize_agg_measures",
        "qc16_match_recognize_prev", "qc18_match_recognize_permute",
        "qc20_match_recognize_subset", "qc26_mr_unmatched_rows",
        "qc27_mr_alt_subset_agg")) {
      val pl = plan(n)
      val above = pl.linesIterator.takeWhile(!_.contains("- GroupCep ")).toVector
      check(s"$n lowers its captures with no object round trip above GroupCepExec",
        pl.contains("- GroupCep ") && pl.contains("Captures") &&
          !above.exists(l => Seq("DeserializeToObject", "MapElements",
            "SerializeFromObject").exists(l.contains)))
    }
    // PREV's lag window and the operator cluster on the same raw key, so
    // EnsureRequirements reuses the window's exchange
    val qc16 = plan("qc16_match_recognize_prev")
    check("qc16 one Exchange hashpartitioning (lag window + GroupCepExec)",
      qc16.contains("- GroupCep ") &&
        qc16.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1)
    // the reluctant compositions AND alternation/PERMUTE (round 11):
    // routed onto the planned GroupCepExec — one Exchange + one Sort
    // feeding the operator, no groupByKey MapGroups, no window pass
    for (n <- Seq("qc29_mr_reluctant_tail_anchor", "qc30_mr_reluctant_skip",
        "qc31_mr_multi_reluctant", "qc32_mr_reluctant_anchor_skip",
        "qc28_mr_reluctant_alternation", "qc33_mr_multi_alt",
        "qc17_match_recognize_alternation", "qc34_mr_sql_greedy",
        "qc35_mr_sql_greedy_multi",
        "qc36_mr_mixed_polarity", "qc37_mr_greedy_anchor",
        // round 13: ALL ROWS / exclusions route planned too — one row
        // per captured event from the operator itself, never the
        // library's explode (Generate) over emitted arrays
        "qc38_mr_greedy_all_rows", "qc39_mr_greedy_exclusion",
        "qc19_match_recognize_exclusion")) {
      val pl = plan(n)
      val gidx = pl.linesIterator.indexWhere(_.contains("- GroupCep "))
      val below = pl.linesIterator.toVector.drop(gidx max 0)
      check(s"$n routes onto the planned GroupCepExec", gidx >= 0)
      check(s"$n exactly one shuffle below GroupCepExec",
        below.count(_.contains("Exchange hashpartitioning")) == 1)
      check(s"$n exactly one sort below GroupCepExec",
        below.count(_.contains("Sort [")) == 1)
      check(s"$n no MapGroups / boundary-flag Window",
        !pl.contains("MapGroups") && !pl.contains("Window ["))
      check(s"$n no library explode (Generate)", !pl.contains("Generate"))
    }
    // embedding decontamination (round 10): the benchmark slice
    // BROADCASTS (constant-side NLJ, the qe2/qp9 posture) and the
    // per-vector max partial-aggregates — no corpus-vs-corpus product
    val qe11 = plan("qe11_embed_decontaminate")
    check("qe11 benchmark broadcasts; per-vector max partial-aggregates",
      qe11.contains("Broadcast") && qe11.contains("partial_max") &&
        !qe11.contains("CartesianProduct"))

    s.stop()
    if (failed > 0) {
      println(s"$failed plan assertions FAILED"); sys.exit(1)
    } else println("all plan assertions passed")
  }
}
