package graft.streaming

import graft.SparkSuite

/** The MATCH_RECOGNIZE text surface compiles onto the library NFA: the
  * same patterns expressed as SQL text and as the DSL must agree, and
  * the clause grammar (quantifiers, AFTER MATCH, WITHIN, undefined
  * variables) must carry its documented semantics. */
class MatchRecognizeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val events = Seq(
    // user 1: view, click, error, error
    (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
    (3L, 30L, "error", 1L), (4L, 40L, "error", 1L),
    // user 2: view then view then error
    (10L, 10L, "view", 2L), (11L, 20L, "view", 2L), (12L, 30L, "error", 2L)
  ).toDF("event_id", "ts", "event_type", "user_id")

  // Every batch clause plans onto GroupCepExec; the lowering differs.
  // Block: the measures are columns of the operator's per-match (or
  // per-row) block. Capture: the operator emits each match's captured
  // rows and the row-level measure evaluator reads them.
  private def planOf(d: org.apache.spark.sql.DataFrame): String =
    d.queryExecution.executedPlan.toString
  private def blockLowered(d: org.apache.spark.sql.DataFrame): Boolean = {
    val p = planOf(d)
    p.contains("- GroupCep ") && !p.contains("Captures") &&
      !p.contains("MapGroups")
  }
  private def captureLowered(d: org.apache.spark.sql.DataFrame): Boolean = {
    val p = planOf(d)
    p.contains("- GroupCep ") && p.contains("Captures") &&
      !p.contains("MapGroups")
  }

  test("V S* E equals the DSL's followedBy (first error per view)") {
    val got = MatchRecognize(events,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id
        |PATTERN (V S* E)
        |DEFINE V AS event_type = 'view',
        |       S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    // every view matches its FIRST subsequent error, like followedBy
    assert(got === Set((1L, 1L, 3L), (2L, 10L, 12L), (2L, 11L, 12L)))
  }

  test("quantifier {2,3} emits every satisfied length (library semantics)") {
    val df = Seq(
      (1L, 10L, "error", 1L), (2L, 20L, "error", 1L), (3L, 30L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(E.event_id) AS first_id, LAST(E.event_id) AS last_id,
        |  COUNT(E.*) AS n
        |PATTERN (E{2,3})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L, 2L), (1L, 1L, 3L, 3L), (1L, 2L, 3L, 2L)))
  }

  test("AFTER MATCH SKIP PAST LAST ROW yields non-overlapping matches") {
    val got = MatchRecognize(events,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (V S* E)
        |DEFINE V AS event_type = 'view',
        |       S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    // user 2's second view is absorbed by the first match's skip
    assert(got === Set((1L, 1L, 3L), (2L, 10L, 12L)))
  }

  test("WITHIN prunes partials past the horizon (timestamp ordering)") {
    import org.apache.spark.sql.functions.col
    // ts longs are epoch seconds: user 1 view@10s..error@30s spans 20s,
    // user 2's second view@20s reaches error@30s in 10s
    val tsEvents = events.withColumn("tss", col("ts").cast("timestamp"))
    val got = MatchRecognize(tsEvents,
      """PARTITION BY user_id
        |ORDER BY tss, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id
        |PATTERN (V S* E)
        |WITHIN INTERVAL '15' SECOND
        |DEFINE V AS event_type = 'view',
        |       S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    // (1,1,3): 10s->30s = 20s >= 15s pruned; (2,10,12): 20s pruned;
    // only (2,11,12): 10s < 15s survives
    assert(got === Set((2L, 11L, 12L)))
  }

  test("WITHIN against an integral ORDER BY column is rejected") {
    val e = intercept[IllegalArgumentException] {
      MatchRecognize(events,
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id
          |PATTERN (V S* E)
          |WITHIN INTERVAL '15' SECOND
          |DEFINE V AS event_type = 'view',
          |       E AS event_type = 'error'""".stripMargin)
    }
    assert(e.getMessage.contains("WITHIN requires a TimestampType"))
  }

  test("anchors / empty alternation branches / malformed PERMUTE are rejected, never misparsed") {
    def pat(p: String): String =
      s"""PARTITION BY user_id
         |ORDER BY ts
         |MEASURES A.event_id AS a_id
         |PATTERN ($p)
         |DEFINE A AS event_type = 'view'""".stripMargin
    // boundary ^/$ anchors are supported since round 9, top-level
    // interior ones since round 10 (degenerate semantics, see below);
    // nested-in-group anchors still reject
    for (p <- Seq("(^ A)", "(A $)", "A |", "| A",
        "A || B", "PERMUTE(A, )",
        "PERMUTE(A, B", "PERMUTE(A, B, C, D, E, F, G)")) {
      val e = intercept[IllegalArgumentException] {
        MatchRecognize(events, pat(p))
      }
      // truncated input trips the outer paren-balance check instead of
      // the grammar error — both are clean rejections
      assert(e.getMessage.contains("unsupported PATTERN syntax") ||
        e.getMessage.contains("unbalanced parentheses"), p)
    }
  }

  test("PERMUTE expands to the alternation of all orderings (round 9)") {
    val df = Seq(
      // user 1: view click error purchase — (C E) order
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "error", 1L), (4L, 40L, "purchase", 1L),
      // user 2: view error click purchase — (E C) order
      (10L, 10L, "view", 2L), (11L, 20L, "error", 2L),
      (12L, 30L, "click", 2L), (13L, 40L, "purchase", 2L),
      // user 3: view click click purchase — no match
      (20L, 10L, "view", 3L), (21L, 20L, "click", 3L),
      (22L, 30L, "click", 3L), (23L, 40L, "purchase", 3L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, C.event_id AS c_id,
        |  E.event_id AS e_id, P.event_id AS p_id
        |PATTERN (V PERMUTE(C, E) P)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click',
        |       E AS event_type = 'error', P AS event_type = 'purchase'""".stripMargin)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L, 3L, 4L), (2L, 10L, 12L, 11L, 13L)))

    // a variable legitimately NAMED permute is still a variable
    val named = MatchRecognize(Seq((1L, 10L, "view", 1L))
        .toDF("event_id", "ts", "event_type", "user_id"),
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES PERMUTE.event_id AS p_id
        |PATTERN (PERMUTE)
        |DEFINE PERMUTE AS event_type = 'view'""".stripMargin)
      .as[(Long, Long)].collect().toSeq
    assert(named === Seq((1L, 1L)))

    // degenerate single-element PERMUTE is just a group
    val single = MatchRecognize(Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L))
        .toDF("event_id", "ts", "event_type", "user_id"),
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, C.event_id AS c_id
        |PATTERN (V PERMUTE(C))
        |DEFINE V AS event_type = 'view',
        |       C AS event_type = 'click'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSeq
    assert(single === Seq((1L, 1L, 2L)))
  }

  test("MEASURES over a variable not in PATTERN keeps the library path's defined results (ADVICE r13)") {
    // this shape would lower to the per-row block (flat distinct PVars,
    // ALL ROWS) if every measure variable were a pattern step; the
    // unknown Z must instead read the captured rows — which define
    // COUNT(Z.*) = 0 and a null positional — rather than crash at plan
    // time on the step index lookup
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES COUNT(Z.*) AS zn, Z.event_id AS z_id,
        |  V.event_id AS v_id
        |ALL ROWS PER MATCH
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view',
        |       C AS event_type = 'click'""".stripMargin)
      .select("zn", "z_id", "v_id")
      .as[(Long, Option[Long], Long)].collect().toSeq
    assert(got === Seq((0L, None, 1L), (0L, None, 1L)))

    // the ONE ROW PER MATCH block has the same gate: unknown Z must
    // read the captured rows' defined results, not an unresolved-column
    // crash
    val one = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES COUNT(Z.*) AS zn, Z.event_id AS z_id,
        |  V.event_id AS v_id
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view',
        |       C AS event_type = 'click'""".stripMargin)
      .select("zn", "z_id", "v_id")
      .as[(Long, Option[Long], Long)].collect().toSeq
    assert(one === Seq((0L, None, 1L)))

    // the FLAT planned route (positional-only measures, no COUNT) has
    // the same gate — a COUNT-free unknown-variable clause previously
    // slipped through it
    val flat = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES Z.event_id AS z_id, V.event_id AS v_id
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view',
        |       C AS event_type = 'click'""".stripMargin)
      .select("z_id", "v_id")
      .as[(Option[Long], Long)].collect().toSeq
    assert(flat === Seq((None, 1L)))
  }

  test("{- -} exclusion removes rows from ALL ROWS output but not from measures (round 9)") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L), (3L, 30L, "click", 1L),
      (4L, 40L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES CLASSIFIER() AS who, COUNT(S.*) AS ns,
        |  V.event_id AS v_id, E.event_id AS e_id
        |ALL ROWS PER MATCH
        |PATTERN (V {- S* -} E)
        |DEFINE V AS event_type = 'view', S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin)
      .select("who", "ns", "v_id", "e_id")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    // the two S rows matched (RUNNING COUNT sees them on the E row) but
    // are not emitted; V row's running prefix has no S yet and no E
    assert(got === Seq(
      ("V", 0L, 1L, None),
      ("E", 2L, 1L, Some(4L))))

    // exclusion outside ALL ROWS is rejected
    val ex1 = intercept[IllegalArgumentException] {
      MatchRecognize(df,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES V.event_id AS v_id
          |PATTERN (V {- S* -} E)
          |DEFINE V AS event_type = 'view', S AS event_type <> 'error',
          |       E AS event_type = 'error'""".stripMargin)
    }
    assert(ex1.getMessage.contains("ALL ROWS"))
    // a variable both inside and outside an exclusion is rejected (the
    // name-keyed implementation cannot exclude one occurrence only)
    val ex2 = intercept[IllegalArgumentException] {
      MatchRecognize(df,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES S.event_id AS s_id
          |ALL ROWS PER MATCH
          |PATTERN (S {- S -})
          |DEFINE S AS event_type = 'click'""".stripMargin)
    }
    assert(ex2.getMessage.contains("exclusion"))
    // unclosed exclusion never misparses
    val ex3 = intercept[IllegalArgumentException] {
      MatchRecognize(df,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES V.event_id AS v_id
          |ALL ROWS PER MATCH
          |PATTERN (V {- S*)
          |DEFINE V AS event_type = 'view'""".stripMargin)
    }
    assert(ex3.getMessage.contains("unsupported PATTERN syntax") ||
      ex3.getMessage.contains("unbalanced"))
  }

  test("SUBSET union variables span their members' rows in MEASURES (round 9)") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (10L, 10L, "click", 2L), (11L, 20L, "view", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(U.event_id) AS first_id, LAST(U.event_id) AS last_id,
        |  COUNT(U.*) AS nu, SUM(U.event_id) AS su
        |%s
        |PATTERN (V C)
        |SUBSET U = (V, C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin
    // ONE ROW: U = union of V and C rows in match order
    val one = MatchRecognize(df, clause.format(""))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(one === Set((1L, 1L, 2L, 2L, 3L)))
    // ALL ROWS: RUNNING semantics walk the union prefix row by row
    val all = MatchRecognize(df, clause.format("ALL ROWS PER MATCH"))
      .select("nu", "su").as[(Long, Long)].collect().toSeq
    assert(all === Seq((1L, 1L), (2L, 3L)))
    // streaming twin: same clause over micro-batches
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      val q = MatchRecognize(sdf, clause.format(""))
        .writeStream.outputMode("append")
        .format("memory").queryName("mr_subset_out").start()
      try {
        input.addData((1L, 10L, "view", 1L))
        q.processAllAvailable()
        input.addData((2L, 20L, "click", 1L))
        q.processAllAvailable()
        assert(spark.table("mr_subset_out")
          .as[(Long, Long, Long, Long, Long)].collect().toSet ===
          Set((1L, 1L, 2L, 2L, 3L)))
      } finally q.stop()
    }
    // rejections: unknown member, collision with a pattern variable,
    // DEFINE over a subset
    def bad(sub: String, defs: String = ""): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        MatchRecognize(df,
          s"""PARTITION BY user_id
             |ORDER BY ts
             |MEASURES COUNT(U.*) AS nu
             |PATTERN (V C)
             |SUBSET $sub
             |DEFINE V AS event_type = 'view', C AS event_type = 'click'$defs""".stripMargin)
      }
    assert(bad("U = (V, X)").getMessage.contains("unknown PATTERN variable"))
    assert(bad("V = (C)").getMessage.contains("collides"))
    assert(bad("U = (V, C)", ", U AS event_type = 'view'")
      .getMessage.contains("cannot be DEFINEd"))
  }

  test("^/$ partition anchors pin matches to the partition boundaries (round 9)") {
    val df = Seq(
      // user 1: view click ... error at the tail
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "click", 1L), (4L, 40L, "error", 1L),
      // user 2: starts with a click — ^ V C cannot match; error NOT last
      (10L, 10L, "click", 2L), (11L, 20L, "view", 2L),
      (12L, 30L, "error", 2L), (13L, 40L, "click", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    // ^ V C: the match must START at the partition's first row
    val head = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, C.event_id AS c_id
        |PATTERN (^ V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    assert(head === Set((1L, 1L, 2L)))
    // E $: the match must END at the partition's last row; every error
    // row is a candidate (all-starts), only the tail one survives
    val tail = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES E.event_id AS e_id
        |PATTERN (E $)
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long)].collect().toSet
    assert(tail === Set((1L, 4L)))
    // the flat unquantified anchored clause ROUTES PLANNED (GroupCepExec, no
    // window pass) — pin it so a silent fallback fails
    val headPlan = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, C.event_id AS c_id
        |PATTERN (^ V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(headPlan.contains("- GroupCep ") && !headPlan.contains("Window"))
    // ...and so does the UNANCHORED flat unquantified clause (round 9
    // widened the planned routing beyond anchors)
    val flatPlan = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, C.event_id AS c_id
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(flatPlan.contains("- GroupCep "))
    // both anchors: the pattern must span the whole partition
    val span = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, COUNT(S.*) AS ns, E.event_id AS e_id
        |PATTERN (^ V S* E $)
        |DEFINE V AS event_type = 'view', S AS event_type = 'click',
        |       E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(span === Set((1L, 1L, 2L, 4L)))
    // non-default skip with anchors rejects (post-filtering would
    // mis-consume the skip queue)
    val ex1 = intercept[IllegalArgumentException] {
      MatchRecognize(df,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES E.event_id AS e_id
          |AFTER MATCH SKIP PAST LAST ROW
          |PATTERN (E $)
          |DEFINE E AS event_type = 'error'""".stripMargin)
    }
    // round 11: anchors × skip composes on RELUCTANT batch patterns;
    // a plain (non-reluctant) anchored clause still rejects the mix
    assert(ex1.getMessage.contains("batch selection-mode patterns"))
    // an interior anchor behind a NON-nullable element is unsatisfiable:
    // zero rows, deterministically (SQL:2016 degenerate semantics)
    val interior = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES E.event_id AS e_id
        |PATTERN (E ^ E)
        |DEFINE E AS event_type = 'error'""".stripMargin)
    assert(interior.count() == 0)
    // streaming rejects (partition boundaries unknowable on a stream)
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      val ex3 = intercept[IllegalArgumentException] {
        MatchRecognize(sdf,
          """PARTITION BY user_id
            |ORDER BY ts
            |MEASURES E.event_id AS e_id
            |PATTERN (E $)
            |DEFINE E AS event_type = 'error'""".stripMargin)
      }
      assert(ex3.getMessage.contains("batch"))
    }
  }

  test("interior anchors: nullable dropped elements rewrite to the " +
      "anchored remainder; unsatisfiable forms yield zero rows") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "click", 1L), (4L, 40L, "error", 1L),
      (10L, 10L, "click", 2L), (11L, 20L, "view", 2L),
      (12L, 30L, "error", 2L), (13L, 40L, "click", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def mr(p: String, m: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts
         |MEASURES $m
         |PATTERN ($p)
         |DEFINE V AS event_type = 'view', C AS event_type = 'click',
         |       E AS event_type = 'error'""".stripMargin)
    // C? ^ V C: the nullable prefix matched ZERO rows (an interior ^
    // holds only before the partition's first row) ≡ ^ V C
    assert(mr("C? ^ V C", "V.event_id AS v_id, C.event_id AS c_id")
      .as[(Long, Long, Long)].collect().toSet === Set((1L, 1L, 2L)))
    // E $ C*: the nullable suffix matched zero rows ≡ E $
    assert(mr("E $ C*", "E.event_id AS e_id")
      .as[(Long, Long)].collect().toSet === Set((1L, 4L)))
    // V ^ C: V cannot match zero rows → unsatisfiable → zero rows
    assert(mr("V ^ C", "V.event_id AS v_id").count() == 0)
    // $ before ^ needs the end before the start → zero rows
    assert(mr("E $ ^ E", "E.event_id AS e_id").count() == 0)
    // measures over a DROPPED (zero-rows) variable evaluate to NULL /
    // 0 — never an unresolved-column crash: the operator's block lacks
    // the dropped variable, so such clauses read the captured rows
    val d2 = mr("E? ^ V C",
      "E.event_id AS e_null, V.event_id AS v_id, COUNT(E.*) AS ne")
    assert(d2.as[(Long, Option[Long], Long, Long)].collect().toSet
      === Set((1L, None, 1L, 0L)))
    // ...including the ALL-position-measures form, which would lower to
    // the block if the dropped variable did not rule it out
    val d3 = mr("E? ^ V C", "E.event_id AS e_null, V.event_id AS v_id")
    assert(captureLowered(d3))
    assert(d3.as[(Long, Option[Long], Long)].collect().toSet
      === Set((1L, None, 1L)))
  }

  test("CLASSIFIER() names the matched alternation branch (ALL ROWS and ONE ROW)") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "error", 1L),
      (10L, 10L, "view", 2L), (11L, 20L, "click", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES CLASSIFIER() AS who, LAST(V.event_id) AS v_id
        |%s
        |PATTERN (V (C | E))
        |DEFINE V AS event_type = 'view', C AS event_type = 'click',
        |       E AS event_type = 'error'""".stripMargin
    // ONE ROW: classifier of the match's LAST row = the branch taken
    val one = MatchRecognize(df, clause.format(""))
      .select("user_id", "who").as[(Long, String)].collect().toSet
    assert(one === Set((1L, "E"), (2L, "C")))
    // ALL ROWS: per-row classifier walks V then the branch variable
    val all = MatchRecognize(df, clause.format("ALL ROWS PER MATCH"))
      .select("user_id", "who").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    assert(all(1L) === Seq("V", "E"))
    assert(all(2L) === Seq("V", "C"))
  }

  test("alternation (A|B) in PATTERN: batch, quantified, skip, streaming (round 9)") {
    val df = Seq(
      // user 1: view click purchase — left branch
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L), (3L, 30L, "purchase", 1L),
      // user 2: view error purchase — right branch
      (10L, 10L, "view", 2L), (11L, 20L, "error", 2L), (12L, 30L, "purchase", 2L),
      // user 3: view signup purchase — neither branch, no match
      (20L, 10L, "view", 3L), (21L, 20L, "signup", 3L), (22L, 30L, "purchase", 3L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES P.event_id AS p_id, COUNT(C.*) AS via_click
        |PATTERN (V (C | E) P)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click',
        |       E AS event_type = 'error', P AS event_type = 'purchase'""".stripMargin
    val got = MatchRecognize(df, clause)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 1L), (2L, 12L, 0L)))

    // quantified alternation with AFTER MATCH SKIP PAST LAST ROW: the
    // (A|B)+ loop crosses branches between repetitions, and the skip
    // queue drops the overlapping shorter start
    val df2 = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "b", 1L), (3L, 30L, "c", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val mixed = MatchRecognize(df2,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb, C.event_id AS c_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN ((A | B)+ C)
        |DEFINE A AS event_type = 'a', B AS event_type = 'b',
        |       C AS event_type = 'c'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(mixed === Set((1L, 1L, 1L, 3L))) // a then b across reps, one match

    // streaming twin: the chosen branch's partial crosses micro-batches
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      val q = MatchRecognize(sdf, clause)
        .writeStream.outputMode("append")
        .format("memory").queryName("mr_alt_out").start()
      try {
        input.addData((1L, 10L, "view", 1L), (2L, 20L, "error", 1L))
        q.processAllAvailable()
        assert(spark.table("mr_alt_out").count() === 0)
        input.addData((3L, 30L, "purchase", 1L))
        q.processAllAvailable()
        assert(spark.table("mr_alt_out").as[(Long, Long, Long)]
          .collect().toSet === Set((1L, 3L, 0L)))
      } finally q.stop()
    }
  }

  test("nested PATTERN groups compile onto the GroupCep epsilon-NFA") {
    // (A (B C){2} D): exactly two strictly-adjacent (b c) repetitions
    val df = Seq(
      // user 1: a b c b c d -> one match, B captures both b's
      (1L, 10L, "a", 1L), (2L, 20L, "b", 1L), (3L, 30L, "c", 1L),
      (4L, 40L, "b", 1L), (5L, 50L, "c", 1L), (6L, 60L, "d", 1L),
      // user 2: only one (b c) rep -> no match
      (10L, 10L, "a", 2L), (11L, 20L, "b", 2L), (12L, 30L, "c", 2L),
      (13L, 40L, "d", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(B.event_id) AS b1, LAST(C.event_id) AS c2,
        |  COUNT(B.*) AS nb, D.event_id AS d_id
        |PATTERN (A (B C){2} D)
        |DEFINE A AS event_type = 'a', B AS event_type = 'b',
        |       C AS event_type = 'c', D AS event_type = 'd'""".stripMargin)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 5L, 2L, 6L)))

    // (A B)+ C: every completed repetition count reaching C emits
    val df2 = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "b", 1L),
      (3L, 30L, "a", 1L), (4L, 40L, "b", 1L), (5L, 50L, "c", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got2 = MatchRecognize(df2,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES COUNT(A.*) AS na, C.event_id AS c_id
        |PATTERN ((A B)+ C)
        |DEFINE A AS event_type = 'a', B AS event_type = 'b',
        |       C AS event_type = 'c'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    // start a@10: the rep-1 exit fork dies at a@30 (strict adjacency),
    // the two-rep run completes at c. Start a@30 (all-starts default):
    // one rep, c immediately next -> a second match with na=1
    assert(got2 === Set((1L, 2L, 5L), (1L, 1L, 5L)))

    // nested groups also stream: the GroupCep confs carry the open
    // repetition across micro-batches
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      val q = MatchRecognize(sdf,
        """PARTITION BY user_id
          |ORDER BY ts
          |MEASURES COUNT(A.*) AS na, C.event_id AS c_id
          |PATTERN ((A B)+ C)
          |DEFINE A AS event_type = 'a', B AS event_type = 'b',
          |       C AS event_type = 'c'""".stripMargin)
        .writeStream.outputMode("append")
        .format("memory").queryName("mr_nested_out").start()
      try {
        input.addData((1L, 10L, "a", 1L), (2L, 20L, "b", 1L))
        q.processAllAvailable()
        assert(spark.table("mr_nested_out").count() === 0)
        input.addData((3L, 30L, "c", 1L))
        q.processAllAvailable()
        assert(spark.table("mr_nested_out").as[(Long, Long, Long)]
          .collect().toSet === Set((1L, 1L, 3L)))
      } finally q.stop()
    }

    // AFTER MATCH SKIP runs GroupCep's GroupSkipQueue on the batch
    // nested path: PAST LAST ROW prunes the overlapping second start
    val skipped = MatchRecognize(df2,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES COUNT(A.*) AS na, C.event_id AS c_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN ((A B)+ C)
        |DEFINE A AS event_type = 'a', B AS event_type = 'b',
        |       C AS event_type = 'c'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    assert(skipped === Set((1L, 2L, 5L)))
  }

  test("bare X.col measure is FINAL (LAST) for quantified variables") {
    val df = Seq(
      (1L, 10L, "error", 1L), (2L, 20L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES E.event_id AS e_id, FIRST(E.event_id) AS first_id
        |PATTERN (E{2})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, Long)].collect().toSet
    // bare E.event_id resolves to the LAST captured event (SQL FINAL)
    assert(got === Set((1L, 2L, 1L)))
  }

  test("optional variable and undefined variable (always TRUE)") {
    val df = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "b", 1L),
      (10L, 10L, "a", 2L), (11L, 20L, "z", 2L), (12L, 30L, "b", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    // M is undefined -> TRUE, optional: A B with and without a middle row
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES A.event_id AS a_id, COUNT(M.*) AS m_n, B.event_id AS b_id
        |PATTERN (A M? B)
        |DEFINE A AS event_type = 'a', B AS event_type = 'b'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // user 1: a b adjacent -> empty M; user 2: a z b -> M captures z
    assert(got === Set((1L, 1L, 0L, 2L), (2L, 10L, 1L, 12L)))
  }

  test("qc10 agrees with qc1 and qc11 agrees with qc4 on sf0.001") {
    assert(run("qc10_match_recognize").collect().toSeq ===
      run("qc1_cep_view_error").collect().toSeq)
    assert(run("qc11_match_recognize_times").collect().toSeq ===
      run("qc4_cep_times_range").collect().toSeq)
  }

  test("ALL ROWS PER MATCH emits per-event rows with RUNNING measures and CLASSIFIER()") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L), (3L, 30L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, COUNT(S.*) AS ns,
        |  CLASSIFIER() AS cls, LAST(E.event_id) AS e_id
        |ALL ROWS PER MATCH
        |PATTERN (V S* E)
        |DEFINE V AS event_type = 'view',
        |       S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
    // three rows, one per matched event, in match order; RUNNING: the
    // S-count and E-id appear only once captured; CLASSIFIER per row
    assert(got.toSeq === Seq(
      (1L, 1L, 0L, "V", None),
      (1L, 1L, 1L, "S", None),
      (1L, 1L, 1L, "E", Some(3L))))
  }

  test("CLASSIFIER() under ONE ROW PER MATCH is the last matched row's variable") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 30L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES V.event_id AS v_id, CLASSIFIER() AS cls
        |PATTERN (V E)
        |DEFINE V AS event_type = 'view', E AS event_type = 'error'""".stripMargin)
      .as[(Long, Long, String)].collect().toSeq
    assert(got === Seq((1L, 1L, "E")))
  }

  test("streaming MATCH_RECOGNIZE carries partials across micro-batches (qc10's clause)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_seconds
    implicit val sqlCtx = spark.sqlContext
    val clause =
      """PARTITION BY user_id
        |ORDER BY tss, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id
        |PATTERN (V S* E)
        |WITHIN INTERVAL '1' HOUR
        |DEFINE V AS event_type = 'view',
        |       S AS event_type <> 'error',
        |       E AS event_type = 'error'""".stripMargin
    // (event_id, secs, event_type, user_id) replayed over THREE batches:
    // views arrive first, a mid-stream click next, errors only in the
    // last batch — every match must complete from state
    val b1 = Seq((1L, 10L, "view", 1L), (10L, 12L, "view", 2L))
    val b2 = Seq((2L, 25L, "click", 1L), (11L, 26L, "view", 2L))
    val b3 = Seq((3L, 35L, "error", 1L), (12L, 36L, "error", 2L))
    val input = MemoryStream[(Long, Long, String, Long)]
    val streamDf = input.toDF()
      .toDF("event_id", "secs", "event_type", "user_id")
      .withColumn("tss", timestamp_seconds($"secs"))
      .withWatermark("tss", "0 seconds")
    val query = MatchRecognize(streamDf, clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_stream_out").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      assert(spark.table("mr_stream_out").count() === 0)
      input.addData(b2: _*); query.processAllAvailable()
      assert(spark.table("mr_stream_out").count() === 0)
      input.addData(b3: _*); query.processAllAvailable()
      val streamed = spark.table("mr_stream_out")
        .as[(Long, Long, Long)].collect().toSet
      // identical clause over the identical rows in one batch
      val batchDf = (b1 ++ b2 ++ b3)
        .toDF("event_id", "secs", "event_type", "user_id")
        .withColumn("tss", timestamp_seconds($"secs"))
      val batch = MatchRecognize(batchDf, clause)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, 1L, 3L), (2L, 10L, 12L), (2L, 11L, 12L)))
    } finally query.stop()
  }

  // ---- streaming nested-group AFTER MATCH SKIP (round-8 VERDICT #2):
  // the GroupSkipQueue's deferred matches must ride keyed state across
  // micro-batches. The scenario engineers a REAL deferral: with the
  // length-3 group (A B B)+, branch phases differ per start, so the
  // start@2 branch completes at c@5 while the start@1 branch is
  // mid-repetition and still live — the completed match may not emit
  // until the older branch dies (d@6, next batch).
  private def nestedSkipClause(skipLine: String) =
    s"""PARTITION BY user_id
       |ORDER BY ts
       |MEASURES FIRST(A.event_id) AS a1, COUNT(B.*) AS nb,
       |  C.event_id AS c_id
       |$skipLine
       |PATTERN ((A B V)+ C)
       |DEFINE A AS event_type = 'x' OR event_type = 'c',
       |       B AS event_type = 'x' OR event_type = 'c',
       |       V AS event_type = 'x' OR event_type = 'c',
       |       C AS event_type = 'c'""".stripMargin

  private def nestedSkipEvents: Seq[Seq[(Long, Long, String, Long)]] = Seq(
    Seq((1L, 1L, "x", 1L), (2L, 2L, "x", 1L), (3L, 3L, "x", 1L)),
    Seq((4L, 4L, "x", 1L), (5L, 5L, "c", 1L)),
    Seq((6L, 6L, "d", 1L)))

  private def runNestedSkipStream(skipLine: String,
      deferAcrossBatch: Boolean): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Long)]
    val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
    val name = s"mr_nested_skip_${math.abs(skipLine.hashCode)}"
    val q = MatchRecognize(sdf, nestedSkipClause(skipLine))
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      val batches = nestedSkipEvents
      input.addData(batches(0): _*); q.processAllAvailable()
      assert(spark.table(name).count() === 0)
      input.addData(batches(1): _*); q.processAllAvailable()
      if (deferAcrossBatch)
        // the start@2 match IS complete here but the start@1 branch is
        // older and alive: the skip queue must hold it in state
        assert(spark.table(name).count() === 0,
          s"$skipLine: deferred match leaked before its blocker resolved")
      input.addData(batches(2): _*); q.processAllAvailable()
      spark.table(name).select("a1", "nb", "c_id")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()
  }

  private def runNestedSkipBatch(skipLine: String): Set[(Long, Long, Long)] =
    MatchRecognize(nestedSkipEvents.flatten
        .toDF("event_id", "ts", "event_type", "user_id"),
      nestedSkipClause(skipLine))
      .select("a1", "nb", "c_id")
      .as[(Long, Long, Long)].collect().toSet

  test("MATCH_NUMBER() numbers matches per partition; FINAL measures see the whole match (ALL ROWS)") {
    val df = Seq(
      // user 1: errors at 10,20 and 30,40 (overlap pair 20,30 too)
      (1L, 10L, "error", 1L), (2L, 20L, "error", 1L),
      (3L, 30L, "error", 1L), (4L, 40L, "error", 1L),
      // user 2: one pair
      (10L, 10L, "error", 2L), (11L, 20L, "error", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES MATCH_NUMBER() AS mn, COUNT(E.*) AS rc,
        |  FINAL COUNT(E.*) AS fc, LAST(E.event_id) AS row_id,
        |  FINAL LAST(E.event_id) AS final_id
        |ALL ROWS PER MATCH
        |PATTERN (E{2})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .select("user_id", "mn", "rc", "fc", "row_id", "final_id")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // user 1 has three overlapping pairs (1,2)(2,3)(3,4) numbered 1..3;
    // RUNNING rc walks 1->2 and row_id walks the events, FINAL fc/final_id
    // are constant across the match's rows
    assert(got === Set(
      (1L, 1L, 1L, 2L, 1L, 2L), (1L, 1L, 2L, 2L, 2L, 2L),
      (1L, 2L, 1L, 2L, 2L, 3L), (1L, 2L, 2L, 2L, 3L, 3L),
      (1L, 3L, 1L, 2L, 3L, 4L), (1L, 3L, 2L, 2L, 4L, 4L),
      (2L, 1L, 1L, 2L, 10L, 11L), (2L, 1L, 2L, 2L, 11L, 11L)))
  }

  test("FINAL under ONE ROW PER MATCH is a no-op; RUNNING keyword parses") {
    val df = Seq(
      (1L, 10L, "error", 1L), (2L, 20L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val one = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES MATCH_NUMBER() AS mn, FINAL LAST(E.event_id) AS l1,
        |  RUNNING LAST(E.event_id) AS l2
        |PATTERN (E{2})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .select("mn", "l1", "l2").as[(Long, Long, Long)].collect().toSeq
    assert(one === Seq((1L, 2L, 2L)))
  }

  test("MATCH_NUMBER() on a GROUP pattern routes PLANNED and the " +
      "ordinals are route-invariant: planned vs library vs streaming, " +
      "every 2-way cut (round 10)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "error", 1L),
      (4L, 40L, "view", 1L), (5L, 50L, "click", 1L),
      (6L, 60L, "click", 1L), (7L, 70L, "error", 1L),
      (10L, 10L, "view", 2L), (11L, 20L, "click", 2L),
      (12L, 30L, "error", 2L))
    def clause(cMeasure: String) =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES MATCH_NUMBER() AS mn, V.event_id AS v_id, $cMeasure
         |PATTERN (V (C){1,2} E)
         |DEFINE V AS event_type = 'view', C AS event_type = 'click',
         |       E AS event_type = 'error'""".stripMargin
    val df = rows.toDF("event_id", "ts", "event_type", "user_id")
    // COUNT measure → the planned GroupCepExec (round 10: the operator
    // emits the per-key match ordinal, so MATCH_NUMBER no longer blocks
    // the route)
    val planned = MatchRecognize(df, clause("COUNT(C.*) AS nc"))
    val plannedPlan = planned.queryExecution.executedPlan.toString
    assert(plannedPlan.contains("GroupCep")
      && !plannedPlan.contains("MapGroups"))
    val expected = planned.select("user_id", "mn", "v_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(expected === Set((1L, 1L, 1L), (1L, 2L, 4L), (2L, 1L, 10L)))
    // LAST over a quantified variable forces the capture lowering — the
    // ordinals must be identical
    val library = MatchRecognize(df, clause("LAST(C.event_id) AS lc"))
    assert(captureLowered(library))
    assert(library.select("user_id", "mn", "v_id")
      .as[(Long, Long, Long)].collect().toSet === expected)
    // the FLAT planned route carries the ordinal too: an
    // unquantified flat clause with MATCH_NUMBER routes planned and
    // produces the same per-key emission-order ordinals
    val flatClause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES MATCH_NUMBER() AS mn, V.event_id AS v_id
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
        .stripMargin
    val flat = MatchRecognize(df, flatClause)
    val flatPlan = flat.queryExecution.executedPlan.toString
    assert(flatPlan.contains("- GroupCep ") && !flatPlan.contains("MapGroups"))
    assert(flat.select("user_id", "mn", "v_id")
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 1L, 1L), (1L, 2L, 4L), (2L, 1L, 10L)))
    // STREAMING (library, keyed-state ordinal): every 2-way micro-batch
    // cut yields the same ordinals
    (0 to rows.length by 2).foreach { cut =>
      val input = MemoryStream[(Long, Long, String, Long)]
      val q = MatchRecognize(
          input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
          clause("COUNT(C.*) AS nc"))
        .writeStream.outputMode("append")
        .format("memory").queryName(s"mr_route_inv_$cut").start()
      try {
        if (cut > 0) { input.addData(rows.take(cut): _*)
                       q.processAllAvailable() }
        if (cut < rows.length) { input.addData(rows.drop(cut): _*)
                                 q.processAllAvailable() }
        assert(spark.table(s"mr_route_inv_$cut")
          .select("user_id", "mn", "v_id")
          .as[(Long, Long, Long)].collect().toSet === expected,
          s"cut at $cut")
      } finally q.stop()
    }
  }

  test("reluctant × $ anchor and reluctant × skip route PLANNED " +
      "(GroupCepExec) and agree with the library drivers (round 11)") {
    // V B+? E $ — candidates gate on the partition tail BEFORE
    // preference selection; V B+? E + SKIP PAST LAST ROW — the greedy
    // non-overlapping chain
    val rows = Seq(
      // user 1: two views, both reaching the final error
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "click", 1L), (4L, 40L, "view", 1L),
      (5L, 50L, "click", 1L), (6L, 60L, "error", 1L),
      // user 2: last row is not an error — contributes nothing to $
      (10L, 10L, "view", 2L), (11L, 20L, "click", 2L),
      (12L, 30L, "error", 2L), (13L, 40L, "click", 2L))
    val df = rows.toDF("event_id", "ts", "event_type", "user_id")
    def clause(tail: String, extra: String = "") =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id, E.event_id AS e_id,
         |  COUNT(B.*) AS nb$extra
         |$tail
         |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin
    val anchored = MatchRecognize(df, clause("PATTERN (V B+? E $)"))
    val aPlan = anchored.queryExecution.executedPlan.toString
    assert(aPlan.contains("- GroupCep ") && !aPlan.contains("MapGroups"),
      s"qc29-shape must route planned:\n$aPlan")
    val aGot = anchored.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet
    assert(aGot === Set((1L, 6L, 4L), (4L, 6L, 1L)))
    // LAST over the quantified B forces the capture lowering — same
    // matches (lowering invariance)
    val aLib = MatchRecognize(df,
      clause("PATTERN (V B+? E $)", ",\n  LAST(B.event_id) AS lb"))
    assert(captureLowered(aLib))
    assert(aLib.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet === aGot)

    val skipped = MatchRecognize(df,
      clause("AFTER MATCH SKIP PAST LAST ROW\nPATTERN (V B+? E)"))
    val sPlan = skipped.queryExecution.executedPlan.toString
    assert(sPlan.contains("- GroupCep ") && !sPlan.contains("MapGroups"),
      s"qc30-shape must route planned:\n$sPlan")
    val sGot = skipped.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet
    // user 1: v1's shortest completion ends at the first error (6 is the
    // ONLY error) -> (1, 6, 4); v4 starts at 40 <= 60 and is consumed.
    // user 2: v10 -> first error at distance >= 2 is 12 -> (10, 12, 1)
    assert(sGot === Set((1L, 6L, 4L), (10L, 12L, 1L)))
    val sLib = MatchRecognize(df,
      clause("AFTER MATCH SKIP PAST LAST ROW\nPATTERN (V B+? E)",
        ",\n  LAST(B.event_id) AS lb"))
    assert(captureLowered(sLib))
    assert(sLib.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet === sGot)

    // round 11, the TERNARY composition: gate, select, THEN skip.
    // Under $ every selected match ends at the partition tail, so
    // PAST LAST ROW keeps only user 1's earliest start...
    val tern = MatchRecognize(df,
      clause("AFTER MATCH SKIP PAST LAST ROW\nPATTERN (V B+? E $)"))
    assert(tern.queryExecution.executedPlan.toString.contains("- GroupCep "))
    assert(tern.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet === Set((1L, 6L, 4L)))
    // ...while SKIP TO LAST V's boundary is the match's OWN start, so
    // the later start survives — the two strategies must differ, which
    // pins the queue's boundary rule rather than an emit-one shortcut
    val ternToLast = MatchRecognize(df,
      clause("AFTER MATCH SKIP TO LAST V\nPATTERN (V B+? E $)"))
    assert(ternToLast.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 6L, 4L), (4L, 6L, 1L)))
    // capture twin (LAST over B forces it) agrees
    val ternLib = MatchRecognize(df,
      clause("AFTER MATCH SKIP PAST LAST ROW\nPATTERN (V B+? E $)",
        ",\n  LAST(B.event_id) AS lb"))
    assert(captureLowered(ternLib))
    assert(ternLib.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet === Set((1L, 6L, 4L)))
  }

  test("multi-quantifier reluctant: lexicographic preference by " +
      "declaration order — fewest B first, THEN fewest C (round 11)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      // user 1: winner spends MORE C to save a B — (nb=1, nc=2) beats
      // (nb=2, nc=1) even though both end at the same error
      (1L, 10L, "view", 1L), (2L, 20L, "other", 1L),
      (3L, 30L, "click", 1L), (4L, 40L, "click", 1L),
      (5L, 50L, "error", 1L), (6L, 60L, "click", 1L),
      (7L, 70L, "error", 1L),
      // user 2: no click directly before the error -> no candidate
      (10L, 10L, "view", 2L), (11L, 20L, "click", 2L),
      (12L, 30L, "error", 2L),
      // user 3: exactly one split
      (20L, 10L, "view", 3L), (21L, 20L, "other", 3L),
      (22L, 30L, "click", 3L), (23L, 40L, "error", 3L))
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id,
        |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
        |PATTERN (V B+? C+? E)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click',
        |       E AS event_type = 'error'""".stripMargin
    val df = rows.toDF("event_id", "ts", "event_type", "user_id")
    val out = MatchRecognize(df, clause)
    assert(out.queryExecution.executedPlan.toString.contains("- GroupCep "))
    val expected = Set((1L, 1L, 5L, 1L, 2L), (3L, 20L, 23L, 1L, 1L))
    assert(out.select("user_id", "v_id", "e_id", "nb", "nc")
      .as[(Long, Long, Long, Long, Long)].collect().toSet === expected)
    // THREE quantifiers rank the same way (B, then C, then D)
    val three = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, COUNT(B.*) AS nb, COUNT(C.*) AS nc,
        |  COUNT(D.*) AS nd
        |PATTERN (V B+? C+? D+? E)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click',
        |       D AS event_type <> 'view', E AS event_type = 'error'"""
        .stripMargin)
      .select("user_id", "v_id", "nb", "nc", "nd")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // user 1: events between v1 and e5 are {other, click, click}; the
    // lexicomin split is B={other}, C={click}, D={click} = (1,1,1)
    assert(three === Set((1L, 1L, 1L, 1L, 1L)))
    // STREAMING parity: the in-flight preference fold rides keyed state
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = MatchRecognize(
        input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
        clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_multi_rel").start()
    try {
      input.addData(rows.take(4): _*); q.processAllAvailable()
      input.addData(rows.drop(4): _*); q.processAllAvailable()
      assert(spark.table("mr_multi_rel")
        .select("user_id", "v_id", "e_id", "nb", "nc")
        .as[(Long, Long, Long, Long, Long)].collect().toSet === expected)
    } finally q.stop()
    // the $ gate and non-default skip compose with MULTIPLE
    // quantifiers too (the full quaternary): only candidates ending at
    // the partition's last row survive the gate, THEN preference
    // selects, THEN the queue consumes
    val mqa = MatchRecognize(df,
      clause.replace("PATTERN (V B+? C+? E)",
        "AFTER MATCH SKIP PAST LAST ROW\nPATTERN (V B+? C+? E $)"))
    // user 1's partition ends at e7: the gate forces E=7, C-run before
    // it is just c6 -> (nb=4, nc=1); user 3 unchanged; user 2's L=1
    // window cannot fit B+ C+
    assert(mqa.select("user_id", "v_id", "e_id", "nb", "nc")
      .as[(Long, Long, Long, Long, Long)].collect().toSet ===
      Set((1L, 1L, 7L, 4L, 1L), (3L, 20L, 23L, 1L, 1L)))
    // mixed greedy/reluctant rejects by name
    val eMix = intercept[IllegalArgumentException] {
      MatchRecognize(df, clause.replace("B+?", "B+"))
    }
    assert(eMix.getMessage.contains("mixed greedy/reluctant"))
  }

  test("alternation composes with reluctant quantifiers: branch " +
      "preference is LEFTMOST and dominates in-branch loops (round 11)") {
    // (A{1,2}?|B) with overlapping predicates (both undefined = TRUE):
    // the same event yields candidates on BOTH branches; SQL:2016
    // prefers the leftmost ALTERNATIVE — the branch decision is the
    // OUTER derivation choice, so the A candidate wins even though B
    // sits outside the quantified loop (a flat group-membership rule
    // would crown B)
    val altDf = Seq((1L, 10L, "view", 9L), (2L, 20L, "other", 9L),
      (3L, 30L, "error", 9L)).toDF("event_id", "ts", "event_type", "user_id")
    val lm = MatchRecognize(altDf,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb
        |PATTERN (V (A{1,2}?|B) E)
        |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin)
    assert(lm.select("user_id", "na", "nb")
      .as[(Long, Long, Long)].collect().toSet === Set((9L, 1L, 0L)))
    // MULTI-quantifier × alternation (round-11 late: the rejection is
    // deleted): V (K|N) B+? C+? E — the branch ranks first (leftmost K
    // when both match), then fewest B, then fewest C
    val mDf = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "other", 1L),
      (3L, 30L, "other", 1L), (4L, 40L, "click", 1L),
      (5L, 50L, "error", 1L),
      // user 2's branch event is a CLICK: both K and N match, K wins
      (10L, 10L, "view", 2L), (11L, 20L, "click", 2L),
      (12L, 30L, "other", 2L), (13L, 40L, "click", 2L),
      (14L, 50L, "error", 2L))
      .toDF("event_id", "ts", "event_type", "user_id")
    val multiAlt = MatchRecognize(mDf,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES COUNT(K.*) AS nk, COUNT(N.*) AS nn,
        |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
        |PATTERN (V (K|N) B+? C+? E)
        |DEFINE V AS event_type = 'view', K AS event_type = 'click',
        |       C AS event_type = 'click', E AS event_type = 'error'"""
        .stripMargin)
    assert(multiAlt.select("user_id", "nk", "nn", "nb", "nc")
      .as[(Long, Long, Long, Long, Long)].collect().toSet ===
      Set((1L, 0L, 1L, 1L, 1L), (2L, 1L, 0L, 1L, 1L)))
  }

  test("sqlGreedy: SQL:2016 strict selection — one MAXIMAL match per " +
      "start, earlier quantifier dominates, skip composes (round 11)") {
    val rows = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "other", 1L),
      (3L, 30L, "error", 1L), (4L, 40L, "click", 1L),
      (5L, 50L, "error", 1L),
      (10L, 10L, "view", 2L), (11L, 20L, "view", 2L),
      (12L, 30L, "other", 2L), (13L, 40L, "error", 2L))
    val df = rows.toDF("event_id", "ts", "event_type", "user_id")
    def clause(pat: String, measures: String, extra: String = "") =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES $measures
         |$extra
         |PATTERN ($pat)
         |DEFINE V AS event_type = 'view', C AS event_type = 'click',
         |       E AS event_type = 'error'""".stripMargin
    // default mode: every satisfied length; sqlGreedy: the maximal one
    val dflt = MatchRecognize(df,
      clause("V B+ E", "V.event_id AS v_id, E.event_id AS e_id"))
      .select("v_id", "e_id").as[(Long, Long)].collect().toSet
    assert(dflt === Set((1L, 3L), (1L, 5L), (10L, 13L), (11L, 13L)))
    val greedy = MatchRecognize(df,
      clause("V B+ E", "V.event_id AS v_id, E.event_id AS e_id"),
      sqlGreedy = true)
    assert(greedy.queryExecution.executedPlan.toString
      .contains("- GroupCep "))
    assert(greedy.select("v_id", "e_id").as[(Long, Long)].collect().toSet
      === Set((1L, 5L), (10L, 13L), (11L, 13L)))
    // two quantifiers: B maximal FIRST — user 1's winner takes the
    // later error with nb=2, nc=1 even though (nb=1, nc=1) at the
    // earlier error completed first
    val multi = MatchRecognize(df,
      clause("V B+ C+ E",
        "V.event_id AS v_id, COUNT(B.*) AS nb, COUNT(C.*) AS nc"),
      sqlGreedy = true)
      .select("user_id", "v_id", "nb", "nc")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(multi === Set((1L, 1L, 2L, 1L)))
    // greedy + SKIP PAST LAST ROW: the selected maximal match consumes
    // through the partition's last error — user 2's second view dies
    val skipG = MatchRecognize(df,
      clause("V B+ E", "V.event_id AS v_id, E.event_id AS e_id",
        "AFTER MATCH SKIP PAST LAST ROW"),
      sqlGreedy = true)
      .select("v_id", "e_id").as[(Long, Long)].collect().toSet
    assert(skipG === Set((1L, 5L), (10L, 13L)))
    // round 11 (late): reluctant markers COMPOSE in this mode as
    // per-quantifier polarity — a marked quantifier prefers FEWEST:
    // V B+? E selects each start's EARLIEST completion (vs the
    // all-greedy V B+ E selecting the latest, asserted above)
    val mixedRel = MatchRecognize(df,
      clause("V B+? E", "V.event_id AS v_id, E.event_id AS e_id"),
      sqlGreedy = true)
      .select("v_id", "e_id").as[(Long, Long)].collect().toSet
    assert(mixedRel === Set((1L, 3L), (10L, 13L), (11L, 13L)))
    // and the full mix: B+? C+ — fewest B FIRST, then the greedy C
    // stretches to the latest reachable error
    val mixed = MatchRecognize(df,
      clause("V B+? C+ E",
        "V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb, " +
          "COUNT(C.*) AS nc")
        .replace("C AS event_type = 'click'",
          "C AS event_type <> 'view'"),
      sqlGreedy = true)
      .select("v_id", "e_id", "nb", "nc")
      .as[(Long, Long, Long, Long)].collect().toSet
    // user 1: B={other2}, C stretches over {error3, click4} to error5;
    // user 2: B={view11} (B is undefined = TRUE), C={other12}
    assert(mixed === Set((1L, 5L, 1L, 2L), (10L, 13L, 1L, 1L)))
    // round 11 (late): the $ anchor COMPOSES — gate at the partition
    // tail, then the greedy preference selects; with PAST LAST ROW the
    // queue then keeps each user's earliest start
    val ganch = MatchRecognize(df,
      clause("V B+ E $", "V.event_id AS v_id, E.event_id AS e_id, " +
        "COUNT(B.*) AS nb"), sqlGreedy = true)
    assert(ganch.queryExecution.executedPlan.toString
      .contains("- GroupCep "))
    assert(ganch.select("v_id", "e_id", "nb")
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 5L, 3L), (10L, 13L, 2L), (11L, 13L, 1L)))
    val ganchSkip = MatchRecognize(df,
      clause("V B+ E $", "V.event_id AS v_id, COUNT(B.*) AS nb",
        "AFTER MATCH SKIP PAST LAST ROW"), sqlGreedy = true)
      .select("v_id", "nb").as[(Long, Long)].collect().toSet
    assert(ganchSkip === Set((1L, 3L), (10L, 2L)))
    // SKIP TO variable composes with greedy selection: the queue's
    // boundary reads the WINNER's captures. TO LAST B resumes at the
    // maximal match's last B (row 4 / row 12 — both past the remaining
    // views), TO FIRST B at its first B — which for user 2 is view 11,
    // so that start survives and emits its own maximal match
    val gSkipLast = MatchRecognize(df,
      clause("V B+ E", "V.event_id AS v_id, E.event_id AS e_id",
        "AFTER MATCH SKIP TO LAST B"), sqlGreedy = true)
      .select("v_id", "e_id").as[(Long, Long)].collect().toSet
    assert(gSkipLast === Set((1L, 5L), (10L, 13L)))
    val gSkipFirst = MatchRecognize(df,
      clause("V B+ E", "V.event_id AS v_id, E.event_id AS e_id",
        "AFTER MATCH SKIP TO FIRST B"), sqlGreedy = true)
      .select("v_id", "e_id").as[(Long, Long)].collect().toSet
    assert(gSkipFirst === Set((1L, 5L), (10L, 13L), (11L, 13L)))
    // round 13: ALL ROWS PER MATCH composes — the greedy winner's FULL
    // row set emits, with RUNNING measures walking its prefix and the
    // per-row CLASSIFIER. User 1's single winner spans view1..error5
    // (error3 is a B row: B is undefined = TRUE); user 2 has one
    // winner per view, both ending at error13.
    val gAll = MatchRecognize(df,
      clause("V B+ E", "CLASSIFIER() AS cls, V.event_id AS v_id, " +
        "FINAL E.event_id AS e_id, COUNT(B.*) AS nb",
        "ALL ROWS PER MATCH"), sqlGreedy = true)
      .select("user_id", "v_id", "cls", "nb", "e_id")
      .as[(Long, Long, String, Long, Long)].collect().toSeq
    assert(gAll.size === 12) // 5 + 4 + 3 rows, winners only
    assert(gAll.toSet === Set(
      (1L, 1L, "V", 0L, 5L), (1L, 1L, "B", 1L, 5L), (1L, 1L, "B", 2L, 5L),
      (1L, 1L, "B", 3L, 5L), (1L, 1L, "E", 3L, 5L),
      (2L, 10L, "V", 0L, 13L), (2L, 10L, "B", 1L, 13L),
      (2L, 10L, "B", 2L, 13L), (2L, 10L, "E", 2L, 13L),
      (2L, 11L, "V", 0L, 13L), (2L, 11L, "B", 1L, 13L),
      (2L, 11L, "E", 1L, 13L)))
    // {- -} exclusion composes (round 13): exclusion is OUTPUT-only —
    // the greedy winner is selected over the full pattern, then its B
    // rows are withheld; COUNT(B.*) on the E row still sees them all
    val gExcl = MatchRecognize(df,
      clause("V {- B+ -} E", "CLASSIFIER() AS cls, V.event_id AS v_id, " +
        "FINAL E.event_id AS e_id, COUNT(B.*) AS nb",
        "ALL ROWS PER MATCH"), sqlGreedy = true)
      .select("user_id", "v_id", "cls", "nb", "e_id")
      .as[(Long, Long, String, Long, Long)].collect().toSet
    assert(gExcl === Set(
      (1L, 1L, "V", 0L, 5L), (1L, 1L, "E", 3L, 5L),
      (2L, 10L, "V", 0L, 13L), (2L, 10L, "E", 2L, 13L),
      (2L, 11L, "V", 0L, 13L), (2L, 11L, "E", 1L, 13L)))
    // capture-lowered greedy ALL ROWS: RUNNING LAST over a quantified
    // variable is not in the block (it carries counts + FIRST rows
    // only), so this shape reads the captured rows through the
    // mkRow/explode path, which must keep producing greedy winners
    val gLast = MatchRecognize(df,
      clause("V B+ E", "CLASSIFIER() AS cls, LAST(B.event_id) AS b_last",
        "ALL ROWS PER MATCH"), sqlGreedy = true)
    assert(captureLowered(gLast))
    val gLastRows = gLast.select("user_id", "cls", "b_last")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(gLastRows.size === 12) // 5 + 4 + 3 winner rows
    assert(gLastRows.toSet === Set(
      (1L, "V", None), (1L, "B", Some(2L)), (1L, "B", Some(3L)),
      (1L, "B", Some(4L)), (1L, "E", Some(4L)),
      (2L, "V", None), (2L, "B", Some(11L)), (2L, "B", Some(12L)),
      (2L, "E", Some(12L))))
    // anchored greedy ALL ROWS lowers to the per-row block (the anchors
    // gate inside the operator); here every winner already ends at its
    // partition tail, so the row set equals the unanchored one
    val gAnchAll = MatchRecognize(df,
      clause("V B+ E $", "CLASSIFIER() AS cls, V.event_id AS v_id, " +
        "FINAL E.event_id AS e_id, COUNT(B.*) AS nb",
        "ALL ROWS PER MATCH"), sqlGreedy = true)
    assert(blockLowered(gAnchAll))
    assert(gAnchAll.select("user_id", "v_id", "cls", "nb", "e_id")
      .as[(Long, Long, String, Long, Long)].collect().toSet ===
      gAll.toSet)
    // a fixed {1} count carries no selection choice: the plan-time
    // mirror rejects it cleanly at the driver, not in executor tasks
    assert(intercept[IllegalArgumentException] {
      MatchRecognize(df, clause("V B{1} E", "V.event_id AS v_id"),
        sqlGreedy = true)
    }.getMessage.contains("at least one quantified"))
  }

  test("streaming MATCH_NUMBER(): the per-key ordinal persists across micro-batches (round 9)") {
    // Two disjoint error pairs arriving in separate micro-batches, with
    // a quiet batch in between that lets every partial die — the ordinal
    // must still advance 1, 2 (the counter survives in keyed state even
    // when no partial does). AFTER MATCH SKIP PAST LAST ROW keeps the
    // pairs disjoint so the ordinals are deterministic.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES MATCH_NUMBER() AS mn, FIRST(E.event_id) AS e1,
        |  LAST(E.event_id) AS e2
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (E{2})
        |DEFINE E AS event_type = 'error'""".stripMargin
    val input = MemoryStream[(Long, Long, String, Long)]
    val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
    val q = MatchRecognize(sdf, clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_mn_out").start()
    try {
      input.addData((1L, 10L, "error", 1L), (2L, 20L, "error", 1L))
      q.processAllAvailable()
      // a non-error event kills any open partial: state holds ONLY the
      // match counter when the next pair arrives
      input.addData((3L, 30L, "view", 1L))
      q.processAllAvailable()
      input.addData((4L, 40L, "error", 1L), (5L, 50L, "error", 1L))
      q.processAllAvailable()
      assert(spark.table("mr_mn_out").as[(Long, Long, Long, Long)]
        .collect().toSet === Set((1L, 1L, 1L, 2L), (1L, 2L, 4L, 5L)))
      // the batch twin agrees on the ordinals
      val batch = MatchRecognize(Seq(
        (1L, 10L, "error", 1L), (2L, 20L, "error", 1L),
        (3L, 30L, "view", 1L),
        (4L, 40L, "error", 1L), (5L, 50L, "error", 1L)
      ).toDF("event_id", "ts", "event_type", "user_id"), clause)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(batch === Set((1L, 1L, 1L, 2L), (1L, 2L, 4L, 5L)))
    } finally q.stop()
  }

  test("aggregate measures SUM/AVG/MIN/MAX over captured rows (RUNNING and FINAL)") {
    val df = Seq(
      (1L, 10L, "error", 1L, 4.0), (2L, 20L, "error", 1L, 1.0),
      (3L, 30L, "error", 1L, 7.0)
    ).toDF("event_id", "ts", "event_type", "user_id", "value")
    // ONE ROW: whole-match aggregates; SUM over BIGINT stays integral
    val one = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(E.event_id) AS id_sum, AVG(E.value) AS v_avg,
        |  MIN(E.value) AS v_min, MAX(E.value) AS v_max
        |PATTERN (E{3})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .select("id_sum", "v_avg", "v_min", "v_max")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(one === Seq((6L, 4.0, 1.0, 7.0)))
    // ALL ROWS: RUNNING aggregates walk the prefix; FINAL pins the match
    val all = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES SUM(E.event_id) AS run_sum, MAX(E.value) AS run_max,
        |  FINAL SUM(E.event_id) AS fin_sum
        |ALL ROWS PER MATCH
        |PATTERN (E{3})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .select("run_sum", "run_max", "fin_sum")
      .as[(Long, Double, Long)].collect().toSeq
    assert(all === Seq((1L, 4.0, 6L), (3L, 4.0, 6L), (6L, 7.0, 6L)))
  }

  test("PREV() in DEFINE enables V-shape patterns (physical row navigation)") {
    // price path 10 -> 8 -> 6 -> 7 -> 9: strict V. DOWN = value <
    // PREV(value), UP = value > PREV(value). PATTERN (S DOWN{2} UP{2})
    // anchored at the peak captures the full V exactly once.
    val df = Seq(
      (1L, 10L, 10.0), (2L, 20L, 8.0), (3L, 30L, 6.0),
      (4L, 40L, 7.0), (5L, 50L, 9.0)
    ).map { case (id, t, v) => (id, t, "tick", 1L, v) }
      .toDF("event_id", "ts", "event_type", "user_id", "value")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(DOWN.event_id) AS v_start,
        |  LAST(DOWN.event_id) AS bottom, LAST(UP.event_id) AS v_end
        |PATTERN (STRT DOWN{2} UP{2})
        |DEFINE DOWN AS value < PREV(value),
        |       UP AS value > PREV(value)""".stripMargin)
      .select("v_start", "bottom", "v_end")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((2L, 3L, 5L)))

    // PREV at the first partition row is NULL -> predicate false: a
    // pattern of ONLY down-ticks can never start at row 1
    val none = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(D.event_id) AS d1
        |PATTERN (D{5})
        |DEFINE D AS value < PREV(value)""".stripMargin).count()
    assert(none === 0L)

    // offset navigation: FIRST(X.col, n) / LAST(X.col, n)
    val off = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(T.event_id, 1) AS second_id,
        |  LAST(T.event_id, 1) AS penultimate_id,
        |  LAST(T.event_id, 9) AS out_of_range
        |PATTERN (T{5})
        |DEFINE T AS event_type = 'tick'""".stripMargin)
      .select("second_id", "penultimate_id", "out_of_range")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(off === Seq((2L, 4L, None)))

    // streaming PREV (round 9): the predecessor rows ride keyed state,
    // so the V-shape works on a stream too — split so every DOWN/UP
    // comparison crosses a micro-batch boundary at least once
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val vClause =
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(DOWN.event_id) AS v_start,
        |  LAST(DOWN.event_id) AS bottom, LAST(UP.event_id) AS v_end
        |PATTERN (STRT DOWN{2} UP{2})
        |DEFINE DOWN AS value < PREV(value),
        |       UP AS value > PREV(value)""".stripMargin
    val ticks = Seq(
      (1L, 10L, 10.0), (2L, 20L, 8.0), (3L, 30L, 6.0),
      (4L, 40L, 7.0), (5L, 50L, 9.0))
      .map { case (id, t, v) => (id, t, "tick", 1L, v) }
    for (cut <- 1 until ticks.size) {
      val input = MemoryStream[(Long, Long, String, Long, Double)]
      val sdf = input.toDF()
        .toDF("event_id", "ts", "event_type", "user_id", "value")
      val name = s"mr_prev_stream_$cut"
      val q = MatchRecognize(sdf, vClause)
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        input.addData(ticks.take(cut): _*)
        q.processAllAvailable()
        input.addData(ticks.drop(cut): _*)
        q.processAllAvailable()
        assert(spark.table(name).select("v_start", "bottom", "v_end")
          .as[(Long, Long, Long)].collect().toSeq === Seq((2L, 3L, 5L)),
          s"split at $cut diverged from the batch result")
      } finally q.stop()
    }
  }

  test("streaming nested-group AFTER MATCH SKIP PAST LAST ROW defers across micro-batches") {
    val line = "AFTER MATCH SKIP PAST LAST ROW"
    val batch = runNestedSkipBatch(line)
    // the one match: start@2 — A=x@2, B=x@3, V=x@4, C=c@5
    assert(batch === Set((2L, 1L, 5L)))
    assert(runNestedSkipStream(line, deferAcrossBatch = true) === batch)
  }

  test("streaming nested-group AFTER MATCH SKIP TO LAST equals batch across micro-batches") {
    val line = "AFTER MATCH SKIP TO LAST B"
    val batch = runNestedSkipBatch(line)
    assert(runNestedSkipStream(line, deferAcrossBatch = true) === batch)
    // SKIP TO NEXT ROW (= the all-starts default) emits the same match
    // WITHOUT deferral — the immediate path is untouched
    val next = "AFTER MATCH SKIP TO NEXT ROW"
    val noSkip = runNestedSkipBatch(next)
    assert(runNestedSkipStream(next, deferAcrossBatch = false) === noSkip)
    assert(noSkip.nonEmpty && batch.subsetOf(noSkip))
  }

  // ---- SQL:2016 RELUCTANT quantifiers (round 10): `B+?` prefers the
  // FEWEST repetitions — the shortest completion per start is THE match,
  // instead of the library default's every-satisfied-length emission.

  test("reluctant {1,2}? picks the shortest completion; greedy {1,2} the longest") {
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "error", 1L), (4L, 40L, "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def run(q: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
         |PATTERN (V B$q E)
         |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // B is undefined = TRUE, so it absorbs clicks AND errors: from the
    // view, both (B=[click], E=err3) and (B=[click, err3], E=err4) are
    // grammatical. Reluctant keeps the shortest per start; the unmarked
    // quantifier keeps the documented library semantics (every
    // satisfied length per start).
    assert(run("{1,2}?") === Set((1L, 1L, 3L, 1L)))
    assert(run("{1,2}") === Set((1L, 1L, 3L, 1L), (1L, 1L, 4L, 2L)))
    // unbounded reluctant: still the first reachable error, once
    assert(run("+?") === Set((1L, 1L, 3L, 1L)))
    assert(run("*?") === Set((1L, 1L, 3L, 1L)))
  }

  test("reluctant ?? prefers skipping the optional; plain ? emits both candidates") {
    val df = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "x", 1L), (3L, 30L, "y", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def run(q: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES A.event_id AS a_id, C.event_id AS c_id, COUNT(B.*) AS nb
         |PATTERN (A B$q C)
         |DEFINE A AS event_type = 'a', B AS event_type = 'x',
         |       C AS event_type IN ('x', 'y')""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // x@20 satisfies both B and C: skipping B completes (A, C=x) in two
    // rows; taking B completes (A, B=x, C=y) in three — same start
    assert(run("??") === Set((1L, 1L, 2L, 0L)))
    assert(run("?") === Set((1L, 1L, 2L, 0L), (1L, 1L, 3L, 1L)))
  }

  test("reluctant × anchors (batch): gates filter candidates BEFORE " +
      "preference selection") {
    // v x e x e — pattern V B+? E: the shortest completion (B=[x20],
    // E=e30) ends MID-partition; under $ it must lose to the longer
    // same-start candidate that reaches the partition tail (B 3 rows,
    // E=e50) — kill-at-first-completion would emit nothing
    val df = Seq(
      (1L, 10L, "v", 1L), (2L, 20L, "x", 1L), (3L, 30L, "e", 1L),
      (4L, 40L, "x", 1L), (5L, 50L, "e", 1L),
      // user 2 does NOT start with v: ^ must drop every candidate
      (10L, 10L, "x", 2L), (11L, 20L, "v", 2L), (12L, 30L, "x", 2L),
      (13L, 40L, "e", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def run(p: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
         |PATTERN ($p)
         |DEFINE V AS event_type = 'v', E AS event_type = 'e'"""
        .stripMargin).as[(Long, Long, Long, Long)].collect().toSet
    // unanchored reluctant: the shortest per start
    assert(run("V B+? E") === Set((1L, 1L, 3L, 1L), (2L, 11L, 13L, 1L)))
    // $: only the tail-reaching candidate survives the gate, and it IS
    // the emitted one despite being longer (user 2's single candidate
    // already ends at its partition tail)
    assert(run("V B+? E $") === Set((1L, 1L, 5L, 3L), (2L, 11L, 13L, 1L)))
    // ^: user 2's v is not the partition head — no match there
    assert(run("^ V B+? E") === Set((1L, 1L, 3L, 1L)))
    // both anchors
    assert(run("^ V B+? E $") === Set((1L, 1L, 5L, 3L)))
  }

  test("reluctant × AFTER MATCH SKIP: the preferred match per start is " +
      "selected FIRST, then the skip strategy consumes over those") {
    // v@10 v@20 x@30 e@40: reluctant starts at both views reach the
    // same error with different B runs
    val df = Seq(
      (1L, 10L, "v", 1L), (2L, 20L, "v", 1L), (3L, 30L, "x", 1L),
      (4L, 40L, "e", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def run(skipText: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
         |$skipText
         |PATTERN (V B+? E)
         |DEFINE V AS event_type = 'v', E AS event_type = 'e'"""
        .stripMargin).as[(Long, Long, Long, Long)].collect().toSet
    // default skip: one preferred (shortest) match per start
    assert(run("") === Set((1L, 1L, 4L, 2L), (1L, 2L, 4L, 1L)))
    // PAST LAST ROW: the earlier start's selection consumes through the
    // error, pruning the later start entirely
    assert(run("AFTER MATCH SKIP PAST LAST ROW") ===
      Set((1L, 1L, 4L, 2L)))
    // TO FIRST B: the boundary is v1's first B row (= the second view),
    // which the second start sits ON — it survives
    assert(run("AFTER MATCH SKIP TO FIRST B") ===
      Set((1L, 1L, 4L, 2L), (1L, 2L, 4L, 1L)))
  }

  test("reluctant × skip: streaming equals batch across micro-batch " +
      "cuts (resolver + skip-queue pendings both ride keyed state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 10L, "v", 1L), (2L, 20L, "v", 1L), (3L, 30L, "x", 1L),
      (4L, 40L, "e", 1L), (5L, 50L, "v", 1L), (6L, 60L, "x", 1L),
      (7L, 70L, "e", 1L))
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (V B+? E)
        |DEFINE V AS event_type = 'v', E AS event_type = 'e'""".stripMargin
    val expected = MatchRecognize(
      rows.toDF("event_id", "ts", "event_type", "user_id"), clause)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(expected === Set((1L, 1L, 4L, 2L), (1L, 5L, 7L, 1L)))
    Seq(2, 4, 5).foreach { cut =>
      val input = MemoryStream[(Long, Long, String, Long)]
      val q = MatchRecognize(
          input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
          clause)
        .writeStream.outputMode("append")
        .format("memory").queryName(s"rel_skip_$cut").start()
      try {
        input.addData(rows.take(cut): _*)
        q.processAllAvailable()
        input.addData(rows.drop(cut): _*)
        q.processAllAvailable()
        assert(spark.table(s"rel_skip_$cut")
          .as[(Long, Long, Long, Long)].collect().toSet === expected,
          s"cut at $cut")
      } finally q.stop()
    }
  }

  test("streaming flat ^ anchor composes with reluctant: only the " +
      "partition-head start matches, shortest completion, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
        |PATTERN (^ V B+? E)
        |DEFINE V AS event_type = 'v', E AS event_type = 'e'""".stripMargin
    val rows = Seq(
      (1L, 10L, "v", 1L), (2L, 20L, "x", 1L), (3L, 30L, "e", 1L),
      (4L, 40L, "v", 1L), (5L, 50L, "e", 1L), // non-head start: no match
      (10L, 10L, "x", 2L), (11L, 20L, "v", 2L), (12L, 30L, "e", 2L))
    val expected = MatchRecognize(
      rows.toDF("event_id", "ts", "event_type", "user_id"), clause)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(expected === Set((1L, 1L, 3L, 1L))) // user 2 head is not a v
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = MatchRecognize(
        input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
        clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("rel_head_stream").start()
    try {
      input.addData(rows.take(2): _*) // the head partial spans batches
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      assert(spark.table("rel_head_stream")
        .as[(Long, Long, Long, Long)].collect().toSet === expected)
    } finally q.stop()
  }

  test("reluctant × alternation × anchors compose (batch)") {
    val df = Seq(
      (1L, 10L, "a", 3L), (2L, 20L, "a", 3L), (3L, 30L, "e", 3L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb, E.event_id AS e_id
        |PATTERN (^ (A A|B){1,2}? E $)
        |DEFINE A AS event_type = 'a', B AS event_type = 'a',
        |       E AS event_type IN ('a', 'e')""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // start a10: (B, E=a20) fails $; (A A, E=e30) and (B B, E=e30) pass
    // both gates and the leftmost A A wins; start a20 fails ^
    assert(got === Set((3L, 2L, 0L, 3L)))
  }

  test("reluctant rejections: mixed greedy/reluctant multi, nested " +
      "multi, streaming $") {
    def mr(p: String, extra: String = "") = MatchRecognize(events,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id
         |$extra
         |PATTERN ($p)
         |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin)
    // round 11: several quantifiers COMPOSE when all are reluctant;
    // a greedy quantifier mixed into the ranking still rejects
    assert(intercept[IllegalArgumentException](mr("V? B+? E"))
      .getMessage.contains("mixed greedy/reluctant"))
    assert(intercept[IllegalArgumentException](mr("V (B E?)+? X"))
      .getMessage.contains("mixed greedy/reluctant"))
    // all-reluctant but NESTED quantifiers stay rejected
    assert(intercept[IllegalArgumentException](mr("V (B E??)+? X"))
      .getMessage.contains("sibling"))
    // round 11 (late): streaming ^ COMPOSES with multi-quantifier and
    // nested patterns — the group engine's streaming driver gates
    // branch creation on cross-batch arrival tag 0; the anchored match
    // set equals the batch route's, across any micro-batch cut
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val rows = Seq(
        // user 1 STARTS with a view: anchored match (nb=1, nc=1)
        (1L, 10L, "view", 1L), (2L, 20L, "other", 1L),
        (3L, 30L, "click", 1L), (4L, 40L, "error", 1L),
        // user 2's first event is a click: its later view can never
        // satisfy ^, however the stream is cut
        (10L, 10L, "click", 2L), (11L, 20L, "view", 2L),
        (12L, 30L, "other", 2L), (13L, 40L, "click", 2L),
        (14L, 50L, "error", 2L))
      val clause =
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
          |PATTERN (^ V B+? C+? E)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       E AS event_type = 'error'""".stripMargin
      val expected = MatchRecognize(
          rows.toDF("event_id", "ts", "event_type", "user_id"), clause)
        .select("user_id", "v_id", "e_id", "nb", "nc")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(expected === Set((1L, 1L, 4L, 1L, 1L)))
      for (cut <- Seq(0, 3, 6)) {
        val input = MemoryStream[(Long, Long, String, Long)]
        val q = MatchRecognize(
            input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
            clause)
          .writeStream.outputMode("append")
          .format("memory").queryName(s"mr_sanchor_$cut").start()
        try {
          if (cut > 0) { input.addData(rows.take(cut): _*)
                         q.processAllAvailable() }
          input.addData(rows.drop(cut): _*)
          q.processAllAvailable()
          assert(spark.table(s"mr_sanchor_$cut")
            .select("user_id", "v_id", "e_id", "nb", "nc")
            .as[(Long, Long, Long, Long, Long)].collect().toSet
            === expected, s"cut at $cut")
        } finally q.stop()
      }
      // the arrival counter must survive state removal (a ^-anchored
      // state function keeps the key's row): a
      // key whose FIRST batch opens no branch must not re-tag its next
      // batch from 0 — user 3's view arrives in batch 2 but is the
      // partition's SECOND event, so ^ can never match it
      locally {
        val input3 = MemoryStream[(Long, Long, String, Long)]
        val q3 = MatchRecognize(
            input3.toDF().toDF("event_id", "ts", "event_type", "user_id"),
            clause)
          .writeStream.outputMode("append")
          .format("memory").queryName("mr_sanchor_persist").start()
        try {
          // batch 1: only a click for user 3 — no branch opens, state
          // would be removed without the persistSeq guard
          input3.addData((20L, 10L, "click", 3L))
          q3.processAllAvailable()
          // batch 2: a view + a full pattern tail — must NOT match (^
          // pins the partition's first event, which was the click)
          input3.addData((21L, 20L, "view", 3L), (22L, 30L, "other", 3L),
            (23L, 40L, "click", 3L), (24L, 50L, "error", 3L))
          q3.processAllAvailable()
          assert(spark.table("mr_sanchor_persist").count() === 0,
            "a mid-partition view must not satisfy ^ after a quiet batch")
        } finally q3.stop()
      }
      // nested streaming ^ composes too
      val nestedClause =
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, COUNT(C.*) AS nc
          |PATTERN (^ V (B C){1} E)
          |DEFINE V AS event_type = 'view', B AS event_type = 'other',
          |       C AS event_type = 'click', E AS event_type = 'error'"""
          .stripMargin
      val nExpected = MatchRecognize(
          rows.toDF("event_id", "ts", "event_type", "user_id"),
          nestedClause)
        .select("user_id", "v_id", "nc")
        .as[(Long, Long, Long)].collect().toSet
      assert(nExpected === Set((1L, 1L, 1L)))
      val input2 = MemoryStream[(Long, Long, String, Long)]
      val q2 = MatchRecognize(
          input2.toDF().toDF("event_id", "ts", "event_type", "user_id"),
          nestedClause)
        .writeStream.outputMode("append")
        .format("memory").queryName("mr_sanchor_nested").start()
      try {
        input2.addData(rows.take(2): _*); q2.processAllAvailable()
        input2.addData(rows.drop(2): _*); q2.processAllAvailable()
        assert(spark.table("mr_sanchor_nested")
          .select("user_id", "v_id", "nc")
          .as[(Long, Long, Long)].collect().toSet === nExpected)
      } finally q2.stop()
    }
    // non-default skip composes since round 10 (behavior test below)
    // anchors compose in BATCH since round 10, and the flat ^ head
    // anchor composes under streaming too; the $ tail still rejects on
    // a stream (candidates must buffer to the partition end)
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long, String, Long)]
      val sdf = input.toDF().toDF("event_id", "ts", "event_type", "user_id")
      val e = intercept[IllegalArgumentException] {
        MatchRecognize(sdf,
          """PARTITION BY user_id
            |ORDER BY ts, event_id
            |MEASURES V.event_id AS v_id
            |PATTERN (V B+? E $)
            |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
            .stripMargin)
      }
      assert(e.getMessage.contains("batch"))
    }
  }

  test("reluctant × alternation: the SQL:2016-preferred candidate wins " +
      "even when a less-preferred branch completes FIRST") {
    // a@10 a@20 e@30: from start a10, the B-branch candidate
    // (B=[a10], E=a20) COMPLETES first, but the leftmost A A-branch
    // candidate (A=[a10,a20], E=e30) is preferred (divergence at the
    // first consumed slot: A is declared before B). Kill-at-first-
    // completion would emit the wrong match — deferral must pick A A.
    val df = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "a", 1L), (3L, 30L, "e", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def run(q: String) = MatchRecognize(df,
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb, E.event_id AS e_id
         |PATTERN ((A A|B)$q E)
         |DEFINE A AS event_type = 'a', B AS event_type = 'a',
         |       E AS event_type IN ('a', 'e')""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // start a10 → the A A candidate; start a20 → only B reaches E
    assert(run("{1,2}?") === Set((1L, 2L, 0L, 3L), (1L, 0L, 1L, 3L)))
    // the unmarked quantifier emits every candidate (library semantics)
    assert(run("{1,2}") === Set(
      (1L, 2L, 0L, 3L), // A A then e30
      (1L, 0L, 1L, 2L), // B=[a10], E=a20 (the one reluctant must NOT pick)
      (1L, 0L, 2L, 3L), // B,B reps then e30
      (1L, 0L, 1L, 3L))) // start a20: B=[a20], E=e30
  }

  test("reluctant × alternation: equal-length same-start candidates " +
      "prefer the leftmost branch at the earliest divergence") {
    // x@10 y@20 e@30, pattern (X|Y){1,2}? E with X = 'x' only and
    // Y absorbing both: start x10 yields TWO 2-rep candidates —
    // (X=[x10], Y=[y20]) and (Y=[x10], Y=[y20]) — both completing at
    // e30; the divergence is the FIRST consumed slot, where the X
    // branch (declared first) must win
    val df = Seq(
      (1L, 10L, "x", 1L), (2L, 20L, "y", 1L), (3L, 30L, "e", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES COUNT(X.*) AS nx, COUNT(Y.*) AS ny, E.event_id AS e_id
        |PATTERN ((X|Y){1,2}? E)
        |DEFINE X AS event_type = 'x', Y AS event_type IN ('x', 'y'),
        |       E AS event_type = 'e'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // start x10 → (X, Y); start y20 → (Y) alone reaches E
    assert(got === Set((1L, 1L, 1L, 3L), (1L, 0L, 1L, 3L)))
  }

  test("reluctant × PERMUTE: preference follows the listed order") {
    val df = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "b", 1L), (3L, 30L, "e", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    // PERMUTE(A, B) expands to (A B | B A); both orderings are
    // satisfiable over rows absorbing either type — the listed order
    // (A first) must win under the reluctant marker
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES FIRST(A.event_id) AS a_id, FIRST(B.event_id) AS b_id,
        |  E.event_id AS e_id
        |PATTERN (PERMUTE(A, B)+? E)
        |DEFINE A AS event_type IN ('a', 'b'),
        |       B AS event_type IN ('a', 'b'),
        |       E AS event_type = 'e'""".stripMargin)
      .as[(Long, Long, Long, Long)].collect().toSet
    // one match from start a10: A=a10, B=b20 (the LISTED ordering wins
    // over B=a10, A=b20), one repetition, E=e30
    assert(got === Set((1L, 1L, 2L, 3L)))
  }

  test("reluctant × alternation: streaming equals batch across " +
      "micro-batch splits (deferred candidates ride keyed state)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 10L, "a", 1L), (2L, 20L, "a", 1L), (3L, 30L, "e", 1L),
      (4L, 40L, "a", 2L), (5L, 50L, "e", 2L))
    val clause =
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES COUNT(A.*) AS na, COUNT(B.*) AS nb, E.event_id AS e_id
        |PATTERN ((A A|B){1,2}? E)
        |DEFINE A AS event_type = 'a', B AS event_type = 'a',
        |       E AS event_type IN ('a', 'e')""".stripMargin
    val expected = MatchRecognize(
      rows.toDF("event_id", "ts", "event_type", "user_id"), clause)
      .as[(Long, Long, Long, Long)].collect().toSet
    val input = MemoryStream[(Long, Long, String, Long)]
    val q = MatchRecognize(
        input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
        clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("rel_alt_stream").start()
    try {
      // split right after the less-preferred candidate completed: the
      // buffered candidate must wait in state, then lose to A A
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("rel_alt_stream")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === expected && expected.nonEmpty)
    } finally q.stop()
  }

  test("ALL ROWS PER MATCH WITH UNMATCHED ROWS emits non-matching rows with null measures") {
    // view click | error view — the (V C) pair matches rows 1-2; rows 3-4
    // are unmatched and must appear with the pass-through ts and nulls
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "error", 1L), (4L, 40L, "view", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES CLASSIFIER() AS who
        |ALL ROWS PER MATCH WITH UNMATCHED ROWS
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
        .stripMargin)
      .as[(Long, Long, Option[String])].collect().toSet
    assert(got === Set(
      (1L, 10L, Some("V")), (1L, 20L, Some("C")),
      (1L, 30L, None), (1L, 40L, None)))
    // plain ALL ROWS drops the unmatched rows (and the ts pass-through)
    val plain = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES CLASSIFIER() AS who
        |ALL ROWS PER MATCH
        |PATTERN (V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
        .stripMargin)
      .as[(Long, String)].collect().toSet
    assert(plain === Set((1L, "V"), (1L, "C")))
    // compositions that would misread reject by name
    assert(intercept[IllegalArgumentException] {
      MatchRecognize(df,
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS who
          |ALL ROWS PER MATCH WITH UNMATCHED ROWS
          |PATTERN (V {- C -} X)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
          .stripMargin)
    }.getMessage.contains("exclusions"))
  }

  test("reluctant on a nested group: (A B)+? stops at the first completion (batch + streaming)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // v a b a b e with E undefined (= TRUE): one group rep completes at
    // the 'a'@4 (E absorbs it), two reps complete at 'e'@6 — same start
    val rows = Seq(
      (1L, 10L, "v", 1L), (2L, 20L, "a", 1L), (3L, 30L, "b", 1L),
      (4L, 40L, "a", 1L), (5L, 50L, "b", 1L), (6L, 60L, "e", 1L))
    def clause(q: String) =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(A.*) AS na
         |PATTERN (V (A B)$q E)
         |DEFINE V AS event_type = 'v', A AS event_type = 'a',
         |       B AS event_type = 'b'""".stripMargin
    def batch(q: String) = MatchRecognize(
      rows.toDF("event_id", "ts", "event_type", "user_id"), clause(q))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch("+?") === Set((1L, 1L, 4L, 1L)))
    assert(batch("+") === Set((1L, 1L, 4L, 1L), (1L, 1L, 6L, 2L)))
    // streaming: the one-rep candidate completes in batch 2; the two-rep
    // sibling (batch 3) must have been killed in state
    val input = MemoryStream[(Long, Long, String, Long)]
    val streamDf = input.toDF()
      .toDF("event_id", "ts", "event_type", "user_id")
    val query = MatchRecognize(streamDf, clause("+?"))
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_rel_grp").start()
    try {
      Seq(rows.take(3), rows.slice(3, 4), rows.drop(4)).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      assert(spark.table("mr_rel_grp")
        .as[(Long, Long, Long, Long)].collect().toSet === batch("+?"))
    } finally query.stop()
  }

  test("streaming ^ head anchor: the cross-batch arrival ordinal pins the partition head") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_seconds
    implicit val sqlCtx = spark.sqlContext
    val clause =
      """PARTITION BY user_id
        |ORDER BY tss, event_id
        |MEASURES V.event_id AS v_id, C.event_id AS c_id
        |PATTERN (^ V C)
        |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
        .stripMargin
    // user 1: head view in batch 1, click in batch 2 — matches ACROSS the
    // split (the ordinal is the key's first-EVER event, not the batch's);
    // user 2's first-ever event is a click, so its later view+click run
    // must NOT match; user 3's second event breaks the pattern
    val b1 = Seq((1L, 10L, "view", 1L), (10L, 12L, "click", 2L),
      (20L, 15L, "view", 3L))
    val b2 = Seq((2L, 20L, "click", 1L), (11L, 22L, "view", 2L),
      (21L, 25L, "error", 3L))
    val b3 = Seq((12L, 32L, "click", 2L))
    val input = MemoryStream[(Long, Long, String, Long)]
    val streamDf = input.toDF()
      .toDF("event_id", "secs", "event_type", "user_id")
      .withColumn("tss", timestamp_seconds($"secs"))
    val query = MatchRecognize(streamDf, clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_anchor_stream").start()
    try {
      Seq(b1, b2, b3).foreach { b =>
        input.addData(b: _*); query.processAllAvailable()
      }
      val streamed = spark.table("mr_anchor_stream")
        .as[(Long, Long, Long)].collect().toSet
      val batchDf = (b1 ++ b2 ++ b3)
        .toDF("event_id", "secs", "event_type", "user_id")
        .withColumn("tss", timestamp_seconds($"secs"))
      val batch = MatchRecognize(batchDf, clause)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, 1L, 2L)))
    } finally query.stop()
    // $ under streaming still rejects — the tail is unknowable
    val e = intercept[IllegalArgumentException] {
      MatchRecognize(streamDf,
        """PARTITION BY user_id
          |ORDER BY tss, event_id
          |MEASURES E.event_id AS e_id
          |PATTERN (E $)
          |DEFINE E AS event_type = 'error'""".stripMargin)
    }
    assert(e.getMessage.contains("head anchor"))
  }

  test("streaming reluctant: shortest completion emits once, longer branch killed across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.timestamp_seconds
    implicit val sqlCtx = spark.sqlContext
    val clause =
      """PARTITION BY user_id
        |ORDER BY tss, event_id
        |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
        |PATTERN (V B+? E)
        |WITHIN INTERVAL '1' HOUR
        |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin
    // the short candidate (B=[click], E=err@30) completes in batch 2;
    // the longer same-start branch (B=[click, err@30], E=err@40) would
    // complete in batch 3 — it must have been KILLED in state at the
    // batch-2 emission
    val b1 = Seq((1L, 10L, "view", 1L), (2L, 20L, "click", 1L))
    val b2 = Seq((3L, 30L, "error", 1L))
    val b3 = Seq((4L, 40L, "error", 1L))
    val input = MemoryStream[(Long, Long, String, Long)]
    val streamDf = input.toDF()
      .toDF("event_id", "secs", "event_type", "user_id")
      .withColumn("tss", timestamp_seconds($"secs"))
      .withWatermark("tss", "0 seconds")
    val query = MatchRecognize(streamDf, clause)
      .writeStream.outputMode("append")
      .format("memory").queryName("mr_rel_stream").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      assert(spark.table("mr_rel_stream").count() === 0)
      input.addData(b2: _*); query.processAllAvailable()
      assert(spark.table("mr_rel_stream").count() === 1)
      input.addData(b3: _*); query.processAllAvailable()
      val streamed = spark.table("mr_rel_stream")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batchDf = (b1 ++ b2 ++ b3)
        .toDF("event_id", "secs", "event_type", "user_id")
        .withColumn("tss", timestamp_seconds($"secs"))
      val batch = MatchRecognize(batchDf, clause)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set((1L, 1L, 3L, 1L)))
    } finally query.stop()
  }

  test("ALL ROWS planned route equals the library route on random inputs " +
      "(quantifier x selection mode x exclusion matrix, round 13)") {
    // FINAL CLASSIFIER() is deliberately outside the block (the match's
    // last variable is not in the final block), so appending it forces
    // the capture lowering's mkRow/explode path while leaving every
    // other measure's value untouched — an independent evaluator for
    // the operator's per-row (cls_idx, within_ord) derivation.
    val types = Vector("view", "click", "error", "other")
    val rnd = new scala.util.Random(1307)
    def clause(pat: String, extraMeasure: String) =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES CLASSIFIER() AS cls, MATCH_NUMBER() AS mn,
         |  COUNT(B.*) AS nb, V.event_id AS v_id,
         |  FINAL E.event_id AS e_id$extraMeasure
         |ALL ROWS PER MATCH
         |PATTERN ($pat)
         |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
        .stripMargin
    for {
      quant <- Seq("B+", "B{1,2}")
      greedy <- Seq(false, true)
      excl <- Seq(false, true)
      trial <- 1 to 6
    } {
      val pat =
        if (excl) s"V {- $quant -} E" else s"V $quant E"
      val n = 16 + rnd.nextInt(8)
      val rows = (0 until n).map { i =>
        (i.toLong, i * 10L, types(rnd.nextInt(types.size)),
          1L + rnd.nextInt(2))
      }
      val df = rows.toDF("event_id", "ts", "event_type", "user_id")
      val planned = MatchRecognize(df, clause(pat, ""), sqlGreedy = greedy)
      val lib = MatchRecognize(df,
        clause(pat, ",\n  FINAL CLASSIFIER() AS fcls"), sqlGreedy = greedy)
        .drop("fcls")
      // the seam is only a seam if the two really take different
      // lowerings
      assert(blockLowered(planned), s"$pat greedy=$greedy not block-lowered")
      assert(captureLowered(lib), s"$pat greedy=$greedy not capture-lowered")
      val cols = Seq("user_id", "cls", "mn", "nb", "v_id", "e_id")
      def rowsOf(d: org.apache.spark.sql.DataFrame) =
        d.select(cols.head, cols.tail: _*)
          .collect().map(_.toSeq).toSeq
          .sortBy(_.mkString("|"))
      val p = rowsOf(planned); val l = rowsOf(lib)
      assert(p === l,
        s"planned != library for $pat greedy=$greedy trial=$trial: " +
          s"planned=${p.take(8)} lib=${l.take(8)} input=$rows")
    }
  }

  test("trailing optional B? / B*: the planned route answers what the library route does") {
    // a clause ending in an optional element used to crash inside the
    // planned operator's task ("the final pattern element cannot be
    // optional") while one non-routable measure sent the same clause to
    // the library route, which answered it; both now compile through the
    // same GroupCep NFA. Expected rows are the library route's answers
    // from before the change.
    val df = Seq(
      (1L, 10L, "view", 1L), (2L, 20L, "click", 1L),
      (3L, 30L, "click", 1L), (4L, 40L, "error", 1L),
      (10L, 10L, "view", 2L), (11L, 20L, "view", 2L),
      (12L, 30L, "click", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    def clause(pat: String, extra: String) =
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES A.event_id AS a_id, COUNT(B.*) AS nb,
         |  FIRST(B.event_id) AS b1$extra
         |PATTERN ($pat)
         |DEFINE A AS event_type = 'view', B AS event_type = 'click'"""
        .stripMargin
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString(",")).toSeq.sorted
    val expected = Map(
      "A B?" -> Seq("1,1,0,null,null", "1,1,1,2,2", "2,10,0,null,null",
        "2,11,0,null,null", "2,11,1,12,12"),
      "A B*" -> Seq("1,1,0,null,null", "1,1,1,2,2", "1,1,2,2,3",
        "2,10,0,null,null", "2,11,0,null,null", "2,11,1,12,12"))
    for ((pat, exp) <- expected) {
      val planned = MatchRecognize(df, clause(pat, ""))
      val lib = MatchRecognize(df,
        clause(pat, ", LAST(B.event_id) AS b_last"))
      assert(blockLowered(planned), s"$pat not block-lowered")
      assert(captureLowered(lib), s"$pat not capture-lowered")
      assert(rows(lib) === exp, pat)
      // the planned route carries no b_last column
      assert(rows(planned) === exp.map(_.split(",").init.mkString(",")), pat)
    }
  }

  // Clauses the former groupByKey library route answered: LAST over a
  // quantified variable, aggregates, SUBSET, PREV, WITH UNMATCHED, {0,m}
  // and {0,}, a nested ALL ROWS pattern, default-mode anchors, a dropped
  // interior-anchor variable and a struct PARTITION BY key.
  private lazy val oneRouteEvents = Seq(
    (1L, 10L, "view", 1L, 5L), (2L, 20L, "click", 1L, 3L),
    (3L, 30L, "click", 1L, 4L), (4L, 40L, "error", 1L, 2L),
    (5L, 50L, "view", 1L, 6L), (6L, 60L, "click", 1L, 1L),
    (7L, 70L, "error", 1L, 7L),
    (10L, 10L, "view", 2L, 9L), (11L, 20L, "click", 2L, 8L),
    (12L, 30L, "view", 2L, 2L), (13L, 40L, "click", 2L, 5L),
    (14L, 50L, "click", 2L, 3L),
    (20L, 10L, "click", 3L, 1L), (21L, 20L, "click", 3L, 2L),
    (22L, 30L, "error", 3L, 3L)
  ).toDF("event_id", "ts", "event_type", "user_id", "value")
  private val vce = """DEFINE V AS event_type = 'view',
      |       C AS event_type = 'click', E AS event_type = 'error'"""
    .stripMargin
  private def oneRouteClause(rest: String, key: String = "user_id") =
    s"PARTITION BY $key\nORDER BY ts, event_id\n$rest"
  private lazy val oneRouteCases: Seq[(String, String)] = Seq(
    "last-quantified" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, V.event_id AS v, LAST(C.event_id) AS lc
         |PATTERN (V C+)
         |$vce""".stripMargin),
    "aggregates" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, SUM(C.value) AS s, AVG(C.value) AS a,
         |  MIN(C.value) AS lo, MAX(C.ts) AS hi
         |PATTERN (V C{1,2})
         |$vce""".stripMargin),
    "subset" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, FIRST(U.event_id) AS fu,
         |  LAST(U.event_id) AS lu, COUNT(U.*) AS nu
         |PATTERN (V C+ E)
         |SUBSET U = (C, E)
         |$vce""".stripMargin),
    "prev" -> oneRouteClause(
      """MEASURES MATCH_NUMBER() AS mn, FIRST(D.event_id) AS f,
        |  LAST(D.event_id) AS l
        |PATTERN (D{2})
        |DEFINE D AS value < PREV(value)""".stripMargin),
    "unmatched" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS who
         |ALL ROWS PER MATCH WITH UNMATCHED ROWS
         |PATTERN (V C)
         |$vce""".stripMargin),
    "zero-min" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, V.event_id AS v, COUNT(C.*) AS nc,
         |  FIRST(C.event_id) AS fc, E.event_id AS e
         |PATTERN (V C{0,2} E)
         |$vce""".stripMargin),
    "zero-min-unbounded" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, V.event_id AS v, COUNT(C.*) AS nc,
         |  LAST(C.event_id) AS lc, E.event_id AS e
         |PATTERN (V C{0,} E)
         |$vce""".stripMargin),
    "nested-all-rows" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls,
         |  COUNT(C.*) AS nc, LAST(R.event_id) AS rid
         |ALL ROWS PER MATCH
         |PATTERN (V (C E?){1,2})
         |SUBSET R = (V, C, E)
         |$vce""".stripMargin),
    "tail-anchor" -> oneRouteClause(
      """MEASURES MATCH_NUMBER() AS mn, A.event_id AS a, COUNT(B.*) AS nb
        |PATTERN (A B+ $)
        |DEFINE A AS event_type = 'view', B AS event_type <> 'view'"""
        .stripMargin),
    "head-anchor-alternation" -> oneRouteClause(
      """MEASURES MATCH_NUMBER() AS mn, A.event_id AS a, COUNT(B.*) AS nb,
        |  COUNT(C.*) AS nc
        |PATTERN (^ A (B|C)+)
        |DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |       C AS event_type <> 'view'""".stripMargin),
    "dropped-interior-anchor" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, E.event_id AS e_null,
         |  V.event_id AS v, COUNT(E.*) AS ne
         |PATTERN (E? ^ V C)
         |$vce""".stripMargin),
    "struct-key" -> oneRouteClause(
      s"""MEASURES MATCH_NUMBER() AS mn, V.event_id AS v, LAST(C.event_id) AS lc
         |PATTERN (V C+)
         |$vce""".stripMargin, key = "sk"))
  private def oneRouteInput(name: String) =
    if (name != "struct-key") oneRouteEvents
    else oneRouteEvents.withColumn("sk", org.apache.spark.sql.functions
      .struct($"user_id", ($"event_id" % 2).as("odd")))

  test("every batch clause plans onto GroupCepExec and keeps its answers") {
    // expected rows are the library route's answers, MATCH_NUMBER()
    // included — except `A B+ $`, where that route also numbered the
    // candidates the anchor rejected (it answered mn 5 and 3); the
    // operator numbers only the matches it emits
    val expected = Map(
      "last-quantified" -> Seq(
        "1,1,1,2", "1,2,1,3", "1,3,5,6", "2,1,10,11", "2,2,12,13", "2,3,12,14"),
      "aggregates" -> Seq(
        "1,1,3,3.0,3,20", "1,2,7,3.5,3,30", "1,3,1,1.0,1,60",
        "2,1,8,8.0,8,20", "2,2,5,5.0,5,40", "2,3,8,4.0,3,50"),
      "subset" -> Seq(
        "1,1,2,4,3", "1,2,6,7,2"),
      "prev" -> Seq(
        "2,1,11,12"),
      "unmatched" -> Seq(
        "1,10,1,V", "1,20,1,C", "1,30,null,null", "1,40,null,null",
        "1,50,2,V", "1,60,2,C", "1,70,null,null", "2,10,1,V", "2,20,1,C",
        "2,30,2,V", "2,40,2,C", "2,50,null,null", "3,10,null,null",
        "3,20,null,null", "3,30,null,null"),
      "zero-min" -> Seq(
        "1,1,1,2,2,4", "1,2,5,1,6,7"),
      "zero-min-unbounded" -> Seq(
        "1,1,1,2,3,4", "1,2,5,1,6,7"),
      "nested-all-rows" -> Seq(
        "1,1,C,1,2", "1,1,V,0,1", "1,2,C,1,2", "1,2,C,2,3", "1,2,V,0,1",
        "1,3,C,1,2", "1,3,C,2,3", "1,3,E,2,4", "1,3,V,0,1", "1,4,C,1,6",
        "1,4,V,0,5", "1,5,C,1,6", "1,5,E,1,7", "1,5,V,0,5", "2,1,C,1,11",
        "2,1,V,0,10", "2,2,C,1,13", "2,2,V,0,12", "2,3,C,1,13", "2,3,C,2,14",
        "2,3,V,0,12"),
      "tail-anchor" -> Seq(
        "1,1,5,2", "2,1,12,2"),
      "head-anchor-alternation" -> Seq(
        "1,1,1,1,0", "1,10,1,0,3", "1,2,1,0,1", "1,3,1,2,0", "1,4,1,1,1",
        "1,5,1,1,1", "1,6,1,0,2", "1,7,1,2,1", "1,8,1,1,2", "1,9,1,1,2",
        "2,1,10,1,0", "2,2,10,0,1"),
      "dropped-interior-anchor" -> Seq(
        "1,1,null,1,0", "2,1,null,10,0"),
      "struct-key" -> Seq(
        "[1,1],1,1,3", "[2,0],1,12,14"))
    oneRouteCases.foreach { case (name, cl) =>
      val d = MatchRecognize(oneRouteInput(name), cl)
      assert(planOf(d).contains("- GroupCep ") &&
        !planOf(d).contains("MapGroups"), name)
      assert(d.collect().map(_.toSeq.mkString(",")).toSeq.sorted ===
        expected(name), name)
    }
  }
}
