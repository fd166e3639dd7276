package graft.streaming

import graft.{Q, QueryModule}

/** The MATCH_RECOGNIZE SQL surface exercised against the SAME oracles as
  * the DSL/planned CEP queries: qc10 re-expresses qc1's view→error
  * pattern as `PATTERN (V S* E)` text (relaxed `followedBy` is spelled
  * as a strict-adjacency skip-run `S*`, the standard MATCH_RECOGNIZE
  * idiom), qc11 re-expresses qc4's `times(2,3)` as `PATTERN (E{2,3})`.
  * Three independent execution paths — library DSL, planned operator,
  * SQL text — one truth per oracle.
  */
object MatchRecognizeQuery extends QueryModule {

  def all: Seq[Q] = Seq(

    q("qc10_match_recognize",
      // qc1's oracle, verbatim: every view pairs with the first error of
      // the same user within the following hour
      """SELECT v.user_id, CAST(v.ts AS TIMESTAMP) AS start_ts,
        |  MIN(CAST(e.ts AS TIMESTAMP)) AS end_ts
        |FROM events v JOIN events e ON e.user_id = v.user_id
        |  AND e.event_type = 'error'
        |  AND (CAST(e.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
        |       OR (CAST(e.ts AS TIMESTAMP) = CAST(v.ts AS TIMESTAMP)
        |           AND e.event_id > v.event_id))
        |  AND CAST(e.ts AS TIMESTAMP) < CAST(v.ts AS TIMESTAMP) + INTERVAL '1 hour'
        |WHERE v.event_type = 'view'
        |GROUP BY v.user_id, v.ts
        |ORDER BY v.user_id, start_ts""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.functions.{col, min}
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.ts AS start_ts, E.ts AS end_ts
          |AFTER MATCH SKIP TO NEXT ROW
          |PATTERN (V S* E)
          |WITHIN INTERVAL '1' HOUR
          |DEFINE V AS event_type = 'view',
          |       S AS event_type <> 'error',
          |       E AS event_type = 'error'""".stripMargin)
        .groupBy(col("user_id"), col("start_ts"))
        .agg(min(col("end_ts")).as("end_ts"))
        .orderBy("user_id", "start_ts")
    },

    q("qc11_match_recognize_times",
      // qc4's oracle, verbatim: every (offset, length) pair of 2-3
      // CONSECUTIVE errors per user
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |e AS (SELECT user_id, ts, rn,
        |    rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM o WHERE event_type = 'error'),
        |runs AS (SELECT user_id, grp, COUNT(*) AS len, MIN(rn) AS rn0
        |  FROM e GROUP BY 1, 2),
        |pos AS (SELECT e.user_id, e.ts AS first_ts, e.rn, e.grp,
        |    (r.len - (e.rn - r.rn0)) AS remain
        |  FROM e JOIN runs r ON r.user_id = e.user_id AND r.grp = e.grp),
        |m AS (SELECT user_id, first_ts, grp, rn + l.len - 1 AS last_rn
        |  FROM pos CROSS JOIN (VALUES (2), (3)) AS l(len)
        |  WHERE remain >= l.len)
        |SELECT m.user_id AS user_id, m.first_ts, e2.ts AS last_ts
        |FROM m JOIN e e2 ON e2.user_id = m.user_id AND e2.rn = m.last_rn
        |ORDER BY m.user_id, m.first_ts, last_ts""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES FIRST(E.ts) AS first_ts, LAST(E.ts) AS last_ts
          |AFTER MATCH SKIP TO NEXT ROW
          |PATTERN (E{2,3})
          |DEFINE E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "first_ts", "last_ts")
    },

    q("qc14_match_recognize_all_rows",
      // ALL ROWS PER MATCH over consecutive error PAIRS with
      // MATCH_NUMBER() and RUNNING-vs-FINAL measures: per match, two
      // output rows — running count 1 then 2, final count 2 on both,
      // row_ts walks the match while final_ts pins its last event.
      // Oracle: adjacent-position error pairs via row_number, one UNION
      // branch per output row of the match.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |m AS (SELECT a.user_id, a.rn AS rn0, a.ts AS t0, b.ts AS t1,
        |    row_number() OVER (PARTITION BY a.user_id ORDER BY a.rn) AS mn
        |  FROM o a JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |  WHERE a.event_type = 'error' AND b.event_type = 'error')
        |SELECT user_id, mn, CAST(1 AS BIGINT) AS rc, CAST(2 AS BIGINT) AS fc,
        |  t0 AS row_ts, t1 AS final_ts FROM m
        |UNION ALL
        |SELECT user_id, mn, CAST(2 AS BIGINT), CAST(2 AS BIGINT), t1, t1 FROM m
        |ORDER BY user_id, mn, rc""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES MATCH_NUMBER() AS mn, COUNT(E.*) AS rc,
          |  FINAL COUNT(E.*) AS fc, LAST(E.ts) AS row_ts,
          |  FINAL LAST(E.ts) AS final_ts
          |ALL ROWS PER MATCH
          |PATTERN (E{2})
          |DEFINE E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "mn", "rc")
    },

    q("qc15_match_recognize_agg_measures",
      // aggregate MEASURES over the captured rows (Flink 1.7+ surface):
      // per consecutive error pair, the SUM of the two event_ids (BIGINT
      // — exact cross-engine) and MIN/MAX of ts. Oracle: the same
      // adjacent-position pair machinery as qc14.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |m AS (SELECT a.user_id, a.event_id + b.event_id AS id_sum,
        |    a.ts AS first_ts, b.ts AS last_ts
        |  FROM o a JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |  WHERE a.event_type = 'error' AND b.event_type = 'error')
        |SELECT user_id, id_sum, first_ts, last_ts FROM m
        |ORDER BY user_id, first_ts, id_sum""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES SUM(E.event_id) AS id_sum, MIN(E.ts) AS first_ts,
          |  MAX(E.ts) AS last_ts
          |PATTERN (E{2})
          |DEFINE E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "first_ts", "id_sum")
    },

    q("qc16_match_recognize_prev",
      // PREV() physical navigation (round 8): two CONSECUTIVE rows each
      // strictly below their predecessor's value — the falling-edge
      // pattern every tick-analysis query writes. Oracle: the same lag
      // window the engine precompiles, plus adjacent-position pairing.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
        |  FROM events),
        |d AS (SELECT * FROM o WHERE value < pv),
        |m AS (SELECT a.user_id, a.ts AS first_ts, b.ts AS last_ts,
        |    a.event_id + b.event_id AS id_sum
        |  FROM d a JOIN d b ON b.user_id = a.user_id AND b.rn = a.rn + 1)
        |SELECT user_id, first_ts, last_ts, id_sum FROM m
        |ORDER BY user_id, first_ts, id_sum""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES FIRST(D.ts) AS first_ts, LAST(D.ts) AS last_ts,
          |  SUM(D.event_id) AS id_sum
          |PATTERN (D{2})
          |DEFINE D AS value < PREV(value)""".stripMargin)
        .orderBy("user_id", "first_ts", "id_sum")
    },

    q("qc17_match_recognize_alternation",
      // alternation (round 9): the two-branch funnel every conversion
      // query writes — view, then (click | error), then purchase, all
      // strictly adjacent. Branch predicates are disjoint (event_type
      // equality), so the oracle is a plain three-way adjacent-position
      // join with the branch disjunction on the middle row.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT a.user_id AS user_id, a.ts AS start_ts, c.ts AS end_ts,
        |  c.event_id AS end_id,
        |  CAST(CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END AS BIGINT)
        |    AS via_click
        |FROM o a
        |JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
        |WHERE a.event_type = 'view' AND b.event_type IN ('click', 'error')
        |  AND c.event_type = 'purchase'
        |ORDER BY 1, 2, 4""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.ts AS start_ts, P.ts AS end_ts, P.event_id AS end_id,
          |  COUNT(C.*) AS via_click
          |PATTERN (V (C | E) P)
          |DEFINE V AS event_type = 'view',
          |       C AS event_type = 'click',
          |       E AS event_type = 'error',
          |       P AS event_type = 'purchase'""".stripMargin)
        .orderBy("user_id", "start_ts", "end_id")
    },

    q("qc18_match_recognize_permute",
      // PERMUTE (round 9): click and error in EITHER order between a view
      // and a purchase, all strictly adjacent — SQL:2016 expands
      // PERMUTE(C, E) to (C E | E C), which the alternation machinery
      // compiles directly. Oracle: four-way adjacent-position join with
      // the order disjunction on the middle pair; c_id/e_id pick the
      // click/error row whichever position it matched in.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT a.user_id AS user_id, a.ts AS start_ts,
        |  CASE WHEN b.event_type = 'click' THEN b.event_id ELSE c.event_id
        |    END AS c_id,
        |  CASE WHEN b.event_type = 'error' THEN b.event_id ELSE c.event_id
        |    END AS e_id,
        |  d.event_id AS end_id
        |FROM o a
        |JOIN o b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |JOIN o c ON c.user_id = a.user_id AND c.rn = a.rn + 2
        |JOIN o d ON d.user_id = a.user_id AND d.rn = a.rn + 3
        |WHERE a.event_type = 'view' AND d.event_type = 'purchase'
        |  AND ((b.event_type = 'click' AND c.event_type = 'error') OR
        |       (b.event_type = 'error' AND c.event_type = 'click'))
        |ORDER BY 1, 2, 5""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.ts AS start_ts, C.event_id AS c_id,
          |  E.event_id AS e_id, P.event_id AS end_id
          |PATTERN (V PERMUTE(C, E) P)
          |DEFINE V AS event_type = 'view',
          |       C AS event_type = 'click',
          |       E AS event_type = 'error',
          |       P AS event_type = 'purchase'""".stripMargin)
        .orderBy("user_id", "start_ts", "end_id")
    },

    q("qc19_match_recognize_exclusion",
      // {- -} row-pattern exclusion (round 9): every view pairs with its
      // first subsequent error; ALL ROWS output emits the V and E rows
      // but NOT the skip-run between them — which still matched and still
      // feeds the RUNNING COUNT on the E row (SQL:2016 exclusion is
      // output-only). Oracle: first-error pairing via MIN(rn), then a
      // UNION of the two emitted row shapes.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |v AS (SELECT user_id, event_id AS v_id, rn AS vrn FROM o
        |  WHERE event_type = 'view'),
        |e AS (SELECT v.user_id, v.v_id, v.vrn, MIN(x.rn) AS ern
        |  FROM v JOIN o x ON x.user_id = v.user_id AND x.rn > v.vrn
        |    AND x.event_type = 'error'
        |  GROUP BY v.user_id, v.v_id, v.vrn),
        |m AS (SELECT e.user_id, e.v_id, e.vrn, e.ern, o.event_id AS e_id
        |  FROM e JOIN o ON o.user_id = e.user_id AND o.rn = e.ern)
        |SELECT user_id, 'V' AS who, CAST(0 AS BIGINT) AS ns, v_id,
        |  CAST(NULL AS BIGINT) AS e_id FROM m
        |UNION ALL
        |SELECT user_id, 'E' AS who, ern - vrn - 1 AS ns, v_id, e_id FROM m
        |ORDER BY user_id, v_id, who""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS who, COUNT(S.*) AS ns,
          |  V.event_id AS v_id, E.event_id AS e_id
          |ALL ROWS PER MATCH
          |PATTERN (V {- S* -} E)
          |DEFINE V AS event_type = 'view', S AS event_type <> 'error',
          |       E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "v_id", "who")
    },

    q("qc20_match_recognize_subset",
      // SUBSET union variables (round 9): a view immediately followed by
      // a click; U = (V, C) so measures over U span both rows — FIRST/
      // LAST give the edge event ids, COUNT the union size, MIN the
      // smaller id. Oracle: the strict-adjacency self-join (rn + 1).
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT v.user_id AS user_id, v.event_id AS first_id,
        |  c.event_id AS last_id, CAST(2 AS BIGINT) AS nu,
        |  LEAST(v.event_id, c.event_id) AS min_id
        |FROM o v JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 1
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY v.user_id, first_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES FIRST(U.event_id) AS first_id, LAST(U.event_id) AS last_id,
          |  COUNT(U.*) AS nu, MIN(U.event_id) AS min_id
          |PATTERN (V C)
          |SUBSET U = (V, C)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
        .orderBy("user_id", "first_id")
    },

    q("qc27_mr_alt_subset_agg",
      // COMPOSITION witness (round 10): quantified alternation + SUBSET
      // + aggregate measures in ONE clause — the features landed
      // separately in rounds 9-10, and compositions are where engines
      // diverge. `V (C|E)+ P` strictly adjacent: because the + run is
      // maximal-by-construction (a shorter run would put a MID row
      // where the purchase must sit), each view starts at most one
      // match — the oracle finds the next non-mid row per view via one
      // following-frame window and checks it is a purchase.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |o2 AS (SELECT *, MIN(CASE WHEN event_type NOT IN ('click', 'error')
        |      THEN rn END) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nnm
        |  FROM o),
        |m AS (SELECT a.user_id, a.rn, a.ts AS start_ts,
        |    p.event_id AS end_id, a.nnm - a.rn - 1 AS n_mid
        |  FROM o2 a JOIN o2 p ON p.user_id = a.user_id AND p.rn = a.nnm
        |  WHERE a.event_type = 'view' AND p.event_type = 'purchase'
        |    AND a.nnm - a.rn >= 2)
        |SELECT m.user_id AS user_id, m.start_ts, m.end_id,
        |  CAST(m.n_mid AS BIGINT) AS n_mid,
        |  MIN(x.event_id) AS first_mid_id, MAX(x.event_id) AS last_mid_id
        |FROM m JOIN o x ON x.user_id = m.user_id
        |  AND x.rn > m.rn AND x.rn <= m.rn + m.n_mid
        |GROUP BY 1, 2, 3, 4
        |ORDER BY user_id, start_ts, end_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.ts AS start_ts, P.event_id AS end_id,
          |  COUNT(M.*) AS n_mid, MIN(M.event_id) AS first_mid_id,
          |  MAX(M.event_id) AS last_mid_id
          |PATTERN (V (C | E)+ P)
          |SUBSET M = (C, E)
          |DEFINE V AS event_type = 'view',
          |       C AS event_type = 'click',
          |       E AS event_type = 'error',
          |       P AS event_type = 'purchase'""".stripMargin)
        .orderBy("user_id", "start_ts", "end_id")
    },

    q("qc21_match_recognize_head_anchor",
      // ^ start anchor (round 9): users whose FIRST two events are a view
      // then a click, strict adjacency pinned to the partition head.
      // Oracle: rn = 1 is a view and rn = 2 is a click.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT v.user_id AS user_id, v.event_id AS v_id, c.event_id AS c_id
        |FROM o v JOIN o c ON c.user_id = v.user_id AND c.rn = 2
        |WHERE v.rn = 1 AND v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY v.user_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, C.event_id AS c_id
          |PATTERN (^ V C)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
        .orderBy("user_id")
    },

    q("qc23_mr_flat_planned",
      // The widened planned routing (round 9): a flat unquantified
      // NoSkip clause — the everyday strict-adjacency funnel — compiles
      // onto GroupCepExec (codegen'd predicates, one planner-inserted
      // exchange+sort) instead of the groupByKey library driver.
      // Oracle: adjacent-row self-join on the row_number lattice.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT v.user_id AS user_id, v.event_id AS v_id, c.event_id AS c_id
        |FROM o v JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 1
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, C.event_id AS c_id
          |PATTERN (V C)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click'""".stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc24_mr_reluctant",
      // RELUCTANT quantifier (round 10): `V B+? E` with B undefined
      // (= TRUE) — B absorbs ANY rows, so every error at least two
      // positions past the view completes a candidate; reluctant keeps
      // only the FIRST (fewest B rows). Oracle: MIN over the rn lattice,
      // nb = run length between the view and its first reachable error.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |v AS (SELECT user_id, event_id AS v_id, rn AS vrn FROM o
        |  WHERE event_type = 'view'),
        |m AS (SELECT v.user_id, v.v_id, v.vrn, MIN(x.rn) AS ern
        |  FROM v JOIN o x ON x.user_id = v.user_id AND x.rn >= v.vrn + 2
        |    AND x.event_type = 'error'
        |  GROUP BY 1, 2, 3)
        |SELECT m.user_id AS user_id, m.v_id AS v_id, o.event_id AS e_id,
        |  m.ern - m.vrn - 1 AS nb
        |FROM m JOIN o ON o.user_id = m.user_id AND o.rn = m.ern
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
          |PATTERN (V B+? E)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc25_mr_reluctant_group",
      // RELUCTANT on a nested group (round 10): `V (C X){1,3}? E` — a
      // view, then the FEWEST (click, anything) pairs, then an error.
      // X is undefined (= TRUE), so candidates of 1..3 reps can share a
      // start; the group engine keeps only the shortest completion.
      // Oracle: one rn-lattice join per rep count, MIN(k) per start.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |k1 AS (SELECT v.user_id, v.rn AS vrn, v.event_id AS v_id,
        |    1 AS k, e.event_id AS e_id
        |  FROM o v
        |  JOIN o c1 ON c1.user_id = v.user_id AND c1.rn = v.rn + 1
        |    AND c1.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 3
        |    AND e.event_type = 'error'
        |  WHERE v.event_type = 'view'),
        |k2 AS (SELECT v.user_id, v.rn AS vrn, v.event_id AS v_id,
        |    2 AS k, e.event_id AS e_id
        |  FROM o v
        |  JOIN o c1 ON c1.user_id = v.user_id AND c1.rn = v.rn + 1
        |    AND c1.event_type = 'click'
        |  JOIN o c2 ON c2.user_id = v.user_id AND c2.rn = v.rn + 3
        |    AND c2.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 5
        |    AND e.event_type = 'error'
        |  WHERE v.event_type = 'view'),
        |k3 AS (SELECT v.user_id, v.rn AS vrn, v.event_id AS v_id,
        |    3 AS k, e.event_id AS e_id
        |  FROM o v
        |  JOIN o c1 ON c1.user_id = v.user_id AND c1.rn = v.rn + 1
        |    AND c1.event_type = 'click'
        |  JOIN o c2 ON c2.user_id = v.user_id AND c2.rn = v.rn + 3
        |    AND c2.event_type = 'click'
        |  JOIN o c3 ON c3.user_id = v.user_id AND c3.rn = v.rn + 5
        |    AND c3.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 7
        |    AND e.event_type = 'error'
        |  WHERE v.event_type = 'view'),
        |u AS (SELECT * FROM k1 UNION ALL SELECT * FROM k2
        |  UNION ALL SELECT * FROM k3),
        |m AS (SELECT user_id, vrn, v_id, MIN(k) AS mk
        |  FROM u GROUP BY 1, 2, 3)
        |SELECT m.user_id AS user_id, m.v_id AS v_id, u.e_id AS e_id,
        |  CAST(m.mk AS BIGINT) AS nc
        |FROM m JOIN u ON u.user_id = m.user_id AND u.vrn = m.vrn
        |  AND u.k = m.mk
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(C.*) AS nc
          |PATTERN (V (C X){1,3}? E)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc26_mr_unmatched_rows",
      // ALL ROWS PER MATCH WITH UNMATCHED ROWS (round 10, SQL:2016
      // beyond Flink): every event row appears exactly once — matched
      // rows with their CLASSIFIER(), the rest with NULL. The adjacency
      // pattern keeps each row in at most one match (type-disjoint V/C),
      // so the oracle is the rn+1 pair set plus a membership CASE.
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT v.user_id, v.rn AS vrn, c.rn AS crn
        |  FROM o v JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 1
        |  WHERE v.event_type = 'view' AND c.event_type = 'click')
        |SELECT o.user_id AS user_id, o.ts AS ts,
        |  CASE WHEN pv.vrn IS NOT NULL THEN 'V'
        |    WHEN pc.crn IS NOT NULL THEN 'C' END AS who
        |FROM o
        |LEFT JOIN p pv ON pv.user_id = o.user_id AND pv.vrn = o.rn
        |LEFT JOIN p pc ON pc.user_id = o.user_id AND pc.crn = o.rn
        |ORDER BY user_id, ts, coalesce(who, 'ZZ'), o.event_id""".stripMargin) {
      (s, d) =>
      import org.apache.spark.sql.functions.{coalesce, col, lit}
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES CLASSIFIER() AS who
          |ALL ROWS PER MATCH WITH UNMATCHED ROWS
          |PATTERN (V C)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click'"""
          .stripMargin)
        .orderBy(col("user_id"), col("ts"),
          coalesce(col("who"), lit("ZZ")))
    },

    q("qc22_match_recognize_tail_anchor",
      // $ end anchor (round 9): users whose LAST event is an error — every
      // error row is a candidate under all-starts, the anchor keeps only
      // the partition tail. Oracle: rn equals the partition row count.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, event_id AS e_id FROM o
        |WHERE rn = n AND event_type = 'error'
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES E.event_id AS e_id
          |PATTERN (E $)
          |DEFINE E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id")
    },

    q("qc29_mr_reluctant_tail_anchor",
      // RELUCTANT × $ ANCHOR (round 10): `V B+? E $` — from every view,
      // the SHORTEST completion usually ends mid-partition and FAILS
      // the tail anchor; the emitted match per start is the (unique)
      // candidate whose error IS the partition's last row. Exercises
      // the buffer-to-end + gate-before-selection driver: a user whose
      // last event is not an error contributes nothing, however many
      // views it has. Oracle: last-row error join, nb = rows between.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |l AS (SELECT user_id, event_id AS e_id, n FROM o
        |  WHERE rn = n AND event_type = 'error')
        |SELECT o.user_id AS user_id, o.event_id AS v_id, l.e_id AS e_id,
        |  CAST(l.n - 1 - o.rn AS BIGINT) AS nb
        |FROM o JOIN l ON l.user_id = o.user_id
        |WHERE o.event_type = 'view' AND o.rn <= l.n - 2
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
          |PATTERN (V B+? E $)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc30_mr_reluctant_skip",
      // RELUCTANT × AFTER MATCH SKIP PAST LAST ROW (round 10): per
      // start the FEWEST-B completion is selected, then the skip
      // strategy consumes through its last row — the classic greedy
      // non-overlapping chain (earliest view pairs with its first
      // reachable error, everything consumed re-starts after it).
      // Oracle: a recursive CTE walking exactly that chain per user
      // (events carry no (user, ts) duplicates at either scale, so rn
      // order == event-time order and the queue boundary is exact).
      """WITH RECURSIVE o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT v.user_id, v.rn AS vrn, v.event_id AS v_id,
        |    MIN(e.rn) AS ern
        |  FROM o v JOIN o e ON e.user_id = v.user_id AND e.rn >= v.rn + 2
        |    AND e.event_type = 'error'
        |  WHERE v.event_type = 'view' GROUP BY 1, 2, 3),
        |r(user_id, vrn, v_id, ern) AS (
        |  SELECT user_id, vrn, v_id, ern FROM p p1
        |  WHERE vrn = (SELECT MIN(p2.vrn) FROM p p2
        |               WHERE p2.user_id = p1.user_id)
        |  UNION ALL
        |  SELECT p.user_id, p.vrn, p.v_id, p.ern FROM r JOIN p
        |    ON p.user_id = r.user_id
        |    AND p.vrn = (SELECT MIN(p2.vrn) FROM p p2
        |                 WHERE p2.user_id = r.user_id AND p2.vrn > r.ern)
        |)
        |SELECT r.user_id AS user_id, r.v_id AS v_id, o.event_id AS e_id,
        |  CAST(r.ern - r.vrn - 1 AS BIGINT) AS nb
        |FROM r JOIN o ON o.user_id = r.user_id AND o.rn = r.ern
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
          |AFTER MATCH SKIP PAST LAST ROW
          |PATTERN (V B+? E)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc32_mr_reluctant_anchor_skip",
      // RELUCTANT × $ ANCHOR × AFTER MATCH SKIP PAST LAST ROW (round
      // 11 — the last ternary composition): candidates gate on the
      // partition tail, the per-start preference selects, THEN the
      // skip queue consumes over the selections. Under $ every
      // selected match ends at the partition's last row, so PAST LAST
      // ROW collapses each partition to its EARLIEST-start match —
      // qc29's row set reduced to MIN(v) per user, which pins the
      // queue's start-ordered boundary rule (an arbitrary survivor
      // would hash-mismatch).
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |l AS (SELECT user_id, event_id AS e_id, n FROM o
        |  WHERE rn = n AND event_type = 'error'),
        |v AS (SELECT o.user_id, o.event_id AS v_id, l.e_id,
        |    CAST(l.n - 1 - o.rn AS BIGINT) AS nb,
        |    row_number() OVER (PARTITION BY o.user_id ORDER BY o.rn) AS pos
        |  FROM o JOIN l ON l.user_id = o.user_id
        |  WHERE o.event_type = 'view' AND o.rn <= l.n - 2)
        |SELECT user_id, v_id, e_id, nb FROM v WHERE pos = 1
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
          |AFTER MATCH SKIP PAST LAST ROW
          |PATTERN (V B+? E $)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin)
        .orderBy("user_id")
    },

    q("qc33_mr_multi_alt",
      // MULTI-QUANTIFIER × ALTERNATION (round 11 late — the rejection
      // is deleted): `V (K|N) B+? D+? E`. The structural decision
      // lattice ranks the ALTERNATION first — when the branch event is
      // a click BOTH branches match and leftmost K must win — then
      // fewest B, then fewest D. Oracle: the qc31 rn lattice shifted
      // one position right of the branch event, with nk read straight
      // off the branch row's type (a wrong branch preference or a
      // wrong (nb, nd) lexicomin both hash-mismatch).
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (SELECT user_id, rn,
        |    rn - coalesce(max(CASE WHEN event_type <> 'click' THEN rn END)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS crl
        |  FROM o),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, e.event_id AS e_id,
        |    CASE WHEN k.event_type = 'click' THEN 1 ELSE 0 END AS nk,
        |    GREATEST(1, e.rn - v.rn - 2 - p.crl) AS nb,
        |    (e.rn - v.rn - 2) - GREATEST(1, e.rn - v.rn - 2 - p.crl) AS nd,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |      ORDER BY GREATEST(1, e.rn - v.rn - 2 - p.crl),
        |        (e.rn - v.rn - 2) - GREATEST(1, e.rn - v.rn - 2 - p.crl)) AS pref
        |  FROM o v
        |  JOIN o k ON k.user_id = v.user_id AND k.rn = v.rn + 1
        |  JOIN o e ON e.user_id = v.user_id AND e.event_type = 'error'
        |    AND e.rn >= v.rn + 4
        |  JOIN r p ON p.user_id = e.user_id AND p.rn = e.rn - 1
        |    AND p.crl >= 1
        |  WHERE v.event_type = 'view')
        |SELECT user_id, v_id, e_id, CAST(nk AS BIGINT) AS nk,
        |  CAST(1 - nk AS BIGINT) AS nn, CAST(nb AS BIGINT) AS nb,
        |  CAST(nd AS BIGINT) AS nd
        |FROM cand WHERE pref = 1
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(K.*) AS nk, COUNT(N.*) AS nn,
          |  COUNT(B.*) AS nb, COUNT(D.*) AS nd
          |PATTERN (V (K|N) B+? D+? E)
          |DEFINE V AS event_type = 'view', K AS event_type = 'click',
          |       D AS event_type = 'click', E AS event_type = 'error'"""
          .stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc34_mr_sql_greedy",
      // SQL:2016 STRICT GREEDY selection (round 11 — the opt-in mode
      // closing the engine's documented emission deviation): `V B+ E`
      // under sqlGreedy yields ONE maximal match per start — each view
      // pairs with the partition's LAST reachable error and B takes
      // everything between, where the default flink-cep emission
      // reports every error. Oracle: max-rn error per view.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, e.event_id AS e_id,
        |    CAST(e.rn - v.rn - 1 AS BIGINT) AS nb,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |                       ORDER BY e.rn DESC) AS pref
        |  FROM o v JOIN o e ON e.user_id = v.user_id
        |    AND e.event_type = 'error' AND e.rn >= v.rn + 2
        |  WHERE v.event_type = 'view')
        |SELECT user_id, v_id, e_id, nb FROM cand WHERE pref = 1
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id, COUNT(B.*) AS nb
          |PATTERN (V B+ E)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin, sqlGreedy = true)
        .orderBy("user_id", "v_id")
    },

    q("qc35_mr_sql_greedy_multi",
      // sqlGreedy with TWO quantifiers: `V B+ C+ E` — the EARLIER
      // greedy quantifier dominates: B maximal first, so C collapses
      // to the single click right before the error and the winning
      // error is the LAST one preceded by a click (a later error with
      // a longer click run still loses the divergence to more B).
      // Oracle: max-rn click-preceded error per view, nb = L-1, nc = 1.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, e.event_id AS e_id,
        |    CAST(e.rn - v.rn - 2 AS BIGINT) AS nb,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |                       ORDER BY e.rn DESC) AS pref
        |  FROM o v
        |  JOIN o e ON e.user_id = v.user_id AND e.event_type = 'error'
        |    AND e.rn >= v.rn + 3
        |  JOIN o p ON p.user_id = e.user_id AND p.rn = e.rn - 1
        |    AND p.event_type = 'click'
        |  WHERE v.event_type = 'view')
        |SELECT user_id, v_id, e_id, nb, CAST(1 AS BIGINT) AS nc
        |FROM cand WHERE pref = 1
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
          |PATTERN (V B+ C+ E)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       E AS event_type = 'error'""".stripMargin, sqlGreedy = true)
        .orderBy("user_id", "v_id")
    },

    q("qc36_mr_mixed_polarity",
      // MIXED greedy/reluctant polarity under sqlGreedy (round 11,
      // last named selection rejection deleted): `V B+? C+ E` — the
      // RELUCTANT B takes the fewest clicks (one), then the GREEDY C
      // stretches to the LAST error inside the view-free window (C
      // matches anything but views, so a later view walls it off).
      // All-reluctant picks the EARLIEST such error instead and
      // all-greedy a bigger nb — the oracle pins this exact mix.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |nv AS (SELECT user_id, rn, event_id,
        |    lead(rn) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
        |  FROM o WHERE event_type = 'view'),
        |sel AS (SELECT nv.user_id, nv.rn AS vrn, nv.event_id AS v_id,
        |    MAX(e.rn) AS ern
        |  FROM nv
        |  JOIN o k ON k.user_id = nv.user_id AND k.rn = nv.rn + 1
        |    AND k.event_type = 'click'
        |  JOIN o e ON e.user_id = nv.user_id AND e.event_type = 'error'
        |    AND e.rn >= nv.rn + 3
        |    AND (nv.nxt IS NULL OR e.rn < nv.nxt)
        |  GROUP BY 1, 2, 3)
        |SELECT s.user_id, s.v_id, eo.event_id AS e_id,
        |  CAST(1 AS BIGINT) AS nb,
        |  CAST(s.ern - s.vrn - 2 AS BIGINT) AS nc
        |FROM sel s JOIN o eo ON eo.user_id = s.user_id AND eo.rn = s.ern
        |ORDER BY s.user_id, s.v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
          |PATTERN (V B+? C+ E)
          |DEFINE V AS event_type = 'view', B AS event_type = 'click',
          |       C AS event_type <> 'view', E AS event_type = 'error'"""
          .stripMargin, sqlGreedy = true)
        .orderBy("user_id", "v_id")
    },

    q("qc37_mr_greedy_anchor",
      // GREEDY SELECTION × $ ANCHOR (round 11 late — the composition's
      // last corner): `V B+ C+ E $` under sqlGreedy — the gate fixes
      // the match end at the partition's LAST row (an error, with a
      // click right before it for C+), then the greedy preference
      // maximizes B, collapsing C to that single click. Oracle: per
      // qualifying user (last row error, click at n-1), every view at
      // rn <= n-3 yields (nb = n-rn-2, nc = 1).
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |l AS (SELECT user_id, event_id AS e_id, n FROM o
        |  WHERE rn = n AND event_type = 'error'),
        |p AS (SELECT o.user_id FROM o JOIN l ON l.user_id = o.user_id
        |  WHERE o.rn = l.n - 1 AND o.event_type = 'click')
        |SELECT o.user_id, o.event_id AS v_id, l.e_id,
        |  CAST(l.n - o.rn - 2 AS BIGINT) AS nb, CAST(1 AS BIGINT) AS nc
        |FROM o JOIN l ON l.user_id = o.user_id
        |JOIN p ON p.user_id = o.user_id
        |WHERE o.event_type = 'view' AND o.rn <= l.n - 3
        |ORDER BY o.user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
          |PATTERN (V B+ C+ E $)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       E AS event_type = 'error'""".stripMargin,
        sqlGreedy = true)
        .orderBy("user_id", "v_id")
    },

    q("qc38_mr_greedy_all_rows",
      // GREEDY SELECTION × ALL ROWS PER MATCH (round 13): `V B+ E`
      // under sqlGreedy emits each view's MAXIMAL match — the last
      // reachable error — and ALL ROWS outputs every row of that
      // winner: the view, every row between (all B: B is undefined =
      // TRUE, so errors/purchases in the span are B rows too), and the
      // final error, with the RUNNING B count walking the prefix and
      // the per-row CLASSIFIER. Oracle: per view, e = max-rn error at
      // rn >= v.rn+2, one output row per rn in [v.rn, e.rn].
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, v.rn AS vrn,
        |    e.event_id AS e_id, e.rn AS ern,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |                       ORDER BY e.rn DESC) AS pref
        |  FROM o v JOIN o e ON e.user_id = v.user_id
        |    AND e.event_type = 'error' AND e.rn >= v.rn + 2
        |  WHERE v.event_type = 'view'),
        |w AS (SELECT * FROM cand WHERE pref = 1)
        |SELECT w.user_id, w.v_id, w.e_id,
        |  CASE WHEN r.rn = w.vrn THEN 'V'
        |       WHEN r.rn = w.ern THEN 'E' ELSE 'B' END AS cls,
        |  CAST(CASE WHEN r.rn = w.vrn THEN 0
        |       ELSE least(r.rn, w.ern - 1) - w.vrn END AS BIGINT) AS nb
        |FROM w JOIN o r ON r.user_id = w.user_id
        |  AND r.rn BETWEEN w.vrn AND w.ern
        |ORDER BY w.user_id, v_id, nb, cls""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, FINAL E.event_id AS e_id,
          |  CLASSIFIER() AS cls, COUNT(B.*) AS nb
          |ALL ROWS PER MATCH
          |PATTERN (V B+ E)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin, sqlGreedy = true)
        .select("user_id", "v_id", "e_id", "cls", "nb")
        .orderBy("user_id", "v_id", "nb", "cls")
    },

    q("qc39_mr_greedy_exclusion",
      // GREEDY SELECTION × {- -} EXCLUSION (round 13): qc38's pattern
      // with the B span excluded from output — selection still runs
      // over the FULL `V B+ E` (the winner is the same maximal match),
      // but only the V and E rows emit; COUNT(B.*) on the E row still
      // sees every excluded B (exclusion is output-only, SQL:2016).
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, v.rn AS vrn,
        |    e.event_id AS e_id, e.rn AS ern,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |                       ORDER BY e.rn DESC) AS pref
        |  FROM o v JOIN o e ON e.user_id = v.user_id
        |    AND e.event_type = 'error' AND e.rn >= v.rn + 2
        |  WHERE v.event_type = 'view'),
        |w AS (SELECT * FROM cand WHERE pref = 1)
        |SELECT user_id, v_id, e_id, 'V' AS cls, CAST(0 AS BIGINT) AS nb
        |FROM w
        |UNION ALL
        |SELECT user_id, v_id, e_id, 'E' AS cls,
        |  CAST(ern - vrn - 1 AS BIGINT) AS nb
        |FROM w
        |ORDER BY user_id, v_id, nb, cls""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, FINAL E.event_id AS e_id,
          |  CLASSIFIER() AS cls, COUNT(B.*) AS nb
          |ALL ROWS PER MATCH
          |PATTERN (V {- B+ -} E)
          |DEFINE V AS event_type = 'view', E AS event_type = 'error'"""
          .stripMargin, sqlGreedy = true)
        .select("user_id", "v_id", "e_id", "cls", "nb")
        .orderBy("user_id", "v_id", "nb", "cls")
    },

    q("qc31_mr_multi_reluctant",
      // MULTI-QUANTIFIER RELUCTANT (round 11 — the largest remaining
      // named rejection): `V B+? C+? E` carries TWO ranked decision
      // points; SQL:2016 preference is LEXICOGRAPHIC by declaration —
      // fewest B first, THEN fewest C — so the winner per start may
      // spend MORE C to save a B (B is unrestricted, C is clicks
      // only). Oracle: the rn lattice per start — for each error e the
      // per-e lexicomin is nb = max(1, L - crl(e-1)) over the
      // consecutive-click-run length crl, and the global winner is the
      // (nb, nc)-lexicographic MIN over all reachable errors.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |r AS (SELECT user_id, rn,
        |    rn - coalesce(max(CASE WHEN event_type <> 'click' THEN rn END)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS crl
        |  FROM o),
        |cand AS (SELECT v.user_id, v.event_id AS v_id, e.event_id AS e_id,
        |    GREATEST(1, e.rn - v.rn - 1 - p.crl) AS nb,
        |    (e.rn - v.rn - 1) - GREATEST(1, e.rn - v.rn - 1 - p.crl) AS nc,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |      ORDER BY GREATEST(1, e.rn - v.rn - 1 - p.crl),
        |        (e.rn - v.rn - 1) - GREATEST(1, e.rn - v.rn - 1 - p.crl)) AS pref
        |  FROM o v
        |  JOIN o e ON e.user_id = v.user_id AND e.event_type = 'error'
        |    AND e.rn >= v.rn + 3
        |  JOIN r p ON p.user_id = e.user_id AND p.rn = e.rn - 1
        |    AND p.crl >= 1
        |  WHERE v.event_type = 'view')
        |SELECT user_id, v_id, e_id, CAST(nb AS BIGINT) AS nb,
        |  CAST(nc AS BIGINT) AS nc
        |FROM cand WHERE pref = 1
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(B.*) AS nb, COUNT(C.*) AS nc
          |PATTERN (V B+? C+? E)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "v_id")
    },

    q("qc28_mr_reluctant_alternation",
      // RELUCTANT × ALTERNATION (round 10 — the composition VERDICT
      // asked for): `V (C X|P){1,2}? E` — a view, then the SQL:2016-
      // PREFERRED filling among {click+any, purchase} × {1,2} reps,
      // then an error, strict adjacency. Preference is LEXICOGRAPHIC on
      // the decisions: the rep-1 branch choice dominates (C X beats P
      // even though P is SHORTER — so kill-at-first-completion would be
      // wrong and the engine's deferred per-start selection is what's
      // under test), then exiting beats a second rep, then the rep-2
      // branch choice. That yields exactly six candidate shapes ranked:
      //   1: (C X) E        2: (C X)(C X) E   3: (C X)(P) E
      //   4: (P) E          5: (P)(C X) E     6: (P)(P) E
      // Oracle: one rn-lattice join per shape, MIN(pref) per start.
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |v AS (SELECT user_id, event_id AS v_id, rn FROM o
        |  WHERE event_type = 'view'),
        |s1 AS (SELECT v.user_id, v.rn, v.v_id, 1 AS pref, e.event_id AS e_id,
        |    CAST(1 AS BIGINT) AS nc, CAST(0 AS BIGINT) AS np
        |  FROM v JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 1
        |    AND c.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 3
        |    AND e.event_type = 'error'),
        |s2 AS (SELECT v.user_id, v.rn, v.v_id, 2 AS pref, e.event_id AS e_id,
        |    CAST(2 AS BIGINT) AS nc, CAST(0 AS BIGINT) AS np
        |  FROM v JOIN o c1 ON c1.user_id = v.user_id AND c1.rn = v.rn + 1
        |    AND c1.event_type = 'click'
        |  JOIN o c2 ON c2.user_id = v.user_id AND c2.rn = v.rn + 3
        |    AND c2.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 5
        |    AND e.event_type = 'error'),
        |s3 AS (SELECT v.user_id, v.rn, v.v_id, 3 AS pref, e.event_id AS e_id,
        |    CAST(1 AS BIGINT) AS nc, CAST(1 AS BIGINT) AS np
        |  FROM v JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 1
        |    AND c.event_type = 'click'
        |  JOIN o p ON p.user_id = v.user_id AND p.rn = v.rn + 3
        |    AND p.event_type = 'purchase'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 4
        |    AND e.event_type = 'error'),
        |s4 AS (SELECT v.user_id, v.rn, v.v_id, 4 AS pref, e.event_id AS e_id,
        |    CAST(0 AS BIGINT) AS nc, CAST(1 AS BIGINT) AS np
        |  FROM v JOIN o p ON p.user_id = v.user_id AND p.rn = v.rn + 1
        |    AND p.event_type = 'purchase'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 2
        |    AND e.event_type = 'error'),
        |s5 AS (SELECT v.user_id, v.rn, v.v_id, 5 AS pref, e.event_id AS e_id,
        |    CAST(1 AS BIGINT) AS nc, CAST(1 AS BIGINT) AS np
        |  FROM v JOIN o p ON p.user_id = v.user_id AND p.rn = v.rn + 1
        |    AND p.event_type = 'purchase'
        |  JOIN o c ON c.user_id = v.user_id AND c.rn = v.rn + 2
        |    AND c.event_type = 'click'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 4
        |    AND e.event_type = 'error'),
        |s6 AS (SELECT v.user_id, v.rn, v.v_id, 6 AS pref, e.event_id AS e_id,
        |    CAST(0 AS BIGINT) AS nc, CAST(2 AS BIGINT) AS np
        |  FROM v JOIN o p1 ON p1.user_id = v.user_id AND p1.rn = v.rn + 1
        |    AND p1.event_type = 'purchase'
        |  JOIN o p2 ON p2.user_id = v.user_id AND p2.rn = v.rn + 2
        |    AND p2.event_type = 'purchase'
        |  JOIN o e ON e.user_id = v.user_id AND e.rn = v.rn + 3
        |    AND e.event_type = 'error'),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |  UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
        |  UNION ALL SELECT * FROM s5 UNION ALL SELECT * FROM s6),
        |m AS (SELECT user_id, rn, MIN(pref) AS mp FROM u GROUP BY 1, 2)
        |SELECT u.user_id AS user_id, u.v_id AS v_id, u.e_id AS e_id,
        |  u.nc, u.np
        |FROM m JOIN u ON u.user_id = m.user_id AND u.rn = m.rn
        |  AND u.pref = m.mp
        |ORDER BY user_id, v_id""".stripMargin) { (s, d) =>
      MatchRecognize(t(s, d, "events"),
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS v_id, E.event_id AS e_id,
          |  COUNT(C.*) AS nc, COUNT(P.*) AS np
          |PATTERN (V (C X|P){1,2}? E)
          |DEFINE V AS event_type = 'view', C AS event_type = 'click',
          |       P AS event_type = 'purchase',
          |       E AS event_type = 'error'""".stripMargin)
        .orderBy("user_id", "v_id")
    }
  )
}
