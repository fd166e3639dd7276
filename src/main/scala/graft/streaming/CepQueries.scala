package graft.streaming

import graft.{Q, QueryModule}
import java.sql.Timestamp

/** CEP pattern matching exposed on the batch surface: the same
  * [[Cep.Pattern]] (compiled onto the [[GroupCep]] NFA) that runs in
  * `flatMapGroupsWithState` for streams
  * (reference: flink-cep CEP.pattern / PatternStream.select), here driven
  * by matchBatch over the events table so the DuckDB oracle can check it.
  *
  * Semantics under test: begin("view").followedBy("error").within(1h) with
  * relaxed contiguity + first-occurrence = every view event pairs with the
  * first error of the same user within the following hour — in SQL, a
  * MIN(ts) over a time-bounded self-join.
  */
object CepQueries extends QueryModule {

  /** The CEP event projection: exactly the columns a pattern reads.
    * Never carry `value` (or other metric columns) through a CEP
    * encoder: none of the patterns reference it, and a primitive
    * field makes a schema-legal NULL metric CRASH the deserializer
    * ([NOT_NULL_ASSERT_VIOLATION] — adversarial-fixture check) besides
    * defeating column pruning at the scan. */
  final case class SlimRow(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String)
  final case class CepMatch(user_id: Long, start_ts: Timestamp, end_ts: Timestamp)

  private val HourMicros = 3600L * 1000 * 1000

  private def micros(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  def all: Seq[Q] = Seq(
    q("qc1_cep_view_error",
      // Stream order is (ts, event_id) — the oracle's "after" predicate
      // uses the same total order, so same-timestamp view/error pairs
      // agree between the NFA and SQL. The GROUP BY collapses duplicate
      // (user, ts) views exactly like the Spark-side min aggregation.
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
      import s.implicits._
      import org.apache.spark.sql.functions.{col, expr, min}
      // Relaxed contiguity (followedBy) lets the pattern skip every event
      // it doesn't reference, so restricting the scan to the referenced
      // event types is semantics-preserving — and pushes the filter into
      // the parquet scan, shrinking the NFA's input ~2.5× (pattern-
      // irrelevant types can neither start, extend, nor complete a step;
      // `within` pruning is against match completion times, unaffected).
      // NOT valid for strict `next` / consecutive-repetition patterns
      // (see qc2, which must scan all events).
      // The event time crosses the encoder boundary as epoch MICROS:
      // primitive-long tuple encoding is several times cheaper per row
      // than constructing java.sql.Timestamp objects, and
      // micros↔timestamp is lossless both ways.
      val ds = t(s, d, "events")
        .where("event_type IN ('view', 'error')")
        .selectExpr("event_id", "unix_micros(ts) AS tsu", "user_id",
          "CAST(event_type = 'view' AS INT) AS is_view")
        .as[(Long, Long, Long, Int)]
      type Row4 = (Long, Long, Long, Int)
      val pattern = Cep.Pattern.begin[Row4]("view")(_._4 == 1)
        .followedBy("error")(_._4 == 0)
        .within(HourMicros)
      Cep.matchBatch(ds, (e: Row4) => e._3, (e: Row4) => e._2, pattern,
        tie = (e: Row4) => e._1) { (u, m) =>
        (u, m("view")._2, m("error")._2)
      }.toDF("user_id", "start_us", "end_us")
        .groupBy(col("user_id"),
          expr("timestamp_micros(start_us)").as("start_ts"))
        .agg(min(expr("timestamp_micros(end_us)")).as("end_ts"))
        .orderBy("user_id", "start_ts")
    },

    // The same view→error pattern through the PLANNED operator
    // (graft.plans.GroupCepPlan: custom LogicalPlan + SparkStrategy +
    // physical node; the planner inserts the key shuffle and (key, ts,
    // tie) sort).
    // Shares qc1's oracle: two independent execution paths, one truth.
    q("qc3_cep_planned",
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
      import graft.plans.GroupCepPlan.GLeafSpec
      import org.apache.spark.sql.functions.{col, min}
      // same semantics-preserving pre-filter as qc1 (relaxed contiguity)
      val ev = t(s, d, "events")
        .where("event_type IN ('view', 'error')")
        .selectExpr("event_id", "ts", "user_id", "event_type")
      graft.plans.GroupCepPlan.matchGroupPattern(ev,
          key = col("user_id"), ts = col("ts"), tie = col("event_id"),
          elems = Seq(
            GLeafSpec("view", col("event_type") === "view"),
            GLeafSpec("error", col("event_type") === "error")),
          withinMicros = Some(HourMicros))
        .groupBy(col("key").as("user_id"), col("view_ts").as("start_ts"))
        .agg(min(col("error_ts")).as("end_ts"))
        .orderBy("user_id", "start_ts")
    },

    // Negative condition + after-match skip through the PLANNED path:
    // view, notFollowedBy(purchase), followedBy(error), within 1h,
    // SkipPastLastEvent — the round-6 planned-parity additions exercised
    // together. Under SkipPastLastEvent a completing error emits only the
    // earliest-started live view and clears every open partial, so per
    // user the machine is: views accumulate; a purchase kills them all
    // (the notFollowedBy stop); an error emits (earliest live view, error)
    // and clears. The oracle replays exactly that: for each error, the
    // candidate views are those after the last clearing event (purchase
    // OR error) and within the hour; MIN(ts) picks the earliest live one.
    q("qc9_cep_skip_planned",
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        |  FROM events WHERE event_type IN ('view', 'error', 'purchase')),
        |cl AS (SELECT *,
        |    coalesce(max(CASE WHEN event_type IN ('purchase', 'error')
        |        THEN pos END)
        |      OVER (PARTITION BY user_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS clear_pos
        |  FROM ev),
        |m AS (SELECT e.user_id, e.ts AS end_ts,
        |    (SELECT min(v.ts) FROM cl v
        |      WHERE v.user_id = e.user_id AND v.event_type = 'view'
        |        AND v.pos > e.clear_pos AND v.pos < e.pos
        |        AND e.ts < v.ts + INTERVAL '1 hour') AS start_ts
        |  FROM cl e WHERE e.event_type = 'error')
        |SELECT user_id, start_ts, end_ts FROM m WHERE start_ts IS NOT NULL
        |ORDER BY user_id, start_ts, end_ts""".stripMargin) { (s, d) =>
      import graft.plans.GroupCepPlan.{GLeafSpec, GNotSpec}
      import org.apache.spark.sql.functions.col
      // purchase must stay in the scan: it can kill partials (the same
      // reason qc2's strict pattern scans all types)
      val ev = t(s, d, "events")
        .where("event_type IN ('view', 'error', 'purchase')")
        .selectExpr("event_id", "ts", "user_id", "event_type")
      graft.plans.GroupCepPlan.matchGroupPattern(ev,
          key = col("user_id"), ts = col("ts"), tie = col("event_id"),
          elems = Seq(
            GLeafSpec("view", col("event_type") === "view"),
            GNotSpec("purchase", col("event_type") === "purchase"),
            GLeafSpec("error", col("event_type") === "error")),
          withinMicros = Some(HourMicros),
          skip = Cep.SkipPastLastEvent)
        .select(col("key").as("user_id"), col("view_ts").as("start_ts"),
          col("error_ts").as("end_ts"))
        .orderBy("user_id", "start_ts", "end_ts")
    },

    // TERMINAL negation — the single most common real CEP ask: "view NOT
    // followed by purchase within 30 minutes" (an abandonment funnel).
    // The pattern ENDS in notFollowedBy + within: the match waits at the
    // Cep.NegGate and emits when the window horizon passes without a
    // purchase (batch end-of-input = time past every horizon). The 1.6
    // reference rejects this shape (NFACompiler.java:108); semantics
    // follow what Flink later standardized (1.14 / FLINK-23958). Oracle:
    // NOT EXISTS over the same (ts, event_id) total order.
    q("qc12_cep_funnel",
      """SELECT v.user_id, CAST(v.ts AS TIMESTAMP) AS view_ts
        |FROM events v
        |WHERE v.event_type = 'view'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |      AND (CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
        |           OR (CAST(p.ts AS TIMESTAMP) = CAST(v.ts AS TIMESTAMP)
        |               AND p.event_id > v.event_id))
        |      AND CAST(p.ts AS TIMESTAMP)
        |          < CAST(v.ts AS TIMESTAMP) + INTERVAL '30 minutes')
        |ORDER BY v.user_id, view_ts""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.functions.{col, expr}
      // relaxed contiguity: only the referenced types matter (qc1's
      // pushdown argument); purchase must stay — it kills pending matches
      val ds = t(s, d, "events")
        .where("event_type IN ('view', 'purchase')")
        .selectExpr("event_id", "unix_micros(ts) AS tsu", "user_id",
          "CAST(event_type = 'view' AS INT) AS is_view")
        .as[(Long, Long, Long, Int)]
      type Row4 = (Long, Long, Long, Int)
      val pattern = Cep.Pattern.begin[Row4]("view")(_._4 == 1)
        .notFollowedBy("purchase")(_._4 == 0)
        .within(30L * 60 * 1000 * 1000)
      Cep.matchBatch(ds, (e: Row4) => e._3, (e: Row4) => e._2, pattern,
        tie = (e: Row4) => e._1) { (u, m) =>
        (u, m("view")._2)
      }.toDF("user_id", "view_us")
        .select(col("user_id"), expr("timestamp_micros(view_us)").as("view_ts"))
        .orderBy("user_id", "view_ts")
    },

    // The same funnel through the PLANNED operator (GroupCepExec runs
    // the identical Cep.NegGate); shares qc12's oracle — two independent
    // execution paths, one truth.
    q("qc13_cep_funnel_planned",
      """SELECT v.user_id, CAST(v.ts AS TIMESTAMP) AS view_ts
        |FROM events v
        |WHERE v.event_type = 'view'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM events p
        |    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |      AND (CAST(p.ts AS TIMESTAMP) > CAST(v.ts AS TIMESTAMP)
        |           OR (CAST(p.ts AS TIMESTAMP) = CAST(v.ts AS TIMESTAMP)
        |               AND p.event_id > v.event_id))
        |      AND CAST(p.ts AS TIMESTAMP)
        |          < CAST(v.ts AS TIMESTAMP) + INTERVAL '30 minutes')
        |ORDER BY v.user_id, view_ts""".stripMargin) { (s, d) =>
      import graft.plans.GroupCepPlan.{GLeafSpec, GNotSpec}
      import org.apache.spark.sql.functions.col
      val ev = t(s, d, "events")
        .where("event_type IN ('view', 'purchase')")
        .selectExpr("event_id", "ts", "user_id", "event_type")
      graft.plans.GroupCepPlan.matchGroupPattern(ev,
          key = col("user_id"), ts = col("ts"), tie = col("event_id"),
          elems = Seq(
            GLeafSpec("view", col("event_type") === "view"),
            GNotSpec("purchase", col("event_type") === "purchase")),
          withinMicros = Some(30L * 60 * 1000 * 1000))
        .select(col("key").as("user_id"), col("view_ts"))
        .orderBy("user_id", "view_ts")
    }
  )
}
