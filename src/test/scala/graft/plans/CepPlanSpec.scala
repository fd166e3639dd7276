package graft.plans

import graft.SparkSuite
import graft.plans.GroupCepPlan.{GLeafSpec, GNotSpec}
import graft.streaming.Cep
import org.apache.spark.sql.functions._

/** FLAT patterns (a sequence of leaf steps, negations between them or at
  * the end) through the one planned CEP operator: they must agree with
  * the library drivers (same NFA, Dataset-level data movement) and
  * must get their shuffle + sort from the planner, not from
  * Dataset-level operations. */
final case class E(event_id: Long, ts: java.sql.Timestamp,
    event_type: String, user_id: Long)

class CepPlanSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val events = Seq(
    // user 1: view -> click -> error (relaxed match), then another error
    (1L, ts("2024-01-01 10:00:00"), "view", 1L),
    (2L, ts("2024-01-01 10:10:00"), "click", 1L),
    (3L, ts("2024-01-01 10:20:00"), "error", 1L),
    (4L, ts("2024-01-01 10:30:00"), "error", 1L),
    // user 2: view then error 2h later (within-pruned for 1h pattern)
    (5L, ts("2024-01-01 09:00:00"), "view", 2L),
    (6L, ts("2024-01-01 11:00:01"), "error", 2L),
    // user 3: error with no preceding view
    (7L, ts("2024-01-01 09:00:00"), "error", 3L)
  ).toDF("event_id", "ts", "event_type", "user_id")

  private val hourMicros = 3600L * 1000 * 1000

  private val viewError = Seq(
    GLeafSpec("view", col("event_type") === "view"),
    GLeafSpec("error", col("event_type") === "error"))

  private def planned = GroupCepPlan.matchGroupPattern(events,
    key = col("user_id"), ts = col("ts"), tie = col("event_id"),
    elems = viewError, withinMicros = Some(hourMicros))

  test("planned operator matches the library NFA result") {
    val got = planned
      .select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSet

    val pattern = Cep.Pattern.begin[E]("view")(_.event_type == "view")
      .followedBy("error")(_.event_type == "error")
      .within(hourMicros)
    val lib = Cep.matchBatch(events.as[E], (e: E) => e.user_id,
      (e: E) => e.ts.getTime * 1000, pattern,
      tie = (e: E) => e.event_id) { (u, m) =>
      (u, m("view").event_id, m("error").event_id)
    }.collect().toSet

    assert(got === lib)
    // user 1's single view matches only the FIRST error (followedBy =
    // first occurrence); user 2 is within-pruned; user 3 never starts
    assert(got === Set((1L, 1L, 3L)))
  }

  test("rows with NULL event time are skipped, not fed at epoch 0") {
    // a null-ts error for user 1 would (if unboxed to 0L) sort first and
    // never match, OR complete a bogus match at epoch 0 — it must simply
    // be ignored
    val withNull = events.unionByName(Seq(
      (8L, null.asInstanceOf[java.sql.Timestamp], "error", 1L)
    ).toDF("event_id", "ts", "event_type", "user_id"))
    val got = GroupCepPlan.matchGroupPattern(withNull,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = viewError, withinMicros = Some(hourMicros))
      .select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 3L)), "null-ts row must not affect matches")
  }

  test("string keys survive uncopied gap rows (buffer aliasing guard)") {
    // key boundary occurs on a row that matches NO step predicate (so the
    // row is not copied); the retained key must not alias the reused
    // child-row buffer
    val df = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "error"),
      ("u2", 3L, "other"), // uncopied row opens key u2
      ("u2", 4L, "view"), ("u2", 5L, "error")
    ).toDF("k", "ts", "event_type")
    val got = GroupCepPlan.matchGroupPattern(df,
      key = col("k"), ts = col("ts"), tie = col("ts"), elems = viewError)
      .select($"key", $"view_ts", $"error_ts")
      .as[(String, Long, Long)].collect().toSet
    assert(got === Set(("u1", 1L, 2L), ("u2", 4L, 5L)))
  }

  test("planner inserts exactly one hash shuffle and one sort below a flat pattern") {
    val df = planned
    df.collect() // materialize the AQE final plan
    // AQE prints initial + final plans; assert on the final section only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // our node, not flagged invalid (!GroupCep)
    assert(p.contains("GroupCep user_id"))
    assert(!p.contains("!GroupCep"))
    assert(p.contains("Exchange hashpartitioning(user_id"))
    assert(p.contains("Sort [user_id"))
    assert("Exchange ".r.findAllIn(p).size === 1) // exactly one shuffle
  }

  test("strict next dies on an intervening event, relaxed survives") {
    val strict = GroupCepPlan.matchGroupPattern(
      events.where($"user_id" === 1L),
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("view", col("event_type") === "view"),
        GLeafSpec("error", col("event_type") === "error",
          strict = true))) // strict next
    // view(1) -> click(2) kills the strict partial; no match for user 1
    assert(strict.count() === 0)
  }

  test("output carries full child rows per step with step-prefixed names") {
    val row = planned.collect().head
    assert(row.getAs[Long]("key") === 1L)
    assert(row.getAs[String]("view_event_type") === "view")
    assert(row.getAs[java.sql.Timestamp]("error_ts") === ts("2024-01-01 10:20:00"))
    assert(row.getAs[Long]("view_count") === 1L)
  }

  test("notFollowedBy + SkipPastLastEvent through the planned path match the library") {
    val df = Seq(
      // user 1: two live views; the first error emits only the earliest
      // and clears (skip past last event); then a fresh view-error pair
      (1L, 1L, "view", 1L), (2L, 2L, "view", 1L), (3L, 3L, "error", 1L),
      (4L, 4L, "view", 1L), (5L, 5L, "error", 1L),
      // user 2: purchase kills the open view (notFollowedBy), the
      // following error finds nothing; the later pair matches
      (10L, 1L, "view", 2L), (11L, 2L, "purchase", 2L), (12L, 3L, "error", 2L),
      (13L, 4L, "view", 2L), (14L, 5L, "error", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = GroupCepPlan.matchGroupPattern(df,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(viewError(0),
          GNotSpec("!error", col("event_type") === "purchase"),
          viewError(1)),
        skip = Cep.SkipPastLastEvent)
      .select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSet

    type T = (Long, Long, String, Long)
    val pattern = Cep.Pattern.begin[T]("view")(_._3 == "view")
      .notFollowedBy("!error")(_._3 == "purchase")
      .followedBy("error")(_._3 == "error")
    val lib = Cep.matchBatch(df.as[(Long, Long, String, Long)], (e: T) => e._4, (e: T) => e._2,
      pattern, skip = Cep.SkipPastLastEvent, tie = (e: T) => e._1) {
      (u, m) => (u, m("view")._1, m("error")._1)
    }.collect().toSet

    assert(got === lib)
    assert(got === Set((1L, 1L, 3L), (1L, 4L, 5L), (2L, 13L, 14L)))
  }

  test("notNext through the planned path bans only the immediately-following event") {
    val df = Seq(
      (1L, 1L, "view", 1L), (2L, 2L, "purchase", 1L), (3L, 3L, "error", 1L),
      // an ignored event between view and purchase clears the notNext window
      (10L, 1L, "view", 2L), (11L, 2L, "other", 2L),
      (12L, 3L, "purchase", 2L), (13L, 4L, "error", 2L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = GroupCepPlan.matchGroupPattern(df,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(viewError(0),
          GNotSpec("!error", col("event_type") === "purchase",
            nextOnly = true),
          viewError(1)))
      .select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((2L, 10L, 13L)))
  }

  test("skip-strategy planned plan keeps the one-Exchange/one-Sort shape") {
    val df = GroupCepPlan.matchGroupPattern(events,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(viewError(0),
        GNotSpec("!error", col("event_type") === "purchase"),
        viewError(1)),
      withinMicros = Some(hourMicros),
      skip = Cep.SkipPastLastEvent)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("GroupCep user_id") && !p.contains("!GroupCep"))
    assert("Exchange ".r.findAllIn(p).size === 1)
    assert(p.contains("Sort [user_id"))
  }

  test("qc9 (planned, notFollowedBy + skip) agrees with the library pipeline on sf0.001") {
    val got = run("qc9_cep_skip_planned").collect().toSeq

    type T = (Long, Long, Long, Int) // event_id, tsu, user_id, kind
    val ev = graft.Engine.table(spark, sf, "events")
      .where("event_type IN ('view', 'error', 'purchase')")
      .selectExpr("event_id", "unix_micros(ts) AS tsu", "user_id",
        "CASE event_type WHEN 'view' THEN 1 WHEN 'error' THEN 0 ELSE 2 END AS kind")
      .as[(Long, Long, Long, Int)]
    val hour = 3600L * 1000 * 1000
    val pattern = Cep.Pattern.begin[T]("view")(_._4 == 1)
      .notFollowedBy("!error")(_._4 == 2)
      .followedBy("error")(_._4 == 0)
      .within(hour)
    val lib = Cep.matchBatch(ev, (e: T) => e._3, (e: T) => e._2, pattern,
      skip = Cep.SkipPastLastEvent, tie = (e: T) => e._1) { (u, m) =>
      (u, m("view")._2, m("error")._2)
    }.toDF("user_id", "start_us", "end_us")
      .selectExpr("user_id", "timestamp_micros(start_us) AS start_ts",
        "timestamp_micros(end_us) AS end_ts")
      .orderBy("user_id", "start_ts", "end_ts")
      .collect().toSeq

    assert(got.nonEmpty && got === lib)
  }

  test("planned operator agrees with qc1 library pipeline on sf0.001 events") {
    val ev = graft.Engine.table(spark, sf, "events")
      .selectExpr("event_id", "ts", "user_id", "event_type")
    val got = GroupCepPlan.matchGroupPattern(ev,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = viewError, withinMicros = Some(hourMicros))
      .groupBy($"key".as("user_id"), $"view_ts".as("start_ts"))
      .agg(min($"error_ts").as("end_ts"))
      .select("user_id", "start_ts", "end_ts")
      .collect().toSet
    val lib = run("qc1_cep_view_error").collect().toSet
    assert(got.nonEmpty && got === lib)
  }

  test("arrival identity: value-identical same-timestamp rows are distinct computation states") {
    // two byte-identical "view" rows at one timestamp open TWO partials;
    // under value identity structural dedup would merge them into one.
    // The reference's SharedBuffer EventId semantics (SameElementITCase)
    // demand two matches — which is also what the library batch driver
    // (arrival identity) produces.
    val dup = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view", 9L),
      (1L, ts("2024-01-01 10:00:00"), "view", 9L),
      (2L, ts("2024-01-01 10:20:00"), "error", 9L)
    ).toDF("event_id", "ts", "event_type", "user_id")
    val got = GroupCepPlan.matchGroupPattern(dup,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = viewError, withinMicros = Some(hourMicros))
      .select($"key", $"view_event_id", $"error_event_id")
      .as[(Long, Long, Long)].collect().toSeq

    val pattern = Cep.Pattern.begin[E]("view")(_.event_type == "view")
      .followedBy("error")(_.event_type == "error")
      .within(hourMicros)
    val lib = Cep.matchBatch(dup.as[E], (e: E) => e.user_id,
      (e: E) => e.ts.getTime * 1000, pattern,
      tie = (e: E) => e.event_id) { (u, m) =>
      (u, m("view").event_id, m("error").event_id)
    }.collect().toSeq

    assert(got.size === 2, s"expected duplicate multiplicity 2, got $got")
    assert(got.sorted === lib.sorted)
  }

  test("flat-pattern hot-key diagnostics: match count and hottest-key size") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = planned
    val n = df.collect().length // run THIS queryExecution so metrics populate
    def findCep(p: SparkPlan): Seq[GroupCepPlan.GroupCepExec] = p match {
      case a: AdaptiveSparkPlanExec => findCep(a.executedPlan)
      case q: QueryStageExec => findCep(q.plan) // AQE stages hide children
      case c: GroupCepPlan.GroupCepExec => Seq(c)
      case o => o.children.flatMap(findCep)
    }
    val cep = findCep(df.queryExecution.executedPlan)
    assert(cep.size === 1)
    val m = cep.head.metrics
    assert(m("numMatches").value === n)
    // user 1 owns the longest run (4 events). The driver-side value is
    // the SUM of per-task maxes (each task reports its own hottest key),
    // so it is bounded below by the global hottest key and above by the
    // total event count (7) — the documented read-the-max semantics
    assert(m("maxKeyEvents").value >= 4L && m("maxKeyEvents").value <= 7L)
    assert(m("maxKeyBranches").value >= 1L)
  }

  test("anchor gates: ^ restricts starts to the run head, $ to tail-ending matches") {
    // ^ V -> E: only user 1's run STARTS with a view (user 2's does too
    // but the 1h within prunes its only error); user 3 starts with error.
    // A flat pattern completes at most one candidate per start, so the
    // anchors need no selection mode
    val head = GroupCepPlan.matchGroupPattern(events,
      col("user_id"), col("ts"), col("event_id"),
      elems = Seq(
        GLeafSpec("v", col("event_type") === "view"),
        GLeafSpec("e", col("event_type") === "error")),
      withinMicros = Some(hourMicros), anchorHead = true)
      .select($"key", $"v_event_id", $"e_event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(head === Set((1L, 1L, 3L)))
    // E $: every error row is a candidate; only each run's FINAL row
    // passes the tail gate
    val errorOnly = Seq(GLeafSpec("e", col("event_type") === "error"))
    def tail(skip: Cep.AfterMatchSkip) =
      GroupCepPlan.matchGroupPattern(events,
        col("user_id"), col("ts"), col("event_id"), errorOnly,
        skip = skip, anchorTail = true)
        .select($"key", $"e_event_id").as[(Long, Long)].collect().toSet
    assert(tail(Cep.NoSkip) === Set((1L, 4L), (2L, 6L), (3L, 7L)))
    // a non-default skip runs AFTER the gate (gate, then skip — the
    // SQL:2016 order), so anchor-rejected candidates never consume it
    assert(tail(Cep.SkipPastLastEvent) === tail(Cep.NoSkip))
    // $ cannot combine with terminal negation (the gate waits past the
    // match's last row, the tail gate demands it be the run's last)
    val e = intercept[IllegalArgumentException] {
      GroupCepPlan.matchGroupPattern(events, col("user_id"), col("ts"),
        col("event_id"),
        Seq(GLeafSpec("v", col("event_type") === "view"),
          GNotSpec("!e", col("event_type") === "error", nextOnly = true)),
        anchorTail = true)
    }
    assert(e.getMessage.contains("$ anchor cannot combine"), e.getMessage)
  }

  test("struct, array and binary keys form one run per key value") {
    // the operator compares keys by value (their unsafe bytes), so a
    // composite or binary key partitions exactly like the atomic
    // user_id: user 1's view -> error spans three rows of one run, which
    // an identity compare would have split into a run per row
    val expected = planned.select($"view_event_id", $"error_event_id")
      .as[(Long, Long)].collect().toSet
    assert(expected === Set((1L, 3L)))
    for (k <- Seq(struct(col("user_id"), (col("user_id") % 2).as("odd")),
        array(col("user_id")), col("user_id").cast("string").cast("binary"))) {
      val got = GroupCepPlan.matchGroupPattern(events.withColumn("k", k),
        col("k"), col("ts"), col("event_id"), viewError,
        withinMicros = Some(hourMicros))
      assert(got.select($"view_event_id", $"error_event_id")
        .as[(Long, Long)].collect().toSet === expected, k.toString)
      assert(got.select($"match_number").as[Long].collect().toSeq ===
        Seq(1L), k.toString)
    }
  }

  test("a NESTED composite builder under an atomic root is not mis-rejected (ADVICE r17)") {
    // hash(struct(a, b)) evaluates to an atomic int WITH value
    // equality; the old collectFirst scanned the whole key tree and
    // mis-rejected it with the composite-key message because the
    // nested struct() builder matched. Root-only mapping now lets the
    // key's OWN unresolved error surface instead — and for a key shape
    // whose root resolves pre-analysis there is nothing to map at all.
    val e = intercept[Throwable] {
      GroupCepPlan.matchGroupPattern(events,
        expr("hash(struct(user_id, event_type))"), col("ts"),
        col("event_id"), Seq(GLeafSpec("v", col("event_type") === "view")))
    }
    assert(!Option(e.getMessage).getOrElse("").contains("value equality"),
      s"nested struct() must not trigger the composite-key rejection: $e")
  }
}
