package graft.streaming

import graft.SparkSuite
import graft.streaming.Cep._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Encoder

case class Ev(user: Long, typ: String, ts: Long)
case class PEv(user: Long, typ: String, ts: Long, price: Double)
case class MatchOut(user: Long, startTs: Long, endTs: Long)

class CepSpec extends SparkSuite {
  import spark.implicits._

  private val loginThenError =
    Pattern.begin[Ev]("login")(_.typ == "login")
      .followedBy("error")(_.typ == "error")
      .within(100L)

  test("advance: strict next dies on gap, relaxed followedBy survives") {
    val strict = Pattern.begin[Ev]("a")(_.typ == "a").next("b")(_.typ == "b")
    val relaxed = Pattern.begin[Ev]("a")(_.typ == "a").followedBy("b")(_.typ == "b")
    val a = Ev(1, "a", 0); val x = Ev(1, "x", 1); val b = Ev(1, "b", 2)

    val events = Seq(a -> 0L, x -> 1L, b -> 2L)
    val (m3, _) = Cep.runMatches(strict, events)
    assert(m3.isEmpty) // a-x-b: strict killed

    val (n3, _) = Cep.runMatches(relaxed, events)
    assert(n3 == Vector(Vector(Vector(a), Vector(b)))) // relaxed skipped x
  }

  test("times(n) requires exactly n consecutive occurrences") {
    val p3 = Pattern.begin[Ev]("a")(_.typ == "a").times(3)
    val evs = Seq(Ev(1, "a", 1), Ev(1, "a", 2), Ev(1, "a", 3), Ev(1, "a", 4),
      Ev(1, "b", 5), Ev(1, "a", 6), Ev(1, "a", 7)).toDS()
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts, p3) {
      (u, m) => (u, m("a").map(_.ts))
    }.collect().toSeq.sortBy(_._2.head)
    // runs: a1..a4 gives starts at 1 and 2; the trailing a6,a7 is too short
    assert(got == Seq((1L, Seq(1L, 2L, 3L)), (1L, Seq(2L, 3L, 4L))))
  }

  test("final optional / times(0, n) emit the zero-occurrence match; greedy+trailing-optional rejected") {
    // optional FINAL steps are supported (NFAITCase testEndWithOptional):
    // the zero-occurrence match emits when the mandatory prefix completes
    val evs = Seq(Ev(1, "a", 1)).toDS()
    val pOpt = Pattern.begin[Ev]("a")(_.typ == "a")
      .followedBy("b")(_.typ == "b").optional
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts,
      pOpt) { (u, m) => (u, m("b").size) }.collect().toSeq
    assert(got == Seq((1L, 0))) // {a} with the optional b unconsumed
    val pZero = Pattern.begin[Ev]("a")(_.typ == "a")
      .followedBy("b")(_.typ == "b").times(0, 2)
    val got2 = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts,
      pZero) { (u, m) => (u, m("b").size) }.collect().toSeq
    assert(got2 == Seq((1L, 0)))
    // the one rejected combination: a GREEDY loop followed by nothing but
    // optional steps (greedy is a DSL extension; its emit-on-break
    // semantics have no zero-consumption interplay in the reference)
    val pGreedy = Pattern.begin[Ev]("a")(_.typ == "a")
      .followedBy("b")(_.typ == "b").oneOrMore
      .followedBy("c")(_.typ == "c").optional
    val e1 = intercept[IllegalArgumentException] {
      Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts,
        pGreedy) { (u, m) => (u, m("b").size) }
    }
    assert(e1.getMessage.contains("greedy"))
  }

  test("oneOrMore captures the maximal greedy run") {
    val p = Pattern.begin[Ev]("a")(_.typ == "a").oneOrMore
      .followedBy("b")(_.typ == "b")
    val evs = Seq(Ev(2, "a", 1), Ev(2, "a", 2), Ev(2, "x", 3),
      Ev(2, "b", 4)).toDS()
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts, p) {
      (u, m) => (u, m("a").map(_.ts), m("b").map(_.ts))
    }.collect().toSeq.sortBy(_._2.head)
    // runs starting at a1 (maximal a1,a2) and at a2, both end at b4
    assert(got == Seq((2L, Seq(1L, 2L), Seq(4L)), (2L, Seq(2L), Seq(4L))))
  }

  test("final oneOrMore emits every satisfied length as it forms (no end flush needed)") {
    // eager proceed-to-Final (GreedyITCase testEndWithZeroOrMoreGreedy):
    // each extension is its own match — nothing is left pending at end
    // of input
    val p = Pattern.begin[Ev]("start")(_.typ == "s")
      .followedBy("errs")(_.typ == "e").oneOrMore
    val evs = Seq(Ev(3, "s", 1), Ev(3, "e", 2), Ev(3, "e", 3)).toDS()
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts, p) {
      (u, m) => (u, m("errs").map(_.ts))
    }.collect().toSeq
    assert(got.toSet == Set((3L, Seq(2L)), (3L, Seq(2L, 3L))))
  }

  test("advance: within prunes old partials") {
    val a = Ev(1, "login", 0); val e = Ev(1, "error", 500)
    val (m, _) = Cep.runMatches(loginThenError, Seq(a -> 0L, e -> 500L))
    assert(m.isEmpty) // 500 > within(100)
  }

  test("matchBatch finds login→error sequences per user") {
    val events = Seq(
      Ev(1, "login", 10), Ev(1, "view", 20), Ev(1, "error", 30),
      Ev(2, "login", 10), Ev(2, "view", 500), // user 2: no error
      Ev(3, "error", 5), Ev(3, "login", 10), Ev(3, "error", 90),
      Ev(4, "login", 0), Ev(4, "error", 200) // outside within window
    ).toDS()
    val got = Cep.matchBatch(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      loginThenError) { (u, m) =>
      MatchOut(u, m("login").ts, m("error").ts)
    }.collect().sortBy(_.user)
    assert(got.toSeq == Seq(MatchOut(1, 10, 30), MatchOut(3, 10, 90)))
  }

  test("matchBatch: every start opens a partial (overlapping matches)") {
    val events = Seq(
      Ev(9, "login", 1), Ev(9, "login", 2), Ev(9, "error", 3)).toDS()
    val got = Cep.matchBatch(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      loginThenError) { (u, m) => MatchOut(u, m("login").ts, m("error").ts) }
      .collect().sortBy(_.startTs)
    assert(got.toSeq == Seq(MatchOut(9, 1, 3), MatchOut(9, 2, 3)))
  }

  test("matchStream carries partials across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_millis
    implicit val stEnc: Encoder[GroupCep.GArrivalState[Ev]] =
      ExpressionEncoder()
    val input = MemoryStream[Ev]
    // within(100) patterns ride event-time timers for state expiry, so the
    // input must carry a watermark (matchStream's documented contract)
    val watermarked = input.toDS()
      .withColumn("eventTime", timestamp_millis($"ts"))
      .withWatermark("eventTime", "0 milliseconds")
      .as[Ev]
    val matched = Cep.matchStream(watermarked, (e: Ev) => e.user,
      (e: Ev) => e.ts, loginThenError) { (u, m) =>
      MatchOut(u, m("login").ts, m("error").ts)
    }
    val query = matched.writeStream.outputMode("append")
      .format("memory").queryName("cep_out").start()
    try {
      input.addData(Ev(7, "login", 10), Ev(7, "view", 20))
      query.processAllAvailable()
      assert(spark.table("cep_out").count() == 0)
      input.addData(Ev(7, "error", 40)) // completes the pattern next batch
      query.processAllAvailable()
      val got = spark.table("cep_out").as[MatchOut].collect()
      assert(got.toSeq == Seq(MatchOut(7, 10, 40)))
    } finally query.stop()
  }

  test("within: idle key's expired partials are pruned by the event-time timer") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = Pattern.begin[Ev]("login")(_.typ == "login")
      .followedBy("error")(_.typ == "error").within(100L)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev], MatchOut](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamFn[Long, Ev, MatchOut](p, _.ts, Cep.NoSkip, _ => 0L,
        (u, m) => MatchOut(u, m("login").ts, m("error").ts)))
    assert(h.input(7L, Ev(7, "login", 0L)).isEmpty)
    assert(h.stateOf(7L).exists(_.confs.nonEmpty))
    // the partial expires at startTs + within (NFA.java prunes at
    // timestamp - startTs >= windowTime), so the timer fires exactly there
    assert(h.timerOf(7L).contains(100L))
    // short of the horizon: the partial survives and can still complete
    assert(h.advanceWatermarkTo(50L).isEmpty)
    assert(h.stateOf(7L).exists(_.confs.nonEmpty))
    // past the horizon: the idle key's state is observably cleared
    assert(h.advanceWatermarkTo(150L).isEmpty)
    assert(h.stateOf(7L).isEmpty && h.timerOf(7L).isEmpty)
  }

  test("timed-out partials surface on the timeout channel (NFAITCase testSimplePatternWithTimeoutHandling — 4 timeouts + 1 match verbatim)") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // the reference script (NFAITCase.java:344): start@1, start@2,
    // middle@3, foobar@4, end@11, end@13, within(10), with
    // followedByAny contiguity on middle AND end (an earlier port wrote
    // followedBy, which consumes the source on transition and made the
    // reference's prefix timeouts look like a branch-model divergence).
    // Under SKIP_TILL_ANY the {start} source survives its middle take —
    // that survivor IS the reference's transitioned-prefix computation
    // state — so the reference's exact FOUR timeouts emerge: {s1}@11,
    // {s1,m}@11, {s2}@13, {s2,m}@13, plus the one match {s2,m,end@11}
    // (s1's chain is already past the horizon when end@11 arrives).
    val p = Pattern.begin[Ev]("start")(_.typ == "start")
      .followedByAny("middle")(_.typ == "middle")
      .followedByAny("end")(_.typ == "end")
      .within(10L)
    // output: (isTimeout, startTs, atOrEndTs, capturedEvents)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      (Boolean, Long, Long, Int)](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamWithTimeoutsFn[Long, Ev, (Boolean, Long, Long, Int)](
        p, _.ts, Cep.NoSkip, _ => 0L,
        (_, m) => (false, m("start").ts, m("end").ts, m.size),
        (_, groups, at) =>
          (true, groups("start").head.ts, at, groups.values.map(_.size).sum)))
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Boolean, Long, Long, Int)]
    out ++= h.input(7L, Ev(7, "start", 1), Ev(7, "start", 2),
      Ev(7, "middle", 3), Ev(7, "foobar", 4))
    assert(out.isEmpty) // nothing matched, nothing expired yet
    out ++= h.advanceWatermarkTo(11L) // start@1's chains pass the horizon
    assert(out.toSet == Set((true, 1L, 11L, 1), (true, 1L, 11L, 2)))
    out ++= h.input(7L, Ev(7, "end", 11))
    assert(out.filterNot(_._1).toList == List((false, 2L, 11L, 3)))
    out ++= h.advanceWatermarkTo(13L)
    out ++= h.input(7L, Ev(7, "end", 13))
    assert(out.toSet == Set(
      (true, 1L, 11L, 1), (true, 1L, 11L, 2),
      (false, 2L, 11L, 3),
      (true, 2L, 13L, 1), (true, 2L, 13L, 2)))
    assert(h.stateOf(7L).isEmpty)
  }

  test("in-batch expiry also reports on the timeout channel (advanceTime before process)") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = Pattern.begin[Ev]("start")(_.typ == "start")
      .followedBy("end")(_.typ == "end").within(10L)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      (Boolean, Long, Long)](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamWithTimeoutsFn[Long, Ev, (Boolean, Long, Long)](
        p, _.ts, Cep.NoSkip, _ => 0L,
        (_, m) => (false, m("start").ts, m("end").ts),
        (_, groups, at) => (true, groups("start").head.ts, at)))
    // start@0 and a LATE-window end@15 arrive in the same micro-batch:
    // the partial expires against the event's own time before processing
    val out = h.input(7L, Ev(7, "start", 0), Ev(7, "end", 15))
    assert(out == Seq((true, 0L, 15L)))
  }

  test("timeout and match channels interleave at event-time positions within a batch") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = Pattern.begin[Ev]("start")(_.typ == "start")
      .followedBy("end")(_.typ == "end").within(10L)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      (Boolean, Long, Long)](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamWithTimeoutsFn[Long, Ev, (Boolean, Long, Long)](
        p, _.ts, Cep.NoSkip, _ => 0L,
        (_, m) => (false, m("start").ts, m("end").ts),
        (_, groups, at) => (true, groups("start").head.ts, at)))
    // match completes at ts=5, the start@6 chain expires at ts=20: the
    // match precedes the timeout in the output (the old contract emitted
    // all timeouts first regardless of event-time order)
    val out = h.input(7L,
      Ev(7, "start", 0), Ev(7, "end", 5), Ev(7, "start", 6),
      Ev(7, "other", 20))
    assert(out == Seq((false, 0L, 5L), (true, 6L, 20L)))
  }

  test("notFollowedBy kills partials when the banned event intervenes") {
    val p = Pattern.begin[Ev]("login")(_.typ == "login")
      .notFollowedBy("logout")(_.typ == "logout")
      .followedBy("error")(_.typ == "error")
    val evs = Seq(
      Ev(1, "login", 1), Ev(1, "error", 2), // clean → match
      Ev(2, "login", 1), Ev(2, "logout", 2), Ev(2, "error", 3) // banned
    ).toDS()
    val got = Cep.matchBatch(evs, (e: Ev) => e.user, (e: Ev) => e.ts, p) {
      (u, m) => (u, m("login").ts, m("error").ts)
    }.collect().toSeq
    assert(got == Seq((1L, 1L, 2L)))
  }

  test("optional middle step matches with and without the optional event") {
    val p = Pattern.begin[Ev]("a")(_.typ == "a")
      .followedBy("b")(_.typ == "b").optional
      .followedBy("c")(_.typ == "c")
    val evs = Seq(
      Ev(1, "a", 1), Ev(1, "c", 2), // skip b
      Ev(2, "a", 1), Ev(2, "b", 2), Ev(2, "c", 3) // with b
    ).toDS()
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts, p) {
      (u, m) => (u, m("b").map(_.ts), m("c").map(_.ts))
    }.collect().toSeq.sortBy(_._1)
    assert(got.contains((1L, Seq.empty[Long], Seq(2L))))
    assert(got.contains((2L, Seq(2L), Seq(3L))))
  }

  test("pattern validation rejects terminal notFollowedBy") {
    val bad1 = Pattern.begin[Ev]("a")(_.typ == "a")
      .notFollowedBy("x")(_.typ == "x")
    assertThrows[IllegalArgumentException] {
      Cep.matchBatch(Seq(Ev(1, "a", 1)).toDS(), (e: Ev) => e.user,
        (e: Ev) => e.ts, bad1)((u, _) => u).collect()
    }
  }

  test("SkipPastLastEvent prevents overlapping matches") {
    val events = Seq(
      Ev(9, "login", 1), Ev(9, "login", 2), Ev(9, "error", 3),
      Ev(9, "login", 4), Ev(9, "error", 5)).toDS()
    val noSkip = Cep.matchBatch(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      loginThenError) { (u, m) => (m("login").ts, m("error").ts) }
      .collect().toSeq.sorted
    assert(noSkip == Seq((1L, 3L), (2L, 3L), (4L, 5L)))
    val skipped = Cep.matchBatch(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      loginThenError, Cep.SkipPastLastEvent) {
      (u, m) => (m("login").ts, m("error").ts)
    }.collect().toSeq.sorted
    // the overlapping (2,3) match is discarded after (1,3) completes
    assert(skipped == Seq((1L, 3L), (4L, 5L)))
  }

  test("port: SKIP_TO_FIRST[end] (AfterMatchSkipITCase testSkipToFirst)") {
    // every event matches both steps; start.times(2).next(end).times(2)
    // over ab1..ab6 — reference expects {ab1 ab2 ab3 ab4}, {ab3 ab4 ab5 ab6}
    val p = Pattern.begin[Ev]("start")(_.typ.contains("a")).times(2)
      .next("end")(_.typ.contains("b")).times(2)
    val events = (1 to 6).map(i => Ev(5, "ab", i)).toDS()
    val got = Cep.matchBatchGroups(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      p, Cep.SkipToFirst("end")) { (u, m) =>
      (m("start").map(_.ts), m("end").map(_.ts))
    }.collect().toSeq.sortBy(_._1.head)
    assert(got == Seq(
      (Seq(1L, 2L), Seq(3L, 4L)), (Seq(3L, 4L), Seq(5L, 6L))))
  }

  test("port: SKIP_TO_LAST[end] (AfterMatchSkipITCase testSkipToLast)") {
    // reference expects {ab1 ab2 ab3 ab4}, {ab4 ab5 ab6 ab7} over ab1..ab7
    val p = Pattern.begin[Ev]("start")(_.typ.contains("a")).times(2)
      .next("end")(_.typ.contains("b")).times(2)
    val events = (1 to 7).map(i => Ev(6, "ab", i)).toDS()
    val got = Cep.matchBatchGroups(events, (e: Ev) => e.user, (e: Ev) => e.ts,
      p, Cep.SkipToLast("end")) { (u, m) =>
      (m("start").map(_.ts), m("end").map(_.ts))
    }.collect().toSeq.sortBy(_._1.head)
    assert(got == Seq(
      (Seq(1L, 2L), Seq(3L, 4L)), (Seq(4L, 5L), Seq(6L, 7L))))
  }

  test("SkipToLast discards co-completing matches starting before the boundary") {
    // a1 a2 a3 b: three greedy-oneOrMore matches complete on the SAME b
    // event, starting at a1/a2/a3. The earliest ({a1 a2 a3}) is emitted and
    // sets the boundary at the last 'as' event (ts 3); the {a2 a3} match
    // started before it and must be DISCARDED (AfterMatchSkipStrategy
    // prunes completed-but-unemitted matches too, not just partials);
    // {a3} starts at the boundary and survives.
    val p = Pattern.begin[Ev]("as")(_.typ == "a").oneOrMore
      .followedBy("b")(_.typ == "b")
    val evs = Seq(Ev(1, "a", 1), Ev(1, "a", 2), Ev(1, "a", 3),
      Ev(1, "b", 4)).toDS()
    val got = Cep.matchBatchGroups(evs, (e: Ev) => e.user, (e: Ev) => e.ts,
      p, Cep.SkipToLast("as")) { (u, m) =>
      (m("as").map(_.ts), m("b").map(_.ts))
    }.collect().toSeq.sortBy(_._1.head)
    assert(got == Seq((Seq(1L, 2L, 3L), Seq(4L)), (Seq(3L), Seq(4L))))
    // SkipToFirst("b"): boundary = the b event itself (ts 4) — every other
    // co-completing match starts before it, so only the earliest survives
    val gotFirst = Cep.matchBatchGroups(evs, (e: Ev) => e.user,
      (e: Ev) => e.ts, p, Cep.SkipToFirst("b")) { (u, m) =>
      (m("as").map(_.ts), m("b").map(_.ts))
    }.collect().toSeq.sortBy(_._1.head)
    assert(gotFirst == Seq((Seq(1L, 2L, 3L), Seq(4L))))
  }

  // ---- round-6 ports: the REST of AfterMatchSkipITCase, including the
  // deferred-emission semantics (a completed match waits while an
  // earlier-started partial is live; emission prunes partials AND the
  // queued matches) of GroupCep's skip queue.

  private def skipMatches(p: Pattern[Ev], skip: Cep.AfterMatchSkip,
      evs: Seq[Ev]): Seq[Seq[Long]] =
    Cep.matchBatchGroups(evs.toDS(), (e: Ev) => e.user, (e: Ev) => e.ts,
      p, skip) { (_, m) =>
      p.steps.map(_.name).flatMap(n => m(n).map(_.ts))
    }.collect().toSeq.map(_.toSeq).sortBy(_.headOption.getOrElse(0L))

  test("port: NoSkip a{3} slides one (AfterMatchSkipITCase testSkipToNext)") {
    val p = Pattern.begin[Ev]("start")(_.typ == "a").times(3)
    val evs = (1 to 6).map(i => Ev(1, "a", i))
    assert(skipMatches(p, Cep.NoSkip, evs).toSet ===
      Set(Seq(1L, 2, 3), Seq(2L, 3, 4), Seq(3L, 4, 5), Seq(4L, 5, 6)))
  }

  test("port: SkipPastLastEvent a{3} tumbles (AfterMatchSkipITCase testSkipPastLast)") {
    val p = Pattern.begin[Ev]("start")(_.typ == "a").times(3)
    val evs = (1 to 6).map(i => Ev(1, "a", i))
    assert(skipMatches(p, Cep.SkipPastLastEvent, evs).toSet ===
      Set(Seq(1L, 2, 3), Seq(4L, 5, 6)))
  }

  test("port: SkipPastLastEvent over followedByAny branches (testSkipPastLast2)") {
    // a fbAny b fbAny c fb d: d completes MANY co-matches; only the
    // earliest (a1 b1 c1 d1) emits, everything else is skipped past
    val p = Pattern.begin[Ev]("a")(_.typ.contains("a"))
      .followedByAny("b")(_.typ.contains("b"))
      .followedByAny("c")(_.typ.contains("c"))
      .followedBy("d")(_.typ.contains("d"))
    val evs = Seq(Ev(1, "a1", 1), Ev(1, "a2", 2), Ev(1, "b1", 3),
      Ev(1, "b2", 4), Ev(1, "c1", 5), Ev(1, "c2", 6), Ev(1, "d1", 7),
      Ev(1, "d2", 8))
    assert(skipMatches(p, Cep.SkipPastLastEvent, evs) ===
      Seq(Seq(1L, 3, 5, 7)))
  }

  test("port: SkipPastLastEvent with strict next (testSkipPastLast3)") {
    val p = Pattern.begin[Ev]("a")(_.typ.contains("a"))
      .next("b")(_.typ.contains("b"))
    val evs = Seq(Ev(1, "a1", 1), Ev(1, "c", 2), Ev(1, "a2", 3),
      Ev(1, "b2", 4))
    assert(skipMatches(p, Cep.SkipPastLastEvent, evs) === Seq(Seq(3L, 4)))
  }

  test("port: SkipToFirst with an optional empty loop (testSkipToFirstWithOptionalMatch)") {
    val p = Pattern.begin[Ev]("x")(_.typ.contains("x")).oneOrMore.optional
      .next("b")(_.typ.contains("b"))
      .next("c")(_.typ.contains("c"))
    val evs = Seq(Ev(1, "ab1", 1), Ev(1, "c1", 2), Ev(1, "ab2", 3),
      Ev(1, "c2", 4))
    assert(skipMatches(p, Cep.SkipToFirst("b"), evs).toSet ===
      Set(Seq(1L, 2), Seq(3L, 4)))
  }

  test("port: SkipToFirst at the start position (testSkipToFirstAtStartPosition)") {
    val p = Pattern.begin[Ev]("b")(_.typ.contains("b"))
      .next("c")(_.typ.contains("c"))
    val evs = Seq(Ev(1, "ab1", 1), Ev(1, "c1", 2), Ev(1, "ab2", 3),
      Ev(1, "c2", 4))
    assert(skipMatches(p, Cep.SkipToFirst("b"), evs).toSet ===
      Set(Seq(1L, 2), Seq(3L, 4)))
  }

  test("port: SkipToFirst/SkipToLast prune the open loop (testSkipTo*WithOneOrMore)") {
    // a next b+ consecutive: emitting (a2, b2) prunes the still-open run,
    // so (a2, b2, b3) never forms
    val p = Pattern.begin[Ev]("a")(_.typ.contains("a"))
      .next("b")(_.typ.contains("b")).oneOrMore
    val evs = Seq(Ev(1, "a1", 1), Ev(1, "b1", 2), Ev(1, "a2", 3),
      Ev(1, "b2", 4), Ev(1, "b3", 5), Ev(1, "a3", 6), Ev(1, "b4", 7))
    val expected = Set(Seq(1L, 2), Seq(3L, 4), Seq(6L, 7))
    assert(skipMatches(p, Cep.SkipToFirst("b"), evs).toSet === expected)
    assert(skipMatches(p, Cep.SkipToLast("b"), evs).toSet === expected)
  }

  test("port: skip strategies on a leading greedy loop (testSkip*WithOneOrMoreAtBeginning)") {
    val p = Pattern.begin[Ev]("a")(_.typ.contains("a")).oneOrMore
      .next("b")(_.typ.contains("b"))
    val evs = Seq(Ev(1, "a1", 1), Ev(1, "a2", 2), Ev(1, "a3", 3),
      Ev(1, "b1", 4))
    // NoSkip: every start's maximal run (docs example)
    assert(skipMatches(p, Cep.NoSkip, evs).toSet ===
      Set(Seq(1L, 2, 3, 4), Seq(2L, 3, 4), Seq(3L, 4)))
    // skipPastLastEvent: only the earliest
    assert(skipMatches(p, Cep.SkipPastLastEvent, evs) ===
      Seq(Seq(1L, 2, 3, 4)))
    // skipToLast("a"): boundary = a3 — {a2..} discarded, {a3, b1} kept
    assert(skipMatches(p, Cep.SkipToLast("a"), evs).toSet ===
      Set(Seq(1L, 2, 3, 4), Seq(3L, 4)))
    // skipToFirst("a"): boundary = a1 — everything survives
    assert(skipMatches(p, Cep.SkipToFirst("a"), evs).toSet ===
      Set(Seq(1L, 2, 3, 4), Seq(2L, 3, 4), Seq(3L, 4)))
  }

  test("port: SkipToFirst discards by the named loop's first event (testSkipToFirstDiscarding)") {
    val p = Pattern.begin[Ev]("ac")(e =>
        e.typ.contains("a") || e.typ.contains("c"))
      .followedBy("bc")(e => e.typ.contains("b") || e.typ.contains("c"))
      .followedBy("cs")(_.typ.contains("c")).oneOrMore.relaxed
      .followedBy("d")(_.typ.contains("d"))
    val evs = Seq(Ev(1, "a", 1), Ev(1, "b", 2), Ev(1, "c1", 3),
      Ev(1, "c2", 4), Ev(1, "c3", 5), Ev(1, "d", 6))
    assert(skipMatches(p, Cep.SkipToFirst("cs"), evs).toSet ===
      Set(Seq(1L, 2, 3, 4, 5, 6), Seq(3L, 4, 5, 6)))
  }

  test("port: deferred emission before an earlier live partial (testSkipBeforeOtherAlreadyCompleted)") {
    // (a2 c2 b1) completes FIRST but the a1 chain is still live and
    // started earlier, so its emission — and its pruning boundary — must
    // wait; when (a1 c1 b2) completes it emits first and its boundary
    // (c1) does not kill the queued (a2 c2 b1)
    val p = Cep.Pattern.begin[PEv]("a")(_.typ.contains("a"))
      .followedBy("c")(_.typ.contains("c"))
      .followedByIter("b")((e, ctx) => e.typ.contains("b") &&
        ctx("a").head.price == e.price)
    val evs = Seq(PEv(1, "a1", 1, 0.0), PEv(1, "c1", 2, 0.0),
      PEv(1, "a2", 3, 1.0), PEv(1, "c2", 4, 0.0), PEv(1, "b1", 5, 1.0),
      PEv(1, "b2", 6, 0.0)).toDS()
    val got = Cep.matchBatchGroups(evs, (e: PEv) => e.user,
      (e: PEv) => e.ts, p, Cep.SkipToFirst("c")) { (_, m) =>
      Seq("a", "c", "b").flatMap(n => m(n).map(_.ts))
    }.collect().toSeq.map(_.toSeq).sortBy(_.head)
    assert(got === Seq(Seq(1L, 2, 6), Seq(3L, 4, 5)))
  }

  test("hot-key diagnostics: HotKeyStats reports the hottest key and peak partials") {
    // user 7 is the hot key: 50 views then an error (50 live partials at
    // peak — the serialization risk the metric exists to expose); user 8
    // is quiet. MaxAccumulator takes the max across keys/tasks, so the
    // driver reads the true hottest-key numbers.
    val stats = new Cep.HotKeyStats(spark.sparkContext, "spec")
    val hot = (1 to 50).map(i => Ev(7, "login", i.toLong)) :+ Ev(7, "error", 99)
    val quiet = Seq(Ev(8, "login", 1), Ev(8, "error", 2))
    val p = Pattern.begin[Ev]("login")(_.typ == "login")
      .followedBy("error")(_.typ == "error")
    val n = Cep.matchBatchGroups((hot ++ quiet).toDS(), (e: Ev) => e.user,
      (e: Ev) => e.ts, p, stats = stats) { (u, m) =>
      (u, m("login").head.ts)
    }.count()
    assert(n === 51) // 50 overlapping matches for user 7 + 1 for user 8
    assert(stats.maxKeyEvents.value === 51L)
    assert(stats.maxPartials.value === 50L)

    // streaming twin: the same accumulators ride the state fn across
    // micro-batches (per-batch key-run granularity)
    val stats2 = new Cep.HotKeyStats(spark.sparkContext, "spec2")
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      Long](
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      Cep.matchStreamGroupsFn[Long, Ev, Long](p, _.ts, Cep.NoSkip,
        _ => 0L, (_, m) => m("login").head.ts, stats2))
    h.input(7L, (1 to 30).map(i => Ev(7, "login", i.toLong)): _*)
    h.input(7L, Ev(7, "error", 99))
    assert(stats2.maxKeyEvents.value === 30L) // hottest single batch
    assert(stats2.maxPartials.value === 30L)
  }
}
