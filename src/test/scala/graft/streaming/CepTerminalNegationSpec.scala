package graft.streaming

import graft.SparkSuite
import graft.streaming.Cep._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Terminal negation — a pattern ENDING in notNext/notFollowedBy.
  *
  * Reference parity: terminal notNext is supported by the 1.6 NFACompiler
  * (an IGNORE edge into Final guarded by !pred, NFACompiler.java:239-245;
  * pinned by NotPatternITCase testNotNextNoMatchesAtTheEnd), while
  * terminal notFollowedBy throws MalformedPatternException
  * (NFACompiler.java:108). We match both, and EXTEND notFollowedBy with
  * `within` using the semantics Flink later standardized (1.14 /
  * FLINK-23958): the match emits at the window horizon if no banned event
  * arrived — the "A not followed by B within w" funnel shape. All three
  * execution paths (library batch, planned GroupCepExec, streaming state
  * function) run the same [[Cep.NegGate]]; a pattern ending in a
  * negation runs the default NoSkip strategy only.
  */
class CepTerminalNegationSpec extends SparkSuite {
  import spark.implicits._

  private def batchIds(events: Seq[Ev], p: Pattern[Ev]): Set[Seq[Long]] =
    Cep.matchBatchGroups(spark.createDataset(events), (e: Ev) => e.user,
      (e: Ev) => e.ts, p) { (_, groups) =>
      groups.values.flatten.toSeq.sortBy(_.ts).map(_.ts)
    }.collect().toSet

  test("port: terminal notNext kills on the literal next event (NotPatternITCase testNotNextNoMatchesAtTheEnd)") {
    val p = Pattern.begin[Ev]("start")(_.typ == "a")
      .followedByAny("middle")(_.typ == "c")
      .followedByAny("end")(_.typ == "d")
      .notNext("notPattern")(_.typ == "b")
    // a@1 c@2 c@3 d@4, then b@5 immediately after every completed match
    val got = batchIds(Seq(
      Ev(1, "a", 1), Ev(1, "c", 2), Ev(1, "c", 3), Ev(1, "d", 4),
      Ev(1, "b", 5)), p)
    assert(got === Set.empty[Seq[Long]])
  }

  test("terminal notNext: a non-banned next event releases; no event never emits") {
    val p = Pattern.begin[Ev]("start")(_.typ == "a")
      .followedByAny("middle")(_.typ == "c")
      .followedByAny("end")(_.typ == "d")
      .notNext("notPattern")(_.typ == "b")
    // z@5 is not banned -> both matches emit at it (excluding z itself)
    val got = batchIds(Seq(
      Ev(1, "a", 1), Ev(1, "c", 2), Ev(1, "c", 3), Ev(1, "d", 4),
      Ev(1, "z", 5)), p)
    assert(got === Set(Seq(1L, 2L, 4L), Seq(1L, 3L, 4L)))
    // the IGNORE edge needs an event: end-of-input alone emits nothing
    val got2 = batchIds(Seq(
      Ev(1, "a", 1), Ev(1, "c", 2), Ev(1, "c", 3), Ev(1, "d", 4)), p)
    assert(got2 === Set.empty[Seq[Long]])
  }

  test("terminal notFollowedBy without within throws (reference NFACompiler parity)") {
    val p = Pattern.begin[Ev]("v")(_.typ == "view")
      .notFollowedBy("p")(_.typ == "purchase")
    val e = intercept[IllegalArgumentException] {
      batchIds(Seq(Ev(1, "view", 1)), p)
    }
    assert(e.getMessage.contains(
      "NotFollowedBy is not supported as a last part of a Pattern"))
  }

  test("terminal negation rejects a non-default skip strategy by name") {
    // the planned operator's rule on every driver: the gate holds
    // matches outside the skip queue, so the two do not compose
    val p = Pattern.begin[Ev]("v")(_.typ == "view")
      .notFollowedBy("p")(_.typ == "purchase")
      .within(30L)
    val batch = intercept[IllegalArgumentException] {
      Cep.matchBatchGroups(spark.createDataset(Seq(Ev(1, "view", 1))),
        (e: Ev) => e.user, (e: Ev) => e.ts, p, Cep.SkipPastLastEvent) {
        (u, _) => u
      }
    }
    assert(batch.getMessage.contains(
      "terminal negation requires the default NoSkip strategy"))
    val stream = intercept[IllegalArgumentException] {
      Cep.matchStreamFn[Long, Ev, Long](p, _.ts, Cep.SkipToFirst("v"),
        _ => 0L, (u, _) => u)
    }
    assert(stream.getMessage.contains(
      "terminal negation requires the default NoSkip strategy"))
  }

  test("funnel: view NOT followed by purchase within the window (batch)") {
    val p = Pattern.begin[Ev]("v")(_.typ == "view")
      .notFollowedBy("p")(_.typ == "purchase")
      .within(30L)
    val events = Seq(
      // user 1: purchase at +10 kills the pending view
      Ev(1, "view", 100), Ev(1, "purchase", 110),
      // user 2: purchase at +40 is OUTSIDE the window; the horizon event
      // itself confirms the pending match first (>= expires-then-decides)
      Ev(2, "view", 100), Ev(2, "purchase", 140),
      // user 3: unrelated event inside the window does not kill;
      // end-of-input confirms (no purchase can ever arrive)
      Ev(3, "view", 100), Ev(3, "click", 120),
      // user 4: second view inside the first's window — both pend, a
      // purchase at 125 kills both (within both windows)
      Ev(4, "view", 100), Ev(4, "view", 105), Ev(4, "purchase", 125))
    val got = Cep.matchBatchGroups(spark.createDataset(events),
      (e: Ev) => e.user, (e: Ev) => e.ts, p) { (u, groups) =>
      (u, groups("v").head.ts)
    }.collect().toSet
    assert(got === Set((2L, 100L), (3L, 100L)))
  }

  test("planned terminal GNotSpec agrees with the library funnel") {
    import graft.plans.GroupCepPlan
    import graft.plans.GroupCepPlan.{GLeafSpec, GNotSpec}
    val events = Seq(
      Ev(1, "view", 100), Ev(1, "purchase", 110),
      Ev(2, "view", 100), Ev(2, "purchase", 140),
      Ev(3, "view", 100), Ev(3, "click", 120),
      Ev(4, "view", 100), Ev(4, "view", 105), Ev(4, "purchase", 125))
    val df = spark.createDataset(events).toDF()
    val funnel = Seq(GLeafSpec("v", col("typ") === "view"),
      GNotSpec("p", col("typ") === "purchase"))
    val planned = GroupCepPlan.matchGroupPattern(df,
      key = col("user"), ts = col("ts"), tie = col("ts"),
      elems = funnel, withinMicros = Some(30L))
      .select(col("key").cast("long"), col("v_ts"))
      .as[(Long, Long)].collect().toSet
    assert(planned === Set((2L, 100L), (3L, 100L)))
    // terminal notNext through the planned path: z releases, b kills
    val nn = Seq(
      Ev(7, "a", 1), Ev(7, "d", 2), Ev(7, "z", 3),
      Ev(8, "a", 1), Ev(8, "d", 2), Ev(8, "b", 3))
    val plannedNN = GroupCepPlan.matchGroupPattern(
      spark.createDataset(nn).toDF(),
      key = col("user"), ts = col("ts"), tie = col("ts"),
      elems = Seq(GLeafSpec("s", col("typ") === "a"),
        GLeafSpec("e", col("typ") === "d"),
        GNotSpec("b", col("typ") === "b", nextOnly = true)))
      .select(col("key").cast("long"), col("s_ts"), col("e_ts"))
      .as[(Long, Long, Long)].collect().toSet
    assert(plannedNN === Set((7L, 1L, 2L)))
    // planned terminal notFollowedBy without within is rejected
    val err = intercept[IllegalArgumentException] {
      GroupCepPlan.matchGroupPattern(df, col("user"), col("ts"), col("ts"),
        funnel)
    }
    assert(err.getMessage.contains("NotFollowedBy is not supported"))
  }

  test("streaming: pending notFollowedBy emits at the watermark horizon with no further events") {
    val p = Pattern.begin[Ev]("v")(_.typ == "view")
      .notFollowedBy("p")(_.typ == "purchase")
      .within(100L)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev], Long](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamFn[Long, Ev, Long](p, _.ts, Cep.NoSkip, _ => 0L,
        (_, m) => m("v").ts))
    assert(h.input(1L, Ev(1, "view", 0)).isEmpty)
    // the pending entry is state (gated) with the timer at its horizon
    assert(h.stateOf(1L).exists(_.gated.nonEmpty))
    assert(h.timerOf(1L).contains(100L))
    // short of the horizon: still pending
    assert(h.advanceWatermarkTo(50L).isEmpty)
    assert(h.stateOf(1L).exists(_.gated.nonEmpty))
    // horizon passes idle: the match emits from the timeout path
    assert(h.advanceWatermarkTo(150L) === Seq(0L))
    assert(h.stateOf(1L).isEmpty)
  }

  test("streaming: a banned event in a later micro-batch kills the pending match") {
    val p = Pattern.begin[Ev]("v")(_.typ == "view")
      .notFollowedBy("p")(_.typ == "purchase")
      .within(100L)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev], Long](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamFn[Long, Ev, Long](p, _.ts, Cep.NoSkip, _ => 0L,
        (_, m) => m("v").ts))
    assert(h.input(1L, Ev(1, "view", 0)).isEmpty)
    assert(h.input(1L, Ev(1, "purchase", 40)).isEmpty)
    assert(h.stateOf(1L).isEmpty)
    assert(h.advanceWatermarkTo(200L).isEmpty)
  }

  test("arrivalIds: value-identical events at one timestamp are distinct states (SharedBuffer EventId parity)") {
    // two bit-identical 'b' events: the reference's SharedBuffer assigns
    // each an arrival EventId and emits TWO value-identical matches —
    // the batch driver's identity; value identity (the raw NFA advance
    // over untagged events) collapses them to one
    val events = Seq(
      Ev(1, "a", 1), Ev(1, "b", 2), Ev(1, "b", 2), Ev(1, "c", 3))
    val p = Pattern.begin[Ev]("s")(_.typ == "a")
      .followedByAny("m")(_.typ == "b")
      .followedBy("e")(_.typ == "c")
    def runOn(evs: Seq[Ev], ids: Boolean): Seq[Seq[Long]] =
      if (ids) Cep.matchBatchGroups(spark.createDataset(evs),
        (e: Ev) => e.user, (e: Ev) => e.ts, p, tie = (e: Ev) => e.ts) {
        (_, groups) => groups.values.flatten.toSeq.sortBy(_.ts).map(_.ts)
      }.collect().toSeq
      else {
        val c = GroupCep.compile(p.toGroup)
        var confs = Vector.empty[GroupCep.GConf[Ev]]
        evs.flatMap { e =>
          val (next, ms) = GroupCep.advance(c, confs, e, e.ts)
          confs = next
          ms.map(m => m.map(_._2.ts))
        }
      }
    def run(ids: Boolean): Seq[Seq[Long]] = runOn(events, ids)
    assert(run(false) === Seq(Seq(1L, 2L, 3L)))
    assert(run(true) === Seq(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)))
    // distinct-valued events are unaffected by the mode
    val distinctEvents = Seq(
      Ev(2, "a", 1), Ev(2, "b", 2), Ev(2, "b", 3), Ev(2, "c", 4))
    def run2(ids: Boolean): Set[Seq[Long]] =
      runOn(distinctEvents, ids).toSet
    assert(run2(false) === run2(true))
    assert(run2(true) === Set(Seq(1L, 2L, 4L), Seq(1L, 3L, 4L)))
  }

  test("streaming: pending notNext crosses micro-batches and the next event decides") {
    val p = Pattern.begin[Ev]("s")(_.typ == "a")
      .followedBy("e")(_.typ == "d")
      .notNext("n")(_.typ == "b")
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      (Long, Long)](
      GroupStateTimeout.NoTimeout(),
      Cep.matchStreamFn[Long, Ev, (Long, Long)](p, _.ts, Cep.NoSkip,
        _ => 0L, (_, m) => (m("s").ts, m("e").ts)))
    // batch 1 completes the consuming steps; emission waits at the gate
    assert(h.input(1L, Ev(1, "a", 1), Ev(1, "d", 2)).isEmpty)
    assert(h.stateOf(1L).exists(_.gated.nonEmpty))
    // batch 2's first event is not banned -> the match emits
    assert(h.input(1L, Ev(1, "z", 3)) === Seq((1L, 2L)))
    // same script, banned second batch -> killed
    assert(h.input(2L, Ev(2, "a", 1), Ev(2, "d", 2)).isEmpty)
    assert(h.input(2L, Ev(2, "b", 3)).isEmpty)
    assert(h.stateOf(2L).forall(_.gated.isEmpty) ||
      h.stateOf(2L).isEmpty)
  }
}
