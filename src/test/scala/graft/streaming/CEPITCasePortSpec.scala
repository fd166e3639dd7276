package graft.streaming

import graft.SparkSuite
import graft.streaming.Cep._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Verbatim ports of the reference's end-to-end CEPITCase (flink-cep
  * cep/CEPITCase.java) — the DataStream-level integration file: keyed
  * and non-keyed runs, processing-time (arrival order) and event-time
  * scripts, the or() combinator, a same-timestamp comparator, the
  * timeout channel (exact multiplicities), and after-match skip through
  * the driver. SubEvent subtyping maps to an isSub flag.
  */
class CEPITCasePortSpec extends SparkSuite {

  private case class CE(id: Int, name: String, price: Double,
      isSub: Boolean = false)

  /** First event of each step, as the reference's select(p.get(x).get(0)). */
  private def firstIds(p: Pattern[CE], events: Seq[(CE, Long)],
      skip: AfterMatchSkip = NoSkip): Seq[String] =
    Cep.runMatches(p, events, skip)._1
      .map(_.map(_.head.id).mkString(",")).sorted

  private val startMiddleSubEnd = Pattern.begin[CE]("start")(_.name == "start")
    .followedByAny("middle")(e => e.isSub && e.name == "middle")
    .followedByAny("end")(_.name == "end")

  // ---- testSimplePatternCEP (:61) — processing time = arrival order
  test("port: simple pattern, subtype middle (CEPITCase testSimplePatternCEP)") {
    val events = Seq(
      CE(1, "barfoo", 1.0), CE(2, "start", 2.0), CE(3, "foobar", 3.0),
      CE(4, "foo", 4.0, isSub = true), CE(5, "middle", 5.0),
      CE(6, "middle", 6.0, isSub = true), CE(7, "bar", 3.0, isSub = true),
      CE(42, "42", 42.0), CE(8, "end", 1.0)
    ).zipWithIndex.map { case (e, i) => e -> i.toLong }
    assert(firstIds(startMiddleSubEnd, events) === Seq("2,6,8"))
  }

  // ---- testSimpleKeyedPatternCEP (:117) — keyBy(id); per-key runs
  test("port: simple keyed pattern (CEPITCase testSimpleKeyedPatternCEP)") {
    val events = Seq(
      CE(1, "barfoo", 1.0), CE(2, "start", 2.0), CE(3, "start", 2.1),
      CE(3, "foobar", 3.0), CE(4, "foo", 4.0, isSub = true),
      CE(3, "middle", 3.2, isSub = true), CE(42, "start", 3.1),
      CE(42, "middle", 3.3, isSub = true), CE(5, "middle", 5.0),
      CE(2, "middle", 6.0, isSub = true), CE(7, "bar", 3.0, isSub = true),
      CE(42, "42", 42.0), CE(3, "end", 2.0), CE(2, "end", 1.0),
      CE(42, "end", 42.0)
    ).zipWithIndex.map { case (e, i) => e -> i.toLong }
    val got = events.map(_._1.id).distinct.flatMap { k =>
      firstIds(startMiddleSubEnd, events.filter(_._1.id == k))
    }.sorted
    assert(got === Seq("2,2,2", "3,3,3", "42,42,42"))
  }

  private val startMiddleEnd = Pattern.begin[CE]("start")(_.name == "start")
    .followedByAny("middle")(_.name == "middle")
    .followedByAny("end")(_.name == "end")

  // ---- testSimplePatternEventTime (:205)
  test("port: simple pattern event time (CEPITCase testSimplePatternEventTime)") {
    val events = Seq(
      CE(1, "start", 1.0) -> 5L, CE(2, "middle", 2.0) -> 1L,
      CE(3, "end", 3.0) -> 3L, CE(4, "end", 4.0) -> 10L,
      CE(5, "middle", 5.0) -> 7L, CE(5, "middle", 5.0) -> 100L)
    assert(firstIds(startMiddleEnd, events) === Seq("1,5,4"))
  }

  // ---- testSimpleKeyedPatternEventTime (:270)
  test("port: simple keyed pattern event time (CEPITCase testSimpleKeyedPatternEventTime)") {
    val events = Seq(
      CE(1, "start", 1.0) -> 5L, CE(1, "middle", 2.0) -> 1L,
      CE(2, "middle", 2.0) -> 4L, CE(2, "start", 2.0) -> 3L,
      CE(1, "end", 3.0) -> 3L, CE(3, "start", 4.1) -> 5L,
      CE(1, "end", 4.0) -> 10L, CE(2, "end", 2.0) -> 8L,
      CE(1, "middle", 5.0) -> 7L, CE(3, "middle", 6.0) -> 9L,
      CE(3, "end", 7.0) -> 7L)
    val got = events.map(_._1.id).distinct.flatMap { k =>
      firstIds(startMiddleEnd, events.filter(_._1.id == k))
    }.sorted
    // key 3's end precedes its middle in event time -> no match
    assert(got === Seq("1,1,1", "2,2,2"))
  }

  // ---- testSimplePatternWithSingleState (:355)
  test("port: single-state pattern (CEPITCase testSimplePatternWithSingleState)") {
    val p = Pattern.begin[(Int, Int)]("start")(_._2 == 1)
    val (ms, _) = Cep.runMatches(p, Seq((0, 1) -> 0L, (0, 2) -> 1L))
    assert(ms.map(_.head.head) === Vector((0, 1)))
  }

  // ---- testProcessingTimeWithWindow (:385) — a window far larger than
  // the script never prunes
  test("port: processing-time window (CEPITCase testProcessingTimeWithWindow)") {
    val p = Pattern.begin[Int]("start")(_ => true)
      .followedByAny("end")(_ => true)
      .within(86400000L)
    val (ms, _) = Cep.runMatches(p, Seq(1 -> 0L, 2 -> 1L))
    assert(ms.map(m => m.head.head + m(1).head) === Vector(3))
  }

  // ---- testTimeoutHandling (:409) — the Either<timeout, match> channel
  // with EXACT multiplicities: {start 1.0} expires mid-script; the two
  // surviving anyMatch branches of start 2.0 expire at the final
  // watermark; one full match completes
  test("port: timeout handling multiplicities (CEPITCase testTimeoutHandling)") {
    val p = Pattern.begin[Ev]("start")(_.typ == "start")
      .followedByAny("middle")(_.typ == "middle")
      .followedByAny("end")(_.typ == "end")
      .within(3L)
    // Ev.user carries the price tag (x10 to stay integral)
    def price(e: Ev): String = (e.user / 10.0).toString
    val h = new VirtualClockHarness[Int, Ev, GroupCep.GArrivalState[Ev],
      Either[String, String]](
      GroupStateTimeout.EventTimeTimeout(),
      Cep.matchStreamWithTimeoutsFn[Int, Ev, Either[String, String]](
        p, _.ts, NoSkip, _ => 0L,
        (_, m) => Right(
          s"${price(m("start"))},${price(m("middle"))},${price(m("end"))}"),
        (_, groups, _) => Left(price(groups("start").head))))
    val out1 = h.input(1, Ev(10, "start", 1), Ev(20, "start", 4),
      Ev(20, "middle", 5), Ev(20, "end", 6))
    // final watermark: the two surviving anyMatch branches of start 2.0
    // ({start} and {start, middle}) expire, like the reference's
    // SharedBuffer prefixes
    val out2 = h.advanceWatermarkTo(1000L)
    val got = (out1 ++ out2).map(_.toString).sorted
    assert(got === Seq("Left(1.0)", "Left(2.0)", "Left(2.0)",
      "Right(2.0,2.0,2.0)"))
  }

  // ---- testSimpleOrFilterPatternCEP (:500) — the or() combinator
  test("port: or-filter pattern (CEPITCase testSimpleOrFilterPatternCEP)") {
    val p = Pattern.begin[CE]("start")(_.name == "start")
      .followedByAny("middle")(_.price == 2.0).or(_.price == 5.0)
      .followedByAny("end")(_.name == "end")
    val events = Seq(
      CE(1, "start", 1.0), CE(2, "middle", 2.0), CE(3, "end", 3.0),
      CE(4, "start", 4.0), CE(5, "middle", 5.0), CE(6, "end", 6.0)
    ).zipWithIndex.map { case (e, i) => e -> i.toLong }
    assert(firstIds(p, events) === Seq("1,2,3", "1,2,6", "1,5,6", "4,5,6"))
  }

  // ---- testSimplePatternEventTimeWithComparator (:560) — same-ts events
  // ordered by a price comparator (our tie function)
  test("port: event time with comparator (CEPITCase testSimplePatternEventTimeWithComparator)") {
    val events = Seq(
      CE(1, "start", 1.0) -> 5L, CE(2, "middle", 2.0) -> 1L,
      CE(3, "end", 3.0) -> 3L, CE(4, "end", 4.0) -> 10L,
      CE(5, "middle", 6.0) -> 7L, CE(6, "middle", 5.0) -> 7L,
      CE(7, "middle", 5.0) -> 100L)
    // runMatches keeps input order for ties; pre-sort by (ts, price) to
    // apply the comparator like CEP.pattern(input, pattern, comparator)
    val ordered = events.sortBy { case (e, t) => (t, e.price) }
    assert(firstIds(startMiddleEnd, ordered) === Seq("1,5,4", "1,6,4"))
  }

  // ---- testSimpleAfterMatchSkip (:620) — skip strategy via the driver
  test("port: after-match skip through the driver (CEPITCase testSimpleAfterMatchSkip)") {
    val p = Pattern.begin[(Int, String)]("start")(_._2 == "a").times(2)
    val (ms, _) = Cep.runMatches(p,
      Seq((1, "a") -> 0L, (2, "a") -> 1L, (3, "a") -> 2L, (4, "a") -> 3L),
      skip = SkipPastLastEvent)
    assert(ms.map(_.head.head).sortBy(_._1) === Vector((1, "a"), (3, "a")))
  }
}
