package graft.streaming

import graft.SparkSuite
import graft.streaming.GroupCep._

/** Verbatim ports of flink-cep GroupITCase.java — the reference's exact
  * event sequences and expected match lists (flattened capture order,
  * compared as sets like the reference's compareMaps). */
class GroupCepSpec extends SparkSuite {

  private case class RE(id: Int, name: String, price: Double)

  /** Feeds events through the raw NFA, returning flattened id lists per
    * match (the reference's List<Event> shape). */
  private def feed(pattern: GPattern[RE],
      events: Seq[(RE, Long)]): Vector[Seq[Int]] =
    feedAt(pattern, events).map(_._2)

  /** Like [[feed]], but each match carries the index of the event it
    * emitted on. */
  private def feedAt(pattern: GPattern[RE],
      events: Seq[(RE, Long)]): Vector[(Int, Seq[Int])] = {
    val c = GroupCep.compile(pattern)
    var confs = Vector.empty[GConf[RE]]
    val all = Vector.newBuilder[(Int, Seq[Int])]
    events.zipWithIndex.foreach { case ((e, ts), i) =>
      val (next, ms) = GroupCep.advance(c, confs, e, ts)
      confs = next
      ms.foreach(m => all += (i -> m.map(_._2.id)))
    }
    all.result()
  }

  private def feedWithRemaining(pattern: GPattern[RE],
      events: Seq[(RE, Long)]): (Vector[Seq[Int]], Int) = {
    val c = GroupCep.compile(pattern)
    var confs = Vector.empty[GConf[RE]]
    val all = Vector.newBuilder[Seq[Int]]
    events.foreach { case (e, ts) =>
      val (next, ms) = GroupCep.advance(c, confs, e, ts)
      confs = next
      ms.foreach(m => all += m.map(_._2.id))
    }
    (all.result(), confs.size)
  }

  private val c = RE(40, "c", 1.0)

  test("port: c (a b){2} d (GroupITCase testGroupFollowedByTimes)") {
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(2)
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      d -> 6L))
    assert(got.toSet === Set(Seq(40, 41, 42, 43, 44, 45)))
  }

  test("port: c (a b)? d (testGroupFollowedByOptional)") {
    val (a1, a2, b, d) = (RE(41, "a", 2.0), RE(42, "a", 2.0),
      RE(43, "b", 3.0), RE(44, "d", 4.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).optional
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, a2 -> 3L, b -> 4L, d -> 5L))
    assert(got.toSet === Set(Seq(40, 44), Seq(40, 41, 43, 44)))
  }

  test("port: c (a b){2}? d, incomplete group (testFollowedByGroupTimesOptional)") {
    val (a, d) = (RE(41, "a", 2.0), RE(45, "d", 3.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(2).optional
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a -> 2L, d -> 3L))
    assert(got.toSet === Set(Seq(40, 45)))
  }

  test("port: c (a b)+ d (testGroupFollowedByOneOrMore)") {
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).oneOrMore
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      d -> 6L))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 45),
      Seq(40, 41, 42, 43, 44, 45)))
  }

  test("port: c (a b)* d (testGroupFollowedByZeroOrMore)") {
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).oneOrMore.optional
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      d -> 6L))
    assert(got.toSet === Set(
      Seq(40, 45),
      Seq(40, 41, 42, 45),
      Seq(40, 41, 42, 43, 44, 45)))
  }

  test("port: c any (a b){2} combinations d (testGroupFollowedByAnyTimesCombinations)") {
    val (a1, b1, a2, b2, a3, b3, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "a", 4.0), RE(46, "b", 5.0),
      RE(47, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(2).allowCombinations
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      a3 -> 6L, b3 -> 7L, d -> 8L))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43, 44, 47),
      Seq(40, 41, 42, 45, 46, 47),
      Seq(40, 43, 44, 45, 46, 47)))
  }

  test("port: c any (a b){2}? d (testGroupFollowedByAnyTimesOptional)") {
    val (a1, b1, a2, b2, a3, b3, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "a", 4.0), RE(46, "b", 5.0),
      RE(47, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(2).optional
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      a3 -> 6L, b3 -> 7L, d -> 8L))
    assert(got.toSet === Set(
      Seq(40, 47),
      Seq(40, 41, 42, 43, 44, 47),
      Seq(40, 43, 44, 45, 46, 47)))
  }

  test("port: c any (a b){1,} d (testGroupFollowedByAnyOneOrMore)") {
    val (a1, b1, a2, b2, a3, b3, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "a", 4.0), RE(46, "b", 5.0),
      RE(47, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).oneOrMore
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      a3 -> 6L, b3 -> 7L, d -> 8L))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 47),
      Seq(40, 43, 44, 47),
      Seq(40, 45, 46, 47),
      Seq(40, 41, 42, 43, 44, 47),
      Seq(40, 43, 44, 45, 46, 47),
      Seq(40, 41, 42, 43, 44, 45, 46, 47)))
  }

  test("port: c next (a b)* consecutive d (testGroupNextZeroOrMore)") {
    val (a1, b1, a2, b2, a3, b3, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 3.0), RE(44, "b", 3.0), RE(45, "a", 4.0), RE(46, "b", 3.0),
      RE(47, "d", 1.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .next(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b"))
      .oneOrMore.optional.consecutive
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, a1 -> 3L, b1 -> 4L, a2 -> 5L, b2 -> 6L,
      a3 -> 7L, b3 -> 8L, d -> 9L))
    assert(got.toSet === Set(
      Seq(40, 47),
      Seq(40, 41, 42, 47),
      Seq(40, 41, 42, 43, 44, 47),
      Seq(40, 41, 42, 43, 44, 45, 46, 47)))
  }

  test("port: c any (a b) ^d e (testGroupNotFollowedBy)") {
    val (a1, b1, d, a2, b2, e) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "d", 3.0), RE(44, "a", 4.0), RE(45, "b", 5.0), RE(46, "e", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b"))
      .notFollowedBy("notPattern")(_.name == "d")
      .followedBy("end")(_.name == "e")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, d -> 4L, a2 -> 5L,
      b2 -> 6L, e -> 7L))
    assert(got.toSet === Set(Seq(40, 44, 45, 46)))
  }

  test("port: c any (a b) notNext d e (testGroupNotNext)") {
    val (a1, b1, d, a2, b2, e) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "d", 3.0), RE(44, "a", 4.0), RE(45, "b", 5.0), RE(46, "e", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b"))
      .notNext("notPattern")(_.name == "d")
      .followedBy("end")(_.name == "e")
    val got = feed(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, d -> 4L, a2 -> 5L,
      b2 -> 6L, e -> 7L))
    assert(got.toSet === Set(Seq(40, 44, 45, 46)))
  }

  test("port: d (a (b c)*)? e nested groups (testGroupNest)") {
    val (d, a1, b1, c1, b2, c2, e) = (RE(40, "d", 1.0), RE(41, "a", 2.0),
      RE(42, "b", 3.0), RE(43, "c", 4.0), RE(44, "b", 5.0), RE(45, "c", 4.0),
      RE(46, "e", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "d")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy(GPattern.begin[RE]("middle2")(_.name == "b")
          .followedBy("middle3")(_.name == "c")).oneOrMore.optional)
      .optional
      .followedBy("end")(_.name == "e")
    val got = feed(p, Seq(d -> 1L, a1 -> 2L, b1 -> 3L, c1 -> 4L, b2 -> 5L,
      c2 -> 6L, e -> 7L))
    assert(got.toSet === Set(
      Seq(40, 46),
      Seq(40, 41, 46),
      Seq(40, 41, 42, 43, 46),
      Seq(40, 41, 42, 43, 44, 45, 46)))
  }

  test("port: d any (a (b c){3}){0,2} e (testGroupNestTimes)") {
    val d = RE(40, "d", 1.0); val e = RE(55, "e", 6.0)
    val a1 = RE(41, "a", 2.0); val a2 = RE(48, "a", 2.0)
    val bs1 = Seq(RE(42, "b", 3.0), RE(44, "b", 5.0), RE(46, "b", 5.0))
    val cs1 = Seq(RE(43, "c", 4.0), RE(45, "c", 4.0), RE(47, "c", 4.0))
    val bs2 = Seq(RE(49, "b", 3.0), RE(51, "b", 5.0), RE(53, "b", 5.0))
    val cs2 = Seq(RE(50, "c", 4.0), RE(52, "c", 4.0), RE(54, "c", 4.0))
    val p = GPattern.begin[RE]("start")(_.name == "d")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy(GPattern.begin[RE]("middle2")(_.name == "b")
          .followedBy("middle3")(_.name == "c")).times(3)).times(0, 2)
      .followedBy("end")(_.name == "e")
    val events = (Seq(d) ++ Seq(a1) ++
      (bs1 zip cs1).flatMap { case (b, cc) => Seq(b, cc) } ++ Seq(a2) ++
      (bs2 zip cs2).flatMap { case (b, cc) => Seq(b, cc) } ++ Seq(e))
      .zipWithIndex.map { case (ev, i) => ev -> (i + 1).toLong }
    val got = feed(p, events)
    val block1 = Seq(41, 42, 43, 44, 45, 46, 47)
    val block2 = Seq(48, 49, 50, 51, 52, 53, 54)
    assert(got.toSet === Set(
      Seq(40, 55),
      40 +: (block1 :+ 55),
      40 +: (block2 :+ 55),
      40 +: (block1 ++ block2 :+ 55)))
  }

  test("port: nested consecutive with a breaking event (testGroupNestTimesConsecutive)") {
    val d = RE(40, "d", 1.0); val e = RE(55, "e", 6.0)
    val breaking = RE(0, "breaking", 99.0)
    val a1 = RE(41, "a", 2.0); val a2 = RE(48, "a", 2.0)
    val bs1 = Seq(RE(42, "b", 3.0), RE(44, "b", 5.0), RE(46, "b", 5.0))
    val cs1 = Seq(RE(43, "c", 4.0), RE(45, "c", 4.0), RE(47, "c", 4.0))
    val bs2 = Seq(RE(49, "b", 3.0), RE(51, "b", 5.0), RE(53, "b", 5.0))
    val cs2 = Seq(RE(50, "c", 4.0), RE(52, "c", 4.0), RE(54, "c", 4.0))
    val p = GPattern.begin[RE]("start")(_.name == "d")
      .followedByAny(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy(GPattern.begin[RE]("middle2")(_.name == "b")
          .followedBy("middle3")(_.name == "c")).times(3).consecutive)
      .times(0, 2).consecutive
      .followedBy("end")(_.name == "e")
    // breaking lands between a2's first (b c) and second (b c)
    val events = (Seq(d, a1) ++
      (bs1 zip cs1).flatMap { case (b, cc) => Seq(b, cc) } ++
      Seq(a2, bs2(0), cs2(0), breaking, bs2(1), cs2(1), bs2(2), cs2(2), e))
      .zipWithIndex.map { case (ev, i) => ev -> (i + 1).toLong }
    val got = feed(p, events)
    val block1 = Seq(41, 42, 43, 44, 45, 46, 47)
    assert(got.toSet === Set(
      Seq(40, 55),
      40 +: (block1 :+ 55)))
  }

  test("port: begin group (a b){1,2} d (testGroupBegin)") {
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    val p = GPattern.begin(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(1, 2)
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(a1 -> 1L, b1 -> 2L, a2 -> 3L, b2 -> 4L, d -> 5L))
    assert(got.toSet === Set(
      Seq(41, 42, 45),
      Seq(43, 44, 45),
      Seq(41, 42, 43, 44, 45)))
  }

  test("port: c (a b)+ until d, d (testGroupFollowedByOneOrMoreWithUntilCondition)") {
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).oneOrMore
      .until(_.name == "d")
      .followedBy("end")(_.name == "d")
    val (got, remaining) = feedWithRemaining(p,
      Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L, d -> 6L))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 45),
      Seq(40, 41, 42, 43, 44, 45)))
    // the reference asserts only the start state remains; our start state
    // is implicit, so the equivalent is: no partial branches survive
    assert(remaining === 0)
  }

  test("port: c a*-greedy (d e){2} f (GreedyITCase testGreedyZeroOrMoreBeforeGroupPattern)") {
    // the last unported GreedyITCase case (round-8 VERDICT #3): a GREEDY
    // quantified leaf before a group — the whole pattern compiles onto
    // the group engine, which now implements the reference's
    // updateWithGreedyCondition (the branch that declined to extend the
    // loop dies on any event the loop could have consumed), so ONLY the
    // maximal a-run reaches (d e){2} f
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.optional.greedy
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "d")
        .followedBy("middle2")(_.name == "e")).times(2)
      .followedBy("end")(_.name == "f")
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 1.0) -> 2L, RE(42, "a", 1.0) -> 3L,
      RE(49, "dummy", 2.0) -> 4L, RE(43, "a", 1.0) -> 5L,
      RE(50, "d", 1.0) -> 6L, RE(51, "e", 1.0) -> 7L,
      RE(52, "d", 1.0) -> 8L, RE(53, "e", 1.0) -> 9L,
      RE(54, "f", 3.0) -> 10L))
    assert(got === Vector(Seq(40, 41, 42, 43, 50, 51, 52, 53, 54)))
  }

  test("greedy on a MULTI-element group quantifier prefers the longer repetition run") {
    // Beyond the reference's tested surface (its NFACompiler applies
    // greedy only to leaf loops; greedy on a GroupPattern is
    // unspecified): our guard generalizes updateWithGreedyCondition to
    // the group's ENTRY condition — a branch that exited the loop dies
    // on any event that could have started another repetition. Pinned
    // here as the engine's documented semantics.
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    def base = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("m1")(_.name == "a")
        .followedBy("m2")(_.name == "b")).oneOrMore
    val events = Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      d -> 6L)
    // without greedy: the rep-1 exit fork survives to d -> two matches
    val plain = feed(base.followedBy("end")(_.name == "d"), events)
    assert(plain.toSet === Set(
      Seq(40, 41, 42, 45), Seq(40, 41, 42, 43, 44, 45)))
    // with greedy: a@4 (a fresh repetition entry) kills the rep-1 exit
    // fork -> only the maximal two-rep match survives
    val greedy = feed(base.greedy.followedBy("end")(_.name == "d"), events)
    assert(greedy === Vector(Seq(40, 41, 42, 43, 44, 45)))
  }

  test("head-position optional greedy loop guards the START frontier too (round-9 ADVICE)") {
    // a* (greedy, optional, at pattern head) b, with overlapping
    // predicates (every a also satisfies b's is-letter check). The start
    // frontier contains BOTH the loop entry and the post-loop "end" step
    // (loop is optional); the reference conjoins NOT(take) on every
    // sink-state transition, so an event that could have been consumed by
    // the loop must NOT open a match directly at "end" — without the
    // guard, a1/a2 would each emit a spurious non-maximal [a] match.
    val p = GPattern.begin[RE]("middle")(_.name == "a")
      .oneOrMore.optional.greedy
      .followedBy("end")(e => e.name == "a" || e.name == "b")
    val got = feed(p, Seq(
      RE(41, "a", 1.0) -> 1L, RE(42, "a", 1.0) -> 2L,
      RE(43, "b", 2.0) -> 3L))
    assert(got.toSet === Set(
      Seq(41, 42, 43), // maximal: both a's consumed by the loop
      Seq(42, 43),     // branch legitimately started at a2
      Seq(43)))        // empty loop: b opened at "end", no a skipped
    assert(got.size === 3)
  }

  test("alternation: c (a|b) d takes either branch (SQL:2016 fork, round-9)") {
    // strict adjacency (SQL concatenation) so each c pairs with exactly
    // the branch occurrence that follows it
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .next(Seq(
        GPattern.begin[RE]("buy")(_.name == "a"),
        GPattern.begin[RE]("browse")(_.name == "b")))
      .next("end")(_.name == "d")
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 1.0) -> 2L, RE(45, "d", 1.0) -> 3L,
      RE(46, "c", 1.0) -> 4L, RE(42, "b", 1.0) -> 5L, RE(47, "d", 1.0) -> 6L))
    assert(got.toSet === Set(Seq(40, 41, 45), Seq(46, 42, 47)))
    // followedBy boundaries additionally let the first start reach the
    // later browse occurrence (TILL_NEXT ignore semantics) — pin that too
    val pf = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(Seq(
        GPattern.begin[RE]("buy")(_.name == "a"),
        GPattern.begin[RE]("browse")(_.name == "b")))
      .followedBy("end")(_.name == "d")
    val gotF = feed(pf, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 1.0) -> 2L, RE(45, "d", 1.0) -> 3L,
      RE(46, "c", 1.0) -> 4L, RE(42, "b", 1.0) -> 5L, RE(47, "d", 1.0) -> 6L))
    assert(gotF.toSet === Set(
      Seq(40, 41, 45), Seq(40, 42, 47), Seq(46, 42, 47)))
  }

  test("alternation: overlapping branches both fire, leftmost first (library all-matches semantics)") {
    // SQL:2016 preference would keep only the leftmost branch; the CEP
    // library this compiles onto emits ALL matches (same posture as
    // quantifier emission, documented in MatchRecognize's scaladoc) —
    // preference surfaces as emission ORDER, which is what AFTER MATCH
    // SKIP strategies consume (next test)
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(Seq(
        GPattern.begin[RE]("x")(_.price >= 1.0), // both branches match "a"
        GPattern.begin[RE]("y")(_.name == "a")))
    val c0 = GroupCep.compile(p)
    var confs = Vector.empty[GConf[RE]]
    val all = Vector.newBuilder[Map[String, Seq[Int]]]
    Seq(RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L).foreach {
      case (e, ts) =>
        val (next, ms) = GroupCep.advance(c0, confs, e, ts)
        confs = next
        ms.foreach(m => all += GroupCep.toGroups(c0, m)
          .map { case (n, es) => n -> es.map(_.id) })
    }
    val got = all.result()
    assert(got === Vector(
      Map("start" -> Seq(40), "x" -> Seq(41), "y" -> Seq()),  // leftmost 1st
      Map("start" -> Seq(40), "x" -> Seq(), "y" -> Seq(41))))
  }

  test("alternation: multi-element branches c (a b | d e) f") {
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(Seq(
        GPattern.begin[RE]("a1")(_.name == "a").next("a2")(_.name == "b"),
        GPattern.begin[RE]("b1")(_.name == "d").next("b2")(_.name == "e")))
      .followedBy("end")(_.name == "f")
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "d", 1.0) -> 2L, RE(42, "e", 1.0) -> 3L,
      RE(43, "f", 1.0) -> 4L))
    assert(got === Vector(Seq(40, 41, 42, 43)))
    // a half-completed wrong branch must not match
    val none = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "d", 1.0) -> 2L, RE(44, "b", 1.0) -> 3L,
      RE(43, "f", 1.0) -> 4L))
    assert(none.isEmpty)
  }

  test("alternation: quantified (a|b){2} mixes branch occurrences per repetition") {
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(Seq(
        GPattern.begin[RE]("a")(_.name == "a"),
        GPattern.begin[RE]("b")(_.name == "b"))).times(2).consecutive
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 1.0) -> 2L, RE(42, "b", 1.0) -> 3L,
      RE(43, "d", 1.0) -> 4L))
    assert(got === Vector(Seq(40, 41, 42, 43))) // a then b across the two reps
  }

  test("alternation: all-optional branch makes the alternation skippable") {
    // (a? | b) then d: the left branch can match empty, so "c d" matches
    // with the alternation contributing nothing
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(Seq(
        GPattern.begin[RE]("a")(_.name == "a").times(1, 1).optional,
        GPattern.begin[RE]("b")(_.name == "b")))
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(RE(40, "c", 1.0) -> 1L, RE(43, "d", 1.0) -> 2L))
    assert(got === Vector(Seq(40, 43)))
  }

  test("greedy is rejected on an allowCombinations loop (reference Quantifier.greedy check)") {
    assertThrows[IllegalArgumentException] {
      GPattern.begin[RE]("start")(_.name == "c")
        .followedBy("middle")(_.name == "a").oneOrMore.allowCombinations
        .greedy
    }
  }

  test("adjacent combination loops match the SharedBuffer version multiset (NFAITCase testMultipleTakesVersionCollision shape)") {
    // the same 20-match multiset the library NFA reproduces
    // (CepQuantifierSpec) — pins that the group engine's epsilon-NFA
    // neither over-counts convergent splits nor drops duplicates that
    // differ only in the split point
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle1")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("middle2")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("end")(_.name == "b")
    val m = (i: Int) => RE(i, "a", (1 + i).toDouble)
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, m(1) -> 3L, m(2) -> 4L, m(3) -> 5L,
      m(4) -> 6L, m(5) -> 7L, RE(46, "b", 5.0) -> 10L))
    def seq(ms: Int*) = 40 +: ms :+ 46
    val expected = Seq(
      Seq.fill(4)(seq(1, 2, 3, 4, 5)),
      Seq.fill(3)(seq(1, 2, 3, 4)), Seq.fill(2)(seq(1, 2, 4, 5)),
      Seq.fill(2)(seq(1, 2, 3, 5)), Seq.fill(2)(seq(1, 3, 4, 5)),
      Seq.fill(2)(seq(1, 2, 3)), Seq(seq(1, 3, 4)), Seq(seq(1, 4, 5)),
      Seq(seq(1, 2, 4)), Seq(seq(1, 2, 5)),
      Seq(seq(1, 2))).flatten
    assert(got.size == 20, s"expected 20 matches, got ${got.size}: $got")
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
      expected.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("arrival identity: value-identical events are distinct branch states (batch driver)") {
    // SameElementITCase semantics on the GROUP engine (round 8): the
    // same 'a' instance fed twice under followedByAny yields TWO
    // value-identical matches — SharedBuffer EventId identity. The raw
    // advance/feed path (value identity) would collapse them to one.
    import spark.implicits._
    val events = Seq(
      (1L, "c", 1L), (1L, "a", 3L), (1L, "a", 3L), (1L, "b", 4L),
      (1L, "d", 5L)).map { case (u, n, t) => Ev(u, n, t) }
    val p = GPattern.begin[Ev]("start")(_.typ == "c")
      .followedByAny(GPattern.begin[Ev]("m1")(_.typ == "a")
        .followedBy("m2")(_.typ == "b"))
      .followedBy("end")(_.typ == "d")
    def run(ids: Boolean): Seq[Seq[Long]] =
      if (ids) GroupCep.matchBatchGroups(events.toDS(), (e: Ev) => e.user,
        (e: Ev) => e.ts, p, tie = (e: Ev) => e.ts) { (_, groups) =>
        groups.values.flatten.map(_.ts).toSeq
      }.collect().toSeq
      else {
        // value identity: the raw advance over the untagged events
        val c = GroupCep.compile(p)
        var confs = Vector.empty[GConf[Ev]]
        events.flatMap { e =>
          val (next, ms) = GroupCep.advance(c, confs, e, e.ts)
          confs = next
          ms.map(m => GroupCep.toGroups(c, m).values.flatten.map(_.ts).toSeq)
        }
      }
    assert(run(false) === Seq(Seq(1L, 3L, 4L, 5L)))
    assert(run(true) === Seq(Seq(1L, 3L, 4L, 5L), Seq(1L, 3L, 4L, 5L)))
  }

  test("arrival identity: streaming twin matches batch across micro-batch splits") {
    // the duplicate pair SPLIT across batches: only the persisted
    // counter keeps the two 'a's distinct
    val events = Seq(
      Ev(1L, "c", 1L), Ev(1L, "a", 3L), Ev(1L, "a", 3L),
      Ev(1L, "b", 4L), Ev(1L, "d", 5L))
    val p = GPattern.begin[Ev]("start")(_.typ == "c")
      .followedByAny(GPattern.begin[Ev]("m1")(_.typ == "a")
        .followedBy("m2")(_.typ == "b"))
      .followedBy("end")(_.typ == "d")
    val fn = GroupCep.matchStreamArrivalFn[Long, Ev, Seq[Long]](
      p, _.ts, _ => 0L, graft.streaming.Cep.NoSkip,
      (_, groups) => groups.values.flatten.map(_.ts).toSeq)
    val n = events.size
    for (i <- 0 to n; j <- i to n) {
      val h = new VirtualClockHarness[Long, Ev,
        GroupCep.GArrivalState[Ev], Seq[Long]](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(), fn)
      val got = Seq(events.take(i), events.slice(i, j), events.drop(j))
        .flatMap(c => h.input(1L, c: _*))
      assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
        Map(Seq(1L, 3L, 4L, 5L) -> 2), s"split ($i,$j) diverged")
    }
  }

  test("streaming skip: a deferred match is released when its blocking branch EXPIRES on the timer") {
    // ((A B V)+ C) within 100: the start@2 branch completes at c@5 but
    // start@1 is older and still mid-repetition, so the match defers in
    // GArrivalState.pending. No further event arrives — the WATERMARK
    // passes start@1's within horizon, the idle-key timer fires, the
    // blocker dies, and the drain releases the deferred match.
    import org.apache.spark.sql.streaming.GroupStateTimeout
    def xc(e: Ev) = e.typ == "x" || e.typ == "c"
    // strict `next` into 'e': the start@1 exit fork DIES at x4 (no
    // ignore edge), leaving start@1 alive only mid-repetition-2 — the
    // blocking shape; a relaxed followedBy would let it complete at c5
    // and emit first instead
    val p = GPattern.begin(GPattern.begin[Ev]("m1")(xc)
        .followedBy("m2")(xc).followedBy("m3")(xc)).oneOrMore
      .next("e")(_.typ == "c").within(100L)
    val fn = GroupCep.matchStreamArrivalFn[Long, Ev, Seq[Long]](
      p, _.ts, _ => 0L, graft.streaming.Cep.SkipPastLastEvent,
      (_, groups) => groups.values.flatten.map(_.ts).toSeq)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      Seq[Long]](GroupStateTimeout.EventTimeTimeout(), fn)
    assert(h.input(1L, Ev(1L, "x", 1L), Ev(1L, "x", 2L),
      Ev(1L, "x", 3L)).isEmpty)
    // c@5 completes start@2's rep (x2 x3 x4) + e; start@1 is older and
    // mid-repetition-2 (consumed x4, c5 — awaiting its third element),
    // so the completed match must NOT emit yet
    assert(h.input(1L, Ev(1L, "x", 4L), Ev(1L, "c", 5L)).isEmpty,
      "deferred match leaked before its blocker resolved")
    assert(h.stateOf(1L).isDefined)
    // short of the horizon: still blocked
    assert(h.advanceWatermarkTo(50L).isEmpty)
    // past every branch's horizon (startTs + 100): the blockers expire
    // and the timer drain releases the deferred match {x2 x3 x4 c5}
    val released = h.advanceWatermarkTo(150L)
    assert(released.map(_.sorted) === Seq(Seq(2L, 3L, 4L, 5L)))
    assert(h.stateOf(1L).isEmpty)
  }

  test("streaming skip PAST LAST EVENT: boundary is the MAX captured ts, not the last capture (cross-batch late event)") {
    // A B C+ E over two micro-batches; the C capture c@3 arrives in
    // batch 2 AFTER b@9, so every match's capture vector is
    // ts-NON-MONOTONE with the max (9) strictly inside. PAST LAST
    // EVENT must prune by that max (the reference prunes by max event
    // id): the start@8 candidate dies (8 <= 9). A boundary read off
    // the LAST capture (e@6) would keep it and leak a second match.
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = GPattern.begin[Ev]("a")(_.typ == "a")
      .followedBy("b")(_.typ == "b")
      .followedBy("c")(_.typ == "c").oneOrMore
      .followedBy("e")(_.typ == "e")
    val fn = GroupCep.matchStreamArrivalFn[Long, Ev, Seq[Long]](
      p, _.ts, _ => 0L, graft.streaming.Cep.SkipPastLastEvent,
      (_, groups) => groups.values.flatten.map(_.ts).toSeq.sorted)
    val h = new VirtualClockHarness[Long, Ev, GroupCep.GArrivalState[Ev],
      Seq[Long]](GroupStateTimeout.NoTimeout(), fn)
    assert(h.input(1L, Ev(1L, "a", 1L), Ev(1L, "a", 8L),
      Ev(1L, "e", 2L), Ev(1L, "b", 9L)).isEmpty)
    // batch 2: late c@3 then e@6 — both starts complete [a b@9 c@3 e@6];
    // the earliest (a@1) emits, its max captured ts 9 prunes start@8
    assert(h.input(1L, Ev(1L, "c", 3L), Ev(1L, "e", 6L))
      === Seq(Seq(1L, 3L, 6L, 9L)))
    // nothing deferred survives the prune
    assert(h.stateOf(1L).forall(s =>
      s.pending.isEmpty && s.confs.isEmpty))
  }

  test("hot-key diagnostics: GroupCep HotKeyStats reports hottest key and peak branches") {
    import spark.implicits._
    val hot = (1 to 40).map(i => Ev(7L, "a", i.toLong)) :+ Ev(7L, "b", 99L)
    val quiet = Seq(Ev(8L, "a", 1L), Ev(8L, "b", 2L))
    val p = GPattern.begin[Ev]("s")(_.typ == "a")
      .followedBy(GPattern.begin[Ev]("m")(_.typ == "b")).times(1)
    val stats = new graft.streaming.Cep.HotKeyStats(spark.sparkContext,
      "gspec")
    val n = GroupCep.matchBatchGroups((hot ++ quiet).toDS(),
      (e: Ev) => e.user, (e: Ev) => e.ts, p,
      tie = (e: Ev) => e.ts, stats = stats) { (u, _) => u }.count()
    assert(n === 41) // 40 starts complete on b@99 + 1 for user 8
    assert(stats.maxKeyEvents.value === 41L)
    assert(stats.maxPartials.value === 40L)
  }

  test("trailing optional group emits its empty match with the prefix") {
    // c (a b){0,2}: {c} emits on c itself, then one match per completed
    // repetition, each on the event that completes it
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("middle1")(_.name == "a")
        .followedBy("middle2")(_.name == "b")).times(0, 2)
    val (a1, b1, a2, b2, a3, b3) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "a", 6.0), RE(46, "b", 7.0))
    val got = feedAt(p, Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L,
      a3 -> 6L, b3 -> 7L))
    assert(got === Vector(0 -> Seq(40), 2 -> Seq(40, 41, 42),
      4 -> Seq(40, 41, 42, 43, 44)))
  }

  test("port: optional final step (NFAITCase testEndWithOptional)") {
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").optional
    val got = feedAt(p, Seq(c -> 1L, RE(41, "a", 2.0) -> 3L))
    // the zero-occurrence match {c} emits the moment c completes the
    // mandatory prefix
    assert(got === Vector(0 -> Seq(40), 1 -> Seq(40, 41)))
  }

  test("port: final zeroOrMore incl. the empty run (NFAITCase testEndWithZeroOrMore)") {
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.optional
    val got = feed(p, Seq(c -> 1L, RE(41, "a", 2.0) -> 3L,
      RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 5L))
    assert(got.toSet === Set(
      Seq(40), Seq(40, 41), Seq(40, 41, 42), Seq(40, 41, 42, 43)))
  }

  test("port: whole pattern is one zeroOrMore loop (NFAITCase testStartAndEndWithZeroOrMore)") {
    // every start emits its prefixes; no empty match (zero occurrences
    // of the only element captures nothing)
    val p = GPattern.begin[RE]("start")(_.name == "a").oneOrMore.optional
    val got = feed(p, Seq(c -> 1L, RE(41, "a", 2.0) -> 3L,
      RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 5L, RE(44, "d", 5.0) -> 6L,
      RE(45, "d", 5.0) -> 6L, RE(46, "d", 5.0) -> 6L))
    assert(got.toSet === Set(
      Seq(41, 42, 43), Seq(41, 42), Seq(41),
      Seq(42, 43), Seq(42), Seq(43)))
  }

  test("streaming driver: group branches persist across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    implicit val sqlCtx = spark.sqlContext
    // Ev is file-scope (CepSpec.scala) so ExpressionEncoder can find its
    // TypeTag — a method-local type alias can't provide one.
    implicit val stEnc: org.apache.spark.sql.Encoder[
      GroupCep.GArrivalState[Ev]] = ExpressionEncoder()
    val p = GPattern.begin[Ev]("start")(_.typ == "c")
      .followedBy(GPattern.begin[Ev]("m1")(_.typ == "a")
        .followedBy("m2")(_.typ == "b")).times(1, 2)
      .followedBy("end")(_.typ == "d")
    val input = MemoryStream[Ev]
    val out = GroupCep.matchStream(input.toDS(), (e: Ev) => e.user,
      (e: Ev) => e.ts, p) { (k, g) => (k, g("m1").size, g("end").head.ts) }
    val q = out.toDF("user", "reps", "end_ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("gcep_stream_out").start()
    try {
      // the (a b) prefix arrives in batch 1, the rest in batch 2 — the
      // partial branch must survive the micro-batch boundary in state
      input.addData(Ev(1L, "c", 1L), Ev(1L, "a", 2L), Ev(1L, "b", 3L))
      q.processAllAvailable()
      assert(spark.table("gcep_stream_out").count() === 0)
      input.addData(Ev(1L, "a", 4L), Ev(1L, "b", 5L), Ev(1L, "d", 6L))
      q.processAllAvailable()
      val got = spark.table("gcep_stream_out")
        .as[(Long, Int, Long)].collect().toSet
      // exit fork after rep 1 and rep 2: both matches complete on d
      assert(got === Set((1L, 1, 6L), (1L, 2, 6L)))
    } finally q.stop()
  }

  test("within prunes expired group branches on advance (NFAITCase clearing-buffer shape on groups)") {
    // GroupITCase has no within cases; the reference covers expiry via
    // NFA.advanceTime pruning (NFAITCase testTimesClearingBuffer) — the
    // same horizon applied here to a quantified-group pattern
    val (a1, b1, a2, b2) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0))
    val p = GPattern.begin[RE]("start")(_.name == "c")
      .followedBy(GPattern.begin[RE]("m1")(_.name == "a")
        .followedBy("m2")(_.name == "b")).times(2)
      .followedBy("end")(_.name == "d").within(8L)
    // the completing event arrives past the horizon: the branch started at
    // ts 1 is pruned (11 - 1 > 8) before 'd' is offered — no match, and no
    // partial survives ('d' cannot re-open the start)
    val (expired, remaining) = feedWithRemaining(p,
      Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L, RE(45, "d", 6.0) -> 11L))
    assert(expired.isEmpty)
    assert(remaining === 0)
    // the identical sequence inside the horizon matches
    val (got, _) = feedWithRemaining(p,
      Seq(c -> 1L, a1 -> 2L, b1 -> 3L, a2 -> 4L, b2 -> 5L, RE(45, "d", 6.0) -> 6L))
    assert(got.toSet === Set(Seq(40, 41, 42, 43, 44, 45)))
  }

  test("long oneOrMore-style match scans in linear time (no per-event deep hashing)") {
    // c (a){K} d with consecutive contiguity: one branch whose captured
    // vector grows to K. A `.distinct` that hashes the full capture list
    // every event makes the scan O(K^2); the structural-key dedup keeps it
    // O(K). 4x the events must stay well under the 16x a quadratic scan
    // would cost (generous 12x bound for JIT/GC noise, min-of-3 samples).
    def scanNanos(k: Int): Long = {
      val p = GPattern.begin[RE]("s")(_.name == "c")
        .followedBy(GPattern.begin[RE]("a")(_.name == "a"))
        .times(k).consecutive
        .followedBy("end")(_.name == "d")
      val compiled = GroupCep.compile(p)
      val a = RE(1, "a", 0.0)
      val t0 = System.nanoTime()
      var confs = GroupCep.advance(compiled, Vector.empty, c, 0L)._1
      var i = 0
      while (i < k) {
        confs = GroupCep.advance(compiled, confs, a, i + 1L)._1
        i += 1
      }
      val (_, ms) = GroupCep.advance(compiled, confs, RE(2, "d", 0.0), k + 1L)
      assert(ms.size === 1 && ms.head.size === k + 2)
      System.nanoTime() - t0
    }
    (1 to 3).foreach(_ => scanNanos(500)) // JIT warmup
    val small = (1 to 3).map(_ => scanNanos(2000)).min
    val large = (1 to 3).map(_ => scanNanos(8000)).min
    assert(large < 12L * math.max(small, 1000000L),
      s"4x events cost ${large.toDouble / small}x — scan is not linear")
  }

  test("within: idle key's expired branches are pruned by the event-time timer") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // c (a b){2} d within 100ms — the key receives a prefix then goes
    // quiet; without timer pruning its partial branches would live forever
    // (reference: flink-cep NFA.java within-pruning on watermark advance)
    val p = GPattern.begin[(RE, Long)]("start")(_._1.name == "c")
      .followedBy(GPattern.begin[(RE, Long)]("m1")(_._1.name == "a")
        .followedBy("m2")(_._1.name == "b")).times(2)
      .followedBy("end")(_._1.name == "d").within(100L)
    val h = new VirtualClockHarness[Long, (RE, Long),
      GroupCep.GArrivalState[(RE, Long)], Int](
      GroupStateTimeout.EventTimeTimeout(),
      GroupCep.matchStreamArrivalFn[Long, (RE, Long), Int](
        p, _._2, _ => 0L, graft.streaming.Cep.NoSkip,
        (_, g) => g("end").head._1.id))
    val (a1, b1) = (RE(41, "a", 2.0), RE(42, "b", 3.0))
    assert(h.input(1L, (c, 0L), (a1, 10L), (b1, 20L)).isEmpty)
    assert(h.stateOf(1L).exists(_.confs.nonEmpty))
    // timer armed at oldest branch's startTs + within (the expiry
    // point: NFA.java prunes at timestamp - startTs >= windowTime)
    assert(h.timerOf(1L).contains(100L))
    // watermark short of the horizon: branches survive
    assert(h.advanceWatermarkTo(50L).isEmpty)
    assert(h.stateOf(1L).exists(_.confs.nonEmpty))
    // watermark past startTs + within: all branches pruned, state removed
    assert(h.advanceWatermarkTo(150L).isEmpty)
    assert(h.stateOf(1L).isEmpty && h.timerOf(1L).isEmpty)
  }

  test("within: timer prunes only expired branches and re-arms on the oldest survivor") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = GPattern.begin[(RE, Long)]("start")(_._1.name == "c")
      .followedBy(GPattern.begin[(RE, Long)]("m1")(_._1.name == "a")
        .followedBy("m2")(_._1.name == "b")).times(2)
      .followedBy("end")(_._1.name == "d").within(100L)
    val h = new VirtualClockHarness[Long, (RE, Long),
      GroupCep.GArrivalState[(RE, Long)], Int](
      GroupStateTimeout.EventTimeTimeout(),
      GroupCep.matchStreamArrivalFn[Long, (RE, Long), Int](
        p, _._2, _ => 0L, graft.streaming.Cep.NoSkip,
        (_, g) => g("end").head._1.id))
    h.input(1L, (c, 0L))   // branch with startTs 0
    h.input(1L, (c, 80L))  // second branch with startTs 80
    assert(h.stateOf(1L).exists(_.confs.size === 2))
    // wm=120: the startTs=0 branch is past its horizon (120 > 100), the
    // startTs=80 one is not (40 <= 100) — prune one, keep one, re-arm
    assert(h.advanceWatermarkTo(120L).isEmpty)
    assert(h.stateOf(1L).exists(s =>
      s.confs.size === 1 && s.confs.head.startTs === 80L))
    assert(h.timerOf(1L).contains(180L))
    // wm past the survivor's horizon: state fully cleared
    assert(h.advanceWatermarkTo(181L).isEmpty)
    assert(h.stateOf(1L).isEmpty && h.timerOf(1L).isEmpty)
  }

  test("within: a match inside the horizon still completes under the timer regime") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val p = GPattern.begin[(RE, Long)]("start")(_._1.name == "c")
      .followedBy(GPattern.begin[(RE, Long)]("m1")(_._1.name == "a")
        .followedBy("m2")(_._1.name == "b")).times(2)
      .followedBy("end")(_._1.name == "d").within(100L)
    val h = new VirtualClockHarness[Long, (RE, Long),
      GroupCep.GArrivalState[(RE, Long)], Int](
      GroupStateTimeout.EventTimeTimeout(),
      GroupCep.matchStreamArrivalFn[Long, (RE, Long), Int](
        p, _._2, _ => 0L, graft.streaming.Cep.NoSkip,
        (_, g) => g("end").head._1.id))
    val (a1, b1, a2, b2, d) = (RE(41, "a", 2.0), RE(42, "b", 3.0),
      RE(43, "a", 4.0), RE(44, "b", 5.0), RE(45, "d", 6.0))
    h.input(1L, (c, 0L), (a1, 10L), (b1, 20L))
    h.advanceWatermarkTo(30L)
    val got = h.input(1L, (a2, 40L), (b2, 50L), (d, 60L))
    assert(got === Seq(45))
  }

  test("batch driver: group matches over a keyed Dataset with capture groups") {
    import spark.implicits._
    // two users; only user 1 completes c (a b){2} d
    val ds = Seq(
      (1L, "c", 1L), (1L, "a", 2L), (1L, "b", 3L), (1L, "a", 4L),
      (1L, "b", 5L), (1L, "d", 6L),
      (2L, "c", 1L), (2L, "a", 2L), (2L, "b", 3L), (2L, "d", 4L)
    ).toDS()
    val p = GPattern.begin[(Long, String, Long)]("start")(_._2 == "c")
      .followedBy(GPattern.begin[(Long, String, Long)]("m1")(_._2 == "a")
        .followedBy("m2")(_._2 == "b")).times(2)
      .followedBy("end")(_._2 == "d")
    val got = GroupCep.matchBatchGroups(ds, (e: (Long, String, Long)) => e._1,
      (e: (Long, String, Long)) => e._3, p) { (k, groups) =>
      (k, groups("m1").map(_._3), groups("m2").map(_._3),
        groups("end").map(_._3))
    }.collect().toSeq
    assert(got === Seq((1L, Seq(2L, 4L), Seq(3L, 5L), Seq(6L))))
  }

  test("batch driver: after-match skip over group patterns (GroupSkipQueue)") {
    import spark.implicits._
    type T = (Long, String, Long)
    // c (a b){1,2} d twice over one key: all-starts yields overlapping
    // exit-fork matches; each strategy prunes like AfterMatchSkipITCase
    val ds = Seq(
      (1L, "c", 1L), (1L, "a", 2L), (1L, "b", 3L), (1L, "a", 4L),
      (1L, "b", 5L), (1L, "d", 6L),
      (1L, "c", 7L), (1L, "a", 8L), (1L, "b", 9L), (1L, "d", 10L)
    ).toDS()
    val p = GPattern.begin[T]("start")(_._2 == "c")
      .followedBy(GPattern.begin[T]("m1")(_._2 == "a")
        .followedBy("m2")(_._2 == "b")).times(1, 2)
      .followedBy("end")(_._2 == "d")
    def run(skip: Cep.AfterMatchSkip): Seq[(Long, Long, Long)] =
      GroupCep.matchBatchGroups(ds, (e: T) => e._1, (e: T) => e._3, p,
        skip = skip) { (k, groups) =>
        (groups("start").head._3, groups("m1").size.toLong,
          groups("end").head._3)
      }.collect().toSeq.sortBy(r => (r._1, r._2))
    // all-starts: the c@1 run emits both one-rep and two-rep exits
    assert(run(Cep.NoSkip) === Seq((1L, 1L, 6L), (1L, 2L, 6L), (7L, 1L, 10L)))
    // SkipPastLastEvent: the first emission (earliest start, c@1) sets
    // the boundary at d@6 — the overlapping second exit of the SAME
    // start is also pruned (start 1 <= 6), the c@7 match survives
    assert(run(Cep.SkipPastLastEvent) === Seq((1L, 1L, 6L), (7L, 1L, 10L))
      || run(Cep.SkipPastLastEvent) === Seq((1L, 2L, 6L), (7L, 1L, 10L)))
    // SkipToFirst(m1): boundary = first a of the emitted match — prunes
    // branches started before it, keeps both exits of the c@1 run? No:
    // both exits share startTs 1 < a@2 boundary -> second exit pruned
    assert(run(Cep.SkipToFirst("m1")).count(_._1 == 1L) === 1)
  }
}
