package graft.streaming

import graft.SparkSuite
import graft.streaming.Cep._

/** Quantifier-range, until-condition and reference-default (allPrefixes)
  * emission semantics. The two until cases are verbatim ports of the
  * reference's consecutive until tests
  * (flink-cep nfa/UntilConditionITCase.java:159
  * testUntilConditionFollowedByOneOrMoreConsecutive and :208 ...Consecutive2
  * — UNTIL_CONDITION is price == 5.0), including their exact expected match
  * lists: our `oneOrMore.allPrefixes.until(...)` is the reference's default
  * `oneOrMore().consecutive().until(...)`.
  */
class CepQuantifierSpec extends SparkSuite {

  // (id, name, price) mirroring the reference's Event(id, name, price)
  private case class RE(id: Int, name: String, price: Double)

  private def feed(pattern: Pattern[RE], events: Seq[(RE, Long)]):
      Vector[Vector[Vector[RE]]] =
    // final-step loops emit every satisfied length as it forms (eager
    // proceed-to-Final), not at the end of input
    Cep.runMatches(pattern, events)._1

  private def names(m: Vector[Vector[RE]]): Seq[Seq[Int]] = m.map(_.map(_.id))

  test("port: until + oneOrMore consecutive (UntilConditionITCase:159)") {
    val start = RE(40, "c", 1.0)
    val mid1 = RE(41, "a", 2.0)
    val mid2 = RE(42, "a", 3.0)
    val breaking = RE(45, "a", 5.0)
    val ignored = RE(46, "a", 6.0)
    val pattern = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allPrefixes
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = feed(pattern,
      Seq(start -> 1L, mid1 -> 3L, mid2 -> 4L, breaking -> 7L, ignored -> 8L))
      .map(m => m.map(_.map(_.id)))
    // reference expectation: {start, mid1, mid2, breaking}, {start, mid1, breaking}
    assert(got.toSet === Set(
      Vector(Vector(40), Vector(41, 42), Vector(45)),
      Vector(Vector(40), Vector(41), Vector(45))))
  }

  test("port: until + oneOrMore consecutive 2 (UntilConditionITCase:208)") {
    val start = RE(40, "c", 1.0)
    val mid1 = RE(41, "a", 2.0)
    val mid2 = RE(42, "b", 3.0)
    val mid3 = RE(43, "a", 4.0)
    val breaking = RE(45, "a", 5.0)
    val ignored = RE(46, "a", 6.0)
    val pattern = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allPrefixes
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = feed(pattern, Seq(start -> 1L, mid1 -> 3L, mid2 -> 4L,
      mid3 -> 5L, breaking -> 7L, ignored -> 8L))
      .map(m => m.map(_.map(_.id)))
    // reference expectation: only {start, mid1, breaking} — the 'b' event
    // breaks the consecutive run, the stopped branch transitions at the
    // until event
    assert(got.toSet === Set(Vector(Vector(40), Vector(41), Vector(45))))
  }

  test("times(from, to) on a final step emits every length in range as it forms") {
    // the reference's eager proceed-to-Final per extension (GreedyITCase
    // testEndWithGreedyTimesRange): each noSkip start emits at every
    // satisfied length up to the cap
    val p = Pattern.begin[RE]("a")(_.name == "a").times(2, 3)
    val a = (i: Int) => RE(i, "a", i.toDouble)
    val x = RE(99, "x", 0.0)
    assert(feed(p, Seq(a(1) -> 1L, a(2) -> 2L, a(3) -> 3L, a(4) -> 4L, x -> 5L))
      .map(names).map(_.head).toSet
      === Set(Seq(1, 2), Seq(1, 2, 3), Seq(2, 3), Seq(2, 3, 4), Seq(3, 4)))
    // run of 2: emitted when the second element arrives, not on break
    assert(feed(p, Seq(a(1) -> 1L, a(2) -> 2L, x -> 3L))
      .map(names).map(_.head) === Vector(Seq(1, 2)))
    // run of 1: never satisfies min=2
    assert(feed(p, Seq(a(1) -> 1L, x -> 2L)).isEmpty)
  }

  test("timesOrMore(n) on a final step emits every length >= n as it forms") {
    val p = Pattern.begin[RE]("a")(_.name == "a").timesOrMore(2)
    val a = (i: Int) => RE(i, "a", i.toDouble)
    val x = RE(99, "x", 0.0)
    assert(feed(p, Seq(a(1) -> 1L, a(2) -> 2L, a(3) -> 3L, x -> 4L))
      .map(names).map(_.head).toSet
      === Set(Seq(1, 2), Seq(1, 2, 3), Seq(2, 3)))
    assert(feed(p, Seq(a(1) -> 1L, x -> 2L)).isEmpty)
  }

  test("until in greedy mode completes the maximal run at the until event") {
    val p = Pattern.begin[RE]("s")(_.name == "s")
      .followedBy("a")(_.name == "a").oneOrMore.until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val s = RE(1, "s", 0.0)
    val a1 = RE(2, "a", 1.0); val a2 = RE(3, "a", 2.0)
    val u = RE(4, "a", 5.0)
    // greedy: only the maximal run transitions at the until event
    assert(feed(p, Seq(s -> 1L, a1 -> 2L, a2 -> 3L, u -> 4L))
      .map(names).toSet === Set(Seq(Seq(1), Seq(2, 3), Seq(4))))
  }

  test("allPrefixes on a final oneOrMore emits every prefix as it forms") {
    val p = Pattern.begin[RE]("a")(_.name == "a").oneOrMore.allPrefixes
    val a = (i: Int) => RE(i, "a", i.toDouble)
    val got = feed(p, Seq(a(1) -> 1L, a(2) -> 2L))
    // prefixes: [1], [1,2] and (noSkip) [2]
    assert(got.map(names).map(_.head).toSet === Set(Seq(1), Seq(1, 2), Seq(2)))
  }

  test("port: start-with-times consecutive (NFAITCase testStartWithTimes)") {
    // begin("middle" a).times(2).consecutive().followedBy("end1" b) on
    // a1@2 a2@3 a3@4 b@6 — reference expects {a1 a2 b} and {a2 a3 b}
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val b = RE(44, "b", 5.0)
    val p = Pattern.begin[RE]("middle")(_.name == "a").times(2).consecutive
      .followedBy("end1")(_.name == "b")
    val got = feed(p,
      Seq(a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(41, 42), Seq(44)), Seq(Seq(42, 43), Seq(44))))
  }

  test("relaxed repetition contiguity skips gap events (reference default mode)") {
    val c = RE(1, "c", 0.0); val b = RE(9, "b", 9.0)
    val f = (i: Int) => RE(80 + i, "f", 0.0)
    val a = (i: Int) => RE(40 + i, "a", i.toDouble)
    val events = Seq(c -> 1L, a(1) -> 2L, f(1) -> 3L, a(2) -> 4L, b -> 5L)
    // relaxed: the 'f' between a1 and a2 is skipped, run completes
    val relaxedP = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2).relaxed
      .followedBy("end")(_.name == "b")
    assert(feed(relaxedP, events).map(names).toSet ===
      Set(Seq(Seq(1), Seq(41, 42), Seq(9))))
    // consecutive (DSL default): the 'f' kills the open run — no match
    val consecutiveP = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2)
      .followedBy("end")(_.name == "b")
    assert(feed(consecutiveP, events).isEmpty)
  }

  test("relaxed oneOrMore extends across gaps; greedy transition takes the maximal run") {
    val s = RE(1, "s", 0.0); val e = RE(9, "e", 9.0)
    val f = RE(80, "f", 0.0)
    val a = (i: Int) => RE(40 + i, "a", i.toDouble)
    val p = Pattern.begin[RE]("s")(_.name == "s")
      .followedBy("a")(_.name == "a").oneOrMore.relaxed.greedy
      .followedBy("e")(_.name == "e")
    val got = feed(p, Seq(s -> 1L, a(1) -> 2L, f -> 3L, a(2) -> 4L, e -> 5L))
      .map(names)
    // run survives the gap; greedy: only the maximal [a1, a2] transitions
    assert(got.toSet === Set(Seq(Seq(1), Seq(41, 42), Seq(9))))
  }

  test("or-condition widens a step (Pattern.or)") {
    val p = Pattern.begin[RE]("s")(_.name == "s")
      .followedBy("m")((e: RE) => e.name == "a").or(_.name == "b")
      .followedBy("e")(_.name == "e")
    val s = RE(1, "s", 0.0); val b = RE(2, "b", 0.0); val e = RE(3, "e", 0.0)
    assert(feed(p, Seq(s -> 1L, b -> 2L, e -> 3L)).map(names).toSet ===
      Set(Seq(Seq(1), Seq(2), Seq(3))))
  }

  test("subtype condition filters by runtime class (Pattern.subtype)") {
    sealed trait Base { def id: Int }
    case class Click(id: Int) extends Base
    case class View(id: Int) extends Base
    val p = Pattern.begin[Base]("s")(_.id == 1)
      .followedBy("m")((_: Base) => true).subtype[Click]
    val got = feed2(p, Seq(
      (View(1): Base) -> 1L, (View(2): Base) -> 2L, (Click(3): Base) -> 3L))
    assert(got.map(_.map(_.map(_.id))).toSet === Set(Seq(Seq(1), Seq(3))))
  }

  test("port: times(2).allowCombinations (NFAITCase testTimes)") {
    // c@1 a1@2 a2@3 a3@4 b@6 — reference expects {c a1 a2 b}, {c a1 a3 b}
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = feed(p, Seq(c -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L))
      .map(names)
    assert(got.toSet === Set(
      Seq(Seq(40), Seq(41, 42), Seq(44)),
      Seq(Seq(40), Seq(41, 43), Seq(44))))
  }

  test("port: times(2).allowCombinations with gaps (NFAITCase testTimesNonStrictWithNext)") {
    // c a1 f a2 f a3 b — same expected matches, the f gaps are skipped
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val f = (i: Int) => RE(20 + i, "f", 1.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = feed(p, Seq(c -> 1L, a(1) -> 2L, f(1) -> 3L, a(2) -> 4L,
      f(2) -> 5L, a(3) -> 6L, b -> 7L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(40), Seq(41, 42), Seq(44)),
      Seq(Seq(40), Seq(41, 43), Seq(44))))
  }

  test("port: iterative condition over prior step's events " +
      "(IterativeConditionsITCase testIterativeWithPrevPatternDependency)") {
    // start(1.0)@1 start(2.0)@2 end@4; end fires only when the matched
    // starts' prices sum to >= 2.0 — reference expects {s1 s2 end}, {s2 end}
    val s1 = RE(40, "start", 1.0); val s2 = RE(41, "start", 2.0)
    val end = RE(46, "end", 1.0)
    val p = Pattern.begin[RE]("start")(_.name == "start").oneOrMore.allPrefixes
      .followedByIter("end") { (e, ctx) =>
        e.name == "end" && ctx("start").map(_.price).sum >= 2.0
      }
    val got = feed(p, Seq(s1 -> 1L, s2 -> 2L, end -> 4L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(40, 41), Seq(46)), Seq(Seq(41), Seq(46))))
  }

  test("iterative condition composes with the or combinator") {
    // start price 1.0 fails the iterative 'a' branch (needs price > 4),
    // so only the or'd 'b' branch can complete the pattern
    val sLow = RE(1, "s", 1.0)
    val a = RE(2, "a", 1.0); val b = RE(3, "b", 0.0)
    val p = Pattern.begin[RE]("s")(_.name == "s")
      .followedByIter("m") { (e, ctx) =>
        e.name == "a" && ctx("s").exists(_.price > 4.0)
      }.or(_.name == "b")
    val got = feed(p, Seq(sLow -> 1L, a -> 2L, b -> 3L)).map(names)
    assert(got.toSet === Set(Seq(Seq(1), Seq(3))))
    // with a high-price start, 'a' satisfies the iterative branch first
    // (followedBy = first occurrence, so the partial is then consumed)
    val sHigh = RE(1, "s", 5.0)
    val got2 = feed(p, Seq(sHigh -> 1L, a -> 2L, b -> 3L)).map(names)
    assert(got2.toSet === Set(Seq(Seq(1), Seq(2))))
  }

  test("port: notFollowedBy kills only pre-match intruders (NotPatternITCase testNotFollowedBy)") {
    // a1 c1 b1 c2 d: b1 arrives AFTER c1 matched the middle step, so the
    // a1→c1 branch survives; reference expects exactly {a1, c1, d}
    val a1 = RE(40, "a", 1.0); val c1 = RE(41, "c", 2.0)
    val b1 = RE(42, "b", 3.0); val c2 = RE(43, "c", 4.0)
    val d = RE(44, "d", 4.0)
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedBy("middle")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = feed(p,
      Seq(a1 -> 1L, c1 -> 2L, b1 -> 3L, c2 -> 4L, d -> 5L)).map(names)
    assert(got.toSet === Set(Seq(Seq(40), Seq(41), Seq(44))))
  }

  test("notNext bans only the immediately-following event (Pattern.notNext)") {
    val a = RE(1, "a", 0.0); val b = RE(2, "b", 0.0)
    val x = RE(3, "x", 0.0); val c = RE(4, "c", 0.0)
    val p = Pattern.begin[RE]("a")(_.name == "a")
      .notNext("not")(_.name == "b")
      .followedBy("c")(_.name == "c")
    // b directly after a: partial dies, no match
    assert(feed(p, Seq(a -> 1L, b -> 2L, c -> 3L)).isEmpty)
    // an x intervenes before b: b is no longer "next" — match survives
    // (notFollowedBy would still kill this one)
    assert(feed(p, Seq(a -> 1L, x -> 2L, b -> 3L, c -> 4L)).map(names).toSet
      === Set(Seq(Seq(1), Seq(4))))
  }

  test("port: greedy zero-or-more consumes the maximal run (GreedyITCase testGreedyZeroOrMore)") {
    // c a1 a2 a3 d with c a*? d greedy — reference expects ONLY the
    // maximal {c, a1 a2 a3, d}
    val c = RE(40, "c", 1.0); val d = RE(44, "d", 3.0)
    val a = (i: Int) => RE(40 + i, "a", 2.0)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.optional
      .followedBy("end")(_.name == "d")
    val got = feed(p,
      Seq(c -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, d -> 5L)).map(names)
    assert(got.toSet === Set(Seq(Seq(40), Seq(41, 42, 43), Seq(44))))
  }

  test("port: greedy one-or-more across gaps (GreedyITCase testGreedyOneOrMoreInBetween)") {
    // c . a1 . a2 . a3 d (dots are dummies) with relaxed greedy a+ —
    // reference expects only the maximal {c, a1 a2 a3, d}
    val c = RE(40, "c", 1.0); val d = RE(44, "d", 3.0)
    val a = (i: Int) => RE(40 + i, "a", 2.0)
    val dummy = (i: Int) => RE(i, "dummy", 1111.0)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.greedy
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(c -> 1L, dummy(1) -> 2L, a(1) -> 3L,
      dummy(2) -> 4L, a(2) -> 5L, dummy(3) -> 6L, a(3) -> 7L, d -> 8L))
      .map(names)
    assert(got.toSet === Set(Seq(Seq(40), Seq(41, 42, 43), Seq(44))))
  }

  test("port: zero-or-more over repeated same elements " +
      "(SameElementITCase testEagerZeroOrMoreSameElement)") {
    // c, a1 a1 a1 (same element), a2, d(gap), a3 a3, b — c (a*)? b with
    // the reference's default eager emission expects every run PREFIX
    // (lengths 0..6), exactly once each, with the run continuing across
    // the 'd' gap
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a1 = RE(41, "a", 2.0); val a2 = RE(42, "a", 3.0)
    val a3 = RE(43, "a", 4.0); val d = RE(50, "d", 6.0)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes
      .optional
      .followedBy("end")(_.name == "b")
    val got = feed(p, Seq(c -> 1L, a1 -> 3L, a1 -> 3L, a1 -> 3L, a2 -> 4L,
      d -> 5L, a3 -> 6L, a3 -> 6L, b -> 7L)).map(names)
    val run = Seq(41, 41, 41, 42, 43, 43)
    val expected = (0 to 6).map(n =>
      Seq(Seq(40), run.take(n), Seq(44))).toSet
    assert(got.size == 7, s"expected 7 matches, got ${got.size}: $got")
    assert(got.toSet === expected)
  }

  test("port: times(1,3).allowCombinations (TimesRangeITCase testTimesRange)") {
    // c a1 a2 a3 b — reference expects lengths 3, 2 (both combinations
    // anchored at a1), and 1; never a run not starting at a1 (strict next)
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(1, 3).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = feed(p,
      Seq(c -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(40), Seq(41, 42, 43), Seq(44)),
      Seq(Seq(40), Seq(41, 42), Seq(44)),
      Seq(Seq(40), Seq(41, 43), Seq(44)),
      Seq(Seq(40), Seq(41), Seq(44))))
  }

  test("port: times(0,2).allowCombinations (TimesRangeITCase testTimesRangeFromZero)") {
    // same events, times(0,2) — reference adds the zero-consumption
    // {c, b} and drops length 3
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(0, 2).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = feed(p,
      Seq(c -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(40), Seq(41, 42), Seq(44)),
      Seq(Seq(40), Seq(41, 43), Seq(44)),
      Seq(Seq(40), Seq(41), Seq(44)),
      Seq(Seq(40), Seq(), Seq(44))))
  }

  test("port: timesOrMore(2).allowCombinations (TimesOrMoreITCase testTimesOrMore)") {
    // c a1 a2 a3 b — reference expects runs of >= 2 anchored at a1:
    // {a1 a2 a3}, {a1 a2}, {a1 a3}; never {a2 a3} (followedBy = first
    // occurrence consumes the c partial on a1)
    val c = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").timesOrMore(2).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = feed(p,
      Seq(c -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L)).map(names)
    assert(got.toSet === Set(
      Seq(Seq(40), Seq(41, 42, 43), Seq(44)),
      Seq(Seq(40), Seq(41, 42), Seq(44)),
      Seq(Seq(40), Seq(41, 43), Seq(44))))
  }

  test("port: followedByAny branching (NFAITCase testBranchingPattern)") {
    // start, m1 m2 m3 (volume>5 via price field here), n1 n2, end — with
    // every step followedByAny the reference expects the full 3×2 cross
    // of middle × next-one, each completed by end (6 matches)
    val start = RE(40, "start", 1.0)
    val m = (i: Int) => RE(40 + i, "foo", 10.0) // "volume" > 5
    val n = (i: Int) => RE(43 + i, "next-one", 2.0)
    val end = RE(46, "end", 1.0)
    val p = Pattern.begin[RE]("start")(_.name == "start")
      .followedByAny("middle-first")(e => e.name == "foo" && e.price > 5.0)
      .followedByAny("middle-second")(_.name == "next-one")
      .followedByAny("end")(_.name == "end")
    val got = feed(p, Seq(start -> 1L, m(1) -> 3L, m(2) -> 4L, m(3) -> 5L,
      n(1) -> 6L, n(2) -> 7L, end -> 8L)).map(names)
    val expected = (for {
      mi <- 41 to 43
      nj <- 44 to 45
    } yield Seq(Seq(40), Seq(mi), Seq(nj), Seq(46))).toSet
    assert(got.size == 6, s"expected 6 branches, got ${got.size}")
    assert(got.toSet === expected)
  }

  test("port: followedByAny + oneOrMore eager (NFAITCase testAtLeastOneEager)") {
    // start a1 a2 a3 b — anyMatch entry × eager prefixes: the reference
    // expects every CONTIGUOUS run {a1 a2 a3},{a1 a2},{a2 a3},{a1},{a2},
    // {a3} with end, and NOT the combination {a1 a3}
    val s = RE(40, "c", 1.0); val b = RE(44, "b", 5.0)
    val a = (i: Int) => RE(40 + i, "a", (1 + i).toDouble)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes
      .followedByAny("end1")(_.name == "b")
    val got = feed(p,
      Seq(s -> 1L, a(1) -> 2L, a(2) -> 3L, a(3) -> 4L, b -> 6L)).map(names)
    val expected = Set(
      Seq(41, 42, 43), Seq(41, 42), Seq(42, 43),
      Seq(41), Seq(42), Seq(43)
    ).map(run => Seq(Seq(40), run, Seq(44)))
    assert(got.size == 6, s"expected 6 matches, got ${got.size}: $got")
    assert(got.toSet === expected)
  }

  // feed for arbitrary event types (the RE-typed feed is above)
  private def feed2[E](pattern: Pattern[E], events: Seq[(E, Long)]):
      Vector[Vector[Vector[E]]] =
    Cep.runMatches(pattern, events)._1

  private def flatIds(ms: Vector[Vector[Vector[RE]]]): Seq[Seq[Int]] =
    ms.map(_.flatten.map(_.id))

  test("port: zeroOrMore combinations (NFAITCase testZeroOrMore)") {
    // c, followedByAny(a).oneOrMore.allowCombinations.optional,
    // followedBy(b) on c@1 a41@3 a42@4 b@6 — 4 matches incl. the empty loop
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.allowCombinations.optional
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L,
      RE(42, "a", 3.0) -> 4L, RE(44, "b", 5.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 44), Seq(40, 42, 44), Seq(40, 44)))
  }

  test("port: complex branching after zeroOrMore (NFAITCase testComplexBranchingAfterZeroOrMore)") {
    // c, anyAny(a)*combos optional, any(b), any(d), any(e): every middle
    // combination × both d choices — 16 matches (NFAITCase.java:485)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.allowCombinations.optional
      .followedByAny("end1")(_.name == "b")
      .followedByAny("end2")(_.name == "d")
      .followedByAny("end3")(_.name == "e")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 5L,
      RE(44, "b", 5.0) -> 6L,
      RE(45, "d", 6.0) -> 7L, RE(46, "d", 7.0) -> 8L,
      RE(47, "e", 8.0) -> 9L)))
    val middles = Seq(
      Seq(41, 42, 43), Seq(41, 42), Seq(41, 43), Seq(42, 43),
      Seq(41), Seq(42), Seq(43), Seq.empty)
    val expected = (for (m <- middles; d <- Seq(45, 46))
      yield (40 +: m) ++ Seq(44, d, 47)).toSet
    assert(got.size == 16, s"expected 16 matches, got ${got.size}")
    assert(got.toSet === expected)
  }

  test("port: zeroOrMore after zeroOrMore (NFAITCase testZeroOrMoreAfterZeroOrMore)") {
    // two adjacent optional combination loops over different predicates
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle-first")(_.name == "a")
      .oneOrMore.allowCombinations.optional
      .followedBy("middle-second")(_.name == "d")
      .oneOrMore.allowCombinations.optional
      .followedBy("end")(_.name == "e")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L,
      RE(42, "d", 3.0) -> 4L, RE(43, "d", 4.0) -> 5L,
      RE(44, "e", 4.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 42, 43, 44),
      Seq(40, 42, 44), Seq(40, 41, 44), Seq(40, 44)))
  }

  test("port: zeroOrMore after branching (NFAITCase testZeroOrMoreAfterBranching)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("branching")(_.name == "a")
      .followedByAny("merging")(_.name == "f")
      .followedByAny("kleene")(_.name == "d").oneOrMore.allowCombinations.optional
      .followedBy("end")(_.name == "e")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(52, "f", 3.0) -> 5L, // Event(42, "f") in the original; distinct id here
      RE(43, "d", 4.0) -> 6L, RE(44, "d", 4.0) -> 7L,
      RE(45, "e", 4.0) -> 8L)))
    val expected = (for (branch <- Seq(41, 42);
        kleene <- Seq(Seq.empty[Int], Seq(43), Seq(44), Seq(43, 44)))
      yield Seq(40, branch, 52) ++ kleene :+ 45).toSet
    assert(got.size == 8, s"expected 8 matches, got ${got.size}")
    assert(got.toSet === expected)
  }

  test("port: adjacent combination loops version collision (NFAITCase testMultipleTakesVersionCollision)") {
    // two adjacent oneOrMore.allowCombinations loops over the SAME
    // predicate — every split of every combination must appear exactly as
    // often as in the reference's SharedBuffer versioning (20 matches,
    // with duplicates across split points; compared as a multiset of
    // flattened price sequences, like the original's compareMaps)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle1")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("middle2")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("end")(_.name == "b")
    val m = (i: Int) => RE(41, "a", (1 + i).toDouble) // m1..m5: price 2..6
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, m(1) -> 3L, m(2) -> 4L, m(3) -> 5L,
      m(4) -> 6L, m(5) -> 7L, RE(44, "b", 5.0) -> 10L))
      .map(_.flatten.map(_.price))
    val c = 1.0; val e = 5.0
    def seq(ms: Int*) = c +: ms.map(i => (1 + i).toDouble) :+ e
    val expected = Seq(
      Seq.fill(4)(seq(1, 2, 3, 4, 5)),
      Seq.fill(3)(seq(1, 2, 3, 4)), Seq.fill(2)(seq(1, 2, 4, 5)),
      Seq.fill(2)(seq(1, 2, 3, 5)), Seq.fill(2)(seq(1, 3, 4, 5)),
      Seq.fill(2)(seq(1, 2, 3)), Seq(seq(1, 3, 4)), Seq(seq(1, 4, 5)),
      Seq(seq(1, 2, 4)), Seq(seq(1, 2, 5)),
      Seq(seq(1, 2))).flatten
    assert(got.size == 20, s"expected 20 matches, got ${got.size}")
    // multiset equality: same sequences with the same multiplicities
    assert(got.groupBy(identity).view.mapValues(_.size).toMap ===
      expected.groupBy(identity).view.mapValues(_.size).toMap)
  }

  // ConsecutiveData fixture: c@1=40, a@..=41/42/43, b@7=44, gap f=23
  private def consecPort(mid: Pattern[RE] => Pattern[RE],
      events: Seq[(RE, Long)]): Set[Seq[Int]] = {
    val p = mid(Pattern.begin[RE]("start")(_.name == "c"))
      .followedBy("end1")(_.name == "b")
    flatIds(feed(p, events)).toSet
  }
  private val cStart = RE(40, "c", 1.0)
  private val cM1 = RE(41, "a", 2.0)
  private val cM2 = RE(42, "a", 3.0)
  private val cM3 = RE(43, "a", 4.0)
  private val cEnd = RE(44, "b", 5.0)
  private val cF = RE(23, "f", 1.0)

  test("port: optional times(3) zero occurrences (NFAITCase testTimesNonStrictOptional1)") {
    val got = consecPort(
      _.followedBy("middle")(_.name == "a").times(3).relaxed.optional,
      Seq(cStart -> 1L, cF -> 2L, cEnd -> 7L))
    assert(got === Set(Seq(40, 44)))
  }

  test("port: optional times(2) combinations (NFAITCase testTimesNonStrictOptional2)") {
    val got = consecPort(
      _.followedByAny("middle")(_.name == "a").times(2).allowCombinations.optional,
      Seq(cStart -> 1L, cF -> 2L, cM1 -> 3L, cF.copy(id = 24) -> 4L,
        cM2 -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 43, 44), Seq(40, 42, 43, 44),
      Seq(40, 44)))
  }

  test("port: optional times(2) relaxed eager per entry (NFAITCase testTimesNonStrictOptional3)") {
    val got = consecPort(
      _.followedByAny("middle")(_.name == "a").times(2).relaxed.optional,
      Seq(cStart -> 1L, cF -> 2L, cM1 -> 3L, cF.copy(id = 24) -> 4L,
        cM2 -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(
      Seq(40, 41, 42, 44), Seq(40, 42, 43, 44), Seq(40, 44)))
  }

  test("port: optional times(2) consecutive (NFAITCase testTimesStrictOptional)") {
    val got = consecPort(
      _.followedByAny("middle")(_.name == "a").times(2).consecutive.optional,
      Seq(cStart -> 1L, cF -> 2L, cM1 -> 3L, cF.copy(id = 24) -> 4L,
        cM2 -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(Seq(40, 42, 43, 44), Seq(40, 44)))
  }

  test("port: optional consecutive oneOrMore prefixes (NFAITCase testOneOrMoreStrictOptional)") {
    val got = consecPort(
      _.followedByAny("middle")(_.name == "a").oneOrMore.allPrefixes.optional,
      Seq(cStart -> 1L, cF -> 2L, cM1 -> 3L, cF.copy(id = 24) -> 4L,
        cM2 -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(
      Seq(40, 42, 43, 44), Seq(40, 41, 44), Seq(40, 42, 44),
      Seq(40, 43, 44), Seq(40, 44)))
  }

  test("port: strict-entry optional times(2) consecutive (NFAITCase testTimesStrictOptional1)") {
    val got = consecPort(
      _.next("middle")(_.name == "a").times(2).consecutive.optional,
      Seq(cStart -> 1L, cM1 -> 3L, cM2 -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(Seq(40, 41, 42, 44), Seq(40, 44)))
  }

  test("port: strict-entry optional times(2) combinations (NFAITCase testOptionalTimesNonStrictWithNext)") {
    val got = consecPort(
      _.next("middle")(_.name == "a").times(2).allowCombinations.optional,
      Seq(cStart -> 1L, cM1 -> 2L, cF -> 3L, cM2 -> 4L,
        cF.copy(id = 24) -> 5L, cM3 -> 6L, cEnd -> 7L))
    assert(got === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 43, 44), Seq(40, 44)))
  }

  test("port: mid-pattern greedy times(2,5) takes only the maximal run (GreedyITCase testGreedyTimesRange)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").times(2, 5).relaxed
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(43, "a", 2.0) -> 4L, RE(44, "a", 2.0) -> 5L, RE(45, "d", 2.0) -> 6L)))
    assert(got === Seq(Seq(40, 41, 42, 43, 44, 45)))
  }

  test("port: final greedy times(2,5) emits every length in range (GreedyITCase testEndWithGreedyTimesRange)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("end")(_.name == "a").times(2, 5).relaxed
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(43, "a", 2.0) -> 4L, RE(44, "a", 2.0) -> 5L,
      RE(45, "dummy", 2.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42), Seq(40, 41, 42, 43), Seq(40, 41, 42, 43, 44)))
  }

  test("port: final greedy zeroOrMore emits every prefix (GreedyITCase testEndWithZeroOrMoreGreedy)") {
    // relaxed internal contiguity: the dummy@4 gap is skipped
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("end")(_.name == "a").oneOrMore.relaxed.optional
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(44, "dummy", 2.0) -> 4L, RE(43, "a", 2.0) -> 5L)))
    assert(got.toSet === Set(
      Seq(40), Seq(40, 41), Seq(40, 41, 42), Seq(40, 41, 42, 43)))
  }

  test("port: final greedy consecutive zeroOrMore stops at the gap (GreedyITCase testEndWithZeroOrMoreConsecutiveGreedy)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("end")(_.name == "a").oneOrMore.consecutive.optional
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(44, "dummy", 2.0) -> 4L, RE(43, "a", 2.0) -> 5L)))
    assert(got.toSet === Set(
      Seq(40), Seq(40, 41), Seq(40, 41, 42)))
  }

  test("port: greedy zeroOrMore with gap events (GreedyITCase testGreedyZeroOrMoreWithDummyEvents*)") {
    // dummy after the quantifier's run: the maximal run still reaches d
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.optional
      .followedBy("end")(_.name == "d")
    assert(flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(43, "dummy", 2.0) -> 4L, RE(44, "d", 3.0) -> 5L)))
      === Seq(Seq(40, 41, 42, 44)))
    // no 'a' at all: the greedy loop consumes nothing — {c, d} only
    assert(flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(43, "dummy", 2.0) -> 2L,
      RE(44, "d", 3.0) -> 5L))) === Seq(Seq(40, 44)))
  }

  test("port: greedy zeroOrMore across interleaved gaps (GreedyITCase testGreedyZeroOrMoreInBetween)") {
    // dummies between every element: the relaxed greedy run still
    // collects all three a's and emits only the maximal match.
    // (testGreedyZeroOrMoreBeforeGroupPattern — a greedy leaf before a
    // GROUP — is ported in GroupCepSpec since round 8: GPattern.greedy.)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.optional
      .followedBy("end")(_.name == "d")
    assert(flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(1, "dummy", 11.0) -> 2L,
      RE(41, "a", 2.0) -> 3L, RE(1, "dummy", 11.0) -> 4L,
      RE(42, "a", 2.0) -> 5L, RE(1, "dummy", 11.0) -> 6L,
      RE(43, "a", 2.0) -> 7L, RE(44, "d", 3.0) -> 8L)))
      === Seq(Seq(40, 41, 42, 43, 44)))
  }

  test("port: greedy oneOrMore + until variants (GreedyITCase remaining cases)") {
    val c0 = RE(40, "c", 1.0); val d0 = RE(45, "d", 3.0)
    val dum = RE(44, "dummy", 2.0)
    // testGreedyOneOrMore: maximal run only
    val pOne = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed
      .followedBy("end")(_.name == "d")
    assert(flatIds(feed(pOne, Seq(c0 -> 1L, RE(41, "a", 2.0) -> 2L,
      RE(42, "a", 2.0) -> 3L, RE(43, "a", 2.0) -> 4L, d0 -> 5L)))
      === Seq(Seq(40, 41, 42, 43, 45)))
    // testGreedyOneOrMoreWithDummyEventsAfterQuantifier
    assert(flatIds(feed(pOne, Seq(c0 -> 1L, RE(41, "a", 2.0) -> 2L,
      RE(42, "a", 2.0) -> 3L, dum -> 4L, d0 -> 5L)))
      === Seq(Seq(40, 41, 42, 45)))
    // testGreedyOneOrMoreWithDummyEventsBeforeQuantifier: min 1 unmet
    assert(feed(pOne, Seq(c0 -> 1L, dum -> 2L, d0 -> 5L)).isEmpty)
    // testGreedyUntilZeroOrMoreWithDummyEventsAfterQuantifier: the
    // price>3 'a' stops the run; the stopped run transitions at d
    val pUntilZero = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.optional
      .until(_.price > 3.0)
      .followedBy("end")(_.name == "d")
    assert(flatIds(feed(pUntilZero, Seq(c0 -> 1L, RE(41, "a", 2.0) -> 2L,
      RE(42, "a", 3.0) -> 3L, RE(43, "a", 3.0) -> 4L,
      RE(44, "a", 4.0) -> 5L, d0 -> 6L)))
      === Seq(Seq(40, 41, 42, 43, 45)))
    // testGreedyUntilWithDummyEventsBeforeQuantifier: until fires before
    // any element — the optional empty run still reaches d
    assert(flatIds(feed(pUntilZero, Seq(c0 -> 1L, RE(44, "a", 4.0) -> 2L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 3.0) -> 5L, d0 -> 6L)))
      === Seq(Seq(40, 45)))
    // testGreedyUntilOneOrMore variants: same with min 1
    val pUntilOne = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed
      .until(_.price > 3.0)
      .followedBy("end")(_.name == "d")
    assert(flatIds(feed(pUntilOne, Seq(c0 -> 1L, RE(41, "a", 2.0) -> 2L,
      RE(42, "a", 3.0) -> 3L, RE(43, "a", 3.0) -> 4L,
      RE(44, "a", 4.0) -> 5L, d0 -> 6L)))
      === Seq(Seq(40, 41, 42, 43, 45)))
    assert(feed(pUntilOne, Seq(c0 -> 1L, RE(44, "a", 4.0) -> 2L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 3.0) -> 5L, d0 -> 6L)).isEmpty)
  }

  test("port: condition-less steps match everything (NFAITCase testNoConditionLoopingNFA/testAnyWithNoConditionNFA)") {
    val evs = Seq(RE(40, "a", 1.0) -> 1L, RE(41, "b", 2.0) -> 2L,
      RE(42, "c", 3.0) -> 3L, RE(43, "d", 4.0) -> 4L, RE(44, "e", 5.0) -> 5L)
    // begin.followedBy.oneOrMore, both condition-less: every start event
    // followed by its contiguous-suffix prefixes
    val looping = Pattern.begin[RE]("start")(_ => true)
      .followedBy("end")(_ => true).oneOrMore.relaxed.allPrefixes
    assert(flatIds(feed(looping, evs)).toSet === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 43), Seq(40, 41, 42),
      Seq(40, 41),
      Seq(41, 42, 43, 44), Seq(41, 42, 43), Seq(41, 42),
      Seq(42, 43, 44), Seq(42, 43), Seq(43, 44)))
    // begin.followedByAny, both condition-less: every ordered pair
    val anyPair = Pattern.begin[RE]("start")(_ => true)
      .followedByAny("end")(_ => true)
    assert(flatIds(feed(anyPair, evs)).toSet === Set(
      Seq(40, 41), Seq(40, 42), Seq(40, 43), Seq(40, 44),
      Seq(41, 42), Seq(41, 43), Seq(41, 44),
      Seq(42, 43), Seq(42, 44), Seq(43, 44)))
  }

  test("port: simple three-step pattern with subtype condition (NFAITCase testSimplePatternNFA)") {
    // SubEvent.volume > 5 maps to price > 5; barfoo@3 has volume 5.0 and
    // must not match
    val p = Pattern.begin[RE]("start")(_.name == "start")
      .followedBy("middle")(_.price > 5.0)
      .followedBy("end")(_.name == "end")
    val got = flatIds(feed(p, Seq(
      RE(41, "start", 1.0) -> 1L, RE(43, "foobar", 1.0) -> 2L,
      RE(41, "barfoo", 5.0) -> 3L, RE(42, "foo", 10.0) -> 3L,
      RE(43, "start", 1.0) -> 4L, RE(43, "end", 1.0) -> 5L)))
    assert(got === Seq(Seq(41, 42, 43)))
  }

  // NFAITCase.testOneOrMore / testZeroOrMore strategy-matrix fixture:
  // c@1, d@2, a41@3, a42@4, a43@4 (tied ts), d@5, a45@6, b46@7
  private def strategyMatrix(mid: Pattern[RE] => Pattern[RE]): Set[Seq[Int]] = {
    val p = mid(Pattern.begin[RE]("start")(_.name == "c"))
      .followedBy("end1")(_.name == "b")
    flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(50, "d", 6.0) -> 2L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 4L,
      RE(51, "d", 6.0) -> 5L, RE(45, "a", 5.0) -> 6L,
      RE(46, "b", 5.0) -> 7L))).toSet
  }

  test("port: oneOrMore consuming-strategy matrix (NFAITCase testStrict/SkipTillNext/SkipTillAnyOneOrMore)") {
    // STRICT (consecutive): the d@5 gap caps the run at a41 a42 a43
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a").oneOrMore.allPrefixes) === Set(
      Seq(40, 41, 42, 43, 46), Seq(40, 41, 42, 46), Seq(40, 41, 46)))
    // SKIP_TILL_NEXT (relaxed, the reference default): a45 joins past d@5
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes)
      === Set(
      Seq(40, 41, 42, 43, 45, 46), Seq(40, 41, 42, 43, 46),
      Seq(40, 41, 42, 46), Seq(40, 41, 46)))
    // SKIP_TILL_ANY (combinations): every subset containing the first 'a'
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a").oneOrMore.allowCombinations)
      === Set(
      Seq(40, 41, 42, 43, 45, 46), Seq(40, 41, 43, 45, 46),
      Seq(40, 41, 42, 43, 46), Seq(40, 41, 42, 45, 46),
      Seq(40, 41, 42, 46), Seq(40, 41, 43, 46), Seq(40, 41, 45, 46),
      Seq(40, 41, 46)))
  }

  test("port: zeroOrMore consuming-strategy matrix (NFAITCase testStrictEager/SkipTillNext/SkipTillAnyZeroOrMore)") {
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a").oneOrMore.allPrefixes.optional)
      === Set(
      Seq(40, 41, 42, 43, 46), Seq(40, 41, 42, 46), Seq(40, 41, 46),
      Seq(40, 46)))
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a")
        .oneOrMore.relaxed.allPrefixes.optional) === Set(
      Seq(40, 41, 42, 43, 45, 46), Seq(40, 41, 42, 43, 46),
      Seq(40, 41, 42, 46), Seq(40, 41, 46), Seq(40, 46)))
    assert(strategyMatrix(
      _.followedBy("middle")(_.name == "a")
        .oneOrMore.allowCombinations.optional) === Set(
      Seq(40, 41, 42, 43, 45, 46), Seq(40, 41, 42, 45, 46),
      Seq(40, 41, 43, 45, 46), Seq(40, 41, 45, 46),
      Seq(40, 41, 42, 43, 46), Seq(40, 41, 42, 46), Seq(40, 41, 43, 46),
      Seq(40, 41, 46), Seq(40, 46)))
  }

  test("port: optional first step (NFAITCase testStartWithOptional)") {
    val p = Pattern.begin[RE]("start")(_.name == "c").optional
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(44, "b", 5.0) -> 6L)))
    assert(got.toSet === Set(Seq(40, 44), Seq(44)))
  }

  test("port: optional final step (NFAITCase testEndWithOptional)") {
    // the zero-occurrence match {c} emits the moment c completes the
    // mandatory prefix (proceed-ε chain to the final state)
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").optional
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L)))
    assert(got.toSet === Set(Seq(40, 41), Seq(40)))
  }

  test("port: final oneOrMore emits prefixes eagerly (NFAITCase testEndWithOneOrMore)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 5L)))
    assert(got.toSet === Set(
      Seq(40, 41), Seq(40, 41, 42), Seq(40, 41, 42, 43)))
  }

  test("port: final zeroOrMore incl. the empty run (NFAITCase testEndWithZeroOrMore)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 5L)))
    assert(got.toSet === Set(
      Seq(40), Seq(40, 41), Seq(40, 41, 42), Seq(40, 41, 42, 43)))
  }

  test("port: whole pattern is one zeroOrMore loop (NFAITCase testStartAndEndWithZeroOrMore)") {
    // single-step pattern: every noSkip start emits its prefixes; no
    // empty match (zero occurrences of the only step captures nothing)
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .oneOrMore.relaxed.allPrefixes.optional
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 5L, RE(44, "d", 5.0) -> 6L, RE(45, "d", 5.0) -> 6L,
      RE(46, "d", 5.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(41, 42, 43), Seq(41, 42), Seq(41),
      Seq(42, 43), Seq(42), Seq(43)))
  }

  test("port: relaxed times(2) eager (NFAITCase testTimesNotStrictWithFollowedByEager)") {
    // TILL_NEXT entry binds the first 'a'; eager times(2) takes the
    // first two — exactly one match
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").times(2).relaxed
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 6L, RE(44, "b", 5.0) -> 7L)))
    assert(got === Seq(Seq(40, 41, 42, 44)))
  }

  test("port: relaxed times(2) combinations (NFAITCase testTimesNotStrictWithFollowedByNotEager)") {
    // anyAny entry + allowCombinations: every 2-subset of the three 'a's
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").times(2).allowCombinations
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 6L, RE(44, "b", 5.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 44), Seq(40, 42, 43, 44), Seq(40, 41, 43, 44)))
  }

  test("port: strict times(2) consecutive broken by a gap (NFAITCase testTimesStrictWithNextAndConsecutive)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2).consecutive
      .followedBy("end1")(_.name == "b")
    val got = feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(23, "f", 1.0) -> 3L,
      RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 6L, RE(44, "b", 5.0) -> 7L))
    assert(got.isEmpty)
  }

  test("port: eager zeroOrMore with a gap (NFAITCase testEagerZeroOrMore)") {
    // Flink-default oneOrMore: relaxed internal contiguity (the d@5 gap
    // is skipped), EAGER emission (prefixes of the one eager run), entry
    // bound to the FIRST 'a' (TILL_NEXT) — {c,m2,…} must not appear
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(50, "d", 6.0) -> 5L, RE(43, "a", 4.0) -> 6L, RE(44, "b", 5.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 44),
      Seq(40, 44)))
  }

  test("port: begin with zeroOrMore (NFAITCase testBeginWithZeroOrMore)") {
    val p = Pattern.begin[RE]("middle")(_.name == "a")
      .oneOrMore.relaxed.allPrefixes.optional
      .followedBy("end")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 2.0) -> 3L, RE(41, "a", 3.0) -> 4L, RE(42, "a", 3.0) -> 5L,
      RE(43, "b", 4.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43), Seq(40, 41, 43), Seq(41, 42, 43),
      Seq(40, 43), Seq(41, 43), Seq(42, 43), Seq(43)))
  }

  test("port: at-least-one combinations (NFAITCase testAtLeastOne/testBeginWithAtLeastOne)") {
    // anyAny entry + combinations, NO optional: the empty run is absent
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.allowCombinations
      .followedByAny("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "b", 5.0) -> 6L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 44), Seq(40, 42, 44)))
    // begin with the loop itself: every order-preserving subset start
    val p2 = Pattern.begin[RE]("start")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("end")(_.name == "b")
    val got2 = flatIds(feed(p2, Seq(
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 5L,
      RE(44, "b", 5.0) -> 6L)))
    assert(got2.toSet === Set(
      Seq(41, 42, 43, 44), Seq(41, 42, 44), Seq(41, 43, 44), Seq(42, 43, 44),
      Seq(41, 44), Seq(42, 44), Seq(43, 44)))
  }

  test("port: optional single step (NFAITCase testOptional)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").optional
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(43, "a", 4.0) -> 5L, RE(44, "b", 5.0) -> 6L)))
    assert(got.toSet === Set(Seq(40, 43, 44), Seq(40, 44)))
  }

  test("port: branching with SKIP_TILL_NEXT middles (NFAITCase testBranchingPatternSkipTillNext)") {
    // both middles followedBy (TILL_NEXT): each binds its FIRST match —
    // exactly one result (SubEvent.volume > 5 maps to price > 5 here)
    val p = Pattern.begin[RE]("start")(_.name == "start")
      .followedBy("middle-first")(_.price > 5.0)
      .followedBy("middle-second")(_.name == "next-one")
      .followedByAny("end")(_.name == "end")
    val got = flatIds(feed(p, Seq(
      RE(40, "start", 1.0) -> 1L,
      RE(41, "foo1", 10.0) -> 3L, RE(42, "foo2", 10.0) -> 4L,
      RE(43, "foo3", 10.0) -> 5L,
      RE(44, "next-one", 2.0) -> 6L, RE(45, "next-one", 2.0) -> 7L,
      RE(46, "end", 1.0) -> 8L)))
    assert(got === Seq(Seq(40, 41, 44, 46)))
  }

  test("port: branching with mixed followedByAny/followedBy (NFAITCase testBranchingPatternMixedFollowedBy)") {
    // anyAny first middle branches on every foo; TILL_NEXT second middle
    // still binds only the first next-one per branch
    val p = Pattern.begin[RE]("start")(_.name == "start")
      .followedByAny("middle-first")(_.price > 5.0)
      .followedBy("middle-second")(_.name == "next-one")
      .followedByAny("end")(_.name == "end")
    val got = flatIds(feed(p, Seq(
      RE(40, "start", 1.0) -> 1L,
      RE(41, "foo1", 10.0) -> 3L, RE(42, "foo2", 10.0) -> 4L,
      RE(43, "foo3", 10.0) -> 5L,
      RE(44, "next-one", 2.0) -> 6L, RE(45, "next-one", 2.0) -> 7L,
      RE(46, "end", 1.0) -> 8L)))
    assert(got.toSet === Set(
      Seq(40, 41, 44, 46), Seq(40, 42, 44, 46), Seq(40, 43, 44, 46)))
  }

  test("port: strict continuity (NFAITCase testStrictContinuityWithResults/NoResults)") {
    val p = Pattern.begin[RE]("middle")(_.name == "a")
      .next("end")(_.name == "b")
    // adjacent a,b: one match
    assert(flatIds(feed(p, Seq(
      RE(41, "a", 2.0) -> 3L, RE(42, "b", 4.0) -> 5L))) === Seq(Seq(41, 42)))
    // an intruding c breaks strictness: no match
    assert(feed(p, Seq(
      RE(41, "a", 2.0) -> 3L, RE(42, "c", 3.0) -> 4L,
      RE(43, "b", 4.0) -> 5L)).isEmpty)
  }

  test("port: within prunes at the window boundary (NFAITCase testSimplePatternWithTimeWindowNFA)") {
    // within(10): the start@1 partial is EXPIRED at end@11 (11 - 1 >= 10,
    // NFA.java prunes at timestamp - startTs >= windowTime) — only the
    // start@2 chain matches, and end@13 is out of window for everything
    val p = Pattern.begin[RE]("start")(_.name == "start")
      .followedBy("middle")(_.name == "middle")
      .followedBy("end")(_.name == "end")
      .within(10L)
    val got = flatIds(feed(p, Seq(
      RE(1, "start", 1.0) -> 1L,
      RE(2, "start", 1.0) -> 2L,
      RE(3, "middle", 1.0) -> 3L,
      RE(4, "foobar", 1.0) -> 4L,
      RE(5, "end", 1.0) -> 11L,
      RE(6, "end", 1.0) -> 13L)))
    assert(got === Seq(Seq(2, 3, 5)))
  }

  test("port: within-slot result ordering (NFAITCase testNFAResultOrdering)") {
    // times(4).allowCombinations then times(3).consecutive: exactly one
    // match, and each slot preserves event order
    val p = Pattern.begin[RE](
      "start")(_.name.startsWith("a-")).times(4).allowCombinations
      .followedByAny("middle")(_.name.startsWith("b-")).times(3).consecutive
    val a = (i: Int) => RE(41, s"a-$i", (1 + i).toDouble)
    val b = (i: Int) => RE(41, s"b-$i", (5 + i).toDouble)
    val got = feed(p, Seq(
      a(1) -> 1L, a(2) -> 3L, a(3) -> 4L, a(4) -> 5L,
      b(1) -> 6L, b(2) -> 7L, b(3) -> 10L))
    assert(got.size == 1, s"expected exactly 1 match, got ${got.size}: " +
      got.map(_.map(_.map(_.name))))
    assert(got.head.head.map(_.name) === Vector("a-1", "a-2", "a-3", "a-4"))
    assert(got.head(1).map(_.name) === Vector("b-1", "b-2", "b-3"))
  }

  // ---- the REST of NotPatternITCase (testNotFollowedBy was ported in
  // round 5). These pin the round-6 ban-hoist semantics: a banned event
  // kills the whole branch (incl. not-yet-satisfied loop runs), and a
  // ban before an OPTIONAL step stays pending along the skip path while
  // the consuming path releases it.

  test("port: notNext with followedByAny (NotPatternITCase testNotNext)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notNext("not")(_.name == "b")
      .followedByAny("middle")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(41, "c", 2.0) -> 2L, RE(42, "b", 3.0) -> 3L,
      RE(43, "c", 4.0) -> 4L, RE(44, "d", 4.0) -> 5L)))
    assert(got.toSet === Set(Seq(40, 41, 44), Seq(40, 43, 44)))
  }

  test("port: notNext kills on the immediate event (NotPatternITCase testNotNextNoMatches)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notNext("not")(_.name == "b")
      .followedBy("middle")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(42, "b", 3.0) -> 2L, RE(41, "c", 2.0) -> 3L,
      RE(43, "c", 4.0) -> 4L, RE(44, "d", 4.0) -> 5L))
    assert(got.isEmpty)
  }

  test("port: notFollowedBy before an optional step (NotPatternITCase testNotFollowedByBeforeOptional)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedByAny("middle")(_.name == "c").optional
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(41, "c", 2.0) -> 2L, RE(42, "b", 3.0) -> 3L,
      RE(43, "c", 4.0) -> 4L, RE(44, "d", 4.0) -> 5L)))
    // the skip path and the still-waiting source die at b; the branch
    // that already took c1 has its ban released
    assert(got.toSet === Set(Seq(40, 41, 44)))
  }

  test("port: notFollowedBy after times kills loop runs (NotPatternITCase testTimesWithNotFollowedBy)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .followedByAny("middle")(_.name == "b").times(2).relaxed
      .notFollowedBy("not")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(41, "b", 2.0) -> 2L, RE(42, "c", 3.0) -> 3L,
      RE(43, "b", 4.0) -> 4L, RE(44, "d", 4.0) -> 5L))
    // c kills the {b1} run before it can reach times(2) — no match
    assert(got.isEmpty)
  }

  test("port: ban + skip-the-optional-times interplay (NotPatternITCase testIgnoreStateOfTimesWithNotFollowedBy)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedByAny("middle")(_.name == "c").times(2).relaxed.optional
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(45, "d", 6.0) -> 2L, RE(41, "e", 2.0) -> 3L,
      RE(43, "b", 4.0) -> 4L, RE(42, "c", 3.0) -> 5L, RE(44, "c", 5.0) -> 6L,
      RE(46, "d", 7.0) -> 7L)))
    assert(got.toSet === Set(Seq(40, 45)))
  }

  test("port: notFollowedBy after times, late c (NotPatternITCase testTimesWithNotFollowedByAfter)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .followedByAny("middle")(_.name == "b").times(2).relaxed
      .notFollowedBy("not")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(45, "d", 7.0) -> 2L, RE(41, "e", 2.0) -> 3L,
      RE(42, "b", 4.0) -> 4L, RE(43, "b", 5.0) -> 5L, RE(44, "c", 3.0) -> 6L,
      RE(46, "d", 8.0) -> 7L))
    // the satisfied {b1 b2} run dies at c before any d arrives
    assert(got.isEmpty)
  }

  test("port: notFollowedBy before an optional FINAL step (NotPatternITCase testNotFollowedByBeforeOptionalAtTheEnd)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedByAny("end")(_.name == "c").optional
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(41, "c", 2.0) -> 2L, RE(42, "b", 3.0) -> 3L,
      RE(43, "c", 4.0) -> 4L)))
    // the zero-occurrence match {a} emits eagerly; c2 is unreachable
    // once b killed the waiting source
    assert(got.toSet === Set(Seq(40, 41), Seq(40)))
  }

  test("port: ban released by the consuming loop path (NotPatternITCase testNotFollowedByBeforeOptionalTimes)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedByAny("middle")(_.name == "c").times(2).relaxed.optional
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(41, "c", 2.0) -> 2L, RE(42, "b", 3.0) -> 3L,
      RE(43, "c", 4.0) -> 4L, RE(44, "d", 4.0) -> 5L)))
    // the in-loop branch {c1} gap-survives b (its ban was released on
    // entry) and completes; skip path and waiting source die at b
    assert(got.toSet === Set(Seq(40, 41, 43, 44)))
  }

  test("port: only the post-ban start survives (NotPatternITCase testNotFollowedByWithBranchingAtStart)") {
    val p = Pattern.begin[RE]("start")(_.name == "a")
      .notFollowedBy("not")(_.name == "b")
      .followedBy("middle")(_.name == "c")
      .followedBy("end")(_.name == "d")
    val got = flatIds(feed(p, Seq(
      RE(40, "a", 1.0) -> 1L, RE(42, "b", 3.0) -> 2L, RE(41, "c", 2.0) -> 3L,
      RE(41, "a", 4.0) -> 4L, RE(43, "c", 5.0) -> 5L, RE(43, "d", 6.0) -> 6L)))
    assert(got.toSet === Set(Seq(41, 43, 43)))
  }

  // ---- ClearingBuffer family (NFAITCase:2302-2483): after the within
  // horizon passes, NO partial state survives. The reference asserts
  // nfaState.getPartialMatches() holds only the perpetual start state;
  // our model has no explicit start state, so the equivalent assertion
  // is an EMPTY partial vector after a pruning event. (The fifth case,
  // testSharedBufferClearing:2833, asserts SharedBuffer node release —
  // N/A to our state model, which holds events by value inside each
  // partial and frees them with it; there is no shared ref-counted
  // buffer to leak.)

  /** Like [[feed]] but also returns the survivors after the last event. */
  private def feedState(pattern: Pattern[RE], events: Seq[(RE, Long)]):
      (Vector[Vector[Vector[RE]]], Vector[GroupCep.GConf[(RE, Long)]]) =
    Cep.runMatches(pattern, events)

  private val Prune = RE(99, "prune", 0.0) // matches no step predicate

  test("port: times partials cleared at the window boundary (NFAITCase testTimesClearingBuffer)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").times(2).relaxed
      .followedBy("end1")(_.name == "b")
      .within(8L)
    val (ms, survivors) = feedState(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 3.0) -> 3L,
      RE(43, "a", 4.0) -> 4L, RE(44, "b", 5.0) -> 6L, Prune -> 10L))
    assert(flatIds(ms).toSet === Set(Seq(40, 41, 42, 44)))
    assert(survivors.isEmpty)
  }

  test("port: optional partials cleared at the window boundary (NFAITCase testOptionalClearingBuffer)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").optional
      .followedBy("end1")(_.name == "b")
      .within(8L)
    val (ms, survivors) = feedState(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(43, "a", 4.0) -> 5L, RE(44, "b", 5.0) -> 6L,
      Prune -> 10L))
    assert(flatIds(ms).toSet === Set(Seq(40, 43, 44), Seq(40, 44)))
    assert(survivors.isEmpty)
  }

  test("port: at-least-one partials cleared at the window boundary (NFAITCase testAtLeastOneClearingBuffer)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allowCombinations
      .followedBy("end1")(_.name == "b")
      .within(8L)
    val (ms, survivors) = feedState(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "b", 5.0) -> 6L, Prune -> 10L))
    assert(flatIds(ms).toSet === Set(Seq(40, 41, 44), Seq(40, 41, 42, 44)))
    assert(survivors.isEmpty)
  }

  // ---- the REST of UntilConditionITCase (the two consecutive cases were
  // ported in round 5). Reference oneOrMore defaults = relaxed internal
  // contiguity + allPrefixes emission; UNTIL_CONDITION = price == 5.0.

  test("port: until + oneOrMore relaxed (UntilConditionITCase:58)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(Seq(40, 41, 42, 44), Seq(40, 41, 44)))
  }

  test("port: until + oneOrMore combinations (UntilConditionITCase:108)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allowCombinations
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 5L, RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44),
      Seq(40, 41, 43, 44), Seq(40, 41, 44)))
  }

  test("port: until + zeroOrMore relaxed (UntilConditionITCase:258)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a")
      .oneOrMore.relaxed.allPrefixes.optional
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 44), Seq(40, 44)))
  }

  test("port: until + zeroOrMore combinations (UntilConditionITCase:308)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a")
      .oneOrMore.allowCombinations.optional
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "a", 4.0) -> 5L, RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44),
      Seq(40, 41, 43, 44), Seq(40, 41, 44), Seq(40, 44)))
  }

  test("port: until + zeroOrMore consecutive (UntilConditionITCase:360)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allPrefixes.optional
      .until(_.price == 5.0)
      .followedBy("end")(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(45, "a", 5.0) -> 7L, RE(46, "a", 6.0) -> 8L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 45), Seq(40, 41, 45), Seq(40, 45)))
  }

  test("port: until on a FINAL followedByAny loop keeps the source alive (UntilConditionITCase:410)") {
    // the anyMatch-kept source (c, waiting middle) survives the until
    // event — only IN-LOOP branches die — so a45 after the breaking
    // event still forms {c, 45}
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes
      .until(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42), Seq(40, 41), Seq(40, 42), Seq(40, 45)))
  }

  test("port: until on a FINAL followedByAny zeroOrMore loop (UntilConditionITCase:454)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a")
      .oneOrMore.relaxed.allPrefixes.optional
      .until(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42), Seq(40, 41), Seq(40, 42), Seq(40, 45), Seq(40)))
  }

  test("port: until with an empty where (UntilConditionITCase:499)") {
    // the loop has NO where: every event matches until the stop fires
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_ => true).oneOrMore.relaxed.allPrefixes
      .until(_.price == 5.0)
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "d", 1.0) -> 5L, RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)))
    assert(got.toSet === Set(
      Seq(40, 41, 42, 43), Seq(40, 41, 42), Seq(40, 41)))
  }

  test("port: ITERATIVE until (UntilConditionITCase testIterativeUntilCondition{One,Zero}OrMore)") {
    // stop fires when the branch's captured middles sum to 6.0 — a
    // per-branch stop condition over the branch context
    def untilSum(e: RE, ctx: Map[String, Seq[RE]]): Boolean =
      ctx("middle").map(_.price).sum == 6.0
    val evs = Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(43, "d", 1.0) -> 5L, RE(44, "a", 5.0) -> 6L, RE(45, "a", 6.0) -> 7L)
    val one = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_ => true).oneOrMore.relaxed.allPrefixes
      .untilIter(untilSum)
    assert(flatIds(feed(one, evs)).toSet === Set(
      Seq(40, 41, 42, 43), Seq(40, 41, 42), Seq(40, 41)))
    val zero = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_ => true).oneOrMore.relaxed.allPrefixes.optional
      .untilIter(untilSum)
    assert(flatIds(feed(zero, evs)).toSet === Set(
      Seq(40, 41, 42, 43), Seq(40, 41, 42), Seq(40, 41), Seq(40)))
  }

  test("port: zero-or-more partials cleared at the window boundary (NFAITCase testZeroOrMoreClearingBuffer)") {
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.allowCombinations.optional
      .followedBy("end1")(_.name == "b")
      .within(8L)
    val (ms, survivors) = feedState(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L,
      RE(44, "b", 5.0) -> 6L, Prune -> 10L))
    assert(flatIds(ms).toSet ===
      Set(Seq(40, 44), Seq(40, 41, 44), Seq(40, 41, 42, 44)))
    assert(survivors.isEmpty)
  }

  // ---- the negation × oneOrMore matrix (NotPatternITCase:661-1036,
  // NotFollowByData fixture). The reference reuses ids across
  // value-distinct events (B_2..B_6 are all id 42, prices differ); ids
  // here are DISTINCT so expected lists read by event. Reference-default
  // mapping as throughout: `.oneOrMore()` = ours
  // `.oneOrMore.relaxed.allPrefixes`, `.oneOrMore().allowCombinations()`
  // = ours `.oneOrMore.allowCombinations`.

  private object NFD {
    val A1 = RE(1, "a", 1.0)
    val B1 = RE(2, "b", 2.0); val B2 = RE(3, "b", 3.0)
    val B3 = RE(4, "b", 4.0)
    val C1 = RE(5, "c", 5.0)
    val B4 = RE(6, "b", 6.0); val B5 = RE(7, "b", 7.0)
    val B6 = RE(8, "b", 8.0)
    val D1 = RE(9, "d", 9.0)
  }

  private def notNextAfterOneOrMore(any: Boolean): Set[Seq[Int]] = {
    import NFD._
    val p0 = Pattern.begin[RE]("a")(_.name == "a")
    val pb = if (any) p0.followedByAny("b*")(_.name == "b")
             else p0.followedBy("b*")(_.name == "b")
    val p = pb.oneOrMore.relaxed.allPrefixes
      .notNext("not c")(_.name == "c")
      .followedBy("d")(_.name == "d")
    flatIds(feed(p, Seq(
      A1 -> 0L, B1 -> 1L, C1 -> 2L, B2 -> 3L, D1 -> 4L))).toSet
  }

  test("port: notNext after oneOrMore, skip till next (NotPatternITCase testNotNextAfterOneOrMoreSkipTillNext)") {
    // followedBy consumed B_1; C_1 is immediately next after it -> dies
    assert(notNextAfterOneOrMore(any = false) === Set.empty[Seq[Int]])
  }

  test("port: notNext after oneOrMore, skip till any (NotPatternITCase testNotNextAfterOneOrMoreSkipTillAny)") {
    // the still-waiting anyMatch source takes B_2, whose next event is D
    assert(notNextAfterOneOrMore(any = true) === Set(Seq(1, 3, 9)))
  }

  private def notFollowedByAfterOneOrMore(eager: Boolean,
      any: Boolean): Set[Seq[Int]] = {
    import NFD._
    val p0 = Pattern.begin[RE]("a")(_.name == "a")
    val pb = if (any) p0.followedByAny("b*")(_.name == "b")
             else p0.followedBy("b*")(_.name == "b")
    val pl = if (eager) pb.oneOrMore.relaxed.allPrefixes
             else pb.oneOrMore.allowCombinations
    val p = pl.notFollowedBy("not c")(_.name == "c")
      .followedBy("d")(_.name == "d")
    flatIds(feed(p, Seq(
      A1 -> 0L, B1 -> 1L, B2 -> 2L, B3 -> 3L, C1 -> 4L,
      B4 -> 5L, B5 -> 6L, B6 -> 7L, D1 -> 8L))).toSet
  }

  test("port: notFollowedBy after oneOrMore eager, next entry (NotPatternITCase testNotFollowedByNextAfterOneOrMoreEager)") {
    // the single consumed-at-B_1 branch family dies at C_1
    assert(notFollowedByAfterOneOrMore(eager = true, any = false) ===
      Set.empty[Seq[Int]])
  }

  test("port: notFollowedBy after oneOrMore eager, any entry (NotPatternITCase testNotFollowedByAnyAfterOneOrMoreEager)") {
    // pre-C branches die; post-C contiguous runs complete at D
    assert(notFollowedByAfterOneOrMore(eager = true, any = true) === Set(
      Seq(1, 6, 7, 8, 9), Seq(1, 6, 7, 9), Seq(1, 6, 9),
      Seq(1, 7, 8, 9), Seq(1, 7, 9), Seq(1, 8, 9)))
  }

  test("port: notFollowedBy after oneOrMore combinations, next entry (NotPatternITCase testNotFollowedByNextAfterOneOrMoreCombinations)") {
    assert(notFollowedByAfterOneOrMore(eager = false, any = false) ===
      Set.empty[Seq[Int]])
  }

  test("port: notFollowedBy after oneOrMore combinations, any entry (NotPatternITCase testNotFollowedByAnyAfterOneOrMoreCombinations)") {
    assert(notFollowedByAfterOneOrMore(eager = false, any = true) === Set(
      Seq(1, 6, 7, 8, 9), Seq(1, 6, 7, 9), Seq(1, 6, 8, 9), Seq(1, 6, 9),
      Seq(1, 7, 8, 9), Seq(1, 7, 9), Seq(1, 8, 9)))
  }

  private def notFollowedByBeforeLoop(eager: Boolean, any: Boolean,
      zeroOrMore: Boolean): Set[Seq[Int]] = {
    import NFD._
    val p0 = Pattern.begin[RE]("a")(_.name == "a")
      .notFollowedBy("not c")(_.name == "c")
    val pb = if (any) p0.followedByAny("b*")(_.name == "b")
             else p0.followedBy("b*")(_.name == "b")
    var pl = if (eager) pb.oneOrMore.relaxed.allPrefixes
             else pb.oneOrMore.allowCombinations
    if (zeroOrMore) pl = pl.optional
    val p = pl.followedBy("d")(_.name == "d")
    flatIds(feed(p, Seq(
      A1 -> 0L, B1 -> 1L, C1 -> 2L,
      B4 -> 3L, B5 -> 4L, B6 -> 5L, D1 -> 6L))).toSet
  }

  // the consuming path releases the ban at B_1 and gap-survives C_1;
  // the skip path and the waiting source die at C_1 — every match
  // includes B_1, none starts at B_4+ and there is no zero-run {A, D}
  private val beforeLoopEager = Set(
    Seq(1, 2, 6, 7, 8, 9), Seq(1, 2, 6, 7, 9), Seq(1, 2, 6, 9), Seq(1, 2, 9))
  private val beforeLoopCombos = Set(
    Seq(1, 2, 6, 7, 8, 9), Seq(1, 2, 6, 7, 9), Seq(1, 2, 6, 8, 9),
    Seq(1, 2, 6, 9), Seq(1, 2, 7, 8, 9), Seq(1, 2, 7, 9), Seq(1, 2, 8, 9),
    Seq(1, 2, 9))

  test("port: notFollowedBy before oneOrMore eager (NotPatternITCase testNotFollowedByBeforeOneOrMoreEager)") {
    assert(notFollowedByBeforeLoop(eager = true, any = false,
      zeroOrMore = false) === beforeLoopEager)
  }

  test("port: notFollowedBy before oneOrMore any eager (NotPatternITCase testNotFollowedByAnyBeforeOneOrMoreEager)") {
    assert(notFollowedByBeforeLoop(eager = true, any = true,
      zeroOrMore = false) === beforeLoopEager)
  }

  test("port: notFollowedBy before oneOrMore combinations (NotPatternITCase testNotFollowedByBeforeOneOrMoreCombinations)") {
    assert(notFollowedByBeforeLoop(eager = false, any = false,
      zeroOrMore = false) === beforeLoopCombos)
  }

  test("port: notFollowedBy before oneOrMore any combinations (NotPatternITCase testNotFollowedByAnyBeforeOneOrMoreCombinations)") {
    assert(notFollowedByBeforeLoop(eager = false, any = true,
      zeroOrMore = false) === beforeLoopCombos)
  }

  test("port: notFollowedBy before zeroOrMore eager till-next (NotPatternITCase testNotFollowedByBeforeZeroOrMoreEagerSkipTillNext)") {
    assert(notFollowedByBeforeLoop(eager = true, any = false,
      zeroOrMore = true) === beforeLoopEager)
  }

  test("port: notFollowedBy before zeroOrMore combinations till-next (NotPatternITCase testNotFollowedByBeforeZeroOrMoreCombinationsSkipTillNext)") {
    assert(notFollowedByBeforeLoop(eager = false, any = false,
      zeroOrMore = true) === beforeLoopCombos)
  }

  test("port: notFollowedBy before zeroOrMore eager till-any (NotPatternITCase testNotFollowedByBeforeZeroOrMoreEagerSkipTillAny)") {
    assert(notFollowedByBeforeLoop(eager = true, any = true,
      zeroOrMore = true) === beforeLoopEager)
  }

  test("port: notFollowedBy before zeroOrMore combinations till-any (NotPatternITCase testNotFollowedByBeforeZeroOrMoreCombinationsSkipTillAny)") {
    assert(notFollowedByBeforeLoop(eager = false, any = true,
      zeroOrMore = true) === beforeLoopCombos)
  }

  // ---- the REST of TimesRangeITCase (testTimesRange /
  // testTimesRangeFromZero were ported above). ConsecutiveData fixture:
  // c(40), a1(41,2.0), a2(42,3.0), a3(43,4.0), b(44); 'f' fillers open
  // sequence gaps that separate strict from relaxed contiguity.
  private object TRD {
    val c = RE(40, "c", 1.0)
    val a1 = RE(41, "a", 2.0); val a2 = RE(42, "a", 3.0)
    val a3 = RE(43, "a", 4.0)
    val b = RE(44, "b", 5.0)
    val f = RE(23, "f", 1.0)
    // c f a1 f a2 a3 b — the file's main script
    val gapped = Seq(c -> 1L, f -> 2L, a1 -> 3L, f -> 4L, a2 -> 5L,
      a3 -> 6L, b -> 7L)
  }

  private def timesRange(entryAny: Boolean, strictEntry: Boolean,
      from: Int, to: Int, combos: Boolean, consec: Boolean,
      opt: Boolean, events: Seq[(RE, Long)]): Set[Seq[Int]] = {
    import TRD._
    val p0 = Pattern.begin[RE]("start")(_.name == "c")
    var pm =
      if (strictEntry) p0.next("middle")(_.name == "a")
      else if (entryAny) p0.followedByAny("middle")(_.name == "a")
      else p0.followedBy("middle")(_.name == "a")
    pm = pm.times(from, to)
    // reference default EMISSION is all prefixes in every contiguity mode
    pm = if (combos) pm.allowCombinations
         else if (consec) pm.consecutive.allPrefixes
         else pm.relaxed.allPrefixes // reference default contiguity
    if (opt) pm = pm.optional
    flatIds(feed(pm.followedBy("end1")(_.name == "b"), events)).toSet
  }

  test("port: times range any-entry combinations (TimesRangeITCase testTimesRangeNonStrict)") {
    assert(timesRange(entryAny = true, strictEntry = false, 1, 3,
      combos = true, consec = false, opt = false, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44),
      Seq(40, 42, 43, 44), Seq(40, 41, 44), Seq(40, 42, 44),
      Seq(40, 43, 44)))
  }

  test("port: times range strict reps from zero (TimesRangeITCase testTimesRangeStrict)") {
    // consecutive reps: the filler after a1 breaks its run — only the
    // adjacent a2 a3 pair forms a length-2 run
    assert(timesRange(entryAny = true, strictEntry = false, 0, 3,
      combos = false, consec = true, opt = false, TRD.gapped) === Set(
      Seq(40, 42, 43, 44), Seq(40, 41, 44), Seq(40, 42, 44),
      Seq(40, 43, 44), Seq(40, 44)))
  }

  test("port: times range strict reps optional (TimesRangeITCase testTimesRangeStrictOptional)") {
    assert(timesRange(entryAny = true, strictEntry = false, 1, 3,
      combos = false, consec = true, opt = true, TRD.gapped) === Set(
      Seq(40, 42, 43, 44), Seq(40, 41, 44), Seq(40, 42, 44),
      Seq(40, 43, 44), Seq(40, 44)))
  }

  test("port: times range strict entry + strict reps optional (TimesRangeITCase testTimesRangeStrictOptional1)") {
    import TRD._
    // no fillers: c a1 a2 a3 b; strict entry anchors at a1 only
    val events = Seq(c -> 1L, a1 -> 3L, a2 -> 5L, a3 -> 6L, b -> 7L)
    assert(timesRange(entryAny = false, strictEntry = true, 1, 3,
      combos = false, consec = true, opt = true, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 44),
      Seq(40, 44)))
  }

  test("port: times range optional with no occurrences (TimesRangeITCase testTimesRangeNonStrictOptional1)") {
    import TRD._
    val events = Seq(c -> 1L, f -> 2L, b -> 7L)
    assert(timesRange(entryAny = false, strictEntry = false, 1, 3,
      combos = false, consec = false, opt = true, events) === Set(
      Seq(40, 44)))
  }

  test("port: times range 2-3 combinations optional (TimesRangeITCase testTimesRangeNonStrictOptional2)") {
    assert(timesRange(entryAny = true, strictEntry = false, 2, 3,
      combos = true, consec = false, opt = true, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44),
      Seq(40, 42, 43, 44), Seq(40, 44)))
  }

  test("port: times range 2-3 relaxed optional (TimesRangeITCase testTimesRangeNonStrictOptional3)") {
    // relaxed (no combos): runs extend across gaps but never skip a
    // matching occurrence — {a1 a3} is absent
    assert(timesRange(entryAny = true, strictEntry = false, 2, 3,
      combos = false, consec = false, opt = true, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 42, 43, 44),
      Seq(40, 44)))
  }

  test("port: times range strict entry + combinations (TimesRangeITCase testTimesRangeNonStrictWithNext)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, f -> 3L, a2 -> 4L, f -> 5L,
      a3 -> 6L, b -> 7L)
    assert(timesRange(entryAny = false, strictEntry = true, 2, 3,
      combos = true, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44)))
  }

  test("port: times range 2-3 relaxed, first-occurrence entry (TimesRangeITCase testTimesRangeNotStrictWithFollowedBy)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, a2 -> 4L, a3 -> 6L, b -> 7L)
    assert(timesRange(entryAny = false, strictEntry = false, 2, 3,
      combos = false, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44)))
  }

  test("port: times range 2-3 combinations, any entry (TimesRangeITCase testTimesRangeNotStrictWithFollowedByAny)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, a2 -> 4L, a3 -> 6L, b -> 7L)
    assert(timesRange(entryAny = true, strictEntry = false, 2, 3,
      combos = true, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 42, 43, 44),
      Seq(40, 41, 43, 44)))
  }

  // ---- the REST of TimesOrMoreITCase (testTimesOrMore was ported
  // above). Same ConsecutiveData fixture and modifier mapping.
  private def timesOrMore(entryAny: Boolean, strictEntry: Boolean,
      n: Int, combos: Boolean, consec: Boolean, opt: Boolean,
      events: Seq[(RE, Long)]): Set[Seq[Int]] = {
    val p0 = Pattern.begin[RE]("start")(_.name == "c")
    var pm =
      if (strictEntry) p0.next("middle")(_.name == "a")
      else if (entryAny) p0.followedByAny("middle")(_.name == "a")
      else p0.followedBy("middle")(_.name == "a")
    pm = pm.timesOrMore(n)
    pm = if (combos) pm.allowCombinations
         else if (consec) pm.consecutive.allPrefixes
         else pm.relaxed.allPrefixes
    if (opt) pm = pm.optional
    flatIds(feed(pm.followedBy("end1")(_.name == "b"), events)).toSet
  }

  test("port: timesOrMore(2) any entry combinations (TimesOrMoreITCase testTimesOrMoreNonStrict)") {
    assert(timesOrMore(entryAny = true, strictEntry = false, 2,
      combos = true, consec = false, opt = false, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44),
      Seq(40, 42, 43, 44)))
  }

  test("port: times(2) strict reps, any entry (TimesOrMoreITCase testTimesOrMoreStrict)") {
    // the file's quirk: this case is times(2).consecutive() — only the
    // adjacent a2 a3 pair forms
    import TRD._
    // fixed-count times(2): emission is the exact run, no prefixes
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").times(2).consecutive
      .followedBy("end1")(_.name == "b")
    assert(flatIds(feed(p, gapped)).toSet === Set(Seq(40, 42, 43, 44)))
  }

  test("port: timesOrMore(2) strict reps optional (TimesOrMoreITCase testTimesOrMoreStrictOptional)") {
    assert(timesOrMore(entryAny = true, strictEntry = false, 2,
      combos = false, consec = true, opt = true, TRD.gapped) === Set(
      Seq(40, 42, 43, 44), Seq(40, 44)))
  }

  test("port: timesOrMore(2) strict entry + strict reps optional (TimesOrMoreITCase testTimesOrMoreStrictOptional2)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 3L, a2 -> 5L, a3 -> 6L, b -> 7L)
    assert(timesOrMore(entryAny = false, strictEntry = true, 2,
      combos = false, consec = true, opt = true, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 44)))
  }

  test("port: timesOrMore(2) optional with no occurrences (TimesOrMoreITCase testTimesOrMoreNonStrictOptional)") {
    import TRD._
    val events = Seq(c -> 1L, f -> 2L, b -> 7L)
    assert(timesOrMore(entryAny = false, strictEntry = false, 2,
      combos = false, consec = false, opt = true, events) === Set(
      Seq(40, 44)))
  }

  test("port: timesOrMore(2) combinations optional (TimesOrMoreITCase testTimesOrMoreNonStrictOptional2)") {
    assert(timesOrMore(entryAny = true, strictEntry = false, 2,
      combos = true, consec = false, opt = true, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44),
      Seq(40, 42, 43, 44), Seq(40, 44)))
  }

  test("port: timesOrMore(2) relaxed optional (TimesOrMoreITCase testTimesOrMoreNonStrictOptional3)") {
    assert(timesOrMore(entryAny = true, strictEntry = false, 2,
      combos = false, consec = false, opt = true, TRD.gapped) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 42, 43, 44),
      Seq(40, 44)))
  }

  test("port: timesOrMore(2) strict entry + combinations (TimesOrMoreITCase testTimesOrMoreNonStrictWithNext)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, f -> 3L, a2 -> 4L, f -> 5L,
      a3 -> 6L, b -> 7L)
    assert(timesOrMore(entryAny = false, strictEntry = true, 2,
      combos = true, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 41, 43, 44)))
  }

  test("port: timesOrMore(2) relaxed, first-occurrence entry (TimesOrMoreITCase testTimesOrMoreNotStrictWithFollowedBy)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, a2 -> 4L, a3 -> 6L, b -> 7L)
    assert(timesOrMore(entryAny = false, strictEntry = false, 2,
      combos = false, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44)))
  }

  test("port: timesOrMore(2) combinations, any entry (TimesOrMoreITCase testTimesOrMoreNotStrictWithFollowedByAny)") {
    import TRD._
    val events = Seq(c -> 1L, a1 -> 2L, a2 -> 4L, a3 -> 6L, b -> 7L)
    assert(timesOrMore(entryAny = true, strictEntry = false, 2,
      combos = true, consec = false, opt = false, events) === Set(
      Seq(40, 41, 42, 43, 44), Seq(40, 41, 42, 44), Seq(40, 42, 43, 44),
      Seq(40, 41, 43, 44)))
  }

  // ---- the last NFAITCase stragglers: times(2) strict/combos over the
  // gapped fixture, strict-next after a loop, strict loop starts,
  // strict loop entry, condition-less followedBy, and key ordering.

  test("port: times(2) strict reps over gaps (NFAITCase testTimesStrict)") {
    import TRD._
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").times(2).consecutive
      .followedBy("end1")(_.name == "b")
    assert(flatIds(feed(p, gapped)).toSet === Set(Seq(40, 42, 43, 44)))
  }

  test("port: times(2) combinations over gaps (NFAITCase testTimesNonStrict)") {
    import TRD._
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").times(2).allowCombinations
      .followedBy("end1")(_.name == "b")
    assert(flatIds(feed(p, gapped)).toSet === Set(
      Seq(40, 41, 42, 44), Seq(40, 41, 43, 44), Seq(40, 42, 43, 44)))
  }

  test("port: strict next after zeroOrMore, intervening event (NFAITCase testStrictContinuityNoResultsAfterZeroOrMore)") {
    // d a a c b: the c between the loop's last element and b breaks the
    // strict continuity everywhere, including the skip path
    val p = Pattern.begin[RE]("start")(_.name == "d")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
      .next("end")(_.name == "b")
    assert(feed(p, Seq(
      RE(40, "d", 2.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(43, "c", 3.0) -> 4L, RE(44, "b", 4.0) -> 5L)).isEmpty)
  }

  test("port: strict next after zeroOrMore, adjacent end (NFAITCase testStrictContinuityResultsAfterZeroOrMore — 2/2 verbatim)") {
    // d a1 a2 b over followedByAny + allowCombinations (the reference's
    // EXACT pattern — an earlier port wrote followedBy here, which
    // cannot fork the a2 entry and made the suffix run look like an
    // engine divergence): runs ENDING at a2 satisfy the strict next, so
    // the reference expects {d, a1 a2, b} AND the suffix run {d, a2, b}
    // — and NOTHING else: {d, a1, b} is barred (a2 intervened after the
    // {a1} run) and {d, b} is barred because a1 broke the
    // zero-consumption path's strict adjacency (the fourteenth parity
    // fix: the surviving SKIP_TILL_ANY source now bars strict-reachable
    // steps exactly like the stopped/combos forks).
    val p = Pattern.begin[RE]("start")(_.name == "d")
      .followedByAny("middle")(_.name == "a")
      .oneOrMore.allowCombinations.optional
      .next("end")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "d", 2.0) -> 1L, RE(41, "a", 2.0) -> 2L, RE(42, "a", 2.0) -> 3L,
      RE(44, "b", 4.0) -> 5L)))
    assert(got.toSet === Set(Seq(40, 41, 42, 44), Seq(40, 42, 44)))
  }

  test("port: strict loop as the whole pattern (NFAITCase testStartWithOneOrMoreStrict/testStartWithZeroOrMoreStrict)") {
    // c a c a a: consecutive 'a' runs only — {a1}, {a2}, {a2 a3}, {a3};
    // the zeroOrMore variant emits the same list (no empty matches from
    // a pure loop)
    val events = Seq(
      RE(40, "c", 1.0) -> 1L, RE(41, "a", 2.0) -> 3L, RE(40, "c", 1.0) -> 4L,
      RE(42, "a", 3.0) -> 5L, RE(43, "a", 4.0) -> 6L)
    val one = Pattern.begin[RE]("start")(_.name == "a").oneOrMore
    assert(flatIds(feed(one, events)).toSet === Set(
      Seq(41), Seq(42), Seq(42, 43), Seq(43)))
    val zero = Pattern.begin[RE]("start")(_.name == "a").oneOrMore.optional
    assert(flatIds(feed(zero, events)).toSet === Set(
      Seq(41), Seq(42), Seq(42, 43), Seq(43)))
  }

  test("port: strict loop entry broken by a gap (NFAITCase testNextZeroOrMore)") {
    // the event right after start breaks the strict (next) loop entry;
    // only the zero-consumption path reaches the end
    val p = Pattern.begin[RE]("start")(_.name == "c")
      .next("middle")(_.name == "a").oneOrMore.optional
      .followedBy("end1")(_.name == "b")
    val got = flatIds(feed(p, Seq(
      RE(40, "c", 1.0) -> 1L, RE(1, "event", 1.0) -> 2L,
      RE(41, "a", 2.0) -> 3L, RE(42, "a", 3.0) -> 4L, RE(43, "a", 4.0) -> 5L,
      RE(44, "b", 5.0) -> 6L)))
    assert(got === Seq(Seq(40, 44)))
  }

  test("port: condition-less followedBy binds adjacent pairs (NFAITCase testNoConditionNFA)") {
    val evs = Seq(RE(40, "a", 1.0) -> 1L, RE(41, "b", 2.0) -> 2L,
      RE(42, "c", 3.0) -> 3L, RE(43, "d", 4.0) -> 4L, RE(44, "e", 5.0) -> 5L)
    val p = Pattern.begin[RE]("start")(_ => true)
      .followedBy("end")(_ => true)
    assert(flatIds(feed(p, evs)).toSet === Set(
      Seq(40, 41), Seq(41, 42), Seq(42, 43), Seq(43, 44)))
  }

  test("port: capture map iterates in declaration order (NFAITCase testNFAResultKeyOrdering)") {
    // five strict steps; the select map's keys must come back in pattern
    // order (the reference's LinkedHashMap contract)
    val p = Pattern.begin[RE]("a")(_.name == "a")
      .next("b")(_.name == "b")
      .next("aa")(_.name == "aa")
      .next("bb")(_.name == "bb")
      .next("ab")(_.name == "ab")
    val events = Seq(RE(1, "a", 1.0) -> 1L, RE(2, "b", 2.0) -> 3L,
      RE(3, "aa", 3.0) -> 4L, RE(4, "bb", 4.0) -> 5L, RE(5, "ab", 5.0) -> 6L)
    val ds = spark.createDataset(events.map { case (e, t) =>
      (e.id, e.name, t) })(org.apache.spark.sql.Encoders.product)
    val keyOrders = Cep.matchBatchGroups(ds, (_: (Int, String, Long)) => 1,
      (e: (Int, String, Long)) => e._3,
      Pattern.begin[(Int, String, Long)]("a")(_._2 == "a")
        .next("b")(_._2 == "b").next("aa")(_._2 == "aa")
        .next("bb")(_._2 == "bb").next("ab")(_._2 == "ab")) {
      (_, groups) => groups.keys.mkString(",")
    }(org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaInt).collect().toSeq
    assert(keyOrders === Seq("a,b,aa,bb,ab"))
  }
}
