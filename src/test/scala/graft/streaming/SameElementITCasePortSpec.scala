package graft.streaming

import graft.SparkSuite
import graft.streaming.Cep._

/** Verbatim ports of the reference's SameElementITCase (flink-cep
  * nfa/SameElementITCase.java) — "Events that are equal in case of
  * Object#equals and have same timestamps". These run through
  * [[Cep.runMatches]], i.e. the batch driver's arrival-tagged identity
  * (the round-7 SharedBuffer EventId parity): value-identical events at
  * one timestamp are distinct computation states, so match
  * MULTIPLICITIES must equal the reference's exactly. Comparisons are
  * multisets of value lists (compareMaps semantics).
  */
class SameElementITCasePortSpec extends SparkSuite {

  private case class SE(id: Int, name: String, price: Double)

  private def feed(p: Pattern[SE], events: Seq[(SE, Long)]):
      (Seq[Seq[(String, Double)]], Vector[GroupCep.GConf[(SE, Long)]]) = {
    val (ms, survivors) = Cep.runMatches(p, events)
    (ms.map(_.flatten.map(e => (e.name, e.price))), survivors)
  }

  private def multiset[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  // ---- testEagerZeroOrMoreSameElement (:48) — the same instance fed
  // three times extends the eager run three times
  test("port: eager zeroOrMore over same elements (SameElementITCase testEagerZeroOrMoreSameElement)") {
    val c = SE(40, "c", 1.0); val m1 = SE(41, "a", 2.0)
    val m2 = SE(42, "a", 3.0); val m3 = SE(43, "a", 4.0)
    val b = SE(44, "b", 5.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedBy("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
      .followedBy("end1")(_.name == "b")
    val (got, _) = feed(p, Seq(
      c -> 1L, m1 -> 3L, m1 -> 3L, m1 -> 3L, m2 -> 4L,
      SE(50, "d", 6.0) -> 5L, m3 -> 6L, m3 -> 6L, b -> 7L))
    def vals(es: SE*) = es.map(e => (e.name, e.price))
    val expected = Seq(
      vals(c, m1, m1, m1, m2, m3, m3, b),
      vals(c, m1, m1, m1, m2, m3, b),
      vals(c, m1, m1, m1, m2, b),
      vals(c, m1, m1, m1, b),
      vals(c, m1, m1, b),
      vals(c, m1, b),
      vals(c, b))
    assert(multiset(got) === multiset(expected))
  }

  // ---- testClearingBuffer (:106) — after the single chain completes,
  // no partial survives (the reference keeps only the perpetual start
  // state, which our model has no explicit analog of)
  test("port: buffer clears after the chain completes (SameElementITCase testClearingBuffer)") {
    val a1 = SE(40, "a", 1.0); val b1 = SE(41, "b", 2.0)
    val c1 = SE(41, "c", 2.0); val d = SE(41, "d", 2.0)
    val p = Pattern.begin[SE]("a")(_.name == "a")
      .followedBy("b")(_.name == "b")
      .followedBy("c")(_.name == "c")
      .followedBy("d")(_.name == "d")
    val (got, survivors) = feed(p, Seq(
      a1 -> 1L, b1 -> 2L, c1 -> 2L, d -> 2L))
    assert(multiset(got) === multiset(Seq(
      Seq(("a", 1.0), ("b", 2.0), ("c", 2.0), ("d", 2.0)))))
    assert(survivors.isEmpty)
  }

  // ---- testClearingBufferWithUntilAtTheEnd (:154) — four
  // value-identical d's; the iterative until stops the run at three
  test("port: until over same elements clears the buffer (SameElementITCase testClearingBufferWithUntilAtTheEnd)") {
    val a1 = SE(40, "a", 1.0); val d = SE(41, "d", 2.0)
    val p = Pattern.begin[SE]("a")(_.name == "a")
      .followedBy("d")(_.name == "d").oneOrMore.relaxed.allPrefixes
      .untilIter((_, ctx) => ctx("d").size == 3)
    val (got, survivors) = feed(p, Seq(
      a1 -> 1L, d -> 2L, d -> 2L, d -> 2L, d -> 4L))
    def ds(n: Int) = ("a", 1.0) +: Seq.fill(n)(("d", 2.0))
    assert(multiset(got) === multiset(Seq(ds(1), ds(2), ds(3))))
    assert(survivors.isEmpty)
  }

  // ---- testZeroOrMoreSameElement (:201) — combinations × anyMatch over
  // two identical pairs: 33 matches, multiplicities by EventId
  test("port: zeroOrMore combinations over same elements (SameElementITCase testZeroOrMoreSameElement)") {
    val c = SE(40, "c", 1.0)
    val m1 = SE(41, "a", 2.0) // fed twice (m1, m1a)
    val m2 = SE(42, "a", 3.0)
    val m3 = SE(43, "a", 4.0) // fed twice (m3, m3a)
    val b = SE(44, "b", 5.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.allowCombinations.optional
      .followedByAny("end1")(_.name == "b")
    val (got, _) = feed(p, Seq(
      c -> 1L, m1 -> 3L, m1 -> 3L, m2 -> 4L,
      SE(50, "d", 6.0) -> 5L, m3 -> 6L, m3 -> 6L, b -> 7L))
    def vals(es: SE*) = es.map(e => (e.name, e.price))
    val expected = Seq(
      vals(c, m1, m1, m2, m3, m3, b),
      // four-middle combinations
      vals(c, m1, m1, m2, m3, b), vals(c, m1, m1, m2, m3, b),
      vals(c, m1, m1, m3, m3, b), vals(c, m1, m2, m3, m3, b),
      vals(c, m1, m2, m3, m3, b),
      // three-middle combinations
      vals(c, m1, m1, m2, b), vals(c, m1, m1, m3, b), vals(c, m1, m1, m3, b),
      vals(c, m1, m2, m3, b), vals(c, m1, m2, m3, b), vals(c, m1, m3, m3, b),
      vals(c, m2, m3, m3, b), vals(c, m1, m2, m3, b), vals(c, m1, m2, m3, b),
      vals(c, m1, m3, m3, b),
      // two-middle combinations
      vals(c, m1, m1, b), vals(c, m1, m2, b), vals(c, m1, m3, b),
      vals(c, m1, m3, b), vals(c, m1, m2, b), vals(c, m1, m3, b),
      vals(c, m1, m3, b), vals(c, m2, m3, b), vals(c, m2, m3, b),
      vals(c, m3, m3, b),
      // singles
      vals(c, m1, b), vals(c, m1, b), vals(c, m2, b), vals(c, m3, b),
      vals(c, m3, b),
      // empty loop
      vals(c, b))
    assert(got.size === 32, s"expected 32 matches, got ${got.size}")
    assert(multiset(got) === multiset(expected))
  }

  // ---- testSimplePatternWSameElement (:290) — the same instance fed
  // twice matches the anyMatch middle twice
  test("port: simple pattern with same element (SameElementITCase testSimplePatternWSameElement)") {
    val c = SE(40, "c", 1.0); val a = SE(41, "a", 2.0)
    val b = SE(44, "b", 5.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a")
      .followedBy("end1")(_.name == "b")
    val (got, _) = feed(p, Seq(c -> 1L, a -> 3L, a -> 3L, b -> 7L))
    val m = Seq(("c", 1.0), ("a", 2.0), ("b", 5.0))
    assert(multiset(got) === multiset(Seq(m, m)))
  }

  // ---- testIterativeConditionWSameElement (:336) — the iterative end
  // condition sums captured middle prices; three identical a's
  test("port: iterative condition with same elements (SameElementITCase testIterativeConditionWSameElement)") {
    val c = SE(40, "c", 1.0); val a = SE(41, "a", 2.0)
    val b = SE(44, "b", 5.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.allowCombinations.optional
      .followedByIter("end") { (_, ctx) =>
        ctx("middle").map(_.price).sum == 4.0
      }
    val (got, _) = feed(p, Seq(c -> 1L, a -> 3L, a -> 3L, a -> 3L, b -> 7L))
    val withEnd = Seq(("c", 1.0), ("a", 2.0), ("a", 2.0), ("b", 5.0))
    val endIsA = Seq(("c", 1.0), ("a", 2.0), ("a", 2.0), ("a", 2.0))
    assert(multiset(got) === multiset(Seq(withEnd, endIsA, withEnd)))
  }

  // ---- testEndWLoopingWSameElement (:392) — pattern ENDS with an
  // eager anyMatch zeroOrMore over three identical a's
  test("port: terminal looping with same elements (SameElementITCase testEndWLoopingWSameElement)") {
    val c = SE(40, "c", 1.0); val a = SE(41, "a", 2.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedByAny("middle")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
    val (got, _) = feed(p, Seq(c -> 1L, a -> 3L, a -> 3L, a -> 3L))
    def m(n: Int) = ("c", 1.0) +: Seq.fill(n)(("a", 2.0))
    val expected = Seq(m(0), m(1), m(1), m(1), m(2), m(2), m(3))
    assert(multiset(got) === multiset(expected))
  }

  // ---- testRepeatingPatternWSameElement (:439) — the same variable
  // name condition ('a') appears in two steps around an optional middle
  test("port: repeating pattern with same elements (SameElementITCase testRepeatingPatternWSameElement)") {
    val c = SE(40, "c", 1.0)
    val m11 = SE(40, "a", 2.0) // fed twice
    val m12 = SE(40, "a", 3.0)
    val m13 = SE(40, "a", 4.0)
    val m21 = SE(40, "b", 5.0)
    val p = Pattern.begin[SE]("start")(_.name == "c")
      .followedBy("middle1")(_.name == "a").oneOrMore.relaxed.allPrefixes.optional
      .followedBy("middle2")(_.name == "b").optional
      .followedBy("end")(_.name == "a")
    val (got, _) = feed(p, Seq(
      c -> 1L, m11 -> 3L, m11 -> 3L, m12 -> 3L,
      SE(40, "d", 6.0) -> 5L, m21 -> 6L, m13 -> 7L))
    def vals(es: SE*) = es.map(e => (e.name, e.price))
    val expected = Seq(
      vals(c, m11),
      vals(c, m11, m11), vals(c, m21, m13),
      vals(c, m11, m11, m12), vals(c, m11, m21, m13),
      vals(c, m11, m11, m12, m13), vals(c, m11, m11, m21, m13),
      vals(c, m11, m11, m12, m21, m13))
    assert(multiset(got) === multiset(expected))
  }
}
