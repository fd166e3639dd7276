package graft.plans

import graft.SparkSuite
import graft.streaming.GroupCep
import graft.plans.GroupCepPlan.{GGroupSpec, GLeafSpec, GNotSpec}
import org.apache.spark.sql.functions._

/** The planned group-pattern operator must agree with the library
  * epsilon-NFA (same `GroupCep.advance` core, different driver) and must
  * get its shuffle + sort from the planner. */
class GroupCepPlanSpec extends SparkSuite {
  import spark.implicits._

  // user 1 completes c (a b){1,2} d with two reps — the exit fork after
  // rep 1 and after rep 2 both complete on d (two matches); user 2 has
  // only one rep; user 3 never starts
  private lazy val events = Seq(
    (1L, 1L, "c", 1L), (2L, 2L, "a", 1L), (3L, 3L, "b", 1L),
    (4L, 4L, "a", 1L), (5L, 5L, "b", 1L), (6L, 6L, "d", 1L),
    (10L, 1L, "c", 2L), (11L, 2L, "a", 2L), (12L, 3L, "b", 2L),
    (13L, 4L, "d", 2L),
    (20L, 1L, "a", 3L), (21L, 2L, "b", 3L), (22L, 3L, "d", 3L)
  ).toDF("event_id", "ts", "name", "user_id")

  private def planned = GroupCepPlan.matchGroupPattern(events,
    key = col("user_id"), ts = col("ts"), tie = col("event_id"),
    elems = Seq(
      GLeafSpec("s", col("name") === "c"),
      GGroupSpec(Seq(
        GLeafSpec("a", col("name") === "a"),
        GLeafSpec("b", col("name") === "b")), min = 1, max = 2),
      GLeafSpec("e", col("name") === "d")))

  test("planned group operator matches the library epsilon-NFA result") {
    val got = planned
      .select($"key", $"a_count", $"s_event_id", $"e_event_id")
      .as[(Long, Long, Long, Long)].collect().toSet

    val p = GroupCep.GPattern.begin[(Long, Long, String, Long)]("s")(_._3 == "c")
      .followedBy(GroupCep.GPattern.begin[(Long, Long, String, Long)]("a")(_._3 == "a")
        .followedBy("b")(_._3 == "b")).times(1, 2)
      .followedBy("e")(_._3 == "d")
    val lib = GroupCep.matchBatchGroups(
      events.as[(Long, Long, String, Long)],
      (e: (Long, Long, String, Long)) => e._4,
      (e: (Long, Long, String, Long)) => e._2, p,
      tie = (e: (Long, Long, String, Long)) => e._1) { (u, g) =>
      (u, g("a").size.toLong, g("s").head._1, g("e").head._1)
    }.collect().toSet

    assert(got === lib)
    assert(got === Set((1L, 1L, 1L, 6L), (1L, 2L, 1L, 6L), (2L, 1L, 10L, 13L)))
  }

  test("per-step counts and first-event columns (nulls for empty groups)") {
    val rows = planned.where($"key" === 1L).collect()
    assert(rows.length === 2)
    val twoRep = rows.find(_.getAs[Long]("a_count") == 2L).get
    assert(twoRep.getAs[Long]("b_count") === 2L)
    assert(twoRep.getAs[Long]("a_event_id") === 2L) // first capture of 'a'
    assert(twoRep.getAs[Long]("s_count") === 1L)
    assert(twoRep.getAs[Long]("e_event_id") === 6L)
  }

  test("optional middle group emits zero-count match with null step columns") {
    val df = Seq(
      (1L, 1L, "c", 7L), (2L, 2L, "d", 7L) // s then e, no (a b)
    ).toDF("event_id", "ts", "name", "user_id")
    val got = GroupCepPlan.matchGroupPattern(df,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("s", col("name") === "c"),
        GGroupSpec(Seq(
          GLeafSpec("a", col("name") === "a"),
          GLeafSpec("b", col("name") === "b")), optional = true),
        GLeafSpec("e", col("name") === "d")))
    val row = got.collect().head
    assert(row.getAs[Long]("a_count") === 0L)
    assert(row.isNullAt(row.fieldIndex("a_event_id")))
    assert(row.getAs[Long]("e_event_id") === 2L)
  }

  test("planner inserts exactly one hash shuffle and one sort below GroupCepExec") {
    val df = planned
    df.collect() // materialize the AQE final plan
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("GroupCep user_id"))
    assert(!p.contains("!GroupCep"))
    assert(p.contains("Exchange hashpartitioning(user_id"))
    assert(p.contains("Sort [user_id"))
    assert("Exchange ".r.findAllIn(p).size === 1) // exactly one shuffle
  }

  test("qc8 (planned) agrees with qc7 (library) on sf0.001 events") {
    val got = run("qc8_cep_group_planned").collect().toSeq
    val lib = run("qc7_cep_group_times").collect().toSeq
    assert(got.nonEmpty && got === lib)
  }

  test("until on a quantified group kills in-group branches (planned == library)") {
    // c a a x a d: the until event x kills the branch still looping on a,
    // but the exit forks already waiting on d survive — so d completes
    // a_count 1 and 2, never 3 (which the post-x a would otherwise build)
    val df = Seq(
      (1L, 1L, "c", 1L), (2L, 2L, "a", 1L), (3L, 3L, "a", 1L),
      (4L, 4L, "x", 1L), (5L, 5L, "a", 1L), (6L, 6L, "d", 1L)
    ).toDF("event_id", "ts", "name", "user_id")
    val got = GroupCepPlan.matchGroupPattern(df,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("s", col("name") === "c"),
        GGroupSpec(Seq(GLeafSpec("a", col("name") === "a")),
          min = 1, max = 3, until = Some(col("name") === "x")),
        GLeafSpec("e", col("name") === "d")))
      .select($"key", $"a_count").as[(Long, Long)].collect().toSet

    type T = (Long, Long, String, Long)
    val p = GroupCep.GPattern.begin[T]("s")(_._3 == "c")
      .followedBy(GroupCep.GPattern.begin[T]("a")(_._3 == "a"))
      .times(1, 3).until(_._3 == "x")
      .followedBy("e")(_._3 == "d")
    val lib = GroupCep.matchBatchGroups(df.as[(Long, Long, String, Long)],
      (e: T) => e._4, (e: T) => e._2, p, tie = (e: T) => e._1) {
      (u, g) => (u, g("a").size.toLong)
    }.collect().toSet

    assert(got === lib)
    assert(got === Set((1L, 1L), (1L, 2L)))
  }

  test("notFollowedBy / notNext elements through the planned path (== library)") {
    val df = Seq(
      (1L, 1L, "c", 1L), (2L, 2L, "p", 1L), (3L, 3L, "d", 1L), // killed
      (10L, 1L, "c", 2L), (11L, 2L, "d", 2L), // clean -> match
      // notNext variant data: an ignored event clears the fresh window
      (20L, 1L, "c", 3L), (21L, 2L, "z", 3L), (22L, 3L, "p", 3L),
      (23L, 4L, "d", 3L)
    ).toDF("event_id", "ts", "name", "user_id")

    val follow = GroupCepPlan.matchGroupPattern(df,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("s", col("name") === "c"),
        GNotSpec("!p", col("name") === "p"),
        GLeafSpec("e", col("name") === "d")))
      .select($"key").as[Long].collect().toSet
    // notFollowedBy: any p before d kills — users 1 and 3 die
    assert(follow === Set(2L))

    val nextOnly = GroupCepPlan.matchGroupPattern(df,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("s", col("name") === "c"),
        GNotSpec("!p", col("name") === "p", nextOnly = true),
        GLeafSpec("e", col("name") === "d")))
      .select($"key").as[Long].collect().toSet

    type T = (Long, Long, String, Long)
    val p = GroupCep.GPattern.begin[T]("s")(_._3 == "c")
      .notNext("!p")(_._3 == "p")
      .followedBy("e")(_._3 == "d")
    val lib = GroupCep.matchBatchGroups(df.as[(Long, Long, String, Long)],
      (e: T) => e._4, (e: T) => e._2, p, tie = (e: T) => e._1) {
      (u, _) => u
    }.collect().toSet
    assert(nextOnly === lib)
    // user 1: p immediately follows c -> dies; user 3: z intervenes, the
    // fresh window is over, the later p is irrelevant -> match
    assert(nextOnly === Set(2L, 3L))
  }

  test("a nested group ending (or beginning) with a negation is rejected") {
    // the reference throws MalformedPatternException for a sequence whose
    // last element is notFollowedBy — recursively, not just at top level
    val trailing = intercept[IllegalArgumentException] {
      GroupCepPlan.matchGroupPattern(events,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(
          GLeafSpec("s", col("name") === "c"),
          GGroupSpec(Seq(
            GLeafSpec("a", col("name") === "a"),
            GNotSpec("!p", col("name") === "p")), min = 1, max = 2),
          GLeafSpec("e", col("name") === "d")))
    }
    assert(trailing.getMessage.contains("must be followed"))

    val leading = intercept[IllegalArgumentException] {
      GroupCepPlan.matchGroupPattern(events,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(
          GLeafSpec("s", col("name") === "c"),
          GGroupSpec(Seq(
            GNotSpec("!p", col("name") === "p"),
            GLeafSpec("a", col("name") === "a")), min = 1, max = 2)))
    }
    assert(leading.getMessage.contains("cannot begin"))
  }

  test("arrival identity: value-identical same-timestamp rows are distinct branch states") {
    // two byte-identical 'a' rows at one timestamp under a followedByAny
    // group entry: the reference's SharedBuffer EventId semantics demand
    // TWO matches — which is what the library batch driver (arrival
    // identity) produces; value identity would dedup the branches to one
    val dup = Seq(
      (1L, 1L, "c", 9L), (2L, 2L, "a", 9L), (2L, 2L, "a", 9L),
      (3L, 3L, "b", 9L), (4L, 4L, "d", 9L)
    ).toDF("event_id", "ts", "name", "user_id")
    val got = GroupCepPlan.matchGroupPattern(dup,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(
          GLeafSpec("s", col("name") === "c"),
          GGroupSpec(Seq(
            GLeafSpec("a", col("name") === "a"),
            GLeafSpec("b", col("name") === "b")), any = true),
          GLeafSpec("e", col("name") === "d")))
      .select($"key", $"a_event_id", $"e_event_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.size === 2, s"expected duplicate multiplicity 2, got $got")
    assert(got.toSet === Set((9L, 2L, 4L)))
  }

  test("hot-key diagnostics: GroupCepExec SQL metrics expose match count and hottest-key size") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = planned
    val n = df.collect().length
    def findCep(p: SparkPlan): Seq[GroupCepPlan.GroupCepExec] = p match {
      case a: AdaptiveSparkPlanExec => findCep(a.executedPlan)
      case q: QueryStageExec => findCep(q.plan)
      case c: GroupCepPlan.GroupCepExec => Seq(c)
      case o => o.children.flatMap(findCep)
    }
    val cep = findCep(df.queryExecution.executedPlan)
    assert(cep.size === 1)
    val m = cep.head.metrics
    assert(m("numMatches").value === n)
    // user 1's run is 6 events; the driver value sums per-task maxes
    // (13 events total across 3 keys) — read-the-max semantics
    assert(m("maxKeyEvents").value >= 6L && m("maxKeyEvents").value <= 13L)
    assert(m("maxKeyBranches").value >= 1L)
  }

  test("anchored unquantified pattern is accepted without a selection mode") {
    // ^ s (a b) e $: an UNQUANTIFIED group still completes at most one
    // candidate per start (worked out from the compiled pattern), so the
    // anchors gate without reluctant/sqlGreedy. User 3 starts with a;
    // users 1 and 2 span their whole runs.
    val df = GroupCepPlan.matchGroupPattern(events,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = Seq(
        GLeafSpec("s", col("name") === "c"),
        GGroupSpec(Seq(
          GLeafSpec("a", col("name") === "a"),
          GLeafSpec("b", col("name") === "b"))),
        GLeafSpec("e", col("name") === "d")),
      anchorHead = true, anchorTail = true)
    val got = df.select($"key", $"s_event_id", $"a_event_id", $"e_event_id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L, 6L), (2L, 10L, 11L, 13L)))
    assert(df.queryExecution.executedPlan.toString.contains("GroupCep"))
  }

  test("anchored quantified or followedByAny pattern keeps every candidate") {
    // either shape lets one start complete several candidates; with no
    // selection mode to pick one, the gates keep them all — ^ those the
    // run's first row opened, $ those ending on the run's last row
    val quantified = Seq(
      GLeafSpec("s", col("name") === "c"),
      GGroupSpec(Seq(GLeafSpec("a", col("name") === "a")), min = 1, max = 2),
      GLeafSpec("e", col("name") === "d"))
    val any = Seq(
      GLeafSpec("s", col("name") === "c"),
      GLeafSpec("e", col("name").isin("b", "d"), any = true))
    def run(elems: Seq[GroupCepPlan.GSpec[org.apache.spark.sql.Column]],
        head: Boolean, tail: Boolean, out: String) =
      GroupCepPlan.matchGroupPattern(events,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = elems, anchorHead = head, anchorTail = tail)
        .select($"key", col(out)).as[(Long, Long)].collect().toSeq.sorted
    // user 1 (c a b a b d) completes one and two a's, both on its last
    // row; user 2 (c a b d) one a
    for ((head, tail) <- Seq((true, false), (false, true)))
      assert(run(quantified, head, tail, "a_count") ===
        Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    // followedByAny: every later b or d completes; only d ends the run
    assert(run(any, head = true, tail = false, "e_event_id") ===
      Seq((1L, 3L), (1L, 5L), (1L, 6L), (2L, 12L), (2L, 13L)))
    assert(run(any, head = false, tail = true, "e_event_id") ===
      Seq((1L, 6L), (2L, 13L)))
    // a selection mode still picks among a start's candidates
    GroupCepPlan.matchGroupPattern(events,
      key = col("user_id"), ts = col("ts"), tie = col("event_id"),
      elems = quantified.map {
        case g: GGroupSpec[org.apache.spark.sql.Column] =>
          g.copy(strict = true, consecutive = true)
        case l: GLeafSpec[org.apache.spark.sql.Column] => l.copy(strict = true)
        case o => o
      }, anchorHead = true, sqlGreedy = true)
  }

  test("terminal negation with a non-default skip is rejected by name") {
    val e = intercept[IllegalArgumentException] {
      GroupCepPlan.matchGroupPattern(events,
        key = col("user_id"), ts = col("ts"), tie = col("event_id"),
        elems = Seq(
          GLeafSpec("s", col("name") === "c"),
          GNotSpec("!d", col("name") === "d", nextOnly = true)),
        skip = graft.streaming.Cep.SkipPastLastEvent)
    }
    assert(e.getMessage.contains(
      "terminal negation requires the default NoSkip strategy"), e.getMessage)
  }
}
