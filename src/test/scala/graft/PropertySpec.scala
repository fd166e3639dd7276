package graft

import org.scalacheck.{Gen, Test => SCTest, Prop}

/** Property-based equivalence tests (the layer SURVEY.md §5 notes the
  * reference lacks): engine results vs brute-force Scala computations on
  * random small inputs. ScalaCheck drives the generation; each property
  * runs 30 cases.
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  private val rowsGen: Gen[List[(Int, Long)]] =
    Gen.listOfN(60, Gen.zip(Gen.choose(0, 5), Gen.choose(-100L, 100L)))

  test("groupBy sum/count/min/max match brute force") {
    check(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      val got = df.groupBy($"k")
        .agg(org.apache.spark.sql.functions.sum($"v").as("s"),
          org.apache.spark.sql.functions.count($"v").as("c"),
          org.apache.spark.sql.functions.min($"v").as("mn"),
          org.apache.spark.sql.functions.max($"v").as("mx"))
        .as[(Int, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val exp = rows.groupBy(_._1).map { case (k, vs) =>
        k -> ((vs.map(_._2).sum, vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max))
      }
      got == exp
    })
  }

  test("inner equi-join matches brute-force nested loop") {
    check(Prop.forAll(rowsGen, rowsGen) { (l, r) =>
      val got = l.toDF("k", "a").join(r.toDF("k", "b"), "k")
        .as[(Int, Long, Long)].collect().toList.sorted
      val exp = (for {
        (lk, la) <- l; (rk, rb) <- r if lk == rk
      } yield (lk, la, rb)).sorted
      got == exp
    })
  }

  // Shared as-of property machinery: tiny key/ts ranges force
  // collisions, equal timestamps, and exact boundary gaps; the build
  // side dedups per (key, ts) — the operators' documented determinism
  // contract. Returns (build rows, probe rows, build DF, probe DF).
  private val asofKeyGen = Gen.choose(0, 4)
  private val asofTsGen = Gen.choose(0L, 40L)
  private val asofBuildGen =
    Gen.listOf(Gen.zip(asofKeyGen, asofTsGen, Gen.choose(0L, 100L)))
  private val asofProbeGen = Gen.listOf(Gen.zip(asofKeyGen, asofTsGen))
  private def asofInputs(b0: List[(Int, Long, Long)],
      p0: List[(Int, Long)]) = {
    import org.apache.spark.sql.functions.expr
    val b = b0.groupBy(t => (t._1, t._2)).map(_._2.head).toList
    val p = p0.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
    val bdf = b.toDF("user_id", "tsu", "value")
      .select($"user_id", expr("timestamp_micros(tsu)").as("ts"), $"value")
    val pdf = p.toDF("event_id", "user_id", "tsu")
      .select($"event_id", $"user_id",
        expr("timestamp_micros(tsu)").as("ts"))
    (b, p, bdf, pdf)
  }
  private def asofCollect(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.expr
    df.select($"event_id", expr("unix_micros(asof_ts)"), $"asof_value")
      .as[(Long, Long, Long)].collect().toList.sorted
  }

  test("nearest as-of matches brute force incl. exact ties (backward wins)") {
    import graft.operators.AsofOps
    check(Prop.forAll(asofBuildGen, asofProbeGen) { (b0, p0) =>
      val (b, p, bdf, pdf) = asofInputs(b0, p0)
      val got = asofCollect(
        AsofOps.asofJoinNearest(pdf, bdf, "user_id", "ts", Seq("value")))
      val exp = p.flatMap { case (id, k, t) =>
        val cands = b.filter(_._1 == k)
        if (cands.isEmpty) None
        else {
          val best = cands.minBy { case (_, bt, _) =>
            (math.abs(bt - t), if (bt <= t) 0 else 1) }
          Some((id, best._2, best._3))
        }
      }.sorted
      got == exp
    })
  }

  test("forward as-of matches brute force (earliest at-or-after)") {
    import graft.operators.AsofOps
    check(Prop.forAll(asofBuildGen, asofProbeGen) { (b0, p0) =>
      val (b, p, bdf, pdf) = asofInputs(b0, p0)
      val got = asofCollect(
        AsofOps.asofJoinForward(pdf, bdf, "user_id", "ts", Seq("value")))
      val exp = p.flatMap { case (id, k, t) =>
        val cands = b.filter(x => x._1 == k && x._2 >= t)
        if (cands.isEmpty) None
        else { val m = cands.minBy(_._2); Some((id, m._2, m._3)) }
      }.sorted
      got == exp
    })
  }

  test("tolerance as-of matches brute force (stale matches rejected, not replaced)") {
    import graft.operators.AsofOps
    val tolGen = Gen.choose(0L, 12L)
    check(Prop.forAll(asofBuildGen, asofProbeGen, tolGen) { (b0, p0, tol) =>
      val (b, p, bdf, pdf) = asofInputs(b0, p0)
      val got = asofCollect(AsofOps.asofJoinWithin(pdf, bdf, "user_id",
        "ts", Seq("value"), tol))
      // latest at-or-before, REJECTED (not replaced) if the gap exceeds
      // tol — inclusive boundary
      val exp = p.flatMap { case (id, k, t) =>
        val cands = b.filter(x => x._1 == k && x._2 <= t)
        if (cands.isEmpty) None
        else {
          val m = cands.maxBy(_._2)
          if (t - m._2 <= tol) Some((id, m._2, m._3)) else None
        }
      }.sorted
      got == exp
    })
  }

  test("exceptAll / intersectAll have multiset semantics") {
    val vals = Gen.listOfN(40, Gen.choose(0, 8))
    check(Prop.forAll(vals, vals) { (a, b) =>
      def multi(xs: List[Int]) = xs.groupBy(identity).view.mapValues(_.size).toMap
      val (ma, mb) = (multi(a), multi(b))
      val gotInter = a.toDF("v").intersectAll(b.toDF("v")).as[Int]
        .collect().toList
      val expInter = ma.map { case (k, n) => k -> math.min(n, mb.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      val gotExc = a.toDF("v").exceptAll(b.toDF("v")).as[Int].collect().toList
      val expExc = ma.map { case (k, n) => k -> (n - mb.getOrElse(k, 0)) }
        .filter(_._2 > 0)
      multi(gotInter) == expInter && multi(gotExc) == expExc
    })
  }

  test("CEP relaxed pattern matches brute-force first-occurrence pairing") {
    import graft.streaming.Cep
    val evGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 200L), Gen.oneOf("a", "b", "x")))
    val pattern = Cep.Pattern.begin[(Long, String)]("a")(_._2 == "a")
      .followedBy("b")(_._2 == "b").within(50L)
    check(Prop.forAll(evGen) { evsRaw =>
      // distinct timestamps keep ordering unambiguous
      val evs = evsRaw.distinctBy(_._1).sortBy(_._1)
      val got = Cep.runMatches(pattern, evs.map(e => (e, e._1)))._1
        .map(m => (m(0).head._1, m(1).head._1))
      // brute force: each 'a' pairs with the first 'b' strictly after it
      // and strictly inside the window (NFA.java prunes the partial at
      // timestamp - startTs >= windowTime, so a b exactly at +50 is out)
      val exp = for {
        a <- evs if a._2 == "a"
        b <- evs.find(e => e._2 == "b" && e._1 > a._1 && e._1 - a._1 < 50L)
      } yield (a._1, b._1)
      got.toList.sorted == exp.sorted
    })
  }

  test("group CEP streaming is split-invariant (state-carry property)") {
    // For ANY event sequence, group pattern, after-match skip strategy,
    // and 3-way micro-batch split, the streamed output multiset equals
    // the single-batch output — the invariant that GArrivalState carries
    // the arrival counter, the open branches, AND the skip queue's
    // deferred matches across batch boundaries correctly.
    import graft.streaming.{Cep, GroupCep, VirtualClockHarness}
    import graft.streaming.GroupCep.GPattern
    import org.apache.spark.sql.streaming.GroupStateTimeout
    type E = (String, Long)
    def pat1 = GPattern.begin[E]("s")(_._1 == "c")
      .followedBy(GPattern.begin[E]("m1")(_._1 == "a")
        .followedBy("m2")(_._1 == "b")).times(1, 2)
      .followedBy("e")(_._1 == "d")
    def pat2 = GPattern.begin[E]("s")(_._1 == "c")
      .followedByAny(GPattern.begin[E]("m1")(_._1 == "a")
        .followedBy("m2")(_._1 == "b")).oneOrMore
      .followedBy("e")(_._1 == "d")
    def pat3 = GPattern.begin[E]("s")(_._1 == "c")
      .followedBy("g")(_._1 == "a").oneOrMore.optional.greedy
      .followedBy(GPattern.begin[E]("m1")(_._1 == "b")
        .followedBy("m2")(_._1 == "d"))
    // round 9: alternation forks must also survive any batch split —
    // plain two-branch, and a quantified alternation whose loop crosses
    // branches between repetitions (overlapping branch predicates
    // included: "a" matches both m1 and the m2 branch's prefix)
    def pat4 = GPattern.begin[E]("s")(_._1 == "c")
      .followedBy(Seq(
        GPattern.begin[E]("m1")(_._1 == "a"),
        GPattern.begin[E]("m2")(_._1 == "b")))
      .followedBy("e")(_._1 == "d")
    def pat5 = GPattern.begin[E]("s")(_._1 == "c")
      .next(Seq(
        GPattern.begin[E]("m1")(_._1 == "a").next("g")(_._1 == "b"),
        GPattern.begin[E]("m2")(e => e._1 == "b" || e._1 == "a")))
      .times(1, 2)
      .followedBy("e")(_._1 == "d")
    val pats = Vector(() => pat1, () => pat2, () => pat3, () => pat4,
      () => pat5)
    val skips = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
      Cep.SkipToLast("m1"), Cep.SkipToFirst("m2"))
    val namesGen = Gen.listOfN(24, Gen.oneOf("a", "b", "c", "d", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, 24), Gen.choose(0, 24),
      Gen.choose(0, pats.size - 1), Gen.choose(0, skips.size - 1)) {
      (names, i0, j0, pi, si) =>
        val events = names.zipWithIndex.map { case (n, i) => (n, i.toLong) }
        val (i, j) = (math.min(i0, j0), math.max(i0, j0))
        val fn = GroupCep.matchStreamArrivalFn[Int, E, Seq[Long]](
          pats(pi)(), _._2, _ => 0L, skips(si),
          (_, groups) => groups.values.flatten.map(_._2).toVector)
        def run(chunks: Seq[Seq[E]]): Map[Seq[Long], Int] = {
          val h = new VirtualClockHarness[Int, E,
            GroupCep.GArrivalState[E], Seq[Long]](
            GroupStateTimeout.NoTimeout(), fn)
          chunks.flatMap(c => h.input(0, c: _*))
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        val whole = run(Seq(events))
        val split = run(Seq(events.take(i), events.slice(i, j),
          events.drop(j)))
        whole == split
    })
  }

  test("strict group CEP: exact-vector and span-compressed captures emit identical match sequences") {
    // The capture representation (per-event vector vs run-length
    // SpanCaps) is a pure optimization under strict contiguity — for
    // ANY all-strict pattern, skip strategy, selection mode, and event
    // sequence, both drivers must emit the SAME matches in the SAME
    // order. Covers the branch-heavy shapes: unbounded loops with
    // always-true middles (the greedy qc34 class), group repetition,
    // alternation, greedy/reluctant selection, mixed polarity, within.
    import graft.streaming.{Cep, GroupCep}
    import graft.streaming.GroupCep.GPattern
    type E = (String, Long)
    def pv(s: String) = (e: E) => e._1 == s
    def anyB = (e: E) => e._1 != "d" // wide middle: heavy branch churn
    def p1 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive.next("e")(pv("d"))
    def p2 = GPattern.begin[E]("s")(pv("c"))
      .next(GPattern.begin[E]("m1")(pv("a")).next("m2")(pv("b")))
      .times(1, 2).consecutive.next("e")(pv("d"))
    def p3 = p1.greedySelect
    def p4 = p1.reluctant
    def p5 = GPattern.begin[E]("s")(pv("c"))
      .next(Seq(GPattern.begin[E]("m1")(pv("a")),
        GPattern.begin[E]("m2")(pv("b"))))
      .next("e")(pv("d"))
    def p6 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive
      .next("c")(pv("c")).oneOrMore.consecutive
      .next("e")(pv("d")).greedySelect
    def p7 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive.markReluctant
      .next("c")(pv("c")).oneOrMore.consecutive
      .next("e")(pv("d")).greedySelect
    def p8 = p1.within(6L)
    val pats = Vector(() => p1, () => p2, () => p3, () => p4, () => p5,
      () => p6, () => p7, () => p8)
    val skips = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
      Cep.SkipToFirst("b"), Cep.SkipToLast("b"))
    val namesGen = Gen.listOfN(22, Gen.oneOf("a", "b", "c", "d", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, pats.size - 1),
      Gen.choose(0, skips.size - 1)) { (names, pi, si) =>
      val events: Vector[E] =
        names.zipWithIndex.map { case (n, i) => (n, i.toLong) }.toVector
      def run(spans: Boolean) = GroupCep.runKeyRepForTest[E](
        events, _._2, pats(pi)(), skips(si), useSpans = spans)
      run(spans = false) == run(spans = true)
    })
  }

  test("planned GroupCepExec equals the library batch driver on random strict patterns") {
    // The planned operator and the library batch driver step one key-run
    // driver; drive the vec-vs-span property's all-strict pool through
    // both — every skip strategy, selection mode (none, reluctant,
    // sqlGreedy), with and without `within`, ^/$ anchors where a mode
    // selects — and compare each key's matches in match_number order,
    // step by step: capture count and first captured tag.
    import graft.streaming.{Cep, GroupCep}
    import graft.streaming.GroupCep.GPattern
    import graft.plans.GroupCepPlan
    import graft.plans.GroupCepPlan.{GAltSpec, GGroupSpec, GLeafSpec, GSpec}
    import org.apache.spark.sql.functions.col
    type E = (String, Long)
    def pv(s: String) = (e: E) => e._1 == s
    def anyB = (e: E) => e._1 != "d" // wide middle: heavy branch churn
    def is(s: String) = col("name") === s
    def loop(name: String, pred: org.apache.spark.sql.Column,
        rel: Boolean = false) =
      GGroupSpec(Seq(GLeafSpec(name, pred)), max = Int.MaxValue,
        consecutive = true, strict = true, relMark = rel)
    def last(name: String, s: String) = GLeafSpec(name, is(s), strict = true)
    def p1 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive.next("e")(pv("d"))
    def p6 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive
      .next("c")(pv("c")).oneOrMore.consecutive
    // (planned spec, library pattern, step names, has a quantifier)
    val pool: Vector[(Seq[GSpec], () => GPattern[E], Seq[String], Boolean)] =
      Vector(
        (Seq(GLeafSpec("v", is("a")), loop("b", col("name") =!= "d"),
          last("e", "d")), () => p1, Seq("v", "b", "e"), true),
        (Seq(GLeafSpec("s", is("c")),
          GGroupSpec(Seq(GLeafSpec("m1", is("a")), last("m2", "b")),
            max = 2, consecutive = true, strict = true), last("e", "d")),
          () => GPattern.begin[E]("s")(pv("c"))
            .next(GPattern.begin[E]("m1")(pv("a")).next("m2")(pv("b")))
            .times(1, 2).consecutive.next("e")(pv("d")),
          Seq("s", "m1", "m2", "e"), true),
        (Seq(GLeafSpec("s", is("c")), GAltSpec(Seq(
            Seq(GLeafSpec("m1", is("a"))), Seq(GLeafSpec("m2", is("b")))),
            strict = true), last("e", "d")),
          () => GPattern.begin[E]("s")(pv("c"))
            .next(Seq(GPattern.begin[E]("m1")(pv("a")),
              GPattern.begin[E]("m2")(pv("b"))))
            .next("e")(pv("d")),
          Seq("s", "m1", "m2", "e"), false),
        (Seq(GLeafSpec("v", is("a")), loop("b", col("name") =!= "d"),
          loop("c", is("c")), last("e", "d")),
          () => p6.next("e")(pv("d")), Seq("v", "b", "c", "e"), true),
        (Seq(GLeafSpec("v", is("a")),
          loop("b", col("name") =!= "d", rel = true), loop("c", is("c")),
          last("e", "d")),
          () => GPattern.begin[E]("v")(pv("a"))
            .next("b")(anyB).oneOrMore.consecutive.markReluctant
            .next("c")(pv("c")).oneOrMore.consecutive.next("e")(pv("d")),
          Seq("v", "b", "c", "e"), true))
    val skips = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
      Cep.SkipToFirst("b"), Cep.SkipToLast("b"))
    val keysGen = Gen.listOfN(3,
      Gen.listOfN(22, Gen.oneOf("a", "b", "c", "d", "x")))
    check(Prop.forAll(keysGen, Gen.choose(0, pool.size - 1),
      Gen.choose(0, skips.size - 1), Gen.choose(0, 2), Gen.oneOf(false, true),
      Gen.choose(0, 3)) { (keys, pi, si, sel0, within, anch) =>
      val (spec, pat, steps, selectable) = pool(pi)
      val sel = if (selectable) sel0 else 0
      // anchors need a mode to choose among a start's candidates
      val (head, tail) =
        if (sel == 0) (false, false) else (anch % 2 == 1, anch >= 2)
      var gp = pat()
      if (within) gp = gp.within(6L)
      if (sel == 1) gp = gp.reluctant
      if (sel == 2) gp = gp.greedySelect
      val library = keys.indices.map { k =>
        val events = keys(k).zipWithIndex
          .map { case (n, i) => (n, i.toLong) }.toVector
        GroupCep.runKeyEvents[E, Seq[(Long, Option[Long])]](events, _._2,
          gp, skips(si), head, tail)(g =>
          steps.map(n => (g(n).size.toLong, g(n).headOption.map(_._2))))
      }
      val df = keys.zipWithIndex.flatMap { case (ns, k) =>
        ns.zipWithIndex.map { case (n, i) => (k, n, i.toLong) }
      }.toDF("k", "name", "ts")
      val planned = GroupCepPlan.matchGroupPattern(df, col("k"), col("ts"),
        col("ts"), spec, if (within) Some(6L) else None,
        reluctant = sel == 1, anchorHead = head, anchorTail = tail,
        skip = skips(si), sqlGreedy = sel == 2).collect()
        .groupBy(_.getAs[Int]("key")).map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Long]("match_number")).toSeq.map(r =>
            steps.map(n => (r.getAs[Long](s"${n}_count"),
              Option(r.getAs[java.lang.Long](s"${n}_ts")).map(_.longValue))))
        }
      keys.indices.forall(k =>
        library(k) == planned.getOrElse(k, Seq.empty))
    })
  }

  test("default-mode anchored planned run equals the boundary filter of the unanchored library run") {
    // With no selection mode the ^/$ gates keep EVERY candidate the
    // boundary admits: ^ those opened by the key run's first row, $ those
    // ending on its last. The reference is the unanchored library run,
    // filtered on the captured tags, in its emission order. Overlapping
    // alternation branches and loop/exit ambiguity let one start
    // complete several candidates on the same last row.
    import graft.streaming.GroupCep
    import graft.streaming.GroupCep.GPattern
    import graft.plans.GroupCepPlan
    import graft.plans.GroupCepPlan.{GAltSpec, GGroupSpec, GLeafSpec, GSpec}
    import org.apache.spark.sql.functions.col
    type E = (String, Long)
    def pv(ns: String*) = (e: E) => ns.contains(e._1)
    def is(ns: String*) = col("name").isin(ns: _*)
    def leaf(n: String, ns: String*) = GLeafSpec(n, is(ns: _*), strict = true)
    def loop(inner: Seq[GSpec], min: Int = 1, max: Int = Int.MaxValue,
        optional: Boolean = false) =
      GGroupSpec(inner, min, max, optional = optional, consecutive = true,
        strict = true)
    // (planned spec, library pattern, step names)
    val pool: Vector[(Seq[GSpec], () => GPattern[E], Seq[String])] = Vector(
      // a (m1|m2)+ : c matches both branches
      (Seq(leaf("v", "a"), loop(Seq(GAltSpec(Seq(Seq(leaf("m1", "b", "c")),
          Seq(leaf("m2", "c", "x"))), strict = true)))),
        () => GPattern.begin[E]("v")(pv("a"))
          .next(Seq(GPattern.begin[E]("m1")(pv("b", "c")),
            GPattern.begin[E]("m2")(pv("c", "x")))).oneOrMore.consecutive,
        Seq("v", "m1", "m2")),
      // a b+ : one candidate per length
      (Seq(leaf("v", "a"), loop(Seq(GLeafSpec("b", !is("a"))))),
        () => GPattern.begin[E]("v")(pv("a"))
          .next("b")(e => e._1 != "a").oneOrMore.consecutive,
        Seq("v", "b")),
      // (a b | a) b* : "a b" splits two ways on the same rows
      (Seq(GAltSpec(Seq(Seq(leaf("p", "a"), leaf("q", "b")),
          Seq(leaf("r", "a"))), strict = true),
        loop(Seq(GLeafSpec("t", is("b"))), optional = true)),
        () => GPattern.begin[E](Seq(
            GPattern.begin[E]("p")(pv("a")).next("q")(pv("b")),
            GPattern.begin[E]("r")(pv("a"))))
          .next("t")(pv("b")).oneOrMore.consecutive.optional,
        Seq("p", "q", "r", "t")),
      // c (a|b){1,2} d? with a trailing optional
      (Seq(leaf("s", "c"), loop(Seq(GAltSpec(Seq(Seq(leaf("m1", "a")),
          Seq(leaf("m2", "a", "b"))), strict = true)), max = 2),
        loop(Seq(GLeafSpec("e", is("d"))), max = 1, optional = true)),
        () => GPattern.begin[E]("s")(pv("c"))
          .next(Seq(GPattern.begin[E]("m1")(pv("a")),
            GPattern.begin[E]("m2")(pv("a", "b")))).times(1, 2).consecutive
          .next("e")(pv("d")).optional,
        Seq("s", "m1", "m2", "e")))
    val keysGen = Gen.listOfN(3,
      Gen.choose(1, 10).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "x"))))
    check(Prop.forAll(keysGen, Gen.choose(0, pool.size - 1),
      Gen.choose(1, 3)) { (keys, pi, anch) =>
      val (spec, pat, steps) = pool(pi)
      val (head, tail) = (anch % 2 == 1, anch >= 2)
      val library = keys.map { names =>
        val events = names.zipWithIndex
          .map { case (n, i) => (n, i.toLong) }.toVector
        GroupCep.runKeyEvents[E, (Seq[(Long, Option[Long])], Long, Long)](
          events, _._2, pat())(g => (
            steps.map(n => (g(n).size.toLong, g(n).headOption.map(_._2))),
            g.values.flatten.map(_._2).min, g.values.flatten.map(_._2).max))
          .collect { case (m, first, last)
            if (!head || first == 0L) && (!tail || last == names.size - 1) =>
            m
          }
      }
      val df = keys.zipWithIndex.flatMap { case (ns, k) =>
        ns.zipWithIndex.map { case (n, i) => (k, n, i.toLong) }
      }.toDF("k", "name", "ts")
      val planned = GroupCepPlan.matchGroupPattern(df, col("k"), col("ts"),
        col("ts"), spec, anchorHead = head, anchorTail = tail).collect()
        .groupBy(_.getAs[Int]("key")).map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Long]("match_number")).toSeq.map(r =>
            steps.map(n => (r.getAs[Long](s"${n}_count"),
              Option(r.getAs[java.lang.Long](s"${n}_ts")).map(_.longValue))))
        }
      Prop(keys.indices.forall(k =>
        library(k) == planned.getOrElse(k, Seq.empty))) :|
        s"pattern $pi head=$head tail=$tail keys=$keys\n" +
          s"library=$library\nplanned=$planned"
    })
  }

  test("group CEP: per-event branch dedup forced on vs skipped is a no-op for eligible patterns") {
    // ADVICE r13: noEpsilonDup skips the per-event outConfs dedup on a
    // structural argument (arrival-tagged, no alternation forks, no
    // optional/min-0 entries, no TillAny). Drive ELIGIBLE patterns with
    // the pass FORCED ON vs skipped — across both capture
    // representations — and assert identical match sequences: if the
    // precondition ever under-approximates, the runs diverge here
    // instead of surfacing indirectly through a SQL oracle.
    import graft.streaming.{Cep, GroupCep}
    import graft.streaming.GroupCep.GPattern
    type E = (String, Long)
    def pv(s: String) = (e: E) => e._1 == s
    def anyB = (e: E) => e._1 != "d" // wide middle: heavy branch churn
    def p1 = GPattern.begin[E]("v")(pv("a"))
      .next("b")(anyB).oneOrMore.consecutive.next("e")(pv("d"))
    def p2 = GPattern.begin[E]("s")(pv("c"))
      .next(GPattern.begin[E]("m1")(pv("a")).next("m2")(pv("b")))
      .times(1, 2).consecutive.next("e")(pv("d"))
    def p3 = p1.greedySelect
    def p4 = p1.reluctant
    def p5 = p1.within(6L)
    val pats = Vector(() => p1, () => p2, () => p3, () => p4, () => p5)
    // every driven pattern must actually take the skip being tested
    pats.foreach(p => assert(GroupCep.noEpsilonDupForTest(p()),
      "pattern not eligible for the dedup skip — property is vacuous"))
    val skips = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
      Cep.SkipToFirst("b"), Cep.SkipToLast("b"))
    val namesGen = Gen.listOfN(22, Gen.oneOf("a", "b", "c", "d", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, pats.size - 1),
      Gen.choose(0, skips.size - 1)) { (names, pi, si) =>
      val events: Vector[E] =
        names.zipWithIndex.map { case (n, i) => (n, i.toLong) }.toVector
      def run(spans: Boolean, dedup: Boolean) =
        GroupCep.runKeyRepForTest[E](events, _._2, pats(pi)(), skips(si),
          useSpans = spans, forceDedup = dedup)
      val base = run(spans = false, dedup = false)
      base == run(spans = false, dedup = true) &&
        base == run(spans = true, dedup = true)
    })
  }

  test("DSL CEP streaming is split-invariant (arrival counter + skip queue + negation gate)") {
    // the flink-cep DSL twin (Cep.Pattern compiled onto GroupCep); split
    // points also land INSIDE same-value duplicate runs
    import graft.streaming.{Cep, GroupCep, VirtualClockHarness}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    type E = (String, Long)
    def pat1 = Cep.Pattern.begin[E]("a")(_._1 == "a")
      .followedBy("b")(_._1 == "b").oneOrMore.relaxed.allPrefixes
      .followedBy("d")(_._1 == "d")
    def pat2 = Cep.Pattern.begin[E]("a")(_._1 == "a")
      .followedByAny("b")(_._1 == "b")
      .followedBy("d")(_._1 == "d")
    val pats = Vector(() => pat1, () => pat2)
    val skips = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
      Cep.SkipToLast("b"), Cep.SkipToFirst("b"))
    val namesGen = Gen.listOfN(20, Gen.oneOf("a", "b", "d", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, 20), Gen.choose(0, 20),
      Gen.choose(0, pats.size - 1), Gen.choose(0, skips.size - 1)) {
      (names, i0, j0, pi, si) =>
        // duplicate ts in pairs so batch boundaries can split same-ts
        // duplicates (the arrival-identity stress)
        val events = names.zipWithIndex.map { case (n, i) =>
          (n, (i / 2).toLong)
        }
        val (i, j) = (math.min(i0, j0), math.max(i0, j0))
        val fn = Cep.matchStreamGroupsFn[Int, E, Seq[Long]](
          pats(pi)(), _._2, skips(si), _ => 0L,
          (_, groups) => groups.values.flatten.map(_._2).toVector)
        def run(chunks: Seq[Seq[E]]): Map[Seq[Long], Int] = {
          val h = new VirtualClockHarness[Int, E,
            GroupCep.GArrivalState[E], Seq[Long]](
            GroupStateTimeout.NoTimeout(), fn)
          chunks.flatMap(c => h.input(0, c: _*))
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        val whole = run(Seq(events))
        val split = run(Seq(events.take(i), events.slice(i, j),
          events.drop(j)))
        whole == split
    })
  }

  test("reluctant CEP streaming is split-invariant (shortest-per-start kill carries in state)") {
    // round 10: the single-reluctant-quantifier contract — the shortest
    // completion per start is THE match; any 3-way micro-batch split must
    // yield the single-batch multiset (in particular, a split between the
    // short completion and where a longer sibling would complete must
    // not resurrect the killed branch)
    import graft.streaming.{Cep, GroupCep, VirtualClockHarness}
    import graft.streaming.GroupCep.GPattern
    import org.apache.spark.sql.streaming.GroupStateTimeout
    type E = (String, Long)
    // the flat MATCH_RECOGNIZE shapes `v b+? e`, `v b{1,3}? e`, `v b?? e`
    def flat1 = GPattern.begin[E]("v")(_._1 == "v")
      .next("b")(_ => true).oneOrMore.consecutive
      .next("e")(_._1 == "e")
      .reluctant
    def flat2 = GPattern.begin[E]("v")(_._1 == "v")
      .next("b")(t => t._1 == "b" || t._1 == "e").times(1, 3).consecutive
      .next("e")(_._1 == "e")
      .reluctant
    def flat3 = GPattern.begin[E]("v")(_._1 == "v")
      .next("b")(_._1 == "b").optional
      .next("e")(t => t._1 == "b" || t._1 == "e")
      .reluctant
    val flats = Vector(() => flat1, () => flat2, () => flat3)
    def gpat = GPattern.begin[E]("v")(_._1 == "v")
      .next(GPattern.begin[E]("a")(t => t._1 == "b" || t._1 == "e")
        .next("b")(_ => true)).oneOrMore.consecutive
      .next("e")(_._1 == "e")
      .reluctant
    // round 10: reluctant × ALTERNATION defers per-start selection
    // (candidates buffered in GArrivalState.pendingSel until their open
    // branches resolve) — the deferral itself must be split-invariant,
    // including a split landing between a less-preferred completion and
    // the preferred branch's later completion. Overlapping branch
    // predicates ("b" matches both) force real preference decisions.
    def gpatAlt = GPattern.begin[E]("v")(_._1 == "v")
      .next(Seq(
        GPattern.begin[E]("a1")(_._1 == "b").next("a2")(_._1 == "b"),
        GPattern.begin[E]("b1")(t => t._1 == "b" || t._1 == "e")))
      .times(1, 2)
      .next("e")(_._1 == "e")
      .reluctant
    val namesGen = Gen.listOfN(20, Gen.oneOf("v", "b", "e", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, 20), Gen.choose(0, 20),
      Gen.choose(0, flats.size - 1), Gen.choose(0, 3)) {
      (names, i0, j0, pi, ski) =>
        val events = names.zipWithIndex.map { case (n, i) =>
          (n, (i / 2).toLong)
        }
        val (i, j) = (math.min(i0, j0), math.max(i0, j0))
        def runG(p: GroupCep.GPattern[E], gskip: Cep.AfterMatchSkip)(
            chunks: Seq[Seq[E]]): Map[Seq[Long], Int] = {
          val gfn = GroupCep.matchStreamArrivalFn[Int, E, Seq[Long]](
            p, _._2, _ => 0L, gskip,
            (_, groups) => groups.values.flatten.map(_._2).toVector)
          val h = new VirtualClockHarness[Int, E,
            GroupCep.GArrivalState[E], Seq[Long]](
            GroupStateTimeout.NoTimeout(), gfn)
          chunks.flatMap(c => h.input(0, c: _*))
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        def splitInvariant(p: GroupCep.GPattern[E],
            gskip: Cep.AfterMatchSkip): Boolean =
          runG(p, gskip)(Seq(events)) == runG(p, gskip)(Seq(events.take(i),
            events.slice(i, j), events.drop(j)))
        // round 10: reluctant composes with AFTER MATCH SKIP — the
        // resolver+queue pendings must BOTH survive any split, under
        // both the immediate (flat, gpat) and deferred (gpatAlt)
        // selection; the skip is its OWN generator so every
        // (strategy, cut) combination is reachable
        val gskip = Vector(Cep.NoSkip, Cep.SkipPastLastEvent,
          Cep.SkipToFirst("e"), Cep.SkipToLast("v"))(ski)
        splitInvariant(flats(pi)(), gskip) && splitInvariant(gpat, gskip) &&
          splitInvariant(gpatAlt, gskip)
    })
  }

  test("flat MATCH_RECOGNIZE clauses equal the linear DSL pattern (SQL-vs-DSL differential)") {
    // Every batch MATCH_RECOGNIZE clause plans onto GroupCepExec; the
    // DSL runs the library batch driver. Random flat clauses (2-4
    // variables, every quantifier form, all four AFTER MATCH
    // strategies, overlapping DEFINEs over a 3-letter alphabet) must
    // answer exactly what the linear DSL pattern of the same shape
    // answers — `next` between elements, consecutive repetitions, the
    // builder the clause surface used before it moved onto GroupCep.
    // Shapes the linear `validated` rejects (a greedy loop followed only
    // by optional elements) have no reference answer and are discarded.
    import graft.streaming.{Cep, MatchRecognize}
    import org.apache.spark.sql.Encoders
    type Ev = (Long, Long, String, Long) // (event_id, ts, type, user_id)
    val alphabet = Vector("a", "b", "c")
    val quants = Vector("", "?", "*", "+", "{2}", "{2,}", "{1,3}", "{0,2}")
    val skips = Vector("PAST LAST ROW", "TO NEXT ROW", "TO FIRST", "TO LAST")
    final case class Clause(quants: Vector[String], defs: Vector[Set[String]],
        skip: Int, target: Int)
    val clauseGen = for {
      n <- Gen.choose(2, 4)
      qs <- Gen.listOfN(n, Gen.oneOf(quants))
      defs <- Gen.listOfN(n, Gen.atLeastOne(alphabet).map(_.toSet))
      si <- Gen.choose(0, skips.size - 1)
      target <- Gen.choose(0, n - 1)
    } yield Clause(qs.toVector, defs.toVector, si, target)
    val eventsGen = Gen.listOfN(16,
      Gen.zip(Gen.oneOf(alphabet), Gen.choose(1L, 2L)))
    def name(i: Int) = s"P$i"
    def fmt(v: Any): String = if (v == null) "n" else v.toString
    check(Prop.forAll(clauseGen, eventsGen) { (cl, evs) =>
      val n = cl.quants.size
      // spelled out: encoders need a TypeTag, which a local alias lacks
      val rows: Seq[(Long, Long, String, Long)] =
        evs.zipWithIndex.map { case ((t, u), i) =>
          (i.toLong, i.toLong * 10, t, u)
        }
      val skip: Cep.AfterMatchSkip = cl.skip match {
        case 0 => Cep.SkipPastLastEvent
        case 1 => Cep.NoSkip
        case 2 => Cep.SkipToFirst(name(cl.target))
        case _ => Cep.SkipToLast(name(cl.target))
      }
      // the linear DSL pattern of the clause's shape
      var pat: Cep.Pattern[Ev] = null
      (0 until n).foreach { i =>
        val d = cl.defs(i)
        val pred = (e: Ev) => d(e._3)
        pat = if (pat == null) Cep.Pattern.begin[Ev](name(i))(pred)
              else pat.next(name(i))(pred)
        cl.quants(i) match {
          case "" => ()
          case "?" => pat = pat.optional
          case "*" => pat = pat.oneOrMore.optional
          case "+" => pat = pat.oneOrMore
          case "{2}" => pat = pat.times(2)
          case "{2,}" => pat = pat.timesOrMore(2)
          case "{1,3}" => pat = pat.times(1, 3)
          case "{0,2}" => pat = pat.times(0, 2)
        }
      }
      val ds = rows.toDS()
      // a per-key MATCH_NUMBER() in emission order, as the clause
      // surface numbers its matches
      var lastKey = -1L; var mn = 0L
      val dsl = scala.util.Try(Cep.matchBatchGroups[Long, Ev, String](ds,
        (e: Ev) => e._4, (e: Ev) => e._2, pat, skip,
        tie = (e: Ev) => e._1) { (k, g) =>
          if (k != lastKey) { lastKey = k; mn = 0L }
          mn += 1
          val ids = (0 until n).map(i => g.getOrElse(name(i), Seq.empty)
            .map(_._1))
          def opt(o: Option[Long]) = o.map(_.toString).getOrElse("n")
          (Seq(k.toString, mn.toString,
            opt(if (ids(0).isEmpty) None else Some(ids(0).sum))) ++
            ids.flatMap(v => Seq(v.size.toString, opt(v.headOption),
              opt(v.lastOption)))).mkString("|")
        }(Encoders.STRING, Encoders.scalaLong))
      dsl match {
        case scala.util.Failure(_: IllegalArgumentException) =>
          Prop.undecided // no linear reference answer for this shape
        case scala.util.Failure(other) => throw other
        case scala.util.Success(dslOut) =>
          val measures = (Seq("MATCH_NUMBER() AS mn",
            // SUM is not in the operator's block: the clause reads the
            // operator's captured rows through the row-level evaluator
            s"SUM(${name(0)}.event_id) AS s") ++
            (0 until n).flatMap(i => Seq(s"COUNT(${name(i)}.*) AS c$i",
              s"FIRST(${name(i)}.event_id) AS f$i",
              s"LAST(${name(i)}.event_id) AS l$i"))).mkString(", ")
          val skipSql = cl.skip match {
            case 2 | 3 => s"${skips(cl.skip)} ${name(cl.target)}"
            case _ => skips(cl.skip)
          }
          val pattern = (0 until n).map(i => name(i) + cl.quants(i))
            .mkString(" ")
          val defines = (0 until n).map(i =>
            s"${name(i)} AS event_type IN (" +
              cl.defs(i).toSeq.sorted.map(t => s"'$t'").mkString(", ") + ")")
            .mkString(", ")
          val mr = MatchRecognize(
            rows.toDF("event_id", "ts", "event_type", "user_id"),
            s"""PARTITION BY user_id
               |ORDER BY ts, event_id
               |MEASURES $measures
               |AFTER MATCH SKIP $skipSql
               |PATTERN ($pattern)
               |DEFINE $defines""".stripMargin)
          val planned = mr.queryExecution.executedPlan.toString
            .contains("- GroupCep ")
          val sql = mr.collect().map(r =>
            (0 until r.length).map(i => fmt(r.get(i))).mkString("|"))
            .toSeq.sorted
          val ref = dslOut.collect().toSeq.sorted
          Prop(planned && sql == ref) :| s"pattern ($pattern) " +
            s"skip $skipSql defines $defines planned=$planned\n" +
            s"sql=$sql\nref=$ref\nrows=$rows"
      }
    })
  }

  test("multi-quantifier reluctant equals the brute-force rn-lattice " +
      "lexicographic minimum, and is split-invariant (round 11)") {
    // Independent oracle: enumerate EVERY strict-adjacency split of
    // every (start, end) pair into B^nb C^nc (and D^nd), keep the
    // predicate-satisfying ones, rank (nb, nc[, nd]) lexicographically
    // — the SQL:2016 preference for sibling reluctant quantifiers with
    // declaration-ordered decision points. The engine must emit exactly
    // the per-start minimum, in one batch AND across any 2-way split.
    import graft.streaming.{Cep, GroupCep, VirtualClockHarness}
    import graft.streaming.GroupCep.GPattern
    import org.apache.spark.sql.streaming.GroupStateTimeout
    type E = (String, Long)
    val bPreds: Vector[(String, E => Boolean)] = Vector(
      ("any", _ => true), ("notE", _._1 != "e"), ("isB", _._1 == "b"))
    val cPreds: Vector[(String, E => Boolean)] = Vector(
      ("isC", _._1 == "c"), ("bOrC", t => t._1 == "b" || t._1 == "c"),
      ("notV", _._1 != "v"))
    def pat2(b: E => Boolean, c: E => Boolean) =
      GPattern.begin[E]("v")(_._1 == "v")
        .next(GPattern.begin[E]("b")(b)).oneOrMore.consecutive
        .next(GPattern.begin[E]("c")(c)).oneOrMore.consecutive
        .next("e")(_._1 == "e")
        .reluctant
    def brute2(ev: Vector[E], b: E => Boolean, c: E => Boolean)
        : Map[(Long, Long, Int, Int), Int] = {
      val n = ev.length
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Int)]
      for (i <- 0 until n if ev(i)._1 == "v") {
        val cands = for {
          j <- i + 3 until n + 1; jj = j - 1
          if ev(jj)._1 == "e"
          m <- i + 1 until jj // B = i+1..m, C = m+1..jj-1
          if (i + 1 to m).forall(k => b(ev(k)))
          if (m + 1 until jj).nonEmpty
          if (m + 1 until jj).forall(k => c(ev(k)))
        } yield (ev(i)._2, ev(jj)._2, m - i, jj - 1 - m)
        if (cands.nonEmpty)
          out += cands.minBy(t => (t._3, t._4))
      }
      out.groupBy(identity).view.mapValues(_.size).toMap
    }
    val namesGen = Gen.listOfN(16, Gen.oneOf("v", "b", "c", "e", "x"))
    check(Prop.forAll(namesGen, Gen.choose(0, 16),
      Gen.choose(0, bPreds.size - 1), Gen.choose(0, cPreds.size - 1)) {
      (names, cut, bi, ci) =>
        val ev = names.zipWithIndex
          .map { case (nm, i) => (nm, i.toLong) }.toVector
        val (b, c) = (bPreds(bi)._2, cPreds(ci)._2)
        def runChunks(chunks: Seq[Seq[E]]): Map[(Long, Long, Int, Int), Int] = {
          val gfn = GroupCep.matchStreamArrivalFn[Int, E,
            (Long, Long, Int, Int)](
            pat2(b, c), _._2, _ => 0L, Cep.NoSkip,
            (_, groups) => (groups("v").head._2, groups("e").head._2,
              groups("b").size, groups("c").size))
          val h = new VirtualClockHarness[Int, E,
            GroupCep.GArrivalState[E], (Long, Long, Int, Int)](
            GroupStateTimeout.NoTimeout(), gfn)
          chunks.flatMap(ch => h.input(0, ch: _*))
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        val expected = brute2(ev, b, c)
        val whole = runChunks(Seq(ev))
        val split = runChunks(Seq(ev.take(cut), ev.drop(cut)))
        whole == expected && split == expected
    })
    // ALTERNATION × multiple quantifiers (round-11 late): V (K|N) B+? D+?
    // E — the brute ranking is (branchIdx, nb, nd) lexicographic: the
    // leftmost branch DOMINATES the loop counts (both branches may match
    // the same event), then fewest B, then fewest D
    def patAlt(k: E => Boolean, d: E => Boolean) =
      GPattern.begin[E]("v")(_._1 == "v")
        .next(Seq(GPattern.begin[E]("k")(k),
          GPattern.begin[E]("n")(_ => true)))
        .next(GPattern.begin[E]("b")(_ => true)).oneOrMore.consecutive
        .next(GPattern.begin[E]("d")(d)).oneOrMore.consecutive
        .next("e")(_._1 == "e")
        .reluctant
    def bruteAlt(ev: Vector[E], k: E => Boolean, d: E => Boolean)
        : Map[(Long, Long, Int, Int, Int), Int] = {
      val n = ev.length
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Int, Int)]
      for (i <- 0 until n if ev(i)._1 == "v" && i + 1 < n) {
        val branches =
          (if (k(ev(i + 1))) Seq(0) else Seq.empty) :+ 1 // N always matches
        val cands = for {
          br <- branches
          j <- i + 4 until n + 1; jj = j - 1
          if ev(jj)._1 == "e"
          m <- i + 2 until jj
          if (m + 1 until jj).nonEmpty
          if (m + 1 until jj).forall(x => d(ev(x)))
        } yield (br, ev(i)._2, ev(jj)._2, m - i - 1, jj - 1 - m)
        if (cands.nonEmpty) {
          val w = cands.minBy(t => (t._1, t._4, t._5))
          out += ((w._2, w._3, if (w._1 == 0) 1 else 0, w._4, w._5))
        }
      }
      out.groupBy(identity).view.mapValues(_.size).toMap
    }
    val kPreds: Vector[E => Boolean] = Vector(
      _._1 == "c", t => t._1 == "c" || t._1 == "b", _._1 != "v")
    check(Prop.forAll(namesGen, Gen.choose(0, 16),
      Gen.choose(0, kPreds.size - 1), Gen.choose(0, cPreds.size - 1)) {
      (names, cut, ki, di) =>
        val ev = names.zipWithIndex
          .map { case (nm, i) => (nm, i.toLong) }.toVector
        val (k, d) = (kPreds(ki), cPreds(di)._2)
        // BATCH run (end-of-input flushes the deferred resolver) vs the
        // brute lattice — on a still-open stream the deferral correctly
        // withholds starts whose branches remain live, so the oracle
        // comparison is a batch-semantics statement
        val batch = GroupCep.runKeyEvents[E, (Long, Long, Int, Int, Int)](
            ev, _._2, patAlt(k, d))(groups =>
            (groups("v").head._2, groups("e").head._2,
              groups("k").size, groups("b").size, groups("d").size))
          .groupBy(identity).view.mapValues(_.size).toMap
        // streaming split-invariance: whatever a still-open stream HAS
        // released must not depend on the micro-batch cut
        def runChunks(chunks: Seq[Seq[E]])
            : Map[(Long, Long, Int, Int, Int), Int] = {
          val gfn = GroupCep.matchStreamArrivalFn[Int, E,
            (Long, Long, Int, Int, Int)](
            patAlt(k, d), _._2, _ => 0L, Cep.NoSkip,
            (_, groups) => (groups("v").head._2, groups("e").head._2,
              groups("k").size, groups("b").size, groups("d").size))
          val h = new VirtualClockHarness[Int, E,
            GroupCep.GArrivalState[E], (Long, Long, Int, Int, Int)](
            GroupStateTimeout.NoTimeout(), gfn)
          chunks.flatMap(ch => h.input(0, ch: _*))
            .groupBy(identity).view.mapValues(_.size).toMap
        }
        val expected = bruteAlt(ev, k, d)
        val whole = runChunks(Seq(ev))
        val split = runChunks(Seq(ev.take(cut), ev.drop(cut)))
        batch == expected && whole == split
    })
    // SQL-GREEDY selection (round-11 late): same alternation shape with
    // all-greedy polarity — the brute ranking flips to (branch, -nb,
    // -nd): leftmost branch still dominates, then MAXIMAL B, then
    // maximal D (one match per start, the lexicographic maximum)
    def patAltG(k: E => Boolean, d: E => Boolean) =
      GPattern.begin[E]("v")(_._1 == "v")
        .next(Seq(GPattern.begin[E]("k")(k),
          GPattern.begin[E]("n")(_ => true)))
        .next(GPattern.begin[E]("b")(_ => true)).oneOrMore.consecutive
        .next(GPattern.begin[E]("d")(d)).oneOrMore.consecutive
        .next("e")(_._1 == "e")
        .greedySelect
    def bruteAltG(ev: Vector[E], k: E => Boolean, d: E => Boolean)
        : Map[(Long, Long, Int, Int, Int), Int] = {
      val n = ev.length
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Int, Int, Int)]
      for (i <- 0 until n if ev(i)._1 == "v" && i + 1 < n) {
        val branches =
          (if (k(ev(i + 1))) Seq(0) else Seq.empty) :+ 1
        val cands = for {
          br <- branches
          j <- i + 4 until n + 1; jj = j - 1
          if ev(jj)._1 == "e"
          m <- i + 2 until jj
          if (m + 1 until jj).nonEmpty
          if (m + 1 until jj).forall(x => d(ev(x)))
        } yield (br, ev(i)._2, ev(jj)._2, m - i - 1, jj - 1 - m)
        if (cands.nonEmpty) {
          val w = cands.minBy(t => (t._1, -t._4, -t._5))
          out += ((w._2, w._3, if (w._1 == 0) 1 else 0, w._4, w._5))
        }
      }
      out.groupBy(identity).view.mapValues(_.size).toMap
    }
    check(Prop.forAll(namesGen,
      Gen.choose(0, kPreds.size - 1), Gen.choose(0, cPreds.size - 1)) {
      (names, ki, di) =>
        val ev = names.zipWithIndex
          .map { case (nm, i) => (nm, i.toLong) }.toVector
        val (k, d) = (kPreds(ki), cPreds(di)._2)
        val batch = GroupCep.runKeyEvents[E, (Long, Long, Int, Int, Int)](
            ev, _._2, patAltG(k, d))(groups =>
            (groups("v").head._2, groups("e").head._2,
              groups("k").size, groups("b").size, groups("d").size))
          .groupBy(identity).view.mapValues(_.size).toMap
        batch == bruteAltG(ev, k, d)
    })
  }

  test("sketch merges are a commutative monoid on random streams (CMS + reservoir)") {
    // the algebra the 100 TB rollup relies on: any merge tree over any
    // partitioning of the stream yields the identical sketch
    val cms = new graft.functions.Udafs.CmsStrAgg()
    val rsv = new graft.functions.Udafs.ReservoirAgg()
    val wordsGen = Gen.listOfN(120, Gen.oneOf(
      (0 until 25).map(i => s"w$i")))
    val cutsGen = Gen.zip(Gen.choose(0, 120), Gen.choose(0, 120))
    check(Prop.forAll(wordsGen, cutsGen) { case (ws, (c1r, c2r)) =>
      val Seq(i, j) = Seq(c1r, c2r).sorted
      val (a, rest) = ws.splitAt(i)
      val (b, c) = rest.splitAt(j - i)
      def cmsOf(part: Seq[String]) =
        part.foldLeft(cms.zero)((acc, w) => cms.reduce(acc, w))
      def rsvOf(part: Seq[String]) =
        part.foldLeft(rsv.zero)((acc, w) => rsv.reduce(acc, w))
      val whole = cmsOf(ws).toSeq
      val leftTree = cms.merge(cms.merge(cmsOf(a), cmsOf(b)), cmsOf(c)).toSeq
      val rightTree = cms.merge(cmsOf(a),
        cms.merge(cmsOf(b), cmsOf(c))).toSeq
      val rWhole = rsv.finish(rsvOf(ws)).toSeq
      val rLeft = rsv.finish(
        rsv.merge(rsv.merge(rsvOf(a), rsvOf(b)), rsvOf(c))).toSeq
      val rSwapped = rsv.finish(
        rsv.merge(rsvOf(c), rsv.merge(rsvOf(b), rsvOf(a)))).toSeq
      whole == leftTree && whole == rightTree &&
        rWhole == rLeft && rWhole == rSwapped
    })
  }

  test("window running sum equals prefix sums") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    check(Prop.forAll(rowsGen) { rows =>
      val indexed = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
      val w = Window.partitionBy($"k").orderBy($"i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val got = indexed.toDF("k", "v", "i")
        .select($"k", $"i", sum($"v").over(w).as("rs"))
        .as[(Int, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val exp = indexed.groupBy(_._1).flatMap { case (k, vs) =>
        val sorted = vs.sortBy(_._3)
        sorted.zip(sorted.scanLeft(0L)(_ + _._2).tail)
          .map { case ((_, _, i), rs) => (k, i) -> rs }
      }
      got == exp
    })
  }

  test("packStream is split-invariant for in-order arrivals " +
      "(offset state-carry property)") {
    // For ids arriving in increasing order, ANY contiguous 3-way
    // micro-batch split yields the same per-key offsets as one batch —
    // the cumulative counter in keyed state composes exactly.
    import graft.streaming.{StreamOps, VirtualClockHarness}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val rowsG = Gen.listOfN(40,
      Gen.zip(Gen.choose(0, 2), Gen.choose(1L, 9L)))
    check(Prop.forAll(rowsG, Gen.choose(0, 40), Gen.choose(0, 40)) {
      (raw, i0, j0) =>
        val rows = raw.zipWithIndex.map { case ((k, n), i) =>
          (s"k$k", i.toLong, n)
        }
        val (i, j) = (math.min(i0, j0), math.max(i0, j0))
        def run(chunks: Seq[Seq[(String, Long, Long)]])
            : Map[Long, (String, Long, Long)] = {
          val h = new VirtualClockHarness[String, (String, Long, Long),
            Long, (String, Long, Long, Long)](
            GroupStateTimeout.NoTimeout(), StreamOps.packStreamFn[String])
          chunks.flatMap(c => c.groupBy(_._1).toSeq.sortBy(_._1)
            .flatMap { case (k, v) => h.input(k, v: _*) })
            .map(r => r._2 -> ((r._1, r._3, r._4))).toMap
        }
        val whole = run(Seq(rows))
        val split = run(Seq(rows.take(i), rows.slice(i, j), rows.drop(j)))
        whole == split
    })
  }

  test("bloomGate is split-invariant for in-order arrivals " +
      "(sharded filter state-carry property)") {
    import graft.functions.Udafs
    import graft.streaming.{StreamOps, VirtualClockHarness}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val fpsG = Gen.listOfN(40, Gen.choose(0, 12).map(x => s"fp$x"))
    check(Prop.forAll(fpsG, Gen.choose(0, 40), Gen.choose(0, 40)) {
      (fps, i0, j0) =>
        val rows = fps.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
        val (i, j) = (math.min(i0, j0), math.max(i0, j0))
        def run(chunks: Seq[Seq[(Long, String)]]): Map[Long, Boolean] = {
          val h = new VirtualClockHarness[Int, (Long, String),
            Array[Long], (Long, String, Boolean)](
            GroupStateTimeout.NoTimeout(), StreamOps.bloomGateFn)
          chunks.flatMap(c =>
            c.groupBy(r => Udafs.bloomShard(r._2, 4)).toSeq.sortBy(_._1)
              .flatMap { case (sh, v) => h.input(sh, v: _*) })
            .map(r => r._1 -> r._3).toMap
        }
        val whole = run(Seq(rows))
        val split = run(Seq(rows.take(i), rows.slice(i, j), rows.drop(j)))
        whole == split
    })
  }
}
