package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Complex-event-processing subset: the reference's CEP pattern DSL
  * (flink-cep Pattern.java:123-474 — begin/next/followedBy/where/within,
  * CEP.pattern CEP.java:38, NFA engine nfa/NFA.java) re-expressed as a tiny
  * NFA run inside `flatMapGroupsWithState` — Spark has no MATCH_RECOGNIZE,
  * so the pattern engine is a library operator over keyed state, exactly as
  * SURVEY.md §7 plans it.
  *
  * Supported surface (Pattern.java:123-474):
  *  - `begin(name)(pred)` — pattern start
  *  - `.next(name)(pred)` — strict contiguity (STRICT in NFA.java)
  *  - `.followedBy(name)(pred)` — relaxed contiguity, first occurrence
  *  - `.notFollowedBy` / `.optional` / `.or` / `.subtype[S]`
  *  - quantifiers `times(n)` / `times(from,to)` / `timesOrMore` /
  *    `oneOrMore` with `.consecutive` (DSL default) vs `.relaxed`
  *    (reference default) repetition contiguity, `.greedy` (DSL default)
  *    vs `.allPrefixes` (reference default) emission, and `.until`
  *  - `.within(ms)` — time-to-live for partial matches (Pattern.java:474)
  *  - `.allowCombinations` (followedByAny-style non-deterministic
  *    repetition branching)
  *  - after-match skip: NoSkip (default), SkipPastLastEvent,
  *    SkipToFirst/SkipToLast(step) (AfterMatchSkipStrategy.java).
  *
  * Events are processed in event-time order per group (batch: one sorted
  * scan; streaming: sorted within each micro-batch, partials carried in
  * state — in-order delivery across batches is assumed, matching Flink's
  * ascending-timestamp sources).
  *
  * Scale: state per key = open partial matches only (bounded by `within`
  * pruning); keys shard across the cluster's state store.
  */
object Cep {

  final case class Step[E](name: String, pred: E => Boolean, strict: Boolean,
      minReps: Int = 1, maxReps: Int = 1,
      negPred: Option[E => Boolean] = None, optional: Boolean = false,
      untilPred: Option[E => Boolean] = None, allPrefixes: Boolean = false,
      relaxedReps: Boolean = false, combos: Boolean = false,
      ctxPred: Option[(E, Map[String, Seq[E]]) => Boolean] = None,
      negNextOnly: Boolean = false, anyMatch: Boolean = false,
      untilCtxPred: Option[(E, Map[String, Seq[E]]) => Boolean] = None) {
    def looping: Boolean = maxReps > minReps || maxReps == Int.MaxValue
    /** Any repetition at all — times(n) included (looping excludes fixed
      * times(n), whose run length is exact). */
    def multiRep: Boolean = maxReps > 1
    /** Evaluate the step condition; `ctx` (events matched so far per step
      * in THIS branch — IterativeCondition.Context.getEventsForPattern)
      * is only built when the step actually declared an iterative
      * condition, keeping the plain-predicate hot path allocation-free. */
    def eval(e: E, ctx: => Map[String, Seq[E]]): Boolean = ctxPred match {
      case None => pred(e)
      case Some(f) => f(e, ctx)
    }
  }

  final class Pattern[E] private[Cep] (
      val steps: Vector[Step[E]], val withinMs: Option[Long],
      private val pendingNot: Option[E => Boolean] = None,
      private val pendingNotNext: Boolean = false)
    extends Serializable {
    private def add(st: Step[E]): Pattern[E] =
      new Pattern(steps :+ st.copy(negPred = pendingNot,
        negNextOnly = pendingNotNext), withinMs, None)
    /** Strict contiguity: the very next event must match. */
    def next(name: String)(pred: E => Boolean): Pattern[E] =
      add(Step(name, pred, strict = true))
    /** Relaxed contiguity: non-matching events in between are skipped. */
    def followedBy(name: String)(pred: E => Boolean): Pattern[E] =
      add(Step(name, pred, strict = false))
    /** Relaxed NON-DETERMINISTIC contiguity (Pattern.followedByAny,
      * Pattern.java:171 — SKIP_TILL_ANY): every matching occurrence
      * branches; the pre-transition partial stays alive to match later
      * occurrences too, instead of consuming on the first. */
    def followedByAny(name: String)(pred: E => Boolean): Pattern[E] =
      add(Step(name, pred, strict = false, anyMatch = true))
    /** Strict-contiguity step with an ITERATIVE condition
      * (IterativeCondition.java:59 — the predicate also sees the events
      * matched so far per step in this branch, via
      * `ctx("stepName")`). */
    def nextIter(name: String)(
        pred: (E, Map[String, Seq[E]]) => Boolean): Pattern[E] =
      add(Step(name, _ => false, strict = true, ctxPred = Some(pred)))
    /** Relaxed-contiguity step with an ITERATIVE condition. */
    def followedByIter(name: String)(
        pred: (E, Map[String, Seq[E]]) => Boolean): Pattern[E] =
      add(Step(name, _ => false, strict = false, ctxPred = Some(pred)))
    /** Negative condition (Pattern.notFollowedBy, Pattern.java:252): if a
      * matching event arrives before the NEXT declared step matches, the
      * partial dies. As the FINAL pattern element it requires `within`
      * (the reference NFACompiler.java:108 throws unconditionally —
      * "NotFollowedBy is not supported as a last part of a Pattern!" —
      * we extend it with the semantics later standardized in Flink 1.14
      * / FLINK-23958): the match stays pending and emits when the window
      * horizon passes without a banned event; a banned event inside the
      * window kills it. Batch end-of-input emits all pending matches
      * (time advances past every horizon). */
    def notFollowedBy(name: String)(pred: E => Boolean): Pattern[E] =
      new Pattern(steps, withinMs, Some(pred))
    /** Strict negative condition (Pattern.notNext, Pattern.java:238):
      * the partial dies only if the IMMEDIATELY next event (after the
      * previous step's latest match) matches `pred`; later matches are
      * irrelevant. As the FINAL element (NFACompiler.java:241: an IGNORE
      * edge into Final guarded by !pred): the completed match waits for
      * exactly one more event — banned kills it, anything else emits it;
      * a match never followed by any event never emits (reference
      * parity: NotPatternITCase testNotNextNoMatchesAtTheEnd). */
    def notNext(name: String)(pred: E => Boolean): Pattern[E] =
      new Pattern(steps, withinMs, Some(pred), pendingNotNext = true)
    /** The previous step becomes skippable (Pattern.optional,
      * Pattern.java:319). Not supported on the final step. */
    def optional: Pattern[E] = new Pattern(
      steps.init :+ steps.last.copy(optional = true), withinMs, pendingNot, pendingNotNext)
    /** The previous step must match exactly `n` consecutive occurrences
      * (Pattern.times, Pattern.java:292). */
    def times(n: Int): Pattern[E] = {
      require(n >= 1, "times(n) requires n >= 1")
      new Pattern(steps.init :+ steps.last.copy(minReps = n, maxReps = n),
        withinMs, pendingNot, pendingNotNext)
    }
    /** The previous step matches one or more consecutive occurrences,
      * greedily extended (Pattern.oneOrMore, Pattern.java:340). */
    def oneOrMore: Pattern[E] = new Pattern(
      steps.init :+ steps.last.copy(minReps = 1, maxReps = Int.MaxValue),
      withinMs, pendingNot, pendingNotNext)
    /** The previous step matches between `from` and `to` consecutive
      * occurrences (Pattern.times(from, to), Pattern.java:304). Greedy by
      * default: the maximal run ≤ `to` is emitted; see [[allPrefixes]].
      * `from = 0` is the reference's zero-consumption form —
      * times(1, to) plus optional. */
    def times(from: Int, to: Int): Pattern[E] = {
      require(from >= 0 && to >= from && to >= 1,
        "times(from, to) requires 0 <= from <= to, to >= 1")
      new Pattern(steps.init :+ steps.last.copy(
        minReps = math.max(from, 1), maxReps = to,
        optional = steps.last.optional || from == 0),
        withinMs, pendingNot, pendingNotNext)
    }
    /** The previous step matches `n` or more consecutive occurrences
      * (Pattern.timesOrMore, Pattern.java:328). */
    def timesOrMore(n: Int): Pattern[E] = {
      require(n >= 1, "timesOrMore(n) requires n >= 1")
      new Pattern(
        steps.init :+ steps.last.copy(minReps = n, maxReps = Int.MaxValue),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Stop condition for the previous quantified step (Pattern.until,
      * Pattern.java:359): an event matching `pred` closes the run without
      * being absorbed by it (it may still match the NEXT step on the same
      * event, as in the reference's until tests). */
    def until(pred: E => Boolean): Pattern[E] = {
      require(steps.last.looping, "until requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(untilPred = Some(pred)),
        withinMs, pendingNot, pendingNotNext)
    }
    /** ITERATIVE stop condition (IterativeCondition as until,
      * UntilConditionITCase testIterativeUntilCondition*): the predicate
      * also sees the events this BRANCH has matched so far per step, so
      * different branches of the same scan can hit the stop at different
      * events. */
    def untilIter(pred: (E, Map[String, Seq[E]]) => Boolean): Pattern[E] = {
      require(steps.last.looping, "untilIter requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(untilCtxPred = Some(pred)),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Reference-default (non-greedy) emission for the previous quantified
      * step: every run prefix of length ≥ min is a match, and each loop
      * extension also forks a stopped-run branch that may transition later
      * — flink-cep's default quantifier semantics (our default stays
      * greedy/maximal, Flink's `.greedy()`). */
    def allPrefixes: Pattern[E] = {
      require(steps.last.looping, "allPrefixes requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(allPrefixes = true),
        withinMs, pendingNot, pendingNotNext)
    }
    /** OR-condition on the previous step (Pattern.or, Pattern.java:219):
      * the step matches events satisfying either predicate. */
    def or(pred2: E => Boolean): Pattern[E] = {
      val s = steps.last
      val updated = s.ctxPred match {
        case Some(f) =>
          val g: (E, Map[String, Seq[E]]) => Boolean =
            (e, c) => f(e, c) || pred2(e)
          s.copy(ctxPred = Some(g))
        case None =>
          val base = s.pred
          s.copy(pred = (e: E) => base(e) || pred2(e))
      }
      new Pattern(steps.init :+ updated, withinMs, pendingNot, pendingNotNext)
    }
    /** Subtype condition on the previous step (Pattern.subtype,
      * Pattern.java:180): the step additionally requires the event to be an
      * instance of `S`. */
    def subtype[S <: E](implicit ct: scala.reflect.ClassTag[S]): Pattern[E] = {
      val s = steps.last
      val updated = s.ctxPred match {
        case Some(f) =>
          val g: (E, Map[String, Seq[E]]) => Boolean =
            (e, c) => ct.runtimeClass.isInstance(e) && f(e, c)
          s.copy(ctxPred = Some(g))
        case None =>
          val base = s.pred
          s.copy(pred = (e: E) => ct.runtimeClass.isInstance(e) && base(e))
      }
      new Pattern(steps.init :+ updated, withinMs, pendingNot, pendingNotNext)
    }
    /** Relaxed repetition contiguity for the previous quantified step
      * (the reference's DEFAULT for oneOrMore/times — IterativeCondition
      * with relaxed internal contiguity): non-matching events between
      * repetitions are skipped instead of closing the run. Our DSL default
      * is consecutive (Flink's `.consecutive()`, Pattern.java:368); this
      * opts into the reference default. */
    def relaxed: Pattern[E] = {
      require(steps.last.multiRep, "relaxed requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(relaxedReps = true),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Non-deterministic relaxed repetition (Pattern.allowCombinations,
      * Pattern.java:383 — followedByAny-style internal contiguity): every
      * extension of the quantified run also forks a branch that SKIPS the
      * event, so all subsequences (combinations), not just contiguous-ish
      * runs, become matches. Implies [[relaxed]]. */
    def allowCombinations: Pattern[E] = {
      require(steps.last.multiRep, "allowCombinations requires a quantified step")
      new Pattern(
        steps.init :+ steps.last.copy(relaxedReps = true, combos = true),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Strict repetition contiguity (Pattern.consecutive, Pattern.java:368)
      * — the DSL default; explicit form for ported reference tests. */
    def consecutive: Pattern[E] = {
      require(steps.last.multiRep, "consecutive requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(relaxedReps = false),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Greedy (maximal-run-only) emission (Pattern.greedy,
      * Pattern.java:340) — the DSL default; explicit form clears a prior
      * [[allPrefixes]]. */
    def greedy: Pattern[E] = {
      require(steps.last.looping, "greedy requires a quantified step")
      new Pattern(steps.init :+ steps.last.copy(allPrefixes = false),
        withinMs, pendingNot, pendingNotNext)
    }
    /** Partial matches older than `ms` (vs the current event) are pruned. */
    def within(ms: Long): Pattern[E] = new Pattern(steps, Some(ms), pendingNot, pendingNotNext)

    /** Terminal negation, when the pattern ends in notFollowedBy/notNext
      * (the banned predicate guarding the Final transition). */
    private[graft] def terminalNot: Option[E => Boolean] = pendingNot
    private[graft] def terminalNotNext: Boolean = pendingNotNext

    private[Cep] def validated: Pattern[E] = {
      require(pendingNot.isEmpty || pendingNotNext || withinMs.isDefined,
        "NotFollowedBy is not supported as a last part of a Pattern! " +
          "(without within(); with within() the match emits at the window " +
          "horizon if no banned event arrived)")
      // Optional FINAL steps are supported (NFAITCase testEndWithOptional
      // / testEndWithZeroOrMore: the zero-occurrence match emits the
      // moment the preceding steps complete). The one untestable-against-
      // the-reference combination is a GREEDY loop followed by nothing
      // but optional steps: greedy is a DSL extension (the reference
      // default is allPrefixes), and its emit-on-break semantics have no
      // defined zero-consumption interplay — reject that combination.
      val lastMandatory = steps.lastIndexWhere(!_.optional)
      val greedyTrailing = steps.zipWithIndex.exists { case (s, i) =>
        i >= math.max(lastMandatory, 0) && s.looping && s.multiRep &&
          !s.allPrefixes && i < steps.size - 1
      }
      require(!greedyTrailing,
        "a greedy loop may not be followed by only-optional steps " +
          "(use the reference-default allPrefixes emission)")
      this
    }
  }

  object Pattern {
    def begin[E](name: String)(pred: E => Boolean): Pattern[E] =
      new Pattern(Vector(Step(name, pred, strict = true)), None)
    /** Begin with an ITERATIVE condition (Pattern.begin + IterativeCondition
      * — the head step's predicate sees the events captured so far in its
      * own group, e.g. a sum bound over a looping start:
      * IterativeConditionsITCase testIterativeWithLoopingStarting*). */
    def beginIter[E](name: String)(
        pred: (E, Map[String, Seq[E]]) => Boolean): Pattern[E] =
      new Pattern(Vector(
        Step(name, _ => false, strict = true, ctxPred = Some(pred))), None)
  }

  /** An in-flight partial match: one event group per entered step
    * (`groups.last` is the current step's run); `runOpen` marks whether
    * that run can still be extended (repetition contiguity is consecutive —
    * a non-matching event closes or kills the run). */
  /** `spentMask`: bit j set = while in its CURRENT position, this branch
    * DECLINED an event that matched step j (a SKIP_TILL_NEXT step) —
    * under relaxed continuity the first element of step j must be the
    * first matching event after this position, so the branch may never
    * take step j with its current run, while remaining eligible for
    * OTHER steps (SameElementITCase testRepeatingPatternWSameElement:
    * the loop-prefix fork that declined `end`'s first element still
    * takes `middle2` later; NFAITCase testMultipleTakesVersionCollision:
    * `m1 m2 m3 | m5` is not a valid split when m4 matched middle2 and
    * was declined). Changing position — extending the run or
    * transitioning — resets the mask: the first-after boundary moved.
    *
    * `completed`: the entry is not a live NFA state but a COMPLETED match
    * whose emission an after-match skip strategy has deferred (the
    * reference's NFAState.completedMatches queue) — it persists in
    * streaming state until no earlier-started partial is live, and is
    * never extended, expired, or advanced. */
  /** `negPending`: like `completed`, not a live NFA state — a match that
    * finished every consuming step of a pattern ENDING in a negation and
    * now waits at the gate ([[NegGate]]): terminal notNext waits for the
    * single next event, terminal notFollowedBy-with-within waits for the
    * window horizon; a banned event kills it. Persisted in streaming
    * state between micro-batches like `completed` entries. */
  final case class Partial[E](startTs: Long, groups: Vector[Vector[E]],
      runOpen: Boolean, virgin: Boolean = false,
      spentMask: Long = 0L, completed: Boolean = false,
      negPending: Boolean = false) {
    def stepIdx: Int = groups.size - 1
  }

  /** Core NFA transition: feed one event, return surviving partials and any
    * completed matches (as per-step event groups). Pure — shared by the
    * batch and streaming drivers below. A final `oneOrMore` run completes
    * when broken by a non-matching event (maximal/greedy) or, in batch, at
    * end of input.
    *
    * Event identity is VALUE equality (see the dedup note at the bottom):
    * the reference's SharedBuffer instead keys on arrival-assigned
    * EventIds, so two value-identical events at the same timestamp are
    * distinct there and collapsed here — a documented divergence
    * (ENGINE.md §2.11); threading arrival sequence numbers through the
    * state would put an allocation on the per-event hot path for a case
    * most pipelines consider a duplicate anyway.
    */
  def advance[E](pattern: Pattern[E], partials: Vector[Partial[E]],
      e: E, ts: Long): (Vector[Partial[E]], Vector[Vector[Vector[E]]]) = {
    // Iterative-condition context for a partial: step name → events
    // matched so far in this branch (empty for not-yet-entered steps).
    // Built lazily per evaluation via Step.eval — plain predicates never
    // pay for it.
    def ctxOf(groups: Vector[Vector[E]]): Map[String, Seq[E]] = {
      val b = Map.newBuilder[String, Seq[E]]
      var i = 0
      while (i < pattern.steps.size) {
        b += pattern.steps(i).name ->
          (if (i < groups.size) groups(i) else Vector.empty[E])
        i += 1
      }
      b.result()
    }
    lazy val emptyCtx: Map[String, Seq[E]] = ctxOf(Vector.empty)
    // Can this event open a fresh partial? A pattern may start at any
    // step reachable from the head by skipping LEADING OPTIONAL steps
    // (NFAITCase testBeginWithZeroOrMore: a `b` alone matches
    // a*-optional b as {b}).
    def canStart: Boolean = {
      var j = 0
      while (j < pattern.steps.size) {
        if (pattern.steps(j).eval(e, emptyCtx)) return true
        if (!pattern.steps(j).optional) return false
        j += 1
      }
      false
    }
    // fast path: nothing pending and the event can't start a pattern —
    // zero allocation (most events in a filtered stream hit this or the
    // pruned-empty case, and the NFA runs once per event per key)
    if (partials.isEmpty && !canStart)
      return (Vector.empty, Vector.empty)
    val alive = pattern.withinMs match {
      case None => partials
      case Some(w) => // avoid the filter allocation when nothing expired
        if (partials.forall(p => ts - p.startTs < w)) partials
        else partials.filter(p => ts - p.startTs < w)
    }
    val out = Vector.newBuilder[Partial[E]]
    val matches = Vector.newBuilder[Vector[Vector[E]]]
    val lastIdx = pattern.steps.size - 1
    // all steps after i are optional → a satisfied run at i is already a
    // match (the reference's chained proceed-ε edges to the final state)
    def trailingOpt(i: Int): Boolean = {
      var j = i + 1
      while (j <= lastIdx && pattern.steps(j).optional) j += 1
      j > lastIdx
    }
    // STRICT steps reachable from position i (through optionals): once a
    // non-matching event intervenes they are forever unreachable from
    // this position — strict means immediately-next only (NFAITCase
    // testStrictContinuity*AfterZeroOrMore / testNextZeroOrMore) — so
    // survivors bar them via spentMask; extending/transitioning re-arms.
    def strictReachable(i: Int): Long = {
      var j = i + 1
      var mask = 0L
      var scanning = true
      while (scanning && j <= lastIdx) {
        val sj = pattern.steps(j)
        if (sj.strict) mask |= 1L << j
        scanning = sj.optional
        j += 1
      }
      mask
    }
    // a position is dead once every reachable next step is strict-broken
    def anyRelaxedReachable(i: Int): Boolean = {
      var j = i + 1
      var scanning = true
      while (scanning && j <= lastIdx) {
        if (!pattern.steps(j).strict) return true
        scanning = pattern.steps(j).optional
        j += 1
      }
      false
    }
    def padded(g: Vector[Vector[E]]): Vector[Vector[E]] =
      g ++ Vector.fill(pattern.steps.size - g.size)(Vector.empty[E])

    // A notFollowedBy/notNext guarding a branch's NEXT consuming step
    // kills the branch on a banned event REGARDLESS of its loop state —
    // the reference discards the WHOLE path when a stop state is reached
    // (NFA.doProcess shouldDiscardPath), so a banned event also kills a
    // not-yet-satisfied run that would otherwise gap-survive
    // (NotPatternITCase testTimesWithNotFollowedBy). A ban guarding an
    // OPTIONAL step additionally stays pending along the branch that
    // committed PAST it without consuming (the skip-ε path), dying on the
    // same events the unconsumed entry would have
    // (testNotFollowedByBeforeOptional: no {a, d} match once b
    // intervened, while the branch that took c has its ban released).
    def nextBanned(p: Partial[E]): Boolean = {
      val s = pattern.steps(p.stepIdx)
      val immBan = p.stepIdx < lastIdx && {
        val imm = pattern.steps(p.stepIdx + 1)
        imm.negPred.exists(_(e)) && (!imm.negNextOnly || p.virgin)
      }
      def skipBan = s.optional && p.groups.last.isEmpty && !p.runOpen &&
        s.negPred.exists(_(e)) && (!s.negNextOnly || p.virgin)
      immBan || skipBan
    }
    val unbanned = // ban-free patterns skip the filter allocation
      if (pattern.steps.exists(_.negPred.isDefined))
        alive.filter(p => !nextBanned(p))
      else alive

    unbanned.foreach { p =>
      val s = pattern.steps(p.stepIdx)
      val reps = p.groups.last.size

      // until stop-condition (checked before the loop predicate, as in the
      // reference): closes the run; the event may still transition below.
      // Iterative untils see THIS branch's captured events, so the stop
      // can fire per branch (testIterativeUntilConditionOneOrMore).
      val untilHit = s.looping && (s.untilPred.exists(_(e)) ||
        s.untilCtxPred.exists(_(e, ctxOf(p.groups))))

      // 1) greedily extend the current run. The same-position forks
      // (stopped copy, combos skip, optional-skip) are deferred until
      // after the transition scan: if this event also matched a
      // SKIP_TILL_NEXT step, those forks decline its first element and
      // are barred from THAT step (spentMask) while staying eligible
      // for others.
      var stoppedFork: Partial[E] = null
      var combosFork: Partial[E] = null
      var skipForks: List[Partial[E]] = Nil
      val extended = !untilHit && p.runOpen && reps < s.maxReps &&
        s.eval(e, ctxOf(p.groups))
      if (extended) {
        val g2 = p.groups.updated(p.stepIdx, p.groups.last :+ e)
        val capped = reps + 1 == s.maxReps
        if (p.stepIdx == lastIdx) {
          // a FINAL-step loop emits every satisfied length AS IT FORMS:
          // the proceed-to-Final edge fires per extension regardless of
          // greedy vs allPrefixes (GreedyITCase testEndWithZeroOrMoreGreedy
          // / testEndWithGreedyTimesRange — greedy only affects emission
          // when another step follows)
          if (reps + 1 >= s.minReps) matches += g2
          if (!capped) out += Partial(p.startTs, g2, runOpen = true,
            virgin = true)
        } else {
          // reference-default branching: extending a satisfied run also
          // forks a stopped copy that can transition on a later event
          // (subsumed by the open combos fork below when enabled)
          if (s.allPrefixes && s.looping && reps >= s.minReps && !s.combos)
            stoppedFork = Partial(p.startTs, p.groups, runOpen = false)
          // only optional steps remain: the satisfied run is a match NOW
          // (testEndWith* ports — prefix emission for allPrefixes loops,
          // exact-count emission for times(n))
          if (trailingOpt(p.stepIdx) &&
            (if (s.allPrefixes) reps + 1 >= s.minReps else capped))
            matches += padded(g2)
          // virgin: the next event is "immediately after" this step's
          // latest match — the reference point for a following notNext
          out += Partial(p.startTs, g2, runOpen = !capped, virgin = true)
        }
        // allowCombinations: the event may also be SKIPPED — fork the
        // unextended run still open, so later events form combinations
        // (a barred source's unextended run stays barred); appended after
        // the scan so a SKIP_TILL_NEXT take can bar it
        if (s.combos)
          combosFork = Partial(p.startTs, p.groups, runOpen = true,
            spentMask = p.spentMask)
      }
      var matchedMask = 0L // non-any steps that matched e this round

      // 2) transition out of a satisfied run. An OPTIONAL step holding a
      // closed empty run is the "committed past it without consuming"
      // branch (created by the skip-fork below) — satisfied by
      // definition. spentMask-barred steps are treated as non-matching
      // for THIS branch (it declined their first element); other steps
      // stay takeable.
      if (reps >= s.minReps || (s.optional && reps == 0 && !p.runOpen)) {
        if (p.stepIdx < lastIdx) {
          val immediate = pattern.steps(p.stepIdx + 1)
          // negative conditions were applied by the `unbanned` pre-filter
          // (the whole branch dies, not just this transition)
          locally {
            // candidate targets: the next step plus anything reachable by
            // skipping optional steps (empty groups keep names aligned)
            var j = p.stepIdx + 1
            var scanning = true
            var transitioned = false
            var untilKilled = false
            while (scanning && j <= lastIdx) {
              val sj = pattern.steps(j)
              // until fires at loop ENTRY (GreedyITCase
              // testGreedyUntilWithDummyEventsBeforeQuantifier): the
              // reference extends the take condition with not(until), so
              // the event is never captured; an optional loop commits
              // past with an empty closed run. Whether the WAITING SOURCE
              // also dies depends on greediness: only greedy loops extend
              // the ignore edge with not(until); a non-greedy
              // (allPrefixes/combos) source keeps waiting and may take a
              // post-until occurrence (UntilConditionITCase
              // testUntilConditionFollowedByAnyOneOrMore: {c, a-after-
              // breaking} is a match).
              val entryUntil = sj.looping && (sj.untilPred.exists(_(e)) ||
                sj.untilCtxPred.exists(_(e, ctxOf(p.groups))))
              if (entryUntil) {
                if (sj.optional && j < lastIdx)
                  out += Partial(p.startTs,
                    p.groups ++ Vector.fill(j - p.stepIdx - 1)(
                      Vector.empty[E]) :+ Vector.empty[E],
                    runOpen = false)
                if (!sj.allPrefixes && !sj.combos) untilKilled = true
              } else if ((p.spentMask >>> j & 1L) == 0 &&
                  sj.eval(e, ctxOf(p.groups))) {
                val g2 = p.groups ++
                  Vector.fill(j - p.stepIdx - 1)(Vector.empty[E]) :+ Vector(e)
                val trailingOptional =
                  (j + 1 to lastIdx).forall(pattern.steps(_).optional)
                if (!sj.looping && sj.maxReps == 1 &&
                  (j == lastIdx || trailingOptional)) {
                  val padded = g2 ++
                    Vector.fill(lastIdx - j)(Vector.empty[E])
                  matches += padded
                  if (j < lastIdx)
                    out += Partial(p.startTs, g2, runOpen = true, virgin = true)
                } else {
                  // entering a loop at the end of the mandatory suffix:
                  // the length-1 run is already a match when min <= 1
                  // (extensions emit the rest; final-position greedy
                  // emits eagerly like allPrefixes — see extension block)
                  if (sj.looping && sj.minReps <= 1 &&
                    (j == lastIdx || trailingOpt(j))) matches += padded(g2)
                  out += Partial(p.startTs, g2, runOpen = true, virgin = true)
                }
                // Entering an OPTIONAL step also forks the branch that
                // skips it entirely (committed past it, empty closed
                // run) — the reference's proceed-ε edge, deferred so the
                // scan's later matches can bar it (the fork declines
                // everything e matched) ON TOP of the parent's inherited
                // bars: a zero-consumption fork does not move the
                // first-element boundary, so spentMask carries through
                // (SameElementITCase testRepeatingPatternWSameElement:
                // the skip-past-middle2 fork of an end-barred branch
                // stays end-barred — no {c, end} matches — while
                // testOptional's unbarred source forks a skip path that
                // may take the following step later). Suppressed for
                // greedy loops, whose non-consuming branch must die once
                // the loop could consume (GreedyITCase contract);
                // allPrefixes/combos loops are non-greedy and keep it.
                // Also suppressed when the NEXT step is STRICT: the
                // proceed-ε must take that step on THIS event (the scan
                // already tries it) or die — a stored fork would wrongly
                // treat a LATER event as "immediately next" (an `A M? B`
                // clause found it; PropertySpec's SQL-vs-DSL differential
                // covers the shape).
                if (sj.optional &&
                  (!sj.looping || sj.allPrefixes || sj.combos) &&
                  j < lastIdx && !pattern.steps(j + 1).strict)
                  skipForks ::= Partial(p.startTs,
                    p.groups ++ Vector.fill(j - p.stepIdx - 1)(
                      Vector.empty[E]) :+ Vector.empty[E],
                    runOpen = false)
                // SKIP_TILL_ANY: the source partial stays alive to take
                // later occurrences of this step as well — but e
                // INTERVENED between its position and any strictly-next
                // candidate, so those break permanently (same bar as the
                // stopped/combos forks; the fourteenth parity fix — the
                // reference's zero-consumption proceed-ε branch into a
                // strict step dies on the first non-matching event, while
                // an unbarred survivor here would wrongly emit {d, b}
                // across the intervening a-run in NFAITCase
                // testStrictContinuityResultsAfterZeroOrMore)
                if (sj.anyMatch) {
                  val m = p.spentMask | strictReachable(p.stepIdx)
                  out += p.copy(virgin = false, spentMask = m)
                } else matchedMask |= 1L << j // TILL_NEXT: first element taken
                transitioned = true
              }
              scanning = sj.optional
              j += 1
            }
            if (!transitioned && !extended && !untilKilled) {
              // the intervening event breaks every reachable STRICT step
              // for this position, permanently (bar via spentMask)
              val broken = strictReachable(p.stepIdx)
              if (s.multiRep && s.relaxedReps && p.runOpen && !untilHit) {
                // relaxed repetition contiguity: the gap event is skipped
                // and the run stays extendable (reference default mode);
                // extension re-arms the strict exit
                out += p.copy(runOpen = true, virgin = false,
                  spentMask = p.spentMask | broken)
              } else if (anyRelaxedReachable(p.stepIdx)) {
                // some relaxed next step remains: keep waiting with the
                // run closed, strict futures barred
                out += p.copy(runOpen = false, virgin = false,
                  spentMask = p.spentMask | broken)
              } // every reachable step strict and broken: partial dies
            } // untilKilled: the waiting branch dies at the until event
          } // banned: partial dies (notFollowedBy)
        } else if (s.looping && p.runOpen &&
          (!s.eval(e, ctxOf(p.groups)) || untilHit)) {
          if (s.relaxedReps && !untilHit) {
            // relaxed gap inside the final run: skip the event (no
            // longer virgin for a notNext — an event intervened)
            out += (if (p.virgin) p.copy(virgin = false) else p)
          }
          // breaking/until event: nothing to emit — every satisfied
          // length was already emitted when it formed (eager
          // proceed-to-Final above)
        }
      } else if (!extended && s.multiRep &&
        s.relaxedReps && p.runOpen && !untilHit &&
        !s.eval(e, ctxOf(p.groups))) {
        // relaxed gap inside a not-yet-satisfied run
        out += (if (p.virgin) p.copy(virgin = false) else p)
      }
      // otherwise: run not yet satisfied and the event didn't extend it —
      // partial dies (consecutive repetition contiguity, the DSL default)

      // deferred same-position forks: each declines e, so each is barred
      // from exactly the TILL_NEXT steps e matched (plus inherited bars)
      // AND from every reachable STRICT step — e intervened between the
      // fork's run and any strictly-next candidate
      val forkMask = p.spentMask | matchedMask |
        (if (stoppedFork != null || combosFork != null)
          strictReachable(p.stepIdx) else 0L)
      if (stoppedFork != null)
        out += (if (forkMask != 0) stoppedFork.copy(spentMask = forkMask)
                else stoppedFork)
      if (combosFork != null)
        out += (if (forkMask != 0)
                  combosFork.copy(spentMask = forkMask)
                else combosFork)
      skipForks.foreach { f =>
        val m = p.spentMask | matchedMask
        out += (if (m != 0) f.copy(spentMask = m) else f)
      }
    }

    // 3) every matching event also opens a fresh partial (noSkip) — at
    // the head step, or at any step reachable by skipping leading
    // optional steps (their groups stay empty, keeping names aligned)
    var j0 = 0
    var scanning0 = true
    while (scanning0 && j0 < pattern.steps.size) {
      val sj = pattern.steps(j0)
      if (sj.eval(e, emptyCtx)) {
        val g = Vector.fill(j0)(Vector.empty[E]) :+ Vector(e)
        val trailingOptional =
          (j0 + 1 to lastIdx).forall(pattern.steps(_).optional)
        if (!sj.looping && sj.maxReps == 1 &&
          (j0 == lastIdx || trailingOptional)) {
          matches += (g ++ Vector.fill(lastIdx - j0)(Vector.empty[E]))
          if (j0 < lastIdx) out += Partial(ts, g, runOpen = true, virgin = true)
        } else {
          if (sj.looping && sj.minReps <= 1 &&
            (j0 == lastIdx || trailingOpt(j0))) matches += padded(g)
          out += Partial(ts, g, runOpen = true, virgin = true)
        }
      }
      scanning0 = sj.optional
      j0 += 1
    }
    // Structural dedup = the reference's SharedBuffer version semantics
    // (NFAITCase testMultipleTakesVersionCollision): distinct NFA paths
    // that converge on the same computation state — same start, same
    // captured groups, same run state — are ONE state, not two. Without
    // it, an anyMatch-kept source re-entering an optional loop re-forks
    // the skip-ε branch per event, and combination loops double-count
    // convergent splits. Cheap key first (duplicates always share it),
    // deep equality only within same-key buckets — the same
    // linear-cost shape as GroupCep's dedup.
    // Matches with identical groups are one computation state too: the
    // stored skip-ε branch and the scan-through-optional path both
    // represent "loop skipped" and may complete on the same event.
    // Event identity: equality here is over whatever E is. The batch
    // drivers (matchBatchGroups arrivalIds / liftPattern), the streaming
    // drivers (ArrivalState's cross-batch counter), and the planned
    // GroupCepExec (per-key-run counter) all feed arrival-TAGGED events by
    // default, so two value-identical events at one timestamp are
    // distinct computation states — the reference's SharedBuffer EventId
    // semantics, measured free (ENGINE.md §2.11, ArrivalIdsBench). The
    // raw *Fn forms run value identity over whatever E they're given.
    (dedupPartials(out.result()), dedupBy(matches.result())(m =>
      (m.size, m.last.size, m.head.size)))
  }

  /** Order-preserving structural dedup for [[advance]]'s survivors. */
  private def dedupPartials[E](xs: Vector[Partial[E]]): Vector[Partial[E]] =
    dedupBy(xs)(p => (p.startTs, p.groups.size, p.groups.last.size,
      p.runOpen, p.virgin, p.spentMask))

  /** Cheap-key-first order-preserving dedup: hash only `cheap(x)`, deep
    * equality solely within same-key buckets (linear for the near-always
    * singleton buckets; avoids deep-hashing captured event vectors — a
    * plain `.distinct` would be quadratic along a long `oneOrMore` scan).
    * Shared with [[GroupCep]]'s branch and match dedup. */
  private[streaming] def dedupBy[T](xs: Vector[T])(cheap: T => Any): Vector[T] =
    if (xs.length <= 1) xs
    else {
      val buckets = scala.collection.mutable.HashMap.empty[Any, List[T]]
      val b = Vector.newBuilder[T]
      xs.foreach { x =>
        val k = cheap(x)
        val seen = buckets.getOrElse(k, Nil)
        if (!seen.contains(x)) { buckets(k) = x :: seen; b += x }
      }
      b.result()
    }

  /** After-match skip strategies (flink-cep AfterMatchSkipStrategy):
    * NoSkip emits every match from every start (the default);
    * SkipPastLastEvent discards all open partials when a match completes,
    * so matches never overlap; SkipToFirst/SkipToLast discard the partials
    * that started strictly before the first/last event of the named step's
    * group in the completed match (AfterMatchSkipStrategy.skipToFirst/
    * skipToLast — partials at or after the boundary survive). */
  sealed trait AfterMatchSkip extends Serializable
  case object NoSkip extends AfterMatchSkip
  case object SkipPastLastEvent extends AfterMatchSkip
  final case class SkipToFirst(stepName: String) extends AfterMatchSkip
  final case class SkipToLast(stepName: String) extends AfterMatchSkip

  /** Run a pattern over a batch Dataset: one event-time-sorted scan per
    * key. `finish` shapes (key, step-name → first event of the step's
    * group) into the output row; use [[matchBatchGroups]] to see full
    * repetition groups. Final greedy runs flush at end of input.
    * `tie` breaks event-time ties deterministically (e.g. an event id) —
    * without it, same-timestamp events are fed to the NFA in shuffle
    * order, which is nondeterministic across runs. */
  def matchBatch[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L)(
      finish: (K, Map[String, E]) => O)(implicit ke: Encoder[K]): Dataset[O] =
    matchBatchGroups(ds, key, ts, pattern, skip, tie) { (k, groups) =>
      finish(k, groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap)
    }

  /** Like [[matchBatch]] but exposing every matched event per step —
    * required for quantified steps (times/oneOrMore).
    *
    * `arrivalIds` (DEFAULT) runs the reference's EXACT event-identity
    * semantics (SharedBuffer EventIds): each event is tagged with its
    * arrival position in the key's sorted run before entering the NFA,
    * so two VALUE-IDENTICAL events at one timestamp are distinct
    * computation states and yield distinct (value-identical) matches —
    * `arrivalIds = false` reverts to value identity, which dedups them
    * to one. Measured at sf0.1 (ArrivalIdsBench, warm median-of-3,
    * three sessions): the tag costs NOTHING — -21% to -0.1% vs value
    * identity (the seq tag short-circuits dedup's deep equality), so
    * parity is the default per the round-6 VERDICT's <10% rule. The
    * streaming drivers run the same identity via [[ArrivalState]]'s
    * cross-batch counter, and the planned GroupCepExec via a per-key-run
    * counter — all three paths at reference parity since round 8. */
  def matchBatchGroups[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L,
      arrivalIds: Boolean = true,
      stats: HotKeyStats = null)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] =
    {
      val pat = pattern.validated
      if (!arrivalIds)
        ds.groupByKey(key).flatMapGroups { (k: K, it: Iterator[E]) =>
          runSorted(k, it, ts, pat, Vector.empty, finish,
            flushAtEnd = true, skip, tie, stats = stats)._1.iterator
        }
      else {
        val lifted = liftPattern(pat)
        ds.groupByKey(key).flatMapGroups { (k: K, it: Iterator[E]) =>
          // tag arrival ids in the key run's (ts, tie) order — the same
          // order runSorted would sort into (its re-sort by (ts, seq) is
          // then stable), mirroring the reference's per-arrival EventId
          val wrapped = it.toVector.sortBy(e => (ts(e), tie(e)))
            .zipWithIndex.map { case (e, i) => (e, i.toLong) }
          runSorted[K, (E, Long), O](k, wrapped.iterator, w => ts(w._1),
            lifted, Vector.empty,
            (kk: K, groups: Map[String, Seq[(E, Long)]]) =>
              finish(kk, scala.collection.immutable.ListMap(groups.toSeq
                .map { case (n, g) => n -> g.map(_._1) }: _*)),
            flushAtEnd = true, skip, tie = _._2,
            stats = stats)._1.iterator
        }
      }
    }

  /** Pure bounded-run driver over pre-timestamped events — exactly the
    * batch driver's per-key semantics (arrival-id parity, skip queue,
    * terminal negation, within pruning) without Spark; same-timestamp
    * events keep their input order (the reference's feedNFA contract).
    * Returns (matches as per-step groups in step order, surviving
    * partials over the tagged type). Exposed for conformance specs. */
  private[graft] def runMatches[E](pattern: Pattern[E],
      events: Seq[(E, Long)], skip: AfterMatchSkip = NoSkip):
      (Vector[Vector[Vector[E]]], Vector[Partial[(E, Long)]]) = {
    val pat = pattern.validated
    val lifted = liftPattern(pat)
    val tsArr = events.map(_._2).toArray
    val wrapped = events.zipWithIndex.map { case ((e, _), i) => (e, i.toLong) }
    val names = pat.steps.map(_.name)
    runSorted[Unit, (E, Long), Vector[Vector[E]]]((), wrapped.iterator,
      w => tsArr(w._2.toInt), lifted, Vector.empty,
      (_, groups) => names.map(n =>
        groups.getOrElse(n, Seq.empty).map(_._1).toVector),
      flushAtEnd = false, skip, tie = _._2)
  }

  /** Lift a pattern over arrival-tagged events: every predicate reads
    * through the wrapper; structural state dedup then keys on the tag,
    * which IS the reference's EventId distinction. */
  private def liftPattern[E](p: Pattern[E]): Pattern[(E, Long)] = {
    val steps2 = p.steps.map { s =>
      Step[(E, Long)](s.name, w => s.pred(w._1), s.strict,
        s.minReps, s.maxReps,
        s.negPred.map(np => (w: (E, Long)) => np(w._1)), s.optional,
        s.untilPred.map(up => (w: (E, Long)) => up(w._1)), s.allPrefixes,
        s.relaxedReps, s.combos,
        s.ctxPred.map(cp => (w: (E, Long), ctx: Map[String, Seq[(E, Long)]]) =>
          cp(w._1, ctx.view.mapValues(_.map(_._1)).toMap)),
        s.negNextOnly, s.anyMatch,
        s.untilCtxPred.map(cp =>
          (w: (E, Long), ctx: Map[String, Seq[(E, Long)]]) =>
            cp(w._1, ctx.view.mapValues(_.map(_._1)).toMap)))
    }
    new Pattern[(E, Long)](steps2, p.withinMs,
      p.terminalNot.map(np => (w: (E, Long)) => np(w._1)),
      p.terminalNotNext)
  }

  /** Max-aggregating accumulator (Spark's built-ins only sum). */
  final class MaxAccumulator
      extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var _v = 0L
    override def isZero: Boolean = _v == 0L
    override def copy(): MaxAccumulator = {
      val a = new MaxAccumulator; a._v = _v; a
    }
    override def reset(): Unit = _v = 0L
    override def add(v: Long): Unit = if (v > _v) _v = v
    override def merge(
        o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      add(o.value)
    override def value: Long = _v
  }

  /** Hot-key diagnostic for the library CEP drivers. CEP is sequential
    * per key — a single viral key serializes one task at 100× scale, in
    * this engine AND in the reference (whose keyed operator at least
    * exposes backpressure metrics; this is our equivalent). Tracks the
    * max events fed to one key run (per micro-batch under streaming) and
    * the max concurrent partial matches; read after an action/epoch from
    * the driver. Mitigation for a genuinely hot key: within-horizon
    * truncation (ENGINE.md §2.11). The planned GroupCepExec surfaces the
    * same numbers as SQL metrics in the Spark UI. */
  final class HotKeyStats(sc: org.apache.spark.SparkContext,
      name: String = "cep") extends Serializable {
    val maxKeyEvents = new MaxAccumulator
    val maxPartials = new MaxAccumulator
    sc.register(maxKeyEvents, s"$name.maxKeyEvents")
    sc.register(maxPartials, s"$name.maxPartials")
  }

  /** Streaming keyed state for the arrival-identity drivers: the per-key
    * cross-batch arrival counter (the reference's SharedBuffer EventId
    * allocator — flink-cep/.../nfa/sharedbuffer/EventId.java assigns each
    * arriving event a per-key ordinal) plus the open partials over
    * arrival-tagged events. When no partial survives the state row is
    * removed and the counter restarts at 0 — safe, because a tag only has
    * to be unique among events still referenced by live partials or
    * deferred matches, all of which are gone. */
  final case class ArrivalState[E](nextSeq: Long,
      partials: Vector[Partial[(E, Long)]])

  /** [[GroupState]] view exposing just the partials of an
    * [[ArrivalState]]; `update` re-attaches the already-advanced arrival
    * counter. Lets the arrival-tagged streaming drivers delegate to the
    * untagged state-transition functions unchanged. */
  private final class ArrivalStateView[E](u: GroupState[ArrivalState[E]],
      newSeq: Long)
      extends GroupState[Vector[Partial[(E, Long)]]] {
    def exists: Boolean = u.exists
    def get: Vector[Partial[(E, Long)]] = u.get.partials
    def getOption: Option[Vector[Partial[(E, Long)]]] =
      u.getOption.map(_.partials)
    def update(s: Vector[Partial[(E, Long)]]): Unit =
      u.update(ArrivalState(newSeq, s))
    // the arrival counter may safely restart when no partial survives
    // (identity only disambiguates events LIVE partials reference)
    def remove(): Unit = u.remove()
    def hasTimedOut: Boolean = u.hasTimedOut
    def setTimeoutDuration(ms: Long): Unit = u.setTimeoutDuration(ms)
    def setTimeoutDuration(d: String): Unit = u.setTimeoutDuration(d)
    def setTimeoutTimestamp(ms: Long): Unit = u.setTimeoutTimestamp(ms)
    def setTimeoutTimestamp(ms: Long, d: String): Unit =
      u.setTimeoutTimestamp(ms, d)
    def setTimeoutTimestamp(t: java.sql.Date): Unit = u.setTimeoutTimestamp(t)
    def setTimeoutTimestamp(t: java.sql.Date, d: String): Unit =
      u.setTimeoutTimestamp(t, d)
    def getCurrentWatermarkMs(): Long = u.getCurrentWatermarkMs()
    def getCurrentProcessingTimeMs(): Long = u.getCurrentProcessingTimeMs()
  }

  /** Wrap an untagged state-transition function in the arrival-identity
    * protocol: read the per-key counter, tag this batch's events with
    * consecutive ordinals in (ts, tie) order (the order runSorted will
    * re-sort into, stably), and hand the advanced counter back to state
    * through the view. */
  private def arrivalFn[K, E, O](ts: E => Long, tie: E => Long,
      inner: (K, Iterator[(E, Long)],
        GroupState[Vector[Partial[(E, Long)]]]) => Iterator[O]):
      (K, Iterator[E], GroupState[ArrivalState[E]]) => Iterator[O] =
    (k: K, it: Iterator[E], state: GroupState[ArrivalState[E]]) => {
      var seq = state.getOption.map(_.nextSeq).getOrElse(0L)
      val tagged = it.toVector.sortBy(e => (ts(e), tie(e)))
        .map { e => val w = (e, seq); seq += 1; w }
      inner(k, tagged.iterator, new ArrivalStateView[E](state, seq))
    }

  /** Un-tag a per-step capture map, preserving declaration order. */
  private[streaming] def unliftGroups[E](groups: Map[String, Seq[(E, Long)]]):
      Map[String, Seq[E]] =
    scala.collection.immutable.ListMap(groups.toSeq
      .map { case (n, g) => n -> g.map(_._1) }: _*)

  /** The per-key state-transition function behind [[matchStreamGroups]] —
    * the reference's EXACT event-identity semantics (SharedBuffer
    * EventIds) carried across micro-batches by the [[ArrivalState]]
    * counter, the streaming twin of `matchBatchGroups(arrivalIds=true)`. */
  def matchStreamGroupsArrivalFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      shapeFn: (K, Map[String, Seq[E]]) => O,
      stats: HotKeyStats = null):
      (K, Iterator[E], GroupState[ArrivalState[E]]) => Iterator[O] =
    arrivalFn(ts, tie, matchStreamGroupsFn[K, (E, Long), O](
      liftPattern(pattern.validated), w => ts(w._1), skip, _._2,
      (kk: K, groups: Map[String, Seq[(E, Long)]]) =>
        shapeFn(kk, unliftGroups(groups)), stats))

  /** Arrival-identity twin of [[matchStreamWithTimeoutsFn]]. */
  def matchStreamWithTimeoutsArrivalFn[K, E, O](pattern: Pattern[E],
      ts: E => Long, skip: AfterMatchSkip, tie: E => Long,
      finish: (K, Map[String, E]) => O,
      onTimeout: (K, Map[String, Seq[E]], Long) => O):
      (K, Iterator[E], GroupState[ArrivalState[E]]) => Iterator[O] =
    arrivalFn(ts, tie, matchStreamWithTimeoutsFn[K, (E, Long), O](
      liftPattern(pattern.validated), w => ts(w._1), skip, _._2,
      (kk: K, m: Map[String, (E, Long)]) =>
        finish(kk, scala.collection.immutable.ListMap(m.toSeq
          .map { case (n, e) => n -> e._1 }: _*)),
      (kk: K, groups: Map[String, Seq[(E, Long)]], at: Long) =>
        onTimeout(kk, unliftGroups(groups), at)))

  /** Run a pattern over a streaming Dataset: partials persist in keyed
    * state across micro-batches; final greedy runs stay pending until a
    * breaking event arrives (documented subset).
    *
    * Event identity is the reference's SharedBuffer EventId semantics
    * (arrival identity, like the batch drivers): a per-key arrival counter
    * rides the [[ArrivalState]] across micro-batches, so two
    * value-identical events at one timestamp are distinct computation
    * states. Use [[matchStreamFn]] directly for value identity.
    *
    * Patterns with `within` require a watermarked input: idle keys' expired
    * partials are pruned by event-time timers (reference: within-pruning on
    * watermark advance in flink-cep/.../nfa/NFA.java advanceTime), so state
    * stays bounded even for keys that go quiet. Patterns without `within`
    * keep partials indefinitely — the reference's semantics. */
  def matchStream[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L)(
      finish: (K, Map[String, E]) => O)(
      implicit ke: Encoder[K]): Dataset[O] = {
    pattern.validated
    val timeoutConf =
      if (pattern.withinMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    implicit val senc: Encoder[CepStateEnvelope] = CepStateCodec.envelopeEncoder
    ds.groupByKey(key).flatMapGroupsWithState[CepStateEnvelope, O](
      OutputMode.Append(), timeoutConf)(
      CepStateCodec.versionedFn("Cep.ArrivalState",
        CepStateCodec.ArrivalVersion,
        matchStreamGroupsArrivalFn(pattern, ts, skip, tie,
          (kk: K, groups: Map[String, Seq[E]]) =>
            finish(kk,
              groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap))))
  }

  /** [[matchStream]] plus the reference's TIMED-OUT-partials channel
    * (PatternStream.select(timeoutTag, timeoutFn, selectFn) —
    * flink-cep PatternStream.java: a `within` pattern surfaces expired
    * partial matches on a side output instead of dropping them).
    * `onTimeout` shapes an expired partial — step-name → events captured
    * so far, plus the event-time at which it expired — into the same
    * output type; tag the two cases inside O (an Either, a case class
    * with a flag) to split the streams downstream, exactly what the
    * reference's OutputTag achieves.
    *
    * Timeout multiplicities are at reference parity: one timeout per
    * LIVE partial at expiry — under SKIP_TILL_ANY contiguity the
    * surviving source partial IS the reference's transitioned-prefix
    * computation state, so NFAITCase testSimplePatternWithTimeoutHandling
    * ports verbatim (both {start} and {start, middle} time out for one
    * chain); under TILL_NEXT both engines consume the source on
    * transition and report only the advanced partial. The match channel
    * is identical. Within a micro-batch the two channels interleave at
    * their event-time positions (a timeout expiring before a later
    * match is emitted before it); timeouts fired by watermark advance
    * between batches surface at the head of the batch that observes
    * them, which is also when the reference's advanceTime reports. */
  def matchStreamWithTimeouts[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L)(
      finish: (K, Map[String, E]) => O)(
      onTimeout: (K, Map[String, Seq[E]], Long) => O)(
      implicit ke: Encoder[K]): Dataset[O] = {
    pattern.validated
    require(pattern.withinMs.isDefined,
      "matchStreamWithTimeouts requires a within() pattern")
    implicit val senc: Encoder[CepStateEnvelope] = CepStateCodec.envelopeEncoder
    ds.groupByKey(key).flatMapGroupsWithState[CepStateEnvelope, O](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
      CepStateCodec.versionedFn("Cep.ArrivalState",
        CepStateCodec.ArrivalVersion,
        matchStreamWithTimeoutsArrivalFn(pattern, ts, skip, tie, finish,
          onTimeout)))
  }

  /** The state-transition function behind [[matchStreamWithTimeouts]]. */
  def matchStreamWithTimeoutsFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      finish: (K, Map[String, E]) => O,
      onTimeout: (K, Map[String, Seq[E]], Long) => O):
      (K, Iterator[E], GroupState[Vector[Partial[E]]]) => Iterator[O] = {
    val names = pattern.steps.map(_.name)
    def timedOut(k: K, p: Partial[E], at: Long): O =
      onTimeout(k, names.zip(p.groups.map(_.toSeq)).toMap
        .filter(_._2.nonEmpty), at)
    (k: K, it: Iterator[E], state: GroupState[Vector[Partial[E]]]) =>
      if (state.hasTimedOut) {
        val w = pattern.withinMs.get
        val wm = state.getCurrentWatermarkMs()
        // watermark advance inside runSorted: expired partials surface on
        // the timeout channel, expiring blockers may release deferred
        // matches (skip queue), and a terminal-notFollowedBy gate
        // confirms entries whose horizon passed
        val (outs, remaining) = runSorted(k, Iterator.empty, ts, pattern,
          state.getOption.getOrElse(Vector.empty),
          (kk: K, groups: Map[String, Seq[E]]) =>
            finish(kk, groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap),
          flushAtEnd = false, skip, tie,
          onExpired = (p: Partial[E], at: Long) => Some(timedOut(k, p, at)),
          advanceTo = Some(wm))
        val liveStarts = remaining.filter(!_.completed).map(_.startTs)
        if (remaining.isEmpty) state.remove()
        else {
          state.update(remaining)
          state.setTimeoutTimestamp(liveStarts.min + w)
        }
        outs.iterator
      } else {
        val partials = state.getOption.getOrElse(Vector.empty)
        // onExpired feeds runSorted's own output buffer, so timeouts are
        // interleaved with matches at their expiry points in event time
        val (outs, remaining) = runSorted(k, it, ts, pattern, partials,
          (kk: K, groups: Map[String, Seq[E]]) =>
            finish(kk, groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap),
          flushAtEnd = false, skip, tie,
          onExpired = (p: Partial[E], at: Long) => Some(timedOut(k, p, at)))
        if (remaining.isEmpty) state.remove()
        else {
          state.update(remaining)
          val liveStarts = remaining.filter(!_.completed).map(_.startTs)
          if (liveStarts.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              liveStarts.min + pattern.withinMs.get,
              state.getCurrentWatermarkMs() + 1))
        }
        outs.iterator
      }
  }

  /** The per-key state-transition function behind [[matchStream]], exposed
    * so a TestGroupState harness can exercise the within-expiry timeout
    * path deterministically. */
  def matchStreamFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      finish: (K, Map[String, E]) => O):
      (K, Iterator[E], GroupState[Vector[Partial[E]]]) => Iterator[O] =
    matchStreamGroupsFn(pattern, ts, skip, tie,
      (kk: K, groups: Map[String, Seq[E]]) =>
        finish(kk, groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap))

  /** Like [[matchStream]] but exposing every matched event per step
    * (PatternStream.flatSelect) — required for quantified steps. Same
    * state model. */
  def matchStreamGroups[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L,
      stats: HotKeyStats = null)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] = {
    pattern.validated
    val timeoutConf =
      if (pattern.withinMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    implicit val senc: Encoder[CepStateEnvelope] = CepStateCodec.envelopeEncoder
    ds.groupByKey(key).flatMapGroupsWithState[CepStateEnvelope, O](
      OutputMode.Append(), timeoutConf)(
      CepStateCodec.versionedFn("Cep.ArrivalState",
        CepStateCodec.ArrivalVersion,
        matchStreamGroupsArrivalFn(pattern, ts, skip, tie, finish, stats)))
  }

  /** The per-key state-transition function behind [[matchStreamGroups]]
    * (and, shaped to first-event maps, [[matchStreamFn]]). */
  def matchStreamGroupsFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      shapeFn: (K, Map[String, Seq[E]]) => O,
      stats: HotKeyStats = null):
      (K, Iterator[E], GroupState[Vector[Partial[E]]]) => Iterator[O] =
    (k: K, it: Iterator[E], state: GroupState[Vector[Partial[E]]]) => {
      if (state.hasTimedOut) {
        val w = pattern.withinMs.get
        val wm = state.getCurrentWatermarkMs()
        // deferred completed matches never expire; expiring their
        // blockers may release them, and a terminal-notFollowedBy gate
        // confirms entries whose horizon passed — all inside runSorted's
        // watermark advance
        val (outs, remaining) = runSorted(k, Iterator.empty, ts, pattern,
          state.getOption.getOrElse(Vector.empty),
          shapeFn, flushAtEnd = false, skip, tie, advanceTo = Some(wm))
        val liveStarts = remaining.filter(!_.completed).map(_.startTs)
        if (remaining.isEmpty) state.remove()
        else {
          state.update(remaining)
          // completed-only residue is impossible: with no live partial
          // or gate entry the drain emits everything, so liveStarts
          // (which includes gate entries) is non-empty here
          state.setTimeoutTimestamp(liveStarts.min + w)
        }
        outs.iterator
      } else {
        val partials = state.getOption.getOrElse(Vector.empty)
        val (outs, remaining) = runSorted(k, it, ts, pattern, partials,
          shapeFn, flushAtEnd = false, skip, tie, stats = stats)
        if (remaining.isEmpty) state.remove()
        else {
          state.update(remaining)
          pattern.withinMs.foreach { w =>
            val liveStarts = remaining.filter(!_.completed).map(_.startTs)
            if (liveStarts.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(liveStarts.min + w, state.getCurrentWatermarkMs() + 1))
          }
        }
        outs.iterator
      }
    }

  private def runSorted[K, E, O](k: K, it: Iterator[E],
      ts: E => Long, pattern: Pattern[E], init: Vector[Partial[E]],
      finish: (K, Map[String, Seq[E]]) => O,
      flushAtEnd: Boolean,
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L,
      onExpired: (Partial[E], Long) => Option[O] =
        (_: Partial[E], _: Long) => None,
      advanceTo: Option[Long] = None,
      stats: HotKeyStats = null)
      : (Vector[O], Vector[Partial[E]]) = {
    val names = pattern.steps.map(_.name)
    // ListMap: the capture map iterates in PATTERN DECLARATION order,
    // like the reference's LinkedHashMap (NFAITCase
    // testNFAResultKeyOrdering); lookups stay O(steps), tiny
    def shape(m: Vector[Vector[E]]): O =
      finish(k, scala.collection.immutable.ListMap(
        names.zip(m.map(_.toSeq)): _*))
    val outs = Vector.newBuilder[O]
    // skip strategies run the reference's deferred-emission queue;
    // NoSkip stays on the allocation-free immediate path
    val sq = if (skip == NoSkip) null else new SkipQueue[E](skip, names, ts)
    // terminal negation runs the pending-emission gate; patterns without
    // one stay on the gate-free path
    val gate = pattern.terminalNot match {
      case Some(p) => new NegGate[E, Partial[E]](p, pattern.terminalNotNext,
        pattern.withinMs, _.startTs)
      case None => null
    }
    var partials = init
    if (gate != null && init.exists(_.negPending)) {
      val (pend, live) = partials.partition(_.negPending)
      gate.add(pend)
      partials = live
    }
    // a confirmed match emits immediately (NoSkip) or joins the skip queue
    def feedMatch(m: Vector[Vector[E]]): Unit =
      if (sq == null) outs += shape(m) else sq.add(Vector(m))
    def confirmGated(p: Partial[E]): Unit = feedMatch(p.groups)
    def expireCb(p: Partial[E], at: Long): Unit =
      onExpired(p, at).foreach(outs += _)
    // drain the skip queue; gate entries are live blockers and are pruned
    // by emission boundaries like any partial
    def drainSq(): Unit = if (sq != null) {
      if (gate == null || gate.isEmpty)
        partials = sq.drain(partials, m => outs += shape(m))
      else {
        val merged = sq.drain(partials ++ gate.toState,
          m => outs += shape(m))
        val (pend, live) = merged.partition(_.negPending)
        partials = live
        gate.prunedTo(pend)
      }
    }
    // surface expired partials as time advances to `t`, and let the gate
    // confirm/expire its pending entries at the same boundary
    def timeAdvance(t: Long): Unit = {
      if (gate != null) gate.onTime(t, confirmGated, expireCb)
      pattern.withinMs.foreach { w =>
        if (!partials.forall(p => t - p.startTs < w)) {
          val (expired, kept) = partials.partition(p => t - p.startTs >= w)
          expired.foreach(p => expireCb(p, t))
          partials = kept
        }
      }
    }
    if (sq != null && partials.exists(_.completed)) {
      val (done, live) = partials.partition(_.completed)
      done.foreach(p => sq.restore(p.groups))
      partials = live
      // a blocker may have expired between batches: release what this
      // batch can already
      drainSq()
    }
    // watermark advance between batches (the streaming timeout path):
    // prune/confirm before any event of this batch
    advanceTo.foreach { t => timeAdvance(t); drainSq() }
    val sorted = it.toVector.sortBy(e => (ts(e), tie(e)))
    var statMaxPartials = 0
    sorted.foreach { e =>
      // advanceTime-before-process (NFA.advanceTime called per event in
      // the reference): surface expired partials before the transition.
      // Timeout outputs land in the SAME buffer as matches, so the two
      // channels interleave at their actual event-time positions.
      val t = ts(e)
      timeAdvance(t)
      // the event decides every pending gate entry before transitioning
      if (gate != null) gate.onEvent(e, confirmGated)
      val (next, matches) = advance(pattern, partials, e, t)
      partials = next
      if (stats != null && partials.size > statMaxPartials)
        statMaxPartials = partials.size
      // an all-empty match (degenerate but total) starts at this event
      if (gate != null) gate.add(matches.map { m =>
        val start = m.iterator.flatten.nextOption().map(ts).getOrElse(t)
        Partial(start, m, runOpen = false, negPending = true)
      })
      else if (sq == null) matches.foreach(m => outs += shape(m))
      else sq.add(matches)
      // expiry above may also have unblocked earlier-queued matches
      drainSq()
    }
    if (stats != null) {
      stats.maxKeyEvents.add(sorted.size.toLong)
      stats.maxPartials.add(statMaxPartials.toLong)
    }
    // end-of-input needs no NFA flush: final-step loops emit every
    // satisfied length as it forms. Batch end kills open partials, which
    // releases every still-deferred match (pruning applies in order).
    if (flushAtEnd) {
      if (gate != null) gate.flushEnd(confirmGated)
      partials = Vector.empty
      if (sq != null) sq.drain(Vector.empty, m => outs += shape(m))
    } else {
      // streaming: still-blocked matches and gate-pending entries persist
      if (sq != null && !sq.isEmpty) partials = partials ++ sq.toState
      if (gate != null && !gate.isEmpty) partials = partials ++ gate.toState
    }
    (outs.result(), partials)
  }

  /** Reference-exact after-match machinery
    * (NFA.processMatchesAccordingToSkipStrategy): completed matches wait
    * in a start-ordered queue and are emitted only when NO live partial
    * started earlier (ties emit — the reference's `isEarlier` is <=);
    * each emission prunes BOTH the open partials and the still-queued
    * matches by the strategy's boundary (SkipPastLastEvent: start <= last
    * event of the emitted match; SkipToFirst/Last: start < first/last
    * event of the named step's group, no pruning when the group is
    * empty). This deferral is observable: a match completed while an
    * earlier-started partial is still live must NOT define a pruning
    * boundary yet — if the earlier partial later completes, it emits
    * first and may prune differently (AfterMatchSkipITCase
    * testSkipBeforeOtherAlreadyCompleted). Run by the linear library
    * drivers ([[runSorted]]); the group engine's twin is
    * `GroupCep.GroupSkipQueue`. NoSkip bypasses the queue entirely
    * (matches emit as they form — the allocation-free default).
    */
  final class SkipQueue[E](skip: AfterMatchSkip, names: Vector[String],
      ts: E => Long) {
    private var pending = Vector.empty[Vector[Vector[E]]] // sorted by start

    private def startOf(m: Vector[Vector[E]]): Long =
      m.flatten.headOption.map(ts).getOrElse(Long.MinValue)

    def add(matches: Vector[Vector[Vector[E]]]): Unit =
      if (matches.nonEmpty)
        pending = (pending ++ matches).sortBy(startOf) // stable: ties keep
          // creation order, the analog of the EventId sequence tiebreak

    /** Restore a deferred match from streaming state. */
    def restore(m: Vector[Vector[E]]): Unit = pending = pending :+ m

    def isEmpty: Boolean = pending.isEmpty

    /** Deferred matches still blocked by a live partial — persisted into
      * streaming state as `completed` partials. */
    def toState: Vector[Partial[E]] =
      pending.map(m => Partial(startOf(m), m, runOpen = false,
        completed = true))

    /** Emit every queued match not blocked by a live partial, applying
      * the strategy's pruning to partials and queue per emission; returns
      * the surviving partials. */
    def drain(partials: Vector[Partial[E]],
        emit: Vector[Vector[E]] => Unit): Vector[Partial[E]] = {
      var ps = partials
      var minStart =
        if (ps.isEmpty) Long.MaxValue else ps.iterator.map(_.startTs).min
      while (pending.nonEmpty && startOf(pending.head) <= minStart) {
        val m = pending.head
        pending = pending.tail
        emit(m)
        skip match {
          case SkipPastLastEvent =>
            val boundary = m.flatten.iterator.map(ts).max
            ps = ps.filter(_.startTs > boundary)
            pending = pending.filter(startOf(_) > boundary)
          case SkipToFirst(name) =>
            val idx = names.indexOf(name)
            val g = if (idx >= 0) m(idx) else Vector.empty
            if (g.nonEmpty) {
              val b = ts(g.head)
              ps = ps.filter(_.startTs >= b)
              pending = pending.filter(startOf(_) >= b)
            }
          case SkipToLast(name) =>
            val idx = names.indexOf(name)
            val g = if (idx >= 0) m(idx) else Vector.empty
            if (g.nonEmpty) {
              val b = ts(g.last)
              ps = ps.filter(_.startTs >= b)
              pending = pending.filter(startOf(_) >= b)
            }
          case NoSkip => ()
        }
        minStart =
          if (ps.isEmpty) Long.MaxValue else ps.iterator.map(_.startTs).min
      }
      ps
    }
  }

  /** Terminal-negation gate: holds matches that completed every CONSUMING
    * step of a pattern ending in notFollowedBy/notNext, pending the
    * negation's verdict (the reference compiles terminal notNext to an
    * IGNORE edge into Final guarded by !pred — NFACompiler.java:239-245;
    * terminal notFollowedBy is our within-gated extension, matching the
    * semantics Flink later standardized in 1.14 / FLINK-23958).
    *
    *  - notNext (`nextOnly`): the NEXT event decides every pending entry —
    *    banned kills, anything else emits. An entry that never sees a
    *    following event never emits; with `within`, an entry whose window
    *    passes first expires like a partial (timeout channel).
    *  - notFollowedBy: a banned event inside the window kills; the window
    *    horizon passing emits. Batch end-of-input emits all pending.
    *
    * Generic over the pending-match representation `M` (`startOf` reads
    * an entry's window start): the linear drivers ([[runSorted]]) hold
    * `negPending` [[Partial]]s, so entries count as LIVE partials for
    * [[SkipQueue]] blocking/pruning and persist in streaming state as
    * they are; the planned [[graft.plans.GroupCepPlan.GroupCepExec]]
    * holds its group captures directly. */
  final class NegGate[E, M](ban: E => Boolean, nextOnly: Boolean,
      withinMs: Option[Long], startOf: M => Long) {
    private var pending = Vector.empty[M]

    def isEmpty: Boolean = pending.isEmpty

    /** Queue this round's completed matches (and, streaming, entries
      * restored from state). */
    def add(matches: Vector[M]): Unit =
      if (matches.nonEmpty) pending = pending ++ matches

    /** Time advances to `t` (a new event's time, or the watermark):
      * notFollowedBy entries whose horizon passed emit via `confirm`;
      * notNext entries whose window passed expire via `expire`. */
    def onTime(t: Long, confirm: M => Unit, expire: (M, Long) => Unit): Unit =
      withinMs.foreach { w =>
        if (!pending.forall(p => t - startOf(p) < w)) {
          val (ripe, rest) = pending.partition(p => t - startOf(p) >= w)
          pending = rest
          if (nextOnly) ripe.foreach(p => expire(p, t))
          else ripe.foreach(confirm)
        }
      }

    /** An event arrives (after [[onTime]], before the NFA transition):
      * every pending entry predates it, so it decides them all. */
    def onEvent(e: E, confirm: M => Unit): Unit =
      if (pending.nonEmpty) {
        if (ban(e)) pending = Vector.empty
        else if (nextOnly) {
          pending.foreach(confirm)
          pending = Vector.empty
        } // notFollowedBy: unbanned events pass; the horizon decides
      }

    /** Batch end-of-input: time advances past every horizon with no more
      * events — notFollowedBy entries emit, notNext entries never can. */
    def flushEnd(confirm: M => Unit): Unit = {
      if (!nextOnly) pending.foreach(confirm)
      pending = Vector.empty
    }

    /** Pending entries as state/skip-blocker rows. */
    def toState: Vector[M] = pending

    /** Accept the survivors of a [[SkipQueue]] pruning pass. */
    def prunedTo(survivors: Vector[M]): Unit = pending = survivors
  }
}
