package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.GroupState

/** Complex-event-processing subset: the reference's CEP pattern DSL
  * (flink-cep Pattern.java:123-474 — begin/next/followedBy/where/within,
  * CEP.pattern CEP.java:38). A [[Cep.Pattern]] compiles onto the
  * [[GroupCep]] epsilon-NFA — the engine's one CEP NFA,
  * as the reference compiles every pattern through one NFACompiler — and
  * every driver below runs it inside `flatMapGroups` /
  * `flatMapGroupsWithState`: Spark has no MATCH_RECOGNIZE, so the
  * pattern engine is a library operator over keyed state, exactly as
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
  * ascending-timestamp sources). Event identity is the reference's
  * SharedBuffer EventId: every driver tags each event with its per-key
  * arrival ordinal, so two value-identical events at one timestamp are
  * distinct computation states.
  *
  * Scale: state per key = open partial matches only (bounded by `within`
  * pruning); keys shard across the cluster's state store.
  */
object Cep {

  /** One DSL step as the pattern records it; [[Pattern.toGroup]]
    * compiles the sequence onto the group NFA. */
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
      * Pattern.java:319). */
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
      * extension also leaves the shorter run free to transition later —
      * flink-cep's default quantifier semantics (our default stays
      * greedy: the maximal-run guard, see [[toGroup]]). */
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

    private[Cep] def validated: Pattern[E] = {
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

    /** Compile onto the group NFA. Each step becomes a leaf (`next` →
      * STRICT, `followedBy` → TILL_NEXT, `followedByAny` → TILL_ANY); a
      * quantified or optional step becomes a singleton group whose loop
      * contiguity is STRICT (`consecutive`, the DSL default), TILL_NEXT
      * (`relaxed`) or TILL_ANY (`allowCombinations`). The DSL's greedy
      * default on a loop that is not the last step is the group's
      * maximal-run guard ([[GroupCep.GGroup]]`.maximal`); `allPrefixes`
      * and combination loops set none. A notFollowedBy/notNext becomes a
      * negative element before the step it guards, or — at the end —
      * terminal negation. */
    private[graft] def toGroup: GroupCep.GPattern[E] = {
      import GroupCep.{GGroup, GLeaf, GNot, Strict, TillAny, TillNext}
      validated
      val last = steps.size - 1
      val elems = Vector.newBuilder[GroupCep.GElem[E]]
      steps.zipWithIndex.foreach { case (s, i) =>
        s.negPred.foreach(np => elems += GNot(s.name, np, s.negNextOnly))
        val mode = if (i == 0) TillNext else if (s.strict) Strict
                   else if (s.anyMatch) TillAny else TillNext
        val leaf = GLeaf[E](s.name, s.pred, TillNext, s.ctxPred.orNull)
        elems += (
          if (s.maxReps == 1 && !s.optional) leaf.copy(mode = mode)
          else GGroup[E](Vector(leaf), mode, s.minReps, s.maxReps, s.optional,
            if (s.combos) TillAny else if (s.relaxedReps) TillNext else Strict,
            s.untilPred,
            maximal = s.looping && !s.allPrefixes && !s.combos && i < last,
            untilCtx = s.untilCtxPred.orNull))
      }
      pendingNot.foreach(np => elems += GNot("", np, pendingNotNext))
      GroupCep.GPattern.of(elems.result(), withinMs)
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

  /** After-match skip strategies (flink-cep AfterMatchSkipStrategy):
    * NoSkip emits every match from every start (the default);
    * SkipPastLastEvent discards all open partials when a match completes,
    * so matches never overlap; SkipToFirst/SkipToLast discard the partials
    * that started strictly before the first/last event of the named step's
    * group in the completed match (AfterMatchSkipStrategy.skipToFirst/
    * skipToLast — partials at or after the boundary survive). A completed
    * match waits while an earlier-started partial is live (the
    * reference's deferred emission). Patterns ending in notFollowedBy/
    * notNext run NoSkip only. */
  sealed trait AfterMatchSkip extends Serializable
  case object NoSkip extends AfterMatchSkip
  case object SkipPastLastEvent extends AfterMatchSkip
  final case class SkipToFirst(stepName: String) extends AfterMatchSkip
  final case class SkipToLast(stepName: String) extends AfterMatchSkip

  /** Step name → first event of the step's group (steps that captured
    * nothing are absent). */
  private def firstEvents[E](groups: Map[String, Seq[E]]): Map[String, E] =
    groups.filter(_._2.nonEmpty).view.mapValues(_.head).toMap

  /** Run a pattern over a batch Dataset: one event-time-sorted scan per
    * key. `finish` shapes (key, step-name → first event of the step's
    * group) into the output row; use [[matchBatchGroups]] to see full
    * repetition groups. `tie` breaks event-time ties deterministically
    * (e.g. an event id) — without it, same-timestamp events are fed to
    * the NFA in shuffle order, which is nondeterministic across runs. */
  def matchBatch[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L)(
      finish: (K, Map[String, E]) => O)(implicit ke: Encoder[K]): Dataset[O] =
    matchBatchGroups(ds, key, ts, pattern, skip, tie) { (k, groups) =>
      finish(k, firstEvents(groups))
    }

  /** Like [[matchBatch]] but exposing every matched event per step —
    * required for quantified steps (times/oneOrMore). Runs
    * [[GroupCep.matchBatchGroups]] on the compiled pattern; `stats`
    * reports the hottest key run. */
  def matchBatchGroups[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L,
      stats: HotKeyStats = null)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] =
    GroupCep.matchBatchGroups(ds, key, ts, pattern.toGroup, tie, skip,
      stats)(finish)

  /** Pure bounded-run driver over pre-timestamped events — the batch
    * driver's per-key semantics (arrival identity, skip queue, terminal
    * negation, within pruning) without Spark; same-timestamp events keep
    * their input order (the reference's feedNFA contract). Returns
    * (matches as per-step groups in step order, branches still open at
    * the end over the arrival-tagged events). Exposed for conformance
    * specs. */
  private[graft] def runMatches[E](pattern: Pattern[E],
      events: Seq[(E, Long)], skip: AfterMatchSkip = NoSkip):
      (Vector[Vector[Vector[E]]], Vector[GroupCep.GConf[(E, Long)]]) = {
    val names = pattern.steps.map(_.name)
    val (ms, confs) = GroupCep.runKeyTimed(events, pattern.toGroup, skip)
    (ms.map(g => names.map(n => g.getOrElse(n, Seq.empty).toVector)), confs)
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

  /** Run a pattern over a streaming Dataset: partials persist in keyed
    * state across micro-batches ([[GroupCep.GArrivalState]], whose
    * per-key arrival counter keeps value-identical events distinct
    * across batches); final greedy runs stay pending until a breaking
    * event arrives (documented subset).
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
      implicit ke: Encoder[K]): Dataset[O] =
    GroupCep.streamDriver(ds, key, pattern.withinMs,
      matchStreamFn(pattern, ts, skip, tie, finish))

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
    * chain); under TILL_NEXT the source is consumed on transition and
    * only the advanced partial reports. Within a micro-batch the two
    * channels interleave at their event-time positions (a timeout
    * expiring before a later match is emitted before it); timeouts fired
    * by watermark advance between batches surface at the head of the
    * batch that observes them, which is also when the reference's
    * advanceTime reports. */
  def matchStreamWithTimeouts[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L)(
      finish: (K, Map[String, E]) => O)(
      onTimeout: (K, Map[String, Seq[E]], Long) => O)(
      implicit ke: Encoder[K]): Dataset[O] =
    GroupCep.streamDriver(ds, key, pattern.withinMs,
      matchStreamWithTimeoutsFn(pattern, ts, skip, tie, finish, onTimeout))

  /** The state-transition function behind [[matchStreamWithTimeouts]]. */
  def matchStreamWithTimeoutsFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      finish: (K, Map[String, E]) => O,
      onTimeout: (K, Map[String, Seq[E]], Long) => O):
      (K, Iterator[E], GroupState[GroupCep.GArrivalState[E]]) =>
        Iterator[O] = {
    require(pattern.withinMs.isDefined,
      "matchStreamWithTimeouts requires a within() pattern")
    GroupCep.matchStreamArrivalFn(pattern.toGroup, ts, tie, skip,
      (k: K, groups: Map[String, Seq[E]]) => finish(k, firstEvents(groups)),
      onTimeout = onTimeout)
  }

  /** The per-key state-transition function behind [[matchStream]], exposed
    * so a TestGroupState harness can exercise the within-expiry timeout
    * path deterministically. */
  def matchStreamFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      finish: (K, Map[String, E]) => O):
      (K, Iterator[E], GroupState[GroupCep.GArrivalState[E]]) =>
        Iterator[O] =
    matchStreamGroupsFn(pattern, ts, skip, tie,
      (k: K, groups: Map[String, Seq[E]]) => finish(k, firstEvents(groups)))

  /** Like [[matchStream]] but exposing every matched event per step
    * (PatternStream.flatSelect) — required for quantified steps. Same
    * state model. */
  def matchStreamGroups[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = NoSkip,
      tie: E => Long = (_: E) => 0L,
      stats: HotKeyStats = null)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] =
    GroupCep.streamDriver(ds, key, pattern.withinMs,
      matchStreamGroupsFn(pattern, ts, skip, tie, finish, stats))

  /** The per-key state-transition function behind [[matchStreamGroups]]
    * (and, shaped to first-event maps, [[matchStreamFn]]). */
  def matchStreamGroupsFn[K, E, O](pattern: Pattern[E], ts: E => Long,
      skip: AfterMatchSkip, tie: E => Long,
      shapeFn: (K, Map[String, Seq[E]]) => O,
      stats: HotKeyStats = null):
      (K, Iterator[E], GroupState[GroupCep.GArrivalState[E]]) =>
        Iterator[O] =
    GroupCep.matchStreamArrivalFn(pattern.toGroup, ts, tie, skip, shapeFn,
      stats)

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
    * an entry's window start): [[GroupCep.KeyRun]] holds it for every
    * route, over exact capture vectors (persisted in streaming state) or
    * the planned exec's run-encoded captures. */
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

    /** Pending entries, persisted in streaming state. */
    def toState: Vector[M] = pending
  }
}
