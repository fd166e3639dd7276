package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** CEP pattern GROUPS (reference: flink-cep GroupPattern.java — patterns
  * whose elements are themselves patterns, quantifiable as a unit:
  * `c (a b){2} d`, `c (a (b c){3}){0,2} e`, …) re-expressed as a
  * recursive epsilon-NFA, conformance-pinned by verbatim ports of
  * flink-cep/src/test/java/.../nfa/GroupITCase.java.
  *
  * This is the engine's one CEP NFA: the flink-cep DSL (`Cep.Pattern`
  * compiles onto it), every MATCH_RECOGNIZE clause (flat ones are
  * sequences of singleton leaves) and the planned
  * [[graft.plans.GroupCepPlan]] operator all run it. It mirrors the
  * reference compiler's state-graph semantics
  * (NFACompiler.java:createGroupPatternState /
  * createLoopingGroupPatternState) directly as a tree walk:
  *
  *  - each element boundary carries a consuming mode: STRICT (`next`, no
  *    ignore edge), TILL_NEXT (`followedBy`, ignore = non-matching events
  *    only — the waiting branch is consumed by its first take), TILL_ANY
  *    (`followedByAny`, ignore = all events — the waiting branch survives
  *    its own takes and can re-fire later; NFACompiler.getIgnoreCondition);
  *  - a group's first step takes the GROUP's mode on entry and the group's
  *    LOOP mode on repetition re-entry (`consecutive()` → STRICT,
  *    `allowCombinations()` → TILL_ANY, default TILL_NEXT;
  *    getInnerIgnoreCondition / isCurrentGroupPatternFirstOfLoop);
  *  - completing a group's last element forks: exit (reps >= min) and/or
  *    loop back (reps < max) — which is why `(a b)+ d` emits every
  *    repetition count, not just the maximal one (GroupITCase
  *    testGroupFollowedByOneOrMore);
  *  - `until` on a quantified group conjoins NOT(until) onto every take
  *    AND ignore edge inside that group (extendWithUntilCondition), so an
  *    until-event kills all in-group branches outright;
  *  - `notFollowedBy` attaches a persistent stop condition to the entry of
  *    the following element (branch dies if the banned event arrives
  *    before that element takes); `notNext` stops only while the branch
  *    has not yet ignored an event (NFACompiler.createMiddleStates);
  *  - a top-level trailing `notFollowedBy`/`notNext` is TERMINAL
  *    negation: completed matches wait at a [[Cep.NegGate]] in
  *    [[KeyRun]] (notNext: the next event decides; notFollowedBy
  *    needs `within` and emits at the window horizon).
  */
object GroupCep {

  // consuming modes (Quantifier.ConsumingStrategy)
  final val Strict = 0
  final val TillNext = 1
  final val TillAny = 2

  /** ITERATIVE condition (IterativeCondition.java:59): the predicate also
    * sees the events this branch has captured so far, step name →
    * events in capture order (every step present, empty until entered). */
  type CtxPred[E] = (E, Map[String, Seq[E]]) => Boolean

  // greedy guard kinds: the reference's guard (any event the loop could
  // take kills the post-loop branch, even one it would take itself), and
  // the flink-cep DSL's maximal-run guard, which only kills a branch that
  // IGNORES such an event and lapses with the loop branch it shadows —
  // after one ignored event when that loop branch is strict, at the
  // loop's until event when it is relaxed
  private[streaming] final val GuardRef = 0
  private[streaming] final val GuardOnce = 1
  private[streaming] final val GuardUntil = 2

  /** Pattern element: a named step, a quantified sub-pattern, or a
    * negative (stop) condition. `mode` is the boundary contiguity to the
    * PREVIOUS element. `ctxPred`, when set, replaces `pred`. */
  sealed trait GElem[E]
  final case class GLeaf[E](name: String, pred: E => Boolean, mode: Int,
      ctxPred: CtxPred[E] = null) extends GElem[E]
  /** `greedy` is the reference's prefer-longer guard ([[GPattern.greedy]]);
    * `maximal` is the flink-cep DSL's greedy default (`Cep.Pattern`):
    * the post-loop branch dies when the loop extends on an event it did
    * not take itself. `untilCtx` is an iterative `until`. */
  final case class GGroup[E](elems: Vector[GElem[E]], mode: Int,
      min: Int, max: Int, optional: Boolean, loopMode: Int,
      untilPred: Option[E => Boolean],
      greedy: Boolean = false,
      relMark: Boolean = false,
      maximal: Boolean = false,
      untilCtx: CtxPred[E] = null) extends GElem[E]
  final case class GNot[E](name: String, pred: E => Boolean,
      nextOnly: Boolean) extends GElem[E]
  /** Alternation `(b1 | b2 | ...)`: exactly one branch matches (SQL:2016
    * MATCH_RECOGNIZE alternation; the reference's 1.7 NFACompiler builds
    * the same fork from Calcite's LogicalMatch). Branch preference is
    * leftmost-first: the NFA forks branches in declaration order, so
    * emission order — and therefore which match an AFTER MATCH SKIP
    * strategy keeps when two branches complete together — follows the
    * SQL:2016 preference order. The builder always wraps a GAlt in a
    * singleton GGroup, so every quantifier composes unchanged. */
  final case class GAlt[E](branches: Vector[Vector[GElem[E]]], mode: Int)
      extends GElem[E]

  /** Builder mirroring the reference's Pattern/GroupPattern surface.
    * Quantifiers apply to the last appended element; a quantified plain
    * step is wrapped into a singleton group (same NFA shape the reference
    * compiles it to). */
  final class GPattern[E] private[GroupCep] (
      val elems: Vector[GElem[E]], val withinMs: Option[Long],
      private[GroupCep] val reluctantSel: Boolean = false,
      private[GroupCep] val deferSel: Boolean = false,
      private[GroupCep] val greedySel: Boolean = false,
      // set by liftG only: events carry unique arrival tags, so no two
      // distinct events ever compare equal — a precondition of the
      // noEpsilonDup dedup skip (value-identity drivers CAN mint equal
      // branches from duplicate input rows and still need the dedup)
      private[GroupCep] val arrivalTagged: Boolean = false) {

    private def append(e: GElem[E]) =
      new GPattern(elems :+ e, withinMs, reluctantSel, deferSel, greedySel,
        arrivalTagged)

    def followedBy(name: String)(pred: E => Boolean): GPattern[E] =
      append(GLeaf(name, pred, TillNext))
    def next(name: String)(pred: E => Boolean): GPattern[E] =
      append(GLeaf(name, pred, Strict))
    def followedByAny(name: String)(pred: E => Boolean): GPattern[E] =
      append(GLeaf(name, pred, TillAny))
    def followedBy(sub: GPattern[E]): GPattern[E] =
      append(GGroup(sub.elems, TillNext, 1, 1, optional = false, TillNext, None))
    def next(sub: GPattern[E]): GPattern[E] =
      append(GGroup(sub.elems, Strict, 1, 1, optional = false, TillNext, None))
    def followedByAny(sub: GPattern[E]): GPattern[E] =
      append(GGroup(sub.elems, TillAny, 1, 1, optional = false, TillNext, None))
    def followedBy(alts: Seq[GPattern[E]]): GPattern[E] =
      append(GroupCep.altGroup(alts, TillNext))
    def next(alts: Seq[GPattern[E]]): GPattern[E] =
      append(GroupCep.altGroup(alts, Strict))
    def followedByAny(alts: Seq[GPattern[E]]): GPattern[E] =
      append(GroupCep.altGroup(alts, TillAny))
    def notFollowedBy(name: String)(pred: E => Boolean): GPattern[E] =
      append(GNot(name, pred, nextOnly = false))
    def notNext(name: String)(pred: E => Boolean): GPattern[E] =
      append(GNot(name, pred, nextOnly = true))

    private def quantified(f: GGroup[E] => GGroup[E]): GPattern[E] = {
      val g = elems.last match {
        case g: GGroup[E] => g
        case l: GLeaf[E] =>
          GGroup[E](Vector(l.copy(mode = TillNext)), l.mode, 1, 1,
            optional = false, TillNext, None)
        case _: GNot[E] =>
          throw new IllegalArgumentException(
            "cannot quantify a notFollowedBy/notNext element")
        case _: GAlt[E] => throw new IllegalStateException(
          "alternation is always group-wrapped by the builder")
      }
      new GPattern(elems.init :+ f(g), withinMs, reluctantSel, deferSel,
        greedySel, arrivalTagged)
    }

    def times(n: Int): GPattern[E] = {
      require(n >= 1, "times(n) requires n >= 1")
      quantified(_.copy(min = n, max = n))
    }
    def times(from: Int, to: Int): GPattern[E] = {
      require(from >= 0 && to >= from && to >= 1,
        "times(from, to) requires 0 <= from <= to, to >= 1")
      quantified(g => g.copy(min = math.max(from, 1), max = to,
        optional = g.optional || from == 0))
    }
    def oneOrMore: GPattern[E] =
      quantified(_.copy(min = 1, max = Int.MaxValue))
    def optional: GPattern[E] = quantified(_.copy(optional = true))
    def consecutive: GPattern[E] = quantified(_.copy(loopMode = Strict))
    def allowCombinations: GPattern[E] = quantified(_.copy(loopMode = TillAny))
    def until(pred: E => Boolean): GPattern[E] =
      quantified(_.copy(untilPred = Some(pred)))
    /** Prefer-longer repetition (reference Pattern.greedy / NFACompiler
      * updateWithGreedyCondition): every transition of the state FOLLOWING
      * the loop is conjoined with NOT(loop take), so a branch that exited
      * the loop dies on any event the loop could have consumed — only the
      * maximal run reaches the rest of the pattern. */
    def greedy: GPattern[E] = quantified { g =>
      require(g.loopMode != TillAny,
        "Option not applicable to FollowedByAny pattern")
      g.copy(greedy = true)
    }
    /** Mark the LAST quantified element RELUCTANT for
      * [[greedySelect]]'s per-quantifier polarity (SQL:2016 mixed
      * `B+ C+?` ranking): a marked quantifier prefers FEWER
      * repetitions where unmarked ones prefer more. Only consulted in
      * greedy-select mode — the all-reluctant [[reluctant]] mode
      * ignores it. */
    def markReluctant: GPattern[E] = quantified(_.copy(relMark = true))
    def within(ms: Long): GPattern[E] =
      new GPattern(elems, Some(ms), reluctantSel, deferSel, greedySel,
        arrivalTagged)

    /** Events carry unique arrival identity WITHOUT [[liftG]] — the
      * planned exec tags rows itself (`(row, arrSeq)`) and marks its
      * pattern here, LAST, right before compile (the transformer
      * methods propagate the flag, but marking late keeps the
      * invariant obvious). See [[Compiled.noEpsilonDup]]. */
    private[graft] def withArrivalIdentity: GPattern[E] =
      new GPattern(elems, withinMs, reluctantSel, deferSel, greedySel,
        arrivalTagged = true)

    /** Force DEFERRED reluctant selection even without alternation —
      * the anchored-batch driver needs every candidate buffered (the
      * first completion may fail an anchor a longer one passes), so the
      * in-advance shortest-per-start kill must not fire. */
    private[graft] def deferredReluctant: GPattern[E] =
      new GPattern(elems, withinMs, reluctantSel, deferSel = true,
        greedySel = greedySel, arrivalTagged = arrivalTagged)

    /** SQL:2016 RELUCTANT selection for the pattern's SINGLE quantified
      * element (MATCH_RECOGNIZE `B+?`, `(A B)+?`): per match start, only
      * the most PREFERRED completion is emitted. Without alternation,
      * preference order equals completion order (candidates from one start differ
      * only in repetition count over a fixed-length body, so fewer reps
      * always completes first) and the drivers emit the first completion
      * per start, killing the longer same-start branches immediately.
      * WITH alternation (round 10 — `(A|BB){1,2}?`, PERMUTE under a
      * reluctant quantifier, or alternation elsewhere in the pattern),
      * branch lengths differ, so a less-preferred candidate can
      * complete FIRST (`(AA|B)+? E`: the B-branch completes before the
      * preferred leftmost AA-branch); the drivers then DEFER each
      * start's emission until no open branch with that start remains
      * and pick by the SQL:2016 lexicographic preference rule
      * ([[GroupCep.prefer]]: at the first diverging consumed slot,
      * exiting the reluctant loop beats staying in it — fewer reps —
      * and otherwise the lower slot id wins — the leftmost
      * alternative). Exact in batch AND streaming (deferred candidates
      * ride keyed state). Requires NoSkip in the drivers. */
    /** Structural validators shared by the two selection modes. A
      * group is a DECISION POINT when its repetition/optionality gives
      * the derivation a choice. */
    private def quantCount(es: Vector[GElem[E]]): Int = es.map {
      case g: GGroup[E] =>
        (if (g.min != g.max || g.max > 1 || g.optional) 1 else 0) +
          quantCount(g.elems)
      case a: GAlt[E] => a.branches.map(quantCount).sum
      case _ => 0
    }.sum
    private def nestedQuant(es: Vector[GElem[E]]): Boolean = es.exists {
      case g: GGroup[E] =>
        val self = g.min != g.max || g.max > 1 || g.optional
        (self && quantCount(g.elems) > 0) || nestedQuant(g.elems)
      case a: GAlt[E] => a.branches.exists(nestedQuant)
      case _ => false
    }
    /** Strict contiguity throughout ⇒ a branch's captures are one
      * contiguous arrival-tag span — the [[SpanCaps]] precondition. */
    private[GroupCep] def allStrictPattern: Boolean = allStrict(elems)
    private def allStrict(es: Vector[GElem[E]]): Boolean =
      es.zipWithIndex.forall {
        case (g: GGroup[E], i) =>
          // loop contiguity only matters when the group can repeat
          (i == 0 || g.mode == Strict) &&
            (g.max <= 1 || g.loopMode == Strict) &&
            allStrict(g.elems)
        case (l: GLeaf[E], i) => i == 0 || l.mode == Strict
        case (al: GAlt[E], i) =>
          (i == 0 || al.mode == Strict) && al.branches.forall(allStrict)
        case (_, _) => true
      }

    def reluctant: GPattern[E] = {
      val n = quantCount(elems)
      require(n >= 1,
        "a reluctant pattern needs at least one quantified element")
      // round 11: SEVERAL quantified elements compose — every one is
      // ranked reluctant and [[GroupCep.prefer]] walks the structural
      // decision lattice ([[Compiled.slotPath]]): alternation levels
      // prefer the leftmost branch, sequence levels prefer the exit —
      // so alternation/PERMUTE compose with multiple quantifiers too
      // (branch preference dominates in-branch loops).
      //
      // PERMANENT structural limit (round 13): a quantifier NESTED
      // inside another quantified group. Three arguments:
      //  1. The slot path is static per slot, but under nesting the
      //     decision a capture represents depends on WHICH outer
      //     repetition it sits in — e.g. in `(A+? B)+?`, "took another
      //     A" can mean continuing iteration i's inner loop or opening
      //     iteration i+1, two decisions the first-divergence walk
      //     cannot tell apart without per-capture iteration ordinals.
      //  2. With ordinals, preference stops being PREFIX-STABLE across
      //     loop-back boundaries (a worse prefix can win on a later
      //     iteration's ordinal), which is the exact property the
      //     in-flight shortest-per-start kill and the dominated-branch
      //     pruning rest on — the machinery that keeps live branches
      //     ~O(starts). Full decision-sequence ranking means buffering
      //     every derivation per start: O(2^reps) worst-case, the 100x
      //     scale-killer this engine exists to avoid.
      //  3. No reference behavior exists to match: the reference's own
      //     MATCH_RECOGNIZE (Calcite-fronted) rejects nested quantifier
      //     rankings too, and its DSL has no reluctance ranking at all
      //     (emission is all-prefixes).
      if (n > 1) {
        require(!nestedQuant(elems),
          "multiple reluctant quantifiers must be sibling elements " +
            "(a quantifier nested inside a quantified group is a " +
            "documented-permanent rejection: per-repetition ranking " +
            "breaks the prefix-stable preference the O(starts) " +
            "selection machinery requires — see the scaladoc)")
        // PERMANENT (round 13): the in-flight shortest-per-start fold
        // is provably safe only under STRICT adjacency — same-start
        // candidates then consume the same event at every capture
        // position, so first-divergence ranking is well-defined and
        // the preferred candidate completes first. Under relaxed
        // contiguity candidates at one capture position hold DIFFERENT
        // events (one skipped, one took), the per-event completion
        // minima stop being monotone, and the kill-at-first-completion
        // proof (round 11) fails — correctness would require buffering
        // every same-start candidate to end-of-run, the O(candidates)
        // memory the anchored driver pays only because anchors are
        // batch-only and rare. SQL MATCH_RECOGNIZE concatenation is
        // strict adjacency, so the SQL surface is unaffected; only the
        // DSL's followedBy+reluctant mix is rejected, by name.
        require(allStrict(elems),
          "multiple reluctant quantifiers require strict contiguity " +
            "(next/consecutive) throughout the pattern — the " +
            "MATCH_RECOGNIZE adjacency; relaxed followedBy is a " +
            "documented-permanent rejection (see the scaladoc)")
      }
      new GPattern(elems, withinMs, reluctantSel = true, deferSel,
        greedySel = false, arrivalTagged = arrivalTagged)
    }

    /** SQL:2016 STRICT GREEDY selection (round 11 — the mode that
      * closes the engine's one documented emission deviation): default
      * SQL quantifiers are GREEDY and a pattern yields ONE match per
      * start — the lexicographically MAXIMAL derivation — where the
      * flink-cep emission this engine otherwise follows reports every
      * satisfied repetition count. Same machinery as [[reluctant]]
      * with the polarity flipped: selection is always DEFERRED (a
      * longer, more-preferred completion arrives after a shorter one),
      * candidates fold through [[GroupCep.prefer]] whose sequence-level
      * rule prefers STAYING in the earlier loop (lower child index),
      * alternation still prefers the leftmost branch, and a strict
      * prefix prefers the LONGER candidate. Dominated open branches
      * prune exactly as for reluctant (the preference is prefix-stable
      * under either polarity). Same structural preconditions: >= 1
      * quantified element, sibling quantifiers only, strict
      * contiguity; incompatible with [[reluctant]] (per-quantifier
      * mixed polarity is the named remaining rejection) and with the
      * DSL's [[greedy]] guard-kill groups (a different, branch-killing
      * mechanism). On an unbounded stream a start resolves only when
      * no branch sharing it remains live (batch resolves at end of
      * input) — `within` horizons bound the wait. */
    def greedySelect: GPattern[E] = {
      require(!reluctantSel,
        "greedySelect and reluctant are mutually exclusive selection " +
          "modes (per-quantifier polarity rides markReluctant instead)")
      def anyGuard(es: Vector[GElem[E]]): Boolean = es.exists {
        case g: GGroup[E] => g.greedy || anyGuard(g.elems)
        case a: GAlt[E] => a.branches.exists(anyGuard)
        case _ => false
      }
      require(quantCount(elems) >= 1,
        "a greedy-select pattern needs at least one quantified element")
      require(!nestedQuant(elems),
        "greedy-select quantifiers must be sibling elements")
      require(!anyGuard(elems),
        "greedySelect does not compose with the DSL's greedy " +
          "guard-kill groups")
      require(allStrict(elems),
        "greedySelect requires strict contiguity (next/consecutive) " +
          "throughout the pattern — the MATCH_RECOGNIZE adjacency")
      new GPattern(elems, withinMs, reluctantSel = false,
        deferSel = false, greedySel = true, arrivalTagged = arrivalTagged)
    }

    /** The trailing top-level negation, if the pattern ends in one. */
    private[GroupCep] def terminalNot: Option[GNot[E]] = elems.last match {
      case n: GNot[E] => Some(n)
      case _ => None
    }

    private[GroupCep] def validated: GPattern[E] = {
      terminalNot.foreach { n =>
        require(n.nextOnly || withinMs.isDefined,
          "NotFollowedBy is not supported as a last part of a Pattern! " +
            "(without within(); with within() the match emits at the " +
            "window horizon if no banned event arrived)")
        require(!reluctantSel && !greedySel,
          "terminal negation does not compose with a selection mode")
      }
      // recursive: a nested group ending in a negation would silently drop
      // it in compilation — the reference throws MalformedPatternException
      def validateSeq(es: Vector[GElem[E]]): Unit = {
        require(es.nonEmpty, "empty pattern")
        require(!es.head.isInstanceOf[GNot[_]],
          "a pattern (or group) cannot begin with notFollowedBy/notNext")
        require(!es.last.isInstanceOf[GNot[_]],
          "notFollowedBy/notNext must be followed by another pattern element")
        es.foreach {
          case g: GGroup[E] => validateSeq(g.elems)
          case a: GAlt[E] => a.branches.foreach(validateSeq)
          case _ => ()
        }
      }
      // a trailing optional element (`B?`, `B*`, `B{0,m}`, a whole-pattern
      // `A*`) is fine: its entry epsilon-walks on to completion, so the
      // zero-occurrence match emits the moment the mandatory prefix
      // completes (NFAITCase testEndWithOptional / testEndWithZeroOrMore)
      validateSeq(if (terminalNot.isDefined) elems.init else elems)
      this
    }
  }

  object GPattern {
    /** A pattern from an element tree built elsewhere (the DSL compile). */
    private[graft] def of[E](elems: Vector[GElem[E]],
        withinMs: Option[Long]): GPattern[E] = new GPattern(elems, withinMs)
    def begin[E](name: String)(pred: E => Boolean): GPattern[E] =
      new GPattern(Vector(GLeaf(name, pred, TillNext)), None)
    def begin[E](sub: GPattern[E]): GPattern[E] =
      new GPattern(Vector(GGroup(sub.elems, TillNext, 1, 1,
        optional = false, TillNext, None)), None)
    def begin[E](alts: Seq[GPattern[E]]): GPattern[E] =
      new GPattern(Vector(altGroup(alts, TillNext)), None)
  }

  /** Alternation wrapped in a singleton group, so quantifiers on the
    * alternation reuse the group loop machinery unchanged. */
  private def altGroup[E](alts: Seq[GPattern[E]], mode: Int): GGroup[E] = {
    require(alts.size >= 2, "alternation needs at least two branches")
    alts.foreach(a => require(a.withinMs.isEmpty,
      "within() belongs on the outer pattern, not an alternation branch"))
    GGroup(Vector(GAlt(alts.toVector.map(_.elems), TillNext)), mode, 1, 1,
      optional = false, TillNext, None)
  }

  // ---- compiled form: leaf slots + a parent-linked element tree ----

  private sealed trait Node
  private final case class SNode(slot: Int, mode: Int) extends Node
  private final case class GNode(id: Int, children: Vector[Node], mode: Int,
      min: Int, max: Int, optional: Boolean, loopMode: Int,
      untilIdx: Int, // untilIdx: index into untils, -1 = none
      greedy: Boolean, relMark: Boolean = false,
      maximal: Boolean = false) extends Node
  /** Alternation fork: entering it epsilon-enters every branch (in
    * declaration order — leftmost-preference falls out of conf/emission
    * ordering); completing ANY branch completes the node. Branches are
    * min=1/max=1 GNodes so the sibling walk and counter clearing reuse
    * the group machinery untouched. */
  private final case class ANode(branches: Vector[GNode], mode: Int)
      extends Node

  /** A frontier target after an epsilon walk: a slot to wait on (with its
    * consuming mode and group-repetition counters) or pattern completion.
    * `guard` >= 0 names a greedy group whose exit produced this target:
    * while waiting here, any event that loop could have consumed kills
    * the branch (NFACompiler updateWithGreedyCondition — NOT(take)
    * conjoined onto every transition of the loop's sink state);
    * `guardKind` says which greedy rule (see [[GuardRef]]). `stops` are
    * the negations this path carries past the optional groups it
    * skipped. */
  private final case class At(slot: Int, mode: Int, reps: Map[Int, Int],
      guard: Int = -1, guardKind: Int = GuardRef, stops: Long = 0L)

  final class Compiled[E] private[GroupCep] (pattern: GPattern[E])
      extends Serializable {
    private[GroupCep] val withinMs = pattern.withinMs
    private[GroupCep] val reluctantSel = pattern.reluctantSel
    private[GroupCep] val greedySel = pattern.greedySel
    /** Strict contiguity throughout the pattern: batch drivers may run
      * range-compressed [[SpanCaps]] captures (round 12) — every open
      * branch either takes an event or dies, so its captures form one
      * contiguous arrival-tag span and materialization-by-range is
      * exact. Relaxed boundaries (ignore edges) keep the exact vector. */
    private val allStrict = pattern.allStrictPattern
    private[graft] lazy val strictSpans: Boolean = allStrict && !iterative
    /** No epsilon walk can mint two IDENTICAL branches: with every
      * element a required leaf/group (no alternation forks, no
      * optional/min-0 entry skips, no TillAny re-fires), each target of
      * one succ call sits on a distinct slot and distinct source
      * branches always differ in captures — so the per-event outConfs
      * dedup pass (a tuple key + hash insert per branch per event) is
      * provably a no-op and is skipped. Completions keep their dedup:
      * they are rare and the reasoning there is subtler. */
    private[graft] val noEpsilonDup: Boolean = {
      def ok(el: GElem[E]): Boolean = el match {
        case l: GLeaf[E] => l.mode != TillAny
        case g: GGroup[E] => !g.optional && g.min >= 1 &&
          g.mode != TillAny && g.loopMode != TillAny && g.elems.forall(ok)
        case _: GNot[E] => true
        case _: GAlt[E] => false
      }
      // value-identity drivers (un-lifted patterns) can mint EQUAL
      // branches from duplicate input rows — only arrival-tagged
      // events make "distinct sources stay distinct" hold
      pattern.arrivalTagged && pattern.elems.forall(ok)
    }
    /** Test seam (ADVICE r13): run the per-event branch dedup even when
      * [[noEpsilonDup]] would skip it, so the differential property
      * (PropertySpec) can assert the skip's precondition directly —
      * identical branch evolution and match sequences with the pass
      * forced on vs skipped. Never set outside tests. */
    @transient private[graft] var forceEpsilonDedup: Boolean = false
    @transient private val slotNames = Vector.newBuilder[String]
    @transient private val slotPreds = Vector.newBuilder[E => Boolean]
    @transient private val slotCtxPreds = Vector.newBuilder[CtxPred[E]]
    @transient private val untilsB = Vector.newBuilder[E => Boolean]
    @transient private val untilCtxB = Vector.newBuilder[CtxPred[E]]
    // negative conditions: one bit each in a stop mask (notNext bits
    // only stop a branch that has not ignored an event yet)
    @transient private val notPredsB = Vector.newBuilder[E => Boolean]
    @transient private val notNextB = Vector.newBuilder[Boolean]
    private var nNots = 0
    @transient private val entryMaskB =
      scala.collection.mutable.Map.empty[Int, Long] // slot → entry nots
    @transient private val afterMaskB =
      scala.collection.mutable.Map.empty[Int, Long] // loop group → nots after it
    @transient private val skipMaskB =
      scala.collection.mutable.Map.empty[Int, Long] // optional group → nots before it
    @transient private val slotUntilB = scala.collection.mutable.Map.empty[Int, Int]
    private var nSlots = 0
    private var nGroups = 0
    @transient private val parentB = scala.collection.mutable.Map.empty[Node, Node]

    /** Builds the node for an element; `untilIdx` = innermost enclosing
      * group's until (reference: getTakeCondition consults only
      * currentGroupPattern — the innermost group). */
    private def build(e: GElem[E], untilIdx: Int): Node = e match {
      case GLeaf(name, pred, mode, ctxPred) =>
        val s = nSlots; nSlots += 1
        slotNames += name; slotPreds += pred; slotCtxPreds += ctxPred
        if (untilIdx >= 0) slotUntilB(s) = untilIdx
        SNode(s, mode)
      case g: GGroup[E] =>
        val id = nGroups; nGroups += 1
        val gUntil =
          if (g.untilPred.isEmpty && g.untilCtx == null) -1
          else {
            untilsB += g.untilPred.getOrElse(_ => false)
            untilCtxB += g.untilCtx
            untilsCount += 1; untilsCount - 1
          }
        // this group's until scopes over its DIRECT slots; a nested group
        // re-scopes to its own (possibly absent) until — the reference's
        // currentGroupPattern is the innermost group, with no fallthrough
        val children = buildSeq(g.elems, gUntil)
        val node = GNode(id, children, g.mode, g.min, g.max, g.optional,
          g.loopMode, gUntil, g.greedy, g.relMark, g.maximal)
        children.foreach(parentB(_) = node)
        node
      case a: GAlt[E] =>
        val branches = a.branches.map { bes =>
          val bid = nGroups; nGroups += 1
          val children = buildSeq(bes, untilIdx)
          val bn = GNode(bid, children, a.mode, 1, 1, optional = false,
            TillNext, untilIdx, greedy = false)
          children.foreach(parentB(_) = bn)
          bn
        }
        val node = ANode(branches, a.mode)
        branches.foreach(parentB(_) = node)
        node
      case _: GNot[E] =>
        throw new IllegalStateException("GNot handled in buildSeq")
    }
    private var untilsCount = 0

    /** Builds a sibling sequence, turning GNot elements into stop-mask
      * bits: on the entry slots of the following element; on the
      * in-loop branches of a repeating group the nots FOLLOW (a banned
      * event kills a run that may still grow — the reference discards the
      * whole path once a stop state is reached, NFA.doProcess
      * shouldDiscardPath — while a loop's own re-entries are exempt from
      * the nots BEFORE it, released by its first take); and, across an
      * optional group, on the branches that skip it (the proceed path
      * keeps the ban pending, like getCurrentNotCondition). */
    private def buildSeq(elems: Vector[GElem[E]], untilIdx: Int): Vector[Node] = {
      val nodes = Vector.newBuilder[Node]
      var fresh = 0L // nots since the previous element
      var spill = 0L // nots pending past an optional alternation
      var prev: Node = null
      elems.foreach {
        case GNot(_, pred, nextOnly) =>
          require(nNots < 64, "at most 64 notFollowedBy/notNext elements")
          fresh |= 1L << nNots
          notPredsB += pred; notNextB += nextOnly; nNots += 1
        case e =>
          val n = build(e, untilIdx)
          nodes += n
          prev match {
            case g: GNode if fresh != 0L && g.max > 1 => afterMaskB(g.id) = fresh
            case _ => ()
          }
          val entry = fresh | spill
          if (entry != 0L) firstSlots(n).foreach { s =>
            entryMaskB(s) = entryMaskB.getOrElse(s, 0L) | entry
          }
          spill = 0L
          if (entry != 0L && isOptional(n)) n match {
            case g: GNode => skipMaskB(g.id) = entry
            case _ => spill = entry
          }
          fresh = 0L
          prev = n
      }
      nodes.result()
    }

    private def isOptional(n: Node): Boolean = n match {
      case _: SNode => false
      case g: GNode => g.optional || g.min == 0
      // an alternation can epsilon-skip iff some branch is all-optional
      case a: ANode => a.branches.exists(_.children.forall(isOptional))
    }
    private def firstSlots(n: Node): Vector[Int] = n match {
      case SNode(s, _) => Vector(s)
      case g: GNode =>
        val out = Vector.newBuilder[Int]
        var scanning = true
        g.children.foreach { c =>
          if (scanning) { out ++= firstSlots(c); scanning = isOptional(c) }
        }
        out.result()
      case a: ANode => a.branches.flatMap(firstSlots)
    }

    /** Terminal negation (a trailing top-level notFollowedBy/notNext):
      * [[KeyRun]] holds completed matches at a [[Cep.NegGate]]. */
    private[graft] val terminalNot: Option[GNot[E]] = pattern.terminalNot
    private val realRoot: GNode = {
      val children = buildSeq(
        if (terminalNot.isDefined) pattern.elems.init else pattern.elems, -1)
      val r = GNode(nGroups, children, TillNext, 1, 1, optional = false,
        TillNext, -1, greedy = false)
      nGroups += 1
      children.foreach(parentB(_) = r)
      r
    }
    private val parents: Map[Node, Node] = parentB.toMap
    private val names = slotNames.result()
    private val preds = slotPreds.result()
    private val ctxPreds = slotCtxPreds.result()
    private val untils = untilsB.result()
    private val untilCtxs = untilCtxB.result()
    /** Any iterative condition: branch captures feed predicates, so they
      * must stay materializable (no [[SpanCaps]]). */
    private[GroupCep] val iterative: Boolean =
      ctxPreds.exists(_ != null) || untilCtxs.exists(_ != null)
    private val notPreds = notPredsB.result()
    private val notNextOnly = notNextB.result()
    private val entryMask = Array.tabulate(nSlots)(entryMaskB.getOrElse(_, 0L))
    private val afterMask = afterMaskB.toMap
    private val skipMask = skipMaskB.toMap
    private val slotUntil = slotUntilB.toMap
    private val slotNodes: Map[Int, SNode] = {
      def collect(n: Node): Vector[SNode] = n match {
        case s: SNode => Vector(s)
        case g: GNode => g.children.flatMap(collect)
        case a: ANode => a.branches.flatMap(collect)
      }
      collect(realRoot).map(s => s.slot -> s).toMap
    }
    /** Slot → id of its innermost enclosing group (-1 at the root), and
      * whether the slot is one of that group's entry slots. */
    private val slotGroup: Array[Int] = Array.tabulate(nSlots) { s =>
      parents.get(slotNodes(s)) match {
        case Some(g: GNode) if g.id != realRoot.id => g.id
        case _ => -1
      }
    }
    private val slotFirst: Array[Boolean] = Array.tabulate(nSlots) { s =>
      parents.get(slotNodes(s)) match {
        case Some(g: GNode) => firstSlots(g).contains(s)
        case _ => true
      }
    }
    /** Entry slots of a NON-greedy loop with an until: the branch waiting
      * to enter survives the until event (only greedy loops conjoin
      * NOT(until) onto that ignore edge — UntilConditionITCase
      * testUntilConditionFollowedByAnyOneOrMore). */
    private val untilSparesSlot: Array[Boolean] = Array.tabulate(nSlots) { s =>
      slotFirst(s) && slotUntil.contains(s) && (parents.get(slotNodes(s)) match {
        case Some(g: GNode) => !g.greedy && !g.maximal
        case _ => false
      })
    }
    private[GroupCep] def untilSparesEntry(s: Int,
        reps: Map[Int, Int]): Boolean =
      untilSparesSlot(s) && reps.getOrElse(slotGroup(s), 0) == 0

    /** Slot → structural path from the root, one (parentIsAlt,
      * childIdx) entry per tree level — the decision lattice
      * [[prefer]] ranks against. Two diverging slots share a path
      * prefix; the FIRST differing entry names the decision that
      * separated the candidates:
      *  - an ALTERNATION level → the LOWER branch index wins (SQL:2016
      *    leftmost preference — and it dominates any loop decision
      *    deeper in the branch, so a reluctant quantifier INSIDE a
      *    later branch cannot outrank an earlier branch);
      *  - a SEQUENCE level → the HIGHER child index wins: the
      *    candidate that exited/skipped the earlier subtree took the
      *    reluctant choice. Sound because every skippable/repeatable
      *    element under `reluctantSel` is reluctant-quantified (mixed
      *    greedy rejects) and NESTED quantifiers reject — so inside
      *    any quantified group progression is deterministic and
      *    sequence-level divergences always rank a reluctant
      *    exit-vs-stay/skip-vs-take decision. */
    private[GroupCep] val slotPath
        : Map[Int, Vector[(Boolean, Int, Boolean)]] = {
      // entry = (parentIsAlt, childIdx, rel): `rel` is the RELUCTANT
      // polarity of the decision of entering/staying in this child —
      // under all-reluctant selection every sequence decision is
      // reluctant; under greedy selection (round 11) only children
      // carrying [[GGroup.relMark]] are, the rest prefer staying (the
      // SQL:2016 default-greedy/marked-reluctant mix)
      def isQuant(g: GNode): Boolean =
        g.min != g.max || g.max > 1 || g.optional || g.min == 0
      def relOf(n: Node): Boolean =
        if (!greedySel) true
        else n match {
          case g: GNode => isQuant(g) && g.relMark
          case _ => false
        }
      val b = Map.newBuilder[Int, Vector[(Boolean, Int, Boolean)]]
      def walk(n: Node, path: Vector[(Boolean, Int, Boolean)]): Unit =
        n match {
          case SNode(s, _) => b += s -> path
          case g: GNode =>
            g.children.zipWithIndex.foreach { case (c, i) =>
              walk(c, path :+ ((false, i, relOf(c)))) }
          case a: ANode =>
            a.branches.zipWithIndex.foreach { case (br, i) =>
              walk(br, path :+ ((true, i, false))) }
        }
      walk(realRoot, Vector.empty)
      b.result()
    }
    /** Slot → polarity of its innermost enclosing quantified group —
      * [[prefer]]'s strict-prefix rule: the continuation is more
      * repetitions of THAT loop, so reluctant ⇒ the shorter candidate
      * wins, greedy ⇒ the longer. */
    private[GroupCep] val slotEncRel: Map[Int, Boolean] = {
      def isQuant(g: GNode): Boolean =
        g.min != g.max || g.max > 1 || g.optional || g.min == 0
      val b = Map.newBuilder[Int, Boolean]
      def walk(n: Node, enc: Boolean): Unit = n match {
        case SNode(s, _) => b += s -> enc
        case g: GNode =>
          val e2 = if (!isQuant(g)) enc
                   else if (greedySel) g.relMark else true
          g.children.foreach(walk(_, e2))
        case a: ANode => a.branches.foreach(walk(_, enc))
      }
      walk(realRoot, enc = !greedySel)
      b.result()
    }
    /** Reluctant + any alternation anywhere ⇒ completion order no longer
      * equals preference order: drivers must defer per-start selection
      * (see [[GPattern.reluctant]]). */
    private[GroupCep] val reluctantDeferred: Boolean = reluctantSel && {
      def hasAlt(n: Node): Boolean = n match {
        case _: SNode => false
        case g: GNode => g.children.exists(hasAlt)
        case _: ANode => true
      }
      pattern.deferSel || realRoot.children.exists(hasAlt)
    }
    /** Any deferred per-start selection — the drivers' resolver
      * trigger: deferred reluctant (alternation/anchors) or GREEDY
      * selection, which is ALWAYS deferred (a longer, more-preferred
      * completion arrives after a shorter one by construction). */
    private[GroupCep] val selDeferred: Boolean =
      reluctantDeferred || greedySel
    /** ONE quantified element and no alternation ⇒ same-start
      * candidates differ only in that element's repetition count, so
      * candidate LENGTH decides preference in O(1) (shorter under
      * reluctant, longer under greedy) — [[prefer]]'s fast path, worth
      * it because greedy selection folds a candidate per possible
      * match end and the full walk is O(match length) each. */
    /** Polarity of THE quantifier when [[singleQuantNoAlt]] — set
      * during its walk (meaningful only when that flag holds).
      * Declared BEFORE the val whose initializer assigns it. */
    private[GroupCep] var singleQuantPrefersShorter: Boolean = true
    private[GroupCep] val singleQuantNoAlt: Boolean = {
      var quants = 0; var alt = false
      def walk(n: Node): Unit = n match {
        case _: SNode => ()
        case g: GNode =>
          if (g.min != g.max || g.max > 1 || g.optional || g.min == 0) {
            quants += 1
            singleQuantPrefersShorter = if (greedySel) g.relMark else true
          }
          g.children.foreach(walk)
        case a: ANode => alt = true; a.branches.foreach(walk)
      }
      realRoot.children.foreach(walk)
      quants == 1 && !alt
    }

    private def declMode(n: Node): Int = n match {
      case SNode(_, m) => m
      case g: GNode => g.mode
      case a: ANode => a.mode
    }
    /** Group ids strictly inside `g` (their counters reset on re-entry). */
    private def clearInside(g: GNode, reps: Map[Int, Int]): Map[Int, Int] = {
      def ids(n: Node): Vector[Int] = n match {
        case _: SNode => Vector.empty
        case gg: GNode => gg.id +: gg.children.flatMap(ids)
        case a: ANode => a.branches.flatMap(ids)
      }
      val inside = g.children.flatMap(ids)
      if (inside.isEmpty) reps else reps -- inside
    }

    /** Epsilon-enter an element with the boundary mode `mode`:
      * group entry resets its counters and may also skip it entirely.
      * `guard` carries a greedy group id whose exit led here (the target
      * slots are that loop's sink state). */
    private def enter(n: Node, mode: Int, reps: Map[Int, Int],
        out: scala.collection.mutable.Builder[At, Vector[At]], done: () => Unit,
        guard: Int, kind: Int, stops: Long): Unit = n match {
      case SNode(s, _) => out += At(s, mode, reps, guard, kind, stops)
      case g: GNode =>
        val r = clearInside(g, reps).updated(g.id, 0)
        enter(g.children.head, mode, r, out, done, guard, kind, stops)
        // the skip-past branch shadows the entry branch, whose mode is
        // this boundary's, and keeps the nots before the group pending
        if (g.optional || g.min == 0) {
          val (g2, k2) = guardAfter(g, mode, guard, kind)
          continueAfter(g, reps, out, done, g2, k2,
            stops | skipMask.getOrElse(g.id, 0L))
        }
      case a: ANode =>
        // fork: one epsilon branch per alternative, declaration order
        a.branches.foreach(b =>
          enter(b, mode, reps, out, done, guard, kind, stops))
    }

    /** The guard on the branches past greedy group `g`, whose loop (or
      * entry) branch waits with mode `sibMode`: the reference guard for
      * [[GGroup.greedy]]; the DSL's maximal-run guard for
      * [[GGroup.maximal]] unless that sibling is TILL_ANY (it survives
      * its own takes, so nothing is ever shadowed). */
    private def guardAfter(g: GNode, sibMode: Int, guard: Int,
        kind: Int): (Int, Int) =
      if (g.greedy) (g.id, GuardRef)
      else if (g.maximal && sibMode != TillAny)
        (g.id, if (sibMode == Strict) GuardOnce else GuardUntil)
      else (guard, kind)

    /** Epsilon-walk after completing element `n`: next sibling, or close a
      * repetition of the parent group (exit and/or loop-back forks), or
      * complete the pattern at the root. Exiting a GREEDY group stamps its
      * id as the guard on everything downstream of the exit — the sink
      * state whose transitions the reference conjoins with NOT(take). */
    private def continueAfter(n: Node, reps: Map[Int, Int],
        out: scala.collection.mutable.Builder[At, Vector[At]], done: () => Unit,
        guard: Int, kind: Int, stops: Long): Unit =
      parents.get(n) match {
        case None => done() // n is the root
        case Some(a: ANode) =>
          // completing any branch completes the alternation
          continueAfter(a, reps, out, done, guard, kind, stops)
        case Some(_: SNode) =>
          throw new IllegalStateException("a leaf cannot be a parent")
        case Some(p: GNode) =>
          val idx = p.children.indexWhere(_ eq n)
          if (idx < p.children.size - 1) {
            val sib = p.children(idx + 1)
            enter(sib, declMode(sib), reps, out, done, guard, kind, stops)
          } else if (p.id == realRoot.id) {
            done()
          } else {
            val r = reps.getOrElse(p.id, 0) + 1
            // loop-back forks BEFORE the exit: the branch that stays in
            // the loop is ordered (and so emits) ahead of the one that
            // left it on the same event (an extended run precedes its
            // transitions), which the skip queue's same-start tie-break
            // and MATCH_NUMBER() see
            if (r < p.max) {
              // unbounded loops: saturate the counter at p.min — both
              // future threshold reads (r' >= min always once reached;
              // r' < MaxValue always) are preserved, the reps map stops
              // churning allocations on every repetition, and succ
              // results become cacheable by (slot, reps) — see
              // [[SuccCache]]
              val rStore =
                if (p.max == Int.MaxValue && r > p.min) p.min else r
              val base = clearInside(p, reps)
              val r2 = if (base.getOrElse(p.id, -1) == rStore) base
                       else base.updated(p.id, rStore)
              enter(p.children.head, p.loopMode, r2, out, done, guard, kind,
                stops)
            }
            // a capped loop has no loop-back branch to shadow
            if (r >= p.min) {
              val (g2, k2) =
                if (r < p.max || p.greedy) guardAfter(p, p.loopMode, guard, kind)
                else (guard, kind)
              continueAfter(p, reps - p.id, out, done, g2, k2, stops)
            }
          }
      }

    private[GroupCep] def succ(slot: Int,
        reps: Map[Int, Int]): (Vector[At], Boolean) = {
      val out = Vector.newBuilder[At]
      var complete = false
      continueAfter(slotNodes(slot), reps, out, () => complete = true, -1,
        GuardRef, 0L)
      (out.result(), complete)
    }
    /** [[succ]] is pure in (slot, reps) and — with the saturating rep
      * counters — the key space is bounded by the pattern structure for
      * unbounded loops, so the epsilon walk (child scans, clearInside
      * vectors, map churn) runs once per distinct key instead of once
      * per branch per event. LARGE FINITE quantifiers (`B{1,50000}`)
      * cannot saturate (the counter must reach max to close the loop),
      * so their key space is O(max) — the insert guard caps retention
      * and lets the tail of such patterns fall back to direct
      * computation (the pre-cache cost) instead of growing per-task
      * memory without bound. Each task deserializes its own Compiled
      * copy, so the map sees no real contention; ConcurrentHashMap just
      * makes sharing safe. */
    @transient private lazy val succCache = new java.util.concurrent
      .ConcurrentHashMap[(Int, Map[Int, Int]), (Vector[At], Boolean)]
    private val SuccCacheMax = 4096
    private[GroupCep] def succCached(slot: Int,
        reps: Map[Int, Int]): (Vector[At], Boolean) = {
      val k = (slot, reps)
      var v = succCache.get(k)
      if (v == null) {
        v = succ(slot, reps)
        if (succCache.size < SuccCacheMax) succCache.put(k, v)
      }
      v
    }
    /** Step name → no events: the context an opening event sees. */
    private[GroupCep] lazy val emptyCtx: Map[String, Seq[E]] =
      scala.collection.immutable.ListMap(
        stepNames.map(_ -> Vector.empty[E]): _*)
    /** Can `e` open a branch at start-frontier entry `t`? */
    private[GroupCep] def opens(t: At, e: E): Boolean =
      !(t.guardKind == GuardRef && guardHit(t.guard, e)) && {
        val cp = ctxPreds(t.slot)
        if (cp == null) preds(t.slot)(e) else cp(e, emptyCtx)
      }
    private[GroupCep] lazy val startFrontier: Vector[At] = {
      val out = Vector.newBuilder[At]
      val first = realRoot.children.head
      enter(first, declMode(first), Map.empty, out, () => (), -1, GuardRef,
        0L)
      out.result()
    }
    /** Greedy group id → its loop take condition (the disjunction of its
      * entry slots' predicates — NFACompiler's getTakeCondition operand of
      * updateWithGreedyCondition). */
    private val greedyGuards: Map[Int, Vector[Int]] = {
      def collect(n: Node): Vector[GNode] = n match {
        case _: SNode => Vector.empty
        case g: GNode =>
          (if (g.greedy || g.maximal) Vector(g) else Vector.empty) ++
            g.children.flatMap(collect)
        case a: ANode => a.branches.flatMap(collect)
      }
      collect(realRoot).map(g => g.id -> firstSlots(g)).toMap
    }
    private[GroupCep] def guardHit(guard: Int, e: E): Boolean =
      guard >= 0 && greedyGuards(guard).exists(s => preds(s)(e))
    private[GroupCep] def guardSlots(guard: Int): Vector[Int] =
      greedyGuards(guard)
    private[GroupCep] def predOf(s: Int): E => Boolean = preds(s)
    /** The slot's iterative condition, or null for a plain predicate. */
    private[GroupCep] def ctxPredOf(s: Int): CtxPred[E] = ctxPreds(s)
    private[graft] def slotCount: Int = preds.length
    private[GroupCep] def nameOf(s: Int): String = names(s)
    /** Step name of a capture slot — the planned exec maps each
      * captured event's slot to its declared step index. */
    private[graft] def stepNameOf(s: Int): String = nameOf(s)
    private[GroupCep] def notPred(id: Int): E => Boolean = notPreds(id)
    private[GroupCep] def notNext(id: Int): Boolean = notNextOnly(id)
    /** The stop mask a branch waiting on slot `s` answers to (see
      * [[buildSeq]]): a loop's re-entry answers to the nots after the
      * loop, a slot deeper inside a repeating group to both, any other
      * slot to its entry nots. */
    private[GroupCep] def stopMask(s: Int, reps: Map[Int, Int]): Long = {
      val g = slotGroup(s)
      if (g < 0) entryMask(s)
      else {
        val am = afterMask.getOrElse(g, 0L)
        if (am == 0L && entryMask(s) == 0L) 0L
        else if (!slotFirst(s)) entryMask(s) | am
        else if (reps.getOrElse(g, 0) >= 1) am
        else entryMask(s)
      }
    }
    private[GroupCep] def untilOf(s: Int): Option[E => Boolean] =
      slotUntil.get(s).map(untils)
    /** The slot's iterative until, or null. */
    private[GroupCep] def untilCtxOf(s: Int): CtxPred[E] =
      slotUntil.get(s).map(untilCtxs).orNull
    def stepNames: Vector[String] = names.distinct
  }

  def compile[E](pattern: GPattern[E]): Compiled[E] =
    new Compiled(pattern.validated)

  /** An in-flight branch: waiting on `slot` with consuming mode `mode`;
    * `fresh` = has not ignored an event since arriving (notNext window);
    * `guard` >= 0 = this branch exited that greedy group and dies on any
    * event its loop could have consumed (prefer-longer semantics), by the
    * rule `guardKind` names. `stops`: negations carried past skipped
    * optional groups (see [[Compiled.stopMask]] for the slot's own).
    * `captured` is the branch's capture sequence in representation `C`
    * (see [[CapOps]]): the exact per-event vector, or the round-12
    * range-compressed [[SpanCaps]] runs for strict-contiguity batch
    * scans. */
  final case class Conf[E, C](slot: Int, mode: Int, reps: Map[Int, Int],
      captured: C, startTs: Long, fresh: Boolean,
      guard: Int = -1, guardKind: Int = GuardRef, stops: Long = 0L)

  /** The exact-capture branch type the streaming state function
    * persists in keyed state (field-for-field the pre-round-12 GConf, so
    * derived state encoders keep their layout). */
  type GConf[E] = Conf[E, Vector[(Int, E)]]

  /** One run of a range-compressed capture sequence: `count` consecutive
    * captures into `slot`, with the run's first and last events retained
    * (everything any consumer needs: counts, FIRST() rows, skip-queue
    * boundaries, anchor tags). The reference's SharedBuffer stores the
    * same idea as per-step event-pointer chains
    * (flink-cep/src/main/java/.../nfa/SharedBuffer.java:71). */
  final case class CapRun[E](slot: Int, count: Int, first: E, last: E)

  /** Range-compressed captures: under STRICT contiguity a branch takes
    * every event from its first capture to its last, so the capture
    * sequence is fully described by run-length-encoded slots — O(#runs)
    * = O(pattern structure) per branch instead of O(match length).
    * Materializing the full per-event vector (library `toGroups`) needs
    * the key run's event array, which the batch drivers hold; equality
    * (branch dedup) is exact under contiguity: same first tag + same
    * runs ⇒ identical capture vectors (the closed/open split below is
    * deterministic in the append sequence, so structural equality
    * remains exact).
    *
    * The LAST run is held OPEN as flat fields instead of inside the
    * vector: the hot loop (every in-loop branch extends its current
    * run once per event) then allocates ONE small object per append —
    * a `Vector.updated` path-copy per event per branch was the
    * dominant allocation of the qc34-class greedy scans. `openSlot`
    * is -1 only for the empty capture. */
  final case class SpanCaps[E](closed: Vector[CapRun[E]], openSlot: Int,
      openCount: Int, openFirst: E, openLast: E, length: Int) {
    def runs: Vector[CapRun[E]] =
      if (openSlot < 0) closed
      else closed :+ CapRun(openSlot, openCount, openFirst, openLast)
  }

  /** Capture-sequence operations, the seam between the shared NFA /
    * emitters and the two representations. All per-event hot-path ops
    * (`append`, `length`) are O(1)-ish in both; the preference /
    * domination walks ride `runs`, which is O(match length) for the
    * exact vector but O(#quantifier transitions) for [[SpanCaps]] — the
    * round-12 fix for greedy/deferred selection's capture churn. */
  private[graft] sealed trait CapOps[E, C] extends Serializable {
    def empty: C
    def append(c: C, slot: Int, e: E): C
    def length(c: C): Int
    def isEmpty(c: C): Boolean
    def head(c: C): E
    def headOpt(c: C): Option[E]
    def last(c: C): E
    def runs(c: C): Iterator[CapRun[E]]
    /** Max of `f` over EVERY captured event. The vector path must walk
      * all elements — the streaming driver sorts only within each
      * micro-batch, so a cross-batch late event can put the max strictly
      * inside a compressed run; [[SpanCaps]] (batch-only, globally
      * ts-ordered runs) folds first/last per run, O(#runs). */
    def maxOver(c: C, f: E => Long): Long
    /** Cheap structural discriminator for match dedup (slots only). */
    def slotsKey(c: C): Any
    /** Full per-event capture vector — the library emission shape. */
    def toVector(c: C): Vector[(Int, E)]
  }

  private object VecOpsInst extends CapOps[Any, Vector[(Int, Any)]] {
    def empty: Vector[(Int, Any)] = Vector.empty
    def append(c: Vector[(Int, Any)], slot: Int, e: Any) = c :+ (slot -> e)
    def length(c: Vector[(Int, Any)]): Int = c.length
    def isEmpty(c: Vector[(Int, Any)]): Boolean = c.isEmpty
    def head(c: Vector[(Int, Any)]): Any = c.head._2
    def headOpt(c: Vector[(Int, Any)]): Option[Any] = c.headOption.map(_._2)
    def last(c: Vector[(Int, Any)]): Any = c.last._2
    def runs(c: Vector[(Int, Any)]): Iterator[CapRun[Any]] =
      new Iterator[CapRun[Any]] {
        private var i = 0
        def hasNext: Boolean = i < c.length
        def next(): CapRun[Any] = {
          val s = c(i)._1; val first = c(i)._2
          var j = i + 1
          while (j < c.length && c(j)._1 == s) j += 1
          val r = CapRun[Any](s, j - i, first, c(j - 1)._2)
          i = j
          r
        }
      }
    def slotsKey(c: Vector[(Int, Any)]): Any = c.map(_._1)
    def maxOver(c: Vector[(Int, Any)], f: Any => Long): Long = {
      var m = Long.MinValue
      c.foreach { p => val t = f(p._2); if (t > m) m = t }
      m
    }
    def toVector(c: Vector[(Int, Any)]): Vector[(Int, Any)] = c
  }
  private[graft] def vecOps[E]: CapOps[E, Vector[(Int, E)]] =
    VecOpsInst.asInstanceOf[CapOps[E, Vector[(Int, E)]]]

  /** [[SpanCaps]] operations. `posOf`/`eventAt` map captured events to
    * positions in the key run's event array (the arrival tag) — only
    * [[toVector]] consults them, and only under strict contiguity is
    * the position-range expansion valid (which [[Compiled.strictSpans]]
    * gates). Drivers without an event buffer (the planned exec) pass a
    * throwing `eventAt` and never materialize. */
  private[graft] final class SpanOps[E](posOf: E => Int, eventAt: Int => E)
      extends CapOps[E, SpanCaps[E]] {
    private val nil = null.asInstanceOf[E]
    def empty: SpanCaps[E] = SpanCaps(Vector.empty, -1, 0, nil, nil, 0)
    def append(c: SpanCaps[E], slot: Int, e: E): SpanCaps[E] =
      if (c.openSlot == slot)
        // hot path: extend the open run — one allocation
        c.copy(openCount = c.openCount + 1, openLast = e,
          length = c.length + 1)
      else if (c.openSlot < 0) SpanCaps(Vector.empty, slot, 1, e, e, 1)
      else SpanCaps(
        c.closed :+ CapRun(c.openSlot, c.openCount, c.openFirst, c.openLast),
        slot, 1, e, e, c.length + 1)
    def length(c: SpanCaps[E]): Int = c.length
    def isEmpty(c: SpanCaps[E]): Boolean = c.length == 0
    def head(c: SpanCaps[E]): E =
      if (c.closed.nonEmpty) c.closed.head.first else c.openFirst
    def headOpt(c: SpanCaps[E]): Option[E] =
      if (c.length == 0) None else Some(head(c))
    def last(c: SpanCaps[E]): E = c.openLast
    def runs(c: SpanCaps[E]): Iterator[CapRun[E]] = c.runs.iterator
    def slotsKey(c: SpanCaps[E]): Any = c.runs.map(r => (r.slot, r.count))
    def maxOver(c: SpanCaps[E], f: E => Long): Long = {
      // batch-only representation: key runs are globally ts-ordered,
      // so each run's max is at its boundary — first/last suffice
      var m = Long.MinValue
      c.runs.foreach { r =>
        val tl = f(r.last); if (tl > m) m = tl
        val tf = f(r.first); if (tf > m) m = tf
      }
      m
    }
    def toVector(c: SpanCaps[E]): Vector[(Int, E)] =
      if (c.length == 0) Vector.empty
      else {
        val p0 = posOf(c.runs.head.first)
        val b = Vector.newBuilder[(Int, E)]
        b.sizeHint(c.length)
        var i = 0
        c.runs.foreach { r =>
          var k = 0
          while (k < r.count) { b += ((r.slot, eventAt(p0 + i))); i += 1; k += 1 }
        }
        b.result()
      }
  }

  /** One NFA transition over all live branches (test seam; every driver
    * steps [[advanceC]] through [[KeyRun]]). Pure. Returns surviving
    * branches and completed matches as (slotIdx, event) capture lists
    * in match order. */
  def advance[E](c: Compiled[E], confs: Vector[GConf[E]], e: E,
      ts: Long, canStart: Boolean = true)
      : (Vector[GConf[E]], Vector[Vector[(Int, E)]]) =
    advanceC(c, confs, e, ts, canStart, vecOps[E])

  /** [[advance]] generic over the capture representation `C` — the one
    * NFA transition, stepped by [[KeyRun]] for every driver (batch
    * vector, batch span-compressed, streaming, planned exec). */
  private[graft] def advanceC[E, C](c: Compiled[E], confs: Vector[Conf[E, C]],
      e: E, ts: Long, canStart: Boolean, ops: CapOps[E, C])
      : (Vector[Conf[E, C]], Vector[C]) = {
    val alive = c.withinMs match {
      case None => confs
      case Some(w) => // avoid the filter allocation when nothing expired
        if (confs.forall(p => ts - p.startTs < w)) confs
        else confs.filter(p => ts - p.startTs < w)
    }
    // fast path: no live branch and the event opens none — skip the
    // per-event memo/builder set-up below (the planned exec drives one
    // call per row)
    if (alive.isEmpty && !(canStart && c.startFrontier.exists(c.opens(_, e))))
      return (alive, Vector.empty)
    val out = Vector.newBuilder[Conf[E, C]]
    val matches = Vector.newBuilder[C]

    // Per-EVENT memo of the slot-keyed predicate evaluations: every
    // live branch waiting on the same slot asks the same questions of
    // the same event (the qc34-class greedy scans hold O(open starts)
    // branches in ONE loop slot), so evaluate each at most once.
    // Long bitmask pairs (evaluated, value) — zero allocation up to 64
    // slots; wider patterns fall back to direct evaluation. Guards
    // (greedy-group ids, not slot-bounded) get a 1-entry cache: every
    // post-loop branch of one pattern shares one guard id in practice.
    val memoizable = c.slotCount <= 64
    var predE, predV, untilE, untilV = 0L
    def predM(s: Int): Boolean =
      if (!memoizable) c.predOf(s)(e)
      else {
        val bit = 1L << s
        if ((predE & bit) != 0L) (predV & bit) != 0L
        else {
          val r = c.predOf(s)(e); predE |= bit; if (r) predV |= bit; r
        }
      }
    // negations are at most 64 (one mask bit each): memoized per id
    var notE, notV = 0L
    def notM(id: Int): Boolean = {
      val bit = 1L << id
      if ((notE & bit) != 0L) (notV & bit) != 0L
      else {
        val r = c.notPred(id)(e); notE |= bit; if (r) notV |= bit; r
      }
    }
    // does any negation in `mask` stop a branch (fresh: has not ignored
    // an event since its last take — the notNext window)?
    def stoppedBy(mask: Long, fresh: Boolean): Boolean = {
      var m = mask
      var hit = false
      while (m != 0L && !hit) {
        val id = java.lang.Long.numberOfTrailingZeros(m)
        hit = (fresh || !c.notNext(id)) && notM(id)
        m &= m - 1
      }
      hit
    }
    def untilM(s: Int): Boolean =
      if (!memoizable) c.untilOf(s).exists(_(e))
      else {
        val bit = 1L << s
        if ((untilE & bit) != 0L) (untilV & bit) != 0L
        else {
          val r = c.untilOf(s).exists(_(e))
          untilE |= bit; if (r) untilV |= bit; r
        }
      }
    var guardQ = -2; var guardR = false
    def guardM(g: Int): Boolean =
      g >= 0 && {
        if (g != guardQ) { guardQ = g; guardR = c.guardHit(g, e) }
        guardR
      }

    def fire(conf: Conf[E, C]): Unit = {
      val cap2 = ops.append(conf.captured, conf.slot, e)
      val (targets, complete) = c.succCached(conf.slot, conf.reps)
      if (complete) matches += cap2
      targets.foreach { t =>
        out += Conf(t.slot, t.mode, t.reps, cap2, conf.startTs,
          fresh = true, guard = t.guard, guardKind = t.guardKind,
          stops = t.stops)
      }
    }
    // slot take / until for one branch; an iterative condition reads the
    // branch's captures (`ctx`, built per branch only for iterative
    // patterns — null otherwise)
    def takes(s: Int, ctx: Map[String, Seq[E]]): Boolean = {
      val cp = if (ctx == null) null else c.ctxPredOf(s)
      if (cp == null) predM(s) else cp(e, ctx)
    }
    def untilHit(s: Int, ctx: Map[String, Seq[E]]): Boolean =
      untilM(s) || (ctx != null && {
        val cp = c.untilCtxOf(s)
        cp != null && cp(e, ctx)
      })

    // a branch that waits past this event (reused when already stale —
    // long relaxed waits would otherwise copy every branch every event)
    def waited(conf: Conf[E, C]): Conf[E, C] =
      if (conf.fresh) conf.copy(fresh = false) else conf
    alive.foreach { conf =>
      val ctx =
        if (c.iterative) toGroups(c, ops.toVector(conf.captured)) else null
      // greedy: a branch past a greedy loop dies on any event that loop
      // could have consumed — NOT(take) on every sink transition
      val greedyKill = conf.guardKind == GuardRef && guardM(conf.guard)
      val mask = c.stopMask(conf.slot, conf.reps) | conf.stops
      val stopped = mask != 0L && stoppedBy(mask, conf.fresh)
      val untilKill = untilHit(conf.slot, ctx)
      if (untilKill) {
        // an until event is never taken: it kills the in-loop branches
        // and a greedy loop's entry; a non-greedy loop's entry waits on
        if (!greedyKill && !stopped && conf.mode != Strict &&
            c.untilSparesEntry(conf.slot, conf.reps)) out += waited(conf)
      } else if (!greedyKill && !stopped) {
        if (takes(conf.slot, ctx)) {
          fire(conf)
          // TILL_ANY: the waiting branch survives its own take and can
          // re-fire on a later occurrence
          if (conf.mode == TillAny) out += waited(conf)
        } else if (conf.mode != Strict) {
          // ignore edge; under the DSL's maximal-run guard a branch the
          // loop extends past dies, and the guard lapses with the loop
          // branch it shadows
          if (conf.guard < 0 || conf.guardKind == GuardRef) out += waited(conf)
          else {
            val loop = c.guardSlots(conf.guard)
            if (!loop.exists(s => takes(s, ctx) && !untilHit(s, ctx))) {
              val lapsed = conf.guardKind == GuardOnce ||
                loop.exists(s => untilHit(s, ctx))
              out += (if (lapsed) conf.copy(fresh = false, guard = -1,
                        guardKind = GuardRef)
                      else waited(conf))
            }
          }
        } // strict: branch dies
      } // stop: branch dies
    }

    // the start state is always active: try to open new branches. A
    // frontier entry past an optional greedy loop carries that loop's
    // guard — the reference conjoins NOT(take) on ALL sink-state
    // transitions (updateWithGreedyCondition), so an event the loop could
    // have consumed must not start a match at the post-loop step.
    // `canStart = false` is the streaming ^ head-anchor gate (round 11):
    // only the key's arrival-0 event may open a branch, so every
    // candidate is partition-head-anchored by construction.
    if (canStart) c.startFrontier.foreach { t =>
      if (!(t.guardKind == GuardRef && guardM(t.guard)) &&
          takes(t.slot, if (c.iterative) c.emptyCtx else null))
        fire(Conf(t.slot, t.mode, t.reps, ops.empty, ts, fresh = true))
    }
    var outConfs = {
      val o = out.result()
      if (c.noEpsilonDup && !c.forceEpsilonDedup) o
      else dedupBy(o)(c =>
        (c.slot, c.mode, c.reps, c.startTs, c.fresh, c.guard,
          ops.length(c.captured)))
    }
    var ms = dedupBy(matches.result())(m => (ops.length(m), ops.slotsKey(m)))
    // SQL:2016 reluctant (GPattern.reluctant, single-quantifier
    // contract) WITHOUT alternation: the FIRST completion per start is
    // the shortest and therefore THE match — keep only it among
    // same-event siblings and kill every still-open branch sharing that
    // start, so no later (longer, less preferred) completion can
    // surface. One site covers every driver (batch, streaming state
    // fns, planned GroupCepExec). With alternation the first completion
    // may not be preferred — the drivers defer through
    // [[ReluctantResolver]] instead (reluctantDeferred).
    if (c.reluctantSel && !c.reluctantDeferred && ms.nonEmpty) {
      val byStart = scala.collection.mutable.LinkedHashMap.empty[E, C]
      ms.foreach { m =>
        val s = ops.head(m)
        byStart.get(s) match {
          // several same-start candidates CAN complete on one event
          // under multiple quantifiers (different B/C splits reaching
          // the final element together) — fold by the full preference
          // order, not completion length
          case Some(prev) => byStart(s) = preferC(c, prev, m, ops)
          case _ => byStart(s) = m
        }
      }
      val starts = byStart.keySet
      ms = byStart.values.toVector
      outConfs = outConfs.filterNot(
        p => ops.headOpt(p.captured).exists(starts.contains))
    }
    (outConfs, ms)
  }

  /** SQL:2016 lexicographic preference between two SAME-START candidate
    * matches of a reluctant pattern. Walk the consumed-slot sequences;
    * at the first diverging position the two slots' structural paths
    * ([[Compiled.slotPath]]) share a prefix, and their first differing
    * entry names the decision the derivations took differently:
    *  - alternation level → lower branch index wins (leftmost — and
    *    branch preference DOMINATES any reluctant loop inside the
    *    branches: `(A+?|B)` prefers the A branch however many reps it
    *    costs, which a flat group-membership rule would get backwards);
    *  - sequence level → higher child index wins (the candidate that
    *    exited/skipped the earlier reluctant subtree — fewest of the
    *    FIRST quantifier dominates, then the second: the `V B+? C+? E`
    *    ranking).
    * A strict prefix (one candidate completed, the other kept
    * consuming) prefers the SHORTER: with every quantifier reluctant,
    * the continuation can only be more repetitions of some reluctant
    * loop. Returns the preferred candidate. */
  private def preferC[E, C](c: Compiled[E], a: C, b: C,
      ops: CapOps[E, C]): C = {
    val la = ops.length(a); val lb = ops.length(b)
    if ((c.reluctantSel || c.greedySel) && c.singleQuantNoAlt) {
      // single decision point: length IS the preference, by the
      // quantifier's own polarity
      return if (la == lb) a
      else if (c.singleQuantPrefersShorter == (la < lb)) a
      else b
    }
    // walk the two run-length-encoded slot sequences to the first
    // diverging CAPTURE position — O(#runs), not O(match length)
    val ia = ops.runs(a); val ib = ops.runs(b)
    var sa = -1; var ra = 0
    var sb = -1; var rb = 0
    var cont = true
    while (cont) {
      if (ra == 0 && ia.hasNext) { val r = ia.next(); sa = r.slot; ra = r.count }
      if (rb == 0 && ib.hasNext) { val r = ib.next(); sb = r.slot; rb = r.count }
      if (ra > 0 && rb > 0) {
        if (sa != sb) return if (slotWins(c, sa, sb)) a else b
        val k = math.min(ra, rb); ra -= k; rb -= k
      } else cont = false
    }
    // strict prefix: the continuation is more repetitions of the loop
    // enclosing the longer candidate's next slot — reluctant polarity
    // prefers the SHORTER candidate, greedy the LONGER
    if (la == lb) a
    else {
      // the side with input left holds the continuation slot (its
      // current run is the longer candidate's slot at position min(la,lb))
      val contSlot = if (ra > 0) sa else sb
      val contRel = c.slotEncRel.getOrElse(contSlot, !c.greedySel)
      if (contRel == (la < lb)) a else b
    }
  }

  /** The slot-level decision of [[prefer]]: does consuming `sa` at the
    * first diverging position beat consuming `sb`? (See
    * [[Compiled.slotPath]] for the lattice rules.) */
  private def slotWins[E](c: Compiled[E], sa: Int, sb: Int): Boolean = {
    val pa = c.slotPath(sa); val pb = c.slotPath(sb)
    val nd = math.min(pa.length, pb.length)
    var d = 0
    while (d < nd && pa(d) == pb(d)) d += 1
    // two distinct leaves always diverge at a structural level before
    // either path ends (a leaf cannot be another leaf's ancestor); the
    // guard is defensive only
    if (d >= nd) sa < sb
    else if (pa(d)._1) pa(d)._2 < pb(d)._2
    else {
      // sequence level: the decision belongs to the EARLIER subtree
      // (the one the lower-index side stayed in / entered) — its
      // reluctant polarity says whether exiting (higher index) wins
      val aLower = pa(d)._2 < pb(d)._2
      val lowerRel = if (aLower) pa(d)._3 else pb(d)._3
      if (lowerRel) !aLower else aLower
    }
  }

  /** Deferred per-start selection for reluctant patterns WITH
    * alternation ([[Compiled.reluctantDeferred]]): buffers the best
    * candidate per match start (folding with [[prefer]]) and releases a
    * start only when no open branch sharing it remains — at which point
    * the buffered candidate is THE SQL:2016-preferred match. Pending
    * candidates serialize as plain capture vectors, so the streaming
    * driver carries them in [[GArrivalState.pendingSel]] across
    * micro-batches exactly like skip-deferred matches. */
  private final class ReluctantResolver[E, C](c: Compiled[E], ts: E => Long,
      ops: CapOps[E, C]) {
    private val best = scala.collection.mutable.LinkedHashMap.empty[E, C]

    def toPending: Vector[C] = best.values.toVector
    def restore(ms: Vector[C]): Unit =
      ms.foreach(m => best(ops.head(m)) = m)

    def add(ms: Vector[C]): Unit = ms.foreach { m =>
      val s = ops.head(m)
      best(s) = best.get(s).map(p => preferC(c, p, m, ops)).getOrElse(m)
    }

    /** Emit every buffered start that no open branch can still extend,
      * in start order (ties by buffer insertion = first completion). */
    def drain(confs: Vector[Conf[E, C]], emit: C => Unit): Unit = {
      if (best.isEmpty) return
      val open = confs.iterator
        .flatMap(p => ops.headOpt(p.captured)).toSet
      val ready = best.keysIterator.filterNot(open.contains).toVector
        .sortBy(e => ts(e))
      ready.foreach { s => emit(best(s)); best -= s }
    }

    /** Drop buffered starts an AFTER MATCH SKIP emission consumed —
      * the same boundary rule [[GroupSkipQueue]] applies to open
      * branches and queued matches. */
    def prune(keep: Long => Boolean): Unit = {
      val dead = best.keysIterator.filterNot(e => keep(ts(e))).toVector
      dead.foreach(best -= _)
    }

    /** Kill open branches that can no longer produce their start's
      * winner: a branch whose captured prefix DIVERGES from the
      * buffered best and loses at the divergence is dominated — every
      * extension diverges at the same position and loses identically
      * (the preference is prefix-stable), so carrying it only breeds
      * dominated candidates. Branches still tracking the best (no
      * divergence yet) must stay: their extensions may beat it. The
      * deferral's cost collapses from O(candidates) to ~O(starts)
      * live branches once each start has a buffered best — dominated
      * branches die the event after they fall behind. Also RELEASES
      * starts sooner (fewer blockers for [[drain]]), with the same
      * winners: pruned branches' completions were all dominated.
      * Round 12: the prefix walk rides the run-length encoding —
      * O(#runs) per branch, not O(match length). */
    def pruneDominated(confs: Vector[Conf[E, C]]): Vector[Conf[E, C]] =
      if (best.isEmpty) confs
      else confs.filter { conf =>
        ops.headOpt(conf.captured).forall { h =>
          best.get(h).forall { m =>
            // keep unless the prefix diverges AND loses there
            val ip = ops.runs(conf.captured); val im = ops.runs(m)
            var sp = -1; var rp = 0
            var sm = -1; var rm = 0
            var keep = true
            var cont = true
            while (cont) {
              if (rp == 0 && ip.hasNext) {
                val r = ip.next(); sp = r.slot; rp = r.count
              }
              if (rm == 0 && im.hasNext) {
                val r = im.next(); sm = r.slot; rm = r.count
              }
              if (rp > 0 && rm > 0) {
                if (sp != sm) { keep = slotWins(c, sp, sm); cont = false }
                else { val k = math.min(rp, rm); rp -= k; rm -= k }
              } else cont = false
            }
            keep
          }
        }
      }
  }

  /** Cheap-key-first order-preserving dedup: hash only `cheap(x)`, deep
    * equality solely within same-key buckets (linear for the near-always
    * singleton buckets; avoids deep-hashing captured event vectors — a
    * plain `.distinct` would be quadratic along a long `oneOrMore` scan)
    * — [[advanceC]]'s branch and match dedup. */
  private def dedupBy[T](xs: Vector[T])(cheap: T => Any): Vector[T] =
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

  /** Un-tag a per-step capture map, preserving declaration order. */
  private def unliftGroups[E](groups: Map[String, Seq[(E, Long)]]):
      Map[String, Seq[E]] =
    scala.collection.immutable.ListMap(groups.toSeq
      .map { case (n, g) => n -> g.map(_._1) }: _*)

  /** Shapes a capture list into step-name → events (capture order). */
  def toGroups[E](c: Compiled[E],
      captured: Vector[(Int, E)]): Map[String, Seq[E]] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Vector[E]]
    c.stepNames.foreach(n => m(n) = Vector.empty)
    captured.foreach { case (s, e) => val n = c.nameOf(s); m(n) = m(n) :+ e }
    // ListMap keeps declaration-order iteration (a plain .toMap would
    // re-hash away the LinkedHashMap order for >4 steps)
    scala.collection.immutable.ListMap(m.toSeq: _*)
  }

  /** Lift a group pattern over arrival-tagged events: every predicate
    * reads through the wrapper, so structural branch dedup then keys on
    * the tag — the reference's SharedBuffer EventId identity. */
  private def liftCtx[E](cp: CtxPred[E]): CtxPred[(E, Long)] =
    if (cp == null) null
    else (w: (E, Long), ctx: Map[String, Seq[(E, Long)]]) =>
      cp(w._1, unliftGroups(ctx))
  private def liftElem[E](e: GElem[E]): GElem[(E, Long)] = e match {
    case GLeaf(n, p, m, cp) =>
      GLeaf(n, (w: (E, Long)) => p(w._1), m, liftCtx(cp))
    case g: GGroup[E] => GGroup(g.elems.map(liftElem[E]), g.mode, g.min,
      g.max, g.optional, g.loopMode,
      g.untilPred.map(up => (w: (E, Long)) => up(w._1)), g.greedy,
      g.relMark, g.maximal, liftCtx(g.untilCtx))
    case GNot(n, p, no) => GNot(n, (w: (E, Long)) => p(w._1), no)
    case a: GAlt[E] => GAlt(a.branches.map(_.map(liftElem[E])), a.mode)
  }
  private[streaming] def liftG[E](p: GPattern[E]): GPattern[(E, Long)] =
    new GPattern(p.elems.map(liftElem[E]), p.withinMs, p.reluctantSel,
      p.deferSel, p.greedySel, arrivalTagged = true)

  /** Per-key-run emission policy, owned by [[KeyRun]] — ONE source of
    * truth for the SQL:2016 evaluation order (anchor-gate, then
    * preference-select, then after-match skip):
    *  - the $ anchor ⇒ every candidate buffers to the end of the key run
    *    (the first completion per start may fail the gate a longer
    *    candidate passes), then the gate keeps the candidates ending on
    *    the run's last arrival tag. Under a selection mode the
    *    most-preferred of them per start wins and emission is
    *    start-ordered — a reluctant pattern must be compiled with
    *    [[GPattern.deferredReluctant]] so [[advance]]'s in-flight
    *    shortest-per-start kill stays off (greedy selection always
    *    defers). Without one every gate-passing candidate emits, in the
    *    order [[advance]] produced them. The ^ anchor needs no
    *    buffering: [[KeyRun]] lets only the run's arrival-0 event open a
    *    branch;
    *  - deferred selection ⇒ [[ReluctantResolver]];
    *  - non-default skip ⇒ [[GroupSkipQueue]] (composing with the
    *    resolver when both apply);
    *  - otherwise matches emit as [[advance]] produces them.
    * `tagOf` supplies the arrival ordinal consulted by the $ gate. */
  private final class GroupRunEmitter[E, C](
      c: Compiled[E], ts: E => Long, skip: Cep.AfterMatchSkip,
      anchorTail: Boolean, tagOf: E => Long, ops: CapOps[E, C]) {
    private val selects = c.reluctantSel || c.greedySel
    // $: the candidates STILL able to pass the gate — all of them without
    // a selection mode, else the most-preferred per start (O(starts)
    // memory, not O(candidates)). Events arrive in tag order, so a newly
    // completed candidate ends at-or-after every buffered one, and a
    // buffered candidate ending EARLIER is already dead (the run now
    // provably extends past it): a newer last tag clears the buffer,
    // equal ends compete on [[preferC]]. Equivalent to buffering every
    // candidate and gate-then-select at run end, which is what
    // O(views x errors) per key would have cost at 100x scale.
    private val aBest =
      if (anchorTail && selects)
        scala.collection.mutable.LinkedHashMap.empty[E, C]
      else null
    private var aAll = Vector.empty[C]
    // the newest last tag held
    private var aBestLt = -1L
    private val rr =
      if (!anchorTail && c.selDeferred) new ReluctantResolver[E, C](c, ts, ops)
      else null
    // anchors × skip composes — the SQL:2016 evaluation order is gate,
    // then select, then skip, so under $ the queue only runs at
    // [[finish]], over the gate-passing selected candidates (no live
    // branch can block: the run has ended)
    private val sq =
      if (skip != Cep.NoSkip) new GroupSkipQueue[E, C](skip, c, ts, ops, rr)
      else null

    /** Matches the skip queue and the resolver still defer. */
    def queued: Vector[C] = if (sq == null) Vector.empty else sq.toPending
    def selecting: Vector[C] = if (rr == null) Vector.empty else rr.toPending
    def restore(queued: Vector[C], selecting: Vector[C]): Unit = {
      if (sq != null) sq.restore(queued)
      if (rr != null) rr.restore(selecting)
    }

    /** After each advance: takes its completions `ms`, returns the
      * possibly skip-pruned branch set. */
    def step(confs: Vector[Conf[E, C]], ms: Vector[C],
        emit: C => Unit): Vector[Conf[E, C]] =
      if (anchorTail) {
        ms.foreach { m =>
          val lt = tagOf(ops.last(m))
          if (lt > aBestLt) {
            if (aBest != null) aBest.clear()
            aAll = Vector.empty
            aBestLt = lt
          }
          if (lt == aBestLt) { // an older end is already dead
            if (aBest == null) aAll :+= m
            else {
              val s0 = ops.head(m)
              aBest(s0) = aBest.get(s0).fold(m)(preferC(c, _, m, ops))
            }
          }
        }
        confs
      }
      else if (rr != null) {
        rr.add(ms)
        // domination can only change when a fold just ran — skipping
        // the scan on quiet events keeps its cost proportional to
        // completions, not to run length (missing a prune is only a
        // perf, never a correctness, matter)
        val live = if (ms.isEmpty) confs else rr.pruneDominated(confs)
        rr.drain(live, m => if (sq != null) sq.add(Vector(m)) else emit(m))
        if (sq != null) sq.drain(live, emit) else live
      }
      else if (sq == null) { ms.foreach(emit); confs }
      else { sq.add(ms); sq.drain(confs, emit) }

    /** A micro-batch boundary: prune dominated branches once (the
      * per-event prune is gated on completions; a branch can first
      * diverge-and-lose on a quiet event under relaxed contiguity), so a
      * decided start's release never waits past the current batch. */
    def settle(confs: Vector[Conf[E, C]],
        emit: C => Unit): Vector[Conf[E, C]] =
      step(if (rr == null) confs else rr.pruneDominated(confs),
        Vector.empty, emit)

    /** End of the key run; `lastTag` = the run's highest arrival tag
      * (only consulted by the $ gate). */
    def finish(lastTag: Long, emit: C => Unit): Unit =
      if (anchorTail) {
        val selected =
          if (aBestLt != lastTag) Vector.empty
          else if (aBest == null) aAll
          else aBest.valuesIterator.toVector
            .sortBy(m => (ts(ops.head(m)), tagOf(ops.head(m))))
        if (sq == null) selected.foreach(emit)
        else {
          // skip runs LAST: over the selected matches in start order
          // (under $ every match ends at the partition tail, so PAST
          // LAST ROW collapses to the earliest start — the boundary
          // rule, not an arbitrary pick)
          sq.add(selected)
          sq.drain(Vector.empty, emit)
        }
      } else {
        if (rr != null) rr.drain(Vector.empty,
          m => if (sq != null) sq.add(Vector(m)) else emit(m))
        if (sq != null) sq.drain(Vector.empty, emit)
      }
  }

  /** One key's run through the NFA — the one driver loop behind every CEP
    * consumer, as the reference runs every caller through one NFA over
    * one per-key NFAState (NFA.java process / advanceTime): the library
    * batch driver steps it over each sorted key run, the planned
    * [[graft.plans.GroupCepPlan.GroupCepExec]] over each key run of its
    * sorted partition, and the streaming state function
    * ([[matchStreamArrivalFn]]) over each micro-batch, saving and
    * restoring its entries in [[GArrivalState]]. Generic over the
    * capture representation `C` (see [[CapOps]]).
    *
    * It owns the live branches, the terminal-negation gate (completed
    * matches of a pattern ending in notFollowedBy/notNext wait at a
    * [[Cep.NegGate]]), the [[GroupRunEmitter]], the ^ start rule (only
    * the key's arrival-0 event may open a branch, so every candidate is
    * head-anchored by construction) and `within` expiry with the
    * timed-out channel (`onTimeout`: an expired partial match, or a
    * notNext gate entry whose window passed, with the expiry time).
    *
    * `event` feeds one event at its time; `time` advances event time
    * without an event (a watermark); `endOfBatch` settles deferred
    * emission at a micro-batch boundary; `end` closes a bounded run
    * (`lastTag` = its highest arrival tag, for the $ gate). */
  private[graft] final class KeyRun[E, C](c: Compiled[E], ts: E => Long,
      skip: Cep.AfterMatchSkip, ops: CapOps[E, C], tagOf: E => Long,
      anchorHead: Boolean, anchorTail: Boolean, emit: C => Unit,
      onTimeout: (C, Long) => Unit = null) {
    KeyRun.check(c, skip, anchorTail)
    private var confs = Vector.empty[Conf[E, C]]
    private val em = new GroupRunEmitter[E, C](c, ts, skip, anchorTail,
      tagOf, ops)
    private val gate = c.terminalNot.map(n => new Cep.NegGate[E, C](n.pred,
      n.nextOnly, c.withinMs, (m: C) => ts(ops.head(m)))).orNull
    private val expired: (C, Long) => Unit =
      if (onTimeout == null) (_, _) => () else onTimeout
    private var peak = 0

    def event(e: E, t: Long): Unit = {
      if (gate != null || onTimeout != null) time(t)
      val (next, ms) = advanceC(c, confs, e, t,
        canStart = !anchorHead || tagOf(e) == 0L, ops)
      if (next.size > peak) peak = next.size
      // the event decides every pending gate entry before its own
      // completions join the gate
      val out = if (gate == null) ms
                else { gate.onEvent(e, emit); gate.add(ms); Vector.empty }
      confs = em.step(next, out, emit)
    }

    /** Event time reaches `t`: the gate decides entries whose horizon
      * passed, and expired branches die — surfacing on the timeout
      * channel once per distinct capture (a loop's stay and exit
      * branches are one partial match). */
    def time(t: Long): Unit = c.withinMs.foreach { w =>
      if (gate != null) gate.onTime(t, emit, expired)
      if (!confs.forall(p => t - p.startTs < w)) {
        val (dead, live) = confs.partition(p => t - p.startTs >= w)
        confs = live
        if (onTimeout != null)
          dedupBy(dead.map(_.captured))(ops.length).foreach(onTimeout(_, t))
      }
    }

    def endOfBatch(): Unit = confs = em.settle(confs, emit)

    /** End of a bounded run: no banned event can follow any more
      * (notFollowedBy entries confirm) and no live branch blocks
      * emission. */
    def end(lastTag: Long): Unit = {
      if (gate != null) gate.flushEnd(emit)
      em.finish(lastTag, emit)
    }

    /** Peak live branches after an advance (hot-key diagnostics). */
    def maxLive: Int = peak
    def branches: Vector[Conf[E, C]] = confs
    def queued: Vector[C] = em.queued
    def selecting: Vector[C] = em.selecting
    def gated: Vector[C] = if (gate == null) Vector.empty else gate.toState
    /** Resume from saved entries (streaming state). */
    def restore(branches: Vector[Conf[E, C]], queued: Vector[C],
        selecting: Vector[C], gated: Vector[C]): Unit = {
      confs = branches
      em.restore(queued, selecting)
      if (gate != null) gate.add(gated)
    }
  }

  private[graft] object KeyRun {
    /** The driver-level rules a pattern must meet: terminal negation
      * holds matches outside the skip queue and waits past the match's
      * last row, so it composes with neither a non-default skip nor the
      * $ anchor (which demands that row be the run's last). */
    def check(c: Compiled[_], skip: Cep.AfterMatchSkip,
        anchorTail: Boolean): Unit = {
      require(c.terminalNot.isEmpty || skip == Cep.NoSkip,
        "terminal negation requires the default NoSkip strategy")
      require(c.terminalNot.isEmpty || !anchorTail,
        "$ anchor cannot combine with terminal negation")
    }
  }

  /** One arrival-tagged key run through [[KeyRun]] (events sorted, tags
    * = run positions); returns the outputs and the branches still open
    * at the end of the run. */
  private def runKeyCore[K, E, O, C](k: K, events: Vector[(E, Long)],
      ts: ((E, Long)) => Long, compiled: Compiled[(E, Long)],
      skip: Cep.AfterMatchSkip, anchorHead: Boolean, anchorTail: Boolean,
      finish: (K, Map[String, Seq[E]]) => O, stats: Cep.HotKeyStats,
      ops: CapOps[(E, Long), C]): (Vector[O], Vector[Conf[(E, Long), C]]) = {
    val outs = Vector.newBuilder[O]
    val run = new KeyRun[(E, Long), C](compiled, ts, skip, ops, _._2,
      anchorHead, anchorTail,
      m => outs += finish(k, unliftGroups(toGroups(compiled, ops.toVector(m)))))
    events.foreach(w => run.event(w, ts(w)))
    run.end(events.size.toLong - 1)
    if (stats != null) {
      stats.maxKeyEvents.add(events.size.toLong)
      stats.maxPartials.add(run.maxLive.toLong)
    }
    (outs.result(), run.branches)
  }

  /** [[runKeyCore]] in the cheapest exact representation: strict
    * contiguity ⇒ range-compressed [[SpanCaps]] captures (O(#runs) per
    * branch instead of O(match length)), else the exact vector. */
  private def runKey[K, E, O](k: K, events: Vector[(E, Long)],
      ts: ((E, Long)) => Long, compiled: Compiled[(E, Long)],
      skip: Cep.AfterMatchSkip, anchorHead: Boolean, anchorTail: Boolean,
      finish: (K, Map[String, Seq[E]]) => O,
      stats: Cep.HotKeyStats): Vector[O] =
    if (compiled.strictSpans)
      runKeyCore(k, events, ts, compiled, skip, anchorHead, anchorTail,
        finish, stats, spanOpsFor(events))._1
    else
      runKeyCore(k, events, ts, compiled, skip, anchorHead, anchorTail,
        finish, stats, vecOps[(E, Long)])._1

  /** Test seam behind `Cep.runMatches`: the batch driver's run of one
    * key over pre-timestamped events (ties keep input order — the
    * reference's feedNFA contract); returns the matches and the
    * branches still open at the end. */
  private[graft] def runKeyTimed[E](events: Seq[(E, Long)],
      pattern: GPattern[E], skip: Cep.AfterMatchSkip)
      : (Vector[Map[String, Seq[E]]], Vector[GConf[(E, Long)]]) = {
    val tsArr = events.map(_._2).toArray
    val wrapped = events.indices.map(i => (events(i)._1, i.toLong)).toVector
      .sortBy(w => (tsArr(w._2.toInt), w._2))
    runKeyCore[Unit, E, Map[String, Seq[E]], Vector[(Int, (E, Long))]](
      (), wrapped, w => tsArr(w._2.toInt), compile(liftG(pattern)), skip,
      anchorHead = false, anchorTail = false, (_, groups) => groups, null,
      vecOps[(E, Long)])
  }

  /** Span ops over an arrival-tagged key run: positions ARE the tags
    * (the drivers zipWithIndex), so materialization indexes the run. */
  private def spanOpsFor[E](events: Vector[(E, Long)])
      : CapOps[(E, Long), SpanCaps[(E, Long)]] =
    new SpanOps[(E, Long)](_._2.toInt, i => events(i))

  /** Test seam: whether the lifted form of `pattern` takes the
    * [[Compiled.noEpsilonDup]] dedup skip — the differential property
    * asserts its patterns actually exercise the skip. */
  private[graft] def noEpsilonDupForTest[E](pattern: GPattern[E]): Boolean =
    compile(liftG(pattern)).noEpsilonDup

  /** Test seam: ONE key run under an EXPLICIT capture representation.
    * The representation choice is a pure optimization — the vec-vs-span
    * equivalence property (PropertySpec) drives random strict patterns
    * through both and asserts identical match sequences, which the
    * drivers' automatic `strictSpans` routing is not directly testable
    * for (they pick one representation). */
  private[graft] def runKeyRepForTest[E](events: Vector[E], ts: E => Long,
      pattern: GPattern[E], skip: Cep.AfterMatchSkip, useSpans: Boolean,
      forceDedup: Boolean = false): Vector[Map[String, Seq[E]]] = {
    val compiled = compile(liftG(pattern))
    compiled.forceEpsilonDedup = forceDedup
    require(!useSpans || compiled.strictSpans,
      "span representation requires an all-strict pattern")
    val wrapped = events.zipWithIndex.map { case (e, i) => (e, i.toLong) }
    val fin = (_: Unit, g: Map[String, Seq[E]]) => g
    if (useSpans)
      runKeyCore((), wrapped, (w: (E, Long)) => ts(w._1), compiled, skip,
        false, false, fin, null, spanOpsFor(wrapped))._1
    else
      runKeyCore((), wrapped, (w: (E, Long)) => ts(w._1), compiled, skip,
        false, false, fin, null, vecOps[(E, Long)])._1
  }

  /** Compile for a batch run: ^/$ anchors need every candidate of a
    * start buffered, so reluctant selection is forced DEFERRED (greedy
    * selection always is). */
  private def compileBatch[E](pattern: GPattern[E],
      anchored: Boolean): Compiled[(E, Long)] =
    compile(liftG(if (anchored) pattern.deferredReluctant else pattern))

  /** Pure single-key batch run over in-order events — the property-test
    * seam onto the batch driver (compile + arrival tags + [[KeyRun]]'s
    * end-of-input flush), exactly what [[matchBatchGroups]] does per key
    * without a Dataset/session. */
  private[graft] def runKeyEvents[E, O](events: Vector[E], ts: E => Long,
      pattern: GPattern[E], skip: Cep.AfterMatchSkip = Cep.NoSkip,
      anchorHead: Boolean = false, anchorTail: Boolean = false)(
      finish: Map[String, Seq[E]] => O): Vector[O] =
    runKey[Unit, E, O]((),
      events.zipWithIndex.map { case (e, i) => (e, i.toLong) },
      w => ts(w._1), compileBatch(pattern, anchorHead || anchorTail), skip,
      anchorHead, anchorTail, (_, groups) => finish(groups), null)

  /** Run a group pattern over a batch Dataset: one event-time-sorted scan
    * per key — the batch driver behind the DSL's library route
    * (`Cep.matchBatchGroups`). `skip` runs the reference's
    * deferred-emission after-match machinery ([[GroupSkipQueue]]). Event
    * identity is the reference's SharedBuffer EventId: each event is
    * tagged with its arrival position in the key's sorted run, so
    * value-identical events at one timestamp are distinct branch
    * states. */
  def matchBatchGroups[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: GPattern[E],
      tie: E => Long = (_: E) => 0L,
      skip: Cep.AfterMatchSkip = Cep.NoSkip,
      stats: Cep.HotKeyStats = null)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] = {
    val compiled = compile(liftG(pattern))
    KeyRun.check(compiled, skip, anchorTail = false) // validate eagerly
    ds.groupByKey(key).flatMapGroups { (k: K, it: Iterator[E]) =>
      val wrapped = it.toVector.sortBy(e => (ts(e), tie(e)))
        .zipWithIndex.map { case (e, i) => (e, i.toLong) }
      runKey[K, E, O](k, wrapped, w => ts(w._1), compiled, skip,
        anchorHead = false, anchorTail = false, finish, stats).iterator
    }
  }

  /** Reference-exact after-match machinery
    * (NFA.processMatchesAccordingToSkipStrategy): completed
    * matches wait in a start-ordered queue until no earlier-started
    * branch is live; each emission prunes both the open branches and the
    * still-queued matches by the strategy's boundary (SkipPastLastEvent:
    * start <= last captured event; SkipToFirst/Last(step): start </>= the
    * named LEAF's first/last captured event, no pruning on an empty
    * group). */
  private final class GroupSkipQueue[E, C](skip: Cep.AfterMatchSkip,
      c: Compiled[E], ts: E => Long, ops: CapOps[E, C],
      rr: ReluctantResolver[E, C] = null) {
    private var pending = Vector.empty[C]

    /** Deferred matches still waiting on a live earlier branch — carried
      * across micro-batches by the streaming driver's [[GArrivalState]]. */
    def toPending: Vector[C] = pending
    def restore(ms: Vector[C]): Unit = pending = ms

    private def startOf(m: C): Long =
      if (ops.isEmpty(m)) Long.MinValue else ts(ops.head(m))

    def add(matches: Vector[C]): Unit =
      if (matches.nonEmpty)
        pending = (pending ++ matches).sortBy(startOf)

    def drain(confs: Vector[Conf[E, C]],
        emit: C => Unit): Vector[Conf[E, C]] = if (pending.isEmpty) confs
    else {
      var cs = confs
      var minStart =
        if (cs.isEmpty) Long.MaxValue else cs.iterator.map(_.startTs).min
      while (pending.nonEmpty && startOf(pending.head) <= minStart) {
        val m = pending.head
        pending = pending.tail
        emit(m)
        skip match {
          case Cep.SkipPastLastEvent =>
            // boundary = MAX captured ts (the reference's
            // SkipPastLastStrategy prunes by the max event id) — NOT
            // ts(last): the streaming driver sorts only within each
            // micro-batch, so a cross-batch late event can leave the
            // max before the final capture; under-pruning there would
            // leak extra matches. O(length) on the streaming vector
            // path, O(#runs) on the batch span path.
            val boundary = ops.maxOver(m, ts)
            cs = cs.filter(_.startTs > boundary)
            pending = pending.filter(startOf(_) > boundary)
            if (rr != null) rr.prune(_ > boundary)
          case Cep.SkipToFirst(name) =>
            // first captured event of the named leaf = first run with
            // that name
            ops.runs(m).find(r => c.nameOf(r.slot) == name).foreach { r =>
              val b = ts(r.first)
              cs = cs.filter(_.startTs >= b)
              pending = pending.filter(startOf(_) >= b)
              if (rr != null) rr.prune(_ >= b)
            }
          case Cep.SkipToLast(name) =>
            // last captured event of the named leaf = last run with
            // that name
            var lastRun: CapRun[E] = null
            ops.runs(m).foreach { r =>
              if (c.nameOf(r.slot) == name) lastRun = r
            }
            if (lastRun != null) {
              val b = ts(lastRun.last)
              cs = cs.filter(_.startTs >= b)
              pending = pending.filter(startOf(_) >= b)
              if (rr != null) rr.prune(_ >= b)
            }
          case Cep.NoSkip => ()
        }
        minStart =
          if (cs.isEmpty) Long.MaxValue else cs.iterator.map(_.startTs).min
      }
      cs
    }
  }

  /** Arm the `within` expiry timer on the oldest start still held:
    * expiry is `time - start >= within` (NFA.java prunes at timestamp -
    * startTs >= windowTime), so the timer fires exactly at
    * `start + within` — never at or before the current watermark. */
  private def armExpiry(state: GroupState[_], withinMs: Option[Long],
      starts: Iterable[Long]): Unit =
    withinMs.foreach { w =>
      if (starts.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(starts.min + w, state.getCurrentWatermarkMs() + 1))
    }

  /** Streaming keyed state, one flat row per key: the per-key cross-batch
    * arrival counter (the reference's SharedBuffer EventId allocator —
    * flink-cep/.../nfa/sharedbuffer/EventId.java assigns each arriving
    * event a per-key ordinal), the open branches over arrival-tagged
    * events, the completed matches the after-match skip queue still
    * defers (they wait for every earlier-started live branch to resolve,
    * which can take more micro-batches), the deferred selection
    * candidates, the matches waiting at the terminal-negation gate, the
    * per-key match ordinal (streaming MATCH_NUMBER()) and the PREV() row
    * carry — [[KeyRun]]'s entries between micro-batches.
    *
    * STATE-FORMAT NOTE: the streaming driver persists this row through
    * [[CepStateEnvelope]] — a (version INT, kryo BINARY) row whose
    * version column is readable against any checkpoint generation — so
    * restoring state written by a different format generation raises the
    * named [[CepStateVersionException]] instead of an opaque
    * KryoException (layout change) or a silent wrong resume (semantic
    * change with unchanged layout). Bump [[CepStateCodec.GroupVersion]]
    * whenever this class, [[Conf]] or their meaning changes; the recovery
    * posture stays the standard Spark one — restart from a fresh
    * checkpoint after reprocessing. */
  final case class GArrivalState[E](nextSeq: Long,
      confs: Vector[GConf[(E, Long)]],
      pending: Vector[Vector[(Int, (E, Long))]] = Vector.empty,
      pendingSel: Vector[Vector[(Int, (E, Long))]] = Vector.empty,
      gated: Vector[Vector[(Int, (E, Long))]] = Vector.empty,
      matchSeq: Long = 0L, carry: Vector[E] = Vector.empty)

  /** The one streaming state function, behind every library streaming
    * route: tags each micro-batch's events (sorted by `(ts, tie)`) with
    * consecutive per-key arrival ordinals and steps a [[KeyRun]] over
    * them, resuming from and saving to the key's [[GArrivalState]].
    * Exposed so a TestGroupState harness can drive the timeout path
    * directly (the reference tests within-pruning via NFA watermark
    * advance in flink-cep/.../nfa/NFATest.java).
    *
    * When the pattern has `within`, idle keys are pruned by event-time
    * timers: on timeout, branches whose horizon the watermark passed die
    * (surfacing on `onTimeout`, when set, as step name → captured events
    * plus the expiry time — PatternStream.select with a timeout tag;
    * within a batch the two channels interleave at their event-time
    * positions) and the timer re-arms on the oldest survivor (reference:
    * NFA.java advanceTime). `anchorHead` lets only the key's first-EVER
    * event open a branch. `pre(carriedRows, event)`, when set, rewrites
    * each event with the key's previous rows visible (streaming PREV()).
    * `numbered`, when set, replaces `finish` and receives the 1-based
    * cross-batch per-key match ordinal (streaming MATCH_NUMBER()).
    *
    * The call decides what outlives a key's last open entry: the arrival
    * counter under `anchorHead` (tag 0 then means the partition's
    * first-EVER event — the inherent state price of first-ever
    * semantics; otherwise identity only disambiguates events live
    * branches reference and the counter restarts), the match ordinal
    * under `numbered`, the carry under `pre`. */
  def matchStreamArrivalFn[K, E, O](pattern: GPattern[E], ts: E => Long,
      tie: E => Long, skip: Cep.AfterMatchSkip,
      finish: (K, Map[String, Seq[E]]) => O,
      stats: Cep.HotKeyStats = null,
      anchorHead: Boolean = false,
      onTimeout: (K, Map[String, Seq[E]], Long) => O = null,
      pre: (Vector[E], E) => (Vector[E], E) = null,
      numbered: (K, Long, Map[String, Seq[E]]) => O = null):
      (K, Iterator[E], GroupState[GArrivalState[E]]) => Iterator[O] = {
    type W = (E, Long)
    type C = Vector[(Int, W)]
    val compiled = compile(liftG(pattern))
    KeyRun.check(compiled, skip, anchorTail = false) // validate eagerly
    val tsW = (w: W) => ts(w._1)
    (k: K, it: Iterator[E], state: GroupState[GArrivalState[E]]) => {
      val st = state.getOption.getOrElse(GArrivalState[E](0L, Vector.empty))
      var seq = st.nextSeq
      var matchSeq = st.matchSeq
      var carry = st.carry
      val outs = Vector.newBuilder[O]
      def groups(m: C) = unliftGroups(toGroups(compiled, m))
      // streaming keeps the EXACT capture vectors: deferred candidates
      // and queued matches ride keyed state across micro-batches and
      // must materialize without a key-run event array
      val run = new KeyRun[W, C](compiled, tsW, skip, vecOps[W], _._2,
        anchorHead, anchorTail = false,
        m => outs += (
          if (numbered == null) finish(k, groups(m))
          else { matchSeq += 1; numbered(k, matchSeq, groups(m)) }),
        if (onTimeout == null) null
        else (m, at) => outs += onTimeout(k, groups(m).filter(_._2.nonEmpty), at))
      run.restore(st.confs, st.pending, st.pendingSel, st.gated)
      if (state.hasTimedOut) run.time(state.getCurrentWatermarkMs())
      else {
        val sorted = it.toVector.sortBy(e => (ts(e), tie(e)))
        sorted.foreach { e0 =>
          val e = if (pre == null) e0
                  else { val (c2, e2) = pre(carry, e0); carry = c2; e2 }
          run.event((e, seq), ts(e))
          seq += 1
        }
        if (stats != null) {
          stats.maxKeyEvents.add(sorted.size.toLong)
          stats.maxPartials.add(run.maxLive.toLong)
        }
      }
      run.endOfBatch()
      val row = GArrivalState(seq, run.branches, run.queued, run.selecting,
        run.gated, matchSeq, carry)
      val open = row.confs.nonEmpty || row.pending.nonEmpty ||
        row.pendingSel.nonEmpty || row.gated.nonEmpty
      if (open || (anchorHead && seq > 0L) ||
          (numbered != null && matchSeq > 0L) || carry.nonEmpty) {
        state.update(row)
        if (open) armExpiry(state, compiled.withinMs,
          row.confs.map(_.startTs) ++ row.gated.map(m => tsW(m.head._2)))
      } else state.remove()
      outs.result().iterator
    }
  }

  /** The keyed-state driver every streaming CEP route shares (the DSL's
    * `Cep.matchStream*`, MATCH_RECOGNIZE, [[matchStream]]): runs a
    * [[matchStreamArrivalFn]] state function under
    * `flatMapGroupsWithState`, the state crossing micro-batches as a
    * version-tagged [[CepStateEnvelope]]; `within` patterns ride
    * event-time timers. */
  private[streaming] def streamDriver[K, E, O: Encoder](ds: Dataset[E],
      key: E => K, withinMs: Option[Long],
      fn: (K, Iterator[E], GroupState[GArrivalState[E]]) => Iterator[O])(
      implicit ke: Encoder[K]): Dataset[O] = {
    val timeoutConf =
      if (withinMs.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    implicit val senc: Encoder[CepStateEnvelope] = CepStateCodec.envelopeEncoder
    ds.groupByKey(key).flatMapGroupsWithState[CepStateEnvelope, O](
      OutputMode.Append(), timeoutConf)(
      CepStateCodec.versionedFn("GroupCep.GArrivalState",
        CepStateCodec.GroupVersion, fn))
  }

  /** Streaming twin: branches persist in keyed state across micro-batches.
    * Events must arrive in event-time order per key within a batch (sort
    * applied); cross-batch late events are not re-ordered — feed through
    * [[StreamOps.eventTimeSorted]] first when that matters.
    *
    * `skip` runs the batch path's [[GroupSkipQueue]] semantics; deferred
    * matches ride keyed state until their blocking branches resolve.
    * Event identity is the reference's SharedBuffer EventId semantics
    * (arrival identity, [[GArrivalState]]'s cross-batch counter), like
    * the batch driver.
    *
    * Patterns with `within` require a watermarked input (`withWatermark`
    * upstream): expiry of idle keys' partial branches rides event-time
    * timers, bounding state. Patterns without `within` keep partials
    * indefinitely — exactly the reference's semantics. */
  def matchStream[K, E, O: Encoder](ds: Dataset[E], key: E => K,
      ts: E => Long, pattern: GPattern[E],
      tie: E => Long = (_: E) => 0L,
      skip: Cep.AfterMatchSkip = Cep.NoSkip,
      stats: Cep.HotKeyStats = null,
      anchorHead: Boolean = false)(
      finish: (K, Map[String, Seq[E]]) => O)(
      implicit ke: Encoder[K]): Dataset[O] =
    streamDriver(ds, key, pattern.withinMs,
      matchStreamArrivalFn(pattern, ts, tie, skip, finish, stats, anchorHead))
}
