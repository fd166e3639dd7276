package graft.plans

import graft.streaming.{Cep, GroupCep}
import graft.streaming.GroupCep.GPattern

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, Predicate, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** CEP as a *planned* operator: custom `LogicalPlan` + `SparkStrategy` +
  * physical `SparkPlan` driving the [[GroupCep]] epsilon-NFA — the one
  * planned CEP operator, for flat and grouped patterns alike (reference:
  * flink-cep compiles plain patterns and GroupPatterns through one
  * NFACompiler into one CEPOperatorUtils transformation; here the
  * planner owns the data movement instead).
  *
  * Why plan it rather than wrap `flatMapGroups` (the library drivers)?
  *  - The physical node *declares* `ClusteredDistribution(key)` +
  *    `(key, ts, tie)` child ordering; `EnsureRequirements` then inserts
  *    exactly one hash shuffle and one sort — and can elide either when an
  *    upstream operator already provides it (bucketed source, prior
  *    window), which a Dataset-level groupByKey can never do.
  *  - The NFA streams over each sorted key run without materializing the
  *    group: memory is bounded by open branches (within-pruned), not by
  *    group size.
  *  - Predicates stay Catalyst expressions, evaluated code-gen'd via
  *    `Predicate.create`, not opaque lambdas behind an encoder boundary.
  *
  * Supported subset: leaves (followedBy/next/followedByAny), quantified
  * sub-groups with times/optional/consecutive/allowCombinations, `until`
  * stop conditions on quantified groups, negative elements
  * (notFollowedBy/notNext, anywhere a sibling may follow, and TERMINAL —
  * notNext always, notFollowedBy with within, via the SAME
  * [[graft.streaming.Cep.NegGate]] the library drivers run),
  * alternation, and within. The SQL:2016 compositions — pattern-level
  * reluctant or greedy selection, ^/$ anchor gates (gate before
  * selection) and the after-match skip queue — all run through
  * [[GroupCep.KeyRun]], the key-run driver the library routes step too,
  * so planned and library routes share one source of truth for the
  * evaluation order.
  */
object GroupCepPlan {

  /** Public pattern spec: a sequence of elements, each a leaf step, a
    * quantified sub-group, or a negative condition. `strict` ⇒ `next`
    * contiguity to the previous element, `any` ⇒ `followedByAny`; default
    * relaxed `followedBy`. The first element's contiguity flags are
    * ignored (pattern start). `GGroupSpec.until` attaches the reference's
    * stop condition: an event matching it kills every in-group branch
    * outright. `GNotSpec` is notFollowedBy (notNext when `nextOnly`) —
    * the branch dies if the banned event arrives before the following
    * element takes; as the LAST top-level element it is terminal
    * negation (see [[matchGroupPattern]]). */
  sealed trait GSpec
  final case class GLeafSpec(name: String, pred: Column,
      strict: Boolean = false, any: Boolean = false) extends GSpec
  final case class GGroupSpec(elems: Seq[GSpec], min: Int = 1, max: Int = 1,
      optional: Boolean = false, consecutive: Boolean = false,
      combinations: Boolean = false, strict: Boolean = false,
      any: Boolean = false, until: Option[Column] = None,
      relMark: Boolean = false) extends GSpec
  final case class GNotSpec(name: String, pred: Column,
      nextOnly: Boolean = false) extends GSpec
  /** Alternation `(b1 | b2 | ...)`: exactly one branch matches, leftmost
    * preferred under reluctant selection (round 11 — alternation joins
    * the planned twin; quantify it by wrapping in a [[GGroupSpec]]). */
  final case class GAltSpec(branches: Seq[Seq[GSpec]],
      strict: Boolean = false, any: Boolean = false) extends GSpec

  /** Serializable skeleton shipped to executors: structure only, leaf/
    * guard predicates referenced by index into the plan's expression
    * list (`untilIdx` -1 = none). A trailing top-level [[NotSkel]] is
    * the terminal negation. */
  sealed trait Skel extends Serializable
  final case class LeafSkel(name: String, predIdx: Int, strict: Boolean,
      any: Boolean) extends Skel
  final case class GroupSkel(elems: Seq[Skel], min: Int, max: Int,
      optional: Boolean, consecutive: Boolean, combinations: Boolean,
      strict: Boolean, any: Boolean, untilIdx: Int = -1,
      relMark: Boolean = false) extends Skel
  final case class NotSkel(name: String, predIdx: Int,
      nextOnly: Boolean) extends Skel
  final case class AltSkel(branches: Seq[Seq[Skel]], strict: Boolean,
      any: Boolean) extends Skel

  /** Logical node; resolved on construction (expressions come from
    * `df.col` against the analyzed child), `outputAttrs` fixed to keep
    * exprIds stable under plan transforms. */
  final case class GroupCepMatchPlan(
      keyExpr: Expression, tsExpr: Expression, tieExpr: Expression,
      skeleton: Seq[Skel], leafPreds: Seq[Expression],
      stepNames: Seq[String], withinMicros: Option[Long],
      reluctant: Boolean, anchorHead: Boolean, anchorTail: Boolean,
      skip: Cep.AfterMatchSkip, sqlGreedy: Boolean,
      allRows: Boolean,
      outputAttrs: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = outputAttrs
    // the physical operator re-emits every child column per matched
    // step, so the whole child row is "referenced" — keeps ColumnPruning
    // from inserting a Project that would shift field ordinals under us
    override def references: AttributeSet = AttributeSet(child.output)
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override protected def withNewChildInternal(newChild: LogicalPlan) =
      copy(child = newChild)
  }

  object GroupCepStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case p: GroupCepMatchPlan =>
        GroupCepExec(p.keyExpr, p.tsExpr, p.tieExpr, p.skeleton, p.leafPreds,
          p.stepNames, p.withinMicros, p.reluctant, p.anchorHead,
          p.anchorTail, p.skip, p.sqlGreedy, p.allRows, p.outputAttrs,
          planLater(p.child)) :: Nil
      case _ => Nil
    }
  }

  /** Rebuild the GPattern from the skeleton with `pred(i)` as the i-th
    * predicate, `within` and the selection modes applied — runs once per
    * partition with bound predicates, and once at plan time with
    * placeholders, so GPattern's own rules (and [[GroupCep.KeyRun]]'s)
    * reject a malformed pattern at the driver. The pattern runs over
    * ARRIVAL-TAGGED rows (row, per-key-run ordinal) — the SharedBuffer
    * EventId identity: events arrive key-sorted, so a local counter
    * suffices. Anchors force DEFERRED reluctant selection (every
    * candidate of a start must reach the gates). */
  private def buildPattern(skel: Seq[Skel], within: Option[Long],
      reluctant: Boolean, sqlGreedy: Boolean, anchored: Boolean,
      pred: Int => ((InternalRow, Long)) => Boolean)
      : GPattern[(InternalRow, Long)] = {
    type T = (InternalRow, Long)
    def build(elems: Seq[Skel]): GPattern[T] = {
      require(elems.nonEmpty, "empty pattern group")
      var p: GPattern[T] = null
      elems.foreach {
        case l: LeafSkel =>
          val f = pred(l.predIdx)
          p = if (p == null) GPattern.begin(l.name)(f)
          else if (l.strict) p.next(l.name)(f)
          else if (l.any) p.followedByAny(l.name)(f)
          else p.followedBy(l.name)(f)
        case g: GroupSkel =>
          val sub = build(g.elems)
          p = if (p == null) GPattern.begin(sub)
          else if (g.strict) p.next(sub)
          else if (g.any) p.followedByAny(sub)
          else p.followedBy(sub)
          if (g.min != 1 || g.max != 1)
            p = if (g.min == g.max) p.times(g.min) else p.times(g.min, g.max)
          if (g.optional) p = p.optional
          if (g.consecutive) p = p.consecutive
          if (g.combinations) p = p.allowCombinations
          if (g.relMark) p = p.markReluctant
          if (g.untilIdx >= 0) p = p.until(pred(g.untilIdx))
        case n: NotSkel =>
          val f = pred(n.predIdx)
          // a leading negation builds too: compile rejects it by name
          p = if (p == null) GPattern.of(
                Vector(GroupCep.GNot(n.name, f, n.nextOnly)), None)
              else if (n.nextOnly) p.notNext(n.name)(f)
              else p.notFollowedBy(n.name)(f)
        case a: AltSkel =>
          val alts = a.branches.map(build)
          p = if (p == null) GPattern.begin(alts)
          else if (a.strict) p.next(alts)
          else if (a.any) p.followedByAny(alts)
          else p.followedBy(alts)
      }
      p
    }
    var pat = build(skel)
    within.foreach(w => pat = pat.within(w))
    if (reluctant) pat = pat.reluctant
    if (sqlGreedy) pat = pat.greedySelect
    if (anchored && reluctant) pat.deferredReluctant else pat
  }

  /** Predicate indices whose match can be CAPTURED by a branch (leaf
    * steps) — negative/until guards only kill branches, so rows matching
    * only guards never need the defensive copy in the exec's scan. */
  private def capturingIdx(skel: Seq[Skel]): Set[Int] = skel.flatMap {
    case l: LeafSkel => Seq(l.predIdx)
    case g: GroupSkel => capturingIdx(g.elems)
    case a: AltSkel => a.branches.flatMap(capturingIdx)
    case _: NotSkel => Seq.empty
  }.toSet

  /** Physical operator: a [[GroupCep.KeyRun]] over each sorted key run.
    * Output: `key`, then per step its capture COUNT and every child
    * column of the step's first captured event (null if none). */
  final case class GroupCepExec(
      keyExpr: Expression, tsExpr: Expression, tieExpr: Expression,
      skeleton: Seq[Skel], leafPreds: Seq[Expression],
      stepNames: Seq[String], withinMicros: Option[Long],
      reluctant: Boolean, anchorHead: Boolean, anchorTail: Boolean,
      skip: Cep.AfterMatchSkip, sqlGreedy: Boolean,
      allRows: Boolean,
      outputAttrs: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

    override def output: Seq[Attribute] = outputAttrs
    override def producedAttributes: AttributeSet = AttributeSet(outputAttrs)
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(keyExpr)) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(
      SortOrder(keyExpr, Ascending), SortOrder(tsExpr, Ascending),
      SortOrder(tieExpr, Ascending)))
    override protected def withNewChildInternal(newChild: SparkPlan) =
      copy(child = newChild)

    /** Hot-key diagnostics (CEP is sequential per key, so one viral key
      * serializes its task — same as the reference's keyed CEP operator,
      * which at least exposes backpressure metrics; these are our
      * equivalent). Each task reports ITS maxima (read the per-task max
      * in the UI; the driver total sums task maxes). Mitigation for a
      * genuinely hot key is within-horizon truncation — ENGINE.md §2.11. */
    override lazy val metrics: Map[String, org.apache.spark.sql.execution.metric.SQLMetric] = Map(
      "numMatches" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "number of matches"),
      "maxKeyEvents" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext, "max events in one key run (per task)"),
      "maxKeyBranches" -> org.apache.spark.sql.execution.metric.SQLMetrics
        .createMetric(sparkContext,
          "max concurrent branches (per task)"))

    override protected def doExecute(): RDD[InternalRow] = {
      val childOutput = child.output
      val nCols = childOutput.size
      val nSteps = stepNames.size
      val colTypes = childOutput.map(_.dataType)
      val (kE, tsE) = (keyExpr, tsExpr)
      val (skel, preds, names, within) =
        (skeleton, leafPreds, stepNames, withinMicros)
      val (rel, aHead, aTail, skipStrat, sqlG, aRows) =
        (reluctant, anchorHead, anchorTail, skip, sqlGreedy, allRows)
      val outTypes = outputAttrs.map(_.dataType).toArray
      val numMatches = longMetric("numMatches")
      val maxKeyEvents = longMetric("maxKeyEvents")
      val maxKeyBranches = longMetric("maxKeyBranches")

      child.execute().mapPartitions({ rows =>
        val keyEval = BindReferences.bindReference(kE, childOutput)
        val tsEval = BindReferences.bindReference(tsE, childOutput)
        val bound = preds.map { p =>
          val bp = Predicate.create(p, childOutput); bp.initialize(0); bp
        }.toIndexedSeq
        // rows are tagged with per-key arrival ordinals below — mark
        // the pattern so the dedup-skip fast path applies (see
        // Compiled.noEpsilonDup)
        val compiled = GroupCep.compile(buildPattern(skel, within, rel, sqlG,
          aHead || aTail, i => w => bound(i).eval(w._1)).withArrivalIdentity)
        val tsOf: ((InternalRow, Long)) => Long =
          w => tsEval.eval(w._1).asInstanceOf[Long]
        // only leaf-step matches can be captured; not/until guard rows
        // merely kill branches and never need the defensive copy
        val capturing = capturingIdx(skel).toArray.sorted
        val nCapturing = capturing.length
        val proj = UnsafeProjection.create(outTypes)
        // each capture slot's declared step index (several slots can
        // share a step name under alternation)
        val slotStep: Array[Int] = Array.tabulate(compiled.slotCount)(
          s => names.indexOf(compiled.stepNameOf(s)))
        // stepNames is built from the same specs, so this only guards
        // a future caller: a named error, not an index of -1
        require(slotStep.forall(_ >= 0),
          "every capture slot's step name must be in stepNames: " +
            s"${(0 until compiled.slotCount).filter(slotStep(_) < 0)
              .map(compiled.stepNameOf).distinct.mkString(", ")} missing")

        new Iterator[InternalRow] {
          private val queue = new scala.collection.mutable.Queue[InternalRow]
          private var curKey: Any = null
          private var haveKey = false
          // per-key-run arrival counter (EventId allocator)
          private var arrSeq = 0L
          // per-key 1-based match ordinal (MATCH_NUMBER)
          private var matchSeq = 0L
          // hot-key diagnostics: task-local maxima reported as deltas so
          // the task's metric value IS its max
          private var repEvents = 0L
          private var repBranches = 0L
          private var keyEvents = 0L
          private def bumpEvents(v: Long): Unit =
            if (v > repEvents) { maxKeyEvents.add(v - repEvents); repEvents = v }
          private def bumpBranches(v: Long): Unit =
            if (v > repBranches) {
              maxKeyBranches.add(v - repBranches); repBranches = v
            }
          private var done = false
          // the key-run driver shared with the library routes (NFA,
          // terminal-negation gate, anchor gates / resolver / skip queue),
          // rebuilt at each key switch. The exec's output is (count, first
          // event) per step, which [[fillSteps]] reads straight off the run
          // encoding — so under strict contiguity the span-compressed
          // [[GroupCep.SpanCaps]] branches never materialize a per-event
          // capture vector (O(#runs) per branch instead of O(match
          // length)). Arrival tags ARE run positions, so SpanOps needs no
          // event buffer — and with run-walk emission (ALL ROWS included:
          // the per-row output derives from slot runs alone), nothing
          // ever calls eventAt.
          private def keyRun[C](ops: GroupCep.CapOps[(InternalRow, Long), C]) =
            new GroupCep.KeyRun[(InternalRow, Long), C](compiled, tsOf,
              skipStrat, ops, _._2, aHead, aTail, { m =>
                numMatches.add(1); matchSeq += 1
                if (aRows) emitAll(curKey, matchSeq, ops.runs(m), ops.runs(m))
                else emit(curKey, matchSeq, ops.runs(m))
              })
          private val spanOps =
            if (!compiled.strictSpans) null
            else new GroupCep.SpanOps[(InternalRow, Long)](_._2.toInt,
              i => throw new IllegalStateException(
                s"GroupCepExec never materializes captures (pos $i)"))
          private var run: GroupCep.KeyRun[(InternalRow, Long), _] = null
          private def flushKey(): Unit =
            if (haveKey) run.end(arrSeq - 1)

          /** The per-match final block from offset `off`: per step its
            * capture count, then the child columns of its first captured
            * row (null where the step captured nothing) — read off the
            * capture runs alone, in capture order. */
          private def fillSteps(vals: Array[Any], off: Int,
              runs: Iterator[GroupCep.CapRun[(InternalRow, Long)]]): Unit = {
            var s = 0
            while (s < nSteps) { vals(off + s * (1 + nCols)) = 0L; s += 1 }
            runs.foreach { run =>
              val at = off + slotStep(run.slot) * (1 + nCols)
              val cnt = vals(at).asInstanceOf[Long]
              if (cnt == 0L) {
                val r = run.first._1
                var c = 0
                while (c < nCols) {
                  vals(at + 1 + c) = r.get(c, colTypes(c)); c += 1
                }
              }
              vals(at) = cnt + run.count
            }
          }

          /** ALL ROWS PER MATCH: one output row per captured event, in
            * capture order — (key, match ordinal, step index of the
            * row's variable, 1-based ordinal within that variable's
            * captures so far) plus the per-match final block, from
            * which the router derives RUNNING counts / positional
            * measures as CASE expressions. The per-row pair derives
            * from the SLOT RUNS alone (no captured events are read), so
            * the span representation stays unmaterialized even here. */
          private def emitAll(key: Any, matchNum: Long,
              blockRuns: Iterator[GroupCep.CapRun[(InternalRow, Long)]],
              runs: Iterator[GroupCep.CapRun[(InternalRow, Long)]]): Unit = {
            val vals = new Array[Any](4 + nSteps * (1 + nCols))
            vals(0) = key
            vals(1) = matchNum
            fillSteps(vals, 4, blockRuns)
            val perStep = new Array[Long](nSteps)
            runs.foreach { run =>
              val si = slotStep(run.slot)
              var k = 0
              while (k < run.count) {
                perStep(si) += 1
                vals(2) = si
                vals(3) = perStep(si)
                queue += proj(new GenericInternalRow(vals)).copy()
                k += 1
              }
            }
          }

          private def emit(key: Any, matchNum: Long,
              runs: Iterator[GroupCep.CapRun[(InternalRow, Long)]]): Unit = {
            val vals = new Array[Any](2 + nSteps * (1 + nCols))
            vals(0) = key
            vals(1) = matchNum
            fillSteps(vals, 2, runs)
            queue += proj(new GenericInternalRow(vals)).copy()
          }

          private def pump(): Unit = {
            while (queue.isEmpty && !done) {
              if (!rows.hasNext) {
                // end of input: release the final key run's deferred
                // emissions (anchored gate+select / resolver / queue)
                flushKey()
                done = true
              } else {
                val raw = rows.next()
                val tsVal = tsEval.eval(raw)
                // a NULL event time has no position in the stream order —
                // skip the row (unboxing would silently feed it at epoch 0,
                // corrupting matches and within-pruning)
                if (tsVal != null) {
                  // copy only rows the NFA can capture: any leaf match may be
                  // stored in a branch; non-matching rows only close strict
                  // runs / serve ignore edges and pass through uncopied
                  var retainable = false
                  var i = 0
                  while (!retainable && i < nCapturing) {
                    if (bound(capturing(i)).eval(raw)) retainable = true
                    i += 1
                  }
                  val row = if (retainable) raw.copy() else raw
                  val k = keyEval.eval(row)
                  if (!haveKey || !java.util.Objects.equals(k, curKey)) {
                    // a key switch flushes the finished run's deferred
                    // emissions, then starts a fresh key run
                    flushKey()
                    arrSeq = 0L
                    keyEvents = 0L
                    matchSeq = 0L
                    run = if (spanOps != null) keyRun(spanOps)
                          else keyRun(GroupCep.vecOps[(InternalRow, Long)])
                    curKey = k match {
                      case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
                      case other => other
                    }
                    haveKey = true
                  }
                  val w = (row, arrSeq)
                  arrSeq += 1
                  keyEvents += 1
                  bumpEvents(keyEvents)
                  run.event(w, tsVal.asInstanceOf[Long])
                  bumpBranches(run.maxLive.toLong)
                }
              }
            }
          }

          override def hasNext: Boolean = { pump(); queue.nonEmpty }
          override def next(): InternalRow = { pump(); queue.dequeue() }
        }
      }, preservesPartitioning = true)
    }
  }

  /** Register the strategy on a session (idempotent). For spark-submit
    * deployments, `spark.sql.extensions=graft.plans.CepExtensions` does
    * the same via the extensions API. */
  def register(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraStrategies.contains(GroupCepStrategy))
      exp.extraStrategies = exp.extraStrategies :+ GroupCepStrategy
  }

  /** Build a planned pattern match over `df` — the one planned CEP
    * operator, for flat patterns (a sequence of [[GLeafSpec]]s, with
    * [[GNotSpec]]s between them) and grouped ones alike.
    *
    * Terminal negation: a trailing top-level [[GNotSpec]] makes the
    * pattern end in notNext (`nextOnly`: the single next event decides)
    * or notFollowedBy (requires `withinMicros`: the match emits at the
    * window horizon if no banned event arrived — the funnel shape "A not
    * followed by B within w"), with the library drivers'
    * [[Cep.NegGate]] semantics. It combines with neither a non-default
    * `skip`, a selection mode, nor the $ anchor.
    *
    * Anchors: ^/$ gate candidates on the key run's first/last row. They
    * run without a selection mode only when every start completes at
    * most one candidate (no quantified element, alternation or
    * followedByAny); otherwise `reluctant` or `sqlGreedy` picks among a
    * start's gate-passing candidates.
    *
    * @return one row per match: `key`, `match_number` (1-based per-key
    *         ordinal in emission order), then per step `<step>_count` and
    *         every child column as `<step>_<col>` (first captured event of
    *         the step's group, null where the step captured nothing).
    */
  def matchGroupPattern(df: DataFrame, key: Column, ts: Column, tie: Column,
      elems: Seq[GSpec], withinMicros: Option[Long] = None,
      reluctant: Boolean = false,
      anchorHead: Boolean = false, anchorTail: Boolean = false,
      skip: Cep.AfterMatchSkip = Cep.NoSkip,
      sqlGreedy: Boolean = false,
      allRows: Boolean = false): DataFrame = {
    require(elems.nonEmpty, "at least one pattern element")
    val spark = df.sparkSession
    register(spark)
    val child = GraftSqlShim.analyzed(df)
    def resolve(c: Column): Expression =
      GraftSqlShim.expr(c).transform {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          child.output.find(_.name == u.name).getOrElse(throw new
              IllegalArgumentException(s"column ${u.name} not in ${child.output}"))
      }
    val predsB = Seq.newBuilder[Expression]
    var nPreds = 0
    def skeletonOf(e: GSpec): Skel = e match {
      case a: GAltSpec =>
        AltSkel(a.branches.map(_.map(skeletonOf)), a.strict, a.any)
      case l: GLeafSpec =>
        predsB += resolve(l.pred); nPreds += 1
        LeafSkel(l.name, nPreds - 1, l.strict, l.any)
      case g: GGroupSpec =>
        val inner = g.elems.map(skeletonOf)
        val untilIdx = g.until match {
          case Some(u) => predsB += resolve(u); nPreds += 1; nPreds - 1
          case None => -1
        }
        GroupSkel(inner, g.min, g.max, g.optional,
          g.consecutive, g.combinations, g.strict, g.any, untilIdx,
          g.relMark)
      case n: GNotSpec =>
        predsB += resolve(n.pred); nPreds += 1
        NotSkel(n.name, nPreds - 1, n.nextOnly)
    }
    val skeleton = elems.map(skeletonOf)
    // validate at PLAN time on a placeholder build (the executor-side
    // build would only fail per task): GPattern's rules (quantifier
    // count, nesting and contiguity under a selection mode, negation
    // placement, terminal negation against within and the selection
    // modes) and the key-run driver's (terminal negation against skip
    // and the $ anchor)
    val placeholder = GroupCep.compile(buildPattern(skeleton, withinMicros,
      reluctant, sqlGreedy, anchorHead || anchorTail, _ => _ => false))
    GroupCep.KeyRun.check(placeholder, skip, anchorTail)
    // without a selection mode to choose, an anchored start must not be
    // able to complete two candidates
    if ((anchorHead || anchorTail) && !reluctant && !sqlGreedy)
      require(placeholder.oneCandidatePerStart,
        "planned ^/$ anchors require a selection mode (reluctant or " +
          "sqlGreedy) unless every start completes at most one " +
          "candidate (no quantified element, alternation or " +
          "followedByAny)")
    // negative elements capture nothing: they contribute no output slots
    def leafNames(e: GSpec): Seq[String] = e match {
      case l: GLeafSpec => Seq(l.name)
      case g: GGroupSpec => g.elems.flatMap(leafNames)
      case a: GAltSpec => a.branches.flatMap(_.flatMap(leafNames))
      case _: GNotSpec => Seq.empty
    }
    val stepNames = elems.flatMap(leafNames).distinct
    val keyE = resolve(key)
    // reject keys without value equality on the evaluated path (the
    // PlanKeys contract)
    PlanKeys.requireValueEqualityKey(keyE)
    // match_number = 1-based per-key match ordinal in emission order —
    // the SAME ordinal the library drivers produce (batch) and carry in
    // keyed state (streaming), so MATCH_NUMBER() queries route planned
    // without the routing decision changing semantics
    // ALL ROWS adds the per-row pair (step index of the row's variable,
    // 1-based ordinal within that variable's captures) ahead of the
    // shared per-match final block — RUNNING measures derive from the
    // pair + block as plain column expressions (codegen'd CASEs)
    val perRowAttrs =
      if (!allRows) Nil
      else Seq(
        AttributeReference("cls_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false)(),
        AttributeReference("within_ord", LongType, nullable = false)())
    val outAttrs = (AttributeReference("key", keyE.dataType)() +:
      AttributeReference("match_number", LongType, nullable = false)() +:
      perRowAttrs) ++
      stepNames.flatMap { name =>
        AttributeReference(s"${name}_count", LongType, nullable = false)() +:
          child.output.map(a =>
            AttributeReference(s"${name}_${a.name}", a.dataType, nullable = true)())
      }
    GraftSqlShim.ofRows(spark, GroupCepMatchPlan(
      keyE, resolve(ts), resolve(tie), skeleton, predsB.result(), stepNames,
      withinMicros, reluctant, anchorHead, anchorTail, skip, sqlGreedy,
      allRows, outAttrs, child))
  }
}

/** `spark.sql.extensions` entry point for cluster deployments. */
class CepExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => GroupCepPlan.GroupCepStrategy)
}
