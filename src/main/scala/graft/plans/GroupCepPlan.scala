package graft.plans

import graft.streaming.{Cep, GroupCep}
import graft.streaming.GroupCep.GPattern

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, Predicate, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

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

  /** Pattern spec, generic in its predicate `P` (`Column` in the public
    * API, an index into the plan's expression list in the tree shipped
    * to executors): a sequence of elements, each a leaf step, a
    * quantified sub-group, a negative condition or an alternation.
    * `strict` ⇒ `next` contiguity to the previous element, `any` ⇒
    * `followedByAny`; default relaxed `followedBy`. The first element's
    * contiguity flags are ignored (pattern start). `GGroupSpec.until`
    * attaches the reference's stop condition: an event matching it
    * kills every in-group branch outright. `GNotSpec` is notFollowedBy
    * (notNext when `nextOnly`) — the branch dies if the banned event
    * arrives before the following element takes; as the LAST top-level
    * element it is terminal negation (see [[matchGroupPattern]]). */
  sealed trait GSpec[+P] {
    /** The same tree with every predicate replaced by `f` of it, in
      * declaration order (a group's `until` after its elements). */
    def map[Q](f: P => Q): GSpec[Q]
  }
  final case class GLeafSpec[+P](name: String, pred: P,
      strict: Boolean = false, any: Boolean = false) extends GSpec[P] {
    def map[Q](f: P => Q): GLeafSpec[Q] = copy(pred = f(pred))
  }
  final case class GGroupSpec[+P](elems: Seq[GSpec[P]], min: Int = 1,
      max: Int = 1, optional: Boolean = false, consecutive: Boolean = false,
      combinations: Boolean = false, strict: Boolean = false,
      any: Boolean = false, until: Option[P] = None,
      relMark: Boolean = false) extends GSpec[P] {
    def map[Q](f: P => Q): GGroupSpec[Q] =
      copy(elems = elems.map(_.map(f)), until = until.map(f))
  }
  final case class GNotSpec[+P](name: String, pred: P,
      nextOnly: Boolean = false) extends GSpec[P] {
    def map[Q](f: P => Q): GNotSpec[Q] = copy(pred = f(pred))
  }
  /** Alternation `(b1 | b2 | ...)`: exactly one branch matches, leftmost
    * preferred under reluctant selection (quantify it by wrapping in a
    * [[GGroupSpec]]). */
  final case class GAltSpec[+P](branches: Seq[Seq[GSpec[P]]],
      strict: Boolean = false, any: Boolean = false) extends GSpec[P] {
    def map[Q](f: P => Q): GAltSpec[Q] =
      copy(branches = branches.map(_.map(_.map(f))))
  }

  /** What the operator emits per match (see [[matchGroupPattern]]). */
  sealed trait OutputShape extends Serializable
  /** One row per match: the per-step block (count + first captured row). */
  case object MatchBlock extends OutputShape
  /** One row per captured row: its step and ordinal, plus the block. */
  case object RowBlock extends OutputShape
  /** One row per match carrying every captured row, step-tagged. */
  case object Captures extends OutputShape

  /** Logical node; resolved on construction (expressions come from
    * `df.col` against the analyzed child), `outputAttrs` fixed to keep
    * exprIds stable under plan transforms. `spec` names each predicate
    * by its index into `leafPreds`. */
  final case class GroupCepMatchPlan(
      keyExpr: Expression, tsExpr: Expression, tieExpr: Expression,
      spec: Seq[GSpec[Int]], leafPreds: Seq[Expression],
      stepNames: Seq[String], withinMicros: Option[Long],
      reluctant: Boolean, anchorHead: Boolean, anchorTail: Boolean,
      skip: Cep.AfterMatchSkip, sqlGreedy: Boolean,
      shape: OutputShape,
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
        GroupCepExec(p.keyExpr, p.tsExpr, p.tieExpr, p.spec, p.leafPreds,
          p.stepNames, p.withinMicros, p.reluctant, p.anchorHead,
          p.anchorTail, p.skip, p.sqlGreedy, p.shape, p.outputAttrs,
          planLater(p.child)) :: Nil
      case _ => Nil
    }
  }

  /** The one compiler from a spec to a GPattern: `pred(p)` is the
    * predicate `p` stands for, and `within` and the selection modes are
    * applied. It serves the exec (once per partition, over bound
    * predicates), the plan-time check (once, over placeholders, so
    * GPattern's own rules and [[GroupCep.KeyRun]]'s reject a malformed
    * pattern at the driver) and the streaming MATCH_RECOGNIZE route.
    * `deferSelection` forces DEFERRED reluctant selection: the batch
    * anchor gates need every candidate of a start, while the streaming
    * ^ gate works at the NFA and keeps the immediate selection. */
  private[graft] def buildPattern[P, E](spec: Seq[GSpec[P]],
      pred: P => E => Boolean, within: Option[Long], reluctant: Boolean,
      sqlGreedy: Boolean, deferSelection: Boolean): GPattern[E] = {
    def build(elems: Seq[GSpec[P]]): GPattern[E] = {
      require(elems.nonEmpty, "empty pattern group")
      var p: GPattern[E] = null
      elems.foreach {
        case GLeafSpec(name, lp, strict, any) =>
          val f = pred(lp)
          p = if (p == null) GPattern.begin(name)(f)
          else if (strict) p.next(name)(f)
          else if (any) p.followedByAny(name)(f)
          else p.followedBy(name)(f)
        case g: GGroupSpec[P] =>
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
          g.until.foreach(u => p = p.until(pred(u)))
        case GNotSpec(name, np, nextOnly) =>
          val f = pred(np)
          // a leading negation builds too: compile rejects it by name
          p = if (p == null) GPattern.of(
                Vector(GroupCep.GNot(name, f, nextOnly)), None)
              else if (nextOnly) p.notNext(name)(f)
              else p.notFollowedBy(name)(f)
        case a: GAltSpec[P] =>
          val alts = a.branches.map(build)
          p = if (p == null) GPattern.begin(alts)
          else if (a.strict) p.next(alts)
          else if (a.any) p.followedByAny(alts)
          else p.followedBy(alts)
      }
      p
    }
    var pat = build(spec)
    within.foreach(w => pat = pat.within(w))
    if (reluctant) pat = pat.reluctant
    if (sqlGreedy) pat = pat.greedySelect
    if (deferSelection && reluctant) pat.deferredReluctant else pat
  }

  /** Predicate indices whose match can be CAPTURED by a branch (leaf
    * steps) — negative/until guards only kill branches, so rows matching
    * only guards never need the defensive copy in the exec's scan. */
  private def capturingIdx(spec: Seq[GSpec[Int]]): Set[Int] = spec.flatMap {
    case GLeafSpec(_, i, _, _) => Seq(i)
    case g: GGroupSpec[Int] => capturingIdx(g.elems)
    case a: GAltSpec[Int] => a.branches.flatMap(capturingIdx)
    case _: GNotSpec[Int] => Seq.empty
  }.toSet

  /** Physical operator: a [[GroupCep.KeyRun]] over each sorted key run,
    * emitting `shape` (see [[matchGroupPattern]]). */
  final case class GroupCepExec(
      keyExpr: Expression, tsExpr: Expression, tieExpr: Expression,
      spec: Seq[GSpec[Int]], leafPreds: Seq[Expression],
      stepNames: Seq[String], withinMicros: Option[Long],
      reluctant: Boolean, anchorHead: Boolean, anchorTail: Boolean,
      skip: Cep.AfterMatchSkip, sqlGreedy: Boolean,
      shape: OutputShape,
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
      val (tree, preds, names, within) =
        (spec, leafPreds, stepNames, withinMicros)
      val (rel, aHead, aTail, skipStrat, sqlG, out) =
        (reluctant, anchorHead, anchorTail, skip, sqlGreedy, shape)
      val outTypes = outputAttrs.map(_.dataType).toArray
      val numMatches = longMetric("numMatches")
      val maxKeyEvents = longMetric("maxKeyEvents")
      val maxKeyBranches = longMetric("maxKeyBranches")

      child.execute().mapPartitions({ rows =>
        // keys compare by value: the key's unsafe bytes, so struct, array
        // and binary keys form one run per distinct value
        val keyProj = UnsafeProjection.create(Seq(kE), childOutput)
        val keyType = kE.dataType
        val tsEval = BindReferences.bindReference(tsE, childOutput)
        val bound = preds.map { p =>
          val bp = Predicate.create(p, childOutput); bp.initialize(0); bp
        }.toIndexedSeq
        // rows are tagged with per-key arrival ordinals below — mark
        // the pattern so the dedup-skip fast path applies (see
        // Compiled.noEpsilonDup)
        val compiled = GroupCep.compile(buildPattern[Int, (InternalRow, Long)](
          tree, i => w => bound(i).eval(w._1), within, rel, sqlG,
          deferSelection = aHead || aTail).withArrivalIdentity)
        val tsOf: ((InternalRow, Long)) => Long =
          w => tsEval.eval(w._1).asInstanceOf[Long]
        // only leaf-step matches can be captured; not/until guard rows
        // merely kill branches and never need the defensive copy
        val capturing = capturingIdx(tree).toArray.sorted
        val nCapturing = capturing.length
        val proj = UnsafeProjection.create(outTypes)
        // each capture slot's declared step index (several slots can
        // share a step name under alternation)
        val slotStep: Array[Int] = Array.tabulate(compiled.slotCount)(
          s => names.indexOf(compiled.stepNameOf(s)))
        // stepNames are the plan-time compile's, so this only guards a
        // node built by another caller: a named error, not an index of -1
        require(slotStep.forall(_ >= 0),
          "every capture slot's step name must be in stepNames: " +
            s"${(0 until compiled.slotCount).filter(slotStep(_) < 0)
              .map(compiled.stepNameOf).distinct.mkString(", ")} missing")

        new Iterator[InternalRow] {
          private val queue = new scala.collection.mutable.Queue[InternalRow]
          private var curKey: UnsafeRow = null
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
          // rebuilt at each key switch. The block shapes are (count, first
          // event) per step, which [[fillSteps]] reads straight off the run
          // encoding — so under strict contiguity the span-compressed
          // [[GroupCep.SpanCaps]] branches never materialize a per-event
          // capture vector (O(#runs) per branch instead of O(match
          // length)). Arrival tags ARE run positions, so SpanOps needs no
          // event buffer — and with run-walk emission (the per-row shape
          // included: it derives from slot runs alone), nothing ever calls
          // eventAt. The capture shape reads every captured row, so it
          // runs on the exact capture vectors.
          private def keyRun[C](ops: GroupCep.CapOps[(InternalRow, Long), C]) =
            new GroupCep.KeyRun[(InternalRow, Long), C](compiled, tsOf,
              skipStrat, ops, _._2, aHead, aTail, { m =>
                numMatches.add(1); matchSeq += 1
                val key = curKey.get(0, keyType)
                out match {
                  case MatchBlock => emit(key, matchSeq, ops.runs(m))
                  case RowBlock =>
                    emitAll(key, matchSeq, ops.runs(m), ops.runs(m))
                  case Captures => emitCaptures(key, matchSeq, ops.toVector(m))
                }
              })
          private val spanOps =
            if (!compiled.strictSpans || out == Captures) null
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

          /** The capture shape: every captured row in capture order, as
            * (step index, child row). */
          private def emitCaptures(key: Any, matchNum: Long,
              caps: Vector[(Int, (InternalRow, Long))]): Unit = {
            val tagged = caps.map { case (slot, (r, _)) =>
              new GenericInternalRow(Array[Any](slotStep(slot),
                new GenericInternalRow(Array.tabulate[Any](nCols)(
                  c => r.get(c, colTypes(c))))))
            }
            queue += proj(new GenericInternalRow(Array[Any](key, matchNum,
              new GenericArrayData(tagged)))).copy()
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
                  val k = keyProj(row)
                  if (!haveKey || k != curKey) {
                    // a key switch flushes the finished run's deferred
                    // emissions, then starts a fresh key run
                    flushKey()
                    arrSeq = 0L
                    keyEvents = 0L
                    matchSeq = 0L
                    run = if (spanOps != null) keyRun(spanOps)
                          else keyRun(GroupCep.vecOps[(InternalRow, Long)])
                    curKey = k.copy()
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
    * Anchors: ^ lets only the key run's first row open a branch; $ keeps
    * the candidates ending on its last row — all of them, or under
    * `reluctant`/`sqlGreedy` the preferred one per start.
    *
    * @return `key`, `match_number` (1-based per-key ordinal in emission
    *         order), then per `shape`:
    *          - [[MatchBlock]]: one row per match; per step `<step>_count`
    *            and every child column as `<step>_<col>` (first captured
    *            event of the step's group, null where it captured nothing);
    *          - [[RowBlock]]: one row per captured event in capture order:
    *            `cls_idx` (its step index), `within_ord` (1-based ordinal
    *            within that step's captures), then the match's block;
    *          - [[Captures]]: one row per match; `captures`, every captured
    *            child row in capture order as a (`step` index, `row`)
    *            struct. Steps index the distinct leaf names in
    *            declaration order.
    */
  def matchGroupPattern(df: DataFrame, key: Column, ts: Column, tie: Column,
      elems: Seq[GSpec[Column]], withinMicros: Option[Long] = None,
      reluctant: Boolean = false,
      anchorHead: Boolean = false, anchorTail: Boolean = false,
      skip: Cep.AfterMatchSkip = Cep.NoSkip,
      sqlGreedy: Boolean = false,
      shape: OutputShape = MatchBlock): DataFrame = {
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
    // the tree shipped to executors: each predicate becomes its index
    // into the plan's expression list
    val preds = scala.collection.mutable.ArrayBuffer.empty[Expression]
    val spec = elems.map(_.map { c => preds += resolve(c); preds.size - 1 })
    // validate at PLAN time on a placeholder build (the executor-side
    // build would only fail per task): GPattern's rules (quantifier
    // count, nesting and contiguity under a selection mode, negation
    // placement, terminal negation against within and the selection
    // modes) and the key-run driver's (terminal negation against skip
    // and the $ anchor)
    val placeholder = GroupCep.compile(buildPattern[Int, Any](spec,
      _ => _ => false, withinMicros, reluctant, sqlGreedy,
      deferSelection = anchorHead || anchorTail))
    GroupCep.KeyRun.check(placeholder, skip, anchorTail)
    // the distinct leaf names in declaration order (negative elements
    // capture nothing: they contribute no output slots)
    val stepNames = placeholder.stepNames
    val keyE = resolve(key)
    // match_number = 1-based per-key match ordinal in emission order —
    // the SAME ordinal the library drivers produce (batch) and carry in
    // keyed state (streaming)
    def blockAttrs = stepNames.flatMap { name =>
      AttributeReference(s"${name}_count", LongType, nullable = false)() +:
        child.output.map(a =>
          AttributeReference(s"${name}_${a.name}", a.dataType, nullable = true)())
    }
    val shapeAttrs = shape match {
      case MatchBlock => blockAttrs
      case RowBlock =>
        AttributeReference("cls_idx", IntegerType, nullable = false)() +:
          AttributeReference("within_ord", LongType, nullable = false)() +:
          blockAttrs
      case Captures =>
        val tagged = StructType(Seq(
          StructField("step", IntegerType, nullable = false),
          StructField("row", StructType(child.output.map(a =>
            StructField(a.name, a.dataType, a.nullable))), nullable = false)))
        Seq(AttributeReference("captures",
          ArrayType(tagged, containsNull = false), nullable = false)())
    }
    val outAttrs = AttributeReference("key", keyE.dataType)() +:
      AttributeReference("match_number", LongType, nullable = false)() +:
      shapeAttrs
    GraftSqlShim.ofRows(spark, GroupCepMatchPlan(
      keyE, resolve(ts), resolve(tie), spec, preds.toVector, stepNames,
      withinMicros, reluctant, anchorHead, anchorTail, skip, sqlGreedy,
      shape, outAttrs, child))
  }
}

/** `spark.sql.extensions` entry point for cluster deployments. */
class CepExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectPlannerStrategy(_ => GroupCepPlan.GroupCepStrategy)
}
