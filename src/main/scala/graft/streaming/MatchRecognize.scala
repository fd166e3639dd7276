package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{aggregate, array, array_max,
  array_min, coalesce, col, expr, filter, get, lit, posexplode, size, slice,
  transform, unix_micros, when}
import org.apache.spark.sql.types.{ArrayType, ByteType, DoubleType,
  IntegerType, LongType, ShortType, StructField, StructType, TimestampType}

import graft.plans.GroupCepPlan
import graft.plans.GroupCepPlan.{GAltSpec, GGroupSpec, GLeafSpec, GSpec}

/** MATCH_RECOGNIZE-style SQL entry point over the CEP library — beyond
  * the 1.6 reference, whose SQL surface registers no pattern functions
  * (flink-table FunctionCatalog.scala:302-462); Flink grew SQL
  * MATCH_RECOGNIZE only in 1.7, compiled onto the same flink-cep NFA
  * this module targets.
  *
  * Supported clause subset (parsed order-insensitively from the text):
  *   PARTITION BY key
  *   ORDER BY ord[, tie]            -- timestamp or integral columns
  *   MEASURES m1 AS a1, ...         -- X.col | FIRST(X.col) | LAST(X.col)
  *                                  --   | COUNT(X.*) | SUM/AVG/MIN/MAX
  *                                  --   (X.col)
  *                                  -- bare X.col means LAST(X.col): SQL:2016
  *                                  -- FINAL semantics for ONE ROW PER MATCH
  *                                  -- | CLASSIFIER() (the pattern variable:
  *                                  -- per-row under ALL ROWS, the last
  *                                  -- row's under ONE ROW)
  *   [ONE ROW PER MATCH             -- the default: one row per match,
  *    | ALL ROWS PER MATCH]         -- or one row per MATCHED EVENT in
  *                                  -- match order, measures RUNNING
  *                                  -- (evaluated over the prefix up to
  *                                  -- the row — the SQL default for this
  *                                  -- mode) unless prefixed FINAL
  *                                  -- (whole-match evaluation);
  *                                  -- MATCH_NUMBER() = 1-based per-
  *                                  -- partition ordinal (batch AND
  *                                  -- streaming — the ordinal rides
  *                                  -- keyed state across micro-batches)
  *   [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
  *     | SKIP TO FIRST X | SKIP TO LAST X]
  *   PATTERN (A (B C){2} D ...)     -- quantifiers ? * + {n} {n,m} {n,}
  *                                  -- on variables AND parenthesized
  *                                  -- sub-groups; RELUCTANT markers
  *                                  -- (?? *? +? {n,m}? — prefer the
  *                                  -- FEWEST repetitions: the shortest
  *                                  -- completion per start is emitted
  *                                  -- instead of every satisfied
  *                                  -- length) on flat AND nested-group
  *                                  -- patterns whose SINGLE quantified
  *                                  -- element carries the marker,
  *                                  -- batch AND streaming, default
  *                                  -- skip; alternation/PERMUTE
  *                                  -- compose (deferred SQL:2016
  *                                  -- preference selection), and ^/$
  *                                  -- anchors compose in BATCH
  *                                  -- (candidates buffer to partition
  *                                  -- end, anchor gates filter before
  *                                  -- selection);
  *                                  -- every clause compiles onto
  *                                  -- [[GroupCep]] (batch AND streaming,
  *                                  -- incl. AFTER MATCH SKIP): flat
  *                                  -- sequences, nested groups,
  *                                  -- alternation `A|B` / `(A B|C D)`
  *                                  -- (leftmost-preferred, quantifiable)
  *                                  -- and PERMUTE(e1, ..., en) (n <= 6;
  *                                  -- expands to the alternation of all
  *                                  -- orderings, SQL:2016);
  *                                  -- {- X -} row-pattern exclusion
  *                                  -- under ALL ROWS (rows match and
  *                                  -- feed RUNNING measures but are not
  *                                  -- output; name-keyed — a variable
  *                                  -- both inside and outside rejects);
  *                                  -- ^/$ partition anchors at the
  *                                  -- pattern boundaries (non-default
  *                                  -- skip composes on batch RELUCTANT
  *                                  -- patterns — gate, select, then
  *                                  -- skip; plain anchored clauses
  *                                  -- keep the default skip; $ needs
  *                                  -- batch input PERMANENTLY: WITHIN
  *                                  -- bounds a match's duration, not
  *                                  -- the partition's extent, so even
  *                                  -- a closed window cannot prove the
  *                                  -- last row seen is the partition's
  *                                  -- last — any later event, however
  *                                  -- far outside every open window,
  *                                  -- still extends the partition and
  *                                  -- invalidates an emitted $-match;
  *                                  -- only an end-of-input marker
  *                                  -- could, and Structured Streaming
  *                                  -- has no per-key end-of-stream —
  *                                  -- while
  *                                  -- ^ ALSO works on streaming
  *                                  -- clauses via the cross-batch
  *                                  -- arrival ordinal (the
  *                                  -- key-run ^ start rule); batch
  *                                  -- anchors gate inside the planned
  *                                  -- GroupCepExec — one exchange, no
  *                                  -- window);
  *                                  -- INTERIOR top-level anchors =
  *                                  -- SQL:2016 degenerate boundary
  *                                  -- semantics: `A? ^ B` rewrites to
  *                                  -- `^ B` (nullable prefix matched
  *                                  -- zero rows); a non-nullable
  *                                  -- dropped element or `$ .. ^`
  *                                  -- ordering is unsatisfiable →
  *                                  -- ZERO rows deterministically;
  *                                  -- anchors inside groups reject
  *   [WITHIN INTERVAL 'n' SECOND|MINUTE|HOUR|DAY]
  *                                  -- requires a TimestampType ORDER BY
  *                                  -- column (wall-clock horizon); rejected
  *                                  -- against integral orderings, whose
  *                                  -- raw-unit scale is unknowable here
  *   [SUBSET U = (A, B), ...]       -- SQL:2016 union variables: U in
  *                                  -- MEASURES sees the union of its
  *                                  -- members' rows in match order
  *                                  -- (FIRST/LAST/COUNT/SUM/AVG/MIN/MAX
  *                                  -- compose); DEFINE over a subset is
  *                                  -- rejected (per-row predicates only)
  *   DEFINE A AS <boolean sql expr>, ...   -- undefined variables = TRUE;
  *                                  -- PREV(col[, n]) = physical row
  *                                  -- navigation (batch: lag over the
  *                                  -- same partition/order; streaming:
  *                                  -- the key's last rows ride keyed
  *                                  -- state across micro-batches)
  *
  * Semantics: pattern concatenation is STRICT row adjacency and
  * quantified variables repeat consecutively, per the SQL standard; but
  * quantifier EMISSION follows the CEP library (flink-cep) it compiles
  * onto — a final-position `{2,3}` emits every satisfied length per
  * start offset, where strict SQL greediness would emit only the
  * maximal one. A trailing optional element (`A B?`, `A B*`) emits its
  * zero-occurrence match as soon as the mandatory prefix completes.
  * AFTER MATCH maps onto [[Cep.AfterMatchSkip]]
  * (PAST LAST ROW = SkipPastLastEvent, TO NEXT ROW = NoSkip — the
  * default, matching the library's all-starts semantics).
  *
  * Execution shape: DEFINE predicates and the order/tie longs are
  * evaluated as Catalyst columns BEFORE the NFA (codegen'd, pushed into
  * the scan where possible); the NFA then reads pre-computed booleans
  * off each row. The input is projected to the columns the measures
  * actually reference, so captured groups stay narrow. BATCH inputs plan
  * onto the one planned operator ([[graft.plans.GroupCepPlan]]): one hash
  * exchange and one sort on (key, ord, tie), both elidable by upstream
  * partitioning. Measures the operator's per-match block carries lower
  * to plain columns; every other clause asks the operator for each
  * match's captured rows, and each measure becomes one Catalyst
  * expression over that array — the projection streaming runs too.
  *
  * STREAMING inputs compile the same pattern spec tree, through the
  * same [[graft.plans.GroupCepPlan.buildPattern]], onto
  * [[GroupCep.streamDriver]]: partial matches persist in keyed state
  * across micro-batches and complete whenever their events arrive.
  * WITHIN requires a watermark on the ORDER BY column upstream
  * (`df.withWatermark(ord, ...)`) — expired partials are then pruned by
  * event-time timers even on idle keys. Event time runs in epoch MILLIS
  * under streaming (the GroupState watermark/timer unit; batch uses
  * parquet-precision micros), so same-millisecond ordering falls back
  * to the tie column.
  */
object MatchRecognize {

  /** A parsed MEASURES entry; `apply` lowers each to one Catalyst column
    * (a column of the operator's per-match block where the block carries
    * it, else an expression over the match's captured rows). */
  private sealed trait Measure { def alias: String }
  private final case class PosMeasure(v: String, c: String, alias: String,
      last: Boolean, offset: Int = 0) extends Measure
  private final case class CountMeasure(v: String, alias: String)
      extends Measure
  /** The pattern variable: per-row under ALL ROWS (RUNNING), the match's
    * last row's otherwise. */
  private final case class ClassifierMeasure(alias: String) extends Measure
  /** 1-based per-partition match ordinal. */
  private final case class MatchNumMeasure(alias: String) extends Measure
  /** SUM/AVG/MIN/MAX over a variable's captured rows (Flink grew these
    * in its 1.7 MATCH_RECOGNIZE); NULL when every captured value is
    * NULL. SUM is BIGINT over integral columns and DOUBLE otherwise; AVG
    * is always DOUBLE; MIN/MAX work on any orderable column. */
  private final case class AggMeasure(fn: String, v: String, c: String,
      alias: String) extends Measure

  private val PartitionRe = """(?is)PARTITION\s+BY\s+(\w+)""".r
  private val OrderRe = """(?is)ORDER\s+BY\s+(\w+)(?:\s*,\s*(\w+))?""".r
  // WITHIN terminates the body too: clauses parse order-insensitively,
  // and without it a "MEASURES … WITHIN INTERVAL …" ordering absorbed
  // the WITHIN text into the last measure's alias — a silent misparse,
  // the one wrong option (review r16)
  private val MeasuresRe =
    """(?is)MEASURES\s+(.*?)\s*(?:ONE\s+ROW\s+PER\s+MATCH|ALL\s+ROWS\s+PER\s+MATCH|AFTER\s+MATCH|PATTERN\s*\(|WITHIN\s+INTERVAL)""".r
  private val AllRowsRe = """(?is)ALL\s+ROWS\s+PER\s+MATCH""".r
  private val UnmatchedRe =
    """(?is)ALL\s+ROWS\s+PER\s+MATCH\s+WITH\s+UNMATCHED\s+ROWS""".r
  private val ClassifierRe = """(?is)CLASSIFIER\s*\(\s*\)""".r
  private val SkipRe =
    """(?is)AFTER\s+MATCH\s+SKIP\s+(?:(PAST\s+LAST\s+ROW)|(TO\s+NEXT\s+ROW)|TO\s+FIRST\s+(\w+)|TO\s+LAST\s+(\w+))""".r
  private val SubsetRe = """(?is)\bSUBSET\s+(.*?)\s*(?=\bDEFINE\b|\z)""".r
  private val SubsetEntryRe = """(?s)\s*(\w+)\s*=\s*\(([^()]*)\)\s*""".r
  private val PatternStartRe = """(?is)PATTERN\s*\(""".r
  private val WithinRe =
    """(?is)WITHIN\s+INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)""".r
  private val DefineRe = """(?is)\bDEFINE\s+(.*)\z""".r
  private val QuantRe = """\{(\d+)(,(\d*))?\}""".r
  private val FirstLastRe =
    """(?is)(FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val PrevRe = """(?is)\bPREV\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
  private val PrevAnyRe = """(?is)\bPREV\s*\(""".r
  private val CountRe = """(?is)COUNT\s*\(\s*(\w+)\.\*\s*\)""".r
  private val AggRe = """(?is)(SUM|AVG|MIN|MAX)\s*\(\s*(\w+)\.(\w+)\s*\)""".r
  private val MatchNumRe = """(?is)MATCH_NUMBER\s*\(\s*\)""".r
  private val SemanticsKwRe = """(?is)^(FINAL|RUNNING)\s+""".r
  private val ColRe = """(?s)\s*(\w+)\.(\w+)\s*""".r

  // ---- PATTERN grammar:
  //   body     ::= alt
  //   alt      ::= seq ('|' seq)*          -- lowest precedence (SQL:2016)
  //   seq      ::= (element | '{-' seq '-}' | PERMUTE '(' seq,+ ')')*
  //   element  ::= (variable | '(' alt ')') quant? '?'?
  // Anything outside this grammar (interior anchors, stray symbols,
  // unclosed quantifiers) is REJECTED with a clear error — silent
  // misparse is the one wrong option; nested groups, alternation, and
  // PERMUTE compile onto the GroupCep epsilon-NFA below.
  /** Every leaf variable name of a parsed pattern, in order. */
  private def patVarNames(es: Seq[PElem]): Seq[String] = es.flatMap {
    case PVar(n, _) => Seq(n)
    case PGrp(in, _) => patVarNames(in)
    case PAlt(bs) => bs.flatMap(patVarNames)
  }

  /** Every quantifier of a parsed pattern, outermost first. */
  private def patQuants(es: Seq[PElem]): Seq[Quant] = es.flatMap {
    case PVar(_, q) => q.toSeq
    case PGrp(in, q) => q.toSeq ++ patQuants(in)
    case PAlt(bs) => bs.flatMap(patQuants)
  }

  /** A parsed quantifier: `min` to `max` repetitions (`Int.MaxValue` =
    * unbounded), `optional` for `?` and `*`, `reluctant` for the SQL:2016
    * marker (`B+?`). `{0,m}` keeps `min` 0 — `GPattern.times` makes that
    * element optional, and rejects `{0}` by name. */
  private final case class Quant(min: Int, max: Int, optional: Boolean,
      reluctant: Boolean) {
    /** Can the quantified element match zero rows? */
    def nullable: Boolean = optional || min == 0
  }

  private sealed trait PElem
  private final case class PVar(name: String, quant: Option[Quant])
      extends PElem
  private final case class PGrp(elems: Vector[PElem], quant: Option[Quant])
      extends PElem
  /** Alternation; a quantified one is the sole element of a [[PGrp]]. */
  private final case class PAlt(branches: Vector[Vector[PElem]]) extends PElem

  /** Balanced-paren PATTERN body (the old regex truncated at the first
    * ')', which is what made nested groups silently misparse). */
  private def patternBody(clause: String): String = {
    val m = PatternStartRe.findFirstMatchIn(clause).getOrElse(
      throw new IllegalArgumentException("PATTERN required"))
    var depth = 1
    var i = m.end
    while (i < clause.length && depth > 0) {
      clause(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ => ()
      }
      i += 1
    }
    require(depth == 0, "unbalanced parentheses in PATTERN")
    clause.substring(m.end, i - 1)
  }

  /** Parsed pattern plus the variables inside `{- ... -}` exclusions
    * (SQL:2016 ALL ROWS row-pattern exclusion: those rows match and feed
    * measures, but are not OUTPUT). Name-keyed: a variable is excluded
    * everywhere it appears — occurrence-level exclusion of a REUSED name
    * is rejected rather than silently approximated. */
  private final case class ParsedPattern(elems: Vector[PElem],
      excludedOcc: Vector[String]) {
    def excluded: Set[String] = excludedOcc.toSet
  }

  private def parsePattern(s: String): ParsedPattern = {
    var i = 0
    val excludedB = Vector.newBuilder[String]
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def fail(what: String): Nothing = throw new IllegalArgumentException(
      s"unsupported PATTERN syntax ($what) at '${s.substring(i)}' in ($s)")
    def quant(): Option[Quant] = {
      skipWs()
      val base: Option[(Int, Int, Boolean)] =
        if (i >= s.length) None
        else s(i) match {
          case '?' => i += 1; Some((1, 1, true))
          case '*' => i += 1; Some((1, Int.MaxValue, true))
          case '+' => i += 1; Some((1, Int.MaxValue, false))
          case '{' if !s.startsWith("{-", i) =>
            val j = s.indexOf('}', i)
            if (j < 0) fail("unclosed quantifier")
            val q = s.substring(i, j + 1)
            i = j + 1
            q match {
              case QuantRe(n, null, _) => Some((n.toInt, n.toInt, false))
              case QuantRe(n, _, "") => Some((n.toInt, Int.MaxValue, false))
              case QuantRe(n, _, m) => Some((n.toInt, m.toInt, false))
              case _ => fail(s"bad quantifier $q")
            }
          case _ => None
        }
      // SQL:2016 reluctant marker: a '?' IMMEDIATELY after the base
      // quantifier (B+? B*? B?? B{n,m}?) — no whitespace, per the grammar
      base.map { case (mn, mx, opt) =>
        val rel = i < s.length && s(i) == '?'
        if (rel) i += 1
        Quant(mn, mx, opt, rel)
      }
    }
    def sequence(stopComma: Boolean = false): Vector[PElem] = {
      val out = Vector.newBuilder[PElem]
      skipWs()
      while (i < s.length && s(i) != ')' && s(i) != '|' &&
          !(stopComma && s(i) == ',') && !s.startsWith("-}", i)) {
        if (s.startsWith("{-", i)) {
          // {- elems -}: rows stay in the match, leave the ALL ROWS output
          i += 2
          val inner = sequence(stopComma)
          if (!s.startsWith("-}", i)) fail("unclosed {- exclusion")
          i += 2
          if (inner.isEmpty) fail("empty exclusion")
          excludedB ++= patVarNames(inner)
          out ++= inner
        } else if (s(i) == '(') {
          i += 1
          val inner = alternation()
          if (i >= s.length || s(i) != ')') fail("unbalanced '('")
          i += 1
          if (inner.isEmpty) fail("empty group")
          out += PGrp(inner, quant())
        } else if (s(i).isLetterOrDigit || s(i) == '_') {
          val start = i
          while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
          val word = s.substring(start, i)
          val wsMark = i
          skipWs()
          if (word.equalsIgnoreCase("PERMUTE") && i < s.length &&
              s(i) == '(') {
            i += 1
            out += permute()
          } else {
            i = wsMark // a variable named like the keyword stays a variable
            out += PVar(word, quant())
          }
        } else fail("^/$ anchors are only supported at the TOP level of " +
          "the pattern (boundary or interior — interior ones carry the " +
          "degenerate SQL:2016 boundary semantics); inside groups they " +
          "reject; no other symbols exist in this grammar")
        skipWs()
      }
      out.result()
    }
    // PERMUTE(e1, e2, ...) — SQL:2016 expands to the alternation of every
    // permutation, preference order = lexicographic on the listed order
    // (Scala's .permutations yields exactly that for the original vector)
    def permute(): PElem = {
      val items = Vector.newBuilder[Vector[PElem]]
      var more = true
      while (more) {
        val it = sequence(stopComma = true)
        if (it.isEmpty) fail("empty PERMUTE element")
        items += it
        skipWs()
        if (i < s.length && s(i) == ',') i += 1 else more = false
      }
      if (i >= s.length || s(i) != ')') fail("unbalanced PERMUTE(")
      i += 1
      val itemsV = items.result()
      if (itemsV.size > 6) fail("PERMUTE arity above 6 (720 branches)")
      if (itemsV.size == 1) PGrp(itemsV.head, quant())
      else {
        val alt = PAlt(itemsV.permutations.map(_.flatten).toVector)
        quant().fold[PElem](alt)(q => PGrp(Vector(alt), Some(q)))
      }
    }
    // alternation binds loosest (SQL:2016): A B | C D = (A B) | (C D)
    def alternation(): Vector[PElem] = {
      val first = sequence()
      skipWs()
      if (i >= s.length || s(i) != '|') first
      else {
        val bs = Vector.newBuilder[Vector[PElem]]
        if (first.isEmpty) fail("empty alternation branch")
        bs += first
        while ({ skipWs(); i < s.length && s(i) == '|' }) {
          i += 1
          val b = sequence()
          if (b.isEmpty) fail("empty alternation branch")
          bs += b
        }
        Vector(PAlt(bs.result()))
      }
    }
    val r = alternation()
    if (i < s.length) fail("unparsed text remains")
    ParsedPattern(r, excludedB.result())
  }

  /** Split on top-level commas (commas inside parens stay put). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case ch => cur += ch
    }
    val leftover = cur.result().trim
    if (leftover.nonEmpty) out += leftover
    out.result()
  }

  def apply(df: DataFrame, clause: String): DataFrame =
    apply(df, clause, sqlGreedy = false)

  /** `sqlGreedy = true` runs SQL:2016 STRICT quantifier selection —
    * the standard's actual default, which this engine otherwise
    * deliberately deviates from (quantifier EMISSION follows flink-cep:
    * every satisfied repetition count per start; see the class doc).
    * In this mode each match start yields ONE match, the
    * lexicographically MAXIMAL derivation: greedy quantifiers take as
    * many rows as possible, earlier quantifiers dominating later ones,
    * alternation preferring the leftmost branch. Composes with AFTER
    * MATCH SKIP (the selected matches feed the queue) and WITHIN;
    * streaming inputs resolve a start once no open branch shares it
    * (a `within` horizon bounds the wait — without one, a stream whose
    * loop predicate never fails cannot prove maximality and defers
    * until the partition quiesces). Composes further with reluctant
    * markers (per-quantifier mixed polarity, round 11), ^/$ anchors
    * (round 11), and — round 13 — ALL ROWS PER MATCH and {- -}
    * exclusions (both output-side: selection picks the winner first). */
  def apply(df: DataFrame, clause: String, sqlGreedy: Boolean): DataFrame = {
    val partCol = PartitionRe.findFirstMatchIn(clause)
      .getOrElse(throw new IllegalArgumentException("PARTITION BY required"))
      .group(1)
    val om = OrderRe.findFirstMatchIn(clause)
      .getOrElse(throw new IllegalArgumentException("ORDER BY required"))
    val (ordCol, tieCol) = (om.group(1), Option(om.group(2)))
    val patternText = patternBody(clause)
    // SQL:2016 partition anchors, boundary positions only: ^ pins the
    // match's first row to the partition's first row, $ pins the last to
    // the partition's last. Interior/nested anchors still fail in the
    // grammar with a clear error.
    var ptext = patternText.trim
    var anchorStart = ptext.startsWith("^")
    if (anchorStart) ptext = ptext.substring(1)
    var anchorEnd = ptext.endsWith("$")
    if (anchorEnd) ptext = ptext.substring(0, ptext.length - 1)
    // SQL:2016 INTERIOR anchors (round 10): ^/$ between TOP-LEVEL
    // elements carry degenerate boundary semantics — an interior ^
    // holds only at the position before the partition's first row, so
    // everything preceding it must have matched ZERO rows; dually for
    // an interior $. When every dropped element is nullable (can match
    // empty: ?/*/{0,n}, a group of nullables, an alternation with a
    // nullable branch), the pattern REWRITES to the anchored remainder
    // (`A? ^ B` ≡ `^ B`); when some dropped element cannot match empty
    // — or a $ precedes a ^ — the pattern is unsatisfiable and the
    // query deterministically returns ZERO rows (a constant-false
    // filter Catalyst folds away), never an error: that is what the
    // standard's semantics evaluate to. Anchors nested inside groups
    // still reject in the grammar.
    var neverMatches = false
    locally {
      var depth = 0
      val tops = Vector.newBuilder[(Char, Int)]
      ptext.zipWithIndex.foreach { case (ch, i) =>
        if (ch == '(') depth += 1
        else if (ch == ')') depth -= 1
        else if ((ch == '^' || ch == '$') && depth == 0) tops += ((ch, i))
      }
      val interior = tops.result()
      if (interior.nonEmpty) {
        def nullable(e: PElem): Boolean = e match {
          case PVar(_, q) => q.exists(_.nullable)
          case PGrp(in, q) => q.exists(_.nullable) || in.forall(nullable)
          case PAlt(bs) => bs.exists(_.forall(nullable))
        }
        def allNullable(segment: String): Boolean = {
          val t = segment.trim
          t.isEmpty || parsePattern(t).elems.forall(nullable)
        }
        val lastCaret = interior.collect { case ('^', i) => i }
          .maxOption
        val firstDollar = interior.collect { case ('$', i) => i }
          .minOption
        if (lastCaret.exists(c => firstDollar.exists(_ < c)))
          neverMatches = true // `$ ... ^` needs end before start
        lastCaret.foreach { c =>
          // every earlier top-level anchor splits the prefix; each
          // sub-segment must be nullable on its own
          if (!allNullable(ptext.substring(0, c)
              .replaceAll("[\\^$]", " ")))
            neverMatches = true
          anchorStart = true
        }
        firstDollar.foreach { d =>
          if (!allNullable(ptext.substring(d + 1)
              .replaceAll("[\\^$]", " ")))
            neverMatches = true
          anchorEnd = true
        }
        val from = lastCaret.map(_ + 1).getOrElse(0)
        val until = firstDollar.filter(_ >= from).getOrElse(ptext.length)
        val allNames = patVarNames(
          parsePattern(ptext.replaceAll("[\\^$]", " ")).elems)
        ptext =
          if (neverMatches)
            // the pattern text only has to carry the VARIABLE NAMES the
            // measures reference — the whole result is filtered to zero
            // rows below, so quantifiers/structure/duplicates drop
            allNames.distinct.mkString(" ")
          else ptext.substring(from, until)
        // measures over a variable of a dropped (zero-rows) segment
        // evaluate to NULL/0: it is no step, so the clause reads the
        // captured rows, where it has none
        require(ptext.trim.nonEmpty,
          "interior anchors left an empty pattern body")
      }
    }
    if (neverMatches) { anchorStart = false; anchorEnd = false }
    val anchored = anchorStart || anchorEnd
    val parsed = parsePattern(ptext)
    val elems = parsed.elems
    val excluded = parsed.excluded
    require(elems.nonEmpty, "PATTERN must name at least one variable")
    // groups AND alternation (variables may repeat across branches)
    val nested = elems.exists(e =>
      e.isInstanceOf[PGrp] || e.isInstanceOf[PAlt])
    val defines: Map[String, String] =
      DefineRe.findFirstMatchIn(clause).map(_.group(1)) match {
        case None => Map.empty
        case Some(body) => splitTop(body).map { d =>
          val i = "(?i)\\s+AS\\s+".r.findFirstMatchIn(d).getOrElse(
            throw new IllegalArgumentException(s"DEFINE entry needs AS: $d"))
          d.substring(0, i.start).trim -> d.substring(i.end).trim
        }.toMap
      }
    // each measure with its FINAL keyword
    val measures: Seq[(Measure, Boolean)] =
      MeasuresRe.findFirstMatchIn(clause).map(_.group(1)) match {
        case None => Seq.empty
        case Some(body) => splitTop(body).map { m =>
          val i = "(?i)\\s+AS\\s+".r.findAllMatchIn(m).toSeq.lastOption
            .getOrElse(throw new IllegalArgumentException(
              s"measure needs AS alias: $m"))
          val (e0, alias) = (m.substring(0, i.start).trim,
            m.substring(i.end).trim)
          // optional SQL:2016 semantics keyword: FINAL evaluates over the
          // whole match under ALL ROWS; RUNNING (the ALL ROWS default)
          // strips to the bare expression
          val kw = SemanticsKwRe.findFirstMatchIn(e0)
          val e = kw.map(k => e0.substring(k.end)).getOrElse(e0)
          val isFinal = kw.exists(_.group(1).equalsIgnoreCase("FINAL"))
          val base = e match {
            case FirstLastRe(fl, v, c, off) =>
              PosMeasure(v, c, alias, last = fl.equalsIgnoreCase("LAST"),
                offset = Option(off).map(_.toInt).getOrElse(0))
            case CountRe(v) => CountMeasure(v, alias)
            case AggRe(fn, v, c) => AggMeasure(fn.toUpperCase, v, c, alias)
            case m if ClassifierRe.matches(m.trim) => ClassifierMeasure(alias)
            case m if MatchNumRe.matches(m.trim) => MatchNumMeasure(alias)
            // SQL:2016 ONE ROW PER MATCH is FINAL: bare X.col = LAST(X.col)
            case ColRe(v, c) => PosMeasure(v, c, alias, last = true)
            case other => throw new IllegalArgumentException(
              s"unsupported measure expression: $other")
          }
          (base, isFinal)
        }
      }
    val skip: Cep.AfterMatchSkip =
      SkipRe.findFirstMatchIn(clause) match {
        case None => Cep.NoSkip // SKIP TO NEXT ROW — library all-starts
        case Some(m) =>
          if (m.group(1) != null) Cep.SkipPastLastEvent
          else if (m.group(2) != null) Cep.NoSkip
          else if (m.group(3) != null) Cep.SkipToFirst(m.group(3))
          else Cep.SkipToLast(m.group(4))
      }
    // SQL:2016 RELUCTANT quantifiers (round 10): `B+?` prefers the
    // FEWEST repetitions — the engine emits the shortest completion per
    // match start instead of every satisfied length. Flat AND
    // nested-group patterns qualify; alternation/PERMUTE compose via
    // deferred preference selection, ^/$ anchors compose in batch, and
    // non-default skip composes through the resolver+queue drivers.
    // ROUND 11: SEVERAL quantified elements compose when ALL carry the
    // reluctant marker — GroupCep.prefer walks the structural decision
    // lattice: alternation levels prefer the leftmost branch (and
    // dominate in-branch loops), sequence levels prefer the exit —
    // fewest of the first quantifier, then fewest of the second, the
    // `V B+? C+? E` SQL:2016 ranking. Nested quantifiers reject in the
    // GPattern build. Under sqlGreedy the markers are PER-QUANTIFIER
    // polarity (SQL:2016 mixed semantics, `V B+ C+? E` maximizes B then
    // minimizes C) and must not trigger the pattern-level reluctant
    // machinery.
    val quants = patQuants(elems)
    val hasReluctant = quants.exists(_.reluctant) && !sqlGreedy
    // every decision point must rank the same way — a greedy quantifier
    // inside a reluctant ranking has no defined preference interleaving
    // (Calcite rejects the mix too)
    if (hasReluctant && quants.size > 1)
      require(quants.forall(_.reluctant),
        "a pattern with several quantified elements must mark EVERY " +
          "one reluctant (mixed greedy/reluctant ranking is not " +
          "supported)")
    // Anchors compose with reluctant selection: in batch the candidates
    // buffer to the end of the key run and the anchor gates filter
    // BEFORE per-start preference selection (a shortest completion
    // failing $ must lose to a longer same-start candidate that reaches
    // the partition tail); on a stream the ^ gate works at the NFA
    // (arrival 0), so every candidate is anchored by construction and
    // the immediate shortest-per-start selection stays exact. A
    // non-default AFTER MATCH SKIP composes too: the drivers resolve THE
    // preferred match per start first, then the skip queue runs over
    // the gate-passing selections.
    // SQL:2016 ALL ROWS PER MATCH WITH UNMATCHED ROWS (round 10, beyond
    // Flink 1.7): rows that are part of NO emitted match are also
    // output, with NULL measures, alongside the pass-through ORDER BY
    // column that identifies each row. Batch only (a row's
    // unmatchedness is undecidable while partials remain open on an
    // unbounded stream); anchors and exclusions reject (an excluded row
    // IS matched yet absent from the output — its unmatchedness would
    // misread; an anchor-rejected candidate's rows likewise).
    val withUnmatched = UnmatchedRe.findFirstMatchIn(clause).isDefined
    // sqlGreedy × ALL ROWS PER MATCH composes (round 13): greedy
    // selection defers each start's candidates to the resolver and
    // emits ONE maximal match per start with its FULL capture groups,
    // and the ALL ROWS lowering is selection-mode-agnostic. {- -}
    // exclusions compose too: exclusion is OUTPUT-only (SQL:2016) — the
    // greedy winner is selected first, then its excluded rows are
    // withheld while still advancing the RUNNING prefix.
    if (withUnmatched) {
      require(!df.isStreaming, "WITH UNMATCHED ROWS requires batch " +
        "input (unmatchedness is undecidable while partials remain open)")
      require(!anchored && excluded.isEmpty,
        "WITH UNMATCHED ROWS does not compose with ^/$ anchors or " +
          "{- -} exclusions")
    }
    val withinMicros: Option[Long] =
      WithinRe.findFirstMatchIn(clause).map { m =>
        val n = m.group(1).toLong
        n * (m.group(2).toUpperCase match {
          case "SECOND" => 1000000L
          case "MINUTE" => 60L * 1000000
          case "HOUR" => 3600L * 1000000
          case "DAY" => 86400L * 1000000
        })
      }

    // WITHIN's interval converts to MICROSECONDS — only meaningful against
    // a timestamp ordering; an integral ORDER BY has no wall-clock scale.
    if (withinMicros.isDefined && df.schema(ordCol).dataType != TimestampType)
      throw new IllegalArgumentException(
        s"WITHIN requires a TimestampType ORDER BY column; '$ordCol' is " +
          df.schema(ordCol).dataType.simpleString)

    // Event-time long: timestamps in MICROS for batch (full parquet
    // precision, oracle-proven ordering) but MILLIS for streaming —
    // GroupState watermarks and event-time timers are epoch millis, so
    // the NFA's ts/within must share that unit (the matchStream
    // contract). Sub-millisecond ordering within one key falls back to
    // the tie column under streaming.
    val streamingIn = df.isStreaming
    // Anchors gate inside the key-run driver (GroupCep.KeyRun): ^ lets
    // only the partition's arrival-0 row open a branch — on a stream too,
    // where the cross-batch arrival ordinal pins the partition's first
    // event — and $ keeps the candidates ending on the partition's last
    // row, which only batch input can know. Under the default all-starts
    // skip the candidates are independent, so the gate is exact; a
    // non-default skip must not be consumed by an anchor-rejected
    // candidate, which only the selection modes' gate-select-skip order
    // guarantees — other combinations reject rather than approximate.
    if (anchored) {
      if (streamingIn) require(anchorStart && !anchorEnd,
        "under streaming only the ^ head anchor is supported; the $ " +
          "tail requires batch input (the partition end is unknowable " +
          "on an unbounded stream)")
      // round 11: anchors × skip composes on batch selection-mode
      // clauses (SQL:2016 evaluation order — the gates filter
      // candidates, the preference selects per start, THEN the skip
      // queue consumes over the selected matches; under $ + PAST LAST
      // ROW that collapses each partition to its earliest-start match)
      require(skip == Cep.NoSkip ||
        ((hasReluctant || sqlGreedy) && !streamingIn),
        "^/$ anchors compose with a non-default AFTER MATCH SKIP only " +
          "on batch selection-mode patterns (the gate-select-skip " +
          "driver)")
    }
    def ordExpr(name: String): Column = df.schema(name).dataType match {
      case TimestampType =>
        if (streamingIn) expr(s"unix_millis(`$name`)") else unix_micros(col(name))
      case _ => col(name).cast("long")
    }
    val withinOrd: Option[Long] =
      if (streamingIn) withinMicros.map(_ / 1000) else withinMicros
    val varsAll = patVarNames(elems).toVector
    val vars = varsAll.distinct
    // exclusion is name-keyed: a variable appearing BOTH inside and
    // outside {- -} would need occurrence-level tracking — reject rather
    // than silently excluding the outside occurrences too
    excluded.foreach { n =>
      val total = varsAll.count(_ == n)
      val inExcl = parsed.excludedOcc.count(_ == n)
      require(inExcl == total, s"variable $n appears both inside and " +
        "outside a {- -} exclusion; exclusion is per-variable")
    }
    // alternation/PERMUTE legitimately repeat a variable across branches
    // (the NFA gives each occurrence its own slot; captures merge by
    // name); a FLAT sequence repeating a name is a typo, not a fork
    if (!nested) require(varsAll.size == vars.size,
      s"duplicate PATTERN variables: ${varsAll.mkString(", ")}")
    // SQL:2016 SUBSET clause: union variables, usable in MEASURES (the
    // subset's rows = the union of its members' captured rows in match
    // order). DEFINE over a subset would need iterative conditions (our
    // DEFINE predicates are per-row Catalyst columns) — rejected.
    val subsets: Map[String, Vector[String]] =
      SubsetRe.findFirstMatchIn(clause).map(_.group(1)) match {
        case None => Map.empty
        case Some(body) => splitTop(body).map {
          case SubsetEntryRe(name, members) =>
            val ms = members.split(",", -1).map(_.trim).toVector
            require(ms.nonEmpty && ms.forall(_.nonEmpty),
              s"SUBSET $name needs at least one member variable")
            require(ms.distinct.size == ms.size,
              s"SUBSET $name repeats a member")
            name -> ms
          case other => throw new IllegalArgumentException(
            s"unsupported SUBSET entry (want name = (v1, v2, ...)): $other")
        }.toMap
      }
    subsets.foreach { case (u, ms) =>
      require(!vars.contains(u),
        s"SUBSET $u collides with a PATTERN variable")
      ms.foreach(m => require(vars.contains(m),
        s"SUBSET $u references unknown PATTERN variable $m"))
      require(!defines.contains(u),
        s"SUBSET variable $u cannot be DEFINEd (per-row predicates only)")
    }
    // PREV(col[, n]) in DEFINE: physical navigation over the partition's
    // input rows (SQL:2016; the V/W-pattern enabler "value < PREV(value)").
    // BATCH: precomputed as a lag() window over the SAME (partition,
    // order) the NFA uses, so the predicate stays a plain codegen'd
    // Catalyst expression and the NFA still reads one boolean per row.
    // At the first row of a partition PREV is NULL, so the predicate
    // coalesces to false — the reference's semantics. Plan note: the
    // window and the planned operator both cluster on the raw key column,
    // so EnsureRequirements reuses the window's exchange — one shuffle.
    // STREAMING (round 9): a window function cannot be planned on a
    // stream, so PREV rides keyed state instead — the driver carries the
    // key's last maxOffset rows across micro-batches
    // ([[GroupCep.GArrivalState]]'s carry, the posture Flink's streaming PREV
    // takes with NFA state) and the PREV-referencing predicates are
    // evaluated per arriving row against (current row + carried rows)
    // via a driver-analyzed, executor-bound Catalyst expression.
    val prevVars: Set[String] =
      defines.filter(kv => PrevRe.findFirstMatchIn(kv._2).isDefined).keySet
    val prevRefs: Seq[(String, Int)] = defines.values.toSeq.flatMap(t =>
      PrevRe.findAllMatchIn(t).map(m =>
        (m.group(1), Option(m.group(2)).getOrElse("1").toInt))).distinct
    val definesRewritten: Map[String, String] = defines.map { case (k, t) =>
      val r = PrevRe.replaceAllIn(t, m => {
        val n = Option(m.group(2)).getOrElse("1")
        java.util.regex.Matcher.quoteReplacement(
          if (streamingIn) s"`__mr_prev_${m.group(1)}_$n`"
          else s"(lag(`${m.group(1)}`, $n) OVER (PARTITION BY `$partCol` " +
            s"ORDER BY `$ordCol`" +
            tieCol.map(tc => s", `$tc`").getOrElse("") + "))")
      })
      require(PrevAnyRe.findFirstIn(r).isEmpty,
        s"only PREV(column[, offset]) is supported in DEFINE: $t")
      k -> r
    }
    def predCol(v: String): Column =
      // streaming PREV predicates evaluate inside the keyed driver (they
      // need the carried rows); the column holds a placeholder the pre-
      // transform overwrites per row
      if (streamingIn && prevVars(v)) lit(false)
      else definesRewritten.get(v) match {
        case Some(sqlText) =>
          coalesce(expr(sqlText).cast("boolean"), lit(false))
        case None => lit(true)
      }
    // project to: measure-referenced columns + partition key + internals;
    // under streaming ALSO the raw ORDER BY column — its watermark
    // metadata must reach flatMapGroupsWithState for event-time timeouts
    // streaming PREV defines evaluate over raw columns inside the keyed
    // driver — project every df column their text mentions (word-token
    // scan; false positives only widen the projection)
    val prevNeeded: Seq[String] =
      if (streamingIn && prevVars.nonEmpty) {
        val words = prevVars.toSeq
          .flatMap(v => "\\w+".r.findAllIn(defines(v)).toSeq).toSet
        df.columns.toSeq.filter(words)
      } else Nil
    val needed = ((measures.map(_._1)
      .collect {
        case PosMeasure(_, c, _, _, _) => c
        case AggMeasure(_, _, c, _) => c
      }
      :+ partCol) ++
      (if (streamingIn || withUnmatched) Seq(ordCol) else Nil) ++
      prevNeeded).distinct
    val basePrepared = df
      .where(col(ordCol).isNotNull)
      .select(needed.map(col) ++
        Seq(ordExpr(ordCol).as("__mr_ord"),
          tieCol.map(ordExpr).getOrElse(lit(0L)).as("__mr_tie")) ++
        vars.map(v => predCol(v).as(s"__mr_$v")): _*)
    // every variable name appearing anywhere in PATTERN — a measure over
    // any other name (a SUBSET, a variable the interior-anchor rewrite
    // dropped) gets its SQL-defined degenerate result (COUNT = 0, null
    // positional) from the captured rows, never a step column
    val patternVars = vars.toSet
    def quantifiedVars(es: Vector[PElem], inQuant: Boolean): Set[String] =
      es.flatMap {
        case PVar(v, q) =>
          if (inQuant || q.isDefined) Seq(v) else Seq.empty
        case PGrp(in, q) => quantifiedVars(in, inQuant || q.isDefined)
        case PAlt(bs) => bs.flatMap(b => quantifiedVars(b, inQuant = true))
      }.toSet
    val qVars = quantifiedVars(elems, inQuant = false)
    // the one pattern tree, over variable names: batch ships it with
    // each name's DEFINE column, streaming compiles it with the name's
    // row predicate. SQL adjacency is strict between siblings AND
    // between the repetitions of a quantified element (consecutive); the
    // reluctant marker is pattern-level in the default mode
    // (`hasReluctant`) and per-quantifier polarity under sqlGreedy
    def group(inner: Seq[GSpec[String]], q: Option[Quant]): GSpec[String] = {
      val Quant(mn, mx, opt, rel) = q.getOrElse(
        Quant(1, 1, optional = false, reluctant = false))
      GGroupSpec(inner, mn, mx, optional = opt, consecutive = true,
        strict = true, relMark = sqlGreedy && rel)
    }
    def toSpec(e: PElem): GSpec[String] = e match {
      case PVar(v, None) => GLeafSpec(v, v, strict = true)
      case PVar(v, q) => group(Seq(GLeafSpec(v, v)), q)
      case PGrp(in, q) => group(in.map(toSpec), q)
      // SQL:2016 alternation: exactly one branch matches, leftmost
      // preferred
      case PAlt(bs) => GAltSpec(bs.map(_.map(toSpec)), strict = true)
    }
    val spec = elems.map(toSpec)

    // ALL ROWS PER MATCH: one output row per matched event in match
    // order, measures with RUNNING semantics (the SQL default in this
    // mode — evaluated over the prefix up to the current row) and
    // CLASSIFIER() = the row's pattern variable. ONE ROW PER MATCH
    // keeps FINAL semantics (the whole match is the prefix);
    // CLASSIFIER() there is the last matched row's variable.
    val allRows = AllRowsRe.findFirstMatchIn(clause).isDefined
    if (allRows) require(measures.nonEmpty,
      "ALL ROWS PER MATCH requires at least one measure")
    // SQL:2016: row-pattern exclusion only affects ALL ROWS output (and
    // Oracle/standard practice requires that mode when one is written)
    if (excluded.nonEmpty) require(allRows,
      "{- -} exclusions require ALL ROWS PER MATCH")

    val schema = basePrepared.schema
    val keyIdx = schema.fieldIndex(partCol)
    val ordIdx = schema.fieldIndex("__mr_ord")
    val tieIdx = schema.fieldIndex("__mr_tie")

    // The capture lowering: a match is (`key`, `match_number`,
    // `captures`), its captured rows in match order as (`step`, `row`)
    // structs, `step` indexing `vars` — the batch operator's Captures
    // shape, and what the streaming closures build. Each measure is one
    // Catalyst expression over that array, the same on both routes.
    val stepNames = array(vars.map(lit): _*)
    // a pattern variable is its own step, a SUBSET its members' steps;
    // any other name (a variable the interior-anchor rewrite dropped) has
    // none, so it reads COUNT 0 and NULL values
    def rowsOf(caps: Column, v: String): Column = {
      val steps = subsets.getOrElse(v, Vector(v)).map(vars.indexOf)
        .filter(_ >= 0)
      if (steps.size == vars.size) caps
      else filter(caps, x => x("step").isin(steps: _*))
    }
    def measureCol(m: Measure, caps: Column, cls: Column): Column = m match {
      case PosMeasure(v, c, _, last, off) =>
        val rs = rowsOf(caps, v)
        get(rs, if (last) size(rs) - (off + 1) else lit(off))("row")(c)
      case CountMeasure(v, _) => size(rowsOf(caps, v)).cast(LongType)
      case ClassifierMeasure(_) => cls
      case MatchNumMeasure(_) => col("match_number")
      case AggMeasure(fn, v, c, _) =>
        val xs = transform(rowsOf(caps, v), x => x("row")(c))
        fn match {
          case "MIN" => array_min(xs)
          case "MAX" => array_max(xs)
          case _ =>
            val vs = filter(xs, _.isNotNull)
            val t = schema(c).dataType match {
              case ByteType | ShortType | IntegerType | LongType
                  if fn == "SUM" => LongType
              case _ => DoubleType
            }
            // folded in match order, like the captured rows arrive
            val sum = aggregate(vs, lit(0).cast(t),
              (acc, x) => acc + x.cast(t))
            when(size(vs) > 0, if (fn == "AVG") sum / size(vs) else sum)
        }
    }
    val caps = col("captures")
    val finalCls = get(stepNames, get(caps, size(caps) - 1)("step"))
    def lowerCaptures(d: DataFrame): DataFrame =
      if (!allRows)
        d.select(col("key").as(partCol) +: measures.map { case (m, _) =>
          measureCol(m, caps, finalCls).as(m.alias)
        }: _*)
      else {
        // ALL ROWS: one row per captured row; RUNNING measures read the
        // prefix up to it, FINAL ones the whole match. Excluded rows leave
        // the output but stay in every prefix (SQL:2016 exclusion is
        // output-only)
        val r = col("__mr_r")
        // FINAL values are row-independent: evaluated once per match,
        // before the explode
        val fins = measures.zipWithIndex.collect { case ((m, true), i) =>
          measureCol(m, caps, finalCls).as(s"__mr_f$i")
        }
        val exploded = d.select(col("*") +: fins: _*)
          .select(col("*"), posexplode(caps).as(Seq("__mr_pos", "__mr_r")))
        val kept =
          if (excluded.isEmpty) exploded
          else exploded.where(
            !r("step").isin(excluded.toSeq.map(vars.indexOf): _*))
        val prefix = slice(caps, lit(1), col("__mr_pos") + 1)
        // WITH UNMATCHED ROWS: each matched row also carries the raw
        // ORDER BY value (the row's identity for the user) and the
        // internal (ord, tie) longs (its identity for the anti-join)
        val out = kept.select(col("key").as(partCol) +:
          ((if (withUnmatched) Seq(r("row")(ordCol).as(ordCol)) else Nil) ++
            measures.zipWithIndex.map { case ((m, fin), i) =>
              (if (fin) col(s"__mr_f$i")
              else measureCol(m, prefix, get(stepNames, r("step"))))
                .as(m.alias)
            } ++
            (if (withUnmatched) Seq(r("row")("__mr_ord").as("__mr_uord"),
              r("row")("__mr_tie").as("__mr_utie"))
            else Nil)): _*)
        if (!withUnmatched) out
        else {
          // unmatched rows: everything the matched (ord, tie) key set
          // does not cover, with NULL measures — one distinct + one
          // left_anti join, both on the narrow key triple
          val keys = out.select(col(partCol).as("__mr_k"),
            col("__mr_uord"), col("__mr_utie")).distinct()
          val un = basePrepared.join(keys,
              basePrepared(partCol) === keys("__mr_k") &&
                basePrepared("__mr_ord") === keys("__mr_uord") &&
                basePrepared("__mr_tie") === keys("__mr_utie"),
              "left_anti")
            .select(col(partCol) +: col(ordCol) +: measures.map {
              case (m, _) =>
                lit(null).cast(out.schema(m.alias).dataType).as(m.alias)
            }: _*)
          out.drop("__mr_uord", "__mr_utie").unionByName(un)
        }
      }
    // an unsatisfiable interior-anchor pattern evaluates to ZERO rows:
    // the constant-false filter folds the whole subtree away
    def result(d: DataFrame): DataFrame =
      if (neverMatches) d.where(lit(false)) else d

    // BATCH: every clause plans onto the GroupCepExec operator — the
    // planner owns the data movement (exactly one exchange + one sort from
    // EnsureRequirements, elidable by upstream partitioning) and the
    // DEFINE predicates run codegen'd. ^/$ and AFTER MATCH run inside the
    // operator's key-run driver, so only the output lowering depends on
    // the measures.
    if (!streamingIn) {
      // the per-match block carries per step its capture count and first
      // captured row: FIRST()/COUNT() over any variable, any position over
      // an unquantified one (first = last = only), and MATCH_NUMBER(). A
      // flat chain of distinct variables under ALL ROWS adds each row's
      // step index (`cls_idx`) and ordinal within its step, which lowers
      // RUNNING measures and CLASSIFIER() to CASEs. Everything else —
      // LAST/aggregates over a repeated variable, SUBSET, a variable the
      // interior-anchor rewrite dropped, WITH UNMATCHED — takes the
      // capture lowering.
      val stepOrder = elems.collect { case PVar(v, _) => v }
      val rowBlockable = !withUnmatched &&
        stepOrder.distinct.size == elems.size
      val blockCarries = (!allRows || rowBlockable) && measures.forall {
        case (m, fin) => m match {
          case PosMeasure(v, _, _, last, 0) =>
            patternVars(v) && (!last || !qVars(v))
          case CountMeasure(v, _) => patternVars(v)
          case MatchNumMeasure(_) => true
          // FINAL CLASSIFIER (the match's last variable) is not in the
          // block; the RUNNING default is the row's own variable
          case ClassifierMeasure(_) => allRows && !fin
          case _ => false
        }
      }
      val shape =
        if (!blockCarries) GroupCepPlan.Captures
        else if (allRows) GroupCepPlan.RowBlock
        else GroupCepPlan.MatchBlock
      val planned = GroupCepPlan.matchGroupPattern(basePrepared,
        col(partCol), col("__mr_ord"), col("__mr_tie"),
        spec.map(_.map(v => col(s"__mr_$v"))), withinMicros = withinOrd,
        reluctant = hasReluctant, anchorHead = anchorStart,
        anchorTail = anchorEnd, skip = skip, sqlGreedy = sqlGreedy,
        shape = shape)
      val key = col("key").as(partCol)
      return result(shape match {
        case GroupCepPlan.MatchBlock =>
          planned.select(key +: measures.map { case (m, _) =>
            m match {
              case PosMeasure(v, c, alias, _, _) => col(s"${v}_${c}").as(alias)
              case CountMeasure(v, alias) => col(s"${v}_count").as(alias)
              case MatchNumMeasure(alias) => col("match_number").as(alias)
              case other => throw new IllegalStateException(s"unroutable $other")
            }
          }: _*)
        case GroupCepPlan.RowBlock =>
          val stepIdxOf = stepOrder.zipWithIndex.toMap
          val clsIdx = col("cls_idx")
          val clsName = org.apache.spark.sql.functions.element_at(
            array(stepOrder.map(lit): _*), clsIdx + 1)
          // exclusions are a plan-side filter on cls_idx — selection
          // already ran over the full pattern
          val filtered =
            if (excluded.isEmpty) planned
            else planned.where(!clsIdx.isin(
              excluded.toSeq.map(stepIdxOf): _*))
          filtered.select(key +: measures.map { case (m, fin) =>
            m match {
              case PosMeasure(v, c, alias, _, _) =>
                if (fin) col(s"${v}_${c}").as(alias)
                else when(clsIdx >= stepIdxOf(v), col(s"${v}_${c}"))
                  .as(alias)
              case CountMeasure(v, alias) =>
                if (fin) col(s"${v}_count").as(alias)
                else when(clsIdx > stepIdxOf(v), col(s"${v}_count"))
                  .when(clsIdx === stepIdxOf(v), col("within_ord"))
                  .otherwise(lit(0L)).as(alias)
              case ClassifierMeasure(alias) => clsName.as(alias)
              case MatchNumMeasure(alias) => col("match_number").as(alias)
              case other => throw new IllegalStateException(s"unroutable $other")
            }
          }: _*)
        case GroupCepPlan.Captures => lowerCaptures(planned)
      })
    }

    // STREAMING: the same spec tree runs on GroupCep.streamDriver —
    // partials persist in keyed state across micro-batches; WITHIN
    // patterns require a watermark on the ORDER BY column upstream
    // (`df.withWatermark(ord, ...)`) so idle keys' expired partials are
    // pruned by event-time timers. State crosses batches as a
    // version-tagged envelope (CepStateCodec). MATCH_NUMBER() takes the
    // state-persisted ordinal (`numbered`); PREV() carries the key's last
    // rows (`pre`). Each match leaves the driver as a capture row, and
    // the capture lowering runs after it, stateless in append mode
    val varIdx = vars.map(v => v -> schema.fieldIndex(s"__mr_$v")).toMap
    def pred(v: String): Row => Boolean = {
      val i = varIdx(v)
      r => !r.isNullAt(i) && r.getBoolean(i)
    }
    // Streaming PREV pre-transform: given the key's carried rows (its
    // previous maxOffset rows in event-time order, persisted across
    // micro-batches), rewrite this row's __mr_<var> booleans for the
    // PREV-referencing variables. The predicate is analyzed ONCE on the
    // driver against the carry-extended schema, bound by ordinal, and
    // shipped to executors; rows serialize through the extended schema's
    // encoder and the bound expression evaluates interpreted (the NFA is
    // per-key sequential anyway).
    val preFn: (Vector[Row], Row) => (Vector[Row], Row) =
      if (prevVars.isEmpty) null
      else {
        import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
        import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericRowWithSchema}
        import org.apache.spark.sql.catalyst.plans.logical.Project
        val maxOff = prevRefs.map(_._2).max
        val prevFields = prevRefs.map { case (c, n) =>
          StructField(s"__mr_prev_${c}_$n", schema(c).dataType,
            nullable = true)
        }
        val extSchema = StructType(schema.fields ++ prevFields)
        val helper = df.sparkSession.createDataFrame(
          new java.util.ArrayList[Row](), extSchema)
        def boundOf(sqlText: String): Expression = {
          val an = helper.select(coalesce(expr(sqlText).cast("boolean"),
            lit(false)).as("__p")).queryExecution.analyzed
          val pr = an.collect { case p: Project => p }.head
          BindReferences.bindReference(
            pr.projectList.head.asInstanceOf[Alias].child, pr.child.output)
        }
        val boundPreds: Seq[(Int, Expression)] =
          prevVars.toSeq.map(v => varIdx(v) -> boundOf(definesRewritten(v)))
        val ser = ExpressionEncoder(RowEncoder.encoderFor(extSchema))
          .createSerializer()
        val srcIdx = prevRefs.map { case (c, _) => schema.fieldIndex(c) }
        val nBase = schema.length
        (carry: Vector[Row], row: Row) => {
          val extVals = new Array[Any](nBase + prevRefs.length)
          var i = 0
          while (i < nBase) { extVals(i) = row.get(i); i += 1 }
          prevRefs.indices.foreach { j =>
            val off = prevRefs(j)._2
            extVals(nBase + j) =
              if (carry.size >= off) carry(carry.size - off).get(srcIdx(j))
              else null
          }
          val internal = ser(Row.fromSeq(extVals.toIndexedSeq))
          val newVals = new Array[Any](nBase)
          i = 0
          while (i < nBase) { newVals(i) = row.get(i); i += 1 }
          boundPreds.foreach { case (vi, ex) =>
            newVals(vi) = ex.eval(internal) == true
          }
          ((carry :+ row).takeRight(maxOff),
            new GenericRowWithSchema(newVals, schema): Row)
        }
      }

    val gp = GroupCepPlan.buildPattern[String, Row](spec, pred, withinOrd,
      hasReluctant, sqlGreedy, deferSelection = false)
    val needsMatchNum = measures.exists(_._1.isInstanceOf[MatchNumMeasure])
    val keyEnc = Encoders.row(StructType(Seq(schema(keyIdx))))
    val capEnc = Encoders.row(StructType(Seq(
      schema(keyIdx).copy(name = "key"),
      StructField("match_number", LongType, nullable = false),
      StructField("captures", ArrayType(StructType(Seq(
        StructField("step", IntegerType, nullable = false),
        StructField("row", schema, nullable = false))), containsNull = false),
        nullable = false))))
    // the driver hands a match over as step name → rows; shape it as the
    // batch operator's capture row, in match order
    val capRow: (Row, Long, Map[String, Seq[Row]]) => Row = (k, mn, groups) =>
      Row(k.get(0), mn, vars.indices
        .flatMap(i => groups.getOrElse(vars(i), Nil).map(i -> _))
        .sortBy { case (_, e) => (e.getLong(ordIdx), e.getLong(tieIdx)) }
        .map { case (i, e) => Row(i, e) })
    result(lowerCaptures(GroupCep.streamDriver[Row, Row, Row](basePrepared,
      (r: Row) => Row(r.get(keyIdx)), gp.withinMs,
      GroupCep.matchStreamArrivalFn[Row, Row, Row](gp,
        (r: Row) => r.getLong(ordIdx), (r: Row) => r.getLong(tieIdx), skip,
        (k, groups) => capRow(k, 0L, groups), anchorHead = anchorStart,
        pre = preFn, numbered = if (needsMatchNum) capRow else null))(
      capEnc, keyEnc).toDF()))
  }
}
