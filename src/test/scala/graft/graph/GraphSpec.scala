package graft.graph

import graft.SparkSuite
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSuite {
  import spark.implicits._

  // two triangles + a bridge vertex chain + an isolated pair
  private lazy val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), // triangle A
    (10L, 11L), (11L, 12L), (12L, 10L), // triangle B
    (3L, 10L), // bridge joins A and B
    (20L, 21L) // separate component
  ).toDF("src", "dst")

  test("connectedComponents labels components by min vertex id") {
    val comp = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(comp(_) == 1L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
  }

  test("connectedComponents/sssp edgesDistinct fast path matches default, " +
      "and stays correct even when the assertion is false") {
    // the fixture is distinct single-orientation — the assertion holds
    val viaFlag = GraphOps.connectedComponents(edges, edgesDistinct = true)
      .as[(Long, Long)].collect().toMap
    val viaDefault = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(viaFlag === viaDefault)
    // a LYING caller (duplicates + both orientations) degrades only
    // performance: min-label propagation is duplicate-insensitive
    val messy = edges.unionAll(edges)
      .unionAll(edges.select($"dst".as("src"), $"src".as("dst")))
    val viaLie = GraphOps.connectedComponents(messy, edgesDistinct = true)
      .as[(Long, Long)].collect().toMap
    assert(viaLie === viaDefault)
    val d1 = GraphOps.sssp(edges, 1L, edgesDistinct = true)
      .as[(Long, Double)].collect().toMap
    val d2 = GraphOps.sssp(messy, 1L, edgesDistinct = true)
      .as[(Long, Double)].collect().toMap
    val d0 = GraphOps.sssp(edges, 1L).as[(Long, Double)].collect().toMap
    assert(d1 === d0 && d2 === d0)
  }

  /** Driver-side union-find: vertex → smallest id of its component over
    * the non-self edges (self-loops name no vertex, as in `undirect`). */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    @annotation.tailrec
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else find(p)
    }
    for ((a, b) <- es if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("connectedComponents equals a driver-side union-find on seeded graphs") {
    val rnd = new scala.util.Random(11)
    def ids(n: Int, base: Long) = rnd.shuffle((0 until n).map(base + _))
    def path(vs: Seq[Long]) = vs.zip(vs.tail)
    def cycle(vs: Seq[Long]) = path(vs) :+ (vs.last -> vs.head)
    // ascending ids converge in O(log length) rounds; a path in random
    // id order can need O(length) rounds, so it stays short
    val ascending = path((0L until 120L).map(1000L + _))
    val descending = path((0L until 120L).map(2000L - _))
    val shuffledPath = path(ids(16, 3000L))
    val cycles = cycle(ids(9, 4000L)) ++ cycle(ids(13, 4100L))
    val pair = Seq(5000L -> 5001L)
    // sparse random graphs: several components, duplicates, self-loops
    // and both orientations of some edges
    val random = (0 until 3).flatMap { g =>
      val base = 6000L + 1000L * g
      Seq.fill(60)((base + rnd.nextInt(80), base + rnd.nextInt(80)))
    }
    val all = ascending ++ descending ++ shuffledPath ++ cycles ++ pair ++
      random
    val got = GraphOps.connectedComponents(all.toDF("src", "dst"))
      .as[(Long, Long)].collect()
    assert(got.length === got.map(_._1).distinct.length)
    assert(got.toMap === unionFind(all))
    // the empty edge list converges at once on a NULL observed sum
    val none = GraphOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(none.isEmpty)
  }

  test("a connectedComponents round scans the edge cache and builds the " +
      "labels' exchange once") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // a reused exchange is a leaf, so a shared read counts once
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case o if o.children.isEmpty => Seq(o)
      case o => o.children.flatMap(leaves)
    }
    val selfed = GraphOps.ccEdges(edges, edgesDistinct = false)
    try {
      val labels = GraphOps.materialize(selfed.where($"src" === $"dst")
        .select($"src".as("id"), $"src".as("comp")))
      val round = GraphOps.ccRound(selfed, labels)
      val planned = leaves(round.queryExecution.executedPlan)
      assert(planned.count(_.isInstanceOf[InMemoryTableScanExec]) === 1,
        round.queryExecution.executedPlan.toString)
      round.collect()
      val ran = leaves(round.queryExecution.executedPlan)
      assert(ran.count(_.isInstanceOf[RDDScanExec]) === 1,
        round.queryExecution.executedPlan.toString)
    } finally selfed.unpersist()
  }

  test("the observed graph loops leave the session serializable") {
    // closures that capture the session (an MLlib model's training
    // summary) must still serialize after a loop read its round scalar
    GraphOps.connectedComponents(edges).collect()
    GraphOps.kCore(edges, 2).collect()
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("connectedComponents and sssp raise by name when maxIter is too low") {
    val path6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val cc = intercept[GraphNotConvergedException](
      GraphOps.connectedComponents(path6, maxIter = 1))
    assert(cc.algorithm === "connectedComponents" && cc.maxIter === 1)
    val sp = intercept[GraphNotConvergedException](
      GraphOps.sssp(path6, 1L, maxIter = 1))
    assert(sp.algorithm === "sssp")
  }

  test("connectedComponents converges on a 25+ round path in seconds, its " +
      "labels' size estimate near their real size") {
    // a path in random id order needs O(length) rounds; where each
    // round's estimate squared the last, the driver sat for minutes in
    // the estimate's arithmetic past about 20 rounds
    val vs = new scala.util.Random(5).shuffle((0L until 150L).map(7000L + _))
    val path = vs.zip(vs.tail).toDF("src", "dst")
    intercept[GraphNotConvergedException](
      GraphOps.connectedComponents(path, maxIter = 24))
    val t0 = System.nanoTime()
    val labels = GraphOps.connectedComponents(path, maxIter = 100)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(labels.as[(Long, Long)].collect().toSet ===
      vs.map(_ -> 7000L).toSet)
    assert(secs < 120, s"$secs s")
    // real size: 150 rows of two longs; the estimate may add row overhead
    val est = labels.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est <= 4 * 150 * 16, s"estimate $est bytes")
  }

  test("sssp computes hop distances and omits unreachable vertices") {
    val dist = GraphOps.sssp(edges, 1L)
      .as[(Long, Double)].collect().toMap
    assert(dist(1L) == 0.0 && dist(2L) == 1.0 && dist(3L) == 1.0)
    assert(dist(10L) == 2.0 && dist(11L) == 3.0)
    assert(!dist.contains(20L))
  }

  test("pageRank: ranks sum to |V| and the bridge hubs rank highest") {
    val pr = GraphOps.pageRank(edges, iters = 15)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(pr.values.sum - pr.size) < 1e-6)
    // edges are directed: 10 is the only vertex with two in-edges (from 12
    // and from the bridge 3) → highest rank; 20 receives nothing → lowest
    assert(pr.maxBy(_._2)._1 == 10L)
    assert(pr.minBy(_._2)._1 == 20L)
  }

  test("labelPropagation: labels stay within the component, dense side wins") {
    val lbl = GraphOps.labelPropagation(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    // a vertex's label is always some vertex id of its own component
    val compA = Set(1L, 2L, 3L, 10L, 11L, 12L)
    assert(compA.forall(v => compA.contains(lbl(v))))
    assert(Set(20L, 21L).forall(v => Set(20L, 21L).contains(lbl(v))))
    // deterministic: a second run yields the identical assignment
    val again = GraphOps.labelPropagation(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(again === lbl)
  }

  test("hits: integer scores match the hand-computed fixpoint rounds") {
    // star: 1→3, 2→3 plus 3→4: hubs 1,2 point at the authority 3
    val star = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = GraphOps.hits(star, iters = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // round 1: auth = in-hub sums (3: 1+1=2, 4: 1), then hub = out-auth
    // sums with NEW auths (1: 2, 2: 2, 3: 1)
    assert(got(3L) === ((1L, 2L)))
    assert(got(1L) === ((2L, 0L)) && got(2L) === ((2L, 0L)))
    assert(got(4L) === ((0L, 1L)))
  }

  test("adamicAdar scores pairs by inverse-log degree of shared neighbors") {
    // 1-3, 2-3 (common neighbor 3, deg 3); 3 also joins 4; 1-2 not linked
    val g = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = GraphOps.adamicAdar(g)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val w3 = math.floor(1e6 / math.log(3)).toLong // deg(3) = 3
    // pairs sharing neighbor 3: (1,2), (1,4), (2,4) — each scores w3
    assert(got === Map((1L, 2L) -> w3, (1L, 4L) -> w3, (2L, 4L) -> w3))
  }

  test("communityDetection assigns one community per dense cluster, deterministically") {
    val lbl = GraphOps.communityDetection(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    // labels stay within the component
    val compA = Set(1L, 2L, 3L, 10L, 11L, 12L)
    assert(compA.forall(v => compA.contains(lbl(v))))
    assert(Set(20L, 21L).forall(v => Set(20L, 21L).contains(lbl(v))))
    // each triangle coalesces on one label
    assert(Set(1L, 2L, 3L).map(lbl).size == 1)
    assert(Set(10L, 11L, 12L).map(lbl).size == 1)
    // deterministic across runs
    val again = GraphOps.communityDetection(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    assert(again === lbl)
  }

  test("scatterGather expresses connected components (vertex-centric API parity)") {
    // min-label propagation as a generic scatter-gather program
    val und = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
    val initial = und.select($"src".as("id")).distinct()
      .withColumn("state", $"id")
    val sg = GraphOps.scatterGather(und, initial, supersteps = 10)(
      msg = identity,
      merge = min,
      update = (state, msg) => least(state, coalesce(msg, state)))
      .as[(Long, Long)].collect().toMap
    val cc = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(sg === cc)
  }

  test("scatterGather expresses SSSP hop counts") {
    val und = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
    val initial = und.select($"src".as("id")).distinct()
      .withColumn("state",
        when($"id" === 1L, 0.0).otherwise(lit(Double.MaxValue)))
    val sg = GraphOps.scatterGather(und, initial, supersteps = 10)(
      msg = s => when(s < Double.MaxValue, s + 1.0).otherwise(s),
      merge = min,
      update = (state, msg) => least(state, coalesce(msg, state)))
      .where($"state" < Double.MaxValue)
      .as[(Long, Double)].collect().toMap
    val dist = GraphOps.sssp(edges, 1L)
      .as[(Long, Double)].collect().toMap
    assert(sg === dist)
  }

  test("gatherSumApply expresses weighted SSSP (GSA API parity)") {
    // weighted shortest paths: gather = srcDist + edgeWeight, sum = min,
    // apply = least — the canonical GSA program (GSASingleSourceShortestPaths)
    val wEdges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0), // direct 1→3 is longer
      (3L, 4L, 2.0)).toDF("src", "dst", "weight")
    val und = wEdges.union(
      wEdges.select($"dst".as("src"), $"src".as("dst"), $"weight"))
    val initial = und.select($"src".as("id")).distinct()
      .withColumn("state",
        when($"id" === 1L, 0.0).otherwise(lit(Double.MaxValue)))
    val gsa = GraphOps.gatherSumApply(und, initial, supersteps = 6)(
      gather = (s, w) => when(s < Double.MaxValue, s + w).otherwise(s),
      sum = min,
      apply = (state, msg) => least(state, coalesce(msg, state)))
      .as[(Long, Double)].collect().toMap
    // 1→2→3 (2.0) beats the direct 5.0 edge; 4 via 3 = 4.0
    assert(gsa === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 4.0))
  }

  test("pregel expresses connected components with conditional sends") {
    // vertex-centric CC: a triplet only sends when the source label beats
    // the destination's (ComputeFunction.sendMessageTo under a condition —
    // NULL send = no message), which also shows vprog leaving the state
    // untouched on an empty inbox
    val und = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
    val initial = und.select($"src".as("id")).distinct()
      .withColumn("state", $"id")
    val pr = GraphOps.pregel(und, initial, supersteps = 10)(
      sendToDst = (srcState, dstState, _) =>
        when(srcState < dstState, srcState), // otherwise NULL → no message
      combine = min,
      vprog = (state, msg) => least(state, coalesce(msg, state)))
      .as[(Long, Long)].collect().toMap
    val cc = GraphOps.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(pr === cc)
  }

  test("trade-graph edges alternate customer(even) / supplier(odd) ids") {
    val e = GraphQueries.tradeEdges(spark, sf).as[(Long, Long)].collect()
    assert(e.nonEmpty)
    assert(e.forall { case (s2, d2) => s2 % 2 == 0 && d2 % 2 == 1 })
  }

  test("triadic census of an EMPTY graph is exact zeros, not NULLs (review r18)") {
    // the sf0.1 co-purchase graph is empty at the qualifying threshold;
    // the former NULL wedge sum NULL-propagated through every identity
    // and round-tripped the hash gate unseen because the oracle
    // propagated identically — the census now coalesces to an all-zero
    // row and the overflow guard raises rather than wraps
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val row = GraphOps.triadicCensus(empty)
      .as[(Long, Long, Long, Long)].collect()
    assert(row.toSeq == Seq((0L, 0L, 0L, 0L)))
  }

  test("qg14 coupling: kCore fixpoint rounds fit the oracle's unroll depth") {
    // the oracle unrolls a FIXED number of peel blocks; if a fixture
    // ever needs more rounds than that, this must fail loudly here
    // rather than silently diverge at the driver gate (sf0.01 is the
    // driver's verify scale)
    val d = "/root/testdata/sf0.01"
    val (_, rounds) = GraphOps.kCoreWithRounds(
      GraphQueries.partsCoPurchase(spark, d), GraphQueries.KCoreK)
    assert(rounds <= GraphQueries.KCoreUnroll,
      s"oracle unrolls ${GraphQueries.KCoreUnroll} peel blocks but the " +
        s"engine needed $rounds rounds to converge")
  }
}
