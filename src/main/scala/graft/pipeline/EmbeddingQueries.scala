package graft.pipeline

import graft.{Q, QueryModule}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (Array[Float] column):
  * exact squared-norms, brute-force cosine top-k (the correctness baseline),
  * and a random-hyperplane LSH bucketing (the 100 TB scale path — candidates
  * come from a bucket equi-join instead of an all-pairs product).
  *
  * Determinism: float×float products are exact in double; the only
  * nondeterminism in a dot product is summation order, so both sides use a
  * sequential left fold over the array (Spark `aggregate` ≡ DuckDB
  * `list_reduce`) — bit-identical, no shuffle, no decimal detour. Only
  * row-wise aggregation of those doubles (qe4) goes through the DECIMAL(30,8)
  * order-independent accumulator.
  */
object EmbeddingQueries extends QueryModule {

  /** Sequential-fold dot product of two float arrays (exact per-element
    * products, left-to-right summation) — the codegen'd
    * [[graft.functions.FloatDotProduct]] expression, bit-identical to the
    * `aggregate(zip_with(...))` lambda chain it replaces but ~an order of
    * magnitude cheaper per row (primitive loop vs interpreted closures). */
  private[pipeline] def dotExpr(a: String, b: String): String = s"graft_dot($a, $b)"

  private[pipeline] def normExpr(a: String): String = dotExpr(a, a)

  /** DuckDB twin of [[normExpr]]. */
  private val duckNorm =
    "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"

  /** DuckDB twin of [[dotExpr]] — the zero-seeded left fold whose
    * summation order must stay bit-identical to graft_dot's. ONE
    * definition shared by qe12/qe13 so the oracle contract cannot
    * silently diverge between the audits. */
  private def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, len($a)), i ->
       |  CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |  (x, y) -> x + y)""".stripMargin

  /** Squared Euclidean distance as one canonical expression — ONE
    * definition for the IVF family (review r18: three hand-copies had
    * grown — two here, one in SimilarityOps with a different term
    * order; float addition is not associative, so divergent orders can
    * flip near-tie probe rankings between the paths). */
  private[pipeline] def d2Expr(a: String, b: String): String =
    s"(graft_dot($a, $a) - 2.0D * graft_dot($a, $b) + graft_dot($b, $b))"

  /** The floor-scaled exact cosine used by every re-rank leg. */
  private val cosine6 =
    floor(expr("graft_dot(qvec, embedding)")
      / sqrt(expr("graft_dot(qvec, qvec)")
        * expr("graft_dot(embedding, embedding)")) * 1000000.0)
      .cast("long")

  /** The semantic-dup screening threshold shared by qe17 (the verdict)
    * and qe18 (the truth leg), interpolated into BOTH engines' texts —
    * one definition so the read path and its own eval cannot drift
    * apart. The qe11 screen point (cosine ≥ 0.4): the fixture's
    * embeddings are near-random (max cross-slice cosine ~0.53 at
    * sf0.1), so the qe5 dedup point (0.8) would never exercise a dup
    * branch on this data. */
  private val SemDupC6 = 400000L

  /** The fixed-pivot incremental-IVF CTE chain (base → piv → ad →
    * cells → probes) shared by qe17/qe18 — ONE definition so the read
    * path and its eval score the SAME candidate universe (the bandsOf
    * house rule, embedding form): ~1/8 md5 increment slice, pivots
    * vec_id < 8, corpus side nearest-1 cell, increment side nprobe=2
    * ranked probes, zero-norm vectors excluded from both. */
  private def duckIncrCells: String = {
    val d2 = (a: String, b: String) =>
      s"(${duckDot(a, a)} - 2.0 * ${duckDot(a, b)} + ${duckDot(b, b)})"
    s"""WITH base AS MATERIALIZED (SELECT vec_id, embedding,
       |    $duckNorm AS nrm,
       |    substr(md5('einc|' || CAST(vec_id AS VARCHAR)), 1, 4)
       |      < '2000' AS is_incr
       |  FROM embeddings),
       |piv AS MATERIALIZED (SELECT vec_id AS pid, embedding AS pvec
       |  FROM embeddings WHERE vec_id < 8),
       |ad AS MATERIALIZED (SELECT b.vec_id, b.embedding, b.nrm,
       |    b.is_incr, p.pid,
       |    row_number() OVER (PARTITION BY b.vec_id
       |      ORDER BY ${d2("b.embedding", "p.pvec")}, p.pid) AS rn
       |  FROM base b CROSS JOIN piv p WHERE b.nrm > 0),
       |cells AS MATERIALIZED (SELECT vec_id AS old_id, embedding AS eb,
       |    nrm AS nb, pid AS cell
       |  FROM ad WHERE NOT is_incr AND rn = 1),
       |probes AS MATERIALIZED (SELECT vec_id AS new_id, embedding AS ea,
       |    nrm AS na, pid AS cell
       |  FROM ad WHERE is_incr AND rn <= 2)""".stripMargin
  }

  /** Engine twin of [[duckIncrCells]]: (base, cells, probes) — base is
    * CACHED (both branches and the callers' verdict/truth legs consume
    * it; the harness's clearCache releases it per query). */
  private def incrCells(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    def d2(a: String, b: String) = d2Expr(a, b)
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr(normExpr("embedding")).as("nrm"),
        (SamplingOps.hashBucket(col("vec_id"), "einc|") < "2000")
          .as("is_incr"))
      .cache()
    val piv = t(s, d, "embeddings").where(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    // corpus side: nearest-1 cell via partial-agg min-struct (the
    // qe8 shape — map-side combined, no corpus-wide window)
    val cells = base.where(!col("is_incr") && col("nrm") > 0)
      .crossJoin(broadcast(piv))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("pid"),
        expr(d2("embedding", "pvec")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("pid"))).as("m"),
        first(col("embedding")).as("eb"), first(col("nrm")).as("nb"))
      .select(col("vec_id").as("old_id"), col("eb"), col("nb"),
        col("m.pid").as("cell"))
    // increment side: nprobe=2 ranked probes — the window runs over
    // the INCREMENT slice only, never the corpus
    val probes = base.where(col("is_incr") && col("nrm") > 0)
      .crossJoin(broadcast(piv))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("pid"),
        expr(d2("embedding", "pvec")).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("pid"))))
      .where(col("rn") <= 2)
      .select(col("vec_id").as("new_id"), col("embedding").as("ea"),
        col("nrm").as("na"), col("pid").as("cell"))
    (base, cells, probes)
  }

  /** The IVF assignment + ranked probe list shared by EVERY IVF
    * consumer — qe7 (unfiltered probe search), qe14 (label-post-
    * filtered search), and qe16 (the nprobe curve): fixed pivots
    * (vec_id < 8) broadcast, nearest cell via partial-agg min-struct,
    * probes RANKED per query (not yet cut). ONE definition so a
    * pivot-count or distance change can never desynchronize the
    * audits' candidate universes. Returns (cells = (vec_id, cell),
    * probeRanked = (qid, pid, pr), qs = (qid, qvec)). */
  private def ivfRanked(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    def d2(a: String, b: String) = d2Expr(a, b)
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val piv = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    // cache the corpus-wide assignment: qe14 consumes it once per label
    // filter and qe16 once per nprobe point — uncached, the full-corpus
    // pivot distance pass re-ran per consumer (scan-audit: embeddings
    // scanned 15× in qe14/qe16; at 100 TB this table is the precomputed
    // IVF artifact, so computing it once per query is the honest mimic)
    val cells = emb.crossJoin(broadcast(piv))
      .select(col("vec_id"), col("pid"),
        expr(d2("embedding", "pvec")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("pid"))).as("m"))
      .select(col("vec_id"), col("m.pid").as("cell"))
      .cache()
    val qs = emb.where(col("vec_id").isin(42, 123, 321))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val probeRanked = qs.crossJoin(broadcast(piv))
      .select(col("qid"), col("pid"),
        expr(d2("qvec", "pvec")).as("d2"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d2"), col("pid"))))
      .select(col("qid"), col("pid"), col("pr"))
    (cells, probeRanked, qs)
  }

  /** [[ivfRanked]] cut at the serving nprobe=2 — the qe7/qe14 stage.
    * Returns (cand = (qid, vec_id), qs = (qid, qvec)). */
  private def ivfCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val (cells, probeRanked, qs) = ivfRanked(s, d)
    val cand = probeRanked.where(col("pr") <= 2)
      .join(cells, col("cell") === col("pid"))
      .select(col("qid"), col("vec_id"))
    (cand, qs)
  }

  /** The qe7 IVF probe search as a reusable pipeline stage (qe9 evaluates
    * its recall against the exact scan): [[ivfCandidates]] + exact cosine
    * re-rank of probed candidates, top-5 per query. */
  private def ivfProbeTop5(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val (cand, qs) = ivfCandidates(s, d)
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    cand.join(broadcast(qs), "qid").join(emb, "vec_id")
      .where(col("vec_id") =!= col("qid")
        && expr("graft_dot(embedding, embedding)") > 0)
      .select(col("qid"), col("vec_id"), cosine6.as("c6"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c6").desc, col("vec_id"))))
      .where(col("rk") <= 5)
      .select(col("qid"), col("rk").cast("long").as("rk"),
        col("vec_id"), col("c6"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Exact cosine top-5 for the same fixed query set — the ground truth
    * qe9 scores against (the qe2 broadcast shape: tiny query side
    * broadcast, corpus streams, no corpus shuffle). */
  private def exactTop5(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val qs = emb.where(col("vec_id").isin(42, 123, 321))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    emb.crossJoin(broadcast(qs))
      .where(col("vec_id") =!= col("qid")
        && expr("graft_dot(embedding, embedding)") > 0)
      .select(col("qid"), col("vec_id"),
        floor(expr("graft_dot(qvec, embedding)")
          / sqrt(expr("graft_dot(qvec, qvec)")
            * expr("graft_dot(embedding, embedding)"))
          * 1000000.0).cast("long").as("c6"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c6").desc, col("vec_id"))))
      .where(col("rk") <= 5)
      .select(col("qid"), col("vec_id"))
  }

  def all: Seq[Q] = Seq(

    // Per-vector squared L2 norm — array-native, shuffle-free.
    q("qe1_embed_norm",
      s"""SELECT vec_id, $duckNorm AS sq_norm
         |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      t(s, d, "embeddings")
        .select(col("vec_id"), expr(normExpr("embedding")).as("sq_norm"))
        .orderBy(col("vec_id"))
    },

    // Brute-force cosine top-3 for the first 20 query vectors. The tiny
    // query side is broadcast; the big side streams — no shuffle of the
    // corpus. This is the exactness baseline for the LSH variant below.
    q("qe2_knn_brute",
      s"""WITH norms AS (SELECT vec_id, $duckNorm AS nrm FROM embeddings),
         |qv AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT qv.qid, n.vec_id AS nid, qv.qe, n.embedding AS ne
         |  FROM qv JOIN embeddings n ON n.vec_id <> qv.qid),
         |dots AS (SELECT qid, nid,
         |    list_reduce(list_transform(generate_series(1, len(qe)),
         |      i -> CAST(qe[i] AS DOUBLE) * CAST(ne[i] AS DOUBLE)), (a, b) -> a + b) AS dot
         |  FROM p),
         |cosx AS (SELECT d.qid, d.nid, d.dot / sqrt(nq.nrm * nn.nrm) AS cosine
         |  FROM dots d JOIN norms nq ON nq.vec_id = d.qid
         |              JOIN norms nn ON nn.vec_id = d.nid
         |  WHERE nq.nrm > 0 AND nn.nrm > 0),
         |r AS (SELECT qid, nid, cosine, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, nid) AS BIGINT) AS rnk FROM cosx)
         |SELECT qid, nid, cosine, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
      // cached: both join sides (query + corpus) consume the norms
      val norms = e.select(col("vec_id"), expr(normExpr("embedding")).as("nrm"))
        .cache()
      val qv = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .join(norms.withColumnRenamed("vec_id", "qid")
          .withColumnRenamed("nrm", "qnrm"), "qid")
      val nv = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        .join(norms.withColumnRenamed("vec_id", "nid")
          .withColumnRenamed("nrm", "nnrm"), "nid")
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("nid"))
      nv.join(broadcast(qv), col("nid") =!= col("qid"))
        .where(col("qnrm") > 0 && col("nnrm") > 0)
        .withColumn("cosine",
          expr(dotExpr("qe", "ne")) / sqrt(col("qnrm") * col("nnrm")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("cosine"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    },

    // Scale path: random-hyperplane LSH — 16-bit sign bucket per vector,
    // composed from two 8-bit bands of the one-pass codegen'd
    // HyperplaneBands expression (replacing 16 interpreted lambda dot
    // products per row). At 100 TB the bucket column becomes the
    // join/cluster key and the all-pairs product above is replaced by a
    // per-bucket (or multi-probe) equi-join. Oracle: the 16 plane
    // constants the bucket uses are rendered into the SQL as double
    // literals (Double.toString is shortest-round-trip, so DuckDB parses
    // back the identical bits); the dot product is the same sequential
    // left fold both sides, so the sign — and hence every bucket bit —
    // is deterministic. Bit i of the bucket is plane i's sign
    // (band0 | band1 << 8 ≡ 1 << pidx for pidx in 0..15).
    q("qe3_lsh_buckets", {
      val planeRows = (0 until 16).map { p =>
        graft.functions.HyperplaneBands.planes(p)
          .mkString(s"($p, [", ", ", "])")
      }.mkString(",\n  ")
      s"""WITH planes (pidx, p) AS (VALUES
        |  $planeRows),
        |dots AS (SELECT e.vec_id, e.label, pl.pidx,
        |    list_reduce(list_transform(generate_series(1, len(e.embedding)),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * pl.p[i]), (x, y) -> x + y) AS acc
        |  FROM embeddings e, planes pl)
        |SELECT vec_id, label,
        |  CAST(coalesce(sum(CASE WHEN acc > 0 THEN CAST(1 AS BIGINT) << CAST(pidx AS INTEGER)
        |    ELSE 0 END), 0) AS BIGINT) AS bucket
        |FROM dots GROUP BY vec_id, label ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      t(s, d, "embeddings")
        .withColumn("hb", expr("graft_hyperplane_bands(embedding)"))
        .select(col("vec_id"), col("label"),
          (col("hb").getItem(0)
            + shiftleft(col("hb").getItem(1), 8)).as("bucket"))
        .orderBy(col("vec_id"))
    },

    // Embedding-cosine near-duplicate pairs (the fourth dedup method of
    // the pipeline mandate), in the scale-correct shape: hyperplane-LSH
    // band buckets propose candidates (8 bands × 8 sign bits, one-pass
    // native HyperplaneBands expression), exact cosine verifies — the
    // qp4/qp5 candidates→verify pattern applied to embeddings. No
    // unconditioned self cross join anywhere: the only self-join is the
    // (band, key) equi-join, whose expected bucket size is ~n/256 for
    // near-orthogonal vectors while true near-dups (cosine ≥0.9) collide
    // with probability ≥0.94 (recall math on HyperplaneBands; the planted
    // near-dup recall spec in EmbeddingSpec holds the claim). The oracle
    // stays the exhaustive formulation — at oracle SFs the max pairwise
    // cosine is ~0.6, so both plans produce the identical (empty ≥0.8)
    // answer; the recall spec covers the regime where they could differ.
    q("qe5_cosine_dedup",
      s"""WITH norms AS (SELECT vec_id, embedding, $duckNorm AS nrm FROM embeddings),
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_reduce(list_transform(generate_series(1, len(a.embedding)),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
         |      (x, y) -> x + y) / sqrt(a.nrm * b.nrm) AS cosine
         |  FROM norms a JOIN norms b ON a.vec_id < b.vec_id
         |  WHERE a.nrm > 0 AND b.nrm > 0)
         |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.8
         |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr(normExpr("embedding")).as("nrm"))
        .where(col("nrm") > 0)
        .cache() // reused by the band scan and both verify sides
      val banded = e.select(col("vec_id"),
        posexplode(expr("graft_hyperplane_bands(embedding)"))
          .as(Seq("band", "bkey")))
      DedupQueries.bucketPairs(banded, "vec_id", Seq("band", "bkey"),
          ("id_a", "id_b"))
        .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("nrm").as("na")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("nrm").as("nb")), "id_b")
        .select(col("id_a"), col("id_b"),
          (expr(dotExpr("ea", "eb")) / sqrt(col("na") * col("nb"))).as("cosine"))
        .where(col("cosine") >= 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Per-label aggregate of squared norms: fold-exact per row, then an
    // order-independent DECIMAL(30,8) row aggregation.
    q("qe4_label_stats",
      s"""SELECT label, COUNT(*) AS n,
         |  CAST(SUM(CAST($duckNorm AS DECIMAL(30,8))) AS DOUBLE) AS sum_sq_norm
         |FROM embeddings GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(expr(normExpr("embedding")).cast(graft.Det.DEC))
            .cast("double").as("sum_sq_norm"))
        .orderBy(col("label"))
    },

    // IVF-style ANN probe search, fully ORACLED (qe3's spec-only IVF has
    // randomized k-means centroids; here the coarse quantizer uses FIXED
    // pivot vectors — vec_id < 8 — so every step is deterministic and
    // DuckDB replicates it bit-exactly). Assignment: each vector joins
    // the BROADCAST pivot set and keeps its nearest cell via a
    // partial-aggregated min(struct(d2, pid)) — no window over the
    // corpus, ties to the lowest pivot. Search: each query probes its 2
    // nearest cells, exact cosine re-ranks ONLY the probed candidates
    // (the IVF recall/cost trade at 100 TB: nprobe/k cells of the corpus
    // scored instead of all of it). d2 composes from the same
    // sequential-fold dot products both engines share (na - 2·dot + nb,
    // fixed order); cosines floor-scale to micro-units for ranking and
    // output, so comparisons never sit on a representation edge.
    q("qe7_ivf_probe", {
      val dot = (a: String, b: String) =>
        s"""list_reduce(list_transform(generate_series(1, len($a)), i ->
           |  CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
           |  (x, y) -> x + y)""".stripMargin
      val d2 = (a: String, b: String) =>
        s"(${dot(a, a)} - 2.0 * ${dot(a, b)} + ${dot(b, b)})"
      s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 8),
         |ad AS (SELECT e.vec_id, p.pid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e.embedding", "p.pvec")}, p.pid) AS rn
         |  FROM embeddings e CROSS JOIN piv p),
         |cells AS (SELECT vec_id, pid AS cell FROM ad WHERE rn = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qvec
         |  FROM embeddings WHERE vec_id IN (42, 123, 321)),
         |qd AS (SELECT q.qid, p.pid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${d2("q.qvec", "p.pvec")}, p.pid) AS pr
         |  FROM qs q CROSS JOIN piv p),
         |probe AS (SELECT qid, pid FROM qd WHERE pr <= 2),
         |cand AS (SELECT pr.qid, c.vec_id
         |  FROM probe pr JOIN cells c ON c.cell = pr.pid),
         |scored AS (SELECT cand.qid, cand.vec_id,
         |    CAST(floor(${dot("q.qvec", "e.embedding")}
         |      / sqrt(${dot("q.qvec", "q.qvec")}
         |             * ${dot("e.embedding", "e.embedding")})
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM cand JOIN qs q ON q.qid = cand.qid
         |    JOIN embeddings e ON e.vec_id = cand.vec_id
         |  WHERE cand.vec_id <> cand.qid
         |    AND ${dot("e.embedding", "e.embedding")} > 0),
         |r AS (SELECT qid, vec_id, c6,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, c6
         |FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    }) { (s, d) => ivfProbeTop5(s, d) },

    // Per-label centroid (the k-means M-step / class-prototype primitive):
    // mean of each embedding dimension per label. Scale shape: posexplode
    // fans each vector to (label, dim) rows, ONE partial-aggregated
    // groupBy computes all label×dim means — map-side combine reduces
    // each partition to ≤ labels×dims rows before the shuffle, so 100 TB
    // of vectors move only sketch-sized partials. Bit-exactness: floats
    // sum in fixed-point (floor(v·1e6) as BIGINT — float→double is exact,
    // double·1e6 and floor are single IEEE ops identical in both
    // engines), sidestepping order-dependent float addition; the mean
    // divides once at the end in a fixed expression order.
    q("qe6_label_centroids",
      """SELECT label, CAST(idx AS BIGINT) AS dim,
        |  (CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
        |      AS DOUBLE) / 1000000.0) / COUNT(*) AS mean_v
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS idx
        |      FROM embeddings)
        |GROUP BY label, idx ORDER BY label, dim""".stripMargin) { (s, d) =>
      t(s, d, "embeddings")
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
        .agg((sum(floor(col("v").cast("double") * 1000000.0).cast("long"))
          .cast("double") / 1000000.0 / count(lit(1))).as("mean_v"))
        .orderBy(col("label"), col("dim"))
    },

    // SemDeDup-style cluster-then-dedup (Abbas et al. 2023): semantic
    // near-duplicate detection never compares across the whole corpus —
    // vectors are first bucketed into coarse cells (the qe7 fixed-pivot
    // quantizer, so the whole pass is deterministic and oracled), and
    // exact cosine runs only WITHIN each cell. The quadratic is bounded
    // by the cell size (k ≈ √n cells at real scale); the output is the
    // per-cell dedup report: the two most-similar pairs of every cell
    // (what you'd threshold to pick drop candidates). Join shape: cells
    // self-join on the cell id — an equi-join whose buckets are exactly
    // the clusters, never a corpus cross join.
    q("qe8_semdedup_cells", {
      val dot = (a: String, b: String) =>
        s"""list_reduce(list_transform(generate_series(1, len($a)), i ->
           |  CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
           |  (x, y) -> x + y)""".stripMargin
      val d2 = (a: String, b: String) =>
        s"(${dot(a, a)} - 2.0 * ${dot(a, b)} + ${dot(b, b)})"
      s"""WITH piv AS MATERIALIZED (SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 16),
         |ad AS MATERIALIZED (SELECT e.vec_id, e.embedding,
         |    ${dot("e.embedding", "e.embedding")} AS nrm, p.pid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e.embedding", "p.pvec")}, p.pid) AS rn
         |  FROM embeddings e CROSS JOIN piv p),
         |cells AS MATERIALIZED (SELECT vec_id, embedding, nrm, pid AS cell
         |  FROM ad WHERE rn = 1 AND nrm > 0),
         |pr AS MATERIALIZED (SELECT x.cell, x.vec_id AS a_id,
         |    y.vec_id AS b_id,
         |    CAST(floor(${dot("x.embedding", "y.embedding")}
         |      / sqrt(x.nrm * y.nrm) * 1000000.0) AS BIGINT) AS c6
         |  FROM cells x JOIN cells y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |r AS (SELECT cell, a_id, b_id, c6,
         |    row_number() OVER (PARTITION BY cell
         |      ORDER BY c6 DESC, a_id, b_id) AS rk
         |  FROM pr)
         |SELECT cell, CAST(rk AS BIGINT) AS rk, a_id, b_id, c6
         |FROM r WHERE rk <= 2 ORDER BY cell, rk""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      def d2(a: String, b: String) = d2Expr(a, b)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val piv = emb.where(col("vec_id") < 16)
        .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
      val cells = emb.crossJoin(broadcast(piv))
        .select(col("vec_id"), col("embedding"), col("pid"),
          expr(d2("embedding", "pvec")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("pid"))).as("m"),
          first(col("embedding")).as("embedding"))
        .select(col("vec_id"), col("embedding"),
          expr("graft_dot(embedding, embedding)").as("nrm"),
          col("m.pid").as("cell"))
        .where(col("nrm") > 0)
      val x = cells.select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val y = cells.select(col("cell").as("cell_y"),
        col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("nb"))
      x.join(y, col("cell") === col("cell_y") && col("a_id") < col("b_id"))
        .select(col("cell"), col("a_id"), col("b_id"),
          floor(expr("graft_dot(ea, eb)") / sqrt(col("na") * col("nb"))
            * 1000000.0).cast("long").as("c6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cell"))
            .orderBy(col("c6").desc, col("a_id"), col("b_id"))))
        .where(col("rk") <= 2)
        .select(col("cell"), col("rk").cast("long").as("rk"),
          col("a_id"), col("b_id"), col("c6"))
        .orderBy(col("cell"), col("rk"))
    },

    // Sample-diversity audit via the GRAM IDENTITY: the mean pairwise
    // dot product of a vector set needs NO pair join at any scale —
    // Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖², so one partial-aggregated pass
    // computing per-dimension sums + per-vector norm sums answers what
    // a naive audit would compute with n² comparisons. (High mean dot ⇒
    // a redundant/clustered selection; the check you run on a mixing
    // output like qp21's.) Components floor-scale to 1e4 fixed-point so
    // every sum is an exact integer — order-independent, bit-exact, and
    // overflow-safe at these magnitudes.
    q("qe10_sample_diversity",
      """WITH iv AS (SELECT label, g.i AS dim,
        |    CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000.0)
        |      AS BIGINT) AS x
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding)))
        |    AS g(i)),
        |dims AS (SELECT label, dim, CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(x * x) AS BIGINT) AS q
        |  FROM iv GROUP BY label, dim),
        |agg AS (SELECT label, CAST(SUM(s * s) AS BIGINT) AS normsq,
        |    CAST(SUM(q) AS BIGINT) AS sumsq
        |  FROM dims GROUP BY label),
        |n AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS nv
        |  FROM embeddings GROUP BY label)
        |SELECT a.label, n.nv,
        |  (a.normsq - a.sumsq) AS pair_dot_sum,
        |  (a.normsq - a.sumsq) // (n.nv * (n.nv - 1)) AS mean_pair_dot
        |FROM agg a JOIN n ON n.label = a.label
        |ORDER BY a.label""".stripMargin) { (s, d) =>
      val iv = t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          floor(col("v").cast("double") * 10000.0).cast("long").as("x"))
      val dims = iv.groupBy("label", "dim")
        .agg(sum("x").as("s"), sum(expr("x * x")).as("q"))
      val agg = dims.groupBy("label")
        .agg(sum(expr("s * s")).cast("long").as("normsq"),
          sum("q").cast("long").as("sumsq"))
      val n = t(s, d, "embeddings").groupBy("label")
        .agg(count(lit(1)).as("nv"))
      agg.join(n, Seq("label"))
        .select(col("label"), col("nv"),
          (col("normsq") - col("sumsq")).as("pair_dot_sum"),
          expr("(normsq - sumsq) div (nv * (nv - 1))")
            .as("mean_pair_dot"))
        .orderBy("label")
    },

    // ANN recall evaluation — the operator that closes the IVF loop:
    // score qe7's probed top-5 against the exact top-5 (recall@5 per
    // query). Running the evaluation IN the engine matters at scale:
    // ground truth is a full scan you run once over a sampled query
    // set, and the recall number is what justifies the nprobe/k cell
    // trade. All-integer output (hit counts, recall in percent).
    q("qe9_ann_recall", {
      val dot = (a: String, b: String) =>
        s"""list_reduce(list_transform(generate_series(1, len($a)), i ->
           |  CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
           |  (x, y) -> x + y)""".stripMargin
      val d2 = (a: String, b: String) =>
        s"(${dot(a, a)} - 2.0 * ${dot(a, b)} + ${dot(b, b)})"
      s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 8),
         |ad AS (SELECT e.vec_id, p.pid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e.embedding", "p.pvec")}, p.pid) AS rn
         |  FROM embeddings e CROSS JOIN piv p),
         |cells AS (SELECT vec_id, pid AS cell FROM ad WHERE rn = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qvec
         |  FROM embeddings WHERE vec_id IN (42, 123, 321)),
         |qd AS (SELECT q.qid, p.pid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${d2("q.qvec", "p.pvec")}, p.pid) AS pr
         |  FROM qs q CROSS JOIN piv p),
         |probe AS (SELECT qid, pid FROM qd WHERE pr <= 2),
         |cand AS (SELECT pr.qid, c.vec_id
         |  FROM probe pr JOIN cells c ON c.cell = pr.pid),
         |scored AS (SELECT cand.qid, cand.vec_id,
         |    CAST(floor(${dot("q.qvec", "e.embedding")}
         |      / sqrt(${dot("q.qvec", "q.qvec")}
         |             * ${dot("e.embedding", "e.embedding")})
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM cand JOIN qs q ON q.qid = cand.qid
         |    JOIN embeddings e ON e.vec_id = cand.vec_id
         |  WHERE cand.vec_id <> cand.qid
         |    AND ${dot("e.embedding", "e.embedding")} > 0),
         |appr AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk FROM scored) z
         |  WHERE rk <= 5),
         |es AS (SELECT q.qid, e.vec_id,
         |    CAST(floor(${dot("q.qvec", "e.embedding")}
         |      / sqrt(${dot("q.qvec", "q.qvec")}
         |             * ${dot("e.embedding", "e.embedding")})
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM embeddings e CROSS JOIN qs q
         |  WHERE e.vec_id <> q.qid
         |    AND ${dot("e.embedding", "e.embedding")} > 0),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk FROM es) z
         |  WHERE rk <= 5),
         |h AS (SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ex JOIN appr ON appr.qid = ex.qid
         |    AND appr.vec_id = ex.vec_id
         |  GROUP BY ex.qid)
         |SELECT q.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM qs q LEFT JOIN h ON h.qid = q.qid
         |ORDER BY q.qid""".stripMargin
    }) { (s, d) =>
      val appr = ivfProbeTop5(s, d).select(col("qid"), col("vec_id"))
      val hits = exactTop5(s, d).join(appr, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
      t(s, d, "embeddings").where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid")
    },

    // INT8 QUANTIZED RETRIEVAL RECALL (round 15) — the embedding-
    // compression audit: symmetric tensor-wise int8 quantization
    // (q = floor(x * 127/absmax), the standard public recipe) shrinks
    // a 100 TB float corpus 4x and makes the dot product an INTEGER
    // sum (SIMD-friendly, exactly reproducible — no float accumulation
    // at query time); this query measures what that costs, as top-5
    // recall of the quantized-dot ranking against the exact float-dot
    // ranking per probe. Determinism: absmax is an exact float max,
    // the quantized values are floors of identically-ordered double
    // products, quantized dots are exact BIGINT sums, and the exact
    // side is the sequential double fold (graft_dot) floored at 1e-6 —
    // every compared value is bit-identical cross-engine. Scale shape:
    // the scale scalar and probe vectors broadcast; the scored scan is
    // the brute-force leg (the qe2 posture — the banded/IVF variants
    // qe3/qe7 are the candidate-generation path at scale).
    q("qe12_int8_recall", {
      val qdot = (a: String, b: String) =>
        s"""list_reduce(list_transform(generate_series(1, len($a)), i ->
           |  $a[i] * $b[i]), (x, y) -> x + y)""".stripMargin
      val fdot = duckDot _
      s"""WITH sc AS (SELECT MAX(list_max(list_transform(embedding,
         |    x -> abs(x)))) AS scale FROM embeddings),
         |qv AS (SELECT vec_id, list_transform(embedding, x ->
         |    CAST(floor(CAST(x AS DOUBLE)
         |      * (127.0 / CAST(scale AS DOUBLE))) AS BIGINT)) AS qvec
         |  FROM embeddings, sc),
         |qs AS (SELECT vec_id AS qid, qvec AS qq FROM qv
         |  WHERE vec_id IN (42, 123, 321)),
         |qd AS (SELECT q.qid, v.vec_id, ${qdot("q.qq", "v.qvec")} AS qdot
         |  FROM qv v CROSS JOIN qs q WHERE v.vec_id <> q.qid),
         |qtop AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY qdot DESC, vec_id) AS rk FROM qd) z
         |  WHERE rk <= 5),
         |rq AS (SELECT vec_id AS qid, embedding AS rqv FROM embeddings
         |  WHERE vec_id IN (42, 123, 321)),
         |ed AS (SELECT q.qid, e.vec_id,
         |    CAST(floor(${fdot("q.rqv", "e.embedding")}
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM embeddings e CROSS JOIN rq q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk FROM ed) z
         |  WHERE rk <= 5),
         |h AS (SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ex JOIN qtop ON qtop.qid = ex.qid
         |    AND qtop.vec_id = ex.vec_id
         |  GROUP BY ex.qid)
         |SELECT r.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM rq r LEFT JOIN h ON h.qid = r.qid
         |ORDER BY r.qid""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val sc = emb.agg(
        max(expr("array_max(transform(embedding, x -> abs(x)))"))
          .as("scale"))
      // cache the quantized corpus table: the probe slice and the
      // quantized ranking scan both read it — uncached, the corpus
      // quantization (and the scale-scalar pass under it) re-ran per
      // consumer (scan-audit; optimization r18). At 100 TB this table
      // IS the int8 artifact a pipeline persists once.
      val qv = emb.crossJoin(broadcast(sc)).select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * " +
          "(CAST(127.0 AS DOUBLE) / CAST(scale AS DOUBLE))) AS BIGINT))")
        .as("qvec"))
        .cache()
      val qs = qv.where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"), col("qvec").as("qq"))
      val qtop = qv.crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("qid"))
        // codegen'd integer dot (ExpressionsSpec pins the equivalence
        // to the aggregate(zip_with(...)) fold this replaced — the
        // lesson class's last query instance)
        .select(col("qid"), col("vec_id"),
          expr("graft_dot_int(qq, qvec)").as("qdot"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("qdot").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val rq = emb.where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"), col("embedding").as("rqv"))
      val ex = emb.crossJoin(broadcast(rq))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          floor(expr("graft_dot(rqv, embedding)") * 1000000.0)
            .cast("long").as("c6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val hits = ex.join(qtop, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
      rq.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid")
    },

    // TRUNCATED-DIMENSION (Matryoshka) retrieval audit (round 15) — the
    // dimension-budget twin of qe12's quantization audit: MRL-style
    // embeddings let a pipeline retrieve with only the FIRST k dims
    // (k·4 bytes instead of 256, proportionally cheaper dots); this
    // query measures the cost as top-5 recall of the k-dim ranking
    // against the full 64-dim exact ranking, per probe and per k ∈
    // {16, 32} — the recall-vs-dims curve that picks the serving
    // truncation. Determinism: BOTH legs are the sequential double
    // fold (graft_dot = DuckDB list_reduce order) over float slices,
    // floored at 1e-6; ranking ties break on vec_id. Scale shape: the
    // probe slices broadcast (same brute-force audit posture as
    // qe12/qe9 — run over a sampled probe set at 100 TB; qe3/qe7 are
    // the serving path).
    q("qe13_mrl_recall", {
      val fdot = duckDot _
      s"""WITH ks AS (SELECT unnest([16, 32]) AS k),
         |rq AS (SELECT vec_id AS qid, embedding AS rqv FROM embeddings
         |  WHERE vec_id IN (42, 123, 321)),
         |tq AS (SELECT qid, k, list_slice(rqv, 1, k) AS qs
         |  FROM rq CROSS JOIN ks),
         |td AS (SELECT t.qid, t.k, e.vec_id,
         |    CAST(floor(${fdot("t.qs", "list_slice(e.embedding, 1, t.k)")}
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM embeddings e CROSS JOIN tq t WHERE e.vec_id <> t.qid),
         |ttop AS (SELECT qid, k, vec_id FROM (
         |    SELECT qid, k, vec_id, row_number() OVER (PARTITION BY qid, k
         |      ORDER BY c6 DESC, vec_id) AS rk FROM td) z
         |  WHERE rk <= 5),
         |ed AS (SELECT q.qid, e.vec_id,
         |    CAST(floor(${fdot("q.rqv", "e.embedding")}
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM embeddings e CROSS JOIN rq q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk FROM ed) z
         |  WHERE rk <= 5),
         |h AS (SELECT t.qid, t.k, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ttop t JOIN ex ON ex.qid = t.qid AND ex.vec_id = t.vec_id
         |  GROUP BY t.qid, t.k)
         |SELECT q.qid, CAST(q.k AS BIGINT) AS k_dims,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM tq q LEFT JOIN h ON h.qid = q.qid AND h.k = q.k
         |ORDER BY q.qid, k_dims""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val ks = s.range(1).selectExpr("explode(array(16, 32)) AS k")
      val rq = emb.where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"), col("embedding").as("rqv"))
      val tq = rq.crossJoin(ks)
        .select(col("qid"), col("k"), expr("slice(rqv, 1, k)").as("qs"))
      val ttop = emb.crossJoin(broadcast(tq))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("k"), col("vec_id"),
          floor(expr("graft_dot(qs, slice(embedding, 1, k))") * 1000000.0)
            .cast("long").as("c6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"), col("k"))
            .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("k"), col("vec_id"))
      val ex = emb.crossJoin(broadcast(rq))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          floor(expr("graft_dot(rqv, embedding)") * 1000000.0)
            .cast("long").as("c6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val hits = ttop.join(ex, Seq("qid", "vec_id"))
        .groupBy("qid", "k").agg(count(lit(1)).as("n"))
      tq.select(col("qid"), col("k")).join(hits, Seq("qid", "k"), "left")
        .select(col("qid"), col("k").cast("long").as("k_dims"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid", "k_dims")
    },

    // FILTERED ANN audit (round 15) — metadata-filtered vector search,
    // the retrieval shape every production vector store serves ("top-k
    // WHERE label = X"): the cheap strategy POST-FILTERS the IVF probe
    // candidates (reusing qe7's pivots/cells/nprobe=2), which loses
    // recall two ways — probed cells may hold few label-matching rows,
    // and the filter shrinks an already-approximate candidate set.
    // This query measures exactly that, as top-5 recall of the
    // post-filtered IVF ranking against the PRE-FILTERED exact scan
    // (restrict corpus to the label, then brute cosine — correct by
    // construction). Scale shape: pivots and probes broadcast, the
    // label filter is a map-side predicate on the candidate join, the
    // exact leg is the qe2 broadcast audit posture (sampled probes at
    // 100 TB). Determinism: the qe7 floor-scaled cosine + vec_id ties.
    q("qe14_filtered_ann", {
      val d2 = (a: String, b: String) =>
        s"(${duckDot(a, a)} - 2.0 * ${duckDot(a, b)} + ${duckDot(b, b)})"
      s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 8),
         |ad AS (SELECT e.vec_id, p.pid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e.embedding", "p.pvec")}, p.pid) AS rn
         |  FROM embeddings e CROSS JOIN piv p),
         |cells AS (SELECT vec_id, pid AS cell FROM ad WHERE rn = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qvec
         |  FROM embeddings WHERE vec_id IN (42, 123, 321)),
         |qd AS (SELECT q.qid, p.pid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${d2("q.qvec", "p.pvec")}, p.pid) AS pr
         |  FROM qs q CROSS JOIN piv p),
         |probe AS (SELECT qid, pid FROM qd WHERE pr <= 2),
         |cand AS (SELECT pr.qid, c.vec_id
         |  FROM probe pr JOIN cells c ON c.cell = pr.pid),
         |post AS (SELECT qid, vec_id FROM (
         |    SELECT sc.qid, sc.vec_id, row_number() OVER (
         |      PARTITION BY sc.qid ORDER BY sc.c6 DESC, sc.vec_id) AS rk
         |    FROM (SELECT cand.qid, cand.vec_id,
         |        CAST(floor(${duckDot("q.qvec", "e.embedding")}
         |          / sqrt(${duckDot("q.qvec", "q.qvec")}
         |                 * ${duckDot("e.embedding", "e.embedding")})
         |          * 1000000.0) AS BIGINT) AS c6
         |      FROM cand JOIN qs q ON q.qid = cand.qid
         |        JOIN embeddings e ON e.vec_id = cand.vec_id
         |      WHERE cand.vec_id <> cand.qid AND e.label = 3
         |        AND ${duckDot("e.embedding", "e.embedding")} > 0) sc) z
         |  WHERE rk <= 5),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (
         |      PARTITION BY q.qid ORDER BY
         |        CAST(floor(${duckDot("q.qvec", "e.embedding")}
         |          / sqrt(${duckDot("q.qvec", "q.qvec")}
         |                 * ${duckDot("e.embedding", "e.embedding")})
         |          * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rk
         |    FROM embeddings e CROSS JOIN qs q
         |    WHERE e.vec_id <> q.qid AND e.label = 3
         |      AND ${duckDot("e.embedding", "e.embedding")} > 0) z
         |  WHERE rk <= 5),
         |np AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_post
         |  FROM post GROUP BY qid),
         |h AS (SELECT p.qid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM post p JOIN ex ON ex.qid = p.qid AND ex.vec_id = p.vec_id
         |  GROUP BY p.qid)
         |SELECT q.qid, CAST(COALESCE(np.n_post, 0) AS BIGINT) AS n_post,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM qs q LEFT JOIN np ON np.qid = q.qid
         |  LEFT JOIN h ON h.qid = q.qid
         |ORDER BY q.qid""".stripMargin
    }) { (s, d) =>
      val (cand, qs) = ivfCandidates(s, d)
      val embL = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"))
      val post = cand.join(broadcast(qs), "qid").join(embL, "vec_id")
        .where(col("vec_id") =!= col("qid") && col("label") === 3
          && expr("graft_dot(embedding, embedding)") > 0)
        .select(col("qid"), col("vec_id"), cosine6.as("c6"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val ex = embL.where(col("label") === 3).crossJoin(broadcast(qs))
        .where(col("vec_id") =!= col("qid")
          && expr("graft_dot(embedding, embedding)") > 0)
        .select(col("qid"), col("vec_id"), cosine6.as("c6"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val np = post.groupBy("qid").agg(count(lit(1)).as("n_post"))
      val hits = post.join(ex, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
      qs.select(col("qid")).join(np, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_post"), lit(0L)).cast("long").as("n_post"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid")
    },

    // BINARY-QUANTIZATION retrieval audit (round 16) — the 1-bit
    // extreme of qe12's int8 audit: sign-bit quantization packs a
    // 64-dim float vector into TWO 32-bit words (32x smaller than
    // float32, 4x smaller than int8) and similarity becomes hamming
    // distance — bit_count(xor) over machine words, the cheapest
    // candidate scorer there is (the public RaBitQ/BQ serving recipe:
    // binary first pass, exact re-rank). This query measures what the
    // 1-bit pass alone costs, as top-5 recall of the hamming ranking
    // against the exact float-dot ranking per probe. Determinism:
    // every bit is a sign test on the raw float, hamming is exact
    // integer popcount, ranking ties break on vec_id; the exact side
    // is qe12's floored sequential fold. Packing uses 32-bit words
    // (not one 64-bit word) so no shift ever touches the sign bit —
    // identical two's-complement traps on both engines are never in
    // play. Scale shape: packing is a map-only column expression, the
    // probe words broadcast, and the scored scan is the brute-force
    // audit leg (the qe12 posture — sampled probes at 100 TB;
    // qe3/qe7 are the serving path).
    q("qe15_binary_recall", {
      val fdot = duckDot _
      def duckPack(lo: Int, hi: Int) =
        s"""list_reduce(list_transform(generate_series($lo, $hi), i ->
           |  CASE WHEN embedding[i] > 0 THEN (1::BIGINT << (i - $lo))
           |    ELSE 0::BIGINT END), (x, y) -> x | y)""".stripMargin
      s"""WITH bp AS (SELECT vec_id,
         |    ${duckPack(1, 32)} AS w1,
         |    ${duckPack(33, 64)} AS w2
         |  FROM embeddings),
         |qb AS (SELECT vec_id AS qid, w1 AS pw1, w2 AS pw2 FROM bp
         |  WHERE vec_id IN (42, 123, 321)),
         |hd AS (SELECT q.qid, b.vec_id,
         |    bit_count(xor(b.w1, q.pw1)) + bit_count(xor(b.w2, q.pw2))
         |      AS ham
         |  FROM bp b CROSS JOIN qb q WHERE b.vec_id <> q.qid),
         |btop AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY ham, vec_id) AS rk FROM hd) z
         |  WHERE rk <= 5),
         |rq AS (SELECT vec_id AS qid, embedding AS rqv FROM embeddings
         |  WHERE vec_id IN (42, 123, 321)),
         |ed AS (SELECT q.qid, e.vec_id,
         |    CAST(floor(${fdot("q.rqv", "e.embedding")}
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM embeddings e CROSS JOIN rq q WHERE e.vec_id <> q.qid),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |      ORDER BY c6 DESC, vec_id) AS rk FROM ed) z
         |  WHERE rk <= 5),
         |h AS (SELECT ex.qid, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ex JOIN btop ON btop.qid = ex.qid
         |    AND btop.vec_id = ex.vec_id
         |  GROUP BY ex.qid)
         |SELECT r.qid, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM rq r LEFT JOIN h ON h.qid = r.qid
         |ORDER BY r.qid""".stripMargin
    }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      // codegen'd sign-pack (ExpressionsSpec pins the equivalence to the
      // interpreted aggregate(transform(sequence...)) lambda this replaced
      // — the closure-per-element lesson class, third instance)
      def pack(lo: Int, hi: Int) = s"graft_signpack(embedding, $lo, $hi)"
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val bp = emb.select(col("vec_id"),
        expr(pack(0, 31)).as("w1"), expr(pack(32, 63)).as("w2"))
      val qb = bp.where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"),
          col("w1").as("pw1"), col("w2").as("pw2"))
      val btop = bp.crossJoin(broadcast(qb))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          (bit_count(expr("w1 ^ pw1")) + bit_count(expr("w2 ^ pw2")))
            .as("ham"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("ham"), col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val rq = emb.where(col("vec_id").isin(42, 123, 321))
        .select(col("vec_id").as("qid"), col("embedding").as("rqv"))
      val ex = emb.crossJoin(broadcast(rq))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          floor(expr("graft_dot(rqv, embedding)") * 1000000.0)
            .cast("long").as("c6"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5).select(col("qid"), col("vec_id"))
      val hits = ex.join(btop, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
      rq.select(col("qid")).join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid")
    },

    // IVF NPROBE TUNING CURVE (round 16) — the knob the serving path
    // (qe7) fixes at 2, swept: recall@5 AND candidate count per
    // nprobe ∈ {1, 2, 4}. This is the cost/recall tradeoff an
    // operator reads to pick the serving probe count — n_cand is the
    // vectors actually re-ranked (the query-time cost axis), recall
    // is what it buys; qe13 is the same curve over dimensions, qe16
    // over probes. The candidate universe derives from the SAME
    // ivfRanked stage qe7/qe14 cut at 2 (one definition, the shared-
    // stage house rule), so the curve's nprobe=2 row IS the serving
    // path's recall. Determinism: distances and cosines are the
    // graft_dot sequential fold (floored at 1e-6), ranking ties on
    // vec_id/pid. Scale shape: pivots and probes broadcast; the cell
    // scan is the serving IVF leg (cells prune the corpus), the
    // re-rank is bounded by the probed cells' population.
    q("qe16_nprobe_curve", {
      val d2 = (a: String, b: String) =>
        s"(${duckDot(a, a)} - 2.0 * ${duckDot(a, b)} + ${duckDot(b, b)})"
      s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pvec
         |  FROM embeddings WHERE vec_id < 8),
         |ad AS (SELECT e.vec_id, p.pid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${d2("e.embedding", "p.pvec")}, p.pid) AS rn
         |  FROM embeddings e CROSS JOIN piv p),
         |cells AS (SELECT vec_id, pid AS cell FROM ad WHERE rn = 1),
         |qs AS (SELECT vec_id AS qid, embedding AS qvec
         |  FROM embeddings WHERE vec_id IN (42, 123, 321)),
         |qd AS (SELECT q.qid, p.pid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${d2("q.qvec", "p.pvec")}, p.pid) AS pr
         |  FROM qs q CROSS JOIN piv p),
         |ks AS (SELECT CAST(unnest([1, 2, 4]) AS INT) AS nprobe),
         |probe AS (SELECT qd.qid, ks.nprobe, qd.pid
         |  FROM qd CROSS JOIN ks WHERE qd.pr <= ks.nprobe),
         |sc AS (SELECT pr.qid, pr.nprobe, c.vec_id,
         |    CAST(floor(${duckDot("q.qvec", "e.embedding")}
         |      / sqrt(${duckDot("q.qvec", "q.qvec")}
         |             * ${duckDot("e.embedding", "e.embedding")})
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM probe pr JOIN cells c ON c.cell = pr.pid
         |    JOIN qs q ON q.qid = pr.qid
         |    JOIN embeddings e ON e.vec_id = c.vec_id
         |  WHERE c.vec_id <> pr.qid
         |    AND ${duckDot("e.embedding", "e.embedding")} > 0),
         |nc AS (SELECT qid, nprobe, CAST(COUNT(*) AS BIGINT) AS n_cand
         |  FROM sc GROUP BY qid, nprobe),
         |itop AS (SELECT qid, nprobe, vec_id FROM (
         |    SELECT qid, nprobe, vec_id, row_number() OVER (
         |      PARTITION BY qid, nprobe ORDER BY c6 DESC, vec_id) AS rk
         |    FROM sc) z WHERE rk <= 5),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, e.vec_id, row_number() OVER (
         |      PARTITION BY q.qid ORDER BY
         |        CAST(floor(${duckDot("q.qvec", "e.embedding")}
         |          / sqrt(${duckDot("q.qvec", "q.qvec")}
         |                 * ${duckDot("e.embedding", "e.embedding")})
         |          * 1000000.0) AS BIGINT) DESC, e.vec_id) AS rk
         |    FROM embeddings e CROSS JOIN qs q
         |    WHERE e.vec_id <> q.qid
         |      AND ${duckDot("e.embedding", "e.embedding")} > 0) z
         |  WHERE rk <= 5),
         |h AS (SELECT i.qid, i.nprobe, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM itop i JOIN ex ON ex.qid = i.qid
         |    AND ex.vec_id = i.vec_id
         |  GROUP BY i.qid, i.nprobe)
         |SELECT q.qid, CAST(ks.nprobe AS BIGINT) AS nprobe,
         |  CAST(COALESCE(nc.n_cand, 0) AS BIGINT) AS n_cand,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
         |  CAST(COALESCE(h.n, 0) * 20 AS BIGINT) AS recall_pct
         |FROM qs q CROSS JOIN ks
         |LEFT JOIN nc ON nc.qid = q.qid AND nc.nprobe = ks.nprobe
         |LEFT JOIN h ON h.qid = q.qid AND h.nprobe = ks.nprobe
         |ORDER BY q.qid, nprobe""".stripMargin
    }) { (s, d) =>
      val (cells, probeRanked, qs) = ivfRanked(s, d)
      val ks = s.range(0, 3)
        .select(expr("shiftleft(1, CAST(id AS INT))").as("nprobe"))
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val sc = probeRanked.crossJoin(broadcast(ks))
        .where(col("pr") <= col("nprobe"))
        .join(cells, col("cell") === col("pid"))
        .join(broadcast(qs), "qid")
        .join(emb, "vec_id")
        .where(col("vec_id") =!= col("qid")
          && expr("graft_dot(embedding, embedding)") > 0)
        .select(col("qid"), col("nprobe"), col("vec_id"), cosine6.as("c6"))
      val nc = sc.groupBy("qid", "nprobe").agg(count(lit(1)).as("n_cand"))
      val itop = sc
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("qid"), col("nprobe"))
            .orderBy(col("c6").desc, col("vec_id"))))
        .where(col("rk") <= 5)
        .select(col("qid"), col("nprobe"), col("vec_id"))
      val hits = itop.join(exactTop5(s, d), Seq("qid", "vec_id"))
        .groupBy("qid", "nprobe").agg(count(lit(1)).as("n"))
      qs.select(col("qid")).crossJoin(ks)
        .join(nc, Seq("qid", "nprobe"), "left")
        .join(hits, Seq("qid", "nprobe"), "left")
        .select(col("qid"), col("nprobe").cast("long").as("nprobe"),
          coalesce(col("n_cand"), lit(0L)).cast("long").as("n_cand"),
          coalesce(col("n"), lit(0L)).cast("long").as("n_hits"))
        .withColumn("recall_pct", (col("n_hits") * 20).cast("long"))
        .orderBy("qid", "nprobe")
    },

    // EMBEDDING-BASED DECONTAMINATION (round 10) — the semantic twin of
    // qp9's n-gram membership test: flag a training vector when its max
    // cosine against the (small) benchmark slice clears a threshold —
    // the modern LLM-eval leakage check that catches paraphrases n-gram
    // matching misses. Scale shape: the benchmark set BROADCASTS (like
    // qp9's gram set), the corpus is scanned ONCE map-side with a
    // per-row max over the broadcast rows, then one partial-aggregated
    // groupBy — no corpus-vs-corpus join at any size; at 100 TB the
    // benchmark stays KB-scale and the scan is embarrassingly
    // parallel. Determinism: each pairwise cosine is the sequential
    // double fold (graft_dot = DuckDB list_reduce order), max/compare
    // of exact doubles.
    q("qe11_embed_decontaminate",
      s"""WITH norms AS (SELECT vec_id, embedding, $duckNorm AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id AS b_id, embedding AS eb, nrm AS nb
         |  FROM norms WHERE vec_id % 41 = 0 AND nrm > 0),
         |c AS (SELECT a.vec_id,
         |    MAX(list_reduce(list_transform(generate_series(1, len(a.embedding)),
         |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.eb[i] AS DOUBLE)),
         |      (x, y) -> x + y) / sqrt(a.nrm * b.nb)) AS max_cos
         |  FROM norms a CROSS JOIN b
         |  WHERE a.vec_id % 41 <> 0 AND a.nrm > 0
         |  GROUP BY a.vec_id)
         |SELECT vec_id, max_cos, max_cos >= 0.4 AS contaminated
         |FROM c ORDER BY vec_id""".stripMargin) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          expr(normExpr("embedding")).as("nrm"))
        .where(col("nrm") > 0)
      val bench = e.where(col("vec_id") % 41 === 0)
        .select(col("embedding").as("eb"), col("nrm").as("nb"))
      embedDecontaminate(e.where(col("vec_id") % 41 =!= 0), bench)
        .orderBy("vec_id")
    },

    // INCREMENTAL SEMANTIC DEDUP (round 18) — qp33's daily-increment
    // posture in EMBEDDING space, and the batch plan of
    // SimilarityOps.semanticGate's read path: a deterministic ~1/8
    // hash-slice of vectors plays today's arrivals; each probes its
    // nprobe=2 nearest IVF cells (the qe7 fixed-pivot quantizer, so
    // every step is deterministic and oracled) and screens against
    // CORPUS-side cell members only, flagging exact cosine clearing
    // the shared SemDupC6 threshold — 'dup' with its lowest corpus
    // match and best score, or 'new'. Scale shape: increment and corpus cells
    // are COMPLEMENTARY is_incr filters of ONE cached normed table
    // (never corpus × corpus — a pair meets in at most one cell since
    // a corpus vector lives in exactly one); the corpus assignment is
    // the partial-agg min-struct (map-side combined), the probe
    // ranking a window over the INCREMENT slice only; pivots
    // broadcast. At 100 TB the corpus cell table is the precomputed
    // vector artifact (SimilarityOps.docVectors) the daily run only
    // READS — this query is that read path's plan. Threshold: the
    // qe11 semantic-screen point (cosine >= 0.4) — the fixture's
    // embeddings are near-random (max cross-slice cosine ~0.53 at
    // sf0.1), so the qe5 dedup point (0.8) would never exercise the
    // dup branch; 0.4 yields a real dup population at both scales.
    q("qe17_incremental_semdedup",
      s"""$duckIncrCells,
         |pc AS (SELECT p.new_id, c.old_id,
         |    CAST(floor(${duckDot("p.ea", "c.eb")} / sqrt(p.na * c.nb)
         |      * 1000000.0) AS BIGINT) AS c6
         |  FROM probes p JOIN cells c ON c.cell = p.cell),
         |ver AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dups,
         |    CAST(MIN(old_id) AS BIGINT) AS dup_of, MAX(c6) AS best_c6
         |  FROM pc WHERE c6 >= $SemDupC6 GROUP BY new_id)
         |SELECT b.vec_id, COALESCE(v.n_dups, 0) AS n_dups, v.dup_of,
         |  v.best_c6,
         |  CASE WHEN v.new_id IS NULL THEN 'new' ELSE 'dup' END AS status
         |FROM base b LEFT JOIN ver v ON v.new_id = b.vec_id
         |WHERE b.is_incr ORDER BY b.vec_id""".stripMargin) { (s, d) =>
      val (base, cells, probes) = incrCells(s, d)
      // a (new, old) pair meets in AT MOST one cell (old lives in
      // exactly one), so the join needs no distinct
      val pc = probes.join(cells, "cell")
        .select(col("new_id"), col("old_id"),
          floor(expr(dotExpr("ea", "eb")) / sqrt(col("na") * col("nb"))
            * 1000000.0).cast("long").as("c6"))
      val ver = pc.where(col("c6") >= SemDupC6)
        .groupBy(col("new_id"))
        .agg(count(lit(1)).as("n_dups"), min(col("old_id")).as("dup_of"),
          max(col("c6")).as("best_c6"))
      base.where(col("is_incr")).select(col("vec_id"))
        .join(ver, col("vec_id") === col("new_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          col("dup_of"), col("best_c6"),
          when(col("new_id").isNull, "new").otherwise("dup").as("status"))
        .orderBy("vec_id")
    },

    // SEMANTIC-DEDUP GATE EVALUATION (round 18 continuation) — the
    // semantic family's qp23/qp36: score the IVF bucket-collision
    // candidate universe (qe17's EXACT machinery via the shared
    // incrCells/duckIncrCells definition) against EXHAUSTIVE cosine
    // truth over the same increment-vs-corpus slice, reporting recall
    // and precision at the shared SemDupC6 production point — the
    // numbers that justify a pivot-count/nprobe choice before running
    // at scale. Truth leg is the qe2/qe11 broadcast audit posture: the
    // small increment slice broadcasts, the corpus streams map-side
    // (at 100 TB you run this on a sampled increment — the slice IS
    // the sample here). Unlike qp23/qp36 the two universes are the
    // production read path's own (no separate doc_id audit cap):
    // embeddings stay fixture-sized at every SF, so exhaustive truth
    // is affordable and the eval is exact for qe17's verdicts, not a
    // slice proxy. All-integer counts and permil ratios.
    q("qe18_semdedup_eval",
      s"""$duckIncrCells,
         |cand AS MATERIALIZED (SELECT p.new_id, c.old_id
         |  FROM probes p JOIN cells c ON c.cell = p.cell),
         |truth AS MATERIALIZED (SELECT i.vec_id AS new_id,
         |    o.vec_id AS old_id
         |  FROM base i JOIN base o
         |    ON i.is_incr AND NOT o.is_incr
         |      AND i.nrm > 0 AND o.nrm > 0
         |  WHERE CAST(floor(${duckDot("i.embedding", "o.embedding")}
         |      / sqrt(i.nrm * o.nrm) * 1000000.0) AS BIGINT)
         |    >= $SemDupC6),
         |hit AS (SELECT t.new_id, t.old_id FROM truth t
         |  JOIN cand c ON c.new_id = t.new_id AND c.old_id = t.old_id)
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) * 1000
         |    // greatest((SELECT COUNT(*) FROM truth), 1) AS recall_permil,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) * 1000
         |    // greatest((SELECT COUNT(*) FROM cand), 1) AS precision_permil
         |""".stripMargin) { (s, d) =>
      val (base, cells, probes) = incrCells(s, d)
      // the gate's candidate universe: bucket-collision pairs, unique
      // by construction (a corpus vector lives in exactly one cell) —
      // cached: feeds the hit join AND its own count
      val cand = probes.join(cells, "cell")
        .select(col("new_id"), col("old_id"))
        .cache()
      val inc = base.where(col("is_incr") && col("nrm") > 0)
        .select(col("vec_id").as("new_id"), col("embedding").as("ea"),
          col("nrm").as("na"))
      val corp = base.where(!col("is_incr") && col("nrm") > 0)
        .select(col("vec_id").as("old_id"), col("embedding").as("eb"),
          col("nrm").as("nb"))
      val truth = corp.crossJoin(broadcast(inc))
        .where(floor(expr(dotExpr("ea", "eb")) / sqrt(col("na") * col("nb"))
          * 1000000.0).cast("long") >= SemDupC6)
        .select(col("new_id"), col("old_id"))
        .cache()
      val hit = truth.join(cand, Seq("new_id", "old_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          expr("n_hit * 1000 div greatest(n_truth, 1L)").as("recall_permil"),
          expr("n_hit * 1000 div greatest(n_cand, 1L)")
            .as("precision_permil"))
    }
  )

  /** The qe11 scorer as a reusable stage: `corpus` carries (vec_id,
    * embedding, nrm), `bench` the benchmark slice's (eb, nb). The
    * benchmark BROADCASTS and the corpus is scanned map-side; joins are
    * stream-static-safe, so a batch-extracted benchmark gates vectors
    * ON INGEST (StreamingPipelineSpec pins stream == batch; aggregate
    * in update/complete mode on a stream). */
  private[pipeline] def embedDecontaminate(corpus: DataFrame,
      bench: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(bench))
      .select(col("vec_id"),
        (expr(dotExpr("embedding", "eb")) / sqrt(col("nrm") * col("nb")))
          .as("cos"))
      .groupBy("vec_id").agg(max("cos").as("max_cos"))
      .selectExpr("vec_id", "max_cos", "max_cos >= 0.4 AS contaminated")
}
