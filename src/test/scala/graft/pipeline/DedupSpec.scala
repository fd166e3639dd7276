package graft.pipeline

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat near the river bank"), // near dup of 1
    (4L, "completely different words about spark engines and query planning")
  ).toDF("doc_id", "text")

  test("identical texts get identical minhash signatures") {
    val sig = DedupQueries.withSig(docs)
      .select($"doc_id", concat_ws(",", (0 until 8).map(i => col(s"h$i")): _*).as("sig"))
      .as[(Long, String)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("near-duplicates share most minhash components, unrelated docs few") {
    val rows = DedupQueries.withSig(docs)
      .select($"doc_id", array((0 until 8).map(i => col(s"h$i")): _*))
      .as[(Long, Seq[String])].collect().toMap
    def shared(a: Long, b: Long) = rows(a).zip(rows(b)).count { case (x, y) => x == y }
    assert(shared(1L, 3L) > shared(1L, 4L))
    assert(shared(1L, 2L) == 8)
  }

  test("shingling produces n-2 word trigrams and empty for short docs") {
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
    val sh = DedupQueries.withShingles(docs.union(short))
      .select($"doc_id", size($"sh")).as[(Long, Int)].collect().toMap
    assert(sh(1L) == 13 - 2) // 13 tokens
    assert(sh(9L) == 0)
  }

  test("simhash: identical docs equal, near-dups closer than unrelated") {
    // qp6 logic applied to the tiny fixture via the same expressions
    val withHash = docs
      .withColumn("tk", split($"text", " "))
      .withColumn("hs", expr(
        "transform(tk, w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"))
      .withColumn("bitsum", expr(
        """aggregate(hs, transform(sequence(0, 63), b -> 0L),
          |  (acc, h) -> zip_with(acc, sequence(0, 63),
          |    (c, b) -> c + IF((shiftright(h, CAST(b AS INT)) & 1L) = 1L, 1L, -1L)))""".stripMargin))
      .withColumn("simhash", expr(
        """aggregate(zip_with(bitsum, sequence(0, 63),
          |  (c, b) -> IF(c > 0L, shiftleft(1L, CAST(b AS INT)), 0L)),
          |  0L, (a, x) -> a + x)""".stripMargin))
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(withHash(a) ^ withHash(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) < ham(1L, 4L))
  }

  test("paragraphs() splits on blank lines, normalizes, drops empties, keeps order") {
    val pdocs = Seq(
      (1L, "first  para with   spaces\n\nsecond para\n\n\nthird para"),
      (2L, "\n\nonly   one para\n\n"),
      (3L, "second para") // cross-doc duplicate of doc 1's idx 1
    ).toDF("doc_id", "text")
    val got = DedupQueries.paragraphs(pdocs)
      .as[(Long, Int, String)].collect().toSet
    assert(got === Set(
      (1L, 0, "first para with spaces"),
      (1L, 1, "second para"),
      (1L, 2, "third para"),
      (2L, 0, "only one para"),
      (3L, 0, "second para")))
    // composed with the qp10 survivor aggregate: the duplicate paragraph
    // keeps its lowest (doc_id, idx) and counts both copies
    val surv = DedupQueries.paragraphs(pdocs)
      .groupBy(md5($"para").as("fp"))
      .agg(min(struct($"doc_id", $"idx")).as("k"), count(lit(1)).as("n"))
      .select($"k.doc_id", $"k.idx", $"n")
      .as[(Long, Int, Long)].collect().toSet
    assert(surv.contains((1L, 1, 2L))) // "second para" survives at doc 1
    assert(surv.count(_._3 == 2L) === 1)
  }

  test("qp10 word-window chunking: boundaries, tail chunk, survivor choice") {
    // 50 normalized words -> chunks of 24: idx 0 (24), idx 1 (24), idx 2 (2)
    val words = (1 to 50).map(i => s"w$i").mkString(" ")
    val cdocs = Seq((7L, words), (8L, words.toUpperCase)).toDF("doc_id", "text")
    val chunks = cdocs
      .withColumn("w",
        split(trim(regexp_replace(lower($"text"), "\\s+", " ")), " "))
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, (size(w) + 23) div 24 - 1),
          |  i -> array_join(slice(w, i * 24 + 1, 24), ' '))""".stripMargin)))
      .toDF("doc_id", "idx", "para")
    val byDoc = chunks.as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byDoc(7L).size === 3)
    assert(byDoc(7L)(0).split(" ").length === 24)
    assert(byDoc(7L)(2) === "w49 w50") // tail chunk keeps the remainder
    // case-normalization makes doc 8 chunk-identical to doc 7
    assert(byDoc(8L) === byDoc(7L))
  }

  test("qp1 exact dedup groups on sf data are disjoint and cover all docs") {
    val total = graft.Engine.table(spark, sf, "documents").count()
    val got = run("qp1_dedup_exact")
    assert(got.agg(sum($"n_copies")).as[Long].head() == total)
  }

  test("qp4 candidate pairs are ordered and distinct") {
    val pairs = run("qp4_minhash_pairs").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.distinct.length == pairs.length)
  }

  test("qp29 containment equals a driver-side recompute with df pruning") {
    // independent ground truth over the real corpus: distinct trigram
    // sets per doc, document frequency per gram, sizes over df<=10
    // grams, shared over 2<=df<=10 grams, threshold shared*2 >= min
    val texts = graft.Engine.table(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val gsets = texts.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      id -> (if (ws.length < 3) Set.empty[String]
             else (0 to ws.length - 3)
               .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet)
    }.toMap
    val dfc = gsets.values.flatten.groupBy(identity).view
      .mapValues(_.size).toMap
    val sz = gsets.view.mapValues(_.count(g => dfc(g) <= 10)).toMap
    val ids = texts.map(_._1).sorted
    val expected = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      shared = (gsets(a) & gsets(b)).count(g =>
        dfc(g) >= 2 && dfc(g) <= 10)
      mn = math.min(sz(a), sz(b))
      if shared > 0 && shared * 2 >= mn
    } yield (a, b, shared.toLong, sz(a).toLong, sz(b).toLong,
      shared.toDouble / mn)).toSeq
    val got = run("qp29_containment_dedup")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty) // the corpus genuinely contains embedded docs
    // asymmetry: at least one flagged pair has na != nb — the case
    // Jaccard dilutes but containment catches
    assert(got.exists(r => r._4 != r._5))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Spark-split tokens (split(text, " ", -1) keeps empty tokens, as
    * Spark's split does) → word trigram shingles, none under 3 tokens. */
  private def driverShingles(text: String): Seq[String] = {
    val tk = text.split(" ", -1)
    if (tk.length < 3) Seq.empty
    else (0 to tk.length - 3).map(i => s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}")
  }

  /** The 4 band values of a doc's shingles (8 minhash components, two
    * 64-bit halves per md5, two per band); none for a shingle-less doc. */
  private def driverBands(grams: Seq[String]): Seq[String] =
    if (grams.isEmpty) Seq.empty
    else {
      val hs = (0 until 4).flatMap { j =>
        val ds = grams.map(g => md5hex(s"s$j|$g"))
        Seq(ds.map(_.substring(0, 16)).min, ds.map(_.substring(16)).min)
      }
      (0 until 4).map(b => hs(2 * b) + hs(2 * b + 1))
    }

  // the 4-doc fixture plus two shingle-less docs (< 3 tokens): without
  // bandsOf's guard their empty band values would weld them together
  private def pairDocs = docs.union(
    Seq((5L, "two words"), (6L, "short doc")).toDF("doc_id", "text"))

  private def fixtureTexts: Map[Long, String] =
    pairDocs.as[(Long, String)].collect().toMap

  test("bucketPairs: a pair sharing several buckets comes once, ordered; short docs pair with nobody") {
    graft.functions.GraftFunctions.register(spark)
    val bands = fixtureTexts.map { case (id, t) => id -> driverBands(driverShingles(t)) }
    val expected = (for {
      a <- bands.keys; b <- bands.keys
      if a < b && bands(a).zip(bands(b)).exists { case (x, y) => x == y }
    } yield (a, b)).toSeq.sorted
    val got = DedupQueries.bucketPairs(
        DedupQueries.bandsOf(DedupQueries.withShingles(pairDocs)),
        "doc_id", Seq("band", "bv"), ("a", "b"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(got == expected)
    // the exact duplicates share all four buckets and still pair once
    assert(bands(1L) == bands(2L) && got.count(_ == ((1L, 2L))) == 1)
    assert(got.forall { case (a, b) => a < b })
    assert(!got.exists { case (a, b) => Set(a, b).intersect(Set(5L, 6L)).nonEmpty })
  }

  test("bucketPairs: a same column must match too and leads the output") {
    graft.functions.GraftFunctions.register(spark)
    val lang = (id: Long) => if (id == 2L) "de" else "en"
    val rows = DedupQueries.bandsOf(DedupQueries.withShingles(
        pairDocs.withColumn("lang",
          when($"doc_id" === 2L, "de").otherwise("en"))),
      Seq($"lang"))
    val all = DedupQueries.bucketPairs(rows, "doc_id", Seq("band", "bv"),
      ("a", "b")).as[(Long, Long)].collect().toSet
    val same = DedupQueries.bucketPairs(rows, "doc_id", Seq("band", "bv"),
      ("a", "b"), same = Seq("lang"))
    assert(same.columns.toSeq == Seq("lang", "a", "b"))
    val got = same.as[(String, Long, Long)].collect().toSet
    assert(all.contains((1L, 2L)))
    assert(got == all.collect { case (a, b) if lang(a) == lang(b) =>
      (lang(a), a, b) })
    assert(!got.exists(p => p._2 == 2L || p._3 == 2L))
  }

  test("verifyPairs: ni, na, nb equal a driver-side set intersection") {
    val sets = fixtureTexts.map { case (id, t) => id -> driverShingles(t).toSet }
    val cand = (for (a <- sets.keys; b <- sets.keys if a < b) yield (a, b))
      .toSeq.toDF("a", "b")
    val got = DedupQueries.verifyPairs(cand,
        DedupQueries.withShingles(pairDocs), "a", "b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expected = cand.as[(Long, Long)].collect().map { case (a, b) =>
      (a, b, (sets(a) & sets(b)).size.toLong, sets(a).size.toLong,
        sets(b).size.toLong)
    }.toSet
    assert(got == expected)
    assert(got.exists(_._3 > 0)) // the fixture has overlapping pairs
  }

  /** Driver-side replica of the qp5/qp32 LSH pair-stats chain over the
    * real corpus: Spark-split tokens (split(text, " ", -1) keeps empty
    * tokens, matching Spark's split), trigram shingles, 8 minhash
    * components (two 64-bit halves per md5), 4 bands, same-lang
    * same-band candidates, exact md5-prefix shingle-set intersection.
    * Returns (doc_a, doc_b, ni, na, nb) for pairs with ni >= 1 (inner
    * join semantics — zero-overlap candidates are absent in pstats). */
  private def pairStatsReplica(): Seq[(Long, Long, Int, Int, Int)] = {
    val texts = graft.Engine.table(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
    val sh = texts.map { case (id, lang, text) =>
      (id, lang, driverShingles(text))
    }
    val bands = sh.flatMap { case (id, lang, grams) =>
      driverBands(grams).zipWithIndex.map { case (bv, b) => ((lang, b, bv), id) }
    }
    val cands = bands.groupBy(_._1).values.flatMap { g =>
      val ids = g.map(_._2).distinct.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        yield (ids(i), ids(j))
    }.toSet
    val sets = sh.map { case (id, _, grams) =>
      id -> grams.map(g => md5hex(g).substring(0, 16)).toSet
    }.toMap
    cands.toSeq.sorted.flatMap { case (a, b) =>
      val ni = (sets(a) & sets(b)).size
      if (ni == 0) None
      else Some((a, b, ni, sets(a).size, sets(b).size))
    }
  }

  test("qp32 threshold curve equals a driver-side LSH replica; the curve discriminates") {
    val ps = pairStatsReplica()
    val expected = Seq(0, 80, 99).map { t =>
      val pass = ps.filter { case (_, _, ni, na, nb) =>
        100L * ni >= t.toLong * (na + nb - ni) }
      (t.toLong, pass.size.toLong,
        pass.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
    }
    val got = run("qp32_dedup_threshold_curve")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // monotone: tightening never adds pairs, and the fixture
    // discriminates (the no-verify baseline keeps more than t=99)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.head._2 > got.last._2)
  }

  test("qp31 histogram partitions the corpus and matches qp8's clusters") {
    val clusters = run("qp8_dedup_clusters")
      .as[(Long, Long)].collect().toSeq
    val total = graft.Engine.table(spark, sf, "documents").count()
    val sizes = clusters.groupBy(_._2).values.map(_.size.toLong).toSeq
    val expected = ((1L, total - clusters.size, total - clusters.size) +:
      sizes.groupBy(identity).toSeq.map { case (sz, g) =>
        (sz, g.size.toLong, sz * g.size) }).sortBy(_._1)
    val got = run("qp31_cluster_histogram")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // every mined cluster has size >= 2 (the singleton row is the only
    // size-1 entry) and the histogram's doc mass partitions the corpus
    assert(sizes.forall(_ >= 2))
    assert(got.map(_._3).sum == total)
    assert(got.exists(r => r._1 >= 2 && r._2 > 0))
  }
}
