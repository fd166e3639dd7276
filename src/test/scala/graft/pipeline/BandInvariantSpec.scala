package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Source invariants that make the empty-band-weld closure PERMANENT
  * (VERDICT r17 #3). The weld class — a doc with < 3 tokens has no
  * shingles and four empty band values, and an unguarded band table
  * welds every such doc to every other one (the O(n²) artifact
  * mega-cluster) — took three rounds to extinguish because the
  * `bv <> ''` guard lived in call sites: r16 found it dropped in
  * dupClusters + two inline copies, r17's `bandsOf` consolidation
  * found two more (qp16, qp23). The guard now lives inside the ONE
  * definition (DedupQueries.bandsOf:57), but nothing STOPPED a future
  * query from building band rows inline again — until this spec,
  * which turns the house rule into a failing test.
  */
class BandInvariantSpec extends AnyFunSuite {

  private def sourceRoot: File = {
    val f = new File("src/main/scala/graft")
    assert(f.isDirectory, s"source root not found from ${new File(".").getAbsolutePath}")
    f
  }

  private def scalaFiles(dir: File): Seq[File] = {
    val (dirs, files) = Option(dir.listFiles()).getOrElse(Array.empty)
      .toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  private def read(f: File): String =
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)

  test("engine band rows are built ONLY by DedupQueries.bandsOf / docBands") {
    // `graft_minhash_bands` may appear in exactly two files: the
    // expression's own definition/registration (functions/Expressions)
    // and DedupQueries (bandsOf's posexplode — the one guarded
    // band-row construction — plus qp3's array_join SIGNATURE use,
    // which never becomes join-key rows). Any new reference elsewhere
    // is a fresh inline band table waiting to drop the guard.
    val offenders = scalaFiles(sourceRoot).filter { f =>
      read(f).contains("graft_minhash_bands") &&
        !Set("DedupQueries.scala", "Expressions.scala").contains(f.getName)
    }
    assert(offenders.isEmpty,
      s"graft_minhash_bands referenced outside bandsOf/docBands: " +
        s"${offenders.mkString(", ")} — build band rows via " +
        "DedupQueries.bandsOf (it carries the bv <> '' guard)")

    // and within DedupQueries, band-ROW construction (posexplode of the
    // expression) appears exactly once: inside bandsOf
    val dedup = read(new File(sourceRoot, "pipeline/DedupQueries.scala"))
    val explodes = dedup.linesIterator.zipWithIndex.filter { case (l, _) =>
      l.contains("graft_minhash_bands") &&
        (l.contains("posexplode") || l.contains("explode("))
    }.toSeq
    assert(explodes.size == 1,
      s"expected exactly ONE posexplode(graft_minhash_bands) — bandsOf — " +
        s"found ${explodes.map { case (_, i) => s"line ${i + 1}" }.mkString(", ")}")
    // no other file explodes it at all (belt over the two-file allowlist)
    val expr = read(new File(sourceRoot, "functions/Expressions.scala"))
    assert(!expr.linesIterator.exists(l =>
      l.contains("graft_minhash_bands") && l.contains("explode")))
  }

  test("winnowing print rows are built ONLY by DedupQueries.docPrints") {
    // the span family's twin rule (round 18): graft_winnow's exploded
    // (doc_id, fp) rows come from the ONE docPrints definition, so the
    // W/window choice and the empty-input contract can never fork
    // between qp34, winnowGate, and the print artifact writers
    val offenders = scalaFiles(sourceRoot).filter { f =>
      read(f).contains("graft_winnow") &&
        !Set("DedupQueries.scala", "Expressions.scala").contains(f.getName)
    }
    assert(offenders.isEmpty,
      s"graft_winnow referenced outside docPrints: ${offenders.mkString(", ")}")
    val dedup = read(new File(sourceRoot, "pipeline/DedupQueries.scala"))
    val explodes = dedup.linesIterator.zipWithIndex.filter { case (l, _) =>
      l.contains("graft_winnow") && l.contains("explode")
    }.toSeq
    assert(explodes.size == 1,
      s"expected exactly ONE explode(graft_winnow) — docPrints — found " +
        explodes.map { case (_, i) => s"line ${i + 1}" }.mkString(", "))
  }

  test("ordered-pair bucket self-joins are written ONLY in DedupQueries.bucketPairs") {
    // the pair-join twin of the band-row rule: the share-a-bucket rule
    // (equal band columns, `id <` for one ordered pair) lives in the ONE
    // bucketPairs definition, whose aliases are interpolated. A literal
    // `col("x.band") === col("y.band")`, or an ordered `doc_id <` pair
    // join that ends in `.distinct()`, anywhere under src/main is an
    // inline copy. The counting self-joins (qp23's iv, qp34) aggregate
    // instead of `.distinct()` and are a different operator.
    val bandEq = """col\("\w+\.band"\)\s*===\s*col\("\w+\.band"\)""".r
    val orderedDistinct =
      """col\("\w+\.(doc_id|vec_id)"\)\s*<\s*col\("\w+\.(doc_id|vec_id)"\)\)\s*\.select\([^()]*(\([^()]*\)[^()]*)*\)\s*\.distinct\(\)""".r
    val offenders = for {
      f <- scalaFiles(sourceRoot)
      src = read(f)
      m <- bandEq.findAllMatchIn(src) ++ orderedDistinct.findAllMatchIn(src)
    } yield s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty,
      s"inline ordered-pair bucket self-join: ${offenders.mkString(", ")} — " +
        "build candidate pairs via DedupQueries.bucketPairs")
    // the one definition itself must still exist — if it is renamed,
    // rewrite this spec alongside it rather than assert over nothing
    assert(read(new File(sourceRoot, "pipeline/DedupQueries.scala"))
      .contains("def bucketPairs("))
  }

  test("every DuckDB band-CASE oracle construction carries a bv <> '' guard nearby") {
    // the oracle side of the same weld: each inline band CTE (the
    // `CASE b.band WHEN 0 THEN h0 || h1 ...` construction) must filter
    // empty band values within its own CTE chain, or the oracle and
    // engine diverge the day a fixture ships a < 3-token doc. "Nearby"
    // = within 15 lines; every existing site guards within 8.
    val marker = "CASE b.band WHEN 0 THEN h0 || h1"
    val guard = "bv <> ''"
    val unguarded = for {
      f <- scalaFiles(sourceRoot)
      lines = read(f).linesIterator.toVector
      (l, i) <- lines.zipWithIndex
      if l.contains(marker)
      if !lines.slice(i, math.min(lines.size, i + 16))
        .exists(_.contains(guard))
    } yield s"$f:${i + 1}"
    assert(unguarded.isEmpty,
      s"duck band-CASE without a $guard guard within 15 lines: " +
        unguarded.mkString(", "))
    // the marker itself must still exist somewhere — if the oracle
    // formulation is ever renamed, rewrite this spec alongside it
    // rather than letting it silently assert over nothing
    val total = scalaFiles(sourceRoot)
      .map(f => read(f).linesIterator.count(_.contains(marker))).sum
    assert(total >= 6, s"band-CASE marker count dropped to $total — " +
      "oracle formulation renamed? update BandInvariantSpec in lockstep")
  }
}
