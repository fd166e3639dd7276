package graft

import java.net.URI
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

import graft.streaming.{NoForkCheckpointFileManager, NoForkLocalFileSystem}

/** The session `Engine.session` builds, and what its settings buy. */
class EngineSpec extends SparkSuite {

  /** Both `Engine.session` branches: `session(4)` and, as a new session on
    * the running context (which carries its builder's options),
    * `session(rocksdbState = true)`. */
  private lazy val branches: Seq[SparkSession] = {
    val base = spark // Engine.session(4)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val rocks =
      try Engine.session(rocksdbState = true)
      finally {
        SparkSession.setActiveSession(base)
        SparkSession.setDefaultSession(base)
      }
    assert(rocks ne base)
    assert(rocks.conf.get("spark.sql.streaming.stateStore.providerClass") ===
      Engine.RocksDbProvider)
    Seq(base, rocks)
  }

  test("every Engine.session branch sizes the generated-class cache") {
    branches.foreach { s =>
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") ===
        Engine.CodegenCacheEntries.toString)
    }
  }

  test("every Engine.session branch writes local checkpoints through the " +
      "no-fork file system and keeps Spark's manager elsewhere") {
    val dir = Files.createTempDirectory("graft_engine_ckpt")
    try branches.foreach { s =>
      val conf = s.sessionState.newHadoopConf()
      CheckpointFileManager.create(new Path(dir.toUri), conf) match {
        case m: NoForkCheckpointFileManager => m.underlying match {
          case u: FileSystemBasedCheckpointFileManager =>
            // `fs` is protected in Scala and public in bytecode
            val fs = classOf[FileSystemBasedCheckpointFileManager]
              .getMethod("fs").invoke(u)
            assert(fs.isInstanceOf[NoForkLocalFileSystem])
          case u => fail(s"local checkpoint through $u")
        }
        case m => fail(s"Engine.session's checkpoint manager is $m")
      }
      // the no-fork file system stays out of the JVM's FileSystem cache
      assert(!new Path(dir.toUri).getFileSystem(conf)
        .isInstanceOf[NoForkLocalFileSystem])
      conf.set("fs.AbstractFileSystem.otherfs.impl",
        classOf[EngineSpec.OtherSchemeFs].getName)
      CheckpointFileManager.create(new Path("otherfs:/ckpt"), conf) match {
        case m: NoForkCheckpointFileManager =>
          assert(m.underlying.isInstanceOf[FileContextBasedCheckpointFileManager])
        case m => fail(s"Engine.session's checkpoint manager is $m")
      }
    } finally FileUtils.deleteDirectory(dir.toFile)
  }

  test("a second pass over the headline mix compiles no generated class " +
      "beyond qp7's second-run plan") {
    // as the benchmark harness runs the mix: build, count, clear the cache
    def pass(): Map[String, Long] = Bench.headline.map { n =>
      n -> EngineSpec.compiles {
        run(n).count()
        spark.catalog.clearCache()
      }
    }.toMap
    val warm = pass()
    val steady = pass().filter(_._2 > 0)
    // the allowance: qp7's second run in a session plans one stage unlike
    // its first (a broadcast join fused into it), so that run compiles two
    // classes (the stage's driver and task copies); later runs compile none
    assert(steady.keySet.subsetOf(Set("qp7_curation_pipeline")) &&
      steady.values.sum <= 2,
      s"steady pass compiled $steady; warm-up ${warm.values.sum} classes")
  }
}

object EngineSpec {
  /** A Hadoop file system under a scheme of its own (`otherfs`), standing
    * for any checkpoint store that is not the local disk. */
  final class OtherSchemeFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf,
        uri.getScheme, false)

  /** The number of Janino compiles the JVM runs while `f` runs (every
    * session of the JVM counts; generated classes the cache still holds
    * are not compiled again). */
  def compiles(f: => Unit): Long = {
    val n = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = n.getCount
    f
    n.getCount - before
  }
}
