package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem,
  Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.BeforeAndAfterAll

import graft.{Engine, SparkSuite}

/** One event of the checkpoint specs' stream. */
final case class CkEv(event_id: Long, ts: Timestamp, user_id: Long,
    is_view: Boolean)

/** What the engine's checkpoint file manager must keep while it writes
  * without forking: Hadoop's `.crc` and Spark's checksum sidecars, the mode
  * bits Hadoop's `chmod` gives, a failed restart on a corrupted state file,
  * and a restarted query that emits what an uninterrupted one does, under
  * both state-store providers. */
class CheckpointFilesSpec extends SparkSuite with BeforeAndAfterAll {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  /** Each state-store provider, with the extension of its committed
    * version files. */
  private val Providers: Seq[(String, Option[String], String)] = Seq(
    ("hdfs", None, ".delta"), ("rocksdb", Some(Engine.RocksDbProvider), ".zip"))

  private def withProvider[A](provider: Option[String])(body: => A): A = {
    val before = spark.conf.getOption(ProviderConf)
    provider.fold(spark.conf.unset(ProviderConf))(spark.conf.set(ProviderConf, _))
    try body
    finally before.fold(spark.conf.unset(ProviderConf))(spark.conf.set(ProviderConf, _))
  }

  private lazy val root = Files.createTempDirectory("graft_ckpt_files")
  private def tempDir(name: String): JPath = Files.createTempDirectory(root, name)
  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(root.toFile) finally super.afterAll()

  /** The whole mode of a file or directory: setuid, setgid and sticky too. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def localFs(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def ev(id: Long, min: Long, user: Long, view: Boolean) =
    CkEv(id, new Timestamp(min * 60000L), user, view)

  /** Micro-batches of views and errors over three users, then two flush
    * events that close every window and expire every partial match. The
    * third batch repeats an event of the second and completes a match the
    * second began; the fourth brings an event behind the watermark. */
  private val batches: Seq[Seq[CkEv]] = Seq(
    Seq(ev(1, 0, 1, true), ev(2, 0, 2, true), ev(3, 1, 1, false)),
    Seq(ev(4, 2, 2, false), ev(5, 2, 3, true), ev(4, 2, 2, false)),
    Seq(ev(6, 5, 1, true), ev(7, 6, 3, false), ev(4, 2, 2, false)),
    Seq(ev(9, 8, 1, false), ev(10, 9, 2, true), ev(8, 1, 3, false)),
    Seq(ev(-1, 60 * 24, -1, true)), Seq(ev(-2, 60 * 48, -1, true)))

  /** The three stateful operators the stream benchmark runs: a watermarked
    * tumbling count, dedup within the watermark and a DSL CEP pattern; then
    * a MATCH_RECOGNIZE clause whose match ordinal and PREV rows ride keyed
    * state across micro-batches. */
  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "window" -> (_.groupBy(col("user_id"),
        StreamOps.tumble(col("ts"), "1 minute").as("w"))
      .agg(count(lit(1)).as("n")).select("user_id", "w.start", "n")),
    "dedup" -> (StreamOps.dedupWithinWatermark(_, Seq("event_id"))
      .select("event_id")),
    "cep" -> { df =>
      val pattern = Cep.Pattern.begin[CkEv]("view")(_.is_view)
        .followedBy("error")(!_.is_view).within(3600L * 1000)
      Cep.matchStream(df.as[CkEv], (e: CkEv) => e.user_id,
        (e: CkEv) => e.ts.getTime, pattern, tie = (e: CkEv) => e.event_id)(
        (u: Long, m: Map[String, CkEv]) =>
          (u, m("view").event_id, m("error").event_id))
        .toDF("user_id", "view_id", "error_id")
    },
    "match_recognize" -> (MatchRecognize(_,
      """PARTITION BY user_id
        |ORDER BY ts, event_id
        |MEASURES MATCH_NUMBER() AS mn, V.event_id AS v_id,
        |  LAST(E.event_id) AS e_id
        |PATTERN (V E+)
        |DEFINE V AS is_view,
        |       E AS NOT is_view AND event_id > PREV(event_id)""".stripMargin)))

  /** Runs `plan` over `batches`, one micro-batch each, into a collecting
    * sink. With `restartAfter = Some(n)` the query stops after its n-th
    * batch, `beforeRestart` sees its checkpoint, and a new query on that
    * checkpoint runs the rest. Returns the rows emitted and the checkpoint
    * directory. */
  private def run(plan: DataFrame => DataFrame, batches: Seq[Seq[CkEv]],
      restartAfter: Option[Int] = None,
      beforeRestart: JPath => Unit = _ => ()): (Seq[Row], JPath) = {
    val in = MemoryStream[CkEv]
    val ckpt = tempDir("ckpt")
    val out = new ConcurrentLinkedQueue[Row]()
    def start(): StreamingQuery =
      plan(in.toDF().withWatermark("ts", "2 minutes")).writeStream
        .outputMode("append").option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(out.add); ()
        }.start()
    var q = start()
    try batches.zipWithIndex.foreach { case (b, i) =>
      if (restartAfter.contains(i)) {
        q.stop()
        beforeRestart(ckpt)
        q = start()
      }
      in.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    (out.asScala.toSeq, ckpt)
  }

  private def files(dir: JPath): Seq[JPath] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toList finally walk.close()
  }

  test("the no-fork file system sets the mode bits Hadoop's chmod sets") {
    val stock = localFs(new LocalFileSystem())
    val nofork = localFs(new NoForkLocalFileSystem())
    val dir = tempDir("mode")
    // a setgid parent: chmod keeps setgid on a directory, chmod(2) clears it
    val setgid = Files.createDirectory(dir.resolve("g"))
    Files.setAttribute(setgid, "unix:mode", Int.box(0x5ed | 0x400)) // 02755
    def write(fs: FileSystem, name: String): Seq[JPath] = {
      val base = dir.resolve(name)
      val f = new Path(base.resolve("a/b.delta").toUri)
      val out = fs.create(f, true)
      out.write(Array.fill[Byte](100)(7))
      out.close()
      fs.mkdirs(new Path(base.resolve("d").toUri))
      fs.setPermission(new Path(base.resolve("a").toUri),
        new FsPermission("750"))
      val sticky = new Path(base.resolve("t").toUri)
      fs.mkdirs(sticky)
      fs.setPermission(sticky, new FsPermission("1777"))
      fs.mkdirs(new Path(setgid.resolve(name).toUri))
      fs.setPermission(new Path(setgid.resolve(name).toUri),
        new FsPermission("750"))
      Seq("a", "a/b.delta", "a/.b.delta.crc", "d", "t").map(base.resolve) :+
        setgid.resolve(name)
    }
    val want = write(stock, "stock").map(mode)
    val got = write(nofork, "nofork").map(mode)
    assert(got === want)
    // NIO can set neither bit: both requests took Hadoop's own path
    assert((got(4) & 0x200) != 0) // sticky
    assert((got(5) & 0x400) != 0) // setgid kept
  }

  Providers.foreach { case (name, provider, ext) =>
    test(s"$name state commits keep both checksum sidecars and Hadoop's modes") {
      withProvider(provider) {
        val (_, ckpt) = run(queries.head._2, batches.take(2))
        val state = files(ckpt.resolve("state"))
        val committed = state.filter(_.getFileName.toString.endsWith(ext))
        assert(committed.nonEmpty, s"no $ext files in $state")
        committed.foreach { f =>
          val n = f.getFileName.toString
          assert(Files.exists(f.resolveSibling(s".$n.crc")), s"no Hadoop crc of $f")
          assert(Files.exists(f.resolveSibling(s"$n.crc")), s"no Spark checksum of $f")
        }
        val stock = localFs(new LocalFileSystem())
        val ref = tempDir("ref")
        val refFile = new Path(ref.resolve("f").toUri)
        stock.create(refFile, true).close()
        stock.mkdirs(new Path(ref.resolve("d").toUri))
        val (fileMode, dirMode) = (mode(ref.resolve("f")), mode(ref.resolve("d")))
        files(ckpt).filter(_ != ckpt).foreach { f =>
          assert(mode(f) === (if (Files.isDirectory(f)) dirMode else fileMode),
            s"mode of $f")
        }
      }
    }

    // Hadoop's sidecar catches a flipped byte first. With the sidecar gone,
    // as after a copy that skips hidden files, Spark's checksum catches it
    // in a delta; RocksDB's zip and SST files carry CRCs of their own,
    // which catch it before Spark's checksum is read.
    (Seq(false -> "Hadoop's .crc") ++
        (if (ext == ".delta") Seq(true -> "Spark's checksum") else Nil)).foreach {
      case (dropHadoopCrc, by) =>
        test(s"$name: a restart on a flipped byte in a committed state file " +
            s"fails by $by") {
          withProvider(provider) {
            def corrupt(ckpt: JPath): Unit = {
              val f = files(ckpt.resolve("state"))
                .filter(_.getFileName.toString == s"2$ext").maxBy(Files.size(_))
              val bytes = Files.readAllBytes(f)
              bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x10).toByte
              Files.write(f, bytes)
              if (dropHadoopCrc)
                Files.delete(f.resolveSibling(s".${f.getFileName}.crc"))
            }
            val e = intercept[StreamingQueryException] {
              run(queries.head._2, batches.take(3), Some(2), corrupt)
            }
            val causes = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null).toSeq
            assert(causes.exists {
              case c: SparkThrowable => dropHadoopCrc && c.getCondition ==
                "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"
              case _: ChecksumException => !dropHadoopCrc
              case _ => false
            }, causes.mkString("\n"))
          }
        }
    }

    test(s"$name: window, dedup and CEP restarted after two micro-batches " +
        "emit what an uninterrupted run does") {
      withProvider(provider) {
        queries.foreach { case (q, plan) =>
          val whole = run(plan, batches)._1.map(_.toString).sorted
          val resumed = run(plan, batches, restartAfter = Some(2))._1
            .map(_.toString).sorted
          assert(whole.nonEmpty, q)
          assert(resumed === whole, q)
        }
      }
    }
  }
}
