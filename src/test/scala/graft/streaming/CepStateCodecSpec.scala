package graft.streaming

import graft.SparkSuite
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}

/** The versioned envelope every CEP streaming driver persists its keyed
  * state through: roundtrip fidelity, the named wrong-version error on
  * restore (the failure mode that bit twice pre-round-13 as either a raw
  * KryoException or silent resumption), and the view's delegation of the
  * GroupState contract. */
object CepStateCodecSpec {
  case class Ev(user: Long, kind: String, ts: Long)
}

class CepStateCodecSpec extends SparkSuite {
  import CepStateCodecSpec.Ev

  test("envelope roundtrips the arrival state bit-faithfully") {
    val ev = Ev(1L, "error", 10L)
    val conf: GroupCep.GConf[(Ev, Long)] = GroupCep.Conf(1, GroupCep.TillNext,
      Map(0 -> 1), Vector((0, (ev, 6L))), 10L, fresh = true, guard = 0,
      guardKind = GroupCep.GuardOnce)
    val st = GroupCep.GArrivalState[Ev](nextSeq = 7L, confs = Vector(conf),
      gated = Vector(Vector((1, (ev, 6L)))))
    val env = CepStateCodec.enc(CepStateCodec.GroupVersion, st)
    assert(env.version == CepStateCodec.GroupVersion)
    val back = CepStateCodec.dec[GroupCep.GArrivalState[Ev]](env,
      CepStateCodec.GroupVersion, "spec")
    assert(back == st)
  }

  test("the linear and group families never share a format version") {
    // the retired linear engine persisted Cep.ArrivalState at 5 (and
    // flat MATCH_RECOGNIZE clauses at the old shared 3): the one
    // remaining family skips both, so no old linear checkpoint can reach
    // kryo as a GroupCep class
    assert(CepStateCodec.GroupVersion > 5)
  }

  test("a pre-change flat-clause checkpoint fails by name in the group driver") {
    // the state a flat clause wrote before it moved onto GroupCep: an
    // envelope at the old shared version 3 (its payload is never read)
    val old = CepStateEnvelope(3, Array[Byte](1, 2, 3))
    val fn = CepStateCodec.versionedFn("GroupCep.GArrivalState",
      CepStateCodec.GroupVersion,
      GroupCep.matchStreamArrivalFn[Long, Ev, Long](
        GroupCep.GPattern.begin[Ev]("e")(_.kind == "error"),
        _.ts, _ => 0L, Cep.NoSkip, (k, _) => k))
    val resumed = TestGroupState.create[CepStateEnvelope](
      Optional.of(old), GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val ex = intercept[CepStateVersionException] {
      fn(1L, Iterator(Ev(1L, "error", 20L)), resumed).toList
    }
    assert(ex.found == 3)
    assert(ex.expected == CepStateCodec.GroupVersion)
    assert(ex.getMessage.contains("GroupCep.GArrivalState"))
  }

  test("a linear-engine checkpoint (version 5) fails by name in Cep.matchStream's state function") {
    // the DSL's streams persisted the linear engine's Cep.ArrivalState at
    // version 5 before they moved onto GroupCep; resuming one must raise
    // the named error, not a KryoException over the old class layout
    val p = Cep.Pattern.begin[Ev]("v")(_.kind == "view")
      .followedBy("e")(_.kind == "error")
    val fn = CepStateCodec.versionedFn("GroupCep.GArrivalState",
      CepStateCodec.GroupVersion,
      Cep.matchStreamFn[Long, Ev, Long](p, _.ts, Cep.NoSkip, _ => 0L,
        (k, _) => k))
    val linear = CepStateEnvelope(5, CepStateCodec.toBytes(Vector(7L)))
    val resumed = TestGroupState.create[CepStateEnvelope](
      Optional.of(linear), GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val ex = intercept[CepStateVersionException] {
      fn(1L, Iterator(Ev(1L, "error", 20L)), resumed).toList
    }
    assert(ex.found == 5)
    assert(ex.expected == CepStateCodec.GroupVersion)
  }

  test("a nested-row checkpoint (version 6) fails by name in Cep.matchStreamFn's state function") {
    // version 6 persisted GArrivalState wrapping a GStreamState (the row
    // before it went flat); its payload must never reach kryo as the
    // flat row — the named error, not a KryoException
    val p = Cep.Pattern.begin[Ev]("v")(_.kind == "view")
      .followedBy("e")(_.kind == "error")
    val fn = CepStateCodec.versionedFn("GroupCep.GArrivalState",
      CepStateCodec.GroupVersion,
      Cep.matchStreamFn[Long, Ev, Long](p, _.ts, Cep.NoSkip, _ => 0L,
        (k, _) => k))
    val nested = CepStateEnvelope(6,
      CepStateCodec.toBytes((7L, (Vector.empty[Int], Vector.empty[Int]))))
    val resumed = TestGroupState.create[CepStateEnvelope](
      Optional.of(nested), GroupStateTimeout.NoTimeout(), 0L,
      Optional.empty[Long](), hasTimedOut = false)
    val ex = intercept[CepStateVersionException] {
      fn(1L, Iterator(Ev(1L, "error", 20L)), resumed).toList
    }
    assert(ex.found == 6)
    assert(ex.expected == CepStateCodec.GroupVersion)
    assert(ex.getMessage.contains("GroupCep.GArrivalState"))
  }

  // version 7 wrote the same flat row, but a streaming MATCH_RECOGNIZE
  // `PERMUTE(...)` under a quantifier compiled one group level shallower
  // than its batch twin; version 8 compiled every quantified alternation
  // (`(A|B)+`, a quantified PERMUTE) to a group around a max-1 group.
  // Either way the group counters (Conf.reps) name other groups now;
  // resuming such a row must raise the named error, not run on
  // renumbered counters
  for (v <- Seq(7, 8))
    test(s"a version-$v checkpoint fails by name in the group driver") {
      val old = CepStateCodec.enc(v, GroupCep.GArrivalState[Ev](3L,
        Vector.empty))
      val fn = CepStateCodec.versionedFn("GroupCep.GArrivalState",
        CepStateCodec.GroupVersion,
        GroupCep.matchStreamArrivalFn[Long, Ev, Long](
          GroupCep.GPattern.begin[Ev]("e")(_.kind == "error"),
          _.ts, _ => 0L, Cep.NoSkip, (k, _) => k))
      val resumed = TestGroupState.create[CepStateEnvelope](
        Optional.of(old), GroupStateTimeout.NoTimeout(), 0L,
        Optional.empty[Long](), hasTimedOut = false)
      val ex = intercept[CepStateVersionException] {
        fn(1L, Iterator(Ev(1L, "error", 20L)), resumed).toList
      }
      assert(ex.found == v)
      assert(ex.expected == CepStateCodec.GroupVersion)
      assert(ex.getMessage.contains("GroupCep.GArrivalState"))
    }

  test("a wrong-version blob raises the named error before kryo decodes") {
    val env = CepStateCodec.enc(CepStateCodec.GroupVersion,
      GroupCep.GArrivalState[Ev](0L, Vector.empty))
    val stale = env.copy(version = CepStateCodec.GroupVersion - 1)
    val ex = intercept[CepStateVersionException] {
      CepStateCodec.dec[GroupCep.GArrivalState[Ev]](stale,
        CepStateCodec.GroupVersion, "GroupCep spec")
    }
    assert(ex.found == CepStateCodec.GroupVersion - 1)
    assert(ex.expected == CepStateCodec.GroupVersion)
    assert(ex.getMessage.contains("GroupCep spec"))
    assert(ex.getMessage.contains("fresh checkpoint"))
    // the payload bytes were never interpreted: even a corrupt blob
    // reports the version diff, not a kryo buffer error
    val garbage = CepStateEnvelope(CepStateCodec.GroupVersion + 5,
      Array[Byte](1, 2, 3))
    val ex2 = intercept[CepStateVersionException] {
      CepStateCodec.dec[AnyRef](garbage, CepStateCodec.GroupVersion,
        "corrupt")
    }
    assert(ex2.found == CepStateCodec.GroupVersion + 5)
  }

  test("versionedFn surfaces the stale version through a driver read") {
    val fn: (Long, Iterator[Ev], GroupState[Vector[Long]]) =>
        Iterator[Long] =
      (_, it, state) => {
        val acc = state.getOption.getOrElse(Vector.empty) ++ it.map(_.ts)
        state.update(acc)
        acc.iterator
      }
    val wrapped = CepStateCodec.versionedFn("spec-state",
      CepStateCodec.GroupVersion, fn)
    // fresh key: no state yet, the write lands as the current version
    val fresh = TestGroupState.create[CepStateEnvelope](
      Optional.empty[CepStateEnvelope](), GroupStateTimeout.NoTimeout(),
      0L, Optional.empty[Long](), hasTimedOut = false)
    assert(wrapped(1L, Iterator(Ev(1L, "a", 5L)), fresh).toList == List(5L))
    assert(fresh.get.version == CepStateCodec.GroupVersion)
    assert(CepStateCodec.dec[Vector[Long]](fresh.get,
      CepStateCodec.GroupVersion, "spec-state") ==
      Vector(5L))
    // resumed key whose checkpoint predates this build: named error
    val stale = TestGroupState.create[CepStateEnvelope](
      Optional.of(fresh.get.copy(version = 1)),
      GroupStateTimeout.NoTimeout(), 0L, Optional.empty[Long](),
      hasTimedOut = false)
    intercept[CepStateVersionException] {
      wrapped(1L, Iterator(Ev(1L, "b", 6L)), stale).toList
    }
  }

  test("an open partial survives a checkpointed stop/restart through the envelope") {
    // The scenario the envelope exists for: state written by one query
    // incarnation is restored by the next — a real checkpoint
    // round-trip through the state store, not just an in-memory batch
    // boundary. E{2} opens a partial on the first error; the query is
    // STOPPED, restarted from the same checkpoint, and the second error
    // must complete the match from the restored partial.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cep_resume").toString
    val input = MemoryStream[(Long, Long, String, Long)]
    val got = java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Long, Long, Long)]()
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape (the library's generic-output surface)
    def start() = MatchRecognize(
      input.toDF().toDF("event_id", "ts", "event_type", "user_id"),
      """PARTITION BY user_id
        |ORDER BY ts
        |MEASURES FIRST(E.event_id) AS e1, LAST(E.event_id) AS e2
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (E{2})
        |DEFINE E AS event_type = 'error'""".stripMargin)
      .writeStream.option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("user_id", "e1", "e2").as[(Long, Long, Long)]
          .collect().foreach(got.add)
      }.start()
    val q1 = start()
    try {
      input.addData((1L, 10L, "error", 1L))
      q1.processAllAvailable()
      assert(got.isEmpty) // partial open, nothing emitted yet
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData((2L, 20L, "error", 1L))
      q2.processAllAvailable()
      assert(got.asScala.toSet === Set((1L, 1L, 2L)))
    } finally q2.stop()
  }
}
