package graft.streaming

import java.nio.ByteBuffer

import scala.reflect.ClassTag

import org.apache.spark.SparkEnv
import org.apache.spark.serializer.{KryoSerializer, SerializerInstance}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.GroupState

/** Versioned envelope for the CEP streaming keyed state.
  *
  * The CEP drivers' state (today the one flat row
  * [[GroupCep.GArrivalState]]) used to cross micro-batches as one opaque
  * kryo binary column. That format has no runtime-detectable marker: a
  * layout change surfaces as a raw KryoException deep in the state store,
  * and a SEMANTIC change with an unchanged layout (same fields, new
  * meaning — e.g. a capture-representation swap) would resume silently
  * wrong from an old checkpoint. The reference versions its keyed state
  * for exactly this reason (flink-core/.../VersionedIOReadableWritable.java:30
  * writes a version header every serializer snapshot checks on restore).
  *
  * The envelope splits the state row into (version INT, blob BINARY).
  * The version column's schema never changes, so it is readable against
  * any ENVELOPE-ERA checkpoint (generation >= 3, the one that introduced
  * it); [[CepStateCodec.dec]] checks it BEFORE kryo touches the payload
  * and raises the named [[CepStateVersionException]] — both the layout
  * and the semantic failure mode become one deliberate, actionable
  * error. Checkpoints from the PRE-envelope generations (1-2, a single
  * opaque kryo column) have a different state-row schema and still die
  * in Spark's state schema compatibility check, the one unavoidable
  * unnamed break this change exists to make the last. */
final case class CepStateEnvelope(version: Int, blob: Array[Byte])

/** Named restore-time failure: the checkpointed CEP state was written by
  * a different format generation than this build reads. */
final class CepStateVersionException(val found: Int, val expected: Int,
    what: String) extends RuntimeException(
  s"CEP streaming state '$what' has format version $found but this build " +
    s"reads version $expected; the checkpointed state cannot be resumed — " +
    "restart the query from a fresh checkpoint after reprocessing")

object CepStateCodec {

  /** Format generation of the CEP keyed state — bump on ANY change to
    * the state classes' layout OR meaning. History: 1 — pre-round-10
    * two-field GStreamState; 2 — GStreamState.pendingSel; 3 — envelope
    * introduced (round 13); 4 — flat MATCH_RECOGNIZE clauses persist
    * GArrivalState; 5 — the retired linear engine's Cep.ArrivalState,
    * never reused; 6 — every DSL stream persists GArrivalState, whose
    * GStreamState gains the terminal-negation gate (`gated`) and whose
    * branches carry a greedy-guard kind; 7 — one flat GArrivalState row
    * (GStreamState's fields inlined), the match ordinal persisted only
    * for numbered streams; 8 — streaming MATCH_RECOGNIZE compiles the
    * batch spec tree, so a quantified PERMUTE gains the group level its
    * batch twin has and the group ids `Conf.reps` keys name shift. */
  val GroupVersion = 8    // GroupCep.GArrivalState

  /** The envelope's product encoder — a stable (int, binary) row, never
    * the kryo-opaque single column. */
  def envelopeEncoder: Encoder[CepStateEnvelope] =
    Encoders.product[CepStateEnvelope]

  // kryo instances are not thread-safe; executor task threads each get
  // one — but ONLY once SparkEnv (and so the user's kryo conf) exists:
  // caching a default-conf fallback would pin that thread to default
  // buffer sizes/registrators for its lifetime
  private val cached = new ThreadLocal[SerializerInstance]
  private def ser(): SerializerInstance = {
    var s = cached.get()
    if (s == null) {
      val env = SparkEnv.get
      s = new KryoSerializer(
        if (env != null) env.conf else new org.apache.spark.SparkConf())
        .newInstance()
      if (env != null) cached.set(s)
    }
    s
  }

  /** Raw kryo payload helpers — shared with [[JoinStateCodec]], which
    * wraps the same serializer in its own (version, fingerprint)
    * envelope. */
  private[streaming] def toBytes[S](s: S): Array[Byte] = {
    val bb = ser().serialize(s)(ClassTag.AnyRef.asInstanceOf[ClassTag[S]])
    val arr = new Array[Byte](bb.remaining())
    bb.get(arr)
    arr
  }

  private[streaming] def fromBytes[S](b: Array[Byte]): S =
    ser().deserialize(ByteBuffer.wrap(b))(
      ClassTag.AnyRef.asInstanceOf[ClassTag[S]])

  def enc[S](version: Int, s: S): CepStateEnvelope =
    CepStateEnvelope(version, toBytes(s))

  def dec[S](e: CepStateEnvelope, version: Int, what: String): S = {
    if (e.version != version)
      throw new CepStateVersionException(e.version, version, what)
    fromBytes[S](e.blob)
  }

  /** Adapt an S-typed state-transition function to the envelope-typed
    * state its Dataset driver actually persists, checking against that
    * driver family's own format generation. */
  def versionedFn[K, E, O, S](what: String, version: Int,
      fn: (K, Iterator[E], GroupState[S]) => Iterator[O]):
      (K, Iterator[E], GroupState[CepStateEnvelope]) => Iterator[O] =
    (k: K, it: Iterator[E], gs: GroupState[CepStateEnvelope]) =>
      fn(k, it, new VersionedStateView[S](gs, version, what))
}

/** Shared [[GroupState]] view scaffolding for envelope-typed state:
  * subclasses supply the decode (checks run on every read) and encode
  * (stamps run on every write); everything else delegates, so
  * lazy-update semantics pass straight through to the underlying
  * GroupState (whose changes Spark commits on output exhaustion). */
private[streaming] abstract class EnvelopeStateView[Env, S](
    u: GroupState[Env]) extends GroupState[S] {
  protected def decode(e: Env): S
  protected def encode(s: S): Env
  def exists: Boolean = u.exists
  def get: S = decode(u.get)
  def getOption: Option[S] = u.getOption.map(decode)
  def update(s: S): Unit = u.update(encode(s))
  def remove(): Unit = u.remove()
  def hasTimedOut: Boolean = u.hasTimedOut
  def setTimeoutDuration(ms: Long): Unit = u.setTimeoutDuration(ms)
  def setTimeoutDuration(d: String): Unit = u.setTimeoutDuration(d)
  def setTimeoutTimestamp(ms: Long): Unit = u.setTimeoutTimestamp(ms)
  def setTimeoutTimestamp(ms: Long, d: String): Unit =
    u.setTimeoutTimestamp(ms, d)
  def setTimeoutTimestamp(t: java.sql.Date): Unit = u.setTimeoutTimestamp(t)
  def setTimeoutTimestamp(t: java.sql.Date, d: String): Unit =
    u.setTimeoutTimestamp(t, d)
  def getCurrentWatermarkMs(): Long = u.getCurrentWatermarkMs()
  def getCurrentProcessingTimeMs(): Long = u.getCurrentProcessingTimeMs()
}

/** [[GroupState]] view decoding/encoding the envelope at the access
  * boundary (the version check runs on every read). */
private[streaming] final class VersionedStateView[S](
    u: GroupState[CepStateEnvelope], version: Int, what: String)
    extends EnvelopeStateView[CepStateEnvelope, S](u) {
  protected def decode(e: CepStateEnvelope): S =
    CepStateCodec.dec[S](e, version, what)
  protected def encode(s: S): CepStateEnvelope =
    CepStateCodec.enc(version, s)
}
