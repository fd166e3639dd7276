package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.{Cep, StreamOps}
import perfbench.Harness.{Args, timed}

/** One event of the stream. `created_ms` is the wall time the generator
  * handed it to the engine. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, created_ms: Long)

/** A view or error event as the CEP pattern sees it (event time in ms). */
final case class CepEv(event_id: Long, tsm: Long, user_id: Long,
    is_view: Boolean, created_ms: Long)

/** stream-ingest: an open-loop generator replays the seeded event log on its
  * send schedule into three streaming queries over the same events — an
  * event-time tumbling count per user, qc1's view→error CEP pattern run
  * incrementally by `Cep.matchStream`, and `StreamOps.dedupWithinWatermark`
  * — then checks what they emitted against the engine's batch run of the
  * same operators over the whole log. */
object StreamWorkload {
  val Ops: Seq[String] = Seq("window", "cep", "dedup")
  val WatermarkDelay = "2 minutes"
  val WithinMs: Long = 3600L * 1000
  val TickMs = 100L
  /** Event types by the log's type code. */
  val Types: IndexedSeq[String] =
    IndexedSeq("view", "error", "click", "purchase", "signup")

  /** One event of the log with its send times, in ms from the start of the
    * measured stream. */
  final case class Scheduled(dueMs: Long, cepDueMs: Long, phase: Int,
      kind: Int, ev: Ev)

  /** What a sink saw: the emission wall time of each row's batch, and the
    * row's creation time of its last contributing event. */
  final class Sink {
    val rows = new ConcurrentLinkedQueue[(Long, Row)]()
  }

  /** Streaming progress as received, with the generator's count then. */
  final class Progress(generated: AtomicLong) extends StreamingQueryListener {
    val seen = new ConcurrentLinkedQueue[(String, StreamingQueryProgress, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = e.progress
      seen.add((b.name, b, generated.get()))
      System.err.println(s"[perfbench] ${b.name} batch ${b.batchId} " +
        s"rows ${b.numInputRows} ms ${b.durationMs.get("triggerExecution")} " +
        s"at ${b.timestamp}")
    }
    def of(op: String): Seq[(StreamingQueryProgress, Long)] =
      seen.asScala.filter(_._1 == op).map(x => (x._2, x._3)).toSeq
        .sortBy(_._1.batchId)
  }

  /** The three queries of one start, with their input streams and sinks. */
  final class Queries(spark: SparkSession, ckpt: String) {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val inputs: Map[String, MemoryStream[Ev]] =
      Ops.map(_ -> MemoryStream[Ev]).toMap
    val sinks: Map[String, Sink] = Ops.map(_ -> new Sink).toMap
    private def events(op: String) =
      inputs(op).toDS().withWatermark("ts", WatermarkDelay)

    /** The three operator plans: the query lambdas the benchmark times. */
    def build(): Map[String, DataFrame] = Map(
      "window" -> events("window")
        .groupBy(col("user_id"), StreamOps.tumble(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("n"), max("created_ms").as("created_ms"))
        .select(col("user_id"), unix_millis(col("w.start")).as("start_ms"),
          col("n"), col("created_ms")),
      "cep" -> cep(events("cep").toDF(), stream = true),
      "dedup" -> StreamOps.dedupWithinWatermark(events("dedup").toDF(),
        Seq("event_id")).select("event_id", "created_ms"))

    def start(plans: Map[String, DataFrame]): Seq[StreamingQuery] = Ops.map { op =>
      val sink = sinks(op)
      plans(op).writeStream.queryName(op).outputMode("append")
        .option("checkpointLocation", s"$ckpt/$op")
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          val rows = df.collect()
          val now = System.currentTimeMillis()
          rows.foreach(r => sink.rows.add((now, r)))
        }.start()
    }

    def add(evs: Seq[Ev]): Unit = inputs.values.foreach(_.addData(evs))
  }

  /** qc1's pattern: a view followed by an error of the same user within an
    * hour (event time in ms). Emits (user, view ms, error ms, created). */
  def cep(events: DataFrame, stream: Boolean): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // `ts` stays in the rows (unused by the pattern) so the stream keeps
    // its watermark through to the keyed state
    val ds = events.where("event_type IN ('view', 'error')")
      .selectExpr("event_id", "unix_millis(ts) AS tsm", "user_id",
        "event_type = 'view' AS is_view", "created_ms", "ts")
      .as[CepEv]
    val pattern = Cep.Pattern.begin[CepEv]("view")(_.is_view)
      .followedBy("error")(!_.is_view)
      .within(WithinMs)
    val finish = (u: Long, m: Map[String, CepEv]) =>
      (u, m("view").tsm, m("error").tsm,
        math.max(m("view").created_ms, m("error").created_ms))
    val key = (e: CepEv) => e.user_id
    val ts = (e: CepEv) => e.tsm
    val tie = (e: CepEv) => e.event_id
    (if (stream) Cep.matchStream(ds, key, ts, pattern, tie = tie)(finish)
     else Cep.matchBatch(ds, key, ts, pattern, tie = tie)(finish))
      .toDF("user_id", "view_ms", "error_ms", "created_ms")
  }

  def run(a: Args): (Seq[(String, Any)], SparkSession) = {
    val generated = new AtomicLong()
    var spark: SparkSession = null
    var progress: Progress = null
    val (log, refMs) = loadLog(a)
    Harness.phase("load")
    val warm = log.filter(_.phase == 0).map(_.ev)
    var starts = 0
    def ckpt() = { starts += 1; s"${a.outDir}/ckpt/$starts" }

    // Set-up: session start to every query's first committed micro-batch,
    // three times; the last session stays up for the measured stream.
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val (s, sessionS) = timed(graft.Engine.session(a.cores))
      spark = s
      progress = new Progress(generated)
      spark.streams.addListener(progress)
      val p = new Queries(spark, ckpt())
      val qs = p.start(p.build())
      p.add(warm)
      qs.foreach(_.processAllAvailable())
      val setupS = (System.nanoTime() - t0) / 1e9
      qs.foreach(_.stop())
      Harness.phase("setup")
      (setupS, sessionS)
    }
    progress.seen.clear()

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    def span[T](name: String)(f: => T): T =
      tracer.fold(f)(_.span(name)(f)._1)
    val p = new Queries(spark, ckpt())
    val (plans, buildS) = timed(span("stream.build")(p.build()))
    spark.sparkContext.setLocalProperty(Tracer.TagKey, "stream")
    val queries = p.start(plans)
    spark.sparkContext.setLocalProperty(Tracer.TagKey, null)

    // late events wait for two committed batches with data per query: the
    // watermark that drops late rows is the one from two batches back
    var isReady = false
    val ready = () => {
      isReady ||= Ops.forall(op => progress.of(op).count(_._1.numInputRows > 0) >= 2)
      isReady
    }
    val gen = new Generator(log.filter(_.phase > 0), p, generated, ready,
      // the tracer counts the second half of the reference phase only
      onPhaseMs = Map(refMs / 2 -> (() => tracer.foreach(_.start())),
        refMs -> (() => tracer.foreach(_.stop()))))
    val t0 = System.currentTimeMillis()
    span("stream.generate")(gen.run())
    val endMs = System.currentTimeMillis()
    Harness.phase("stream")
    val tracedCounters = tracer.map(_.take("stream"))
    // Drain, then advance every watermark past the log so all windows
    // close: the second flush event's batch runs with the first's watermark.
    span("stream.drain") {
      queries.foreach(_.processAllAvailable())
      val maxTs = log.map(_.ev.ts.getTime).max
      Seq(1, 2).foreach { i =>
        p.add(Seq(Ev(-i, new Timestamp(maxTs + i * 86400000L), -1, "flush", 0,
          System.currentTimeMillis())))
        queries.foreach(_.processAllAvailable())
      }
      queries.foreach(_.stop())
    }
    Harness.phase("drain")
    val checks = span("stream.check")(check(spark, a, log, p, progress))
    Harness.phase("check")
    tracer.foreach(_.writeSpans(a.outDir))
    val latency = latencies(p, t0, t0 + refMs)
    val fields = Seq(
      "setup_s_samples" -> setups.map(_._1),
      "latency_ms" -> latency.map(_._2),
      "sustainable_eps" -> sustainableEps(progress, t0 + refMs, endMs),
      "checks" -> checks) ++
      (if (a.trace) Seq("per_layer" -> perLayer(a, setups.map(_._2), p,
        progress, gen, t0, refMs, buildS, latency, tracedCounters.get))
       else Nil)
    (fields, spark)
  }

  /** The event log as `gen.stream_log` wrote it, in (phase, due, id)
    * order, with the reference phase's length in ms. */
  private def loadLog(a: Args): (IndexedSeq[Scheduled], Long) = {
    val src = scala.io.Source.fromFile(s"${a.dataDir}/events.tsv")
    try {
      val lines = src.getLines()
      val refMs = lines.next().drop(1).split('\t').head.toLong
      val log = lines.map { line =>
        val f = line.split('\t')
        Scheduled(f(5).toLong, f(6).toLong, f(7).toInt, f(8).toInt,
          Ev(f(0).toLong, new Timestamp(f(1).toLong), f(2).toLong,
            Types(f(3).toInt), f(4).toDouble, 0L))
      }.toIndexedSeq
      (log, refMs)
    } finally src.close()
  }

  /** Sends the log on its schedule by its own clock, never waiting on the
    * engine: every TickMs it hands over all events due by then (one
    * MemoryStream block per tick, so a micro-batch reads a few large
    * partitions rather than many tiny ones). The window and dedup queries
    * get each event at its `due_ms`; the CEP query at its `cep_due_ms`.
    * Every copy carries the event's scheduled creation time. Planted late
    * events wait until `ready()`, so the engine holds a watermark when
    * they arrive. */
  final class Generator(log: IndexedSeq[Scheduled], p: Queries,
      generated: AtomicLong, ready: () => Boolean,
      onPhaseMs: Map[Long, () => Unit]) {
    private val due = log.map(_.dueMs).toArray
    private val cepDue = log.map(_.cepDueMs).toArray
    private val cepOrder = log.indices.filter(log(_).kind != 2)
      .sortBy(i => (cepDue(i), log(i).ev.ts.getTime, log(i).ev.event_id)).toArray
    private val created = Array.fill(log.size)(-1L)
    /** How late each tick was handed over, in ms past its scheduled time. */
    val lagMs = mutable.ArrayBuffer.empty[Long]

    def run(): Unit = {
      val t0 = System.currentTimeMillis()
      var i, j = 0
      var tick = 0L
      var held = List.empty[Int]
      var hooks = onPhaseMs.toSeq.sortBy(_._1)
      while (i < due.length || j < cepOrder.length || held.nonEmpty) {
        tick += TickMs
        val wait = t0 + tick - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        while (hooks.nonEmpty && hooks.head._1 <= tick) { hooks.head._2(); hooks = hooks.tail }
        val now = System.currentTimeMillis()
        val raw = mutable.ArrayBuffer.empty[Int]
        while (i < due.length && due(i) < tick) {
          if (log(i).kind == 2) held ::= i else raw += i
          i += 1
        }
        // (and at the end of the log, ready or not: a late event the engine
        // then keeps shows up in the late-drop check)
        if (held.nonEmpty && (ready() || i == due.length)) {
          raw ++= held.reverse
          held = Nil
        }
        // an event is created at its scheduled time: a late tick's wait
        // counts in its latency
        raw.foreach(k => created(k) = t0 + due(k))
        val late = raw.filter(log(_).kind == 2)
        val cep = mutable.ArrayBuffer.empty[Int]
        while (j < cepOrder.length && cepDue(cepOrder(j)) < tick) {
          cep += cepOrder(j)
          j += 1
        }
        def evs(ix: Iterable[Int]) = ix.map(k => log(k).ev.copy(created_ms = created(k))).toSeq
        if (raw.nonEmpty) Seq("window", "dedup").foreach(p.inputs(_).addData(evs(raw)))
        if (cep.nonEmpty || late.nonEmpty) p.inputs("cep").addData(evs(cep ++ late))
        generated.addAndGet(raw.size)
        lagMs += now - (t0 + tick)
      }
    }
  }

  /** (creation ms, latency ms) of every result whose last contributing
    * event was created in [from, to): the reference phase. */
  private def latencies(p: Queries, from: Long, to: Long): Seq[(Long, Double)] =
    Ops.flatMap { op =>
      p.sinks(op).rows.asScala.iterator.flatMap { case (emit, r) =>
        val created = r.getAs[Long]("created_ms")
        if (created >= from && created < to) Some((created, (emit - created).toDouble))
        else None
      }
    }

  /** The slowest query's processing rate while the generator sends above
    * capacity: input rows over busy time of the batches that started
    * inside the overload phase. */
  private def sustainableEps(progress: Progress, from: Long, to: Long): Double =
    Ops.map { op =>
      val bs = progress.of(op).map(_._1).filter { b =>
        val start = java.time.Instant.parse(b.timestamp).toEpochMilli
        start >= from && start < to && b.numInputRows > 0
      }
      bs.map(_.numInputRows).sum.toDouble /
        math.max(bs.map(_.durationMs.get("triggerExecution").toLong).sum, 1L) * 1000
    }.min

  /** Streamed outputs against the engine's batch run of the same
    * operators over the whole log, plus the late-drop counts. */
  private def check(spark: SparkSession, a: Args, log: Seq[Scheduled],
      p: Queries, progress: Progress): Map[String, Any] = {
    val all = graft.Engine.table(spark, a.dataDir, "events")
      .where("phase > 0 AND kind < 2").withColumn("created_ms", lit(0L))
    val expected: Map[String, Seq[String]] = Map(
      "window" -> all.groupBy(col("user_id"),
          StreamOps.tumble(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_millis(col("w.start")), col("n")),
      "cep" -> cep(all, stream = false).drop("created_ms"),
      "dedup" -> StreamOps.dedup(all, Seq("event_id")).select("event_id")
    ).map { case (op, df) => op -> df.collect().map(_.toSeq.mkString(",")).toSeq }
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    Ops.foreach { op =>
      val got = mutable.Map.empty[String, Int].withDefaultValue(0)
      // the sinks hold the flush events' own results too: skip user -1
      sinkRows(p, op).filter(r => r.getLong(0) >= 0)
        .foreach(r => got(r.toSeq.init.mkString(",")) += 1)
      val want = mutable.Map.empty[String, Int].withDefaultValue(0)
      expected(op).foreach(k => want(k) += 1)
      val diff = (got.keySet ++ want.keySet).toSeq
        .map(k => math.abs(got(k) - want(k))).sum
      attempted += want.values.sum
      failed += diff
      if (diff > 0) {
        val some = (got.keySet ++ want.keySet).toSeq.filter(k => got(k) != want(k))
          .sorted.take(3).map(k => s"$k: ${got(k)} streamed, ${want(k)} expected")
        problems += s"$op: $diff results differ from the batch run " +
          s"(${got.values.sum} streamed, ${want.values.sum} expected; " +
          some.mkString("; ") + ")"
      }
    }
    val planted = log.count(_.kind == 2)
    val plantedViews = log.count(s => s.kind == 2 && s.ev.event_type == "view")
    Seq("window" -> planted, "dedup" -> planted, "cep" -> plantedViews)
      .foreach { case (op, want) =>
        attempted += 1
        val got = lateDropped(progress, op)
        if (got != want) {
          failed += 1
          problems += s"$op: late_dropped $got, planted $want"
        }
      }
    Map("attempted" -> attempted, "failed" -> failed, "problems" -> problems.toSeq)
  }

  private def sinkRows(p: Queries, op: String): Seq[Row] =
    p.sinks(op).rows.asScala.map(_._2).toSeq

  /** Rows the operator dropped as behind the watermark, over the run. */
  private def lateDropped(progress: Progress, op: String): Long =
    progress.of(op).map(_._1.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum

  private def perLayer(a: Args, sessionS: Seq[Double], p: Queries,
      progress: Progress, gen: Generator, t0: Long, refMs: Long,
      buildS: Double, latency: Seq[(Long, Double)], c: Counters): Map[String, Double] = {
    import Stats.median
    val m = Map.newBuilder[String, Double]
    def inRef(b: StreamingQueryProgress) = {
      val s = java.time.Instant.parse(b.timestamp).toEpochMilli
      s >= t0 && s < t0 + refMs && b.numInputRows > 0
    }
    def dur(b: StreamingQueryProgress, k: String) =
      Option(b.durationMs.get(k)).map(_.toLong).getOrElse(0L) / 1e3
    var batchSum, planSum = 0.0
    var nBatches = 0
    val backlog = mutable.ArrayBuffer.empty[Double]
    val getBatch = mutable.ArrayBuffer.empty[Double]
    Ops.foreach { op =>
      val all = progress.of(op)
      val ref = all.filter(x => inRef(x._1))
      val bs = ref.map(_._1)
      nBatches += all.count(x => inRef(x._1) && java.time.Instant.parse(x._1.timestamp)
        .toEpochMilli >= t0 + refMs / 2)
      val batchS = median(bs.map(dur(_, "triggerExecution")))
      batchSum += batchS
      planSum += median(bs.map(dur(_, "queryPlanning")))
      m += s"streaming.$op.batch_s_p50" -> batchS
      m += s"streaming.$op.add_batch_s" -> median(bs.map(dur(_, "addBatch")))
      val last = bs.lastOption.toSeq.flatMap(_.stateOperators)
      m += s"streaming.$op.state_rows" -> last.map(_.numRowsTotal).sum.toDouble
      m += s"streaming.$op.state_bytes" -> last.map(_.memoryUsedBytes).sum.toDouble
      m += s"streaming.$op.state_commit_s" ->
        median(bs.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3))
      m += s"streaming.$op.late_dropped" -> lateDropped(progress, op).toDouble
      m += s"streaming.$op.rows_out" -> sinkRows(p, op).size.toDouble
      var processed = 0L
      all.foreach { case (b, gen) =>
        processed += b.numInputRows
        if (inRef(b)) backlog += (gen - processed).toDouble
      }
      bs.foreach(b => getBatch += dur(b, "latestOffset") + dur(b, "getBatch"))
    }
    val half = t0 + refMs / 2
    val (late, early) = latency.partition(_._1 >= half)
    m += "streaming.build_s" -> buildS
    m += "streaming.plan_s" -> planSum
    m += "streaming.exec_s" -> batchSum
    val per = math.max(nBatches, 1).toDouble
    m += "streaming.jobs" -> c.jobs / per
    m += "streaming.tasks" -> c.tasks / per
    m += "streaming.task_cpu_s" -> c.taskCpuNs / 1e9 / per
    m += "streaming.shuffle_bytes" -> c.shuffleBytes / per
    m += "streaming.shuffle_records" -> c.shuffleRecords / per
    m += "streaming.spill_bytes" -> c.spillBytes / per
    m += "streaming.scan_rows" -> c.scanRows / per
    m += "streaming.busy_ratio" -> c.taskRunMs / 1e3 / (refMs / 2 / 1e3 * a.cores)
    m += "streaming.ingest.backlog_rows" -> median(backlog.toSeq)
    m += "streaming.ingest.get_batch_s" -> median(getBatch.toSeq)
    m += "generator.lag_ms" -> gen.lagMs.max.toDouble
    m += "Engine.session_s" -> median(sessionS)
    m += "trace.overhead_latency_ms_p50" ->
      (median(late.map(_._2)) - median(early.map(_._2)))
    m.result()
  }
}
