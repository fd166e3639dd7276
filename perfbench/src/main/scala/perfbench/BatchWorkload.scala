package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import perfbench.Harness.{Args, timed}

/** The batch workload: a closed loop with one client that calls the
  * mix's `SparkEntry.queries` lambdas (named on the command line, from
  * `spec.py`) round-robin and forces each result with `count()`, clearing
  * the session's cache after every execution (the query-module cache
  * contract). */
object BatchWorkload {
  /** Seconds of untimed passes between the set-ups and the timed window. */
  val WarmUpS = 5.0

  /** The engine module each query's code lives in. */
  def layer(q: String): String =
    if (q.startsWith("qg")) "graph"
    else if (q.startsWith("qc")) "streaming"
    else if (Seq("qp", "qt", "qe", "qm").exists(q.startsWith)) "pipeline"
    else "operators"

  /** One execution in a timed window. Phase times are only split in the
    * traced window; `counters` is null when untraced. */
  final case class Exec(name: String, ok: Boolean, rows: Long, totalS: Double,
      buildS: Double, planS: Double, execS: Double, clearS: Double,
      counters: Counters)

  def run(a: Args): (Seq[(String, Any)], SparkSession) = {
    val names = a.queries
    val fns = graft.SparkEntry.queries
    // Set-up: session start to the end of one warm pass over the mix,
    // three times (the last session stays up for the timed window). The
    // first, cold pass writes each query's result for the oracle check
    // instead of counting it. It is always the slowest, so the median of
    // the three is the slower warm set-up.
    var spark: SparkSession = null
    val setups = (1 to 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val (s, sessionS) = timed(graft.Engine.session(a.cores))
      spark = s
      names.foreach { n =>
        val df = fns(n)(spark, a.dataDir)
        if (i == 1) df.coalesce(1).write.parquet(s"${a.outDir}/q/$n")
        else df.count()
        spark.catalog.clearCache()
      }
      Harness.phase("setup")
      ((System.nanoTime() - t0) / 1e9, sessionS)
    }

    // Whole passes over the mix only, so every query weighs the same in
    // the pooled latency quantiles: a pass starts while the window is
    // open, and the window closes when its last pass ends.
    def window(seconds: Double, tracer: Option[Tracer]): (Seq[Exec], Double) = {
      val out = Seq.newBuilder[Exec]
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < end) {
        names.foreach { n =>
          out += execute(spark, n, fns(n), a.dataDir, tracer, i)
          i += 1
        }
      }
      (out.result(), (System.nanoTime() - t0) / 1e9)
    }

    // Warm-up: after the set-ups the JIT is still compiling the engine's
    // hot paths (pass times fell by up to a third across a 10 s window
    // without it), so whole passes run untimed first.
    window(WarmUpS, None)
    Harness.phase("warm-up")

    val (plain, plainS, traced) =
      if (!a.trace) { val (e, s) = window(a.seconds, None); (e, s, Nil) }
      else {
        val (e, s) = window(a.seconds / 2, None)
        val tracer = new Tracer(spark.sparkContext)
        tracer.start()
        val (t, _) = window(a.seconds / 2, Some(tracer))
        tracer.stop()
        tracer.writeSpans(a.outDir)
        (e, s, t)
      }

    Harness.phase("window")
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(a.outDir, "oracle.json"),
      Json.obj(names.map(n => n -> oracle.getOrElse(n, null))))

    val all = plain ++ traced
    val perQuery = names.map { n =>
      val es = all.filter(_.name == n)
      n -> Map("runs" -> es.size, "failed" -> es.count(!_.ok),
        "window_runs" -> plain.count(e => e.ok && e.name == n),
        "rows" -> es.filter(_.ok).map(_.rows).distinct,
        "seconds" -> es.filter(_.ok).map(_.totalS))
    }
    val fields = Seq(
      "setup_s_samples" -> setups.map(_._1),
      "window_s" -> plainS,
      "query_s" -> plain.filter(_.ok).map(_.totalS),
      "executions" -> perQuery.toMap) ++
      (if (a.trace) Seq("per_layer" -> perLayer(a, setups.map(_._2), plain,
        traced)) else Nil)
    (fields, spark)
  }

  private def execute(spark: SparkSession, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      dir: String, tracer: Option[Tracer], i: Int): Exec = {
    try {
      val e = tracer match {
        case None =>
          val t0 = System.nanoTime()
          val rows = fn(spark, dir).count()
          Exec(name, ok = true, rows, (System.nanoTime() - t0) / 1e9,
            0, 0, 0, 0, null)
        case Some(t) =>
          val tag = s"$name#$i"
          // `count()` is an action on `groupBy().count()`: plan that
          // Dataset, then run the plan just made
          val ((rows, b, p, x), top) = t.tagged(tag) {
            t.span(s"q.$name") {
              val (df, b) = t.span("build")(fn(spark, dir))
              val agg = df.groupBy().count()
              val (_, p) = t.span("plan")(agg.queryExecution.executedPlan)
              val (rows, x) = t.span("exec")(agg.collect()(0).getLong(0))
              (rows, b, p, x)
            }
          }
          val c = t.take(tag)
          t.attachExecutionIds(top, c.executionIds)
          Exec(name, ok = true, rows, top.seconds, b.seconds, p.seconds,
            x.seconds, 0, c)
      }
      val (_, clearS) = timed(spark.catalog.clearCache())
      e.copy(clearS = clearS)
    } catch { case ex: Throwable =>
      System.err.println(s"[perfbench] $name failed: ${ex.getMessage}")
      spark.catalog.clearCache()
      Exec(name, ok = false, -1, 0, 0, 0, 0, 0, null)
    }
  }

  /** The per-layer metrics of a traced run, keyed by metric name. Layers
    * and queries this workload does not run are absent. */
  private def perLayer(a: Args, sessionS: Seq[Double], plain: Seq[Exec],
      traced: Seq[Exec]): Map[String, Double] = {
    import Stats.median
    val ok = traced.filter(_.ok)
    val m = Map.newBuilder[String, Double]
    val byQuery = ok.groupBy(_.name)
    def med(es: Seq[Exec], f: Exec => Double) = median(es.map(f))
    byQuery.foreach { case (n, es) =>
      m += s"q.$n.exec_s" -> med(es, _.execS)
      m += s"q.$n.jobs" -> med(es, _.counters.jobs.toDouble)
      m += s"q.$n.shuffle_records" -> med(es, _.counters.shuffleRecords.toDouble)
    }
    ok.groupBy(e => layer(e.name)).foreach { case (l, es) =>
      val qs = es.groupBy(_.name).values.toSeq
      def sum(f: Exec => Double) = qs.map(med(_, f)).sum
      m += s"$l.build_s" -> sum(_.buildS)
      m += s"$l.plan_s" -> sum(_.planS)
      m += s"$l.exec_s" -> sum(_.execS)
      m += s"$l.jobs" -> sum(_.counters.jobs.toDouble)
      m += s"$l.tasks" -> sum(_.counters.tasks.toDouble)
      m += s"$l.task_cpu_s" -> sum(_.counters.taskCpuNs / 1e9)
      m += s"$l.shuffle_bytes" -> sum(_.counters.shuffleBytes.toDouble)
      m += s"$l.shuffle_records" -> sum(_.counters.shuffleRecords.toDouble)
      m += s"$l.spill_bytes" -> sum(_.counters.spillBytes.toDouble)
      m += s"$l.scan_rows" -> sum(_.counters.scanRows.toDouble)
      // over the whole query call: graph rounds run their jobs while the
      // lambda builds the plan, not in the final action
      m += s"$l.busy_ratio" -> es.map(_.counters.taskRunMs / 1e3).sum /
        (es.map(_.totalS).sum * a.cores)
    }
    m += "Engine.session_s" -> median(sessionS)
    m += "Engine.clear_cache_s" -> median(ok.map(_.clearS))
    m += "trace.overhead_query_s_p50" ->
      (median(ok.map(_.totalS)) - median(plain.filter(_.ok).map(_.totalS)))
    m.result()
  }
}
