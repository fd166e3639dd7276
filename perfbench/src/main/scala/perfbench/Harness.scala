package perfbench

import java.nio.file.{Files, Paths}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Order statistics used by every workload. */
object Stats {
  /** The median, interpolated between the middle two of an even count. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}

/** Entry point of the benchmark JVM:
  * `Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  * [<query>,...]`, the queries being a batch workload's mix.
  *
  * Runs one workload against the engine and writes `result.json` (the
  * measured values, the timed-window result counts and the run metadata)
  * plus, for the batch workloads, each query's result as parquet under
  * `outDir/q` and the oracle SQL as `oracle.json`; traced runs also write
  * `spans.jsonl`. `run.py` checks the outputs and
  * prints the final line.
  */
object Harness {
  final case class Args(workload: String, dataDir: String, outDir: String,
      seconds: Double, trace: Boolean, cores: Int, queries: Seq[String])

  def main(argv: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, seconds, trace, cores) = argv.take(6)
    val a = Args(workload, dataDir, outDir, seconds.toDouble, trace == "1",
      cores.toInt, argv.drop(6).flatMap(_.split(",")).filter(_.nonEmpty).toSeq)
    Files.createDirectories(Paths.get(outDir))
    val sentinelBefore = sentinel(a.cores)
    val (fields, spark) = workload match {
      case "batch" => BatchWorkload.run(a)
      case "stream-ingest" => StreamWorkload.run(a)
      case other => sys.error(s"unknown workload $other")
    }
    val meta = Seq(
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "cores_used" -> a.cores,
      "sentinel_before_s" -> sentinelBefore,
      "sentinel_after_s" -> sentinel(a.cores))
    spark.stop()
    val all = fields ++ Seq("meta" -> meta.toMap,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(outDir, "result.json"), Json.obj(all))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** A fixed integer workload on `threads` threads at once, timed wall to
    * wall: its time depends only on the box, never on the engine. Recorded
    * before and after the run; it never adjusts or discards a result. */
  def sentinel(threads: Int): Double = {
    def spin(): Long = {
      var x = 0L
      var i = 0L
      while (i < 100000000L) { x = x * 6364136223846793005L + i; i += 1 }
      x
    }
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { if (spin() == 42) println("") }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private val t0 = System.nanoTime()

  /** Logs the end of a run phase, in seconds since the JVM started. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  /** Times `f` in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

}
