package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Work counted for one tag: every job started while the tag was the
  * calling thread's `perfbench.tag` local property, and every task of
  * those jobs' stages. */
final class Counters {
  var jobs, tasks, taskCpuNs, taskRunMs, shuffleBytes, shuffleRecords,
    spillBytes, scanRows = 0L
  val executionIds: mutable.SortedSet[Long] = mutable.SortedSet.empty
}

/** A timed region: `parent` is the enclosing span's id (-1 at the top),
  * `executionIds` the SQL execution ids of the jobs run inside it. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, executionIds: Seq[Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's instrument: spans kept in memory, plus a
  * `SparkListener` that attributes job, task and shuffle counters to the
  * tag active when each job started. Registered by the benchmark only. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def start(): Unit = sc.addSparkListener(this)

  private def counters(tag: String) =
    byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
      .foreach { tag =>
        val c = counters(tag)
        c.synchronized {
          c.jobs += 1
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .foreach(id => c.executionIds += id.toLong)
        }
        e.stageIds.foreach(stageTag.put(_, tag))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) {
      val c = counters(tag)
      c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Runs `f` with its jobs attributed to `tag`. */
  def tagged[T](tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Tracer.TagKey)
    sc.setLocalProperty(Tracer.TagKey, tag)
    try f finally sc.setLocalProperty(Tracer.TagKey, prev)
  }

  /** Removes and returns the counters of `tag`, once every event posted
    * so far has been delivered. */
  def take(tag: String): Counters = {
    PerfbenchBus.drain(sc)
    Option(byTag.remove(tag)).getOrElse(new Counters)
  }

  /** Times `f` as a span nested in the currently open one. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = spans.size
    spans += null // reserve the id; filled when the span ends
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, name, t0, System.nanoTime(), parent, Nil)
      spans(id) = s
      (r, s)
    } finally open = open.tail
  }

  def attachExecutionIds(s: Span, ids: Iterable[Long]): Unit =
    spans(s.id) = s.copy(executionIds = ids.toSeq)

  def stop(): Unit = sc.removeSparkListener(this)

  /** Writes the spans to `dir/spans.jsonl`, one JSON object per line,
    * times in seconds from the first span's start. */
  def writeSpans(dir: String): Unit = {
    val done = spans.filter(_ != null)
    val origin = done.headOption.fold(0L)(_.startNs)
    val lines = done.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "start_s" -> (s.startNs - origin) / 1e9,
        "end_s" -> (s.endNs - origin) / 1e9, "parent" -> s.parent,
        "execution_ids" -> s.executionIds))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val TagKey = "perfbench.tag"
}
