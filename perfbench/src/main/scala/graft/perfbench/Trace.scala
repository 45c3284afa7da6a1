package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is a timed region of the benchmark's own code around one layer
  * call, with a parent, so a span's self time is its duration minus its
  * children's. Spans are only kept when tracing is on; the untraced run
  * pays one branch per call. Everything is written out once, at the end.
  */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val t0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](0)
  private var next = 1
  /** Nanoseconds spent inside the recorder and the listeners. */
  val overheadNs = new java.util.concurrent.atomic.AtomicLong()

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Id of the innermost open span (0 at the root). */
  def current: Int = stack.top

  /** Time `f`; when tracing, record it as a child of the enclosing span. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(f: => T): T = {
    if (!on) return f
    val a = System.nanoTime()
    val id = spans.synchronized { val id = next; next += 1; id }
    val parent = stack.top
    stack.push(id)
    val start = nowMs
    overheadNs.addAndGet(System.nanoTime() - a)
    try f finally {
      val b = System.nanoTime()
      stack.pop()
      spans.synchronized { spans += Span(id, parent, name, start, nowMs - start, attrs) }
      overheadNs.addAndGet(System.nanoTime() - b)
    }
  }

  /** Record a span measured elsewhere (a micro-batch phase read from a
    * progress report), under `parent` or the root. Safe to call from any
    * thread. */
  def record(name: String, startEpochMs: Double, durMs: Double,
             parent: Int = -1, attrs: Map[String, Any] = Map.empty): Int = {
    if (!on) return 0
    val a = System.nanoTime()
    val id = spans.synchronized {
      val id = next; next += 1
      spans += Span(id, if (parent >= 0) parent else 0, name,
                    startEpochMs - epoch0, durMs, attrs)
      id
    }
    overheadNs.addAndGet(System.nanoTime() - a)
    id
  }

  def toJson: Seq[Map[String, Any]] = spans.synchronized(spans.toSeq).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "attrs" -> s.attrs)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                        durMs: Double, attrs: Map[String, Any])
}

/** Per-tag Spark job/task counters. The main thread tags each layer call
  * with the `perfbench.span` local property; jobs inherit it (streaming
  * threads included), and tasks are attributed through their stage. */
final class LayerListener(trace: Trace) extends SparkListener {
  final class Acc {
    var jobs = 0; var tasks = 0; var failedTasks = 0
    var taskNs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  val byTag = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def acc(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)

  private def timed(f: => Unit): Unit = {
    val a = System.nanoTime()
    try f finally trace.overheadNs.addAndGet(System.nanoTime() - a)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(LayerListener.Prop))).getOrElse("untagged")
    acc(tag).synchronized { acc(tag).jobs += 1 }
    e.stageInfos.foreach(si => stageTag.put(si.stageId, tag))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val tag = Option(stageTag.get(e.stageId)).getOrElse("untagged")
    val a = acc(tag)
    a.synchronized {
      a.tasks += 1
      if (!e.taskInfo.successful) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskNs += m.executorRunTime * 1000000L
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    byTag.asScala.map { case (k, a) =>
      k -> Map[String, Any]("jobs" -> a.jobs, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "task_s" -> a.taskNs / 1e9,
        "shuffle_write_bytes" -> a.shuffleWrite, "spill_bytes" -> a.spill)
    }.toMap
  }
}

object LayerListener {
  val Prop = "perfbench.span"
}
