package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one job group (one benchmark span). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var gcMs = 0L
  var spillBytes = 0L
  /** executor run time of each task, grouped by stage */
  val taskMsByStage = scala.collection.mutable.LinkedHashMap.empty[Int, ArrayBuffer[Long]]
}

/** Attributes jobs, stages, tasks, bytes and GC time to the job group that
  * was set on the calling thread when each job started. Events arrive on
  * Spark's listener bus thread; readers call [[drain]] first.
  */
final class GroupListener extends SparkListener {
  /** the local property `SparkContext.setJobGroup` sets */
  private val JobGroupProperty = "spark.jobGroup.id"
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupProperty)))
    g.foreach { group =>
      e.stageIds.foreach(s => stageGroup.put(s, group))
      val st = stats(group)
      st.synchronized { st.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val st = stats(g)
      st.synchronized { st.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      val st = stats(g)
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.inputBytes += m.inputMetrics.bytesRead
          st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          st.gcMs += m.jvmGCTime
          st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          st.taskMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += m.executorRunTime
        }
      }
    }

  /** Wait until every job that started has been reported ended, so all of
    * its task events (posted before the job end) have been counted.
    */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < until) Thread.sleep(5)
    Thread.sleep(20)
  }

  def of(group: String): GroupStats = Option(groups.get(group)).getOrElse(new GroupStats)
}

/** One traced interval: a call into the library, or a group of calls. */
final class Span(val id: Int, val parent: Int, val request: Long, val name: String,
    val start: Long) {
  var end: Long = 0L
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def ms: Double = (end - start) / 1e6
  def group: String = s"perfbench-$id"
}

/** Span recorder for one single-threaded client. When disabled or off,
  * [[span]] only runs its body: no job groups, no records. The listener is
  * installed once when enabled; `on` switches recording per cycle.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener: GroupListener = if (enabled) new GroupListener else null
  if (enabled) sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val origin = System.nanoTime()
  var request: Long = 0L
  var on: Boolean = false

  def span[T](name: String)(f: => T): T =
    if (!enabled || !on) f
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), request, name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a number to the innermost open span. */
  def attr(key: String, v: Double): Unit = stack.headOption.foreach(_.attrs(key) = v)

  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.end > 0).toSeq

  def stats(s: Span): GroupStats = listener.of(s.group)

  /** Self time: a span's duration minus the time its direct children cover. */
  def selfNs(s: Span): Long =
    (s.end - s.start) - spans.filter(_.parent == s.id).map(c => c.end - c.start).sum

  def writeJson(path: java.io.File, header: String): Unit = {
    val sb = new StringBuilder
    sb.append("{").append(header).append(",\"spans\":[")
    spans.iterator.filter(_.end > 0).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val st = stats(s)
      sb.append(f"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""")
      sb.append("\"name\":").append(Json.str(s.name))
      sb.append(f""","start_ms":${(s.start - origin) / 1e6}%.3f,"end_ms":${(s.end - origin) / 1e6}%.3f""")
      sb.append(f""","self_ms":${selfNs(s) / 1e6}%.3f,"jobs":${st.jobs},"stages":${st.stages},""")
      sb.append(s""""tasks":${st.tasks},"input_bytes":${st.inputBytes},""")
      sb.append(s""""shuffle_write_bytes":${st.shuffleWriteBytes},"gc_ms":${st.gcMs}""")
      s.attrs.foreach { case (k, v) => sb.append(",").append(Json.str(k)).append(":").append(Json.num(v)) }
      sb.append("}")
    }
    sb.append("]}\n")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(sb.toString) finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
