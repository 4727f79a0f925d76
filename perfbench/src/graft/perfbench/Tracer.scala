package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * A span is one layer boundary the benchmark calls across: the op
  * itself, then construct / plan / execute (or a `lake.*` / `text.*`
  * call) beneath it. Spans carry parent ids, and every span that can
  * launch Spark work runs under its own job group, so the listener
  * attributes jobs, stages and task metrics to exactly one span. Nothing
  * is written until [[Tracer.writeJsonl]] at exit.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val startNs: Long) {
  var endNs: Long = 0L
  /** true for a probe recorded outside its op's interval */
  var detached: Boolean = false
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

final class Tracer(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  /** per job group: jobs, stages, tasks and their metrics */
  private final class Work {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var gcMs = 0L; var inputBytes = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val work = new ConcurrentHashMap[String, Work]()
  private def workOf(g: String): Work = work.computeIfAbsent(g, _ => new Work)

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
    g.foreach { group =>
      e.stageIds.foreach(groupOfStage.put(_, group))
      val w = workOf(group)
      w.synchronized { w.jobs += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(groupOfStage.get(e.stageInfo.stageId)).foreach { g =>
      val w = workOf(g)
      w.synchronized { w.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(groupOfStage.get(e.stageId)).foreach { g =>
      val w = workOf(g)
      val m = e.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.inputBytes += m.inputMetrics.bytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      }
    }

  /** Run `body` as a span named `name` under `parent`; the span's job
    * group is its own id, so Spark work it launches is counted here. */
  def span[T](name: String, parent: Option[Span], op: Int)(body: Span => T): T = {
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), op, name, System.nanoTime())
    spans += s
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
    }
  }

  /** Attach the listener's per-span work counters, then write one JSON
    * object per span. Waits for the listener bus first, so every task
    * of every traced job is counted. */
  def writeJsonl(path: String): Unit = {
    org.apache.spark.perfbench.BusDrain.drain(sc)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      Option(work.get(s"span-${s.id}")).foreach { w =>
        w.synchronized {
          s.counters ++= Seq(
            "jobs" -> w.jobs.toDouble, "stages" -> w.stages.toDouble,
            "tasks" -> w.tasks.toDouble, "task_ms" -> w.taskMs.toDouble,
            "gc_ms" -> w.gcMs.toDouble, "input_bytes" -> w.inputBytes.toDouble,
            "shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble,
            "spill_bytes" -> w.spillBytes.toDouble,
            "task_skew" -> Tracer.skew(w.taskMsByStage.values.map(_.toSeq).toSeq))
        }
      }
      val fields = Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "detached" -> s.detached.toString,
        "counters" -> Json.obj(s.counters.toSeq.map { case (k, v) => k -> Json.num(v) }))
      out.println(Json.obj(fields))
    }
    finally out.close()
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  /** Max over stages with at least two tasks of (max task ms ÷ median
    * task ms); 1.0 when no stage has two tasks. */
  def skew(stageTaskMs: Seq[Seq[Long]]): Double = {
    val ratios = stageTaskMs.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** Minimal JSON writer: the harness emits a handful of flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
