package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call the benchmark made, as seen from outside graft. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into graft, kept in memory. A span
  * name is `<layer>.<call>`; the per-layer metric `<name>_s` is its self
  * time. With `enabled` false a span only runs its body. The benchmark
  * has one client thread, so one stack gives every span its parent. */
final class Tracer(var enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  var op: Int = -1
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }
}

object Tracer {
  /** Self time of every span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** Spark's side of every operation: jobs, stages, tasks and the
  * QueryPlanningTracker phases, recorded raw on the listener thread and
  * attributed to operations once the bus is drained. Jobs tagged with an
  * operation's job group belong to it; untagged jobs (streaming runs its
  * own group) belong to the operation whose time window holds them. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  final case class Job(group: String, timeMs: Long, stages: Seq[Int])
  final case class Stage(tasks: Int, inputBytes: Long, shuffleReadBytes: Long)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      delayMs: Long, input: Long, shWrite: Long, shRead: Long, spill: Long,
      output: Long)
  final case class Query(startMs: Long, analysisMs: Long, optimizeMs: Long,
      physicalMs: Long, execNs: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]
  val tasks = ArrayBuffer.empty[Task]
  val queries = ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(g, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) = Stage(i.numTasks,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, delay, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.get("analysis").orElse(ph.values.headOption)
      .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    queries += Query(start, ms("analysis"), ms("optimization"), ms("planning"),
      durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Per-operation sums of every counter, for the operations in `windows`. */
  def byOp(windows: Seq[(Int, Long, Long)]): Map[Int, OpSpark] = synchronized {
    val sorted = windows.sortBy(_._2).toIndexedSeq
    def atTime(t: Long): Option[Int] = sorted.find { case (_, a, b) =>
      t >= a && t <= b }.map(_._1)
    val jobOp: Seq[(Job, Option[Int])] = jobs.toSeq.map { j =>
      val tagged = if (j.group.startsWith("perfbench-"))
        j.group.stripPrefix("perfbench-").toIntOption else None
      j -> tagged.orElse(atTime(j.timeMs))
    }
    val stageOp: Map[Int, Int] = jobOp.collect { case (j, Some(o)) =>
      j.stages.map(_ -> o) }.flatten.toMap
    val acc = mutable.Map.empty[Int, OpSpark]
    def get(o: Int) = acc.getOrElseUpdate(o, new OpSpark)
    jobOp.foreach { case (_, o) => o.foreach(get(_).jobs += 1) }
    stages.foreach { case (id, s) => stageOp.get(id).foreach { o =>
      val a = get(o)
      a.stages += 1
      a.stageTasks += s.tasks
      a.stageBytes += s.inputBytes + s.shuffleReadBytes
    } }
    tasks.foreach { t => stageOp.get(t.stage).foreach { o =>
      val a = get(o)
      a.tasks += 1; a.runMs += t.runMs; a.cpuNs += t.cpuNs; a.gcMs += t.gcMs
      a.delayMs += t.delayMs; a.input += t.input; a.shWrite += t.shWrite
      a.shRead += t.shRead; a.spill += t.spill; a.output += t.output
    } }
    queries.foreach { q => atTime(q.startMs).foreach { o =>
      val a = get(o)
      a.analysisMs += q.analysisMs; a.optimizeMs += q.optimizeMs
      a.physicalMs += q.physicalMs; a.execNs += q.execNs
    } }
    acc.toMap
  }
}

/** Spark counters summed over one operation. */
final class OpSpark {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var input, shWrite, shRead, spill, output = 0L
  var analysisMs, optimizeMs, physicalMs, execNs = 0L
  val stageTasks = ArrayBuffer.empty[Int]
  val stageBytes = ArrayBuffer.empty[Long]
}
