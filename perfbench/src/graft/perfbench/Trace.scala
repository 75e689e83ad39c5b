package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, inputBytes = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): this.type = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; inputBytes += o.inputBytes
    intervals ++= o.intervals
    this
  }
}

/** A timed region around one call into the engine. Times are nanos and
  * epoch millis (the latter to line up with task launch/finish). */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus the benchmark's own SparkListener.
  *
  * Each open span sets the thread's Spark job group to its id, so every
  * job (and through it every stage and task) lands on the innermost span
  * that was open when the job was submitted. Counters are read per span
  * subtree after the listener bus drains. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val GroupPrefix = "perfbench-"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val own = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private var open = List.empty[Span]

  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), pass,
                 System.nanoTime(), System.currentTimeMillis())
    spans += s
    open ::= s
    sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None    => sc.clearJobGroup()
      }
    }
  }

  private def counters(id: Int): Counters = own.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(GroupPrefix)).foreach { g =>
      val id = g.stripPrefix(GroupPrefix).toInt
      synchronized {
        counters(id).jobs += 1
        e.stageIds.foreach(st => stageSpan(st) = id)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(stageSpan.get(e.stageInfo.stageId).foreach(counters(_).stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = counters(id)
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Counters of `s` and every span below it. */
  def inclusive(s: Span): Counters = {
    BusDrain(sc)
    val ids = mutable.Set(s.id)
    spans.iterator.drop(s.id + 1).foreach(x => if (ids(x.parent)) ids += x.id)
    synchronized {
      ids.foldLeft(new Counters)((acc, id) => own.get(id).fold(acc)(acc += _))
    }
  }

  def last(name: String): Span = spans.findLast(_.name == name).get

  def spans(name: String, pass: Int): Seq[Span] =
    spans.filter(s => s.name == name && s.pass == pass).toSeq

  /** Wall seconds of `s` not covered by the leaf spans below it. */
  def unaccounted(s: Span): Double = {
    val below = mutable.Set(s.id)
    val inner = spans.iterator.drop(s.id + 1).filter(x => below(x.parent))
      .map { x => below += x.id; x }.toSeq
    val leaves = inner.filterNot(x => inner.exists(_.parent == x.id))
    s.seconds - leaves.map(_.seconds).sum
  }

  /** Wall seconds of `s` during which no task of its subtree ran. */
  def idleSeconds(s: Span): Double = {
    val iv = inclusive(s).intervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var reach = s.startMs
    iv.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** The layer-independent listener numbers of one span (see README). */
  def sparkMetrics(s: Span, cores: Int): Map[String, Double] = {
    val c = inclusive(s)
    Map(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_run_s" -> c.runMs / 1e3,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.util" -> c.runMs / 1e3 / (s.seconds * cores),
      "spark.idle_s" -> idleSeconds(s),
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1e3,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.failed_tasks" -> c.failedTasks.toDouble)
  }

  /** Every span with its own (not inclusive) counters, for the trace file. */
  def toJson(t0Ns: Long): String = synchronized {
    Json.arr(spans.map { s =>
      val c = own.getOrElse(s.id, new Counters)
      RawJson(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "pass" -> s.pass,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_s" -> c.runMs / 1e3,
        "task_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead,
        "fetch_wait_s" -> c.fetchWaitMs / 1e3, "spill_bytes" -> c.spill,
        "input_bytes" -> c.inputBytes))
    }.toSeq)
  }
}
