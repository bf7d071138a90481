package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work per job group, from the scheduler's own events: the stage
  * ledger of each measured operation. Jobs without a group go to
  * "ungrouped".
  */
final class Ledger(sc: org.apache.spark.SparkContext) extends SparkListener {
  @volatile private var enabled = false
  sc.addSparkListener(this)

  /** Count from now on (or stop counting), after every event already
    * posted has been delivered under the previous setting.
    */
  def enable(on: Boolean): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    enabled = on
  }

  final class Acc {
    var jobs, stages, tasks = 0L
    var taskMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, written = 0L
  }
  private val accs = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContextGroup))).getOrElse("ungrouped")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskMetrics != null) synchronized {
      stageGroup.get(e.stageId).foreach { g =>
        val a = acc(g)
        val m = e.taskMetrics
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
      }
    }

  /** The ledger of group `g`, its fields named as reported. */
  def fields(g: String): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(snapshot(g))
  }

  private def snapshot(g: String): Map[String, Double] = {
    val a = accs.getOrElse(g, new Acc)
    val mb = 1024.0 * 1024.0
    Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
      "tasks" -> a.tasks.toDouble, "task_s" -> a.taskMs / 1e3,
      "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
      "shuffle_read_mb" -> a.shuffleRead / mb,
      "shuffle_write_mb" -> a.shuffleWrite / mb, "spill_mb" -> a.spill / mb,
      "bytes_written_mb" -> a.written / mb)
  }

  private val SparkContextGroup = "spark.jobGroup.id"
}

/** Spans recorded around the benchmark's calls into each layer: name,
  * start, end and parent, kept in memory and written out at the end.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  private def nowMs: Double = (System.nanoTime() - origin) / 1e6

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(-1)
      val start = nowMs
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        add(Span(id, name, start, nowMs, parent))
      }
    }

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A span measured elsewhere (e.g. a micro-batch from its progress
    * report), parented to the innermost open span of this thread.
    */
  def record(name: String, startNanos: Long, endNanos: Long): Unit =
    if (enabled) add(Span(nextId.getAndIncrement(), name, (startNanos - origin) / 1e6,
      (endNanos - origin) / 1e6, stack.get.headOption.getOrElse(-1)))

  private def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":${s.parent}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
      parent: Int)
}

/** Observed metrics (`Dataset.observe`) of every successful query, read
  * back once the listener bus has delivered them.
  */
final class Observed extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[Map[String, Row]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.observedMetrics.nonEmpty) q.add(qe.observedMetrics)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Every observation since the last call, by name, as long counters. */
  def take(spark: SparkSession): Map[String, Map[String, Long]] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val out = mutable.Map.empty[String, Map[String, Long]]
    var m = q.poll()
    while (m != null) {
      m.foreach { case (name, row) =>
        out(name) = row.schema.fieldNames.map(f =>
          f -> (row.getAs[Any](f) match {
            case null => 0L
            case n: java.lang.Number => n.longValue()
            case other => other.toString.hashCode.toLong
          })).toMap
      }
      m = q.poll()
    }
    out.toMap
  }
}

object Proc {
  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
