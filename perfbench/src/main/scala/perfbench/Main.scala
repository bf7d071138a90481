package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String, setups: Int = 3)

/** What one run measured and checked, written as one JSON object. */
final class Result(val workload: String) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** One operation ran; `error` says why it failed, if it did. */
  def op(error: Option[String]): Unit = {
    attempted += 1
    error.foreach { e => failed += 1; failures += e }
  }

  /** A timing line for the human-readable report. */
  def timing(name: String, unit: String, samples: collection.Seq[Double]): Unit =
    if (samples.nonEmpty) report += s"$name: ${Stats.summarize(samples).render(unit)}" +
      (if (samples.size <= 12) samples.map(v => f"$v%.1f").mkString(" [", ", ", "]") else "")

  def toJson: String = {
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }.mkString(",")
    s"""{"workload":${str(workload)},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":${failures.map(str).mkString("[", ",", "]")},""" +
      s""""report":${report.map(str).mkString("[", ",", "]")},"metrics":{$ms}}"""
  }
}

object Harness {
  val cores = 4

  /** A fresh local session sized for a 4-core host, with every scratch
    * directory inside the run's work directory.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `body`, turning a throw into a failure message. */
  def attempt(what: String)(body: => Option[String]): Option[String] =
    try body
    catch {
      case e: Throwable =>
        Some(s"$what threw ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ").take(400))
    }

  /** Equality of two counter maps, as a failure message when they differ. */
  def compare(what: String, expected: Map[String, Long],
      actual: Map[String, Long]): Option[String] = {
    val bad = (expected.keySet ++ actual.keySet).toSeq.sorted
      .filter(k => expected.get(k) != actual.get(k))
    if (bad.isEmpty) None
    else Some(s"$what: " + bad.take(6).map(k =>
      s"$k expected ${expected.getOrElse(k, "-")} got ${actual.getOrElse(k, "-")}")
      .mkString(", "))
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }

  /** (file count, bytes) of every regular file under `path`. */
  def treeSize(path: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val walk = java.nio.file.Files.walk(p)
      try {
        var n, bytes = 0L
        walk.filter(f => java.nio.file.Files.isRegularFile(f)).forEach { f =>
          n += 1; bytes += java.nio.file.Files.size(f)
        }
        (n, bytes)
      } finally walk.close()
    }
  }

  /** Ledger fields of group `g` per operation, as `prefix.field`. */
  def ledgerMetrics(res: Result, ledger: Ledger, g: String, prefix: String,
      ops: Int, wallS: Double): Unit = {
    val f = ledger.fields(g)
    val per = math.max(ops, 1).toDouble
    Seq("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
      "task_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB")
      .foreach { case (k, u) => res.metric(s"$prefix.$k", f(k) / per, u) }
    res.metric(s"$prefix.wall_s", wallS, "s")
    res.metric(s"$prefix.util",
      if (wallS > 0) f("task_s") / per / (wallS * cores) else 0.0, "ratio")
  }
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"))
  }

  private val workloads: Map[String, (Args, Result) => Unit] = Map(
    "route_batch" -> RouteBatch.run, "route_stream" -> RouteStream.run,
    "curate" -> Curate.run)

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--classload")) return classload(argv(1))
    val a = parse(argv)
    val res = new Result(a.workload)
    val run = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    try run(a, res)
    catch {
      case e: Throwable =>
        res.op(Some(s"${a.workload} aborted: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ").take(400)))
    } finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    res.metric("peak_rss_mb", Proc.peakRssMb(), "MB")
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      (res.toJson + "\n").getBytes("UTF-8"))
    // a failed run may leave non-daemon threads (e.g. the metrics
    // server's) behind; the result is written, so end the JVM here
    sys.exit(0)
  }

  /** One short pass of every workload, so that a JVM started with
    * `-XX:ArchiveClassesAtExit` archives the classes the runs load.
    */
  private def classload(work: String): Unit =
    workloads.foreach { case (name, run) =>
      val a = Args(name, 1L, 0.0, trace = true, s"$work/$name", s"$work/$name.json", setups = 1)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
      try run(a, new Result(name))
      catch { case _: Throwable => () }
      finally SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(_.stop())
    }
}
