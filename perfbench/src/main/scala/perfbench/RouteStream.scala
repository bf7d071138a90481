package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{MetricsServer, StreamingOps}

/** `route_stream`: `map_chain` through the shipped `decodeAndRoute` as a
  * Structured Streaming query over a `MemoryStream`, fed open-loop by one
  * generator thread at a fixed rate, default trigger, `noop` sink.
  */
object RouteStream {
  val rate = 150000L
  val warmMsgs = 50000L
  val warmBurst = 25000L
  /** Seconds the open-loop generator runs before timing starts: the first
    * triggers after the closed-loop warm-up work off a backlog and are
    * still compiling, and take about 1.5 times as long as later ones.
    */
  val settleS = 10.0
  val chain: MsgGen.Chain = MsgGen.mapChain

  /** One `addData` call: messages `[from, until)`, the stream offset it
    * produced, and when it was made.
    */
  final case class Block(from: Long, until: Long, offset: Long, addedNanos: Long)

  /** Open-loop generator: message `i` is due `(i - first) / rate` seconds
    * after `t0`, and is added as soon as the thread sees it due.
    */
  final class Generator(ms: MemoryStream[Array[Byte]], seed: Long, first: Long)
      extends Thread("perfbench-generator") {
    setDaemon(true)
    @volatile var running = true
    val blocks = mutable.ArrayBuffer.empty[Block]
    @volatile var t0Nanos = 0L
    @volatile var t0EpochMs = 0L
    private var sent = first

    def dueNanos(i: Long): Long = t0Nanos + ((i - first) * 1e9 / rate).toLong

    override def run(): Unit = {
      t0EpochMs = System.currentTimeMillis()
      t0Nanos = System.nanoTime()
      while (running) {
        val due = first + ((System.nanoTime() - t0Nanos) * rate / 1e9).toLong
        if (due > sent) {
          val until = math.min(due, sent + 20000)
          val frames = (sent until until).map(i => MsgGen.frame(MsgGen.message(seed, i)))
          val off = ms.addData(frames).json().toLong
          blocks.synchronized(blocks += Block(sent, until, off, System.nanoTime()))
          sent = until
        } else Thread.sleep(1)
      }
    }
    def fed: Long = sent
  }

  final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private def offset(json: String): Long =
    if (json == null || json.isEmpty) -1L else json.trim.toLong

  /** Scrape `/metrics` and return its plain counter samples. */
  def scrape(port: Int): Map[String, Long] = {
    val src = scala.io.Source.fromURL(s"http://localhost:$port/metrics", "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).flatMap { l =>
      l.split(' ') match {
        case Array(name, v) if !name.contains('{') && v.matches("-?\\d+") =>
          Some(name -> v.toLong)
        case _ => None
      }
    }.toMap
    finally src.close()
  }

  def run(a: Args, res: Result): Unit = {
    var spark: SparkSession = null
    var ms: MemoryStream[Array[Byte]] = null
    var query: StreamingQuery = null
    var listener: StreamingOps.PipelineMetricsListener = null
    var server: MetricsServer = null
    var progress: Progress = null
    def stopAll(): Unit = {
      if (query != null) query.stop()
      if (server != null) server.stop()
      if (spark != null) spark.stop()
    }
    val setups = (1 to a.setups).map { k =>
      stopAll()
      Harness.seconds {
        spark = Harness.session(a.work)
        listener = new StreamingOps.PipelineMetricsListener
        spark.streams.addListener(listener)
        progress = new Progress
        spark.streams.addListener(progress)
        server = new MetricsServer(listener)
        ms = MemoryStream[Array[Byte]](spark, Harness.cores)(Encoders.BINARY)
        val ckpt = s"${a.work}/checkpoint-$k"
        Harness.deleteTree(ckpt)
        query = Route.shipped(chain, ms.toDF()).writeStream.format("noop")
          .option("checkpointLocation", ckpt).queryName("route_stream").start()
      }._2
    }
    val trace = new Trace(a.trace)

    // untimed warm: the same plan over closed-loop bursts
    val (_, warmS) = Harness.seconds {
      (0L until warmMsgs by warmBurst).map(f => f -> (f + warmBurst)).foreach { case (f, u) =>
        ms.addData((f until u).map(i => MsgGen.frame(MsgGen.message(a.seed, i))))
        query.processAllAvailable()
      }
    }
    // the open-loop settle period has a fixed length, so it is left out
    res.metric("setup_s", Stats.median(setups) + warmS, "s")
    res.report += f"setup: median session+query start ${Stats.median(setups)}%.3f s of ${setups.size}, warm $warmS%.3f s (then $settleS%.1f s open-loop settle)"
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    progress.events.clear()
    val ledger = new Ledger(spark.sparkContext)
    ledger.enable(a.trace)

    val gen = new Generator(ms, a.seed, warmMsgs)
    // messages due in the first settleS seconds are fed and checked but
    // not timed
    val timedFrom = warmMsgs + (settleS * rate).toLong
    trace("stream.run") {
      gen.start()
      Thread.sleep(((settleS + a.seconds) * 1000).toLong)
      gen.running = false
      gen.join()
      query.processAllAvailable()
    }
    val fed = gen.fed
    val blocks = gen.blocks.synchronized(gen.blocks.toVector)
    // the last trigger's progress event can be posted just after
    // processAllAvailable returns; wait for it before reading any totals
    val lastOffset = blocks.lastOption.map(_.offset.toString)
    val waitUntil = System.nanoTime() + 10000000000L
    def lastSeen = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      var seen = false
      progress.events.forEach(p => if (lastOffset.contains(p.sources.head.endOffset)) seen = true)
      seen || lastOffset.isEmpty
    }
    while (!lastSeen && System.nanoTime() < waitUntil) Thread.sleep(20)
    val byOffset = blocks.map(b => b.offset -> b).toMap
    val events = {
      val b = mutable.ArrayBuffer.empty[StreamingQueryProgress]
      progress.events.forEach(p => b += p)
      b.filter(_.numInputRows > 0).sortBy(_.batchId).toVector
    }

    // per trigger: the messages it delivered, their predicted counters,
    // and when the trigger ended; latencies of timed messages only, and
    // per-trigger timings only of triggers that delivered timed messages alone
    val latencies = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[(Double, Long)]
    var delivered = warmMsgs
    val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val timedRows = mutable.ArrayBuffer.empty[Double]
    events.foreach { p =>
      val src = p.sources.head
      val bs = (offset(src.startOffset) + 1 to offset(src.endOffset)).flatMap(byOffset.get)
      val endEpochMs = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").doubleValue()
      val err = if (bs.isEmpty) Some(s"trigger ${p.batchId}: delivered no generated block")
      else {
        val from = bs.head.from
        val until = bs.last.until
        bs.foreach { b =>
          var i = math.max(b.from, timedFrom)
          while (i < b.until) {
            val dueMs = gen.t0EpochMs + (i - warmMsgs) * 1000.0 / rate
            latencies += endEpochMs - dueMs
            i += 1
          }
        }
        delivered = until
        val dueByEnd = warmMsgs + ((endEpochMs - gen.t0EpochMs) * rate / 1000.0).toLong
        if (from >= timedFrom) {
          backlog += (((endEpochMs - gen.t0EpochMs) / 1000.0, math.max(0L, dueByEnd - delivered)))
          timedRows += p.numInputRows.toDouble
          p.durationMs.asScala.foreach { case (k, v) =>
            phases.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v.doubleValue() }
        }
        val obs = p.observedMetrics.asScala.map { case (n, row) =>
          n -> row.schema.fieldNames.map(f => f -> row.getAs[Long](f)).toMap }.toMap
        val pred = MsgGen.predict(chain, a.seed, from, until)
        Seq("decode_metrics", "pipeline_metrics").flatMap(o =>
          Harness.compare(s"trigger ${p.batchId} $o", pred(o), obs.getOrElse(o, Map.empty)))
          .headOption
      }
      res.op(err)
      def nanos(epochMs: Double) = gen.t0Nanos + ((epochMs - gen.t0EpochMs) * 1e6).toLong
      trace.record("stream.trigger",
        nanos(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble), nanos(endEpochMs))
    }

    // run-level checks: totals over every fed message, from the
    // listener and from a /metrics scrape, and a backlog that stays flat
    val predicted = MsgGen.merged(MsgGen.predict(chain, a.seed, 0, fed))
    val snap = listener.snapshot()
    val scraped = Harness.attempt("/metrics scrape") {
      val s = scrape(server.boundPort)
      Harness.compare("/metrics counters", predicted, s.filter { case (k, _) => predicted.contains(k) })
    }
    val runErrors = Seq(
      if (delivered != fed) Some(s"delivered $delivered of $fed fed messages") else None,
      Harness.compare("listener totals", predicted, snap),
      scraped,
      {
        val conserved = snap.getOrElse("messages_completed_total", 0L) +
          snap.getOrElse("messages_dlq_total", 0L) + snap.getOrElse("messages_dropped_total", 0L) +
          snap.getOrElse("messages_error_total", 0L)
        if (conserved != snap.getOrElse("messages_received_total", -1L))
          Some(s"conservation broken: ${snap.getOrElse("messages_received_total", -1L)} received, $conserved accounted")
        else None
      },
      backlogGrowth(backlog.toSeq)).flatten
    if (runErrors.nonEmpty) {
      // the whole run is invalid: every trigger counts as failed
      res.failures ++= runErrors
      res.failed = res.attempted
    }

    val lat = latencies.toSeq
    if (lat.nonEmpty) res.metric("latency_p50_ms", Stats.median(lat), "ms")
    res.timing("message latency", "ms", lat)
    res.timing("trigger", "ms", phases.getOrElse("triggerExecution", Nil).toSeq)
    res.report += s"offered $rate msg/s open-loop; fed ${fed - warmMsgs} messages in ${events.size} triggers," +
      s" timed ${lat.size} messages in ${timedRows.size} triggers after $settleS s"

    if (a.trace) {
      val names = Seq("trigger" -> "triggerExecution", "query_planning" -> "queryPlanning",
        "add_batch" -> "addBatch", "wal_commit" -> "walCommit",
        "commit_offsets" -> "commitOffsets", "latest_offset" -> "latestOffset",
        "get_batch" -> "getBatch")
      names.foreach { case (m, k) =>
        val v = phases.getOrElse(k, mutable.ArrayBuffer(0.0)).toSeq
        res.metric(s"stream.${m}_ms.p50", Stats.median(v), "ms")
        res.metric(s"stream.${m}_ms.p99", Stats.percentile(v, 99), "ms")
      }
      res.metric("stream.rows_per_trigger_p50",
        if (timedRows.isEmpty) 0.0 else Stats.median(timedRows.toSeq), "count")
      res.metric("stream.triggers", timedRows.size.toDouble, "count")
      res.metric("stream.backlog_max_msgs",
        if (backlog.isEmpty) 0.0 else backlog.map(_._2).max.toDouble, "count")
      val late = blocks.filter(_.from >= warmMsgs)
        .map(b => (b.addedNanos - gen.dueNanos(b.from)) / 1e6)
      res.metric("stream.gen_late_p99_ms", if (late.isEmpty) 0.0 else Stats.percentile(late, 99), "ms")
      if (lat.nonEmpty) res.metric("stream.latency_p99_ms", Stats.percentile(lat, 99), "ms")
      val totals = MsgGen.merged(MsgGen.predict(chain, a.seed, warmMsgs, fed))
      val perTrigger = math.max(events.size, 1)
      RouteBatch.routedMetrics(res, totals + ("decode_errors" ->
        MsgGen.predict(chain, a.seed, warmMsgs, fed)("decode_metrics")("messages_error_total")),
        perTrigger)
      // micro-batch jobs run under the query's run id as their job group
      Harness.ledgerMetrics(res, ledger, query.runId.toString, "operators", events.size,
        Stats.median(phases.getOrElse("triggerExecution", mutable.ArrayBuffer(0.0)).toSeq) / 1e3)
      trace.write(s"${a.work}/spans.jsonl")
    }
    stopAll()
  }

  /** A failure message when the backlog keeps rising over the run's
    * second half: a least-squares slope above a tenth of the offered rate,
    * ending above twice the first half's median backlog.
    */
  def backlogGrowth(points: Seq[(Double, Long)]): Option[String] = {
    val half = points.drop(points.size / 2)
    if (half.size < 3) None
    else {
      val firstHalf = points.take(points.size / 2).map(_._2.toDouble)
      val before = if (firstHalf.isEmpty) 0.0 else Stats.median(firstHalf)
      val n = half.size.toDouble
      val mx = half.map(_._1).sum / n
      val my = half.map(_._2.toDouble).sum / n
      val sxx = half.map(p => (p._1 - mx) * (p._1 - mx)).sum
      val slope = if (sxx == 0) 0.0
        else half.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
      if (slope > 0.1 * rate && half.last._2 > 2 * before)
        Some(f"backlog grows by $slope%.0f msg/s over the second half (offered $rate msg/s)")
      else None
    }
  }
}
