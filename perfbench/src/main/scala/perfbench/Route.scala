package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.PipelineRunner
import graft.codec.ConfluentAvro
import graft.pipeline.PipelineDef

import MsgGen.Chain

/** The shipped data plane, `PipelineRunner.decodeAndRoute`, and the plan
  * and output checks both route workloads share.
  */
object Route {
  val schema: String = ConfluentAvro.eventSchemaJson

  def spec(c: Chain): PipelineDef = PipelineDef(1, c.name, "source", c.target,
    "schema_a", "schema_a", c.processors, c.dlq)

  def shipped(c: Chain, wire: DataFrame): DataFrame =
    PipelineRunner.decodeAndRoute(wire, spec(c), schema, schema, MsgGen.schemaId)

  /** Generated frames `[from, until)` as a cached `value` column. */
  def wire(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    val df = spark.range(from, until, 1, Harness.cores).as[Long]
      .map(i => MsgGen.frame(MsgGen.message(seed, i))).toDF("value").cache()
    df.count()
    df
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Decode every routed output frame and compare, per topic, its row
    * count and an order-independent hash of (topic, key, value, num)
    * with what the generator says the chain must produce.
    */
  def contentCheck(spark: SparkSession, c: Chain, seed: Long,
      from: Long, until: Long, routed: DataFrame): Option[String] = {
    import spark.implicits._
    def digest(df: DataFrame): Map[String, Long] =
      df.groupBy("topic").agg(count(lit(1)).as("n"),
          sum(xxhash64(col("topic"), col("k"), col("v"), col("n"))
            .bitwiseAND(lit(0xFFFFFFFFL))).as("h"),
          count(when(col("mk") =!= col("k"), 1)).as("bad_keys"))
        .collect().flatMap(r => Seq(s"${r.getString(0)}.rows" -> r.getLong(1),
          s"${r.getString(0)}.hash" -> r.getLong(2),
          s"${r.getString(0)}.keys_differing_from_payload" -> r.getLong(3))).toMap
    val actual = digest(routed.select(col("topic"), col("key").cast("string").as("k"),
        ConfluentAvro.fromConfluentAvro(col("value"), schema).as("m"))
      .select(col("topic"), col("k"), col("m.key").as("mk"),
        col("m.value").as("v"), col("m.num").cast("long").as("n")))
    val expected = digest(spark.range(from, until, 1, Harness.cores).as[Long]
      .flatMap(i => MsgGen.expectedOutput(c, MsgGen.message(seed, i)))
      .toDF("topic", "k", "v", "n").withColumn("mk", col("k")))
    Harness.compare(s"${c.name} routed output", expected, actual)
  }

  /** Expression nodes across every operator of a logical plan. */
  def exprNodes(plan: LogicalPlan): Long = {
    var n = 0L
    plan.foreach(_.expressions.foreach(_.foreach(_ => n += 1)))
    n
  }

  /** Decode expressions in an executed plan, walked as a tree. */
  def decodeNodes(plan: SparkPlan): Long = {
    var n = 0L
    def isDecode(e: Expression) = e.getClass.getSimpleName == "AvroDecode"
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        p.expressions.foreach(_.foreach(e => if (isDecode(e)) n += 1))
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    n
  }
}

/** `route_batch`: two seeded pipelines through the shipped
  * `decodeAndRoute` over cached wire frames, into the `noop` sink.
  */
object RouteBatch {
  import Route._

  // sized so that each chain takes about half of one operation
  val sizes: Seq[(Chain, Long)] = Seq(MsgGen.mapChain -> 600000L,
    MsgGen.dlqChain -> 120000L)

  // the routed output of this many leading messages of each chain is
  // decoded and compared frame by frame with the generator's prediction
  val contentChecked = 50000L

  private def ranges: Seq[(Chain, Long, Long)] = {
    val ends = sizes.scanLeft(0L)(_ + _._2)
    sizes.zip(ends).map { case ((c, n), from) => (c, from, from + n) }
  }

  def run(a: Args, res: Result): Unit = {
    var spark: SparkSession = null
    var wires = Map.empty[String, DataFrame]
    val setups = (1 to a.setups).map { _ =>
      if (spark != null) spark.stop()
      val (_, sessionS) = Harness.seconds { spark = Harness.session(a.work) }
      val (_, genS) = Harness.seconds {
        wires = ranges.map { case (c, from, until) =>
          c.name -> wire(spark, a.seed, from, until) }.toMap
      }
      res.report += f"setup: session $sessionS%.3f s, generation $genS%.3f s"
      sessionS + genS
    }
    val observed = new Observed
    spark.listenerManager.register(observed)
    val ledger = new Ledger(spark.sparkContext)
    val trace = new Trace(a.trace)

    // untimed warm: the routed output of a leading slice of each chain is
    // checked frame by frame, then one full operation runs
    val (_, warmS) = Harness.seconds {
      ranges.foreach { case (c, from, _) =>
        val slice = wire(spark, a.seed, from, from + contentChecked)
        res.op(Harness.attempt(s"${c.name} content check")(contentCheck(spark, c,
          a.seed, from, from + contentChecked, shipped(c, slice))))
        slice.unpersist(blocking = true)
      }
      ranges.foreach { case (c, _, _) => noop(shipped(c, wires(c.name))) }
    }
    observed.take(spark)
    res.metric("setup_s", Stats.median(setups) + warmS, "s")
    res.report += f"setup: session+generation ${setups.map(s => f"$s%.2f").mkString("/")} s (median counted), warm $warmS%.3f s"

    val predicted = ranges.map { case (c, from, until) =>
      c.name -> MsgGen.predict(c, a.seed, from, until) }.toMap

    val opMs = mutable.ArrayBuffer.empty[Double]
    val tracedOpMs, plainOpMs = mutable.ArrayBuffer.empty[Double]
    val chainSec = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val prefix = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double) =
      m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val routed = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var tracedOps = 0
    spark.sparkContext.setJobGroup("route_batch", "route_batch")

    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var k = 0
    while (k == 0 || System.nanoTime() < deadline) {
      val traced = a.trace && k % 2 == 1
      ledger.enable(traced)
      val opStart = System.nanoTime()
      trace(if (traced) "op" else "op.untraced") {
        ranges.foreach { case (c, _, _) =>
          val (err, s) = Harness.seconds(trace(s"shipped.${c.name}") {
            Harness.attempt(s"${c.name} pass") {
              noop(shipped(c, wires(c.name)))
              val obs = observed.take(spark)
              if (traced) {
                MsgGen.merged(obs).foreach { case (n, v) => routed(n) += v }
                routed("decode_errors") +=
                  obs.get("decode_metrics").flatMap(_.get("messages_error_total")).getOrElse(0L)
              }
              Seq("decode_metrics", "pipeline_metrics").flatMap(o =>
                Harness.compare(s"${c.name} $o", predicted(c.name)(o),
                  obs.getOrElse(o, Map.empty))).headOption
            }
          })
          res.op(err)
          add(chainSec, c.name, s)
        }
      }
      val ms = (System.nanoTime() - opStart) / 1e6
      opMs += ms
      (if (traced) tracedOpMs else plainOpMs) += ms
      ledger.enable(false)
      if (traced) {
        tracedOps += 1
        ranges.foreach { case (c, _, _) =>
          layerPasses(spark, c, wires(c.name), trace).foreach { case (l, s) =>
            add(prefix, s"${c.name}.$l", s) }
        }
      }
      k += 1
    }
    ledger.enable(false)
    observed.take(spark)

    res.metric("latency_p50_ms", Stats.median(opMs), "ms")
    res.timing("operation (both chains)", "ms", opMs)
    sizes.foreach { case (c, n) =>
      res.timing(s"${c.name}_msgs_per_s", "msg/s", chainSec(c.name).map(n / _))
    }

    if (a.trace) {
      def med(k: String) = Stats.median(prefix(k))
      val chains = sizes.map(_._1.name)
      def sumOver(f: String => Double) = chains.map(f).sum
      res.metric("codec.decode_s", sumOver(c => med(s"$c.decode") - med(s"$c.scan")), "s")
      res.metric("codec.encode_s", sumOver(c => med(s"$c.encode") - med(s"$c.chain")), "s")
      res.metric("runner.observe_s",
        sumOver(c => Stats.median(chainSec(c)) - med(s"$c.encode")), "s")
      sizes.foreach { case (c, n) =>
        res.metric(s"pipeline.chain_s.${c.name}", med(s"${c.name}.chain") - med(s"${c.name}.decode"), "s")
        res.metric(s"pipeline.${c.name}_msgs_per_s", n / Stats.median(chainSec(c.name)), "1/s")
        val w = wires(c.name)
        res.metric(s"codec.decode_nodes.${c.name}",
          decodeNodes(shipped(c, w).queryExecution.executedPlan).toDouble, "count")
        res.metric(s"pipeline.expr_nodes.${c.name}",
          (exprNodes(spec(c).toPipeline(decodedOnly(w)).df.queryExecution.optimizedPlan) -
            exprNodes(decodedOnly(w).queryExecution.optimizedPlan)).toDouble, "count")
      }
      routedMetrics(res, routed.toMap, tracedOps)
      Harness.ledgerMetrics(res, ledger, "route_batch", "operators", tracedOps,
        Stats.median(tracedOpMs) / 1e3)
      res.metric("trace.overhead_ms",
        Stats.median(tracedOpMs) - Stats.median(plainOpMs), "ms")
      trace.write(s"${a.work}/spans.jsonl")
    }
  }

  def decodedOnly(w: DataFrame): DataFrame =
    w.select(ConfluentAvro.fromConfluentAvroSafe(col("value"), schema).as("m"))
      .filter(col("m").isNotNull)
      .select("m.key", "m.value", "m.num")

  /** Prefix passes for layer differencing: scan, +decode, +chain,
    * +encode, each timed through the `noop` sink.
    */
  def layerPasses(spark: SparkSession, c: Chain, w: DataFrame, trace: Trace)
      : Seq[(String, Double)] = {
    val p = spec(c).toPipeline
    Seq(
      "scan" -> (() => w.select(col("value"))),
      "decode" -> (() => decodedOnly(w)),
      "chain" -> (() => p(decodedOnly(w)).df),
      "encode" -> (() => p(decodedOnly(w)).kafkaShape(df => ConfluentAvro.toConfluentAvro(
        struct(df("key"), df("value"), df("num")), schema, MsgGen.schemaId))))
      .map { case (l, df) =>
        l -> Harness.seconds(trace(s"layer.${c.name}.$l")(noop(df())))._2 }
  }

  /** `pipeline.routed.*` per operation, from merged observation totals. */
  def routedMetrics(res: Result, t: Map[String, Long], ops: Int): Unit = {
    val per = math.max(ops, 1).toDouble
    def g(k: String) = t.getOrElse(k, 0L) / per
    res.metric("pipeline.routed.target", g("messages_completed_total"), "count")
    res.metric("pipeline.routed.dlq", g("messages_dlq_total"), "count")
    res.metric("pipeline.routed.dropped", g("messages_dropped_total"), "count")
    res.metric("pipeline.routed.error", g("messages_error_total"), "count")
    res.metric("pipeline.useful_ratio",
      if (g("messages_received_total") > 0)
        g("messages_completed_total") / g("messages_received_total") else 0.0, "ratio")
    // decode_metrics counts exactly the malformed frames as errors
    res.metric("codec.malformed_msgs", g("decode_errors"), "count")
  }
}
