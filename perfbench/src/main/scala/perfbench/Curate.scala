package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.SparkEntry
import graft.operators.{Classifier, Takedown}
import graft.operators.Takedown.Store

/** The `curate` workload: four shuffle-, join- and aggregation-heavy
  * `SparkEntry.queries` entries, then a takedown that builds two persisted
  * stores (a count-form model on the `_COMMIT`/`_MAINT` protocol, and a
  * partitioned table rewritten by staged swap) and walks them through
  * forget, compact and audit. Both read a corpus generated from the seed.
  */
object Curate {
  val queries: Seq[String] = Seq("dedup_minhash", "dedup_jaccard_prefix",
    "graph_triangles", "text_bm25")

  val size: CorpusGen.Size = CorpusGen.Size(docs = 400, lines = 8000)

  /** A column per output column, floats written to six significant
    * digits (the precision the oracle compares at).
    */
  private def canonical(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.sortBy(_.name).map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6g", col(f.name))
        case _ => col(f.name).cast("string")
      }
    }

  /** `df` with its row count and an order-independent content hash
    * observed as `name`.
    */
  def checked(df: DataFrame, name: String): DataFrame =
    df.observe(name, count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(canonical(df): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("hash"))

  def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def setUp(a: Args, corpus: String): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val setups = (1 to a.setups).map { _ =>
      if (spark != null) spark.stop()
      Harness.seconds {
        spark = Harness.session(a.work)
        CorpusGen.write(spark, corpus, a.seed, size)
      }._2
    }
    (spark, setups)
  }

  /** The oracle SQL of each query, for the DuckDB check run after the
    * JVM exits.
    */
  private def writeOracleSql(dir: String, names: Seq[String]): Unit = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val body = names.map(n => s"${str(n)}:${str(SparkEntry.oracleSql(n))}").mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      body.getBytes("UTF-8"))
  }

  /** Ids the takedown request names: a seeded ninth of the documents. */
  def victims(seed: Long): Seq[Long] =
    (0L until size.docs).filter(i => java.lang.Math.floorMod(MsgGen.draw(seed, i, 9), 9L) == 0)

  /** The stores and the ids each must still hold after the takedown. */
  def stores(base: String, seed: Long): Seq[(Store, Seq[Long])] = {
    val gone = victims(seed).toSet
    val all = (0L until size.docs).filterNot(gone)
    Seq(
      Store("nb_model", s"$base/nb", Map("idCol" -> "doc_id")) -> all,
      Store("table", s"$base/tbl", Map("idCol" -> "doc_id", "partitionCol" -> "p")) -> all)
  }

  /** One takedown: build every store, then forget → compact → audit. */
  def takedown(spark: SparkSession, corpus: String, base: String, seed: Long,
      trace: Trace): Unit = {
    val docs = graft.tables.Tables.documents(spark, corpus)
    val builds: Seq[() => Unit] = Seq(
      () => Classifier.nbModelWrite(docs, "doc_id", "text", s"$base/nb"),
      () => docs.select(col("doc_id"), (col("doc_id") % 16).as("p"), col("source"))
        .write.mode("overwrite").partitionBy("p").parquet(s"$base/tbl"))
    trace("takedown.build") {
      // independent stores build concurrently, as the orchestrator does
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
      try {
        val fs = builds.map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = b()
        }))
        fs.foreach(_.get())
      } finally pool.shutdown()
    }
    val request = docs.filter(col("doc_id").isin(victims(seed): _*))
      .select(col("doc_id").as("id"), col("text"))
    trace("takedown.forget_compact_audit") {
      Takedown.forgetCompactAssert(request, stores(base, seed).map(_._1)).collect()
    }
  }

  /** Each store's visible ids against the ids it must still hold. */
  def takedownCheck(spark: SparkSession, base: String, seed: Long): Option[String] = {
    import spark.implicits._
    def digest(df: DataFrame): Map[String, Long] = {
      val r = df.select(col("id").cast("long").as("id")).distinct()
        .agg(count(lit(1)), coalesce(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
        .head()
      Map("rows" -> r.getLong(0), "hash" -> r.getLong(1))
    }
    stores(base, seed).flatMap { case (st, keep) =>
      Harness.compare(s"${st.kind} visible ids", digest(keep.toDF("id")),
        digest(Takedown.kinds(st.kind).present(spark, "id", st)))
    }.headOption
  }

  /** One `curate` run. An operation is a round of the four queries, in a
    * seeded order with the cache cleared before each, followed by one
    * takedown from an emptied store root.
    */
  val minOps = 2

  def run(a: Args, res: Result): Unit = {
    val corpus = s"${a.work}/corpus"
    val base = s"${a.work}/stores"
    val (spark, setups) = setUp(a, corpus)
    val observed = new Observed
    spark.listenerManager.register(observed)
    val trace = new Trace(a.trace)
    val sc = spark.sparkContext

    def query(q: String, name: String)(check: DataFrame => Unit): Double = {
      clearState(spark)
      sc.setJobGroup(q, q)
      val (err, s) = Harness.seconds(trace(s"query.$q")(Harness.attempt(q) {
        check(checked(SparkEntry.queries(q)(spark, corpus), name))
        None
      }))
      sc.clearJobGroup()
      res.op(err)
      s
    }

    def takedownOnce(): Double = {
      Harness.deleteTree(base)
      sc.setJobGroup("takedown", "takedown")
      val (err, s) = Harness.seconds(trace("takedown")(Harness.attempt("takedown") {
        takedown(spark, corpus, base, a.seed, trace); None
      }))
      sc.clearJobGroup()
      res.op(err.orElse(Harness.attempt("takedown check")(takedownCheck(spark, base, a.seed))))
      s
    }

    // untimed warm operation: each query result is written for the oracle
    // check and its count and hash become what every timed run must
    // reproduce; then one takedown
    val oracleDir = s"${a.work}/oracle"
    Harness.deleteTree(oracleDir)
    val baseline = mutable.Map.empty[String, Map[String, Long]]
    val (_, warmS) = Harness.seconds {
      queries.foreach(q => query(q, s"check_$q") { df =>
        df.write.mode("overwrite").parquet(s"$oracleDir/$q")
        baseline(q) = observed.take(spark)(s"check_$q")
      })
      takedownOnce()
    }
    writeOracleSql(oracleDir, queries)
    res.metric("setup_s", Stats.median(setups) + warmS, "s")
    res.report += f"setup: median session+corpus ${Stats.median(setups)}%.3f s of ${setups.size}, warm $warmS%.3f s"

    val ledger = new Ledger(sc)
    ledger.enable(a.trace)
    val rng = new scala.util.Random(a.seed)
    val opMs = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val takedownS = mutable.ArrayBuffer.empty[Double]
    var after = (0L, 0L)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var k = 0
    // an operation takes about as long as a run's timed window, so a run
    // times at least two, whatever the window
    while (k < minOps || System.nanoTime() < deadline) {
      var ms = 0.0
      trace("op") {
        rng.shuffle(queries).foreach { q =>
          val name = s"q_${q}_$k"
          val s = query(q, name) { df =>
            Route.noop(df)
            val got = observed.take(spark).getOrElse(name, Map.empty)
            Harness.compare(s"$q result", baseline.getOrElse(q, Map.empty), got)
              .foreach(e => throw new IllegalStateException(e))
          }
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
          ms += s * 1e3
        }
        val s = takedownOnce()
        takedownS += s
        ms += s * 1e3
      }
      after = Harness.treeSize(base)
      opMs += ms
      k += 1
    }
    res.metric("latency_p50_ms", Stats.median(opMs), "ms")
    res.timing("operation (four queries + takedown)", "ms", opMs)
    queries.foreach(q => res.timing(s"$q wall_s", "s", perQuery(q)))
    res.timing("takedown wall_s", "s", takedownS)
    if (a.trace) {
      queries.foreach(q => Harness.ledgerMetrics(res, ledger, q, s"operators.$q",
        perQuery(q).size, Stats.median(perQuery(q))))
      Harness.ledgerMetrics(res, ledger, "takedown", "operators.takedown",
        takedownS.size, Stats.median(takedownS))
      res.metric("store.bytes_written_mb",
        ledger.fields("takedown")("bytes_written_mb") / takedownS.size, "MB")
      res.metric("store.files_after", after._1.toDouble, "count")
      res.metric("store.bytes_after_mb", after._2 / (1024.0 * 1024.0), "MB")
      trace.write(s"${a.work}/spans.jsonl")
    }
  }
}
