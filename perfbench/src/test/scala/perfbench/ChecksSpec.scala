package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's output checks pass on the shipped program and fail on
  * deliberately wrong output (negative controls).
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false").getOrCreate()
  private lazy val observed = {
    val o = new Observed
    spark.listenerManager.register(o)
    o
  }
  private val seed = 42L
  private val n = 3000L

  override def afterAll(): Unit = spark.stop()

  for (chain <- Seq(MsgGen.mapChain, MsgGen.dlqChain)) {
    test(s"${chain.name}: both observations of the shipped plan match the prediction") {
      val w = Route.wire(spark, seed, 0, n)
      observed.take(spark)
      Route.noop(Route.shipped(chain, w))
      val got = observed.take(spark)
      val want = MsgGen.predict(chain, seed, 0, n)
      Seq("decode_metrics", "pipeline_metrics").foreach(o =>
        assert(Harness.compare(o, want(o), got(o)).isEmpty))
    }

    test(s"${chain.name}: routed output matches the generator frame by frame") {
      val w = Route.wire(spark, seed, 0, n)
      assert(Route.contentCheck(spark, chain, seed, 0, n, Route.shipped(chain, w)).isEmpty)
    }
  }

  test("negative control: a wrong DLQ topic is reported") {
    val w = Route.wire(spark, seed, 0, n)
    val wrong = MsgGen.dlqChain.copy(dlq = Seq(Some("dlq_wrong"), None, None))
    val err = Route.contentCheck(spark, MsgGen.dlqChain, seed, 0, n, Route.shipped(wrong, w))
    assert(err.exists(_.contains("dlq_wrong")), err)
  }

  test("negative control: a dropped message changes the routed output digest") {
    val w = Route.wire(spark, seed, 0, n)
    val routed = Route.shipped(MsgGen.mapChain, w)
    val err = Route.contentCheck(spark, MsgGen.mapChain, seed, 0, n,
      routed.limit(routed.count().toInt - 1))
    assert(err.isDefined)
  }

  test("a checked result reproduces its count and hash; a mutated hash fails") {
    val df = spark.range(500).select((col("id") * 3).as("a"), (col("id") / 7.0).as("b"))
    observed.take(spark)
    Route.noop(Curate.checked(df, "first"))
    val first = observed.take(spark)("first")
    Route.noop(Curate.checked(df.repartition(3), "second"))
    val second = observed.take(spark)("second")
    assert(first("rows") == 500 && Harness.compare("result", first, second).isEmpty)
    val mutated = first.updated("hash", first("hash") + 1)
    assert(Harness.compare("result", mutated, second).exists(_.contains("hash")))
    Route.noop(Curate.checked(df.filter(col("a") =!= 3), "third"))
    assert(Harness.compare("result", first, observed.take(spark)("third")).isDefined)
  }

  test("a backlog that keeps growing fails the stream run; a flat one does not") {
    val flat = (0 until 20).map(i => (i * 0.5, 40000L + (i % 3) * 5000L))
    val growing = (0 until 20).map(i => (i * 0.5, 40000L + i * 20000L))
    assert(RouteStream.backlogGrowth(flat).isEmpty)
    assert(RouteStream.backlogGrowth(growing).isDefined)
  }
}
