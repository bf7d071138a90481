package perfbench

import scala.collection.mutable

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.DecoderFactory
import org.scalatest.funsuite.AnyFunSuite

class MsgGenSpec extends AnyFunSuite {
  private val schema = new Schema.Parser().parse(graft.codec.ConfluentAvro.eventSchemaJson)

  /** Counts by decoding every frame with the Avro library and walking
    * each chain step by step, one message at a time.
    */
  private def bruteForce(chain: MsgGen.Chain, seed: Long, n: Long)
      : Map[String, Map[String, Long]] = {
    val dec = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val pipe = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val reader = new GenericDatumReader[GenericRecord](schema)
    for (i <- 0L until n) {
      val b = MsgGen.frame(MsgGen.message(seed, i))
      val rec = scala.util.Try {
        require(b.length >= 5 && b(0) == 0)
        reader.read(null, DecoderFactory.get().binaryDecoder(b, 5, b.length - 5, null))
      }.toOption
      rec match {
        case None =>
          dec("messages_received_total") += 1
          dec("messages_error_total") += 1
        case Some(r) =>
          pipe("messages_received_total") += 1
          var value = r.get("value").toString
          var num = r.get("num").asInstanceOf[Int].toLong
          var stopped = -1
          for ((p, idx) <- chain.processors.zipWithIndex if stopped < 0) {
            val tag = s"step_${idx}_$p"
            pipe(s"${tag}_rows_in_total") += 1
            p match {
              case "capitalize" => value = value.toUpperCase
              case "add10" => num += 10
              case "isEven" => if (num % 2 != 0) {
                pipe(s"${tag}_dropped_total") += 1
                pipe("messages_dropped_total") += 1
                stopped = idx
              }
              case "parseNum" => value.toLongOption match {
                case Some(v) => num = v
                case None =>
                  pipe(s"${tag}_errors_total") += 1
                  pipe(if (chain.dlq(idx).isDefined) "messages_dlq_total"
                    else "messages_error_total") += 1
                  stopped = idx
              }
            }
          }
          pipe("processors_applied_total") +=
            (if (stopped < 0) chain.processors.size else stopped + 1)
          if (stopped < 0) pipe("messages_completed_total") += 1
      }
    }
    Map("decode_metrics" -> dec.toMap, "pipeline_metrics" -> pipe.toMap)
  }

  private def nonZero(m: Map[String, Map[String, Long]]) =
    m.map { case (k, v) => k -> v.filter(_._2 != 0) }

  for (chain <- Seq(MsgGen.mapChain, MsgGen.dlqChain); seed <- Seq(7L, 20261017L)) {
    test(s"${chain.name}: predicted counters equal a brute-force count (seed $seed)") {
      val n = 6000L
      val predicted = MsgGen.predict(chain, seed, 0, n)
      assert(nonZero(predicted) == bruteForce(chain, seed, n))
      // the input exercises every path: malformed frames, drops, and
      // (on the failable chain) DLQ routing
      assert(predicted("decode_metrics")("messages_error_total") > 20)
      assert(predicted("pipeline_metrics")("messages_dropped_total") > 500)
      if (chain == MsgGen.dlqChain)
        assert(predicted("pipeline_metrics")("messages_dlq_total") > 1000)
    }
  }

  test("predictions over adjacent ranges add up") {
    val whole = MsgGen.merged(MsgGen.predict(MsgGen.dlqChain, 3, 0, 4000))
    val parts = Seq((0L, 1500L), (1500L, 4000L))
      .map { case (a, b) => MsgGen.merged(MsgGen.predict(MsgGen.dlqChain, 3, a, b)) }
    assert(whole == parts.reduce((x, y) => x.map { case (k, v) => k -> (v + y(k)) }))
  }

  test("the same seed gives the same messages, another seed others") {
    assert((0L until 100L).map(MsgGen.message(5, _)) == (0L until 100L).map(MsgGen.message(5, _)))
    assert((0L until 100L).map(MsgGen.message(5, _)) != (0L until 100L).map(MsgGen.message(6, _)))
  }
}
