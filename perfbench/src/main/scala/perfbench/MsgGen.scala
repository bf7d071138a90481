package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** loadTest.js-shaped messages `{key, value, num}` in Confluent Avro wire
  * format, each a pure function of (seed, index), plus the counts the
  * seed predicts for every counter the shipped data plane observes.
  *
  * The frames are encoded here, by hand, not by the program's codec:
  * the program's decoder is then checked against an independent encoder.
  */
object MsgGen {

  /** One generated message. `malformed` is 0 for a good frame, 1 for a
    * wrong magic byte, 2 for a body cut short inside the key.
    */
  final case class Msg(key: String, value: String, num: Int, malformed: Int) {
    def numericValue: Option[Long] =
      if (value.nonEmpty && value.forall(_.isDigit)) Some(value.toLong) else None
  }

  val schemaId = 1

  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A 64-bit hash of (seed, index, salt), for every seeded choice. */
  def draw(seed: Long, i: Long, salt: Int): Long =
    splitmix(splitmix(seed ^ (salt.toLong << 56)) + i)

  /** Message `i` of the stream seeded by `seed`: producer and batch in
    * the key as loadTest.js writes them, 1 % malformed frames, and one
    * in three `value`s numeric (the input `parseNum` accepts).
    */
  def message(seed: Long, i: Long): Msg = {
    val producer = java.lang.Math.floorMod(draw(seed, 0, 1), 8L)
    val batch = i / 25000
    val j = i % 25000
    val key = s"key-$producer-$batch-$j"
    val numeric = java.lang.Math.floorMod(draw(seed, i, 2), 3L) == 0
    val value =
      if (numeric) java.lang.Math.floorMod(draw(seed, i, 3), 1000000L).toString
      else s"value-$producer-$batch-$j"
    val num = (batch * 25000 + j).toInt ^ (draw(seed, i, 4) & 1L).toInt
    val malformed =
      if (java.lang.Math.floorMod(draw(seed, i, 5), 100L) != 0) 0
      else 1 + (draw(seed, i, 6) & 1L).toInt
    Msg(key, value, num, malformed)
  }

  private def zigzagVarint(out: ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7FL) != 0) {
      out.write(((z & 0x7F) | 0x80).toInt)
      z >>>= 7
    }
    out.write(z.toInt)
  }

  private def avroString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    zigzagVarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  /** Confluent frame (magic 0, big-endian schema id, Avro body), with
    * the message's own defect applied.
    */
  def frame(m: Msg): Array[Byte] = {
    val out = new ByteArrayOutputStream(48)
    out.write(if (m.malformed == 1) 1 else 0)
    out.write(schemaId >>> 24); out.write(schemaId >>> 16)
    out.write(schemaId >>> 8); out.write(schemaId)
    avroString(out, m.key)
    avroString(out, m.value)
    zigzagVarint(out, m.num.toLong)
    val b = out.toByteArray
    // header + length varint + 3 of the key's >= 10 bytes: the decoder
    // runs out of input inside the first field
    if (m.malformed == 2) java.util.Arrays.copyOf(b, 9) else b
  }

  /** The data-plane chains under test, as catalog step lists. */
  final case class Chain(name: String, processors: Seq[String],
      dlq: Seq[Option[String]], target: String)

  val mapChain: Chain = Chain("map_chain",
    Seq("capitalize", "add10", "isEven"), Seq(None, None, None), "target_a")
  val dlqChain: Chain = Chain("dlq_chain",
    Seq("parseNum", "add10", "isEven"), Seq(Some("dlq_parse"), None, None),
    "target_b")

  /** The routed output one message should produce on `chain`: (topic,
    * key, value, num), or None when the chain produces it nowhere.
    */
  def expectedOutput(chain: Chain, m: Msg): Option[(String, String, String, Long)] =
    if (m.malformed != 0) None
    else chain.processors.head match {
      case "capitalize" =>
        if (m.num % 2 == 0) Some((chain.target, m.key, m.value.toUpperCase, m.num + 10L))
        else None
      case "parseNum" => m.numericValue match {
        case None => Some((chain.dlq.head.get, m.key, m.value, m.num.toLong))
        case Some(v) =>
          if (v % 2 == 0) Some((chain.target, m.key, m.value, v + 10L)) else None
      }
      case other => sys.error(s"no prediction for a chain starting with $other")
    }

  /** Every counter of the two observations `decodeAndRoute` makes
    * (`decode_metrics` and `pipeline_metrics`), as the seed predicts them
    * for messages `[from, until)` on `chain`.
    */
  def predict(chain: Chain, seed: Long, from: Long, until: Long)
      : Map[String, Map[String, Long]] = {
    var malformed, valid, numeric, kept, dropped = 0L
    var i = from
    while (i < until) {
      val m = message(seed, i)
      if (m.malformed != 0) malformed += 1
      else {
        valid += 1
        chain.processors.head match {
          case "capitalize" =>
            if (m.num % 2 == 0) kept += 1 else dropped += 1
          case "parseNum" => m.numericValue match {
            case Some(v) =>
              numeric += 1
              if (v % 2 == 0) kept += 1 else dropped += 1
            case None => ()
          }
        }
      }
      i += 1
    }
    val Seq(p0, p1, p2) = chain.processors
    val pipeline = chain.processors.head match {
      case "capitalize" => Map(
        "messages_received_total" -> valid,
        "processors_applied_total" -> 3 * valid,
        "messages_completed_total" -> kept,
        "messages_dlq_total" -> 0L,
        "messages_dropped_total" -> dropped,
        "messages_error_total" -> 0L,
        s"step_0_${p0}_rows_in_total" -> valid,
        s"step_0_${p0}_errors_total" -> 0L,
        s"step_0_${p0}_dropped_total" -> 0L,
        s"step_1_${p1}_rows_in_total" -> valid,
        s"step_1_${p1}_errors_total" -> 0L,
        s"step_1_${p1}_dropped_total" -> 0L,
        s"step_2_${p2}_rows_in_total" -> valid,
        s"step_2_${p2}_errors_total" -> 0L,
        s"step_2_${p2}_dropped_total" -> dropped)
      case "parseNum" => Map(
        "messages_received_total" -> valid,
        "processors_applied_total" -> ((valid - numeric) + 3 * numeric),
        "messages_completed_total" -> kept,
        "messages_dlq_total" -> (valid - numeric),
        "messages_dropped_total" -> dropped,
        "messages_error_total" -> 0L,
        s"step_0_${p0}_rows_in_total" -> valid,
        s"step_0_${p0}_errors_total" -> (valid - numeric),
        s"step_0_${p0}_dropped_total" -> 0L,
        s"step_1_${p1}_rows_in_total" -> numeric,
        s"step_1_${p1}_errors_total" -> 0L,
        s"step_1_${p1}_dropped_total" -> 0L,
        s"step_2_${p2}_rows_in_total" -> numeric,
        s"step_2_${p2}_errors_total" -> 0L,
        s"step_2_${p2}_dropped_total" -> dropped)
    }
    Map(
      "decode_metrics" -> Map(
        "messages_received_total" -> malformed,
        "messages_error_total" -> malformed),
      "pipeline_metrics" -> pipeline)
  }

  /** Both observations merged by counter name, as
    * `StreamingOps.PipelineMetricsListener` totals them.
    */
  def merged(obs: Map[String, Map[String, Long]]): Map[String, Long] =
    obs.values.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}
