package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A seeded corpus in the shape of the repository's test fixtures
  * (`documents`, `lineitem`; TESTDATA.md), written as parquet under one
  * directory that `graft.tables.Tables` loads. The shape parameters were
  * measured on the sf0.01 and sf0.1 fixtures with `perfbench/corpus_shape.py`;
  * the figures are in perfbench/README.md.
  */
object CorpusGen {

  /** `lines` lineitem rows; orders, parts and suppliers follow from it at
    * the fixture's ratios.
    */
  final case class Size(docs: Int, lines: Int) {
    def orders: Int = lines / 4
    def parts: Int = lines / 30
    def suppliers: Int = math.max(lines / 600, 1)
  }

  /** The fixture's 30 content words, drawn uniformly. */
  val vocab: Array[String] = ("a the key agg row scan slow fast table value " +
    "part hash merge batch spark line sort window data column small big " +
    "order customer join query stream filter group vector").split(" ")

  /** The word the fixture appends to a near-duplicate copy. */
  val dupMark = "dup"

  /** Document texts: 10 to 100 uniform vocabulary draws; then a twentieth
    * of the documents, chosen at random, become a copy of another random
    * document with `dupMark` appended (a copy of a copy keeps both marks),
    * which puts every near-duplicate pair at Jaccard 0.83 or more over a
    * background of about 0.18.
    */
  def texts(seed: Long, n: Int): Array[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val out = Array.fill(n)(
      Array.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length))).mkString(" "))
    val copies = new scala.util.Random(seed).shuffle((0 until n).toVector).take(n / 20)
    for (i <- copies) {
      val j = (i + 1 + rng.nextInt(n - 1)) % n
      out(i) = s"${out(j)} $dupMark"
    }
    out
  }

  def write(spark: SparkSession, dir: String, seed: Long, size: Size): Unit = {
    import scala.jdk.CollectionConverters._
    val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)

    // lang: 40 % en, the rest split evenly; source cycles over 20 values
    val docRows = texts(seed, size.docs).zipWithIndex.map { case (t, i) =>
      val lang = if (rng.nextInt(10) < 4) "en" else langs(rng.nextInt(langs.length))
      Row(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))

    // every line draws its order, part and supplier independently and
    // uniformly, so lines per order are Poisson(4) over the orders drawn
    val lineRows = (0 until size.lines).map { _ =>
      Row(rng.nextInt(size.orders).toLong, rng.nextInt(size.parts).toLong,
        rng.nextInt(size.suppliers).toLong, 1 + rng.nextInt(7),
        (1 + rng.nextInt(50)).toDouble)
    }
    val lineSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType)))

    Seq(("documents", docRows.toSeq, docSchema), ("lineitem", lineRows, lineSchema)).foreach { case (name, rows, schema) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  private val langs = Array("zh", "es", "fr", "de")
}
