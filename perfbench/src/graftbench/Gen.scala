package graftbench

import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value of row `id` of a table comes from
  * its own SplittableRandom keyed by (seed, table, id), so a seed gives the
  * same rows whatever the partitioning, and Spark writes the same bytes.
  */
object Gen extends Serializable {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, table: Int, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 1000003L + table) ^ id))

  /** Cumulative Zipf(s) weights over ranks 0..n-1. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipf(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def pick(r: SplittableRandom, values: Array[String], cum: Array[Double]): String = {
    val u = r.nextDouble()
    var i = 0
    while (i < cum.length - 1 && u >= cum(i)) i += 1
    values(i)
  }

  private def rows(spark: SparkSession, n: Long, schema: StructType)(f: Long => Row): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.range(0L, n, 1L, Sizes.GenPartitions).map(f), schema)

  private val Words: Array[String] = Array.tabulate(Sizes.Vocab)(i => s"w$i")
  private val Statuses = Array("A", "B", "C")
  private val StatusCum = Array(0.6, 0.9, 1.0)
  private val Segments = Array("AUTO", "BUILD", "FURN", "HOUSE", "MACH")
  private val Langs = Array("en", "es", "zh", "de", "fr")
  private val LangCum = Array(0.44, 0.58, 0.73, 0.87, 1.0)
  private val Epoch2020 = 1577836800000L

  private def words(r: SplittableRandom, cdf: Array[Double], n: Int): Array[String] =
    Array.fill(n)(Words(zipf(cdf, r)))

  // ---- file_ops: nested order documents ----

  val docSchema: StructType = StructType.fromDDL(
    "_id LONG, cust LONG, status STRING, price LONG, ts TIMESTAMP, " +
      "tags ARRAY<STRING>, items ARRAY<STRUCT<sku: LONG, qty: INT, cents: LONG>>, " +
      "meta STRUCT<src: STRING, score: INT, blob: STRING>")

  def docs(spark: SparkSession, seed: Long, n: Long, custKeys: Int): DataFrame = {
    val custCdf = zipfCdf(custKeys, 1.0)
    val tagCdf = zipfCdf(20, 1.2)
    val wordCdf = zipfCdf(Sizes.Vocab, 1.1)
    rows(spark, n, docSchema) { id =>
      val r = rnd(seed, 1, id)
      val items = Seq.fill(1 + r.nextInt(5))(
        Row(r.nextLong(5000L), 1 + r.nextInt(9), 100L + r.nextLong(10000L)))
      val tags = Seq.fill(r.nextInt(5))(f"t${zipf(tagCdf, r)}%02d")
      Row(id, zipf(custCdf, r).toLong, pick(r, Statuses, StatusCum),
        100L + r.nextLong(100000L),
        new Timestamp(Epoch2020 + r.nextLong(365L * 86400L) * 1000L),
        tags, items,
        Row(s"s${r.nextInt(8)}", r.nextInt(100),
          words(r, wordCdf, 15 + r.nextInt(25)).mkString(" ")))
    }
  }

  // ---- server_ops: orders / customers / nations ----

  val orderSchema: StructType = StructType.fromDDL(
    "_id LONG, cust LONG, status STRING, price LONG, ts TIMESTAMP, tags ARRAY<STRING>")
  val customerSchema: StructType = StructType.fromDDL(
    "_id LONG, nation INT, segment STRING, bal LONG")
  val nationSchema: StructType = StructType.fromDDL("_id INT, name STRING")

  def orders(spark: SparkSession, seed: Long, n: Long, custKeys: Int): DataFrame = {
    val custCdf = zipfCdf(custKeys, 1.0)
    rows(spark, n, orderSchema) { id =>
      val r = rnd(seed, 2, id)
      val status = pick(r, Statuses, StatusCum)
      Row(id, zipf(custCdf, r).toLong, status, 100L + r.nextLong(100000L),
        new Timestamp(Epoch2020 + r.nextLong(365L * 86400L) * 1000L),
        Seq(s"p${r.nextInt(5)}", status))
    }
  }

  def customers(spark: SparkSession, seed: Long, n: Long): DataFrame =
    rows(spark, n, customerSchema) { id =>
      val r = rnd(seed, 3, id)
      Row(id, r.nextInt(25), Segments(r.nextInt(Segments.length)), r.nextLong(1000000L))
    }

  def nations(spark: SparkSession): DataFrame =
    rows(spark, 25, nationSchema)(id => Row(id.toInt, f"NATION_$id%02d"))

  // ---- writes: keyed rows; the input's keys half overlap the base ----

  val writeSchema: StructType = StructType.fromDDL("_id LONG, n LONG, v LONG, s STRING")

  def writeRow(seed: Long, table: Int, firstKey: Long, i: Long): Row = {
    val r = rnd(seed, table, i)
    Row(firstKey + i, 1L + r.nextInt(10), r.nextLong(1000000L), s"s${r.nextInt(1000)}")
  }

  def writeRows(spark: SparkSession, seed: Long, n: Long, firstKey: Long, table: Int): DataFrame =
    rows(spark, n, writeSchema)(i => writeRow(seed, table, firstKey, i))

  // ---- catalog_ops: tables in the catalog's testdata schemas ----

  val lineitemSchema: StructType = StructType.fromDDL(
    "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")

  def lineitem(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val base = LocalDateTime.of(1995, 1, 2, 0, 0)
    rows(spark, n, lineitemSchema) { id =>
      val r = rnd(seed, 4, id)
      Row(id / 4 + 1, 1L + r.nextLong(2000L), 1L + r.nextLong(100L), (id % 4).toInt + 1,
        (1 + r.nextInt(50)).toDouble, (90000L + r.nextLong(10410000L)) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
        base.plusDays(r.nextInt(2500).toLong))
    }
  }

  val documentSchema: StructType = StructType.fromDDL(
    "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")

  /** Zipfian tokens; a seeded share of documents are near-duplicates: an
    * earlier document's base text with a few tokens replaced. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val cdf = zipfCdf(Sizes.Vocab, 1.1)
    def baseText(id: Long): Array[String] = {
      val r = rnd(seed, 5, id)
      words(r, cdf, 20 + r.nextInt(60))
    }
    rows(spark, n, documentSchema) { id =>
      val r = rnd(seed, 6, id)
      val toks =
        if (id > 0 && r.nextDouble() < Sizes.NearDupRate) {
          val t = baseText(id - 1 - r.nextLong(math.min(id, 50L)))
          (0 until 1 + r.nextInt(3)).foreach(_ => t(r.nextInt(t.length)) = Words(zipf(cdf, r)))
          t
        } else baseText(id)
      val text = toks.mkString(" ")
      Row(id, text, pick(r, Langs, LangCum), s"src${id % 20}", text.length.toLong)
    }
  }
}
