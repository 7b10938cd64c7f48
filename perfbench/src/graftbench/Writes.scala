package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inserts, $inc upserts, $set updates and replaces through one transport.
  * The input's keys half overlap the base collection's, so upserts both
  * update and insert. Each execution writes a fresh copy of the base. */
object Writes {
  sealed abstract class Transport(val base: String)
  case object File extends Transport("base_file")
  case object Server extends Transport("base_srv")

  /** Generator tables of the base rows and of the input rows, whose keys
    * start at half the base's. */
  val BaseTable = 10
  val InputTable = 11

  private val seq = new AtomicLong(0)
  /** op -> (bytes, docs) of its latest execution's collection */
  private val lastStored = new ConcurrentHashMap[String, (Long, Long)]()

  def stored(): (Long, Long) = {
    val v = lastStored.values.asScala
    (v.map(_._1).sum, v.map(_._2).sum)
  }

  /** The untimed read-back of a write's collection. It never goes through
    * the tracing client, so the server counters hold only the ops' calls. */
  private def read(spark: SparkSession, t: Transport, p: Path): DataFrame = t match {
    case File => spark.read.format("graftbson").schema(Gen.writeSchema).load(p.toString)
    case Server => spark.read.format("graftserver")
      .options(Workload.serverOpts(p, "db.t", trace = false))
      .schema(Gen.writeSchema).load()
  }

  private def write(df: DataFrame, t: Transport, p: Path, o: Map[String, String]): Unit =
    t match {
      case File => df.write.format("graftbson").options(o).mode("append").save(p.toString)
      case Server => df.write.format("graftserver")
        .options(Workload.serverOpts(p, "db.t") ++ o).mode("append").save()
    }

  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    val n = Sizes.WriteRows
    Workload.writeParquet(Gen.writeRows(spark, seed, n, 0L, BaseTable), d.gen.resolve("w_base.parquet"))
    Workload.writeParquet(Gen.writeRows(spark, seed, n, n / 2, InputTable), d.gen.resolve("w_in.parquet"))
    val base = spark.read.parquet(d.gen.resolve("w_base.parquet").toString)
    Seq(File, Server).foreach(t => write(base, t, d.coll.resolve(t.base), Map.empty))
  }

  def ops(spark: SparkSession, d: Dirs, t: Transport): Seq[Op] = {
    val r = Workload.parquet(spark, d.gen)
    def in = r("w_in")
    def base = r("w_base")
    def incIn = in.select("_id", "n", "v")
    def setIn = in.select("_id", "v", "s")
    def expUpsertInc = {
      val b = base.as("b"); val i = incIn.as("i")
      b.join(i, Seq("_id"), "full_outer").select(col("_id"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("i.n"), lit(0L))).as("n"),
        (coalesce(col("b.v"), lit(0L)) + coalesce(col("i.v"), lit(0L))).as("v"),
        col("b.s").as("s"))
    }
    def expUpdateSet = {
      val b = base.as("b"); val i = setIn.as("i")
      b.join(i, Seq("_id"), "left").select(col("_id"), col("b.n").as("n"),
        coalesce(col("i.v"), col("b.v")).as("v"), coalesce(col("i.s"), col("b.s")).as("s"))
    }
    def expReplace = {
      val b = base.as("b"); val i = in.as("i")
      b.join(i, Seq("_id"), "left").select(col("_id") +:
        Seq("n", "v", "s").map(c => coalesce(col(s"i.$c"), col(s"b.$c")).as(c)): _*)
    }
    val prefix = if (t == File) "file" else "srv"
    def op(n: String, fromBase: Boolean, df: => DataFrame, o: Map[String, String],
        expected: => DataFrame) = {
      val name = s"${prefix}_$n"
      new WriteOp(name, if (fromBase) Some(d.coll.resolve(t.base)) else None,
        () => { Files.createDirectories(d.scratch); d.scratch.resolve(s"w${seq.incrementAndGet()}") },
        p => write(df, t, p, o), p => read(spark, t, p), expected,
        (bytes, docs) => lastStored.put(name, (bytes, docs)))
    }
    val upsertInc = Map("mode" -> "upsert", "update_op" -> "inc")
    val updateSet = Map("mode" -> "update", "update_op" -> "set")
    Seq(
      op("insert", fromBase = false, in, Map.empty, in),
      op("upsert_inc", fromBase = true, incIn, upsertInc, expUpsertInc),
      op("update_set", fromBase = true, setIn, updateSet, expUpdateSet)) ++
      (if (t == File) Seq(op("replace", fromBase = true, in, Map("mode" -> "replace"), expReplace))
       else Nil)
  }
}
