package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Input sizes. Small enough that a pass of every workload takes a couple
  * of seconds on 4 cores, so one run holds many passes. */
object Sizes {
  val GenPartitions = 4
  val Vocab = 500
  val NearDupRate = 0.1
  val FileDocs = 30000L
  val FileCustKeys = 10000
  val Orders = 20000L
  val Customers = 2000L
  val WriteRows = 5000L
  val Lineitems = 60000L
  val Documents = 1500L
}

/** One operation of a workload. `run` is the timed part; `prepare`,
  * `verify` and `cleanup` are not timed. */
abstract class Op(val name: String) {
  /** Markers its scan's description() shows when the expected push happened. */
  val expectPush: Seq[String] = Nil
  def prepare(): Unit = ()
  def run(): AnyRef
  /** None when the output is right, else what is wrong. */
  def verify(out: AnyRef): Option[String]
  def cleanup(): Unit = ()
  /** The op's DataFrame as the user program builds it (for partition drains). */
  def frame: Option[DataFrame] = None
}

object Canon {
  def rows(rs: Array[Row]): Vector[String] = rs.iterator.map(_.toString).toVector.sorted
}

/** A read: the same DataFrame program over graft's source and over the
  * plain parquet copy must return the same rows. */
final class ReadOp(name: String, actual: () => DataFrame, reference: () => DataFrame,
    override val expectPush: Seq[String] = Nil) extends Op(name) {
  private lazy val expected = Canon.rows(reference().collect())
  override def frame: Option[DataFrame] = Some(actual())
  override def run(): AnyRef = actual().collect()
  override def verify(out: AnyRef): Option[String] = {
    val got = Canon.rows(out.asInstanceOf[Array[Row]])
    if (got == expected) None
    else Some(s"$name: ${got.size} rows, want ${expected.size}; first differing " +
      got.zipAll(expected, "<none>", "<none>").find(p => p._1 != p._2).getOrElse(("", "")))
  }
}

/** A catalog query: every execution must return the first execution's
  * rows, and the first is checked against the DuckDB oracle after the run. */
final class CatalogOp(name: String, run0: () => DataFrame) extends Op(name) {
  @volatile var first: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
  private var firstCanon: Vector[String] = Vector.empty
  override def frame: Option[DataFrame] = Some(run0())
  override def run(): AnyRef = {
    val df = run0()
    (df.collect(), df.schema)
  }
  override def verify(out: AnyRef): Option[String] = {
    val (rs, schema) = out.asInstanceOf[(Array[Row], org.apache.spark.sql.types.StructType)]
    val c = Canon.rows(rs)
    if (first.isEmpty) { first = Some((rs, schema)); firstCanon = c; None }
    else if (c == firstCanon) None
    else Some(s"$name: rows differ from its first execution")
  }
}

/** A write into a fresh collection (a copy of `base` when given); the
  * collection is read back and fingerprinted against the expected final
  * state computed in Spark from the parquet inputs. */
final class WriteOp(name: String, base: Option[Path], fresh: () => Path,
    write: Path => Unit, readBack: Path => DataFrame, expected: => DataFrame,
    stored: (Long, Long) => Unit) extends Op(name) {
  private lazy val want = Fingerprint.of(expected)
  private var dir: Path = _
  override def prepare(): Unit = {
    dir = fresh()
    base.foreach(Io.copyTree(_, dir))
  }
  override def run(): AnyRef = { write(dir); dir }
  override def verify(out: AnyRef): Option[String] = {
    val got = Fingerprint.of(readBack(dir))
    stored(Io.bytesUnder(dir), got._1)
    if (got == want) None else Some(s"$name: final state $got, want $want")
  }
  override def cleanup(): Unit = Io.delete(dir)
}

object Fingerprint {
  /** Row count and the exact sum of per-row 64-bit hashes: equal for equal
    * multisets of rows, whatever their order. */
  def of(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

object Io {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def delete(p: Path): Unit = if (p != null && Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** SHA-256 of every file under `p`, by path with Spark's per-write UUIDs
    * masked, so two writes of the same rows compare equal. */
  def digest(p: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = Files.walk(p)
    val files = try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(f => (p.relativize(f).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "*"), f))
      .sortBy(_._1) finally s.close()
    files.foreach { case (rel, f) =>
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Loads table `t` with extra reader options. */
trait Src extends ((String, Map[String, String]) => DataFrame) {
  def apply(t: String): DataFrame = apply(t, Map.empty)
}

/** Where a workload's data lives: `gen` holds the generated parquet
  * inputs, `coll` the seeded collections, `scratch` per-op write targets. */
final case class Dirs(root: Path) {
  val gen: Path = root.resolve("gen")
  val coll: Path = root.resolve("coll")
  val scratch: Path = root.resolve("scratch")
}

trait Workload {
  def name: String
  /** Generate the inputs from `seed` and seed the collections. */
  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit
  def ops(spark: SparkSession, d: Dirs): Seq[Op]
  /** (bytes, docs) of the workload's collections after setup, plus what
    * its write ops stored in their latest executions. */
  def stored(spark: SparkSession, d: Dirs): (Long, Long)
  /** The ops whose scans the traced run drains. */
  def probeOps(spark: SparkSession, d: Dirs, ops: Seq[Op]): Seq[Op] = ops
  /** The graftbson collection the codec probe samples: its dir and schema. */
  def probeDocs(d: Dirs): (Path, org.apache.spark.sql.types.StructType)
}

object Workload {
  def byName(n: String): Workload = n match {
    case "connector_ops" => ConnectorOps
    case "catalog_ops" => CatalogOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** True while the traced passes run: server frames use the tracing factory. */
  @volatile var traced = false

  def parquet(spark: SparkSession, dir: Path): Src = new Src {
    def apply(t: String, o: Map[String, String]): DataFrame =
      spark.read.parquet(dir.resolve(s"$t.parquet").toString)
  }

  def bson(spark: SparkSession, dir: Path, schemas: Map[String, org.apache.spark.sql.types.StructType]): Src =
    new Src {
      def apply(t: String, o: Map[String, String]): DataFrame =
        spark.read.format("graftbson").options(o).schema(schemas(t))
          .load(dir.resolve(t).toString)
    }

  def serverOpts(dir: Path, ns: String, trace: Boolean = traced): Map[String, String] =
    Map("server_dir" -> dir.toString, "ns" -> ns) ++
      (if (trace) Map("client_factory" -> classOf[TracingServerFactory].getName) else Map.empty)

  def server(spark: SparkSession, dir: Path, schemas: Map[String, org.apache.spark.sql.types.StructType]): Src =
    new Src {
      def apply(t: String, o: Map[String, String]): DataFrame =
        spark.read.format("graftserver").options(serverOpts(dir, s"db.$t") ++ o)
          .schema(schemas(t)).load()
    }

  def writeParquet(df: DataFrame, p: Path): Unit = df.write.parquet(p.toString)

}
