package graftbench

import org.apache.spark.sql.SparkSession

/** Both transports: graftbson and graftserver reads, then each transport's
  * writes. A file-side change moves the file_* ops and the server ops stay
  * put, and the other way round; catalog_ops bypasses both. */
object ConnectorOps extends Workload {
  val name = "connector_ops"

  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    FileReads.setup(spark, d, seed)
    ServerReads.setup(spark, d, seed)
    Writes.setup(spark, d, seed)
  }

  def ops(spark: SparkSession, d: Dirs): Seq[Op] =
    FileReads.ops(spark, d) ++ ServerReads.ops(spark, d) ++
      Writes.ops(spark, d, Writes.File) ++ Writes.ops(spark, d, Writes.Server)

  def stored(spark: SparkSession, d: Dirs): (Long, Long) = {
    val (b, n) = Writes.stored()
    (Io.bytesUnder(d.coll) + b,
      Sizes.FileDocs + Sizes.Orders + Sizes.Customers + 25 + 2 * Sizes.WriteRows + n)
  }

  def probeDocs(d: Dirs) = (d.coll.resolve("docs"), Gen.docSchema)
}
