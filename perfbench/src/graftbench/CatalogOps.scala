package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Parquet-only catalog queries: Spark operators, graft.functions kernels
  * and plan rules do all the work; the connector does none. */
object CatalogOps extends Workload {
  val name = "catalog_ops"
  /** Many short queries rather than a few long ones: a pass sums more
    * independent timings, so its median moves less from run to run. */
  val queries: Seq[String] = Seq(
    "q01_group_agg", "q43_agg_funcs", "q05_explode_tokens", "q67_heavy_hitters",
    "q108_winnowing", "q22_dedup_ngram", "q113_table_profile")

  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    Workload.writeParquet(Gen.lineitem(spark, seed, Sizes.Lineitems), d.gen.resolve("lineitem.parquet"))
    Workload.writeParquet(Gen.documents(spark, seed, Sizes.Documents), d.gen.resolve("documents.parquet"))
  }

  def ops(spark: SparkSession, d: Dirs): Seq[Op] = queries.map { q =>
    val cq = graft.operators.Catalog.byName(q)
    new CatalogOp(q, () => cq.run(spark, d.gen.toString))
  }

  def stored(spark: SparkSession, d: Dirs): (Long, Long) =
    (Io.bytesUnder(d.gen), Sizes.Lineitems + Sizes.Documents)

  def oracle(q: String): Option[String] = graft.operators.Catalog.byName(q).oracle

  /** The passes never touch the connector, so the traced run times its
    * layers on this workload's own documents: seeded into both transports
    * here, then scanned. */
  override def probeOps(spark: SparkSession, d: Dirs, ops: Seq[Op]): Seq[Op] = {
    val docs = spark.read.parquet(d.gen.resolve("documents.parquet").toString)
    docs.write.format("graftbson").mode("append").save(d.coll.resolve("documents").toString)
    docs.write.format("graftserver").options(Workload.serverOpts(d.coll, "db.documents"))
      .mode("append").save()
    val schemas = Map("documents" -> Gen.documentSchema)
    Seq(Workload.bson(spark, d.coll, schemas), Workload.server(spark, d.coll, schemas))
      .zip(Seq("file_documents_scan", "srv_documents_scan")).map { case (src, n) =>
        val scan = () => src("documents").filter(col("n_chars") > 0).select("doc_id", "n_chars")
        new ReadOp(n, scan, scan)
      }
  }

  def probeDocs(d: Dirs) = (d.coll.resolve("documents"), Gen.documentSchema)
}
