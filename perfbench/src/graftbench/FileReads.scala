package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** graftbson reads: nested order documents through the file source. */
object FileReads {
  private val schemas = Map("docs" -> Gen.docSchema)

  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    Workload.writeParquet(Gen.docs(spark, seed, Sizes.FileDocs, Sizes.FileCustKeys),
      d.gen.resolve("docs.parquet"))
    spark.read.parquet(d.gen.resolve("docs.parquet").toString)
      .write.format("graftbson").mode("append").save(d.coll.resolve("docs").toString)
  }

  /** The file source's pushed sample keeps a key when md5(seed:key) falls
    * in [lower, upper) of 2^60; the parquet reference spells the same test. */
  private def keep(key: Column, seed: Long, fraction: Double): Column = {
    val h = conv(substring(md5(concat(lit(s"$seed:"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")
    h < math.floor(fraction * graft.source.SamplePush.Unit60).toLong
  }

  def ops(spark: SparkSession, d: Dirs): Seq[Op] = {
    val a = Workload.bson(spark, d.coll, schemas)
    val r = Workload.parquet(spark, d.gen)
    def op(n: String, push: String*)(p: Src => DataFrame) =
      new ReadOp(n, () => p(a), () => p(r), push)
    Seq(
      op("file_scan_agg") { s =>
        s("docs").filter(length(col("meta.blob")) % 7 =!= 3).groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p"), sum(size(col("items"))).as("ni"))
      },
      op("file_filter_1pct") { s =>
        s("docs").filter(col("price") < 1100L).select("_id", "cust", "price", "status")
      },
      op("file_group_low", "PushedGroupedAggregate") { s =>
        s("docs").groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p"), max(col("price")).as("mx"))
      },
      op("file_group_high", "PushedGroupedAggregate") { s =>
        s("docs").groupBy(col("cust")).agg(count(lit(1)).as("n"), sum(col("price")).as("p"))
      },
      op("file_topn", "PushedTopN") { s =>
        s("docs").orderBy(col("price").desc, col("_id").asc).limit(100)
          .select("_id", "price", "cust")
      },
      op("file_unwind_group", "PushedUnwind") { s =>
        s("docs").select(explode(col("tags")).as("tag")).groupBy(col("tag"))
          .agg(count(lit(1)).as("n"))
      },
      new ReadOp("file_sample",
        () => a("docs", Map("sample_key" -> "_id"))
          .sample(withReplacement = false, 0.02, 11L)
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p")),
        () => r("docs").filter(keep(col("_id"), 11L, 0.02))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p")),
        Seq("PushedSample")),
      op("file_nested_prune") { s =>
        s("docs").groupBy(col("meta.src").as("src"))
          .agg(sum(col("meta.score")).as("sc"), count(lit(1)).as("n"))
      })
  }
}
