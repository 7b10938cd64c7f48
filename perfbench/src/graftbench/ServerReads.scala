package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** In-process graftserver reads: orders, customers, nations. */
object ServerReads {
  private val schemas = Map(
    "orders" -> Gen.orderSchema, "customers" -> Gen.customerSchema,
    "nations" -> Gen.nationSchema)
  private val Uniform = Map("assume_uniform_storage" -> "true")

  def setup(spark: SparkSession, d: Dirs, seed: Long): Unit = {
    val tables = Seq(
      "orders" -> Gen.orders(spark, seed, Sizes.Orders, Sizes.Customers.toInt),
      "customers" -> Gen.customers(spark, seed, Sizes.Customers),
      "nations" -> Gen.nations(spark))
    tables.foreach { case (t, df) =>
      val p = d.gen.resolve(s"$t.parquet")
      Workload.writeParquet(df, p)
      spark.read.parquet(p.toString).write.format("graftserver")
        .options(Workload.serverOpts(d.coll, s"db.$t")).mode("append").save()
    }
  }

  def ops(spark: SparkSession, d: Dirs): Seq[Op] = {
    val a = Workload.server(spark, d.coll, schemas)
    val r = Workload.parquet(spark, d.gen)
    def op(n: String, push: String*)(p: Src => DataFrame) =
      new ReadOp(n, () => p(a), () => p(r), push)
    def o(s: Src) = s("orders", Uniform)
    def c(s: Src) = s("customers", Uniform)
    def n(s: Src) = s("nations")
    Seq(
      // q69 shape: small splits, plain cursors, the aggregate in Spark
      op("srv_cursor_agg") { s =>
        s("orders", Map("split_size" -> (512L * 1024).toString))
          .filter(col("price") > 1000L).groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p"))
      },
      op("srv_group_low", "PushedGroupedAggregate") { s =>
        o(s).groupBy(col("status"))
          .agg(count(lit(1)).as("n"), sum(col("price")).as("p"), max(col("price")).as("mx"))
      },
      op("srv_group_high", "PushedGroupedAggregate") { s =>
        o(s).groupBy(col("cust")).agg(count(lit(1)).as("n"), sum(col("price")).as("p"))
      },
      op("srv_topn", "PushedTopN") { s =>
        o(s).orderBy(col("price").desc, col("_id").asc).limit(100).select("_id", "price", "cust")
      },
      op("srv_join_small", "PushedJoin") { s =>
        val cc = c(s); val nn = n(s)
        cc.join(nn, cc("nation") === nn("_id")).groupBy(col("name"))
          .agg(count(lit(1)).as("n"), sum(col("bal")).as("bal"))
      },
      // q134 shape
      op("srv_join_large_group", "PushedJoin") { s =>
        val oo = o(s).filter(col("price") > 1000L); val cc = c(s)
        oo.join(cc, oo("cust") === cc("_id")).groupBy(col("segment"))
          .agg(count(lit(1)).as("n"), min(col("price")).as("lo"), max(col("price")).as("hi"),
            sum(col("cust")).as("sc"))
      },
      // q143 shape
      op("srv_join_chain", "PushedJoin") { s =>
        val oo = o(s); val cc = c(s); val nn = n(s)
        oo.join(cc, oo("cust") === cc("_id")).join(nn, cc("nation") === nn("_id"))
          .filter(oo("price") > 500L).groupBy(col("name"))
          .agg(count(lit(1)).as("n"), sum(oo("_id")).as("sk"), max(oo("price")).as("hi"))
      },
      // q162 shape
      op("srv_unwind_join_group", "PushedJoin") { s =>
        val oo = o(s); val cc = c(s)
        oo.join(cc, oo("cust") === cc("_id"))
          .select(col("segment"), explode(col("tags")).as("tag"))
          .groupBy(col("segment"), col("tag")).agg(count(lit(1)).as("n"))
      },
      // q182 shape
      op("srv_date_bin_group", "PushedGroupedAggregate") { s =>
        o(s).groupBy(hour(col("ts")).as("h"), dayofweek(col("ts")).as("dw"))
          .agg(count(lit(1)).as("n"), sum(col("cust")).as("sc"))
      })
  }
}
