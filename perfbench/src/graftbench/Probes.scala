package graftbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.bson.{BDoc, BInt64, BString, BsonCodec, RowCodec}
import graft.files.BsonFiles
import graft.source.{AggInputPartition, AggPush, GraftInputPartition, GroupedAggPartition}
import graft.store.{BsonCollection, WriteModels}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types.StructType

/** Calls into single layers from outside the program, timed here. Each
  * returns metrics by name. */
object Probes {
  type Metrics = mutable.LinkedHashMap[String, Double]

  /** Nanoseconds per item of `body` over `items`, median of `reps` rounds. */
  private def nsPer[T](parent: Long, name: String, items: Array[T], reps: Int)(body: T => Any): Double =
    Stats.median((0 until reps).map { _ =>
      Spans.timed(parent, name, "codec") { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < items.length) { body(items(i)); i += 1 }
        (System.nanoTime() - t0).toDouble / items.length
      }
    })

  def bsonFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".bson") && !n.startsWith(".") && !n.startsWith("_")
    }.toVector.sortBy(_.toString) finally s.close()
  }

  /** graft.bson codec on a sample of the workload's own stored docs. */
  def codec(dir: Path, schema: StructType, parent: Long): Metrics = {
    val docs = bsonFiles(dir).iterator.flatMap { f =>
      val it = BsonFiles.readAll(f.toString)
      try it.take(Probe.CodecDocs).toVector finally it.close()
    }.take(Probe.CodecDocs).toArray
    val m = new Metrics
    if (docs.isEmpty) return m
    val bytes = docs.map(BsonCodec.encode)
    val proj = BsonCodec.Proj.fromPaths(schema.fieldNames.take(2).toSeq)
    val rows = docs.map(d => RowCodec.toRow(d, schema).copy())
    val R = Probe.CodecReps
    m("bson.decode_ns_per_doc") = nsPer(parent, "decode", bytes, R)(b => BsonCodec.decode(b))
    m("bson.decode_projected_ns_per_doc") = nsPer(parent, "decode_projected", bytes, R) { b =>
      BsonCodec.readDocProjected(ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN), proj)
    }
    m("bson.to_row_ns_per_doc") = nsPer(parent, "to_row", docs, R)(d => RowCodec.toRow(d, schema))
    m("bson.encode_ns_per_doc") = nsPer(parent, "encode", docs, R)(d => BsonCodec.encode(d))
    m("bson.to_bson_ns_per_doc") = nsPer(parent, "to_bson", rows, R)((r: InternalRow) =>
      RowCodec.toBson(r, schema))
    m("bson.bytes_per_doc") = bytes.map(_.length.toDouble).sum / bytes.length
    m
  }

  /** Every node of an executed plan, looking through AQE wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  final case class Shape(scans: Int, exchanges: Int, broadcasts: Int, reused: Int,
      descriptions: Seq[String])

  def shape(p: SparkPlan): Shape = {
    val ns = nodes(p)
    val scans = ns.collect { case b: BatchScanExec => b }
    Shape(scans.size + ns.count(_.isInstanceOf[DataSourceScanExec]),
      ns.count(_.isInstanceOf[ShuffleExchangeExec]),
      ns.count(_.isInstanceOf[BroadcastExchangeExec]),
      ns.count(_.isInstanceOf[ReusedExchangeExec]),
      scans.map(_.scan.description()))
  }

  final case class Drain(planMs: Double, partitions: Int, emptyParts: Int, skew: Double,
      rows: Long, docs: Long, drainNs: Long, clientNs: Long, server: Boolean)

  /** Documents in a file's byte range: the ones the reader walks, found by
    * the same boundary rule, with every field skipped. */
  private def docsInRange(path: String, start: Long, end: Long): Long =
    if (path.isEmpty) 0L
    else {
      val it = BsonFiles.readRange(path, start, end, Some(Set.empty))
      var n = 0L
      try while (it.hasNext) { it.next(); n += 1 } finally it.close()
      n
    }

  /** Documents a planned graftbson partition scans. A pushed COUNT(*)
    * reads the file's stats and no document; a pushed MIN/MAX walks the
    * whole file. Server partitions count 0 here. */
  def docsScanned(p: InputPartition): Long = p match {
    case g: GraftInputPartition => docsInRange(g.path, g.start, g.end)
    case g: GroupedAggPartition => docsInRange(g.path, g.start, g.end)
    case a: AggInputPartition =>
      if (a.items.exists(i => i.isInstanceOf[AggPush.MinOf] || i.isInstanceOf[AggPush.MaxOf]))
        docsInRange(a.path, 0L, Long.MaxValue)
      else 0L
    case _ => 0L
  }

  /** Plan and drain every DSv2 scan of `op`'s plan on this thread, one
    * partition after another. */
  def drain(op: Op, parent: Long): Seq[Drain] = op.frame.toSeq.flatMap { df =>
    val scans = nodes(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    scans.map { b =>
      val server = b.scan.getClass.getName.contains("Server")
      val (drain, parts) = Spans.timed(parent, s"drain ${op.name}", "partition_drain") { sid =>
        val batch = b.scan.toBatch
        val t0 = System.nanoTime()
        val parts = batch.planInputPartitions()
        val planNs = System.nanoTime() - t0
        Spans.add(Spans.newId(), sid, "plan_input_partitions", "split_plan", t0, t0 + planNs)
        val factory = batch.createReaderFactory()
        val client0 = ServerCounters.totalNs
        val times = mutable.ArrayBuffer[Long]()
        var rows = 0L
        var empty = 0
        parts.foreach { p =>
          val s = System.nanoTime()
          var n = 0L
          if (factory.supportColumnarReads(p)) {
            val r = factory.createColumnarReader(p)
            try while (r.next()) n += r.get().numRows() finally r.close()
          } else {
            val r = factory.createReader(p)
            try while (r.next()) { r.get(); n += 1 } finally r.close()
          }
          val e = System.nanoTime()
          Spans.add(Spans.newId(), sid, "partition", "partition_read", s, e)
          times += e - s
          rows += n
          if (n == 0) empty += 1
        }
        val clientNs = ServerCounters.totalNs - client0
        val mean = if (times.isEmpty) 0.0 else times.sum.toDouble / times.size
        (Drain(planNs / 1e6, parts.length, empty,
          if (mean > 0) times.max / mean else 1.0, rows, 0L, times.sum, clientNs, server), parts)
      }
      // counted after the timed drain, so its span holds only the reads
      if (server) drain else drain.copy(docs = parts.map(docsScanned).sum)
    }
  }

  /** Each regular file under `dir`: (file key, size, modification time). */
  private def fileStates(dir: Path): Map[Path, (AnyRef, Long, Long)] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
      val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
      f -> ((a.fileKey, a.size, a.lastModifiedTime.toMillis))
    }.toMap finally s.close()
  }

  /** graft.store write path: `bulkWrite` of the keyed write rows (the
    * connector workload's own base and input) into copies of a base
    * collection, per write mode. */
  def store(seed: Long, d: Dirs, parent: Long): Metrics = {
    val m = new Metrics
    val n = Sizes.WriteRows
    def rows(table: Int, first: Long) = (0L until n).map { i =>
      val r = Gen.writeRow(seed, table, first, i)
      BDoc("_id" -> BInt64(r.getLong(0)), "n" -> BInt64(r.getLong(1)),
        "v" -> BInt64(r.getLong(2)), "s" -> BString(r.getString(3)))
    }
    val baseDir = d.scratch.resolve("store_base")
    Files.createDirectories(baseDir)
    new BsonCollection(baseDir.toString).bulkWrite(
      rows(Writes.BaseTable, 0L).iterator.map(doc => WriteModels.fromDoc(
        WriteModels.toDoc("insert", doc, Seq("_id"), "set", multi = false, None))))
    val input = rows(Writes.InputTable, n / 2)
    var matched, modified, upserted = 0L
    var writtenBytes = 0L
    var writtenDocs = 0L
    Seq("insert" -> "set", "upsert" -> "inc", "update" -> "set", "replace" -> "set")
      .foreach { case (mode, op) =>
        val models = input.map { doc =>
          val u = if (mode == "upsert") BDoc(doc.fields.removed("s"))
            else if (mode == "update") BDoc(doc.fields.removed("n")) else doc
          WriteModels.fromDoc(WriteModels.toDoc(mode, u, Seq("_id"), op, multi = false, None))
        }
        val dir = d.scratch.resolve(s"store_$mode")
        Io.delete(dir)
        if (mode == "insert") Files.createDirectories(dir)
        else Io.copyTree(baseDir, dir)
        val coll = new BsonCollection(dir.toString)
        val before = fileStates(dir)
        val res = Spans.timed(parent, s"bulk_write $mode", "store") { _ =>
          val t0 = System.nanoTime()
          val r = coll.bulkWrite(models.iterator)
          m(s"store.${mode}_ns_per_doc") = (System.nanoTime() - t0).toDouble / models.length
          r
        }
        // the apply stages a whole new shard file (and its split sidecar)
        // and renames it over the old one: every new or replaced file
        writtenBytes += fileStates(dir).collect {
          case (f, st) if !before.get(f).contains(st) => st._2
        }.sum
        writtenDocs += models.length
        matched += res.matched; modified += res.modified; upserted += res.upserted
        Io.delete(dir)
      }
    m("store.matched") = matched.toDouble
    m("store.modified") = modified.toDouble
    m("store.upserted") = upserted.toDouble
    m("store.stage_bytes_per_doc") = writtenBytes.toDouble / writtenDocs
    Io.delete(baseDir)
    m
  }
}

object Probe {
  val CodecDocs = 4000
  val CodecReps = 5
}
