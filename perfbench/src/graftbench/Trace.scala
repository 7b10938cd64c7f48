package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.bson.{BDoc, BsonValue}
import graft.query.BQuery
import graft.server._
import graft.store.{BulkResult, WriteModel}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written once at exit. Times are
  * System.nanoTime; Spark's epoch-millisecond times are mapped onto it. */
object Spans {
  final case class Span(id: Long, parent: Long, name: String, kind: String,
      start: Long, end: Long)

  private val ids = new AtomicLong(0)
  val all = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  /** The op span that Spark jobs, server calls and drains belong to. */
  @volatile var currentOp = 0L
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs
  def newId(): Long = ids.incrementAndGet()

  def add(id: Long, parent: Long, name: String, kind: String, start: Long, end: Long): Unit =
    if (enabled) all.add(Span(id, parent, name, kind, start, end))

  def timed[T](parent: Long, name: String, kind: String)(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id) finally add(id, parent, name, kind, t0, System.nanoTime())
  }

  /** JSON lines, one span each, with its self time. */
  def write(path: java.nio.file.Path): Int = {
    val spans = all.asScala.toVector
    val kids = spans.groupBy(_.parent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val self = Stats.selfTime((s.start, s.end),
        kids.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)))
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_ns":${s.start},"end_ns":${s.end},"self_ns":$self}""")
      w.newLine()
    } finally w.close()
    spans.size
  }
}

/** Sums executor task metrics per measured pass, and records job and
  * stage spans while tracing. A task, stage or job belongs to the pass
  * whose timed op window (epoch ms) contains its launch or submission, so
  * jobs from any thread count and the untimed checks never do. */
final class TaskSums extends SparkListener {
  final class Acc {
    var cpuNs, runMs, gcMs, schedMs, shufW, shufR, spill, tasks, stages, jobs = 0L
    var scanStageMs, postScanMs = 0L
  }
  val perPass = mutable.Map[Int, Acc]()
  final class Window(val pass: Int, val start: Long) { @volatile var end = Long.MaxValue }
  /** one per timed op execution; open (end = MaxValue) while the op runs */
  private val windows = new ConcurrentLinkedQueue[Window]()
  private val jobSpan = mutable.Map[Int, (Long, Long, Long)]() // job -> (span id, op, start)
  private val stageJob = mutable.Map[Int, Long]()

  def open(pass: Int): Window = {
    val w = new Window(pass, System.currentTimeMillis())
    windows.add(w)
    w
  }

  private def acc(ms: Long): Option[Acc] =
    windows.asScala.find(w => ms >= w.start && ms <= w.end)
      .map(w => perPass.getOrElseUpdate(w.pass, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc(e.time).foreach(_.jobs += 1)
    if (Spans.enabled) {
      val id = Spans.newId()
      jobSpan(e.jobId) = (id, Spans.currentOp, Spans.fromEpochMs(e.time))
      e.stageIds.foreach(stageJob(_) = id)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, op, start) =>
      Spans.add(id, op, s"job ${e.jobId}", "spark_job", start, Spans.fromEpochMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    si.submissionTime.flatMap(acc).foreach { a =>
      a.stages += 1
      val run = si.taskMetrics.executorRunTime
      if (si.parentIds.isEmpty) a.scanStageMs += run else a.postScanMs += run
    }
    for (job <- stageJob.get(si.stageId); s <- si.submissionTime; c <- si.completionTime)
      Spans.add(Spans.newId(), job, s"stage ${si.stageId}", "spark_stage",
        Spans.fromEpochMs(s), Spans.fromEpochMs(c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (a <- acc(e.taskInfo.launchTime); m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
    }
  }
}

/** Planning phases and the physical plan of every query the traced passes
  * run, keyed by the op that was current when the bus delivered it (the
  * traced run drains the bus after each op). */
final class PlanCapture extends QueryExecutionListener {
  val byOp = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  @volatile var op: String = ""
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Spans.enabled) byOp.add(op -> qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-command counters of the traced server client. */
object ServerCounters {
  val Commands = Seq("find", "group", "lookup", "unwind", "plan", "bulk_write")
  final class C { val calls, ns, docs, examined = new LongAdder }
  val byCmd: Map[String, C] = Commands.map(_ -> new C).toMap
  def reset(): Unit = byCmd.values.foreach { c =>
    c.calls.reset(); c.ns.reset(); c.docs.reset(); c.examined.reset()
  }
  def totalNs: Long = byCmd.values.map(_.ns.sum).sum
  /** Document count per (server dir, namespace): every write collection
    * is `db.t`, each in a directory of its own. */
  private val sizes = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  def sizeOf(dir: String, ns: String, u: ServerClient): Long =
    sizes.computeIfAbsent((dir, ns), _ => u.collStats(ns).count)
}

/** The file-backed server factory with every client call timed and counted.
  * Passed to graftserver scans and writes through `client_factory` in the
  * traced run only. */
final class TracingServerFactory extends ServerClientFactory {
  override def create(options: Map[String, String]): ServerClient =
    new TracingServerClient(new DirServerFactory().create(options),
      options.getOrElse("server_dir", ""))
}

final class TracingServerClient(u: ServerClient, dir: String) extends ServerClient {
  import ServerCounters._

  private def call[T](cmd: String)(body: => T): T = {
    val parent = Spans.currentOp
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      val c = byCmd(cmd)
      c.calls.increment(); c.ns.add(t1 - t0)
      Spans.add(Spans.newId(), parent, cmd, "server_call", t0, t1)
    }
  }

  /** Cursor results stream: time spent inside the iterator counts too. */
  private def cursor(cmd: String, ns: String)(open: => Iterator[BDoc]): Iterator[BDoc] = {
    val parent = Spans.currentOp
    val c = byCmd(cmd)
    c.calls.increment()
    c.examined.add(sizeOf(dir, ns, u))
    val start = System.nanoTime()
    val it = open
    var busy = System.nanoTime() - start
    var done = false
    new Iterator[BDoc] {
      private def finish(): Unit = if (!done) {
        done = true
        c.ns.add(busy)
        Spans.add(Spans.newId(), parent, cmd, "server_call", start, start + busy)
      }
      override def hasNext: Boolean = {
        val t0 = System.nanoTime()
        val h = it.hasNext
        busy += System.nanoTime() - t0
        if (!h) finish()
        h
      }
      override def next(): BDoc = {
        val t0 = System.nanoTime()
        val d = it.next()
        busy += System.nanoTime() - t0
        c.docs.increment()
        d
      }
    }
  }

  override def collStats(ns: String): ServerClient.CollStats = call("plan")(u.collStats(ns))
  override def find(ns: String, q: Find): Iterator[BDoc] = cursor("find", ns)(u.find(ns, q))
  override def sampleKeys(ns: String, key: String, n: Int): Seq[BsonValue] =
    call("plan")(u.sampleKeys(ns, key, n))
  override def splitVector(ns: String, key: String, maxChunkBytes: Long): Option[Seq[BsonValue]] =
    call("plan")(u.splitVector(ns, key, maxChunkBytes))
  override def chunkRanges(ns: String, key: String)
      : Seq[(Option[BsonValue], Option[BsonValue], Seq[String])] =
    call("plan")(u.chunkRanges(ns, key))
  override def bulkWrite(ns: String, models: Iterator[WriteModel], ordered: Boolean): BulkResult = {
    var n = 0L
    val r = call("bulk_write")(u.bulkWrite(ns, models.map { m => n += 1; m }, ordered))
    byCmd("bulk_write").docs.add(n)
    r
  }
  override def createIndex(ns: String, fields: Seq[String]): Unit =
    call("plan")(u.createIndex(ns, fields))
  override def groupAggregate(ns: String, query: BQuery, groupKeys: Seq[String],
      aggs: Seq[GroupAgg], unwind: Option[ServerClient.Unwind], postQuery: BQuery,
      computed: Seq[graft.query.ComputedCol]): Iterator[BDoc] =
    cursor("group", ns)(u.groupAggregate(ns, query, groupKeys, aggs, unwind, postQuery, computed))
  override def unwoundRead(ns: String, query: BQuery, unwind: ServerClient.Unwind,
      postQuery: BQuery, sortSpec: Seq[(String, Boolean)], skip: Long, limit: Long,
      projection: Option[Seq[String]]): Iterator[BDoc] =
    cursor("unwind", ns)(u.unwoundRead(ns, query, unwind, postQuery, sortSpec, skip, limit,
      projection))
  override def lookupJoin(ns: String, j: LookupJoin): Iterator[BDoc] =
    cursor("lookup", ns)(u.lookupJoin(ns, j))
}
