package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.graftbench.BusAccess
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Maximum heap in use after a collection, while armed: the live heap
  * high-water mark of the measured passes. */
object Heap {
  @volatile var armed = false
  @volatile var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: javax.management.Notification, hb: Any): Unit =
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }
      }, null, null)
    case _ => ()
  }
}

object Host {
  /** A fixed pure-JVM kernel (fill, sort and fold 1M longs), in ms; the
    * median of three. Reads high when the host is contended. */
  def calibMs(): Double = Stats.median((0 until 3).map { _ =>
    val t0 = System.nanoTime()
    val a = Array.tabulate(1 << 20)(i => Gen.mix(i.toLong))
    java.util.Arrays.sort(a)
    var acc = 0L
    a.foreach(x => acc ^= x)
    if (acc == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  })
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, out: Path)

  val SetupReps = 3
  /** JIT and codegen keep speeding ops up until about this many op
    * executions have run, since every op shares Spark's planning and
    * scheduling paths. A pass timed before then also times how fast the host
    * compiles, so warm up for at least this many executions, passes and
    * seconds. */
  val WarmOpRuns = 28
  val WarmPasses = 2
  val WarmSeconds = 10
  val MinPasses = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = graft.GraftConf.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[bench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Stats.selfCheck()
    val calibBefore = Host.calibMs()
    val wl = Workload.byName(a.workload)
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(a.out)
    Ledger.out = Some(a.out.resolve("ledger.jsonl"))

    // ---- set-up, several times: session start, generation, seeding ----
    var spark: SparkSession = null
    var dirs: Dirs = null
    val setupS = mutable.ArrayBuffer[Double]()
    val digests = mutable.ArrayBuffer[String]()
    for (i <- 0 until SetupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      if (dirs != null) Io.delete(dirs.root)
      dirs = Dirs(a.work.resolve(s"data$i"))
      val t0 = System.nanoTime()
      spark = session(cpus, a.work)
      log(s"session $i up")
      Files.createDirectories(dirs.coll)
      wl.setup(spark, dirs, a.seed)
      setupS += (System.nanoTime() - t0) / 1e9
      digests += Io.digest(dirs.gen)
    }
    val sc = spark.sparkContext
    val sums = new TaskSums
    sc.addSparkListener(sums)
    val capture = new PlanCapture
    spark.listenerManager.register(capture)
    Heap.install()
    log("set-up done")

    val ops = wl.ops(spark, dirs)
    var attempted = 0L
    var failed = 0L
    val problems = mutable.LinkedHashMap[String, String]()
    val opSecs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    ops.foreach(o => opSecs(o.name) = mutable.ArrayBuffer())

    def drainBus(): Unit = BusAccess.drain(sc)

    /** One pass over the op list; returns the summed timed seconds. */
    def pass(k: Int, record: Boolean, traced: Boolean): Double = {
      val passSpan = Spans.newId()
      val p0 = System.nanoTime()
      var total = 0.0
      ops.foreach { op =>
        attempted += 1
        var out: AnyRef = null
        var err: Option[String] = None
        try op.prepare() catch { case e: Throwable => err = Some(s"prepare: $e") }
        val opSpan = Spans.newId()
        if (traced) { Spans.currentOp = opSpan; capture.op = op.name }
        val window = if (record) Some(sums.open(k)) else None
        val t0 = System.nanoTime()
        if (err.isEmpty) try out = op.run() catch { case e: Throwable => err = Some(e.toString) }
        val t1 = System.nanoTime()
        window.foreach(_.end = System.currentTimeMillis())
        if (traced) {
          Spans.add(opSpan, passSpan, op.name, "op", t0, t1)
          drainBus()
          Spans.currentOp = 0L
          capture.op = ""
        }
        if (err.isEmpty) try err = op.verify(out) catch { case e: Throwable => err = Some(s"verify: $e") }
        try op.cleanup() catch { case e: Throwable => err = err.orElse(Some(s"cleanup: $e")) }
        if (traced) drainBus()
        err.foreach { e =>
          failed += 1
          if (!problems.contains(op.name)) {
            problems(op.name) = e
            System.err.println(s"[bench] FAILED ${op.name}: $e")
          }
        }
        val sec = (t1 - t0) / 1e9
        if (record && !traced) opSecs(op.name) += sec
        total += sec
      }
      if (traced) Spans.add(passSpan, 0L, s"pass $k", "pass", p0, System.nanoTime())
      total
    }

    // ---- warm-up (checked, not timed) ----
    val w0 = System.nanoTime()
    val warmPass = mutable.ArrayBuffer[Double]()
    while (warmPass.size < WarmPasses || warmPass.size * ops.size < WarmOpRuns ||
        System.nanoTime() - w0 < WarmSeconds * 1000000000L)
      warmPass += pass(-1, record = false, traced = false)

    log("warm-up done")

    // ---- measured passes; the traced run alternates plain and traced ----
    val untracedPass = mutable.ArrayBuffer[Double]()
    val tracedPass = mutable.ArrayBuffer[Double]()
    val tracedIds = mutable.ArrayBuffer[Int]()
    Heap.peak = 0L
    Heap.armed = true
    if (a.trace) ServerCounters.reset()
    var k = 0
    val m0 = System.nanoTime()
    val minPasses = if (a.trace) 2 else MinPasses
    while (untracedPass.size < minPasses || tracedPass.size < (if (a.trace) minPasses else 0) ||
        System.nanoTime() - m0 < a.seconds * 1000000000L) {
      val traced = a.trace && k % 2 == 1
      // a full collection first, so each pass's after-GC readings start
      // from the same retained heap
      System.gc()
      Workload.traced = traced
      Spans.enabled = traced
      if (traced) { tracedPass += pass(k, record = true, traced = true); tracedIds += k }
      else untracedPass += pass(k, record = true, traced = false)
      k += 1
    }
    Workload.traced = a.trace
    Spans.enabled = a.trace
    Heap.armed = false
    drainBus()

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val (bytes, docs) = wl.stored(spark, dirs)
    def perPass(f: sums.Acc => Double, passes: Seq[Int]): Double =
      Stats.median(passes.map(p => sums.perPass.get(p).map(f).getOrElse(0.0)))

    if (!a.trace) {
      metrics("setup_s") = (Stats.median(setupS.toSeq), "s")
      metrics("pass_s") = (Stats.median(untracedPass.toSeq), "s")
      metrics("op_p50_s") = (Stats.median(opSecs.values.map(xs => Stats.median(xs.toSeq)).toSeq), "s")
      metrics("task_cpu_s") = (perPass(_.cpuNs / 1e9, 0 until k), "s")
      val heap = if (Heap.peak > 0) Heap.peak else {
        System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
      metrics("heap_peak_mb") = (heap / 1048576.0, "MB")
      metrics("stored_bytes_per_doc") = (bytes.toDouble / math.max(docs, 1L), "B")
    } else {
      val tp = tracedIds.toSeq
      Spans.timed(0L, "probes", "probes") { parent =>
        traceMetrics(spark, wl, dirs, a.seed, ops, sums, tp, capture, parent)
      }.foreach { case (n, v) => metrics(n) = (v, "") }
      val opMedians = opSecs.values.map(xs => Stats.median(xs.toSeq)).toSeq
      metrics("op.fastest_s") = (opMedians.min, "s")
      metrics("op.slowest_s") = (opMedians.max, "s")
      metrics("trace.overhead_frac") =
        (Stats.median(tracedPass.toSeq) / Stats.median(untracedPass.toSeq) - 1.0, "")
    }
    log("passes and probes done")
    val calibAfter = Host.calibMs()
    if (a.trace) metrics("host.calib_ms") = ((calibBefore + calibAfter) / 2, "ms")

    // catalog results for the oracle check after the JVM exits
    ops.foreach {
      case c: CatalogOp => c.first.foreach { case (rows, schema) =>
        spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
          .write.parquet(a.out.resolve("results").resolve(c.name).toString)
      }
      case _ => ()
    }
    if (wl == CatalogOps) {
      val oracle = CatalogOps.queries.flatMap(q => CatalogOps.oracle(q).map(q -> Json.str(_)))
      Files.writeString(a.out.resolve("oracle_sql.json"), Json.obj(oracle))
    }
    if (a.trace) {
      val n = Spans.write(a.out.resolve("spans.jsonl"))
      System.err.println(s"[bench] wrote $n spans to ${a.out.resolve("spans.jsonl")}")
    }

    val deterministic = digests.distinct.size == 1
    if (!deterministic) System.err.println(s"[bench] set-ups of one seed differ: $digests")
    val host = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "nproc" -> cpus.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "calib_ms_before" -> Json.num(calibBefore), "calib_ms_after" -> Json.num(calibAfter),
      "setup_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
      "op_median_s" -> Json.obj(opSecs.toSeq.filter(_._2.nonEmpty).map { case (n, xs) =>
        n -> Json.num(Stats.median(xs.toSeq)) }),
      "warm_pass_s" -> warmPass.map(Json.num).mkString("[", ",", "]"),
      "pass_s_all" -> untracedPass.map(Json.num).mkString("[", ",", "]"),
      "passes" -> untracedPass.size.toString, "traced_passes" -> tracedPass.size.toString,
      "gen_dir" -> Json.str(dirs.gen.toString),
      "inputs_deterministic" -> deterministic.toString, "input_digest" -> Json.str(digests.head),
      "failed_ops" -> Json.obj(problems.toSeq.map { case (k, v) => k -> Json.str(v.take(300)) })))
    Files.writeString(a.out.resolve("host.json"), host)
    println("HOST " + host)
    val result = Json.obj(Seq(
      "correct" -> (failed == 0 && deterministic).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
    println("RESULT " + result)
    spark.stop()
  }

  /** Per-layer metrics of the traced run. */
  def traceMetrics(spark: SparkSession, wl: Workload, d: Dirs, seed: Long, ops: Seq[Op],
      sums: TaskSums, tp: Seq[Int], capture: PlanCapture, parent: Long): Seq[(String, Double)] = {
    val m = mutable.LinkedHashMap[String, Double]()
    val nPasses = tp.size.toDouble
    def perPass(f: sums.Acc => Double): Double =
      Stats.median(tp.map(p => sums.perPass.get(p).map(f).getOrElse(0.0)))
    m("spark.jobs") = perPass(_.jobs.toDouble)
    m("spark.stages") = perPass(_.stages.toDouble)
    m("spark.tasks") = perPass(_.tasks.toDouble)
    m("spark.executor_run_s") = perPass(_.runMs / 1e3)
    m("spark.scheduler_delay_s") = perPass(_.schedMs / 1e3)
    m("spark.gc_s") = perPass(_.gcMs / 1e3)
    m("spark.shuffle_write_mb") = perPass(_.shufW / 1048576.0)
    m("spark.shuffle_read_mb") = perPass(_.shufR / 1048576.0)
    m("spark.spill_mb") = perPass(_.spill / 1048576.0)
    m("spark.scan_stage_s") = perPass(_.scanStageMs / 1e3)
    m("spark.post_scan_s") = perPass(_.postScanMs / 1e3)

    // server evaluators: per traced pass, or over the probes for a
    // workload whose passes make no server calls
    def serverMetrics(per: Double): Unit = {
      ServerCounters.Commands.foreach { c =>
        val x = ServerCounters.byCmd(c)
        m(s"server.$c.calls") = x.calls.sum / per
        m(s"server.$c.docs_out") = x.docs.sum / per
      }
      m("server.ms") = ServerCounters.totalNs / 1e6 / per
      val readCmds = Seq("find", "group", "lookup", "unwind").map(ServerCounters.byCmd)
      val out = readCmds.map(_.docs.sum).sum
      if (out > 0) m("server.docs_examined_per_out") = readCmds.map(_.examined.sum).sum.toDouble / out
    }
    val serverInPasses = ServerCounters.totalNs > 0
    if (serverInPasses) serverMetrics(nPasses)

    // pushdown planning and the plan-shape ledger
    val qes = capture.byOp.asScala.toVector.filter(_._1.nonEmpty)
    def phaseMs(qe: org.apache.spark.sql.execution.QueryExecution, ph: String): Double =
      qe.tracker.phases.get(ph).map(_.durationMs.toDouble).getOrElse(0.0)
    val shapes = qes.map { case (op, qe) => (op, qe, Probes.shape(qe.executedPlan)) }
    m("plan.analysis_ms") = shapes.map(s => phaseMs(s._2, "analysis")).sum / nPasses
    m("plan.optimizer_ms") = shapes.map(s => phaseMs(s._2, "optimization")).sum / nPasses
    m("plan.physical_ms") = shapes.map(s => phaseMs(s._2, "planning")).sum / nPasses
    m("plan.scans") = shapes.map(_._3.scans).sum / nPasses
    m("plan.exchanges") = shapes.map(_._3.exchanges).sum / nPasses
    m("plan.broadcasts") = shapes.map(_._3.broadcasts).sum / nPasses
    m("plan.reused_exchanges") = shapes.map(_._3.reused).sum / nPasses
    val ledger = ops.map { op =>
      val mine = shapes.filter(_._1 == op.name).map(_._3)
      val descs = mine.flatMap(_.descriptions)
      val pushed = op.expectPush.forall(mk => descs.exists(_.contains(mk)))
      (op, mine.headOption, pushed)
    }
    val expecting = ledger.filter(_._1.expectPush.nonEmpty)
    m("plan.pushed_ops") = expecting.count(_._3).toDouble
    m("plan.refused_ops") = expecting.count(!_._3).toDouble
    Ledger.write(ledger)

    // split planning and readers: drain each op's scans on this thread
    val probeOps = wl.probeOps(spark, d, ops)
    val drains = probeOps.flatMap(op => Probes.drain(op, parent).map(op -> _))
    if (!serverInPasses) serverMetrics(1.0)
    val (docsDir, docsSchema) = wl.probeDocs(d)
    if (drains.nonEmpty) {
      m("split.plan_ms") = drains.map(_._2.planMs).sum / probeOps.size
      m("split.partitions") = drains.map(_._2.partitions).sum.toDouble / drains.size
      m("split.empty_frac") =
        drains.map(_._2.emptyParts).sum.toDouble / math.max(1, drains.map(_._2.partitions).sum)
      m("split.skew") = Stats.median(drains.map(_._2.skew))
      val files = drains.map(_._2).filter(!_.server)
      val scanned = files.map(_.docs).sum.toDouble
      if (scanned > 0) {
        m("reader.file.ns_per_doc") = files.map(_.drainNs).sum / scanned
        m("reader.file.docs_scanned") = scanned
        m("reader.file.rows_out") = files.map(_.rows).sum.toDouble
        m("reader.file.yield") = files.map(_.rows).sum / scanned
      }
      val srv = drains.map(_._2).filter(_.server)
      val srvRows = srv.map(_.rows).sum
      if (srvRows > 0)
        m("reader.server.ns_per_row") = srv.map(x => x.drainNs - x.clientNs).sum.toDouble / srvRows
    }

    m ++= Probes.codec(docsDir, docsSchema, parent)
    m ++= Probes.store(seed, d, parent)
    m.toSeq
  }
}

/** The plan-shape ledger of the traced run, one line per op. */
object Ledger {
  @volatile var out: Option[Path] = None
  def write(rows: Seq[(Op, Option[Probes.Shape], Boolean)]): Unit = out.foreach { p =>
    val lines = rows.map { case (op, s, pushed) =>
      Json.obj(Seq("op" -> Json.str(op.name),
        "scans" -> s.map(_.scans).getOrElse(0).toString,
        "exchanges" -> s.map(_.exchanges).getOrElse(0).toString,
        "broadcasts" -> s.map(_.broadcasts).getOrElse(0).toString,
        "reused_exchanges" -> s.map(_.reused).getOrElse(0).toString,
        "expect_push" -> op.expectPush.map(Json.str).mkString("[", ",", "]"),
        "pushed" -> (if (op.expectPush.isEmpty) "null" else pushed.toString)))
    }
    Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}
