package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.{ActionRec, Tracer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ext.ExtCaches
import graft.queries.Chinook

/** Closed-loop benchmark over the query registry: one client runs one
  * query at a time against one `local[nproc]` session, timing every call
  * from outside and materializing every output column through the noop
  * sink.
  *
  * A pass clears every cache epoch, builds the workload's anchors, then
  * runs each query once. The run sets up [[SetupRepeats]] times (session
  * build plus one warm-up pass over the tiny dir), runs one unmeasured
  * pass over the data dir, measures passes over the data dir for
  * `--seconds` (at least [[MinPasses]]), then dumps each query's result
  * once, untimed, for the oracle gate. With `--trace 1` the measured
  * passes come in groups of four, untraced, traced, traced, untraced, so
  * warm-up drift falls evenly on both kinds; a count() sweep follows, and
  * the per-layer metrics come from the traced passes.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --tiny DIR --out DIR
  * Writes `record.json` (and `trace.json` when traced) in `--out`, and the
  * query dumps in `dump/` beside the workload's `oracle_sql.json`, the
  * layout `graft.Verify` writes and `tools/compare.py` reads.
  */
object PerfBench {
  /** Session set-ups per run; `setup_s` is their median. The first is
    * timed from JVM start and is always the slowest (class loading, the
    * first session, cold JIT), so the median is a warm set-up: a new
    * session in a warm JVM and its tiny-dir warm-up pass. */
  val SetupRepeats = 3
  /** Measured passes per run at least, whatever `--seconds` says. The
    * first pass over the data dir runs slower than the next ones while the
    * JIT catches up, so it is run unmeasured before them. */
  val MinPasses = 3
  val MB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, tiny: String, out: String)

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      startNs: Long, endNs: Long)

  /** One anchor build or query execution; construction ends at `midNs`. */
  final case class Op(kind: String, name: String, span: Int, startNs: Long,
      midNs: Long, endNs: Long, ok: Boolean, action: Option[ActionRec]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Pass(index: Int, traced: Boolean, span: Int,
      startNs: Long, endNs: Long, cpuNs: Long, releaseNs: Long, ops: Seq[Op],
      storagePeak: Long, fills: Long) {
    def wall: Double = (endNs - startNs) / 1e9
    def queries: Seq[Op] = ops.filter(_.kind == "query")
  }

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("tiny"), req("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads(args.workload)
    val missing = (wl.queries.filterNot(SparkEntry.queries.contains) ++
      wl.anchors.filterNot(Workloads.anchorBuilders.contains))
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")
    Files.createDirectories(Paths.get(args.out))
    new Run(args, wl).run()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

}

private final class Run(args: PerfBench.Args, wl: Workload) {
  import PerfBench._

  private val cores = Runtime.getRuntime.availableProcessors
  private val order: Seq[String] =
    new scala.util.Random(args.seed).shuffle(wl.queries)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val runSpan = 0

  private def newSpan(kind: String, name: String, parent: Int, s: Long, e: Long): Int = {
    val id = spans.size + 1
    spans += Span(id, parent, kind, name, s, e)
    id
  }

  private def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getName}: ${e.getMessage}".take(400)
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  private def storageBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def release(): Unit = {
    Chinook.clearCaches(spark)
    ExtCaches.clearCaches()
  }

  /** Run one anchor build or query with the job group naming its span.
    * Anchors are all construction; queries then run the noop write. */
  private def op(phase: String, kind: String, name: String, parent: Int,
      traced: Boolean, dir: String)(act: DataFrame => Unit): Op = {
    val id = newSpan(kind, name, parent, 0L, 0L)
    val sc = spark.sparkContext
    sc.setJobGroup(s"pb-$id", s"$phase $name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    var mid = t0
    var ok = true
    try {
      if (kind == "anchor") {
        Workloads.anchorBuilders(name)(spark, dir)
        mid = System.nanoTime()
      } else {
        val df = SparkEntry.queries(name)(spark, dir)
        mid = System.nanoTime()
        act(df)
      }
    } catch {
      case NonFatal(e) => ok = false; fail(s"$phase $kind $name", e)
    } finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    attempted += 1
    spans(id - 1) = spans(id - 1).copy(startNs = t0, endNs = t1)
    val action = if (traced && kind == "query" && mid > t0) tracer.flatMap { t =>
      t.drain(); t.takeAll(t.actions).lastOption
    } else None
    Op(kind, name, id, t0, mid, t1, ok, action)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def pass(phase: String, index: Int, dir: String, traced: Boolean): Pass = {
    val pid = newSpan("pass", s"$phase-$index", runSpan, 0L, 0L)
    tracer.foreach(_.enabled = traced)
    val cpu0 = osBean.getProcessCpuTime
    val fills0 = ExtCaches.fillCount
    val t0 = System.nanoTime()
    try release() catch { case NonFatal(e) => fail(s"$phase release", e) }
    val tr = System.nanoTime()
    newSpan("release", "clearCaches", pid, t0, tr)
    var peak = storageBytes
    val ops = (wl.anchors.map("anchor" -> _) ++ order.map("query" -> _)).map {
      case (kind, name) =>
        val o = op(phase, kind, name, pid, traced, dir)(noop)
        peak = math.max(peak, storageBytes)
        o
    }
    val t1 = System.nanoTime()
    val cpu1 = osBean.getProcessCpuTime
    tracer.foreach { t => if (traced) t.drain(); t.enabled = false }
    spans(pid - 1) = spans(pid - 1).copy(startNs = t0, endNs = t1)
    System.err.println(f"[perfbench] $phase pass $index%d${if (traced) " (traced)" else ""}: " +
      f"${(t1 - t0) / 1e9}%.2f s")
    Pass(index, traced, pid, t0, t1, cpu1 - cpu0, tr - t0, ops, peak,
      ExtCaches.fillCount - fills0)
  }

  def run(): Unit = {
    val env0 = Env.sample()
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

    // ---- set-up: JVM start (first only) → session → tiny-dir warm pass
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = if (i == 1) jvmStartNs else System.nanoTime()
      spark = GraftSession.local(cores.toString)
      spark.sparkContext.setLogLevel("ERROR")
      val tb = System.nanoTime()
      val warm = pass("warm", i, args.tiny, traced = false)
      try release() catch { case NonFatal(e) => fail("warm release", e) }
      val t1 = System.nanoTime()
      newSpan("setup", s"setup-$i", runSpan, t0, t1)
      if (i < SetupRepeats) spark.stop()
      Map("total_s" -> (t1 - t0) / 1e9, "build_s" -> (tb - t0) / 1e9,
        "warm_s" -> warm.wall)
    }

    // ---- measured passes, after one unmeasured pass over the same data
    pass("prime", 1, args.data, traced = false)
    tracer = if (args.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    // Traced runs stop only after a whole untraced-traced-traced-untraced
    // group, so a pass's kind does not follow its place in the run.
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    def done = passes.size >= MinPasses && System.nanoTime() >= deadline &&
      (!args.trace || passes.size % 4 == 0)
    while (!done)
      passes += pass("measure", passes.size + 1, args.data,
        traced = args.trace && Set(1, 2)(passes.size % 4))
    val rssPeakMb = Env.vmHwmKb / 1024.0

    // ---- traced only: count() per query beside the noop write
    val countSweep: Seq[(String, Double)] = if (!args.trace) Nil else {
      try release() catch { case NonFatal(e) => fail("count release", e) }
      wl.anchors.foreach(a => op("count", "anchor", a, runSpan, false, args.data)(_ => ()))
      order.map { q =>
        var t = Double.NaN
        op("count", "query", q, runSpan, false, args.data) { df =>
          val t0 = System.nanoTime(); df.count(); t = (System.nanoTime() - t0) / 1e9
        }
        q -> t
      }
    }

    // ---- oracle gate: every query dumped once, untimed
    val dumpDir = Paths.get(args.out, "dump")
    Files.createDirectories(dumpDir)
    try release() catch { case NonFatal(e) => fail("oracle release", e) }
    wl.anchors.foreach(a => op("oracle", "anchor", a, runSpan, false, args.data)(_ => ()))
    val dumped = order.filter { q =>
      op("oracle", "query", q, runSpan, false, args.data) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(dumpDir.resolve(q).toString)
      }.ok
    }
    try release() catch { case NonFatal(e) => fail("final release", e) }
    Files.writeString(dumpDir.resolve("oracle_sql.json"),
      Json.render(wl.queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))

    val env1 = Env.sample()
    val probes = Env.probes()
    val measured = passes.toSeq
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> args.seed, "trace" -> args.trace,
      "order" -> order, "anchors" -> wl.anchors,
      "env" -> Map("nproc" -> cores, "sf_dir" -> args.data,
        "sf" -> Paths.get(args.data).getFileName.toString.stripPrefix("sf"),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20),
        "load_avg_start" -> env0.load, "load_avg_end" -> env1.load,
        "steal_jiffies_delta" ->
          (if (env0.steal < 0 || env1.steal < 0) -1L else env1.steal - env0.steal),
        "probe_cpu_s" -> probes._1, "probe_mem_s" -> probes._2,
        "wall_s" -> (System.nanoTime() - jvmStartNs) / 1e9),
      "setups" -> setups,
      "passes" -> measured.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wall, "cpu_s" -> p.cpuNs / 1e9,
        "storage_peak_mb" -> p.storagePeak / MB, "fills" -> p.fills,
        "ops" -> p.ops.map(o => Map("kind" -> o.kind, "name" -> o.name,
          "s" -> o.seconds, "construct_s" -> (o.midNs - o.startNs) / 1e9,
          "ok" -> o.ok)))),
      "dumped" -> dumped,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "end_to_end" -> Metrics.endToEnd(setups, measured.filterNot(_.traced)),
      "rss_peak_mb" -> rssPeakMb,
      "per_layer" -> (if (!args.trace) Map.empty else
        new Metrics.Layers(tracer.get, cores)
          .compute(setups, measured, countSweep, rssPeakMb)))
    tracer.foreach { t =>
      Files.writeString(Paths.get(args.out, "trace.json"),
        Json.render(Metrics.traceDump(spans.toSeq, measured, t)))
      t.close()
    }
    Files.writeString(Paths.get(args.out, "record.json"), Json.render(record))
    spark.stop()
  }
}
