package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.{StageRec, Tracer}

import PerfBench.{median, MB, Pass, Span}

object Metrics {
  /** The end-to-end metrics, from the untraced measured passes, and the
    * median query latency with its sample count, which the record keeps
    * but the result line leaves out (run.py says why). A run holds too few
    * query executions for any percentile to keep ten samples beyond it. */
  def endToEnd(setups: Seq[Map[String, Double]], passes: Seq[Pass]): Map[String, Any] = {
    val lat = passes.flatMap(_.queries.filter(_.ok).map(_.seconds))
    Map(
      "setup_s" -> median(setups.map(_("total_s"))),
      "pass_wall_s" -> median(passes.map(_.wall)),
      "pass_cpu_s" -> median(passes.map(_.cpuNs / 1e9)),
      "query_p50_s" -> median(lat),
      "query_samples" -> lat.size,
      "cache_peak_mb" -> median(passes.map(_.storagePeak / MB)))
  }

  /** Epoch milliseconds (listener clocks) on the harness's nanoTime axis. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  /** The per-layer metrics, each the median over the traced passes. */
  final class Layers(tracer: Tracer, cores: Int) {
    private val jobs = tracer.jobsSnapshot
    private val stagesById = tracer.stages.asScala.toSeq.groupBy(_.id)
    private val batches = tracer.batches.asScala.toSeq

    private def within(t: Long, ivs: Seq[(Long, Long)]) =
      ivs.exists { case (a, b) => t >= a && t <= b }

    private def onePass(p: Pass): Map[String, Double] = {
      val pj = jobs.filter(j => within(ns(j.startMs), Seq(p.startNs -> p.endNs)))
      val ps: Seq[StageRec] = pj.flatMap(_.stageIds).distinct.flatMap(stagesById.getOrElse(_, Nil))
      val qs = p.queries
      val anchors = p.ops.filter(_.kind == "anchor")
      val constructIv = qs.map(o => o.startNs -> o.midNs)
      val anchorIv = anchors.map(o => o.startNs -> o.endNs)
      val acts = qs.flatMap(_.action)
      val catalystS = acts.map(a => a.analysisMs + a.optimizationMs + a.planningMs).sum / 1e3
      val pb = batches.filter(b => within(ns(b.atMs), Seq(p.startNs -> p.endNs)))
      val lastPerQuery = pb.groupBy(_.runId).values.map(_.maxBy(_.atMs))
      val constructS = qs.map(o => (o.midNs - o.startNs) / 1e9).sum
      val actionS = qs.map(o => (o.endNs - o.midNs) / 1e9).sum
      val anchorS = anchors.map(_.seconds).sum
      val streamS = pb.map(_.triggerMs).sum / 1e3
      val releaseS = p.releaseNs / 1e9
      val runS = ps.map(_.runMs).sum / 1e3
      val wall = p.wall
      def anchor(n: String) = anchors.filter(_.name == n).map(_.seconds).sum
      Map(
        "tables.input_mb" -> ps.map(_.inputBytes).sum / MB,
        "tables.records_read" -> ps.map(_.inputRecords).sum.toDouble,
        "tables.scan_task_s" -> ps.filter(_.inputBytes > 0).map(_.runMs).sum / 1e3,
        "queries.construct_s" -> constructS,
        "queries.construct_jobs" -> pj.count(j => within(ns(j.startMs), constructIv)).toDouble,
        "anchors.shared_cache_build_s" -> anchor("shared_cache_build"),
        "anchors.cc_fixpoint_build_s" -> anchor("cc_fixpoint_build"),
        "anchors.jobs" -> pj.count(j => within(ns(j.startMs), anchorIv)).toDouble,
        "catalyst.analysis_s" -> acts.map(_.analysisMs).sum / 1e3,
        "catalyst.optimization_s" -> acts.map(_.optimizationMs).sum / 1e3,
        "catalyst.planning_s" -> acts.map(_.planningMs).sum / 1e3,
        "catalyst.plan_kb" -> acts.map(_.planChars).sum / 1024.0,
        "exec.execute_s" -> (actionS - catalystS),
        "exec.jobs" -> pj.size.toDouble,
        "exec.stages" -> ps.size.toDouble,
        "exec.tasks" -> ps.map(_.tasks).sum.toDouble,
        "exec.task_run_s" -> runS,
        "exec.task_cpu_s" -> ps.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> ps.map(_.gcMs).sum / 1e3,
        "exec.slot_util" -> runS / (wall * cores),
        "exec.shuffle_write_mb" -> ps.map(_.shuffleWriteBytes).sum / MB,
        "exec.shuffle_read_mb" -> ps.map(_.shuffleReadBytes).sum / MB,
        "exec.spill_mb" -> ps.map(_.spillBytes).sum / MB,
        "exec.aqe_coalesced" -> acts.map(_.coalesced).sum.toDouble,
        "exec.aqe_skew_splits" -> acts.map(_.skewSplits).sum.toDouble,
        "exec.aqe_broadcasts" -> acts.map(_.broadcasts).sum.toDouble,
        "cache.fills" -> p.fills.toDouble,
        "cache.storage_peak_mb" -> p.storagePeak / MB,
        "cache.release_s" -> releaseS,
        "stream.batches" -> pb.size.toDouble,
        "stream.input_rows" -> pb.map(_.inputRows).sum.toDouble,
        "stream.add_batch_s" -> pb.map(_.addBatchMs).sum / 1e3,
        "stream.trigger_s" -> streamS,
        "stream.overhead_s" -> pb.map(b => b.triggerMs - b.addBatchMs).sum / 1e3,
        "stream.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
        "stream.state_mb" -> lastPerQuery.map(_.stateBytes).sum / MB,
        "stream.wal_commit_s" -> pb.map(_.walCommitMs).sum / 1e3,
        "trace.untagged_jobs" -> pj.count(!_.group.exists(_.startsWith("pb-"))).toDouble,
        // Shares of the pass wall; the remainder is harness time between
        // calls (cache sampling, listener drains), tagged to no layer.
        "trace.release_share" -> releaseS / wall,
        "trace.anchor_share" -> anchorS / wall,
        "trace.construct_share" -> (constructS - streamS) / wall,
        "trace.stream_share" -> streamS / wall,
        "trace.catalyst_share" -> catalystS / wall,
        "trace.exec_share" -> (actionS - catalystS) / wall,
        "trace.remainder_share" ->
          (1.0 - (releaseS + anchorS + constructS + actionS) / wall))
    }

    def compute(setups: Seq[Map[String, Double]], passes: Seq[Pass],
        countSweep: Seq[(String, Double)], rssPeakMb: Double): Map[String, Double] = {
      val traced = passes.filter(_.traced)
      val untraced = passes.filterNot(_.traced)
      val per = traced.map(onePass)
      val layer = per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
      // count() beside the noop write, per query: the share of the noop
      // action's time that count() does not pay.
      val noopAction = untraced.flatMap(_.queries.filter(_.ok))
        .groupBy(_.name).map { case (q, os) => q -> median(os.map(o => (o.endNs - o.midNs) / 1e9)) }
      val paired = countSweep.filter { case (q, c) => !c.isNaN && noopAction.contains(q) }
      val gap = 1.0 - paired.map(_._2).sum / paired.map(p => noopAction(p._1)).sum
      layer ++ Map(
        "session.cold_setup_s" -> setups.head("total_s"),
        "session.build_s" -> median(setups.map(_("build_s"))),
        "session.warm_s" -> median(setups.map(_("warm_s"))),
        "jvm.rss_peak_mb" -> rssPeakMb,
        "exec.count_gap_frac" -> gap,
        "trace.pass_wall_s" -> median(traced.map(_.wall)),
        "trace.overhead_frac" ->
          (median(traced.map(_.wall)) / median(untraced.map(_.wall)) - 1.0))
    }
  }

  /** Every span of the run, with the scheduler's jobs and stages of the
    * traced passes hung under the harness span that caused them, and each
    * span's self time (its duration less the part its children cover). */
  def traceDump(spans: Seq[Span], passes: Seq[Pass], tracer: Tracer): Map[String, Any] = {
    val all = mutable.ArrayBuffer.from(spans)
    def add(parent: Int, kind: String, name: String, s: Long, e: Long): Int = {
      val id = all.size + 1
      all += Span(id, parent, kind, name, s, e)
      id
    }
    // construct / plan / execute under each traced query
    val phaseOf = mutable.Map.empty[Int, Seq[(Int, Long, Long)]]
    for (p <- passes if p.traced; o <- p.queries) {
      val c = add(o.span, "construct", o.name, o.startNs, o.midNs)
      val planNs = o.action.map(a =>
        (a.analysisMs + a.optimizationMs + a.planningMs) * 1000000L).getOrElse(0L)
      val pl = add(o.span, "plan", o.name, o.midNs, math.min(o.endNs, o.midNs + planNs))
      val ex = add(o.span, "execute", o.name, math.min(o.endNs, o.midNs + planNs), o.endNs)
      phaseOf(o.span) = Seq((c, o.startNs, o.midNs), (pl, o.midNs, o.midNs + planNs),
        (ex, o.midNs + planNs, o.endNs))
    }
    for (p <- passes if p.traced; o <- p.ops.filter(_.kind == "anchor"))
      phaseOf(o.span) = Seq((o.span, o.startNs, o.endNs))
    val opSpans = spans.filter(s => s.kind == "query" || s.kind == "anchor")
    val passSpans = spans.filter(_.kind == "pass")
    def innermost(t: Long): Int =
      opSpans.find(s => t >= s.startNs && t <= s.endNs)
        .orElse(passSpans.find(s => t >= s.startNs && t <= s.endNs)).map(_.id).getOrElse(0)
    val stagesById = tracer.stages.asScala.toSeq.groupBy(_.id)
    var untagged = 0
    for (j <- tracer.jobsSnapshot) {
      val start = ns(j.startMs)
      val tagged = j.group.collect { case g if g.startsWith("pb-") => g.drop(3).toInt }
      if (tagged.isEmpty) untagged += 1
      val op = tagged.getOrElse(innermost(start))
      val parent = phaseOf.get(op).flatMap(_.find { case (_, a, b) => start >= a && start <= b })
        .map(_._1).getOrElse(op)
      val jid = add(parent, "job", s"job-${j.id}", start, if (j.endMs < 0) start else ns(j.endMs))
      for (sid <- j.stageIds; s <- stagesById.getOrElse(sid, Nil))
        add(jid, "stage", s"stage-${s.id}.${s.attempt}", ns(s.submitMs), ns(s.endMs))
    }
    val children = all.groupBy(_.parent)
    def selfNs(s: Span): Long = {
      val ivs = children.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      for ((a, b) <- ivs) {
        val a1 = math.max(a, end)
        if (b > a1) covered += b - a1
        end = math.max(end, b)
      }
      math.max(0L, (s.endNs - s.startNs) - covered)
    }
    val t0 = all.map(_.startNs).filter(_ > 0).minOption.getOrElse(0L)
    val rendered = all.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "kind" -> s.kind, "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
      "dur_ms" -> (s.endNs - s.startNs) / 1e6, "self_ms" -> selfNs(s) / 1e6))
    val tracedPassIds = passes.filter(_.traced).map(_.span).toSet
    def inTraced(s: Span): Boolean =
      tracedPassIds(s.id) || (s.parent != 0 && all.lift(s.parent - 1).exists(inTraced))
    val selfByKind = all.toSeq.filter(inTraced).groupBy(_.kind)
      .map { case (k, ss) => k -> ss.map(selfNs).sum / 1e9 }
    Map("untagged_jobs" -> untagged, "self_s_by_kind_traced_passes" -> selfByKind,
      "spans" -> rendered)
  }
}
