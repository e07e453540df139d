package perfbench

import scala.collection.mutable

import perfbench.PerfBench.{OpRun, PassRun}
import perfbench.Tracer._

/** Turns a [[Tracer]]'s records into per-layer metrics and spans.
  *
  * Records are matched to operations by time: an operation owns every
  * job, Catalyst run and micro-batch that started inside its wall-clock
  * window, and the Catalyst runs that started after its build returned
  * are its action. Cold-pass figures describe first-time work (builds,
  * artifacts written, JIT); the rest describe the traced warm pass. */
object Layers {
  final case class Derived(metrics: Map[String, Double], coverage: Map[String, Double])

  val ApiOps: Seq[String] = Seq("legacy_clim_thresh", "legacy_severity", "legacy_events",
    "bp_detrend", "bp_clim_thresh", "bp_severity", "bp_events")

  private def inside(ms: Long, p: PassRun): Boolean = ms >= p.startMs && ms <= p.endMs
  private def owner(ms: Long, p: PassRun): Option[OpRun] =
    p.ops.find(o => ms >= o.startMs && ms <= o.endMs)
  private def dur(span: (Long, Long)): Double = math.max(0L, span._2 - span._1) / 1e3

  private def stageJob(t: Tracer): Map[Int, JobRec] = {
    val m = mutable.Map.empty[Int, JobRec]
    t.jobs.forEach(j => j.stageIds.foreach(s => m(s) = j))
    m.toMap
  }

  private def stagesOf(t: Tracer, p: PassRun): Seq[StageRec] = {
    val sj = stageJob(t)
    val out = mutable.ArrayBuffer.empty[StageRec]
    t.stages.forEach { s =>
      val start = sj.get(s.id).map(_.startMs).getOrElse(s.startMs)
      if (inside(start, p)) out += s
    }
    out.toSeq
  }

  private def collect[T](q: java.util.concurrent.ConcurrentLinkedQueue[T])(keep: T => Boolean): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    q.forEach(x => if (keep(x)) out += x)
    out.toSeq
  }

  /** Spark times a query's execution from before it optimizes and plans
    * the query (both run lazily inside the execution), so the execution
    * span starts with the first of those phases and holds them. */
  private def execStart(q: QeRec): Long =
    Seq(q.optimization._1, q.planning._1).find(_ > 0).getOrElse(q.analysis._2)

  /** How far each operation's build span plus its action's analysis and
    * execution spans miss its wall time, as a share of the wall time (of
    * 0.5 s for shorter operations, whose phases are timed in ms). */
  def coverage(t: Tracer, passes: Seq[PassRun]): Map[String, Double] =
    passes.flatMap { p =>
      p.ops.map { o =>
        val action = collect(t.queries)(q => q.startMs >= o.actionMs && q.startMs <= o.endMs)
        val covered = o.buildS + action.map(q => dur(q.analysis) + q.execS).sum
        s"${p.kind}:${o.name}" -> math.abs(o.wallS - covered) / math.max(o.wallS, 0.5)
      }
    }.toMap

  def derive(t: Tracer, cold: PassRun, jit0: Long, jit1: Long, gc0: Long, gc1: Long,
             coldWritten: Long, warm: PassRun, caches0: (Long, Long, Long),
             caches1: (Long, Long, Long), overheadS: Double, isGrid: Boolean): Derived = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val warmOps = warm.ops.map(o => o.name -> o).toMap
    ApiOps.foreach(n => m(s"api.${n}_s") = if (isGrid) warmOps.get(n).map(_.wallS).getOrElse(0.0) else 0.0)
    m("build.s") = cold.ops.map(_.buildS).sum
    m("build.max_s") = (0.0 +: cold.ops.map(_.buildS)).max

    val warmQes = collect(t.queries)(q => inside(q.startMs, warm))
    m("catalyst.analysis_s") = warmQes.map(q => dur(q.analysis)).sum
    m("catalyst.optimization_s") = warmQes.map(q => dur(q.optimization)).sum
    m("catalyst.planning_s") = warmQes.map(q => dur(q.planning)).sum

    val jobs = collect(t.jobs)(j => inside(j.startMs, warm))
    val stages = stagesOf(t, warm).map(_.agg)
    m("exec.jobs") = jobs.size
    m("exec.stages") = stages.size
    m("exec.tasks") = stages.map(_.tasks).sum
    m("exec.sched_delay_s") = stages.map(_.schedDelayMs).sum / 1e3
    m("exec.task_run_s") = stages.map(_.runMs).sum / 1e3
    m("exec.task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") = stages.map(_.gcMs).sum / 1e3
    m("exec.shuffle_write_mb") = stages.map(_.shuffleWrite).sum / 1e6
    m("exec.shuffle_read_mb") = stages.map(_.shuffleRead).sum / 1e6
    m("exec.spill_mb") = stages.map(_.spill).sum / 1e6
    m("exec.peak_exec_mem_mb") = (0L +: stages.map(_.peakMem)).max / 1e6
    m("exec.input_mb") = stages.map(_.input).sum / 1e6

    val coldQes = collect(t.queries)(q => inside(q.startMs, cold))
    m("exec.join_rows") = coldQes.map(_.joinRows).sum
    m("exec.rows_out") = coldQes.filter(q => owner(q.startMs, cold).exists(q.startMs >= _.actionMs))
      .map(_.rowsOut).sum

    val (h0, mi0, e0) = caches0
    val (h1, mi1, e1) = caches1
    m("caches.hits") = h1 - h0
    m("caches.misses") = mi1 - mi0
    m("caches.evictions") = e1 - e0
    m("caches.hit_ratio") = if (h1 - h0 + mi1 - mi0 > 0) (h1 - h0).toDouble / (h1 - h0 + mi1 - mi0) else 0.0

    val batches = collect(t.batches)(b => inside(b.startMs, warm))
    val lastPerQuery = batches.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
    m("stream.batches") = batches.size
    m("stream.input_rows") = batches.map(_.inputRows).sum
    m("stream.add_batch_s") = batches.map(_.addBatchMs).sum / 1e3
    m("stream.wal_commit_s") = batches.map(_.walCommitMs).sum / 1e3
    m("stream.commit_offsets_s") = batches.map(_.commitOffsetsMs).sum / 1e3
    m("stream.query_planning_s") = batches.map(_.planningMs).sum / 1e3
    m("stream.state_rows") = lastPerQuery.map(_.stateRows).sum
    m("stream.state_mem_mb") = lastPerQuery.map(_.stateMem).sum / 1e6

    m("scratch.written_mb") = coldWritten / 1e6
    m("jvm.jit_s") = (jit1 - jit0) / 1e3
    m("jvm.gc_pause_s") = (gc1 - gc0) / 1e3
    m("trace.overhead_s") = overheadS
    val cov = coverage(t, Seq(cold, warm))
    m("trace.coverage_err_max") = (0.0 +: cov.values.toSeq).max
    Derived(m.toMap, cov)
  }

  /** run → pass → operation → build / analysis / execution → optimization
    * / planning / job → stage, and micro-batches under the build that
    * drained them. */
  def spans(t: Tracer, passes: Seq[PassRun]): Seq[Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    var next = 0
    def add(parent: Int, kind: String, name: String, start: Long, end: Long,
            extra: Map[String, Any] = Map.empty): Int = {
      val id = next; next += 1
      out += mutable.Map[String, Any]("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> start, "end_ms" -> end,
        "dur_s" -> math.max(0L, end - start) / 1e3) ++ extra
      id
    }
    val sj = stageJob(t)
    val stagesByJob = mutable.Map.empty[Int, mutable.ArrayBuffer[StageRec]]
    t.stages.forEach(s => sj.get(s.id).foreach(j => stagesByJob.getOrElseUpdate(j.id, mutable.ArrayBuffer.empty) += s))
    val run = add(-1, "run", "run", passes.map(_.startMs).min, passes.map(_.endMs).max)
    passes.foreach { p =>
      val pid = add(run, "pass", p.kind, p.startMs, p.endMs, Map("dur_s" -> p.wallS))
      p.ops.foreach { o =>
        val oid = add(pid, "operation", o.name, o.startMs, o.endMs, Map("dur_s" -> o.wallS))
        val bid = add(oid, "build", o.name, o.startMs, o.actionMs, Map("dur_s" -> o.buildS))
        def phaseParent(ms: Long): Int = if (ms < o.actionMs) bid else oid
        // (start, end, id) of every execution span, so a job lands under
        // the query execution it ran in
        val execs = mutable.ArrayBuffer.empty[(Long, Long, Int)]
        t.queries.forEach { q =>
          if (q.startMs >= o.startMs && q.startMs <= o.endMs) {
            val par = phaseParent(q.startMs)
            if (q.analysis._1 > 0) add(par, "catalyst", "analysis", q.analysis._1, q.analysis._2)
            val es = execStart(q)
            val ee = es + (q.execS * 1e3).toLong
            val eid = add(par, "execution", o.name, es, ee,
              Map("dur_s" -> q.execS, "join_rows" -> q.joinRows, "rows_out" -> q.rowsOut))
            execs += ((es, ee, eid))
            Seq("optimization" -> q.optimization, "planning" -> q.planning)
              .filter(_._2._1 > 0)
              .foreach { case (n, (s, e)) => add(eid, "catalyst", n, s, e) }
          }
        }
        def parentAt(ms: Long): Int =
          execs.find { case (s, e, _) => ms >= s && ms <= e }.map(_._3).getOrElse(phaseParent(ms))
        t.jobs.forEach { j =>
          if (j.startMs >= o.startMs && j.startMs <= o.endMs) {
            val jid = add(parentAt(j.startMs), "job", s"job ${j.id}", j.startMs, j.endMs,
              Map("group" -> j.group))
            stagesByJob.getOrElse(j.id, Nil).foreach { s =>
              add(jid, "stage", s"stage ${s.id}", s.startMs, s.endMs, Map(
                "tasks" -> s.agg.tasks, "task_run_s" -> s.agg.runMs / 1e3,
                "shuffle_write_mb" -> s.agg.shuffleWrite / 1e6, "spill_mb" -> s.agg.spill / 1e6))
            }
          }
        }
        t.batches.forEach { b =>
          if (b.startMs >= o.startMs && b.startMs <= o.endMs)
            add(parentAt(b.startMs), "micro-batch", s"${b.query}#${b.batchId}", b.startMs,
              b.startMs + b.triggerMs, Map("add_batch_s" -> b.addBatchMs / 1e3,
                "wal_commit_s" -> b.walCommitMs / 1e3, "input_rows" -> b.inputRows))
        }
      }
    }
    // self time: a span's duration less its direct children's
    val childDur = out.groupBy(_("parent").asInstanceOf[Int])
      .map { case (k, cs) => k -> cs.map(_("dur_s").asInstanceOf[Double]).sum }
    out.map { s =>
      val id = s("id").asInstanceOf[Int]
      (s += "self_s" -> math.max(0.0, s("dur_s").asInstanceOf[Double] - childDur.getOrElse(id, 0.0))).toMap
    }.toSeq
  }
}
