package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Caches, GraftSession, SparkEntry}
import graft.api.{Graft, SeriesConfig}

/** One benchmark run inside one fresh JVM.
  *
  * Arguments are `key=value` pairs:
  *  - `workload`: `mhw_grid`, `query_sample` or `stream_twins`;
  *  - `data`: directory holding the workload's parquet inputs;
  *  - `ops`: comma-separated query names, in run order (sf0.1 workloads);
  *  - `seconds`: minimum time spent on warm passes;
  *  - `action`: `noop` (every output column materialised through the noop
  *    sink) or `count` (the older `.count()` timing, for comparison);
  *  - `trace`: 1 to record spans and per-layer metrics;
  *  - `out`: directory for the untimed outputs; `result`: result file;
  *    `spans`: span file (traced runs).
  *
  * Every operation's outputs are materialised through the noop sink. The
  * first pass runs cold; warm passes repeat it, each after a settle, until
  * `seconds` have passed and the workload's `minWarm` passes have run
  * (whole passes only). A traced run mixes untraced
  * and traced warm passes so the tracing cost can be read off. */
object PerfBench {

  final case class Op(name: String, build: () => Seq[DataFrame])
  final case class OpRun(name: String, startMs: Long, actionMs: Long, endMs: Long,
                         wallS: Double, buildS: Double, error: Option[String],
                         results: Seq[DataFrame])
  final case class PassRun(kind: String, traced: Boolean, startMs: Long, endMs: Long,
                           wallS: Double, ops: Seq[OpRun])

  trait Workload {
    /** Warm passes to run however long they take. A pass whose time is
      * close to `seconds` would otherwise run once or twice depending on
      * how loaded the host is, and warm_s would jump between the two. */
    def minWarm: Int = 1
    def ops: Seq[Op]
    /** Drop whatever the pass persisted, so the next pass recomputes it. */
    def release(): Unit = ()
    /** Write the last pass's results, as parquet, for the checks. */
    def writeOutputs(out: String, last: Map[String, Seq[DataFrame]]): Unit
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = conf("cpus")
    val spark = GraftSession.local(cpus)
    val workload = conf("workload") match {
      case "mhw_grid" => new MhwGrid(spark, conf("data"))
      case "query_sample" | "stream_twins" =>
        new Queries(spark, conf("data"), conf("ops").split(",").toSeq.filter(_.nonEmpty))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val readyMs = System.currentTimeMillis()
    val result = run(spark, workload, conf("seconds").toDouble, conf("trace") == "1",
      conf.getOrElse("action", "noop") == "count", conf("out"), conf.get("spans"))
    Files.writeString(Paths.get(conf("result")), json(result + ("ready_ms" -> readyMs)))
    Caches.clear(spark)
    spark.stop()
  }

  // --------------------------------------------------------------- passes

  private def runOp(spark: SparkSession, op: Op, tag: String, count: Boolean): OpRun = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$tag:${op.name}", op.name, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var actionMs = startMs
    var t1 = t0
    var dfs = Seq.empty[DataFrame]
    val error =
      try {
        dfs = op.build()
        t1 = System.nanoTime()
        actionMs = System.currentTimeMillis()
        dfs.foreach(df => if (count) df.count() else df.write.format("noop").mode("overwrite").save())
        None
      } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300))
      } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    OpRun(op.name, startMs, actionMs, System.currentTimeMillis(), (t2 - t0) / 1e9,
      (t1 - t0) / 1e9, error, dfs)
  }

  private def runPass(spark: SparkSession, w: Workload, kind: String, traced: Boolean,
                      count: Boolean): PassRun = {
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ops = w.ops.map(op => runOp(spark, op, kind, count))
    PassRun(kind, traced, startMs, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9, ops)
  }

  /** Collect garbage and wait (bounded) for the JIT to go quiet. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = 0
    var waited = 0
    while (quiet < 2 && waited < 12) {
      Thread.sleep(250); waited += 1
      val now = jit.getTotalCompilationTime
      if (now - last < 25) quiet += 1 else quiet = 0
      last = now
    }
  }

  private final case class JvmSnap(jitMs: Long, gcMs: Long, wchar: Long, caches: (Long, Long, Long))

  private def jvmSnap(): JvmSnap = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    val wchar =
      try Files.readAllLines(Paths.get("/proc/self/io")).asScala
        .find(_.startsWith("wchar:")).map(_.split(":")(1).trim.toLong).getOrElse(0L)
      catch { case _: Throwable => 0L }
    JvmSnap(ManagementFactory.getCompilationMXBean.getTotalCompilationTime, gc, wchar, Caches.stats)
  }

  private def cachedMb(spark: SparkSession): Double = {
    val infos = spark.sparkContext.getRDDStorageInfo
    infos.map(i => i.memSize + i.diskSize).sum / 1e6
  }

  def run(spark: SparkSession, w: Workload, seconds: Double, trace: Boolean, count: Boolean,
          out: String, spansPath: Option[String]): Map[String, Any] = {
    val tracer = if (trace) Some(new Tracer(spark)) else None

    def pass(kind: String, traced: Boolean): (PassRun, JvmSnap, JvmSnap) = {
      if (traced) tracer.foreach(_.attach())
      val before = jvmSnap()
      val p = runPass(spark, w, kind, traced, count)
      if (traced) tracer.foreach(_.detach())
      (p, before, jvmSnap())
    }

    val (cold, coldBefore, coldAfter) = pass("cold", trace)
    w.release()
    val warm = mutable.ArrayBuffer.empty[(PassRun, JvmSnap, JvmSnap)]
    val warmStart = System.nanoTime()
    // a traced run measures five warm passes: untraced, then untraced,
    // traced, traced, untraced; the first is left out of the tracing cost
    // (it still runs slower) and the rest balance pass order
    def more: Boolean =
      warm.size < w.minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds ||
        (trace && warm.size < 5)
    while (more) {
      if (warm.nonEmpty) w.release()
      settle()
      val traced = trace && (warm.size == 2 || warm.size == 3)
      warm += pass(s"warm${warm.size}", traced)
    }
    settle()
    val cached = cachedMb(spark)
    val outputsS = {
      val t0 = System.nanoTime()
      w.writeOutputs(out, warm.last._1.ops.map(o => o.name -> o.results).toMap)
      (System.nanoTime() - t0) / 1e9
    }
    w.release()

    def passJson(p: PassRun): Map[String, Any] = Map(
      "kind" -> p.kind, "traced" -> p.traced, "wall_s" -> p.wallS,
      "ops" -> p.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS, "build_s" -> o.buildS,
        "error" -> o.error)))
    val base = Map[String, Any](
      "cold" -> passJson(cold), "warm" -> warm.map(x => passJson(x._1)),
      "cached_mb" -> cached, "outputs_s" -> outputsS)
    tracer match {
      case None => base
      case Some(t) =>
        val tracedWarm = warm.filter(_._1.traced).last
        val untracedWarm = warm.drop(1).filterNot(_._1.traced).map(_._1.wallS)
        val tracedWalls = warm.filter(_._1.traced).map(_._1.wallS)
        val layers = Layers.derive(t, cold, coldBefore.jitMs, coldAfter.jitMs,
          coldBefore.gcMs, coldAfter.gcMs, coldAfter.wchar - coldBefore.wchar,
          tracedWarm._1, tracedWarm._2.caches, tracedWarm._3.caches,
          median(tracedWalls.toSeq) - median(untracedWarm.toSeq), w.isInstanceOf[MhwGrid])
        spansPath.foreach(p => Files.writeString(Paths.get(p),
          Layers.spans(t, cold +: warm.map(_._1).filter(_.traced).toSeq).map(json).mkString("\n") + "\n"))
        base ++ Map("layers" -> layers.metrics, "coverage" -> layers.coverage)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // ------------------------------------------------------------ workloads

  /** The paper's chain through `graft.api`: Oliver-default legacy
    * climatology + threshold, severity, events; then a best-practice chain
    * over a detrended series with a 1982-2011 baseline. Each stage's
    * tables are persisted and materialised before the next stage reads
    * them, as a user running the chain step by step would. */
  final class MhwGrid(spark: SparkSession, dir: String) extends Workload {
    private val cfg = SeriesConfig(Seq("lat", "lon"), "time", "sst")
    private val raw = spark.read.parquet(s"$dir/grid.parquet")
    private val kept = mutable.ArrayBuffer.empty[DataFrame]
    private var daily, seas, thresh, sev, events: DataFrame = _
    private var bpDaily, bpSeas, bpThresh, bpSev, bpEvents: DataFrame = _

    private def keep(df: DataFrame): DataFrame = {
      kept += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }

    val ops: Seq[Op] = Seq(
      Op("legacy_clim_thresh", () => {
        daily = keep(Graft.dailySeries(raw, cfg))
        seas = keep(Graft.computeClimatologyLegacy(daily))
        thresh = keep(Graft.computeThresholdLegacy(daily))
        Seq(seas, thresh)
      }),
      Op("legacy_severity", () => {
        sev = keep(Graft.calculateSeverity(daily, seas, thresh))
        Seq(sev)
      }),
      Op("legacy_events", () => {
        events = keep(Graft.calculateMhwMetrics(sev))
        Seq(events)
      }),
      Op("bp_detrend", () => {
        bpDaily = keep(Graft.detrend(raw, cfg, baseline = Some((1982, 2011)))
          .select(col("user_id"), col("d"), col("detrended").as("sst"),
            year(col("d")).as("yr"), Graft.climDoy(col("d")).as("doy")))
        Seq(bpDaily)
      }),
      Op("bp_clim_thresh", () => {
        val base = bpDaily.filter(col("yr").between(1982, 2011))
        bpSeas = keep(Graft.computeClimatology(base))
        bpThresh = keep(Graft.computeThreshold(base))
        Seq(bpSeas, bpThresh)
      }),
      Op("bp_severity", () => {
        bpSev = keep(Graft.calculateSeverity(bpDaily, bpSeas, bpThresh))
        Seq(bpSev)
      }),
      Op("bp_events", () => {
        bpEvents = keep(Graft.calculateMhwMetrics(bpSev))
        Seq(bpEvents)
      }))

    override def release(): Unit = {
      kept.foreach(_.unpersist(blocking = true))
      kept.clear()
    }

    def writeOutputs(out: String, last: Map[String, Seq[DataFrame]]): Unit = {
      def flat(df: DataFrame): DataFrame = Graft.restoreKeys(df, cfg)
      def write(df: DataFrame, name: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      write(flat(seas.join(thresh, Seq("user_id", "doy"), "full")), "legacy_clim")
      write(flat(sev.select("user_id", "d", "t_anom", "severity")), "legacy_severity")
      write(flat(events), "legacy_events")
      write(flat(bpDaily.select("user_id", "d", "sst")), "bp_detrend")
      write(flat(bpSeas.join(bpThresh, Seq("user_id", "doy"), "full")), "bp_clim")
      write(flat(bpSev.select("user_id", "d", "t_anom", "severity")), "bp_severity")
      write(flat(bpEvents), "bp_events")
    }
  }

  /** A fixed list of `SparkEntry.queries`. Outputs also carry each stream
    * query's batch twin (the batch query with the same oracle SQL) and the
    * oracle SQL itself. */
  final class Queries(spark: SparkSession, dir: String, names: Seq[String]) extends Workload {
    val ops: Seq[Op] = names.map(n => Op(n, () => Seq(SparkEntry.queries(n)(spark, dir))))
    // query_sample's passes take 4-8 s, around the run length
    override def minWarm: Int = 2

    lazy val twins: Map[String, String] = names.filter(_.startsWith("stream_")).flatMap { s =>
      SparkEntry.oracleSql.get(s).flatMap { sql =>
        SparkEntry.oracleSql.collect { case (b, bs) if bs == sql && !b.startsWith("stream_") => b }
          .toSeq.sorted.headOption.map(s -> _)
      }
    }.toMap

    def writeOutputs(out: String, last: Map[String, Seq[DataFrame]]): Unit = {
      val all = names ++ twins.values.toSeq.distinct.filterNot(names.contains)
      all.foreach { n =>
        try last.get(n).flatMap(_.headOption).getOrElse(SparkEntry.queries(n)(spark, dir))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        catch { case e: Throwable => System.err.println(s"[perfbench] output $n failed: ${e.getMessage}") }
      }
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        json(all.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
      Files.writeString(Paths.get(s"$out/twins.json"), json(twins))
    }
  }
}
