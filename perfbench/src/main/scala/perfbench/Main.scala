package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.runtime.Tracing.Span
import Workloads.seconds

/** One benchmark run: set up, prepare (reference results + warm-up passes),
  * then closed-loop passes for `--seconds`, then one JSON result line on
  * stdout. `--trace 1` interleaves untraced and traced passes and reports
  * the per-layer metrics instead of the end-to-end ones. Usage:
  *
  *   Main --workload <yaml_batch|yaml_stream|query_mix> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <tables dir>
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, data: Path)

  def parse(args: Seq[String]): Opts = {
    val m = args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case o => throw new IllegalArgumentException(s"bad arguments: ${o.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("work")).toAbsolutePath,
      Paths.get(get("data")).toAbsolutePath)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = graft.Sessions.builder(cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep every micro-batch's progress on the query, not the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workloads(o.workload, o.seed, o.work.resolve("data"), o.data, cores)

    // set-up: JVM start → session ready, plus the median of three stagings
    val spark = session(cores, o.work)
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val stageS = (1 to 3).map { _ => val t = System.nanoTime(); wl.stage(); seconds(t) }
    val setupS = bootS + Stats.median(stageS)

    val probes = new Probes(spark)
    val tp = System.nanoTime()
    val (att0, fail0) = wl.prepare(spark)
    System.err.println(f"[perfbench] set-up $setupS%.2f s (session ready at $bootS%.2f s, " +
      f"staging ${stageS.map(x => f"$x%.2f").mkString("/")} s), prepare ${seconds(tp)}%.2f s")

    final case class Sample(pass: Pass, traced: Boolean, layers: Map[String, Double])
    val samples = ArrayBuffer[Sample]()
    val heavyDriver = ArrayBuffer[(Double, Double)]()
    val t0 = System.nanoTime()
    // traced runs order their passes untraced, traced, traced, untraced, …
    // so that a remaining drift cancels out of the tracing overhead
    val (plainMin, tracedMin) = if (o.trace) (2, 2) else (1, 0)
    def enough = seconds(t0) >= o.seconds &&
      samples.count(!_.traced) >= plainMin && samples.count(_.traced) >= tracedMin
    while (!enough) {
      val traced = o.trace && Set(1, 2)(samples.size % 4)
      if (traced) probes.attach()
      val p0 = System.nanoTime()
      val r = wl.pass(spark)
      val p1 = System.nanoTime()
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          val spans = probes.detach()
          Layers.of(probes, spans, p0, p1, cores) ++ wl.layers(spark, probes)
        }
      wl match {
        case q: QueryMix if !traced => heavyDriver += ((q.heavyS, q.driverS))
        case _ =>
      }
      samples += Sample(r, traced, layers)
    }
    val plain = samples.filterNot(_.traced).map(_.pass)
    val attempted = att0 + samples.map(_.pass.attempted).sum
    val failed = fail0 + samples.map(_.pass.failed).sum + wl.verify(spark)
    val passS = Stats.median(plain.map(_.wallS).toSeq)

    val (defs, values) =
      if (!o.trace) {
        val ops = plain.flatMap(_.opsMs).toSeq
        (Metrics.endToEnd, Map(
          "setup_s" -> setupS,
          "pass_s" -> passS,
          "op_ms_p50" -> Stats.median(ops),
          "live_heap_mb" -> liveHeapMb()))
      } else {
        val traced = samples.filter(_.traced)
        val med = Metrics.perLayer.map(d => d.name ->
          Stats.medianOr0(traced.flatMap(_.layers.get(d.name)).toSeq)).toMap
        val overhead = Stats.median(traced.map(_.pass.wallS).toSeq) / passS - 1
        val extra = Map(
          "trace.overhead_frac" -> overhead,
          "exec.rdds_persisted_after" ->
            spark.sparkContext.getPersistentRDDs.size.toDouble,
          "queries.heavy_s" -> Stats.medianOr0(heavyDriver.map(_._1).toSeq),
          "queries.driver_s" -> Stats.medianOr0(heavyDriver.map(_._2).toSeq))
        val speedup = wl match {
          case b: YamlBatch =>
            // one untraced pass on a fresh single-core session
            spark.stop()
            val one = session(1, o.work)
            val wall = try b.pass(one).wallS finally one.stop()
            Map("exec.speedup_vs_1core" -> wall / passS)
          case _ => Map.empty[String, Double]
        }
        Spans.write(o.work.resolve("spans.jsonl"), probes.spans.toSeq)
        (Metrics.perLayer, med ++ extra ++ speedup)
      }
    System.err.println(s"[perfbench] pass walls s: " +
      samples.map(x => f"${x.pass.wallS}%.3f${if (x.traced) "t" else ""}").mkString(" "))
    System.err.println(f"[perfbench] ${o.workload}: ${samples.size} passes " +
      f"(${samples.count(_.traced)} traced), pass_s $passS%.3f, " +
      f"failed_frac ${failed.toDouble / attempted}%.4f")
    println(Metrics.resultLine(failed == 0, attempted, failed, defs, values))
    spark.stop()
  }

  /** Heap in use after a full collection, in MiB. Spark's ContextCleaner
    * frees the blocks of collected broadcasts and shuffles on its own thread
    * after a GC, so collect, give it time, and collect again. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(500); System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Per-layer values of one traced pass [t0, t1) and its spans. */
object Layers {
  def of(p: Probes, spans: Seq[Span], t0: Long, t1: Long, cores: Int): Map[String, Double] = {
    val t = p.exec.totals
    val (phases, executions) = p.catalyst.snapshot
    def spanMs(n: String) = Spans.ms(spans, n)
    // StreamSpec.run's spans: `input`, one per processor, `output`, each a
    // child of its `pipeline` span
    val pipelines = spans.filter(_.operation == "pipeline").map(_.id).toSet
    val stages = spans.filter(_.parentId.exists(pipelines))
    def stageMs(f: String => Boolean) =
      stages.filter(s => f(s.operation)).map(_.durationUs).sum / 1000.0
    val wallMs = (t1 - t0) / 1e6
    val batches = p.stream.progress.filter(_.numInputRows > 0)
    def perBatch(k: String) =
      Stats.medianOr0(batches.flatMap(b => Option(b.durationMs.get(k))).map(_.toDouble))
    val state = batches.lastOption.toSeq.flatMap(_.stateOperators)
    Map(
      "runtime.config_load_ms" -> spanMs("runtime.config_load"),
      "sources.input_ms" -> stageMs(_ == "input"),
      "ops.assemble_ms" -> stageMs(n => n != "input" && n != "output"),
      "sinks.write_ms" -> stageMs(_ == "output"),
      "queries.build_ms" -> spanMs("queries.build"),
      "catalyst.analysis_ms" -> phases.getOrElse("analysis", 0L).toDouble,
      "catalyst.optimization_ms" -> phases.getOrElse("optimization", 0L).toDouble,
      "catalyst.planning_ms" -> phases.getOrElse("planning", 0L).toDouble,
      "catalyst.executions" -> executions.toDouble,
      "exec.jobs" -> t.jobs.toDouble,
      "exec.stages" -> t.stages.toDouble,
      "exec.tasks" -> t.tasks.toDouble,
      "exec.driver_gap_ms" -> p.exec.driverGapMs(t0, t1),
      "exec.busy_frac" -> t.runMs / (cores * wallMs),
      "exec.task_cpu_ms" -> t.cpuMs.toDouble,
      "exec.task_run_ms" -> t.runMs.toDouble,
      "exec.cpu_frac" -> (if (t.runMs == 0) 0.0 else t.cpuMs.toDouble / t.runMs),
      "exec.shuffle_write_bytes" -> t.shufW.toDouble,
      "exec.shuffle_read_bytes" -> t.shufR.toDouble,
      "exec.shuffle_records" -> t.shufRecords.toDouble,
      "exec.spill_bytes" -> t.spill.toDouble,
      "exec.gc_ms" -> t.gcMs.toDouble,
      "sources.bytes_read" -> t.inBytes.toDouble,
      "sources.records_read" -> t.inRecords.toDouble,
      "sinks.bytes_written" -> t.outBytes.toDouble,
      "sinks.records_written" -> t.outRecords.toDouble,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.latest_offset_ms" -> perBatch("latestOffset"),
      "streaming.get_batch_ms" -> perBatch("getBatch"),
      "streaming.query_planning_ms" -> perBatch("queryPlanning"),
      "streaming.add_batch_ms" -> perBatch("addBatch"),
      "streaming.wal_commit_ms" -> perBatch("walCommit"),
      "streaming.commit_offsets_ms" -> perBatch("commitOffsets"),
      "streaming.state_commit_ms" -> Stats.medianOr0(batches.map(
        _.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_memory_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble)
  }
}

