package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.runtime.{Config, Tracing}

/** One closed-loop pass: its wall, the latencies of the operations inside
  * it, and how many of its operations failed or produced a wrong result. */
final case class Pass(wallS: Double, opsMs: Seq[Double], attempted: Int, failed: Int)

trait Workload {
  def name: String
  /** Write this workload's inputs from the seed (timed as set-up). */
  def stage(): Unit
  /** Untimed, once: the reference results and the warm-up passes. Returns
    * (attempted, failed) of those passes. */
  def prepare(spark: SparkSession): (Int, Int)
  def pass(spark: SparkSession): Pass
  /** Checks left to the end of the measured passes; how many failed. */
  def verify(spark: SparkSession): Int = 0
  /** Per-layer values of one traced pass that only this workload knows. */
  def layers(spark: SparkSession, p: Probes): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, seed: Long, work: Path, data: Path, cores: Int): Workload =
    name match {
      case "yaml_batch" => new YamlBatch(seed, work)
      case "yaml_stream" => new YamlStream(seed, work)
      case "query_mix" => new QueryMix(data, cores)
      case o => throw new IllegalArgumentException(
        s"unknown workload $o (yaml_batch | yaml_stream | query_mix)")
    }

  def wipe(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally all.close()
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Untimed warm-up passes: the JIT keeps making passes faster for a while
    * after the first. Runs at least `min` (≥ 2) passes, then stops at the
    * first pass that is no more than 3% faster than the one before, or after
    * `max` passes. */
  def warmUp(what: String, min: Int, max: Int)(pass: => Pass): Seq[Pass] = {
    require(min >= 2 && max >= min)
    val done = scala.collection.mutable.ArrayBuffer(pass)
    while (done.size < max &&
        (done.size < min || done.last.wallS < 0.97 * done(done.size - 2).wallS))
      done += pass
    System.err.println(s"[perfbench] $what warm-up passes s: " +
      done.map(p => f"${p.wallS}%.3f").mkString(" "))
    done.toSeq
  }

  /** Records of a corpus that survive the mappings' `deleted()`. */
  def kept(spark: SparkSession, in: Path): DataFrame =
    spark.read.schema(EventSchema).json(in.toString).filter(col("level") =!= "debug")

  val Json = new com.fasterxml.jackson.databind.ObjectMapper

  /** Schema of a corpus record (Corpus.line). */
  val EventSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user", StringType),
    StructField("level", StringType), StructField("region", StringType),
    StructField("latency_ms", LongType), StructField("bytes", LongType),
    StructField("msg", StringType)))

  /** Compare a delivered output with its reference; false on any mismatch,
    * with the reason on stderr. */
  def matches(what: String, got: Stats.Digest, want: Stats.Digest): Boolean = {
    if (got != want) System.err.println(s"[perfbench] $what: got $got, want $want")
    got == want
  }
}

import Workloads._

/** `file` json → bloblang (with `deleted()`) → switch (error branch may
  * `throw()`) → catch → dedupe → `file` json, run by `Config.load(..).run`. */
final class YamlBatch(seed: Long, work: Path,
    records: Int = 100000, files: Int = 4) extends Workload {
  val name = "yaml_batch"
  private val in = work.resolve("in")
  private val out = work.resolve("out")
  private var want: Stats.Digest = _

  val yaml: String =
    s"""input:
       |  file:
       |    path: $in
       |    codec: json
       |pipeline:
       |  processors:
       |    - bloblang: |
       |        root = this
       |        root.user = this.user.uppercase()
       |        root = if this.level == "debug" { deleted() }
       |    - switch:
       |        - check: this.level == "error"
       |          processors:
       |            - bloblang: |
       |                root = this
       |                root.msg = if this.latency_ms > 900 { throw("latency over budget") } else { this.msg.uppercase() }
       |        - processors:
       |            - bloblang: |
       |                root = this
       |                root.msg = this.msg.lowercase()
       |    - catch:
       |        - bloblang: |
       |            root = this
       |            root.msg = "recovered " + this.region
       |    - dedupe:
       |        key: $${! this.id }
       |output:
       |  file:
       |    path: $out
       |    codec: json
       |""".stripMargin

  def stage(): Unit = { wipe(in); Corpus.write(seed, records, files, in) }

  /** The same pipeline in plain Spark, written independently of graft. */
  def reference(spark: SparkSession): DataFrame = {
    val err = col("level") === "error"
    kept(spark, in)
      .withColumn("user", upper(col("user")))
      .withColumn("msg",
        when(err && col("latency_ms") > 900, concat(lit("recovered "), col("region")))
          .when(err, upper(col("msg")))
          .otherwise(lower(col("msg"))))
      .dropDuplicates("id")
  }

  private def check(spark: SparkSession): Boolean = {
    // field names of the first delivered record, then the digest of all
    val parts = Option(out.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".json") && f.length > 0)
    val fields = parts.headOption.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Json.readTree(src.getLines().next()).fieldNames().asScala.toSeq.sorted
      finally src.close()
    }.getOrElse(Nil)
    val sameCols = fields == EventSchema.fieldNames.sorted.toSeq
    if (!sameCols) System.err.println(s"[perfbench] yaml_batch output fields $fields")
    sameCols && matches("yaml_batch output",
      Stats.digest(spark.read.schema(EventSchema).json(out.toString)), want)
  }

  /** The first pass's output is checked; warm-up passes follow until they
    * have settled. */
  def prepare(spark: SparkSession): (Int, Int) = {
    want = Stats.digest(reference(spark))
    val first = pass(spark)
    val ok = first.failed == 0 && check(spark)
    val rest = warmUp(name, 5, 12)(pass(spark))
    (1 + rest.size, (if (ok) 0 else 1) + rest.map(_.failed).sum)
  }

  /** The output of the last measured pass is checked. */
  override def verify(spark: SparkSession): Int = if (check(spark)) 0 else 1

  /** With tracing on, `run` adds the `input`, processor and `output` spans. */
  def pass(spark: SparkSession): Pass = {
    val t0 = System.nanoTime()
    val ok = util.Try(Tracing.span("pass")(
      Tracing.span("runtime.config_load")(Config.load(yaml)).run(spark)))
    val wall = seconds(t0)
    ok.failed.foreach(e => System.err.println(s"[perfbench] yaml_batch pass: $e"))
    Pass(wall, Seq(wall * 1000), 1, if (ok.isSuccess) 0 else 1)
  }

  /** Rows the dedupe delivered against rows that reached it: the mapping
    * only deletes, and `switch` and `catch` keep every other record. */
  override def layers(spark: SparkSession, p: Probes): Map[String, Double] =
    Map("ops.dedupe_keep_ratio" -> p.exec.totals.outRecords.toDouble / kept(spark, in).count())
}

/** `spark_format` text stream, one pre-staged file per micro-batch →
  * bloblang over `parse_json()` with `deleted()` → cache-backed dedupe →
  * `file` json append, run by `Config.load(..).runStream` to exhaustion
  * under `Trigger.AvailableNow`. */
final class YamlStream(seed: Long, work: Path,
    files: Int = 12, perFile: Int = 2000, warmFiles: Int = 6) extends Workload {
  val name = "yaml_stream"
  private val in = work.resolve("in")
  private val warm = work.resolve("warm")
  private var want: Stats.Digest = _
  private var n = 0

  private def yaml(src: Path, out: Path): String =
    s"""cache_resources:
       |  - label: seen_ids
       |    memory: {}
       |input:
       |  spark_format:
       |    format: text
       |    streaming: true
       |    options:
       |      path: $src
       |      maxFilesPerTrigger: "1"
       |pipeline:
       |  processors:
       |    - bloblang: |
       |        let j = this.value.parse_json()
       |        root.id = $$j.id.int()
       |        root.user = $$j.user.string()
       |        root.level = $$j.level.string()
       |        root.latency_ms = $$j.latency_ms.int()
       |        root.msg = $$j.msg.string()
       |        root = if $$j.level.string() == "debug" { deleted() }
       |    - dedupe:
       |        cache: seen_ids
       |        key: $${! this.id }
       |output:
       |  file:
       |    path: $out
       |    codec: json
       |    mode: append
       |""".stripMargin

  private val OutSchema = StructType(Seq("id", "user", "level", "latency_ms", "msg")
    .map(f => EventSchema(f)))

  /** The measured backlog, and a smaller one from another seed that the
    * warm-up drains. */
  def stage(): Unit = {
    wipe(in); Corpus.write(seed, files * perFile, files, in)
    wipe(warm); Corpus.write(~seed, warmFiles * perFile, warmFiles, warm)
  }

  def reference(spark: SparkSession): DataFrame =
    kept(spark, in).select(OutSchema.fieldNames.map(col).toIndexedSeq: _*)
      .dropDuplicates("id")

  def prepare(spark: SparkSession): (Int, Int) = {
    want = Stats.digest(reference(spark))
    val (run, _, out) = drain(spark, warm)
    wipe(out)
    (1, if (run.toOption.exists(_.size == warmFiles)) 0 else 1)
  }

  /** Rows the dedupe delivered against rows that reached it: the mapping
    * only deletes, so every other record of the backlog does. */
  override def layers(spark: SparkSession, p: Probes): Map[String, Double] =
    Map("ops.dedupe_keep_ratio" -> p.exec.totals.outRecords.toDouble / kept(spark, in).count())

  /** Run the stream over `src` to exhaustion; its micro-batches that read
    * input, the wall, and the output directory. */
  private def drain(spark: SparkSession, src: Path)
      : (util.Try[Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]], Double, Path) = {
    n += 1
    val out = work.resolve(s"out-$n")
    val ckpt = work.resolve(s"ckpt-$n")
    val t0 = System.nanoTime()
    val run = util.Try {
      Tracing.span("pass") {
        val spec = Tracing.span("runtime.config_load")(Config.load(yaml(src, out)))
        val q = Tracing.span("streaming.start")(
          spec.runStream(spark, ckpt.toString, Trigger.AvailableNow()))
        Tracing.span("streaming.drain")(q.awaitTermination())
        q.recentProgress.toSeq.filter(_.numInputRows > 0)
      }
    }
    val wall = seconds(t0)
    run.failed.foreach(e => System.err.println(s"[perfbench] yaml_stream pass: $e"))
    wipe(ckpt)
    (run, wall, out)
  }

  def pass(spark: SparkSession): Pass = {
    val (run, wall, out) = drain(spark, in)
    val batches = run.getOrElse(Nil)
    System.err.println(s"[perfbench] yaml_stream batches ms: " +
      batches.map(_.durationMs.get("triggerExecution")).mkString(" "))
    val ok = batches.size == files && matches("yaml_stream output",
      Stats.digest(spark.read.schema(OutSchema).json(out.toString)), want)
    wipe(out)
    // every micro-batch is an attempted operation; a wrong delivery or a
    // failed query fails all of them
    Pass(wall, batches.map(_.durationMs.get("triggerExecution").toDouble),
      files, if (ok) 0 else files)
  }
}

/** Fixed `SparkEntry.queries`, each built and run to a `noop` write, on
  * read-only tables shipped with the benchmark, in two named sets (see
  * `QueryMix.Heavy` and `QueryMix.Driver`). */
final class QueryMix(data: Path, cores: Int) extends Workload {
  val name = "query_mix"
  import QueryMix._
  /** The heavy and driver sets' shares of the last pass, in s. */
  var heavyS, driverS = 0.0
  /** Each query's latency in the last pass, in ms. */
  private var lastMs = Map.empty[String, Double]

  def stage(): Unit = require(
    graft.Tables.all.forall(t => Files.exists(data.resolve(s"$t.parquet"))),
    s"query tables missing under $data")

  /** The first pass compiles every query's code and is checked; warm-up
    * passes follow until they have settled. */
  def prepare(spark: SparkSession): (Int, Int) = {
    val rs = pass(spark) +: warmUp(name, WarmMin, WarmMax)(pass(spark))
    (rs.map(_.attempted).sum, rs.map(_.failed).sum)
  }

  /** Build and run one query to a `noop` write; the write also observes the
    * result's digest (one aggregate over the output rows, no second run),
    * which must equal the pinned one. Its jobs carry the query's name in
    * `ExecProbe.QueryKey`. The latency in ms, or None. */
  def run(spark: SparkSession, q: String): Option[Double] = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.setLocalProperty(ExecProbe.QueryKey, q)
    val r = try util.Try(Tracing.span(s"query.$q") {
      val df = Tracing.span("queries.build")(graft.SparkEntry.queries(q)(spark, data.toString))
      val obs = org.apache.spark.sql.Observation(q)
      val aggs = Stats.digestAggs(df)
      Tracing.span("exec.noop_write")(
        df.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save())
      obs.get
    }) finally sc.setLocalProperty(ExecProbe.QueryKey, null)
    val ms = seconds(t0) * 1000
    r.failed.foreach(e => System.err.println(s"[perfbench] $q failed: $e"))
    r.toOption.filter { m =>
      def long(k: String) = m(k).asInstanceOf[Long]
      val got = Stats.Digest(long("rows"), long("lo"), long("hi"))
      Pinned.get(q).exists(matches(q, got, _))
    }.map(_ => ms)
  }

  def pass(spark: SparkSession): Pass = {
    val t0 = System.nanoTime()
    val (h, d) = Tracing.span("pass")((Heavy.map(run(spark, _)), Driver.map(run(spark, _))))
    lastMs = (Heavy ++ Driver).zip(h ++ d).collect { case (q, Some(ms)) => q -> ms }.toMap
    heavyS = h.flatten.sum / 1000
    driverS = d.flatten.sum / 1000
    val ms = (h ++ d).flatten
    Pass(seconds(t0), ms, Heavy.size + Driver.size, Heavy.size + Driver.size - ms.size)
  }

  /** Each set's executor busy fraction (its tasks' run time ÷ cores × its
    * queries' wall) and Spark jobs per query, in the traced pass. */
  override def layers(spark: SparkSession, p: Probes): Map[String, Double] = {
    val t = p.exec.totals
    def set(label: String, qs: Seq[String]): Map[String, Double] = {
      val wallMs = qs.flatMap(lastMs.get).sum
      Map(s"queries.${label}_busy_frac" -> qs.map(t.query(_).runMs).sum / (cores * wallMs),
        s"queries.${label}_jobs_per_query" -> qs.map(t.query(_).jobs).sum.toDouble / qs.size)
    }
    set("heavy", Heavy) ++ set("driver", Driver)
  }
}

object QueryMix {
  /** Warm-up passes after the cold one: at least, at most. */
  val WarmMin = 7
  val WarmMax = 9
  /** The first and third most executor-bound of the 28 candidates on the
    * shipped tables (`Size`, 4 cores: task run time 0.42 and 0.30 of the
    * cores; the second, q80, costs 1.5 s and 17 jobs a run). */
  val Heavy: Seq[String] = Seq("q184_jq_stream", "q141_wav_decode")
  /** Driver-bound in the same sizing (task run time ≤ 0.08 of the cores,
    * 8–11 Spark jobs per query). */
  val Driver: Seq[String] = Seq("q6_setops", "q8_anti_join", "q18_try_catch")

  /** Row count and digest of each query's result on the shipped tables,
    * pinned from a run whose outputs matched the DuckDB oracle
    * (tools/oracle_check.py). */
  val Pinned: Map[String, Stats.Digest] = Map(
    "q80_excise_spans" -> Stats.Digest(500L, "f4fdefb8aa-f885554c6a"),
    "q184_jq_stream" -> Stats.Digest(500L, "f9f6435c14-f62e80e2ef"),
    "q90_substring_contamination" -> Stats.Digest(11L, "6b7c24890-453597f41"),
    "q10_blobl_lineitem" -> Stats.Digest(49080L, "600c05bd5ba7-5f9af2c3594c"),
    "q1_agg" -> Stats.Digest(6L, "3211b6b85-3ac479cd9"),
    "q6_setops" -> Stats.Digest(12L, "4b5774623-41df2823c"),
    "q8_anti_join" -> Stats.Digest(5L, "37c47529f-2647d086b"),
    "q7_semi_join" -> Stats.Digest(5L, "2e00eaf59-3b7e6eb3a"),
    "q3_join_nation" -> Stats.Digest(25L, "9d3cfd7a0-d61fe08a5"),
    "q18_try_catch" -> Stats.Digest(500L, "f556ed129b-f821b95b0d"),
    "q74_shuffle" -> Stats.Digest(500L, "106c5c70638-10a7b5fc4a6"),
    "q134_range_lookup" -> Stats.Digest(5L, "396a6f615-23007e0dd"),
    "q65_source_stats" -> Stats.Digest(20L, "5f85cd703-91006a3d4"),
    "q133_hist_quantiles" -> Stats.Digest(15L, "6b01a57ab-9a5ed8689"),
    "q143_dataset_diff" -> Stats.Digest(535L, "10891155605-112ce7a2611"),
    "q149_jaccard_join" -> Stats.Digest(25L, "ca961432f-9881dd29f"),
    "q129_pagerank" -> Stats.Digest(1600L, "323f740a6f0-31812cff38f"),
    "q141_wav_decode" -> Stats.Digest(500L, "101b188fca6-1036dfd507d"),
    "q105_cluster_sample" -> Stats.Digest(500L, "fe293b28ac-f37b2b47c2"),
    "q60_semdedup" -> Stats.Digest(500L, "f8e3d2270d-f79327d517"),
    "q75_embed_outliers" -> Stats.Digest(500L, "f581462bc3-f93290b63b"),
    "q46_kmeans" -> Stats.Digest(500L, "f04182ad71-f8d3c5fb9f"),
    "q115_ivfpq" -> Stats.Digest(50L, "197b5dfbce-164109c709"),
    "q142_ann_recall" -> Stats.Digest(10L, "304312165-3c5662f4a"),
    "q125_bloom_join" -> Stats.Digest(3L, "1fe8fb14c-20b274cf0"),
    "q96_interleave" -> Stats.Digest(500L, "f88c7b57d6-f80018c0c4"),
    "q99_stratified_split" -> Stats.Digest(500L, "f4de6c0fec-fa5e260627"),
    "q87_vocab_coverage" -> Stats.Digest(31L, "10edff0e82-d3abb7fb7"))
}

/** Per-query sizing on the shipped tables, the evidence behind the heavy
  * and driver sets: for each query, after one cold run, the median wall of
  * three warm runs, and their Spark jobs, tasks and executor busy fraction
  * (task run time ÷ cores × wall) per run:
  *
  *   Size <tables dir> <scratch dir> [query ...]
  */
object Size {
  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, java.nio.file.Paths.get(args(1)).toAbsolutePath)
    val mix = new QueryMix(java.nio.file.Paths.get(args(0)).toAbsolutePath, cores)
    val qs = if (args.length > 2) args.toSeq.drop(2) else QueryMix.Pinned.keys.toSeq.sorted
    val probes = new Probes(spark)
    println("query wall_ms jobs tasks busy_frac")
    qs.foreach { q =>
      mix.run(spark, q)
      probes.attach()
      val walls = Seq.fill(3)(mix.run(spark, q).getOrElse(Double.NaN))
      probes.detach()
      val t = probes.exec.totals.query(q)
      println(f"$q ${Stats.median(walls)}%.0f ${t.jobs / 3.0}%.1f ${t.tasks / 3.0}%.1f " +
        f"${t.runMs / (cores * walls.sum)}%.3f")
    }
    spark.stop()
  }
}

/** Prints the `QueryMix.Pinned` entries from a directory of oracle-checked
  * query outputs (one parquet directory per query, as graft.Verify writes):
  *
  *   Pin <verify output dir> [query ...]
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.builder("4").getOrCreate()
    val qs = if (args.length > 1) args.toSeq.drop(1) else QueryMix.Heavy ++ QueryMix.Driver
    qs.foreach { q =>
      val d = Stats.digest(spark.read.parquet(s"${args(0)}/$q"))
      println(s"""    "$q" -> Stats.Digest(${d.rows}L, "${d.hash}"),""")
    }
    spark.stop()
  }
}
