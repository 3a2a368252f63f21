package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Envelope
import graft.ops._
import graft.ops.{FlowOps => F, ErrorOps => E}
import graft.runtime.Config

/** `switch`, `try`, `catch` and try+catch (`ops.Routed`): the fused
  * single-projection path and the filter→union path give the same rows on
  * one matrix of arms, the fused path is taken exactly when every arm is
  * row-wise, and arms that add doc fields work on both paths. */
class RoutedSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = Sessions.builder("4").getOrCreate()

  private val rows = scala.Seq(
    """{"id":1,"v":1,"level":"info"}""",
    """{"id":2,"v":7,"level":"error"}""",
    """{"id":3,"v":12,"level":"error"}""",
    """{"id":4,"level":"debug"}""",
    """{"id":5,"v":3,"level":"warn"}""",
    """{"id":6,"v":9,"level":"info"}""")

  /** Envelope over `rows`; rows with v > 8 (ids 3 and 6) carry `_error`. */
  private def input: DataFrame = {
    import spark.implicits._
    E.FlagError("this.v > 8", "too big")(Envelope.wrap(
      spark.read.json(spark.createDataset(rows)), scala.Seq(col("id"))))
  }

  private def digest(df: DataFrame): scala.Seq[String] =
    df.select(to_json(struct(Envelope.envelopeCols.map(col): _*)))
      .collect().map(_.getString(0)).sorted.toSeq

  private def blob(m: String) = BloblangProc(m)

  /** (case, processor, whether it fuses) */
  private val matrix: scala.Seq[(String, Routed, Boolean)] = scala.Seq(
    ("deleted()", F.Switch(scala.Seq(
      Some("""this.level == "debug"""") -> scala.Seq(blob("root = deleted()")),
      None -> scala.Seq(Noop))), true),
    ("throw()", F.Switch(scala.Seq(
      Some("this.v > 5") -> scala.Seq(blob("root = this\nroot.v = throw(\"over\")")),
      None -> Nil)), true),
    ("meta set", F.Switch(scala.Seq(
      Some("""this.level == "error"""") -> scala.Seq(blob("meta route = \"err\"")),
      None -> scala.Seq(blob("root = this\nmeta route = \"ok\"")))), true),
    ("multi-processor arm", F.Switch(scala.Seq(
      Some("this.v < 8") -> scala.Seq(
        blob("root = this\nroot.w = this.v * 2"),
        blob("root = this\nroot.w = this.w + 1\nroot = if this.w > 10 { deleted() }")),
      None -> scala.Seq(blob("root = this\nroot.v = -1")))), true),
    ("switch arm adds a field beside noop", F.Switch(scala.Seq(
      Some("this.v < 5") -> scala.Seq(blob("root = this\nroot.tag = \"low\"")),
      None -> scala.Seq(Noop))), true),
    ("catch arm adds a field", E.CatchProc(scala.Seq(
      blob("root = this\nroot.fixed = true"))), true),
    ("catch arm replaces the doc", E.CatchProc(scala.Seq(
      blob("root.fixed = true"))), true),
    ("no default case", F.Switch(scala.Seq(
      Some("this.v < 5") -> scala.Seq(blob("root = this\nroot.small = true")))), true),
    ("null check result", F.Switch(scala.Seq(
      Some("this.v > 4") -> scala.Seq(blob("root = this\nroot.arm = 0")),
      Some("""this.level == "debug"""") -> scala.Seq(blob("root = this\nroot.arm = 1")))), true),
    ("try", E.TryProc(scala.Seq(blob("root = this\nroot.v = this.v * 10"))), true),
    ("try/catch", E.TryCatch(
      scala.Seq(blob("root.id = this.id\nroot.q = \"ok\"")),
      scala.Seq(blob("root.id = this.id\nroot.q = \"too big\"\nmeta fixed = \"yes\""))), true),
    ("nested switch in catch", E.CatchProc(scala.Seq(F.Switch(scala.Seq(
      Some("this.v > 10") -> scala.Seq(blob("root = this\nroot.big = true")),
      None -> scala.Seq(blob("root = this\nroot.v = 0")))))), true),
    ("count() mapping falls back", F.Switch(scala.Seq(
      Some("this.v > 5") -> scala.Seq(blob("root = this\nroot.n = count(\"c\")")),
      None -> Nil)), false),
    ("dedupe arm falls back", F.Switch(scala.Seq(
      Some("this.v > 5") -> scala.Seq(DedupeProc("this.level")),
      None -> Nil)), false),
    ("nested non-row-wise arm falls back", E.CatchProc(scala.Seq(F.Switch(scala.Seq(
      None -> scala.Seq(DedupeProc("this.level")))))), false))

  matrix.foreach { case (name, r, fuses) =>
    test(s"fused and union paths agree: $name") {
      val df = input
      val fused = r.fused(df)
      assert(fused.isDefined == fuses)
      val want = digest(r.union(df))
      assert(want.nonEmpty)
      fused.foreach(f => assert(digest(f) == want))
      assert(digest(r(df)) == want)
    }
  }

  test("fused and union paths agree on a streaming input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val schema = spark.read.json(spark.createDataset(rows)).schema
    val ms = MemoryStream[String]
    ms.addData(rows: _*)
    val stream = E.FlagError("this.v > 8", "too big")(Envelope.wrapUnordered(
      ms.toDF().select(from_json(col("value"), schema).as("d")).select("d.*")))
    val r = E.CatchProc(scala.Seq(F.Switch(scala.Seq(
      Some("this.v > 10") -> scala.Seq(blob("root = this\nroot.big = true")),
      Some("""this.level == "debug"""") -> scala.Seq(blob("root = deleted()"))))))
    def drain(df: DataFrame): scala.Seq[String] = {
      val got = scala.collection.mutable.ArrayBuffer[String]()
      val q = df.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        got ++= digest(b); ()
      }.start()
      q.processAllAvailable(); q.stop()
      got.sorted.toSeq
    }
    val want = drain(r.union(stream))
    assert(want.size == 5)
    assert(drain(r.fused(stream).get) == want)
  }

  test("catch arm that adds a field: repaired rows carry it, the flag is cleared") {
    val out = E.CatchProc(scala.Seq(blob("root = this\nroot.fixed = true")))(input)
    val got = out.select(col("doc.id"), col("doc.fixed"), col(Envelope.Error))
      .orderBy("id").collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
    assert(got.toSeq == scala.Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i =>
      (i, if (i == 3L || i == 6L) Some(true) else None, None)))
  }

  test("switch case that adds a field beside a noop default") {
    val out = F.Switch(scala.Seq(
      Some("this.v < 5") -> scala.Seq(blob("root = this\nroot.tag = \"low\"")),
      None -> scala.Seq(Noop)))(input)
    val got = out.select(col("doc.id"), col("doc.tag")).orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq == scala.Seq(
      (1L, Some("low")), (2L, None), (3L, None), (4L, None), (5L, Some("low")), (6L, None)))
  }

  test("switch without a default drops the rows no case matches") {
    val out = F.Switch(scala.Seq(
      Some("this.v < 5") -> scala.Seq(Noop),
      Some("""this.level == "error"""") -> scala.Seq(Noop)))(input)
    assert(out.select(col("doc.id")).collect().map(_.getLong(0)).sorted.toSeq
      == scala.Seq(1L, 2L, 3L, 5L))
  }

  test("switch rejects fallthrough: true and names the case") {
    val e = intercept[IllegalArgumentException](Config.load(
      """input:
        |  generate:
        |    count: 3
        |    mapping: "root.i = this.i"
        |pipeline:
        |  processors:
        |    - switch:
        |        - check: this.i == 0
        |          processors: []
        |        - check: this.i == 1
        |          fallthrough: true
        |          processors: []
        |output:
        |  stdout: {}
        |""".stripMargin))
    assert(e.getMessage.contains("case 1") && e.getMessage.contains("this.i == 1"))
  }

  test("file → switch → catch executes as one source scan with no Union") {
    val base = Files.createTempDirectory("graft-routed")
    val in = base.resolve("in")
    Files.createDirectories(in)
    Files.writeString(in.resolve("part-0.json"), rows.mkString("\n") + "\n")
    val out = base.resolve("out")
    val spec = Config.load(
      s"""input:
         |  file:
         |    path: $in
         |    codec: json
         |pipeline:
         |  processors:
         |    - switch:
         |        - check: this.level == "error"
         |          processors:
         |            - bloblang: |
         |                root = this
         |                root.v = if this.v > 8 { throw("too big") } else { this.v * 2 }
         |        - processors:
         |            - bloblang: |
         |                root = this
         |                root.tag = "other"
         |    - catch:
         |        - bloblang: |
         |            root = this
         |            root.fixed = true
         |output:
         |  file:
         |    path: $out
         |    codec: json
         |""".stripMargin)
    val df = Pipeline(spec.pipeline)(spec.input(spark))
    assert(df.collect().length == rows.size)
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case s: FileSourceScanExec => s }.size == 1, plan.treeString)
    assert(collect(plan) { case u: UnionExec => u }.isEmpty, plan.treeString)
    spec.run(spark)
    val written = spark.read.json(out.toString)
    assert(written.count() == rows.size)
    assert(written.filter(col("fixed")).select("id").collect().map(_.getLong(0)).toSeq
      == scala.Seq(3L))
  }
}
