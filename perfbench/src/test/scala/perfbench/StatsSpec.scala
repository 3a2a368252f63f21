package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate linearly between closest ranks") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(Stats.percentile(xs, 0) == 15)
    assert(Stats.percentile(xs, 100) == 50)
    assert(Stats.percentile(xs, 50) == 35)
    assert(math.abs(Stats.percentile(xs, 90) - 46.0) < 1e-9)
    assert(math.abs(Stats.percentile(xs, 40) - 29.0) < 1e-9)
    assert(Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7)
    assert(Stats.medianOr0(Nil) == 0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("self time is a span's duration minus the union of its children") {
    // times in µs; "job" overlaps "a" as a Spark job span overlaps the
    // processor span that launched it
    def span(id: Long, parent: Long, name: String, t0: Long, t1: Long) =
      graft.runtime.Tracing.Span(id, Some(parent).filter(_ > 0), 1L, name, t0, t1, Map.empty)
    val spans = Seq(span(1, 0, "pass", 0L, 10000L),
      span(2, 1, "a", 1000L, 4000L), span(3, 1, "b", 5000L, 6000L),
      span(4, 2, "a.x", 1000L, 2000L), span(5, 1, "job", 3000L, 4500L))
    assert(Spans.selfMs(spans) ==
      Map(1L -> 5.5, 2L -> 2.0, 3L -> 1.0, 4L -> 1.0, 5L -> 1.5))
    assert(Spans.ms(spans, "a") == 3.0)
  }

  test("the driver gap is the wall not covered by any job") {
    // jobs [1,3) and [2,5) overlap, [7,8) is separate, [9,12) is clipped
    val ms = 1000000L
    val jobs = Seq((1 * ms, 3 * ms), (2 * ms, 5 * ms), (7 * ms, 8 * ms), (9 * ms, 12 * ms))
    assert(ExecProbe.gapMs(jobs, 0L, 10 * ms) == 10 - 4 - 1 - 1)
    assert(ExecProbe.gapMs(Nil, 0L, 10 * ms) == 10)
  }

  test("the result digest ignores row order and partitioning, and sees values") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      import spark.implicits._
      val df = (1 to 500).map(i => (i.toLong, s"s$i", i / 7.0, Map("k" -> i.toDouble)))
        .toDF("a", "b", "c", "m")
      val d = Stats.digest(df)
      assert(d.rows == 500)
      assert(Stats.digest(df.orderBy(rand(3)).repartition(7)) == d)
      // floating values summed in another order still digest the same
      assert(Stats.digest(df.withColumn("c", col("c") + 1e-12)) == d)
      assert(Stats.digest(df.withColumn("b", when(col("a") === 9, "x")
        .otherwise(col("b")))) != d)
      assert(Stats.digest(df.limit(499)).rows == 499)
    } finally spark.stop()
  }
}
