package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order statistics over samples, and an order-insensitive result digest. */
object Stats {

  /** The p-th percentile (0..100) by linear interpolation between closest
    * ranks (the `linear` method of numpy.percentile). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median of the non-empty subset, 0 when there are no samples. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Row count and digest of a result, independent of row and partition
    * order: the sums of the two 32-bit halves of a 64-bit row hash. Floating
    * values are rounded to 6 decimals first, so an aggregate summed in
    * another order still digests the same; maps hash as sorted entries. */
  final case class Digest(rows: Long, hash: String)
  object Digest {
    def apply(rows: Long, lo: Long, hi: Long): Digest = Digest(rows, f"$lo%x-$hi%x")
  }

  def digest(df: DataFrame): Digest = {
    val aggs = digestAggs(df)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The digest as three aggregate columns, e.g. for `Dataset.observe`. */
  def digestAggs(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.sortBy(_.name)
      .map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canonical(x, et))
    case MapType(_, vt, _) =>
      // maps do not hash; their entries, sorted, do
      val vs = if (needsCanon(vt)) transform_values(c, (_, v) => canonical(v, vt))
        else c
      array_sort(map_entries(vs))
    case st: StructType if needsCanon(st) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => needsCanon(et)
    case _: MapType => true
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }
}
