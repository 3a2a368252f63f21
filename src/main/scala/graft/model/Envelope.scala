package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Canonical record envelope of the engine (SURVEY §1.3).
  *
  * The reference models data as batches ("messages") of parts, each part
  * carrying raw bytes + a lazily parsed JSON document + string metadata +
  * an error flag (`lib/message/part.go:26-30`, `lib/types/interface.go:89-104`
  * in the reference). The idiomatic Spark shape is one row per part:
  *
  * {{{
  *   content  BINARY                 -- raw bytes (nullable, lazily derived)
  *   doc      STRUCT<...>            -- parsed document (schema-first design)
  *   meta     MAP<STRING,STRING>     -- per-part metadata
  *   _error   STRING                 -- null = ok (error-flag semantics)
  *   batch_id LONG                   -- batch membership
  *   seq      LONG                   -- order within batch
  * }}}
  *
  * Operators are schema-preserving on the envelope and free-form on `doc`.
  * Keeping `doc` a typed struct (not a JSON string) is what lets Catalyst
  * prune/push down into sources — the central payoff vs. the reference's
  * row-at-a-time interpreter.
  */
object Envelope {
  val Content = "content"
  val Doc = "doc"
  val Meta = "meta"
  val Error = "_error"
  val BatchId = "batch_id"
  val Seq = "seq"

  val envelopeCols: scala.Seq[String] =
    scala.Seq(Content, Doc, Meta, Error, BatchId, Seq)

  /** Backtick-quote a struct field name for the Column APIs that PARSE
    * their name argument (`withField`/`dropFields`) — a name holding a
    * space/quote would be a parse error, and one holding a dot would
    * silently become a nesting step. */
  def fieldRef(name: String): String =
    if (name.nonEmpty && name.head.isUnicodeIdentifierStart &&
        name.forall(c => c.isUnicodeIdentifierPart || c == '_'))
      name
    else "`" + name.replace("`", "``") + "`"

  /** A dotted nested-field path with each segment quoted as needed. */
  def fieldPath(segs: scala.Seq[String]): String =
    segs.map(fieldRef).mkString(".")

  /** Wrap a plain DataFrame (one row per record) into the envelope.
    *
    * `orderBy` supplies a deterministic within-batch order (the reference's
    * parts are ordered); `batchSize` re-batches by count like the `split`
    * processor (`lib/processor/split.go:41-49`). At scale the sort is a
    * range-partitioned shuffle — only wrap when batch semantics are actually
    * needed; pure per-row pipelines should stay unwrapped.
    */
  def wrap(df: DataFrame, orderBy: scala.Seq[Column], batchSize: Long = Long.MaxValue): DataFrame = {
    val cols = df.columns
    val seqDf = withGlobalSeq(df, orderBy, "_graft_seq")
    val seqCol = col("_graft_seq")
    seqDf.select(
      lit(null).cast(BinaryType).as(Content),
      struct(cols.map(col).toIndexedSeq: _*).as(Doc),
      map().cast(MapType(StringType, StringType)).as(Meta),
      lit(null).cast(StringType).as(Error),
      (seqCol / lit(batchSize)).cast(LongType).as(BatchId),
      seqCol.as(Seq))
  }

  /** Global 0-based dense sequence following `orderBy` WITHOUT a
    * single-partition window (the round-1 scale-killer): range-shuffle by
    * the order key so partition id order == key order, sort within
    * partitions, then `RDD.zipWithIndex` — a tiny per-partition count job
    * (one long per partition to the driver) followed by an offset-adding
    * map, both fully parallel at any scale.
    *
    * zipWithIndex (not a hand-rolled DataFrame two-pass) because its count
    * job and the final map run over the SAME RDD instance: range-partition
    * bounds are sampled with an RDD-id-derived seed, so two separate
    * executions of a `repartitionByRange` plan can draw slightly different
    * bounds — per-partition counts from one execution would mis-offset
    * rows of the other. */
  private[graft] def withGlobalSeq(df: DataFrame, orderBy: scala.Seq[Column],
      out: String): DataFrame = {
    require(!df.isStreaming, "global sequence assignment requires a batch DataFrame")
    val spark = df.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // r11: index appended on the INTERNAL (UnsafeRow) representation —
    // the old external-Row round trip (df.rdd → Row.fromSeq →
    // createDataFrame's reflective re-encode) deserialized and re-encoded
    // every column of every row just to attach one long.
    // r12: the shim takes the RAW range shuffle and applies the within-
    // partition sort itself, so the offset-count job no longer re-runs
    // the sort (counts are sort-invariant) — one sort pass instead of
    // two per wrapped-pipeline action, same one-RDD-instance guarantee.
    org.apache.spark.sql.graft.GraftSqlShims.zipWithIndexSortedDF(
      df.repartitionByRange(parts, orderBy: _*), orderBy, out)
  }

  /** Cheap wrap for pipelines that don't need batch semantics: no shuffle,
    * batch_id = spark partition id, seq = monotonic id. This is the 100 TB
    * path — batch identity maps to Spark's own partition/micro-batch.
    * Streaming plans forbid monotonically_increasing_id, so there seq is a
    * content hash (stable pseudo-id; true order arrives per micro-batch). */
  def wrapUnordered(df: DataFrame): DataFrame = {
    // backtick-quote source column names containing dots — col("a.b")
    // otherwise parses as a path and the wrap fails analysis on any
    // input whose flat column name contains a '.' (JMESPath compliance
    // corpus: {"with.dot": 2})
    val cols = df.columns.toIndexedSeq
      .map(n => if (n.contains(".")) col(s"`$n`") else col(n))
    val seqCol =
      if (df.isStreaming) xxhash64(cols: _*)
      else monotonically_increasing_id()
    df.select(
      lit(null).cast(BinaryType).as(Content),
      struct(cols: _*).as(Doc),
      map().cast(MapType(StringType, StringType)).as(Meta),
      lit(null).cast(StringType).as(Error),
      spark_partition_id().cast(LongType).as(BatchId),
      seqCol.as(Seq))
  }

  /** Unwrap: project the doc struct back to top-level columns. */
  def unwrap(df: DataFrame): DataFrame = df.select(col(Doc + ".*"))

  /** Raw content bytes: the explicit content if set, else the serialized
    * doc (the reference's dual representation, `lib/message/part.go:82-96`).
    * Struct/array/map docs serialize as JSON; scalar docs cast directly. */
  def contentOrDoc(df: DataFrame): Column = {
    val ser = df.schema(Doc).dataType match {
      case _: StructType | _: ArrayType | _: MapType => to_json(col(Doc)).cast(BinaryType)
      case BinaryType => col(Doc)
      case _ => col(Doc).cast(StringType).cast(BinaryType)
    }
    coalesce(col(Content), ser)
  }

  def failed: Column = col(Error).isNotNull
  def ok: Column = col(Error).isNull

  /** Mark rows matching `cond` as errored with message `msg` (does not drop
    * them — "failed messages keep flowing"). */
  def flagError(df: DataFrame, cond: Column, msg: Column): DataFrame =
    df.withColumn(Error, when(col(Error).isNotNull, col(Error)).otherwise(when(cond, msg)))

  /** The doc type that every one of `types` conforms to: the struct fields
    * present in any of them (first-seen order), merged recursively through
    * structs and array elements. Leaf types that differ are left to Spark's
    * own widening at the `CASE WHEN` or union that combines the docs. */
  def unifyDocTypes(types: scala.Seq[DataType]): DataType =
    types.reduce { (a, b) =>
      (a, b) match {
        case (NullType, t) => t
        case (t, NullType) => t
        case (sa: StructType, sb: StructType) =>
          StructType(sa.fields.map { f =>
            sb.fields.find(_.name == f.name) match {
              case Some(g) => StructField(f.name,
                unifyDocTypes(scala.Seq(f.dataType, g.dataType)), f.nullable || g.nullable)
              case None => f.copy(nullable = true)
            }
          } ++ sb.fields.filterNot(g => sa.fieldNames.contains(g.name))
            .map(_.copy(nullable = true)))
        case (ArrayType(ea, na), ArrayType(eb, nb)) =>
          ArrayType(unifyDocTypes(scala.Seq(ea, eb)), na || nb)
        case (t, _) => t
      }
    }

  /** `doc` (of type `from`) reshaped to `to` (from `unifyDocTypes`): struct
    * fields it lacks become typed nulls and fields take `to`'s order. A doc
    * that already has `to`'s shape is returned as it is. */
  def conformDoc(doc: Column, from: DataType, to: DataType): Column =
    if (fits(from, to)) doc
    else (from, to) match {
      case (f: StructType, t: StructType) =>
        when(doc.isNotNull, struct(t.fields.toIndexedSeq.map { tf =>
          f.fields.find(_.name == tf.name)
            .map(ff => conformDoc(doc.getField(tf.name), ff.dataType, tf.dataType))
            .getOrElse(lit(null).cast(tf.dataType))
            .as(tf.name)
        }: _*))
      case (ArrayType(f, _), ArrayType(t, _)) => transform(doc, x => conformDoc(x, f, t))
      case _ => doc.cast(to)
    }

  private def fits(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f: StructType, t: StructType) =>
      f.fieldNames.sameElements(t.fieldNames) &&
        f.fields.zip(t.fields).forall(p => fits(p._1.dataType, p._2.dataType))
    case (ArrayType(f, _), ArrayType(t, _)) => fits(f, t)
    case (NullType, t) => t == NullType
    case _ => true
  }
}

/** One envelope row as columns over `frame`: what a row-wise processor
  * (`graft.ops.RowWise`) computes in place of a new DataFrame. Every column
  * resolves against `frame`, so a chain of row-wise steps stays one filter
  * and one projection over it. `dropped` (never null) is when the row leaves
  * the stream; batch_id and seq pass through. */
final case class EnvRow(frame: DataFrame, content: Column, doc: Column,
    meta: Column, err: Column, dropped: Column) {
  import Envelope._

  lazy val docType: DataType =
    if (doc == col(Doc)) frame.schema(Doc).dataType
    else frame.select(doc).schema.head.dataType

  /** `dropped || c`, without the constant when nothing is dropped yet. */
  def orDropped(c: Column): Column = if (dropped == lit(false)) c else dropped || c

  /** The rows as an envelope DataFrame. */
  def project: DataFrame =
    (if (dropped == lit(false)) frame else frame.filter(!dropped)).select(
      content.as(Content), doc.as(Doc), meta.as(Meta), err.as(Error), col(BatchId), col(Seq))
}

object EnvRow {
  import Envelope._
  def of(df: DataFrame): EnvRow =
    EnvRow(df, col(Content), col(Doc), col(Meta), col(Error), lit(false))
}
