package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.model.{Envelope, EnvRow}

/** A processor that sends each row down one of several arms, picked by a
  * per-row tag: `switch`, `try`, `catch` and try+catch.
  *
  * It runs in one of two ways:
  *  - **fused**, when every arm is row-wise (`bloblang`, `noop`, and nested
  *    routed processors whose own arms are). The tag is projected once,
  *    each output column is `CASE WHEN tag = i THEN arm_i ... END`, and one
  *    filter drops the rows an arm deleted or no arm took. The input is
  *    scanned once.
  *  - **union**, otherwise (an arm holds `dedupe`, `group_by`, a join, a
  *    mapping that calls `count()`, ...) or when the input carries columns
  *    besides the envelope. Each arm runs on `filter(tag = i)` and the arms
  *    are unioned by name, so every arm re-reads the input.
  *
  * Both paths give the same rows, and both align the arms' doc types
  * (`Envelope.unifyDocTypes`), so an arm that adds a field works.
  */
abstract class Routed extends RowWise {
  def arms: scala.Seq[Routed.Arm]

  /** Index of the arm that takes the row; null when none does. */
  protected def tag(in: EnvRow): Column

  /** False when the tag reads across rows and so cannot be fused. */
  protected def tagRowWise: Boolean = true

  def apply(df: DataFrame): DataFrame = fused(df).getOrElse(union(df))

  def row(in: EnvRow): Option[EnvRow] =
    if (tagRowWise) fuse(in, tag(in)) else None

  private[graft] def fused(df: DataFrame): Option[DataFrame] =
    if (!tagRowWise || df.columns.toSet != Envelope.envelopeCols.toSet) None
    else {
      val tagged = df.withColumn(Routed.TagCol, tag(EnvRow.of(df)))
      fuse(EnvRow.of(tagged), col(Routed.TagCol)).map(_.project)
    }

  private[graft] def union(df: DataFrame): DataFrame = {
    val t = tag(EnvRow.of(df))
    val outs = arms.zipWithIndex.map { case (a, i) =>
      val o = Pipeline(a.procs)(df.filter(t === i))
      if (a.repair) o.withColumn(Envelope.Error, lit(null).cast(StringType)) else o
    }
    val docType = Envelope.unifyDocTypes(outs.map(_.schema(Envelope.Doc).dataType))
    outs.map { o =>
      val doc = Envelope.conformDoc(col(Envelope.Doc), o.schema(Envelope.Doc).dataType, docType)
      if (doc == col(Envelope.Doc)) o else o.withColumn(Envelope.Doc, doc)
    }.reduce(_.unionByName(_))
  }

  private def fuse(in: EnvRow, tag: Column): Option[EnvRow] = {
    val start = in.copy(dropped = lit(false))
    arms.foldLeft(Option(Vector.empty[EnvRow])) { (acc, a) =>
      acc.flatMap(done => RowWise.chain(a.procs, start).map { o =>
        done :+ (if (a.repair) o.copy(err = lit(null).cast(StringType)) else o)
      })
    }.map { outs =>
      val docType = Envelope.unifyDocTypes(outs.map(_.docType))
      def pick(f: EnvRow => Column): Column = {
        val cs = outs.map(f)
        if (cs.distinct.size == 1) cs.head
        else cs.zipWithIndex.tail.foldLeft(when(tag === 0, cs.head)) {
          case (acc, (c, i)) => acc.when(tag === i, c)
        }
      }
      EnvRow(in.frame, pick(_.content),
        pick(o => Envelope.conformDoc(o.doc, o.docType, docType)),
        pick(_.meta), pick(_.err), in.orDropped(tag.isNull || pick(_.dropped)))
    }
  }
}

object Routed {
  /** One arm: its processors, and whether it clears `_error` (a catch). */
  final case class Arm(procs: scala.Seq[Processor], repair: Boolean = false)

  private val TagCol = "_graft_arm"
}
