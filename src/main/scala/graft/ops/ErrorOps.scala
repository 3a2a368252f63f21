package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.blobl.{Mapping => Blobl}
import graft.model.{Envelope, EnvRow}

/** Error-flag discipline (`_error` column): the reference's core semantic
  * that failed messages keep flowing with a flag, inspected by try/catch
  * (`lib/processor/util.go:49-104`, `lib/types/interface.go:89-104`).
  */
object ErrorOps {

  /** Flag rows matching a Bloblang predicate as errored (does not drop). */
  final case class FlagError(check: String, message: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val cond = Blobl.envelopeExpr(df, check)
      df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error))
          .otherwise(when(coalesce(cond, lit(false)), lit(message))))
    }
  }

  /** `bounds_check` (`lib/processor/bounds_check.go`): flag-or-drop parts
    * outside byte-size bounds. */
  final case class BoundsCheck(minBytes: Long = 0, maxBytes: Long = Long.MaxValue,
      drop: Boolean = true) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val len = octet_length(Envelope.contentOrDoc(df))
      val bad = len < minBytes || len > maxBytes
      if (drop) df.filter(!bad)
      else df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error))
          .otherwise(when(bad, lit("bounds_check failed"))))
    }
  }

  /** `jsonschema` (`lib/processor/jsonschema.go`): flag docs failing a
    * JSON Schema (required + property types subset); invalid rows keep
    * flowing with `_error` set. */
  final case class JsonSchema(schemaJson: String) extends Processor {
    def apply(df: DataFrame): DataFrame = {
      val err = graft.exprs.Formats.jsonSchemaError(
        Envelope.contentOrDoc(df).cast("string"), schemaJson)
      df.withColumn(Envelope.Error,
        when(col(Envelope.Error).isNotNull, col(Envelope.Error)).otherwise(err))
    }
  }

  /** Arm 0 for rows without `_error`, arm 1 for errored rows. */
  private def byError(in: EnvRow): Column = when(in.err.isNull, lit(0)).otherwise(lit(1))

  /** `try` (`lib/processor/try.go`): children run only on non-errored rows;
    * errored rows pass through untouched. Fused into one projection when
    * the children are row-wise, else split → transform → union (`Routed`). */
  final case class TryProc(children: scala.Seq[Processor]) extends Routed {
    def arms: scala.Seq[Routed.Arm] = scala.Seq(Routed.Arm(children), Routed.Arm(Nil))
    protected def tag(in: EnvRow): Column = byError(in)
  }

  /** try+catch fused: ok rows run `tryProcs`, errored rows run `catchProcs`
    * and get their flag cleared; the common Benthos idiom `try: [...]`
    * followed by `catch: [...]` compiles to this. One projection when both
    * arms are row-wise, else split → transform → union (`Routed`). */
  final case class TryCatch(tryProcs: scala.Seq[Processor], catchProcs: scala.Seq[Processor])
      extends Routed {
    def arms: scala.Seq[Routed.Arm] =
      scala.Seq(Routed.Arm(tryProcs), Routed.Arm(catchProcs, repair = true))
    protected def tag(in: EnvRow): Column = byError(in)
  }

  /** `catch` (`lib/processor/catch.go`): children run ONLY on errored rows;
    * the flag is cleared afterwards. Fused into one projection when the
    * children are row-wise, else split → transform → union (`Routed`). */
  final case class CatchProc(children: scala.Seq[Processor]) extends Routed {
    def arms: scala.Seq[Routed.Arm] =
      scala.Seq(Routed.Arm(Nil), Routed.Arm(children, repair = true))
    protected def tag(in: EnvRow): Column = byError(in)
  }
}
