package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.SchemaValidation
import graft.runtime.SchemaValidation.ColumnSpec

/** Input validation semantics (reference: sql_pipeline/validation.py:18-96):
  * aggregated errors, safe widening coercions, optional columns added as
  * typed nulls, unsafe types rejected.
  */
class SchemaValidationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("valid frame with optional columns missing: added as typed nulls") {
    val df = Seq(("c1", 0, "user", "hello")).toDF("conv_id", "turn_idx", "role", "text")
    val out = SchemaValidation.validate(df, SchemaValidation.turnsSchema)
    assert(out.isRight)
    val v = out.toOption.get
    assert(v.schema("tool").dataType === StringType)
    assert(v.schema("ts").dataType === TimestampType)
    assert(v.select("tool", "ts").head() ===
      org.apache.spark.sql.Row(null, null))
  }

  test("all problems aggregated into one error list") {
    val df = Seq(("c1", "oops")).toDF("conv_id", "text") // no turn_idx, no role
    val out = SchemaValidation.validate(df, SchemaValidation.turnsSchema)
    assert(out.isLeft)
    val errs = out.swap.toOption.get
    assert(errs.size === 2)
    assert(errs.exists(_.contains("turn_idx")))
    assert(errs.exists(_.contains("role")))
  }

  test("safe widening coercions applied; unsafe types rejected") {
    // ts as ISO string -> coerced to timestamp; turn_idx as string -> error
    val df = Seq(("c1", "0", "user", "hi", "2024-01-01 00:00:00"))
      .toDF("conv_id", "turn_idx", "role", "text", "ts")
    val out = SchemaValidation.validate(df, SchemaValidation.turnsSchema)
    assert(out.isLeft)
    val errs = out.swap.toOption.get
    assert(errs.size === 1 && errs.head.contains("turn_idx"))

    val ok = Seq(("c1", 0, "user", "hi", "2024-01-01 00:00:00"))
      .toDF("conv_id", "turn_idx", "role", "text", "ts")
    val v = SchemaValidation.validate(ok, SchemaValidation.turnsSchema)
    assert(v.isRight)
    assert(v.toOption.get.schema("ts").dataType === TimestampType)
    assert(v.toOption.get.select("ts").head().getTimestamp(0) ne null)
  }

  test("int -> long widening allowed, long -> int narrowing rejected") {
    val specs = Seq(ColumnSpec("n", LongType))
    val widened = SchemaValidation.validate(Seq(1).toDF("n"), specs)
    assert(widened.isRight)
    assert(widened.toOption.get.schema("n").dataType === LongType)

    val narrowing = SchemaValidation.validate(
      Seq(1L).toDF("n"), Seq(ColumnSpec("n", IntegerType)))
    assert(narrowing.isLeft)
  }

  test("a NULL conv_id fails the first action, naming the column") {
    val df = Seq(("c1", 0, "user", "hi"), (null, 1, "user", "hi"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = SchemaValidation.validate(df, SchemaValidation.turnsSchema)
    assert(out.isRight) // the check is lazy: no job runs in validate
    val v = out.toOption.get
    assert(v.schema("conv_id").dataType === StringType)
    val err = intercept[Exception](v.collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("column 'conv_id' must not be NULL")))
  }

  test("extra columns pass through untouched") {
    val df = Seq(("c1", 0, "user", "hi", "payload"))
      .toDF("conv_id", "turn_idx", "role", "text", "extra")
    val out = SchemaValidation.validate(df, SchemaValidation.turnsSchema)
    assert(out.isRight)
    assert(out.toOption.get.columns.contains("extra"))
  }
}
