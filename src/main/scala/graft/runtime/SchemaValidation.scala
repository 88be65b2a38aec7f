package graft.runtime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types._

/** Input schema validation with aggregated, readable errors — the
  * analogue of the reference's pre-pipeline validation
  * (sql_pipeline/validation.py:18-96: required-column checks + dtype
  * normalisation, all problems reported in ONE exception instead of a
  * Catalyst analysis error deep inside stage 3).
  *
  * Policy per column:
  *   - missing + required        -> error
  *   - missing + optional        -> added as typed nulls
  *   - exact type match          -> untouched
  *   - safely coercible          -> cast (int->long, float->double,
  *                                  string<->numeric NOT coerced, date/
  *                                  string->timestamp allowed like the
  *                                  reference's to_timestamp normalisation)
  *   - anything else             -> error
  *   - non-null                  -> a NULL value fails the first action
  *                                  that reads the column (a lazy guard
  *                                  in the returned projection, no job)
  * Extra columns pass through untouched (the reference keeps payload cols).
  */
object SchemaValidation {

  final case class ColumnSpec(
      name: String,
      dataType: DataType,
      required: Boolean = true,
      nonNull: Boolean = false)

  /** The transcript turns contract (BASELINE.json input_hint):
    * (conv_id string non-null, turn_idx int, role string, text string,
    *  tool string nullable, ts timestamp). A NULL conv_id would fold every
    * id-less turn into one conversation.
    */
  val turnsSchema: Seq[ColumnSpec] = Seq(
    ColumnSpec("conv_id", StringType, nonNull = true),
    ColumnSpec("turn_idx", IntegerType),
    ColumnSpec("role", StringType),
    ColumnSpec("text", StringType),
    ColumnSpec("tool", StringType, required = false),
    ColumnSpec("ts", TimestampType, required = false))

  /** Widening (lossless) coercions we apply silently. */
  private def coercible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => true
    case (ByteType | ShortType | IntegerType, LongType) => true
    case (ByteType | ShortType, IntegerType) => true
    case (FloatType, DoubleType) => true
    case (ByteType | ShortType | IntegerType | LongType | FloatType, DoubleType) => true
    case (DateType | StringType, TimestampType) => true
    case (LongType, IntegerType) => false
    case _ => false
  }

  /** Validate and normalise. Left = all problems (aggregated), Right =
    * the frame with spec'd columns cast to their canonical types.
    */
  def validate(df: DataFrame, specs: Seq[ColumnSpec]): Either[List[String], DataFrame] = {
    val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val errors = List.newBuilder[String]

    val fixes: Seq[DataFrame => DataFrame] = specs.flatMap { spec =>
      present.get(spec.name) match {
        case None if spec.required =>
          errors += s"required column '${spec.name}' is missing " +
            s"(expected ${spec.dataType.simpleString})"
          None
        case None =>
          Some((d: DataFrame) =>
            d.withColumn(spec.name, lit(null).cast(spec.dataType)))
        case Some(dt) if dt == spec.dataType => None
        case Some(dt) if coercible(dt, spec.dataType) =>
          Some((d: DataFrame) =>
            d.withColumn(spec.name, col(spec.name).cast(spec.dataType)))
        case Some(dt) =>
          errors += s"column '${spec.name}' has type ${dt.simpleString}, " +
            s"expected ${spec.dataType.simpleString} (no safe coercion)"
          None
      }
    }

    val guards = specs.filter(s => s.nonNull && present.contains(s.name)).map { spec =>
      (d: DataFrame) => d.withColumn(spec.name, when(col(spec.name).isNull,
        raise_error(lit(s"column '${spec.name}' must not be NULL"))).otherwise(col(spec.name)))
    }

    val errs = errors.result()
    if (errs.nonEmpty) Left(errs)
    else Right((fixes ++ guards).foldLeft(df)((d, f) => f(d)))
  }

  /** Validate-or-throw with every problem in one message (the reference
    * raises a single ValueError listing all failures,
    * validation.py:88-96).
    */
  def validateOrThrow(df: DataFrame, specs: Seq[ColumnSpec], what: String): DataFrame =
    validate(df, specs) match {
      case Right(ok) => ok
      case Left(errs) =>
        throw new IllegalArgumentException(
          s"invalid $what schema (${errs.size} problem(s)):\n  - " + errs.mkString("\n  - "))
    }
}
