package org.apache.spark.sql.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{IterableEncoder, OptionEncoder, ProductEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.agnosticEncoderFor
import org.apache.spark.sql.catalyst.expressions.{Alias, ArrayTransform, CreateNamedStruct, Expression, GetStructField, If, IsNull, KnownNotNull, KnownNullable, LambdaFunction, Literal, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, Metadata, StructType}

/**
 * Encoder and key-column plumbing for `graft.sorted.GroupSortedDataset`,
 * which needs a few `private[sql]` hooks to let Catalyst plan its merges on
 * the group-sorted layout without re-serializing the key column.
 */
object GroupSortBridge {

  /**
   * `ds` with its key (first) column in the canonical form every typed
   * operator produces for `K`: the data type and nullability of the tuple
   * encoder's key field, nested fields included, with floating-point NaN
   * and -0.0 normalized the way Spark's own joins and aggregates do.
   *
   * Two layouts whose key columns share this form can be cogrouped by
   * column, and a cogroup's output can be cogrouped again. The column keeps
   * its name; the plan is untouched when the column already conforms.
   * A null under a key type that cannot hold one fails the query with
   * Spark's null-value error instead of reading as a default value.
   */
  def conformKey[K, V](ds: Dataset[(K, V)])(implicit ek: Encoder[K]): Dataset[(K, V)] = {
    val source = ds.schema.head
    val target = ds.encoder.schema.head
    val conforms = source.dataType == target.dataType && source.nullable == target.nullable &&
      source.metadata == Metadata.empty && !hasFloatingPoint(target.dataType)
    if (conforms) ds
    else {
      def withKey(key: Column, from: Dataset[(K, V)]): Dataset[(K, V)] =
        from.select(key, col(from.columns.last)).as[(K, V)](ds.encoder)
      // a typed round trip re-types the column the way the tuple decoder reads it
      val typed =
        if (source.dataType == target.dataType) ds
        else withKey(typedUdf((k: K) => k, ek, ek)(col(source.name)).as(source.name), ds)
      val normalized = normalizeFloats(typed.queryExecution.analyzed.output.head, target.dataType)
      val key =
        if (target.nullable) KnownNullable(normalized)
        else AssertNotNull(normalized, Seq(s"- key column `${source.name}` of a group-sorted layout"))
      withKey(ColumnBridge.column(Alias(key, source.name)(explicitMetadata = Some(Metadata.empty))), typed)
    }
  }

  private def hasFloatingPoint(dt: DataType): Boolean =
    dt.existsRecursively(t => t == FloatType || t == DoubleType)

  /** `e`, of type `dt`, with every float and double in it normalized, and
    * still exactly of type `dt`: unlike `NormalizeFloatingNumbers.normalize`,
    * a rebuilt struct keeps its non-nullable fields non-nullable. */
  private def normalizeFloats(e: Expression, dt: DataType): Expression = dt match {
    case _ if !hasFloatingPoint(dt) => e
    case FloatType | DoubleType => NormalizeNaNAndZero(e)
    case s: StructType =>
      val fields = s.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
        // read only when the struct is not null, so a non-nullable field cannot be null
        val field = normalizeFloats(GetStructField(e, i), f.dataType)
        Seq(Literal(f.name), if (f.nullable) field else KnownNotNull(field))
      }
      If(IsNull(e), Literal(null, s), CreateNamedStruct(fields))
    case ArrayType(et, containsNull) =>
      val x = NamedLambdaVariable("x", et, containsNull)
      ArrayTransform(e, LambdaFunction(normalizeFloats(x, et), Seq(x)))
    case _ => e
  }

  /** `K` wrapped in `Option`. A grouping column deserializes through this
    * encoder as one value even when `K` is a case class, whose own encoder
    * reads its fields as top-level columns. */
  def optionEncoder[K](ek: Encoder[K]): Encoder[Option[K]] = OptionEncoder(agnosticEncoderFor(ek))

  /** The value (second) field's encoder of a pair encoder. */
  def valueEncoder[K, V](pair: Encoder[(K, V)]): Encoder[V] = agnosticEncoderFor(pair) match {
    case ProductEncoder(_, fields, _) if fields.size == 2 => fields(1).enc.asInstanceOf[Encoder[V]]
    case other => throw new IllegalArgumentException(s"not a pair encoder: $other")
  }

  /** `Seq[W]`, for a function that expands one value into many. */
  def seqEncoder[W](ew: Encoder[W]): Encoder[Seq[W]] = {
    val element = agnosticEncoderFor(ew)
    IterableEncoder(ClassTag(classOf[Seq[W]]), element, element.nullable, lenientSerialization = false)
  }

  /** A UDF that deserializes its arguments and serializes its result
    * through the given encoders, so a value column can be projected with a
    * Scala function while the columns beside it stay untouched. The result
    * is nullable: a null argument of a primitive type yields null. */
  def typedUdf(f: AnyRef, out: Encoder[_], in: Encoder[_]*): UserDefinedFunction =
    SparkUserDefinedFunction(f, agnosticEncoderFor(out).dataType, in.map(Some(_)).toList, Some(out))
}
