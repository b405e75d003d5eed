package graft.sorted

import java.nio.ByteBuffer

import scala.reflect.ClassTag

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graftbridge.GroupSortBridge

/**
 * A `Dataset[(K, V)]` carrying the *group-sorted layout invariant*:
 * rows are hash-partitioned by key, each key's rows are consecutive within a
 * single partition, keys are sorted within a partition, and values are sorted
 * per key by a caller-chosen sort expression.
 *
 * Spark-native rebuild of the reference's SQL surface
 * (tresata/spark-sorted `sql/GroupSortedDataset.scala:12-47`) plus the RDD-only
 * operators of `GroupSorted.scala:29-103` re-expressed on Dataset. The layout is
 * established declaratively — `repartition(key).sortWithinPartitions(key, v)` —
 * so Catalyst plans a single hash exchange + spillable in-partition sort
 * (`SortExec`), and AQE can still re-plan partition counts at runtime. All
 * per-key operators below are *narrow* (mapPartitions) on top of that layout:
 * groups stream through [[iterators]] and are never materialized, so a key with
 * 100M rows costs O(1) heap, which is what makes this viable at 100 TB.
 *
 * The two-input merges (the `mergeJoin` family and `mergeUnion`) are Catalyst
 * cogroups keyed by the key column, so Catalyst plans them on the two layouts
 * and compares keys with its own equality (NaN matches NaN, -0.0 matches 0.0).
 *
 * By convention (inherited from the reference) the key is the FIRST column and
 * the value the LAST column of the tuple Dataset.
 *
 * KEY TYPE CONSTRAINT (`mapStreamByKey` and the folds and scans built on it):
 * key-run detection compares keys with JVM `==`, so key types must have
 * value-based equality consistent with their Catalyst sort order —
 * primitives, Strings, case classes, tuples. `Array[_]` keys (reference
 * equality) and `Double.NaN` keys (NaN != NaN) would silently split one key's
 * run into many; wrap such keys (e.g. `Seq` instead of `Array`) before
 * grouping. The reference has the same constraint.
 */
class GroupSortedDataset[K: Encoder, V] private[sorted] (
    dataset: Dataset[(K, V)],
    sortBy: Option[Column => Column],
    private val reverse: Boolean) extends Serializable {
  import GroupSortedDataset.{KeyColumn, ValueColumn, direction, tupleEnc}

  /** Escape hatch: the underlying Dataset, layout guaranteed. */
  def toDS: Dataset[(K, V)] = dataset

  /**
   * Stream `f` over each key's values (in the established value order), with a
   * per-partition reusable context. Emits one output row per element `f`
   * yields; keys with empty output are skipped (reference issue #5 semantics).
   */
  def mapStreamByKey[W: Encoder, C](ctx: () => C)(f: (C, Iterator[V]) => IterableOnce[W]): Dataset[(K, W)] =
    dataset.mapPartitions(it => iterators.mapStreamWithContext(it)(ctx, f))(tupleEnc[K, W])

  /** Stream `f` over each key's values in value order. */
  def mapStreamByKey[W: Encoder](f: Iterator[V] => IterableOnce[W]): Dataset[(K, W)] =
    dataset.mapPartitions(it => iterators.mapStream(it)(f))(tupleEnc[K, W])

  /** Order-sensitive left fold per key; one row per key. The zero value is
    * serializer-cloned per key so mutable accumulators are safe. */
  def foldLeftByKey[W: ClassTag: Encoder](zero: W)(f: (W, V) => W): Dataset[(K, W)] = {
    val freshZero = GroupSortedDataset.zeroFactory(zero)
    mapStreamByKey(vs => Iterator.single(vs.foldLeft(freshZero())(f)))
  }

  /** Order-sensitive left reduce per key (every key has >= 1 value). */
  def reduceLeftByKey[W >: V: Encoder](f: (W, V) => W): Dataset[(K, W)] =
    mapStreamByKey(vs => Iterator.single(vs.reduceLeft(f)))

  /** Per-key prefix scan in value order; emits N+1 rows per key, INCLUDING the
    * zero element (reference `GroupSortedSpec.scala:169-186` semantics). */
  def scanLeftByKey[W: ClassTag: Encoder](zero: W)(f: (W, V) => W): Dataset[(K, W)] = {
    val freshZero = GroupSortedDataset.zeroFactory(zero)
    mapStreamByKey(vs => vs.scanLeft(freshZero())(f))
  }

  /** Value projection. The key column is kept as is, so the layout survives;
    * per-key value ORDER is no longer meaningful under the new value type,
    * so the value sort is dropped (reference `GroupSorted.scala:33-39`). */
  def mapValues[W: Encoder](f: V => W): GroupSortedDataset[K, W] =
    withValues(GroupSortBridge.typedUdf(f, implicitly[Encoder[W]], valueEncoder)(col(valueName)))

  /** 1-to-N value expansion; key runs stay contiguous and in key order. A
    * merge on the result re-sorts this side by key, with no new exchange. */
  def flatMapValues[W: Encoder](f: V => IterableOnce[W]): GroupSortedDataset[K, W] = {
    val expand = GroupSortBridge.typedUdf((v: V) => f(v).iterator.toSeq,
      GroupSortBridge.seqEncoder(implicitly[Encoder[W]]), valueEncoder)
    withValues(explode(expand(col(valueName))))
  }

  /** Value projection that can read the key; the layout survives. */
  def mapKeyValuesToValues[W: Encoder](f: ((K, V)) => W): GroupSortedDataset[K, W] = {
    val project = GroupSortBridge.typedUdf((k: K, v: V) => f((k, v)),
      implicitly[Encoder[W]], implicitly[Encoder[K]], valueEncoder)
    withValues(project(col(keyName), col(valueName)))
  }

  /** Row filter; narrow, preserves BOTH grouping and per-key value order
    * (the sort metadata is carried so later mergeJoins keep the order too). */
  def filter(f: ((K, V)) => Boolean): GroupSortedDataset[K, V] =
    new GroupSortedDataset(dataset.filter(f), sortBy, reverse)

  /**
   * Generalized sort-merge cogroup: for every key on either side, `f` sees both
   * (possibly empty) value iterators, each in its side's established value
   * order, and streams its output.
   *
   * With equal partition counts on both layouts the plan adds no exchange and
   * no sort to theirs (the reference's narrow merge, `GroupSorted.scala:63-72`);
   * with mismatched counts Catalyst re-shuffles one side.
   */
  def mergeJoin[W, U](other: GroupSortedDataset[K, W])(f: (Iterator[V], Iterator[W]) => IterableOnce[U])(implicit encU: Encoder[U]): Dataset[(K, U)] =
    cogroup(other, other.reverse)(f)(tupleEnc[K, U])

  /** Full-outer merge join: per key, cross product of values with `None` for a
    * missing side. `bufferLeft` flips which side is buffered per key. */
  def mergeJoinOuter[W](other: GroupSortedDataset[K, W], bufferLeft: Boolean = false)(implicit e: Encoder[(Option[V], Option[W])]): Dataset[(K, (Option[V], Option[W]))] = {
    val f =
      if (bufferLeft) iterators.flipped(iterators.outerProduct[W, V])
      else iterators.outerProduct[V, W]
    mergeJoin(other)(f)
  }

  /** Inner merge join: only keys present on both sides. */
  def mergeJoinInner[W](other: GroupSortedDataset[K, W], bufferLeft: Boolean = false)(implicit e: Encoder[(V, W)]): Dataset[(K, (V, W))] = {
    val f =
      if (bufferLeft) iterators.flipped(iterators.innerProduct[W, V])
      else iterators.innerProduct[V, W]
    mergeJoin(other)(f)
  }

  /** Left-outer merge join. Right-only keys emit nothing outright (the
    * dedicated kernel never allocates the discarded tuples a filtered full
    * outer would). */
  def mergeJoinLeftOuter[W](other: GroupSortedDataset[K, W], bufferLeft: Boolean = false)(implicit e: Encoder[(V, Option[W])]): Dataset[(K, (V, Option[W]))] =
    mergeJoin(other)(iterators.leftOuterProduct[V, W](bufferLeft))

  /** Right-outer merge join (mirror of [[mergeJoinLeftOuter]]). */
  def mergeJoinRightOuter[W](other: GroupSortedDataset[K, W], bufferLeft: Boolean = false)(implicit e: Encoder[(Option[V], W)]): Dataset[(K, (Option[V], W))] =
    mergeJoin(other)(iterators.rightOuterProduct[V, W](bufferLeft))

  /**
   * Order-preserving multiset union with another layout (the reference's
   * `mergeUnion`, `GroupSorted.scala:100-103`): per key, the two value runs
   * are merged under THIS layout's direction. Pass the natural `Ordering[V]`;
   * a `reverse = true` layout merges under its reverse. Planned like
   * [[mergeJoin]]; when `other` runs the other way, its runs are re-sorted.
   */
  def mergeUnion(other: GroupSortedDataset[K, V])(implicit ordV: Ordering[V]): GroupSortedDataset[K, V] = {
    val ord = if (reverse) ordV.reverse else ordV
    val merged = cogroup(other, reverse)((vs, ws) => iterators.mergeUnion(vs, ws)(ord))(dataset.encoder)
    // the carried value sort resolves by this side's column names
    new GroupSortedDataset(merged.toDF(dataset.columns: _*).as[(K, V)](dataset.encoder), sortBy, reverse)
  }

  private def keyName: String = dataset.columns.head
  private def valueName: String = dataset.columns.last
  private def valueEncoder: Encoder[V] = GroupSortBridge.valueEncoder(dataset.encoder)

  private def withValues[W: Encoder](value: Column): GroupSortedDataset[K, W] =
    new GroupSortedDataset(dataset.select(col(keyName), value.as(valueName)).as[(K, W)](tupleEnc[K, W]), None, reverse)

  /** The value sort a merge asks of this side, on `value`, in direction
    * `descending`. Empty when this layout runs that way but a value
    * projection dropped its sort: the rows keep the layout's order. */
  private def valueOrder(value: Column, descending: Boolean): Seq[Column] =
    if (descending == reverse) sortBy.map(s => direction(s(value), descending)).toSeq
    else Seq(direction(sortBy.fold(value)(_(value)), descending))

  /** Grouped by the key column under fixed column names: Catalyst's cogroup
    * needs equal key schemas on both sides, and the renaming projection
    * keeps the layout's partitioning and order visible. */
  private def grouped: KeyValueGroupedDataset[Option[K], (K, V)] =
    dataset.toDF(KeyColumn, ValueColumn).as[(K, V)](dataset.encoder)
      .groupBy(col(KeyColumn))
      .as[Option[K], (K, V)](GroupSortBridge.optionEncoder(implicitly[Encoder[K]]), dataset.encoder)

  /** Both layouts cogrouped by key; the other side's runs arrive in
    * direction `otherDescending`. */
  private def cogroup[W, X](other: GroupSortedDataset[K, W], otherDescending: Boolean)(
      f: (Iterator[V], Iterator[W]) => IterableOnce[X])(enc: Encoder[(K, X)]): Dataset[(K, X)] = {
    val value = col(ValueColumn)
    grouped.cogroupSorted(other.grouped)(valueOrder(value, reverse): _*)(
        other.valueOrder(value, otherDescending): _*) { (key, vs, ws) =>
      val k = key.getOrElse(null.asInstanceOf[K])
      f(vs.map(_._2), ws.map(_._2)).iterator.map(x => (k, x))
    }(enc)
  }
}

object GroupSortedDataset {
  private[sorted] def tupleEnc[A: Encoder, B: Encoder]: Encoder[(A, B)] =
    Encoders.tuple(implicitly[Encoder[A]], implicitly[Encoder[B]])

  /** Column names the merges cogroup under. */
  private val KeyColumn = "key"
  private val ValueColumn = "value"

  private def direction(sort: Column, descending: Boolean): Column = if (descending) sort.desc else sort.asc

  /**
   * Establish the group-sorted layout: `partition` places rows by the first
   * column (by hash or by range), then rows are sorted within partitions by
   * (key, sortBy(lastColumn)). The key column is first put in the canonical
   * form of `K` (see `GroupSortBridge.conformKey`), so any two layouts of the
   * same key type can be merged.
   */
  private[sorted] def apply[K: Encoder, V](dataset: Dataset[(K, V)], reverse: Boolean, sortBy: Column => Column)(
      partition: (Dataset[(K, V)], Column) => Dataset[(K, V)]): GroupSortedDataset[K, V] = {
    val keyed = GroupSortBridge.conformKey(dataset)
    val key = col(keyed.columns.head)
    val valueSort = direction(sortBy(col(keyed.columns.last)), reverse)
    new GroupSortedDataset(partition(keyed, key).sortWithinPartitions(key, valueSort), Some(sortBy), reverse)
  }

  /**
   * Clone a fold/scan zero once per key via the executor's configured Spark
   * serializer, so mutable zero values (builders, buffers) are safe to reuse —
   * same guarantee the reference provides (`package.scala:175-182`). Falls back
   * to java serialization when no SparkEnv exists (pure unit tests).
   */
  private[graft] def zeroFactory[W: ClassTag](zero: W): () => W = {
    val env = SparkEnv.get
    if (env != null) {
      val buf = env.serializer.newInstance().serialize(zero)
      val bytes = new Array[Byte](buf.limit)
      buf.get(bytes)
      () => SparkEnv.get.serializer.newInstance().deserialize[W](ByteBuffer.wrap(bytes))
    } else {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(zero)
      oos.close()
      val bytes = bos.toByteArray
      () => new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes)).readObject().asInstanceOf[W]
    }
  }
}
