package graft.sorted.api.java

import java.util.{Comparator, Iterator => JIterator}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.api.java.function.{FlatMapFunction => JFlatMapFunction, Function => JFunction, Function0 => JFunction0, Function2 => JFunction2}
import org.apache.spark.sql.{Dataset, Encoder}

import graft.sorted.GroupSortedDataset
import graft.sorted.syntax._

/**
 * Java-friendly facade over [[graft.sorted.GroupSortedDataset]] — the rebuild
 * of the reference's Java API (tresata/spark-sorted
 * `api/java/GroupSorted.scala:33-87`), re-expressed over `Dataset` instead of
 * `JavaPairRDD`. No new semantics: every method delegates to the Scala class,
 * adapting Spark's `org.apache.spark.api.java.function.*` SAM interfaces and
 * `java.util.Comparator`/`java.util.Iterator` at the boundary (the same
 * adaptation the reference does at `api/java/GroupSorted.scala:15-23`).
 *
 * Java has no implicits, so `Encoder`s are explicit trailing parameters —
 * the convention Spark's own Java-facing `Dataset.map(f, encoder)` uses. A
 * Java caller works with `Dataset<Tuple2<K, V>>` (from `Encoders.tuple`),
 * which IS the Scala `Dataset[(K, V)]`.
 *
 * Like the Scala surface (and unlike the reference, whose Java class IS a
 * `JavaPairRDD`), per-key terminal operators (`mapStreamByKey`, folds) return
 * a plain `Dataset`; layout-preserving projections return a new facade.
 */
object JavaGroupSortedDataset {

  /** Natural-order comparator for `Comparable` keys; throws
    * `NullPointerException` on null inputs (reference
    * `api/java/NaturalComparator.java:6-18` parity). */
  def naturalOrder[T](): Comparator[T] = NaturalComparatorInstance.asInstanceOf[Comparator[T]]

  private object NaturalComparatorInstance extends Comparator[Comparable[Any]] with Serializable {
    override def compare(left: Comparable[Any], right: Comparable[Any]): Int = {
      if (left == null || right == null) throw new NullPointerException("naturalOrder comparator forbids null keys")
      left.compareTo(right)
    }
  }

  /** Establish the group-sorted layout with the session's default partition
    * count (reference Java constructor overloads with `numPartitions = -1`). */
  def groupSort[K, V](ds: Dataset[(K, V)], keyEncoder: Encoder[K]): JavaGroupSortedDataset[K, V] =
    groupSort(ds, -1, reverse = false, keyEncoder)

  /** Establish the layout over `numPartitions` explicit partitions. */
  def groupSort[K, V](ds: Dataset[(K, V)], numPartitions: Int, keyEncoder: Encoder[K]): JavaGroupSortedDataset[K, V] =
    groupSort(ds, numPartitions, reverse = false, keyEncoder)

  /** Full overload: explicit partitions + descending per-key value order. */
  def groupSort[K, V](ds: Dataset[(K, V)], numPartitions: Int, reverse: Boolean, keyEncoder: Encoder[K]): JavaGroupSortedDataset[K, V] =
    new JavaGroupSortedDataset(ds.groupSort(numPartitions, reverse)(keyEncoder), keyEncoder)

  /** Range-partitioned layout (see `syntax.groupSortByRange`): partitions
    * concatenate globally key-ordered. */
  def groupSortByRange[K, V](ds: Dataset[(K, V)], numPartitions: Int, reverse: Boolean, keyEncoder: Encoder[K]): JavaGroupSortedDataset[K, V] =
    new JavaGroupSortedDataset(ds.groupSortByRange(numPartitions, reverse)(keyEncoder), keyEncoder)

  private def toOrdering[T](cmp: Comparator[T]): Ordering[T] = Ordering.comparatorToOrdering(cmp)

  // Same fake-ClassTag idiom Spark's Java API (and the reference,
  // `api/java/GroupSorted.scala:21`) uses: the tag only feeds the zero-clone
  // serializer, which is tag-erased anyway.
  private def fakeClassTag[T]: ClassTag[T] = ClassTag.AnyRef.asInstanceOf[ClassTag[T]]
}

class JavaGroupSortedDataset[K, V] private (
    val underlying: GroupSortedDataset[K, V],
    keyEncoder: Encoder[K]) extends Serializable {
  import JavaGroupSortedDataset.{fakeClassTag, toOrdering}

  /** The laid-out `Dataset<Tuple2<K, V>>`. */
  def toDS(): Dataset[(K, V)] = underlying.toDS

  /** Value projection; the layout survives
    * (reference `api/java/GroupSorted.scala:58-61`). */
  def mapValues[W](f: JFunction[V, W], valueEncoder: Encoder[W]): JavaGroupSortedDataset[K, W] =
    new JavaGroupSortedDataset(underlying.mapValues(v => f.call(v))(valueEncoder), keyEncoder)

  /** 1-to-N value expansion (reference `api/java/GroupSorted.scala:53-56`). */
  def flatMapValues[W](f: JFlatMapFunction[V, W], valueEncoder: Encoder[W]): JavaGroupSortedDataset[K, W] =
    new JavaGroupSortedDataset(underlying.flatMapValues(v => f.call(v).asScala)(valueEncoder), keyEncoder)

  /** Key-aware value projection (reference `api/java/GroupSorted.scala:63-66`). */
  def mapKeyValuesToValues[W](f: JFunction[(K, V), W], valueEncoder: Encoder[W]): JavaGroupSortedDataset[K, W] =
    new JavaGroupSortedDataset(underlying.mapKeyValuesToValues(kv => f.call(kv))(valueEncoder), keyEncoder)

  /** Row filter; preserves grouping AND per-key value order. */
  def filter(f: JFunction[(K, V), java.lang.Boolean]): JavaGroupSortedDataset[K, V] =
    new JavaGroupSortedDataset(underlying.filter(kv => f.call(kv)), keyEncoder)

  /** Stream `f` over each key's values in the established order (reference
    * `api/java/GroupSorted.scala:68-71`). Empty per-key output skips the key. */
  def mapStreamByKey[W](f: JFunction[JIterator[V], JIterator[W]], valueEncoder: Encoder[W]): Dataset[(K, W)] =
    underlying.mapStreamByKey(it => f.call(it.asJava).asScala)(valueEncoder)

  /** Context arity: `ctx` builds one reusable per-partition context. */
  def mapStreamByKey[C, W](ctx: JFunction0[C], f: JFunction2[C, JIterator[V], JIterator[W]], valueEncoder: Encoder[W]): Dataset[(K, W)] =
    underlying.mapStreamByKey(() => ctx.call())((c, it) => f.call(c, it.asJava).asScala)(valueEncoder)

  /** Order-sensitive per-key left fold; the zero is serializer-cloned per key
    * so mutable accumulators are safe (reference `api/java/GroupSorted.scala:73-76`). */
  def foldLeftByKey[W](zero: W, f: JFunction2[W, V, W], valueEncoder: Encoder[W]): Dataset[(K, W)] =
    underlying.foldLeftByKey(zero)((w, v) => f.call(w, v))(fakeClassTag[W], valueEncoder)

  /** Order-sensitive per-key left reduce (reference `api/java/GroupSorted.scala:78-81`). */
  def reduceLeftByKey[W >: V](f: JFunction2[W, V, W], valueEncoder: Encoder[W]): Dataset[(K, W)] =
    underlying.reduceLeftByKey[W]((w, v) => f.call(w, v))(valueEncoder)

  /** Per-key prefix scan, N+1 rows per key including the zero row
    * (reference `api/java/GroupSorted.scala:83-86`). */
  def scanLeftByKey[W](zero: W, f: JFunction2[W, V, W], valueEncoder: Encoder[W]): Dataset[(K, W)] =
    underlying.scanLeftByKey(zero)((w, v) => f.call(w, v))(fakeClassTag[W], valueEncoder)

  /**
   * Generalized sort-merge cogroup: `f` sees both sides' value iterators per
   * key (either may be empty) and streams the joined output. The typed
   * inner/outer variants below are the same kernels with the tuple shape
   * fixed — use them when the join kind is known.
   */
  def mergeJoin[W, U](
      other: JavaGroupSortedDataset[K, W],
      f: JFunction2[JIterator[V], JIterator[W], JIterator[U]],
      resultEncoder: Encoder[U]): Dataset[(K, U)] =
    underlying.mergeJoin(other.underlying)((vs, ws) => f.call(vs.asJava, ws.asJava).asScala)(resultEncoder)

  /**
   * Inner merge join: only keys present on both sides, per-key cross
   * product in the established value orders — the Scala surface's
   * `mergeJoinInner`, Java-shaped (`Encoders.tuple(vEnc, wEnc)` builds the
   * result encoder). Matches the Scala surface at
   * `GroupSortedDataset.mergeJoinInner`.
   */
  def mergeJoinInner[W](
      other: JavaGroupSortedDataset[K, W],
      resultEncoder: Encoder[(V, W)]): Dataset[(K, (V, W))] =
    mergeJoinInner(other, false, resultEncoder)

  /** `bufferLeft` overload — the reference exposes the buffered-side swap
    * knob on EVERY join kind (`GroupSorted.scala:81`), so the Java facade
    * does too (a Java caller joining a skewed left side against a small
    * right per key flips which side is materialized). */
  def mergeJoinInner[W](
      other: JavaGroupSortedDataset[K, W],
      bufferLeft: Boolean,
      resultEncoder: Encoder[(V, W)]): Dataset[(K, (V, W))] =
    underlying.mergeJoinInner(other.underlying, bufferLeft)(resultEncoder)

  /**
   * Left-outer merge join. Java has no `scala.Option`, so the missing side
   * follows the pre-`Optional` Java convention: the W slot is NULL for
   * unmatched left values (pass a boxed/reference `wEncoder` — Spark tuple
   * encoders carry null reference fields; a Scala caller wanting `Option`
   * uses the Scala surface). Same dedicated kernel as the Scala
   * `mergeJoinLeftOuter` — right-only keys emit nothing and never allocate
   * discarded tuples.
   */
  def mergeJoinLeftOuter[W](
      other: JavaGroupSortedDataset[K, W],
      vEncoder: Encoder[V],
      wEncoder: Encoder[W]): Dataset[(K, (V, W))] =
    mergeJoinLeftOuter(other, false, vEncoder, wEncoder)

  /** `bufferLeft` overload (reference parity — see [[mergeJoinInner]]'s
    * 3-arg form): the dedicated kernel takes the swap flag directly. */
  def mergeJoinLeftOuter[W](
      other: JavaGroupSortedDataset[K, W],
      bufferLeft: Boolean,
      vEncoder: Encoder[V],
      wEncoder: Encoder[W]): Dataset[(K, (V, W))] =
    underlying.mergeJoin(other.underlying) { (vs, ws) =>
      graft.sorted.iterators.leftOuterProduct[V, W](bufferLeft)(vs, ws).iterator
        .map { case (v, wo) => (v, wo.getOrElse(null.asInstanceOf[W])) }
    }(org.apache.spark.sql.Encoders.tuple(vEncoder, wEncoder))

  /** Right-outer merge join (mirror of [[mergeJoinLeftOuter]]: NULL V slot
    * for unmatched right values). */
  def mergeJoinRightOuter[W](
      other: JavaGroupSortedDataset[K, W],
      vEncoder: Encoder[V],
      wEncoder: Encoder[W]): Dataset[(K, (V, W))] =
    mergeJoinRightOuter(other, false, vEncoder, wEncoder)

  /** `bufferLeft` overload (reference parity — see [[mergeJoinInner]]'s
    * 3-arg form). */
  def mergeJoinRightOuter[W](
      other: JavaGroupSortedDataset[K, W],
      bufferLeft: Boolean,
      vEncoder: Encoder[V],
      wEncoder: Encoder[W]): Dataset[(K, (V, W))] =
    underlying.mergeJoin(other.underlying) { (vs, ws) =>
      graft.sorted.iterators.rightOuterProduct[V, W](bufferLeft)(vs, ws).iterator
        .map { case (vo, w) => (vo.getOrElse(null.asInstanceOf[V]), w) }
    }(org.apache.spark.sql.Encoders.tuple(vEncoder, wEncoder))

  /**
   * Full-outer merge join: every key from either side, NULL in the missing
   * slot (never both). `bufferLeft` flips which side is buffered per key —
   * the reference's `bufferLeft` swap knob, preserved.
   */
  def mergeJoinOuter[W](
      other: JavaGroupSortedDataset[K, W],
      bufferLeft: Boolean,
      vEncoder: Encoder[V],
      wEncoder: Encoder[W]): Dataset[(K, (V, W))] = {
    val kernel =
      if (bufferLeft) graft.sorted.iterators.flipped(graft.sorted.iterators.outerProduct[W, V])
      else graft.sorted.iterators.outerProduct[V, W]
    underlying.mergeJoin(other.underlying) { (vs, ws) =>
      kernel(vs, ws).iterator.map { case (vo, wo) =>
        (vo.getOrElse(null.asInstanceOf[V]), wo.getOrElse(null.asInstanceOf[W]))
      }
    }(org.apache.spark.sql.Encoders.tuple(vEncoder, wEncoder))
  }

  /** Order-preserving multiset union under this layout's value direction;
    * `valueComparator` is the natural value order either way. */
  def mergeUnion(
      other: JavaGroupSortedDataset[K, V],
      valueComparator: Comparator[V]): JavaGroupSortedDataset[K, V] =
    new JavaGroupSortedDataset(
      underlying.mergeUnion(other.underlying)(toOrdering(valueComparator)),
      keyEncoder)
}
