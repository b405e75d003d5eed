package graft.sorted

import org.apache.spark.sql.{Column, Dataset, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

/**
 * Implicit enrichment of `Dataset[(K, V)]` — the rebuild of the reference's
 * `PairRDDFunctions` / `sql/PairDatasetFunctions` entry points (all `groupSort`
 * overloads, reference `PairRDDFunctions.scala:14-48`), expressed Dataset-first.
 *
 * `import graft.sorted.syntax._` to get `.groupSort(...)` and the combiner /
 * semigroup aggregation overloads on any 2-column tuple Dataset.
 */
object syntax {

  implicit class PairDatasetOps[K, V](val self: Dataset[(K, V)]) extends AnyVal {

    /**
     * Establish the group-sorted layout (reference overloads #1-#8, #18).
     *
     * @param numPartitions <= 0 defers to `spark.sql.shuffle.partitions` + AQE
     * @param reverse       descending per-key value order
     * @param sortBy        value sort expression, given the value column
     */
    def groupSort(numPartitions: Int = -1, reverse: Boolean = false, sortBy: Column => Column = identity)(implicit ek: Encoder[K]): GroupSortedDataset[K, V] =
      GroupSortedDataset(self, reverse, sortBy) { (ds, key) =>
        if (numPartitions > 0) ds.repartition(numPartitions, key) else ds.repartition(key)
      }

    /**
     * Range-partitioned groupSort — the rebuild of the reference's custom-
     * `Partitioner` surface (`PairRDDFunctions.scala:14` with e.g. a
     * `RangePartitioner`). Same per-key invariant as [[groupSort]], but keys
     * are RANGE-partitioned: partition i holds a contiguous key interval, so
     * the concatenation of partitions in index order is GLOBALLY key-sorted —
     * the layout for sorted sinks and range-pruned scans. Range bounds come
     * from `repartitionByRange`'s reservoir sample, so a range layout never
     * matches another layout's partitioning: a later `mergeJoin`/`mergeUnion`
     * re-shuffles by key hash.
     */
    def groupSortByRange(numPartitions: Int = -1, reverse: Boolean = false, sortBy: Column => Column = identity)(implicit ek: Encoder[K]): GroupSortedDataset[K, V] =
      GroupSortedDataset(self, reverse, sortBy) { (ds, key) =>
        if (numPartitions > 0) ds.repartitionByRange(numPartitions, key.asc) else ds.repartitionByRange(key.asc)
      }

    /** Co-layout with `other` (reference overload #8): the partition count of
      * `other`'s planned layout, so a merge of the two adds no exchange.
      * Reading the plan runs no job. */
    def groupSortWith[W](other: GroupSortedDataset[K, W])(implicit ek: Encoder[K]): GroupSortedDataset[K, V] =
      groupSort(other.toDS.queryExecution.sparkPlan.outputPartitioning.numPartitions)

    /**
     * Combiner-style aggregation (reference overloads #9-#11,
     * `GroupSorted.scala:137-146`): map-side partial combine + reduce-side
     * final combine, exactly what Catalyst plans for a typed Aggregator
     * (partial `ObjectHashAggregate` → final). Output values carry no order.
     */
    def groupSortCombine[C](createCombiner: V => C, mergeValue: (C, V) => C, mergeCombiners: (C, C) => C, numPartitions: Int = -1)(
        implicit ek: Encoder[K], ecOpt: Encoder[Option[C]], ec: Encoder[C], ekc: Encoder[(K, C)]): Dataset[(K, C)] = {
      val agg = new Aggregator[(K, V), Option[C], C] {
        def zero: Option[C] = None
        def reduce(b: Option[C], kv: (K, V)): Option[C] =
          Some(b.fold(createCombiner(kv._2))(mergeValue(_, kv._2)))
        def merge(b1: Option[C], b2: Option[C]): Option[C] = (b1, b2) match {
          case (Some(c1), Some(c2)) => Some(mergeCombiners(c1, c2))
          case _ => b1.orElse(b2)
        }
        def finish(b: Option[C]): C = b.get
        def bufferEncoder: Encoder[Option[C]] = ecOpt
        def outputEncoder: Encoder[C] = ec
      }
      val grouped = self.groupByKey(_._1).agg(agg.toColumn)
      if (numPartitions > 0) grouped.repartition(numPartitions, col(grouped.columns.head)) else grouped
    }

    /** Semigroup reduce (reference overloads #12-#14): `plus` as all three
      * combiner functions — Catalyst still gets map-side partial aggregation. */
    def groupSortReduce(plus: (V, V) => V, numPartitions: Int = -1)(
        implicit ek: Encoder[K], evOpt: Encoder[Option[V]], ev: Encoder[V], ekv: Encoder[(K, V)]): Dataset[(K, V)] =
      groupSortCombine[V](identity, plus, plus, numPartitions)
  }
}
