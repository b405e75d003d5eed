package graft.sorted

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, lit, pmod, struct, when}
import org.scalatest.funspec.AnyFunSpec

import graft.SparkSuite
import graft.sorted.syntax._

case class TimeValue(time: Int, value: Double)

/** Golden + property tests for the Dataset surface, mirroring the reference's
  * `GroupSortedSpec` / `sql/GroupSortedDatasetSpec` behavioral contract. */
class GroupSortedDatasetSpec extends AnyFunSpec with SparkSuite {
  import spark.implicits._

  private val fiveRows = Seq(("a", 1), ("b", 10), ("a", 3), ("b", 1), ("c", 5))

  /** (Exchange count, Sort count) over the whole executed plan. */
  private def planShape(ds: Dataset[_]): (Int, Int) = {
    val plan = ds.queryExecution.executedPlan.toString
    ("Exchange".r.findAllIn(plan).length, "Sort ".r.findAllIn(plan).length)
  }

  describe("groupSort") {
    it("establishes the layout invariant (with value sort)") {
      val gs = fiveRows.toDS().groupSort(2)
      assertGroupSorted(gs.toDS, Some(Ordering.Int))
      assertMultiset(gs.toDS, fiveRows)
    }

    it("supports reverse value order") {
      val gs = fiveRows.toDS().groupSort(2, reverse = true)
      assertGroupSorted(gs.toDS, Some(Ordering.Int.reverse))
    }

    it("supports a sortBy expression on nested values") {
      val ds = Seq(("a", (2, "x")), ("a", (1, "y")), ("b", (3, "z"))).toDS()
      val gs = ds.groupSort(2, sortBy = _.getField("_1"))
      assertGroupSorted(gs.toDS, Some(Ordering.by[(Int, String), Int](_._1)))
    }

    it("supports tuple keys with nested map values (reference parity)") {
      val ds = Seq(
        ((1, "x"), Map("b" -> 2)),
        ((1, "x"), Map("a" -> 1)),
        ((2, "y"), Map("c" -> 3))).toDS()
      val got = ds
        .groupSort(2, sortBy = v => org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.map_keys(v), 1))
        .mapStreamByKey(vs => Iterator.single(vs.flatMap(_.keys).mkString(",")))
        .collect().toSet
      assert(got === Set(((1, "x"), "a,b"), ((2, "y"), "c")))
    }

    it("handles an empty dataset") {
      val gs = Seq.empty[(String, Int)].toDS().groupSort(2)
      assert(gs.toDS.collect().isEmpty)
    }

    it("defers to default shuffle partitions when numPartitions <= 0") {
      val gs = fiveRows.toDS().groupSort()
      assertMultiset(gs.toDS, fiveRows)
    }
  }

  describe("groupSortByRange") {
    it("establishes the layout invariant AND global key order across partitions") {
      val rows = (1 to 100).map(i => (i % 17, i))
      val gs = rows.toDS().groupSortByRange(4)
      assertGroupSorted(gs.toDS, Some(Ordering.Int))
      assertMultiset(gs.toDS, rows)
      // range partitioning: partitions concatenate globally key-ordered
      val perPartitionKeys: Array[Seq[Int]] = gs.toDS.rdd
        .mapPartitions(it => Iterator.single(it.map(_._1).toSeq), preservesPartitioning = true)
        .collect()
      val nonEmpty = perPartitionKeys.filter(_.nonEmpty)
      nonEmpty.sliding(2).foreach {
        case Array(a, b) => assert(a.max <= b.min, s"partitions out of key range order: $a vs $b")
        case _ => ()
      }
      assert(nonEmpty.length > 1, "expected keys spread over multiple range partitions")
    }

    it("supports reverse value order and per-key streaming ops") {
      val got = fiveRows.toDS().groupSortByRange(2, reverse = true)
        .mapStreamByKey(vs => vs.take(1))
      assertMultiset(got, Seq(("a", 3), ("b", 10), ("c", 5)))
    }

    it("carries no co-partition proof: joins from a range layout take the cogroup path") {
      val l = Seq((1L, "x"), (2L, "y")).toDS.groupSortByRange(2)
      val r = Seq((1L, 10L), (3L, 30L)).toDS.groupSort(2)
      val got = l.mergeJoinOuter(r)
      // a range layout never matches a hash layout's partitioning: Catalyst
      // adds one exchange and one sort above the two layouts' own
      assert(planShape(got) === ((3, 3)))
      assert(got.queryExecution.executedPlan.toString.contains("CoGroup"))
      assertMultiset(got, Seq(
        (1L, (Some("x"), Some(10L))), (2L, (Some("y"), None)), (3L, (None, Some(30L)))))
    }
  }

  describe("mapStreamByKey") {
    it("take(1) of descending values = max per key") {
      val got = fiveRows.toDS().groupSort(2, reverse = true)
        .mapStreamByKey(vs => vs.take(1))
      assertMultiset(got, Seq(("a", 3), ("b", 10), ("c", 5)))
    }

    it("keys with empty output are skipped, later keys still emit (issue #5)") {
      val got = fiveRows.toDS().groupSort(2)
        .mapStreamByKey(vs => vs.filter(_ > 5))
      assertMultiset(got, Seq(("b", 10)))
    }

    it("f that does not exhaust its iterator leaves later keys intact") {
      val got = fiveRows.toDS().groupSort(2)
        .mapStreamByKey(vs => Iterator.single(vs.next()))
      assertMultiset(got, Seq(("a", 1), ("b", 1), ("c", 5)))
    }

    it("per-partition mutable context is reused across keys") {
      val got = fiveRows.toDS().groupSort(1)
        .mapStreamByKey(() => new scala.collection.mutable.ArrayBuffer[Int]) { (buf, vs) =>
          vs.foreach(buf += _)
          Iterator.single(buf.length) // cumulative across keys in the partition
        }
      assert(got.collect().map(_._2).max === 5)
    }
  }

  describe("foldLeftByKey") {
    it("ordered string fold") {
      val ds = Seq(("c", "x"), ("a", "b"), ("a", "c"), ("b", "e"), ("b", "d")).toDS()
      val got = ds.groupSort(2).foldLeftByKey("")(_ + _)
      assertMultiset(got, Seq(("a", "bc"), ("b", "de"), ("c", "x")))
    }

    it("EMA time-series fold (reference flagship golden case)") {
      val ds = Seq(
        (5, TimeValue(2, 0.5)), (1, TimeValue(1, 1.2)), (5, TimeValue(1, 1.0)),
        (1, TimeValue(2, 2.0)), (1, TimeValue(3, 3.0))).toDS()
      val got = ds.groupSort(2, sortBy = _.getField("time"))
        .foldLeftByKey(0.0)((acc, tv) => 0.8 * acc + 0.2 * tv.value)
        .collect().toMap
      assert(math.abs(got(1) - 1.0736) < 1e-9)
      assert(math.abs(got(5) - 0.26) < 1e-9)
    }

    it("mutable zero values are cloned per key") {
      val ds = Seq(("a", 1), ("a", 2), ("b", 3)).toDS()
      // The zero is an Array mutated in place; without per-key cloning, key "b"
      // would observe key "a"'s accumulation.
      val got = ds.groupSort(1)
        .foldLeftByKey(Array(0)) { (acc, v) => acc(0) += v; acc }
        .map { case (k, acc) => (k, acc(0)) }
      assertMultiset(got, Seq(("a", 3), ("b", 3)))
    }
  }

  describe("reduceLeftByKey / scanLeftByKey") {
    it("reduceLeft in value order") {
      val ds = Seq(("c", "x"), ("a", "b"), ("a", "c"), ("b", "e"), ("b", "d")).toDS()
      val got = ds.groupSort(2).reduceLeftByKey(_ + _)
      assertMultiset(got, Seq(("a", "bc"), ("b", "de"), ("c", "x")))
    }

    it("scanLeft emits N+1 rows per key including the zero element") {
      val ds = Seq(("a", 1), ("a", 2), ("b", 3)).toDS()
      val got = ds.groupSort(2).scanLeftByKey(0)(_ + _)
      assertMultiset(got, Seq(("a", 0), ("a", 1), ("a", 3), ("b", 0), ("b", 3)))
    }
  }

  describe("narrow ops preserve the layout") {
    it("mapValues then mapStreamByKey works without re-sorting") {
      val got = fiveRows.toDS().groupSort(2)
        .mapValues(_ * 2)
        .mapStreamByKey(vs => Iterator.single(vs.toList.last))
      assertMultiset(got, Seq(("a", 6), ("b", 20), ("c", 10)))
    }

    it("flatMapValues expands values in place") {
      val got = Seq(("a", 2), ("b", 1)).toDS().groupSort(2)
        .flatMapValues(v => Seq.fill(v)(v)).toDS
      assertMultiset(got, Seq(("a", 2), ("a", 2), ("b", 1)))
    }

    it("mapKeyValuesToValues can read the key") {
      val got = Seq(("a", 1), ("b", 2)).toDS().groupSort(2)
        .mapKeyValuesToValues { case (k, v) => s"$k$v" }.toDS
      assertMultiset(got, Seq(("a", "a1"), ("b", "b2")))
    }

    it("filter preserves grouping AND value order") {
      val gs = fiveRows.toDS().groupSort(2).filter(_._2 != 3)
      assertGroupSorted(gs.toDS, Some(Ordering.Int))
      assertMultiset(gs.toDS, fiveRows.filter(_._2 != 3))
    }
  }

  describe("mergeJoin family") {
    val left = Seq(("a", 1), ("a", 2), ("c", 3)).toDS()
    val right = Seq(("a", 10), ("b", 20), ("c", 30), ("c", 31)).toDS()

    it("mergeJoinInner") {
      val got = left.groupSort(2).mergeJoinInner(right.groupSort(2))
      assertMultiset(got, Seq(
        ("a", (1, 10)), ("a", (2, 10)), ("c", (3, 30)), ("c", (3, 31))))
    }

    it("mergeJoinOuter emits None for missing sides") {
      val got = left.groupSort(2).mergeJoinOuter(right.groupSort(2))
      assertMultiset(got, Seq(
        ("a", (Some(1), Some(10))), ("a", (Some(2), Some(10))),
        ("b", (None, Some(20))),
        ("c", (Some(3), Some(30))), ("c", (Some(3), Some(31)))))
    }

    it("mergeJoinLeftOuter / RightOuter") {
      val l = left.groupSort(2).mergeJoinLeftOuter(right.groupSort(2))
      assertMultiset(l, Seq(
        ("a", (1, Some(10))), ("a", (2, Some(10))),
        ("c", (3, Some(30))), ("c", (3, Some(31)))))
      val r = left.groupSort(2).mergeJoinRightOuter(right.groupSort(2))
      assertMultiset(r, Seq(
        ("a", (Some(1), 10)), ("a", (Some(2), 10)),
        ("b", (None, 20)),
        ("c", (Some(3), 30)), ("c", (Some(3), 31))))
    }

    it("bufferLeft flips buffering but not results") {
      val a = left.groupSort(2).mergeJoinInner(right.groupSort(2))
      val b = left.groupSort(2).mergeJoinInner(right.groupSort(2), bufferLeft = true)
      assert(a.collect().sortBy(_.toString).toSeq === b.collect().sortBy(_.toString).toSeq)
    }

    it("custom merge function sees both (possibly empty) sides") {
      val got = left.groupSort(2).mergeJoin(right.groupSort(2)) { (vs, ws) =>
        Iterator.single(vs.size * 100 + ws.size)
      }
      assertMultiset(got, Seq(("a", 201), ("b", 1), ("c", 102)))
    }
  }

  describe("filter keeps the established value order through a mergeJoin") {
    it("custom merge f sees DESCENDING values after groupSort(reverse).filter") {
      val l = Seq(("k", 1), ("k", 3), ("k", 2), ("k", 9)).toDS().groupSort(2, reverse = true)
        .filter(_._2 != 9) // narrow op between layout and join
      val r = Seq(("k", 0L)).toDS().groupSort(2)
      val got = l.mergeJoin(r) { (vs, _) => Iterator.single(vs.mkString(",")) }
        .collect().toMap
      assert(got("k") === "3,2,1") // pre-fix: valueSort dropped -> "1,2,3"
    }
  }

  describe("merge join planning") {
    it("co-partitioned sides (equal EXPLICIT partition counts) join NARROW: 0 exchanges") {
      val l = Seq((1L, "a"), (2L, "b")).toDS.groupSort(2)
      val r = Seq((1L, 10L), (2L, 20L)).toDS.groupSort(2)
      val joined = l.mergeJoinInner(r)
      // the whole plan holds the two layouts' exchanges and sorts, the join none of its own
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, Seq((1L, ("a", 10L)), (2L, ("b", 20L))))
    }

    it("implicit partition counts: also one exchange and one sort per layout") {
      val joined = Seq((1L, "a")).toDS.groupSort().mergeJoinInner(Seq((1L, 10L)).toDS.groupSort())
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, Seq((1L, ("a", 10L))))
    }

    it("mismatched partition counts: Catalyst re-shuffles and re-sorts ONE side") {
      val l = Seq((1L, "a"), (2L, "b")).toDS.groupSort(2)
      val r = Seq((1L, 10L), (2L, 20L)).toDS.groupSort(3)
      assert(planShape(l.mergeJoinInner(r)) === ((3, 3)))
    }

    it("keys without an Ordering still join co-partitioned (cogroup fallback, 2 exchanges)") {
      val l = Seq((TimeValue(1, 1.0), "a"), (TimeValue(2, 2.0), "b")).toDS.groupSort(2)
      val r = Seq((TimeValue(1, 1.0), 9L)).toDS.groupSort(2)
      val joined = l.mergeJoinInner(r)
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, Seq((TimeValue(1, 1.0), ("a", 9L))))
    }

    it("Double keys: NaN joins as one key and -0.0 joins 0.0, whatever the partition counts") {
      val l = Seq((Double.NaN, 1), (0.0, 2), (1.0, 3), (Double.NaN, 4))
      val r = Seq((Double.NaN, 10), (-0.0, 20), (2.0, 30))
      // compared as strings: a tuple holding NaN never equals itself
      val want = Seq((0.0, (2, 20)), (Double.NaN, (1, 10)), (Double.NaN, (4, 10))).map(_.toString).sorted
      for (n <- Seq(2, 3)) {
        val got = l.toDS().groupSort(2).mergeJoinInner(r.toDS().groupSort(n)).collect().map(_.toString).sorted
        assert(got.toSeq === want, s"groupSort(2) x groupSort($n)")
      }
    }

    it("narrow join agrees with the cogroup plan on outer/inner semantics") {
      val l = Seq(("a", 1), ("a", 2), ("b", 3)).toDS().groupSort(4)
      val rNarrow = Seq(("a", 10L), ("c", 30L)).toDS().groupSort(4)
      val rWide = Seq(("a", 10L), ("c", 30L)).toDS().groupSort(5)
      val narrow = l.mergeJoinOuter(rNarrow).collect().toSet
      val wide = l.mergeJoinOuter(rWide).collect().toSet
      assert(narrow === wide)
      assert(narrow === Set(
        ("a", (Some(1), Some(10L))), ("a", (Some(2), Some(10L))),
        ("b", (Some(3), None)), ("c", (None, Some(30L)))))
    }
  }

  describe("co-partition proof survives value-projection ops") {
    // the key column passes through each projection untouched, so Catalyst
    // still sees the layout: the plans below hold the two layouts' own
    // exchange and sort, and the join none of its own
    it("groupSort(8).mapValues(f).mergeJoin(other.groupSort(8)) plans 0 exchanges") {
      val l = Seq((1L, 1), (2L, 2)).toDS.groupSort(8).mapValues(_ * 10)
      val r = Seq((1L, "x"), (3L, "z")).toDS.groupSort(8)
      val joined = l.mergeJoinInner(r)
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, Seq((1L, (10, "x"))))
    }

    it("filter keeps the layout too: one exchange and one sort per layout") {
      val l = Seq((1L, 1), (1L, 5), (2L, 2)).toDS.groupSort(4).filter(_._2 > 1)
      val r = Seq((1L, "x"), (2L, "y")).toDS.groupSort(4)
      val joined = l.mergeJoinInner(r)
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, Seq((1L, (5, "x")), (2L, (2, "y"))))
    }

    it("flatMapValues and mapKeyValuesToValues also keep the proof (0-exchange joins)") {
      val base = Seq((1L, 2), (2L, 1)).toDS.groupSort(4)
      val r = Seq((1L, "x"), (2L, "y")).toDS.groupSort(4)
      // a generator loses the key order, not the partitioning: one extra sort
      val viaFlat = base.flatMapValues(v => Seq.fill(v)(v)).mergeJoinInner(r)
      assert(planShape(viaFlat)._1 === 2)
      assertMultiset(viaFlat, Seq((1L, (2, "x")), (1L, (2, "x")), (2L, (1, "y"))))
      val viaKv = base.mapKeyValuesToValues { case (k, v) => k + v }.mergeJoinInner(r)
      assert(planShape(viaKv) === ((2, 2)))
      assertMultiset(viaKv, Seq((1L, (3L, "x")), (2L, (3L, "y"))))
    }

    it("mapValues between a DESCENDING layout and mergeUnion keeps the layout") {
      val a = Seq(("k", 1), ("k", 3)).toDS().groupSort(2, reverse = true).mapValues(_ * 2)
      val b = Seq(("k", 4)).toDS().groupSort(2, reverse = true)
      val merged = a.mergeUnion(b)
      assert(planShape(merged.toDS) === ((2, 2)))
      val vs = merged.mapStreamByKey(it => Iterator.single(it.mkString(","))).collect().toMap
      assert(vs("k") === "6,4,2")
    }

    it("groupSortWith adopts the other side's EXPLICIT count so the join is narrow") {
      // an implicit count is adopted as well, read from the planned layout
      for (n <- Seq(8, -1)) {
        val r = Seq((1L, 10L), (2L, 20L)).toDS.groupSort(n)
        val l = Seq((1L, "a"), (2L, "b")).toDS.groupSortWith(r)
        val joined = l.mergeJoinInner(r)
        assert(planShape(joined) === ((2, 2)), s"groupSort($n)")
        assertMultiset(joined, Seq((1L, ("a", 10L)), (2L, ("b", 20L))))
      }
    }
  }

  describe("key schema") {
    // pmod is nullable and range ids are not, so the two sides' key columns
    // differ in nullability until the layout gives both the encoder's form
    def nullableKeys = spark.range(6).select(pmod(col("id"), lit(3L)).as("k"), col("id").as("v")).as[(Long, Long)]
    def plainKeys = spark.range(3).select(col("id").as("k"), (col("id") * 10).as("v")).as[(Long, Long)]
    val nullableRows = (0L until 6L).map(i => (i % 3, i))
    val plainRows = (0L until 3L).map(i => (i, i * 10))

    // nested fields from pmod are nullable; TimeValue's are primitives
    def tv(c: org.apache.spark.sql.Column) = struct(c.cast("int").as("time"), c.cast("double").as("value"))
    def nullableTv = spark.range(6).select(tv(pmod(col("id"), lit(3L))).as("k"), col("id").as("v"))
      .as[(TimeValue, Long)]
    def plainTv = spark.range(3).select(tv(col("id")).as("k"), (col("id") * 10).as("v")).as[(TimeValue, Long)]
    def asTv(rows: Seq[(Long, Long)]) = rows.map { case (k, v) => (TimeValue(k.toInt, k.toDouble), v) }

    it("primitive keys: a nullable-key side joins and unions with a non-nullable one") {
      val joined = nullableKeys.groupSort(2).mergeJoinInner(plainKeys.groupSort(2))
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, nullableRows.map { case (k, v) => (k, (v, k * 10)) })
      val union = nullableKeys.groupSort(2).mergeUnion(plainKeys.groupSort(2))
      assert(planShape(union.toDS) === ((2, 2)))
      assertMultiset(union.toDS, nullableRows ++ plainRows)
    }

    it("struct keys: a nullable-key side joins and unions with a non-nullable one") {
      val joined = nullableTv.groupSort(2).mergeJoinInner(plainTv.groupSort(2))
      assert(planShape(joined) === ((2, 2)))
      assertMultiset(joined, asTv(nullableRows).map { case (k, v) => (k, (v, k.time * 10L)) })
      val union = nullableTv.groupSort(2).mergeUnion(asTv(plainRows).toDS.groupSort(2))
      assertMultiset(union.toDS, asTv(nullableRows ++ plainRows))
    }

    it("a mergeUnion output joins a fresh layout, for primitive and struct keys") {
      val union = nullableKeys.groupSort(2).mergeUnion(plainKeys.groupSort(2))
      assertMultiset(union.mergeJoinInner(plainKeys.groupSort(2)),
        (nullableRows ++ plainRows).map { case (k, v) => (k, (v, k * 10)) })
      val tvUnion = nullableTv.groupSort(2).mergeUnion(plainTv.groupSort(2))
      assertMultiset(tvUnion.mergeJoinInner(plainTv.groupSort(2)),
        asTv(nullableRows ++ plainRows).map { case (k, v) => (k, (v, k.time * 10L)) })
    }

    it("a null under a primitive key type fails loudly instead of reading as 0") {
      val withNull = spark.range(3)
        .select(when(col("id") === 0L, lit(null)).otherwise(col("id")).as("k"), col("id").as("v"))
        .as[(Long, Long)]
      val e = intercept[RuntimeException](withNull.groupSort(2).mergeJoinInner(plainKeys.groupSort(2)).collect())
      assert(e.getMessage.contains("key column `k` of a group-sorted layout"), e.getMessage)
    }
  }

  describe("building a merge") {
    it("starts no Spark job: the plan is built, nothing runs until an action") {
      val sc = spark.sparkContext
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      def building(group: String)(build: => Any): Unit = {
        sc.setJobGroup(group, group)
        try build finally sc.clearJobGroup()
      }
      sc.addSparkListener(listener)
      try {
        val l = Seq((1L, "a"), (2L, "b")).toDS.groupSort(4)
        val r = Seq((1L, 10L)).toDS.groupSort(4)
        building("mergeJoinInner")(l.mergeJoinInner(r))
        building("mergeUnion")(l.mergeUnion(Seq((3L, "c")).toDS.groupSort(4)))
        building("groupSortWith")(Seq((1L, 1)).toDS.groupSortWith(Seq((1L, 2)).toDS.groupSort()))
        // listener events arrive in order: once the marker job is seen, so
        // is every job started before it
        building("marker")(sc.parallelize(Seq(1), 1).count())
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
        assert(groups.contains("marker"))
        val started = groups.asScala.groupBy(identity).view.mapValues(_.size).toMap
        assert(Seq("mergeJoinInner", "mergeUnion", "groupSortWith").map(g => g -> started.getOrElse(g, 0)) ===
          Seq("mergeJoinInner" -> 0, "mergeUnion" -> 0, "groupSortWith" -> 0))
      } finally sc.removeSparkListener(listener)
    }
  }

  describe("mergeUnion") {
    it("merges two group-sorted datasets preserving the layout") {
      val a = Seq(("a", 1), ("b", 5), ("a", 3)).toDS().groupSort(2)
      val b = Seq(("a", 2), ("c", 7)).toDS().groupSort(2)
      val got = a.mergeUnion(b)
      assertGroupSorted(got.toDS, Some(Ordering.Int))
      assertMultiset(got.toDS, Seq(("a", 1), ("a", 2), ("a", 3), ("b", 5), ("c", 7)))
    }

    it("co-partitioned union is NARROW: no exchange beyond the two layouts'") {
      val a = Seq(("a", 1), ("b", 5)).toDS().groupSort(2)
      val b = Seq(("a", 2)).toDS().groupSort(2)
      assert(planShape(a.mergeUnion(b).toDS) === ((2, 2)))
    }

    it("merges two DESCENDING layouts through the narrow path under the natural ordering") {
      // reverse = true layouts carry their direction: the caller passes the
      // NATURAL Ordering[V] and the merge flips it internally (reference
      // GroupSorted.scala:100-103 parity; this previously assert-failed)
      val a = Seq(("k", 1), ("k", 3), ("m", 2)).toDS().groupSort(2, reverse = true)
      val b = Seq(("k", 2), ("m", 9)).toDS().groupSort(2, reverse = true)
      val merged = a.mergeUnion(b)
      assert(planShape(merged.toDS) === ((2, 2)))
      assertGroupSorted(merged.toDS, Some(Ordering.Int.reverse))
      val vs = merged.mapStreamByKey(it => Iterator.single(it.mkString(","))).collect().toMap
      assert(vs("k") === "3,2,1" && vs("m") === "9,2")
    }

    it("ascending and descending layouts: the other side is re-sorted, not re-shuffled") {
      val a = Seq(("k", 1), ("k", 3)).toDS().groupSort(2)
      val b = Seq(("k", 2)).toDS().groupSort(2, reverse = true)
      val merged = a.mergeUnion(b)
      assert(planShape(merged.toDS)._1 === 2)
      assertMultiset(merged.toDS, Seq(("k", 1), ("k", 2), ("k", 3)))
      // a's established ASC order wins
      val vs = merged.mapStreamByKey(it => Iterator.single(it.mkString(","))).collect().toMap
      assert(vs("k") === "1,2,3")
    }
  }

  describe("mergeUnion shuffle fallback") {
    it("preserves the established (descending) value order when partition counts differ") {
      val a = Seq(("k", 1), ("k", 3)).toDS().groupSort(2, reverse = true)
      val b = Seq(("k", 2), ("m", 9)).toDS().groupSort(3, reverse = true)
      val merged = a.mergeUnion(b)
      assert(planShape(merged.toDS) === ((3, 3)))
      assertMultiset(merged.toDS, Seq(("k", 1), ("k", 2), ("k", 3), ("m", 9)))
      // per-key DESC order must survive the re-shuffled side
      val vs = merged.mapStreamByKey(it => Iterator.single(it.mkString(","))).collect().toMap
      assert(vs("k") === "3,2,1")
    }
  }

  describe("groupSortCombine / groupSortReduce") {
    it("combiner aggregation with map-side combine semantics") {
      val got = fiveRows.toDS()
        .groupSortCombine[List[Int]](v => List(v), (c, v) => v :: c, (c1, c2) => c1 ++ c2)
        .map { case (k, c) => (k, c.sorted.mkString(",")) }
      assertMultiset(got, Seq(("a", "1,3"), ("b", "1,10"), ("c", "5")))
    }

    it("semigroup reduce") {
      val got = fiveRows.toDS().groupSortReduce(_ + _)
      assertMultiset(got, Seq(("a", 4), ("b", 11), ("c", 5)))
    }
  }

  describe("mergeUnion narrow path with NAMED tuple columns") {
    it("keeps the original column names so a later value-sort resolve succeeds") {
      import org.apache.spark.sql.functions.col
      val a = Seq((1L, 10L), (2L, 20L)).toDF("id", "score").as[(Long, Long)].groupSort(4)
      val b = Seq((1L, 11L), (3L, 30L)).toDF("id", "score").as[(Long, Long)].groupSort(4)
      val u = a.mergeUnion(b)
      assert(u.toDS.columns.toSeq == Seq("id", "score"),
        s"mergeUnion must restore named columns, got ${u.toDS.columns.toSeq}")
      // downstream op that resolves the carried value sort by NAME — this
      // throws AnalysisException if the union leaves _1/_2 columns
      val c = Seq((1L, 5L)).toDF("id", "score").as[(Long, Long)].groupSort(7)
      val joined = u.mergeJoinInner(c).collect().toSet
      assert(joined == Set((1L, (10L, 5L)), (1L, (11L, 5L))))
    }
  }

  describe("random property: groupSort+fold vs Scala oracle") {
    it("matches groupBy/sortBy/foldLeft on random data (20 cases)") {
      val rng = new scala.util.Random(7)
      for (_ <- 1 to 20) {
        val xs = List.fill(rng.nextInt(60))((rng.nextInt(6).toString, rng.nextInt(50)))
        val got = xs.toDS().groupSort(3).foldLeftByKey(List.empty[Int])((acc, v) => v :: acc)
          .map { case (k, l) => (k, l.reverse.mkString(",")) }
        val want = xs.groupBy(_._1).view
          .mapValues(_.map(_._2).sorted.mkString(",")).toMap
          .map(identity).toSeq
        assertMultiset(got, want)
      }
    }
  }
}
