package graft.sorted

import java.util.{Iterator => JIterator}

import scala.jdk.CollectionConverters._

import org.apache.spark.api.java.function.{FlatMapFunction => JFlatMapFunction, Function => JFunction, Function0 => JFunction0, Function2 => JFunction2}
import org.apache.spark.sql.Encoders
import org.scalatest.funspec.AnyFunSpec

import graft.SparkSuite
import graft.sorted.api.java.JavaGroupSortedDataset

/**
 * The Java facade exercised THROUGH the Java functional interfaces (SAM
 * instances of `org.apache.spark.api.java.function.*`, `java.util.Iterator`,
 * `java.util.Comparator`) — the exact shapes a Java caller compiles against —
 * mirroring the reference's Java API behavioral contract
 * (`api/java/GroupSorted.scala:33-87`).
 */
class JavaApiSpec extends AnyFunSpec with SparkSuite {
  import spark.implicits._

  private val kString = Encoders.STRING
  // A real Java caller pairs java.lang.Integer values with Encoders.INT; this
  // Scala spec instantiates V = scala.Int, so it needs the scala.Int encoder
  // (same runtime codec — Catalyst boxes identically).
  private val jInt = implicitly[org.apache.spark.sql.Encoder[Int]]
  private val jString = Encoders.STRING
  private val natural = JavaGroupSortedDataset.naturalOrder[String]()

  private val rows = Seq(("a", 3), ("b", 10), ("a", 1), ("b", 1), ("c", 5))

  // Dataset[(String, Int)] IS Dataset<Tuple2<String,Integer>> on the Java side;
  // boxing at the V position is what a Java caller sees, so go through
  // java.lang.Integer-typed functions where the value flows into a SAM.
  private def gs(n: Int = 4) = JavaGroupSortedDataset.groupSort(rows.toDS(), n, kString)

  describe("JavaGroupSortedDataset") {
    it("groupSort establishes the layout invariant") {
      val g = gs()
      assertGroupSorted(g.toDS(), Some(Ordering.Int))
      assertMultiset(g.toDS(), rows)
    }

    it("groupSort honors reverse value order") {
      val g = JavaGroupSortedDataset.groupSort(rows.toDS(), 4, true, kString)
      assertGroupSorted(g.toDS(), Some(Ordering.Int.reverse))
    }

    it("groupSortByRange establishes the layout and takes the cogroup join path") {
      val g = JavaGroupSortedDataset.groupSortByRange(rows.toDS(), 2, false, kString)
      assertGroupSorted(g.toDS(), Some(Ordering.Int))
      assertMultiset(g.toDS(), rows)
      val joined = g.mergeJoinInner(gs(), Encoders.tuple(jInt, jInt))
      assertMultiset(joined, rows.flatMap { case (k, v) => rows.filter(_._1 == k).map(w => (k, (v, w._2))) })
    }

    it("mapStreamByKey streams each key's values in order") {
      val top1: JFunction[JIterator[Int], JIterator[Int]] =
        (it: JIterator[Int]) => Iterator.single(it.next()).asJava
      val got = gs().mapStreamByKey(top1, jInt)
      assertMultiset(got, Seq(("a", 1), ("b", 1), ("c", 5)))
    }

    it("mapStreamByKey context arity builds the context once per partition") {
      val ctx: JFunction0[java.util.concurrent.atomic.AtomicInteger] =
        () => new java.util.concurrent.atomic.AtomicInteger(0)
      val f: JFunction2[java.util.concurrent.atomic.AtomicInteger, JIterator[Int], JIterator[Int]] =
        (c, it) => { c.incrementAndGet(); Iterator.single(it.asScala.sum).asJava }
      val got = gs(1).mapStreamByKey(ctx, f, jInt).collect().toMap
      assert(got == Map("a" -> 4, "b" -> 11, "c" -> 5))
    }

    it("foldLeftByKey folds in value order with a cloned zero") {
      val f: JFunction2[String, Int, String] = (acc, v) => acc + v
      val got = gs().foldLeftByKey("", f, jString)
      assertMultiset(got, Seq(("a", "13"), ("b", "110"), ("c", "5")))
    }

    it("reduceLeftByKey reduces in value order") {
      val f: JFunction2[Int, Int, Int] = (a, b) => a max b
      val got = gs().reduceLeftByKey(f, jInt)
      assertMultiset(got, Seq(("a", 3), ("b", 10), ("c", 5)))
    }

    it("scanLeftByKey emits N+1 rows per key including the zero") {
      val f: JFunction2[Int, Int, Int] = (a, b) => a + b
      val got = gs().scanLeftByKey(0, f, jInt)
      assertMultiset(got, Seq(
        ("a", 0), ("a", 1), ("a", 4),
        ("b", 0), ("b", 1), ("b", 11),
        ("c", 0), ("c", 5)))
    }

    it("mapValues / flatMapValues / mapKeyValuesToValues / filter compose and keep the layout") {
      val inc: JFunction[Int, Int] = (v: Int) => v + 1
      val dup: JFlatMapFunction[Int, Int] = (v: Int) => Iterator(v, v).asJava
      val tag: JFunction[(String, Int), String] = (kv: (String, Int)) => kv._1 + ":" + kv._2
      val keep: JFunction[(String, String), java.lang.Boolean] = (kv: (String, String)) => kv._1 != "c"
      val chained = gs()
        .mapValues(inc, jInt)          // a->(4,2) b->(11,2) c->6
        .flatMapValues(dup, jInt)      // each doubled
        .mapKeyValuesToValues(tag, jString)
        .filter(keep)
      assertMultiset(chained.toDS(), Seq(
        ("a", "a:2"), ("a", "a:2"), ("a", "a:4"), ("a", "a:4"),
        ("b", "b:2"), ("b", "b:2"), ("b", "b:11"), ("b", "b:11")))
      // grouping layout survived the chain
      assertGroupSorted(chained.toDS(), None)
    }

    it("mergeJoin takes the narrow path on co-partitioned inputs and joins correctly") {
      val left = gs(4)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("c", "y"), ("d", "z")).toDS(), 4, kString)
      val f: JFunction2[JIterator[Int], JIterator[String], JIterator[String]] =
        (vs, ws) => {
          val w = ws.asScala.toList
          vs.asScala.flatMap(v => w.map(s => s"$v$s")).asJava
        }
      val got = left.mergeJoin(right, f, jString)
      // keys only on one side see an empty other-side iterator; here f emits
      // nothing for them (inner-style lambda)
      assertMultiset(got, Seq(("a", "1x"), ("a", "3x"), ("c", "5y")))
    }

    it("mergeJoin falls back to the cogroup path without a co-partition proof (same result)") {
      val left = JavaGroupSortedDataset.groupSort(rows.toDS(), kString) // no explicit count
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("c", "y")).toDS(), 4, kString)
      val f: JFunction2[JIterator[Int], JIterator[String], JIterator[String]] =
        (vs, ws) => {
          val w = ws.asScala.toList
          vs.asScala.flatMap(v => w.map(s => s"$v$s")).asJava
        }
      val got = left.mergeJoin(right, f, jString)
      assertMultiset(got, Seq(("a", "1x"), ("a", "3x"), ("c", "5y")))
    }

    it("mergeUnion merges two co-partitioned layouts order-preservingly") {
      val other = JavaGroupSortedDataset.groupSort(
        Seq(("a", 2), ("c", 1)).toDS(), 4, kString)
      val u = gs(4).mergeUnion(other, JavaGroupSortedDataset.naturalOrder[Int]())
      assertGroupSorted(u.toDS(), Some(Ordering.Int))
      assertMultiset(u.toDS(), rows ++ Seq(("a", 2), ("c", 1)))
    }

    it("mergeJoinInner joins only both-sides keys via Encoders.tuple") {
      val left = gs(4)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("c", "y"), ("d", "z")).toDS(), 4, kString)
      val got = left.mergeJoinInner(right, Encoders.tuple(jInt, jString))
      assertMultiset(got, Seq(("a", (1, "x")), ("a", (3, "x")), ("c", (5, "y"))))
    }

    it("mergeJoinLeftOuter keeps unmatched left values with a NULL right slot") {
      val left = gs(4)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("d", "z")).toDS(), 4, kString)
      val got = left.mergeJoinLeftOuter(right, jInt, jString)
      assertMultiset(got, Seq(
        ("a", (1, "x")), ("a", (3, "x")),
        ("b", (1, null)), ("b", (10, null)), ("c", (5, null))))
    }

    it("mergeJoinRightOuter mirrors: unmatched right values carry a NULL left slot") {
      // V must be a reference type for the NULL slot — strings on both sides
      val left = JavaGroupSortedDataset.groupSort(
        Seq(("a", "l1"), ("a", "l2")).toDS(), 4, kString)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("d", "z")).toDS(), 4, kString)
      val got = left.mergeJoinRightOuter(right, jString, jString)
      assertMultiset(got, Seq(
        ("a", ("l1", "x")), ("a", ("l2", "x")), ("d", (null, "z"))))
    }

    it("mergeJoinOuter emits every key from either side; bufferLeft flips buffering, not results") {
      val left = JavaGroupSortedDataset.groupSort(
        Seq(("a", "l1"), ("b", "l2")).toDS(), 4, kString)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("d", "z")).toDS(), 4, kString)
      val want = Seq(("a", ("l1", "x")), ("b", ("l2", null)), ("d", (null, "z")))
      assertMultiset(left.mergeJoinOuter(right, false, jString, jString), want)
      assertMultiset(left.mergeJoinOuter(right, true, jString, jString), want)
    }

    it("bufferLeft overloads on inner/left/right joins flip buffering, not results (reference GroupSorted.scala:81-94 parity)") {
      val left = JavaGroupSortedDataset.groupSort(
        Seq(("a", "l1"), ("a", "l2"), ("b", "l3")).toDS(), 4, kString)
      val right = JavaGroupSortedDataset.groupSort(
        Seq(("a", "x"), ("d", "z")).toDS(), 4, kString)
      val wantInner = Seq(("a", ("l1", "x")), ("a", ("l2", "x")))
      assertMultiset(left.mergeJoinInner(right, true, Encoders.tuple(jString, jString)), wantInner)
      assertMultiset(left.mergeJoinInner(right, false, Encoders.tuple(jString, jString)), wantInner)
      val wantLeft = wantInner :+ ("b", ("l3", null))
      assertMultiset(left.mergeJoinLeftOuter(right, true, jString, jString), wantLeft)
      assertMultiset(left.mergeJoinLeftOuter(right, false, jString, jString), wantLeft)
      val wantRight = wantInner :+ ("d", (null, "z"))
      assertMultiset(left.mergeJoinRightOuter(right, true, jString, jString), wantRight)
      assertMultiset(left.mergeJoinRightOuter(right, false, jString, jString), wantRight)
    }

    it("naturalOrder throws NullPointerException on null operands (reference NaturalComparator parity)") {
      intercept[NullPointerException](natural.compare(null, "a"))
      intercept[NullPointerException](natural.compare("a", null))
      assert(natural.compare("a", "b") < 0)
    }
  }
}
