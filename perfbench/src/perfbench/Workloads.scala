package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.rdd.syntax._
import graft.sorted.syntax._

/** Order-free fingerprint of a Dataset: the row count and the XOR and the
  * sum of every row's all-column xxhash64. */
final case class Fp(rows: Long, xor: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows:$xor:$sum"
}

object Fp {
  private def columns(ds: Dataset[_]): Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(struct(ds.columns.toIndexedSeq.map(c => col(s"`$c`")): _*))
    Seq(count(lit(1)).as("rows"), bit_xor(h).as("xor"), sum(h.cast("decimal(38,0)")).as("sum"))
  }

  private def of(rows: Long, xor: Any, sum: Any): Fp = Fp(rows,
    Option(xor).map(_.asInstanceOf[Long]).getOrElse(0L),
    Option(sum).map(_.asInstanceOf[java.math.BigDecimal]).getOrElse(java.math.BigDecimal.ZERO))

  def of(ds: Dataset[_]): Fp = {
    val r = ds.select(columns(ds): _*).head()
    of(r.getLong(0), r.get(1), r.get(2))
  }

  /** Attach the fingerprint to `ds` as observed metrics, for a sink that
    * returns no rows; `read` gives the fingerprint once the sink has run. */
  def observed(ds: Dataset[_]): (Dataset[_], () => Fp) = {
    val obs = new Observation()
    val cols = columns(ds)
    val out = ds.observe(obs, cols.head, cols.tail: _*)
    (out, () => { val m = obs.get; of(m("rows").asInstanceOf[Long], m("xor"), m("sum")) })
  }

  def parse(s: String): Fp = s.split(":") match {
    case Array(r, x, su) => Fp(r.toLong, x.toLong, new java.math.BigDecimal(su))
    case _ => throw new IllegalArgumentException(s"bad fingerprint: $s")
  }
}

/** One operation of a pass: calls the library and returns the output's
  * fingerprint, with spans around each public call. */
final case class Op(name: String, run: Tracer => Fp)

trait Workload {
  /** Builds (or checks) the inputs; returns their fingerprints. */
  def makeInputs(): Seq[String]
  /** The fingerprint each operation must produce. */
  def expected(): Map[String, Fp]
  def ops: Seq[Op]
  /** Untimed passes run during setup, before the timed ones. */
  def warmPasses: Int = 3
  /** Per-layer metrics of one traced pass, from its op spans (by name), the
    * child spans of each op and the op outputs. */
  def layerMetrics(op: Map[String, Span], child: (Span, String) => Option[Span],
      out: Map[String, Fp]): Map[String, Double]
}

/** Seeded input generators: the same seed gives the same rows. */
object Gen {
  private def h(seed: Long, salt: Int): org.apache.spark.sql.Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  /** Fact rows (k, ts, eid, v): `hotShare` of the rows sit on 1% of the
    * keys, the rest spread over the other keys; the mean group has
    * `meanGroup` rows. `eid` is unique, so (ts, eid) orders every group. */
  def facts(spark: SparkSession, seed: Long, rows: Long, meanGroup: Int, hotShare: Double,
      salt: Int): DataFrame = {
    val keys = math.max(rows / meanGroup, 100L)
    val hot = math.max(keys / 100, 1L)
    val hotRow = pmod(h(seed, salt + 1), lit(1000000L)) < lit((hotShare * 1000000).toLong)
    spark.range(0, rows, 1, 4).select(
      when(hotRow, pmod(h(seed, salt + 2), lit(hot)))
        .otherwise(lit(hot) + pmod(h(seed, salt + 3), lit(keys - hot))).as("k"),
      pmod(h(seed, salt + 4), lit(1000000L)).as("ts"),
      (col("id") + lit(rows * salt)).as("eid"),
      (pmod(h(seed, salt + 5), lit(1000L)) - lit(500L)).cast("int").as("v"))
  }

  /** One row (k, w) per key of `keys`, with about 10% of them missing and
    * 5% more keys that no fact row has. */
  def dim(spark: SparkSession, seed: Long, keys: Long): DataFrame =
    spark.range(0, keys + keys / 20, 1, 4)
      .where(pmod(h(seed, 41), lit(10L)) =!= lit(0L))
      .select(col("id").as("k"), h(seed, 42).as("w"))
}

/** The order-sensitive integer fold both surfaces run, and its SQL twin. */
object Fold {
  val f: (Long, (Long, Long, Int)) => Long = (acc, x) => (acc * 31 + x._3) % 1000000007L
  val sql = "aggregate(array_sort(collect_list(struct(ts, eid, v))), 0L, " +
    "(acc, x) -> (acc * 31 + x.v) % 1000000007L)"
}

/** The paper's flagship path: the group-sorted layout, the per-key streaming
  * operations over skewed groups on both surfaces, and the two-input merge
  * operations on the same layout: joins on the narrow zip path and on the
  * cogroup path, unions with and without a co-partition proof. */
final class GroupSortStream(spark: SparkSession, seed: Long, rows: Long) extends Workload {
  import spark.implicits._
  private val meanGroup = 50

  /** The generated tables, held in Spark's in-memory cache so a pass
    * measures the library rather than a file scan. */
  private val tables = scala.collection.mutable.Map.empty[String, DataFrame]
  private def write(table: String, df: DataFrame): String = {
    tables.remove(table).foreach(_.unpersist(blocking = true))
    tables(table) = df.persist(StorageLevel.MEMORY_ONLY)
    Fp.of(tables(table)).toString
  }
  private def read(table: String): DataFrame = tables(table)
  private def facts(table: String): Dataset[(Long, (Long, Long, Int))] =
    read(table).select(col("k"), struct(col("ts"), col("eid"), col("v")).as("v"))
      .as[(Long, (Long, Long, Int))]
  private def sqlFp(q: String): Fp = Fp.of(spark.sql(q))
  private def seconds(s: Option[Span]): Double = s.map(_.seconds).getOrElse(0.0)

  def makeInputs(): Seq[String] = Seq(
    write("facts", Gen.facts(spark, seed, rows, meanGroup, hotShare = 0.5, salt = 0)),
    write("facts2", Gen.facts(spark, seed, rows / 2, meanGroup, hotShare = 0.5, salt = 10)),
    write("dim", Gen.dim(spark, seed, rows / meanGroup)))

  def expected(): Map[String, Fp] = {
    Seq("facts" -> "f", "facts2" -> "f2", "dim" -> "d").foreach { case (t, v) =>
      read(t).createOrReplaceTempView(v)
    }
    val fold = sqlFp(s"SELECT k, ${Fold.sql} FROM f GROUP BY k")
    def join(kind: String) =
      sqlFp(s"SELECT f.k, struct(struct(f.ts, f.eid, f.v), d.w) FROM f $kind JOIN d ON f.k = d.k")
    val union = sqlFp("SELECT k, struct(ts, eid, v) FROM f UNION ALL SELECT k, struct(ts, eid, v) FROM f2")
    Map(
      "layout" -> sqlFp("SELECT k, struct(ts, eid, v) FROM f"),
      "fold" -> fold,
      "rdd_fold" -> fold,
      "scan" -> sqlFp("SELECT k, sum(CAST(v AS BIGINT)) OVER (PARTITION BY k ORDER BY ts, eid " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM f UNION ALL SELECT DISTINCT k, 0L FROM f"),
      "top3" -> sqlFp("SELECT k, struct(ts, eid, v) FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY k ORDER BY ts, eid) AS rn FROM f) WHERE rn <= 3"),
      "join_inner_narrow" -> join("INNER"), "join_inner_cogroup" -> join("INNER"),
      "join_left_narrow" -> join("LEFT"), "join_left_cogroup" -> join("LEFT"),
      "union_narrow" -> union, "union_shuffle" -> union)
  }

  private type Layout[V] = graft.sorted.GroupSortedDataset[Long, V]

  private def dim(): Dataset[(Long, Long)] = read("dim").as[(Long, Long)]

  private def streamed(t: Tracer, call: String)(f: Layout[(Long, Long, Int)] => Dataset[_]): Fp = {
    val layout = t.span("groupSort")(facts("facts").groupSort())
    val out = t.span(call)(f(layout))
    t.shape(out)
    t.span("action")(Fp.of(out))
  }

  /** `n` > 0 gives both sides the same explicit partition count. */
  private def join(t: Tracer, n: Int, call: String)(
      f: (Layout[(Long, Long, Int)], Layout[Long]) => Dataset[_]): Fp = {
    val l = t.span("groupSort")(facts("facts").groupSort(n))
    val r = t.span("groupSort")(dim().groupSort(n))
    val out = t.span(call)(f(l, r))
    t.shape(out, l.toDS, r.toDS)
    t.span("action")(Fp.of(out))
  }

  private def union(t: Tracer, nRight: Int): Fp = {
    val l = t.span("groupSort")(facts("facts").groupSort(4))
    val r = t.span("groupSort")(facts("facts2").groupSort(nRight))
    val out = t.span("mergeUnion")(l.mergeUnion(r).toDS)
    t.shape(out, l.toDS, r.toDS)
    t.span("action")(Fp.of(out))
  }

  private val mergeOps = Seq(
    Op("join_inner_narrow", t => join(t, 4, "mergeJoinInner")(_.mergeJoinInner(_))),
    Op("join_left_narrow", t => join(t, 4, "mergeJoinLeftOuter")(_.mergeJoinLeftOuter(_))),
    Op("join_inner_cogroup", t => join(t, -1, "mergeJoinInner")(_.mergeJoinInner(_))),
    Op("join_left_cogroup", t => join(t, -1, "mergeJoinLeftOuter")(_.mergeJoinLeftOuter(_))),
    Op("union_narrow", t => union(t, 4)),
    Op("union_shuffle", t => union(t, 3)))

  val ops: Seq[Op] = Seq(
    Op("layout", t => {
      val layout = t.span("groupSort")(facts("facts").groupSort())
      val (ds, fp) = Fp.observed(layout.toDS)
      t.shape(ds)
      t.span("sink")(ds.write.format("noop").mode("overwrite").save())
      fp()
    }),
    Op("fold", t => streamed(t, "foldLeftByKey")(_.foldLeftByKey(0L)(Fold.f))),
    Op("scan", t => streamed(t, "scanLeftByKey")(_.scanLeftByKey(0L)((acc, x) => acc + x._3))),
    Op("top3", t => streamed(t, "mapStreamByKey")(_.mapStreamByKey(it => it.take(3)))),
    Op("rdd_fold", t => {
      val rdd = facts("facts").rdd
      val layout = t.span("groupSort")(rdd.groupSort(4, Ordering[(Long, Long, Int)]))
      val out = t.span("foldLeftByKey")(layout.foldLeftByKey(0L)(Fold.f))
      t.span("action")(Fp.of(spark.createDataset(out)))
    })) ++ mergeOps

  def layerMetrics(op: Map[String, Span], child: (Span, String) => Option[Span],
      out: Map[String, Fp]): Map[String, Double] = {
    val layout = seconds(op.get("layout"))
    val stream = Seq("fold", "scan", "top3").map(n => n -> (seconds(op.get(n)) - layout)).toMap
    def shape(o: String) = op.get(o).map(_.shape).getOrElse(PlanStats())
    mergeOps.map(o => s"merge.${o.name}_s" -> seconds(op.get(o.name))).toMap ++ Map(
      "sorted.layout_s" -> layout,
      "sorted.fold_s" -> stream("fold"),
      "sorted.scan_s" -> stream("scan"),
      "sorted.top3_s" -> stream("top3"),
      "sorted.stream_s" -> stream.values.sum,
      "sorted.rows_out" -> Seq("fold", "scan", "top3").flatMap(out.get).map(_.rows.toDouble).sum,
      "rdd.fold_s" -> seconds(op.get("rdd_fold")),
      "rdd.shuffle_write_mb" -> op.get("rdd_fold").map(_.counters.shuffleWriteBytes / 1048576.0).getOrElse(0.0),
      "merge.exchanges_narrow" -> shape("join_inner_narrow").exchanges.toDouble,
      "merge.exchanges_cogroup" -> shape("join_inner_cogroup").exchanges.toDouble,
      "merge.sorts_narrow" -> shape("join_inner_narrow").sorts.toDouble,
      "merge.sorts_cogroup" -> shape("join_inner_cogroup").sorts.toDouble)
  }
}

/** Training-data queries through `SparkEntry`: eager build-time jobs and
  * `graft.operators` kernels, with almost no group-sorted work. The inputs
  * are the fixed tables in `dataDir`; the seed only orders the queries. */
final class Pipeline(spark: SparkSession, dataDir: String, pins: Map[String, Fp]) extends Workload {
  override def warmPasses: Int = 4

  /** SHA-256 of each table file: the tables are fixed, so reading them
    * through Spark here would only move JIT warm-up out of the warm pass. */
  def makeInputs(): Seq[String] = Pipeline.tables.map { t =>
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dataDir/$t.parquet"))
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString
  }

  def expected(): Map[String, Fp] = {
    val missing = Pipeline.queries.filterNot(pins.contains)
    require(missing.isEmpty, s"no pinned fingerprint for ${missing.mkString(", ")}")
    pins
  }

  val ops: Seq[Op] = Pipeline.queries.map { q =>
    Op(q, t => {
      val df = t.span("build")(graft.SparkEntry.queries(q)(spark, dataDir))
      try t.span("action")(Fp.of(df))
      finally t.span("drainCleanups")(graft.SparkEntry.drainCleanups())
    })
  }

  def layerMetrics(op: Map[String, Span], child: (Span, String) => Option[Span],
      out: Map[String, Fp]): Map[String, Double] = {
    val per = Pipeline.queries.flatMap { q =>
      val s = op.get(q)
      val build = s.flatMap(child(_, "build"))
      val action = s.flatMap(child(_, "action"))
      Seq(
        s"entry.$q.build_s" -> build.map(_.seconds).getOrElse(0.0),
        s"entry.$q.action_s" -> action.map(_.seconds).getOrElse(0.0),
        s"entry.$q.build_jobs" -> build.map(_.counters.jobs.toDouble).getOrElse(0.0),
        s"entry.$q.jobs" -> s.map(_.counters.jobs.toDouble).getOrElse(0.0),
        s"entry.$q.exec_cpu_s" -> s.map(_.counters.cpuNs / 1e9).getOrElse(0.0))
    }.toMap
    def total(field: String) = Pipeline.queries.map(q => per(s"entry.$q.$field")).sum
    per ++ Seq("build_s", "action_s", "build_jobs", "jobs").map(f => s"entry.$f" -> total(f))
  }
}

object Pipeline {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Gate row q171 (8 of its 16 jobs run while it is built), kernel row
    * q186 and the untouched controls q05/q22. */
  val queries: Seq[String] = Seq("q171_postings_incremental", "q186_fuzzy_join",
    "q05_combine_sum", "q22_lang_guess")

  def readPins(file: String): Map[String, Fp] = {
    val f = new java.io.File(file)
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\\s+"); q -> Fp.parse(fp) }.toMap
  }

  def writePins(file: String, fps: Map[String, Fp]): Unit = {
    val lines = "# query  rows:xor:sum of the all-column xxhash64 (see perfbench/README.md)" +:
      queries.map(q => s"$q ${fps(q)}")
    java.nio.file.Files.write(java.nio.file.Paths.get(file), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
