package perfbench

import java.lang.management.ManagementFactory

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see perfbench/README.md). Writes the
  * result object to `--result` and the full artifact to `--artifact`. */
object Main {
  val cores = 4

  /** Metric name -> unit. The end-to-end metrics come from untraced runs,
    * the per-layer ones from traced runs. */
  val endToEnd: Seq[(String, String)] =
    Seq("pass_s" -> "s", "cpu_s" -> "s", "live_heap_mb" -> "MB", "setup_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    "sorted.layout_s" -> "s", "sorted.exchange_s" -> "s", "sorted.sort_s" -> "s",
    "sorted.sort_peak_mb" -> "MB", "sorted.fold_s" -> "s", "sorted.scan_s" -> "s",
    "sorted.top3_s" -> "s", "sorted.stream_s" -> "s", "sorted.rows_out" -> "count",
    "rdd.fold_s" -> "s", "rdd.shuffle_write_mb" -> "MB",
    "merge.join_inner_narrow_s" -> "s", "merge.join_left_narrow_s" -> "s",
    "merge.join_inner_cogroup_s" -> "s", "merge.join_left_cogroup_s" -> "s",
    "merge.union_narrow_s" -> "s", "merge.union_shuffle_s" -> "s",
    "merge.exchanges_narrow" -> "count", "merge.exchanges_cogroup" -> "count",
    "merge.sorts_narrow" -> "count", "merge.sorts_cogroup" -> "count",
    "entry.build_s" -> "s", "entry.action_s" -> "s", "entry.build_jobs" -> "count",
    "entry.jobs" -> "count", "entry.cached_mb_after_drain" -> "MB") ++
    Pipeline.queries.flatMap(q => Seq(s"entry.$q.build_s" -> "s", s"entry.$q.action_s" -> "s",
      s"entry.$q.build_jobs" -> "count", s"entry.$q.jobs" -> "count", s"entry.$q.exec_cpu_s" -> "s")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.busy_frac" -> "fraction",
      "spark.driver_gap_s" -> "s", "host.steal_frac" -> "fraction", "host.load1" -> "load",
      "trace.overhead_frac" -> "fraction")

  /** Fact rows of the generated inputs: small enough that a pass takes about
    * 5 s on 4 cores, large enough that the layout dominates each op. */
  val groupsortRows = 200000L

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10, trace: Boolean = false,
      work: String = "", result: String = "", artifact: String = "", data: String = "", pins: String = "",
      recordPins: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--result" :: v :: t => parse(t, o.copy(result = v))
    case "--artifact" :: v :: t => parse(t, o.copy(artifact = v))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--pins" :: v :: t => parse(t, o.copy(pins = v))
    case "--record-pins" :: t => parse(t, o.copy(recordPins = true))
    case Nil => o
    case a :: _ => throw new IllegalArgumentException(s"unknown argument: $a")
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the status store keeps finished jobs, stages and queries (with their
      // plans) on the heap; keep as few as it allows, so live_heap_mb does
      // not depend on the number or the order of the queries run last
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def workload(o: Opts, spark: SparkSession, rowsScale: Double = 1.0): Workload = o.workload match {
    case "groupsort-stream" => new GroupSortStream(spark, o.seed, (groupsortRows * rowsScale).toLong)
    case "pipeline" => new Pipeline(spark, o.data, if (o.recordPins) Map.empty else Pipeline.readPins(o.pins))
    case w => throw new IllegalArgumentException(s"unknown workload: $w")
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  final case class OpRun(name: String, seconds: Double, fp: Option[Fp], error: Option[String])
  final case class Pass(index: Int, traced: Boolean, wallS: Double, cpuS: Double, stealFrac: Double,
      load1: Double, ops: Seq[OpRun], layer: Map[String, Double])

  /** Runs passes and checks every output against `expected` and against the
    * first output seen for the same op. */
  final class Runner(spark: SparkSession, wl: Workload, seed: Long, expected: Map[String, Fp]) {
    val tracer = new Tracer(spark)
    private val rng = new Random(seed)
    private val first = scala.collection.mutable.Map.empty[String, Fp]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0

    def pass(index: Int, traced: Boolean): Pass = {
      tracer.pass = index
      tracer.setActive(traced)
      val (steal0, total0) = Host.cpuTicks()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val runs = tracer.span("pass") {
        rng.shuffle(wl.ops).map { op =>
          val s = System.nanoTime()
          val r = Try(tracer.span(op.name)(op.run(tracer)))
          val secs = (System.nanoTime() - s) / 1e9
          attempted += 1
          val error = r match {
            case Failure(e) => Some(s"${e.getClass.getName}: ${e.getMessage}")
            case Success(fp) if expected.get(op.name).exists(_ != fp) =>
              Some(s"fingerprint $fp, expected ${expected(op.name)}")
            case Success(fp) if first.get(op.name).exists(_ != fp) =>
              Some(s"fingerprint $fp differs from the first pass's ${first(op.name)}")
            case Success(fp) => first.getOrElseUpdate(op.name, fp); None
          }
          error.foreach(e => failures += s"pass $index ${op.name}: $e")
          OpRun(op.name, secs, r.toOption, error)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val (steal1, total1) = Host.cpuTicks()
      val steal = if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0
      val layer = if (traced) layerMetrics(index, runs) else Map.empty[String, Double]
      tracer.setActive(false)
      Pass(index, traced, wall, cpu, steal, Host.load1(), runs, layer)
    }

    private def layerMetrics(index: Int, runs: Seq[OpRun]): Map[String, Double] = {
      val spans = tracer.spans.filter(_.pass == index)
      val passSpan = spans.find(s => s.name == "pass" && s.parent == -1).get
      val op = spans.filter(_.parent == passSpan.id).map(s => s.name -> s).toMap
      val child = (p: Span, n: String) => spans.find(s => s.parent == p.id && s.name == n)
      val out = runs.flatMap(r => r.fp.map(r.name -> _)).toMap
      val c = passSpan.counters
      val x = passSpan.executed
      val wall = passSpan.seconds
      val cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      Map(
        "sorted.exchange_s" -> x.exchangeWriteNs / 1e9,
        "sorted.sort_s" -> x.sortMs / 1e3,
        "sorted.sort_peak_mb" -> x.sortPeakBytes / 1048576.0,
        "entry.cached_mb_after_drain" -> cachedBytes / 1048576.0,
        "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.exec_run_s" -> c.runMs / 1e3,
        "spark.exec_cpu_s" -> c.cpuNs / 1e9,
        "spark.gc_s" -> c.gcMs / 1e3,
        "spark.shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
        "spark.spill_mb" -> c.spillBytes / 1048576.0,
        "spark.busy_frac" -> c.runMs / 1e3 / (wall * cores),
        "spark.driver_gap_s" -> (wall - tracer.stageBusyMs(passSpan.startMs, passSpan.endMs) / 1e3)
      ) ++ wl.layerMetrics(op, child, out)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val t0 = System.nanoTime()
    val spark = session(o.work)
    try {
      val (result, artifact) = measure(o, spark, t0)
      write(o.artifact, Json.render(artifact))
      write(o.result, Json.render(result))
    } finally spark.stop()
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, secondsSince(t))
  }

  /** One run: set up, time passes for `o.seconds`, and return the result
    * object and the artifact. `t0` is when the session was started. */
  def measure(o: Opts, spark: SparkSession, t0: Long, rowsScale: Double = 1.0): (Json.Obj, Json.Obj) = {
    val sessionS = secondsSince(t0)
    val wl = workload(o, spark, rowsScale)
    // the input step is repeated and its median taken, so setup_s is steady
    val inputRuns = (1 to 3).map(_ => timed(wl.makeInputs()))
    val inputFps = inputRuns.map(_._1).distinct
    require(inputFps.size == 1, s"inputs differ between builds: $inputFps")
    val (expected, oracleS) =
      if (o.recordPins) (Map.empty[String, Fp], 0.0) else timed(wl.expected())
    val runner = new Runner(spark, wl, o.seed, expected)
    // The first warm-up pass pays JIT compilation and fills the library's
    // memos. Later passes keep getting faster while the JIT works through
    // Catalyst's driver-side code, which the pipeline's queries exercise most.
    val warm = (1 - wl.warmPasses to 0).map(i => runner.pass(i, traced = false))
    if (o.recordPins) {
      Pipeline.writePins(o.pins, warm.head.ops.flatMap(r => r.fp.map(r.name -> _)).toMap)
      println(s"recorded ${warm.head.ops.size} fingerprints in ${o.pins}")
    }
    val warmS = warm.map(_.wallS).sum
    val setupS = sessionS + Stats.median(inputRuns.map(_._2)) + oracleS + warmS

    // Untraced runs time untraced passes; traced runs alternate untraced and
    // traced passes, so the tracing overhead is measured in the same window.
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t1 = System.nanoTime()
    while (secondsSince(t1) < o.seconds || passes.size < (if (o.trace) 2 else 1)) {
      val i = passes.size + 1
      passes += runner.pass(i, traced = o.trace && i % 2 == 0)
    }
    // Spark's ContextCleaner frees broadcast and shuffle state only after a
    // GC has cleared the last reference, so collect, let it run, collect again
    val liveHeapMb = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val plain = passes.filterNot(_.traced).toSeq
    val traced = passes.filter(_.traced).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val values = Map("pass_s" -> Stats.median(plain.map(_.wallS)),
          "cpu_s" -> Stats.median(plain.map(_.cpuS)), "live_heap_mb" -> liveHeapMb, "setup_s" -> setupS)
        endToEnd.map { case (k, u) => (k, values(k), u) }
      } else {
        val overhead = Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1
        val measured = traced.flatMap(_.layer.keys).distinct.map(k => k -> Stats.median(traced.map(_.layer.getOrElse(k, 0.0)))).toMap ++
          Map("host.steal_frac" -> Stats.median(traced.map(_.stealFrac)),
            "host.load1" -> Stats.median(traced.map(_.load1)),
            "trace.overhead_frac" -> overhead)
        // a layer the workload does not call reads 0
        perLayer.map { case (k, u) => (k, measured.getOrElse(k, 0.0), u) }
      }

    val attempted = runner.attempted
    val failed = runner.failures.size
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    val walls = plain.map(_.wallS)
    val artifact = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cores" -> cores, "result" -> result,
      "fail_frac" -> failed.toDouble / math.max(attempted, 1),
      "failures" -> runner.failures.toSeq,
      "setup" -> Json.obj("session_s" -> sessionS, "inputs_s" -> inputRuns.map(_._2),
        "oracle_s" -> oracleS, "warmup_s" -> warm.map(_.wallS), "setup_s" -> setupS),
      "inputs" -> inputFps.head,
      "pass_s" -> Stats.summary(walls),
      "cpu_s" -> Stats.summary(plain.map(_.cpuS)),
      "live_heap_mb" -> liveHeapMb,
      "passes" -> (warm ++ passes).map(p => Json.obj(
        "index" -> p.index, "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "steal_frac" -> p.stealFrac, "load1" -> p.load1,
        "ops" -> Json.obj(p.ops.map(r => r.name -> (r.seconds: Any)): _*),
        "layer" -> Json.obj(p.layer.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*))),
      "spans" -> runner.tracer.spans.toSeq.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "jobs" -> s.counters.jobs, "stages" -> s.counters.stages, "tasks" -> s.counters.tasks,
        "exec_cpu_s" -> s.counters.cpuNs / 1e9, "shuffle_write_bytes" -> s.counters.shuffleWriteBytes,
        "exchanges" -> s.shape.exchanges, "sorts" -> s.shape.sorts,
        "exchange_write_s" -> s.executed.exchangeWriteNs / 1e9, "sort_s" -> s.executed.sortMs / 1e3)))
    (result, artifact)
  }

  private def write(file: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(file), (text + "\n").getBytes("UTF-8"))
}

object Stats {
  /** Quartiles as Python's `statistics.quantiles(values, n=4)` computes them. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 0) (0.0, 0.0, 0.0)
    else if (n == 1) (s(0), s(0), s(0))
    else {
      def q(j: Int): Double = {
        val m = j * (n + 1)
        val i = math.min(math.max(m / 4, 1), n - 1)
        val delta = m - (i * 4)
        (s(i - 1) * (4 - delta) + s(i) * delta) / 4
      }
      (q(1), q(2), q(3))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median, quartiles, n, and the highest percentile with at least ten
    * samples beyond it (none below 20 samples, so the maximum stands in). */
  def summary(xs: Seq[Double]): Json.Obj = {
    val (q1, _, q3) = quartiles(xs)
    val n = xs.size
    val pHigh = if (n >= 20) Some(100.0 * (n - 10) / n) else None
    Json.obj("median" -> median(xs), "q1" -> q1, "q3" -> q3, "max" -> (if (n == 0) 0.0 else xs.max),
      "p_high" -> pHigh.map(p => Json.obj("p" -> p, "value" -> xs.sorted.apply(math.ceil(p / 100 * n).toInt - 1)))
        .getOrElse(Json.obj("p" -> 100.0, "value" -> (if (n == 0) 0.0 else xs.max))),
      "n" -> n, "values" -> xs)
  }
}

/** Just enough JSON writing for the result and the artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => str(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
}
