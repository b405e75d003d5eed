package perfbench

/** The benchmark's own tests. Run with `python3 perfbench/run.py --selftest`;
  * exits non-zero on the first failed check. */
object SelfTest {
  private val metricName = "[A-Za-z0-9_.-]+".r

  private def check(ok: Boolean, what: String): Unit = {
    if (!ok) throw new AssertionError(s"selftest failed: $what")
    println(s"ok - $what")
  }

  /** Metric names listed under `section` in BENCHMARK.json. */
  private def benchmarkNames(file: String, section: String): Seq[String] = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)), "UTF-8")
    val block = s""""$section"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(text).map(_.group(1))
      .getOrElse(throw new AssertionError(s"no $section in $file"))
    """"name"\s*:\s*"([^"]+)"""".r.findAllMatchIn(block).map(_.group(1)).toSeq
  }

  private def metricsOf(result: Json.Obj): Map[String, Any] = result.fields.toMap.apply("metrics") match {
    case Json.Obj(fs) => fs.toMap
    case other => throw new AssertionError(s"metrics is not an object: $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.toList.grouped(2).collect { case List(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val base = Main.Opts(work = work, data = opts("data"), pins = opts("pins"), seconds = 0)
    val t0 = System.nanoTime()
    val spark = Main.session(work)
    try {
      val tiny = 0.01
      val w = "groupsort-stream"
      def inputs(seed: Long) = Main.workload(base.copy(workload = w, seed = seed), spark, tiny).makeInputs()
      val a = inputs(7)
      check(inputs(7) == a, s"$w: the same seed gives the same inputs")
      check(inputs(8) != a, s"$w: another seed gives other inputs")

      val wl = Main.workload(base.copy(workload = w, seed = 7), spark, tiny)
      wl.makeInputs()
      val expected = wl.expected()
      val runner = new Main.Runner(spark, wl, 7, expected)
      val pass = runner.pass(1, traced = false)
      for (r <- pass.ops)
        check(r.error.isEmpty && expected.get(r.name) == r.fp,
          s"$w: ${r.name} matches its SQL oracle (${r.fp.getOrElse(r.error.getOrElse(""))})")
      check(expected.keySet == wl.ops.map(_.name).toSet, s"$w: every op has an oracle")

      val benchmark = opts("benchmark")
      val e2e = benchmarkNames(benchmark, "end_to_end")
      val layers = benchmarkNames(benchmark, "per_layer")
      for (n <- Main.endToEnd.map(_._1) ++ Main.perLayer.map(_._1) ++ e2e ++ layers)
        check(metricName.pattern.matcher(n).matches, s"metric name $n is well formed")
      for (w <- Seq("groupsort-stream", "pipeline"); trace <- Seq(false, true)) {
        val o = base.copy(workload = w, seed = 3, trace = trace)
        val (result, _) = Main.measure(o, spark, t0, rowsScale = 0.05)
        val fields = result.fields.toMap
        check(fields("correct") == true && fields("failed") == 0,
          s"$w trace=$trace: every output is correct")
        val names = metricsOf(result).keySet
        val wanted = if (trace) layers else e2e
        val missing = wanted.filterNot(names)
        check(missing.isEmpty, s"$w trace=$trace: result carries every BENCHMARK.json metric " +
          s"(missing: ${missing.mkString(", ")})")
      }
    } finally spark.stop()
  }
}
