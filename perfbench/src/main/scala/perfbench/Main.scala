package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The paper-workload benchmark.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *     [--fault throw|corrupt]
  *
  * One process at local[nproc], closed loop: the driver makes one layer
  * call at a time and waits for it. A run generates (or reuses) the seed's
  * inputs, sets up three times (session start plus a warm-up pass on a
  * small input; `setup_s` is the median), then repeats full passes for S
  * seconds and checks what the last pass wrote. With --trace 0 it computes
  * the end-to-end metrics, whose times are scaled to a reference host
  * speed (see [[HostSpeed]]); with --trace 1 traced and untraced passes
  * alternate, the traced ones give the per-layer metrics, and the gap
  * between the two kinds is the tracing overhead. The result, one JSON
  * object of metric values by name, is written to DIR/result.json; the exit
  * code is 0 only when every operation succeeded and every output check
  * passed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, fault: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val fault = m.getOrElse("fault", "none")
    require(Set("none", "throw", "corrupt")(fault), s"unknown --fault $fault")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, fault)
  }

  /** Output fingerprints of seed 1, the default seed. */
  val Pinned: Map[String, String] = Map(
    "longdoc_summarize" -> "fd0bc22f0fb2829c",
    "eval_report" -> "42a245eab7cf32fb")

  /** Model-layer calls and prompt tokens per document of seed 1, checked
    * by traced runs: exact counts that must repeat run after run.
    */
  val PinnedCalls: Map[String, (Double, Double)] = Map(
    "longdoc_summarize" -> (573.625, 125027.625),
    "eval_report" -> (2.0, 0.0))

  val Setups = 3

  /** One full pass. `wallS` and `driverCpuS` leave out the runs of the
    * reference loop; `hostNs` is the loop's median time over the pass.
    */
  final case class PassRec(traced: Boolean, wallS: Double, driverCpuS: Double, hostNs: Double,
      peakHeapMb: Double, startMs: Long, endMs: Long, tracer: Tracer,
      tasks: Vector[SparkStats.Task], jobs: Vector[SparkStats.Job], llm: Map[String, Double],
      durations: Array[Long]) {
    var retainedMb = 0.0
  }

  /** Span clocks are `nanoTime`; Spark's job and task times are wall ms. */
  private val nanoOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  private def wallMs(ns: Long): Long = ns / 1000000L + nanoOffsetMs

  private def usedHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  /** The heap pools that hold what survived a young collection. Eden is
    * left out: it fills to its fixed size before every young collection,
    * so its peak is the JVM's setting, not the program's.
    */
  private val survivingPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden")).toVector

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  private def session(a: Args, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    spark
  }

  /** Inputs of (workload, seed), generated on first use. */
  private def inputs(w: Workload, a: Args): (Path, Gen.Manifest) = {
    val dir = a.work.resolve("data").resolve(w.name).resolve(s"seed-${a.seed}")
    val done = dir.resolve("manifest.txt")
    if (!Files.exists(done)) {
      deleteTree(dir)
      val m = w.generate(dir, a.seed)
      Files.write(done, s"${m.docs} ${m.inputTokens}".getBytes(UTF_8))
    }
    val Array(d, t) = new String(Files.readAllBytes(done), UTF_8).trim.split(" ")
    (dir, Gen.Manifest(d.toInt, t.toLong))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
    finally s.close()
  }

  private def run(a: Args): Int = {
    val w = Workload(a.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val (data, manifest) = inputs(w, a)
    val out = a.work.resolve("out").resolve(w.name)
    deleteTree(out)
    Files.createDirectories(out)
    val stats = new SparkStats

    // set-up: session + warm-up pass, median of three, each scaled by the
    // reference loop's median over the set-up
    val setupRawS = ArrayBuffer.empty[Double]
    val setupHostNs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val h0 = HostSpeed.sample().toDouble
      val t0 = System.nanoTime()
      spark = session(a, cores)
      spark.sparkContext.addSparkListener(stats)
      val tracer = new Tracer(spark.sparkContext, false, "none")
      w.pass(spark, tracer, data.resolve("warm"), out)
      setupRawS += (System.nanoTime() - t0 - tracer.probeNs) / 1e9
      setupHostNs += Stats.median(h0 +: tracer.spans.map(_.hostNs).toSeq)
      if (i < Setups - 1) spark.stop()
    }
    val setupS = setupRawS.zip(setupHostNs).map { case (s, h) => HostSpeed.scale(s, h) }
    val sc = spark.sparkContext
    // the checks must only ever see what a measured pass wrote
    deleteTree(out)
    Files.createDirectories(out)

    // measured passes
    val passes = ArrayBuffer.empty[PassRec]
    var passError: Option[Throwable] = None
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    // the first full-size passes still compile and cache (their code paths
    // and plans are larger than the warm-up's), so they are run but not
    // reported; a traced run needs a reported pass of each kind
    val minPasses = w.warmPasses + (if (a.trace) 3 else 2)
    while (passError.isEmpty && (passes.size < minPasses || System.nanoTime() < deadline)) {
      val traced = a.trace && passes.size % 2 == 0
      // every pass starts from a collected heap; what survives the
      // collection is what the previous pass left behind
      System.gc()
      if (passes.nonEmpty) passes.last.retainedMb = usedHeapMb()
      Counters.reset(); stats.reset(); survivingPools.foreach(_.resetPeakUsage())
      val tracer = new Tracer(sc, traced, a.fault)
      val startMs = System.currentTimeMillis()
      try tracer.pass(w.name)(w.pass(spark, tracer, data.resolve("main"), out))
      catch { case e: Throwable => passError = Some(e); e.printStackTrace() }
      val endMs = System.currentTimeMillis()
      val peakMb = survivingPools.map(_.getPeakUsage.getUsed).sum / 1e6
      val (tasks, jobs) = stats.snapshot(sc)
      passes += PassRec(traced, tracer.passSpan.seconds - tracer.probeNs / 1e9,
        (tracer.passSpan.driverCpuNs - tracer.probeCpuNs) / 1e9,
        Stats.median(tracer.spans.map(_.hostNs).toSeq),
        peakMb, startMs, endMs, tracer, tasks, jobs, llmCounts(), Counters.callDurations)
    }

    System.gc()
    passes.last.retainedMb = usedHeapMb()
    writePasses(a.work.resolve(s"passes-${w.name}.jsonl"), passes.toVector)
    if (a.fault == "corrupt") corrupt(out)
    val checked =
      try w.check(spark, data.resolve("main"), out)
      catch { case e: Exception => Checked(1, 1, Seq(s"output check threw: $e"), "") }
    // run-level checks: seed-1 pins and repeatability, one operation
    val runProblems = ArrayBuffer.empty[String]
    if (a.seed == 1) Pinned.get(w.name).foreach { fp =>
      if (fp != checked.fingerprint)
        runProblems += s"fingerprint ${checked.fingerprint} differs from pinned $fp"
    }
    val traced = passes.filter(_.traced).toVector
    if (traced.map(_.llm).distinct.size > 1)
      runProblems += "model-layer call counts differ between identical passes"

    val reported = passes.drop(w.warmPasses).toVector
    val metrics: Map[String, Double] =
      if (passError.isDefined) Map.empty
      else if (!a.trace) endToEnd(reported, setupS.toVector, manifest)
      else {
        val probes = w.probe(spark, data.resolve("main"), a.work.resolve("probe")) ++
          Kernels.run(spark)
        writeSpans(a.work.resolve(s"trace-${w.name}.jsonl"), traced)
        val v = perLayer(reported, manifest, cores, out) ++ probes
        val calls = (v("llm.calls_per_doc"), v("llm.prompt_tokens_per_doc"))
        if (a.seed == 1) PinnedCalls.get(w.name).foreach { pin =>
          if (pin != calls) runProblems += s"calls and prompt tokens per doc $calls differ from pinned $pin"
        }
        v
      }
    spark.stop()

    val attempted = passes.map(_.tracer.calls).sum + checked.attempted + 1
    val failed = passes.map(_.tracer.failures).sum + checked.failed +
      (if (runProblems.nonEmpty) 1 else 0)
    val problems = checked.problems ++ passError.map(e => s"layer call threw: $e") ++ runProblems
    val correct = problems.isEmpty && failed == 0
    problems.foreach(p => System.err.println(s"[perfbench] FAILED: $p"))
    // measured figures, with the reference loop's ms after the slash
    System.err.println(s"[perfbench] ${w.name} seed ${a.seed}: set-ups " +
      setupRawS.zip(setupHostNs).map { case (x, h) => f"$x%.2f/${h / 1e6}%.2f" }
        .mkString(" ") + " s; passes " +
      passes.map(p => f"${p.wallS}%.2f/${p.hostNs / 1e6}%.2f${if (p.traced) "t" else ""}")
        .mkString(" ") + s" s; fingerprint ${checked.fingerprint}")
    Files.write(a.work.resolve("result.json"),
      Report.json(correct, attempted, failed, metrics).getBytes(UTF_8))
    if (correct) 0 else 1
  }

  private def llmCounts(): Map[String, Double] = {
    val tags = Counters.summarizer.asScala.toMap
    tags.flatMap { case (t, c) =>
      Seq(s"llm.calls.$t" -> c.calls.sum.toDouble,
        s"llm.prompt_tokens.$t" -> c.promptTokens.sum.toDouble,
        s"llm.output_tokens.$t" -> c.outputTokens.sum.toDouble,
        s"llm.empty_outputs.$t" -> c.empties.sum.toDouble)
    } ++ Map(
      "llm.judge_calls" -> Counters.judge.calls.sum.toDouble,
      "llm.encode_calls" -> Counters.encoder.calls.sum.toDouble)
  }

  /** Truncate the first output data file to half its length. */
  private def corrupt(out: Path): Unit = {
    val s = Files.walk(out)
    val victim = try s.iterator().asScala.filter(p => Files.isRegularFile(p) && {
      val n = p.getFileName.toString
      n.startsWith("part-") || n.endsWith(".json")
    }).toVector.sortBy(_.toString).headOption finally s.close()
    victim.foreach { p =>
      val b = Files.readAllBytes(p)
      Files.write(p, java.util.Arrays.copyOf(b, b.length / 2))
    }
  }

  /** A pass's wall time split by layer call and scaled to the reference
    * host speed, keyed by the call's name: each call's seconds, scaled by
    * the host samples around it, and under "" what no call covers, scaled
    * by the pass's median sample.
    */
  private def wallByCall(p: PassRec): Map[String, Double] = {
    val calls = p.tracer.spans.groupMapReduce(_.name)(_.scaledSeconds)(_ + _)
    val rest = p.wallS - p.tracer.spans.map(_.seconds).sum
    calls + ("" -> HostSpeed.scale(rest, p.hostNs))
  }

  /** Task CPU seconds of a pass by the layer call during which each task
    * launched (one call runs at a time); under "" tasks outside any call.
    * With `scaled`, each task's CPU is scaled to the reference host speed
    * like the wall time of its call.
    */
  private def taskCpuByCall(p: PassRec, scaled: Boolean): Map[String, Double] = {
    val iv = p.tracer.spans.map(s => (s.name, wallMs(s.startNs), wallMs(s.endNs), s.hostNs))
    p.tasks.map { t =>
      val (name, hostNs) = iv.find { case (_, a, b, _) => t.launchMs >= a && t.launchMs <= b }
        .fold(("", p.hostNs))(c => (c._1, c._4))
      name -> (if (scaled) HostSpeed.scale(t.cpuNs / 1e9, hostNs) else t.cpuNs / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The typical pass, estimated call by call: the sum over layer calls of
    * each call's median across passes. A host stall then only lifts the
    * call it hit, in one pass, instead of that whole pass. The figures are
    * already scaled to the reference host speed call by call, so a slower
    * spell of the host is corrected where it happened.
    */
  private def byCallMedian(passes: Vector[PassRec], f: PassRec => Map[String, Double]): Double = {
    val parts = passes.map(f)
    parts.flatMap(_.keys).distinct.map(k => Stats.median(parts.map(_.getOrElse(k, 0.0)))).sum
  }

  private def endToEnd(passes: Vector[PassRec], setupS: Vector[Double],
      m: Gen.Manifest): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS),
    "input_tokens_per_s" -> m.inputTokens / byCallMedian(passes, wallByCall),
    "task_cpu_s" -> byCallMedian(passes, taskCpuByCall(_, scaled = true)),
    "peak_heap_mb" -> Stats.median(passes.map(_.peakHeapMb)))

  /** Total length of the union of [lo, hi) intervals, clipped to [a, b). */
  private def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var end = a
    iv.map { case (lo, hi) => (math.max(lo, a), math.min(hi, b)) }
      .filter { case (lo, hi) => hi > lo }.sortBy(_._1).foreach { case (lo, hi) =>
        if (hi > end) { total += hi - math.max(lo, end); end = hi }
      }
    total
  }

  private def perLayer(passes: Vector[PassRec], m: Gen.Manifest, cores: Int,
      out: Path): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val perPass = traced.map(p => passLayerMetrics(p, m, cores))
    val names = perPass.flatMap(_.keys).distinct
    val medians = names.map(n => n -> Stats.median(perPass.map(_.getOrElse(n, 0.0)))).toMap
    val (mb, files) = written(out)
    val tracedS = Stats.median(traced.map(_.wallS))
    medians ++ Map(
      "sinks.mb_written" -> mb, "sinks.files_written" -> files.toDouble,
      "trace.pass_s" -> tracedS,
      "trace.overhead_frac" -> (tracedS / Stats.median(untraced.map(_.wallS)) - 1),
      "host.ref_loop_ms" -> Stats.median(traced.map(_.hostNs / 1e6)))
  }

  private def written(out: Path): (Double, Long) = {
    val s = Files.walk(out)
    try {
      val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_")).toVector
      (fs.map(Files.size).sum / 1e6, fs.size.toLong)
    } finally s.close()
  }

  private def passLayerMetrics(p: PassRec, m: Gen.Manifest, cores: Int): Map[String, Double] = {
    val spans = p.tracer.spans.toVector
    val passMs = math.max(1L, p.endMs - p.startMs)
    def jobsOf(s: Span) = p.jobs.filter(_.group == s"span-${s.id}")
    val cpuByCall = taskCpuByCall(p, scaled = false)

    // a strategy's plan runs in its own call (driver loops, eager jobs)
    // and in the sink call that writes it (the lazy rest), so both count;
    // the part of them that none of their jobs covers is driver time
    val strategy = Workload.Strategies5.flatMap { s =>
      val own = spans.filter(x => (x.layer == "strategy" && x.name == s) ||
        x.name == s"sinks.writeSummaryTable[$s]")
      val jobs = own.map(x => x -> jobsOf(x))
      Seq(s"strategy.$s.wall_s" -> own.map(_.seconds).sum,
        s"strategy.$s.self_s" -> jobs.map { case (x, js) =>
          val (a, b) = (wallMs(x.startNs), wallMs(x.endNs))
          ((b - a) - covered(js.map(j => (j.startMs, j.endMs)), a, b)) / 1e3
        }.sum,
        s"strategy.$s.task_cpu_s" -> own.map(x => cpuByCall.getOrElse(x.name, 0.0)).sum,
        s"strategy.$s.driver_cpu_s" -> own.map(_.driverCpuNs).sum / 1e9,
        s"strategy.$s.jobs" -> jobs.map(_._2.size).sum.toDouble)
    }
    val llmCalls = Workload.Strategies5.map(s => p.llm.getOrElse(s"llm.calls.$s", 0.0)).sum
    val promptToks = Workload.Strategies5.map(s => p.llm.getOrElse(s"llm.prompt_tokens.$s", 0.0)).sum
    val durMs = p.durations.map(_ / 1e6).toSeq
    val llmS = p.durations.sum / 1e9
    val judge = p.llm("llm.judge_calls")
    val llm = Workload.Strategies5.flatMap(s => Seq(
        s"llm.calls.$s" -> p.llm.getOrElse(s"llm.calls.$s", 0.0),
        s"llm.prompt_tokens.$s" -> p.llm.getOrElse(s"llm.prompt_tokens.$s", 0.0))) ++ Seq(
      "llm.call_s" -> llmS,
      "llm.call_p50_ms" -> Stats.quantile(durMs, 0.5),
      "llm.call_p99_ms" -> Stats.quantile(durMs, 0.99),
      "llm.in_flight_mean" -> llmS / p.wallS,
      "llm.output_tokens" -> Workload.Strategies5.map(s =>
        p.llm.getOrElse(s"llm.output_tokens.$s", 0.0)).sum,
      "llm.empty_outputs" -> Workload.Strategies5.map(s =>
        p.llm.getOrElse(s"llm.empty_outputs.$s", 0.0)).sum,
      "llm.judge_calls" -> judge,
      "llm.encode_calls" -> p.llm("llm.encode_calls"),
      "llm.calls_per_doc" -> (llmCalls + judge) / m.docs,
      "llm.prompt_tokens_per_doc" -> promptToks / m.docs)

    val taskIv = p.tasks.map(t => (t.launchMs, t.finishMs))
    val busyMs = p.tasks.map(_.runMs).sum
    val stages = p.tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      (d.sum, d.max / math.max(1.0, Stats.median(d)))
    }
    val skew = if (stages.isEmpty) 1.0
      else stages.map { case (w, s) => w * s }.sum / math.max(1.0, stages.map(_._1).sum)
    val spark = Seq(
      "spark.tasks" -> p.tasks.size.toDouble,
      "spark.jobs" -> p.jobs.size.toDouble,
      "spark.task_cpu_s" -> p.tasks.map(_.cpuNs).sum / 1e9,
      "spark.task_run_s" -> busyMs / 1e3,
      "spark.gc_s" -> p.tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> p.tasks.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.spill_mb" -> p.tasks.map(_.spillBytes).sum / 1e6,
      "spark.core_busy_frac" -> busyMs.toDouble / (passMs * cores),
      "spark.no_task_s" -> (passMs - covered(taskIv, p.startMs, p.endMs)) / 1e3,
      "spark.stage_skew" -> skew)

    val trace = Seq("trace.span_coverage" -> spans.map(_.seconds).sum / p.wallS,
      "trace.driver_cpu_s" -> p.driverCpuS, "jvm.retained_heap_mb" -> p.retainedMb)
    (strategy ++ llm ++ spark ++ trace).toMap
  }

  /** Every pass, one JSON object a line: whether it was traced, its
    * measured wall seconds, the reference loop's median ms over it, and
    * each layer call's measured seconds and reference loop ms.
    */
  private def writePasses(path: Path, passes: Vector[PassRec]): Unit = {
    val lines = passes.zipWithIndex.map { case (p, i) =>
      val calls = p.tracer.spans.map(s => s"[${Report.str(s.name)},${s.seconds},${s.hostNs / 1e6}]")
      s"""{"pass":$i,"traced":${p.traced},"wall_s":${p.wallS},"host_ms":${p.hostNs / 1e6},""" +
        s""""calls":${calls.mkString("[", ",", "]")}}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Spans of the traced passes, one JSON object a line: the pass, its
    * layer calls, and the Spark jobs each layer call ran.
    */
  private def writeSpans(path: Path, traced: Vector[PassRec]): Unit = {
    val lines = traced.zipWithIndex.flatMap { case (p, i) =>
      def line(id: String, parent: String, layer: String, name: String, a: Long, b: Long) =
        s"""{"pass":$i,"id":"$id","parent":"$parent","layer":"$layer",""" +
          s""""name":${Report.str(name)},"start_ms":$a,"end_ms":$b}"""
      val ps = p.tracer.passSpan
      line(s"$i.${ps.id}", "", "pass", ps.name, wallMs(ps.startNs), wallMs(ps.endNs)) +:
        p.tracer.spans.toVector.flatMap { s =>
          line(s"$i.${s.id}", s"$i.${s.parent}", s.layer, s.name,
            wallMs(s.startNs), wallMs(s.endNs)) +:
            p.jobs.filter(_.group == s"span-${s.id}").map(j =>
              line(s"$i.job${j.id}", s"$i.${s.id}", "spark", s"job ${j.id}", j.startMs, j.endMs))
        }
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** The run's result as run.py reads it: metric values by name. The names'
  * units and which of them a run prints come from `BENCHMARK.json`.
  */
object Report {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Double]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s"${str(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
