package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                --cores C --work DIR --inputs-tag T [--gen-only]
  * }}}
  *
  * Set-up starts the session and runs one warm-up iteration; then
  * iterations run back to back (closed loop, one client) until `S`
  * seconds are used. With `--trace 0` every iteration is untraced and the
  * end-to-end metrics are printed; with `--trace 1` traced and untraced
  * iterations alternate, and the per-layer metrics are printed. The last
  * line of stdout is the JSON result. */
object Main {

  /** End-to-end metrics, in print order, with units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "cpu_s" -> "s", "write_amp" -> "ratio",
    "space_amp" -> "ratio")

  private def unitOf(field: String): String =
    if (field == "s" || field.endsWith("_s")) "s"
    else if (field.endsWith("_mb")) "MB"
    else if (Set("append_ratio", "busy_frac", "coverage", "jobs_per_batch")(field)) "ratio"
    else "count"

  private def layer(span: String, fields: String*): Seq[String] = fields.map(f => s"$span.$f")

  /** Per-layer metrics, `<layer>.<call>.<what>`, in print order. */
  val perLayer: Seq[(String, String)] = (
    layer("sources.table", "s", "files", "bytes_mb") ++
    Seq("news", "posts", "bars").flatMap(f =>
      layer(s"transforms.$f", "s", "exec_cpu_s", "shuffle_write_mb", "rows_out")) ++
    layer("warehouse.conform", "s") ++
    layer("sinks.write_partitioned", "s", "files_written", "bytes_written_mb") ++
    layer("sinks.append_new", "s", "rows_in", "rows_appended", "append_ratio",
      "files_scanned", "jobs") ++
    layer("streaming.fold", "s", "batches", "jobs", "jobs_per_batch", "files_written") ++
    layer("streaming.batch", "latest_offset_s", "get_batch_s", "query_planning_s",
      "add_batch_s", "wal_commit_s", "commit_offsets_s") ++
    layer("bucketed.read", "s", "files_read", "versions_on_disk") ++
    layer("neardup.write_index", "s", "exec_cpu_s", "shuffle_write_mb", "bytes_written_mb") ++
    layer("corpus.curate", "s", "exec_cpu_s", "shuffle_write_mb", "spill_mb",
      "rows_in", "rows_out") ++
    Seq("pagerank", "ppr", "warmstart").flatMap(g =>
      layer(s"graph.$g", "s", "jobs", "stages", "exec_cpu_s", "shuffle_write_mb",
        "shuffle_read_mb")) ++
    layer("spark", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "task_wait_s",
      "busy_frac", "spill_mb", "retained_disk_mb") ++
    layer("jvm", "process_cpu_s", "gc_s", "jit_s", "code_cache_mb", "retained_heap_mb") ++
    layer("bench", "step_p50_s", "read_s") ++
    layer("bench.reload", "s") ++ layer("bench.write", "s") ++ layer("bench.read", "s") ++
    layer("trace", "overhead_s", "coverage")
  ).map(m => m -> unitOf(m.substring(m.lastIndexOf('.') + 1)))

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, cores: Int = 4, work: String = ".bench_work",
      inputsTag: String = "", genOnly: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, o.copy(cores = v.toInt))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--inputs-tag" :: v :: t => parse(t, o.copy(inputsTag = v))
    case "--gen-only" :: t => parse(t, o.copy(genOnly = true))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** The session settings of the repo's own bench harness, with every
    * directory Spark writes to inside the benchmark's work dir. */
  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("graft.stream.shufflePartitions", "8")
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
  private def procCpuS: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private def gcS: Double = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g => t += math.max(0L, g.getCollectionTime))
    t / 1e3
  }
  private def jitS: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime / 1e3)
    .getOrElse(0.0)
  private def codeCacheMb: Double = {
    var b = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
        b += p.getUsage.getUsed
    }
    b / 1e6
  }
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** One measured iteration. */
  final case class Iter(index: Int, traced: Boolean, wall: Double, cpu: Double,
      steps: Seq[Double], readS: Double, outBytes: Long, spaceBytes: Long,
      engine: Map[String, Double], gc: Double, jit: Double, codeCache: Double,
      heapMb: Double, diskMb: Double, checks: Seq[(String, Boolean)],
      fingerprint: String, notes: Map[String, Double], rootSpan: Int)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl = Workloads.byName(o.workload)
    val work = new java.io.File(o.work).getAbsoluteFile.getPath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.copy(work = work))
    val counters = new EngineCounters
    val progress = new StreamProgress
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // inputs: generated once per (workload, seed); not a program metric
    val inDir = s"$work/inputs/${wl.name}-seed${o.seed}-${o.inputsTag}"
    val genT0 = System.nanoTime()
    val summaryFile = new java.io.File(inDir, "_SUMMARY.json")
    if (!summaryFile.isFile) {
      Files.delete(inDir)
      val summary = wl.generate(o.seed, inDir)
      java.nio.file.Files.write(summaryFile.toPath, Json.value(summary).getBytes("UTF-8"))
    }
    val inputSummary = new String(java.nio.file.Files.readAllBytes(summaryFile.toPath), "UTF-8")
    val genS = (System.nanoTime() - genT0) / 1e9
    def phase(msg: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $msg")
    phase(f"session up in $sessionS%.1f s, inputs ready in $genS%.1f s")
    val inputBytes = Files.stats(inDir, _.endsWith(".parquet"))._2

    if (o.genOnly) {
      def tables(d: java.io.File): Seq[java.io.File] =
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.sortBy(_.getName)
          .flatMap(f => if (f.getName.endsWith(".parquet")) Seq(f)
            else if (f.isDirectory) tables(f) else Nil)
      val root = new java.io.File(inDir).toPath
      val digests = tables(new java.io.File(inDir)).map(f =>
        root.relativize(f.toPath).toString -> Workloads.contentHash(spark.read.parquet(f.getPath)))
      println(Json.obj(digests))
      spark.stop()
      return
    }

    val outDir = s"$work/out"
    val tmpDir = System.getProperty("java.io.tmpdir")
    val localDir = s"$work/spark-local"
    val tracer = new Tracer(counters)
    val ctx = new Ctx(spark, tracer, progress, inDir, outDir)
    var failed = 0
    var attempted = 0
    val failures = ArrayBuffer.empty[String]

    def runChecks(it: Int, out: Outcome): (Seq[(String, Boolean)], String) = {
      val checks = out.checks()
      val fp = out.fingerprint()
      attempted += checks.size
      checks.filterNot(_._2).foreach { case (n, _) =>
        failed += 1; failures += s"iteration $it: $n" }
      (checks, fp)
    }

    // set-up: one warm-up iteration after the session start
    var setupS = Double.NaN
    var warmFingerprint = ""
    var heap0, disk0 = 0.0
    def setUp(): Unit = {
      Files.delete(outDir)
      new java.io.File(outDir).mkdirs()
      val warmT0 = System.nanoTime()
      ctx.reset()
      val warmOut = wl.iterate(ctx)
      setupS = sessionS + (System.nanoTime() - warmT0) / 1e9
      attempted += ctx.calls
      warmFingerprint = runChecks(-1, warmOut)._2
      phase(f"set-up done: $setupS%.1f s")
      Files.delete(outDir)
      heap0 = heapAfterGcMb()
      disk0 = (Files.bytes(localDir) + Files.bytes(tmpDir)).toDouble
    }

    def iteration(i: Int, traced: Boolean): Iter = {
      new java.io.File(outDir).mkdirs()
      ctx.reset()
      tracer.begin(i, traced)
      counters.quiesce()
      val e0 = counters.snapshot()
      val (cpu0, gc0, jit0) = (procCpuS, gcS, jitS)
      val t0 = System.nanoTime()
      val out = tracer.span("iteration")(wl.iterate(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, gc, jit) = (procCpuS - cpu0, gcS - gc0, jitS - jit0)
      tracer.end()
      counters.quiesce()
      val engine = EngineCounters.diff(e0, counters.snapshot())
      val space = Files.bytes(outDir) + Files.bytes(tmpDir)
      attempted += ctx.calls
      val (checks, fp) = runChecks(i, out)
      phase(f"iteration $i${if (traced) " (traced)" else ""}: $wall%.2f s")
      Files.delete(outDir)
      val heap = heapAfterGcMb() - heap0
      val disk = (Files.bytes(localDir) + Files.bytes(tmpDir) - disk0) / 1e6
      Iter(i, traced, wall, cpu, ctx.steps.toSeq, ctx.readS,
        (engine("output_mb") * 1e6).toLong, space, engine, gc, jit, codeCacheMb,
        heap, disk, checks, fp, ctx.notes.toMap,
        tracer.recorded.filter(s => s.iteration == i && s.name == "iteration")
          .map(_.id).headOption.getOrElse(-1))
    }

    // the measured loop: start another iteration while it is expected
    // to finish inside the time budget; the trace run alternates
    // untraced and traced iterations and runs at least untraced, traced,
    // untraced, so a drift over the run does not bias the overhead
    val iters = ArrayBuffer.empty[Iter]
    var loopT0 = 0L
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    def need = iters.isEmpty || (o.trace && iters.size < 3)
    try {
      setUp()
      loopT0 = System.nanoTime()
      while (need || elapsed + Stats.median(iters.map(_.wall).toSeq) <= o.seconds) {
        iters += iteration(iters.size, traced = o.trace && iters.size % 2 == 1)
      }
    } catch {
      case e: Throwable =>
        failed += 1; attempted += 1
        failures += s"iteration ${if (setupS.isNaN) -1 else iters.size}: " +
          s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    val fps = (warmFingerprint +: iters.map(_.fingerprint).toSeq).filter(_.nonEmpty).distinct
    attempted += 1
    if (fps.size > 1) { failed += 1; failures += s"result differs across iterations: $fps" }

    val untraced = iters.filterNot(_.traced).toSeq
    val traced = iters.filter(_.traced).toSeq
    def med(xs: Seq[Double]) = Stats.median(xs)

    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "run_s" -> med(untraced.map(_.wall)),
      "cpu_s" -> med(untraced.map(_.engine("exec_cpu_s"))),
      "write_amp" -> med(untraced.map(_.outBytes.toDouble / inputBytes)),
      "space_amp" -> med(untraced.map(_.spaceBytes.toDouble / inputBytes)))

    val spans = tracer.recorded
    val layers: Map[String, Double] = {
      // per traced iteration: totals over every span of a name
      def spanField(it: Iter, span: String, field: String): Double = {
        val ss = spans.filter(s => s.iteration == it.index && s.name == span)
        field match {
          case "s" => ss.map(_.seconds).sum
          case f if ss.exists(_.counters.contains(f)) => ss.map(_.counters.getOrElse(f, 0.0)).sum
          case f => ss.map(_.notes.getOrElse(f, 0.0)).sum
        }
      }
      def perTraced(f: Iter => Double) = med(traced.map(f))
      def perUntraced(f: Iter => Double) = med(untraced.map(f))
      perLayer.map(_._1).map { m =>
        val dot = m.lastIndexOf('.')
        val (span, field) = (m.substring(0, dot), m.substring(dot + 1))
        val v = m match {
          case "sinks.append_new.append_ratio" => perTraced { it =>
            val in = spanField(it, span, "rows_in")
            if (in == 0) 0.0 else spanField(it, span, "rows_appended") / in }
          case "streaming.fold.jobs_per_batch" => perTraced { it =>
            val b = it.notes.getOrElse("streaming.fold.batches", 0.0)
            if (b == 0) 0.0 else spanField(it, span, "jobs") / b }
          case "spark.busy_frac" =>
            perUntraced(it => it.engine("exec_run_s") / (it.wall * o.cores))
          case "spark.retained_disk_mb" => perUntraced(_.diskMb)
          case _ if span == "spark" => perUntraced(_.engine(field))
          case "bench.step_p50_s" => med(untraced.flatMap(_.steps))
          case "bench.read_s" => perUntraced(_.readS)
          case "jvm.process_cpu_s" => perUntraced(_.cpu)
          case "jvm.gc_s" => perUntraced(_.gc)
          case "jvm.jit_s" => perUntraced(_.jit)
          case "jvm.code_cache_mb" => perUntraced(_.codeCache)
          case "jvm.retained_heap_mb" => perUntraced(_.heapMb)
          case "trace.overhead_s" => med(traced.map(_.wall)) - med(untraced.map(_.wall))
          case "trace.coverage" => perTraced { it =>
            val top = spans.filter(s => s.iteration == it.index && s.parent == it.rootSpan)
            top.map(_.seconds).sum / it.wall }
          case _ => perTraced(it => it.notes.getOrElse(m, spanField(it, span, field)))
        }
        m -> v
      }.toMap
    }

    // details for people: every metric, the inputs, the venue, the checks
    val tag = s"${wl.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    if (o.trace) tracer.write(java.nio.file.Paths.get(work, "trace", s"$tag.spans.jsonl"))
    val venue = Map("cores" -> o.cores, "nproc" -> Runtime.getRuntime.availableProcessors,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6)
    val details = Json.obj(Seq("workload" -> wl.name, "seed" -> o.seed,
      "venue" -> venue, "gen_s" -> genS, "input_bytes" -> inputBytes,
      "iterations" -> iters.map(it => Map("traced" -> it.traced, "wall_s" -> it.wall,
        "cpu_s" -> it.cpu, "exec_cpu_s" -> it.engine("exec_cpu_s"),
        "steps" -> it.steps.size, "read_s" -> it.readS,
        "checks" -> it.checks.count(_._2), "checks_failed" -> it.checks.count(!_._2))).toSeq,
      "failures" -> failures.toSeq, "end_to_end" -> e2e, "per_layer" -> layers))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work, "results"))
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "results", s"$tag.json"),
      details.getBytes("UTF-8"))
    failures.foreach(f => System.err.println(s"FAILED $f"))
    println(s"# ${wl.name} inputs: $inputSummary")

    val (names, values) = if (o.trace) (perLayer, layers) else (endToEnd, e2e)
    val correct = failed == 0 && iters.nonEmpty
    println(Json.obj(Seq("correct" -> correct, "attempted" -> math.max(1, attempted),
      "failed" -> failed, "metrics" -> ListMap(names.map { case (n, u) =>
        n -> ListMap("value" -> values(n), "unit" -> u) }: _*))))
    System.out.flush()
    spark.stop()
    if (!correct) System.exit(1)
  }
}
