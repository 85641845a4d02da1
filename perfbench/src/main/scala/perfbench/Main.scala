package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness. One client thread runs a workload's ops in a closed
  * loop: the next op starts when the previous one has returned its whole
  * result. After set-up (session, inputs, the workload's warm-up cycles of
  * every op) it runs whole cycles until `--seconds` have passed, then prints
  * one JSON line. With `--trace 1`, traced and untraced cycles alternate; the traced
  * ones record spans and Spark jobs and stages, and the line carries the
  * per-layer metrics and the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *   --data DIR --work DIR --expected FILE [--smoke] [--record FILE]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val args = parse(argv)
    val cores = args("cores").toInt
    val work = new File(args("work"))
    val spark = session(cores, work)
    val expected = loadExpected(args("expected"))
    val smoke = args.contains("smoke")
    val seed = args.getOrElse("seed", "1").toLong
    var allCorrect = true
    try {
      val runs =
        if (smoke) for (w <- Workloads.names; t <- Seq(false, true)) yield (w, t)
        else Seq((args("workload"), args("trace") == "1"))
      runs.foreach { case (w, traced) =>
        val ctx = Ctx(spark, seed, args("data"), work, expected, smoke)
        val start = if (smoke) System.currentTimeMillis().toDouble else jvmStart
        val seconds = if (smoke) 0.0 else args("seconds").toDouble
        val r = new Run(Workloads(w, ctx), ctx, cores, traced, seconds, start)
        val result = try r.execute(args.get("record")) finally r.workload.cleanup()
        allCorrect &&= r.correct
        println(result)
      }
    } finally spark.stop()
    System.out.flush()
    sys.exit(if (allCorrect) 0 else 1)
  }

  private def parse(argv: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (i + 1 < argv.length && !argv(i + 1).startsWith("--")) {
        m(k) = argv(i + 1); i += 2
      } else { m(k) = "true"; i += 1 }
    }
    m.toMap
  }

  /** The session settings of `graft.Bench`, plus scratch locations inside
    * the work directory.
    */
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Lines of `workload/op <TAB> digest <TAB> how it was certified`. */
  private def loadExpected(path: String): Map[String, String] =
    Files.readAllLines(new File(path).toPath, StandardCharsets.UTF_8).asScala
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  /** (bytes, files) under `dir`. */
  def dirSize(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (dir.length, 1L)
    else Option(dir.listFiles()).getOrElse(Array.empty[File]).map(dirSize)
      .foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }

  def peakRssMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] if m.forall(_.isInstanceOf[(_, _)]) =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case null => "null"
    case x => json(x.toString)
  }
}

/** One workload run: set-up, warm-up cycles, timed cycles, report. */
final class Run(val workload: Workload, ctx: Ctx, cores: Int, trace: Boolean,
    seconds: Double, startMs: Double) {
  import Main._
  private val spark = ctx.spark
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  // epoch milliseconds with nanosecond resolution, comparable to Spark's
  // listener timestamps
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private var nextId = 0
  private var recording = false
  private val recorded = mutable.ArrayBuffer.empty[String]
  var correct = true

  private def gcSeconds: Double = gcBeans.map(_.getCollectionTime).sum / 1000.0

  private def setSpan(id: Long, traced: Boolean): Unit =
    if (traced) sc.setLocalProperty(Tracer.Key, id.toString)

  private def runOp(op: Op, cycle: Int, traced: Boolean): OpRecord = {
    val rec = new OpRecord(nextId, op, cycle, traced)
    nextId += 1
    val before = if (op.write && traced) Some(dirSize(tables)) else None
    val gc0 = if (traced) gcSeconds else 0.0
    var out: Output = NoRows
    rec.start = now
    try {
      setSpan(4L * rec.id + 1, traced)
      val call = op.call()
      rec.built = now
      out = call match {
        case Frame(df) =>
          setSpan(4L * rec.id + 2, traced)
          // forcing the optimized plan first splits planning into
          // Catalyst optimization and physical planning
          val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
          qe.optimizedPlan
          val optimized = now
          qe.executedPlan
          rec.planned = now
          rec.optimizationS = (optimized - rec.built) / 1000.0
          rec.planningS = (rec.planned - optimized) / 1000.0
          setSpan(4L * rec.id + 3, traced)
          rec.executed = now
          Rows(df.collect())
        case Pairs(rdd) =>
          setSpan(4L * rec.id + 3, traced)
          rec.executed = now
          KeyCounts(rdd.collect())
        case Written => NoRows
      }
      rec.end = now
    } catch {
      case e: Throwable =>
        rec.end = now
        rec.ok = false
        rec.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    } finally if (traced) sc.setLocalProperty(Tracer.Key, null)
    if (traced) {
      rec.gcS = gcSeconds - gc0
      for ((b0, f0) <- before) {
        val (b1, f1) = dirSize(tables)
        rec.bytesWritten = b1 - b0
        rec.filesWritten = f1 - f0
      }
    }
    out match {
      case Rows(rows) if recording => recorded += s"${workload.name}/${op.name}\t${Digest.of(rows)}"
      case _ =>
    }
    if (rec.ok) op.check(out).foreach { e => rec.ok = false; rec.error = e }
    if (!rec.ok) failures += s"${op.name}: ${rec.error}"
    rec
  }

  /** Where storage ops write; its size delta is a write op's output. */
  private val tables = new File(ctx.work, "tables")

  /** Runs one cycle. In a traced run, an op is traced in every other
    * cycle, alternating by op, so each op runs traced and untraced equally
    * often and the untraced ones are the control for the tracing overhead.
    * The listener is attached only while a traced op runs.
    */
  private def runCycle(ops: Seq[Op], cycle: Int): Seq[OpRecord] = {
    workload.beforeCycle()
    val index = ops.map(_.name).sorted.zipWithIndex.toMap
    ops.map { op =>
      val traced = trace && cycle >= 0 && (index(op.name) + cycle) % 2 == 0
      if (traced) sc.addSparkListener(tracer)
      val rec = runOp(op, cycle, traced)
      if (traced) {
        org.apache.spark.sql.graftshim.Bridge.waitForListeners(spark)
        sc.removeSparkListener(tracer)
      }
      rec
    }
  }

  def execute(record: Option[String]): String = {
    val rng = new scala.util.Random(ctx.seed)
    val sessionS = (now - startMs) / 1000.0
    val facts = workload.prepare()
    val preparedS = (now - startMs) / 1000.0
    val warm = (1 to (if (ctx.smoke) 1 else workload.warmupCycles)).flatMap { i =>
      recording = record.isDefined && i == 1
      runCycle(workload.cycle(rng), -1)
    }
    recording = false
    record.foreach(path => Files.write(new File(path).toPath, recorded.asJava,
      StandardCharsets.UTF_8, java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND))
    val setupS = (now - startMs) / 1000.0
    val setupParts = Seq("session_s" -> sessionS, "inputs_s" -> (preparedS - sessionS),
      "warmup_s" -> (setupS - preparedS))
    val t0 = now
    var cycle = 0
    val minCycles = if (trace) 2 else 1
    while (cycle < minCycles || (now - t0) / 1000.0 < seconds) {
      records ++= runCycle(workload.cycle(rng), cycle)
      cycle += 1
    }
    val lat = records.map(_.seconds).toSeq
    val failed = records.count(!_.ok)
    correct = warm.forall(_.ok) && failed == 0
    failures.distinct.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val samples = records.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, v) => k -> v.size }
    val info = Seq[(String, Any)](
      "workload" -> workload.name, "seed" -> ctx.seed, "nproc" -> cores,
      "trace" -> trace, "run_seconds" -> seconds, "cycles" -> cycle,
      "ops" -> records.size, "samples_per_kind" -> samples,
      "failed_op_share" -> failed.toDouble / math.max(1, records.size),
      "op_median_s" -> records.groupBy(_.op.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => n -> median(rs.map(_.seconds).toSeq) },
      "setup_parts" -> setupParts,
      "cycle_seconds" -> records.groupBy(_.cycle).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.map(_.seconds).sum }) ++
      facts ++
      Seq("op_p50_s" -> median(lat), "ops_per_s_all_runs" -> lat.size / lat.sum) ++
      (if (lat.size >= 100) Seq("op_p90_s" -> percentile(lat, 0.9)) else Nil) ++
      workload.storedPerInput().map("stored_bytes_per_input_byte" -> _).toSeq
    println("[perfbench] info " + json(info))
    // each op's fastest run in the window, as graft.Bench takes the
    // minimum of repeated runs: transient slowdowns of a shared machine
    // only ever add time
    val fastest = records.groupBy(_.op.name).values.map(_.map(_.seconds).min).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", fastest.size / fastest.sum, "1/s"),
        ("op_geomean_s", math.exp(fastest.map(math.log).sum / fastest.size), "s"))
      else layers(cycle)
    json(Seq(
      "correct" -> correct, "attempted" -> records.size, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }))
  }

  private def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1))
  }

  /** Per-layer figures of the traced cycles, median per op over the run. */
  private def layers(cycles: Int): Seq[(String, Double, String)] = {
    val traced = records.filter(_.traced).toSeq
    val plain = records.filterNot(_.traced).toSeq
    val jobs = tracer.jobs.toSeq
    val stages = tracer.stages.toSeq
    def opJobs(r: OpRecord) = jobs.filter(j => r.spans.contains(j.span))
    def opStages(r: OpRecord) = stages.filter(s => r.spans.contains(s.span))
    def med(f: OpRecord => Double) = median(traced.map(f))
    def sumS(r: OpRecord)(f: StageRec => Double) = opStages(r).map(f).sum
    def jobIntervals(r: OpRecord, span: Long) = opJobs(r).filter(_.span == span)
      .map(j => (j.start.toDouble, if (j.end > 0) j.end.toDouble else r.end))
    def stageIntervals(r: OpRecord) = opStages(r).filter(_.start > 0)
      .map(s => (s.start.toDouble, s.end.toDouble))
    val mb = 1024.0 * 1024.0
    // the same ops, traced and untraced, in the same cycles
    val both = traced.map(_.op.name).toSet intersect plain.map(_.op.name).toSet
    def total(rs: Seq[OpRecord]) = rs.filter(r => both(r.op.name)).map(_.seconds).sum
    val overhead = total(traced) / total(plain) - 1
    val generic = Seq(
      ("build_s", med(_.buildS), "s"),
      ("build_self_s", med(r => r.buildS -
        Tracer.covered(jobIntervals(r, 4L * r.id + 1), r.start, r.built) / 1000), "s"),
      ("build_jobs", med(r => opJobs(r).count(_.span == 4L * r.id + 1).toDouble), "count"),
      ("plan_s", median(traced.filter(_.planned > 0).map(_.planS)), "s"),
      ("plan_optimization_s", median(traced.filter(_.planned > 0).map(_.optimizationS)), "s"),
      ("plan_planning_s", median(traced.filter(_.planned > 0).map(_.planningS)), "s"),
      ("exec_s", median(traced.filter(_.executed > 0).map(_.execS)), "s"),
      ("jobs", med(r => opJobs(r).size.toDouble), "count"),
      ("stages", med(r => opStages(r).size.toDouble), "count"),
      ("tasks_per_stage", median(traced.filter(r => opStages(r).nonEmpty)
        .map(r => sumS(r)(_.tasks.toDouble) / opStages(r).size)), "count"),
      ("idle_share", med(r => 1 - Tracer.covered(stageIntervals(r), r.start, r.end) /
        math.max(1e-9, r.end - r.start)), "share"),
      ("task_run_s", med(r => sumS(r)(_.runMs / 1000.0)), "s"),
      ("task_cpu_s", med(r => sumS(r)(_.cpuNs / 1e9)), "s"),
      ("core_busy_share", med(r => sumS(r)(_.runMs / 1000.0) / (r.seconds * cores)), "share"),
      ("gc_s", traced.map(_.gcS).sum / traced.size, "s"),
      ("shuffle_write_mb", med(r => sumS(r)(_.shuffleWrite / mb)), "MB"),
      ("shuffle_read_mb", med(r => sumS(r)(_.shuffleRead / mb)), "MB"),
      ("spill_mb", traced.map(r => sumS(r)(_.spill / mb)).sum / traced.size, "MB"),
      ("input_mb", med(r => sumS(r)(_.inputBytes / mb)), "MB"),
      ("input_records", med(r => sumS(r)(_.inputRecords.toDouble)), "count"),
      ("files_written", traced.map(_.filesWritten.toDouble).sum / traced.size, "count"),
      ("bytes_written_mb", traced.map(_.bytesWritten / mb).sum / traced.size, "MB"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("trace_overhead_share", overhead, "share"))
    val kinds = traced.groupBy(_.op.kind).toSeq.sortBy(_._1)
      .map { case (k, rs) => (s"${k}_s", median(rs.map(_.seconds)), "s") }
    val extra = kinds ++ workload.extraLayers() ++
      workload.storedPerInput().map(v => ("stored_bytes_per_input_byte", v, "ratio")).toSeq
    println("[perfbench] layers " + json(extra.map { case (n, v, u) =>
      n -> Seq("value" -> v, "unit" -> u) }))
    writeSpans(traced, jobs, stages)
    generic
  }

  /** Spans of the traced cycles: ops, their build/plan/exec children, and
    * the Spark jobs and stages each child submitted, with self time.
    */
  private def writeSpans(traced: Seq[OpRecord], jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val out = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, name: String, s: Double, e: Double, self: Double) =
      out += json(Seq("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> s, "end_ms" -> e, "self_s" -> self))
    traced.foreach { r =>
      val phases = Seq((1, "build", r.start, r.built)) ++
        (if (r.planned > 0) Seq((2, "plan", r.built, r.planned)) else Nil) ++
        (if (r.executed > 0) Seq((3, "exec", r.executed, r.end)) else Nil)
      span(s"${4L * r.id}", null, s"op:${r.op.name}", r.start, r.end,
        r.seconds - Tracer.covered(phases.map(p => (p._3, p._4)), r.start, r.end) / 1000)
      phases.foreach { case (i, n, s, e) =>
        val sid = 4L * r.id + i
        val js = jobs.filter(_.span == sid)
          .map(j => (j.start.toDouble, if (j.end > 0) j.end.toDouble else e))
        span(s"$sid", s"${4L * r.id}", n, s, e, (e - s - Tracer.covered(js, s, e)) / 1000)
      }
    }
    jobs.foreach(j => span(s"job${j.id}", s"${j.span}", "job", j.start, j.end, Double.NaN))
    stages.foreach(s => span(s"stage${s.id}.${s.attempt}", s"${s.span}", "stage",
      s.start, s.end, Double.NaN))
    val dir = new File(ctx.work, "traces")
    dir.mkdirs()
    val f = new File(dir, s"${workload.name}-seed${ctx.seed}.json")
    Files.write(f.toPath, out.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] spans ${f.getPath}")
  }
}
