package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Metric names, units and directions; BENCHMARK.json lists the same. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  /** Printed with --trace 0, on every workload. */
  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("op_p50_ms", "ms", "lower"))

  /** Layers the benchmark opens spans around. The index layer has
    * none: graft reads its indexes inside DSv2 planning and
    * Vcf.readIntervals, so that time is dsv2 and vcf self time. */
  val selfTimeLayers: Seq[String] = Seq("bench", "dsv2", "bam", "vcf", "plans", "writer", "exec")

  /** Printed with --trace 1, on every workload (0 where the layer is idle). */
  val perLayer: Seq[M] = Seq(
    M("bgzf.inflate_mb_per_s", "MB/s", "higher"),
    M("bgzf.deflate_mb_per_s", "MB/s", "higher"),
    M("bam.decode_rec_per_s", "rec/s", "higher"),
    M("bam.encode_rec_per_s", "rec/s", "higher"),
    M("vcf.parse_rec_per_s", "rec/s", "higher"),
    M("index.plan_ms", "ms", "lower"),
    M("index.chunks_per_region", "count", "lower"),
    M("index.read_bytes_frac", "frac", "lower"),
    M("dsv2.plan_ms", "ms", "lower"),
    M("dsv2.partitions_per_op", "count", "lower"),
    M("dsv2.scans_per_op", "count", "lower"),
    M("plans.optimize_ms", "ms", "lower"),
    M("plans.rules_fired", "count", "higher"),
    M("plans.join_useful_frac", "frac", "higher"),
    M("writer.driver_tail_s", "s", "lower"),
    M("exec.jobs_per_op", "count", "lower"),
    M("exec.tasks_per_op", "count", "lower"),
    M("exec.sched_delay_ms", "ms", "lower"),
    M("exec.busy_frac", "frac", "higher"),
    M("exec.shuffle_bytes_per_rec", "B/rec", "lower"),
    M("exec.spill_bytes", "B", "lower"),
    M("exec.task_skew", "ratio", "lower"),
    M("exec.task_retries", "count", "lower"),
    M("jvm.gc_ms_per_op", "ms", "lower"),
    M("jvm.code_cache_used_mb", "MB", "lower"),
    M("trace.overhead_frac", "frac", "lower")) ++
    selfTimeLayers.map(l => M(s"$l.self_ms_per_op", "ms", "lower"))

  val NamePattern = "[A-Za-z0-9_.-]+"
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR [--git SHA] [--src SHA256]`: one run of one workload in
  * this JVM. The last line of stdout is the result object; the line
  * before it is the full report (environment, workload metrics,
  * traced layers). */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, git: String, src: String)

  /** Index builds are repeated this many times in set-up; setup_s
    * takes the median. */
  val SetupReps = 3

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "1" => true; case "0" => false
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t") },
      new File(need("work")), kv.getOrElse("git", "unknown"), kv.getOrElse("src", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    Runtime.getRuntime.halt(code)
  }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat:
    * time a virtual machine's CPUs waited for its host. */
  def cpuTicks(): (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))

  def loadavg(): String = scala.util.Try(
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("unknown")

  def peakRssMb(): Double = scala.util.Try {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
    l.split("\\s+")(1).toDouble / 1024
  }.getOrElse(Double.NaN)

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  def jitMs(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed.toDouble).sum / (1 << 20)

  /** Effective runs of graft's optimizer rules so far in this JVM,
    * from Spark's rule metering. */
  def graftRuleRuns(): Map[String, Long] = {
    val Line = """^\s*(\S+)\s+\d+ / \d+\s+(\d+) / \d+\s*$""".r
    RuleExecutor.dumpTimeSpent().split("\n").collect {
      case Line(rule, eff) if rule.startsWith("graft.") => rule -> eff.toLong
    }.toMap
  }

  final case class OpRec(id: String, ms: Double, done: Option[Done], error: Option[String])

  def run(o: Opts): Unit = {
    val load0 = loadavg()
    val ticks0 = cpuTicks()
    val w = Workloads(o.workload)
    val cores = Runtime.getRuntime.availableProcessors()
    val dir = new File(o.work, s"${o.workload}-${o.seed}")
    deleteTree(dir)
    val inputs = new File(dir, "inputs")
    inputs.mkdirs()
    val t0 = Workloads.nowMs
    val spark = graft.GraftSession.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Workloads.nowMs - t0) / 1000
    // the inputs come from the benchmark's own writers: timed, but not
    // part of setup_s
    val g0 = Workloads.nowMs
    val generated = w.generate(inputs, o.seed)
    val genS = (Workloads.nowMs - g0) / 1000
    var indexes: Seq[File] = Nil
    val indexS = (1 to SetupReps).map { _ =>
      val i0 = Workloads.nowMs
      indexes = w.buildIndexes(inputs)
      (Workloads.nowMs - i0) / 1000
    }
    val files = generated ++ indexes
    w.prepare(spark)
    val off = new Tracer(false)
    val ctx = new Ctx(spark, off, cores, dir)
    // warm-up ops take op indexes of their own, so what the measured ops
    // ask for (loci, output names) depends only on the seed; the first
    // one runs cold and belongs to set-up
    val warm = mutable.ArrayBuffer(runOp(w, ctx, "warmup-0", 1000000))
    val firstOpS = warm.head.ms / 1000
    val w0 = Workloads.nowMs
    while (warm.length < w.warmupOps || Workloads.nowMs - w0 < w.warmupSeconds * 1000)
      warm += runOp(w, ctx, s"warmup-${warm.length}", warm.length + 1000000)
    val warmS = (Workloads.nowMs - w0) / 1000
    val setupS = sessionS + Stats.median(indexS) + firstOpS

    val report = mutable.LinkedHashMap[String, Any]()
    val jit0 = jitMs()
    val (ops, layer) =
      if (!o.trace) (loop(o.seconds)(i => runOp(w, ctx, s"op-$i", i)), Map.empty[String, Double])
      else traced(w, ctx, spark, o.seconds, report)
    val jitWindowMs = jitMs() - jit0
    val attempted = warm.toSeq ++ ops
    val failed = attempted.filter(_.error.isDefined)
    failed.foreach(f => System.err.println(s"[perfbench] FAILED ${f.id}: ${f.error.get}"))

    val good = ops.filter(_.error.isEmpty)
    val ms = good.map(_.ms)
    // records materialized per second of op wall time, over all ops
    val recPerS = good.map(_.done.get.records.toDouble).sum / (ms.sum / 1000)
    val rss = peakRssMb()
    val e2e = Map("setup_s" -> setupS, "op_p50_ms" -> Stats.median(ms))
    val (tailP, tailV) = Stats.tail(ms)
    def part(k: String): Seq[Double] = good.map(_.done.get.parts(k))
    val named: Seq[(String, Any)] = (o.workload match {
      case "scan" => Seq(
        "scan_bam_rec_per_s" -> Map("value" -> part("bam_n").sum / (part("bam_ms").sum / 1000), "unit" -> "rec/s"),
        "scan_vcf_rec_per_s" -> Map("value" -> part("vcf_n").sum / (part("vcf_ms").sum / 1000), "unit" -> "rec/s"))
      case "regions" =>
        val laps = good.flatMap(_.done.get.laps)
        val (lapP, lapV) = Stats.tail(laps)
        Seq(
          "region_p50_ms" -> Map("value" -> Stats.median(laps), "unit" -> "ms", "n" -> laps.length),
          "region_tail_ms" -> Map("value" -> lapV, "unit" -> "ms", "percentile" -> lapP, "n" -> laps.length))
      case "sort_write" => Seq(
        "write_rec_per_s" -> Map("value" -> recPerS, "unit" -> "rec/s"),
        "write_bytes_per_rec" -> Map("value" -> Stats.median(good.map(r => r.done.get.parts("bytes") / r.done.get.records)), "unit" -> "B/rec"))
      case _ => Seq("join_rec_per_s" -> Map("value" -> recPerS, "unit" -> "rec/s"))
    }) ++ Seq(
      "op_p50_ms" -> Map("value" -> Stats.median(ms), "unit" -> "ms", "n" -> ms.length),
      "op_tail_ms" -> Map("value" -> tailV, "unit" -> "ms", "percentile" -> tailP, "n" -> ms.length),
      "rec_per_s" -> Map("value" -> recPerS, "unit" -> "rec/s"),
      "setup_s" -> Map("value" -> setupS, "unit" -> "s", "session_s" -> sessionS, "index_s" -> indexS,
        "first_op_s" -> firstOpS),
      "generate_s" -> Map("value" -> genS, "unit" -> "s"),
      "warmup_s" -> Map("value" -> warmS, "unit" -> "s", "ops" -> (warm.length - 1)),
      "failed_frac" -> Map("value" -> failed.length.toDouble / attempted.length, "unit" -> "frac"),
      "peak_rss_mb" -> Map("value" -> rss, "unit" -> "MB"))

    report ++= Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "env" -> Map(
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "git" -> o.git, "source_sha256" -> o.src,
        "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
        "cpu_steal_frac" -> { val t = cpuTicks()
          (t._1 - ticks0._1).toDouble / math.max(1L, t._2 - ticks0._2) },
        "inputs" -> files.map(f => f.getName -> f.length).toMap),
      "client" -> "one client, closed loop",
      "metrics" -> named.toMap,
      "warmup_op_ms" -> warm.map(_.ms),
      "op_ms" -> ops.map(_.ms),
      // JIT compiler time while the ops ran: large when warm-up was short
      "jit_ms_during_ops" -> jitWindowMs,
      "failures" -> failed.map(f => Map("op" -> f.id, "error" -> f.error.get)))
    println(Json(Map("report" -> report)))

    val out = if (o.trace) Metrics.perLayer.map(m => m.name -> (layer.getOrElse(m.name, 0.0), m.unit))
      else Metrics.endToEnd.map(m => m.name -> (e2e(m.name), m.unit))
    val line = mutable.LinkedHashMap[String, Any](
      "correct" -> failed.isEmpty, "attempted" -> attempted.length, "failed" -> failed.length,
      "metrics" -> mutable.LinkedHashMap(out.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*))
    spark.stop()
    deleteTree(dir)
    println(Json(line))
  }

  def runOp(w: Workload, ctx: Ctx, id: String, i: Int): OpRec = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(id, id, false)
    ctx.spark.catalog.clearCache()
    ctx.tr.startOp(id)
    val t0 = Workloads.nowMs
    val done = try Right(ctx.tr.span(w.name, "bench")(w.op(ctx, i))) catch { case e: Exception => Left(e) }
    val ms = Workloads.nowMs - t0
    sc.setJobGroup(s"verify-$id", s"verify-$id", false)
    val err = done match {
      case Left(e) => Some(s"threw $e")
      case Right(d) =>
        val acc = if (!ctx.tr.on) None
          else try { d.account(); None } catch { case e: Exception => Some(s"trace accounting threw $e") }
        acc.orElse(try d.verify() catch { case e: Exception => Some(s"check threw $e") })
    }
    sc.clearJobGroup()
    OpRec(id, ms, done.toOption, err)
  }

  /** Closed loop: the next op starts when the previous one has
    * returned and been checked, until `seconds` have passed. */
  def loop(seconds: Double)(op: Int => OpRec): Seq[OpRec] = {
    val t0 = Workloads.nowMs
    val out = mutable.ArrayBuffer[OpRec]()
    while (out.isEmpty || Workloads.nowMs - t0 < seconds * 1000) out += op(out.length)
    out.toSeq
  }

  /** Traced run: ops alternate between untraced and traced (spans on,
    * Spark listener attached), so both see the same JIT and machine
    * state; the difference in their median latency is the tracing
    * overhead. Layer rates run afterwards. */
  def traced(w: Workload, ctx0: Ctx, spark: SparkSession, seconds: Double,
             report: mutable.Map[String, Any]): (Seq[OpRec], Map[String, Double]) = {
    val sc = spark.sparkContext
    val ev = new SparkEvents
    val tr = new Tracer(true)
    val ctx = new Ctx(spark, tr, ctx0.cores, ctx0.dir)
    val gc0 = gcMs(); val rules0 = graftRuleRuns()
    val all = loop(seconds) { i =>
      if (i % 2 == 0) runOp(w, ctx0, s"plain-$i", i)
      else {
        sc.addSparkListener(ev)
        val r = runOp(w, ctx, s"op-$i", i)
        // a marker job posted after the op's jobs: once its end is
        // seen, the listener holds all of the op's events
        sc.setJobGroup(s"drain-$i", "drain", false)
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
        val deadline = Workloads.nowMs + 10000
        while (!ev.jobsOf(s"drain-$i").exists(_.end > 0) && Workloads.nowMs < deadline) Thread.sleep(5)
        sc.removeSparkListener(ev)
        r
      }
    }
    val gc1 = gcMs(); val rules1 = graftRuleRuns()
    val (ops, plain) = all.partition(_.id.startsWith("op-"))
    val rates = w.layerRates(ctx)

    val n = ops.length.toDouble
    val spans = Trace.withSparkSpans(tr.spans.toSeq, ev)
    val self = Trace.selfTimeByLayer(spans)
    val jobs = ev.jobsOf("op-")
    val stageIds = jobs.flatMap(_.stages).toSet
    val tasks = ev.tasks.asScala.toSeq.filter(t => stageIds(t.stage))
    val wallMs = ops.map(_.ms).sum
    val records = ops.flatMap(_.done).map(_.records.toDouble).sum
    val skews = tasks.groupBy(_.stage).values.filter(_.length >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      (run.max / math.max(1.0, Stats.median(run)), run.sum)
    }
    val writerTails = spans.filter(_.layer == "writer").map { s =>
      val ends = jobs.filter(j => j.group == s.op && j.start >= s.start - 1 && j.end > 0).map(_.end.toDouble)
      if (ends.isEmpty) 0.0 else (s.end - ends.max) / 1000
    }
    val fired = rules1.map { case (r, k) => r -> (k - rules0.getOrElse(r, 0L)) }.filter(_._2 > 0)
    val c = tr.counters
    val regions = math.max(1.0, c("index.regions"))
    val layer = mutable.Map[String, Double]().withDefaultValue(0.0)
    layer ++= rates
    layer ++= Map(
      "index.plan_ms" -> c("index.plan_ms") / regions,
      "index.chunks_per_region" -> c("index.chunks") / regions,
      "index.read_bytes_frac" -> c("index.read_bytes_frac") / regions,
      "dsv2.plan_ms" -> spans.filter(_.name == "dsv2.plan").map(s => s.end - s.start).sum / n,
      "dsv2.partitions_per_op" -> c("dsv2.partitions") / n,
      "dsv2.scans_per_op" -> c("dsv2.scans") / n,
      "plans.optimize_ms" -> c("plans.optimize_ms") / n,
      "plans.rules_fired" -> fired.values.sum.toDouble / all.length,
      "plans.join_useful_frac" -> c("plans.join_useful_frac") / n,
      "writer.driver_tail_s" -> (if (writerTails.isEmpty) 0.0 else writerTails.sum / writerTails.length),
      "exec.jobs_per_op" -> jobs.length / n,
      "exec.tasks_per_op" -> tasks.length / n,
      "exec.sched_delay_ms" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.schedDelayMs.toDouble).sum / tasks.length),
      "exec.busy_frac" -> tasks.map(_.runMs.toDouble).sum / (wallMs * ctx.cores),
      "exec.shuffle_bytes_per_rec" -> tasks.map(_.shuffleWrite.toDouble).sum / math.max(1.0, records),
      "exec.spill_bytes" -> tasks.map(_.spill.toDouble).sum / n,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.map(x => x._1 * x._2).sum / math.max(1.0, skews.map(_._2).sum)),
      "exec.task_retries" -> tasks.count(_.retry).toDouble,
      "jvm.gc_ms_per_op" -> (gc1 - gc0) / all.length,
      "jvm.code_cache_used_mb" -> codeCacheMb(),
      "trace.overhead_frac" -> (Stats.median(ops.map(_.ms)) / Stats.median(plain.map(_.ms)) - 1))
    Metrics.selfTimeLayers.foreach(l => layer(s"$l.self_ms_per_op") = self.getOrElse(l, 0.0) / n)
    report("traced") = Map(
      "ops_traced" -> ops.length, "ops_untraced" -> plain.length,
      "op_p50_ms_traced" -> Stats.median(ops.map(_.ms)), "op_p50_ms_untraced" -> Stats.median(plain.map(_.ms)),
      "self_ms_per_op" -> Metrics.selfTimeLayers.map(l => l -> self.getOrElse(l, 0.0) / n).toMap,
      "graft_rules_fired" -> fired,
      "fallback_join_rows_per_op" -> c("plans.fallback_rows") / n,
      "spans" -> spans.length,
      "jobs" -> jobs.sortBy(_.id).map(j => Map("op" -> j.group, "job" -> j.id, "stages" -> j.stages.length,
        "ms" -> (j.end - j.start))))
    (all, layer.toMap)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
