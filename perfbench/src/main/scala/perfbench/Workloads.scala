package perfbench

import java.io.{BufferedInputStream, File, FileInputStream}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.model.{SamRef, VcfVariant}
import graft.sources.{BamCodec, BamIO, Bgzf, Fs, SplittingIndex, Tabix, Vcf}
import graft.sources.v2.BamPartition

/** What one op hands back: the records it materialized, numbers the
  * report derives its workload metrics from, and the check of its
  * answer. `laps` are the latencies of the requests inside the op (the
  * loci of a regions op). `account` records the traced run's layer
  * counters. Both `verify` and `account` run after the op's clock has
  * stopped. */
final case class Done(records: Long, parts: Map[String, Double], verify: () => Option[String],
                      laps: Seq[Double] = Nil, account: () => Unit = () => ())

final class Ctx(val spark: SparkSession, val tr: Tracer, val cores: Int, val dir: File) {
  /** Split size giving about two partitions per core. */
  def split(f: File): Long = math.max(1L << 20, f.length / (2L * cores) + 1)
}

/** A workload generates its inputs from a seed, then runs ops in a
  * closed loop. Layer microbenchmarks run only in the traced run. */
abstract class Workload(val name: String) {
  /** Warm-up runs at least this many ops and for at least this long. */
  val warmupOps: Int
  val warmupSeconds: Double = 0
  /** Writes the inputs with the benchmark's own writers. */
  def generate(dir: File, seed: Long): Seq[File]
  /** Builds sidecar indexes over the generated inputs with graft's own
    * index builders; set-up times this step. */
  def buildIndexes(dir: File): Seq[File] = Nil
  def prepare(spark: SparkSession): Unit = ()
  def op(ctx: Ctx, i: Int): Done
  /** Digest of the expected answers, for the determinism tests. */
  def expectedDigest: String
  /** Single-thread rates of the codec layers this workload's ops run
    * in bulk, timed through graft's public codec functions. */
  def layerRates(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] = Seq("scan", "regions", "sort_write", "overlap_join")
  /** The workloads BENCHMARK.json lists. `scan` runs by hand only: four
    * workloads do not fit the run budget (4 + 22 runs per listed
    * workload in 3420 s) with windows long enough to be steady, and its
    * codec layers are measured on the others (inflate and BAM decode on
    * sort_write and overlap_join, VCF parse on regions). */
  val listed: Seq[String] = Seq("regions", "sort_write", "overlap_join")

  def apply(name: String): Workload = name match {
    case "scan" => new ScanW()
    case "regions" => new RegionsW()
    case "sort_write" => new SortWriteW()
    case "overlap_join" => new JoinW()
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
  }

  def nowMs: Double = System.nanoTime() / 1e6

  def digest(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.toString.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every node of an executed plan, through adaptive query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = new AdaptiveSparkPlanHelper {}.collect(p) { case n => n }

  /** Counts the DataSource V2 scans in `df`'s executed plan and their
    * input partitions, and returns the partitions. */
  def countScans(tr: Tracer, df: DataFrame): Seq[InputPartition] = {
    val scans = nodes(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
    val parts = scans.flatMap(_.inputPartitions)
    tr.add("dsv2.scans", scans.length)
    tr.add("dsv2.partitions", parts.length)
    parts
  }

  // ------------------------------------------------------ layer rates

  /** Runs `body` (which processes `units`) until 0.3 s have passed, at
    * least twice, and returns the median rate in units per second. */
  def rate(units: Double)(body: => Unit): Double = {
    val rates = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = nowMs
    while (rates.length < 2 || nowMs - t0 < 300) {
      val s = nowMs; body; rates += units / ((nowMs - s) / 1000)
    }
    Stats.median(rates.toSeq)
  }

  def inflateAll(f: File): Array[Byte] = {
    val in = new Bgzf.BgzfInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
    try in.readAllBytes() finally in.close()
  }

  def inflateMbPerS(files: Seq[File]): Double = {
    val raw = files.map(f => inflateAll(f).length.toDouble).sum
    val buf = new Array[Byte](1 << 16)
    rate(raw / 1e6)(files.foreach { f =>
      val in = new Bgzf.BgzfInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
      try while (in.read(buf) >= 0) {} finally in.close()
    })
  }

  /** Record bodies (without the length prefix) of an inflated BAM. */
  def bamRecords(raw: Array[Byte], max: Int): (Array[SamRef], Array[Array[Byte]]) = {
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val header = BamCodec.readHeader(new java.io.ByteArrayInputStream(raw))
    bb.position(4); bb.position(8 + bb.getInt(4))
    val nRef = bb.getInt
    (0 until nRef).foreach { _ => val l = bb.getInt; bb.position(bb.position() + l + 4) }
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    while (bb.remaining() >= 4 && out.length < max) {
      val n = bb.getInt; val a = new Array[Byte](n); bb.get(a); out += a
    }
    (header.refs, out.toArray)
  }

  def vcfParseRate(vcf: File): Double = {
    val lines = new String(inflateAll(vcf), "US-ASCII").split("\n").filterNot(_.startsWith("#"))
    rate(lines.length)(lines.foreach(l => Vcf.parseLine(l)))
  }

  def bamDecodeRate(bam: File): Double = {
    val (refs, recs) = bamRecords(inflateAll(bam), 50000)
    rate(recs.length)(recs.foreach(r => BamCodec.decode(r, refs)))
  }
}

import Workloads._

/** Full pass over a BAM (DataSource V2) and a many-sample VCF, every
  * column to the noop sink. No index, no real shuffle: the codecs do
  * nearly all the work. */
final class ScanW(nReads: Int = 100000, nSites: Int = 2000, nSamples: Int = 200)
    extends Workload("scan") {
  val warmupOps = 2
  override val warmupSeconds = 12.0
  private var reads: Reads = _
  private var variants: Variants = _
  private var bam: File = _
  private var vcf: File = _

  def generate(dir: File, seed: Long): Seq[File] = {
    val g = new Genome(seed)
    reads = new Reads(g, nReads, seed)
    variants = new Variants(g, nSites, nSamples, seed)
    bam = new File(dir, "reads.bam"); vcf = new File(dir, "calls.vcf.bgz")
    Gen.writeBam(bam, reads, reads.sortedOrder, "coordinate")
    Gen.writeVcf(vcf, variants)
    Seq(bam, vcf)
  }

  def expectedDigest: String = digest(Check.bamSums(reads), Check.vcfSums(variants))

  def op(ctx: Ctx, i: Int): Done = {
    val spark = ctx.spark
    val ob = Observation(s"bam-$i")
    val ov = Observation(s"vcf-$i")
    val t0 = nowMs
    val bamDf = spark.read.format("bam").option("splitsize", ctx.split(bam)).load(bam.getPath)
    if (ctx.tr.on) ctx.tr.span("dsv2.plan", "dsv2") {
      countScans(ctx.tr, bamDf)
    }
    ctx.tr.span("dsv2.scan", "dsv2") {
      bamDf.observe(ob, count(lit(1)).as("n"), sum("pos").as("pos"), sum("flag").as("flag"),
        sum(length(col("seq"))).as("seq")).write.format("noop").mode("overwrite").save()
    }
    val t1 = nowMs
    ctx.tr.span("vcf.read", "vcf") {
      Vcf.read(spark, vcf.getPath, ctx.split(vcf)).observe(ov, count(lit(1)).as("n"),
        sum("pos").as("pos"), sum(length(col("ref"))).as("ref"), sum(size(col("genotypes"))).as("gt"))
        .write.format("noop").mode("overwrite").save()
    }
    val t2 = nowMs
    val b = ob.get; val v = ov.get
    val nb = b("n").asInstanceOf[Long]; val nv = v("n").asInstanceOf[Long]
    Done(nb + nv, Map("bam_ms" -> (t1 - t0), "vcf_ms" -> (t2 - t1), "bam_n" -> nb.toDouble, "vcf_n" -> nv.toDouble), () => {
      val e = Check.bamSums(reads)
      val (vn, vp, vr, vg) = Check.vcfSums(variants)
      Check.all(
        Check.same("bam count", e.count, nb), Check.same("bam sum(pos)", e.sumPos, b("pos")),
        Check.same("bam sum(flag)", e.sumFlag, b("flag")), Check.same("bam sum(len(seq))", e.sumSeqLen, b("seq")),
        Check.same("vcf count", vn, nv), Check.same("vcf sum(pos)", vp, v("pos")),
        Check.same("vcf sum(len(ref))", vr, v("ref")), Check.same("vcf genotypes", vg, v("gt")))
    })
  }

  override def layerRates(ctx: Ctx): Map[String, Double] =
    Map("bgzf.inflate_mb_per_s" -> inflateMbPerS(Seq(bam, vcf)),
      "bam.decode_rec_per_s" -> bamDecodeRate(bam),
      "vcf.parse_rec_per_s" -> vcfParseRate(vcf))
}

/** Loci as a genome browser requests them: widths log-uniform from
  * 100 bp to 1 Mb; 70% of starts in four hotspots, 20% uniform, 10% on
  * empty stretches (assembly gaps). Both are stratified in blocks of
  * [[Loci.Block]] loci (one width per decile of the log range, 7/2/1
  * start kinds, in a seeded order), so every block does the same mix of
  * work. Locus `i` depends only on the seed and `i`. */
final class Loci(g: Genome, seed: Long) {
  private val hot = {
    val rnd = new SplittableRandom(seed ^ 0x6c6f6369L)
    Array.fill(4) {
      var c = g.pickContig(rnd); while (g.lengths(c) < 100000) c = g.pickContig(rnd)
      (c, 1 + rnd.nextInt(g.lengths(c)))
    }
  }
  private val gapped = g.names.indices.filter(g.gaps(_).nonEmpty)

  private def shuffled(xs: Seq[Int], rnd: SplittableRandom): Seq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def apply(i: Int): (Int, Int, Int) = {
    val blockRnd = new SplittableRandom(seed * 31 + i / Loci.Block)
    val deciles = shuffled(0 until 10, blockRnd)
    val kinds = shuffled(Seq(0, 0, 0, 0, 0, 0, 0, 1, 1, 2), blockRnd)
    val rnd = new SplittableRandom(seed * 0x9e3779b97f4a7c15L + i)
    val lo = math.log(100); val hi = math.log(1e6)
    val w = math.exp(lo + (deciles(i % Loci.Block) + rnd.nextDouble()) / 10 * (hi - lo)).toInt
    val (c, s) = kinds(i % Loci.Block) match {
      case 0 =>
        val (c, p) = hot(rnd.nextInt(hot.length))
        (c, (p + rnd.nextGaussian() * 50000).toInt)
      case 1 =>
        val c = g.pickContig(rnd); (c, 1 + rnd.nextInt(g.lengths(c)))
      case _ =>
        val c = gapped(rnd.nextInt(gapped.length))
        val (gs, ge) = g.gaps(c)(rnd.nextInt(g.gaps(c).length))
        (c, gs + rnd.nextInt(math.max(1, ge - gs - 100)))
    }
    val s1 = math.max(1, math.min(s, g.lengths(c)))
    (c, s1, math.min(g.lengths(c), s1 + w - 1))
  }
}

object Loci {
  val Block = 10
}

/** A genome-browser session: one op fetches one block of
  * [[Loci.Block]] loci, one after another. Each locus reads through
  * DataSource V2 rname/pos predicates (chunks pruned through the .sidx)
  * plus variants through Vcf.readIntervals (chunks from the .tbi), and
  * decodes well under 1% of the files. A block holds every width decile
  * and the same mix of start kinds, so every op does the same mix of
  * work; the per-locus latencies are the op's laps. */
final class RegionsW(nReads: Int = 80000, nSites: Int = 6000, nSamples: Int = 40)
    extends Workload("regions") {
  val warmupOps = 2
  // a cold block takes about 9 s; the next 20 s of blocks bring the
  // latency from about 1.6x to within a few percent of where it levels
  override val warmupSeconds = 20.0
  /** Vcf.readIntervals' default split size, which its planner uses. */
  private val VcfSplit = 64L * 1024 * 1024
  private var genome: Genome = _
  private var reads: Reads = _
  private var variants: Variants = _
  private var bam: File = _
  private var vcf: File = _
  private var vos: Array[Long] = _
  private var loci: Loci = _
  private var seed = 0L

  def generate(dir: File, seed: Long): Seq[File] = {
    this.seed = seed
    genome = new Genome(seed)
    reads = new Reads(genome, nReads, seed)
    variants = new Variants(genome, nSites, nSamples, seed)
    bam = new File(dir, "reads.bam"); vcf = new File(dir, "calls.vcf.bgz")
    vos = Gen.writeBam(bam, reads, reads.sortedOrder, "coordinate")
    Gen.writeVcf(vcf, variants)
    Seq(bam, vcf)
  }

  override def buildIndexes(dir: File): Seq[File] = {
    val (fs, p) = Fs.get(bam.getPath)
    val gran = 1000
    val entries = reads.sortedOrder.indices.filter(_ % gran == 0).map { k =>
      val i = reads.sortedOrder(k)
      SplittingIndex.Entry(vos(k), reads.contig(i), reads.pos(i) - 1)
    }
    SplittingIndex.write(fs, SplittingIndex.indexPath(p), gran, entries, vos.last, reads.MaxLen)
    Tabix.buildAndWriteVcf(vcf.getPath)
    Seq(new File(bam.getPath + ".sidx"), new File(vcf.getPath + ".tbi"))
  }

  override def prepare(spark: SparkSession): Unit = loci = new Loci(genome, seed)

  def expectedDigest: String = {
    val l = new Loci(genome, seed)
    digest((0 until 50).map { i =>
      val (c, s, e) = l(i)
      (Gen.readsOverlapping(reads, c, s, e), Gen.variantsOverlapping(variants, c, s, e))
    })
  }

  private final case class Fetch(c: Int, s: Int, e: Int, rows: Array[Row], vars: Array[VcfVariant],
                                 ms: Double, bamParts: Seq[BamPartition])

  def op(ctx: Ctx, i: Int): Done = {
    val fetched = (0 until Loci.Block).map { k =>
      val (c, s, e) = loci(i * Loci.Block + k)
      fetch(ctx, c, s, e)
    }
    Done(fetched.map(f => f.rows.length.toLong + f.vars.length).sum, Map.empty,
      () => Check.all(fetched.flatMap(check): _*),
      laps = fetched.map(_.ms),
      account = () => fetched.foreach(account(ctx, _)))
  }

  private def fetch(ctx: Ctx, c: Int, s: Int, e: Int): Fetch = {
    val t0 = nowMs
    val contig = genome.names(c)
    // a read of length <= MaxLen overlapping [s, e] starts in
    // [s - MaxLen + 1, e]: the pushable pos bounds; the exact end test
    // stays a residual predicate
    val df = ctx.spark.read.format("bam").load(bam.getPath).where(col("rname") === contig &&
      col("pos") >= math.max(1, s - reads.MaxLen + 1) && col("pos") <= e &&
      col("pos") + length(col("seq")) - 1 >= s)
    val parts = if (ctx.tr.on) ctx.tr.span("dsv2.plan", "dsv2") { countScans(ctx.tr, df) } else Nil
    val rows = ctx.tr.span("dsv2.fetch", "dsv2") { df.collect() }
    val vars = ctx.tr.span("vcf.readIntervals", "vcf") {
      Vcf.readIntervals(ctx.spark, vcf.getPath, Seq((contig, s, e)), VcfSplit).collect()
    }
    Fetch(c, s, e, rows, vars, nowMs - t0, parts.collect { case b: BamPartition => b })
  }

  private def check(f: Fetch): Seq[Option[String]] = {
    val where = s"${genome.names(f.c)}:${f.s}-${f.e}"
    val (n, sp) = Gen.readsOverlapping(reads, f.c, f.s, f.e)
    Seq(Check.same(s"reads in $where", n, f.rows.length.toLong),
      Check.same(s"sum(pos) of reads in $where", sp, f.rows.map(_.getAs[Int]("pos").toLong).sum),
      Check.same(s"variants in $where", Gen.variantsOverlapping(variants, f.c, f.s, f.e), f.vars.length.toLong))
  }

  /** The index layer's part in one locus. The BAM chunks are the
    * scan's own partitions, which BamIO.planSplits pruned through the
    * .sidx; the VCF chunks are the ones Vcf.planBounded, the planner
    * inside Vcf.readIntervals, selects from the .tbi. index.plan_ms
    * times the index reads and lookups once more, outside the op's
    * clock: SplittingIndex.read of the .sidx plus Vcf.planBounded. */
  private def account(ctx: Ctx, f: Fetch): Unit = {
    val t0 = nowMs
    val (fs, bp) = Fs.get(bam.getPath)
    SplittingIndex.read(fs, SplittingIndex.indexPath(bp))
    val tasks = Vcf.planBounded(vcf.getPath, Seq((genome.names(f.c), f.s, f.e)), VcfSplit).getOrElse(Nil)
    ctx.tr.add("index.plan_ms", nowMs - t0)
    val bamChunks = f.bamParts.map(p => (p.startVo, p.endVo))
    val vcfChunks = tasks.flatMap(_.chunks)
    def bytes(cs: Seq[(Long, Long)]): Long =
      cs.map { case (b, e) => Bgzf.voCompressed(e) - Bgzf.voCompressed(b) + 1 }.sum
    ctx.tr.add("index.regions", 1)
    ctx.tr.add("index.chunks", (bamChunks.length + vcfChunks.length).toDouble)
    ctx.tr.add("index.read_bytes_frac", (bytes(bamChunks) + bytes(vcfChunks)).toDouble / (bam.length + vcf.length))
  }

  override def layerRates(ctx: Ctx): Map[String, Double] =
    Map("vcf.parse_rec_per_s" -> vcfParseRate(vcf))
}

/** samtools-sort: read an unsorted (read-name order) BAM, sort by
  * coordinate and write a new BAM with its index. Writes beside reads:
  * range sampling, shuffle, encode, deflate and the driver-side merge. */
final class SortWriteW(nReads: Int = 50000) extends Workload("sort_write") {
  val warmupOps = 2
  override val warmupSeconds = 6.0
  private var genome: Genome = _
  private var reads: Reads = _
  private var bam: File = _

  def generate(dir: File, seed: Long): Seq[File] = {
    genome = new Genome(seed)
    reads = new Reads(genome, nReads, seed)
    bam = new File(dir, "unsorted.bam")
    Gen.writeBam(bam, reads, Array.range(0, nReads), "queryname")
    Seq(bam)
  }

  def expectedDigest: String = digest(Check.bamSums(reads))

  def op(ctx: Ctx, i: Int): Done = {
    val out = new File(ctx.dir, s"sorted-$i.bam")
    val ds = ctx.tr.span("bam.read", "bam") {
      (BamIO.readHeader(bam.getPath), BamIO.read(ctx.spark, bam.getPath, splitSize = ctx.split(bam)))
    }
    ctx.tr.span("writer.writeSorted", "writer") { BamIO.writeSorted(ds._2, ds._1, out.getPath) }
    val sidx = new File(out.getPath + ".sidx")
    val bytes = out.length + sidx.length
    Done(nReads, Map("bytes" -> bytes.toDouble), () => {
      try {
        val (sums, sorted) = Check.readBam(out)
        val c = 0
        val s = 1 + (i * 7919) % (genome.lengths(c) - 20000)
        val viaIndex = BamIO.read(ctx.spark, out.getPath, intervals = Seq((genome.names(c), s, s + 10000))).count()
        Check.all(Check.same("sorted count", reads.n.toLong, sums.count),
          Check.same("sorted sum(pos)", Check.bamSums(reads).sumPos, sums.sumPos),
          Check.same("sorted by (contig, pos)", true, sorted),
          Check.same("index present", true, sidx.isFile),
          Check.same(s"reads in ${genome.names(c)}:$s-${s + 10000} through the new index",
            Gen.readsOverlapping(reads, c, s, s + 10000)._1, viaIndex))
      } finally {
        Option(ctx.dir.listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.contains(s"sorted-$i.bam")).foreach(_.delete())
      }
    })
  }

  override def layerRates(ctx: Ctx): Map[String, Double] = {
    val raw = inflateAll(bam)
    val (refs, recs) = bamRecords(raw, 50000)
    val decoded = recs.map(BamCodec.decode(_, refs))
    val refIdx = refs.map(_.name).zipWithIndex.toMap
    val sink = java.io.OutputStream.nullOutputStream()
    Map("bgzf.inflate_mb_per_s" -> inflateMbPerS(Seq(bam)),
      "bgzf.deflate_mb_per_s" -> rate(raw.length / 1e6)(Bgzf.writeBlocksTo(sink, raw, 0, raw.length)),
      "bam.decode_rec_per_s" -> rate(recs.length)(recs.foreach(r => BamCodec.decode(r, refs))),
      "bam.encode_rec_per_s" -> rate(decoded.length)(decoded.foreach(r => BamCodec.encode(r, refIdx))))
  }
}

/** Per-target read depth: reads joined to exome-like targets on
  * contig equality and interval overlap, the one workload whose cost
  * the graft.plans range-join rewrite decides. About 1% of targets are
  * wide enough to take the rewrite's fallback path. */
final class JoinW(nReads: Int = 50000, nTargets: Int = 20000) extends Workload("overlap_join") {
  val warmupOps = 2
  override val warmupSeconds = 6.0
  private var genome: Genome = _
  private var reads: Reads = _
  private var targets: Targets = _
  private var bam: File = _
  private var targetsDf: DataFrame = _
  private lazy val expected = Gen.targetDepth(reads, targets)

  def generate(dir: File, seed: Long): Seq[File] = {
    genome = new Genome(seed)
    reads = new Reads(genome, nReads, seed)
    targets = new Targets(genome, nTargets, seed)
    bam = new File(dir, "reads.bam")
    Gen.writeBam(bam, reads, reads.sortedOrder, "coordinate")
    Seq(bam)
  }

  override def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    targetsDf = targets.contig.indices.map(t =>
      (t, genome.names(targets.contig(t)), targets.start(t), targets.end(t)))
      .toDF("tid", "contig", "tstart", "tend")
    expected.size
  }

  def expectedDigest: String = digest(Gen.targetDepth(reads, targets).toSeq.sortBy(_._1))

  def op(ctx: Ctx, i: Int): Done = {
    val r = ctx.spark.read.format("bam").option("splitsize", ctx.split(bam)).load(bam.getPath)
      .select(col("rname"), col("pos"), (col("pos") + length(col("seq")) - 1).as("rend"))
    val q = r.join(targetsDf, col("rname") === col("contig") && col("pos") <= col("tend") &&
      col("rend") >= col("tstart"))
      .groupBy("tid").agg(count(lit(1)).as("n"),
        sum(least(col("tend"), col("rend")) - greatest(col("tstart"), col("pos")) + 1).as("bases"))
    if (ctx.tr.on) {
      ctx.tr.span("plans.optimize", "plans") {
        val t0 = nowMs; q.queryExecution.optimizedPlan; ctx.tr.add("plans.optimize_ms", nowMs - t0)
      }
      ctx.tr.span("dsv2.plan", "dsv2") { countScans(ctx.tr, q) }
    }
    val rows = ctx.tr.span("exec.collect", "exec") { q.collect() }
    Done(reads.n, Map.empty, account = () => usefulFrac(ctx, q), verify = () => {
      val got = rows.map(row => row.getInt(0) -> ((row.getLong(1), row.getLong(2)))).toMap
      if (got == expected) None
      else {
        val bad = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k)).toSeq.sorted
        Some(s"${bad.length} targets differ, e.g. target ${bad.head}: expected " +
          s"${expected.get(bad.head)}, got ${got.get(bad.head)}")
      }
    })
  }

  /** Rows out of the binned join over rows into it (both sides after
    * the bin explode), from the executed plan's SQL metrics. */
  private def usefulFrac(ctx: Ctx, q: DataFrame): Unit = {
    val all = nodes(q.queryExecution.executedPlan)
    def rowsOf(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    def binned(p: SparkPlan): Boolean = p.output.exists(_.name == "__graft_bin") ||
      p.expressions.exists(_.references.exists(_.name == "__graft_bin"))
    val joinOut = all.filter(p => p.nodeName.contains("Join") && binned(p)).map(rowsOf).sum
    val genOut = all.filter(p => p.nodeName == "Generate" && binned(p)).map(rowsOf).sum
    // the rewrite's fallback joins are the joins not on the bin key
    val fallback = all.filter(p => p.nodeName.contains("Join")).map(rowsOf).sum - joinOut
    if (genOut > 0) ctx.tr.add("plans.join_useful_frac", joinOut.toDouble / genOut)
    ctx.tr.add("plans.fallback_rows", fallback.toDouble)
  }

  override def layerRates(ctx: Ctx): Map[String, Double] =
    Map("bgzf.inflate_mb_per_s" -> inflateMbPerS(Seq(bam)), "bam.decode_rec_per_s" -> bamDecodeRate(bam))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  /** The highest of p50/p75/p90/p95/p99/p99.9 with at least ten
    * samples beyond it, as (percentile, value); p50 when n < 20. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => xs.length * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, quantile(xs, p / 100))
  }
}
