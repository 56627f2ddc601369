package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable.ArrayBuffer

/** BGZF writer written from the SAM spec (section 4.1), independent of
  * graft's own codec so that a codec defect cannot cancel out between
  * the generator and the program.  Full blocks are deflated in
  * parallel in batches; the output is byte-identical for a given input
  * whatever the thread count, because every block deflates on its own.
  */
final class BgzfOut(out: OutputStream, level: Int = 6) {
  private val MaxBlock = 0xff00
  private var cur = new Array[Byte](MaxBlock)
  private var n = 0
  private val pending = ArrayBuffer[Array[Byte]]()
  private val offsets = ArrayBuffer[Long]() // compressed start of each written block
  private var coffset = 0L

  /** Index of the block the next byte goes into. */
  def blockIndex: Int = offsets.length + pending.length
  def blockUoffset: Int = n

  def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var left = len
    while (left > 0) {
      val k = math.min(left, MaxBlock - n)
      System.arraycopy(b, o, cur, n, k)
      n += k; o += k; left -= k
      if (n == MaxBlock) {
        pending += cur
        cur = new Array[Byte](MaxBlock)
        n = 0
        if (pending.length >= 64) drain()
      }
    }
  }
  def write(b: Array[Byte]): Unit = write(b, 0, b.length)

  private def drain(): Unit = {
    val blocks = pending.toArray
    val packed = new Array[Array[Byte]](blocks.length)
    java.util.stream.IntStream.range(0, blocks.length).parallel()
      .forEach(i => packed(i) = BgzfOut.block(blocks(i), blocks(i).length, level))
    packed.foreach { p => offsets += coffset; out.write(p); coffset += p.length }
    pending.clear()
  }

  /** Flushes everything, writes the EOF marker and closes. Returns the
    * compressed start of every block, plus the EOF marker's start. */
  def close(): Array[Long] = {
    if (n > 0) { pending += java.util.Arrays.copyOf(cur, n); n = 0 }
    drain()
    offsets += coffset
    out.write(BgzfOut.Eof)
    out.close()
    offsets.toArray
  }
}

object BgzfOut {
  val Eof: Array[Byte] = Array(0x1f, 0x8b, 8, 4, 0, 0, 0, 0, 0, 0xff, 6, 0, 0x42, 0x43, 2, 0,
    0x1b, 0, 3, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toByte)

  def block(data: Array[Byte], len: Int, level: Int): Array[Byte] = {
    def deflate(lv: Int): Array[Byte] = {
      val d = new Deflater(lv, true)
      d.setInput(data, 0, len); d.finish()
      val buf = new Array[Byte](len + 1024)
      var k = 0
      while (!d.finished()) k += d.deflate(buf, k, buf.length - k)
      d.end()
      java.util.Arrays.copyOf(buf, k)
    }
    val c0 = deflate(level)
    val c = if (c0.length + 26 > 65536) deflate(0) else c0
    val crc = new CRC32(); crc.update(data, 0, len)
    val total = c.length + 26
    val o = new ByteArrayOutputStream(total)
    o.write(Array(0x1f, 0x8b, 8, 4, 0, 0, 0, 0, 0, 0xff, 6, 0, 0x42, 0x43, 2, 0).map(_.toByte))
    Le.u16(o, total - 1)
    o.write(c)
    Le.u32(o, crc.getValue)
    Le.u32(o, len.toLong)
    o.toByteArray
  }
}

object Le {
  def u16(o: OutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff) }
  def u32(o: OutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
    o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
  }
  def i32(o: OutputStream, v: Int): Unit = u32(o, v.toLong & 0xffffffffL)
}

/** The synthetic genome: contigs of unequal length, each with a couple
  * of empty stretches (assembly gaps) where no read or variant starts. */
final class Genome(seed: Long) {
  val names: Array[String] = Array("chr1", "chr2", "chr3", "chrM")
  val lengths: Array[Int] = Array(4000000, 2500000, 1200000, 16569)
  private val rnd = new SplittableRandom(seed ^ 0x6e6f6d65L)
  /** (start, end) 1-based inclusive gaps per contig, sorted. */
  val gaps: Array[Array[(Int, Int)]] = lengths.map { len =>
    if (len < 100000) Array.empty[(Int, Int)]
    else Array.tabulate(2) { k =>
      val w = len / 50
      val s = (k * len / 2) + 1 + rnd.nextInt(len / 2 - w - 1)
      (s, s + w - 1)
    }
  }
  val bases: Array[Array[Byte]] = lengths.map { len =>
    val b = new Array[Byte](len)
    var i = 0
    while (i < len) { b(i) = "ACGT".charAt(rnd.nextInt(4)).toByte; i += 1 }
    b
  }
  def inGap(c: Int, s: Int, e: Int): Boolean = gaps(c).exists { case (gs, ge) => s <= ge && e >= gs }
  def totalLength: Long = lengths.map(_.toLong).sum
  /** A contig drawn with probability proportional to its length. */
  def pickContig(r: SplittableRandom): Int = {
    var x = r.nextLong(totalLength)
    var c = 0
    while (x >= lengths(c)) { x -= lengths(c); c += 1 }
    c
  }
}

/** Reads of one synthetic sample: contig (-1 = unmapped), 1-based pos
  * (0 = unmapped), length 100-150 bp, flag. Index `i` is the read-name
  * order (`rd%08d`); `sortedOrder` is the coordinate order, unmapped
  * reads last. */
final class Reads(val genome: Genome, val n: Int, seed: Long) {
  val MaxLen = 150
  val contig = new Array[Int](n)
  val pos = new Array[Int](n)
  val len = new Array[Int](n)
  val flag = new Array[Int](n)
  val mapq = new Array[Int](n)
  private val rnd = new SplittableRandom(seed ^ 0x72656164L)
  for (i <- 0 until n) {
    len(i) = 100 + rnd.nextInt(51)
    if (rnd.nextInt(200) == 0) {
      contig(i) = -1; pos(i) = 0; flag(i) = 0x1 | 0x4 | 0x8 | 0x40; mapq(i) = 0
    } else {
      var c = 0; var p = 0
      do {
        c = genome.pickContig(rnd)
        p = 1 + rnd.nextInt(genome.lengths(c) - len(i) + 1)
      } while (genome.inGap(c, p, p + len(i) - 1))
      contig(i) = c; pos(i) = p
      flag(i) = 0x1 | 0x2 | (if (rnd.nextBoolean()) 0x10 else 0x20) |
        (if (rnd.nextBoolean()) 0x40 else 0x80) | (if (rnd.nextInt(50) == 0) 0x400 else 0)
      mapq(i) = rnd.nextInt(61)
    }
  }
  val sortedOrder: Array[Int] = (0 until n).toArray.sortBy { i =>
    val c = if (contig(i) < 0) Int.MaxValue.toLong else contig(i).toLong
    (c << 32) | (pos(i).toLong << 1) // stable tie order comes from sortBy
  }
  /** Per contig: read starts (sorted) and lengths, for overlap lookups. */
  val byContig: Array[(Array[Int], Array[Int])] = genome.names.indices.map { c =>
    val idx = sortedOrder.filter(contig(_) == c)
    (idx.map(pos), idx.map(len))
  }.toArray

  def qname(i: Int): String = { val d = i.toString; "rd" + "0" * math.max(0, 8 - d.length) + d }
}

/** Variant sites of a many-sample cohort VCF, coordinate-sorted. */
final class Variants(val genome: Genome, nSites: Int, val nSamples: Int, seed: Long) {
  private val rnd = new SplittableRandom(seed ^ 0x76636621L)
  val MaxRefLen = 5
  /** Per contig: sorted distinct positions and REF lengths. */
  val byContig: Array[(Array[Int], Array[Int])] = genome.names.indices.map { c =>
    val want = math.max(1, (nSites.toLong * genome.lengths(c) / genome.totalLength).toInt)
    val ps = scala.collection.mutable.TreeSet[Int]()
    while (ps.size < want) {
      val p = 1 + rnd.nextInt(genome.lengths(c) - MaxRefLen)
      if (!genome.inGap(c, p, p + MaxRefLen)) ps += p
    }
    val arr = ps.toArray
    (arr, arr.map(_ => if (rnd.nextInt(10) == 0) 2 + rnd.nextInt(MaxRefLen - 1) else 1))
  }.toArray
  def count: Int = byContig.map(_._1.length).sum
  def samples: Seq[String] = (1 to nSamples).map(k => f"S$k%04d")
}

/** Exome-like capture targets: 100-300 bp, about 1% of them 0.3-1 Mb
  * wide (past the range join's default 64 bp x 4096 bin cap). */
final class Targets(genome: Genome, n: Int, seed: Long) {
  private val rnd = new SplittableRandom(seed ^ 0x74677473L)
  val contig = new Array[Int](n)
  val start = new Array[Int](n)
  val end = new Array[Int](n)
  for (t <- 0 until n) {
    val c = { var c = genome.pickContig(rnd); while (genome.lengths(c) < 1100000) c = genome.pickContig(rnd); c }
    // exactly every 100th target is wide, so the fallback path's share
    // of the work does not swing with the seed
    val w = if (t % 100 == 0) 300000 + rnd.nextInt(700001) else 100 + rnd.nextInt(201)
    contig(t) = c
    start(t) = 1 + rnd.nextInt(genome.lengths(c) - w)
    end(t) = start(t) + w - 1
  }
}

/** Writers for the generated files, and the expected answers computed
  * from the generator's own model. */
object Gen {
  val ReadGroups = 3

  def bamHeaderText(g: Genome, sortOrder: String): String =
    (Seq(s"@HD\tVN:1.6\tSO:$sortOrder") ++
      g.names.indices.map(c => s"@SQ\tSN:${g.names(c)}\tLN:${g.lengths(c)}") ++
      (0 until ReadGroups).map(k => s"@RG\tID:grp$k\tSM:sample\tPL:ILLUMINA") ++
      Seq("@PG\tID:perfbench\tPN:perfbench")).mkString("", "\n", "\n")

  /** Writes reads in `order` as a BAM. Returns, per record index in
    * `order`, the record's virtual offset, plus the end-of-records
    * virtual offset as the last element. */
  def writeBam(file: File, reads: Reads, order: Array[Int], sortOrder: String): Array[Long] = {
    val g = reads.genome
    val rnd = new SplittableRandom(0x5eedL)
    val qualPool = Array.fill(8192)((33 + 20 + rnd.nextInt(21)).toByte)
    val out = new BgzfOut(new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    val hdr = new ByteArrayOutputStream()
    hdr.write("BAM\u0001".getBytes(US_ASCII))
    val text = bamHeaderText(g, sortOrder).getBytes(US_ASCII)
    Le.i32(hdr, text.length); hdr.write(text)
    Le.i32(hdr, g.names.length)
    g.names.indices.foreach { c =>
      val nm = g.names(c).getBytes(US_ASCII)
      Le.i32(hdr, nm.length + 1); hdr.write(nm); hdr.write(0)
      Le.i32(hdr, g.lengths(c))
    }
    out.write(hdr.toByteArray)
    val blockOf = new Array[Int](order.length + 1)
    val uoffOf = new Array[Int](order.length + 1)
    val rec = new RecBuf
    var k = 0
    while (k < order.length) {
      blockOf(k) = out.blockIndex; uoffOf(k) = out.blockUoffset
      rec.n = 4
      encodeRead(rec, reads, order(k), qualPool)
      val size = rec.n - 4
      rec.n = 0; rec.i32(size); rec.n = size + 4
      out.write(rec.a, 0, rec.n)
      k += 1
    }
    blockOf(k) = out.blockIndex; uoffOf(k) = out.blockUoffset
    val offsets = out.close()
    Array.tabulate(order.length + 1)(j => (offsets(blockOf(j)) << 16) | uoffOf(j))
  }

  /** Growable little-endian record buffer. */
  final class RecBuf {
    var a = new Array[Byte](1024)
    var n = 0
    def u8(v: Int): Unit = { if (n == a.length) a = java.util.Arrays.copyOf(a, 2 * n); a(n) = v.toByte; n += 1 }
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def i32(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    def bytes(b: Array[Byte]): Unit = b.foreach(x => u8(x))
  }

  private def encodeRead(o: RecBuf, r: Reads, i: Int, qualPool: Array[Byte]): Unit = {
    val g = r.genome
    val rnd = new SplittableRandom(i.toLong * 0x9e3779b97f4a7c15L + 17)
    val c = r.contig(i)
    val p0 = r.pos(i) - 1
    val l = r.len(i)
    val seq = new Array[Byte](l)
    var nm = 0
    if (c >= 0) {
      System.arraycopy(g.bases(c), p0, seq, 0, l)
      var m = rnd.nextInt(4) // sequencing errors
      while (m > 0) {
        val j = rnd.nextInt(l)
        seq(j) = "ACGT".charAt(rnd.nextInt(4)).toByte
        m -= 1
      }
      var j = 0
      while (j < l) { if (seq(j) != g.bases(c)(p0 + j)) nm += 1; j += 1 }
    } else {
      var j = 0
      while (j < l) { seq(j) = "ACGT".charAt(rnd.nextInt(4)).toByte; j += 1 }
    }
    val name = r.qname(i).getBytes(US_ASCII)
    val mateOff = 150 + rnd.nextInt(251)
    val (nextRef, nextPos, tlen) =
      if (c < 0) (-1, -1, 0)
      else {
        val np = math.min(p0 + mateOff, g.lengths(c) - 1)
        (c, np, if ((r.flag(i) & 0x40) != 0) np + l - p0 else -(np + l - p0))
      }
    o.i32(c)
    o.i32(if (c < 0) -1 else p0)
    o.u8(name.length + 1)
    o.u8(r.mapq(i))
    o.u16(if (c < 0) 4680 else reg2bin(p0, p0 + l))
    o.u16(if (c < 0) 0 else 1)
    o.u16(r.flag(i))
    o.i32(l)
    o.i32(nextRef)
    o.i32(nextPos)
    o.i32(tlen)
    o.bytes(name); o.u8(0)
    if (c >= 0) o.i32(l << 4) // lM
    var j = 0
    while (j < l) {
      val hi = code(seq(j)); val lo = if (j + 1 < l) code(seq(j + 1)) else 0
      o.u8((hi << 4) | lo); j += 2
    }
    val q = rnd.nextInt(qualPool.length - l)
    j = 0
    while (j < l) { o.u8(qualPool(q + j) - 33); j += 1 }
    if (c >= 0) {
      o.bytes(NmC); o.u8(nm)
      o.bytes(AsC); o.u8(math.max(0, l - 5 * nm))
    }
    o.bytes(RgZ); o.bytes(rgNames(i % ReadGroups)); o.u8(0)
  }
  private val NmC = "NMC".getBytes(US_ASCII)
  private val AsC = "ASC".getBytes(US_ASCII)
  private val RgZ = "RGZ".getBytes(US_ASCII)
  private val rgNames = Array.tabulate(ReadGroups)(k => s"grp$k".getBytes(US_ASCII))

  private def code(b: Byte): Int = b match { case 'A' => 1; case 'C' => 2; case 'G' => 4; case 'T' => 8; case _ => 15 }

  /** SAM spec 5.3; `end` exclusive. */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  def writeVcf(file: File, v: Variants): Unit = {
    val g = v.genome
    val out = new BgzfOut(new BufferedOutputStream(new FileOutputStream(file), 1 << 20))
    val hdr = new StringBuilder
    hdr ++= "##fileformat=VCFv4.2\n"
    g.names.indices.foreach(c => hdr ++= s"##contig=<ID=${g.names(c)},length=${g.lengths(c)}>\n")
    hdr ++= "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"Total depth\">\n"
    hdr ++= "##INFO=<ID=AF,Number=A,Type=Float,Description=\"Allele frequency\">\n"
    hdr ++= "##INFO=<ID=AC,Number=A,Type=Integer,Description=\"Allele count\">\n"
    hdr ++= "##INFO=<ID=AN,Number=1,Type=Integer,Description=\"Allele number\">\n"
    hdr ++= "##FILTER=<ID=q10,Description=\"Quality below 10\">\n"
    hdr ++= "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"Genotype\">\n"
    hdr ++= "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"Read depth\">\n"
    hdr ++= "##FORMAT=<ID=GQ,Number=1,Type=Integer,Description=\"Genotype quality\">\n"
    hdr ++= ("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT" +: v.samples).mkString("\t") + "\n"
    out.write(hdr.toString.getBytes(US_ASCII))
    val gts = Array("0|0", "0|0", "0|0", "0|0", "0|1", "1|0", "1|1", "0|0")
    val line = new java.lang.StringBuilder(16 * v.nSamples + 128)
    var id = 0
    g.names.indices.foreach { c =>
      val (ps, rl) = v.byContig(c)
      ps.indices.foreach { k =>
        val rnd = new SplittableRandom((c.toLong << 40) ^ ps(k).toLong * 0x2545f4914f6cdd1dL)
        val ref = new String(g.bases(c), ps(k) - 1, rl(k), US_ASCII)
        val alt =
          if (rl(k) > 1) ref.substring(0, 1)
          else {
            val a = "ACGT".filterNot(_ == ref.charAt(0))
            if (rnd.nextInt(20) == 0) s"${a.charAt(0)},${a.charAt(1)}" else a.charAt(rnd.nextInt(3)).toString
          }
        id += 1
        line.setLength(0)
        line.append(g.names(c)).append('\t').append(ps(k)).append("\tvar").append(id).append('\t')
          .append(ref).append('\t').append(alt).append('\t').append(10 + rnd.nextInt(900)).append(".5\t")
          .append(if (rnd.nextInt(10) == 0) "q10" else "PASS").append("\tDP=").append(rnd.nextInt(5000))
          .append(";AF=0.").append(rnd.nextInt(1000)).append(";AC=").append(rnd.nextInt(100))
          .append(";AN=").append(2 * v.nSamples).append("\tGT:DP:GQ")
        var s = 0
        while (s < v.nSamples) {
          line.append('\t').append(gts(rnd.nextInt(gts.length))).append(':')
            .append(rnd.nextInt(60)).append(':').append(rnd.nextInt(99))
          s += 1
        }
        line.append('\n')
        out.write(line.toString.getBytes(US_ASCII))
      }
    }
    out.close()
  }

  // ------------------------------------------------------ expected answers

  /** (count, sum of pos) of reads overlapping [s, e] on contig `c`. */
  def readsOverlapping(r: Reads, c: Int, s: Int, e: Int): (Long, Long) = {
    val (ps, ls) = r.byContig(c)
    var k = lowerBound(ps, s - r.MaxLen + 1)
    var n = 0L; var sp = 0L
    while (k < ps.length && ps(k) <= e) {
      if (ps(k) + ls(k) - 1 >= s) { n += 1; sp += ps(k) }
      k += 1
    }
    (n, sp)
  }

  def variantsOverlapping(v: Variants, c: Int, s: Int, e: Int): Long = {
    val (ps, rl) = v.byContig(c)
    var k = lowerBound(ps, s - v.MaxRefLen + 1)
    var n = 0L
    while (k < ps.length && ps(k) <= e) { if (ps(k) + rl(k) - 1 >= s) n += 1; k += 1 }
    n
  }

  /** Per target: (reads overlapping, overlapping bases), by a sweep
    * over the sorted reads. Targets with no read are absent. */
  def targetDepth(r: Reads, t: Targets): Map[Int, (Long, Long)] =
    t.contig.indices.flatMap { i =>
      val (ps, ls) = r.byContig(t.contig(i))
      val s = t.start(i); val e = t.end(i)
      var k = lowerBound(ps, s - r.MaxLen + 1)
      var n = 0L; var b = 0L
      while (k < ps.length && ps(k) <= e) {
        val re = ps(k) + ls(k) - 1
        if (re >= s) { n += 1; b += math.min(e, re) - math.max(s, ps(k)) + 1 }
        k += 1
      }
      if (n > 0) Some(i -> ((n, b))) else None
    }.toMap

  def lowerBound(a: Array[Int], x: Int): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
}
