package perfbench

import java.io.{BufferedInputStream, DataInputStream, EOFException, File, FileInputStream}
import java.util.zip.GZIPInputStream

/** Correctness checks. Each returns None when the answer matches the
  * generator's model, else a message naming what differs. */
object Check {
  final case class Sums(count: Long, sumPos: Long, sumFlag: Long, sumSeqLen: Long)

  def same(what: String, expected: Any, actual: Any): Option[String] =
    if (expected == actual) None else Some(s"$what: expected $expected, got $actual")

  def all(checks: Option[String]*): Option[String] = {
    val bad = checks.flatten
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  def bamSums(r: Reads): Sums = {
    var sp = 0L; var sf = 0L; var sl = 0L
    var i = 0
    while (i < r.n) { sp += r.pos(i); sf += r.flag(i); sl += r.len(i); i += 1 }
    Sums(r.n, sp, sf, sl)
  }

  /** (count, Σpos, ΣREF length, Σgenotype columns) of a VCF. */
  def vcfSums(v: Variants): (Long, Long, Long, Long) = {
    val n = v.count.toLong
    (n, v.byContig.map(_._1.map(_.toLong).sum).sum,
      v.byContig.map(_._2.map(_.toLong).sum).sum, n * v.nSamples)
  }

  /** Sums of a BAM file read with java.util.zip alone (BGZF is a
    * multi-member gzip stream), and whether its records are in
    * non-decreasing (refID, pos) order with unmapped reads last. */
  def readBam(file: File): (Sums, Boolean) = {
    val in = new DataInputStream(new BufferedInputStream(
      new GZIPInputStream(new FileInputStream(file), 1 << 16), 1 << 16))
    try {
      def i32(): Int = Integer.reverseBytes(in.readInt())
      val magic = new Array[Byte](4); in.readFully(magic)
      require(new String(magic, "US-ASCII") == "BAM\u0001", s"$file: not a BAM")
      in.skipNBytes(i32().toLong)
      val nRef = i32()
      (0 until nRef).foreach { _ => in.skipNBytes(i32().toLong); i32() }
      var n = 0L; var sp = 0L; var sf = 0L; var sl = 0L
      var sorted = true
      var lastKey = Long.MinValue
      var more = true
      val buf = new Array[Byte](1 << 16)
      while (more) {
        val size = try i32() catch { case _: EOFException => -1 }
        if (size < 0) more = false
        else {
          val rec = if (size <= buf.length) buf else new Array[Byte](size)
          in.readFully(rec, 0, size)
          val bb = java.nio.ByteBuffer.wrap(rec, 0, size).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val refId = bb.getInt(0); val pos0 = bb.getInt(4)
          val flag = bb.getShort(14) & 0xffff; val lSeq = bb.getInt(16)
          n += 1; sp += pos0 + 1; sf += flag; sl += lSeq
          val key = ((if (refId < 0) Int.MaxValue else refId).toLong << 32) | (pos0 + 1).toLong
          if (key < lastKey) sorted = false
          lastKey = key
        }
      }
      (Sums(n, sp, sf, sl), sorted)
    } finally in.close()
  }
}
