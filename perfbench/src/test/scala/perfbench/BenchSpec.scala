package perfbench

import java.io.File
import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite {

  private val root = new File("target/bench-spec")

  private def small(name: String): Workload = name match {
    case "scan" => new ScanW(4000, 300, 8)
    case "regions" => new RegionsW(4000, 300, 4)
    case "sort_write" => new SortWriteW(3000)
    case "overlap_join" => new JoinW(4000, 500)
  }

  private def gen(name: String, seed: Long, tag: String): (Workload, Seq[File]) = {
    val dir = new File(root, s"$name-$tag")
    Main.deleteTree(dir)
    dir.mkdirs()
    val w = small(name)
    val inputs = w.generate(dir, seed)
    (w, inputs ++ w.buildIndexes(dir))
  }

  private def bytes(f: File): Array[Byte] = Files.readAllBytes(f.toPath)

  for (name <- Workloads.names) {
    test(s"$name: the same seed gives byte-identical inputs and expected answers") {
      val (w1, f1) = gen(name, 7, "a")
      val (w2, f2) = gen(name, 7, "b")
      assert(f1.map(_.getName) == f2.map(_.getName))
      f1.zip(f2).foreach { case (a, b) => assert(bytes(a).sameElements(bytes(b)), s"${a.getName} differs") }
      assert(w1.expectedDigest == w2.expectedDigest)
    }

    test(s"$name: another seed gives inputs of the same size that differ") {
      val (w1, f1) = gen(name, 7, "a")
      val (w2, f2) = gen(name, 8, "c")
      assert(f1.map(_.getName) == f2.map(_.getName))
      f1.zip(f2).foreach { case (a, b) =>
        assert(math.abs(a.length - b.length).toDouble / a.length < 0.1, s"${a.getName} size")
        assert(!bytes(a).sameElements(bytes(b)), s"${a.getName} is the same for both seeds")
      }
      assert(w1.expectedDigest != w2.expectedDigest)
    }
  }

  test("the BAM read-back check accepts the generator's file and fails a planted wrong one") {
    val dir = new File(root, "check"); Main.deleteTree(dir); dir.mkdirs()
    val g = new Genome(3)
    val reads = new Reads(g, 2000, 3)
    val good = new File(dir, "good.bam")
    Gen.writeBam(good, reads, reads.sortedOrder, "coordinate")
    val (sums, sorted) = Check.readBam(good)
    assert(sorted && sums == Check.bamSums(reads))

    // a file whose order is off: the sortedness check must fail
    val swapped = reads.sortedOrder.clone()
    val t = swapped(10); swapped(10) = swapped(500); swapped(500) = t
    val bad = new File(dir, "bad.bam")
    Gen.writeBam(bad, reads, swapped, "coordinate")
    assert(!Check.readBam(bad)._2)

    // a file missing one read: count and sums must not match
    val short = new File(dir, "short.bam")
    Gen.writeBam(short, reads, reads.sortedOrder.drop(1), "coordinate")
    val s2 = Check.readBam(short)._1
    assert(Check.all(Check.same("count", Check.bamSums(reads).count, s2.count),
      Check.same("sum(pos)", Check.bamSums(reads).sumPos, s2.sumPos)).isDefined)
  }

  test("a sort_write op passes its check, and fails it once its output is replaced by a wrong file") {
    val dir = new File(root, "op"); Main.deleteTree(dir); dir.mkdirs()
    val spark = graft.GraftSession.configure(
      org.apache.spark.sql.SparkSession.builder().master("local[2]"), 2).getOrCreate()
    try {
      val w = new SortWriteW(3000)
      w.generate(dir, 9)
      val ctx = new Ctx(spark, new Tracer(false), 2, dir)
      assert(w.op(ctx, 0).verify().isEmpty)
      val planted = w.op(ctx, 1)
      val g = new Genome(9)
      val other = new Reads(g, 3000, 10)
      Gen.writeBam(new File(dir, "sorted-1.bam"), other, other.sortedOrder, "coordinate")
      // a check that throws fails the op too (Main.runOp)
      assert((try planted.verify() catch { case e: Exception => Some(e.toString) }).isDefined)
    } finally spark.stop()
  }

  test("the overlap oracles agree with a brute-force scan of the model") {
    val g = new Genome(5)
    val reads = new Reads(g, 3000, 5)
    val vars = new Variants(g, 400, 2, 5)
    val loci = new Loci(g, 5)
    (0 until 200).foreach { i =>
      val (c, s, e) = loci(i)
      val brute = (0 until reads.n).filter(i => reads.contig(i) == c && reads.pos(i) <= e &&
        reads.pos(i) + reads.len(i) - 1 >= s)
      assert(Gen.readsOverlapping(reads, c, s, e) == ((brute.length.toLong, brute.map(reads.pos(_).toLong).sum)))
      val (ps, rl) = vars.byContig(c)
      assert(Gen.variantsOverlapping(vars, c, s, e) ==
        ps.indices.count(k => ps(k) <= e && ps(k) + rl(k) - 1 >= s).toLong)
    }
    val t = new Targets(g, 300, 5)
    val depth = Gen.targetDepth(reads, t)
    t.contig.indices.foreach { k =>
      val hits = (0 until reads.n).filter(i => reads.contig(i) == t.contig(k) &&
        reads.pos(i) <= t.end(k) && reads.pos(i) + reads.len(i) - 1 >= t.start(k))
      val bases = hits.map(i => math.min(t.end(k), reads.pos(i) + reads.len(i) - 1) -
        math.max(t.start(k), reads.pos(i)) + 1L).sum
      assert(depth.get(k) == (if (hits.isEmpty) None else Some((hits.length.toLong, bases))))
    }
    // a planted wrong answer is reported, never passed
    assert(Check.same("reads", 5L, 6L).isDefined && Check.same("reads", 5L, 5L).isEmpty)
  }

  test("every printed metric name is well formed and listed in BENCHMARK.json") {
    val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String): Map[String, (String, String)] = json.get(key).elements().asScala.map { m =>
      m.get("name").asText() -> ((m.get("unit").asText(), m.get("better").asText()))
    }.toMap
    val pattern = Metrics.NamePattern.r
    for ((key, ms) <- Seq("end_to_end" -> Metrics.endToEnd, "per_layer" -> Metrics.perLayer)) {
      ms.foreach(m => assert(pattern.matches(m.name), m.name))
      assert(ms.map(m => m.name -> ((m.unit, m.better))).toMap == listed(key), key)
      assert(ms.map(_.name).distinct.length == ms.length)
    }
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Workloads.listed)
    assert(Workloads.listed.forall(Workloads.names.contains))
  }
}
