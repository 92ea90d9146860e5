package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Fingerprint64, GraftFunctions, SimHash64, SimHashAgg, SimHashMulti}

/** Pins the sketch kernels (fingerprint, minhash, simhash, rp-sign) and the
  * approximate operators built on them (ann_lsh recall vs brute force).
  */
class SketchSpec extends SparkSpec {

  test("fingerprint64 is stable and order-sensitive") {
    def fp(s: String) = Fingerprint64.hash64(UTF8String.fromString(s))
    assert(fp("abc") === fp("abc"))
    assert(fp("abc") !== fp("acb"))
    assert(fp("") === 1125899906842597L)
  }

  test("simhash: identical token sets get identical hashes; disjoint differ") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(ts: String*) = new GenericArrayData(
      ts.map(t => UTF8String.fromString(t)).toArray[Any])
    val a = SimHash64.simhash(arr("x", "y", "z"), 0L)
    val b = SimHash64.simhash(arr("x", "y", "z"), 0L)
    val c = SimHash64.simhash(arr("q", "r", "s", "t", "u", "v"), 0L)
    assert(a === b)
    assert(a !== c)
  }

  test("property: the simhash vote kernel equals the plain +1/-1 tally loop") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.scalacheck.Prop.forAllNoShrink
    import org.scalacheck.{Gen, Test => SCTest}
    // the definition: per bit, +1 for a set hash bit and -1 for a clear one;
    // the bit is set iff its tally is positive (ties give 0)
    def tallies(hashes: Seq[Long]): Array[Int] = {
      val votes = new Array[Int](64)
      hashes.foreach { h =>
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      votes
    }
    def sign(votes: Array[Int]): Long =
      (0 until 64).foldLeft(0L)((sig, b) => if (votes(b) > 0) sig | (1L << b) else sig)
    def utf8(toks: Seq[String]) = toks.filter(_ != null).map(UTF8String.fromString)
    def multiRef(toks: Seq[String], nSigs: Int): Seq[Long] = {
      val bases = utf8(toks).map(Fingerprint64.hash64)
      (0 until nSigs).map(s => sign(tallies(
        bases.map(b => Fingerprint64.mix(b + (s + 1) * 0x9E3779B97F4A7C15L)))))
    }
    def seededRef(toks: Seq[String], seed: Long): Long =
      sign(tallies(utf8(toks).map(Fingerprint64.hash64Seeded(_, seed))))
    def agreesWithReference(toks: Seq[String]): Boolean = {
      val arr = new GenericArrayData(
        toks.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any])
      val present = toks.filter(_ != null)
      val (left, right) = present.splitAt(present.length / 3)
      val viaAgg = SimHashAgg.finish(SimHashAgg.merge(
        SimHashAgg.reduce(SimHashAgg.zero, left), SimHashAgg.reduce(SimHashAgg.zero, right)))
      Seq(1, 9).forall(k => SimHashMulti.sigs(arr, k).toLongArray().toSeq == multiRef(toks, k)) &&
        Seq(0L, 0x5EEDL).forall(seed => SimHash64.simhash(arr, seed) == seededRef(toks, seed)) &&
        viaAgg == seededRef(toks, 0L)
    }

    val word = Gen.frequency(
      (1, Gen.const(null: String)),
      (4, Gen.oneOf("a", "b", "c", "the")), // duplicates
      (6, Gen.alphaNumStr))
    // two distinct tokens repeated r times: every lane where their hashes
    // differ is an exact tie at an even count
    val ties = for {
      x <- Gen.alphaNumStr; y <- Gen.alphaNumStr.suchThat(_ != x)
      r <- Gen.choose(1, 20)
    } yield Seq.fill(r)(Seq(x, y)).flatten
    val arrays = Gen.frequency(
      (1, Gen.const(Seq.empty[String])),
      (6, Gen.listOf(word)),
      (3, ties))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      forAllNoShrink(arrays)(agreesWithReference))
    assert(res.passed, res.status.toString)

    // lane counts near 70,000 need 17 planes (2^16 = 65,536)
    val rnd = new scala.util.Random(7)
    val big = Seq.tabulate(140000)(i => if (i % 97 == 0) null else rnd.alphanumeric.take(6).mkString)
    val voters = utf8(big).length
    val ones = tallies(utf8(big).map(Fingerprint64.hash64Seeded(_, 0L))).map(v => (v + voters) / 2)
    assert(voters > 131072 && ones.max >= 65536)
    assert(agreesWithReference(big))
  }

  test("minhash signature positions estimate jaccard") {
    GraftFunctions.ensureRegistered(spark)
    import graft.functions.GraftFunctions.minhash_sig
    // two sets with J = 50/150 ~ 0.333
    val df = spark.range(1).select(
      minhash_sig(transform(sequence(lit(1), lit(100)),
        i => concat(lit("s"), i)), 128).as("sa"),
      minhash_sig(transform(sequence(lit(51), lit(150)),
        i => concat(lit("s"), i)), 128).as("sb"))
    val row = df.select(
      size(filter(zip_with(col("sa"), col("sb"), (a, b) => a === b),
        x => x)).as("m")).head()
    val est = row.getInt(0) / 128.0
    assert(math.abs(est - 1.0 / 3.0) < 0.12, s"estimate $est too far from 1/3")
  }

  test("ann_rp_rerank achieves high recall@5 vs ann_brute") {
    val brute = graft.ops.TrainingOps.queries("ann_brute")(spark, sf("0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = graft.ops.TrainingOps.queries("ann_rp_rerank")(spark, sf("0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@5 $recall below 0.8 (|brute|=${brute.size})")
  }

  test("ann_ivf recall@5 >= 0.9 vs ann_brute at sf0.1, deterministic") {
    val brute = graft.ops.TrainingOps.queries("ann_brute")(spark, sf("0.1"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def run() = graft.ops.TrainingOps.queries("ann_ivf")(spark, sf("0.1"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = run()
    val recall = (brute intersect ivf).size.toDouble / brute.size
    val scan = graft.ops.TrainingOps.IvfProbes.toDouble / graft.ops.TrainingOps.IvfCells
    info(s"ann_ivf recall@5=$recall at scan fraction $scan")
    assert(recall >= 0.9, s"recall@5 $recall below 0.9")
    assert(scan < 0.7, s"probed fraction $scan not sub-linear")
    assert(run() === ivf, "ann_ivf not deterministic across runs")
  }

  test("ann_ivf_serve from the persisted index returns exactly ann_ivf's rows") {
    def rows(name: String) = graft.ops.TrainingOps.queries(name)(spark, sf("0.01"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    // build explicitly (idempotent atomic swap), then serve reads the
    // artifact; build's query shape is scalar (cell, pos, val)
    def buildTriples() = graft.ops.TrainingOps.queries("ann_ivf_build")(spark, sf("0.01"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getFloat(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val cents = buildTriples()
    assert(cents.map(_._1).distinct.length === graft.ops.TrainingOps.IvfCells)
    assert(rows("ann_ivf_serve") === rows("ann_ivf"))
    // rebuild is deterministic: same centroid bytes
    assert(buildTriples() === cents)
  }

  test("nearest_cell: equal centroid tables compare equal and print the same") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.NearestCell
    val v = Literal.create(Array(1f, 0f), ArrayType(FloatType))
    // built separately: equal values, distinct array instances
    def table() = Array(Array(1f, 2f), Array.emptyFloatArray, Array(3f, 4f))
    val (a, b) = (NearestCell(v, table()), NearestCell(v, table()))
    assert(a === b)
    assert(a.hashCode === b.hashCode)
    assert(a.toString === b.toString)
    assert(!a.toString.contains("[F@"), a.toString)
    assert(a !== NearestCell(v, Array(Array(1f, 2f), Array.emptyFloatArray)))
    // two builds of the ann_ivf plan differ only in expression ids
    def ivfPlan() = graft.ops.TrainingOps.annIvf(spark, sf("0.01"))
      .queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#x")
    val plan = ivfPlan()
    assert(plan.contains("nearest_cell"))
    assert(ivfPlan() === plan)
  }

  test("ivf index dir is keyed by a corpus fingerprint, not just the path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(sf("0.001"), "embeddings.parquet")
    val tmpRoot = Files.createTempDirectory("ivf_fp_test")
    val dataDir = tmpRoot.resolve("corpus")
    Files.createDirectories(dataDir)
    val dst = dataDir.resolve("embeddings.parquet")
    // testdata tables are single parquet files
    Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES,
      StandardCopyOption.REPLACE_EXISTING)
    val idx1 = graft.ops.TrainingOps.ivfIndexDir(spark, dataDir.toString)
    // regenerate the corpus at the SAME path with a different mtime: the
    // index home must move so a pre-existing index is never served stale
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(123456789000L))
    val idx2 = graft.ops.TrainingOps.ivfIndexDir(spark, dataDir.toString)
    assert(idx1 !== idx2)
    org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot.toFile)
  }

  test("ivf index dir lies under the context's scratch root") {
    // an index outside the context's root would outlive the process, and a
    // later process's serve would skip its build: a cross-process memo
    val root = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory())
      .getCanonicalPath + java.io.File.separator
    val idx = new java.io.File(
      graft.ops.TrainingOps.ivfIndexDir(spark, sf("0.001"))).getCanonicalPath
    assert(idx.startsWith(root), s"$idx is not under $root")
  }

  test("text_fingerprint golden values are stable across runs") {
    val a = graft.ops.TrainingOps.queries("text_fingerprint")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val b = graft.ops.TrainingOps.queries("text_fingerprint")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(a.sameElements(b))
  }
}
