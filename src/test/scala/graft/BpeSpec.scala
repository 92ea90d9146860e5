package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Pins text_bpe_train against a plain-Scala BPE recomputation (same
  * greedy-left-to-right merge and the same (count desc, pair asc) argmax
  * total order), plus the word_pairs / bpe_merge kernel semantics on
  * adversarial inputs (overlapping runs, multiplicity).
  */
class BpeSpec extends SparkSpec {

  private def applyMerge(a: Array[String], l: String, r: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < a.length) {
      if (i < a.length - 1 && a(i) == l && a(i + 1) == r) { buf += (l + r); i += 2 }
      else { buf += a(i); i += 1 }
    }
    buf.toArray
  }

  test("text_bpe_train: matches a plain-Scala BPE recomputation") {
    val texts = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val wc = texts.flatMap(_.trim.toLowerCase.split("\\s+"))
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    var seqs: Map[String, Array[String]] =
      wc.keys.map(w => w -> w.split("").filter(_.nonEmpty)).toMap
    val local = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (rank <- 1 to 8) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      wc.foreach { case (w, c) =>
        val a = seqs(w)
        var i = 0
        while (i < a.length - 1) {
          val k = (a(i), a(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq
          .minBy { case ((l, r), c) => (-c, s"$l $r") }
        local += ((rank, l, r, c))
        seqs = seqs.map { case (w, a) => w -> applyMerge(a, l, r) }
      }
    }
    val got = graft.ops.TrainingOps.queries("text_bpe_train")(spark, sf("0.001"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.length == 8)
    assert(got.toSeq === local.toSeq)
    // later merges genuinely build on earlier ones (some merged symbol is
    // multi-char on one side) — the iteration is not vacuously unigram
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1))
  }

  test("text_bpe_train: the min-count floor cannot change the learned merges") {
    // the driver-OOM guard (VERDICT r5 #1) drops words under
    // BpeMinWordCount before the collect; sub-floor words contribute less
    // than the floor to any pair count, so the corpus-scale argmax winners
    // are invariant — pinned here as full output equality (ranks, pairs
    // AND weighted counts) between an unfloored and the default-floored
    // run at two SFs
    for (sfDir <- Seq(sf("0.001"), sf("0.01"))) {
      val unfloored = graft.ops.TrainingOps.bpeTrainWithFloor(spark, sfDir, 1L)
      val floored = graft.ops.TrainingOps.bpeTrainWithFloor(spark, sfDir,
        graft.ops.TrainingOps.BpeMinWordCount)
      assert(floored === unfloored)
      assert(floored.length == 8)
    }
  }

  test("text_bpe_apply: matches a plain-Scala segmentation with the learned merges") {
    val merges = graft.ops.TrainingOps.queries("text_bpe_train")(spark, sf("0.001"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val d = spark.read.parquet(sf("0.001") + "/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = d.map { case (id, text) =>
      val words = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val segs = words.map { w =>
        var a = w.split("").filter(_.nonEmpty)
        merges.foreach { case (l, r) => a = applyMerge(a, l, r) }
        a.length.toLong
      }
      (id, words.length.toLong, words.map(_.length.toLong).sum, segs.sum)
    }.toSet
    val got = graft.ops.TrainingOps.queries("text_bpe_apply")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === expected)
    // the merges genuinely compress: every doc with words shrinks
    assert(got.filter(_._2 > 0).forall(g => g._4 < g._3))
  }

  test("word_pairs and bpe_merge kernel semantics") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq(Seq("a", "a", "a", "b", "a", "a")).toDF("s")
    // pairs carry multiplicity: (a,a) appears 3 times in this row
    val pairs = df.select(GraftFunctions.word_pairs(col("s"))).head.getSeq[String](0)
    assert(pairs === Seq("a a", "a a", "a b", "b a", "a a"))
    // greedy left-to-right: "a a a" -> ["aa","a"], the run after b merges too
    val merged = df.select(GraftFunctions.bpe_merge(col("s"), "a", "a"))
      .head.getSeq[String](0)
    assert(merged === Seq("aa", "a", "b", "aa"))
    // under-2 arrays pass through and produce no pairs
    val tiny = Seq(Seq("x"), Seq.empty[String]).toDF("s")
    assert(tiny.select(GraftFunctions.word_pairs(col("s")))
      .collect().map(_.getSeq[String](0).size).toSeq === Seq(0, 0))
    assert(tiny.select(GraftFunctions.bpe_merge(col("s"), "x", "y"))
      .collect().map(_.getSeq[String](0).toList).toSeq === Seq(List("x"), Nil))
  }
}
