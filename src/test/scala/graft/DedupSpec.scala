package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Pins the dedup paths the driver's data never exercises.
  *
  * The binding-cap test: at sf0.001 the shingle document-frequency
  * histogram reaches df=9, so cap=5 actually drops shingles from candidate
  * generation — the exact verify over the uncapped shingle arrays must
  * restore EXACT Jaccard counts, making the capped result identical to the
  * effectively uncapped one (every sf0.001 true pair also shares df<=5
  * shingles, so the documented all-hot recall exception does not trigger
  * here).
  */
class DedupSpec extends SparkSpec {

  /** Collected (ia, ib, common, n_union) rows, sorted on (ia, ib): the
    * builders' pair frames are unordered.
    */
  private def sortedRows(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(p => (p._1, p._2))

  private def pairs(cap: Int) =
    sortedRows(graft.ops.TrainingOps.dedupNgram(spark, sf("0.001"), cap))

  test("ngram cap correction: binding cap returns exact uncapped Jaccard") {
    val uncapped = pairs(1000000)
    assert(uncapped.nonEmpty, "fixture should contain near-dup pairs")
    assert(pairs(5) === uncapped)
  }

  private def incPairs(cap: Int) =
    sortedRows(graft.ops.TrainingOps.dedupIncremental(spark, sf("0.001"), cap))

  test("incremental dedup: equals the full pair set restricted to cross-class") {
    val inc = incPairs(1000000)
    assert(inc.nonEmpty, "fixture should contain batch-vs-corpus near-dups")
    // the asymmetric join must find exactly the full-corpus pairs with one
    // endpoint in the batch class, reoriented to (corpus, batch)
    val want = pairs(1000000)
      .filter(p => (p._1 % 10 == 7) != (p._2 % 10 == 7))
      .map(p => if (p._2 % 10 == 7) p else (p._2, p._1, p._3, p._4))
      .sortBy(p => (p._1, p._2))
    assert(inc === want)
    inc.foreach { case (ia, ib, _, _) =>
      assert(ia % 10 != 7 && ib % 10 == 7, s"orientation of ($ia,$ib)")
    }
  }

  test("incremental dedup cap correction: binding cap stays exact") {
    assert(incPairs(5) === incPairs(1000000))
  }

  test("connected components: chains, stars, cycles, singleton pairs") {
    import spark.implicits._
    // chain 1-2-3-4, star 20<-(21,22,23), cycle 30-31-32-30, lone pair
    // 40-41: the driver data's components are near-cliques, so the
    // multi-hop transitive cases are pinned here instead
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (30L, 31L), (31L, 32L), (30L, 32L),
      (40L, 41L)).toDF("ia", "ib")
    val got = graft.ops.TrainingOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L,
      40L -> 40L, 41L -> 40L)
    assert(got === want)
  }

  test("connected components: random graphs agree with a plain-Scala union-find") {
    import spark.implicits._
    // property pin for the r6 label-sum convergence detector: on seeded
    // random graphs (long chains, merged blobs, isolated pairs all arise)
    // the distributed fixpoint must match an independent union-find
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 60
      val es = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
      val want = verts.map(v => v -> find(v)).toMap
      val got = graft.ops.TrainingOps
        .connectedComponents(es.toDF("ia", "ib"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial $trial")
    }
  }

  /** CacheManager entry count (private[sql] in Scala, a public JVM method). */
  private def cacheEntries: Any = {
    val cache = spark.sharedState.cacheManager
    cache.getClass.getMethod("numCachedEntries").invoke(cache)
  }

  test("connected components: a failed fixpoint releases its caches") {
    import spark.implicits._
    // the chain needs two loop rounds, so maxIters = 1 trips the guard
    // after edges and two rounds of labels were materialized
    val before = cacheEntries
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("ia", "ib")
    intercept[IllegalArgumentException] {
      graft.ops.TrainingOps.connectedComponents(chain, maxIters = 1)
    }
    assert(cacheEntries === before)
    // a converged run hands back checkpointed labels, not a cache entry
    val labels = graft.ops.TrainingOps.connectedComponents(chain)
    assert(labels.collect().map(_.getLong(1)).toSet === Set(1L))
    assert(cacheEntries === before)
  }

  test("connected components leave the session's SQL conf alone") {
    import spark.implicits._
    // every job a query submits carries the session's explicitly set SQL
    // conf as job properties; the loop must run on the caller's values
    val flag = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val jobProps = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties).fold(Map.empty[String, String]) { p =>
          p.stringPropertyNames().toArray.map(_.toString)
            .filter(_.startsWith("spark.sql.")).map(k => k -> p.getProperty(k)).toMap
        }
        jobProps.add(props)
      }
    }
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("ia", "ib")
    drainListenerBus()
    spark.sparkContext.addSparkListener(listener)
    try graft.ops.TrainingOps.connectedComponents(chain)
    finally {
      drainListenerBus()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobProps.size >= 3, "round 0 and the loop rounds submit jobs")
    jobProps.forEach(p => assert(!p.get(flag).contains("true"), s"$flag in $p"))
    assert(spark.conf.getOption(flag).forall(_ != "true"))
  }

  test("dedup_ngram leaves no cache entry of its own result") {
    // a cached pair frame would turn every later dedup_ngram call of the
    // session into a cache read of the whole result
    val dir = sf("0.001")
    val df = graft.ops.TrainingOps.queries("dedup_ngram")(spark, dir)
    assert(df.count() > 0)
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(graft.ops.TrainingOps.dedupNgram(spark, dir, 5).storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE)
  }

  test("dedup_clusters: five invocations give equal results") {
    // each invocation recomputes the pair frame and the fixpoint and
    // returns its own checkpointed labels
    def run() = graft.ops.TrainingOps.queries("dedup_clusters")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    val first = run()
    (1 to 4).foreach(_ =>
      graft.ops.TrainingOps.queries("dedup_clusters")(spark, sf("0.001")).count())
    assert(run() === first)
  }

  test("dedup_clusters covers exactly the paired docs, one keeper per cluster") {
    val pairRows = pairs(1000000)
    val docs = pairRows.flatMap(p => Seq(p._1, p._2)).toSet
    val rows = graft.ops.TrainingOps.queries("dedup_clusters")(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.map(_._1).toSet === docs)
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      assert(members.count(_._3) === 1, s"cluster $cluster keepers")
      assert(members.map(_._1).min === cluster, s"cluster $cluster canonical id")
    }
  }

  test("all three dedup mechanisms agree on the exact pair set") {
    def ids(name: String) = graft.ops.TrainingOps.queries(name)(spark, sf("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = ids("dedup_ngram")
    assert(ids("dedup_minhash") === ngram)
    assert(ids("dedup_simhash") === ngram)
  }

  test("dedup_ngram's pair frame is unsorted at any cap") {
    // dedup_clusters and text_curate read the pair frame through
    // connectedComponents, which ignores row order
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    Seq(graft.ops.TrainingOps.ShingleFreqCap, 5).foreach { cap =>
      val plan = graft.ops.TrainingOps.dedupNgram(spark, sf("0.001"), cap)
        .queryExecution.optimizedPlan
      assert(plan.collect { case s: Sort => s }.isEmpty, s"Sort at cap $cap")
    }
  }

  test("the LSH queries explode band and probe keys, never the shingle arrays") {
    // the exact verify intersects the cached arrays instead of joining an
    // exploded shingle index
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    Seq("dedup_minhash", "dedup_simhash").foreach { q =>
      val gens = graft.ops.TrainingOps.queries(q)(spark, sf("0.001"))
        .queryExecution.optimizedPlan.collect { case g: Generate => g.generator }
      assert(gens.nonEmpty, s"$q explodes its band keys")
      gens.foreach(g => assert(
        !g.children.exists { case a: Attribute => a.name == "sh"; case _ => false },
        s"$q: $g"))
    }
  }

  test("docs with no shingles never pair") {
    import spark.implicits._
    // docs under 3 tokens have empty shingle arrays: all-Long.MaxValue
    // MinHash signatures and zero SimHash signatures, so both LSH paths
    // make them a candidate pair that passes the signature prefilter;
    // sharing no shingle, they must not pass the exact verify as 0 >= 0
    val dir = java.nio.file.Files.createTempDirectory("graft_noshingle").toString
    val words = (1 to 30).map(i => s"word$i")
    Seq(
      1L -> "hello",
      2L -> "two tokens",
      3L -> words.mkString(" "), // 28 shingles
      4L -> (words :+ "tail").mkString(" ") // the same 28 plus one
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    try Seq("dedup_minhash", "dedup_simhash", "dedup_ngram").foreach { q =>
      assert(sortedRows(graft.ops.TrainingOps.queries(q)(spark, dir)) ===
        Seq((3L, 4L, 28L, 29L)), q)
    } finally {
      graft.ops.TrainingOps.releaseCaches(spark, dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("dedup_substring: exact 8-token window boundary semantics") {
    import spark.implicits._
    // hand-built corpus pinning every boundary the oracle also encodes:
    // an exactly-8-token shared run matches, a 7-token run does not,
    // <8-token docs vanish, per-doc windows are DISTINCT, and the %9
    // footer plant gives exactly the 3 all-footer windows as dups.
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    Seq(
      1L -> "a b c d e f g h",
      2L -> "z a b c d e f g h y",
      3L -> "p q r s t u v", // 7 tokens: no windows at all
      4L -> "a b c d e f g x q r s t", // shares only a 7-run with 1/2
      5L -> "m m m m m m m m m m", // one DISTINCT window, no partner
      9L -> "unique nine words here one", // footer-planted (9 % 9 == 0)
      18L -> "different other words" // footer-planted (18 % 9 == 0)
    ).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = graft.ops.TrainingOps.queries("dedup_substring")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq.sorted
    assert(got === Seq(
      (1L, 1L, 1L, true), // its lone window recurs inside doc 2
      (2L, 3L, 1L, true),
      (4L, 5L, 0L, false), // 7-token overlap is below the window width
      (5L, 1L, 0L, false), // intra-doc repetition collapses to one window
      (9L, 8L, 3L, true), // 5 own tokens + 10 footer = 15 -> 8 windows
      (18L, 6L, 3L, true) // 3 own tokens + 10 footer = 13 -> 6 windows
    ))
  }

  test("mechanisms still agree at sf0.1 (CLAUDE.md banding invariant)") {
    // the invariant: re-check recall at the larger sf whenever
    // signatures/banding/thresholds change — candidate generation bugs
    // that sf0.001 can't expose (bucket collisions, probe coverage) show
    // up here as missing pairs vs the exact inverted-index mechanism
    def ids(name: String) = graft.ops.TrainingOps.queries(name)(spark, sf("0.1"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = ids("dedup_ngram")
    assert(ngram.nonEmpty)
    assert(ids("dedup_minhash") === ngram)
    assert(ids("dedup_simhash") === ngram)
  }

  test("LSH candidates cover every verified pair at sf0.01") {
    // the funnel's recall: every pair a banded query verifies must come
    // out of the candidate join graft.DedupStats counts for it
    import graft.ops.TrainingOps._
    val dir = sf("0.01")
    def missing(query: String, candidates: DataFrame) = {
      val verified = queries(query)(spark, dir).select("ia", "ib")
      assert(verified.count() > 0, s"$query verified no pairs")
      verified.join(candidates, Seq("ia", "ib"), "left_anti").collect().toSeq
    }
    try {
      val dsh = docShingles(spark, dir)
      assert(missing("dedup_minhash", minhashCandidates(minhashSigs(dsh))) === Nil)
      assert(missing("dedup_simhash", simhashCandidates(simhashSigs(dsh))) === Nil)
    } finally releaseCaches(spark, dir)
  }

  /** `dir`'s documents and events tables rewritten as defaultParallelism
    * files each, in a fresh temp dir.
    */
  private def manyFileCopy(dir: String): String = {
    val many = java.nio.file.Files.createTempDirectory("graft_spread").toString
    Seq("documents", "events").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.parquet(s"$many/$t.parquet")
    }
    many
  }

  test("populated-split rule: a one-file table is spread, a many-file table is not") {
    // the rule's sites: the four one-split pipe_* queries and the
    // documents read behind every dedup cache (the persisted shingle frame)
    def sites(dir: String) = Seq("pipe_lumberjack", "pipe_e2e_counts",
        "pipe_quarantine_fuzz", "pipe_conv_fingerprint")
      .map(q => q -> graft.pipeline.PipelineQueries.queries(q)(spark, dir)) :+
      ("docShingles" -> graft.ops.TrainingOps.docShingles(spark, dir))
    // round-robin exchanges in the physical plan, looking through AQE
    // wrappers (as first planned) and into persisted frames' cached plans
    def exchanges(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.inputPlan)
      case m: InMemoryTableScanExec => exchanges(m.relation.cachedPlan)
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
        1 + exchanges(e.child)
      case other => other.children.map(exchanges).sum
    }
    def roundRobins(df: org.apache.spark.sql.DataFrame) =
      exchanges(df.queryExecution.executedPlan)
    // sf0.001's tables are one file with one row group each
    val one = sf("0.001")
    sites(one).foreach { case (name, df) =>
      assert(roundRobins(df) === 1, s"$name on a one-file table")
    }
    val populated = graft.ops.TrainingOps.docShingles(spark, one).rdd
      .mapPartitions(rows => Iterator(rows.size)).collect().count(_ > 0)
    assert(populated >= 2, "shingle frame partitions holding rows")
    // the same tables written as defaultParallelism files fill the cluster
    // on their own: no exchange is added
    val width = spark.sparkContext.defaultParallelism
    val many = manyFileCopy(one)
    assert(spark.read.parquet(s"$many/documents.parquet").inputFiles.length >= width)
    try sites(many).foreach { case (name, df) =>
      assert(roundRobins(df) === 0, s"$name on a $width-file table")
    } finally {
      graft.ops.TrainingOps.releaseCaches(spark, many)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(many))
    }
  }

  test("releaseCaches drops every frame the dedup queries cached, at any cap") {
    import graft.ops.TrainingOps
    val dir = sf("0.001")
    TrainingOps.releaseCaches(spark, dir)
    val before = cacheEntries
    Seq("dedup_ngram", "dedup_incremental", "dedup_clusters", "dedup_simhash",
      "text_keywords", "text_decontaminate")
      .foreach(q => TrainingOps.queries(q)(spark, dir).count())
    // cap = 5 binds at sf0.001: a second stop-shingle table
    TrainingOps.dedupNgram(spark, dir, 5).count()
    TrainingOps.dedupIncremental(spark, dir, 5).count()
    assert(cacheEntries != before, "the dedup runs cache nothing")
    TrainingOps.releaseCaches(spark, dir)
    assert(cacheEntries === before)
  }

  test("releaseCaches drops only its own directory's caches") {
    // run A, run B, release A, release B: B's release must still find
    // and drop B's persisted shingle frame
    val one = sf("0.001")
    val many = manyFileCopy(one)
    try {
      // start with sf0.001's shingle frame registered and then released,
      // so no cache entry left by earlier tests hides a leak
      graft.ops.TrainingOps.queries("dedup_ngram")(spark, one)
      graft.ops.TrainingOps.releaseCaches(spark, one)
      val before = cacheEntries
      Seq(one, many).foreach(d =>
        graft.ops.TrainingOps.queries("dedup_ngram")(spark, d).count())
      assert(cacheEntries != before, "the dedup runs cache nothing")
      Seq(one, many).foreach(graft.ops.TrainingOps.releaseCaches(spark, _))
      assert(cacheEntries === before)
    } finally {
      graft.ops.TrainingOps.releaseCaches(spark, many)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(many))
    }
  }
}
