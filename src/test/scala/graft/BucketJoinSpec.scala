package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Pins the point of q_join_bucketed — the co-located layout makes the
  * join itself exchange-free — and q_funnel's ordered-step semantics
  * against a plain-Scala recomputation.
  */
class BucketJoinSpec extends SparkSpec {

  test("bucketed join runs with ZERO shuffle exchanges (broadcast disabled)") {
    // force the worst case: no broadcast rescue, so only the bucketed
    // layout can save the join from shuffling
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      // build the raw join through the same staged tables the query uses
      // (the query itself adds an aggregate, which legitimately shuffles
      // its O(segments) partials — the pin is about the JOIN)
      val full = graft.ops.GenericQueries.queries("q_join_bucketed")(
        spark, sf("0.001"))
      val (oT, cT) = graft.ops.GenericQueries.bucketedTableNames(sf("0.001"))
      val joined = spark.table(oT)
        .join(spark.table(cT), col("o_custkey") === col("c_custkey"))
      // execute FIRST — under AQE the pre-execution plan prints un-fused
      // and non-final (CLAUDE.md); assert on the final plan
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and the result still matches the plain path-scan join
      val expected = spark.read.parquet(sf("0.001") + "/orders.parquet")
        .join(spark.read.parquet(sf("0.001") + "/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = full.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed staging happens once per context, not once per session") {
    val dir = sf("0.001")
    val (oT, cT) = graft.ops.GenericQueries.bucketedTableNames(dir)
    // every staged table file with its mtime, found through the catalog
    def staged(): Map[String, Long] = Seq(oT, cT).flatMap { tbl =>
      val loc = spark.sql(s"DESCRIBE FORMATTED $tbl")
        .filter(col("col_name") === "Location").head().getString(1)
      org.apache.commons.io.FileUtils.listFiles(
        new java.io.File(new java.net.URI(loc)), null, true).asScala
        .map(f => f.getPath -> f.lastModified())
    }.toMap
    val q = graft.ops.GenericQueries.queries("q_join_bucketed")
    val first = q(spark, dir).collect().toSet
    val files = staged()
    assert(files.nonEmpty)
    // a second session shares the catalog, so it must reuse the staged
    // files rather than rewrite them under the first session's tables
    val second = q(spark.newSession(), dir).collect().toSet
    val rewritten = (files.toSet -- staged().toSet).size
    assert(rewritten === 0, s"of ${files.size} staged files, $rewritten were rewritten")
    assert(second === first)
  }

  test("q_funnel: matches a plain-Scala ordered-step recomputation") {
    val ev = spark.read.parquet(sf("0.001") + "/events.parquet")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val winUs = 6L * 3600 * 1000000 // the 6-hour step window, in micros
    val byUser = ev.groupBy(_._1)
    val local = byUser.flatMap { case (u, xs) =>
      val views = xs.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val t1 = views.min
        val clicks = xs.filter(e =>
          e._2 == "click" && e._3 > t1 && e._3 <= t1 + winUs).map(_._3)
        val t2 = if (clicks.isEmpty) None else Some(clicks.min)
        val t3 = t2.flatMap { c =>
          val ps = xs.filter(e =>
            e._2 == "purchase" && e._3 > c && e._3 <= c + winUs).map(_._3)
          if (ps.isEmpty) None else Some(ps.min)
        }
        Some((u, t1, t2, t3, 1 + t2.size + t3.size))
      }
    }.toSet
    val got = graft.ops.GenericQueries.queries("q_funnel")(spark, sf("0.001"))
      .select(col("user_id"), unix_micros(col("view_ts").cast("timestamp")),
        unix_micros(col("click_ts").cast("timestamp")),
        unix_micros(col("purchase_ts").cast("timestamp")), col("steps"))
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4))
      }.toSet
    assert(got.nonEmpty)
    assert(got === local)
    // drop-off is real at this scale: all three step counts distinct
    val steps = got.groupBy(_._5).view.mapValues(_.size).toMap
    assert(steps.keySet == Set(1, 2, 3))
  }
}
