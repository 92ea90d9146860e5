package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.state.{Scratch, TableFormat}

/** Standard-operator coverage (SURVEY.md §2.6): scans with
  * pushdown/pruning, hash aggregation, broadcast/semi/anti joins, window
  * functions, sort/limit, set ops, rollup, scalar functions, sessionized
  * time aggregation. All numeric aggregate outputs are exact integers
  * (floor-to-cents before summing) so the DuckDB comparison is never
  * exposed to float summation order.
  */
object GenericQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Catalog names for the staged bucketed pair (spec needs them too). */
  def bucketedTableNames(dir: String): (String, String) =
    (s"graft_bkt_orders_${Scratch.tag(dir)}", s"graft_bkt_customer_${Scratch.tag(dir)}")

  /** Bucketed catalog tables for q_join_bucketed, staged once per context
    * ([[Scratch.staged]]; every session shares the catalog): orders and
    * customer both written CLUSTERED BY the join key into the same bucket
    * count, so the join needs NO exchange — the layout-level co-location a
    * 100 TB fact/dim pair is stored with (the write pays the shuffle once;
    * every subsequent join rides it). Parquet bucketing metadata lives in
    * the catalog, hence saveAsTable rather than a path write.
    */
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val (oT, cT) = bucketedTableNames(dir)
    Scratch.staged("bkt", dir) { base =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$base/orders").saveAsTable(oT)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$base/customer").saveAsTable(cT)
    }
    (oT, cT)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped hash aggregate: partial+final comes from Catalyst;
    // scan reads only 5 of 11 lineitem columns (column pruning).
    "q_agg_pricing" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity"))).cast("long").as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100)).cast("long").as("sum_price_cents"),
          sum(floor(col("l_discount") * 100)).cast("long").as("sum_disc_cents"),
          count(lit(1)).as("n"))
    },
    // broadcast dimension chain: nation/customer broadcast, orders never
    // shuffled until the final (small) aggregate.
    "q_join_broadcast" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
    },
    // EXISTS via left-semi: orders having a high-quantity line
    "q_join_semi" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      orders.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
    },
    // NOT EXISTS via left-anti: customers with no orders
    "q_join_anti" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },
    // full outer join (the join-matrix completion next to broadcast/
    // semi/anti): per-customer order rollup keeps BOTH customers with no
    // orders AND orders whose customer key misses the dimension; null
    // keys surface as sentinel -1.
    // Scale shape: the orders side pre-aggregates to O(custkeys) BEFORE
    // the join (never row-level fan-in), then a shuffle full-outer on the
    // key — partial-agg map-side combine keeps hot customers bounded.
    "q_join_outer" -> { (s, dir) =>
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
      cust.join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), lit(-1L)).as("custkey"),
          coalesce(col("c_name"), lit("(none)")).as("name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_floor"), lit(0L)).as("total_floor"))
    },
    // window: first 3 shipments per supplier under a total tie-break order
    "q_window_topn" -> { (s, dir) =>
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"), col("l_linenumber"))
    },
    // running per-conversation turn number over the transcripts-shaped
    // events table (the ordering primitive of the north rule)
    "q_window_running" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir, "events")
        .withColumn("turn_no", row_number().over(w))
        .withColumn("running_cents",
          sum(floor(col("value") * 100)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
        .select(col("user_id"), col("event_id"), col("turn_no"), col("running_cents"))
    },
    // global sort + limit (top-k with total tie-break)
    "q_topk_orders" -> { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    },
    // set ops: buyers of urgent orders minus buyers of low-priority orders
    "q_setops" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      val low = orders.filter(col("o_orderpriority") === "5-LOW")
        .select("o_custkey")
      urgent.distinct().except(low.distinct())
    },
    "q_intersect" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      ev.filter(col("event_type") === "click").select("user_id").distinct()
        .intersect(ev.filter(col("event_type") === "error").select("user_id").distinct())
    },
    // rollup (grouping sets)
    "q_rollup" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        // rollup nulls -> sentinel: engines disagree on null sort order
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"), col("n"))
    },
    // scalar function surface (string/date/cast kernel used by the parse
    // stage, SURVEY.md §2.6 "Scalar functions")
    "q_scalar_funcs" -> { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("u"),
        lower(col("p_type")).as("l"),
        length(col("p_name")).cast("long").as("len"),
        substring(col("p_name"), 1, 5).as("pre"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        trim(lit("  x  ")).as("trimmed"),
        lpad(col("p_size").cast("string"), 4, "0").as("padded")
      )
    },
    // sessionized (tumbling-hour) aggregation over the event stream — the
    // batch form of the Structured Streaming windowed count
    "q_sessionize" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100)).cast("long").as("cents"))
    },
    // gap-based sessionization via the native session_window (the
    // streaming-native operator, run in batch): a session closes when the
    // next event is >= 12h after the previous one
    "q_session_gap" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "12 hours"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100)).cast("long").as("cents"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("n"), col("cents"))
    },
    // distinct count per group (exact; the reference's lineage counters)
    "q_count_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_suppkey")).as("n_supp"))
    },
    // cube (all grouping-set combinations; rollup's big sibling)
    "q_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
        .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total_floor"))
    },
    // explicit GROUPING SETS (the multi-dim agg family's third member —
    // the NON-hierarchical set {(a,b),(a),(b)} that neither rollup nor
    // cube expresses: rollup omits (b), cube adds the grand total). The
    // source columns are null-free, so output nulls identify the set
    // exactly; `lvl` derives the set id portably from those nulls (Spark
    // grouping_id() and DuckDB GROUPING_ID() bit conventions need not
    // agree, and the derived form is pinned by the data itself). Scale
    // shape: ONE scan — Expand replicates each row once per set (×3)
    // before the partial agg, so map-side combine still collapses hot
    // groups; never three scans unioned.
    "q_grouping_sets" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
        .select(
          (when(col("o_orderstatus").isNull, 2L).otherwise(0L) +
            when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("lvl"),
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total_floor"))
    },
    // salted join — the skew rewrite as a first-class operator, pinned by
    // RESULT EQUALITY to the plain equi-join (the oracle runs the unsalted
    // join; a wrong salt/replication would change row multiplicity and
    // break the counts — a cross-plan check). Shape: the fact side gets a
    // deterministic salt in [0,S); the dim side is replicated ×S via a
    // broadcast cross join with the salt axis; the join key becomes
    // (custkey, salt), so ONE hot customer spreads across S reducer
    // partitions instead of landing in one task. shuffle_hash hint keeps
    // the demo honest at test scale (an auto-broadcast dim would bypass
    // the salted exchange; at 100 TB you salt precisely when the dim is
    // NOT broadcastable). Dim replication cost is ×S on the SMALL side
    // only — the fact table is never duplicated.
    "q_join_salted" -> { (s, dir) =>
      val S = 8
      val salts = s.range(S).select(col("id").cast("int").as("salt"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .crossJoin(broadcast(salts))
      val fact = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"),
          pmod(col("o_orderkey"), lit(S.toLong)).cast("int").as("salt"))
      fact.hint("shuffle_hash")
        .join(dim, fact("o_custkey") === dim("c_custkey") &&
          fact("salt") === dim("salt"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
    },
    // Z-order layout key (space-filling curve) — the data-LAYOUT primitive
    // behind multi-dimensional min/max file pruning at 100 TB: interleave
    // the bits of two dimension keys so that sorting by the result
    // clusters BOTH dimensions at once (writing z-sorted parquet gives
    // every file a tight min/max envelope in x AND y, so a scan filtered
    // on either dimension skips most files — a plain sort clusters only
    // its leading column). The key is pure 64-bit integer magic-number
    // bit spreading, identical in both engines. The query aggregates per
    // 256x256 z-tile and emits each tile's x/y envelope — the pruning
    // property itself (every tile's spans are <= 255, pinned in
    // ProfileOpsSpec), not just the key. Scale shape: one scan + one
    // partial agg on O(tiles) keys; the production write is
    // repartitionByRange(z) + sortWithinPartitions(z), no extra shuffle
    // beyond the range partitioner.
    "q_zorder" -> { (s, dir) =>
      def spread(c: Column): Column = {
        val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
        val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
        val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
        d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
      }
      t(s, dir, "orders")
        .select(col("o_custkey").bitwiseAND(lit(0xFFFFL)).as("x"),
          floor(col("o_totalprice") / 100).cast("long")
            .bitwiseAND(lit(0xFFFFL)).as("y"))
        .select(col("x"), col("y"),
          spread(col("x")).bitwiseOR(shiftleft(spread(col("y")), 1)).as("z"))
        .groupBy(shiftright(col("z"), 16).as("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
    },
    // pivot with an EXPLICIT value list (omitting it costs an extra
    // distinct-collect pass over the fact table — never at 100 TB)
    "q_pivot" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .select(col("o_orderstatus").as("status"),
          coalesce(col("`1-URGENT`"), lit(0L)).as("n_urgent"),
          coalesce(col("`2-HIGH`"), lit(0L)).as("n_high"),
          coalesce(col("`3-MEDIUM`"), lit(0L)).as("n_medium"),
          coalesce(col("`4-NOT SPECIFIED`"), lit(0L)).as("n_unspec"),
          coalesce(col("`5-LOW`"), lit(0L)).as("n_low"))
    },
    // lateral one-to-many: posexplode (generator/flatMap surface)
    "q_explode" -> { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
    },
    // as-of join: attach each event's most recent PRIOR click by the same
    // user. Spark expresses it as a running window over the partitioned
    // sort (the scale shape: one shuffle on user_id, no self-join); the
    // oracle recomputes it with DuckDB's native ASOF JOIN — a genuinely
    // different algorithm agreeing on the same semantics.
    "q_asof" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("prev_click_id",
          last(when(col("event_type") === "click", col("event_id")),
            ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("prev_click_id"))
    },
    // unpivot / melt (q_pivot's inverse — wide metrics to long (key,
    // metric, value) rows, the shape metric stores and training-feature
    // tables ingest). Spark's native unpivot is a zero-shuffle per-row
    // Expand (output = rows x metrics, no join, no agg); values are
    // floor-to-cents integers so the melted column is one exact type.
    // Oracle is a UNION ALL reconstruction — a cross-algorithm check.
    "q_unpivot" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
          col("c_nationkey").cast("long").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal_cents"), col("nationkey")), "metric", "val")
    },
    // range (interval containment) join — the operator Spark itself has
    // no native plan for: a raw `e.ts BETWEEN w.start AND w.end` join
    // plans as BroadcastNestedLoopJoin, O(windows x events). The scalable
    // rewrite BUCKETS each interval into the hour grid it covers
    // (explode: O(span/bucket) keys per window), equi-joins events on
    // their single hour bucket, then applies the exact bound filter —
    // shuffle-partitioned on the bucket key like any equi-join, no
    // nested loop anywhere. An event matches a window via exactly one
    // bucket (its own hour), so no post-join dedup is needed. Skew per
    // bucket is bounded by windows-overlapping-that-hour, not corpus
    // size. Windows: one 3 h window per event_id % 397 == 0 trigger.
    "q_range_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val win = ev.filter(col("event_id") % 397 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 3 HOURS")).as("w_end"))
      val winB = win.select(col("window_id"), col("w_start"), col("w_end"),
        explode(sequence(date_trunc("hour", col("w_start")),
          date_trunc("hour", col("w_end")), expr("INTERVAL 1 HOUR")))
          .as("hb"))
      val evB = ev.select(col("ts"), date_trunc("hour", col("ts")).as("hb"))
      winB.join(evB, Seq("hb"))
        .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
        .groupBy("window_id").agg(count(lit(1)).as("n_events"))
    },
    // deterministic content-hash train/val split (every training pipeline
    // needs one that is reproducible across engines and runs): md5 of the
    // text, first hex digit < 'c' => train (~75%)
    "q_split" -> { (s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          when(substring(md5(col("text").cast("binary")), 1, 1) < "c", "train")
            .otherwise("val").as("split"))
    },
    // approximate distinct (HyperLogLog) vs exact, compared with INTEGER
    // threshold math: both engines' sketches differ, so the oracle-checked
    // value is the exact count plus a "within 5%" flag that both satisfy
    "q_approx_distinct" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_exact"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("n_approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) * 20 <= col("n_exact"))
            .as("approx_within_5pct"))
    },
    // time-series gap-fill (resample): dashboards need a row for EVERY
    // hour in the observed range, zero-filled where no events landed —
    // generator (sequence + explode over the 1-row bounds aggregate) left
    // outer joined by the hourly aggregate. Scale shape: the corpus pass
    // is the groupBy; the generated axis and the joined aggregate are both
    // calendar-bounded (decades of hours ~ 10^5 rows), so the outer join
    // is metadata-sized at any corpus scale. The sf0.01 fixture has 42
    // genuinely empty hours for the error class, so the zero-fill branch
    // is exercised, not vacuous.
    "q_gapfill" -> { (s, dir) =>
      val err = t(s, dir, "events").filter(col("event_type") === "error")
      val hourly = err.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n_raw"))
      val hours = err
        .agg(date_trunc("hour", min(col("ts"))).as("lo"),
          date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 hour"))).as("h"))
      hours.join(hourly, Seq("h"), "left_outer")
        .select(col("h"), coalesce(col("n_raw"), lit(0L)).as("n"),
          col("n_raw").isNull.as("gap"))
    },
    // fixed-width histogram (data profiling's other half next to
    // percentiles): bin = floor(value / width) — ONE exact-rounded IEEE
    // division + floor, bit-identical across engines; per-bin count and
    // an integer-valued floor-sum (doubles holding ints < 2^53 sum
    // exactly, the q_agg_pricing convention). One partial-agg shuffle on
    // O(bins) keys — the one-pass profile plan at 10^11 rows; empty bins
    // stay absent (join q_gapfill's generated axis when density matters).
    "q_histogram" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 10000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice"))).cast("long").as("sum_floor"))
    },
    // per-group percentiles, both forms a 100-TB engine needs: EXACT
    // discrete quantiles by rank selection (the value at ceil(p*n) —
    // integer position math; the selected value is a STORED double, so
    // both engines return it bit-identically, no float arithmetic), and
    // the production sketch (percentile_approx's partial-mergeable
    // KLL/GK-style digest), oracle-checked as a within-2-quantity-units
    // flag since the engines' sketches differ — the bound must exceed the
    // domain's value resolution (l_quantity steps by 1, so a relative 2%
    // band at p90=45 is SUB-step and a one-rank sketch wobble would flip
    // the flag between engines/runs). Scale shape: rank selection shuffles once
    // on the group key and sorts within groups — right when groups are
    // many and modest; for global/few-group quantiles over 10^11 rows the
    // mergeable sketch IS the plan (one pass, no sort).
    "q_percentiles" -> { (s, dir) =>
      // COUNT-BASED rank selection (VERDICT r5 #2): the r5 plan sorted the
      // whole corpus inside a 3-value-key window (l_returnflag has 3
      // values — at 100x one task sorts ~1/3 of the corpus), contradicting
      // its own "many and modest groups" applicability note. The exact
      // quantiles only need VALUE FREQUENCIES: a map-side partial
      // groupBy(flag, value) compacts the corpus to O(groups x distinct
      // values) rows, the cumulative-count window runs over that tiny
      // frame (the value at rank r is the smallest value whose running
      // count reaches r — identical to row_number selection), and no task
      // ever sorts corpus-scale data. The mergeable sketch keeps its own
      // one-pass partial agg over the raw rows, exactly as before.
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity"))
      val vc = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      val wAll = Window.partitionBy("l_returnflag")
      val exact = vc
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("l_returnflag"))
        .agg(
          max(col("n")).as("n"),
          min(when(col("cum") >= expr("(n + 1) div 2"),
            col("l_quantity"))).as("p50"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"),
            col("l_quantity"))).as("p90"),
          min(when(col("cum") >= expr("(99 * n + 99) div 100"),
            col("l_quantity"))).as("p99"))
      val approx = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_quantity"), lit(0.9), lit(10000)).as("a90"))
      exact.join(approx, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n"), col("p50"), col("p90"),
          col("p99"),
          (abs(col("a90") - col("p90")) <= lit(2.0d))
            .as("approx_within_2units"))
    },
    // heavy hitters (frequency > n/16) over an unbounded key domain via a
    // Misra-Gries sketch + exact verification — the two-pass plan that
    // finds hot keys at 10^11 rows WITHOUT shuffling every distinct key:
    // pass 1 is a partial-mergeable 64-counter summary (O(1) state per
    // task, O(capacity) bytes shuffled — a groupBy here shuffles the full
    // key cardinality); pass 2 counts exactly, but only over the O(64)
    // candidate set (broadcast semi-filter), so map-side combine sees at
    // most 64 groups. MG guarantees candidates ⊇ all keys with freq >
    // n/65, so nothing above the n/16 threshold is ever missed; the
    // output is exact counts — deterministic even though the intermediate
    // sketch depends on merge order. Skew is PLANTED deterministically
    // (the FIXTURES.md convention): 3 hot keys at ~n/12 (pass), 10 warm
    // keys at ~n/40 (event_id % 4 == 1 restricts event_id % 40 to 10
    // residues; must be excluded — margin 2.5x below the n/16 bar),
    // ~n/2 cold singletons (sketch noise). (ADVICE r5: the old comment
    // claimed 40 warm keys at ~n/160.)
    "q_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val key = when(col("event_id") % 4 === 0,
          concat(lit("hot_"), (col("event_id") % 3).cast("string")))
        .when(col("event_id") % 4 === 1,
          concat(lit("warm_"), (col("event_id") % 40).cast("string")))
        .otherwise(concat(lit("cold_"), col("event_id").cast("string")))
      val keyed = t(s, dir, "events").select(key.as("k"))
      // TWO corpus passes, not three (VERDICT r5 #3): the exact total row
      // count rides the SKETCH pass as an Observation (the MG aggregator
      // sees every row anyway), so pass 1 yields candidates + n in one
      // scan, and pass 2 exact-counts only the O(capacity) candidate set.
      // The collected sketch row is O(capacity) driver metadata — the same
      // bytes the broadcast of the candidate frame shipped before. Only
      // the sketch pass is spread off a one-split input
      // (TableFormat.spreadScan; its per-row MG update is the expensive
      // kernel); pass 2 is an InSet probe + partial agg over at most
      // Capacity groups — spreading it would cost a 100%-of-rows shuffle
      // to save per-row work that map-side combine already makes trivial.
      val obs = org.apache.spark.sql.Observation()
      val candRow = TableFormat.spreadScan(keyed)
        .observe(obs, count(lit(1)).as("n")).as[String]
        .select(graft.functions.MisraGriesAgg.toColumn.name("cand"))
        .collect()
      val cands = candRow.headOption.map(_.keys.toSeq).getOrElse(Seq.empty)
      val n = obs.get("n").asInstanceOf[Long]
      keyed.filter(col("k").isInCollection(cands))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 16 > lit(n))
        .select(col("k"), col("cnt"))
    },
    // CDC upsert / MERGE INTO: compact a change batch (multi-version
    // updates, deletes, inserts) onto a base snapshot — the maintenance
    // operation behind every mutable table a log pipeline feeds. Latest
    // version per key wins (window over the CHANGE BATCH only — never the
    // base), then ONE full-outer shuffle join applies it: base-only rows
    // pass through, op=U rewrites in place, op=D drops, op=I lands on a
    // base-miss. Scale shape: the window sorts only the O(batch) side;
    // the join shuffles on the key with no fan-out (both sides unique per
    // key); AQE broadcasts the batch when it is genuinely small — no hard
    // hint, a 30%-churn batch at 10^11 rows must stay a shuffle join.
    // Changes are derived deterministically from the base itself.
    "q_cdc_upsert" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("key"),
        col("o_orderstatus").as("status"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val k = col("key")
      // ONE scan derives the whole change batch: the union-of-filters form
      // re-scanned orders once per change class (4 FileScans in the plan);
      // per-row WHEN guards into an exploded struct array emit the same
      // multiset of change rows from a single pass (keys divisible by 20
      // still yield both U1 and U2 — conditions are evaluated per slot).
      val changes = base.select(explode(array(
          when(k % 10 === 0, struct(k.as("key"), lit("U").as("op"),
            lit(1L).as("version"), lit("U1").as("new_status"),
            lit(null).cast("long").as("new_cents"))),
          when(k % 20 === 0, struct(k.as("key"), lit("U").as("op"),
            lit(2L).as("version"), lit("U2").as("new_status"),
            lit(null).cast("long").as("new_cents"))),
          when(k % 10 === 5, struct(k.as("key"), lit("D").as("op"),
            lit(1L).as("version"), lit(null).cast("string").as("new_status"),
            lit(null).cast("long").as("new_cents"))),
          when(k % 10 === 3, struct((k + 50000000L).as("key"),
            lit("I").as("op"), lit(1L).as("version"), lit("NEW").as("new_status"),
            lit(0L).as("new_cents"))))).as("c"))
        .filter(col("c").isNotNull)
        .select(col("c.key"), col("c.op"), col("c.version"),
          col("c.new_status"), col("c.new_cents"))
      val wv = Window.partitionBy(col("key"))
        .orderBy(col("version").desc, col("op"))
      val latest = changes.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 1).drop("rn")
      base.join(latest, Seq("key"), "full_outer")
        .filter(col("op").isNull ||
          (col("op") === "U" && col("status").isNotNull) ||
          (col("op") === "I" && col("status").isNull))
        .select(col("key"),
          coalesce(col("new_status"), col("status")).as("status"),
          coalesce(col("new_cents"), col("cents")).as("cents"))
    },
    // ordered-sequence funnel (view -> click -> purchase per user): each
    // step is the FIRST qualifying event strictly after the previous
    // step's timestamp and within a 6-hour window of it — the
    // conversion-analysis primitive, time-bounded so drop-off is real
    // (unbounded, every active user eventually "converts"). Three linear
    // passes, each an equi-join of the events scan against the previous
    // step's AGGREGATED O(users) frame followed by a partial-agg min —
    // never a per-user sort or a self-join fan-out; AQE broadcasts the
    // step frames when small, at 10^11 events they stay shuffle
    // equi-joins on user_id. Left joins keep drop-off visible (steps
    // column counts completed stages).
    "q_funnel" -> { (s, dir) =>
      val win = expr("INTERVAL 6 HOUR")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("view_ts") && col("ts") <= col("view_ts") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("click_ts") && col("ts") <= col("click_ts") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("view_ts"), col("click_ts"),
          col("purchase_ts"),
          (lit(1) + col("click_ts").isNotNull.cast("int") +
            col("purchase_ts").isNotNull.cast("int")).as("steps"))
    },
    // SCD-2 history build — the other consumer of a change log next to
    // q_cdc_upsert's compaction: per key, each surviving version becomes
    // a validity interval [valid_from, valid_to), closed by the NEXT
    // change of that key (including delete tombstones, which close the
    // last record without emitting one; the open current record has
    // valid_to null). One window (lead over the O(batch) change log
    // partitioned by key) + one filter — no join at all; the base
    // snapshot never participates, so the plan is O(batch) at any
    // dimension size. Same deterministically derived change batch as
    // q_cdc_upsert (FIXTURES.md).
    "q_scd2" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(
        col("o_orderkey").cast("long").as("key"))
      val k = col("key")
      // deleted keys get a v1 update BEFORE the v2 tombstone so the
      // "delete closes the open record" branch is genuinely exercised.
      // ONE scan via per-row WHEN guards + explode (the q_cdc_upsert
      // rationale: the union form re-scanned orders once per change class
      // — 5 FileScans for one O(batch) frame).
      val changes = base.select(explode(array(
          when(k % 10 === 0, struct(k.as("key"), lit("U").as("op"),
            lit(1L).as("version"), lit("U1").as("status"))),
          when(k % 20 === 0, struct(k.as("key"), lit("U").as("op"),
            lit(2L).as("version"), lit("U2").as("status"))),
          when(k % 10 === 5, struct(k.as("key"), lit("U").as("op"),
            lit(1L).as("version"), lit("U1").as("status"))),
          when(k % 10 === 5, struct(k.as("key"), lit("D").as("op"),
            lit(2L).as("version"), lit(null).cast("string").as("status"))),
          when(k % 10 === 3, struct((k + 50000000L).as("key"),
            lit("I").as("op"), lit(1L).as("version"), lit("NEW").as("status")))))
          .as("c"))
        .filter(col("c").isNotNull)
        .select(col("c.key"), col("c.op"), col("c.version"), col("c.status"))
      val w = Window.partitionBy(col("key")).orderBy(col("version"), col("op"))
      changes.withColumn("valid_to", lead(col("version"), 1).over(w))
        .filter(col("op") =!= "D")
        .select(col("key"), col("op"), col("status"),
          col("version").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
    },
    // cohort retention: users bucketed by first-seen week, per
    // (cohort, activity-week) distinct-active counts — the product-
    // analytics companion to q_funnel. Plan shape: one agg for first-seen
    // (shuffle on user), one equi-join back (the O(users) cohort frame —
    // AQE broadcasts when small, stays a shuffle join at 10^9 users),
    // distinct on (user, cohort, wk) then an O(weeks²) count agg —
    // exact distinct via partial-agg, never count(distinct) through a
    // single reducer. week_no is integer day-diff floor-division. The
    // synthetic fixture has every user active from week one (a single
    // cohort), so each user's stream is staggered by (user_id % 8) weeks
    // — deterministic, identical in both engines (the FIXTURES.md
    // planting convention) — giving 8 real cohorts with drop-off tails.
    "q_retention" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          date_add(to_date(date_trunc("week", col("ts"))),
            ((col("user_id") % 8) * 7).cast("int")).as("wk"))
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
      ev.join(first, Seq("user_id")).distinct()
        .groupBy(col("cohort"), col("wk"))
        .agg(count(lit(1)).as("n_active"))
        .select(col("cohort"), col("wk"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long").as("week_no"),
          col("n_active"))
    },
    // threshold alerting over the hourly error series (NON-empty hours
    // only — the ROWS frame spans the 3 preceding hours THAT HAD ERRORS,
    // so after a multi-hour silent gap the baseline is the pre-gap hours;
    // oracle mirrors the same convention. True calendar-trailing-3h would
    // join q_gapfill's generated hour axis first — ADVICE r5): flag
    // hours whose count exceeds 2x the trailing-3h mean — the monitoring
    // rule a log pipeline's metrics feed exists for. Integer-only
    // comparison (n * trail_n > 2 * trail_sum) so the oracle never
    // compares derived floats; the trailing frame is ROWS-bounded over
    // the calendar-bounded hourly frame (O(hours) rows at any corpus
    // scale — the window's single-partition stage touches metadata, the
    // corpus pass is the one groupBy).
    "q_alerts" -> { (s, dir) =>
      val w = Window.orderBy(col("h")).rowsBetween(-3, -1)
      t(s, dir, "events").filter(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail_sum", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("trail_n", count(col("n")).over(w))
        .select(col("h"), col("n"), col("trail_sum"), col("trail_n"),
          (col("trail_n") > 0 &&
            col("n") * col("trail_n") > col("trail_sum") * 2).as("alert"))
    },
    // co-located bucketed join: both sides stored CLUSTERED BY the join
    // key into the same bucket count, so the join plan has ZERO exchanges
    // — the storage-layout answer to the fact/dim shuffle at 100 TB
    // (write once bucketed, join forever shuffle-free). The plan property
    // (SortMergeJoin with no ShuffleExchange under either side) is pinned
    // by BucketJoinSpec with broadcast disabled; here at sandbox scale
    // AQE may still pick broadcast, which is also exchange-free.
    "q_join_bucketed" -> { (s, dir) =>
      val (oT, cT) = bucketedTables(s, dir)
      s.table(oT).join(s.table(cT), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("long").as("total_floor"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(floor(l_quantity)) AS BIGINT) AS sum_qty,
         CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS sum_price_cents,
         CAST(sum(floor(l_discount * 100)) AS BIGINT) AS sum_disc_cents,
         count(*) AS n
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_join_broadcast" ->
      """SELECT n_name, count(*) AS n_orders,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
         ORDER BY o_orderkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q_window_topn" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber) AS INT) AS rn
           FROM lineitem) WHERE rn <= 3 ORDER BY l_suppkey, rn""",
    "q_window_running" ->
      """SELECT user_id, event_id,
         CAST(row_number() OVER w AS INT) AS turn_no,
         CAST(sum(floor("value" * 100)) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY user_id, event_id""",
    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q_setops" ->
      """SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
         ORDER BY o_custkey""",
    "q_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
         INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "q_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
         coalesce(o_orderpriority, '(all)') AS priority, count(*) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS u, lower(p_type) AS l,
         CAST(length(p_name) AS BIGINT) AS len, substring(p_name, 1, 5) AS pre,
         replace(p_name, ' ', '_') AS snake,
         regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         p_brand || '|' || p_type AS joined, 'x' AS trimmed,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded
         FROM part ORDER BY p_partkey""",
    "q_sessionize" ->
      """SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n,
         CAST(sum(floor("value" * 100)) AS BIGINT) AS cents
         FROM events GROUP BY user_id, date_trunc('hour', ts)
         ORDER BY user_id, hour""",
    "q_session_gap" ->
      """WITH e AS (
           SELECT user_id, ts, "value",
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR THEN 1
                  ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS sid FROM e)
         SELECT user_id, min(ts) AS s_start, count(*) AS n,
           CAST(sum(floor("value" * 100)) AS BIGINT) AS cents
         FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""",
    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
         count(DISTINCT l_suppkey) AS n_supp
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
         coalesce(o_orderpriority, '(all)') AS priority, count(*) AS n,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",
    "q_grouping_sets" ->
      """SELECT CAST(CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
           + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS lvl,
         coalesce(o_orderstatus, '(all)') AS status,
         coalesce(o_orderpriority, '(all)') AS priority,
         count(*) AS n,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
         FROM orders GROUP BY GROUPING SETS (
           (o_orderstatus, o_orderpriority), (o_orderstatus),
           (o_orderpriority))
         ORDER BY lvl, status, priority""",
    "q_join_salted" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         count(*) AS n_orders,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY nationkey ORDER BY nationkey""",
    "q_zorder" ->
      """WITH base AS (
           SELECT o_custkey & 65535 AS x,
             CAST(floor(o_totalprice / 100) AS BIGINT) & 65535 AS y
           FROM orders
         ), s1 AS (
           SELECT x, y, ((x | (x << 8)) & 16711935) AS xa,
             ((y | (y << 8)) & 16711935) AS ya FROM base
         ), s2 AS (
           SELECT x, y, ((xa | (xa << 4)) & 252645135) AS xb,
             ((ya | (ya << 4)) & 252645135) AS yb FROM s1
         ), s3 AS (
           SELECT x, y, ((xb | (xb << 2)) & 858993459) AS xc,
             ((yb | (yb << 2)) & 858993459) AS yc FROM s2
         ), s4 AS (
           SELECT x, y, ((xc | (xc << 1)) & 1431655765) AS xd,
             ((yc | (yc << 1)) & 1431655765) AS yd FROM s3
         )
         SELECT (xd | (yd << 1)) >> 16 AS tile, count(*) AS n,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
         FROM s4 GROUP BY tile ORDER BY tile""",
    "q_pivot" ->
      """SELECT o_orderstatus AS status,
         count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
         count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
         count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
         count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_unspec,
         count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
         FROM orders GROUP BY o_orderstatus ORDER BY status""",
    "q_explode" ->
      """SELECT p_partkey,
         CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1 AS INT) AS pos,
         unnest(string_split(p_name, ' ')) AS word
         FROM part ORDER BY p_partkey, pos""",
    "q_asof" ->
      """SELECT e.user_id, e.event_id, c.event_id AS prev_click_id
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, event_id FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id AND e.event_id > c.event_id
         ORDER BY e.user_id, e.event_id""",
    "q_split" ->
      """SELECT doc_id,
         CASE WHEN substring(md5(text), 1, 1) < 'c' THEN 'train' ELSE 'val' END AS split
         FROM documents ORDER BY doc_id""",
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact,
         abs(approx_count_distinct(l_orderkey) - count(DISTINCT l_orderkey)) * 20
           <= count(DISTINCT l_orderkey) AS approx_within_5pct
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_gapfill" ->
      """WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
         agg AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n_raw
                 FROM err GROUP BY 1),
         hours AS (SELECT unnest(generate_series(
             date_trunc('hour', (SELECT min(ts) FROM err)),
             date_trunc('hour', (SELECT max(ts) FROM err)),
             INTERVAL 1 HOUR)) AS h)
         SELECT h, CAST(coalesce(n_raw, 0) AS BIGINT) AS n,
           (n_raw IS NULL) AS gap
         FROM hours LEFT JOIN agg USING (h) ORDER BY h""",
    "q_join_outer" ->
      """WITH pc AS (
           SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
           FROM orders GROUP BY o_custkey)
         SELECT coalesce(c_custkey, -1) AS custkey,
           coalesce(c_name, '(none)') AS name,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(total_floor, 0) AS total_floor
         FROM customer FULL OUTER JOIN pc ON c_custkey = o_custkey
         ORDER BY custkey, name""",
    "q_unpivot" ->
      """SELECT c_custkey, metric, val FROM (
           SELECT c_custkey, 'acctbal_cents' AS metric,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS val FROM customer
           UNION ALL
           SELECT c_custkey, 'nationkey' AS metric,
             CAST(c_nationkey AS BIGINT) AS val FROM customer)
         ORDER BY c_custkey, metric""",
    "q_range_join" ->
      """WITH w AS (
           SELECT event_id AS window_id, ts AS w_start,
             ts + INTERVAL 3 HOUR AS w_end
           FROM events WHERE event_id % 397 = 0)
         SELECT window_id, CAST(count(*) AS BIGINT) AS n_events
         FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
         GROUP BY window_id ORDER BY window_id""",
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 10000) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS sum_floor
         FROM orders GROUP BY bin ORDER BY bin""",
    "q_percentiles" ->
      """WITH r AS (SELECT l_returnflag, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_quantity) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem),
         e AS (SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS p50,
             max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_quantity END) AS p90,
             max(CASE WHEN rn = (99 * n + 99) // 100 THEN l_quantity END) AS p99
           FROM r GROUP BY 1),
         a AS (SELECT l_returnflag, approx_quantile(l_quantity, 0.9) AS a90
               FROM lineitem GROUP BY 1)
         SELECT e.l_returnflag, e.n, e.p50, e.p90, e.p99,
           (abs(a.a90 - e.p90) <= 2.0) AS approx_within_2units
         FROM e JOIN a USING (l_returnflag) ORDER BY l_returnflag""",
    // exact reformulation: the sketch is an internal pruning step; the
    // final answer is the exact freq > n/16 set, which SQL states directly
    "q_heavy_hitters" ->
      """WITH keyed AS (
           SELECT CASE
             WHEN event_id % 4 = 0 THEN 'hot_' || CAST(event_id % 3 AS VARCHAR)
             WHEN event_id % 4 = 1 THEN 'warm_' || CAST(event_id % 40 AS VARCHAR)
             ELSE 'cold_' || CAST(event_id AS VARCHAR) END AS k
           FROM events),
         tot AS (SELECT count(*) AS n FROM keyed),
         cnts AS (SELECT k, count(*) AS cnt FROM keyed GROUP BY k)
         SELECT k, cnt FROM cnts, tot WHERE cnt * 16 > n ORDER BY k""",
    "q_cdc_upsert" ->
      """WITH base AS (
           SELECT o_orderkey AS key, o_orderstatus AS status,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         chg AS (
           SELECT key, 'U' AS op, CAST(1 AS BIGINT) AS version,
             'U1' AS new_status, CAST(NULL AS BIGINT) AS new_cents
           FROM base WHERE key % 10 = 0
           UNION ALL SELECT key, 'U', 2, 'U2', NULL
           FROM base WHERE key % 20 = 0
           UNION ALL SELECT key, 'D', 1, NULL, NULL
           FROM base WHERE key % 10 = 5
           UNION ALL SELECT key + 50000000, 'I', 1, 'NEW', 0
           FROM base WHERE key % 10 = 3),
         latest AS (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY key ORDER BY version DESC, op) AS rn
             FROM chg) WHERE rn = 1)
         SELECT COALESCE(b.key, l.key) AS key,
           COALESCE(l.new_status, b.status) AS status,
           COALESCE(l.new_cents, b.cents) AS cents
         FROM base b FULL OUTER JOIN latest l ON b.key = l.key
         WHERE l.op IS NULL
           OR (l.op = 'U' AND b.status IS NOT NULL)
           OR (l.op = 'I' AND b.status IS NULL)
         ORDER BY key""",
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS view_ts FROM events
             WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
             JOIN v ON e.user_id = v.user_id AND e.ts > v.view_ts
               AND e.ts <= v.view_ts + INTERVAL 6 HOUR
             WHERE e.event_type = 'click' GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
             JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
               AND e.ts <= c.click_ts + INTERVAL 6 HOUR
             WHERE e.event_type = 'purchase' GROUP BY e.user_id)
         SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
           1 + CAST(c.click_ts IS NOT NULL AS INT)
             + CAST(p.purchase_ts IS NOT NULL AS INT) AS steps
         FROM v LEFT JOIN c ON v.user_id = c.user_id
         LEFT JOIN p ON v.user_id = p.user_id
         ORDER BY v.user_id""",
    "q_scd2" ->
      """WITH base AS (SELECT o_orderkey AS key FROM orders),
         chg AS (
           SELECT key, 'U' AS op, CAST(1 AS BIGINT) AS version,
             'U1' AS status FROM base WHERE key % 10 = 0
           UNION ALL SELECT key, 'U', 2, 'U2' FROM base WHERE key % 20 = 0
           UNION ALL SELECT key, 'U', 1, 'U1' FROM base WHERE key % 10 = 5
           UNION ALL SELECT key, 'D', 2, NULL FROM base WHERE key % 10 = 5
           UNION ALL SELECT key + 50000000, 'I', 1, 'NEW'
           FROM base WHERE key % 10 = 3)
         SELECT key, op, status, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
         FROM (
           SELECT key, op, status, version AS valid_from,
             lead(version) OVER (PARTITION BY key ORDER BY version, op)
               AS valid_to
           FROM chg)
         WHERE op <> 'D'
         ORDER BY key, valid_from""",
    "q_retention" ->
      """WITH ev AS (SELECT user_id,
             CAST(date_trunc('week', ts) AS DATE)
               + CAST((user_id % 8) * 7 AS INT) AS wk
             FROM events),
         fs AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
         act AS (SELECT DISTINCT ev.user_id, fs.cohort, ev.wk
             FROM ev JOIN fs ON ev.user_id = fs.user_id)
         SELECT cohort, wk,
           CAST(datediff('day', cohort, wk) // 7 AS BIGINT) AS week_no,
           count(*) AS n_active
         FROM act GROUP BY cohort, wk ORDER BY cohort, wk""",
    "q_alerts" ->
      """WITH err AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
             FROM events WHERE event_type = 'error' GROUP BY 1)
         SELECT h, n,
           CAST(COALESCE(sum(n) OVER w, 0) AS BIGINT) AS trail_sum,
           CAST(count(n) OVER w AS BIGINT) AS trail_n,
           (count(n) OVER w > 0 AND
            n * count(n) OVER w > COALESCE(sum(n) OVER w, 0) * 2) AS alert
         FROM err
         WINDOW w AS (ORDER BY h ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
         ORDER BY h""",
    // the bucketed layout is a plan property, not a result property —
    // the oracle is the plain join
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
         CAST(sum(floor(o_totalprice)) AS BIGINT) AS total_floor
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""
  )
}
