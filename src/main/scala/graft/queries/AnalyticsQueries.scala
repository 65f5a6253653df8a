package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Q
import graft.etl.Enrich
import graft.functions.Parity.{davg, dsum}
import graft.io.{Sinks, Sources}
import graft.io.Sources.table

/** Aggregations, views, window/sort/limit ops and the set-based upsert
  * (SURVEY.md §2.4–§2.5) bound to the driver corpus (FIXTURES.md §C).
  *
  * All double aggregates go through Parity.dsum/davg (decimal-exact,
  * order-independent) so Spark's partial/final aggregation tree and
  * DuckDB's sequential sum produce bit-identical doubles.
  */
object AnalyticsQueries {

  private val davgSql = (c: String, n: String) =>
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c) AS $n"
  private val dsumSql = (c: String, n: String) =>
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS $n"

  /** Events re-laid-out DATE-PARTITIONED, once per (application,
    * corpus) — the 100-TB fact layout join_dpp prunes against. The
    * partition column `d` comes back as DateType from directory
    * inference; UTC session TZ makes the cast identical to the
    * oracle's CAST(ts AS DATE).
    */
  private val dppFactCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def dppFactDir(s: org.apache.spark.sql.SparkSession,
                         dir: String): String =
    dppFactCache.computeIfAbsent((s.sparkContext.applicationId, dir), _ => {
      val out = java.nio.file.Files.createTempDirectory("graft_dpp_fact").toString
      table(s, dir, "events")
        .withColumn("d", col("ts").cast("date"))
        .write.mode("overwrite").partitionBy("d").parquet(out)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))))
      out
    })

  val all: Seq[Q] = Seq(

    /** agg_quality_metrics (reference: src/transform.py:301-315) —
      * global single-row aggregate: counts, distincts, range, mean. */
    Q("agg_quality_metrics",
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |  COUNT(DISTINCT event_type) AS n_types,
         |  ${davgSql("value", "avg_value")},
         |  min(ts) AS ts_min, max(ts) AS ts_max
         |FROM events""".stripMargin) { (s, dir) =>
      table(s, dir, "events").agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        davg(col("value")).as("avg_value"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"))
    },

    /** agg_summary (reference: src/load.py:556-588). */
    Q("agg_summary",
      s"""SELECT COUNT(*) AS n, COUNT(DISTINCT l_returnflag) AS n_flags,
         |  COUNT(DISTINCT l_linestatus) AS n_status,
         |  min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max,
         |  ${davgSql("l_quantity", "avg_qty")},
         |  ${davgSql("l_extendedprice", "avg_price")}
         |FROM lineitem""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem").agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        countDistinct(col("l_linestatus")).as("n_status"),
        min(col("l_shipdate")).as("ship_min"),
        max(col("l_shipdate")).as("ship_max"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"))
    },

    /** agg_ingest_stats (reference: airflow_dag/weather_etl_dag.py:157). */
    Q("agg_ingest_stats",
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      table(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    /** view_daily_summary (reference: sql/schema.sql:82-97) — grouped
      * daily stats, ORDER BY date DESC then keys. */
    Q("view_daily_summary",
      s"""SELECT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date,
         |  ${davgSql("l_quantity", "avg_qty")},
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  ${davgSql("l_extendedprice", "avg_price")},
         |  COUNT(*) AS record_count
         |FROM lineitem GROUP BY 1, 2, 3
         |ORDER BY ship_date DESC, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          Enrich.deriveDate(col("l_shipdate")).as("ship_date"))
        .agg(
          davg(col("l_quantity")).as("avg_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("record_count"))
        .orderBy(col("ship_date").desc, col("l_returnflag"), col("l_linestatus"))
    },

    /** view_daily_summary_incremental — the SAME summary, maintained
      * INCREMENTALLY (graft.analytics.Incremental): history builds a
      * persisted per-key partial-state table (exact decimal sums +
      * counts + min/max — mergeable components only; avg is derived
      * at read), the newest ship-date's rows fold in with ONE
      * aggregate over O(state + day) rows, and the finalized view
      * must match the full-recompute oracle BIT-for-bit — the oracle
      * is literally view_daily_summary's SQL. At 100 TB this is the
      * difference between rescanning history nightly and touching
      * one day + a summary-sized table. */
    Q("view_daily_summary_incremental",
      s"""SELECT l_returnflag, l_linestatus, CAST(l_shipdate AS DATE) AS ship_date,
         |  ${davgSql("l_quantity", "avg_qty")},
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
         |  ${davgSql("l_extendedprice", "avg_price")},
         |  COUNT(*) AS record_count
         |FROM lineitem GROUP BY 1, 2, 3
         |ORDER BY ship_date DESC, l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      import graft.analytics.Incremental
      val li = table(s, dir, "lineitem")
      val (isNew, isHistory) = graft.BenchAttribution.timed("view_ivm.cutoff") {
        Incremental.daySplit(li)
      }
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_ivm_state").toString
      try {
        // nightly cadence: persist the standing state, fold the day in.
        // r20 job-shape changes (guide §2.6 / §6), result identical:
        //  - the history-state and day-state builds scan DISJOINT
        //    lineitem slices and share no inputs — they run as
        //    concurrent jobs instead of back to back;
        //  - state tables are summary-sized (one row per (flag,
        //    status, date)), so each persisted version is ONE file
        //    (coalesce(1)) instead of a shuffle-width spray of
        //    KB-sized parts — cheaper commit, cheaper readback;
        //  - the fold is evaluated ONCE (localCheckpoint): both the
        //    persisted v2 state and the finalized view read the
        //    materialized merge — previously v2 was written, then
        //    re-listed and re-read just to finalize the same rows.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val (day, _) = graft.BenchAttribution.timed("view_ivm.state_builds") {
          val fHist = Future {
            Incremental.lineitemSummaryState(li.filter(isHistory))
              .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/v1")
          }
          val fDay = Future {
            Incremental.lineitemSummaryState(li.filter(isNew))
              .localCheckpoint(true)
          }
          (Await.result(fDay, Duration.Inf), Await.result(fHist, Duration.Inf))
        }
        val merged = graft.BenchAttribution.timed("view_ivm.fold") {
          val m = Incremental.mergeStates(
              s.read.parquet(s"$stateDir/v1"), day)
            .localCheckpoint(true)
          m.coalesce(1).write.mode("overwrite").parquet(s"$stateDir/v2")
          m
        }
        graft.BenchAttribution.timed("view_ivm.finalize") {
          Incremental.summaryFromState(merged)
            .orderBy(col("ship_date").desc, col("l_returnflag"), col("l_linestatus"))
            .localCheckpoint(true)
        }
      } finally
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stateDir))
    },

    /** view_latest_weather (reference: sql/schema.sql:100-115) —
      * DISTINCT ON emulation: most-recent row per user, deterministic
      * tie-break on event_id. */
    Q("view_latest_weather",
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT e.*, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events e) WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      table(s, dir, "events")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .orderBy("user_id")
    },

    /** view_quality_summary (reference: sql/schema.sql:118-127). */
    Q("view_quality_summary",
      s"""SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice", "sum_price")},
         |  ${davgSql("o_totalprice", "avg_price")}
         |FROM orders GROUP BY 1 ORDER BY od DESC""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(Enrich.deriveDate(col("o_orderdate")).as("od"))
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy(col("od").desc)
    },

    /** view_seasonal_trends (reference: sql/schema.sql:130-140). */
    Q("view_seasonal_trends",
      s"""SELECT CASE WHEN extract(month FROM o_orderdate) IN (12,1,2) THEN 'Winter'
         |       WHEN extract(month FROM o_orderdate) IN (3,4,5) THEN 'Spring'
         |       WHEN extract(month FROM o_orderdate) IN (6,7,8) THEN 'Summer'
         |       ELSE 'Autumn' END AS season,
         |  o_orderpriority, COUNT(*) AS record_count,
         |  ${davgSql("o_totalprice", "avg_price")}
         |FROM orders GROUP BY 1, 2 ORDER BY season, o_orderpriority""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .groupBy(Enrich.season(col("o_orderdate")).as("season"), col("o_orderpriority"))
        .agg(count(lit(1)).as("record_count"),
          davg(col("o_totalprice")).as("avg_price"))
        .orderBy("season", "o_orderpriority")
    },

    /** limit_recent (reference: README.md:230-231) — ORDER BY DESC
      * LIMIT 10; Spark plans TakeOrderedAndProject (top-k, no full sort). */
    Q("limit_recent",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 10""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    },

    /** filter_last7d (reference: README.md:224-227) — trailing window
      * off the table's own max timestamp (broadcast scalar, no collect
      * in the hot path). */
    Q("filter_last7d",
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      val mx = e.agg(max(col("ts")).as("__mx"))
      e.crossJoin(broadcast(mx))
        .filter(col("ts") >= col("__mx") - expr("INTERVAL 7 DAYS"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    },

    /** union_batches (reference: tests/test_integration.py:330-341) —
      * append semantics: 4 deterministic shards unioned back, then
      * aggregated. */
    Q("union_batches",
      s"""WITH unioned AS (
         |  SELECT * FROM events WHERE event_id % 4 = 0
         |  UNION ALL SELECT * FROM events WHERE event_id % 4 = 1
         |  UNION ALL SELECT * FROM events WHERE event_id % 4 = 2
         |  UNION ALL SELECT * FROM events WHERE event_id % 4 = 3)
         |SELECT event_type, COUNT(*) AS n, ${dsumSql("value", "sum_value")}
         |FROM unioned GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      val shards = (0 to 3).map(i => e.filter(col("event_id") % 4 === i))
      shards.reduce(_ unionByName _)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    /** sink_upsert (reference: src/load.py:371-486) — set-based merge
      * on the unique key (user_id, event_type, ts): matched rows
      * updated (value+1000), unmatched inserted (ts+90d shift). One
      * shuffle; contrast with the reference's per-row round trips. */
    Q("sink_upsert",
      """WITH base AS (
        |  SELECT event_id, ts, user_id, event_type, value FROM events),
        |updates AS (
        |  SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value
        |  FROM base WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 90 DAY AS ts, user_id, event_type, value
        |  FROM base WHERE event_id % 10 = 5),
        |merged AS (
        |  SELECT * FROM base b WHERE NOT EXISTS (
        |    SELECT 1 FROM updates u WHERE u.user_id = b.user_id
        |      AND u.event_type = b.event_type AND u.ts = b.ts)
        |  UNION ALL SELECT * FROM updates)
        |SELECT event_id, ts, user_id, event_type, value FROM merged
        |ORDER BY event_id, ts""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
      val changed = e.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000.0)
      val inserted = e.filter(col("event_id") % 10 === 5)
        .withColumn("ts", col("ts") + expr("INTERVAL 90 DAYS"))
      Sinks.upsert(e, changed.unionByName(inserted),
          Seq("user_id", "event_type", "ts"))
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id", "ts")
    },

    /** join_star — star-schema equi-join chain with broadcast dims
      * (capability beyond the reference, SURVEY.md §2.5): revenue by
      * region. Revenue is decimal-exact: price::dec * (1-disc)::dec. */
    Q("join_star",
      """SELECT r_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(1.0 - l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, dir) =>
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      val revenue = col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1.0) - col("l_discount")).cast(DecimalType(8, 2))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_items"), sum(revenue).cast("double").as("revenue"))
        .orderBy("r_name")
    },

    /** join_semi — EXISTS via left_semi (no row duplication, build side
      * reduced before the join). */
    Q("join_semi",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer
        |  WHERE c_custkey = o_custkey AND c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer").filter(col("c_acctbal") > 5000)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    /** join_anti — NOT EXISTS via left_anti: customers with no orders. */
    Q("join_anti",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    },

    /** join_asof — most-recent-at-or-before join (graft.ops.AsOf,
      * union-merge pattern; DuckDB verifies with its native ASOF JOIN):
      * each order gets its priority's latest daily average price at or
      * before its own date. */
    Q("join_asof",
      s"""WITH rates AS (SELECT o_orderpriority AS priority,
         |    CAST(o_orderdate AS DATE) AS rd,
         |    ${davgSql("o_totalprice", "rate")}
         |  FROM orders GROUP BY 1, 2),
         |o AS (SELECT o_orderkey, o_orderpriority AS priority,
         |    CAST(o_orderdate AS DATE) AS od FROM orders)
         |SELECT o.o_orderkey, o.priority, o.od, r.rate
         |FROM o ASOF JOIN rates r
         |  ON o.priority = r.priority AND o.od >= r.rd
         |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority").as("priority"),
        Enrich.deriveDate(col("o_orderdate")).as("od"))
      val rates = table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          Enrich.deriveDate(col("o_orderdate")).as("rd"))
        .agg(davg(col("o_totalprice")).as("rate"))
      graft.ops.AsOf.joinAsOf(o, rates, Seq("priority"), "od", "rd", "rate")
        .orderBy("o_orderkey")
    },

    /** join_asof_salted — the skew-mitigated as-of twin
      * (AsOf.joinAsOfSalted): join_asof's parallelism is bounded by
      * key cardinality (here 5 priorities — the hot-key shape), so
      * the salted form splits every key's timeline into time-range
      * buckets, carries within (key, bucket), and stitches bucket
      * boundaries with a |keys|×buckets carry-in relation. Result is
      * byte-identical to the unsalted form — the oracle IS join_asof's
      * oracle — while the window exchange spreads over buckets× more
      * tasks. */
    Q("join_asof_salted",
      s"""WITH rates AS (SELECT o_orderpriority AS priority,
         |    CAST(o_orderdate AS DATE) AS rd,
         |    ${davgSql("o_totalprice", "rate")}
         |  FROM orders GROUP BY 1, 2),
         |o AS (SELECT o_orderkey, o_orderpriority AS priority,
         |    CAST(o_orderdate AS DATE) AS od FROM orders)
         |SELECT o.o_orderkey, o.priority, o.od, r.rate
         |FROM o ASOF JOIN rates r
         |  ON o.priority = r.priority AND o.od >= r.rd
         |ORDER BY o.o_orderkey""".stripMargin) { (s, dir) =>
      val o = table(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority").as("priority"),
        Enrich.deriveDate(col("o_orderdate")).as("od"))
      val rates = table(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"),
          Enrich.deriveDate(col("o_orderdate")).as("rd"))
        .agg(davg(col("o_totalprice")).as("rate"))
      graft.ops.AsOf.joinAsOfSalted(o, rates, Seq("priority"), "od", "rd",
          "rate", buckets = 8)
        .orderBy("o_orderkey")
    },

    /** join_asof_nearest — nearest-in-time as-of join (AsOf
      * .joinAsOfNearest, pandas merge_asof direction='nearest'): each
      * sampled event gets the SAME user's purchase value closest in
      * time, before OR after, exact ties taken backward. Two carries
      * over one union (both directions), still one shuffle, never a
      * left × history pair blowup; diffs compare in exact
      * microseconds (a double-seconds compare can flip near-ties).
      * The oracle re-derives nearest with a per-left-row
      * row_number over |epoch_us Δ| with the backward tie-break;
      * users with no purchases keep NULL. */
    Q("join_asof_nearest",
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_id % 13 = 0),
        |r AS (
        |  SELECT user_id, ts AS rt, min(event_id) AS rid
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |rv AS (
        |  SELECT r.user_id, r.rt, e.value AS pval
        |  FROM r JOIN events e ON e.event_id = r.rid)
        |SELECT event_id, user_id, ts, pval FROM (
        |  SELECT l.event_id, l.user_id, l.ts, rv.pval,
        |    row_number() OVER (PARTITION BY l.event_id ORDER BY
        |      abs(epoch_us(l.ts) - epoch_us(rv.rt)),
        |      CASE WHEN rv.rt <= l.ts THEN 0 ELSE 1 END) AS rn
        |  FROM l LEFT JOIN rv USING (user_id))
        |WHERE rn = 1 ORDER BY event_id""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val l = ev.filter(col("event_id") % 13 === 0)
        .select("event_id", "user_id", "ts")
      // unique (user, ts) reference points with a deterministic value
      // (the min event id's value) — the right-uniqueness precondition
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("rt"))
        .agg(expr("min_by(value, event_id)").as("pval"))
      graft.ops.AsOf
        .joinAsOfNearest(l, r, Seq("user_id"), "ts", "rt", "pval")
        .orderBy("event_id")
    },

    /** join_temporal_dim — point-in-time-correct dimension join over a
      * versioned (SCD Type-2) dimension (ops/Scd.pointInTime): each
      * order gets the customer-attribute VERSION valid at its own
      * order date, never today's value — the join shape that keeps
      * post-hoc attribute changes from leaking into historical
      * training examples. The dimension is built by the same merge
      * sink_scd2 verifies (two versions for changed keys around the
      * 1998-07-01 effective date; vanished keys closed, so their
      * post-effective orders drop out of the inner join). One key
      * equi-join with the interval as a residual — per-key version
      * counts are bounded by change frequency, so no range-join
      * blowup. */
    Q("join_temporal_dim",
      """WITH dim AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment, DATE '1995-01-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM customer),
        |snap AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 97 <> 3
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal,
        |    c_mktsegment
        |  FROM customer WHERE c_custkey % 100 = 7),
        |j AS (SELECT d.c_custkey AS dk, s.c_custkey AS sk,
        |    d.c_acctbal AS dab, d.c_mktsegment AS dms,
        |    d.valid_from AS dvf, s.c_acctbal AS sab, s.c_mktsegment AS sms,
        |    (d.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL
        |     AND d.c_name IS NOT DISTINCT FROM s.c_name
        |     AND d.c_nationkey IS NOT DISTINCT FROM s.c_nationkey
        |     AND d.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
        |     AND d.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment) AS same
        |  FROM dim d FULL OUTER JOIN snap s ON d.c_custkey = s.c_custkey),
        |merged AS (
        |  SELECT dk AS c_custkey, dab AS c_acctbal, dms AS c_mktsegment,
        |    dvf AS valid_from,
        |    CASE WHEN same THEN NULL ELSE DATE '1998-07-01' END AS valid_to
        |  FROM j WHERE dk IS NOT NULL
        |  UNION ALL
        |  SELECT sk, sab, sms, DATE '1998-07-01', NULL
        |  FROM j WHERE sk IS NOT NULL AND NOT coalesce(same, FALSE)),
        |f AS (SELECT o_orderkey, o_custkey,
        |    CAST(o_orderdate AS DATE) AS od FROM orders)
        |SELECT f.o_orderkey, f.o_custkey, f.od, m.c_acctbal, m.c_mktsegment
        |FROM f JOIN merged m ON f.o_custkey = m.c_custkey
        |  AND f.od >= m.valid_from
        |  AND (m.valid_to IS NULL OR f.od < m.valid_to)
        |ORDER BY f.o_orderkey""".stripMargin) { (s, dir) =>
      val cust = table(s, dir, "customer")
      val dim0 = cust
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .withColumn("valid_from", lit(java.sql.Date.valueOf("1995-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val snapshot = cust
        .filter(col("c_custkey") % 97 =!= 3)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .unionByName(cust.filter(col("c_custkey") % 100 === 7)
          .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
      val dim = graft.ops.Scd.merge2(dim0, snapshot, "c_custkey",
        Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
        lit(java.sql.Date.valueOf("1998-07-01")))
      val facts = table(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), Enrich.deriveDate(col("o_orderdate")).as("od"))
      graft.ops.Scd.pointInTime(facts, dim, "o_custkey", "c_custkey",
          col("od"), Seq("c_acctbal", "c_mktsegment"))
        .orderBy("o_orderkey")
    },

    /** agg_rollup — hierarchical subtotals (season ⊃ priority ⊃ total);
      * NULLS FIRST ordering aligned across engines. */
    Q("agg_rollup",
      s"""SELECT CASE WHEN extract(month FROM o_orderdate) IN (12,1,2) THEN 'Winter'
         |       WHEN extract(month FROM o_orderdate) IN (3,4,5) THEN 'Spring'
         |       WHEN extract(month FROM o_orderdate) IN (6,7,8) THEN 'Summer'
         |       ELSE 'Autumn' END AS season,
         |  o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice", "sum_price")}
         |FROM orders GROUP BY ROLLUP(1, 2)
         |ORDER BY season NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .rollup(Enrich.season(col("o_orderdate")).as("season"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("season").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    /** agg_grouping_sets — DISJOINT grouping sets in one pass
      * ((season), (priority)): the multi-level-aggregation case
      * rollup/cube can't express (neither set nests in the other).
      * One scan expands each row once per set — at 100 TB that is one
      * pass instead of two full aggregations unioned. Both grouping
      * columns are non-null by construction, so a NULL unambiguously
      * marks "not in this set"; NULLS FIRST ordering aligned across
      * engines as in agg_rollup. */
    Q("agg_grouping_sets",
      s"""SELECT CASE WHEN extract(month FROM o_orderdate) IN (12,1,2) THEN 'Winter'
         |       WHEN extract(month FROM o_orderdate) IN (3,4,5) THEN 'Spring'
         |       WHEN extract(month FROM o_orderdate) IN (6,7,8) THEN 'Summer'
         |       ELSE 'Autumn' END AS season,
         |  o_orderpriority, COUNT(*) AS n, ${dsumSql("o_totalprice", "sum_price")}
         |FROM orders GROUP BY GROUPING SETS ((1), (2))
         |ORDER BY season NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .select(Enrich.season(col("o_orderdate")).as("season"),
          col("o_orderpriority"), col("o_totalprice"))
        .groupingSets(Seq(Seq(col("season")), Seq(col("o_orderpriority"))),
          col("season"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("season").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    /** join_range — pairs of same-user events within 10 minutes, via
      * the bucketed range join (graft.ops.RangeJoin): equi-join on
      * (user, time bucket) + exact residual filter, never a
      * nested-loop over the pair space. */
    Q("join_range",
      """SELECT a.event_id AS id_a, b.event_id AS id_b,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 600 * 1000000
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select("event_id", "ts", "user_id")
      val a = e.toDF("id_a", "ts_a", "user_id")
      val b = e.toDF("id_b", "ts_b", "user_id")
      graft.ops.RangeJoin.withinInterval(a, b, Seq("user_id"),
          "ts_a", "ts_b", maxDeltaSeconds = 600)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (col("__rus") - col("__lus")).as("dt_us"))
        .orderBy("id_a", "id_b")
    },

    /** join_interval_semi — funnel attribution as an interval SEMI
      * join: purchases with at least one click by the same user in the
      * preceding hour. EXISTS semantics (no row duplication when
      * several clicks qualify); the batch twin of the streaming
      * interval join (stream_join_attrib). */
    Q("join_interval_semi",
      """SELECT p.event_id, p.user_id FROM events p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts < p.ts)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("ts") - expr("INTERVAL 60 MINUTES") &&
            col("c_ts") < col("ts"),
          "left_semi")
        .select("event_id", "user_id")
        .orderBy("event_id")
    },

    /** agg_pivot — long→wide reshape: one column per event_type with
      * decimal-exact sums (oracle states it as CASE aggregation, which
      * is exactly what Spark's pivot plans to). */
    Q("agg_pivot",
      s"""SELECT user_id,
         |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
         |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
         |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
        .orderBy("user_id")
    },

    /** set_intersect / set_except — set operators over projections. */
    Q("set_intersect",
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      e.filter(col("event_type") === "click").select("user_id")
        .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
        .orderBy("user_id")
    },

    Q("set_except",
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events")
      e.filter(col("event_type") === "view").select("user_id")
        .except(e.filter(col("event_type") === "error").select("user_id"))
        .orderBy("user_id")
    },

    /** window_running — frame-based window functions beyond ranking:
      * lag, running count, running decimal-exact sum per key. */
    Q("window_running",
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_orderpriority
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      table(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        row_number().over(w).as("rn"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_sum"))
        .orderBy("o_orderkey")
    },

    /** ts_resample_ffill — time-series regularization
      * (ops/Resample.resampleHourlyFfill): each sampled user's
      * irregular events projected onto their hourly grid, gaps
      * forward-filled with the last observation and MARKED (`filled`),
      * so the gap report and the gap fill are one pass. Hourly close
      * is a map-side-combined max_by winner per (user, hour) — the
      * deterministic-winner discipline, and the granularity splits a
      * hot user across its hours before the exchange; the grid is
      * keys × hours (never observation-sized); the fill window's
      * growing frame executes incrementally. The oracle re-derives
      * the grid with generate_series and the fill with
      * last_value IGNORE NULLS. */
    Q("ts_resample_ffill",
      """WITH obs AS (
        |  SELECT user_id, ts, event_id, value FROM events
        |  WHERE event_id % 7 = 0 AND user_id % 5 = 0),
        |ranked AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, value,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM obs),
        |hourly AS (SELECT user_id, h, value AS close FROM ranked WHERE rn = 1),
        |grid AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS slot
        |  FROM hourly GROUP BY user_id)
        |SELECT g.user_id AS user_id, CAST(g.slot AS TIMESTAMP) AS slot,
        |  last_value(h.close IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.slot
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  h.close IS NULL AS filled
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.slot = h.h
        |ORDER BY user_id, slot""".stripMargin) { (s, dir) =>
      val obs = table(s, dir, "events")
        .filter(col("event_id") % 7 === 0 && col("user_id") % 5 === 0)
        .select("user_id", "ts", "event_id", "value")
      graft.ops.Resample
        .resampleHourlyFfill(obs, "user_id", "ts", "event_id", "value")
        .orderBy("user_id", "slot")
    },

    /** derive_stable_id — contiguous 0..n−1 training-example ids in a
      * deterministic total order (Corpus.stableIds): range-partitioned
      * parallel sort + zipWithIndex per-partition offsets, NOT the
      * single-task global row_number window (an all-to-one exchange at
      * scale). The oracle states the window form — the two must agree
      * exactly, which also pins determinism; OpsSpec additionally pins
      * contiguity, partitioning invariance, and the duplicate-key
      * refusal. */
    Q("derive_stable_id",
      """SELECT CAST(row_number() OVER (ORDER BY user_id, event_id) - 1
        |    AS BIGINT) AS stable_id,
        |  user_id, event_id
        |FROM events WHERE event_id % 11 = 0
        |ORDER BY stable_id""".stripMargin) { (s, dir) =>
      val base = table(s, dir, "events")
        .filter(col("event_id") % 11 === 0)
        .select("user_id", "event_id")
      graft.ops.Corpus.stableIds(base, Seq("user_id", "event_id"))
        .select("stable_id", "user_id", "event_id")
        .orderBy("stable_id")
    },

    /** agg_median_group — exact per-group median (interpolated), the
      * grouped form of the fill_median scalar. */
    Q("agg_median_group",
      """SELECT event_type, median(value) AS med,
        |  min(value) AS lo, max(value) AS hi, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      table(s, dir, "events").groupBy("event_type")
        .agg(median(col("value")).as("med"),
          min(col("value")).as("lo"), max(col("value")).as("hi"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    /** agg_quantiles — exact interpolated quantiles per group (the
      * general form of agg_median_group; both engines interpolate as
      * lower + frac·(upper−lower)). The EXACT sort-based percentile is
      * the correctness anchor; approx_percentile is the sketch path at
      * scale (agg_approx). */
    Q("agg_quantiles",
      """SELECT event_type,
        |  quantile_cont(value, 0.25) AS p25,
        |  quantile_cont(value, 0.75) AS p75,
        |  quantile_cont(value, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      table(s, dir, "events").groupBy("event_type")
        .agg(percentile(col("value"), lit(0.25)).as("p25"),
          percentile(col("value"), lit(0.75)).as("p75"),
          percentile(col("value"), lit(0.95)).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    /** agg_time_window — tumbling daily windows in batch (the batch
      * twin of StreamingOps.windowedSummary); window start == the
      * day truncation DuckDB computes. */
    Q("agg_time_window",
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS ws, event_type, COUNT(*) AS n,
         |  ${dsumSql("value", "sum_value")}
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("ws", "event_type")
    },

    /** agg_topk_udaf — global top-10 by value through the typed
      * TopKAggregator (bounded buffer: map-side partials carry k rows,
      * no global sort); oracle is the plain ORDER BY ... LIMIT. */
    Q("agg_topk_udaf",
      """SELECT CAST(row_number() OVER (ORDER BY value DESC, event_id) AS INTEGER) AS rank,
        |  event_id, value
        |FROM events ORDER BY value DESC, event_id LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.{Scored, TopKAggregator}
      val scored = table(s, dir, "events")
        .select(col("event_id").as("id"), col("value").as("score")).as[Scored]
      scored.select(new TopKAggregator(10).toColumn).toDF("top")
        .select(posexplode(col("top")).as(Seq("pos", "row")))
        .select((col("pos") + 1).cast("int").as("rank"),
          col("row.id").as("event_id"), col("row.score").as("value"))
        .orderBy("rank")
    },

    /** agg_salted — two-phase skew-safe aggregation over the hot
      * event_type key (graft.ops.Skew); exact, so the oracle is the
      * plain GROUP BY. */
    Q("agg_salted",
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value", "sum_value")}
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      graft.ops.Skew.saltedCountSum(table(s, dir, "events"),
          Seq("event_type"), "value")
        .orderBy("event_type")
    },

    /** join_salted — skew-safe JOIN on the hot event_type key
      * (graft.ops.Skew.saltedJoin): events (fact) join a per-type
      * dimension with the fact side salted and the dim replicated per
      * salt. Exact, so the oracle is the plain join; the no-monster-
      * task property is pinned in OpsSpec (partition row-count spread
      * with broadcast disabled). */
    Q("join_salted",
      s"""WITH dim AS (SELECT event_type, COUNT(*) AS type_n
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, COUNT(*) AS n, MAX(d.type_n) AS type_n,
         |  ${dsumSql("e.value", "sum_value")}
         |FROM events e JOIN dim d USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val events = table(s, dir, "events")
      val dim = events.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"))
      graft.ops.Skew.saltedJoin(events, dim, Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("type_n")).as("type_n"),
          dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    /** join_salted_agg — the composed join→same-key-aggregate shape
      * salted end to end (graft.ops.Skew.saltedJoinAgg): the skew
      * case AQE silently DECLINES (splitting the skewed join would
      * break the output partitioning the same-key aggregate reuses,
      * so the fused hot reducer runs join + agg — measured 12.7 s vs
      * 1.2 s salted on the 20M-row zipfian probe,
      * artifacts/skew_pairs_r16.json). Here the join keys on
      * (event_type, salt) and the aggregate's partial phase runs per
      * (event_type, salt) on the join's own partitioning — the hot
      * key's pair volume AND its aggregation both split `buckets`
      * ways with no extra exchange of hot rows. Exact (decimal
      * partial sums re-aggregate associatively), so the oracle is the
      * plain join + GROUP BY. */
    Q("join_salted_agg",
      s"""WITH dim AS (SELECT event_type, COUNT(*) AS type_n
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, COUNT(*) AS n, ${dsumSql("e.value", "sum_value")}
         |FROM events e JOIN dim d USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val events = table(s, dir, "events")
      val dim = events.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"))
      graft.ops.Skew.saltedJoinAgg(events, dim, Seq("event_type"), "value")
        .orderBy("event_type")
    },

    /** join_salted_skewaware — the hot-only variant of join_salted
      * (graft.ops.Skew.saltedJoinSkewed): keys whose fact-side count
      * exceeds the threshold get salted and their dim rows replicated;
      * cold keys join the single salt-0 copy, so the replication
      * overhead is |hot ∩ dim| × buckets instead of |dim| × buckets —
      * what makes salting affordable when the dim itself is large.
      * Exact (same oracle as the plain join); the threshold (2000) is
      * chosen to SPLIT the sf0.01 gate corpus — three of its five
      * uniform keys sit just above, two just below — so both the
      * replicated-hot and single-copy-cold join paths are oracle-
      * checked in one row. Wall/peak-task evidence vs plain salting
      * and AQE is the SkewPairs artifact (SCALING.md round 16). */
    Q("join_salted_skewaware",
      s"""WITH dim AS (SELECT event_type, COUNT(*) AS type_n
         |  FROM events GROUP BY 1)
         |SELECT e.event_type, COUNT(*) AS n, MAX(d.type_n) AS type_n,
         |  ${dsumSql("e.value", "sum_value")}
         |FROM events e JOIN dim d USING (event_type)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val events = table(s, dir, "events")
      val dim = events.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"))
      graft.ops.Skew.saltedJoinSkewed(events, dim, Seq("event_type"),
          hotThreshold = 2000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), max(col("type_n")).as("type_n"),
          dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    /** join_bloom_pruned — Bloom-filter runtime pruning
      * (graft.ops.RuntimeFilter): the dim's key set is compressed to a
      * 1024-bit filter with one map-side-combined agg pass, broadcast
      * as a single row, and applied as a codegen'd scan filter on the
      * fact BEFORE the join — the 100-TB pattern for a build side
      * whose keys fit a few KB of bits even when its rows don't fit a
      * broadcast. False positives are re-checked by the exact semi
      * join that follows (false negatives are impossible), so the
      * oracle is the plain semi join; the actual prune rate and
      * superset invariant are pinned in OpsSpec. */
    Q("join_bloom_pruned",
      s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice", "sum_price")}
         |FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val orders = table(s, dir, "orders")
      val dim = table(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select("c_custkey")
      graft.ops.RuntimeFilter.bloomPruned(orders, "o_custkey", dim, "c_custkey")
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },

    /** join_dpp — DYNAMIC partition pruning, the other at-scale
      * runtime-pruning mechanism next to join_bloom_pruned's filter:
      * the fact (events, written date-partitioned once per corpus —
      * the 100-TB layout, [[dppFactDir]]) joins a selective dim of
      * qualifying days on the PARTITION column, and Catalyst injects
      * a dynamic pruning subquery into the fact scan's
      * PartitionFilters (pinned in PlansSpec) — 5 of 30 day-partitions
      * survive at sf0.001, 21 of 30 at the sf0.01 gate; at a year of 100 TB that is the
      * difference between scanning 1.4% and 100% of the table. The
      * oracle states the plain date join over the unpartitioned
      * relation. */
    Q("join_dpp",
      s"""WITH dim AS (SELECT DISTINCT CAST(ts AS DATE) AS dd FROM events
         |  WHERE event_type = 'purchase' AND value > 200)
         |SELECT e.event_type, COUNT(*) AS n, ${dsumSql("e.value", "sum_value")}
         |FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.dd
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val fact = s.read.parquet(dppFactDir(s, dir))
      val dim = table(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("value") > 200)
        .select(col("ts").cast("date").as("dd")).distinct()
      fact.join(broadcast(dim), col("d") === col("dd"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    },

    /** agg_approx — sketch aggregates (HLL distinct count, quantile
      * sketch) under an EXECUTABLE error-bound contract. The sketch
      * values themselves are engine-specific (HLL register layouts and
      * KLL compaction differ by implementation), so the row does not
      * emit them raw; it emits the EXACT per-group values alongside
      * booleans asserting the sketches landed inside their configured
      * bounds — |HLL − exact| ≤ 5·rsd·exact (rsd 0.01, so a 5σ fence
      * a healthy HLL cannot trip) and approx-median within the exact
      * [p45, p55] rank window (percentile_approx at accuracy 1000
      * guarantees ±0.1% rank error — 50× inside the fence). The
      * DuckDB oracle states the exact values and literal TRUEs, so a
      * silent sketch-accuracy regression breaks the hash: this is a
      * hard gate, not a rows-only check. */
    Q("agg_approx",
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok, TRUE AS median_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      // TWO single-level aggregates joined on the 5-row group key, not
      // one: mixing countDistinct with sketch aggregates makes Catalyst
      // rewrite the whole row as a two-level plan grouped by
      // (event_type, user_id) — carrying a percentile hash map, a
      // QuantileSummaries and an HLL buffer PER USER (~7.5k sketch
      // buffers built and merged where 5 suffice; measured 5.0 s
      // full-mode at sf0.1, the #2 row — vs ~0.4 s split this way).
      // The exact-distinct side plans as plain two-phase counting with
      // no sketch payload, and the sketch side keeps one buffer per
      // event_type. Both fuse the percentile fences into one
      // array-percentile aggregate (one value buffer, not two).
      val ev = table(s, dir, "events")
      val sketches = ev.groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("__hll"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("__amed"),
          percentile(col("value"), array(lit(0.45), lit(0.55))).as("__pp"))
      // null-safe join key (ADVICE r18): both sides come from the same
      // GROUP BY, which keeps a NULL group — a plain inner join would
      // drop it, diverging from the single-groupBy semantics and the
      // oracle's GROUP BY on any future corpus with NULL event_type
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact
        .join(broadcast(sketches),
          exact("event_type") <=> sketches("event_type"))
        .select(exact("event_type"), col("exact_users"),
          (abs(col("__hll") - col("exact_users")).cast("double") <=
            lit(5 * 0.01) * col("exact_users").cast("double")).as("hll_ok"),
          col("__amed").between(element_at(col("__pp"), 1),
            element_at(col("__pp"), 2)).as("median_ok"))
        .orderBy("event_type")
    },

    /** agg_kmv_distinct — a distinct-count SKETCH with an exact
      * oracle (ops/Sketch.kmvDistinct): unlike agg_approx's HLL (whose
      * implementation differs by engine, hence oracle-less), KMV over
      * the fixed md5_60 hash is a pure function of the value set —
      * fully checkable, still sublinear (k hashes of state) and
      * mergeable. The exact count rides along so the row itself shows
      * the estimation error. */
    Q("agg_kmv_distinct",
      """WITH h AS (SELECT DISTINCT h FROM (SELECT
        |    ('0x' || substring(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM events) WHERE h IS NOT NULL),
        |km AS (SELECT max(h) AS kth_min, COUNT(*) AS k_actual
        |  FROM (SELECT h FROM h ORDER BY h ASC LIMIT 32)),
        |ex AS (SELECT COUNT(DISTINCT event_id) AS exact_distinct FROM events)
        |SELECT CAST(32 AS BIGINT) AS k, k_actual, kth_min,
        |  CAST(31 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |    / CAST(kth_min AS DOUBLE) AS est_distinct,
        |  exact_distinct
        |FROM km CROSS JOIN ex""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      graft.ops.Sketch.kmvDistinct(ev, col("event_id"), k = 32)
        .crossJoin(ev.agg(countDistinct(col("event_id")).as("exact_distinct")))
    },

    /** agg_kmv_merge — the sketch's MERGEABILITY, the property that
      * makes it a distributed sketch at all: three shard states
      * (event_id mod 3 — each a ≤ k-row relation regardless of shard
      * size) fold into one estimate that must EQUAL the direct
      * whole-corpus sketch, so the oracle is the direct computation.
      * min-k(∪ shards) = min-k(∪ min-k(shard)) exactly — any hash in
      * the combined min-k is in its own shard's min-k. */
    Q("agg_kmv_merge",
      """WITH h AS (SELECT DISTINCT h FROM (SELECT
        |    ('0x' || substring(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT AS h
        |  FROM events) WHERE h IS NOT NULL),
        |km AS (SELECT max(h) AS kth_min, COUNT(*) AS k_actual
        |  FROM (SELECT h FROM h ORDER BY h ASC LIMIT 32))
        |SELECT CAST(32 AS BIGINT) AS k, k_actual, kth_min,
        |  CAST(31 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |    / CAST(kth_min AS DOUBLE) AS est_distinct
        |FROM km""".stripMargin) { (s, dir) =>
      val ev = table(s, dir, "events")
      val shards = (0 until 3).map(r =>
        graft.ops.Sketch.kmvState(
          ev.filter(pmod(col("event_id"), lit(3)) === r),
          col("event_id"), k = 32))
      graft.ops.Sketch.kmvFromStates(shards, k = 32)
    },

    /** window_rolling_7d — a RANGE-frame rolling window (the frame is
      * defined by the ORDER value, not row positions): per user, the
      * count and exact-decimal sum of events in the trailing 7 days
      * of each event. Value-defined frames include timestamp-tie
      * peers identically in both engines, so the result is
      * deterministic under any shuffle layout — unlike a ROWS frame
      * over a non-unique order.
      *
      * NOT stated as the literal bounded-preceding window: Spark's
      * sliding frame re-aggregates per row (no sum retraction), which
      * the r12 zipfian probe measured as a 52 s single-task quadratic
      * on one hot user at sf0.1. [[graft.ops.Rolling.trailingCountSum]]
      * restates it exactly as a difference of two O(n) cumulative
      * frames (event time and frame start via probe rows) — same
      * result bit-for-bit (the oracle still states the plain RANGE
      * window), linear on the hot key. */
    Q("window_rolling_7d",
      """SELECT event_id, user_id,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_7d
        |FROM (SELECT event_id, user_id, value, epoch_us(ts) // 1000000 AS s FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY s
        |  RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      graft.ops.Rolling.trailingCountSum(
          table(s, dir, "events")
            .withColumn("__s", expr("unix_timestamp(ts)")),
          "event_id", "user_id", "__s", "value", windowSec = 604800L)
        .select(col("event_id"), col("user_id"),
          col("n").as("n_7d"),
          col("sum_dec").cast("double").as("sum_7d"))
        .orderBy("event_id")
    },

    /** tpch_q3 — the TPC-H shipping-priority query on our corpus's
      * TPC-H-shaped tables (o_orderpriority standing in for the
      * schema's absent o_shippriority): segment-filtered customer ⨝
      * orders ⨝ lineitem, revenue per urgent order, top 10. The plan
      * this exists to keep honest: both dimension filters pushed to
      * their scans, broadcast-hash joins (never sort-merge for
      * broadcast-able dims), and the top-10 as TakeOrderedAndProject,
      * not a global sort. Revenue sums the double product through
      * DECIMAL(18,4) — the product of two 2-dp values is 4-dp, so the
      * cast never rounds at a tie and both engines agree bit-wise. */
    Q("tpch_q3",
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS order_date, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      val rev = sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .cast("double")
      table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .join(table(s, dir, "orders")
            .filter(col("o_orderdate") < to_timestamp(lit("1998-03-15"))),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, dir, "lineitem")
            .filter(col("l_shipdate") > to_timestamp(lit("1998-03-15"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          Enrich.deriveDate(col("o_orderdate")).as("order_date"),
          col("o_orderpriority"))
        .agg(rev.as("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },

    /** tpch_q1 — the TPC-H pricing-summary report, the most-quoted
      * scan-and-aggregate benchmark query: one filtered pass over
      * lineitem, six groups, eight aggregates. disc_price (2-dp ×
      * 2-dp = 4-dp) and charge (× another 2-dp = 6-dp) sum through
      * DECIMAL casts wide enough that the cast never rounds at a tie;
      * both engines evaluate the identical double product
      * left-to-right, so the sums agree bit-wise. */
    Q("tpch_q1",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity", "sum_qty")},
         |  ${dsumSql("l_extendedprice", "sum_base_price")},
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2))) * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS DECIMAL(38,6)) AS sum_charge,
         |  ${davgSql("l_quantity", "avg_qty")},
         |  ${davgSql("l_extendedprice", "avg_price")},
         |  ${davgSql("l_discount", "avg_disc")},
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // decimal-FACTOR multiplication, not a decimal cast of the double
      // product: at 6M rows one product double landed where Spark's
      // shortest-repr cast and DuckDB's binary-expansion cast round a
      // 6th decimal apart. Each factor is exact at its own 2-dp scale,
      // decimal x decimal is exact, so the sums agree at ANY scale.
      val epD = col("l_extendedprice").cast(DecimalType(18, 2))
      val discD = lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))
      val taxD = lit(1).cast(DecimalType(3, 2)) + col("l_tax").cast(DecimalType(3, 2))
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(epD * discD).cast("double").as("sum_disc_price"),
          // sum_charge stays DECIMAL end to end: its exact sum in
          // 10^-6 units exceeds 2^53, where DuckDB's decimal->double
          // conversion double-rounds (int128 -> double -> / 1e6) while
          // Spark rounds once — a 1-ulp mismatch at sf1. Exact decimal
          // out, exact compare, any scale.
          sum(epD * discD * taxD).cast(DecimalType(38, 6)).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    /** tpch_q5 — the TPC-H local-supplier-volume query: the 6-table
      * join (customer ⨝ orders ⨝ lineitem ⨝ supplier ⨝ nation ⨝
      * region) with the local-supplier constraint c_nationkey =
      * s_nationkey, revenue per nation in ASIA for one order-year.
      * Exercises the deepest join chain in the registry — every
      * dimension broadcasts, the fact streams once. */
    Q("tpch_q5",
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val rev = sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(3, 2))))
        .cast("double")
      table(s, dir, "customer")
        .join(table(s, dir, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
              col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
          col("c_custkey") === col("o_custkey"))
        .join(table(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .join(table(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(table(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(table(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(rev.as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    /** tpch_q4 — the TPC-H order-priority-checking query: the
      * correlated-EXISTS class (every BI tool emits it; reference
      * analogue: the ad-hoc SQL layer, README.md:219-231). The corpus
      * lineitem has no commit/receipt dates, so "a late line exists"
      * is stated as l_shipdate > o_orderdate — same correlated
      * semi-join shape, one equality + one non-equality correlated
      * predicate. Stated in SQL deliberately: the scale property this
      * row pins is Catalyst DECORRELATION — the EXISTS must plan as
      * one left SEMI join on the order key (PlansSpec), never a
      * per-outer-row subplan, which at 100 TB is the difference
      * between one shuffle and O(|orders|) subqueries. */
    Q("tpch_q4",
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      table(s, dir, "orders").createOrReplaceTempView("tpch_q4_orders")
      table(s, dir, "lineitem").createOrReplaceTempView("tpch_q4_lineitem")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM tpch_q4_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM tpch_q4_lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    /** tpch_q17 — the TPC-H small-quantity-order query: the
      * correlated SCALAR-subquery class (per-group average compared
      * per row). The decorrelated plan aggregates lineitem per part
      * key ONCE and joins the per-key average back — PlansSpec pins
      * that no scalar-subquery node survives into the physical plan.
      * Double parity: the per-key average and the final sum go
      * through exact DECIMAL sums (both engines agree bit-wise), and
      * fractional literals are cast to DOUBLE explicitly (DuckDB
      * parses them as DECIMAL, Spark too — the cast keeps the
      * comparison in double on both sides). */
    Q("tpch_q17",
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / CAST(7.0 AS DOUBLE) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size <= 15
        |  AND l_quantity < (
        |    SELECT CAST(0.2 AS DOUBLE) *
        |           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |              / COUNT(l_quantity))
        |    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin) { (s, dir) =>
      table(s, dir, "lineitem").createOrReplaceTempView("tpch_q17_lineitem")
      table(s, dir, "part").createOrReplaceTempView("tpch_q17_part")
      s.sql("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         / CAST(7.0 AS DOUBLE) AS avg_yearly
        |FROM tpch_q17_lineitem li JOIN tpch_q17_part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size <= 15
        |  AND l_quantity < (
        |    SELECT CAST(0.2 AS DOUBLE) *
        |           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |              / COUNT(l_quantity))
        |    FROM tpch_q17_lineitem l2 WHERE l2.l_partkey = li.l_partkey)""".stripMargin)
    },

    /** agg_cube — all grouping-set combinations of (status, priority). */
    Q("agg_cube",
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice", "sum_price")}
         |FROM orders GROUP BY CUBE(1, 2)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },

    /** events_funnel — windowed funnel (view → click → purchase, 24 h
      * conversion window per hop, greedy first-match — the semantics
      * every funnel product ships): how far did each user get, rolled
      * up to users-per-step. Each hop is a narrow (user, ts) aggregate
      * joined on the user key; events are never self-joined
      * ([[graft.ops.Funnel.windowed]]). */
    Q("events_funnel",
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) // 1000000 AS s FROM events),
        |v AS (SELECT user_id, MIN(s) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.s) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND e.s > v.t1 AND e.s <= v.t1 + 86400 GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.s) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND e.s > c.t2 AND e.s <= c.t2 + 86400 GROUP BY 1),
        |per AS (SELECT v.user_id,
        |    CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS reached
        |  FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |SELECT reached, COUNT(*) AS n_users FROM per
        |GROUP BY 1 ORDER BY reached""".stripMargin) { (s, dir) =>
      graft.ops.Funnel.windowed(table(s, dir, "events"),
          "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), windowSec = 86400)
        .groupBy("reached").agg(count(lit(1)).as("n_users"))
        .orderBy("reached")
    },

    /** events_retention — cohort retention, the other canonical event
      * workload: users cohorted by the epoch-day of their first
      * signup, counted as retained on every later day they show ANY
      * activity (epoch-day buckets — no week-origin or TZ semantics
      * to drift between engines). Shape: one narrow (user, cohort)
      * aggregate, one distinct-(user, day) relation, one equi-join on
      * the user key — events never self-join, and the rollup output
      * is (cohorts × horizon), trivially small at any corpus scale. */
    Q("events_retention",
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts) // 1000000 // 86400 AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, f.cohort, e.d - f.cohort AS day_offset
        |  FROM e JOIN f USING (user_id) WHERE e.d >= f.cohort)
        |SELECT cohort, day_offset, COUNT(*) AS n_users FROM act
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin) { (s, dir) =>
      val e = table(s, dir, "events").select(col("user_id"), col("event_type"),
        // `div`, not `/`: Spark's `/` on longs is true division (a
        // DOUBLE) — the oracle's `//` is integer floor division
        expr("unix_timestamp(ts) div 86400").as("d"))
      val f = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("d")).as("cohort"))
      e.join(f, "user_id")
        .filter(col("d") >= col("cohort"))
        .select(col("user_id"), col("cohort"), (col("d") - col("cohort")).as("day_offset"))
        .distinct()
        .groupBy("cohort", "day_offset").agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "day_offset")
    })
}
