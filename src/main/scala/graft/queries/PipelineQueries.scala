package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine._
import graft.ext.Similarity

/** Warehouse-pipeline queries: the SCD2 merge (the reference's core
  * composite, final_dim_load.py:94-180), time-bucketed event analytics and
  * multi-level aggregation. Every fixture is derived deterministically from
  * the shared parquet tables so the DuckDB oracle can rebuild it exactly.
  */
object PipelineQueries {

  private val Ts0 = "2020-01-01 00:00:00"
  private val TsHist = "2019-01-01 00:00:00"
  private val TsRun = "2021-07-01 00:00:00"
  private val Sentinel = "2099-12-31 00:00:00"

  /** The q17/q166 prior state of the customer dimension over `base`. Not
    * materialized: Scd2.merge reads it in three subtrees (the watermark
    * job, its one classify exchange and the history rows), and the two
    * keyings below add no job of their own (one sorted pass in the plan, or
    * above one range partition an RDD shuffle built once and reused by
    * each reader). A checkpoint here cost one job more than the re-reads.
    */
  private def seededCustomerDim(base: DataFrame): DataFrame = {
    val cur = Keys.surrogateKeysScalable(
        base.filter(col("c_custkey") % 4 =!= 1), "c_custkey", "customer_sk")
      .withColumn("bal",
        when(col("c_custkey") % 5 === 0, col("bal") + 100).otherwise(col("bal")))
      .withColumn("start_dt", lit(Ts0).cast("timestamp"))
      .withColumn("end_dt", lit(Sentinel).cast("timestamp"))
      .withColumn("is_valid", lit(true))
    val hist = Keys.surrogateKeysScalable(
        base.filter(col("c_custkey") % 4 =!= 1 && col("c_custkey") % 7 === 3),
        "c_custkey", "customer_sk", offset = 100000L)
      .withColumn("bal", col("bal") - 50)
      .withColumn("start_dt", lit(TsHist).cast("timestamp"))
      .withColumn("end_dt", lit(Ts0).cast("timestamp"))
      .withColumn("is_valid", lit(false))
    cur.unionByName(hist).select(
      "customer_sk", "c_custkey", "c_name", "c_mktsegment", "bal",
      "start_dt", "end_dt", "is_valid")
  }

  val qs: Seq[Q] = Seq(

    // M5 SCD2 merge end-to-end. The "existing" dimension is derived from
    // customer: keys with c_custkey%4==1 are held out (they arrive as brand
    // new), keys with c_custkey%5==0 get a perturbed balance (they arrive
    // changed), keys with c_custkey%7==3 also carry a pre-expired history
    // row. The merge must expire the changed versions at TsRun, key the new
    // versions + brand-new keys past the watermark, and pass everything else
    // through untouched.
    Q(
      "q17_scd2_merge",
      (s, dir) => {
        val base = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(12,2)").as("bal"))
        Scd2.withAuditTs(
            Scd2.merge(seededCustomerDim(base), base,
              naturalKey = "c_custkey",
              scdCols = Seq("c_name", "c_mktsegment", "bal"),
              skCol = "customer_sk", runTs = TsRun, sentinel = Sentinel),
            TsRun)
          // double, not decimal, in the compared projection — the driver's
          // value hashing diverges on DECIMAL columns (VERDICT r1 item 2).
          .withColumn("bal", col("bal").cast("double"))
          .orderBy("c_custkey", "start_dt")
      },
      Some(s"""
        WITH base AS (
          SELECT c_custkey, c_name, c_mktsegment,
                 CAST(c_acctbal AS DECIMAL(12,2)) AS bal
          FROM customer
        ), cur AS (
          SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_name, c_mktsegment,
                 CASE WHEN c_custkey % 5 = 0 THEN bal + 100 ELSE bal END AS bal,
                 TIMESTAMP '$Ts0' AS start_dt,
                 TIMESTAMP '$Sentinel' AS end_dt,
                 true AS is_valid
          FROM base WHERE c_custkey % 4 <> 1
        ), hist AS (
          SELECT 100000 + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_name, c_mktsegment, bal - 50 AS bal,
                 TIMESTAMP '$TsHist' AS start_dt,
                 TIMESTAMP '$Ts0' AS end_dt,
                 false AS is_valid
          FROM base WHERE c_custkey % 4 <> 1 AND c_custkey % 7 = 3
        ), maxsk AS (
          SELECT max(customer_sk) AS m
          FROM (SELECT customer_sk FROM cur UNION ALL SELECT customer_sk FROM hist)
        ), fresh AS (
          SELECT (SELECT m FROM maxsk)
                   + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_name, c_mktsegment, bal,
                 TIMESTAMP '$TsRun' AS start_dt,
                 TIMESTAMP '$Sentinel' AS end_dt,
                 true AS is_valid
          FROM base WHERE c_custkey % 4 = 1 OR c_custkey % 5 = 0
        )
        SELECT customer_sk, c_custkey, c_name, c_mktsegment,
               CAST(bal AS DOUBLE) AS bal, start_dt, end_dt, is_valid,
               TIMESTAMP '$TsRun' AS ta_insert_dt
        FROM (
          SELECT * FROM hist
          UNION ALL
          SELECT * FROM cur WHERE c_custkey % 5 <> 0
          UNION ALL
          SELECT customer_sk, c_custkey, c_name, c_mktsegment, bal, start_dt,
                 TIMESTAMP '$TsRun' AS end_dt, false AS is_valid
          FROM cur WHERE c_custkey % 5 = 0
          UNION ALL
          SELECT * FROM fresh
        )
        ORDER BY c_custkey, start_dt
      """.trim)),

    // Section 2.10 stand-in: tumbling 1-hour window aggregation over events.
    Q(
      "q18_events_hourly",
      (s, dir) => Events.hourlyRollup(Tables.events(s, dir))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
      """.trim)),

    // Gap-based sessionization (30-minute idle gap) — lag + running sum.
    Q(
      "q19_events_sessions",
      (s, dir) => Events.sessionize(Tables.events(s, dir), gapSeconds = 1800L)
        .orderBy("user_id", "session_seq"),
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts, value,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM sessioned GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
      """.trim)),

    // Multi-level aggregation: ROLLUP with grouping-id disambiguation
    // (beyond the reference's agg surface; SURVEY.md section 2.4 gap).
    Q(
      "q20_rollup",
      (s, dir) => Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          Exact.sumD(col("o_totalprice")).as("sales"),
          grouping_id().cast("int").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sales"), col("gid"))
        .orderBy("gid", "status", "priority"),
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        ORDER BY gid, status, priority
      """.trim)),

    // Bootstrap-vs-incremental dispatch (final_dim_load.py:168-180): the
    // dimension path is guaranteed absent, so the Try-on-read falls through
    // to the bootstrap branch — every incoming row becomes version 1.
    Q(
      "q30_scd2_bootstrap",
      (s, dir) => {
        val missing = Scratch.dir(s, dir, "no_such_dim")
        graft.engine.Scratch.rm(missing)
        val base = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("bal"))
        Scd2.loadOrBootstrap(s, missing, base,
            naturalKey = "c_custkey", scdCols = Seq("c_name", "bal"),
            skCol = "customer_sk", runTs = TsRun, sentinel = Sentinel)
          .orderBy("c_custkey")
      },
      Some(s"""
        SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal,
               CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
               TIMESTAMP '$TsRun' AS start_dt,
               TIMESTAMP '$Sentinel' AS end_dt,
               true AS is_valid
        FROM customer ORDER BY c_custkey
      """.trim)),

    // P3 qualifier star-expansion after an aliased join (final_dim_load.py:142,
    // :372; final_fact_load.py:90): select("o.*") plus columns from the other
    // side.
    Q(
      "q31_alias_star",
      (s, dir) => Tables.orders(s, dir).as("o")
        .join(Tables.customer(s, dir).as("c"),
          col("o.o_custkey") === col("c.c_custkey"), "inner")
        .select(col("o.*"), col("c.c_mktsegment"), col("c.c_name"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o.*, c.c_mktsegment, c.c_name
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o_orderkey
      """.trim)),

    // Approximate distinct (HLL) — the 100 TB substitute for q18's exact
    // countDistinct (VERDICT r1: "a separate op, not a swap"). HLL sketch
    // VALUES are engine-specific, so the raw approx column can never ride
    // the hash compare — through round 7 this was the registry's one
    // rows-only entry. Now fully gated by the q169 envelope pattern folded
    // in (VERDICT r7 #6): the rollup computes the sketch NEXT TO the exact
    // distinct and surfaces the exact count plus a tolerance verdict
    // (|approx-exact| within max(15%, 2); HLL default rsd 5%), which the
    // oracle pins to 1 — keys, exact counts, and the sketch envelope all
    // hash-compare; only the raw sketch value stays engine-local (and out
    // of the output). The exact column is the GATE's price: a production
    // deployment drops n_users_exact and keeps the sketch — that shape is
    // exercised here, checked by this envelope.
    Q(
      "q33_events_hourly_approx",
      (s, dir) => Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id")).as("__approx"))
        .select(col("bucket"), col("event_type"), col("n_events"),
          col("n_users_exact"),
          when(abs(col("__approx") - col("n_users_exact"))
              <= greatest(col("n_users_exact").cast("double") * 0.15, lit(2.0)),
            1L).otherwise(0L).as("approx_within_tol"))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               CAST(1 AS BIGINT) AS approx_within_tol
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
      """.trim)),

    // Pivot (section 2.4 "not present" gap): order counts per priority
    // pivoted by status, explicit value list for determinism; empty cells
    // coalesced to 0 in both engines.
    Q(
      "q34_pivot",
      (s, dir) => Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS n_f,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS n_o,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Per-cell centroids over the embedding column: posexplode + EXACT sums
    // per (label, dim) — the expression-level path (the typed Aggregator
    // variant is q399's QuantizedCentroidAggregator). Exactness trick:
    // scaling a float by 2^48 is a lossless exponent shift and makes every
    // element integral (float mantissas here bottom out at 2^-43), so the
    // decimal cast never rounds — a power-of-TEN scale would hit half-way
    // cases where Spark (HALF_UP) and DuckDB (half-even) disagree. The sum
    // is then an exact integer; the casts/divisions back are correctly
    // rounded identically in both engines.
    Q(
      "q35_centroids",
      (s, dir) => {
        val scale = lit(281474976710656.0) // 2^48
        Tables.embeddings(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg(
            count(lit(1)).as("n"),
            (sum((col("v").cast("double") * scale).cast("decimal(38,0)")).cast("double")
              / scale / count(lit(1))).as("mean"))
          .orderBy("label", "dim")
      },
      Some(s"""
        SELECT label, CAST(u.i - 1 AS INTEGER) AS dim, COUNT(*) AS n,
               ${Similarity.duckExactMean("u.v")} AS mean
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS i) u
        GROUP BY label, dim ORDER BY label, dim
      """.trim)),

    // JSON metadata extraction (events.props carries a JSON payload — the
    // standard shape for pipeline metadata): both the path-extraction
    // (get_json_object) and schema'd parse (from_json) forms, rolled up per
    // event type.
    Q(
      "q38_json_props",
      (s, dir) => Tables.events(s, dir)
        // P4 null-guard filter (final_dim_load.py:68 idiom): semantics-
        // neutral here (props is never null) but pushes IsNotNull to the scan
        .filter(col("props").isNotNull)
        // Spread the per-row JSON parsing: a small parquet file is ONE input
        // split, so without this every get_json_object/from_json parse runs
        // in a single task (measured: the whole query was one 3.5s task).
        // Explicit N — AQE's size-based coalescing would fold a byte-light/
        // CPU-heavy shuffle back together.
        .repartition(s.sessionState.conf.numShufflePartitions, col("event_id"))
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k_path"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_schema"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("k_path")).as("sum_k"),
          min(col("k_path")).as("min_k"),
          max(col("k_path")).as("max_k"),
          sum(when(col("k_path") === col("k_schema"), 1L).otherwise(0L)).as("n_agree"))
        .orderBy("event_type"),
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k,
               CAST(COUNT(*) AS BIGINT) AS n_agree
        FROM events WHERE props IS NOT NULL
        GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Backward as-of join (engine.AsOfJoin): each click is enriched with the
    // latest at-or-before purchase of the same user — union+window, one
    // shuffle on the key, no range-join pair blowup. The oracle mirrors the
    // same formulation (DuckDB's native ASOF JOIN has the same semantics but
    // different tie handling; the window mirror is bit-identical).
    Q(
      "q41_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id", "value")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("value").as("purchase_value"), col("event_id").as("purchase_id"))
        AsOfJoin.asofBackward(clicks, purchases, key = "user_id",
            leftTime = "ts", rightTime = "ts", tieBreak = "event_id",
            rightVals = Seq("purchase_value", "purchase_id"))
          .orderBy("event_id")
      },
      Some("""
        WITH u AS (
          SELECT user_id AS k, ts AS t, 1 AS side, event_id AS tb,
                 event_id, ts, user_id, value,
                 CAST(NULL AS DOUBLE) AS pv, CAST(NULL AS BIGINT) AS pid
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, ts, 0, event_id,
                 NULL, NULL, NULL, NULL, value, event_id
          FROM events WHERE event_type = 'purchase'
        ), m AS (
          SELECT side, event_id, ts, user_id, value,
                 last_value(pv IGNORE NULLS) OVER w AS purchase_value,
                 last_value(pid IGNORE NULLS) OVER w AS purchase_id
          FROM u
          WINDOW w AS (PARTITION BY k ORDER BY t, side, tb
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, ts, user_id, value, purchase_value, purchase_id
        FROM m WHERE side = 1 ORDER BY event_id
      """.trim)),

    // JSON-lines sink + schema'd source round-trip (Sources.jsonLines /
    // Sinks.writeJson): result equals the direct projection, proving the
    // format round-trips types (date via ISO string, shortest-round-trip
    // doubles) exactly.
    Q(
      "q42_json_roundtrip",
      (s, dir) => {
        val out = Scratch.dir(s, dir, "orders_json")
        val proj = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("total"),
          col("o_orderdate"))
        Sinks.writeJson(proj, out)
        Sources.jsonLines(s, out, proj.schema).orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE) AS total, o_orderdate
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // CUBE: all four grouping combinations with grouping-id disambiguation
    // (completes the multi-level agg family next to q20's ROLLUP and q34's
    // PIVOT).
    Q(
      "q43_cube",
      (s, dir) => Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          Exact.sumD(col("o_totalprice")).as("sales"),
          grouping_id().cast("int").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sales"), col("gid"))
        .orderBy("gid", "status", "priority"),
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY gid, status, priority
      """.trim)),

    // Bucketed range join (engine.RangeJoin): customers whose balance falls
    // inside a +/-25 band around each supplier balance — theta predicate
    // turned into a bucket equi-join + residual filter, no nested loop.
    Q(
      "q45_range_join",
      (s, dir) => {
        val pts = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_acctbal").cast("double").as("bal"))
        val ivs = Tables.supplier(s, dir).select(col("s_suppkey"),
          (col("s_acctbal").cast("double") - 25.0).as("lo"),
          (col("s_acctbal").cast("double") + 25.0).as("hi"))
        RangeJoin.pointInInterval(pts, ivs, "bal", "lo", "hi", step = 50.0)
          .orderBy("c_custkey", "s_suppkey")
      },
      Some("""
        SELECT c.c_custkey, CAST(c.c_acctbal AS DOUBLE) AS bal,
               s.s_suppkey,
               CAST(s.s_acctbal AS DOUBLE) - 25.0 AS lo,
               CAST(s.s_acctbal AS DOUBLE) + 25.0 AS hi
        FROM customer c JOIN supplier s
          ON CAST(s.s_acctbal AS DOUBLE) - 25.0 <= CAST(c.c_acctbal AS DOUBLE)
         AND CAST(c.c_acctbal AS DOUBLE) < CAST(s.s_acctbal AS DOUBLE) + 25.0
        ORDER BY c_custkey, s_suppkey
      """.trim)),

    // Window analytics q14 does not reach: ntile banding, percent_rank /
    // cume_dist (exact single-division doubles), and a RANGE frame (90-day
    // trailing spend — peers at the same day share the frame, unlike ROWS).
    // The frame sum is decimal-exact (associative) before the double cast.
    Q(
      "q46_window_frames",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dayN = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
        val byPrice = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val byDay = Window.partitionBy(col("o_custkey")).orderBy(dayN)
        Tables.orders(s, dir).select(
          col("o_custkey"), col("o_orderkey"),
          ntile(4).over(byPrice).as("price_quartile"),
          percent_rank().over(byPrice).as("price_pr"),
          cume_dist().over(byPrice).as("price_cd"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .over(byDay.rangeBetween(-90, 0)).cast("double").as("spend_90d"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(ntile(4) OVER wp AS INTEGER) AS price_quartile,
               percent_rank() OVER wp AS price_pr,
               cume_dist() OVER wp AS price_cd,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wd AS DOUBLE) AS spend_90d
        FROM (SELECT *, date_diff('day', DATE '1992-01-01', o_orderdate) AS dayn FROM orders)
        WINDOW wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
               wd AS (PARTITION BY o_custkey ORDER BY dayn
                      RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey
      """.trim)),

    // Arbitrary GROUPING SETS (the general form behind rollup/cube): an
    // explicit set list that neither rollup nor cube expresses — both
    // single-dimension marginals plus the full cross, one Expand + one
    // grouped agg (no re-scan per set).
    Q(
      "q57_grouping_sets",
      (s, dir) => Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          Exact.sumD(col("o_totalprice")).as("sales"),
          grouping_id().cast("int").as("gid"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sales"), col("gid"))
        .orderBy("gid", "status", "priority"),
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        ORDER BY gid, status, priority
      """.trim)),

    // Time-series resample with gap fill: hourly buckets per event type over
    // the full global span (generated spine x distinct types, left join,
    // zero-fill) — the standard "no silent missing buckets" analytics shape.
    // The spine generator is one sequence+explode from a 1-row agg: bounded
    // cardinality at any scale; the grouped agg shuffles once.
    Q(
      "q58_gapfill_hourly",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val hourly = ev
          .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            Exact.sumD(col("value"), 6).as("sum_value"))
        val spine = ev
          .agg(date_trunc("hour", min(col("ts"))).as("lo"),
            date_trunc("hour", max(col("ts"))).as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("bucket"))
        val types = ev.select(col("event_type")).distinct()
        spine.crossJoin(types)
          .join(hourly, Seq("bucket", "event_type"), "left")
          .select(col("bucket"), col("event_type"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH span AS (
          SELECT time_bucket(INTERVAL 1 HOUR, MIN(ts)) AS lo,
                 time_bucket(INTERVAL 1 HOUR, MAX(ts)) AS hi
          FROM events
        ), spine AS (
          SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM span
        ), types AS (
          SELECT DISTINCT event_type FROM events
        ), agg AS (
          SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
          FROM events GROUP BY 1, 2
        )
        SELECT s.bucket AS bucket, t.event_type AS event_type,
               CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
               COALESCE(a.sum_value, 0.0) AS sum_value
        FROM spine s CROSS JOIN types t
        LEFT JOIN agg a ON a.bucket = s.bucket AND a.event_type = t.event_type
        ORDER BY bucket, event_type
      """.trim)),

    // Fixed-width histogram binning: floor(x / width) bucket ids (one double
    // division + floor — engine-identical), per-bin counts and exact min/max.
    // Single grouped agg; the classic distribution-profiling pass.
    Q(
      "q59_histogram",
      (s, dir) => Tables.orders(s, dir)
        .select(floor(col("o_totalprice") / lit(50000.0)).as("bin"),
          col("o_totalprice"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .withColumn("bin_lo", col("bin").cast("double") * lit(50000.0))
        .orderBy("bin"),
      Some("""
        SELECT bin, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
               CAST(bin AS DOUBLE) * 50000.0 AS bin_lo
        FROM (SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin, o_totalprice
              FROM orders)
        GROUP BY bin ORDER BY bin
      """.trim)),

    // Exact distributed second moments: mean / variance / correlation
    // derived from exact decimal power sums (sum x, x^2, y, y^2, xy) — the
    // moments stay associative and partition-count-independent (the Exact
    // discipline generalized past first moments), and the final double
    // formula is a fixed IEEE expression both engines evaluate identically.
    // corr() built-ins are NOT used: their streaming accumulation is
    // order-dependent and never bitwise across engines.
    Q(
      "q60_moments",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderstatus").as("status"),
          col("o_totalprice").cast("decimal(18,2)").as("x"),
          datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
            .cast("decimal(18,0)").as("y"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("x")).cast("double").as("sx2"),
          sum(col("y") * col("y")).cast("double").as("sy2"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        .select(col("status"), col("n"),
          (col("sx") / col("n").cast("double")).as("mean_price"),
          ((col("sx2") - col("sx") * col("sx") / col("n").cast("double"))
            / col("n").cast("double")).as("var_price"),
          ((col("n").cast("double") * col("sxy") - col("sx") * col("sy"))
            / (sqrt(col("n").cast("double") * col("sx2") - col("sx") * col("sx"))
              * sqrt(col("n").cast("double") * col("sy2") - col("sy") * col("sy"))))
            .as("corr_price_day"))
        .orderBy("status"),
      Some("""
        WITH m AS (
          SELECT o_orderstatus AS status,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS DOUBLE) AS sx,
                 CAST(SUM(y) AS DOUBLE) AS sy,
                 CAST(SUM(x * x) AS DOUBLE) AS sx2,
                 CAST(SUM(y * y) AS DOUBLE) AS sy2,
                 CAST(SUM(x * y) AS DOUBLE) AS sxy
          FROM (SELECT o_orderstatus,
                       CAST(o_totalprice AS DECIMAL(18,2)) AS x,
                       CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS DECIMAL(18,0)) AS y
                FROM orders)
          GROUP BY o_orderstatus
        )
        SELECT status, n,
               sx / CAST(n AS DOUBLE) AS mean_price,
               (sx2 - sx * sx / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_price,
               (CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sx2 - sx * sx)
                    * sqrt(CAST(n AS DOUBLE) * sy2 - sy * sy)) AS corr_price_day
        FROM m ORDER BY status
      """.trim)),

    // Conversion funnel view -> click -> purchase: per-user milestone
    // timestamps (first view; first click AFTER it; first purchase after
    // that), then one global reduce. Each milestone is a filtered
    // min-aggregate shuffled on user_id; the stage joins are same-key
    // (co-partitioned under AQE) and the final single-row aggregate is
    // map-side partial. Microsecond epoch longs keep all arithmetic exact.
    Q(
      "q67_funnel",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("view_us"))
        val c = e.filter(col("event_type") === "click").join(v, Seq("user_id"))
          .filter(col("us") > col("view_us"))
          .groupBy("user_id").agg(min("us").as("click_us"))
        val p = e.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
          .filter(col("us") > col("click_us"))
          .groupBy("user_id").agg(min("us").as("purch_us"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(
            count(lit(1)).as("users_view"),
            count(col("click_us")).as("users_click"),
            count(col("purch_us")).as("users_purchase"),
            sum(col("click_us") - col("view_us")).as("sum_view_to_click_us"),
            sum(col("purch_us") - col("click_us")).as("sum_click_to_purchase_us"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        ), v AS (
          SELECT user_id, MIN(us) AS view_us FROM e
          WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
          SELECT e.user_id, MIN(e.us) AS click_us
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.us > v.view_us GROUP BY e.user_id
        ), p AS (
          SELECT e.user_id, MIN(e.us) AS purch_us
          FROM e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.us > c.click_us GROUP BY e.user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS users_view,
               CAST(COUNT(c.click_us) AS BIGINT) AS users_click,
               CAST(COUNT(p.purch_us) AS BIGINT) AS users_purchase,
               CAST(SUM(c.click_us - v.view_us) AS BIGINT) AS sum_view_to_click_us,
               CAST(SUM(p.purch_us - c.click_us) AS BIGINT) AS sum_click_to_purchase_us
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON c.user_id = p.user_id
      """.trim)),

    // Exact distribution percentiles (percentile_disc semantics: the value
    // at rank ceil(q*n), no interpolation — rank selection is pure integer
    // math, so the result is an ACTUAL data value and hash-exact). One
    // shuffle: the rank window and the group aggregate share the
    // event_type partitioning.
    Q(
      "q69_percentiles",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("value")
        val ranked = Tables.events(s, dir).select(col("event_type"), col("value"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        def pick(qp: Int, name: String) =
          max(when(col("rn") === floor((col("n") * qp + lit(99)) / lit(100)).cast("int"),
            col("value"))).as(name)
        ranked.groupBy("event_type")
          .agg(max(col("n")).as("n_events"),
            pick(50, "p50"), pick(90, "p90"), pick(99, "p99"))
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
               MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
               MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
        FROM r GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Event throttling: drop an event arriving within 10 minutes of the
    // PREVIOUS event of the same (user, type) — lag-window dedup, the batch
    // twin of the streaming fingerprint throttle. One shuffle on the
    // composite key; microsecond arithmetic exact.
    Q(
      "q70_event_throttle",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .withColumn("__us", unix_micros(col("ts")))
          .withColumn("__prev_us", lag(col("__us"), 1).over(w))
          .filter(col("__prev_us").isNull ||
            col("__us") - col("__prev_us") >= lit(600L * 1000000L))
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      },
      Some("""
        WITH r AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
          FROM events
        )
        SELECT event_id, user_id, event_type FROM r
        WHERE prev_us IS NULL OR us - prev_us >= 600000000
        ORDER BY event_id
      """.trim)),

    // Deterministic salted two-phase aggregation over a genuinely hot key
    // (5 event types): phase one spreads each type across 16 salt
    // partitions, phase two merges partials — identical results to the
    // direct groupBy (the oracle IS the direct form), no single-task
    // hot-key bottleneck at scale.
    Q(
      "q71_salted_agg",
      (s, dir) => Skew.saltedCountByKey(
          Tables.events(s, dir), key = "event_type", saltFactor = 16,
          saltSource = "event_id")
        .orderBy("event_type"),
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Class-balanced downsampling: every event_type keeps exactly
    // min-class-count rows, membership chosen by a deterministic salted-hash
    // order (stable across runs/engines — the rand()-free form of balanced
    // sampling). One shuffle for the per-class rank window; the two scalar
    // bounds broadcast.
    Q(
      "q73_class_balance",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val minN = ev.groupBy("event_type").agg(count(lit(1)).as("__n"))
          .agg(min(col("__n")).as("__min"))
        val w = Window.partitionBy("event_type").orderBy(
          graft.ext.TextHash.hash60(concat(lit("bal:"), col("event_id").cast("string"))),
          col("event_id"))
        ev.withColumn("__r", row_number().over(w))
          .crossJoin(broadcast(minN))
          .filter(col("__r") <= col("__min"))
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      },
      Some(s"""
        WITH m AS (
          SELECT MIN(cnt) AS mn FROM (
            SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)
        ), r AS (
          SELECT event_id, user_id, event_type,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY ${graft.ext.TextHash.duckHash60(
                     "'bal:' || CAST(event_id AS VARCHAR)")}, event_id) AS rr
          FROM events
        )
        SELECT event_id, user_id, event_type FROM r, m
        WHERE rr <= mn ORDER BY event_id
      """.trim)),

    // Keyed refresh reconciliation: the full-outer diff report
    // (added/removed/changed/unchanged per key) every warehouse load
    // validates with — deterministic perturbations of orders stand in for
    // yesterday/today snapshots. Covers the full_outer join type plus
    // null-safe (<=>) column comparison.
    Q(
      "q75_reconcile",
      (s, dir) => {
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("price"),
          col("o_orderstatus").as("status"))
        val yesterday = o.filter(col("o_orderkey") % 11 =!= 0)
        val today = o.filter(col("o_orderkey") % 7 =!= 0)
          .withColumn("price",
            when(col("o_orderkey") % 5 === 0, col("price") + 10.0).otherwise(col("price")))
        Reconcile.diffByKey(yesterday, today, "o_orderkey", Seq("price", "status"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
                 o_orderstatus AS status
          FROM orders
        ), y AS (
          SELECT * FROM o WHERE o_orderkey % 11 <> 0
        ), t AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 5 = 0 THEN price + 10.0 ELSE price END AS price,
                 status
          FROM o WHERE o_orderkey % 7 <> 0
        )
        SELECT COALESCE(y.o_orderkey, t.o_orderkey) AS o_orderkey,
               CASE WHEN y.o_orderkey IS NULL THEN 'added'
                    WHEN t.o_orderkey IS NULL THEN 'removed'
                    WHEN y.price IS DISTINCT FROM t.price
                         OR y.status IS DISTINCT FROM t.status THEN 'changed'
                    ELSE 'unchanged' END AS diff_class
        FROM y FULL OUTER JOIN t ON y.o_orderkey = t.o_orderkey
        ORDER BY o_orderkey
      """.trim)),

    // Full-snapshot SCD2 merge with DELETE detection: keys with
    // c_custkey%10==3 vanish from the snapshot and must be expired with no
    // successor; %5==0 keys arrive changed (expire + re-key); the rest pass
    // through — the snapshot-feed complement of q17's changes-only merge.
    Q(
      "q77_scd2_expire_missing",
      (s, dir) => {
        val base = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_name"),
          col("c_acctbal").cast("decimal(12,2)").as("bal"))
        val existing = Keys.surrogateKeysScalable(base, "c_custkey", "customer_sk")
          .withColumn("bal",
            when(col("c_custkey") % 5 === 0, col("bal") + 100).otherwise(col("bal")))
          .withColumn("start_dt", lit(Ts0).cast("timestamp"))
          .withColumn("end_dt", lit(Sentinel).cast("timestamp"))
          .withColumn("is_valid", lit(true))
          .select("customer_sk", "c_custkey", "c_name", "bal",
            "start_dt", "end_dt", "is_valid")
        // Not materialized: mergeFullSnapshot reads `existing` in three
        // subtrees (the watermark job, its one classify exchange, history),
        // which cost one job fewer than a checkpoint of it.
        val snapshot = base.filter(col("c_custkey") % 10 =!= 3)
        Scd2.mergeFullSnapshot(existing, snapshot,
            naturalKey = "c_custkey", scdCols = Seq("c_name", "bal"),
            skCol = "customer_sk", runTs = TsRun, sentinel = Sentinel)
          .withColumn("bal", col("bal").cast("double"))
          .orderBy("c_custkey", "start_dt")
      },
      Some(s"""
        WITH base AS (
          SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
          FROM customer
        ), cur AS (
          SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_name,
                 CASE WHEN c_custkey % 5 = 0 THEN bal + 100 ELSE bal END AS bal,
                 TIMESTAMP '$Ts0' AS start_dt,
                 TIMESTAMP '$Sentinel' AS end_dt,
                 true AS is_valid
          FROM base
        ), maxsk AS (
          SELECT MAX(customer_sk) AS m FROM cur
        ), fresh AS (
          SELECT (SELECT m FROM maxsk)
                   + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_name, bal,
                 TIMESTAMP '$TsRun' AS start_dt,
                 TIMESTAMP '$Sentinel' AS end_dt,
                 true AS is_valid
          FROM base WHERE c_custkey % 5 = 0 AND c_custkey % 10 <> 3
        )
        SELECT customer_sk, c_custkey, c_name, CAST(bal AS DOUBLE) AS bal,
               start_dt, end_dt, is_valid
        FROM (
          SELECT * FROM cur WHERE c_custkey % 5 <> 0 AND c_custkey % 10 <> 3
          UNION ALL
          SELECT customer_sk, c_custkey, c_name, bal, start_dt,
                 TIMESTAMP '$TsRun' AS end_dt, false AS is_valid
          FROM cur WHERE c_custkey % 5 = 0 OR c_custkey % 10 = 3
          UNION ALL
          SELECT * FROM fresh
        )
        ORDER BY c_custkey, start_dt
      """.trim)),

    // Z-score anomaly detection: per-type mean/std from EXACT decimal power
    // sums (the q60 moment recipe — no order-dependent avg/stddev built-ins),
    // broadcast back over the stream, flag |z| >= 2. The two-pass shape
    // (tiny stats aggregate + map-side scoring) is the scalable form of
    // "standardize then threshold".
    Q(
      "q78_zscore_anomalies",
      (s, dir) => {
        val typed = Tables.events(s, dir).select(
          col("event_id"), col("event_type"), col("value"),
          col("value").cast("decimal(18,2)").as("x"))
        val stats = typed.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("x") * col("x")).cast("double").as("sx2"))
          .select(col("event_type"),
            (col("sx") / col("n").cast("double")).as("mean_v"),
            sqrt((col("sx2") - col("sx") * col("sx") / col("n").cast("double"))
              / col("n").cast("double")).as("std_v"))
        // std_v > 0 guard on BOTH sides: a zero-variance group yields
        // z = 0/0 = NaN, and Spark (NaN fails >=) and DuckDB (NaN sorts
        // greatest, passes >=) disagree on whether it survives the filter
        typed.join(broadcast(stats), Seq("event_type"))
          .select(col("event_id"), col("event_type"), col("value"), col("std_v"),
            ((col("x").cast("double") - col("mean_v")) / col("std_v")).as("z"))
          .filter(col("std_v") > 0.0 && abs(col("z")) >= 2.0)
          .drop("std_v")
          .orderBy("event_id")
      },
      Some("""
        WITH t AS (
          SELECT event_id, event_type, value, CAST(value AS DECIMAL(18,2)) AS x
          FROM events
        ), s AS (
          SELECT event_type,
                 CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v,
                 sqrt((CAST(SUM(x * x) AS DOUBLE)
                       - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE))
                      / CAST(COUNT(*) AS DOUBLE)) AS std_v
          FROM t GROUP BY event_type
        )
        SELECT event_id, t.event_type AS event_type, value,
               (CAST(x AS DOUBLE) - mean_v) / std_v AS z
        FROM t JOIN s ON t.event_type = s.event_type
        WHERE std_v > 0.0 AND abs((CAST(x AS DOUBLE) - mean_v) / std_v) >= 2.0
        ORDER BY event_id
      """.trim)),

    // Join-key skew audit: top-10 hottest keys with their share of total
    // rows — the diagnostic run before choosing salt factors / AQE skew
    // thresholds. Per-key counts are one hash aggregate; the top-10 is a
    // total-order limit; total joins in by broadcast.
    Q(
      "q80_skew_audit",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val counts = li.groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
        val total = li.agg(count(lit(1)).as("__total"))
        counts.orderBy(col("cnt").desc, col("l_suppkey")).limit(10)
          .crossJoin(broadcast(total))
          .select(col("l_suppkey"), col("cnt"),
            (col("cnt").cast("double") / col("__total").cast("double")).as("share"))
          .orderBy(col("cnt").desc, col("l_suppkey"))
      },
      Some("""
        WITH c AS (
          SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
          GROUP BY l_suppkey ORDER BY cnt DESC, l_suppkey LIMIT 10
        ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
        SELECT l_suppkey, cnt,
               CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM c, t ORDER BY cnt DESC, l_suppkey
      """.trim)),

    // KMV (k-minimum-values) approximate distinct users per (day, type):
    // the ENGINE-REPRODUCIBLE sketch counterpart of q33's HLL — estimate
    // (k-1)·2^60/h_k from the k-th smallest distinct 60-bit hash, exact
    // count when the group holds fewer than k distinct values. Pure integer
    // hashing + one exact double division, so unlike HLL the estimate
    // hash-matches DuckDB. The k smallest hashes per group come from the
    // heap TopKPerKey operator (bounded memory at any cardinality).
    Q(
      "q81_kmv_distinct",
      (s, dir) => {
        val k = 16
        val hashed = Tables.events(s, dir)
          .select(date_trunc("day", col("ts")).as("bucket"), col("event_type"),
            graft.ext.TextHash.hash60(
              concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
          .distinct()
        val ranked = graft.plans.TopKPerKey.of(hashed,
          keyCols = Seq("bucket", "event_type"), order = Seq("h" -> true), k = k)
        ranked.groupBy("bucket", "event_type")
          .agg(count(lit(1)).as("n_seen"),
            max(when(col("rank") === k, col("h"))).as("__hk"))
          .select(col("bucket"), col("event_type"), col("n_seen"),
            when(col("n_seen") < k, col("n_seen").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976L).cast("double")
                / col("__hk").cast("double")).as("approx_users"))
          .orderBy("bucket", "event_type")
      },
      Some(s"""
        WITH h AS (
          SELECT DISTINCT time_bucket(INTERVAL 1 DAY, ts) AS bucket, event_type,
                 ${graft.ext.TextHash.duckHash60("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
          FROM events
        ), r AS (
          SELECT bucket, event_type, h,
                 row_number() OVER (PARTITION BY bucket, event_type ORDER BY h) AS rn
          FROM h
        ), a AS (
          SELECT bucket, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_seen,
                 MAX(CASE WHEN rn = 16 THEN h END) AS hk
          FROM r WHERE rn <= 16 GROUP BY bucket, event_type
        )
        SELECT bucket, event_type, n_seen,
               CASE WHEN n_seen < 16 THEN CAST(n_seen AS DOUBLE)
                    ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(hk AS DOUBLE) END AS approx_users
        FROM a ORDER BY bucket, event_type
      """.trim)),

    // Cohort retention: users grouped by first-activity day; per cohort,
    // how many were active again exactly 1 and 7 days later. The cohort
    // table is one min-aggregate on user_id; retention checks are same-key
    // joins against the distinct (user, day) activity set — no windows, no
    // cross-day shuffle amplification.
    Q(
      "q82_cohort_retention",
      (s, dir) => {
        val activity = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        val cohort = activity.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        // two independent semi joins, then one aggregate per cohort day
        val c1 = cohort.join(activity.as("a1"),
            cohort("user_id") === col("a1.user_id") &&
              col("a1.day") === col("cohort_day") + expr("INTERVAL 1 DAY"), "left_semi")
          .groupBy("cohort_day").agg(count(lit(1)).as("retained_1"))
        val c7 = cohort.join(activity.as("a7"),
            cohort("user_id") === col("a7.user_id") &&
              col("a7.day") === col("cohort_day") + expr("INTERVAL 7 DAY"), "left_semi")
          .groupBy("cohort_day").agg(count(lit(1)).as("retained_7"))
        cohort.groupBy("cohort_day").agg(count(lit(1)).as("n_users"))
          .join(c1, Seq("cohort_day"), "left")
          .join(c7, Seq("cohort_day"), "left")
          .select(col("cohort_day"), col("n_users"),
            coalesce(col("retained_1"), lit(0L)).as("retained_1"),
            coalesce(col("retained_7"), lit(0L)).as("retained_7"))
          .orderBy("cohort_day")
      },
      Some("""
        WITH activity AS (
          SELECT DISTINCT user_id, time_bucket(INTERVAL 1 DAY, ts) AS day FROM events
        ), cohort AS (
          SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
        ), c1 AS (
          SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS retained_1 FROM cohort c
          WHERE EXISTS (SELECT 1 FROM activity a
                        WHERE a.user_id = c.user_id
                          AND a.day = c.cohort_day + INTERVAL 1 DAY)
          GROUP BY cohort_day
        ), c7 AS (
          SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS retained_7 FROM cohort c
          WHERE EXISTS (SELECT 1 FROM activity a
                        WHERE a.user_id = c.user_id
                          AND a.day = c.cohort_day + INTERVAL 7 DAY)
          GROUP BY cohort_day
        )
        SELECT n.cohort_day AS cohort_day, n.n_users,
               COALESCE(c1.retained_1, 0) AS retained_1,
               COALESCE(c7.retained_7, 0) AS retained_7
        FROM (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_users
              FROM cohort GROUP BY cohort_day) n
        LEFT JOIN c1 ON n.cohort_day = c1.cohort_day
        LEFT JOIN c7 ON n.cohort_day = c7.cohort_day
        ORDER BY cohort_day
      """.trim)),

    // Event-sequence mining: top-5 most common consecutive event-type
    // transitions per user stream (lag window -> pair counts -> total-order
    // limit) — the bigram/Markov-transition shape over behavioral
    // sequences.
    Q(
      "q83_event_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .withColumn("__next", lead(col("event_type"), 1).over(w))
          .filter(col("__next").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("from_type"), col("to_type"))
          .limit(5)
      },
      Some("""
        WITH r AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM r WHERE next_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 5
      """.trim)),

    // The typed Dataset[T] path end-to-end: groupByKey + flatMapGroups
    // sessionization (imperative per-group walk under a case-class encoder)
    // — identical sessions to q19's window form, oracle-checked against the
    // same gaps-and-islands SQL.
    Q(
      "q84_typed_sessions",
      (s, dir) => Events.sessionizeTyped(Tables.events(s, dir), gapSeconds = 1800L)
        .toDF()
        .orderBy("user_id", "session_seq"),
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM sessioned GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
      """.trim)),

    // Incremental aggregation: history state + delta state merged per key
    // (engine.Incremental) — the materialized-view refresh pattern. The
    // oracle is the FULL recompute, so the hash match IS the proof that
    // state merging loses nothing (count + exact decimal sum are
    // associative).
    Q(
      "q85_incremental_agg",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val split = lit("2024-01-15 00:00:00").cast("timestamp")
        val hist = Incremental.sumCountState(
          ev.filter(col("ts") < split), Seq("event_type"), "value")
        val delta = Incremental.sumCountState(
          ev.filter(col("ts") >= split), Seq("event_type"), "value")
        Incremental.mergeStates(Seq(hist, delta), Seq("event_type"))
          .select(col("event_type"), col("n"),
            col("sum_state").cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Blocked fuzzy matching (entity resolution): dirty supplier names
    // (deterministic last-char corruption) are matched back to the clean
    // dimension by prefix blocking + Levenshtein verify + best-match rank —
    // never all-pairs; the block key bounds candidate sets the way LSH
    // bands do for documents.
    Q(
      "q86_fuzzy_match",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_name"))
        // append-X corruption: the true entity is UNIQUELY distance 1 (one
        // deletion); every other block member needs its own char-17/18 edit
        // too (distance >= 2), so the <=1 verify + rank provably recovers
        // the right supplier rather than a same-distance block neighbor
        val dirty = sup.select(col("s_suppkey").as("dirty_key"),
          when(col("s_suppkey") % 3 === 0, concat(col("s_name"), lit("X")))
            .otherwise(col("s_name")).as("dirty_name"))
        val cand = dirty
          .withColumn("__blk", substring(col("dirty_name"), 1, 17))
          .join(sup.withColumn("__blk", substring(col("s_name"), 1, 17))
              .hint("shuffle_hash"), Seq("__blk"))
          .select(col("dirty_key"), col("dirty_name"), col("s_suppkey"), col("s_name"),
            levenshtein(col("dirty_name"), col("s_name")).as("distance"))
          .filter(col("distance") <= 1)
        val w = Window.partitionBy("dirty_key")
          .orderBy(col("distance"), col("s_suppkey"))
        cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select("dirty_key", "s_suppkey", "distance")
          .orderBy("dirty_key")
      },
      Some("""
        WITH sup AS (
          SELECT s_suppkey, s_name FROM supplier
        ), dirty AS (
          SELECT s_suppkey AS dirty_key,
                 CASE WHEN s_suppkey % 3 = 0
                      THEN s_name || 'X' ELSE s_name END AS dirty_name
          FROM sup
        ), cand AS (
          SELECT d.dirty_key, s.s_suppkey,
                 CAST(levenshtein(d.dirty_name, s.s_name) AS INTEGER) AS distance
          FROM dirty d JOIN sup s
            ON substr(d.dirty_name, 1, 17) = substr(s.s_name, 1, 17)
          WHERE levenshtein(d.dirty_name, s.s_name) <= 1
        )
        SELECT dirty_key, s_suppkey, distance FROM (
          SELECT *, row_number() OVER (
            PARTITION BY dirty_key ORDER BY distance, s_suppkey) AS rn
          FROM cand)
        WHERE rn = 1 ORDER BY dirty_key
      """.trim)),

    // The spark.sql(...) entry path: temp views + one ANSI query string —
    // same Catalyst plan as the DataFrame form, proving the SQL front door
    // works against the engine's tables (the oracle is literally the same
    // statement minus dialect).
    Q(
      "q87_sql_api",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("v_orders")
        Tables.customer(s, dir).createOrReplaceTempView("v_customer")
        s.sql("""
          SELECT c.c_mktsegment AS segment,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment
          ORDER BY segment
        """)
      },
      Some("""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY segment
      """.trim)),

    // LOCF forward fill (last observation carried forward): nulls injected
    // deterministically (event_id%7==0), then filled with the most recent
    // non-null same-user value via last_value(IGNORE NULLS) over preceding
    // rows — the time-series imputation staple, one shuffle on the key.
    Q(
      "q88_forward_fill",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("v_sparse",
            when(col("event_id") % 7 === 0, lit(null).cast("double"))
              .otherwise(col("value")))
          .withColumn("v_filled",
            last(col("v_sparse"), ignoreNulls = true).over(w))
          .select("event_id", "user_id", "v_sparse", "v_filled")
          .orderBy("event_id")
      },
      Some("""
        WITH sparse AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v_sparse
          FROM events
        )
        SELECT event_id, user_id, v_sparse,
               last_value(v_sparse IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM sparse ORDER BY event_id
      """.trim)),

    // Equi-DEPTH histogram (deciles): per-bucket row count and value range —
    // the quantile-bucketed complement of q59's fixed-width bins. A naive
    // ntile() is an UNPARTITIONED window (single-task funnel); here the
    // global rank comes from the two-phase range-partitioned form and the
    // ntile bucket-size rule ((n mod k) leading buckets one larger) is
    // applied as explicit integer math. Tie rows may swap ranks across runs,
    // but bucket SIZES are fixed and min/max depend only on the sorted
    // multiset, so the output is deterministic.
    Q(
      "q89_equidepth_hist",
      (s, dir) => {
        val v = Tables.events(s, dir).select(col("value"))
        val ranked = Keys.surrogateKeysScalable(v, "value", "rank")
        val total = v.agg(count(lit(1)).as("__n"))
        ranked.crossJoin(broadcast(total))
          .select(col("value"),
            Keys.ntileFromRank(col("rank"), col("__n"), 10).as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("value")).as("lo"), max(col("value")).as("hi"))
          .orderBy("bucket")
      },
      Some("""
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(value) AS lo, MAX(value) AS hi
        FROM (SELECT value,
                     CAST(ntile(10) OVER (ORDER BY value) AS INTEGER) AS bucket
              FROM events)
        GROUP BY bucket ORDER BY bucket
      """.trim)),

    // RFM segmentation: per-customer recency/frequency/monetary quartiles.
    // Single-task-free: each quartile label is ntile(4) over a TOTAL order
    // (metric DESC, custkey — the tie-break makes assignment deterministic
    // across engines), but the three naive unpartitioned ntile windows are
    // replaced by three two-phase global ranks (Keys.rankByScalable: range
    // partition + local sort + zipWithIndex) plus the explicit ntile bucket
    // rule (Keys.ntileFromRank) — the q89 machinery, per metric. Each rank
    // joins back to the customers-sized aggregate on the key; no task ever
    // sees more than one partition's worth of rows.
    Q(
      "q91_rfm_segments",
      (s, dir) => {
        val per = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("frequency"),
            Exact.sumD(col("o_totalprice")).as("monetary"))
        def rankOf(metric: String, name: String) =
          Keys.rankByScalable(per.select(col("o_custkey"), col(metric)),
              Seq(col(metric).desc, col("o_custkey")), name)
            .select(col("o_custkey"), col(name))
        val total = per.agg(count(lit(1)).as("__n"))
        per
          .join(rankOf("last_order", "__rr"), "o_custkey")
          .join(rankOf("frequency", "__fr"), "o_custkey")
          .join(rankOf("monetary", "__mr"), "o_custkey")
          .crossJoin(broadcast(total))
          .select(col("o_custkey"), col("frequency"), col("monetary"),
            Keys.ntileFromRank(col("__rr"), col("__n"), 4).as("r_q"),
            Keys.ntileFromRank(col("__fr"), col("__n"), 4).as("f_q"),
            Keys.ntileFromRank(col("__mr"), col("__n"), 4).as("m_q"))
          .withColumn("segment",
            concat(col("r_q").cast("string"), col("f_q").cast("string"),
              col("m_q").cast("string")))
          .orderBy("o_custkey")
      },
      Some("""
        WITH per AS (
          SELECT o_custkey,
                 MAX(o_orderdate) AS last_order,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS monetary
          FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, frequency, monetary,
               CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r_q,
               CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_q,
               CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_q,
               CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS VARCHAR)
                 || CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS VARCHAR)
                 || CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS VARCHAR)
                 AS segment
        FROM per ORDER BY o_custkey
      """.trim)),

    // Market-basket pair mining: parts co-ordered in the same order, pair
    // support counts, total-order top-20 — the pairwise frequent-itemset
    // sweep. Same never-all-pairs shape as the LSH candidates: the
    // self-join key is the order id, so pair blowup is bounded by
    // lines-per-order squared, not catalog size.
    Q(
      "q92_basket_pairs",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
        li.as("a")
          .join(li.as("b").hint("shuffle_hash"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      Some("""
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 ORDER BY support DESC, part_a, part_b LIMIT 20
      """.trim)),

    // Pareto / cumulative-share: customers ranked by revenue with their
    // running share of the total — "which customers are 80% of revenue".
    // The naive form is an unpartitioned running-sum window (single-task
    // funnel over the whole customer frame); here the running total rides
    // Keys.globalRunningSumBy — range-partition by (rev DESC, custkey),
    // per-partition totals, prefix offsets — over the revenue scaled to
    // exact cents (scale-2 decimal * 100 → long, associative-exact, no
    // double merge-order hazard). Share = one final double division of
    // exact integers, the cross-engine-safe reduction shape.
    Q(
      "q93_pareto_share",
      (s, dir) => {
        val rev = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(sum(col("o_totalprice").cast("decimal(24,2)")).as("__rev"))
          .withColumn("__cents", (col("__rev") * 100).cast("long"))
        val run = Keys.globalRunningSumBy(rev,
          Seq(col("__rev").desc, col("o_custkey")), "__cents", "__cum")
        run
          .crossJoin(broadcast(rev.agg(sum(col("__cents")).as("__total"))))
          .select(col("o_custkey"),
            col("__rev").cast("double").as("revenue"),
            (col("__cum").cast("double") / col("__total").cast("double"))
              .as("cum_share"))
          .orderBy(col("revenue").desc, col("o_custkey"))
      },
      Some("""
        WITH rev AS (
          SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS r,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) * 100 AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey
        ), t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM rev)
        SELECT o_custkey,
               CAST(r AS DOUBLE) AS revenue,
               CAST(SUM(cents) OVER (ORDER BY r DESC, o_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST((SELECT total FROM t) AS DOUBLE) AS cum_share
        FROM rev ORDER BY revenue DESC, o_custkey
      """.trim)),

    // FORWARD as-of join: each click enriched with the NEXT at-or-after
    // purchase of the same user — the q41 mirror completing the as-of
    // family (same union+window shape, first() over the following frame).
    Q(
      "q94_asof_forward",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id", "value")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("value").as("purchase_value"), col("event_id").as("purchase_id"))
        AsOfJoin.asofForward(clicks, purchases, key = "user_id",
            leftTime = "ts", rightTime = "ts", tieBreak = "event_id",
            rightVals = Seq("purchase_value", "purchase_id"))
          .orderBy("event_id")
      },
      Some("""
        WITH u AS (
          SELECT user_id AS k, ts AS t, 0 AS side, event_id AS tb,
                 event_id, ts, user_id, value,
                 CAST(NULL AS DOUBLE) AS pv, CAST(NULL AS BIGINT) AS pid
          FROM events WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, ts, 1, event_id,
                 NULL, NULL, NULL, NULL, value, event_id
          FROM events WHERE event_type = 'purchase'
        ), m AS (
          SELECT side, event_id, ts, user_id, value,
                 first_value(pv IGNORE NULLS) OVER w AS purchase_value,
                 first_value(pid IGNORE NULLS) OVER w AS purchase_id
          FROM u
          WINDOW w AS (PARTITION BY k ORDER BY t, side, tb
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_id, ts, user_id, value, purchase_value, purchase_id
        FROM m WHERE side = 0 ORDER BY event_id
      """.trim)),

    // Sweep-line concurrency: session boundaries become +1/-1 deltas on a
    // TOTAL integer order (micros*4 + delta code — ties of equal deltas
    // permute without changing any running value), the running sum is the
    // scalable two-phase prefix sum, and the per-day max is "peak
    // concurrent sessions observed at boundary instants".
    Q(
      "q95_concurrency",
      (s, dir) => {
        val sess = Events.sessionize(Tables.events(s, dir), gapSeconds = 1800L)
        val deltas = sess.select(col("session_start").as("ts"), lit(1L).as("delta"))
          .unionByName(sess.select(col("session_end").as("ts"), lit(-1L).as("delta")))
          .select(col("ts"), col("delta"),
            (unix_micros(col("ts")) * 4 + col("delta") + 1).as("k"))
        Keys.globalRunningSum(deltas, "k", "delta", "conc")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(max(col("conc")).as("peak_concurrency"),
            count(lit(1)).as("n_boundaries"))
          .orderBy("day")
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        ), sess AS (
          SELECT user_id, session_seq, MIN(ts) AS session_start, MAX(ts) AS session_end
          FROM sessioned GROUP BY user_id, session_seq
        ), deltas AS (
          SELECT session_start AS ts, CAST(1 AS BIGINT) AS delta,
                 epoch_us(session_start) * 4 + 2 AS k
          FROM sess
          UNION ALL
          SELECT session_end, -1, epoch_us(session_end) * 4 AS k FROM sess
        ), swept AS (
          SELECT ts, CAST(SUM(delta) OVER (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS conc
          FROM deltas
        )
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS day,
               CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
               CAST(COUNT(*) AS BIGINT) AS n_boundaries
        FROM swept GROUP BY 1 ORDER BY day
      """.trim)),

    // Inter-event latency distribution on power-of-two buckets: the log2
    // comes from the BINARY-STRING LENGTH of the whole-second gap (pure
    // integer — no libm log whose last-ulp differs across engines). The
    // standard latency-histogram shape: lag per key, bucket, count.
    Q(
      "q96_latency_dist",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .withColumn("__gap_s",
            floor((unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
              / lit(1000000L)).cast("long"))
          .filter(col("__gap_s").isNotNull)
          .withColumn("bucket", length(bin(col("__gap_s"))).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("__gap_s")).as("min_gap_s"), max(col("__gap_s")).as("max_gap_s"))
          .orderBy("bucket")
      },
      Some("""
        WITH gaps AS (
          SELECT CAST(floor((epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) / 1000000) AS BIGINT)
                 AS gap_s
          FROM events
        )
        SELECT CAST(length(bin(gap_s)) AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(gap_s) AS min_gap_s, MAX(gap_s) AS max_gap_s
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY 1 ORDER BY bucket
      """.trim)),

    // Sketch MERGE: per-day KMV k-min sets rolled up to the type level by
    // keeping the k smallest of the union — lossless for the top-k (any
    // hash among a type's k smallest is among its day's k smallest), so
    // the merged estimate EQUALS the direct type-level sketch. That
    // mergeability is what makes sketches work in partial aggregation /
    // incremental pipelines; the oracle computes the direct form.
    Q(
      "q98_kmv_merge",
      (s, dir) => {
        val k = 16
        val dayMins = Tables.events(s, dir)
          .select(date_trunc("day", col("ts")).as("day"), col("event_type"),
            graft.ext.TextHash.hash60(
              concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
          .distinct()
        val perDay = graft.plans.TopKPerKey.of(dayMins,
          keyCols = Seq("day", "event_type"), order = Seq("h" -> true), k = k)
        // merge: k smallest DISTINCT hashes of the union of day-level mins
        val merged = graft.plans.TopKPerKey.of(
          perDay.select(col("event_type"), col("h")).distinct(),
          keyCols = Seq("event_type"), order = Seq("h" -> true), k = k)
        merged.groupBy("event_type")
          .agg(count(lit(1)).as("n_seen"),
            max(when(col("rank") === k, col("h"))).as("__hk"))
          .select(col("event_type"), col("n_seen"),
            when(col("n_seen") < k, col("n_seen").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976L).cast("double")
                / col("__hk").cast("double")).as("approx_users"))
          .orderBy("event_type")
      },
      Some(s"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 ${graft.ext.TextHash.duckHash60("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
          FROM events
        ), r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ), a AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_seen,
                 MAX(CASE WHEN rn = 16 THEN h END) AS hk
          FROM r WHERE rn <= 16 GROUP BY event_type
        )
        SELECT event_type, n_seen,
               CASE WHEN n_seen < 16 THEN CAST(n_seen AS DOUBLE)
                    ELSE 15.0 * CAST(1152921504606846976 AS DOUBLE)
                         / CAST(hk AS DOUBLE) END AS approx_users
        FROM a ORDER BY event_type
      """.trim)),

    // Exact weighted mean: quantity-weighted average price per return flag
    // — decimal sum(w*x) over decimal sum(w), one double division at the
    // end (never a running double mean).
    Q(
      "q99_weighted_mean",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)")
            * col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,4)"))
            .as("__wx"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("__w"))
        .select(col("flag"),
          (col("__wx").cast("double") / col("__w").cast("double"))
            .as("weighted_avg_price"))
        .orderBy("flag"),
      Some("""
        SELECT l_returnflag AS flag,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                    AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS weighted_avg_price
        FROM lineitem GROUP BY l_returnflag ORDER BY flag
      """.trim)),

    // Winsorized statistics: clip each value at its group's p05/p95 (exact
    // rank-selected bounds, q69 machinery), then exact decimal sums of the
    // clipped column — the outlier-robust cleaning pass with
    // reproducible bounds.
    Q(
      "q100_winsorized_stats",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("value")
        val ranked = Tables.events(s, dir).select(col("event_type"), col("value"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        def pick(qp: Int) =
          max(when(col("rn") === floor((col("n") * qp + lit(99)) / lit(100)).cast("int"),
            col("value")))
        val bounds = ranked.groupBy("event_type")
          .agg(pick(5).as("p05"), pick(95).as("p95"))
        ranked.join(broadcast(bounds), Seq("event_type"))
          .select(col("event_type"),
            greatest(least(col("value"), col("p95")), col("p05")).as("__clipped"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            Exact.sumD(col("__clipped"), scale = 6).as("sum_winsorized"))
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), b AS (
          SELECT event_type,
                 MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END) AS p05,
                 MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95
          FROM r GROUP BY event_type
        )
        SELECT r.event_type AS event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(greatest(least(value, p95), p05) AS DECIMAL(24,6)))
                    AS DOUBLE) AS sum_winsorized
        FROM r JOIN b ON r.event_type = b.event_type
        GROUP BY r.event_type ORDER BY event_type
      """.trim)),

    // Z-order (Morton) clustering key: interleave the bits of two quantized
    // dimensions (hour bucket x user bucket) so that sorting/range-clustering
    // by the key co-locates rows close in BOTH dimensions — the multi-column
    // data-layout trick behind Delta/Iceberg Z-ORDER. Writing z-sorted files
    // (Sinks.writeRangeClustered on zkey) gives parquet footer min/max
    // stats that prune 2-D predicates, where a lexicographic sort prunes
    // only its leading column. Pure integer bit arithmetic — engine-exact.
    Q(
      "q103_zorder_key",
      (s, dir) => {
        val zbits = 10
        def interleave(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
          (0 until zbits).map { b =>
            shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b + 1) +
              shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b)
          }.reduce(_ + _)
        Tables.events(s, dir)
          .select(col("event_id"),
            expr("(unix_micros(ts) div 3600000000) % 1024").as("zx"),
            pmod(col("user_id"), lit(1024L)).as("zy"))
          .select(col("event_id"), col("zx"), col("zy"),
            interleave(col("zx"), col("zy")).as("zkey"))
          .orderBy("event_id")
      },
      Some {
        val zexpr = (0 until 10)
          .map(b => s"(((zx >> $b) & 1) << ${2 * b + 1}) + (((zy >> $b) & 1) << ${2 * b})")
          .mkString(" + ")
        s"""
        WITH b AS (
          SELECT event_id,
                 (epoch_us(ts) // 3600000000) % 1024 AS zx,
                 user_id % 1024 AS zy
          FROM events
        )
        SELECT event_id, zx, zy, CAST($zexpr AS BIGINT) AS zkey
        FROM b ORDER BY event_id
      """.trim
      }),

    // Keyed-upsert (MERGE) round-trip through the commit log: append the
    // base table, upsert a delta that UPDATES every key%5==0 row and would
    // INSERT unseen keys, read back. The oracle states the merge contract
    // directly with a CASE over the base — matched keys take the delta
    // row, everything else passes through (TxLog.upsert is also the merge
    // under the streaming exactly-once-per-key sink, X63).
    Q(
      "q109_upsert_roundtrip",
      (s, dir) => {
        val path = Scratch.dir(s, dir, "upsert_tgt")
        graft.engine.Scratch.rm(path)
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderstatus").as("status"),
          col("o_totalprice").cast("double").as("price"))
        TxLog.append(base, path)
        val delta = base.filter(col("o_orderkey") % 5 === 0)
          .withColumn("price", col("price") * 2)
          .withColumn("status", lit("U"))
        TxLog.upsert(s, path, delta, "o_orderkey")
        TxLog.read(s, path).orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN 'U' ELSE o_orderstatus END AS status,
               CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DOUBLE) * 2
                    ELSE CAST(o_totalprice AS DOUBLE) END AS price
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // PII detection + redaction: regex-extract counts and in-place masking
    // of synthesized contact strings (emails + phone fragments derived
    // deterministically from customer rows — the shared tables carry no real
    // PII). Map-side regexp work, the scrubbing pass every training-data
    // pipeline runs before release; patterns stay in the RE2-compatible
    // subset so both engines match identically.
    Q(
      "q110_pii_redact",
      (s, dir) => {
        val emailRe = "[a-z0-9#.]+@[a-z0-9.]+"
        val phoneRe = "\\+1-555-[0-9]{4}"
        val synth = concat(col("c_name"), lit(" <"), lower(col("c_name")),
          lit("@example.com> call +1-555-"),
          lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"))
        Tables.customer(s, dir)
          .select(col("c_custkey"), synth.as("__text"))
          .select(col("c_custkey"),
            size(regexp_extract_all(col("__text"), lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("__text"), lit(phoneRe), lit(0))).as("n_phones"),
            regexp_replace(
              regexp_replace(col("__text"), emailRe, "[EMAIL]"),
              phoneRe, "[PHONE]").as("redacted"))
          .orderBy("c_custkey")
      },
      Some("""
        WITH t AS (
          SELECT c_custkey,
                 c_name || ' <' || lower(c_name) || '@example.com> call +1-555-'
                   || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS txt
          FROM customer
        )
        SELECT c_custkey,
               CAST(len(regexp_extract_all(txt, '[a-z0-9#.]+@[a-z0-9.]+')) AS INTEGER)
                 AS n_emails,
               CAST(len(regexp_extract_all(txt, '\+1-555-[0-9]{4}')) AS INTEGER)
                 AS n_phones,
               regexp_replace(
                 regexp_replace(txt, '[a-z0-9#.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
                 '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted
        FROM t ORDER BY c_custkey
      """.trim)),

    // Wide-to-long unpivot (Dataset.unpivot, the melt/stack surface): per-
    // status order metrics pivoted into (metric, value) rows. The aggregate
    // runs ONCE and the unpivot is a pure projection+Expand on top — no
    // second scan, unlike the UNION-ALL-of-subqueries formulation the oracle
    // states it against.
    Q(
      "q111_unpivot",
      (s, dir) => Tables.orders(s, dir).groupBy("o_orderstatus")
        .agg(
          count(lit(1)).cast("double").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"),
          max(col("o_totalprice")).cast("double").as("max_price"))
        .unpivot(
          Array(col("o_orderstatus")),
          Array(col("n_orders"), col("total_price"), col("max_price")),
          "metric", "value")
        .orderBy("o_orderstatus", "metric"),
      Some("""
        WITH w AS (
          SELECT o_orderstatus,
                 CAST(COUNT(*) AS DOUBLE) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                 CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
          FROM orders GROUP BY o_orderstatus
        )
        SELECT o_orderstatus, metric, value FROM (
          SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM w
          UNION ALL SELECT o_orderstatus, 'total_price', total_price FROM w
          UNION ALL SELECT o_orderstatus, 'max_price', max_price FROM w
        ) ORDER BY o_orderstatus, metric
      """.trim)),

    // MapType surface: props parsed as map<string,int> (schema'd from_json,
    // not per-path string extraction), entries exploded to (key, value) rows
    // and rolled up per key. Same explicit spread as q38 — the JSON parse is
    // CPU-heavy map work on a byte-light input.
    Q(
      "q112_map_props",
      (s, dir) => Tables.events(s, dir)
        .filter(col("props").isNotNull)
        .repartition(s.sessionState.conf.numShufflePartitions, col("event_id"))
        .select(col("event_id"),
          explode(from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType))))
        .groupBy("key")
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_v"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"))
        .orderBy("key"),
      Some("""
        SELECT 'k' AS key, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_v,
               CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_v,
               CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_v
        FROM events WHERE props IS NOT NULL
        GROUP BY 1 ORDER BY key
      """.trim)),

    // Calendar-arithmetic surface beyond q09's attribute extraction:
    // add_months (end-of-month clamped in both engines), date_add, datediff,
    // last_day, and quarter truncation — all integer/date-exact, pure
    // map-side projection.
    Q(
      "q115_date_arith",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
        .select(col("o_orderkey"), col("d"),
          add_months(col("d"), 3).as("plus3m"),
          date_add(col("d"), 30).as("plus30d"),
          datediff(col("d"), lit("1995-01-01").cast("date")).as("days_since"),
          last_day(col("d")).as("eom"),
          date_trunc("quarter", col("d")).cast("date").as("qtr_start"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
               CAST(o_orderdate AS DATE) + 30 AS plus30d,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
                 AS days_since,
               last_day(CAST(o_orderdate AS DATE)) AS eom,
               CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // String-function surface on part names: pad/substring/translate/
    // position/repeat/reverse — the formatting+normalization toolkit beyond
    // q03's regexp cleaning. All byte-deterministic over ASCII inputs.
    Q(
      "q116_string_funcs",
      (s, dir) => Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"))
        .select(col("p_partkey"),
          lpad(col("p_name"), 30, "*").as("padded"),
          substring(col("p_name"), 1, 5).as("head5"),
          translate(col("p_name"), "aeiou", "#####").as("devoweled"),
          instr(col("p_name"), "a").cast("int").as("first_a"),
          repeat(substring(col("p_name"), 1, 2), 3).as("rep2x3"),
          reverse(col("p_name")).as("rev"),
          ascii(col("p_name")).cast("int").as("lead_byte"))
        .orderBy("p_partkey"),
      Some("""
        SELECT p_partkey,
               lpad(p_name, 30, '*') AS padded,
               substr(p_name, 1, 5) AS head5,
               translate(p_name, 'aeiou', '#####') AS devoweled,
               CAST(instr(p_name, 'a') AS INTEGER) AS first_a,
               repeat(substr(p_name, 1, 2), 3) AS rep2x3,
               reverse(p_name) AS rev,
               CAST(ascii(p_name) AS INTEGER) AS lead_byte
        FROM part ORDER BY p_partkey
      """.trim)),

    // Batch session_window API (the native Spark session primitive, distinct
    // from q19's lag/cumsum formulation and q84's typed walk): gap-merged
    // event-time sessions per user in ONE groupBy — no window-function pass.
    // Semantics: a new session starts when the gap is >= 30 min (session
    // windows are half-open [ts, ts+gap)); session end = last event + gap.
    // The oracle restates that rule via lag/cumsum.
    Q(
      "q120_session_window_api",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(
          count(lit(1)).as("n_events"),
          Exact.sumD(col("value"), 6).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts, value,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM sessioned GROUP BY user_id, sid
        ORDER BY user_id, session_start
      """.trim)),

    // Structured Streaming THROUGH the correctness gate (the streaming ops
    // are otherwise spec-only): file-stream source -> stateful hourly
    // aggregation -> update-mode foreachBatch keyed-upsert sink
    // (Trigger.AvailableNow), read back, compare against the batch oracle.
    // Update mode re-emits a key's current aggregate whenever a batch touches
    // it and the upsert keeps the LAST emission per key, so the final on-disk
    // state equals the complete aggregate no matter how the source files
    // split into micro-batches — the determinism argument that makes a
    // streaming query oracle-checkable at all.
    Q(
      "q121_stream_rollup_gate",
      (s, dir) => {
        val base = Scratch.dir(s, dir, "stream_gate")
        graft.engine.Scratch.rm(base); graft.engine.Scratch.rm(base + "_ckpt")
        val agg = graft.streaming.EventStreams.streamingEvents(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 6).as("sum_value"))
          .select(col("window.start").as("bucket"), col("event_type"),
            col("n_events"), col("sum_value"))
          .withColumn("__key",
            concat(col("bucket").cast("string"), lit("|"), col("event_type")))
        graft.streaming.EventStreams.runDrained(s)(
          agg.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              TxLog.upsert(b.sparkSession, base, b, "__key"): Unit
            }
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("update")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        TxLog.read(s, base).drop("__key").orderBy("bucket", "event_type")
      },
      Some("""
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
      """.trim)),

    // Ranking-metric window functions beyond q14/q46: percent_rank and
    // cume_dist (exact integer-ratio doubles), ntile, and nth_value under
    // the ANSI default peers frame — identical formulas in both engines once
    // the order is total.
    Q(
      "q122_rank_metrics",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderstatus")
          .orderBy(col("price"), col("o_orderkey"))
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("price"))
          .withColumn("pct_rank", percent_rank().over(w))
          .withColumn("cume", cume_dist().over(w))
          .withColumn("bucket7", ntile(7).over(w))
          .withColumn("second_price", nth_value(col("price"), 2).over(w))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               CAST(ntile(7) OVER w AS INTEGER) AS bucket7,
               nth_value(CAST(o_totalprice AS DOUBLE), 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey)
        ORDER BY o_orderkey
      """.trim)),

    // Bitmap exact-distinct rollup (the Spark 3.5+ bitmap surface): per-day
    // user bitmaps in fixed 32k-bit buckets (bitmap_construct_agg), merged
    // LOSSLESSLY to event_type level with bitmap_or_agg — q98's KMV rollup
    // shape but EXACT: re-aggregating stored bitmaps replaces a full rescan,
    // and sum(bitmap_count) over the merged buckets equals the direct
    // COUNT(DISTINCT). Bucket cardinality is ceil(id_range/32768) — data-
    // independent of row count, so merge state stays small and mergeable.
    Q(
      "q123_bitmap_distinct",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
          .withColumn("bucket", expr("bitmap_bucket_number(user_id)"))
          .withColumn("pos", expr("bitmap_bit_position(user_id)"))
          .groupBy("event_type", "day", "bucket")
          .agg(expr("bitmap_construct_agg(pos)").as("bmp"))
        val perDay = daily
          .groupBy("event_type", "day")
          .agg(sum(expr("bitmap_count(bmp)")).as("daily_users"))
          .groupBy("event_type")
          .agg(sum("daily_users").as("sum_daily_distinct"),
            count(lit(1)).as("n_days"))
        val merged = daily
          .groupBy("event_type", "bucket")
          .agg(expr("bitmap_or_agg(bmp)").as("bmp"))
          .groupBy("event_type")
          .agg(sum(expr("bitmap_count(bmp)")).as("distinct_users"))
        perDay.join(merged, Seq("event_type")).orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 COUNT(DISTINCT user_id) AS daily_users
          FROM events GROUP BY 1, 2
        )
        SELECT d.event_type,
               CAST(SUM(d.daily_users) AS BIGINT) AS sum_daily_distinct,
               COUNT(*) AS n_days,
               m.distinct_users
        FROM daily d
        JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
              FROM events GROUP BY 1) m USING (event_type)
        GROUP BY d.event_type, m.distinct_users
        ORDER BY d.event_type
      """.trim)),

    // Partition-checksum table fingerprint (anti-entropy audit): every row
    // renders through a PINNED string format and hashes; 32 hash buckets
    // aggregate a (count, XOR, modular-sum) signature triple. Comparing 32
    // tiny rows decides table equality after a migration/backfill WITHOUT
    // moving either copy — the 100 TB replication check. Pure map-side hash
    // into one constant-size aggregate; the mod-2^31 term keeps the bigint
    // sum overflow-free to 2^33 rows per bucket.
    Q(
      "q126_table_checksum",
      (s, dir) => {
        val rowSig = graft.ext.TextHash.hash60(concat_ws("|",
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
          col("o_orderpriority")))
        Tables.orders(s, dir)
          .withColumn("sig", rowSig)
          .withColumn("bucket",
            pmod(graft.ext.TextHash.hash60(col("o_orderkey").cast("string")), lit(32L)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(sig)").as("xor_sig"),
            sum(col("sig") % 2147483647L).as("sum_sig"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH sigs AS (
          SELECT ${graft.ext.TextHash.duckHash60("CAST(o_orderkey AS VARCHAR)")} % 32 AS bucket,
                 ${graft.ext.TextHash.duckHash60(
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR) || '|' || " +
          "o_orderstatus || '|' || strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' || " +
          "o_orderpriority")} AS sig
          FROM orders
        )
        SELECT bucket, COUNT(*) AS n_rows, bit_xor(sig) AS xor_sig,
               CAST(SUM(sig % 2147483647) AS BIGINT) AS sum_sig
        FROM sigs GROUP BY bucket ORDER BY bucket
      """.trim)),

    // Activity-streak islands (gaps-and-islands): consecutive-day runs per
    // user via the classic dayNumber - row_number constant-group trick — one
    // keyed shuffle, no self-join, no per-user sequence generation. The run
    // key is pure integer arithmetic, so both engines group identically.
    Q(
      "q127_activity_streaks",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")
        Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
          .withColumn("grp",
            datediff(col("day"), lit("1970-01-01").cast("date"))
              - row_number().over(w))
          .groupBy("user_id", "grp")
          .agg(min("day").as("streak_start"), count(lit(1)).as("streak_len"))
          .filter(col("streak_len") >= 3)
          .select("user_id", "streak_start", "streak_len")
          .orderBy("user_id", "streak_start")
      },
      Some("""
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), runs AS (
          SELECT user_id, day,
                 CAST(day - DATE '1970-01-01' AS BIGINT)
                   - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
          FROM days
        )
        SELECT user_id, MIN(day) AS streak_start, COUNT(*) AS streak_len
        FROM runs GROUP BY user_id, grp
        HAVING COUNT(*) >= 3
        ORDER BY user_id, streak_start
      """.trim)),

    // Ordered-aggregate surface (count_if / bool_and / bool_or / max_by /
    // min_by): argmax-per-group WITHOUT a window pass — one hash aggregate
    // instead of shuffle+sort+filter. The ordering key is made collision-
    // free by exact decimal arithmetic: value*10^25 steps adjacent value
    // levels (>= 10^-6 apart) by 10^19 > Long.MaxValue, so the invariant is
    // DATA-INDEPENDENT — no event_id domain can make two rows share ord —
    // and both engines pick the same extreme row even on duplicate values.
    Q(
      "q129_agg_surface",
      (s, dir) => Tables.events(s, dir)
        .withColumn("ord",
          col("value").cast("decimal(10,6)")
            * lit(new java.math.BigDecimal("10000000000000000000000000"))
            + col("event_id"))
        .groupBy("event_type")
        .agg(
          expr("count_if(value > 50.0)").as("n_high"),
          expr("bool_and(value >= 0.0)").as("all_nonneg"),
          expr("bool_or(value > 550.0)").as("any_extreme"),
          expr("max_by(event_id, ord)").as("peak_event"),
          expr("min_by(event_id, ord)").as("trough_event"))
        .orderBy("event_type"),
      Some("""
        SELECT event_type,
               CAST(count_if(value > 50.0) AS BIGINT) AS n_high,
               bool_and(value >= 0.0) AS all_nonneg,
               bool_or(value > 550.0) AS any_extreme,
               arg_max(event_id, CAST(value AS DECIMAL(10,6))
                 * CAST('10000000000000000000000000' AS DECIMAL(26,0)) + event_id)
                 AS peak_event,
               arg_min(event_id, CAST(value AS DECIMAL(10,6))
                 * CAST('10000000000000000000000000' AS DECIMAL(26,0)) + event_id)
                 AS trough_event
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Null-ordering top-k: DESC NULLS LAST under a LIMIT — the plan must
    // stay TakeOrderedAndProject (per-partition heap + driver merge, no
    // global sort), and the null placement must agree across engines (Spark
    // default for DESC is NULLS LAST; DuckDB's is NULLS LAST only since
    // 0.9's default flip, so the oracle pins it explicitly).
    Q(
      "q130_nulls_order_topk",
      (s, dir) => Tables.customer(s, dir)
        .withColumn("score",
          when(col("c_custkey") % 7 === 0, lit(null).cast("double"))
            .otherwise(col("c_acctbal")))
        .orderBy(col("score").desc_nulls_last, col("c_custkey").asc)
        .limit(20)
        .select("c_custkey", "score"),
      Some("""
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS score
        FROM customer
        ORDER BY score DESC NULLS LAST, c_custkey
        LIMIT 20
      """.trim)),

    // Streaming exact dedup THROUGH the correctness gate (q121's pattern for
    // the dedup operator): file-stream source -> watermark-bounded
    // dropDuplicatesWithinWatermark -> keyed-upsert sink. Re-emissions of a
    // key whose dedup state was evicted past the watermark still collapse in
    // the upsert (last write per key), so the final on-disk table is the
    // exact distinct key set no matter how the source splits into batches.
    Q(
      "q131_stream_dedup_gate",
      (s, dir) => {
        val base = Scratch.dir(s, dir, "stream_dedup")
        graft.engine.Scratch.rm(base); graft.engine.Scratch.rm(base + "_ckpt")
        val deduped = graft.streaming.EventStreams.dedupStream(
            graft.streaming.EventStreams.streamingEvents(s, dir),
            Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"))
          .withColumn("__key",
            concat(col("user_id").cast("string"), lit("|"), col("event_type")))
        graft.streaming.EventStreams.runDrained(s)(
          deduped.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              TxLog.upsert(b.sparkSession, base, b, "__key"): Unit
            }
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        TxLog.read(s, base).drop("__key").orderBy("user_id", "event_type")
      },
      Some("""
        SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type
      """.trim)),

    // Reporting-grid completeness: CROSS JOIN of two small distinct
    // dimensions left-joined against the fact rollup with zero fill — the
    // "every cell present" contract dashboards need. The cross join is
    // bounded (|status| x |priority|), exactly the case where a cartesian
    // product is legitimate; the fact side still aggregates BEFORE joining.
    Q(
      "q132_cross_join_grid",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val counts = o.groupBy("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
        o.select("o_orderstatus").distinct()
          .crossJoin(o.select("o_orderpriority").distinct())
          .join(counts, Seq("o_orderstatus", "o_orderpriority"), "left")
          .na.fill(0L, Seq("n"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      Some("""
        SELECT s.o_orderstatus, p.o_orderpriority, COALESCE(c.n, 0) AS n
        FROM (SELECT DISTINCT o_orderstatus FROM orders) s
        CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
        LEFT JOIN (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
                   FROM orders GROUP BY 1, 2) c
          USING (o_orderstatus, o_orderpriority)
        ORDER BY s.o_orderstatus, p.o_orderpriority
      """.trim)),

    // String-predicate surface: LIKE / ILIKE / RLIKE plus the function forms
    // (startswith / endswith / contains), counted in ONE aggregate pass.
    // The regex stays in the RE2-compatible subset so both engines match
    // identical rows.
    Q(
      "q133_string_predicates",
      (s, dir) => Tables.part(s, dir)
        .agg(
          expr("count_if(p_name LIKE '%al%')").as("n_like"),
          expr("count_if(p_name ILIKE 'A%')").as("n_ilike"),
          expr("count_if(p_name RLIKE '^[a-z]+ [a-z]+$')").as("n_rlike"),
          expr("count_if(startswith(p_name, 'b'))").as("n_starts"),
          expr("count_if(endswith(p_name, 'e'))").as("n_ends"),
          expr("count_if(contains(p_name, 'ol'))").as("n_contains")),
      Some("""
        SELECT CAST(count_if(p_name LIKE '%al%') AS BIGINT) AS n_like,
               CAST(count_if(p_name ILIKE 'A%') AS BIGINT) AS n_ilike,
               CAST(count_if(regexp_matches(p_name, '^[a-z]+ [a-z]+$')) AS BIGINT) AS n_rlike,
               CAST(count_if(starts_with(p_name, 'b')) AS BIGINT) AS n_starts,
               CAST(count_if(ends_with(p_name, 'e')) AS BIGINT) AS n_ends,
               CAST(count_if(contains(p_name, 'ol')) AS BIGINT) AS n_contains
        FROM part
      """.trim)),

    // Conditional-expression surface: nullif / nvl / nvl2 / least / greatest
    // over a derived nullable column. All comparisons are on values both
    // engines read identically from parquet, so the conditionals are exact.
    Q(
      "q134_conditional_surface",
      (s, dir) => Tables.customer(s, dir)
        .withColumn("seg", nullif(col("c_mktsegment"), lit("BUILDING")))
        .select(col("c_custkey"), col("seg"),
          expr("nvl(seg, 'none')").as("seg_filled"),
          expr("nvl2(seg, 'kept', 'suppressed')").as("seg_tag"),
          least(col("c_acctbal"), lit(0.0)).as("neg_part"),
          greatest(col("c_acctbal"), lit(0.0)).as("pos_part"))
        .orderBy("c_custkey"),
      Some("""
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg,
               ifnull(nullif(c_mktsegment, 'BUILDING'), 'none') AS seg_filled,
               CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                    THEN 'kept' ELSE 'suppressed' END AS seg_tag,
               least(c_acctbal, 0.0) AS neg_part,
               greatest(c_acctbal, 0.0) AS pos_part
        FROM customer ORDER BY c_custkey
      """.trim)),

    // Error-tolerant arithmetic (try_*): division by zero, an impossible
    // cast, and an out-of-range array index all yield NULL instead of
    // failing the job — the semantics a 100 TB load needs (one bad row must
    // not kill the stage; quarantine, don't crash). DuckDB states the same
    // contract via TRY_CAST / CASE / native out-of-range list access.
    Q(
      "q135_try_arithmetic",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("try_divide(o_totalprice, CAST(o_custkey % 10 AS DOUBLE))").as("per_digit"),
          expr("try_cast(o_orderstatus AS INT)").as("bad_int"),
          // index in {2,3,4}: 2 resolves, 3/4 are out of range -> NULL.
          // (try_element_at nulls out-of-RANGE but still rejects index 0 as
          // an invalid argument, so the modulus is shifted off zero.)
          expr("try_element_at(array(o_orderstatus, o_orderpriority), CAST(o_custkey % 3 AS INT) + 2)")
            .as("elem"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               CASE WHEN o_custkey % 10 = 0 THEN NULL
                    ELSE o_totalprice / CAST(o_custkey % 10 AS DOUBLE) END AS per_digit,
               TRY_CAST(o_orderstatus AS INTEGER) AS bad_int,
               ([o_orderstatus, o_orderpriority])[CAST(o_custkey % 3 AS INTEGER) + 2] AS elem
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // Typed Aggregator THROUGH the oracle gate: QtyStatsAggregator keeps a
    // pure-integer (count, sum) buffer, so the programmatic
    // KeyValueGroupedDataset.agg path is bit-exact under ANY merge order —
    // the one double division happens at finish. (The vector companion is
    // q399's QuantizedCentroidAggregator, same fixed-point discipline.)
    Q(
      "q137_typed_agg_gate",
      (s, dir) => {
        import s.implicits._
        val agg = new graft.functions.QtyStatsAggregator().toColumn
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(agg.name("stats"))
          .select(col("key").as("l_returnflag"),
            col("stats._1").as("n"), col("stats._2").as("sum_qty"),
            col("stats._3").as("avg_qty"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
      """.trim)),

    // Equi-WIDTH histogram (the fixed-bucket complement of q89's equi-depth
    // deciles): global min/max as a constant-size stats frame broadcast onto
    // the scan, bucket = floor((x-min)/width) clamped to the last bucket.
    // Two passes total, both map-side-combined — the shape that holds at
    // 100 TB because the stats side never grows. Bucket arithmetic is one
    // IEEE double division + floor, identical in both engines.
    Q(
      "q138_equiwidth_histogram",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val stats = o.agg(min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        o.crossJoin(broadcast(stats))
          .withColumn("bucket",
            least(floor((col("o_totalprice") - col("mn"))
              / ((col("mx") - col("mn")) / lit(10.0))).cast("int"), lit(9)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            Exact.sumD(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("bucket")
      },
      Some("""
        WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
        SELECT CAST(LEAST(CAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 10.0)) AS INTEGER), 9)
                 AS INTEGER) AS bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_price
        FROM orders, s
        GROUP BY 1 ORDER BY bucket
      """.trim)),

    // json_tuple generator: multi-field JSON extraction in ONE parse per row
    // (vs one get_json_object parse per field, q38) through the Hive-compat
    // generator surface; absent keys yield NULL columns, not errors.
    Q(
      "q139_json_tuple",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("v_events_jt")
        s.sql("""
          SELECT event_type,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(j.k AS INT)) AS BIGINT) AS sum_k,
                 CAST(count_if(j.absent IS NULL) AS BIGINT) AS n_missing
          FROM v_events_jt
          LATERAL VIEW json_tuple(props, 'k', 'nope') j AS k, absent
          GROUP BY event_type
          ORDER BY event_type
        """)
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(count_if(props->>'nope' IS NULL) AS BIGINT) AS n_missing
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // ORC sink/source round-trip (q05's contract through the second columnar
    // format): write ORC, clear the file-index cache, read back, aggregate.
    // Same footer-statistics scan story as Parquet — the migration-path
    // format coverage a warehouse switch needs.
    Q(
      "q144_orc_roundtrip",
      (s, dir) => {
        val scratch = Scratch.dir(s, dir, "orc_rt")
        Sinks.writeOrc(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"), scratch)
        s.catalog.clearCache()
        s.read.orc(scratch)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), Exact.sumD(col("o_totalprice"), 2).as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY 1 ORDER BY 1
      """.trim)),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): two rollups of
    // the same nullable segment key join WITHOUT dropping the NULL group —
    // the semantics an outer-source reconciliation needs (plain `=` silently
    // loses the null bucket).
    Q(
      "q146_nullsafe_join",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .withColumn("seg", nullif(col("o_orderstatus"), lit("P")))
        val l = o.groupBy("seg").agg(count(lit(1)).as("n_orders"))
        val r = o.groupBy("seg").agg(Exact.sumD(col("o_totalprice"), 2).as("sum_price"))
        l.join(r, l("seg") <=> r("seg"))
          .select(l("seg"), col("n_orders"), col("sum_price"))
          .orderBy(col("seg").asc_nulls_first)
      },
      Some("""
        WITH o AS (SELECT nullif(o_orderstatus, 'P') AS seg, o_totalprice FROM orders),
        l AS (SELECT seg, COUNT(*) AS n_orders FROM o GROUP BY seg),
        r AS (SELECT seg, CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE)
                     AS sum_price FROM o GROUP BY seg)
        SELECT l.seg, l.n_orders, r.sum_price
        FROM l JOIN r ON l.seg IS NOT DISTINCT FROM r.seg
        ORDER BY l.seg NULLS FIRST
      """.trim)),

    // Hidden _metadata columns (the lake-ops file audit): per-source-file row
    // counts without input_file_name()'s whole-string nondeterminism — the
    // filename leaf is stable ('orders.parquet'), so the manifest rollup is
    // oracle-checkable. At scale this is the "which files feed this
    // partition" lineage query run before compaction.
    Q(
      "q147_file_metadata",
      (s, dir) => Tables.orders(s, dir)
        .select(col("_metadata.file_name").as("file_name"), col("o_orderkey"))
        .groupBy("file_name")
        .agg(count(lit(1)).as("n_rows"), max("o_orderkey").as("max_key"))
        .orderBy("file_name"),
      Some("""
        SELECT 'orders.parquet' AS file_name, COUNT(*) AS n_rows,
               MAX(o_orderkey) AS max_key
        FROM orders
      """.trim)),

    // Window-surface completion: lag/lead WITH explicit defaults (no NULL
    // head/tail), first_value/last_value under an explicit running frame —
    // the per-key time-series deltas a feature pipeline computes. Values are
    // parquet doubles compared, never re-accumulated, so the frame semantics
    // are the only thing under test.
    Q(
      "q148_window_defaults",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val run = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .withColumn("prev_value", lag(col("value"), 1, -1.0).over(w))
          .withColumn("next_value", lead(col("value"), 1, -1.0).over(w))
          .withColumn("first_seen", first(col("value")).over(run))
          .withColumn("running_last", last(col("value")).over(run))
          .drop("ts")
          .orderBy("user_id", "event_id")
      },
      Some("""
        SELECT user_id, event_id, value,
               COALESCE(lag(value) OVER w, -1.0) AS prev_value,
               COALESCE(lead(value) OVER w, -1.0) AS next_value,
               first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS first_seen,
               last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS running_last
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, event_id
      """.trim)),

    // Benford-style leading-digit audit (fraud/data-quality screening): the
    // distribution of first significant digits of the order totals, with
    // share-of-total. Digit extraction goes through integer floor + string
    // head, never double rendering, so both engines bucket identically; the
    // share is one division of exact counts.
    Q(
      "q149_benford_digits",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .as("digit"))
        val counts = o.groupBy("digit").agg(count(lit(1)).as("n"))
        counts.crossJoin(broadcast(counts.agg(sum("n").as("total"))))
          .select(col("digit"), col("n"),
            (col("n").cast("double") / col("total").cast("double")).as("share"))
          .orderBy("digit")
      },
      Some("""
        WITH d AS (
          SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
          FROM orders
        ), c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit)
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST((SELECT SUM(n) FROM c) AS DOUBLE) AS share
        FROM c ORDER BY digit
      """.trim)),

    // Median absolute deviation (robust dispersion): discrete median via
    // q69's integer rank selection, |value - median| re-ranked the same way.
    // Both medians are ACTUAL data points and the deviation is one exact
    // double subtraction, so MAD is hash-exact — the outlier scale estimate
    // sigma-based z-scores (q78) can't provide on heavy tails.
    Q(
      "q150_mad_robust",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        def discMedian(df: org.apache.spark.sql.DataFrame, valueCol: String,
            outName: String) = {
          val w = Window.partitionBy("event_type").orderBy(valueCol)
          df.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
            .groupBy("event_type")
            .agg(max(when(col("rn") === floor((col("n") * 50 + lit(99)) / lit(100)).cast("int"),
              col(valueCol))).as(outName))
        }
        val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
        val med = discMedian(ev, "value", "med")
        val dev = ev.join(broadcast(med), Seq("event_type"))
          .withColumn("dev", abs(col("value") - col("med")))
        discMedian(dev.select(col("event_type"), col("dev")), "dev", "mad")
          .join(med, Seq("event_type"))
          .select("event_type", "med", "mad")
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events
        ), med AS (
          SELECT event_type, MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS med
          FROM r GROUP BY event_type
        ), dv AS (
          SELECT e.event_type, abs(e.value - m.med) AS dev
          FROM events e JOIN med m USING (event_type)
        ), r2 AS (
          SELECT event_type, dev,
                 row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM dv
        )
        SELECT r2.event_type,
               MAX(m.med) AS med,
               MAX(CASE WHEN r2.rn = (r2.n * 50 + 99) // 100 THEN r2.dev END) AS mad
        FROM r2 JOIN med m USING (event_type)
        GROUP BY r2.event_type ORDER BY r2.event_type
      """.trim)),

    // Calendar surface 2 (q115's companion): strictly-after next_day, ISO
    // weekofyear, dayofyear, Monday-anchored week truncation — the oracle
    // restates next_day as isodow arithmetic.
    Q(
      "q151_calendar2",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"))
        .select(col("o_orderkey"), col("d"),
          next_day(col("d"), "Monday").as("next_monday"),
          weekofyear(col("d")).as("iso_week"),
          dayofyear(col("d")).as("doy"),
          trunc(col("d"), "week").as("week_start"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
               CAST(o_orderdate AS DATE)
                 + CAST(CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
                             ELSE (8 - isodow(o_orderdate)) % 7 END AS INTEGER)
                 AS next_monday,
               CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
               CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // Bit-manipulation surface: shifts, masks, xor, popcount over integer
    // keys — the arithmetic under the Z-order/SimHash operators exposed as
    // first-class functions.
    Q(
      "q152_bit_ops",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("shiftleft(o_orderkey, 3)").as("shl3"),
          expr("shiftright(o_orderkey, 2)").as("shr2"),
          expr("o_orderkey & 255").as("low_byte"),
          expr("o_orderkey | 1").as("set_lsb"),
          expr("o_orderkey ^ o_custkey").as("xor_cust"),
          expr("bit_count(o_orderkey)").cast("int").as("popcount"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               o_orderkey << 3 AS shl3,
               o_orderkey >> 2 AS shr2,
               o_orderkey & 255 AS low_byte,
               o_orderkey | 1 AS set_lsb,
               xor(o_orderkey, o_custkey) AS xor_cust,
               CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // Stream-static enrichment THROUGH the gate (X62 was spec-only): the
    // event stream broadcast-joins a static dimension per micro-batch, lands
    // in an append-mode parquet FILE SINK (exactly-once via the sink's
    // transaction log, no upsert needed — the join is stateless), and the
    // read-back rollup must equal the batch join. Third streaming query
    // through the oracle, covering the third sink shape.
    Q(
      "q153_stream_enrich_gate",
      (s, dir) => {
        val base = Scratch.dir(s, dir, "stream_enrich")
        graft.engine.Scratch.rm(base); graft.engine.Scratch.rm(base + "_ckpt")
        val dim = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
        val enriched = graft.streaming.EventStreams.enrichStream(
          graft.streaming.EventStreams.streamingEvents(s, dir)
            .withColumn("n_nationkey", col("user_id") % 25),
          dim, "n_nationkey")
        graft.streaming.EventStreams.runDrained(s)(
          enriched.select(col("n_name"), col("value"))
            .writeStream
            .format("parquet")
            .option("path", base)
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        Sources.parquet(s, base)
          .groupBy("n_name")
          .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value"), 6).as("sum_value"))
          .orderBy("n_name")
      },
      Some("""
        SELECT n.n_name, COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        GROUP BY n.n_name ORDER BY n.n_name
      """.trim)),

    // Typed Dataset transforms (map/filter over tuple encoders): the
    // object-deserialization path a programmatic pipeline takes when lambda
    // logic won't express as Columns. Deliberately mixes a typed filter and
    // a typed projection before returning to relational aggregation — the
    // boundary (Serialize/DeserializeToObject) is the operator under test;
    // the arithmetic inside (one IEEE division + floor) stays engine-exact.
    Q(
      "q154_typed_transforms",
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .as[(Long, String, Double)]
          .filter(t => t._2 != "P")
          .map(t => (t._2, math.floor(t._3 / 1000.0).toLong))
          .toDF("status", "kbucket")
          .groupBy("status", "kbucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("status", "kbucket")
      },
      Some("""
        SELECT o_orderstatus AS status,
               CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS kbucket,
               COUNT(*) AS n
        FROM orders WHERE o_orderstatus <> 'P'
        GROUP BY 1, 2 ORDER BY status, kbucket
      """.trim)),

    // VARIANT semi-structured type (Spark 4 native): parse once into the
    // binary variant encoding, extract typed paths with variant_get /
    // try_variant_get (absent path -> NULL, not error) — the open-schema
    // ingestion answer to q38's per-field JSON string parsing.
    Q(
      "q159_variant_extract",
      (s, dir) => Tables.events(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions, col("event_id"))
        .select(col("event_type"), expr("parse_json(props)").as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("try_variant_get(v, '$.missing', 'int')").as("missing"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          expr("count_if(missing IS NULL)").as("n_missing"))
        .orderBy("event_type"),
      Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(count_if(props->>'missing' IS NULL) AS BIGINT) AS n_missing
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // listagg WITHIN GROUP (Spark 4 / ANSI ordered string aggregation):
    // deterministic because the order clause is total; DISTINCT bounds the
    // string length by the value domain, not the row count.
    Q(
      "q160_listagg",
      (s, dir) => Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          expr("listagg(DISTINCT o_orderstatus, '|') WITHIN GROUP (ORDER BY o_orderstatus)")
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""
        SELECT o_orderpriority,
               string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) AS statuses,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Point-in-time validity join (feature-store correctness): each event
    // joins the SCD2-style dimension VERSION that was valid at the event's
    // own timestamp (start <= ts < end) — never the current one, never a
    // leaked future one. Plan shape: equi join on the key carries the
    // shuffle; the interval predicate is a post-join filter, so this scales
    // exactly like any keyed join (no range machinery needed when versions
    // per key are few). Completes the as-of family (q41/q94: nearest-event;
    // here: interval membership against a versioned dim).
    Q(
      "q161_pit_join",
      (s, dir) => {
        val cut = lit("2020-07-01 00:00:00").cast("timestamp")
        val base = Tables.customer(s, dir).select(
          col("c_custkey"), col("c_mktsegment").as("seg"))
        val v1 = base
          .withColumn("bal_tier", lit("old"))
          .withColumn("start_dt", lit(TsHist).cast("timestamp"))
          .withColumn("end_dt", cut)
        val v2 = base
          .withColumn("bal_tier",
            when(col("c_custkey") % 3 === 0, lit("upgraded")).otherwise(lit("old")))
          .withColumn("start_dt", cut)
          .withColumn("end_dt", lit(Sentinel).cast("timestamp"))
        val dim = v1.unionByName(v2)
        Tables.events(s, dir)
          .withColumn("c_custkey", col("user_id") % 1500 + 1)
          .join(dim, Seq("c_custkey"))
          .filter(col("ts") >= col("start_dt") && col("ts") < col("end_dt"))
          .groupBy("seg", "bal_tier")
          .agg(count(lit(1)).as("n_events"),
            Exact.sumD(col("value"), 6).as("sum_value"))
          .orderBy("seg", "bal_tier")
      },
      Some(s"""
        WITH dim AS (
          SELECT c_custkey, c_mktsegment AS seg, 'old' AS bal_tier,
                 TIMESTAMP '$TsHist' AS start_dt,
                 TIMESTAMP '2020-07-01 00:00:00' AS end_dt
          FROM customer
          UNION ALL
          SELECT c_custkey, c_mktsegment AS seg,
                 CASE WHEN c_custkey % 3 = 0 THEN 'upgraded' ELSE 'old' END AS bal_tier,
                 TIMESTAMP '2020-07-01 00:00:00' AS start_dt,
                 TIMESTAMP '$Sentinel' AS end_dt
          FROM customer
        )
        SELECT d.seg, d.bal_tier, COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(24,6))) AS DOUBLE) AS sum_value
        FROM events e
        JOIN dim d ON d.c_custkey = e.user_id % 1500 + 1
                  AND e.ts >= d.start_dt AND e.ts < d.end_dt
        GROUP BY d.seg, d.bal_tier
        ORDER BY d.seg, d.bal_tier
      """.trim)),

    // str_to_map parsing (the key:value config-string decoder): a synthesized
    // tag string parses into a map, entries extract by key — the lightweight
    // cousin of JSON parsing for attribute strings (user agents, flags,
    // k=v logs). Pure map-side.
    Q(
      "q162_str_to_map",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"),
          concat(lit("status:"), col("o_orderstatus"),
            lit(",prio:"), substring(col("o_orderpriority"), 1, 1),
            lit(",bucket:"), (col("o_orderkey") % 7).cast("string")).as("tags"))
        .select(col("o_orderkey"),
          expr("str_to_map(tags, ',', ':')").as("m"))
        .select(col("o_orderkey"),
          expr("m['status']").as("status"),
          expr("m['prio']").as("prio"),
          expr("m['bucket']").cast("int").as("bucket"),
          expr("m['absent']").as("absent"),
          size(expr("map_keys(m)")).as("n_keys"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               o_orderstatus AS status,
               substr(o_orderpriority, 1, 1) AS prio,
               CAST(o_orderkey % 7 AS INTEGER) AS bucket,
               CAST(NULL AS VARCHAR) AS absent,
               CAST(3 AS INTEGER) AS n_keys
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // Capped sessionization: sessions split by a 30-min inactivity gap AND
    // a 20-minute maximum duration (the runaway-session guard real analytics
    // pipelines add to q19's pure gap rule). The cap is a second,
    // arithmetic-only split — floor((ts - gap_session_start)/20min) — so no
    // extra shuffle: both levels ride the same user_id window.
    Q(
      "q163_capped_sessions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .withColumn("__us", unix_micros(col("ts")))
          .withColumn("__new",
            when(col("__us") - lag(col("__us"), 1).over(w) >= 1800L * 1000000L
              || lag(col("__us"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("__gap_sid", sum(col("__new")).over(run))
          .withColumn("__gap_start",
            min(col("__us")).over(Window.partitionBy("user_id", "__gap_sid")))
          .withColumn("__cap_idx",
            expr("(__us - __gap_start) div 1200000000"))
          .groupBy("user_id", "__gap_sid", "__cap_idx")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"), max("ts").as("session_end"))
          .select("user_id", "session_start", "session_end", "n_events")
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), gap AS (
          SELECT user_id, ts, us,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gap_sid
          FROM flagged
        ), capped AS (
          SELECT user_id, ts, gap_sid,
                 (us - MIN(us) OVER (PARTITION BY user_id, gap_sid))
                   // 1200000000 AS cap_idx
          FROM gap
        )
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM capped GROUP BY user_id, gap_sid, cap_idx
        ORDER BY user_id, session_start
      """.trim)),

    // Percent-of-parent rollup (hierarchical share-of-total reporting):
    // revenue share of each nation WITHIN its region from two exact decimal
    // rollups joined on the parent key — one double division per row, no
    // windows over the fact table.
    Q(
      "q164_percent_of_parent",
      (s, dir) => {
        val rev = Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        val byNation = rev.groupBy("r_name", "n_name")
          .agg(Exact.sumD(col("o_totalprice"), 2).as("nation_rev"))
        val byRegion = byNation.groupBy("r_name")
          .agg(sum(col("nation_rev").cast("decimal(24,2)")).cast("double").as("region_rev"))
        byNation.join(byRegion, Seq("r_name"))
          .select(col("r_name"), col("n_name"), col("nation_rev"),
            (col("nation_rev") / col("region_rev")).as("share"))
          .orderBy("r_name", "n_name")
      },
      Some("""
        WITH byn AS (
          SELECT r_name, n_name,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS nation_rev
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, n_name
        ), byr AS (
          SELECT r_name,
                 CAST(SUM(CAST(nation_rev AS DECIMAL(24,2))) AS DOUBLE) AS region_rev
          FROM byn GROUP BY r_name
        )
        SELECT byn.r_name, n_name, nation_rev, nation_rev / region_rev AS share
        FROM byn JOIN byr ON byn.r_name = byr.r_name
        ORDER BY byn.r_name, n_name
      """.trim)),

    // Last-touch attribution: every purchase joins the user's most recent
    // PRECEDING view (the as-of backward operator applied to marketing
    // attribution); purchases with no prior view surface as a null view_id.
    // Same union+window plan as q41 — one key shuffle, no join operator.
    Q(
      "q165_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_id").as("view_id"))
        AsOfJoin.asofBackward(purchases, views, "user_id", "ts", "ts",
            "event_id", Seq("view_id"))
          .select(col("event_id").as("purchase_id"), col("view_id"))
          .orderBy("purchase_id")
      },
      Some("""
        SELECT p.event_id AS purchase_id,
               (SELECT v.event_id FROM events v
                WHERE v.event_type = 'view' AND v.user_id = p.user_id
                  AND v.ts <= p.ts
                ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_id
        FROM events p WHERE p.event_type = 'purchase'
        ORDER BY purchase_id
      """.trim)),

    // Medallion end-to-end — the reference's actual user journey in ONE
    // query: raw CSV landing (csv_to_parquet.py inputs) -> typed silver
    // (per-column casts) -> gold SCD2 customer dim (final_dim_load.py, the
    // q17 seeded prior state) + generated date dim (:464-485) -> star fact
    // with banding + exact-decimal revenue (final_fact_load.py:60-151) ->
    // parquet sink round-trip. Gates the composition seams the piecewise
    // queries can't: CSV type fidelity (longs, doubles, timestamps through
    // the text round-trip — `acctbal` surfaces the doubles directly),
    // watermark-continued surrogate keys feeding a downstream join, and
    // column-order preservation across the final write/read. Scale shape:
    // the fact repartitions by its join key first (C4), the date spine is
    // broadcast (bounded), the dim join is AQE-sized, one parquet sink.
    Q(
      "q166_medallion_e2e",
      (s, dir) => {
        import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}
        // Bronze: raw CSV landing zone.
        val rawCust = Scratch.dir(s, dir, "medallion_cust_csv")
        val rawOrd = Scratch.dir(s, dir, "medallion_ord_csv")
        Tables.customer(s, dir).write.mode("overwrite")
          .option("header", "true").csv(rawCust)
        Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
          .write.mode("overwrite").option("header", "true").csv(rawOrd)
        // Silver: typed, column-contract-checked.
        val custSilver = Cleaning.castNormalize(
          Sources.requireColumns(Sources.csv(s, rawCust),
            Seq("c_custkey", "c_name", "c_mktsegment", "c_acctbal")),
          Map("c_custkey" -> LongType, "c_acctbal" -> DoubleType))
        val ordSilver = Cleaning.castNormalize(
          Sources.requireColumns(Sources.csv(s, rawOrd),
            Seq("o_orderkey", "o_custkey", "o_orderdate")),
          Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
            "o_orderdate" -> TimestampType))
        // Gold dims: SCD2 merge over the q17 seeded prior state, built from
        // the SILVER frame so the whole dim derives from the CSV leg.
        val base = custSilver.select(col("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal").cast("decimal(12,2)").as("bal"))
        val dim = Scd2.merge(seededCustomerDim(base), base,
          naturalKey = "c_custkey", scdCols = Seq("c_name", "c_mktsegment", "bal"),
          skCol = "customer_sk", runTs = TsRun, sentinel = Sentinel)
        val dimCur = dim.filter(col("is_valid"))
          .select(col("customer_sk"), col("c_custkey"), col("c_mktsegment"),
            col("bal").cast("double").as("acctbal"))
        val dates = DateDim.build(s, "1992-01-01", "2005-12-31")
        // Gold fact: pre-spread by the join key, bounded dims broadcast.
        val fact = Tables.lineitem(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("l_orderkey"))
          .join(ordSilver, col("l_orderkey") === col("o_orderkey"))
          .join(dimCur, col("o_custkey") === col("c_custkey"))
          .join(broadcast(dates), to_date(col("o_orderdate")) === col("date_id"))
          .select(
            (col("l_orderkey") * 100 + col("l_linenumber")).as("fact_id"),
            col("l_orderkey"), col("l_linenumber"),
            col("customer_sk"), col("c_mktsegment"), col("acctbal"),
            col("year"), col("quarter"), col("month"), col("day_name"),
            round(col("l_extendedprice").cast("decimal(18,2)")
              * (lit(1) - col("l_discount").cast("decimal(18,2)")), 2)
              .cast("double").as("revenue"),
            when(col("l_quantity") <= 7, "short")
              .when(col("l_quantity") <= 30, "medium")
              .otherwise("long").as("qty_band"))
        // Publish + read back: the consumer sees the parquet, not the plan.
        Sinks.writeAndReadBack(s, fact, Scratch.dir(s, dir, "medallion_fact"))
          .orderBy("fact_id")
      },
      Some(s"""
        WITH base AS (
          SELECT c_custkey, c_name, c_mktsegment,
                 CAST(c_acctbal AS DECIMAL(12,2)) AS bal
          FROM customer
        ), cur AS (
          SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_mktsegment, bal
          FROM base WHERE c_custkey % 4 <> 1
        ), hist AS (
          SELECT 100000 + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk
          FROM base WHERE c_custkey % 4 <> 1 AND c_custkey % 7 = 3
        ), maxsk AS (
          SELECT max(customer_sk) AS m
          FROM (SELECT customer_sk FROM cur UNION ALL SELECT customer_sk FROM hist)
        ), fresh AS (
          SELECT (SELECT m FROM maxsk)
                   + CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS customer_sk,
                 c_custkey, c_mktsegment, bal
          FROM base WHERE c_custkey % 4 = 1 OR c_custkey % 5 = 0
        ), dim_cur AS (
          SELECT customer_sk, c_custkey, c_mktsegment, CAST(bal AS DOUBLE) AS acctbal
          FROM cur WHERE c_custkey % 5 <> 0
          UNION ALL
          SELECT customer_sk, c_custkey, c_mktsegment, CAST(bal AS DOUBLE) AS acctbal
          FROM fresh
        )
        SELECT l.l_orderkey * 100 + l.l_linenumber AS fact_id,
               l.l_orderkey, l.l_linenumber,
               d.customer_sk, d.c_mktsegment, d.acctbal,
               CAST(year(o.o_orderdate) AS INTEGER) AS year,
               CAST(quarter(o.o_orderdate) AS INTEGER) AS quarter,
               CAST(month(o.o_orderdate) AS INTEGER) AS month,
               CASE dayofweek(CAST(o.o_orderdate AS DATE))
                    WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
                    WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday'
                    ELSE 'Saturday' END AS day_name,
               CAST(ROUND(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
               CASE WHEN l.l_quantity <= 7 THEN 'short' WHEN l.l_quantity <= 30 THEN 'medium' ELSE 'long' END AS qty_band
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN dim_cur d ON o.o_custkey = d.c_custkey
        ORDER BY fact_id
      """.trim)),

    // S5 warehouse-sink seam, gated: a dimension published through the
    // WarehouseSink TRAIT (the reference's BigQuery `save(df, table)` shape,
    // final_dim_load.py:211-215) with the ParquetWarehouse implementation,
    // then read back from the warehouse root by TABLE NAME. The external
    // connector is out of scope by design (no network egress); what this
    // gates is the seam itself — the trait-typed call site, one-directory-
    // per-table layout, and read-back fidelity of the published dim.
    Q(
      "q167_warehouse_sink",
      (s, dir) => {
        val root = Scratch.dir(s, dir, "warehouse")
        val wh: Sinks.WarehouseSink = new Sinks.ParquetWarehouse(root)
        val dimLocation = Tables.nation(s, dir)
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("nation_id"),
            col("n_name").as("nation"), col("r_name").as("region"))
        wh.save(dimLocation, "dim_location")
        Sources.parquet(s, s"$root/dim_location").orderBy("nation_id")
      },
      Some("""
        SELECT n_nationkey AS nation_id, n_name AS nation, r_name AS region
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY nation_id
      """.trim)),

    // S9 bucketed-table gate: orders and lineitem written CO-BUCKETED (and
    // sorted) on the order key into scratch-scoped EXTERNAL tables, then
    // joined through the catalog — at scale this is the write-side answer
    // to a repeatedly-joined key: both sides land pre-shuffled, so the join
    // (and any later one on the same key) skips its exchanges entirely.
    // The shuffle-free plan property is spec-pinned (PlanQualitySpec
    // "co-bucketed join"); this query gates the VALUES that flow through
    // the bucketed write+catalog read-back. The explicit `path` keeps the
    // warehouse dir clean (the round-3 deferral reason, now fixed).
    Q(
      "q168_bucketed_join",
      (s, dir) => {
        val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
            (col("l_extendedprice").cast("decimal(18,2)")
              * (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("__net"))
        Sinks.writeBucketedAt(ord, "g168_orders_b",
          Some(Scratch.dir(s, dir, "bucketed_orders")), Seq("o_orderkey"), 8,
          Seq("o_orderkey"))
        Sinks.writeBucketedAt(li, "g168_lineitem_b",
          Some(Scratch.dir(s, dir, "bucketed_lineitem")), Seq("l_orderkey"), 8,
          Seq("l_orderkey"))
        s.table("g168_orders_b")
          .join(s.table("g168_lineitem_b"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_lines"),
            Exact.sumProductD(col("__net")).as("net_revenue"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS net_revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim)),

    // q33's machine-checkable twin: HLL sketch values are engine-specific
    // (q33 is rows-only by documented design), but the sketch's CONTRACT is
    // checkable — here the same rollup computes approx_count_distinct NEXT
    // TO the exact distinct and emits a tolerance verdict (|approx-exact|
    // within max(15%, 2) — HLL default rsd is 5%), which the oracle pins to
    // 1 for every row. Row shape, group keys, exact counts, and the sketch
    // envelope all ride the normal hash-compare path; only the raw sketch
    // value stays engine-local. Exact count_distinct forces a per-key
    // expansion the sketch avoids — that cost is the audit's price, run it
    // sampled at scale; the production rollup stays q33's sketch-only shape.
    Q(
      "q169_approx_audit",
      (s, dir) => Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "1 hour").getField("start").as("bucket"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users_exact"),
          approx_count_distinct(col("user_id")).as("__approx"))
        .select(col("bucket"), col("event_type"), col("n_events"),
          col("n_users_exact"),
          when(abs(col("__approx") - col("n_users_exact"))
              <= greatest(col("n_users_exact").cast("double") * 0.15, lit(2.0)),
            1).otherwise(0).as("approx_within_tol"))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               CAST(1 AS INTEGER) AS approx_within_tol
        FROM events GROUP BY 1, 2 ORDER BY bucket, event_type
      """.trim)),

    // months_between — the round-3 deferral, solved by restating Spark's
    // 31-day-month rule explicitly in the oracle: same day-of-month (or
    // both last-of-month) -> whole months; otherwise whole months +
    // (day1-day2)/31, rounded half-up to 8 digits (Spark's roundOff).
    // Midnight timestamps keep the time fraction zero in both engines, and
    // the /31 quotient of small integers never lands on a decimal halfway
    // point, so double rounding agrees. Pure map-side projection.
    Q(
      "q170_months_between",
      (s, dir) => Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"),
          months_between(col("o_orderdate"), lit("1995-01-15").cast("timestamp"))
            .as("m_since_mid"),
          months_between(last_day(col("o_orderdate")), lit("1995-01-31").cast("timestamp"))
            .as("m_last_days"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_orderdate,
               CASE WHEN day(CAST(o_orderdate AS DATE)) = 15
                    THEN CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS DOUBLE)
                    ELSE ROUND(CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS DOUBLE)
                               + (day(CAST(o_orderdate AS DATE)) - 15) / 31.0, 8)
               END AS m_since_mid,
               CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS DOUBLE) AS m_last_days
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // mode() — the round-3 deferral, solved with DETERMINISTIC tie-breaks:
    // the native Spark aggregate (mode(col, true) -> lowest value among the
    // most frequent) next to its relational two-phase restatement
    // (count-per-value, then min_by over the (-cnt, value) struct — two
    // hash aggregates, no window, no per-group value map), which is also
    // the shape that scales when the value domain is unbounded. The oracle
    // picks the same (cnt DESC, value ASC) winner; both columns must agree
    // with it AND each other.
    Q(
      "q171_mode",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val native = c.groupBy("c_nationkey")
          .agg(expr("mode(c_mktsegment, true)").as("seg_mode_native"))
        val counts = c.groupBy("c_nationkey", "c_mktsegment")
          .agg(count(lit(1)).as("cnt"))
        val twoPhase = counts.groupBy("c_nationkey")
          .agg(expr("min_by(c_mktsegment, struct(-cnt, c_mktsegment))")
            .as("seg_mode"))
        native.join(twoPhase, "c_nationkey")
          .select("c_nationkey", "seg_mode", "seg_mode_native")
          .orderBy("c_nationkey")
      },
      Some("""
        WITH counts AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS cnt
          FROM customer GROUP BY 1, 2
        ), pick AS (
          SELECT c_nationkey, c_mktsegment,
                 row_number() OVER (PARTITION BY c_nationkey
                   ORDER BY cnt DESC, c_mktsegment ASC) AS rn
          FROM counts
        )
        SELECT c_nationkey, c_mktsegment AS seg_mode,
               c_mktsegment AS seg_mode_native
        FROM pick WHERE rn = 1 ORDER BY c_nationkey
      """.trim)),

    // ST3 stateful sessionization, oracle-gated. Raw emission timing of
    // flatMapGroupsWithState depends on micro-batch splits (why this stayed
    // spec-only in round 3); two tricks make the FINAL STATE batch-split-
    // independent: (1) a far-future SENTINEL event per user is appended as
    // a second source file, so every real session is closed by the per-user
    // event fold itself (gap exceeded on sentinel arrival) — deterministic
    // whether the sentinel lands in the same batch or a later one — rather
    // than by watermark-timing-dependent timeouts; (2) the q131 keyed-
    // upsert sink collapses any re-emission. Sentinel sessions are filtered
    // out; sum_value is omitted from the compared projection (sequential
    // double accumulation is fold-order-exact but not decimal-exact).
    Q(
      "q172_stream_session_gate",
      (s, dir) => {
        import graft.streaming.EventStreams
        val base = Scratch.dir(s, dir, "stream_sessions")
        val src = base + "_src"
        Seq(base, base + "_ckpt", src, src + "_tmp")
          .foreach(graft.engine.Scratch.rm)
        new java.io.File(src).mkdirs(): Unit
        // Source file 1: the events table verbatim (raw nanos-long ts).
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "events.parquet"),
          java.nio.file.Paths.get(src, "events.parquet")): Unit
        // Source file 2: one sentinel per user, 100 days after the last
        // real event — closes every user's final session through the fold.
        // The sentinel's ts column is written in the SAME encoding the raw
        // file carries (nanos long vs timestamp), so the declared-schema
        // file-stream source reads both files uniformly.
        val raw = Tables.read(s, dir, "events")
        val maxUs = graft.Tables.normalizeTs(raw)
          .agg(max(unix_micros(col("ts")))).head.getLong(0)
        val sentinelUs = maxUs + 100L * 86400L * 1000000L
        val sentinelTs = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => lit(sentinelUs * 1000L)
          case t => timestamp_micros(lit(sentinelUs)).cast(t)
        }
        raw.select(col("user_id")).distinct()
          .select((lit(1000000000L) + col("user_id")).as("event_id"),
            sentinelTs.as("ts"), col("user_id"),
            lit("flush").as("event_type"), lit(0.0).as("value"))
          .coalesce(1).write.parquet(src + "_tmp")
        val part = new java.io.File(src + "_tmp").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(src, "sentinel.parquet")): Unit
        graft.engine.Scratch.rm(src + "_tmp")
        // Stream: file source over the two files -> sessionize -> upsert.
        import s.implicits._
        val events = graft.Tables.normalizeTs(
            s.readStream.schema(raw.schema).parquet(src))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStreams.Event]
        val sessions = EventStreams.sessionizeStream(events, gapSeconds = 1800L)
          .filter(col("session_start") < timestamp_micros(lit(sentinelUs)))
          .withColumn("__key", concat(col("user_id").cast("string"), lit("|"),
            unix_micros(col("session_start")).cast("string")))
        graft.streaming.EventStreams.runDrained(s)(
          sessions.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              TxLog.upsert(b.sparkSession, base, b, "__key"): Unit
            }
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        TxLog.read(s, base)
          .select("user_id", "session_start", "session_end", "n_events")
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
          SELECT user_id, ts,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sessioned GROUP BY user_id, session_seq
        ORDER BY user_id, session_start
      """.trim)),

    // ST6 stream-stream interval join, oracle-gated: purchases joined to
    // the same user's views in the preceding hour, both sides watermarked
    // streams off the same file source. The match SET is batch-split-
    // independent (a view's buffered state outlives every purchase that can
    // legally join it — eviction needs the watermark past view_ts+lookback,
    // by which point any joining purchase would itself be late), and the
    // q131 keyed-upsert sink absorbs re-emission, so the final table equals
    // the batch interval join the oracle states.
    Q(
      "q173_stream_interval_join_gate",
      (s, dir) => {
        val base = Scratch.dir(s, dir, "stream_ivjoin")
        Seq(base, base + "_ckpt").foreach(graft.engine.Scratch.rm)
        val ev = graft.streaming.EventStreams.streamingEvents(s, dir)
        val joined = graft.streaming.EventStreams.intervalJoinStream(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "view"),
            lookbackSeconds = 3600L)
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("r_event_id").as("view_id"), col("ts").as("purchase_ts"),
            col("r_ts").as("view_ts"))
          .withColumn("__key", concat(col("purchase_id").cast("string"),
            lit("|"), col("view_id").cast("string")))
        graft.streaming.EventStreams.runDrained(s)(
          joined.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              TxLog.upsert(b.sparkSession, base, b, "__key"): Unit
            }
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        TxLog.read(s, base).drop("__key").orderBy("purchase_id", "view_id")
      },
      Some("""
        SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
               p.ts AS purchase_ts, v.ts AS view_ts
        FROM events p JOIN events v
          ON v.user_id = p.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        ORDER BY purchase_id, view_id
      """.trim)),

    // Map higher-order-function surface: per-user maps built by aggregation
    // (map_from_entries over a sorted entry list), then transform_keys
    // (upper), map_filter (count floor), map_zip_with (count map x exact-sum
    // map -> mean). The maps stay inside one hash-aggregate + map-side
    // expressions — no extra shuffle; the relational oracle restates the
    // same values as a grouped HAVING query, proving the HOF chain computes
    // what it claims. Means divide EXACT decimal sums (one final double op).
    Q(
      "q174_map_hof_surface",
      (s, dir) => {
        val perType = Tables.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,6)")).as("vsum"))
        val maps = perType.groupBy("user_id")
          .agg(
            map_from_entries(sort_array(collect_list(
              struct(col("event_type"), col("cnt"))))).as("cnt_map"),
            map_from_entries(sort_array(collect_list(
              struct(col("event_type"), col("vsum").cast("double"))))).as("sum_map"))
        val zipped = maps.select(col("user_id"),
          transform_keys(
            map_filter(
              map_zip_with(col("cnt_map"), col("sum_map"),
                (_, c, vs) => struct(c.as("cnt"), (vs / c).as("mean"))),
              (_, v) => v.getField("cnt") >= 10L),
            (k, _) => upper(k)).as("m"))
        zipped.select(col("user_id"), explode(col("m")).as(Seq("etype", "cv")))
          .select(col("user_id"), col("etype"),
            col("cv.cnt").as("cnt"), col("cv.mean").as("mean_value"))
          .orderBy("user_id", "etype")
      },
      Some("""
        SELECT user_id, upper(event_type) AS etype,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 AS mean_value
        FROM events
        GROUP BY user_id, event_type
        HAVING COUNT(*) >= 10
        ORDER BY user_id, etype
      """.trim)),

    // String-function surface 3 (beyond q116/q133): split_part /
    // substring_index / initcap / overlay / format_string / find_in_set.
    // Pure map-side projection. The oracle restates each via DuckDB
    // primitives (printf for format_string, substr algebra for overlay and
    // initcap, list_position over a split literal for find_in_set), so the
    // gate checks VALUES, not shared implementations.
    Q(
      "q175_string_surface3",
      (s, dir) => Tables.customer(s, dir)
        .filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          split_part(col("c_name"), lit("#"), lit(2)).as("key_digits"),
          substring_index(col("c_name"), "#", 1).as("name_prefix"),
          initcap(lower(col("c_mktsegment"))).as("segment_title"),
          overlay(col("c_name"), lit("XXXX"), lit(10), lit(4)).as("masked"),
          format_string("%08d-%s", col("c_custkey"), col("c_mktsegment")).as("slug"),
          expr("find_in_set(c_mktsegment, 'BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE')")
            .cast("int").as("seg_idx"))
        .orderBy("c_custkey"),
      Some("""
        SELECT c_custkey,
               split_part(c_name, '#', 2) AS key_digits,
               split_part(c_name, '#', 1) AS name_prefix,
               upper(substr(lower(c_mktsegment), 1, 1))
                 || substr(lower(c_mktsegment), 2) AS segment_title,
               substr(c_name, 1, 9) || 'XXXX' || substr(c_name, 14) AS masked,
               printf('%08d-%s', c_custkey, c_mktsegment) AS slug,
               CAST(list_position(string_split(
                 'BUILDING,AUTOMOBILE,MACHINERY,HOUSEHOLD,FURNITURE', ','),
                 c_mktsegment) AS INTEGER) AS seg_idx
        FROM customer WHERE c_custkey < 500 ORDER BY c_custkey
      """.trim)),

    // Calendar surface 3 (beyond q115/q151): make_date / make_timestamp
    // round-trip from extracted fields, ISO-Monday date_trunc to week and
    // quarter, epoch milliseconds, last_day, and next_day (strictly-after
    // next Monday — DuckDB lacks next_day, so the oracle restates it as
    // isodow modular arithmetic, pinning Spark's "strictly later" rule).
    Q(
      "q176_calendar_surface3",
      (s, dir) => Tables.orders(s, dir)
        .filter(col("o_orderkey") % 13 === 0)
        .select(col("o_orderkey"), col("o_orderdate"))
        .select(col("o_orderkey"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")),
            dayofmonth(col("o_orderdate"))).as("rebuilt_date"),
          make_timestamp(year(col("o_orderdate")), month(col("o_orderdate")),
            dayofmonth(col("o_orderdate")), lit(12), lit(30), lit(0)).as("noonish_ts"),
          date_trunc("week", col("o_orderdate")).cast("date").as("week_start"),
          date_trunc("quarter", col("o_orderdate")).cast("date").as("quarter_start"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("epoch_ms"),
          last_day(col("o_orderdate")).as("month_end"),
          next_day(col("o_orderdate"), "Mon").as("next_monday"))
        .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey,
               make_date(CAST(year(o_orderdate) AS INTEGER),
                         CAST(month(o_orderdate) AS INTEGER),
                         CAST(day(o_orderdate) AS INTEGER)) AS rebuilt_date,
               make_timestamp(CAST(year(o_orderdate) AS BIGINT),
                 CAST(month(o_orderdate) AS BIGINT), CAST(day(o_orderdate) AS BIGINT),
                 12, 30, 0.0) AS noonish_ts,
               CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
               CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
               epoch_ms(o_orderdate) AS epoch_ms,
               last_day(CAST(o_orderdate AS DATE)) AS month_end,
               CAST(o_orderdate AS DATE)
                 + CAST((8 - isodow(o_orderdate)) % 7
                        + CASE WHEN isodow(o_orderdate) = 1 THEN 7 ELSE 0 END
                        AS INTEGER) AS next_monday
        FROM orders WHERE o_orderkey % 13 = 0 ORDER BY o_orderkey
      """.trim)),

    // JSON serialization surface: to_json over a typed struct (long,
    // string, array) and the from_json -> to_json canonicalization
    // round-trip of the events props blob (strips the source's
    // inter-token spacing). Both engines emit compact key-ordered JSON, so
    // the STRINGS compare exactly — this pins serialization format, not
    // just parsed values. Map-side only.
    Q(
      "q177_to_json",
      (s, dir) => Tables.events(s, dir)
        .filter(col("event_id") % 17 === 0)
        .select(col("event_id"),
          to_json(struct(col("event_id").as("id"), col("event_type").as("t"),
            array(col("user_id"), col("user_id") + 1).as("us"))).as("payload"),
          to_json(from_json(col("props"), lit("k INT"))).as("props_canon"))
        .orderBy("event_id"),
      Some("""
        SELECT event_id,
               to_json(struct_pack(id := event_id, t := event_type,
                 us := [user_id, user_id + 1])) AS payload,
               to_json(struct_pack(k := CAST(json_extract(props, '$.k') AS INTEGER)))
                 AS props_canon
        FROM events WHERE event_id % 17 = 0 ORDER BY event_id
      """.trim)),

    // width_bucket banding over an EXACT integer domain: o_totalprice is
    // re-expressed in cents (integer-valued doubles are exact in IEEE), the
    // bucket width 60e6/12 = 5e6 is exact, and the nearest bucket boundary
    // is >= 1/5e6 away from any representable quotient error — so Spark's
    // width_bucket and the oracle's floor-division restatement provably
    // agree on every row. (Banding a raw float domain would invite
    // half-ulp boundary flips; the integer re-expression is the documented
    // determinism pattern.) One hash aggregate.
    Q(
      "q178_width_bucket",
      (s, dir) => Tables.orders(s, dir)
        .withColumn("cents",
          (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long"))
        .withColumn("bucket",
          width_bucket(col("cents").cast("double"), lit(0d), lit(60000000d), lit(12))
            .cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumD(col("o_totalprice")).as("revenue"))
        .orderBy("bucket"),
      Some("""
        SELECT CAST(CASE WHEN cents < 0 THEN 0
                         WHEN cents >= 60000000 THEN 13
                         ELSE floor(CAST(cents AS DOUBLE) / 5000000.0) + 1
                    END AS INTEGER) AS bucket,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS revenue
        FROM (SELECT o_totalprice,
                     CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
              FROM orders)
        GROUP BY 1 ORDER BY bucket
      """.trim)),

    // IEEE special-value semantics: a derived column is salted with NaN and
    // +/-Infinity on a deterministic key rule, then audited per event_type —
    // isnan counts, infinity counts (sign-split), nanvl substitution feeding
    // an EXACT decimal sum over the finite subset, and min/max over finite
    // values only. Both engines agree NaN = NaN and NaN > Infinity in
    // comparisons; raw NaN/Inf values are deliberately NOT emitted (exact
    // hash compare of NaN text is the one thing the gate can't promise).
    Q(
      "q179_special_values",
      (s, dir) => Tables.events(s, dir)
        .withColumn("v",
          when(col("event_id") % 97 === 0, lit(Double.NaN))
            .when(col("event_id") % 97 === 1, lit(Double.PositiveInfinity))
            .when(col("event_id") % 97 === 2, lit(Double.NegativeInfinity))
            .otherwise(col("value")))
        .groupBy("event_type")
        .agg(
          sum(when(isnan(col("v")), 1L).otherwise(0L)).as("n_nan"),
          sum(when(col("v") === lit(Double.PositiveInfinity), 1L).otherwise(0L)).as("n_posinf"),
          sum(when(col("v") === lit(Double.NegativeInfinity), 1L).otherwise(0L)).as("n_neginf"),
          sum(when(isnan(col("v")) || col("v") === lit(Double.PositiveInfinity)
              || col("v") === lit(Double.NegativeInfinity), lit(null).cast("decimal(18,6)"))
            .otherwise(nanvl(col("v"), lit(0d)).cast("decimal(18,6)"))).cast("double").as("finite_sum"),
          min(when(isnan(col("v")) || col("v") === lit(Double.PositiveInfinity)
              || col("v") === lit(Double.NegativeInfinity), lit(null))
            .otherwise(col("v"))).as("finite_min"),
          max(when(isnan(col("v")) || col("v") === lit(Double.PositiveInfinity)
              || col("v") === lit(Double.NegativeInfinity), lit(null))
            .otherwise(col("v"))).as("finite_max"))
        .orderBy("event_type"),
      Some("""
        WITH salted AS (
          SELECT event_type,
                 CASE WHEN event_id % 97 = 0 THEN 'NaN'::DOUBLE
                      WHEN event_id % 97 = 1 THEN 'Infinity'::DOUBLE
                      WHEN event_id % 97 = 2 THEN '-Infinity'::DOUBLE
                      ELSE value END AS v
          FROM events
        )
        SELECT event_type,
               CAST(SUM(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
               CAST(SUM(CASE WHEN v = 'Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_posinf,
               CAST(SUM(CASE WHEN v = '-Infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT) AS n_neginf,
               CAST(SUM(CASE WHEN isnan(v) OR isinf(v) THEN NULL
                             ELSE CAST(v AS DECIMAL(18,6)) END) AS DOUBLE) AS finite_sum,
               MIN(CASE WHEN isnan(v) OR isinf(v) THEN NULL ELSE v END) AS finite_min,
               MAX(CASE WHEN isnan(v) OR isinf(v) THEN NULL ELSE v END) AS finite_max
        FROM salted GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Exact higher-moment statistics — the determinism blocker that kept
    // skewness/kurtosis deferred, solved: the double column is exactly
    // 2-decimal, so power sums S1..S4 are EXACT decimals (every product
    // stays under precision 38 unreduced), and the central-moment algebra
    // runs as one identical double expression tree in both engines (each op
    // correctly rounded => bit-identical). sqrt replaces pow(x,1.5) — pow
    // is libm-dependent, sqrt is IEEE-exact. Spark's native streaming
    // skewness/kurtosis are audited against the exact values (|diff|<1e-5
    // verdict, pinned to 1 by the oracle — the q169 envelope pattern).
    // Shape: one map-side product projection + one hash aggregate.
    Q(
      "q180_moment_stats",
      (s, dir) => {
        val sums = Tables.events(s, dir)
          .select(col("event_type"), col("value"),
            col("value").cast("decimal(8,2)").as("vd"))
          .withColumn("v2", col("vd") * col("vd"))
          .withColumn("v3", col("v2") * col("vd"))
          .withColumn("v4", col("v2") * col("v2"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("vd")).cast("double").as("s1"),
            sum(col("v2")).cast("double").as("s2"),
            sum(col("v3")).cast("double").as("s3"),
            sum(col("v4")).cast("double").as("s4"),
            skewness(col("value")).as("__sk"),
            kurtosis(col("value")).as("__ku"))
        sums
          .withColumn("nn", col("n_events").cast("double"))
          .withColumn("mean", col("s1") / col("nn"))
          .withColumn("m2", col("s2") / col("nn") - col("mean") * col("mean"))
          .withColumn("m3", col("s3") / col("nn")
            - lit(3.0) * col("mean") * (col("s2") / col("nn"))
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
          .withColumn("m4", col("s4") / col("nn")
            - lit(4.0) * col("mean") * (col("s3") / col("nn"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("nn"))
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
          .withColumn("skew", col("m3") / (col("m2") * sqrt(col("m2"))))
          .withColumn("kurt", col("m4") / (col("m2") * col("m2")) - lit(3.0))
          .select(col("event_type"), col("n_events"), col("mean"),
            col("m2").as("var_pop"), col("skew"), col("kurt"),
            when(abs(col("__sk") - col("skew")) < lit(1e-5), 1).otherwise(0)
              .cast("int").as("skew_native_ok"),
            when(abs(col("__ku") - col("kurt")) < lit(1e-5), 1).otherwise(0)
              .cast("int").as("kurt_native_ok"))
          .orderBy("event_type")
      },
      Some("""
        WITH base AS (
          SELECT event_type, CAST(value AS DECIMAL(8,2)) AS vd FROM events
        ), t AS (
          -- explicit widening: DuckDB keeps (16,4)x(16,4) in the int64 path
          -- and overflows; a (19,4) cast forces the int128 product
          SELECT event_type, vd, CAST(vd*vd AS DECIMAL(19,4)) AS v2 FROM base
        ), s AS (
          -- s4's backing integer exceeds int64, where DuckDB's direct
          -- decimal->double cast is NOT correctly rounded; the VARCHAR hop
          -- (exact decimal print, correctly-rounded strtod) restores the
          -- bit-exact value Spark's BigDecimal.doubleValue produces
          SELECT event_type, COUNT(*) AS n_events,
                 CAST(SUM(vd) AS DOUBLE) AS s1,
                 CAST(SUM(v2) AS DOUBLE) AS s2,
                 CAST(CAST(SUM(v2*vd) AS VARCHAR) AS DOUBLE) AS s3,
                 CAST(CAST(SUM(v2*v2) AS VARCHAR) AS DOUBLE) AS s4
          FROM t GROUP BY event_type
        ), b AS (
          SELECT event_type, n_events, CAST(n_events AS DOUBLE) AS nn,
                 s1, s2, s3, s4, s1 / CAST(n_events AS DOUBLE) AS mean
          FROM s
        ), c AS (
          SELECT event_type, n_events, nn, s1, s2, s3, s4, mean,
                 s2 / nn - mean * mean AS m2,
                 s3 / nn - 3.0 * mean * (s2 / nn)
                   + 2.0 * mean * mean * mean AS m3,
                 s4 / nn - 4.0 * mean * (s3 / nn)
                   + 6.0 * mean * mean * (s2 / nn)
                   - 3.0 * mean * mean * mean * mean AS m4
          FROM b
        )
        SELECT event_type, n_events, mean, m2 AS var_pop,
               m3 / (m2 * sqrt(m2)) AS skew,
               m4 / (m2 * m2) - 3.0 AS kurt,
               1 AS skew_native_ok, 1 AS kurt_native_ok
        FROM c ORDER BY event_type
      """.trim)),

    // Linear-regression aggregate family (regr_slope / regr_intercept /
    // regr_r2 / corr / covar_pop) restated over EXACT power sums: x is
    // integer-valued, y is 2-decimal, so SX/SY/SXX/SYY/SXY are exact
    // decimals; slope/intercept/corr/r2 are then one shared double
    // expression tree (deterministic cross-engine). Spark's five native
    // order-dependent aggregates are each audited within 1e-6 relative of
    // the exact value (verdicts pinned by the oracle). This IS the
    // scale-safe form: five plain decimal sums, partial aggregation intact.
    Q(
      "q181_regression_agg",
      (s, dir) => {
        val sums = Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            col("l_quantity").as("x"), col("l_extendedprice").as("y"),
            col("l_quantity").cast("decimal(4,0)").as("xd"),
            col("l_extendedprice").cast("decimal(12,2)").as("yd"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("xd")).cast("double").as("sx"),
            sum(col("yd")).cast("double").as("sy"),
            sum(col("xd") * col("xd")).cast("double").as("sxx"),
            sum(col("yd") * col("yd")).cast("double").as("syy"),
            sum(col("xd") * col("yd")).cast("double").as("sxy"),
            expr("regr_slope(y, x)").as("__slope"),
            expr("regr_intercept(y, x)").as("__icept"),
            expr("regr_r2(y, x)").as("__r2"),
            corr(col("y"), col("x")).as("__corr"),
            covar_pop(col("y"), col("x")).as("__covar"))
        def ok(native: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
          when(abs(native - exact) < lit(1e-6) * (lit(1.0) + abs(exact)), 1)
            .otherwise(0).cast("int")
        sums
          .withColumn("nn", col("n_rows").cast("double"))
          .withColumn("slope", (col("nn") * col("sxy") - col("sx") * col("sy"))
            / (col("nn") * col("sxx") - col("sx") * col("sx")))
          .withColumn("icept", col("sy") / col("nn") - col("slope") * (col("sx") / col("nn")))
          .withColumn("cov_p", col("sxy") / col("nn") - (col("sx") / col("nn")) * (col("sy") / col("nn")))
          .withColumn("var_x", col("sxx") / col("nn") - (col("sx") / col("nn")) * (col("sx") / col("nn")))
          .withColumn("var_y", col("syy") / col("nn") - (col("sy") / col("nn")) * (col("sy") / col("nn")))
          .withColumn("corr_xy", col("cov_p") / (sqrt(col("var_x")) * sqrt(col("var_y"))))
          .withColumn("r2", col("corr_xy") * col("corr_xy"))
          .select(col("l_returnflag"), col("n_rows"), col("slope"), col("icept"),
            col("cov_p"), col("corr_xy"), col("r2"),
            ok(col("__slope"), col("slope")).as("slope_ok"),
            ok(col("__icept"), col("icept")).as("icept_ok"),
            ok(col("__r2"), col("r2")).as("r2_ok"),
            ok(col("__corr"), col("corr_xy")).as("corr_ok"),
            ok(col("__covar"), col("cov_p")).as("covar_ok"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH s AS (
          SELECT l_returnflag, COUNT(*) AS n_rows,
                 CAST(SUM(xd) AS DOUBLE) AS sx,
                 CAST(SUM(yd) AS DOUBLE) AS sy,
                 CAST(SUM(xd*xd) AS DOUBLE) AS sxx,
                 CAST(SUM(yd*yd) AS DOUBLE) AS syy,
                 CAST(SUM(xd*yd) AS DOUBLE) AS sxy
          FROM (SELECT l_returnflag,
                       CAST(l_quantity AS DECIMAL(4,0)) AS xd,
                       CAST(l_extendedprice AS DECIMAL(12,2)) AS yd
                FROM lineitem)
          GROUP BY l_returnflag
        ), b AS (
          SELECT l_returnflag, n_rows, CAST(n_rows AS DOUBLE) AS nn,
                 sx, sy, sxx, syy, sxy,
                 (CAST(n_rows AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_rows AS DOUBLE) * sxx - sx * sx) AS slope
          FROM s
        ), c AS (
          SELECT l_returnflag, n_rows, nn, sx, sy, sxx, syy, sxy, slope,
                 sy / nn - slope * (sx / nn) AS icept,
                 sxy / nn - (sx / nn) * (sy / nn) AS cov_p,
                 sxx / nn - (sx / nn) * (sx / nn) AS var_x,
                 syy / nn - (sy / nn) * (sy / nn) AS var_y
          FROM b
        ), d AS (
          SELECT l_returnflag, n_rows, slope, icept, cov_p,
                 cov_p / (sqrt(var_x) * sqrt(var_y)) AS corr_xy
          FROM c
        )
        SELECT l_returnflag, n_rows, slope, icept, cov_p, corr_xy,
               corr_xy * corr_xy AS r2,
               1 AS slope_ok, 1 AS icept_ok, 1 AS r2_ok,
               1 AS corr_ok, 1 AS covar_ok
        FROM d ORDER BY l_returnflag
      """.trim)),

    // approx_percentile (GK sketch) envelope audit — the quantile twin of
    // q169's HLL gate: the sketch value itself is engine-local, but its
    // CONTRACT (returned value's exact rank within n/accuracy of the target
    // rank) is machine-checked by ranking the approx answer against the
    // exact distribution. accuracy=100 keeps the envelope meaningful
    // (+-1% of n), the discrete exact p50 rides the q69 pick. Two
    // aggregates + one broadcast-back join of 5 rows.
    Q(
      "q182_approx_percentile_gate",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        val approx = ev.groupBy("event_type")
          .agg(expr("approx_percentile(value, 0.5, 100)").as("__ap"),
            count(lit(1)).as("n_events"))
        val exact = ev.select(col("event_type"), col("value"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy("value")))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(max(when(col("rn") === floor((col("n") * 50 + lit(99)) / lit(100)).cast("int"),
            col("value"))).as("p50_exact"))
        val ranked = ev.join(broadcast(approx), Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n_events")).as("n_events"),
            sum(when(col("value") <= col("__ap"), 1L).otherwise(0L)).as("__rank_ap"))
          .withColumn("lo", col("n_events") * 50 / lit(100) - col("n_events") / lit(100) - 1)
          .withColumn("hi", col("n_events") * 50 / lit(100) + col("n_events") / lit(100) + 1)
          .select(col("event_type"), col("n_events"),
            when(col("__rank_ap").between(col("lo"), col("hi")), 1).otherwise(0)
              .cast("int").as("envelope_ok"))
        ranked.join(exact, Seq("event_type"))
          .select("event_type", "n_events", "p50_exact", "envelope_ok")
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_events,
               MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50_exact,
               1 AS envelope_ok
        FROM r GROUP BY event_type ORDER BY event_type
      """.trim)),

    // Time-weighted average value (TWAP): each event's value holds until
    // the user's next event; the average weights each value by its holding
    // duration. All weighting is EXACT integer math — cents x microseconds
    // products summed in decimal(38,0) — with two final double divisions
    // (identical in any engine). One key shuffle for the lead window plus
    // the per-user aggregate on the same key. The big sum exceeds int64, so
    // the oracle casts it through VARCHAR (DuckDB's hugeint->double direct
    // cast is not correctly rounded — see q180).
    Q(
      "q186_twap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            (col("value").cast("decimal(8,2)") * 100).cast("long").as("cents"))
          .withColumn("next_us", lead(col("us"), 1).over(w))
          .filter(col("next_us").isNotNull)
          .withColumn("wprod",
            (col("cents") * (col("next_us") - col("us"))).cast("decimal(38,0)"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_segments"),
            sum(col("wprod")).as("__sw"),
            sum(col("next_us") - col("us")).as("__dur"))
          .filter(col("__dur") > 0)
          .select(col("user_id"), col("n_segments"),
            (col("__sw").cast("double") / lit(100.0) / col("__dur").cast("double"))
              .as("twap"))
          .orderBy("user_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CAST(CAST(value AS DECIMAL(8,2)) * 100 AS BIGINT) AS cents
          FROM events
        ), seg AS (
          SELECT user_id, cents, us,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
          FROM e
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(CAST(SUM(CAST(cents * (next_us - us) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
                 / 100.0 / CAST(CAST(SUM(next_us - us) AS BIGINT) AS DOUBLE) AS twap
        FROM seg WHERE next_us IS NOT NULL
        GROUP BY user_id HAVING CAST(SUM(next_us - us) AS BIGINT) > 0
        ORDER BY user_id
      """.trim)),

    // Permissive-CSV quarantine, oracle-gated (X78 was spec-only): nation
    // re-landed as CSV with a deterministic corruption rule (every 5th key
    // gets a non-numeric n_regionkey), read back through csvPermissive's
    // corrupt-record capture, and routed good/bad — the never-FAILFAST
    // pattern for dirty feeds at 100 TB. The cache() barrier before
    // splitting on the corrupt column is the Spark-documented requirement.
    Q(
      "q187_csv_quarantine",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val path = Scratch.dir(s, dir, "quarantine_csv")
        Tables.nation(s, dir).select(
            col("n_nationkey").cast("string").as("n_nationkey"),
            col("n_name"),
            when(col("n_nationkey") % 5 === 0, lit("XX"))
              .otherwise(col("n_regionkey").cast("string")).as("n_regionkey"))
          .write.mode("overwrite").option("header", "true").csv(path)
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType), StructField("n_name", StringType),
          StructField("n_regionkey", LongType)))
        val read = Sources.csvPermissive(s, path, schema).cache()
        val bad = read.filter(col(Sources.CorruptCol).isNotNull)
        val good = read.filter(col(Sources.CorruptCol).isNull)
        good.agg(count(lit(1)).as("n_rows"),
            sum(col("n_regionkey")).as("region_sum"))
          .select(lit("good").as("status"), col("n_rows"), col("region_sum"))
          .unionByName(
            bad.agg(count(lit(1)).as("n_rows"))
              .select(lit("bad").as("status"), col("n_rows"),
                lit(-1L).as("region_sum")))
          .orderBy("status")
      },
      Some("""
        SELECT 'bad' AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(-1 AS BIGINT) AS region_sum
        FROM nation WHERE n_nationkey % 5 = 0
        UNION ALL
        SELECT 'good', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_regionkey) AS BIGINT)
        FROM nation WHERE n_nationkey % 5 != 0
        ORDER BY status
      """.trim)),

    // observe() load-audit metrics, oracle-gated (X74 was spec-only): the
    // write job itself computes row count, an exact decimal sum, and a
    // predicate count via AggregatingAccumulators (NO second scan of the
    // data — the point of observe at scale), and the query emits the
    // observed values plus the sink's read-back count. The oracle restates
    // all four from the source table, proving the metrics describe what
    // was actually written.
    Q(
      "q188_observe_metrics",
      (s, dir) => {
        val path = Scratch.dir(s, dir, "observed_orders")
        val proj = Tables.orders(s, dir)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
        val m = Sinks.writeParquetObserved(proj, path, Map(
          "n_rows" -> count(lit(1)),
          "sum_price" -> sum(col("o_totalprice").cast("decimal(24,2)")),
          "n_open" -> sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))))
        val readBack = Sources.parquet(s, path).count()
        import s.implicits._
        Seq((m("n_rows").asInstanceOf[Long],
          m("sum_price").asInstanceOf[java.math.BigDecimal].doubleValue(),
          m("n_open").asInstanceOf[Long], readBack))
          .toDF("n_rows", "sum_price", "n_open", "n_readback")
      },
      Some("""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_price,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
               COUNT(*) AS n_readback
        FROM orders
      """.trim)),

    // Daily resample + LOCF densification — the time-series feature-prep
    // op: per (user, day) keep the LAST event's value (row_number pick on a
    // total order — exact), build each user's dense calendar spine with
    // sequence/explode (the S6 generator applied per key), and forward-fill
    // gap days from the last observed value. Every window is user-
    // partitioned (no global funnel); the spine join is keyed on
    // (user, day). The spine starts at each user's first observed day, so
    // LOCF never reads before its first value.
    Q(
      "q190_resample_locf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("value"),
            unix_micros(col("ts")).as("us"), col("ts").cast("date").as("day"))
        val wPick = Window.partitionBy("user_id", "day")
          .orderBy(col("us").desc, col("event_id").desc)
        val daily = ev.withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"), col("value"))
        val spine = daily.groupBy("user_id")
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
        val wFill = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("user_id", "day"), "left")
          .withColumn("v_filled", last(col("value"), ignoreNulls = true).over(wFill))
          .withColumn("was_filled",
            when(col("value").isNull, 1).otherwise(0).cast("int"))
          .select("user_id", "day", "v_filled", "was_filled")
          .orderBy("user_id", "day")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS us,
                 CAST(ts AS DATE) AS day
          FROM events
        ), daily AS (
          SELECT user_id, day, value FROM e
          QUALIFY row_number() OVER (PARTITION BY user_id, day
            ORDER BY us DESC, event_id DESC) = 1
        ), bounds AS (
          SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
        ), spine AS (
          SELECT user_id,
                 CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                   CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
          FROM bounds
        )
        SELECT s.user_id AS user_id, s.day AS day,
               last_value(d.value IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
               CAST(CASE WHEN d.value IS NULL THEN 1 ELSE 0 END AS INTEGER) AS was_filled
        FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
        ORDER BY user_id, day
      """.trim)),

    // Hopping (sliding) window aggregation in BATCH — Spark's built-in
    // window(ts, windowDuration, slideDuration) with overlap: each event
    // lands in windowDuration/slideDuration buckets (here 2h/1h = 2), the
    // generate-then-hash-aggregate shape that replaces a self-join against
    // a window spine. The tumbling form is q33/q122's; this gates the
    // OVERLAPPING form, whose oracle expands each row to its two window
    // starts explicitly. Epoch-aligned starts (Spark's default) match the
    // oracle's date_trunc arithmetic exactly.
    Q(
      "q260_hopping_window",
      (s, dir) => {
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            Exact.sumD(col("value")).as("sum_value"))
          .select(col("window.start").as("w_start"),
            col("window.end").as("w_end"),
            col("event_type"), col("n_events"), col("sum_value"))
          .orderBy("w_start", "event_type")
      },
      Some("""
        WITH ex AS (
          SELECT event_type, value,
                 unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                         date_trunc('hour', ts)]) AS w_start
          FROM events
        )
        SELECT w_start, w_start + INTERVAL 2 HOUR AS w_end, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(24,2))) AS DOUBLE) AS sum_value
        FROM ex GROUP BY 1, 2, 3 ORDER BY w_start, event_type
      """.trim)),

    // Attribution with a match window — the as-of join bounded by a
    // tolerance (pandas merge_asof semantics, engine op
    // AsOfJoin.asofBackwardWithin): a purchase is credited to the user's
    // latest prior view ONLY if it happened within 30 minutes; older views
    // null out in the same one-shuffle union-window pass (no second join).
    // Daily rollup: purchases, attributed purchases, and the exact
    // integer-microsecond latency mass of the attributed ones. Views are
    // deduped per (user, ts) so both engines' as-of picks are unique.
    Q(
      "q261_attribution_window",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
          .withColumn("tb", lit(0L))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"),
            col("event_id").as("purchase_id"), lit(0L).as("tb"))
        AsOfJoin.asofBackwardWithin(purchases, views,
            key = "user_id", leftTime = "pts", rightTime = "ts",
            tieBreak = "tb", rightVals = Seq("view_id"),
            maxStalenessUs = 1800000000L, matchedTimeCol = "vts")
          .groupBy(col("pts").cast("date").as("day"))
          .agg(count(lit(1)).as("n_purchases"),
            count(col("view_id")).as("n_attributed"),
            sum(coalesce(unix_micros(col("pts")) - unix_micros(col("vts")),
              lit(0L))).as("latency_us_sum"))
          .orderBy("day")
      },
      Some("""
        WITH v AS (
          SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS view_id
          FROM events WHERE event_type = 'view' GROUP BY 1, 2
        ), p AS (
          SELECT user_id, ts AS pts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'
        ), j AS (
          SELECT p.user_id, p.pts,
                 CASE WHEN epoch_us(p.pts) - epoch_us(v.ts) <= 1800000000
                      THEN v.view_id END AS view_id,
                 CASE WHEN epoch_us(p.pts) - epoch_us(v.ts) <= 1800000000
                      THEN v.ts END AS vts
          FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.pts
        )
        SELECT CAST(pts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(COUNT(view_id) AS BIGINT) AS n_attributed,
               CAST(SUM(COALESCE(epoch_us(pts) - epoch_us(vts), 0)) AS BIGINT)
                 AS latency_us_sum
        FROM j GROUP BY 1 ORDER BY day
      """.trim)),

    // Leave-one-out target encoding — the categorical-feature prep that
    // replaces a category with the mean target of the OTHER rows in that
    // category ((sum - own)/(n - 1)), the standard leakage-free encoder
    // for training tables. One per-category aggregate broadcast back over
    // the rows; the subtraction stays in exact decimal space, so the only
    // IEEE op is the final division — bit-identical in both engines (the
    // oracle routes its wide decimal through VARCHAR, the q180 hugeint-
    // cast workaround). Output bounded by a deterministic key slice.
    Q(
      "q262_target_encoding",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
        val seg = o.groupBy(col("c_mktsegment").as("seg"))
          .agg(sum(col("o_totalprice").cast("decimal(24,2)")).as("seg_sum"),
            count(lit(1)).as("seg_n"))
        o.join(broadcast(seg), col("c_mktsegment") === col("seg"))
          .filter(col("o_orderkey") % 37 === 0)
          .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
            ((col("seg_sum") - col("o_totalprice").cast("decimal(24,2)")).cast("double")
              / (col("seg_n") - lit(1L)).cast("double")).as("loo_mean"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, c_mktsegment, o_totalprice
          FROM orders JOIN customer ON o_custkey = c_custkey
        ), seg AS (
          SELECT c_mktsegment AS seg,
                 SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS seg_sum,
                 COUNT(*) AS seg_n
          FROM o GROUP BY 1
        )
        SELECT o_orderkey, c_mktsegment, o_totalprice,
               CAST(CAST(seg_sum - CAST(o_totalprice AS DECIMAL(24,2)) AS VARCHAR)
                 AS DOUBLE) / CAST(seg_n - 1 AS DOUBLE) AS loo_mean
        FROM o JOIN seg ON c_mktsegment = seg
        WHERE o_orderkey % 37 = 0
        ORDER BY o_orderkey
      """.trim)),

    // Relational integrity audit — the constraint checks a warehouse runs
    // before trusting a load: FK orphans both directions, childless
    // parents, cross-table date inversions, a recomputed-total consistency
    // rule in exact decimal space, and a domain bound. Each rule is ONE
    // conditional aggregate over an (anti/left/inner) join — never a
    // row-level quarantine copy — so the audit costs a handful of
    // shuffle-light passes regardless of violation count. The synthetic
    // data genuinely violates two rules (ship-before-order dates,
    // totalprice drift), so the gate checks real nonzero counts.
    Q(
      "q265_integrity_audit",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val r1 = li.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("fk_lineitem_orders").as("rule"), col("n_checked"), col("n_violations"))
        val r2 = o.select(col("o_custkey"))
          .join(c.select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("fk_orders_customer").as("rule"), col("n_checked"), col("n_violations"))
        val r3 = o.select(col("o_orderkey"))
          .join(li.select(col("l_orderkey")).distinct(),
            col("o_orderkey") === col("l_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("childless_orders").as("rule"), col("n_checked"), col("n_violations"))
        val r4 = li.select(col("l_orderkey"), col("l_shipdate"))
          .join(o.select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
              .as("n_violations"))
          .select(lit("ship_before_order").as("rule"), col("n_checked"), col("n_violations"))
        val recomputed = li.groupBy(col("l_orderkey"))
          .agg(round(sum(((col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1) - col("l_discount").cast("decimal(18,2)"))).cast("decimal(24,4)")
            * (lit(1) + col("l_tax").cast("decimal(19,2)")))), 2).as("rec_total"))
        val r5 = o.select(col("o_orderkey"), col("o_totalprice"))
          .join(recomputed, col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("n_checked"),
            sum(when(abs(col("o_totalprice").cast("decimal(18,2)") - col("rec_total"))
              > lit(0.01).cast("decimal(18,2)"), 1L).otherwise(0L)).as("n_violations"))
          .select(lit("totalprice_consistency").as("rule"), col("n_checked"), col("n_violations"))
        val r6 = li
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("l_quantity") <= 0.0 || col("l_quantity") > 50.0, 1L)
              .otherwise(0L)).as("n_violations"))
          .select(lit("quantity_domain").as("rule"), col("n_checked"), col("n_violations"))
        r1.unionByName(r2).unionByName(r3).unionByName(r4)
          .unionByName(r5).unionByName(r6)
          .orderBy("rule")
      },
      Some("""
        SELECT 'fk_lineitem_orders' AS rule,
               CAST(COUNT(*) AS BIGINT) AS n_checked,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violations
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'fk_orders_customer', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        UNION ALL
        SELECT 'childless_orders', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders LEFT JOIN
          (SELECT DISTINCT l_orderkey AS k FROM lineitem) ON o_orderkey = k
        UNION ALL
        SELECT 'ship_before_order', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        UNION ALL
        SELECT 'totalprice_consistency', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN abs(CAST(o_totalprice AS DECIMAL(18,2)) - rec_total)
                 > CAST(0.01 AS DECIMAL(18,2)) THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders JOIN (
          SELECT l_orderkey,
                 round(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(24,4))
                   * (1 + CAST(l_tax AS DECIMAL(19,2)))), 2) AS rec_total
          FROM lineitem GROUP BY 1
        ) ON o_orderkey = l_orderkey
        UNION ALL
        SELECT 'quantity_domain', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_quantity <= 0.0 OR l_quantity > 50.0
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        ORDER BY rule
      """.trim)),

    // Plain-text source/sink round-trip — the last uncovered file format
    // (CSV, JSON-lines, parquet, ORC, binaryFile are all gated): write the
    // document corpus as raw text lines (one doc per line — the corpus is
    // single-line ASCII, so lines ARE records), read it back with the text
    // source, and fingerprint the result with order-independent exact
    // aggregates. Text is the format training corpora actually arrive in;
    // the gate proves lossless line round-tripping, not just row counts.
    Q(
      "q266_text_roundtrip",
      (s, dir) => {
        val path = Scratch.dir(s, dir, "q266_text")
        Tables.documents(s, dir).select(col("text"))
          .write.mode("overwrite").text(path)
        s.read.text(path)
          .agg(count(lit(1)).as("n_lines"),
            countDistinct(col("value")).as("n_distinct_lines"),
            sum(length(col("value")).cast("long")).as("total_chars"),
            min(length(col("value"))).as("min_len"),
            max(length(col("value"))).as("max_len"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_lines,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars,
               CAST(MIN(length(text)) AS INTEGER) AS min_len,
               CAST(MAX(length(text)) AS INTEGER) AS max_len
        FROM documents
      """.trim)),

    // Typed-Aggregator centroid gate — the programmatic
    // KeyValueGroupedDataset.agg path (custom UDAF surface) made
    // hash-comparable: QuantizedCentroidAggregator holds per-dim FIXED-POINT
    // LONG sums (floor(v * 2^24) — integer addition is merge-order-free, so
    // any partitioning yields bit-identical buffers), with the single double
    // division at finish mirrored verbatim by the oracle. This value-gates
    // the typed-UDAF vector path; the order-dependent double-sum twin was
    // retired in round 6 so the gated aggregator is the ONLY centroid UDAF.
    Q(
      "q399_centroid_udaf_gate",
      (s, dir) => {
        import s.implicits._
        val e = Tables.embeddings(s, dir)
        val dim = e.select(size(col("embedding"))).head.getInt(0)
        e.select(col("label"), col("embedding").as("v"))
          .as[(Int, Seq[Float])]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(new graft.functions.QuantizedCentroidAggregator(dim)
            .toColumn.name("centroid"))
          .toDF("label", "centroid")
          .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "mean")))
          .orderBy("label", "dim")
      },
      Some("""
        SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
               CAST(SUM(CAST(floor(CAST(u.v AS DOUBLE) * 16777216.0) AS BIGINT))
                 AS DOUBLE) / COUNT(*) / 16777216.0 AS mean
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS i) u
        GROUP BY label, dim ORDER BY label, dim
      """.trim))
  )
}
