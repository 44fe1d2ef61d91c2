package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Sources

/** Operations/monitoring wave: time-sliced distribution bands, forecasting
  * baselines, and serving-side report shapes. Exactness discipline as
  * everywhere in the registry: integer micros/cents end-to-end, per-slice
  * partitioned windows only, divisions stated in integer basis points or
  * performed once on exact integers.
  */
object OpsQueries {

  val qs: Seq[Q] = Seq(

    // Weekly latency percentile bands — the SLO dashboard's p50/p90 over
    // time, exact: inter-event gaps in integer micros slice into weeks,
    // and each week's percentiles are EXACT order statistics
    // (percentile_disc: smallest value whose rank reaches ceil(q·n/100))
    // picked by conditional aggregation over per-week partitioned ranks.
    // No sketch error bars, no unpartitioned window, no floating point.
    Q(
      "q336_percentile_bands",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gaps = Tables.events(s, dir)
          .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(date_trunc("week", col("ts")).cast("date").as("week"),
            (unix_micros(col("ts")) - col("prev")).as("gap_us"))
        val wk = Window.partitionBy("week").orderBy("gap_us")
        val ranked = gaps
          .withColumn("rk", row_number().over(wk))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("week")))
        def pct(q: Int, name: String) =
          max(when(col("rk") === expr(s"(n * $q + 99) div 100"), col("gap_us")))
            .cast("long").as(name)
        ranked.groupBy("week")
          .agg(count(lit(1)).as("n_gaps"), pct(50, "p50_us"), pct(90, "p90_us"),
            pct(99, "p99_us"))
          .orderBy("week")
      },
      Some("""
        WITH gaps AS (
          SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), ranked AS (
          SELECT week, gap_us,
                 row_number() OVER (PARTITION BY week ORDER BY gap_us) AS rk,
                 COUNT(*) OVER (PARTITION BY week) AS n
          FROM gaps WHERE gap_us IS NOT NULL
        )
        SELECT week, CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(MAX(CASE WHEN rk = (n * 50 + 99) // 100 THEN gap_us END)
                 AS BIGINT) AS p50_us,
               CAST(MAX(CASE WHEN rk = (n * 90 + 99) // 100 THEN gap_us END)
                 AS BIGINT) AS p90_us,
               CAST(MAX(CASE WHEN rk = (n * 99 + 99) // 100 THEN gap_us END)
                 AS BIGINT) AS p99_us
        FROM ranked GROUP BY week ORDER BY week
      """.trim)),

    // Seasonal-naive forecast evaluation — before any model ships, beat
    // the baseline: forecast(day) = actual(same weekday last week), with
    // the error ratio vs the one-day-naive baseline (the MASE shape) in
    // exact integer basis points. Alignment is date-arithmetic
    // SELF-JOINS (day-7 and day-1) — no windows, no gaps-handling
    // ambiguity: only days with both sides present score, and the counts
    // of scored days are emitted so the oracle pins coverage too.
    Q(
      "q337_seasonal_naive",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        def shifted(days: Int, name: String) = daily.select(col("event_type"),
          date_add(col("day"), days).as("day"), col("n").as(name))
        val weekly = daily.join(shifted(7, "n_lastweek"),
            Seq("event_type", "day"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days_seasonal"),
            sum(abs(col("n") - col("n_lastweek"))).cast("long").as("seasonal_abs_err"))
        val naive = daily.join(shifted(1, "n_yesterday"),
            Seq("event_type", "day"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_days_naive"),
            sum(abs(col("n") - col("n_yesterday"))).cast("long").as("naive_abs_err"))
        weekly.join(naive, "event_type")
          .select(col("event_type"), col("n_days_seasonal"), col("n_days_naive"),
            col("seasonal_abs_err"), col("naive_abs_err"),
            expr("(seasonal_abs_err * 10000) div greatest(naive_abs_err, 1)")
              .as("mase_bp"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), weekly AS (
          SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_days_seasonal,
                 CAST(SUM(abs(a.n - b.n)) AS BIGINT) AS seasonal_abs_err
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day = b.day + 7
          GROUP BY 1
        ), naive AS (
          SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS n_days_naive,
                 CAST(SUM(abs(a.n - b.n)) AS BIGINT) AS naive_abs_err
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day = b.day + 1
          GROUP BY 1
        )
        SELECT weekly.event_type, n_days_seasonal, n_days_naive,
               seasonal_abs_err, naive_abs_err,
               CAST((seasonal_abs_err * 10000) // greatest(naive_abs_err, 1)
                 AS BIGINT) AS mase_bp
        FROM weekly JOIN naive ON weekly.event_type = naive.event_type
        ORDER BY weekly.event_type
      """.trim)),

    // Sampling-estimator audit — before trusting any sampled dashboard,
    // price the estimator: a deterministic 10% hash sample (o_orderkey %
    // 10 = 3 — reproducible, no RNG) scales up by exactly 10x and the
    // signed error vs ground truth lands in integer basis points, per
    // priority stratum and overall. The audit shape that tells you
    // whether sampled metrics are safe to serve — and the exact-integer
    // twin of what sampling estimators usually report with error bars.
    Q(
      "q338_sample_estimator",
      (s, dir) => {
        import graft.Tables
        val o = Tables.orders(s, dir)
          .select(col("o_orderpriority"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("c"),
            col("o_orderkey"))
        val truth = o.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("true_n"), sum(col("c")).cast("long").as("true_cents"))
        val est = o.filter(col("o_orderkey") % 10 === 3)
          .groupBy("o_orderpriority")
          .agg((count(lit(1)) * 10).as("est_n"),
            (sum(col("c")) * 10).cast("long").as("est_cents"))
        truth.join(est, "o_orderpriority")
          .select(col("o_orderpriority"), col("true_n"), col("est_n"),
            col("true_cents"), col("est_cents"),
            expr("((est_cents - true_cents) * 10000) div true_cents")
              .as("err_bp"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH o AS (
          SELECT o_orderpriority, o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM orders
        ), truth AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS true_n,
                 CAST(SUM(c) AS BIGINT) AS true_cents
          FROM o GROUP BY 1
        ), est AS (
          SELECT o_orderpriority, CAST(COUNT(*) * 10 AS BIGINT) AS est_n,
                 CAST(SUM(c) * 10 AS BIGINT) AS est_cents
          FROM o WHERE o_orderkey % 10 = 3 GROUP BY 1
        )
        SELECT truth.o_orderpriority, true_n, est_n, true_cents, est_cents,
               CAST(((est_cents - true_cents) * 10000) // true_cents AS BIGINT)
                 AS err_bp
        FROM truth JOIN est ON truth.o_orderpriority = est.o_orderpriority
        ORDER BY truth.o_orderpriority
      """.trim)),

    // Market-concentration index (Herfindahl-Hirschman) — per nation, the
    // sum of squared customer revenue shares, the antitrust/portfolio
    // measure of "is this market one whale or many minnows". Shares
    // square in DOLLAR units so the squared sums stay inside int64, and
    // the index lands as HHI×10^8 through one integral division of exact
    // integers (Spark's div accepts decimals, DuckDB's // handles the
    // widened product) — 10^8 = a single customer owning everything.
    Q(
      "q339_hhi_concentration",
      (s, dir) => {
        import graft.Tables
        val rev = Tables.orders(s, dir)
          .groupBy("o_custkey")
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("cents"))
          // dollars by truncating integer div — decimal scale-down
          // rounding conventions differ across engines, cents//100 doesn't
          .select(col("o_custkey"), expr("cents div 100").as("rd"))
        val byNation = rev
          .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rd")).cast("long").as("total_dollars"),
            sum(col("rd") * col("rd")).cast("decimal(38,0)").as("sumsq"))
        byNation
          .select(col("c_nationkey"), col("n_customers"), col("total_dollars"),
            expr("""CAST((sumsq * 100000000) div
                    (CAST(total_dollars AS DECIMAL(38,0))
                     * CAST(total_dollars AS DECIMAL(38,0))) AS BIGINT)""")
              .as("hhi_e8"))
          .orderBy("c_nationkey")
      },
      Some("""
        WITH rev AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) // 100 AS rd
          FROM orders GROUP BY 1
        ), byn AS (
          SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
                 CAST(SUM(rd) AS BIGINT) AS total_dollars,
                 SUM(rd * rd) AS sumsq
          FROM rev JOIN customer ON o_custkey = c_custkey
          GROUP BY 1
        )
        SELECT c_nationkey, n_customers, total_dollars,
               CAST((sumsq * 100000000)
                 // (CAST(total_dollars AS HUGEINT) * total_dollars)
                 AS BIGINT) AS hhi_e8
        FROM byn ORDER BY c_nationkey
      """.trim)),

    // Adversarial CSV quoting round-trip — the ingest hazard q02's clean
    // fixture never meets: values carrying the delimiter, the quote
    // character (doubled on write), literal backslashes, and embedded
    // newlines. The writer must quote/escape them and the multiLine
    // reader must reassemble the records bit-exactly; the gate
    // reconstructs the same adversarial strings relationally in the
    // oracle and hash-compares the round-tripped table. Any quoting
    // convention drift — the classic silent corruption — breaks the hash.
    Q(
      "q340_csv_quoting_roundtrip",
      (s, dir) => {
        import graft.engine.Scratch
        val path = Scratch.dir(s, dir, "csv_quoting")
        val adversarial = Tables.customer(s, dir)
          .select(col("c_custkey"),
            concat(lit("name,\""), col("c_custkey"),
              lit("\"\nline2\\x of "), col("c_custkey") % 7).as("payload"))
        adversarial.coalesce(2).write.mode("overwrite")
          .option("header", "true")
          .option("quoteAll", "false")
          .option("escape", "\"")
          .csv(path)
        s.read
          .option("header", "true")
          .option("multiLine", "true")
          .option("escape", "\"")
          .schema("c_custkey LONG, payload STRING")
          .csv(path)
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey,
               'name,"' || CAST(c_custkey AS VARCHAR) || '"' || chr(10)
                 || 'line2\x of ' || CAST(c_custkey % 7 AS VARCHAR) AS payload
        FROM customer ORDER BY c_custkey
      """.trim)),

    // Time-decay attribution with EXACT geometric weights: the most
    // recent touch before a purchase earns weight 2^(n-1), the one
    // before it 2^(n-2), … — so the credit ratio between adjacent
    // touches is exactly 2 and every weight is an integer. Credits are
    // weight_i * value div (2^n - 1) with the remainder going to the
    // most-recent touches first (q295's largest-remainder closure), so
    // per-purchase credits sum EXACTLY to the purchase value — the decay
    // twin of q327's linear split. Touches cap at the 10 most recent
    // (how attribution is actually configured), which also bounds 2^n and
    // credit*weight far inside the long at any event density.
    Q(
      "q341_decay_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("pts"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long")
              .as("credit"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            unix_micros(col("ts")).as("vts"))
        val byP = Window.partitionBy("purchase_id")
        val touches = purchases
          .join(views.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("vts") < col("pts") &&
            col("vts") >= col("pts") - 1800000000L)
          .withColumn("n", count(lit(1)).over(byP))
          // r = 1 for the MOST RECENT touch -> weight 2^(n-r)
          .withColumn("r", row_number().over(
            byP.orderBy(col("vts").desc, col("view_id").desc)))
          // last-10-touch cap: keeps 2^n and credit*weight far inside the
          // long at ANY event density (and matches how attribution is
          // actually configured)
          .filter(col("r") <= 10)
          .withColumn("n_eff", least(col("n"), lit(10L)))
          .withColumn("weight", expr("CAST(pow(2, n_eff - r) AS BIGINT)"))
          .withColumn("denom", expr("CAST(pow(2, n_eff) AS BIGINT) - 1"))
        touches
          .withColumn("base", expr("(credit * weight) div denom"))
          .withColumn("rem_total",
            col("credit") - sum(col("base")).over(byP))
          .withColumn("credit_micros",
            (col("base") + when(col("r") <= col("rem_total"), 1L).otherwise(0L))
              .cast("long"))
          .withColumn("exact_total",
            when(sum(col("credit_micros")).over(byP) === col("credit"), 1L)
              .otherwise(0L))
          .select(col("purchase_id"), col("view_id"), col("weight"),
            col("credit_micros"), col("exact_total"))
          .orderBy("purchase_id", "view_id")
      },
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT)
                   AS credit
          FROM events WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'
        ), touches AS (
          SELECT purchase_id, view_id, credit, vts,
                 CAST(COUNT(*) OVER w AS BIGINT) AS n,
                 row_number() OVER (PARTITION BY purchase_id
                   ORDER BY vts DESC, view_id DESC) AS r
          FROM p JOIN v ON p.user_id = v.user_id
          WHERE vts < pts AND vts >= pts - 1800000000
          WINDOW w AS (PARTITION BY purchase_id)
        ), capped AS (
          SELECT *, least(n, 10) AS n_eff FROM touches WHERE r <= 10
        ), weighted AS (
          SELECT *,
                 CAST(pow(2, n_eff - r) AS BIGINT) AS weight,
                 CAST(pow(2, n_eff) AS BIGINT) - 1 AS denom
          FROM capped
        ), based AS (
          SELECT *, (credit * weight) // denom AS base
          FROM weighted
        ), closed AS (
          SELECT *,
                 credit - SUM(base) OVER (PARTITION BY purchase_id)
                   AS rem_total
          FROM based
        )
        SELECT purchase_id, view_id, weight,
               CAST(base + CASE WHEN r <= rem_total THEN 1 ELSE 0 END
                 AS BIGINT) AS credit_micros,
               CAST(CASE WHEN SUM(base + CASE WHEN r <= rem_total
                     THEN 1 ELSE 0 END) OVER (PARTITION BY purchase_id)
                   = credit THEN 1 ELSE 0 END AS BIGINT) AS exact_total
        FROM closed ORDER BY purchase_id, view_id
      """.trim)),

    // Quota admission control — multi-tenant fairness in batch form: each
    // user admits at most N events per day (N from a broadcast per-type
    // quota table), keeping the HIGHEST-value events first with a
    // deterministic (value desc, event_id) order. Admission is a rank
    // inside per-(user, day) windows — frames bounded by daily volume —
    // and the output reports per-day admitted/rejected counts with the
    // admitted exact value mass.
    Q(
      "q342_quota_admission",
      (s, dir) => {
        val quotas = Seq(("view", 40L), ("click", 30L), ("purchase", 50L),
          ("signup", 20L), ("error", 10L))
        val quotaDf = { import s.implicits._; quotas.toDF("event_type", "quota") }
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id"),
            to_date(col("ts")).as("day"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long")
              .as("v"))
        val w = Window.partitionBy("user_id", "day", "event_type")
        val ranked = ev
          .join(broadcast(quotaDf), "event_type")
          .withColumn("r", row_number().over(
            w.orderBy(col("v").desc, col("event_id"))))
          .withColumn("admitted", when(col("r") <= col("quota"), 1L).otherwise(0L))
        ranked.groupBy("day", "event_type")
          .agg(sum(col("admitted")).cast("long").as("n_admitted"),
            sum(lit(1L) - col("admitted")).cast("long").as("n_rejected"),
            sum(when(col("admitted") === 1L, col("v")).otherwise(0L))
              .cast("long").as("admitted_value_micros"))
          .orderBy("day", "event_type")
      },
      Some("""
        WITH quotas AS (
          SELECT * FROM (VALUES ('view', 40), ('click', 30), ('purchase', 50),
            ('signup', 20), ('error', 10)) AS t(event_type, quota)
        ), ev AS (
          SELECT user_id, event_type, event_id, CAST(ts AS DATE) AS day,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS v
          FROM events
        ), ranked AS (
          SELECT ev.*, quota,
                 row_number() OVER (PARTITION BY user_id, day, ev.event_type
                   ORDER BY v DESC, event_id) AS r
          FROM ev JOIN quotas ON ev.event_type = quotas.event_type
        )
        SELECT day, event_type,
               CAST(SUM(CASE WHEN r <= quota THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_admitted,
               CAST(SUM(CASE WHEN r <= quota THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_rejected,
               CAST(SUM(CASE WHEN r <= quota THEN v ELSE 0 END) AS BIGINT)
                 AS admitted_value_micros
        FROM ranked GROUP BY day, event_type ORDER BY day, event_type
      """.trim)),

    // Burst detection — each user's PEAK 5-minute event rate, the
    // abuse/rate-limit planning statistic: per-user per-minute counts,
    // then a RANGE window over the integer minute index (rangeBetween
    // -4..0 — gap-correct where a ROWS frame would silently span hours)
    // gives every minute its trailing-5-minute total; the per-user peak
    // keeps the earliest minute on ties via a portable two-step pick.
    Q(
      "q343_burst_detection",
      (s, dir) => {
        val perMin = Tables.events(s, dir)
          .groupBy(col("user_id"),
            expr("unix_micros(ts) div 60000000").as("minute"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("user_id").orderBy("minute")
          .rangeBetween(-4, 0)
        val sliding = perMin.withColumn("n5", sum(col("n")).over(w))
        val peaks = sliding.groupBy("user_id")
          .agg(max(col("n5")).cast("long").as("peak_5min"))
        val first = sliding.join(peaks, "user_id")
          .filter(col("n5") === col("peak_5min"))
          .groupBy("user_id", "peak_5min")
          .agg(min(col("minute")).as("peak_minute"))
        first.select(col("user_id"), col("peak_5min"), col("peak_minute"))
          .orderBy("user_id")
      },
      Some("""
        WITH per_min AS (
          SELECT user_id, epoch_us(ts) // 60000000 AS minute,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), sliding AS (
          SELECT user_id, minute,
                 CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY minute
                   RANGE BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n5
          FROM per_min
        ), peaks AS (
          SELECT user_id, CAST(MAX(n5) AS BIGINT) AS peak_5min
          FROM sliding GROUP BY 1
        )
        SELECT sliding.user_id, peaks.peak_5min,
               CAST(MIN(minute) AS BIGINT) AS peak_minute
        FROM sliding JOIN peaks ON sliding.user_id = peaks.user_id
          AND sliding.n5 = peaks.peak_5min
        GROUP BY sliding.user_id, peaks.peak_5min
        ORDER BY sliding.user_id
      """.trim)),

    // Redirect-cycle detection — the crawl/link-graph hygiene sweep: in a
    // materialized single-out-degree redirect table, every chain ends in
    // a cycle, and chains that LOOP within a few hops are the
    // misconfigurations to flag. Three self-joins walk f, f², f³ and
    // classify each node's cycle length (1 = self-redirect, 2 = A↔B,
    // 3 = triangle, 0 = no short cycle) — bounded-depth graph walking as
    // plain equi-joins, the same shape at any node count.
    Q(
      "q344_redirect_cycles",
      (s, dir) => {
        val nodes = Tables.part(s, dir)
          .select(pmod(col("p_partkey"), lit(100L)).as("node")).distinct()
        val edges = nodes.select(col("node").as("src"),
          pmod(col("node") * 7 + 3, lit(100L)).as("dst"))
        val f1 = edges.select(col("src").as("node"), col("dst").as("f1"))
        val f2 = f1.join(edges.withColumnRenamed("src", "f1")
            .withColumnRenamed("dst", "f2").hint("shuffle_hash"), "f1")
        val f3 = f2.join(edges.withColumnRenamed("src", "f2")
            .withColumnRenamed("dst", "f3").hint("shuffle_hash"), "f2")
        f3.select(col("node"), col("f1"), col("f2"), col("f3"),
            when(col("f1") === col("node"), 1L)
              .when(col("f2") === col("node"), 2L)
              .when(col("f3") === col("node"), 3L)
              .otherwise(0L).as("cycle_len"))
          .orderBy("node")
      },
      Some("""
        WITH nodes AS (
          SELECT DISTINCT p_partkey % 100 AS node FROM part
        ), edges AS (
          SELECT node AS src, (node * 7 + 3) % 100 AS dst FROM nodes
        ), walk AS (
          SELECT e1.src AS node, e1.dst AS f1, e2.dst AS f2, e3.dst AS f3
          FROM edges e1
          JOIN edges e2 ON e1.dst = e2.src
          JOIN edges e3 ON e2.dst = e3.src
        )
        SELECT CAST(node AS BIGINT) AS node, CAST(f1 AS BIGINT) AS f1,
               CAST(f2 AS BIGINT) AS f2, CAST(f3 AS BIGINT) AS f3,
               CAST(CASE WHEN f1 = node THEN 1
                         WHEN f2 = node THEN 2
                         WHEN f3 = node THEN 3
                         ELSE 0 END AS BIGINT) AS cycle_len
        FROM walk ORDER BY node
      """.trim)),

    // Little's-law audit — the queueing invariant as an exact integer
    // identity: the time-integral of instantaneous concurrency equals the
    // sum of interval durations (∫L dt = Σ duration, the integral form of
    // L = λW). Both sides compute INDEPENDENTLY — durations by one map-
    // side sum; the integral by the sweep-line (+1/−1 deltas, global
    // prefix sum through the two-phase RDD machinery — no single-task
    // window — then Σ gap×concurrency) — and the oracle pins their
    // equality, making the sweep-line implementation self-checking.
    Q(
      "q345_littles_law",
      (s, dir) => {
        import graft.engine.Keys
        val ivn = Tables.events(s, dir)
          .select(unix_micros(col("ts")).as("start_us"), col("event_id"),
            ((lit(60L) + pmod(col("event_id"), lit(240L))) * lit(1000000L))
              .as("dur_us"))
        val totalDur = ivn.agg(sum(col("dur_us")).cast("long").as("total_duration_us"))
        val pts = ivn.select(col("start_us").as("t"), lit(1L).as("delta"),
            col("event_id"))
          .unionByName(ivn.select((col("start_us") + col("dur_us")).as("t"),
            lit(-1L).as("delta"), (col("event_id") + 10000000L).as("event_id")))
        val swept = Keys.globalRunningSumBy(pts,
          Seq(col("t"), col("delta"), col("event_id")), "delta", "conc")
        // gap to the NEXT sweep point x current concurrency: the global
        // lead() is restated scale-safely as rank (two-phase, no window)
        // + a rank-shifted self-join — the lead of row rk is the row at
        // rk+1, and the integral is one aggregate of gap*conc
        val ranked = Keys.rankByScalable(swept,
          Seq(col("t"), col("delta"), col("event_id")), "rk")
        val nxt = ranked.select((col("rk") - 1L).as("rk"), col("t").as("t_next"))
        val integral = ranked.join(nxt.hint("shuffle_hash"), Seq("rk"))
          .select(((col("t_next") - col("t")) * col("conc")).as("area"))
          .agg(sum(col("area")).cast("long").as("concurrency_integral_us"))
        totalDur.crossJoin(broadcast(integral))
          .withColumn("identity_holds",
            when(col("total_duration_us") === col("concurrency_integral_us"), 1L)
              .otherwise(0L))
      },
      Some("""
        WITH iv AS (
          SELECT epoch_us(ts) AS start_us, event_id,
                 (60 + event_id % 240) * 1000000 AS dur_us
          FROM events
        ), total AS (
          SELECT CAST(SUM(dur_us) AS BIGINT) AS total_duration_us FROM iv
        ), pts AS (
          SELECT start_us AS t, 1 AS delta, event_id FROM iv
          UNION ALL
          SELECT start_us + dur_us, -1, event_id + 10000000 FROM iv
        ), swept AS (
          SELECT t, delta, event_id,
                 SUM(delta) OVER (ORDER BY t, delta, event_id
                   ROWS UNBOUNDED PRECEDING) AS conc,
                 lead(t) OVER (ORDER BY t, delta, event_id) AS t_next
          FROM pts
        ), integral AS (
          SELECT CAST(SUM((t_next - t) * conc) AS BIGINT)
                   AS concurrency_integral_us
          FROM swept WHERE t_next IS NOT NULL
        )
        SELECT total_duration_us, concurrency_integral_us,
               CAST(CASE WHEN total_duration_us = concurrency_integral_us
                 THEN 1 ELSE 0 END AS BIGINT) AS identity_holds
      FROM total, integral
      """.trim)),

    // Pearson correlation matrix — all 6 feature pairs in ONE pass: the
    // pairs unpivot map-side into (pair, x, y) rows, a single hash
    // aggregate collects the exact integer power sums (features scaled to
    // small integer units so n·Sxy stays far inside int64), and the
    // correlation is the classic (nSxy − SxSy)/√(nSxx−Sx²)/√(nSyy−Sy²)
    // evaluated through an identical IEEE tree in both engines (q310's
    // bitwise-reproducibility discipline). No per-pair scan, no
    // corr()-builtin implementation drift.
    Q(
      "q346_pearson_matrix",
      (s, dir) => {
        val feats = Tables.lineitem(s, dir).select(
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 100000").as("price_k"),
          (col("l_discount").cast("decimal(8,2)") * 100).cast("long").as("disc"),
          (col("l_tax").cast("decimal(8,2)") * 100).cast("long").as("tax"))
        val pairs = feats.select(expr(
          """stack(6,
             'qty_price', qty, price_k,
             'qty_disc',  qty, disc,
             'qty_tax',   qty, tax,
             'price_disc', price_k, disc,
             'price_tax',  price_k, tax,
             'disc_tax',   disc, tax) AS (pair, x, y)"""))
        pairs.groupBy("pair")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
          .select(col("pair"), col("n").cast("long").as("n"),
            expr("""(CAST(n * sxy - sx * sy AS DOUBLE))
                    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))""")
              .as("pearson_r"))
          .orderBy("pair")
      },
      Some("""
        WITH feats AS (
          SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 100000 AS price_k,
                 CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT) AS disc,
                 CAST(CAST(l_tax AS DECIMAL(8,2)) * 100 AS BIGINT) AS tax
          FROM lineitem
        ), pairs AS (
          SELECT 'qty_price' AS pair, qty AS x, price_k AS y FROM feats
          UNION ALL SELECT 'qty_disc', qty, disc FROM feats
          UNION ALL SELECT 'qty_tax', qty, tax FROM feats
          UNION ALL SELECT 'price_disc', price_k, disc FROM feats
          UNION ALL SELECT 'price_tax', price_k, tax FROM feats
          UNION ALL SELECT 'disc_tax', disc, tax FROM feats
        ), sums AS (
          SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(y*y) AS BIGINT) AS syy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy
          FROM pairs GROUP BY pair
        )
        SELECT pair, n,
               (CAST(n * sxy - sx * sy AS DOUBLE))
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
        FROM sums ORDER BY pair
      """.trim)),

    // Parquet aggregate pushdown gate — the DSv2 scan can answer
    // MIN/MAX/COUNT from parquet FOOTER STATISTICS without decoding a
    // single data page (spark.sql.parquet.aggregatePushdown, v2 path):
    // at 100 TB that turns a table-wide MIN/MAX audit into a
    // metadata-only read. The conf flips are scoped-and-restored inside
    // the builder; the plan must carry PushedAggregation (pinned in
    // PlanQualitySpec) and the values must equal the decode-path answer
    // the oracle states.
    Q(
      "q347_agg_pushdown_gate",
      (s, dir) => {
        import graft.engine.Scratch
        val path = Scratch.dir(s, dir, "aggpush")
        Tables.orders(s, dir)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
          .write.mode("overwrite").parquet(path)
        // The DSv2 confs live on an ISOLATED child session (newSession:
        // same SparkContext + catalog, fresh SQLConf): flipping
        // useV1SourceList on the shared session would silently switch any
        // co-running query onto DSv2 scan paths — the conf-immutability
        // invariant documented in Tables.scala. The child session's confs
        // initialize from the shared SparkConf (all builder-time confs:
        // shuffle partitions, timezone, rebase mode), and the frame read
        // below is the locally-written long-typed parquet, so no
        // runtime-set parent conf is load-bearing here.
        val s2 = s.newSession()
        s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        s2.conf.set("spark.sql.sources.useV1SourceList", "")
        // materialize on the scoped session (the pushdown decision is
        // made at execution time), assert the plan actually pushed, and
        // hand back the 1-row result as a local frame
        val resultRow = {
          val df = Sources.parquet(s2, path)
            .agg(count(lit(1)).as("n_rows"),
              min(col("cents")).as("min_cents"),
              max(col("cents")).as("max_cents"))
          require(df.queryExecution.executedPlan.toString
              .contains("PushedAggregation: [COUNT(*), MIN(cents), MAX(cents)]"),
            "parquet aggregate pushdown did not fire")
          df.collect()(0)
        }
        import s.implicits._
        Seq((resultRow.getLong(0), resultRow.getLong(1), resultRow.getLong(2)))
          .toDF("n_rows", "min_cents", "max_cents")
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS min_cents,
               CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS max_cents
        FROM orders
      """.trim)),

    // Partition discovery / repair — the lake-catalog maintenance op:
    // partition directories land on disk OUT OF BAND (another writer,
    // a backfill), and the catalog only serves them after MSCK REPAIR
    // registers the partitions. The gate writes a priority-partitioned
    // directory, declares an EXTERNAL partitioned table over it
    // (initially empty — the catalog knows no partitions), repairs, and
    // reads back THROUGH THE CATALOG: the per-partition rollup proves
    // every out-of-band partition was discovered.
    Q(
      "q348_partition_discovery",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val path = Scratch.dir(s, dir, "part_discovery")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"),
            col("o_orderpriority"))
        Sinks.writePartitioned(o, path, Seq("o_orderpriority"))
        s.sql("DROP TABLE IF EXISTS g348_orders_part")
        s.sql(s"""
          CREATE TABLE g348_orders_part (o_orderkey BIGINT, cents BIGINT)
          USING parquet
          PARTITIONED BY (o_orderpriority STRING)
          LOCATION '$path'""")
        s.sql("MSCK REPAIR TABLE g348_orders_part")
        s.table("g348_orders_part")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).cast("long").as("total_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Rounding-convention surface — financial correctness lives or dies
    // on tie behavior, so the ties are EXACT: v = k + 5/10 built as a
    // true decimal (never a double, whose nearest representable value is
    // off the tie). round (HALF_UP), bround (HALF_EVEN banker's
    // rounding), ceil and floor all evaluate on the same exact ties —
    // including negatives, where conventions bite — and the oracle
    // derives every convention ARITHMETICALLY from k (half-up = away
    // from zero at .5; half-even by parity), trusting no engine builtin.
    Q(
      "q349_rounding_conventions",
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .select((pmod(col("c_custkey"), lit(21L)) - 10L).as("k"))
          .distinct()
          .withColumn("v", expr("CAST(k AS DECIMAL(10,1)) + CAST(0.5 AS DECIMAL(10,1)) * CASE WHEN k >= 0 THEN 1 ELSE -1 END"))
        base.select(col("k"), col("v").cast("double").as("v_display"),
            expr("CAST(round(v, 0) AS BIGINT)").as("round_half_up"),
            expr("CAST(bround(v, 0) AS BIGINT)").as("round_half_even"),
            expr("CAST(ceil(v) AS BIGINT)").as("ceil_v"),
            expr("CAST(floor(v) AS BIGINT)").as("floor_v"))
          .orderBy("k")
      },
      Some("""
        WITH base AS (
          SELECT DISTINCT (c_custkey % 21) - 10 AS k FROM customer
        )
        SELECT k,
               CAST(k AS DOUBLE)
                 + 0.5 * (CASE WHEN k >= 0 THEN 1 ELSE -1 END) AS v_display,
               -- every v is an exact .5 tie with neighbors (k, k+1) for
               -- k >= 0 and (k-1, k) for k < 0; each convention derives
               -- arithmetically from k and its parity
               CAST(CASE WHEN k >= 0 THEN k + 1 ELSE k - 1 END AS BIGINT)
                 AS round_half_up,
               CAST(CASE WHEN k % 2 = 0 THEN k
                         WHEN k >= 0 THEN k + 1
                         ELSE k - 1 END AS BIGINT) AS round_half_even,
               CAST(CASE WHEN k >= 0 THEN k + 1 ELSE k END AS BIGINT)
                 AS ceil_v,
               CAST(CASE WHEN k >= 0 THEN k ELSE k - 1 END AS BIGINT)
                 AS floor_v
        FROM base ORDER BY k
      """.trim)),

    // Salted JOIN equivalence — the skew defense q71 proves for
    // aggregates, proven for joins: a 10-hot-key fact would funnel into
    // 10 shuffle partitions, so the fact side salts (event_id % 8) and
    // the small side REPLICATES 8x with every salt value; the join key
    // becomes (key, salt) and the hot rows spread across 80 tasks. The
    // oracle is the PLAIN join — bit-identical results are the whole
    // point of the transform, and the gate hash-pins that equivalence.
    Q(
      "q350_salted_join",
      (s, dir) => {
        val fact = Tables.events(s, dir)
          .select(pmod(col("user_id"), lit(10L)).as("hk"), col("event_id"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long").as("v"))
          .withColumn("salt", pmod(col("event_id"), lit(8L)))
        val dim = { import s.implicits._
          (0L until 10L).map(k => (k, k * 3 + 1)).toDF("hk", "multiplier") }
        val saltedDim = dim
          .select(col("hk"), col("multiplier"),
            explode(sequence(lit(0L), lit(7L))).as("salt"))
        fact.join(saltedDim.hint("shuffle_hash"), Seq("hk", "salt"))
          .groupBy("hk")
          .agg(count(lit(1)).as("n_events"),
            max(col("multiplier")).as("multiplier"),
            sum(col("v") * col("multiplier")).cast("long")
              .as("weighted_micros"))
          .orderBy("hk")
      },
      Some("""
        WITH fact AS (
          SELECT user_id % 10 AS hk,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS v
          FROM events
        ), dim AS (
          SELECT k AS hk, k * 3 + 1 AS multiplier
          FROM generate_series(0, 9) AS t(k)
        )
        SELECT fact.hk, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(multiplier) AS BIGINT) AS multiplier,
               CAST(SUM(v * multiplier) AS BIGINT) AS weighted_micros
        FROM fact JOIN dim ON fact.hk = dim.hk
        GROUP BY fact.hk ORDER BY fact.hk
      """.trim)),

    // MDM code crosswalk — master-data conformance: source systems emit
    // local status codes, the crosswalk maps them to canonical values,
    // and codes the crosswalk doesn't know QUARANTINE under an explicit
    // UNMAPPED bucket instead of silently dropping (the left join +
    // coalesce discipline). Coverage in integer bp closes the audit:
    // how much of the source landed on a governed code.
    Q(
      "q351_mdm_crosswalk",
      (s, dir) => {
        val coded = Tables.supplier(s, dir)
          .select(col("s_suppkey"), pmod(col("s_suppkey"), lit(13L)).as("code"))
        val crosswalk = { import s.implicits._
          (0L until 10L).map(c => (c, s"STATUS_${c % 4}")).toDF("code", "canonical") }
        val mapped = coded.join(broadcast(crosswalk), Seq("code"), "left")
          .withColumn("canonical", coalesce(col("canonical"), lit("UNMAPPED")))
        val total = coded.agg(count(lit(1)).as("__t"))
        mapped.groupBy("canonical")
          .agg(count(lit(1)).as("n_suppliers"),
            countDistinct(col("code")).as("n_source_codes"))
          .crossJoin(broadcast(total))
          .withColumn("share_bp", expr("(n_suppliers * 10000) div __t"))
          .select(col("canonical"), col("n_suppliers"), col("n_source_codes"),
            col("share_bp"))
          .orderBy("canonical")
      },
      Some("""
        WITH coded AS (
          SELECT s_suppkey, s_suppkey % 13 AS code FROM supplier
        ), crosswalk AS (
          SELECT c AS code, 'STATUS_' || CAST(c % 4 AS VARCHAR) AS canonical
          FROM generate_series(0, 9) AS t(c)
        ), mapped AS (
          SELECT coalesce(canonical, 'UNMAPPED') AS canonical, code
          FROM coded LEFT JOIN crosswalk USING (code)
        ), total AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM coded
        )
        SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(COUNT(DISTINCT code) AS BIGINT) AS n_source_codes,
               CAST((COUNT(*) * 10000) // t AS BIGINT) AS share_bp
        FROM mapped, total
        GROUP BY canonical, t ORDER BY canonical
      """.trim)),

    // Composite event pattern (the MATCH_RECOGNIZE shape): signup
    // followed by AT LEAST TWO clicks within 24 hours and a purchase
    // within 48 — sequence, counting quantifier, and deadline in one
    // pattern (windows sized to this corpus's event density so the
    // pattern has a real match population). Each leg is a bounded per-user time-window join
    // aggregated per signup (count for the quantifier, min for the
    // earliest qualifying purchase); the pattern verdict is a join of
    // the legs — no state machine, no per-row recursion, scales as two
    // window-bounded joins.
    Q(
      "q352_cep_pattern",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def typed(t: String, idName: String, tsName: String) =
          ev.filter(col("event_type") === t)
            .select(col("user_id"), col("event_id").as(idName),
              unix_micros(col("ts")).as(tsName))
        val signups = typed("signup", "signup_id", "sts")
        val clicks = typed("click", "click_id", "cts")
        val purchases = typed("purchase", "purchase_id", "pts")
        val clickLeg = signups
          .join(clicks.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("cts") > col("sts") &&
            col("cts") <= col("sts") + 86400000000L)
          .groupBy("user_id", "signup_id", "sts")
          .agg(count(lit(1)).as("n_clicks_24h"))
          .filter(col("n_clicks_24h") >= 2)
        val purchaseLeg = signups
          .join(purchases.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("pts") > col("sts") &&
            col("pts") <= col("sts") + 172800000000L)
          .groupBy("signup_id")
          .agg(min(col("purchase_id")).as("first_purchase_id"))
        clickLeg.join(purchaseLeg, "signup_id")
          .select(col("user_id"), col("signup_id"), col("n_clicks_24h"),
            col("first_purchase_id"))
          .orderBy("signup_id")
      },
      Some("""
        WITH sg AS (
          SELECT user_id, event_id AS signup_id, epoch_us(ts) AS sts
          FROM events WHERE event_type = 'signup'
        ), ck AS (
          SELECT user_id, epoch_us(ts) AS cts
          FROM events WHERE event_type = 'click'
        ), pu AS (
          SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
          FROM events WHERE event_type = 'purchase'
        ), click_leg AS (
          SELECT sg.user_id, signup_id, CAST(COUNT(*) AS BIGINT) AS n_clicks_24h
          FROM sg JOIN ck ON sg.user_id = ck.user_id
          WHERE cts > sts AND cts <= sts + 86400000000
          GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), purchase_leg AS (
          SELECT signup_id, CAST(MIN(purchase_id) AS BIGINT)
                   AS first_purchase_id
          FROM sg JOIN pu ON sg.user_id = pu.user_id
          WHERE pts > sts AND pts <= sts + 172800000000
          GROUP BY 1
        )
        SELECT user_id, click_leg.signup_id, n_clicks_24h, first_purchase_id
        FROM click_leg JOIN purchase_leg
          ON click_leg.signup_id = purchase_leg.signup_id
        ORDER BY click_leg.signup_id
      """.trim)),

    // Chunked export manifest — planning a deterministic paged export:
    // rows rank globally (two-phase scalable rank, no window) and cut
    // into fixed-size chunks; the manifest rows (chunk, key range, row
    // count, exact value mass) are what a downstream consumer uses to
    // fetch pages idempotently and verify each one. Every chunk is
    // closed [min_key, max_key] with count — resumable export without a
    // cursor server.
    Q(
      "q353_export_manifest",
      (s, dir) => {
        import graft.engine.Keys
        val rows = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val ranked = Keys.rankByScalable(rows, Seq(col("o_orderkey")), "rk")
        ranked
          .withColumn("chunk", expr("(rk - 1) div 1000"))
          .groupBy("chunk")
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            sum(col("cents")).cast("long").as("chunk_cents"))
          .orderBy("chunk")
      },
      Some("""
        WITH ranked AS (
          SELECT o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
                 row_number() OVER (ORDER BY o_orderkey) AS rk
          FROM orders
        )
        SELECT CAST((rk - 1) // 1000 AS BIGINT) AS chunk,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               CAST(SUM(cents) AS BIGINT) AS chunk_cents
        FROM ranked GROUP BY 1 ORDER BY chunk
      """.trim)),

    // Difference-in-differences — the causal-inference workhorse in exact
    // integers: treated customers (key % 4 = 0) vs control, order value
    // before vs after the policy date, and the DiD estimate
    // (ΔT − ΔC of the per-order means) in integer basis points of the
    // control baseline. Means stay exact as (cents_sum, n) pairs and
    // every difference-of-means cross-multiplies into one integral
    // division at the end — four filtered aggregates, windowless.
    Q(
      "q354_diff_in_diff",
      (s, dir) => {
        val cut = lit("1998-01-01").cast("date")
        val o = Tables.orders(s, dir)
          .select((col("o_custkey") % 4 === 0).cast("int").as("treated"),
            (to_date(col("o_orderdate")) >= cut).cast("int").as("after"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val cells = o.groupBy("treated", "after")
          .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("c"))
        val wide = cells.groupBy()
          .pivot(concat(col("treated"), lit("_"), col("after")),
            Seq("0_0", "0_1", "1_0", "1_1"))
          .agg(first(struct(col("n"), col("c"))))
        wide.select(
            col("`0_0`.n").as("n_c_before"), col("`0_1`.n").as("n_c_after"),
            col("`1_0`.n").as("n_t_before"), col("`1_1`.n").as("n_t_after"),
            // DiD of per-order means, exact: each mean is c/n; the DiD in
            // basis points of the control-before mean =
            // ((cT1/nT1 - cT0/nT0) - (cC1/nC1 - cC0/nC0)) / (cC0/nC0)
            // cross-multiplied into integers over the common denominator
            expr("""(CAST(`1_1`.c AS DECIMAL(38,0)) * `1_0`.n * `0_1`.n * `0_0`.n
                     - CAST(`1_0`.c AS DECIMAL(38,0)) * `1_1`.n * `0_1`.n * `0_0`.n
                     - CAST(`0_1`.c AS DECIMAL(38,0)) * `0_0`.n * `1_1`.n * `1_0`.n
                     + CAST(`0_0`.c AS DECIMAL(38,0)) * `0_1`.n * `1_1`.n * `1_0`.n)
                    * 10000
                    div (CAST(`0_0`.c AS DECIMAL(38,0)) * `0_1`.n
                         * `1_1`.n * `1_0`.n)""").as("did_bp"))
      },
      Some("""
        WITH o AS (
          SELECT CASE WHEN o_custkey % 4 = 0 THEN 1 ELSE 0 END AS treated,
                 CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                      THEN 1 ELSE 0 END AS after,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM orders
        ), cells AS (
          SELECT treated, after, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS c
          FROM o GROUP BY 1, 2
        ), w AS (
          SELECT
            MAX(CASE WHEN treated=0 AND after=0 THEN n END) AS n_c_before,
            MAX(CASE WHEN treated=0 AND after=0 THEN c END) AS c_c_before,
            MAX(CASE WHEN treated=0 AND after=1 THEN n END) AS n_c_after,
            MAX(CASE WHEN treated=0 AND after=1 THEN c END) AS c_c_after,
            MAX(CASE WHEN treated=1 AND after=0 THEN n END) AS n_t_before,
            MAX(CASE WHEN treated=1 AND after=0 THEN c END) AS c_t_before,
            MAX(CASE WHEN treated=1 AND after=1 THEN n END) AS n_t_after,
            MAX(CASE WHEN treated=1 AND after=1 THEN c END) AS c_t_after
          FROM cells
        )
        SELECT n_c_before, n_c_after, n_t_before, n_t_after,
               CAST(((CAST(c_t_after AS HUGEINT) * n_t_before * n_c_after * n_c_before
                      - CAST(c_t_before AS HUGEINT) * n_t_after * n_c_after * n_c_before
                      - CAST(c_c_after AS HUGEINT) * n_c_before * n_t_after * n_t_before
                      + CAST(c_c_before AS HUGEINT) * n_c_after * n_t_after * n_t_before)
                    * 10000)
                 // (CAST(c_c_before AS HUGEINT) * n_c_after
                    * n_t_after * n_t_before) AS BIGINT) AS did_bp
        FROM w
      """.trim)),

    // Functional-dependency discovery — schema profiling's "does column A
    // determine column B": A → B holds iff the distinct count of A
    // equals the distinct count of (A, B). Five candidate dependencies
    // over the order/customer join audit both true FDs (custkey →
    // nationkey through the dimension) and false ones (priority ↛
    // status), each verdict from two cheap distinct aggregates — the
    // discovery pass that finds denormalization and key candidates in
    // an unknown table.
    Q(
      "q355_fd_discovery",
      (s, dir) => {
        val t = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        val cands = Seq(
          ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
          ("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
          ("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"),
          ("o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus"),
          ("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
        val frames = cands.map { case (name, a, b) =>
          t.agg(countDistinct(col(a)).as("d_lhs"),
              countDistinct(col(a), col(b)).as("d_pair"))
            .select(lit(name).as("candidate"), col("d_lhs"), col("d_pair"),
              when(col("d_lhs") === col("d_pair"), 1L).otherwise(0L)
                .as("fd_holds"))
        }
        frames.reduce(_ unionByName _).orderBy("candidate")
      },
      Some("""
        WITH t AS (
          SELECT * FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT * FROM (
          SELECT 'o_orderkey->o_custkey' AS candidate,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_lhs,
                 CAST(COUNT(DISTINCT (o_orderkey, o_custkey)) AS BIGINT)
                   AS d_pair,
                 CAST(CASE WHEN COUNT(DISTINCT o_orderkey)
                   = COUNT(DISTINCT (o_orderkey, o_custkey)) THEN 1 ELSE 0 END
                   AS BIGINT) AS fd_holds
          FROM t
          UNION ALL
          SELECT 'o_custkey->c_nationkey',
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
                 CAST(COUNT(DISTINCT (o_custkey, c_nationkey)) AS BIGINT),
                 CAST(CASE WHEN COUNT(DISTINCT o_custkey)
                   = COUNT(DISTINCT (o_custkey, c_nationkey)) THEN 1 ELSE 0 END
                   AS BIGINT)
          FROM t
          UNION ALL
          SELECT 'o_custkey->o_orderstatus',
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
                 CAST(COUNT(DISTINCT (o_custkey, o_orderstatus)) AS BIGINT),
                 CAST(CASE WHEN COUNT(DISTINCT o_custkey)
                   = COUNT(DISTINCT (o_custkey, o_orderstatus)) THEN 1 ELSE 0
                   END AS BIGINT)
          FROM t
          UNION ALL
          SELECT 'o_orderpriority->o_orderstatus',
                 CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                 CAST(COUNT(DISTINCT (o_orderpriority, o_orderstatus))
                   AS BIGINT),
                 CAST(CASE WHEN COUNT(DISTINCT o_orderpriority)
                   = COUNT(DISTINCT (o_orderpriority, o_orderstatus))
                   THEN 1 ELSE 0 END AS BIGINT)
          FROM t
          UNION ALL
          SELECT 'c_nationkey->c_mktsegment',
                 CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
                 CAST(COUNT(DISTINCT (c_nationkey, c_mktsegment)) AS BIGINT),
                 CAST(CASE WHEN COUNT(DISTINCT c_nationkey)
                   = COUNT(DISTINCT (c_nationkey, c_mktsegment)) THEN 1 ELSE 0
                   END AS BIGINT)
          FROM t
        ) ORDER BY candidate
      """.trim)),

    // Inter-session features — the recency/frequency columns a ranking
    // model actually trains on: sessions form by the 30-minute gap rule
    // (per-user windows), aggregate to (start, end, n_events, exact value
    // micros), and each session attaches its PREDECESSOR's summary via a
    // per-user lag — gap since last session, previous size — so every
    // row is a leakage-free "state before this visit" feature vector.
    Q(
      "q356_inter_session_features",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = Tables.events(s, dir)
          .withColumn("prev_ts", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("is_new",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - col("prev_ts") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("is_new")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        val sessions = ev.groupBy("user_id", "session_seq")
          .agg(min(unix_micros(col("ts"))).as("start_us"),
            max(unix_micros(col("ts"))).as("end_us"),
            count(lit(1)).as("n_events"),
            sum((col("value").cast("decimal(16,6)") * 1000000).cast("long"))
              .cast("long").as("value_micros"))
        val ws = Window.partitionBy("user_id").orderBy("session_seq")
        sessions
          .withColumn("gap_since_prev_us",
            col("start_us") - lag(col("end_us"), 1).over(ws))
          .withColumn("prev_n_events", lag(col("n_events"), 1).over(ws))
          .select(col("user_id"), col("session_seq"), col("n_events"),
            col("value_micros"), col("gap_since_prev_us"), col("prev_n_events"))
          .orderBy("user_id", "session_seq")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS v,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), tagged AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM ev
        ), sessions AS (
          SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                 MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(v) AS BIGINT) AS value_micros
          FROM tagged GROUP BY user_id, session_seq
        )
        SELECT user_id, session_seq, n_events, value_micros,
               CAST(start_us - lag(end_us) OVER ws AS BIGINT)
                 AS gap_since_prev_us,
               CAST(lag(n_events) OVER ws AS BIGINT) AS prev_n_events
        FROM sessions
        WINDOW ws AS (PARTITION BY user_id ORDER BY session_seq)
        ORDER BY user_id, session_seq
      """.trim)),

    // Double-booking detection — overlapping interval PAIRS per resource:
    // each event opens a deterministic ≤300 s interval, and two intervals
    // of one user that overlap in time are a conflict. Candidates band on
    // the 300 s start bucket (interval length ≤ bucket width makes the
    // 3-adjacent-bucket probe provably complete — q323's pigeonhole, on
    // intervals), the exact overlap verifies on candidates only, and
    // each pair emits once with its overlap length in micros.
    Q(
      "q357_double_booking",
      (s, dir) => {
        val iv = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("start_us"))
          .withColumn("end_us",
            col("start_us") + (lit(60L) + pmod(col("event_id"), lit(240L)))
              * lit(1000000L))
          .withColumn("bkt", expr("start_us div 300000000"))
        val probes = iv.select(col("user_id"), col("event_id"),
            col("start_us"), col("end_us"),
            explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
        probes.as("a")
          .join(iv.as("b").hint("shuffle_hash"),
            col("a.user_id") === col("b.user_id") &&
              col("a.bkt") === col("b.bkt") &&
              col("a.event_id") < col("b.event_id"))
          .filter(col("a.start_us") < col("b.end_us") &&
            col("b.start_us") < col("a.end_us"))
          .select(col("a.user_id").as("user_id"),
            col("a.event_id").as("id_a"), col("b.event_id").as("id_b"),
            (least(col("a.end_us"), col("b.end_us"))
              - greatest(col("a.start_us"), col("b.start_us")))
              .as("overlap_us"))
          .orderBy("user_id", "id_a", "id_b")
      },
      Some("""
        WITH iv AS (
          SELECT user_id, event_id, epoch_us(ts) AS start_us,
                 epoch_us(ts) + (60 + event_id % 240) * 1000000 AS end_us
          FROM events
        )
        SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
               CAST(least(a.end_us, b.end_us)
                 - greatest(a.start_us, b.start_us) AS BIGINT) AS overlap_us
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND a.start_us < b.end_us AND b.start_us < a.end_us
        ORDER BY a.user_id, id_a, id_b
      """.trim)),

    // Attribution-window sensitivity — the analyst question behind every
    // attribution fight: how much does coverage move if the lookback is
    // 1, 5, or 30 minutes? ONE pass computes each purchase's gap to its
    // latest prior view (two aggregates, no per-window rescan) and three
    // conditional counts read the sweep off the same gaps; coverage in
    // integer bp closes each row. Sensitivity analysis as a single
    // query instead of three re-runs.
    Q(
      "q358_window_sensitivity",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("pts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), unix_micros(col("ts")).as("vts"))
        val gaps = purchases.as("p")
          // the time predicate lives IN the left join: filtering after it
          // would drop purchases whose views are all later, not null them
          .join(views.as("v").hint("shuffle_hash"),
            col("p.user_id") === col("v.user_id") && col("vts") < col("pts"),
            "left")
          .groupBy("purchase_id", "pts")
          .agg(max(col("vts")).as("last_vts"))
          .select(col("purchase_id"), (col("pts") - col("last_vts")).as("gap_us"))
        val total = gaps.count() // deterministic scalar: #purchases
        val windows = Seq(("w01_1min", 60000000L), ("w05_5min", 300000000L),
          ("w30_30min", 1800000000L))
        val frames = windows.map { case (label, w) =>
          gaps.agg(
            sum(when(col("gap_us").isNotNull && col("gap_us") <= w, 1L)
              .otherwise(0L)).cast("long").as("n_attributed"))
            .select(lit(label).as("win_label"), col("n_attributed"),
              expr(s"(n_attributed * 10000) div $total").as("coverage_bp"))
        }
        frames.reduce(_ unionByName _).orderBy("win_label")
      },
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
          FROM events WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'
        ), gaps AS (
          SELECT purchase_id, pts - MAX(vts) AS gap_us
          FROM p LEFT JOIN v ON p.user_id = v.user_id AND vts < pts
          GROUP BY purchase_id, pts
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM gaps
        )
        SELECT w.win_label,
               CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= w.us
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
               CAST(SUM(CASE WHEN gap_us IS NOT NULL AND gap_us <= w.us
                 THEN 1 ELSE 0 END) * 10000 // MAX(t) AS BIGINT)
                 AS coverage_bp
        FROM gaps, tot, (VALUES ('w01_1min', 60000000),
          ('w05_5min', 300000000), ('w30_30min', 1800000000)) AS w(win_label, us)
        GROUP BY w.win_label ORDER BY w.win_label
      """.trim)),

    // Day-of-week ANOVA — how much of daily-volume variance the weekday
    // explains: the classic SS_between/SS_total decomposition kept EXACT
    // by clearing denominators (all terms scale by n·L, L = ∏ n_g, so
    // S_g²·(L/n_g) and S²·(L/n) are integers) and dividing once into
    // basis points. The 7 weekday cells pivot into one wide row by
    // conditional aggregation — no window, two hash aggregates, and a
    // seasonality-strength number no float variance path can disagree on.
    Q(
      "q359_anova_dow",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
          .select(dayofweek(col("day")).cast("long").as("dow"), col("x"))
        val cells = daily.groupBy("dow")
          .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
            sum(col("x") * col("x")).as("qg"))
        def c(i: Int, f: String) = s"MAX(CASE WHEN dow = $i THEN $f END)"
        val terms = (1 to 7)
        val wide = cells.groupBy()
          .agg(expr(terms.map(i => c(i, "ng")).mkString("+")).as("n"),
            expr(terms.map(i => c(i, "sg")).mkString("+")).as("s"),
            expr(terms.map(i => c(i, "qg")).mkString("+")).as("q"),
            expr(terms.map(i => c(i, "ng")).mkString("*")).as("l"),
            expr(terms.map(i =>
              s"${c(i, "sg")} * ${c(i, "sg")} * (__L div ${c(i, "ng")})")
              .mkString("+")
              .replace("__L", terms.map(i => c(i, "ng")).mkString("(", "*", ")")))
              .as("ssb_l_part"))
        wide.select(col("n"), col("l"),
            // widen before scaling: the n·L-cleared terms pass int64 once
            // daily volumes grow (s²·l·10⁴ ≈ 8e18 already at sf0.1)
            expr("""(CAST(ssb_l_part AS DECIMAL(38,0)) * n
                    - CAST(s AS DECIMAL(38,0)) * s * l) * 10000""").as("__num"),
            expr("""CAST(q AS DECIMAL(38,0)) * n * l
                    - CAST(s AS DECIMAL(38,0)) * s * l""").as("__den"))
          .select(col("n").cast("long").as("n_days"),
            expr("__num div __den").as("seasonality_bp"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1
        ), cells AS (
          SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
                 CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS sg,
                 CAST(SUM(x*x) AS BIGINT) AS qg
          FROM daily GROUP BY 1
        ), wide AS (
          SELECT CAST(SUM(ng) AS BIGINT) AS n, CAST(SUM(sg) AS BIGINT) AS s,
                 CAST(SUM(qg) AS BIGINT) AS q,
                 CAST(product(ng) AS BIGINT) AS l,
                 CAST(SUM(sg * sg * (CAST((SELECT product(ng) FROM cells)
                   AS BIGINT) // ng)) AS BIGINT) AS ssb_l_part
          FROM cells
        )
        SELECT n AS n_days,
               CAST(((CAST(ssb_l_part AS HUGEINT) * n
                      - CAST(s AS HUGEINT) * s * l) * 10000)
                 // (CAST(q AS HUGEINT) * n * l
                     - CAST(s AS HUGEINT) * s * l) AS BIGINT)
                 AS seasonality_bp
        FROM wide
      """.trim)),

    // LTV curve — cumulative revenue per acquisition cohort by age: the
    // growth team's payback chart. Cohort = first order month, age =
    // months since (exact month arithmetic), revenue accumulates along
    // age inside per-cohort windows (frames bounded by the calendar, not
    // the customer count), and the curve value is cumulative cents per
    // cohort member by integral division — comparable across cohorts of
    // different sizes.
    Q(
      "q360_ltv_curve",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val cohort = o.groupBy("o_custkey")
          .agg(min(col("month")).as("cohort_month"))
        val sizes = cohort.groupBy("cohort_month")
          .agg(countDistinct(col("o_custkey")).as("cohort_size"))
        val aged = o.join(cohort.hint("shuffle_hash"), "o_custkey")
          .withColumn("age_months",
            (months_between(col("month"), col("cohort_month"))).cast("long"))
          .groupBy("cohort_month", "age_months")
          .agg(sum(col("cents")).cast("long").as("rev_cents"))
        val wc = Window.partitionBy("cohort_month").orderBy("age_months")
        aged
          .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
            wc.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
          .join(sizes, "cohort_month")
          .select(col("cohort_month"), col("age_months"), col("cohort_size"),
            col("cum_rev_cents"),
            expr("cum_rev_cents div cohort_size").as("ltv_cents_per_user"))
          .orderBy("cohort_month", "age_months")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE)
                   AS month,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM orders
        ), cohort AS (
          SELECT o_custkey, MIN(month) AS cohort_month FROM o GROUP BY 1
        ), sizes AS (
          SELECT cohort_month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                   AS cohort_size
          FROM cohort GROUP BY 1
        ), aged AS (
          SELECT cohort_month,
                 CAST(datediff('month', cohort_month, month) AS BIGINT)
                   AS age_months,
                 CAST(SUM(cents) AS BIGINT) AS rev_cents
          FROM o JOIN cohort USING (o_custkey)
          GROUP BY 1, 2
        ), cum AS (
          SELECT cohort_month, age_months,
                 CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
                   ORDER BY age_months ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_rev_cents
          FROM aged
        )
        SELECT cohort_month, age_months, cohort_size, cum_rev_cents,
               CAST(cum_rev_cents // cohort_size AS BIGINT)
                 AS ltv_cents_per_user
        FROM cum JOIN sizes USING (cohort_month)
        ORDER BY cohort_month, age_months
      """.trim)),

    // Transition conformance — lifecycle governance: observed consecutive
    // event-type transitions (per-user windows) audited against a
    // broadcast ALLOWED-transition table; everything else is a violation,
    // counted per (from, to) pair with its share of all transitions in
    // bp. The left-join + null-check classification means new violation
    // kinds surface without touching the query.
    Q(
      "q361_transition_conformance",
      (s, dir) => {
        val allowed = { import s.implicits._
          Seq(("view", "view"), ("view", "click"), ("click", "view"),
            ("click", "purchase"), ("signup", "view"), ("view", "signup"),
            ("purchase", "view"), ("error", "view"))
            .toDF("from_type", "to_type").withColumn("ok", lit(1L)) }
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trans = Tables.events(s, dir)
          .withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .select(col("event_type").as("from_type"), col("to_type"))
        val total = trans.count()
        trans.join(broadcast(allowed), Seq("from_type", "to_type"), "left")
          .groupBy("from_type", "to_type")
          .agg(count(lit(1)).as("n"),
            max(coalesce(col("ok"), lit(0L))).as("is_allowed"))
          .withColumn("share_bp", expr(s"(n * 10000) div $total"))
          .filter(col("is_allowed") === 0L)
          .select(col("from_type"), col("to_type"), col("n"), col("share_bp"))
          .orderBy(col("n").desc, col("from_type"), col("to_type"))
      },
      Some("""
        WITH allowed AS (
          SELECT * FROM (VALUES ('view','view'), ('view','click'),
            ('click','view'), ('click','purchase'), ('signup','view'),
            ('view','signup'), ('purchase','view'), ('error','view'))
            AS t(from_type, to_type)
        ), trans AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events
        ), filtered AS (
          SELECT from_type, to_type FROM trans WHERE to_type IS NOT NULL
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t FROM filtered
        )
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST((COUNT(*) * 10000) // MAX(t) AS BIGINT) AS share_bp
        FROM filtered, tot
        WHERE NOT EXISTS (
          SELECT 1 FROM allowed a
          WHERE a.from_type = filtered.from_type
            AND a.to_type = filtered.to_type)
        GROUP BY from_type, to_type
        ORDER BY n DESC, from_type, to_type
      """.trim)),

    // Bounce rate — the web-analytics staple on the gap-rule sessions:
    // a session is a bounce when it contains exactly one event; per day
    // (of session start), bounce share in integer bp. Session formation
    // is the per-user 30-minute-gap machinery; everything after is two
    // hash aggregates.
    Q(
      "q362_bounce_rate",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sess = Tables.events(s, dir)
          .withColumn("prev_ts", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn("is_new",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - col("prev_ts") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("is_new")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"), min(col("ts")).as("start_ts"))
        sess.groupBy(to_date(col("start_ts")).as("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1L, 1L).otherwise(0L))
              .as("n_bounces"))
          .withColumn("bounce_bp", expr("(n_bounces * 10000) div n_sessions"))
          .orderBy("day")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), tagged AS (
          SELECT *, SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM ev
        ), sess AS (
          SELECT user_id, session_seq, CAST(COUNT(*) AS BIGINT) AS n_events,
                 MIN(ts) AS start_ts
          FROM tagged GROUP BY 1, 2
        )
        SELECT CAST(start_ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bounces,
               CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000)
                 // COUNT(*) AS BIGINT) AS bounce_bp
        FROM sess GROUP BY 1 ORDER BY day
      """.trim)),

    // SLA breach in BUSINESS days — fulfillment lag measured on the
    // business calendar (q301's business-day index, broadcast twice) with
    // a per-priority SLA table: first ship minus order date in business
    // days, breach iff the lag exceeds the priority's allowance. Calendar
    // joins broadcast the ~2.4k-row spine; per-priority rollup carries
    // breach share in bp and the worst lag observed.
    Q(
      "q363_sla_breach",
      (s, dir) => {
        val spine = graft.engine.DateDim.dateSpine(s, "1995-01-01", "2001-12-31")
        val isBday = !dayofweek(col("date_id")).isin(1, 7) &&
          !date_format(col("date_id"), "MM-dd").isin("07-04", "12-25")
        val cal = spine
          .withColumn("is_bday", when(isBday, 1L).otherwise(0L))
          .withColumn("bidx", sum(col("is_bday")).over(
            Window.orderBy("date_id")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("date_id"), col("bidx"))
        val sla = { import s.implicits._
          Seq(("1-URGENT", 35L), ("2-HIGH", 40L), ("3-MEDIUM", 50L),
            ("4-NOT SPECIFIED", 60L), ("5-LOW", 70L))
            .toDF("o_orderpriority", "sla_bdays") }
        val firstShip = Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(min(to_date(col("l_shipdate"))).as("ship_date"))
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            to_date(col("o_orderdate")).as("order_date"))
          .join(firstShip.hint("shuffle_hash"),
            col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(cal.withColumnRenamed("date_id", "order_date")
            .withColumnRenamed("bidx", "b_order")), "order_date")
          .join(broadcast(cal.withColumnRenamed("date_id", "ship_date")
            .withColumnRenamed("bidx", "b_ship")), "ship_date")
          .withColumn("lag_bdays", col("b_ship") - col("b_order"))
          .join(broadcast(sla), "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("lag_bdays") > col("sla_bdays"), 1L).otherwise(0L))
              .as("n_breached"),
            max(col("lag_bdays")).as("max_lag_bdays"))
          .withColumn("breach_bp", expr("(n_breached * 10000) div n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH spine AS (
          SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                   DATE '2001-12-31', INTERVAL 1 DAY)) AS DATE) AS d
        ), cal AS (
          SELECT d, SUM(CASE WHEN dayofweek(d) IN (0, 6)
                          OR strftime(d, '%m-%d') IN ('07-04', '12-25')
                        THEN 0 ELSE 1 END)
                   OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS bidx
          FROM spine
        ), sla AS (
          SELECT * FROM (VALUES ('1-URGENT', 35), ('2-HIGH', 40),
            ('3-MEDIUM', 50), ('4-NOT SPECIFIED', 60), ('5-LOW', 70))
            AS t(o_orderpriority, sla_bdays)
        ), first_ship AS (
          SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS ship_date
          FROM lineitem GROUP BY 1
        ), lagged AS (
          SELECT o_orderpriority, sla_bdays,
                 cs.bidx - co.bidx AS lag_bdays
          FROM orders
          JOIN first_ship ON o_orderkey = l_orderkey
          JOIN cal co ON co.d = CAST(o_orderdate AS DATE)
          JOIN cal cs ON cs.d = ship_date
          JOIN sla USING (o_orderpriority)
        )
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN lag_bdays > sla_bdays THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_breached,
               CAST(MAX(lag_bdays) AS BIGINT) AS max_lag_bdays,
               CAST((SUM(CASE WHEN lag_bdays > sla_bdays THEN 1 ELSE 0 END)
                 * 10000) // COUNT(*) AS BIGINT) AS breach_bp
        FROM lagged GROUP BY 1 ORDER BY o_orderpriority
      """.trim)),

    // Data-contract diff — breaking-change detection between two schema
    // versions of a published table: v2 drops a column (BREAKING), adds
    // one (additive, safe), and retypes another (BREAKING). Both
    // versions land as real parquet and the diff reads their ACTUAL
    // file schemas — not the declared intent — classifying every column
    // into kept/added/removed/retyped with a breaking flag; the oracle
    // pins the whole classification.
    Q(
      "q364_contract_diff",
      (s, dir) => {
        import graft.engine.Scratch
        val p1 = Scratch.dir(s, dir, "contract_v1")
        val p2 = Scratch.dir(s, dir, "contract_v2")
        val base = Tables.customer(s, dir).limit(100)
        base.select(col("c_custkey"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
          .write.mode("overwrite").parquet(p1)
        base.select(col("c_custkey"),
            col("c_nationkey").cast("string").as("c_nationkey"), // retyped
            col("c_acctbal"),                                    // kept
            concat(lit("seg_"), col("c_custkey")).as("c_segment_v2")) // added
          .write.mode("overwrite").parquet(p2)                   // mktsegment removed
        val s1 = Sources.parquet(s, p1).schema.map(f => f.name -> f.dataType.sql).toMap
        val s2 = Sources.parquet(s, p2).schema.map(f => f.name -> f.dataType.sql).toMap
        val rows = (s1.keySet ++ s2.keySet).toSeq.sorted.map { name =>
          (s1.get(name), s2.get(name)) match {
            case (Some(a), Some(b)) if a == b => (name, a, b, "kept", 0L)
            case (Some(a), Some(b))           => (name, a, b, "retyped", 1L)
            case (Some(a), None)              => (name, a, null, "removed", 1L)
            case (None, Some(b))              => (name, null, b, "added", 0L)
            case _ => throw new IllegalStateException("unreachable")
          }
        }
        import s.implicits._
        rows.toDF("column_name", "v1_type", "v2_type", "change_kind",
          "breaking").orderBy("column_name")
      },
      Some("""
        SELECT column_name, v1_type, v2_type, change_kind,
               CAST(breaking AS BIGINT) AS breaking
        FROM (VALUES
          ('c_acctbal', 'DOUBLE', 'DOUBLE', 'kept', 0),
          ('c_custkey', 'BIGINT', 'BIGINT', 'kept', 0),
          ('c_mktsegment', 'STRING', NULL, 'removed', 1),
          ('c_nationkey', 'INT', 'STRING', 'retyped', 1),
          ('c_segment_v2', NULL, 'STRING', 'added', 0))
          AS t(column_name, v1_type, v2_type, change_kind, breaking)
        ORDER BY column_name
      """.trim)),

    // Correlated-subquery surface — the decorrelation path: a correlated
    // scalar subquery (customer's max order) and a correlated EXISTS
    // (has any urgent order) in ONE spark.sql statement; Catalyst must
    // rewrite both into joins (no per-row re-execution exists in a
    // distributed engine). The oracle runs the same correlated SQL —
    // both engines decorrelate, and the values must agree.
    Q(
      "q365_correlated_subqueries",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g365_orders")
        Tables.customer(s, dir).createOrReplaceTempView("g365_customer")
        s.sql("""
          SELECT c_custkey,
                 (SELECT CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                    * 100 AS BIGINT)) AS BIGINT)
                  FROM g365_orders WHERE o_custkey = c_custkey)
                   AS max_order_cents,
                 CAST(CASE WHEN EXISTS (
                    SELECT 1 FROM g365_orders
                    WHERE o_custkey = c_custkey
                      AND o_orderpriority = '1-URGENT')
                   THEN 1 ELSE 0 END AS BIGINT) AS has_urgent
          FROM g365_customer
          WHERE c_custkey % 10 = 0
          ORDER BY c_custkey""")
      },
      Some("""
        SELECT c_custkey,
               (SELECT CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * 100 AS BIGINT)) AS BIGINT)
                FROM orders WHERE o_custkey = c_custkey) AS max_order_cents,
               CAST(CASE WHEN EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
                 THEN 1 ELSE 0 END AS BIGINT) AS has_urgent
        FROM customer
        WHERE c_custkey % 10 = 0
        ORDER BY c_custkey
      """.trim)),

    // Outer-join family in SQL form — RIGHT and FULL OUTER with
    // null-generation on BOTH sides in one statement: suppliers vs the
    // distinct supplier keys present in lineitem, where some suppliers
    // never shipped (right-side nulls) and — after the deliberate %7
    // filter — some shipped keys have no surviving supplier row
    // (left-side nulls). The classification counts pin all three null
    // populations; DataFrame-API joins cover inner/left/semi/anti
    // elsewhere, this gates the SQL-text right/full path.
    Q(
      "q366_outer_join_surface",
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("g366_supplier")
        Tables.lineitem(s, dir).createOrReplaceTempView("g366_lineitem")
        s.sql("""
          WITH shipped AS (
            SELECT DISTINCT l_suppkey FROM g366_lineitem
          ), supp AS (
            SELECT s_suppkey FROM g366_supplier WHERE s_suppkey % 7 <> 0
          )
          SELECT
            CAST(SUM(CASE WHEN s_suppkey IS NOT NULL AND l_suppkey IS NOT NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS matched,
            CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS supplier_only,
            CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS shipped_only
          FROM supp FULL OUTER JOIN shipped ON s_suppkey = l_suppkey""")
      },
      Some("""
        WITH shipped AS (
          SELECT DISTINCT l_suppkey FROM lineitem
        ), supp AS (
          SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 <> 0
        )
        SELECT
          CAST(SUM(CASE WHEN s_suppkey IS NOT NULL AND l_suppkey IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS matched,
          CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS supplier_only,
          CAST(SUM(CASE WHEN s_suppkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS shipped_only
        FROM supp FULL OUTER JOIN shipped ON s_suppkey = l_suppkey
      """.trim)),

    // SQL-text set operations — UNION (distinct), INTERSECT, and EXCEPT
    // as parsed SQL (the DataFrame API forms are gated at q13/q49): the
    // nation sets of customers vs suppliers, with each operator's
    // cardinality and the inclusion-exclusion identity |A∪B| =
    // |A| + |B| − |A∩B| emitted as a pinned check column.
    Q(
      "q367_sql_set_ops",
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("g367_customer")
        Tables.supplier(s, dir).createOrReplaceTempView("g367_supplier")
        s.sql("""
          WITH a AS (SELECT DISTINCT c_nationkey AS nk FROM g367_customer
                     WHERE c_custkey % 3 = 0),
               b AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk
                     FROM g367_supplier WHERE s_suppkey % 2 = 0),
          u AS (SELECT nk FROM a UNION SELECT nk FROM b),
          i AS (SELECT nk FROM a INTERSECT SELECT nk FROM b),
          e AS (SELECT nk FROM a EXCEPT SELECT nk FROM b)
          SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_union,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM i) AS n_intersect,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_except,
            CAST(CASE WHEN (SELECT COUNT(*) FROM u)
                 = (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
                   - (SELECT COUNT(*) FROM i)
              THEN 1 ELSE 0 END AS BIGINT) AS inclusion_exclusion_holds""")
      },
      Some("""
        WITH a AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nk
                   FROM customer WHERE c_custkey % 3 = 0),
             b AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nk
                   FROM supplier WHERE s_suppkey % 2 = 0),
        u AS (SELECT nk FROM a UNION SELECT nk FROM b),
        i AS (SELECT nk FROM a INTERSECT SELECT nk FROM b),
        e AS (SELECT nk FROM a EXCEPT SELECT nk FROM b)
        SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_union,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM i) AS n_intersect,
          (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_except,
          CAST(CASE WHEN (SELECT COUNT(*) FROM u)
               = (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
                 - (SELECT COUNT(*) FROM i)
            THEN 1 ELSE 0 END AS BIGINT) AS inclusion_exclusion_holds
      """.trim)),

    // Inventory reorder point — the supply-chain formula ROP =
    // μ_weekly·L + z·σ_weekly·√L (demand over lead time plus safety
    // stock, z = 2, L = 4 weeks): weekly demand mean and variance come
    // from exact integer power sums per part-brand, and the ROP
    // evaluates through the identical-IEEE-tree discipline (sqrt of
    // exact-integer-derived doubles — q310's precedent), so both engines
    // produce the same bits. Population variance n·ΣX² − S² keeps the
    // integer path until the final expression.
    Q(
      "q368_reorder_point",
      (s, dir) => {
        val weekly = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir).hint("shuffle_hash"),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"),
            date_trunc("week", col("l_shipdate")).cast("date").as("week"))
          .agg(sum(col("l_quantity").cast("long")).as("d"))
        weekly.groupBy("p_brand")
          .agg(count(lit(1)).as("n"), sum(col("d")).as("s"),
            sum(col("d") * col("d")).as("q"))
          .select(col("p_brand"), col("n").cast("long").as("n_weeks"),
            expr("""CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 4.0
                    + 2.0 * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 2.0""")
              .as("reorder_point"))
          .orderBy("p_brand")
      },
      Some("""
        WITH weekly AS (
          SELECT p_brand, CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS d
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1, 2
        ), sums AS (
          SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(d) AS BIGINT) AS s, CAST(SUM(d*d) AS BIGINT) AS q
          FROM weekly GROUP BY 1
        )
        SELECT p_brand, n AS n_weeks,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 4.0
                 + 2.0 * sqrt((CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) * 2.0
                 AS reorder_point
        FROM sums ORDER BY p_brand
      """.trim)),

    // OR-branch funnel — the pattern variant where the middle step is a
    // DISJUNCTION: view, then (click OR signup) within 24 h, then
    // purchase within 48 h of the view. The branch resolves per view as
    // the EARLIEST qualifying event of either type (a union before the
    // aggregate — branch logic as data, not query shape), and the
    // output states which branch won with deterministic tie-breaks.
    Q(
      "q369_or_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def typed(t: String) = ev.filter(col("event_type") === t)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ets"), lit(t).as("etype"))
        val views = typed("view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ets").as("vts"))
        val mids = typed("click").unionByName(typed("signup"))
        val midPick = views
          .join(mids.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("ets") > col("vts") &&
            col("ets") <= col("vts") + 86400000000L)
          .groupBy("view_id", "vts")
          .agg(min(struct(col("ets"), col("event_id"), col("etype")))
            .as("first_mid"))
          .select(col("view_id"), col("vts"),
            col("first_mid.etype").as("branch"),
            col("first_mid.event_id").as("mid_id"))
        val purchases = typed("purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ets").as("pts"))
        val converted = views
          .join(purchases.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("pts") > col("vts") &&
            col("pts") <= col("vts") + 172800000000L)
          .groupBy("view_id")
          .agg(min(col("purchase_id")).as("first_purchase_id"))
        midPick.join(converted, "view_id")
          .select(col("view_id"), col("branch"), col("mid_id"),
            col("first_purchase_id"))
          .orderBy("view_id")
      },
      Some("""
        WITH v AS (
          SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'
        ), mids AS (
          SELECT user_id, event_id, epoch_us(ts) AS ets, event_type AS etype
          FROM events WHERE event_type IN ('click', 'signup')
        ), mid_pick0 AS (
          SELECT view_id,
                 MIN(struct_pack(ets := ets, event_id := event_id,
                   etype := etype)) AS fm
          FROM v JOIN mids ON v.user_id = mids.user_id
          WHERE ets > vts AND ets <= vts + 86400000000
          GROUP BY view_id
        ), mid_pick AS (
          SELECT view_id, fm.etype AS branch, fm.event_id AS mid_id
          FROM mid_pick0
        ), conv AS (
          SELECT view_id, CAST(MIN(event_id) AS BIGINT) AS first_purchase_id
          FROM v JOIN (SELECT user_id, event_id, epoch_us(ts) AS pts
                       FROM events WHERE event_type = 'purchase') p
            ON v.user_id = p.user_id
          WHERE pts > vts AND pts <= vts + 172800000000
          GROUP BY view_id
        )
        SELECT mid_pick.view_id, branch, CAST(mid_id AS BIGINT) AS mid_id,
               first_purchase_id
        FROM mid_pick JOIN conv ON mid_pick.view_id = conv.view_id
        ORDER BY mid_pick.view_id
      """.trim)),

    // M4 downsampling — the dashboard decimation operator: a time series
    // reduced to (first, last, min, max) per pixel bucket renders
    // pixel-identical to the full series at a fraction of the points.
    // Buckets are integer hour indices; the four anchors per (type,
    // bucket) come from min/max over value and the portable
    // min-of-struct picks for the endpoints (time-tie-broken by
    // event_id) — one hash aggregate, no window, and the oracle pins
    // every anchor.
    Q(
      "q370_m4_downsample",
      (s, dir) => {
        val pts = Tables.events(s, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("bucket"),
            unix_micros(col("ts")).as("t"), col("event_id"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long").as("v"))
        pts.groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n_points"),
            min(struct(col("t"), col("event_id"), col("v"))).as("__first"),
            max(struct(col("t"), col("event_id"), col("v"))).as("__last"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .select(col("event_type"), col("bucket"), col("n_points"),
            col("__first.v").as("first_v"), col("__last.v").as("last_v"),
            col("min_v"), col("max_v"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH pts AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS bucket,
                 epoch_us(ts) AS t, event_id,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS v
          FROM events
        ), agg AS (
          SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n_points,
                 MIN(struct_pack(t := t, event_id := event_id, v := v))
                   AS first_s,
                 MAX(struct_pack(t := t, event_id := event_id, v := v))
                   AS last_s,
                 CAST(MIN(v) AS BIGINT) AS min_v,
                 CAST(MAX(v) AS BIGINT) AS max_v
          FROM pts GROUP BY 1, 2
        )
        SELECT event_type, bucket, n_points,
               CAST(first_s.v AS BIGINT) AS first_v,
               CAST(last_s.v AS BIGINT) AS last_v, min_v, max_v
        FROM agg ORDER BY event_type, bucket
      """.trim)),

    // 2-D heatmap binning — the day-of-week × hour-of-day activity grid
    // every ops dashboard renders: counts plus exact value mass per cell,
    // with cell share of the whole in integer bp. One hash aggregate on
    // the (dow, hour) pair; the dow convention is reconciled to Spark's
    // 1-based dayofweek in the oracle.
    Q(
      "q371_heatmap_bins",
      (s, dir) => {
        val cells = Tables.events(s, dir)
          .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
            hour(col("ts")).cast("long").as("hour_of_day"))
          .agg(count(lit(1)).as("n"),
            sum((col("value").cast("decimal(16,6)") * 1000000).cast("long"))
              .cast("long").as("value_micros"))
        val total = cells.agg(sum(col("n")).cast("long").as("__t"))
        cells.crossJoin(broadcast(total))
          .select(col("dow"), col("hour_of_day"), col("n"), col("value_micros"),
            expr("(n * 10000) div __t").as("share_bp"))
          .orderBy("dow", "hour_of_day")
      },
      Some("""
        WITH cells AS (
          SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 CAST(hour(ts) AS BIGINT) AS hour_of_day,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(16,6)) * 1000000
                   AS BIGINT)) AS BIGINT) AS value_micros
          FROM events GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells
        )
        SELECT dow, hour_of_day, n, value_micros,
               CAST((n * 10000) // t AS BIGINT) AS share_bp
        FROM cells, tot ORDER BY dow, hour_of_day
      """.trim)),

    // Top-N + OTHER — the BI reporting idiom that keeps totals honest: the
    // top-5 brands by revenue get their own rows and EVERYTHING ELSE
    // collapses into one OTHER bucket, so the report still sums to the
    // grand total (pinned by the emitted totals_match flag). The top set
    // comes from TakeOrdered (orderBy + limit — no window), OTHER from a
    // left-anti join against it.
    Q(
      "q372_topn_other",
      (s, dir) => {
        val rev = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir).hint("shuffle_hash"),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("rev_cents"))
        val top5 = rev.orderBy(col("rev_cents").desc, col("p_brand")).limit(5)
        val other = rev.join(top5.select("p_brand"), Seq("p_brand"), "left_anti")
          .agg(sum(col("rev_cents")).cast("long").as("rev_cents"))
          .select(lit("OTHER").as("p_brand"), col("rev_cents"))
        val report = top5.unionByName(other)
        val grand = rev.agg(sum(col("rev_cents")).cast("long").as("__g"))
        val repTotal = report.agg(sum(col("rev_cents")).cast("long").as("__rt"))
        report.crossJoin(broadcast(grand)).crossJoin(broadcast(repTotal))
          .withColumn("share_bp", expr("(rev_cents * 10000) div __g"))
          .withColumn("totals_match",
            when(col("__rt") === col("__g"), 1L).otherwise(0L))
          .select(col("p_brand"), col("rev_cents"), col("share_bp"),
            col("totals_match"))
          .orderBy(col("rev_cents").desc, col("p_brand"))
      },
      Some("""
        WITH rev AS (
          SELECT p_brand,
                 CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev_cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1
        ), top5 AS (
          SELECT p_brand, rev_cents FROM rev
          ORDER BY rev_cents DESC, p_brand LIMIT 5
        ), other AS (
          SELECT 'OTHER' AS p_brand, CAST(SUM(rev_cents) AS BIGINT) AS rev_cents
          FROM rev WHERE p_brand NOT IN (SELECT p_brand FROM top5)
        ), report AS (
          SELECT * FROM top5 UNION ALL SELECT * FROM other
        ), grand AS (
          SELECT CAST(SUM(rev_cents) AS BIGINT) AS g FROM rev
        )
        SELECT p_brand, rev_cents,
               CAST((rev_cents * 10000) // g AS BIGINT) AS share_bp,
               CAST(CASE WHEN (SELECT SUM(rev_cents) FROM report) = g
                 THEN 1 ELSE 0 END AS BIGINT) AS totals_match
        FROM report, grand
        ORDER BY rev_cents DESC, p_brand
      """.trim)),

    // Null-semantics surface — the aggregate/predicate null rules that
    // silently differ between naive implementations, pinned on a fixture
    // with REAL nulls (every 3rd value nulled, one group all-null):
    // count(*) counts rows, count(col) skips nulls, distinct counts skip
    // them, sum/avg of an all-null group is NULL (not 0), and
    // three-valued logic drops NULL comparisons from WHERE. Both engines
    // must agree on every one of these rows.
    Q(
      "q373_null_semantics",
      (s, dir) => {
        val f = Tables.customer(s, dir)
          .select(pmod(col("c_custkey"), lit(5L)).as("grp"),
            when(col("c_custkey") % 3 === 0, lit(null).cast("long"))
              .otherwise(col("c_custkey")).as("v"))
          // group 4 becomes ALL-NULL: the sum/avg-of-nothing probe
          .withColumn("v", when(col("grp") === 4L, lit(null).cast("long"))
            .otherwise(col("v")))
        f.groupBy("grp")
          .agg(count(lit(1)).as("n_rows"),
            count(col("v")).as("n_nonnull"),
            countDistinct(col("v")).as("n_distinct"),
            sum(col("v")).cast("long").as("sum_v"),
            sum(when(col("v") > 100L, 1L).otherwise(0L)).as("n_gt100"))
          .orderBy("grp")
      },
      Some("""
        WITH f AS (
          SELECT c_custkey % 5 AS grp,
                 CASE WHEN c_custkey % 5 = 4 THEN NULL
                      WHEN c_custkey % 3 = 0 THEN NULL
                      ELSE c_custkey END AS v
          FROM customer
        )
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(v) AS BIGINT) AS n_nonnull,
               CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(SUM(v) AS BIGINT) AS sum_v,
               CAST(SUM(CASE WHEN v > 100 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_gt100
        FROM f GROUP BY grp ORDER BY grp
      """.trim)),

    // Weighted moving average with integer triangular weights — WMA(3) =
    // (3·x + 2·x₋₁ + 1·x₋₂) div 6 over each user's daily value series:
    // the smoothing every dashboard applies, kept exact by integer
    // weights and integral division instead of float multiplication.
    // Lags ride per-user day-ordered windows; days with an incomplete
    // history emit the shorter exact average (weights renormalize to
    // what exists: div 6, div 5, or div 3).
    Q(
      "q374_wma3",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum((col("value").cast("decimal(16,6)") * 1000000).cast("long"))
            .cast("long").as("v"))
        val w = Window.partitionBy("user_id").orderBy("day")
        daily
          .withColumn("v1", lag(col("v"), 1).over(w))
          .withColumn("v2", lag(col("v"), 2).over(w))
          .withColumn("wma_micros",
            when(col("v2").isNotNull,
              expr("(3 * v + 2 * v1 + v2) div 6"))
              .when(col("v1").isNotNull, expr("(3 * v + 2 * v1) div 5"))
              .otherwise(expr("(3 * v) div 3")))
          .select(col("user_id"), col("day"), col("v").as("value_micros"),
            col("wma_micros"))
          .orderBy("user_id", "day")
      },
      Some("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(16,6)) * 1000000
                   AS BIGINT)) AS BIGINT) AS v
          FROM events GROUP BY 1, 2
        ), lagged AS (
          SELECT user_id, day, v,
                 lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2
          FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
        )
        SELECT user_id, day, v AS value_micros,
               CAST(CASE WHEN v2 IS NOT NULL THEN (3*v + 2*v1 + v2) // 6
                         WHEN v1 IS NOT NULL THEN (3*v + 2*v1) // 5
                         ELSE (3*v) // 3 END AS BIGINT) AS wma_micros
        FROM lagged ORDER BY user_id, day
      """.trim)),

    // Tier-migration matrix — "which spend band did last year's customers
    // move to": customers band by fixed revenue thresholds in 1995 and
    // 1996 (absent = CHURNED/NEW), and the matrix counts every
    // (from_tier, to_tier) flow — the BI retention staple that needs a
    // full-outer join on the customer, never a window. Fixed thresholds
    // keep banding deterministic; tiers and flows are pinned exactly.
    Q(
      "q375_tier_migration",
      (s, dir) => {
        def tierOf(c: org.apache.spark.sql.Column) =
          when(c >= 40000000L, "T1_high")
            .when(c >= 15000000L, "T2_mid")
            .otherwise("T3_low")
        def yearRev(yr: Int) = Tables.orders(s, dir)
          .filter(year(col("o_orderdate")) === yr)
          .groupBy("o_custkey")
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("rev"))
        val a = yearRev(1995).select(col("o_custkey"),
          tierOf(col("rev")).as("from_tier"))
        val b = yearRev(1996).select(col("o_custkey"),
          tierOf(col("rev")).as("to_tier"))
        a.join(b, Seq("o_custkey"), "full_outer")
          .select(coalesce(col("from_tier"), lit("NEW")).as("from_tier"),
            coalesce(col("to_tier"), lit("CHURNED")).as("to_tier"))
          .groupBy("from_tier", "to_tier")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("from_tier", "to_tier")
      },
      Some("""
        WITH rev95 AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev
          FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
        ), rev96 AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev
          FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
        ), a AS (
          SELECT o_custkey,
                 CASE WHEN rev >= 40000000 THEN 'T1_high'
                      WHEN rev >= 15000000 THEN 'T2_mid'
                      ELSE 'T3_low' END AS from_tier
          FROM rev95
        ), b AS (
          SELECT o_custkey,
                 CASE WHEN rev >= 40000000 THEN 'T1_high'
                      WHEN rev >= 15000000 THEN 'T2_mid'
                      ELSE 'T3_low' END AS to_tier
          FROM rev96
        )
        SELECT coalesce(from_tier, 'NEW') AS from_tier,
               coalesce(to_tier, 'CHURNED') AS to_tier,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM a FULL OUTER JOIN b USING (o_custkey)
        GROUP BY 1, 2 ORDER BY from_tier, to_tier
      """.trim)),

    // Prefix-range rewrite — the index-friendly form of a LIKE 'p%'
    // lookup: prefix match ≡ [p, p+1) range on the sort key, which
    // parquet min/max stats and clustered layouts can prune where a
    // LIKE cannot. The gate computes the same lookup BOTH ways over a
    // derived string key and pins their equality (forms_agree = 1) plus
    // the shared counts — the rewrite every string-keyed scan should
    // get.
    Q(
      "q379_prefix_range_rewrite",
      (s, dir) => {
        val keyed = Tables.customer(s, dir)
          .select(concat(lit("cust_"), lpad(col("c_custkey").cast("string"),
            6, "0")).as("k"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val likeForm = keyed.filter(col("k").like("cust_0012%"))
          .agg(count(lit(1)).as("n_like"),
            sum(col("cents")).cast("long").as("cents_like"))
        val rangeForm = keyed
          .filter(col("k") >= "cust_0012" && col("k") < "cust_0013")
          .agg(count(lit(1)).as("n_range"),
            sum(col("cents")).cast("long").as("cents_range"))
        likeForm.crossJoin(broadcast(rangeForm))
          .withColumn("forms_agree",
            when(col("n_like") === col("n_range") &&
              col("cents_like") === col("cents_range"), 1L).otherwise(0L))
      },
      Some("""
        WITH keyed AS (
          SELECT 'cust_' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS k,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM customer
        ), l AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_like,
                 CAST(SUM(cents) AS BIGINT) AS cents_like
          FROM keyed WHERE k LIKE 'cust_0012%'
        ), r AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_range,
                 CAST(SUM(cents) AS BIGINT) AS cents_range
          FROM keyed WHERE k >= 'cust_0012' AND k < 'cust_0013'
        )
        SELECT n_like, cents_like, n_range, cents_range,
               CAST(CASE WHEN n_like = n_range AND cents_like = cents_range
                 THEN 1 ELSE 0 END AS BIGINT) AS forms_agree
        FROM l, r
      """.trim)),

    // Revenue-recognition schedule — deferred revenue spread over a
    // 12-month service period with largest-remainder exactness: each
    // order's cents divide into 12 monthly slices (floor + the leftover
    // cents to the EARLIEST months), land on recognition months by date
    // arithmetic, and the monthly ledger sums exactly to the bookings it
    // came from (no cent created or destroyed — the audit accounting
    // closes on). Month explode is a bounded 12× map-side fanout.
    Q(
      "q380_rev_recognition",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .filter(year(col("o_orderdate")) === 1995)
          .select(col("o_orderkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("m0"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val sliced = o
          .select(col("o_orderkey"), col("m0"), col("cents"),
            explode(sequence(lit(0), lit(11))).as("k"))
          .withColumn("slice",
            expr("cents div 12") +
              when(col("k") < col("cents") % 12, 1L).otherwise(0L))
          .withColumn("rec_month", add_months(col("m0"), col("k")))
        sliced.groupBy("rec_month")
          .agg(count(lit(1)).as("n_slices"),
            sum(col("slice")).cast("long").as("recognized_cents"))
          .orderBy("rec_month")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS m0,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM orders WHERE year(o_orderdate) = 1995
        ), sliced AS (
          SELECT o_orderkey, cents, k,
                 cents // 12 + CASE WHEN k < cents % 12 THEN 1 ELSE 0 END
                   AS slice,
                 CAST(m0 + to_months(CAST(k AS INTEGER)) AS DATE) AS rec_month
          FROM o, generate_series(0, 11) AS t(k)
        )
        SELECT rec_month, CAST(COUNT(*) AS BIGINT) AS n_slices,
               CAST(SUM(slice) AS BIGINT) AS recognized_cents
        FROM sliced GROUP BY 1 ORDER BY rec_month
      """.trim)),

    // Validity-range repair — fixing the overlapping-interval corruption
    // SCD feeds accumulate: per key, ranges sort by start and every
    // range TRUNCATES at its successor's start (later-start-wins), with
    // degenerate (emptied) ranges dropped and the repair classified per
    // row (kept / truncated / dropped counts emitted). One per-key lead
    // — windows bounded by versions-per-key — and the repaired chain is
    // provably non-overlapping, which the oracle re-derives.
    Q(
      "q381_validity_repair",
      (s, dir) => {
        // fixture: overlapping validity versions per customer — version v
        // starts at day 10*v and WRONGLY ends at 10*v + 14 (4-day overlap)
        val versions = Tables.customer(s, dir)
          .select(col("c_custkey"), explode(sequence(lit(0L),
            pmod(col("c_custkey"), lit(3L)))).as("v"))
          .select(col("c_custkey"), col("v"),
            (col("v") * 10).as("valid_from"),
            (col("v") * 10 + 14).as("valid_to"))
        val w = Window.partitionBy("c_custkey").orderBy("valid_from", "v")
        versions
          .withColumn("next_start", lead(col("valid_from"), 1).over(w))
          .withColumn("repaired_to",
            when(col("next_start").isNotNull &&
              col("next_start") < col("valid_to"), col("next_start"))
              .otherwise(col("valid_to")))
          .withColumn("status",
            when(col("repaired_to") <= col("valid_from"), "dropped")
              .when(col("repaired_to") < col("valid_to"), "truncated")
              .otherwise("kept"))
          .filter(col("status") =!= "dropped")
          .select(col("c_custkey"), col("v"), col("valid_from"),
            col("repaired_to"), col("status"))
          .orderBy("c_custkey", "v")
      },
      Some("""
        WITH versions AS (
          SELECT c_custkey, v, v * 10 AS valid_from, v * 10 + 14 AS valid_to
          FROM customer, generate_series(0, 2) AS t(v)
          WHERE v <= c_custkey % 3
        ), repaired AS (
          SELECT c_custkey, v, valid_from, valid_to,
                 lead(valid_from) OVER (PARTITION BY c_custkey
                   ORDER BY valid_from, v) AS next_start
          FROM versions
        ), classified AS (
          SELECT c_custkey, v, valid_from,
                 CASE WHEN next_start IS NOT NULL AND next_start < valid_to
                      THEN next_start ELSE valid_to END AS repaired_to
          FROM repaired
        )
        SELECT c_custkey, CAST(v AS BIGINT) AS v,
               CAST(valid_from AS BIGINT) AS valid_from,
               CAST(repaired_to AS BIGINT) AS repaired_to,
               CASE WHEN repaired_to < valid_from + 14 THEN 'truncated'
                    ELSE 'kept' END AS status
        FROM classified
        WHERE repaired_to > valid_from
        ORDER BY c_custkey, v
      """.trim)),

    // Ratio-metric confidence interval (delta method) — the A/B
    // statistic experimentation platforms actually ship: revenue per
    // event (in exact millis) is a RATIO of two correlated per-user quantities, so its
    // variance needs the delta method (var(X̄/Ȳ) ≈ (σx² − 2r̂σxy +
    // r̂²σy²)/(n·Ȳ²)). Every moment comes from exact integer power sums
    // per hash-split arm; the interval evaluates through one identical
    // IEEE tree (q310 discipline) and the two arms' CIs are emitted
    // side by side with an overlap verdict.
    Q(
      "q382_ratio_metric_ci",
      (s, dir) => {
        val users = Tables.events(s, dir)
          .groupBy(col("user_id"), pmod(col("user_id"), lit(2L)).as("arm"))
          .agg(count(lit(1)).as("y"),
            // millis, not micros: x² must stay inside the long through the
            // power sums at any per-user volume
            sum((col("value").cast("decimal(16,3)") * 1000).cast("long"))
              .cast("long").as("x"))
        val arms = users.groupBy("arm")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
        arms.select(col("arm"), col("n").cast("long").as("n_users"),
            expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)").as("ratio"),
            expr("""
              2.0 * sqrt(
                ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                     * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                / (CAST(n AS DOUBLE)
                   * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))""")
              .as("ci_halfwidth"))
          .orderBy("arm")
      },
      Some("""
        WITH users AS (
          SELECT user_id, user_id % 2 AS arm,
                 CAST(COUNT(*) AS BIGINT) AS y,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(16,3)) * 1000
                   AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ), arms AS (
          SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(x*x) AS BIGINT) AS sxx,
                 CAST(SUM(y*y) AS BIGINT) AS syy,
                 CAST(SUM(x*y) AS BIGINT) AS sxy
          FROM users GROUP BY 1
        )
        SELECT arm, n AS n_users,
               CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS ratio,
               2.0 * sqrt(
                 ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE)
                    * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
                 AS ci_halfwidth
        FROM arms ORDER BY arm
      """.trim)),

    // Exact 80/20 crossing point — the headline concentration number
    // behind the Pareto chart: the SMALLEST customer count whose
    // cumulative revenue reaches 80% of the total, as both an absolute
    // count and a share of customers in bp. The running total rides the
    // two-phase scalable prefix sum; the crossing is one aggregate over
    // the integer cross-multiplied condition (cum·5 ≥ total·4).
    Q(
      "q383_pareto_point",
      (s, dir) => {
        import graft.engine.Keys
        val rev = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("rev"))
        val run = Keys.globalRunningSumBy(rev,
          Seq(col("rev").desc, col("o_custkey")), "rev", "cum")
        val ranked = Keys.rankByScalable(run,
          Seq(col("rev").desc, col("o_custkey")), "rk")
        ranked
          .crossJoin(broadcast(rev.agg(sum(col("rev")).cast("long").as("total"),
            count(lit(1)).as("n_customers"))))
          .filter(col("cum") * 5 >= col("total") * 4)
          .agg(min(col("rk")).as("customers_to_80pct"),
            max(col("n_customers")).as("n_customers"))
          .withColumn("share_of_customers_bp",
            expr("(customers_to_80pct * 10000) div n_customers"))
      },
      Some("""
        WITH rev AS (
          SELECT o_custkey,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev
          FROM orders GROUP BY 1
        ), run AS (
          SELECT o_custkey, rev,
                 CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
                 (SELECT CAST(SUM(rev) AS BIGINT) FROM rev) AS total,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM rev) AS n_customers
          FROM rev
        )
        SELECT CAST(MIN(rk) AS BIGINT) AS customers_to_80pct,
               CAST(MAX(n_customers) AS BIGINT) AS n_customers,
               CAST((MIN(rk) * 10000) // MAX(n_customers) AS BIGINT)
                 AS share_of_customers_bp
        FROM run WHERE cum * 5 >= total * 4
      """.trim)),

    // GROUP BY ALL — the analyst-ergonomics syntax both engines added:
    // every non-aggregate select item groups implicitly, so adding a
    // dimension to the SELECT list can never silently change grain
    // through a stale GROUP BY clause. The same query TEXT runs on both
    // engines; semantics pinned by the shared aggregate.
    Q(
      "q384_group_by_all",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g384_orders")
        s.sql("""
          SELECT o_orderstatus, o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS total_cents
          FROM g384_orders
          GROUP BY ALL
          ORDER BY o_orderstatus, o_orderpriority""")
      },
      Some("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority
      """.trim)),

    // Star-EXCEPT projection — wide-table ergonomics: project everything
    // but the sensitive/heavy columns without enumerating the keepers
    // (Spark spells it `* EXCEPT (...)`, DuckDB `* EXCLUDE (...)` — same
    // semantics, dialect-local keyword). The gate drops the free-text
    // and timestamp columns from events and pins that the surviving
    // schema and values round through exactly.
    Q(
      "q385_star_except",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("g385_events")
        s.sql("""
          SELECT * EXCEPT (props, ts, value)
          FROM g385_events
          ORDER BY event_id""")
      },
      Some("""
        SELECT * EXCLUDE (props, ts, value)
        FROM events
        ORDER BY event_id
      """.trim)),

    // try_cast surface — error-tolerant ingestion under ANSI mode: a
    // mixed-validity string column (clean integers, padded numbers,
    // garbage, int64-overflowing literals, empties) goes through
    // try_cast, which must yield NULL for
    // every unparseable row where plain CAST would kill the job. The
    // per-shape verdict rows pin exactly WHICH shapes parse — the
    // contract a quarantine pipeline is built on.
    Q(
      "q386_try_cast",
      (s, dir) => {
        val shaped = Tables.customer(s, dir)
          .select(col("c_custkey"),
            when(col("c_custkey") % 5 === 0,
              col("c_custkey").cast("string"))
              .when(col("c_custkey") % 5 === 1,
                concat(lit(" "), col("c_custkey"), lit(" ")))
              .when(col("c_custkey") % 5 === 2,
                concat(lit("#"), col("c_custkey")))
              .when(col("c_custkey") % 5 === 3, lit("99999999999999999999"))
              .otherwise(lit("")).as("raw"))
        shaped
          .select((col("c_custkey") % 5).as("shape"),
            expr("try_cast(raw AS BIGINT)").as("parsed"))
          .groupBy("shape")
          .agg(count(lit(1)).as("n"),
            count(col("parsed")).as("n_parsed"),
            sum(col("parsed")).cast("long").as("sum_parsed"))
          .orderBy("shape")
      },
      Some("""
        WITH shaped AS (
          SELECT c_custkey, c_custkey % 5 AS shape,
                 CASE WHEN c_custkey % 5 = 0 THEN CAST(c_custkey AS VARCHAR)
                      WHEN c_custkey % 5 = 1
                        THEN ' ' || CAST(c_custkey AS VARCHAR) || ' '
                      WHEN c_custkey % 5 = 2
                        THEN '#' || CAST(c_custkey AS VARCHAR)
                      WHEN c_custkey % 5 = 3 THEN '99999999999999999999'
                      ELSE '' END AS raw
          FROM customer
        )
        SELECT shape, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(try_cast(raw AS BIGINT)) AS BIGINT) AS n_parsed,
               CAST(SUM(try_cast(raw AS BIGINT)) AS BIGINT) AS sum_parsed
        FROM shaped GROUP BY shape ORDER BY shape
      """.trim)),

    // Hash-uniformity audit — the statistical health check on the engine's
    // own 60-bit content hash (the primitive under fingerprints, MinHash,
    // pseudonymization): document hashes bucket mod 64 and the spread is
    // judged by exact integers — max/min bucket counts, their ratio in
    // bp, and the chi-square statistic vs uniform scaled to integer
    // thousandths (64·Σ(o−e)²·1000 div total, denominators cleared).
    // A regressed hash (stuck bits, truncated entropy) fails loudly here
    // before it silently skews every downstream banding.
    Q(
      "q387_hash_uniformity",
      (s, dir) => {
        val buckets = Tables.documents(s, dir)
          .select(pmod(graft.ext.TextHash.hash60(col("text")), lit(64L))
            .as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        buckets
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("n")).cast("long").as("total"),
            max(col("n")).as("max_bucket"), min(col("n")).as("min_bucket"),
            sum(col("n") * col("n")).cast("long").as("sumsq"))
          .select(col("n_buckets"), col("total"), col("max_bucket"),
            col("min_bucket"),
            expr("(max_bucket * 10000) div greatest(min_bucket, 1)")
              .as("spread_ratio_bp"),
            // chi2 = Σ(o-e)²/e with e = total/64, cleared of denominators:
            // chi2*1000 = (64*Σo² - total²)*1000 div total
            expr("((64 * sumsq - total * total) * 1000) div total")
              .as("chi2_milli"))
      },
      Some(s"""
        WITH buckets AS (
          SELECT ${graft.ext.TextHash.duckHash60("text")} % 64 AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(n) AS BIGINT) AS total,
               CAST(MAX(n) AS BIGINT) AS max_bucket,
               CAST(MIN(n) AS BIGINT) AS min_bucket,
               CAST((MAX(n) * 10000) // greatest(MIN(n), 1) AS BIGINT)
                 AS spread_ratio_bp,
               CAST(((64 * SUM(n*n) - SUM(n) * SUM(n)) * 1000) // SUM(n)
                 AS BIGINT) AS chi2_milli
        FROM buckets
      """.trim)),

    // Column-level drift — the drilldown under q17's row-hash change
    // detection: WHICH attributes changed between two dimension
    // versions, as the census of changed-column SETS (balance-only,
    // segment-only, both, none), so a surprising mass change in one
    // column reads directly off the report. Deterministic v2 fixture
    // mutates balance for %3 keys and segment for %5 keys; one join and
    // one aggregate.
    Q(
      "q388_column_drift",
      (s, dir) => {
        val v1 = Tables.customer(s, dir)
          .select(col("c_custkey"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
              .as("bal"),
            col("c_mktsegment").as("seg"))
        val v2 = v1.select(col("c_custkey"),
          (col("bal") + when(col("c_custkey") % 3 === 0, 100L).otherwise(0L))
            .as("bal"),
          when(col("c_custkey") % 5 === 0, lit("MOVED")).otherwise(col("seg"))
            .as("seg"))
        v1.as("a").join(v2.as("b"), "c_custkey")
          .select(
            when(col("a.bal") =!= col("b.bal"), 1L).otherwise(0L).as("bal_chg"),
            when(col("a.seg") =!= col("b.seg"), 1L).otherwise(0L).as("seg_chg"))
          .groupBy("bal_chg", "seg_chg")
          .agg(count(lit(1)).as("n_keys"))
          .orderBy("bal_chg", "seg_chg")
      },
      Some("""
        WITH v1 AS (
          SELECT c_custkey,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
                 c_mktsegment AS seg
          FROM customer
        ), v2 AS (
          SELECT c_custkey,
                 bal + CASE WHEN c_custkey % 3 = 0 THEN 100 ELSE 0 END AS bal,
                 CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE seg END AS seg
          FROM v1
        )
        SELECT CAST(CASE WHEN a.bal <> b.bal THEN 1 ELSE 0 END AS BIGINT)
                 AS bal_chg,
               CAST(CASE WHEN a.seg <> b.seg THEN 1 ELSE 0 END AS BIGINT)
                 AS seg_chg,
               CAST(COUNT(*) AS BIGINT) AS n_keys
        FROM v1 a JOIN v2 b USING (c_custkey)
        GROUP BY 1, 2 ORDER BY bal_chg, seg_chg
      """.trim)),

    // Materialized-rollup staleness audit — the freshness check every
    // serving aggregate needs: a rollup SNAPSHOT built from only the
    // first half of order time lands on disk, and the audit recounts
    // from the full base, full-outer-compares per key, and classifies
    // every group as fresh / stale / missing with the total drift mass —
    // the report that says "rebuild" before a dashboard serves stale
    // numbers.
    Q(
      "q389_rollup_audit",
      (s, dir) => {
        import graft.engine.Scratch
        val path = Scratch.dir(s, dir, "rollup_snapshot")
        val o = Tables.orders(s, dir)
          .select(col("o_orderpriority"), col("o_orderdate"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("c"))
          .write.mode("overwrite").parquet(path)
        val snapshot = Sources.parquet(s, path)
          .select(col("o_orderpriority"), col("n").as("snap_n"),
            col("c").as("snap_cents"))
        val fresh = o.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("base_n"),
            sum(col("cents")).cast("long").as("base_cents"))
        fresh.join(snapshot, Seq("o_orderpriority"), "full_outer")
          .select(col("o_orderpriority"),
            coalesce(col("snap_n"), lit(0L)).as("snap_n"),
            col("base_n"),
            when(col("snap_n").isNull, "missing")
              .when(col("snap_n") === col("base_n") &&
                col("snap_cents") === col("base_cents"), "fresh")
              .otherwise("stale").as("status"),
            (col("base_cents") - coalesce(col("snap_cents"), lit(0L)))
              .as("drift_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""
        WITH base AS (
          SELECT o_orderpriority, o_orderdate,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM orders
        ), snapshot AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS snap_n,
                 CAST(SUM(cents) AS BIGINT) AS snap_cents
          FROM base WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          GROUP BY 1
        ), fresh AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS base_n,
                 CAST(SUM(cents) AS BIGINT) AS base_cents
          FROM base GROUP BY 1
        )
        SELECT o_orderpriority,
               CAST(coalesce(snap_n, 0) AS BIGINT) AS snap_n, base_n,
               CASE WHEN snap_n IS NULL THEN 'missing'
                    WHEN snap_n = base_n AND snap_cents = base_cents
                      THEN 'fresh'
                    ELSE 'stale' END AS status,
               CAST(base_cents - coalesce(snap_cents, 0) AS BIGINT)
                 AS drift_cents
        FROM fresh FULL OUTER JOIN snapshot USING (o_orderpriority)
        ORDER BY o_orderpriority
      """.trim)),

    // Uptime from heartbeat gaps — the SRE availability number computed
    // from the signal itself: treating each user's events as heartbeats,
    // any inter-event gap beyond 30 minutes counts as DOWNTIME (minus
    // the allowance), and availability = 1 − downtime/span in integer
    // bp. Per-user lag windows, exact micros end-to-end, and the
    // outage-count column makes the report actionable.
    Q(
      "q390_uptime",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gaps = Tables.events(s, dir)
          .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("user_id"),
            (unix_micros(col("ts")) - col("prev")).as("gap_us"))
        gaps.groupBy("user_id")
          .agg((sum(col("gap_us"))).cast("long").as("span_us"),
            sum(when(col("gap_us") > 1800000000L,
              col("gap_us") - 1800000000L).otherwise(0L)).cast("long")
              .as("downtime_us"),
            sum(when(col("gap_us") > 1800000000L, 1L).otherwise(0L))
              .as("n_outages"))
          .withColumn("availability_bp",
            expr("((span_us - downtime_us) * 10000) div span_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH gaps AS (
          SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
          FROM events
        ), g AS (
          SELECT user_id, gap_us FROM gaps WHERE gap_us IS NOT NULL
        )
        SELECT user_id, CAST(SUM(gap_us) AS BIGINT) AS span_us,
               CAST(SUM(CASE WHEN gap_us > 1800000000
                 THEN gap_us - 1800000000 ELSE 0 END) AS BIGINT)
                 AS downtime_us,
               CAST(SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outages,
               CAST(((SUM(gap_us) - SUM(CASE WHEN gap_us > 1800000000
                 THEN gap_us - 1800000000 ELSE 0 END)) * 10000)
                 // SUM(gap_us) AS BIGINT) AS availability_bp
        FROM g GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Market-basket LIFT — q92 counts co-purchases; this prices them
    // against independence: lift = P(a,b)/(P(a)P(b)) stated as exact
    // integer bp ((support·n_orders·10000) div (cnt_a·cnt_b)), where
    // lift ≈ 10000 means the pair co-occurs no more than chance and the
    // interesting pairs tower above it. Pair generation stays bounded by
    // lines-per-order; singles attach by two broadcast-joined aggregates.
    Q(
      "q391_basket_lift",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
        val nOrders = li.select("l_orderkey").distinct().count()
        val singles = li.distinct().groupBy("l_partkey")
          .agg(count(lit(1)).as("cnt"))
        val pairs = li.as("a")
          .join(li.as("b").hint("shuffle_hash"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .agg(countDistinct(col("a.l_orderkey")).as("support"))
          .filter(col("support") >= 3)
        pairs
          .join(singles.select(col("l_partkey").as("pa"), col("cnt").as("ca")),
            "pa")
          .join(singles.select(col("l_partkey").as("pb"), col("cnt").as("cb")),
            "pb")
          .select(col("pa"), col("pb"), col("support"), col("ca"), col("cb"),
            expr(s"(support * $nOrders * 10000) div (ca * cb)").as("lift_bp"))
          .orderBy(col("lift_bp").desc, col("pa"), col("pb"))
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), n_orders AS (
          SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem
        ), singles AS (
          SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM li GROUP BY 1
        ), pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS support
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 3
        )
        SELECT pa, pb, support, sa.cnt AS ca, sb.cnt AS cb,
               CAST((support * n * 10000) // (sa.cnt * sb.cnt) AS BIGINT)
                 AS lift_bp
        FROM pairs
        JOIN singles sa ON sa.l_partkey = pa
        JOIN singles sb ON sb.l_partkey = pb
        CROSS JOIN n_orders
        ORDER BY lift_bp DESC, pa, pb
      """.trim)),

    // Monthly churn rate — the growth dashboard's counterpart to cohort
    // retention (q82): of the customers active in month m, how many are
    // GONE in m+1, as a monthly trend in integer bp. Month presence is
    // one distinct aggregate; churn is a left-anti-shaped left join
    // between consecutive months via month arithmetic — windowless at
    // any history length, same shape as the MoM self-join.
    Q(
      "q392_churn_rate",
      (s, dir) => {
        val active = Tables.orders(s, dir)
          .select(col("o_custkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("m"))
          .distinct()
        val next = active.select(col("o_custkey"),
          add_months(col("m"), -1).as("m"), lit(1L).as("active_next"))
        active.join(next, Seq("o_custkey", "m"), "left")
          .groupBy("m")
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("active_next").isNull, 1L).otherwise(0L))
              .as("n_churned"))
          .withColumn("churn_bp", expr("(n_churned * 10000) div n_active"))
          // the final month has no successor to retain into — drop it
          .filter(col("m") < lit("2001-08-01").cast("date"))
          .orderBy("m")
      },
      Some("""
        WITH active AS (
          SELECT DISTINCT o_custkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS m
          FROM orders
        )
        SELECT a.m, CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_churned,
               CAST((SUM(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END)
                 * 10000) // COUNT(*) AS BIGINT) AS churn_bp
        FROM active a
        LEFT JOIN active b
          ON a.o_custkey = b.o_custkey
          AND b.m = CAST(a.m + INTERVAL 1 MONTH AS DATE)
        WHERE a.m < DATE '2001-08-01'
        GROUP BY a.m ORDER BY a.m
      """.trim)),

    // Cohort payback period — the unit-economics number the LTV curve
    // exists for: per acquisition cohort, the FIRST month-age at which
    // cumulative revenue per member crosses the acquisition-cost
    // threshold ($500), with never-paying-back cohorts reported as -1.
    // Rides q360's per-cohort cumulative machinery; the crossing is one
    // min over the integer condition.
    Q(
      "q393_payback_period",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val cohort = o.groupBy("o_custkey")
          .agg(min(col("month")).as("cohort_month"))
        val sizes = cohort.groupBy("cohort_month")
          .agg(countDistinct(col("o_custkey")).as("cohort_size"))
        val aged = o.join(cohort.hint("shuffle_hash"), "o_custkey")
          .withColumn("age",
            months_between(col("month"), col("cohort_month")).cast("long"))
          .groupBy("cohort_month", "age")
          .agg(sum(col("cents")).cast("long").as("rev"))
        val wc = Window.partitionBy("cohort_month").orderBy("age")
        val curve = aged
          .withColumn("cum", sum(col("rev")).over(
            wc.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
          .join(sizes, "cohort_month")
        val crossed = curve
          .filter(col("cum") >= col("cohort_size") * 50000L)
          .groupBy("cohort_month")
          .agg(min(col("age")).as("payback_age"))
        sizes.join(crossed, Seq("cohort_month"), "left")
          .select(col("cohort_month"), col("cohort_size"),
            coalesce(col("payback_age"), lit(-1L)).as("payback_age_months"))
          .orderBy("cohort_month")
      },
      Some("""
        WITH o AS (
          SELECT o_custkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM orders
        ), cohort AS (
          SELECT o_custkey, MIN(month) AS cohort_month FROM o GROUP BY 1
        ), sizes AS (
          SELECT cohort_month, CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                   AS cohort_size
          FROM cohort GROUP BY 1
        ), aged AS (
          SELECT cohort_month,
                 CAST(datediff('month', cohort_month, month) AS BIGINT) AS age,
                 CAST(SUM(cents) AS BIGINT) AS rev
          FROM o JOIN cohort USING (o_custkey)
          GROUP BY 1, 2
        ), curve AS (
          SELECT cohort_month, age,
                 CAST(SUM(rev) OVER (PARTITION BY cohort_month ORDER BY age
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM aged
        ), crossed AS (
          SELECT curve.cohort_month, CAST(MIN(age) AS BIGINT) AS payback_age
          FROM curve JOIN sizes ON curve.cohort_month = sizes.cohort_month
          WHERE cum >= cohort_size * 50000
          GROUP BY 1
        )
        SELECT sizes.cohort_month, cohort_size,
               CAST(coalesce(payback_age, -1) AS BIGINT)
                 AS payback_age_months
        FROM sizes LEFT JOIN crossed
          ON sizes.cohort_month = crossed.cohort_month
        ORDER BY sizes.cohort_month
      """.trim)),

    // Product adoption curve — how fast new items find buyers: each
    // part's launch is its first ship month, every sale maps to a
    // month-age since launch, and the curve aggregates ACROSS parts per
    // age (orders, distinct buyers, exact revenue) with the cumulative
    // share of all-time volume in bp from a windowless age×age
    // self-join over the tiny age spine.
    Q(
      "q394_adoption_curve",
      (s, dir) => {
        val sales = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey"), col("o_custkey"),
            date_trunc("month", col("l_shipdate")).cast("date").as("m"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val launch = sales.groupBy("l_partkey")
          .agg(min(col("m")).as("launch_m"))
        val aged = sales.join(launch.hint("shuffle_hash"), "l_partkey")
          .withColumn("age", months_between(col("m"), col("launch_m"))
            .cast("long"))
          .groupBy("age")
          .agg(count(lit(1)).as("n_sales"),
            countDistinct(col("o_custkey")).as("n_buyers"),
            sum(col("cents")).cast("long").as("rev_cents"))
        val cum = aged.as("a")
          .join(aged.select(col("age").as("age2"), col("n_sales").as("ns2"))
            .as("b"), col("b.age2") <= col("a.age"))
          .groupBy(col("a.age").as("age"), col("a.n_sales").as("n_sales"),
            col("a.n_buyers").as("n_buyers"), col("a.rev_cents").as("rev_cents"))
          .agg(sum(col("b.ns2")).cast("long").as("cum_sales"))
        val total = aged.agg(sum(col("n_sales")).cast("long").as("__t"))
        cum.crossJoin(broadcast(total))
          .withColumn("cum_share_bp", expr("(cum_sales * 10000) div __t"))
          .select(col("age"), col("n_sales"), col("n_buyers"), col("rev_cents"),
            col("cum_share_bp"))
          .orderBy("age")
      },
      Some("""
        WITH sales AS (
          SELECT l_partkey, o_custkey,
                 CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
                 CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), launch AS (
          SELECT l_partkey, MIN(m) AS launch_m FROM sales GROUP BY 1
        ), aged AS (
          SELECT CAST(datediff('month', launch_m, m) AS BIGINT) AS age,
                 CAST(COUNT(*) AS BIGINT) AS n_sales,
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_buyers,
                 CAST(SUM(cents) AS BIGINT) AS rev_cents
          FROM sales JOIN launch USING (l_partkey)
          GROUP BY 1
        ), tot AS (
          SELECT CAST(SUM(n_sales) AS BIGINT) AS t FROM aged
        )
        SELECT a.age, a.n_sales, a.n_buyers, a.rev_cents,
               CAST((SUM(b.n_sales) * 10000) // MAX(t) AS BIGINT)
                 AS cum_share_bp
        FROM aged a JOIN aged b ON b.age <= a.age CROSS JOIN tot
        GROUP BY a.age, a.n_sales, a.n_buyers, a.rev_cents
        ORDER BY a.age
      """.trim)),

    // Return rate by tenure — does behavior change as accounts age: each
    // line item's return flag attributes to the customer's TENURE AT
    // ORDER TIME (months since their first order — point-in-time
    // correct, no future leakage), banded to new/establishing/mature,
    // with return share per band in bp. Two aggregates and a broadcast
    // of the first-order map.
    Q(
      "q395_tenure_behavior",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            date_trunc("month", col("o_orderdate")).cast("date").as("m"))
        val first = o.groupBy("o_custkey").agg(min(col("m")).as("first_m"))
        val banded = Tables.lineitem(s, dir)
          .select(col("l_orderkey"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
          .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
          .join(first.hint("shuffle_hash"), "o_custkey")
          .withColumn("tenure_months",
            months_between(col("m"), col("first_m")).cast("long"))
          .withColumn("band",
            when(col("tenure_months") < 6, "0_new")
              .when(col("tenure_months") < 24, "1_establishing")
              .otherwise("2_mature"))
        banded.groupBy("band")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("ret")).cast("long").as("n_returned"))
          .withColumn("return_bp", expr("(n_returned * 10000) div n_lines"))
          .orderBy("band")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey,
                 CAST(date_trunc('month', o_orderdate) AS DATE) AS m
          FROM orders
        ), first AS (
          SELECT o_custkey, MIN(m) AS first_m FROM o GROUP BY 1
        ), banded AS (
          SELECT CASE WHEN datediff('month', first_m, m) < 6 THEN '0_new'
                      WHEN datediff('month', first_m, m) < 24
                        THEN '1_establishing'
                      ELSE '2_mature' END AS band,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
          FROM lineitem
          JOIN o ON l_orderkey = o_orderkey
          JOIN first USING (o_custkey)
        )
        SELECT band, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(ret) AS BIGINT) AS n_returned,
               CAST((SUM(ret) * 10000) // COUNT(*) AS BIGINT) AS return_bp
        FROM banded GROUP BY band ORDER BY band
      """.trim)),

    // ARPU trend — the canonical revenue KPI stated exactly: monthly
    // revenue in cents over monthly active (ordering) customers, as
    // integer cents-per-user by integral division. One aggregate
    // produces both numerator and distinct-count denominator; no joins,
    // no windows, the KPI cannot drift between float implementations.
    Q(
      "q396_arpu",
      (s, dir) => {
        Tables.orders(s, dir)
          .groupBy(date_trunc("month", col("o_orderdate")).cast("date")
            .as("month"))
          .agg(countDistinct(col("o_custkey")).as("active_customers"),
            sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
              .cast("long").as("revenue_cents"))
          .withColumn("arpu_cents",
            expr("revenue_cents div active_customers"))
          .orderBy("month")
      },
      Some("""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS active_customers,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS revenue_cents,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) // COUNT(DISTINCT o_custkey) AS BIGINT)
                 AS arpu_cents
        FROM orders GROUP BY 1 ORDER BY month
      """.trim)),

    // Basket-size distribution by segment — the order-composition
    // histogram merchandisers read: lines-per-order counted per order,
    // then the (segment, basket_size) frequency matrix with each cell's
    // share of its segment in bp. Two hash aggregates and a broadcast
    // segment dimension; grain changes (order → distribution cell) stay
    // explicit at each step.
    Q(
      "q397_basket_size_dist",
      (s, dir) => {
        val baskets = Tables.lineitem(s, dir)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("basket_size"))
        val seg = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"))
        val cells = baskets
          .join(seg.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("c_mktsegment", "basket_size")
          .agg(count(lit(1)).as("n_orders"))
        val totals = cells.groupBy("c_mktsegment")
          .agg(sum(col("n_orders")).cast("long").as("__t"))
        cells.join(broadcast(totals), "c_mktsegment")
          .select(col("c_mktsegment"), col("basket_size").cast("long")
            .as("basket_size"), col("n_orders"),
            expr("(n_orders * 10000) div __t").as("segment_share_bp"))
          .orderBy("c_mktsegment", "basket_size")
      },
      Some("""
        WITH baskets AS (
          SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS basket_size
          FROM lineitem GROUP BY 1
        ), cells AS (
          SELECT c_mktsegment, basket_size, CAST(COUNT(*) AS BIGINT)
                   AS n_orders
          FROM baskets
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2
        ), totals AS (
          SELECT c_mktsegment, CAST(SUM(n_orders) AS BIGINT) AS t
          FROM cells GROUP BY 1
        )
        SELECT cells.c_mktsegment, basket_size, n_orders,
               CAST((n_orders * 10000) // t AS BIGINT) AS segment_share_bp
        FROM cells JOIN totals ON cells.c_mktsegment = totals.c_mktsegment
        ORDER BY cells.c_mktsegment, basket_size
      """.trim)),

    // Runtime bloom-filter join gate — InjectRuntimeFilter end-to-end with
    // VALUES, not just a plan pin: a selectively-filtered dim (orders,
    // status F over 150k) joins the 100 TB-shaped fact (lineitem) as a
    // SHUFFLE join; Spark builds a bloom filter from the filtered dim and
    // probes it BELOW the fact-side exchange, so at scale the fact rows
    // that can't join are dropped before ever shuffling. Cluster-tuned
    // size thresholds are lowered on an isolated child session (the q347
    // newSession discipline — the parent's confs are never touched); the
    // builder REQUIRES the bloom probe in the executed plan, so this gate
    // can never silently degrade to an unfiltered shuffle, and the DuckDB
    // oracle checks the joined aggregate values.
    Q(
      "q398_bloom_join_gate",
      (s, dir) => {
        val s2 = s.newSession()
        s2.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val dim = Tables.orders(s2, dir)
          .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000.0)
          .select("o_orderkey", "o_orderpriority")
        val fact = Tables.lineitem(s2, dir)
          .select(col("l_orderkey"),
            (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val df = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("cents")).cast("long").as("rev_cents"))
          .orderBy("o_orderpriority")
        require(df.queryExecution.executedPlan.toString.toLowerCase
            .contains("might_contain"),
          "runtime bloom filter was not injected below the fact exchange")
        df
      },
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F' AND o_totalprice > 150000.0
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // VARIANT ingestion — Spark 4's semi-structured type: props parses
    // ONCE into a binary variant (no per-access re-tokenization, unlike
    // get_json_object chains — the q38 contrast), typed paths come out
    // via variant_get, and try_variant_get returns NULL for absent paths
    // instead of erroring under ANSI. At 100 TB the parse-once shape is
    // the difference between one JSON tokenizer pass and one per
    // extracted field. Oracle states the same extraction over DuckDB's
    // native JSON operators.
    Q(
      "q406_variant_json",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("try_variant_get(v, '$.missing', 'int')").as("miss"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          count(col("miss")).as("n_missing_nonnull"))
        .orderBy("event_type"),
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
               CAST(0 AS BIGINT) AS n_missing_nonnull
        FROM events GROUP BY event_type ORDER BY event_type
      """.trim)),

    // SQL-defined scalar functions (CREATE TEMPORARY FUNCTION ... RETURN
    // expr — Spark 4 SQL UDFs): the governed way to share business logic
    // with SQL-only users WITHOUT a runtime UDF — the function body
    // inlines into the Catalyst plan at resolution (macro expansion), so
    // codegen/pushdown survive; the builder REQUIREs no ScalaUDF/Python
    // eval node planned. Registered on an isolated child session (q347
    // discipline). Oracle inlines the same bodies by hand.
    Q(
      "q407_sql_function",
      (s, dir) => {
        val s2 = s.newSession()
        Tables.lineitem(s2, dir).createOrReplaceTempView("li_sqlfn")
        s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION cents_of(p DOUBLE)
                  RETURNS BIGINT
                  RETURN CAST(CAST(p AS DECIMAL(18,2)) * 100 AS BIGINT)""")
        s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_bucket(d DOUBLE)
                  RETURNS STRING
                  RETURN CASE WHEN d < 0.03 THEN 'low'
                              WHEN d < 0.07 THEN 'mid'
                              ELSE 'high' END""")
        val df = s2.sql("""
          SELECT l_returnflag, disc_bucket(l_discount) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents_of(l_extendedprice)) AS BIGINT) AS rev_cents
          FROM li_sqlfn GROUP BY 1, 2 ORDER BY 1, 2""")
        val plan = df.queryExecution.executedPlan.toString
        require(!plan.contains("BatchEvalPython") &&
            !plan.toLowerCase.contains("scalaudf"),
          "SQL function must inline into the plan (no runtime UDF node)")
        df
      },
      Some("""
        SELECT l_returnflag,
               CASE WHEN l_discount < 0.03 THEN 'low'
                    WHEN l_discount < 0.07 THEN 'mid'
                    ELSE 'high' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
      """.trim))
  )
}
