package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.{Partitions, Sources}
import graft.ext.{NearDup, TextAnalysis, TextHash}
import graft.plans.SharedSubplan

/** Corpus-operations wave 3: interval algebra, weighted order statistics,
  * crawl-URL canonicalization, LSH parameter evaluation, and the
  * right-to-be-forgotten purge cascade. Same exactness discipline as the
  * rest of the registry: integer/decimal arithmetic end-to-end with at most
  * a single final IEEE double division per output column, and no
  * unpartitioned window anywhere (per-user/per-lang frames only).
  */
object CorpusQueries {

  /** DuckDB fragment: normalized text (mirror of Cleaning.normalizeText). */
  private val NormText = raw"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

  /** DuckDB fragment: whitespace tokens of the normalized text. */
  private val Toks = s"string_split($NormText, ' ')"

  /** DuckDB fragment: distinct word n-gram shingles of token list `w`. */
  private def duckShingles(w: String, n: Int): String =
    s"list_distinct([array_to_string($w[i:i+${n - 1}], ' ') FOR i IN generate_series(1, len($w) - ${n - 1})])"

  val qs: Seq[Q] = Seq(

    // Merged-interval coverage (interval union length) per user: each event
    // opens a deterministic-duration interval; overlapping/touching
    // intervals merge into islands and the per-user covered time is the sum
    // of island extents — the classic "total active time" / sensor-uptime
    // operator that a naive sum-of-durations double-counts. Islands come
    // from the EXCLUSIVE prefix max of interval ends within the user
    // partition (a per-user-bounded frame, never a global window): a row
    // starts a new island iff its start exceeds every earlier end.
    Q(
      "q267_interval_coverage",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("start_us"),
            (unix_micros(col("ts")) +
              (lit(60L) + pmod(col("event_id"), lit(240L))) * lit(1000000L))
              .as("end_us"))
        val w = Window.partitionBy("user_id").orderBy("start_us", "event_id")
        val islanded = ev
          .withColumn("prev_end",
            max(col("end_us")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("is_new",
            when(col("prev_end").isNull || col("start_us") > col("prev_end"), 1L)
              .otherwise(0L))
          .withColumn("island",
            sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        islanded
          .groupBy("user_id", "island")
          .agg(count(lit(1)).as("n_ev"),
            min(col("start_us")).as("i_start"), max(col("end_us")).as("i_end"))
          .groupBy("user_id")
          .agg(sum(col("n_ev")).as("n_events"),
            count(lit(1)).as("n_islands"),
            sum(col("i_end") - col("i_start")).as("covered_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH iv AS (
          SELECT user_id, event_id,
                 epoch_us(ts) AS start_us,
                 epoch_us(ts) + (60 + event_id % 240) * 1000000 AS end_us
          FROM events
        ), marked AS (
          SELECT user_id, start_us, end_us,
                 MAX(end_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
          FROM iv
        ), islanded AS (
          SELECT user_id, start_us, end_us,
                 SUM(CASE WHEN prev_end IS NULL OR start_us > prev_end
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY start_us, end_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM marked
        ), islands AS (
          SELECT user_id, island, COUNT(*) AS n_ev,
                 MIN(start_us) AS i_start, MAX(end_us) AS i_end
          FROM islanded GROUP BY 1, 2
        )
        SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
        FROM islands GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Token-weighted median document length per language: the weighted
    // order statistic (smallest value whose cumulative weight reaches half
    // the total) that answers "the median TOKEN sits in a document of what
    // length" — documents weighted by their token counts, so a few huge
    // docs move it where the unweighted median is blind. Values collapse to
    // (lang, n_chars) groups first; the cumulative rides a lang-partitioned
    // window over distinct values (bounded by the value domain per lang,
    // never a global sort) and the pick is pure integer comparison
    // 2*cum >= total — no division, no doubles anywhere.
    Q(
      "q268_weighted_median",
      (s, dir) => {
        val grouped = Tables.documents(s, dir)
          .select(col("lang"), col("n_chars"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("w"))
          .groupBy("lang", "n_chars")
          .agg(sum(col("w")).as("gw"))
        val wLang = Window.partitionBy("lang")
        val cum = grouped
          .withColumn("cum",
            sum(col("gw")).over(wLang.orderBy("n_chars")
              .rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("total", sum(col("gw")).over(wLang))
        cum.filter(col("cum") * 2 >= col("total"))
          .groupBy("lang")
          .agg(min(col("n_chars")).as("w_median_chars"),
            max(col("total")).as("total_weight"))
          .orderBy("lang")
      },
      Some("""
        WITH g AS (
          SELECT lang, n_chars, SUM(len(string_split(
                   regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))) AS gw
          FROM documents GROUP BY 1, 2
        ), c AS (
          SELECT lang, n_chars, gw,
                 SUM(gw) OVER (PARTITION BY lang ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 SUM(gw) OVER (PARTITION BY lang) AS total
          FROM g
        )
        SELECT lang, CAST(MIN(n_chars) AS BIGINT) AS w_median_chars,
               CAST(MAX(total) AS BIGINT) AS total_weight
        FROM c WHERE cum * 2 >= total GROUP BY lang ORDER BY lang
      """.trim)),

    // Crawl-URL canonicalization + dedup rollup: messy URLs (mixed-case
    // scheme/host, default :443 port, trailing slash, utm_* tracking params,
    // fragments) are synthesized deterministically from document columns,
    // then the Spark side PARSES the raw string back apart (parse_url) and
    // rebuilds the canonical form — lowercase host, port and fragment
    // dropped, tracking params stripped, trailing slash removed — the
    // standard pre-dedup URL normalization of a crawl pipeline. Pure
    // map-side string work into one host-keyed rollup; the oracle restates
    // the canonical form from the synthesis columns (same q125 pattern).
    Q(
      "q269_url_canonical_dedup",
      (s, dir) => {
        val raw = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          concat(
            when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
            when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
            lit(".Example.COM"),
            when(col("doc_id") % 4 === 0, ":443").otherwise(""),
            lit("/docs/"), (col("doc_id") % 500).cast("string"),
            when(col("doc_id") % 5 === 0, "/").otherwise(""),
            lit("?utm_source=feed&id="), (col("doc_id") % 500).cast("string"),
            when(col("doc_id") % 7 === 0, "&utm_campaign=x").otherwise(""),
            lit("#s"), (col("doc_id") % 3).cast("string")).as("url"))
        raw
          .select(col("url"),
            lower(expr("parse_url(url, 'HOST')")).as("host"),
            concat(lit("https://"), lower(expr("parse_url(url, 'HOST')")),
              regexp_replace(expr("parse_url(url, 'PATH')"), "/$", ""),
              lit("?id="), expr("parse_url(url, 'QUERY', 'id')")).as("canonical"),
            when(expr("parse_url(url, 'QUERY', 'utm_campaign')").isNotNull, 1L)
              .otherwise(0L).as("had_campaign"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_urls"),
            countDistinct(col("url")).as("n_raw_forms"),
            countDistinct(col("canonical")).as("n_canonical"),
            sum(col("had_campaign")).as("n_campaign_tagged"))
          .withColumn("n_dup_rows", col("n_urls") - col("n_canonical"))
          .orderBy("host")
      },
      Some("""
        WITH u AS (
          SELECT doc_id, source,
                 source || '.example.com' AS host,
                 (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
                 || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
                 || '.Example.COM'
                 || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
                 || '/docs/' || CAST(doc_id % 500 AS VARCHAR)
                 || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
                 || '?utm_source=feed&id=' || CAST(doc_id % 500 AS VARCHAR)
                 || (CASE WHEN doc_id % 7 = 0 THEN '&utm_campaign=x' ELSE '' END)
                 || '#s' || CAST(doc_id % 3 AS VARCHAR) AS url,
                 'https://' || source || '.example.com/docs/'
                 || CAST(doc_id % 500 AS VARCHAR)
                 || '?id=' || CAST(doc_id % 500 AS VARCHAR) AS canonical,
                 CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS had_campaign
          FROM documents
        )
        SELECT host, CAST(COUNT(*) AS BIGINT) AS n_urls,
               CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
               CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
               CAST(SUM(had_campaign) AS BIGINT) AS n_campaign_tagged,
               CAST(COUNT(*) - COUNT(DISTINCT canonical) AS BIGINT) AS n_dup_rows
        FROM u GROUP BY host ORDER BY host
      """.trim)),

    // LSH tuning evaluation: candidate-set quality of the banded MinHash
    // stage (k=64, b=16, r=4 — BEFORE exact verification) against the exact
    // trigram-Jaccard >= 0.8 truth — the measurement that picks (b, r) for
    // a corpus: precision prices the wasted verify work, recall bounds what
    // banding silently loses. The audit runs on a FIXED-SIZE pilot sample
    // (2000 hash-ordered docs, the q423 bounded-probe convention — round-8
    // fix for the persistent ~3x 10x-rehearsal ratio, which was the
    // (a+10b)/(a+b) signature of real-but-linear work): banding hit
    // probability depends only on a pair's Jaccard, so a uniform sample
    // estimates the same (b, r) operating point at bounded cost at ANY
    // corpus size — nobody tunes LSH parameters on 100 TB when a pilot
    // answers the question. At the sf0.01 gate the sample covers the whole
    // corpus, so the audit stays exact there. Scale shape (this was the
    // repo's one super-linear 10x-rehearsal entry at 19.6x in round 5,
    // because the raw pre-suppression banded self-join is quadratic in
    // bucket occupancy): the raw candidate volume is measured ANALYTICALLY —
    // n_candidate_mass = sum over (band, bucket) of C(occupancy, 2) from
    // ONE hash aggregate (the verify workload an uncapped pipeline would
    // trigger, multiplicity across bands included), plus n_big_buckets =
    // buckets above the production cap — while the materialized pair set
    // fed to precision/recall is the CAPPED production join (buckets with
    // occupancy <= 64 only, <= C(64,2) rows per bucket, linear in bucket
    // count). Recall is thus the true production recall (banding loss +
    // suppression loss, against the full prefix-filtered truth), and the
    // uncapped join that measured raw banding never materializes. One
    // summary row; divisions guarded (mirrored CASE) for degenerate data.
    Q(
      "q270_lsh_tuning_eval",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("__ord",
            TextHash.hash60(concat(lit("lshpilot#"), col("doc_id").cast("string"))))
          .orderBy(col("__ord"), col("doc_id")).limit(2000).drop("__ord")
        val cap = 64
        // The pilot shingle frame feeds the signature banding AND the
        // exact-truth verify below (~4 plan references): one spread
        // exchange under the barrier, so the shingles are computed once.
        val sh = SharedSubplan.of(Partitions.spread(
          NearDup.shingleFrame(docs, "doc_id", "text", n = 3)))
        val banded = NearDup.minHashSignatureFrame(sh, "doc_id", k = 64)
          .select(col("doc_id"),
            explode(NearDup.bandBuckets(col("__sig"), 16, 4)).as("__bb"))
          .select(col("doc_id"), col("__bb.band").as("__band"),
            col("__bb.bucket").as("__bucket"))
        val occ = banded.groupBy("__band", "__bucket")
          .agg(count(lit(1)).as("__occ"))
        // C(occ,2) via shift — occ*(occ-1) is even, exact in integers.
        val mass = occ.agg(
          sum(shiftright(col("__occ") * (col("__occ") - 1), 1))
            .as("n_candidate_mass"),
          sum(when(col("__occ") > cap, 1L).otherwise(0L)).as("n_big_buckets"))
        val small = occ.filter(col("__occ") <= cap)
          .select(col("__band"), col("__bucket"))
        // SHUFFLE_HASH: the bucket-occupancy frame is corpus-linear.
        val capped = banded.join(small.hint("shuffle_hash"),
          Seq("__band", "__bucket"))
        val cand = capped.as("a")
          .join(capped.as("b").hint("shuffle_hash"),
            col("a.__band") === col("b.__band") &&
              col("a.__bucket") === col("b.__bucket") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        // ground truth over the PILOT's own shingles — exactly the oracle's
        // `inv`/`truth` CTEs (computed from `nz`, the pilot shingle set).
        // The previous full-corpus docShingles truth only coincided with
        // the declared oracle where the pilot covers the corpus (sf <=
        // 0.01); pilot-restricted truth matches it at EVERY scale, and is
        // the semantically right denominator for a pilot-sample recall —
        // bounded by the 2000-doc pilot instead of corpus-linear.
        val truth = NearDup.exactJaccardPairsFromShingles(
            sh, "doc_id", threshold = 0.8)
          .select("id_a", "id_b")
        val hits = cand.join(truth.hint("shuffle_hash"), Seq("id_a", "id_b"),
          "left_semi")
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(mass)
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          .select(col("n_candidates"), col("n_candidate_mass"),
            col("n_big_buckets"), col("n_truth"), col("n_hits"),
            when(col("n_candidates") > 0,
              col("n_hits").cast("double") / col("n_candidates").cast("double"))
              .as("precision"),
            when(col("n_truth") > 0,
              col("n_hits").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      },
      Some(s"""
        WITH pilot AS (
          SELECT * FROM documents
          ORDER BY ${TextHash.duckHash60("'lshpilot#' || CAST(doc_id AS VARCHAR)")},
                   doc_id
          LIMIT 2000
        ), d AS (
          SELECT doc_id, ${duckShingles(Toks, 3)} AS sh FROM pilot
        ), nz AS (
          SELECT doc_id, sh FROM d WHERE len(sh) > 0
        ), sigs AS (
          SELECT doc_id,
                 [list_min([((s * 2654435761 % ${NearDup.MinHashP - 1} + 1)
                             * (${TextHash.duckHash60("x")} % ${NearDup.MinHashP}) + s)
                            % ${NearDup.MinHashP} FOR x IN sh])
                  FOR s IN generate_series(0, 63)] AS sig
          FROM nz
        ), banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[CAST(j*4+1 AS BIGINT):CAST(j*4+4 AS BIGINT)],
                   v -> CAST(v AS VARCHAR)), '_') AS bucket
          FROM sigs CROSS JOIN range(0, 16) t(j)
        ), occ AS (
          SELECT band, bucket, COUNT(*) AS occ FROM banded GROUP BY 1, 2
        ), mass AS (
          SELECT CAST(SUM(occ * (occ - 1) // 2) AS BIGINT) AS n_candidate_mass,
                 CAST(SUM(CASE WHEN occ > 64 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_big_buckets
          FROM occ
        ), capped AS (
          SELECT b.doc_id, b.band, b.bucket
          FROM banded b JOIN occ o
            ON b.band = o.band AND b.bucket = o.bucket AND o.occ <= 64
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM capped a JOIN capped b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), inv AS (
          SELECT doc_id, unnest(sh) AS s FROM nz
        ), truth AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING CAST(COUNT(*) AS DOUBLE)
                   / CAST((SELECT len(sh) FROM nz WHERE doc_id = a.doc_id)
                          + (SELECT len(sh) FROM nz WHERE doc_id = b.doc_id)
                          - COUNT(*) AS DOUBLE) >= 0.8
        ), hits AS (
          SELECT 1 FROM cand c JOIN truth t
            ON c.id_a = t.id_a AND c.id_b = t.id_b
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
               (SELECT n_candidate_mass FROM mass) AS n_candidate_mass,
               (SELECT n_big_buckets FROM mass) AS n_big_buckets,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
               CASE WHEN (SELECT COUNT(*) FROM cand) > 0
                 THEN CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE) END AS precision,
               CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                 THEN CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
                   / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE) END AS recall
      """.trim)),

    // Right-to-be-forgotten purge cascade: a bounded deletion-request list
    // (customer keys) anti-joined through the fact chain — events by the
    // user key, orders by the customer key, and lineitem transitively
    // through its purged parent orders. The per-table before/after/deleted
    // audit is what a GDPR/CCPA erasure job must emit. Scale shape: the
    // request list broadcasts (bounded by the request batch, never
    // data-sized); the order-key cascade is a shuffle semi/anti join
    // (order keys of deleted customers are data-sized — hinted off
    // broadcast).
    Q(
      "q271_gdpr_purge",
      (s, dir) => {
        val del = Tables.customer(s, dir)
          .filter(col("c_custkey") % 97 === 0)
          .select(col("c_custkey").as("del_id"))
        val ev = Tables.events(s, dir)
        // SHUFFLE_HASH: the deletion list is a fixed fraction of the
        // customer table — data-sized, not a bounded frame (same category
        // as the part-dim broadcast the round-4 advisor flagged).
        val evAfter = ev.join(del.hint("shuffle_hash"),
          col("user_id") === col("del_id"), "left_anti")
        val od = Tables.orders(s, dir)
        val odAfter = od.join(del.hint("shuffle_hash"),
          col("o_custkey") === col("del_id"), "left_anti")
        val purgedOrders = od.join(del.hint("shuffle_hash"),
            col("o_custkey") === col("del_id"), "left_semi")
          .select(col("o_orderkey"))
        val li = Tables.lineitem(s, dir)
        val liAfter = li.join(purgedOrders.hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        def audit(name: String, before: org.apache.spark.sql.DataFrame,
            after: org.apache.spark.sql.DataFrame) =
          before.agg(count(lit(1)).as("rows_before"))
            .crossJoin(after.agg(count(lit(1)).as("rows_after")))
            .select(lit(name).as("table_name"), col("rows_before"),
              col("rows_after"),
              (col("rows_before") - col("rows_after")).as("rows_deleted"))
        audit("events", ev, evAfter)
          .unionByName(audit("lineitem", li, liAfter))
          .unionByName(audit("orders", od, odAfter))
          .orderBy("table_name")
      },
      Some("""
        WITH del AS (
          SELECT c_custkey AS del_id FROM customer WHERE c_custkey % 97 = 0
        ), a AS (
          SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_before,
                 CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM del WHERE del_id = user_id)) AS BIGINT) AS rows_after
          FROM events
          UNION ALL
          SELECT 'orders', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM del WHERE del_id = o_custkey)) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) FILTER (WHERE NOT EXISTS
                   (SELECT 1 FROM orders o JOIN del ON o.o_custkey = del.del_id
                    WHERE o.o_orderkey = l_orderkey)) AS BIGINT)
          FROM lineitem
        )
        SELECT table_name, rows_before, rows_after,
               rows_before - rows_after AS rows_deleted
        FROM a ORDER BY table_name
      """.trim)),

    // CUSUM drift detection per user — the sequential changepoint statistic
    // S_i = max(0, S_{i-1} + (x_i - k)) that flags sustained upward drift a
    // per-point z-score (q78) misses. The textbook form is a RECURSIVE fold
    // no window can express; here it rides the closed form
    // S_i = P_i - min(0, min_{j<=i} P_j) over the prefix sums P of (x - k)
    // — two per-user-partitioned running aggregates, exact integer micros
    // end-to-end (x = floor(value·1e6): one IEEE multiply + floor on the
    // same double in both engines, then pure long arithmetic).
    Q(
      "q272_cusum_drift",
      (s, dir) => {
        val k = 250000000L  // reference level, micro-units
        val h = 2000000000L // alarm threshold, micro-units
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"),
            (floor(col("value") * 1000000d).cast("long") - k).as("y"))
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cusum = ev
          .withColumn("p", sum(col("y")).over(w))
          .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(w)))
        cusum.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max(col("s")).as("max_cusum"),
            sum(when(col("s") > h, 1L).otherwise(0L)).as("n_alarms"))
          .orderBy("user_id")
      },
      Some("""
        WITH y AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 CAST(floor(value * 1000000) AS BIGINT) - 250000000 AS y
          FROM events
        ), pre AS (
          SELECT user_id, ts_us, event_id,
                 SUM(y) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM y
        ), c AS (
          SELECT user_id, p,
                 p - LEAST(0, MIN(p) OVER (PARTITION BY user_id
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
          FROM pre
        )
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(s) AS BIGINT) AS max_cusum,
               CAST(SUM(CASE WHEN s > 2000000000 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_alarms
        FROM c GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Sequential conversion funnel with per-step deadlines: view -> first
    // click STRICTLY after it (within 30 min) -> first purchase strictly
    // after that click (within 30 min). Deadlines make this a different
    // operator from unordered funnels (q67) and unconstrained paths (q202):
    // each step re-anchors the clock. "First X strictly after" is a
    // VALUE-RANGE window (RANGE 1 FOLLOWING .. UNBOUNDED on epoch micros) —
    // tie rows get identical answers, so the chain is deterministic on ts
    // values alone; the click->purchase hop joins views to the DISTINCT
    // per-(user, ts) click frame, all user-key-partitioned work.
    Q(
      "q273_sequential_funnel",
      (s, dir) => {
        val win = 30L * 60L * 1000000L
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        val after = Window.partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(1L, Window.unboundedFollowing)
        val annotated = ev
          .withColumn("next_click_ts",
            min(when(col("event_type") === "click", col("ts_us"))).over(after))
          .withColumn("next_purchase_ts",
            min(when(col("event_type") === "purchase", col("ts_us"))).over(after))
        val clicks = annotated.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts_us").as("c_ts"), col("next_purchase_ts"))
          .distinct()
        annotated.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts_us").as("v_ts"),
            when(col("next_click_ts") - col("ts_us") <= win, col("next_click_ts"))
              .as("c_ts"))
          .join(clicks, Seq("user_id", "c_ts"), "left")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_views"),
            sum(when(col("c_ts").isNotNull, 1L).otherwise(0L)).as("n_click30"),
            sum(when(col("next_purchase_ts") - col("c_ts") <= win, 1L)
              .otherwise(0L)).as("n_funnel30"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        ), ann AS (
          SELECT user_id, event_type, ts_us,
                 MIN(CASE WHEN event_type = 'click' THEN ts_us END) OVER after
                   AS next_click_ts,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER after
                   AS next_purchase_ts
          FROM ev
          WINDOW after AS (PARTITION BY user_id ORDER BY ts_us
                           RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        ), clicks AS (
          SELECT DISTINCT user_id, ts_us AS c_ts, next_purchase_ts
          FROM ann WHERE event_type = 'click'
        ), views AS (
          SELECT user_id, ts_us AS v_ts,
                 CASE WHEN next_click_ts - ts_us <= 1800000000
                      THEN next_click_ts END AS c_ts
          FROM ann WHERE event_type = 'view'
        )
        SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_views,
               CAST(SUM(CASE WHEN v.c_ts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_click30,
               CAST(SUM(CASE WHEN c.next_purchase_ts - v.c_ts <= 1800000000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel30
        FROM views v LEFT JOIN clicks c
          ON c.user_id = v.user_id AND c.c_ts = v.c_ts
        GROUP BY v.user_id ORDER BY v.user_id
      """.trim)),

    // Markov next-event prediction eval: a first-order transition model
    // trained on the first half of event time (argmax next type per
    // previous type, q171's deterministic min_by((-cnt, value)) tie-break)
    // scored on the second half — the relational form of "can yesterday's
    // transition matrix predict tomorrow". The time split is the exact
    // integer midpoint of the epoch-micros range; a consecutive pair
    // belongs to the half its NEXT event falls in (the prediction target's
    // timestamp decides). Transitions are one lead over the user-partitioned
    // sort shared by both halves; the 5-row model broadcasts back onto the
    // test pairs.
    Q(
      "q274_markov_eval",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val pairs = ev
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
          .filter(col("next_type").isNotNull)
        val mid = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
          .select(expr("(mn + mx) div 2").as("mid"))
        val split = pairs.crossJoin(broadcast(mid))
        val model = split.filter(col("next_ts") <= col("mid"))
          .groupBy(col("event_type"), col("next_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("event_type"))
          .agg(expr("min_by(next_type, struct(-cnt, next_type))").as("prediction"))
        split.filter(col("next_ts") > col("mid"))
          .join(broadcast(model), Seq("event_type"), "inner")
          .groupBy(col("event_type").as("prev_type"),
            col("prediction"))
          .agg(count(lit(1)).as("n_test_pairs"),
            sum(when(col("next_type") === col("prediction"), 1L).otherwise(0L))
              .as("n_correct"))
          .select(col("prev_type"), col("prediction"), col("n_test_pairs"),
            col("n_correct"),
            (col("n_correct").cast("double") / col("n_test_pairs").cast("double"))
              .as("accuracy"))
          .orderBy("prev_type")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
        ), pairs AS (
          SELECT user_id, event_type, ts_us,
                 LEAD(event_type) OVER w AS next_type,
                 LEAD(ts_us) OVER w AS next_ts
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), mid AS (
          SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev
        ), train AS (
          SELECT event_type, next_type, COUNT(*) AS cnt
          FROM pairs, mid
          WHERE next_type IS NOT NULL AND next_ts <= mid
          GROUP BY 1, 2
        ), model AS (
          SELECT event_type, next_type AS prediction
          FROM (SELECT event_type, next_type,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY cnt DESC, next_type ASC) AS rn
                FROM train)
          WHERE rn = 1
        )
        SELECT p.event_type AS prev_type, m.prediction,
               CAST(COUNT(*) AS BIGINT) AS n_test_pairs,
               CAST(SUM(CASE WHEN p.next_type = m.prediction THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN p.next_type = m.prediction THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM pairs p, mid, model m
        WHERE p.next_type IS NOT NULL AND p.next_ts > mid.mid
          AND m.event_type = p.event_type
        GROUP BY 1, 2 ORDER BY prev_type
      """.trim)),

    // Merkle-style bucket diff between two table versions — the
    // anti-entropy primitive of incremental replication: rows hash into 256
    // key buckets, each bucket folds to (count, Σ row-hash) — an
    // order-independent exact checksum — and only buckets whose summaries
    // disagree are reported (those are the ones a sync job would re-ship).
    // v2 simulates an update batch (price bump on key%1000, deletes on
    // key%997). Work is two scans + one 256-row join, no row×row compare.
    Q(
      "q275_bucket_diff",
      (s, dir) => {
        import graft.ext.TextHash
        // row hash reduced to 32 bits BEFORE the sum: a Σ of 60-bit values
        // overflows long past ~8 rows, and DuckDB's SUM silently widens to
        // HUGEINT where Spark's ANSI sum throws — 32-bit terms keep the
        // bucket checksum exact in a plain long to ~2e9 rows per bucket.
        def summarize(df: org.apache.spark.sql.DataFrame) = df
          .select(pmod(col("k"), lit(256)).as("bucket"),
            pmod(TextHash.hash60(concat(col("k").cast("string"), lit(":"),
              col("cents").cast("string"))), lit(4294967296L)).as("rh"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("rh")).as("chk"))
        val v1 = Tables.orders(s, dir)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
              .as("cents"))
        val v2 = v1.filter(col("k") % 997 =!= 0)
          .select(col("k"),
            when(col("k") % 1000 === 0, col("cents") + 1)
              .otherwise(col("cents")).as("cents"))
        summarize(v1).as("a")
          .join(summarize(v2).as("b"), Seq("bucket"), "full_outer")
          .select(col("bucket"),
            coalesce(col("a.n"), lit(0L)).as("n_v1"),
            coalesce(col("b.n"), lit(0L)).as("n_v2"),
            (coalesce(col("a.chk"), lit(0L)) - coalesce(col("b.chk"), lit(0L)))
              .as("chk_delta"))
          .filter(col("n_v1") =!= col("n_v2") || col("chk_delta") =!= 0)
          .orderBy("bucket")
      },
      Some(s"""
        WITH v1 AS (
          SELECT o_orderkey AS k,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
          FROM orders
        ), v2 AS (
          SELECT k,
                 CASE WHEN k % 1000 = 0 THEN cents + 1 ELSE cents END AS cents
          FROM v1 WHERE k % 997 <> 0
        ), s1 AS (
          SELECT k % 256 AS bucket, COUNT(*) AS n,
                 SUM(${graft.ext.TextHash.duckHash60("CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)")} % 4294967296) AS chk
          FROM v1 GROUP BY 1
        ), s2 AS (
          SELECT k % 256 AS bucket, COUNT(*) AS n,
                 SUM(${graft.ext.TextHash.duckHash60("CAST(k AS VARCHAR) || ':' || CAST(cents AS VARCHAR)")} % 4294967296) AS chk
          FROM v2 GROUP BY 1
        )
        SELECT COALESCE(s1.bucket, s2.bucket) AS bucket,
               CAST(COALESCE(s1.n, 0) AS BIGINT) AS n_v1,
               CAST(COALESCE(s2.n, 0) AS BIGINT) AS n_v2,
               CAST(COALESCE(s1.chk, 0) - COALESCE(s2.chk, 0) AS BIGINT) AS chk_delta
        FROM s1 FULL OUTER JOIN s2 ON s1.bucket = s2.bucket
        WHERE COALESCE(s1.n, 0) <> COALESCE(s2.n, 0)
           OR COALESCE(s1.chk, 0) <> COALESCE(s2.chk, 0)
        ORDER BY bucket
      """.trim)),

    // Hot/cold split join — the OTHER skew defense (q71 salts the
    // aggregate; AQE splits at runtime): keys above a hotness threshold
    // route through a broadcast join of JUST the hot dimension rows
    // (bounded: few keys are ever hot), the cold majority takes the normal
    // shuffle join, and the union is the full join result — bit-identical
    // to the plain join, which is exactly what the oracle states. The
    // split predicate is a semi/anti join against the hot-key list.
    Q(
      "q276_hotcold_join",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"))
        val hotKeys = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 35).select("l_partkey")
        val pt = Tables.part(s, dir).select("p_partkey", "p_brand")
        val hot = li.join(broadcast(hotKeys), Seq("l_partkey"), "left_semi")
          .join(broadcast(pt.join(broadcast(hotKeys),
            col("p_partkey") === col("l_partkey"), "left_semi")),
            col("l_partkey") === col("p_partkey"))
        val cold = li.join(broadcast(hotKeys), Seq("l_partkey"), "left_anti")
          .join(pt.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
        hot.unionByName(cold)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_lines"), sum(col("qty")).as("sum_qty"))
          .orderBy("p_brand")
      },
      Some("""
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand
      """.trim)),

    // SQL PIVOT clause — the parser-level pivot surface q34's DataFrame
    // API doesn't touch: value-aliased IN list, DECIMAL-exact cell sums
    // surfaced as doubles (backing integers stay far inside int64, so the
    // decimal->double conversion is exact in both engines).
    Q(
      "q277_sql_pivot",
      (s, dir) => {
        val v = "graft_q277_orders"
        Tables.orders(s, dir).createOrReplaceTempView(v)
        s.sql(s"""
          SELECT o_orderstatus,
                 CAST(p1 AS DOUBLE) AS urgent,
                 CAST(p2 AS DOUBLE) AS high,
                 CAST(p3 AS DOUBLE) AS medium,
                 CAST(p4 AS DOUBLE) AS not_specified,
                 CAST(p5 AS DOUBLE) AS low
          FROM (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS tp
            FROM $v
          )
          PIVOT (SUM(tp) FOR o_orderpriority IN (
            '1-URGENT' AS p1, '2-HIGH' AS p2, '3-MEDIUM' AS p3,
            '4-NOT SPECIFIED' AS p4, '5-LOW' AS p5))
          ORDER BY o_orderstatus
        """)
      },
      Some("""
        SELECT o_orderstatus,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderpriority = '2-HIGH') AS DOUBLE) AS high,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderpriority = '3-MEDIUM') AS DOUBLE) AS medium,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS DOUBLE)
                 AS not_specified,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (WHERE o_orderpriority = '5-LOW') AS DOUBLE) AS low
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
      """.trim)),

    // Corpus phrase search — multi-token EXACT phrase matching over the
    // normalized text, the "grep the corpus" operator. For a BOUNDED query
    // phrase list the scale-right plan is not an index but a single
    // broadcast-phrase map-side scan (one pass over the corpus, no
    // shuffle on the doc side until the per-phrase rollup); occurrence
    // counts come from pure integer length arithmetic
    // (len(t) - len(replace(t, p))) / len(p) — identical in both engines,
    // counting non-overlapping occurrences exactly like replace() removes
    // them. Phrases are padded with spaces against the padded text so only
    // whole-token matches count.
    Q(
      "q278_phrase_search",
      (s, dir) => {
        import s.implicits._
        val phrases = Seq("table value part", "scan slow fast", "spark a a")
          .toDF("phrase")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            concat(lit(" "), graft.engine.Cleaning.normalizeText(col("text")),
              lit(" ")).as("t"))
        docs.crossJoin(broadcast(phrases))
          .select(col("doc_id"), col("phrase"),
            expr("""(length(t) - length(replace(t, ' ' || phrase || ' ', ' ')))
                    div (length(phrase) + 1)""").as("n_occ"))
          .filter(col("n_occ") > 0)
          .groupBy("phrase")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_occ")).as("n_occurrences"))
          .orderBy("phrase")
      },
      Some(s"""
        WITH phrases AS (
          SELECT unnest(['table value part', 'scan slow fast', 'spark a a'])
            AS phrase
        ), d AS (
          SELECT doc_id, ' ' || $NormText || ' ' AS t FROM documents
        ), m AS (
          SELECT phrase, doc_id,
                 (length(t) - length(replace(t, ' ' || phrase || ' ', ' ')))
                   // (length(phrase) + 1) AS n_occ
          FROM d CROSS JOIN phrases
        )
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
        FROM m WHERE n_occ > 0
        GROUP BY phrase ORDER BY phrase
      """.trim)),

    // Event-time disorder audit — the watermark-planning diagnostic: how
    // late does each event arrive relative to the per-user event-time high
    // watermark seen so far? Lateness of a row = prefix-max(ts) − ts over
    // the ARRIVAL order; the histogram of lateness (on-time / <1 s / <10 s
    // / <1 min / <10 min / ≥10 min) is what picks a streaming watermark
    // delay that loses less than a target fraction. The fixture lands in
    // perfect event-time order (zero lateness everywhere), so the arrival
    // process is a deterministic local permutation of the ingest sequence —
    // the last decimal digit of event_id reversed, i.e. shuffling within
    // consecutive blocks of 10 — giving the audit genuine bounded disorder
    // to measure. Per-user partitioned prefix max (the q267 exclusive-frame
    // shape), then one bounded rollup.
    Q(
      "q279_disorder_audit",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            (col("event_id") - pmod(col("event_id"), lit(10L)) +
              (lit(9L) - pmod(col("event_id"), lit(10L)))).as("arrival_seq"))
        val w = Window.partitionBy("user_id").orderBy("arrival_seq")
          .rowsBetween(Window.unboundedPreceding, -1)
        val late = ev
          .withColumn("hwm", max(col("ts_us")).over(w))
          .withColumn("lateness_us",
            greatest(lit(0L), coalesce(col("hwm") - col("ts_us"), lit(0L))))
        late
          .withColumn("bucket",
            when(col("lateness_us") === 0, "0_on_time")
              .when(col("lateness_us") < 1000000L, "1_under_1s")
              .when(col("lateness_us") < 10000000L, "2_under_10s")
              .when(col("lateness_us") < 60000000L, "3_under_1m")
              .when(col("lateness_us") < 600000000L, "4_under_10m")
              .otherwise("5_over_10m"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_events"),
            max(col("lateness_us")).as("max_lateness_us"))
          .orderBy("bucket")
      },
      Some("""
        WITH arr AS (
          SELECT user_id, epoch_us(ts) AS ts_us,
                 event_id - (event_id % 10) + (9 - event_id % 10) AS arrival_seq
          FROM events
        ), late AS (
          SELECT user_id,
                 GREATEST(0, COALESCE(
                   MAX(ts_us) OVER (PARTITION BY user_id ORDER BY arrival_seq
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - ts_us, 0)) AS lateness_us
          FROM arr
        )
        SELECT CASE WHEN lateness_us = 0 THEN '0_on_time'
                    WHEN lateness_us < 1000000 THEN '1_under_1s'
                    WHEN lateness_us < 10000000 THEN '2_under_10s'
                    WHEN lateness_us < 60000000 THEN '3_under_1m'
                    WHEN lateness_us < 600000000 THEN '4_under_10m'
                    ELSE '5_over_10m' END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(lateness_us) AS BIGINT) AS max_lateness_us
        FROM late GROUP BY 1 ORDER BY bucket
      """.trim)),

    // Grid-cell neighbor join — the 2-D spatial-join pattern without a geo
    // library: points (per-part profile coordinates, exact integers) land
    // in d×d grid cells; one side explodes to its 3×3 neighbor cells and
    // the candidate join is a plain HASH equi-join on the cell key — never
    // the all-pairs theta join the oracle states. With cell size = the L∞
    // radius d, |Δx| ≤ d forces the cell deltas into {-1,0,1}, so the 3×3
    // probe is COMPLETE; and since a target's cell is unique, each
    // candidate pair arises from exactly one probe cell — no dedup needed.
    // The same shape scales to any point count (candidates ~ density ×
    // points, not points²).
    Q(
      "q280_grid_neighbor_join",
      (s, dir) => {
        val d = 3L
        val pts = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey").as("k"))
          .agg(sum(col("l_quantity").cast("long")).as("x"),
            sum((col("l_discount").cast("decimal(8,2)") * 100).cast("long"))
              .as("y"))
        val cells = pts
          .withColumn("cx", expr(s"x div $d")).withColumn("cy", expr(s"y div $d"))
        val offsets = array(
          (for (i <- -1 to 1; j <- -1 to 1)
            yield struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj"))): _*)
        val probes = cells.select(col("k"), col("x"), col("y"),
            col("cx"), col("cy"), explode(offsets).as("o"))
          .select(col("k"), col("x"), col("y"),
            (col("cx") + col("o.di")).as("ncx"), (col("cy") + col("o.dj")).as("ncy"))
        probes.as("a")
          .join(cells.as("b").hint("shuffle_hash"),
            col("a.ncx") === col("b.cx") && col("a.ncy") === col("b.cy") &&
              col("a.k") < col("b.k"))
          .filter(abs(col("a.x") - col("b.x")) <= d &&
            abs(col("a.y") - col("b.y")) <= d)
          .select(col("a.k").as("id_a"), col("b.k").as("id_b"),
            (col("a.x") - col("b.x")).as("dx"), (col("a.y") - col("b.y")).as("dy"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH pts AS (
          SELECT l_partkey AS k,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
                 CAST(SUM(CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT))
                   AS BIGINT) AS y
          FROM lineitem GROUP BY 1
        )
        SELECT a.k AS id_a, b.k AS id_b,
               a.x - b.x AS dx, a.y - b.y AS dy
        FROM pts a JOIN pts b
          ON a.k < b.k AND abs(a.x - b.x) <= 3 AND abs(a.y - b.y) <= 3
        ORDER BY id_a, id_b
      """.trim)),

    // Pseudonymization consistency audit — format-free key tokenization for
    // privacy-preserving analytics: user keys are replaced by a keyed
    // 60-bit hash and the audit proves the pseudonymized corpus still
    // supports the SAME analytics — distinct-entity counts are preserved
    // (injectivity on the observed domain) and the events↔customer join
    // cardinality is identical before and after tokenization. One row,
    // all exact integers; any collision or join drift shows as a
    // before≠after difference the hash gate would catch.
    Q(
      "q281_pseudonym_audit",
      (s, dir) => {
        import graft.ext.TextHash
        def tok(c: org.apache.spark.sql.Column) =
          TextHash.hash60(concat(lit("u:"), c.cast("string")))
        val ev = Tables.events(s, dir).select(col("user_id"))
        val cust = Tables.customer(s, dir).select(col("c_custkey"))
        val before = ev.join(cust, col("user_id") === col("c_custkey"))
          .agg(count(lit(1)).as("n_join_before"))
        val after = ev.select(tok(col("user_id")).as("pu"))
          .join(cust.select(tok(col("c_custkey")).as("pc")),
            col("pu") === col("pc"))
          .agg(count(lit(1)).as("n_join_after"))
        ev.agg(countDistinct(col("user_id")).as("n_users"))
          .crossJoin(ev.select(tok(col("user_id")).as("pu"))
            .agg(countDistinct(col("pu")).as("n_pseudo_users")))
          .crossJoin(before).crossJoin(after)
          .select(col("n_users"), col("n_pseudo_users"),
            col("n_join_before"), col("n_join_after"),
            (col("n_users") - col("n_pseudo_users")).as("collisions"),
            (col("n_join_before") - col("n_join_after")).as("join_drift"))
      },
      Some(s"""
        WITH pe AS (
          SELECT user_id,
                 ${graft.ext.TextHash.duckHash60("'u:' || CAST(user_id AS VARCHAR)")} AS pu
          FROM events
        ), pc AS (
          SELECT c_custkey,
                 ${graft.ext.TextHash.duckHash60("'u:' || CAST(c_custkey AS VARCHAR)")} AS pc
          FROM customer
        )
        SELECT (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM pe) AS n_users,
               (SELECT CAST(COUNT(DISTINCT pu) AS BIGINT) FROM pe) AS n_pseudo_users,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pe JOIN pc
                  ON pe.user_id = pc.c_custkey) AS n_join_before,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pe JOIN pc
                  ON pe.pu = pc.pc) AS n_join_after,
               (SELECT CAST(COUNT(DISTINCT user_id) - COUNT(DISTINCT pu) AS BIGINT)
                  FROM pe) AS collisions,
               CAST((SELECT COUNT(*) FROM pe JOIN pc ON pe.user_id = pc.c_custkey)
                 - (SELECT COUNT(*) FROM pe JOIN pc ON pe.pu = pc.pc) AS BIGINT)
                 AS join_drift
      """.trim)),

    // Luhn checksum validation — the PII-detection depth check behind
    // q110's regex pass: a card-NUMBER-shaped string is only sensitive if
    // its check digit verifies. Numbers are synthesized deterministically
    // (~1 in 10 valid); Spark validates with the built-in luhn_check while
    // the oracle recomputes the checksum from first principles — reversed
    // digits, every second one doubled with digit-sum folding (d*2 - 9
    // when d > 4), total mod 10 — so the builtin's contract itself is what
    // the gate pins. Booleans surface as ints (nullable-boolean hash
    // hazard), rollup per source.
    Q(
      "q282_luhn_check",
      (s, dir) => {
        val nums = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            concat(lit("4"),
              lpad((col("doc_id") * 7919 % 100000000000000L).cast("string"), 14, "0"),
              (col("doc_id") % 10).cast("string")).as("card"))
        nums
          .select(col("source"),
            expr("if(luhn_check(card), 1L, 0L)").as("is_valid"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_numbers"), sum(col("is_valid")).as("n_valid"))
          .orderBy("source")
      },
      Some("""
        WITH nums AS (
          SELECT doc_id, source,
                 '4' || lpad(CAST(doc_id * 7919 % 100000000000000 AS VARCHAR), 14, '0')
                     || CAST(doc_id % 10 AS VARCHAR) AS card
          FROM documents
        ), checked AS (
          SELECT source,
                 CASE WHEN list_sum(
                   [CASE WHEN i % 2 = 1 THEN
                      CASE WHEN CAST(card[len(card) - i : len(card) - i] AS INT) > 4
                           THEN CAST(card[len(card) - i : len(card) - i] AS INT) * 2 - 9
                           ELSE CAST(card[len(card) - i : len(card) - i] AS INT) * 2 END
                    ELSE CAST(card[len(card) - i : len(card) - i] AS INT) END
                    FOR i IN generate_series(0, len(card) - 1)]) % 10 = 0
                 THEN 1 ELSE 0 END AS is_valid
          FROM nums
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_numbers,
               CAST(SUM(is_valid) AS BIGINT) AS n_valid
        FROM checked GROUP BY source ORDER BY source
      """.trim)),

    // transform_values — the one map HOF q174 left untouched: per-user
    // event-type count maps normalized IN PLACE to per-type shares
    // (transform_values with a captured total), then exploded back to rows
    // for the value-exact compare. Each share is one division of exact
    // integers; the relational oracle computes the same shares without ever
    // building a map, proving the HOF is semantics-neutral packaging.
    Q(
      "q283_map_normalize",
      (s, dir) => {
        val perType = Tables.events(s, dir)
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"))
        val maps = perType.groupBy("user_id")
          .agg(map_from_entries(sort_array(collect_list(
              struct(col("event_type"), col("cnt"))))).as("cnt_map"),
            sum(col("cnt")).as("total"))
        maps
          .select(col("user_id"),
            explode(transform_values(col("cnt_map"),
              (_, v) => v.cast("double") / col("total").cast("double")))
              .as(Seq("event_type", "share")))
          .orderBy("user_id", "event_type")
      },
      Some("""
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2
        ), t AS (
          SELECT user_id, SUM(cnt) AS total FROM c GROUP BY 1
        )
        SELECT c.user_id, c.event_type,
               CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
        FROM c JOIN t ON c.user_id = t.user_id
        ORDER BY c.user_id, event_type
      """.trim)),

    // Rendezvous (highest-random-weight) sharding + rebalance diff — the
    // consistent-assignment primitive of distributed stores: each doc goes
    // to the shard minimizing hash(doc, shard), so adding a 17th shard
    // moves ONLY the docs whose new-shard weight beats their old minimum
    // (~1/17 of the corpus in expectation) — against naive mod-sharding,
    // which moves ~16/17. The assignment is a bounded 16/17-way explode +
    // min_by per doc (deterministic struct tie-break), never a shuffle of
    // shard state; the audit reports per-old-shard occupancy and outflow
    // plus the global moved fraction.
    Q(
      "q284_rendezvous_shards",
      (s, dir) => {
        import graft.ext.TextHash
        def assign(n: Int, name: String) =
          Tables.documents(s, dir).select(col("doc_id"))
            .select(col("doc_id"),
              explode(sequence(lit(0L), lit(n - 1L))).as("sh"))
            .select(col("doc_id"), col("sh"),
              TextHash.hash60(concat(col("doc_id").cast("string"), lit(":"),
                col("sh").cast("string"))).as("w"))
            .groupBy("doc_id")
            .agg(expr("min_by(sh, struct(w, sh))").as(name))
        assign(16, "shard_v1").join(assign(17, "shard_v2"), "doc_id")
          .groupBy(col("shard_v1").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard_v1") =!= col("shard_v2"), 1L).otherwise(0L))
              .as("n_moved_out"))
          .orderBy("shard")
      },
      Some(s"""
        WITH a1 AS (
          SELECT doc_id, sh AS shard_v1
          FROM (SELECT doc_id, sh,
                       row_number() OVER (PARTITION BY doc_id ORDER BY
                         ${graft.ext.TextHash.duckHash60("CAST(doc_id AS VARCHAR) || ':' || CAST(sh AS VARCHAR)")},
                         sh) AS rn
                FROM documents CROSS JOIN range(0, 16) t(sh))
          WHERE rn = 1
        ), a2 AS (
          SELECT doc_id, sh AS shard_v2
          FROM (SELECT doc_id, sh,
                       row_number() OVER (PARTITION BY doc_id ORDER BY
                         ${graft.ext.TextHash.duckHash60("CAST(doc_id AS VARCHAR) || ':' || CAST(sh AS VARCHAR)")},
                         sh) AS rn
                FROM documents CROSS JOIN range(0, 17) t(sh))
          WHERE rn = 1
        )
        SELECT shard_v1 AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN shard_v1 <> shard_v2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_moved_out
        FROM a1 JOIN a2 USING (doc_id)
        GROUP BY 1 ORDER BY shard
      """.trim)),

    // Backfill planner — the lake-maintenance gap detector: orders land in
    // a month-partitioned sink with two months deterministically withheld
    // (a failed-ingest simulation); the planner reads the sink's partition
    // values back through directory discovery, builds the full month spine
    // from the data's own min/max (the S6 generator shape), and anti-joins
    // to emit exactly the partitions a backfill job must re-run. Composes
    // partitioned write -> partition discovery -> spine anti-join in one
    // gated query.
    Q(
      "q285_backfill_plan",
      (s, dir) => {
        val path = graft.engine.Scratch.dir(s, dir, "q285_backfill")
        val od = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
            date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
        graft.engine.Sinks.writePartitioned(
          od.filter(!month(col("o_orderdate")).isin(3, 11)),
          path, partitionCols = Seq("order_month"))
        s.catalog.clearCache()
        val present = Sources.parquet(s, path).select("order_month").distinct()
        val spine = od.agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"))
          .select(explode(sequence(trunc(col("mn"), "month"),
            trunc(col("mx"), "month"), expr("interval 1 month"))).as("m"))
          .select(date_format(col("m"), "yyyy-MM").as("order_month"))
        spine.join(present, Seq("order_month"), "left_anti")
          .orderBy("order_month")
      },
      Some("""
        WITH spine AS (
          SELECT strftime(m, '%Y-%m') AS order_month
          FROM (SELECT unnest(generate_series(
                  date_trunc('month', (SELECT MIN(o_orderdate) FROM orders)),
                  date_trunc('month', (SELECT MAX(o_orderdate) FROM orders)),
                  INTERVAL 1 MONTH)) AS m)
        ), present AS (
          SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS order_month
          FROM orders
          WHERE month(o_orderdate) NOT IN (3, 11)
        )
        SELECT order_month FROM spine
        WHERE order_month NOT IN (SELECT order_month FROM present)
        ORDER BY order_month
      """.trim)),

    // Skip-gram co-occurrence — the word2vec-style windowed statistic that
    // generalizes q55's ADJACENT-only collocations: token pairs up to 5
    // positions apart, ordered (left, right). Pairs come from the shifted-
    // slice zip trick (the shingle construction), one zip per offset,
    // flattened — pure map-side expression work, NO positional self-join
    // (which would fan out per-doc-length² before its residual filter).
    // Global top-20 by (count DESC, pair) rides TakeOrdered, not a window.
    Q(
      "q286_skipgram_pairs",
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        val pairsFor = (j: Int) => {
          val m = size(toks) - j
          transform(arrays_zip(slice(toks, lit(1), m), slice(toks, lit(j + 1), m)),
            z => struct(z.getField("0").as("tok_a"), z.getField("1").as("tok_b")))
        }
        Tables.documents(s, dir)
          .select(explode(flatten(array((1 to 5).map(pairsFor): _*))).as("p"))
          .select(col("p.tok_a").as("tok_a"), col("p.tok_b").as("tok_b"))
          .groupBy("tok_a", "tok_b")
          .agg(count(lit(1)).as("n_cooc"))
          .orderBy(col("n_cooc").desc, col("tok_a"), col("tok_b"))
          .limit(20)
      },
      Some(s"""
        WITH d AS (
          SELECT $Toks AS w FROM documents
        ), pairs AS (
          SELECT unnest([struct_pack(a := w[i], b := w[i + j])
                         FOR i IN generate_series(1, len(w) - j)]) AS pr
          FROM d CROSS JOIN range(1, 6) o(j)
          WHERE len(w) > j
        )
        SELECT pr.a AS tok_a, pr.b AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_cooc
        FROM pairs GROUP BY 1, 2
        ORDER BY n_cooc DESC, tok_a, tok_b LIMIT 20
      """.trim)),

    // Two-proportion z-test — the A/B experiment readout: users hash-split
    // into arms (RNG-free, the q40/q203 membership discipline), per-arm
    // purchase conversion compared under the pooled-variance z statistic.
    // The four inputs are exact integers; z is ONE fixed expression tree of
    // IEEE ops both engines evaluate identically (same divisions, same
    // sqrt), and the significance verdict is an integer threshold compare
    // on |z| — no boolean column, no engine-local rounding path.
    Q(
      "q287_ab_ztest",
      (s, dir) => {
        import graft.ext.TextHash
        val perUser = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" && col("value") > 300.0,
            1L).otherwise(0L)).as("converted"))
          .select(pmod(TextHash.hash60(concat(lit("ab:"),
            col("user_id").cast("string"))), lit(2L)).as("arm"), col("converted"))
        val arms = perUser.groupBy("arm")
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
        val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"), col("x").as("x_a"))
        val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"), col("x").as("x_b"))
        a.crossJoin(b)
          .withColumn("z",
            expr("""(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                           * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                           * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"""))
          .withColumn("significant_95",
            when(abs(col("z")) > 1.959963984540054, 1L).otherwise(0L))
      },
      Some(s"""
        WITH u AS (
          SELECT ${graft.ext.TextHash.duckHash60("'ab:' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
                 MAX(CASE WHEN event_type = 'purchase' AND value > 300.0
                          THEN 1 ELSE 0 END) AS converted
          FROM events GROUP BY user_id
        ), arms AS (
          SELECT arm, COUNT(*) AS n, SUM(converted) AS x FROM u GROUP BY 1
        ), w AS (
          SELECT (SELECT CAST(n AS BIGINT) FROM arms WHERE arm = 0) AS n_a,
                 (SELECT CAST(x AS BIGINT) FROM arms WHERE arm = 0) AS x_a,
                 (SELECT CAST(n AS BIGINT) FROM arms WHERE arm = 1) AS n_b,
                 (SELECT CAST(x AS BIGINT) FROM arms WHERE arm = 1) AS x_b
        )
        SELECT n_a, x_a, n_b, x_b,
               (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS z,
               CAST(CASE WHEN abs((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
                      > 1.959963984540054
                    THEN 1 ELSE 0 END AS BIGINT) AS significant_95
        FROM w
      """.trim)),

    // Edit-distance-1 spell-candidate pairs — SymSpell's symmetric-delete
    // blocking: every vocabulary word expands to {itself} ∪ its single-char
    // deletions; two words at edit distance 1 MUST share an entry, so the
    // candidate join is a plain hash equi-join on the variant string (L+1
    // entries per word, never vocab²). Candidates are then verified with
    // the BANDED levenshtein (threshold form — O(L) band, not the full DP
    // matrix; the oracle uses DuckDB's plain levenshtein, same answer
    // inside the filter). Same-length words sharing a deletion can sit at
    // distance 2 (transpositions), so the verify is load-bearing.
    Q(
      "q288_spell_candidates",
      (s, dir) => {
        val real = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0).distinct()
        // the clean corpus vocabulary has no distance-1 pairs of its own, so
        // a deterministic TYPO corpus (2nd char deleted from every word of
        // >= 4 chars) is unioned in — the realistic input shape anyway: a
        // dirty vocabulary containing both forms.
        val vocab = real.unionByName(
          real.filter(length(col("w")) >= 4)
            .select(concat(col("w").substr(lit(1), lit(1)),
              expr("substring(w, 3)")).as("w"))).distinct()
        val variants = vocab.select(col("w"),
          explode(array_distinct(concat(
            transform(sequence(lit(1), length(col("w"))),
              i => concat(col("w").substr(lit(1), i - 1),
                col("w").substr(i + 1, length(col("w"))))),
            array(col("w"))))).as("v"))
        variants.as("a")
          .join(variants.as("b").hint("shuffle_hash"),
            col("a.v") === col("b.v") && col("a.w") < col("b.w"))
          .select(col("a.w").as("word_a"), col("b.w").as("word_b"))
          .distinct()
          .filter(levenshtein(col("word_a"), col("word_b"), 1) === 1)
          .orderBy("word_a", "word_b")
      },
      Some(s"""
        WITH real AS (
          SELECT DISTINCT unnest($Toks) AS w FROM documents
        ), nz AS (
          SELECT DISTINCT w FROM (
            SELECT w FROM real WHERE len(w) > 0
            UNION
            SELECT w[1:1] || w[3:len(w)] AS w FROM real WHERE len(w) >= 4
          )
        ), variants AS (
          SELECT w, unnest(list_distinct(
                   [w[1:i-1] || w[i+1:len(w)] FOR i IN generate_series(1, len(w))]
                   || [w])) AS v
          FROM nz
        )
        SELECT DISTINCT a.w AS word_a, b.w AS word_b
        FROM variants a JOIN variants b ON a.v = b.v AND a.w < b.w
        WHERE levenshtein(a.w, b.w) = 1
        ORDER BY word_a, word_b
      """.trim)),

    // Semi-supervised label propagation — 1-hop majority vote over the
    // VERIFIED near-dup graph: docs with doc_id % 5 = 0 keep their lang as
    // a seed label, every other doc collects its labeled neighbors' votes
    // (edges = q24's exact-verified MinHash pairs, both directions) and
    // takes the majority with the deterministic (−votes, label) tie-break.
    // Because the fixture knows every doc's true lang, the per-doc verdict
    // carries is_correct — propagation accuracy rides the same hash gate.
    Q(
      "q289_label_propagation",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "lang")
        val pairs = SharedFrames.verifiedDocPairs(s, dir)
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        val seeds = docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id").as("dst"), col("lang").as("seed_lang"))
        val votes = edges.join(seeds, "dst")
          .filter(col("src") % 5 =!= 0)
          .groupBy(col("src").as("doc_id"), col("seed_lang"))
          .agg(count(lit(1)).as("votes"))
        votes.groupBy("doc_id")
          .agg(expr("min_by(seed_lang, struct(-votes, seed_lang))").as("predicted"),
            sum(col("votes")).as("n_votes"))
          .join(docs, "doc_id")
          .select(col("doc_id"), col("predicted"), col("n_votes"),
            when(col("predicted") === col("lang"), 1L).otherwise(0L).as("is_correct"))
          .orderBy("doc_id")
      },
      Some(s"""
        ${ExtQueries.MinhashPairsCte}, edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified
        ), votes AS (
          SELECT e.src AS doc_id, d.lang AS seed_lang, COUNT(*) AS votes
          FROM edges e JOIN documents d ON d.doc_id = e.dst
          WHERE e.dst % 5 = 0 AND e.src % 5 <> 0
          GROUP BY 1, 2
        ), picked AS (
          SELECT doc_id, seed_lang AS predicted,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY votes DESC, seed_lang ASC) AS rn,
                 SUM(votes) OVER (PARTITION BY doc_id) AS n_votes
          FROM votes
        )
        SELECT p.doc_id, p.predicted, CAST(p.n_votes AS BIGINT) AS n_votes,
               CAST(CASE WHEN p.predicted = d.lang THEN 1 ELSE 0 END AS BIGINT)
                 AS is_correct
        FROM picked p JOIN documents d ON d.doc_id = p.doc_id
        WHERE p.rn = 1
        ORDER BY p.doc_id
      """.trim)),

    // Adjusted Rand Index — clustering-stability measurement: how much did
    // one Lloyd step (q39's refreshed cells) actually change the partition
    // vs the prior labels? The pair-counting index is kept ENTIRELY in
    // integers via the identity ARI = (2·C·I − 2·A·B) / (C·(A+B) − 2·A·B)
    // with I = Σ C(n_ij,2), A = Σ C(a_i,2), B = Σ C(b_j,2), C = C(n,2) —
    // one final double division. A/B/C are quadratic in cluster sizes, so
    // the PRODUCTS (C·I, A·B ~ size^4) leave int64 around 1e5 vectors per
    // cell: per the repo's early-widening rule they are computed in
    // DECIMAL(38,0) (exact to ~1e9 vectors per cell; the oracle mirrors
    // with HUGEINT), and only the final ratio drops to double.
    // Contingency is one (label × cell) aggregate over the q39 assignment.
    Q(
      "q290_ari_stability",
      (s, dir) => {
        import graft.ext.Similarity
        val e = Tables.embeddings(s, dir)
        val assigned = Similarity.assignToNearestCentroid(
          e, "vec_id", "embedding",
          Similarity.exactCentroids(e, "embedding", "label"))
        val cont = assigned.groupBy("label", "cell").agg(count(lit(1)).as("nij"))
        // C(c,2) = c(c-1)/2 via shift — exact integer (c(c-1) is even),
        // never the Column `/` double path.
        def choose2(c: org.apache.spark.sql.Column) = shiftright(c * (c - 1), 1)
        val i2 = cont.agg(sum(choose2(col("nij"))).as("i2"),
          sum(col("nij")).as("n"))
        val a2 = cont.groupBy("label").agg(sum(col("nij")).as("ai"))
          .agg(sum(choose2(col("ai"))).as("a2"))
        val b2 = cont.groupBy("cell").agg(sum(col("nij")).as("bj"))
          .agg(sum(choose2(col("bj"))).as("b2"))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        i2.crossJoin(a2).crossJoin(b2)
          .select(col("n"), col("a2"), col("b2"), col("i2"),
            choose2(col("n")).as("c2"))
          .select(col("n"), col("a2"), col("b2"), col("i2"),
            ((lit(2L) * dec(col("c2")) * dec(col("i2"))
                - lit(2L) * dec(col("a2")) * dec(col("b2")))
              .cast("double") /
              (dec(col("c2")) * (dec(col("a2")) + dec(col("b2"))) -
                lit(2L) * dec(col("a2")) * dec(col("b2"))).cast("double")).as("ari"))
      },
      Some(s"""
        WITH m AS (
          SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
                 CAST(SUM(CAST(CAST(u.v AS DOUBLE) * 281474976710656 AS DECIMAL(38,0))) AS DOUBLE)
                   / 281474976710656 / COUNT(*) AS mean
          FROM embeddings,
               LATERAL (SELECT unnest(embedding) AS v,
                               generate_subscripts(embedding, 1) AS i) u
          GROUP BY label, dim
        ), c AS (
          SELECT label AS cell, list(mean ORDER BY dim) AS centroid FROM m GROUP BY label
        ), p AS (
          SELECT e.vec_id, e.label, c.cell,
                 list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                           * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                           FOR i IN generate_series(1, len(e.embedding))]) AS dist2
          FROM embeddings e CROSS JOIN c
        ), assigned AS (
          SELECT vec_id, label, cell FROM p
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
        ), cont AS (
          SELECT label, cell, COUNT(*) AS nij FROM assigned GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS i2,
                 CAST(SUM(nij) AS BIGINT) AS n
          FROM cont
        ), am AS (
          SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS a2
          FROM (SELECT SUM(nij) AS ai FROM cont GROUP BY label)
        ), bm AS (
          SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS b2
          FROM (SELECT SUM(nij) AS bj FROM cont GROUP BY cell)
        )
        SELECT n, a2, b2, i2,
               CAST(2 * CAST(n * (n - 1) // 2 AS HUGEINT) * CAST(i2 AS HUGEINT)
                    - 2 * CAST(a2 AS HUGEINT) * CAST(b2 AS HUGEINT) AS DOUBLE)
                 / CAST(CAST(n * (n - 1) // 2 AS HUGEINT)
                        * (CAST(a2 AS HUGEINT) + CAST(b2 AS HUGEINT))
                        - 2 * CAST(a2 AS HUGEINT) * CAST(b2 AS HUGEINT) AS DOUBLE)
                 AS ari
        FROM tot, am, bm
      """.trim)),

    // Term-rank drift between crawl batches — the corpus-monitoring report
    // that flags vocabulary shift before it poisons downstream stats: two
    // interleaved snapshots (doc_id parity), per-batch token frequency
    // RANKS from the two-phase scalable rank (Keys.rankByScalable — no
    // global window even though the vocab is small here; at a real vocab
    // size an unpartitioned row_number is the same single-task funnel as
    // any other), joined on the token, top-15 movers by absolute shift.
    Q(
      "q291_term_drift",
      (s, dir) => {
        def ranks(parity: Int, name: String) = graft.engine.Keys.rankByScalable(
          Tables.documents(s, dir).filter(col("doc_id") % 2 === parity)
            .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
            .filter(length(col("tok")) > 0)
            .groupBy("tok").agg(count(lit(1)).as("cnt")),
          Seq(col("cnt").desc, col("tok")), name)
          .select(col("tok"), col(name))
        ranks(0, "rank_a").join(ranks(1, "rank_b"), "tok")
          .select(col("tok"), col("rank_a"), col("rank_b"),
            abs(col("rank_a") - col("rank_b")).as("shift"))
          .orderBy(col("shift").desc, col("tok"))
          .limit(15)
      },
      Some(s"""
        WITH a AS (
          SELECT tok, row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rank_a
          FROM (SELECT unnest($Toks) AS tok FROM documents WHERE doc_id % 2 = 0)
          WHERE len(tok) > 0 GROUP BY tok
        ), b AS (
          SELECT tok, row_number() OVER (ORDER BY COUNT(*) DESC, tok) AS rank_b
          FROM (SELECT unnest($Toks) AS tok FROM documents WHERE doc_id % 2 = 1)
          WHERE len(tok) > 0 GROUP BY tok
        )
        SELECT a.tok, CAST(rank_a AS BIGINT) AS rank_a,
               CAST(rank_b AS BIGINT) AS rank_b,
               CAST(abs(rank_a - rank_b) AS BIGINT) AS shift
        FROM a JOIN b ON a.tok = b.tok
        ORDER BY shift DESC, a.tok LIMIT 15
      """.trim)),

    // Declarative data-quality expectation suite (the Deequ shape): a
    // constraint catalog — completeness, key uniqueness, set membership,
    // value bounds, volume floor — evaluated in ONE aggregate pass over the
    // table, then unpivoted to a per-constraint report row (observed
    // metric, threshold, integer pass verdict). This is the pre-publish
    // gate a warehouse load runs before promoting a batch; one scan
    // regardless of how many constraints the catalog carries.
    Q(
      "q292_expectations",
      (s, dir) => {
        val m = Tables.orders(s, dir).agg(
          count(lit(1)).cast("double").as("n_rows"),
          (count(col("o_custkey")).cast("double") /
            count(lit(1)).cast("double")).as("custkey_completeness"),
          (countDistinct(col("o_orderkey")).cast("double") /
            count(lit(1)).cast("double")).as("orderkey_uniqueness"),
          (sum(when(col("o_orderstatus").isin("O", "F", "P"), 0L).otherwise(1L))
            .cast("double") / count(lit(1)).cast("double"))
            .as("status_violation_rate"),
          min(col("o_totalprice")).as("min_totalprice"))
        m.select(explode(array(
            struct(lit("row_count_min_1000").as("check_name"),
              col("n_rows").as("observed"), lit(1000.0).as("threshold"),
              when(col("n_rows") >= 1000.0, 1L).otherwise(0L).as("pass")),
            struct(lit("custkey_completeness_99").as("check_name"),
              col("custkey_completeness").as("observed"), lit(0.99).as("threshold"),
              when(col("custkey_completeness") >= 0.99, 1L).otherwise(0L).as("pass")),
            struct(lit("orderkey_unique").as("check_name"),
              col("orderkey_uniqueness").as("observed"), lit(1.0).as("threshold"),
              when(col("orderkey_uniqueness") === 1.0, 1L).otherwise(0L).as("pass")),
            struct(lit("status_in_set").as("check_name"),
              col("status_violation_rate").as("observed"), lit(0.0).as("threshold"),
              when(col("status_violation_rate") === 0.0, 1L).otherwise(0L).as("pass")),
            struct(lit("totalprice_positive").as("check_name"),
              col("min_totalprice").as("observed"), lit(0.0).as("threshold"),
              when(col("min_totalprice") > 0.0, 1L).otherwise(0L).as("pass"))))
            .as("r"))
          .select(col("r.check_name").as("check_name"), col("r.observed"),
            col("r.threshold"), col("r.pass"))
          .orderBy("check_name")
      },
      Some("""
        WITH m AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
                 CAST(COUNT(o_custkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS custkey_completeness,
                 CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS orderkey_uniqueness,
                 CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
                   AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS status_violation_rate,
                 MIN(o_totalprice) AS min_totalprice
          FROM orders
        )
        SELECT * FROM (
          SELECT 'row_count_min_1000' AS check_name, n_rows AS observed,
                 1000.0 AS threshold,
                 CAST(CASE WHEN n_rows >= 1000.0 THEN 1 ELSE 0 END AS BIGINT) AS pass
          FROM m
          UNION ALL
          SELECT 'custkey_completeness_99', custkey_completeness, 0.99,
                 CAST(CASE WHEN custkey_completeness >= 0.99 THEN 1 ELSE 0 END AS BIGINT)
          FROM m
          UNION ALL
          SELECT 'orderkey_unique', orderkey_uniqueness, 1.0,
                 CAST(CASE WHEN orderkey_uniqueness = 1.0 THEN 1 ELSE 0 END AS BIGINT)
          FROM m
          UNION ALL
          SELECT 'status_in_set', status_violation_rate, 0.0,
                 CAST(CASE WHEN status_violation_rate = 0.0 THEN 1 ELSE 0 END AS BIGINT)
          FROM m
          UNION ALL
          SELECT 'totalprice_positive', min_totalprice, 0.0,
                 CAST(CASE WHEN min_totalprice > 0.0 THEN 1 ELSE 0 END AS BIGINT)
          FROM m
        ) ORDER BY check_name
      """.trim)),

    // mask() format profiling — the PII-adjacent data-profiling trick:
    // masking collapses every string to its CHARACTER-CLASS pattern
    // (upper->X, lower->x, digit->n, punctuation kept), so grouping by the
    // masked form inventories the FORMATS present in a column — the fast
    // way to find malformed ids/codes without reading values. The oracle
    // restates the builtin as an ordered regexp-replace chain (upper, then
    // lower, then digit — later passes never touch earlier substitutions).
    // Title-casing is spelled upper(head)||lower(tail) rather than initcap
    // because DuckDB has no initcap builtin.
    Q(
      "q293_mask_patterns",
      (s, dir) => Tables.documents(s, dir)
        .select(expr(
          "mask(concat(upper(substring(source, 1, 1)), lower(substring(source, 2)), " +
            "'-', CAST(doc_id % 100 AS STRING)))")
          .as("pattern"))
        .groupBy("pattern")
        .agg(count(lit(1)).as("n"))
        .orderBy("pattern"),
      Some("""
        SELECT regexp_replace(regexp_replace(regexp_replace(
                 upper(substr(source, 1, 1)) || lower(substr(source, 2))
                   || '-' || CAST(doc_id % 100 AS VARCHAR),
                 '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                 AS pattern,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1 ORDER BY pattern
      """.trim)),

    // DBSCAN density classification on q280's grid-cell candidate
    // machinery: a point is CORE when >= 3 other points sit within
    // Chebyshev radius 3, BORDER when it isn't core but touches one, and
    // NOISE otherwise. Neighbor counting reuses the 3x3 neighbor-cell
    // explode -> hash equi-join (cell = radius makes the candidate set
    // provably complete; candidates ~ density x points, never points²);
    // the border hop is one semi-join of the directed neighbor pairs
    // against the core set. The oracle states the all-pairs theta join.
    Q(
      "q309_dbscan_classify",
      (s, dir) => {
        val d = 3L
        val pts = Tables.lineitem(s, dir)
          .groupBy(col("l_partkey").as("k"))
          .agg(sum(col("l_quantity").cast("long")).as("x"),
            sum((col("l_discount").cast("decimal(8,2)") * 100).cast("long"))
              .as("y"))
        val cells = pts
          .withColumn("cx", expr(s"x div $d")).withColumn("cy", expr(s"y div $d"))
        val offsets = array(
          (for (i <- -1 to 1; j <- -1 to 1)
            yield struct(lit(i.toLong).as("di"), lit(j.toLong).as("dj"))): _*)
        val probes = cells.select(col("k"), col("x"), col("y"),
            col("cx"), col("cy"), explode(offsets).as("o"))
          .select(col("k"), col("x"), col("y"),
            (col("cx") + col("o.di")).as("ncx"), (col("cy") + col("o.dj")).as("ncy"))
        val nbrs = probes.as("a")
          .join(cells.as("b").hint("shuffle_hash"),
            col("a.ncx") === col("b.cx") && col("a.ncy") === col("b.cy") &&
              col("a.k") =!= col("b.k"))
          .filter(abs(col("a.x") - col("b.x")) <= d &&
            abs(col("a.y") - col("b.y")) <= d)
          .select(col("a.k").as("k"), col("b.k").as("nbr"))
        val counts = pts.select(col("k"))
          .join(nbrs.groupBy("k").agg(count(lit(1)).as("n_nbrs")), Seq("k"), "left")
          .na.fill(0L, Seq("n_nbrs"))
        val cores = counts.filter(col("n_nbrs") >= 3).select(col("k"))
        val borders = nbrs
          .join(cores.withColumnRenamed("k", "nbr"), Seq("nbr"), "left_semi")
          .select(col("k")).distinct()
          .join(cores, Seq("k"), "left_anti")
          .withColumn("is_border", lit(1L))
        counts
          .join(cores.withColumn("is_core", lit(1L)), Seq("k"), "left")
          .join(borders, Seq("k"), "left")
          .select(col("k"), col("n_nbrs"),
            when(col("is_core") === 1L, "core")
              .when(col("is_border") === 1L, "border")
              .otherwise("noise").as("role"))
          .orderBy("k")
      },
      Some("""
        WITH pts AS (
          SELECT l_partkey AS k,
                 CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
                 CAST(SUM(CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT))
                   AS BIGINT) AS y
          FROM lineitem GROUP BY 1
        ), nbrs AS (
          SELECT a.k AS k, b.k AS nbr
          FROM pts a JOIN pts b
            ON a.k <> b.k AND abs(a.x - b.x) <= 3 AND abs(a.y - b.y) <= 3
        ), counts AS (
          SELECT pts.k, CAST(coalesce(n.c, 0) AS BIGINT) AS n_nbrs
          FROM pts LEFT JOIN (
            SELECT k, COUNT(*) AS c FROM nbrs GROUP BY k) n ON pts.k = n.k
        ), cores AS (
          SELECT k FROM counts WHERE n_nbrs >= 3
        ), borders AS (
          SELECT DISTINCT nbrs.k FROM nbrs
          WHERE nbrs.nbr IN (SELECT k FROM cores)
            AND nbrs.k NOT IN (SELECT k FROM cores)
        )
        SELECT counts.k, n_nbrs,
               CASE WHEN counts.k IN (SELECT k FROM cores) THEN 'core'
                    WHEN counts.k IN (SELECT k FROM borders) THEN 'border'
                    ELSE 'noise' END AS role
        FROM counts ORDER BY counts.k
      """.trim)),

    // Language-ID confusion matrix — the eval that closes the loop on
    // q22's heuristic: predicted language (stopword-profile argmax)
    // against the corpus's labeled language, as the full (true, pred)
    // matrix with each cell's share of its TRUE row in bp. The oracle
    // re-derives the same argmax with the same deterministic tie order,
    // so the matrix pins both the classifier and its tie-breaking.
    Q(
      "q376_langid_confusion",
      (s, dir) => {
        val pred = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang").as("true_lang"),
            TextAnalysis.langId(TextAnalysis.tokens(col("text")))
              .as("pred_lang"))
        val cells = pred.groupBy("true_lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
        val totals = cells.groupBy("true_lang")
          .agg(sum(col("n")).cast("long").as("__t"))
        cells.join(totals.hint("shuffle_hash"), "true_lang")
          .select(col("true_lang"), col("pred_lang"), col("n"),
            expr("(n * 10000) div __t").as("row_share_bp"))
          .orderBy("true_lang", "pred_lang")
      },
      Some {
        val langCounts = TextAnalysis.LangProfiles.map { case (lang, words) =>
          s"len(list_filter(w, t -> t IN (${words.map(x => s"'$x'").mkString(",")}))) AS c_$lang"
        }.mkString(",\n                 ")
        val langs = TextAnalysis.LangProfiles.map(_._1)
        val langCase = langs.init.zipWithIndex.map { case (lang, i) =>
          val later = langs.drop(i + 1).map(l => s"c_$lang >= c_$l").mkString(" AND ")
          s"WHEN $later THEN '$lang'"
        }.mkString(" ")
        s"""
        WITH base AS (
          SELECT doc_id, lang AS true_lang, $Toks AS w FROM documents
        ), feat AS (
          SELECT doc_id, true_lang, $langCounts FROM base
        ), pred AS (
          SELECT true_lang, CASE $langCase ELSE '${langs.last}' END AS pred_lang
          FROM feat
        ), cells AS (
          SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
          FROM pred GROUP BY 1, 2
        ), totals AS (
          SELECT true_lang, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY 1
        )
        SELECT cells.true_lang, pred_lang, n,
               CAST((n * 10000) // t AS BIGINT) AS row_share_bp
        FROM cells JOIN totals ON cells.true_lang = totals.true_lang
        ORDER BY cells.true_lang, pred_lang
      """.trim
      }),

    // Degenerate-text robustness — the text stack's boundary behavior,
    // pinned: documents clipped to 0/10/20/30 characters push empty and
    // near-empty strings through tokenize → shingle → fingerprint, and
    // the gate records exactly what each stage does there (token count
    // of the empty string, zero 8-shingles, the rolling fingerprint's
    // documented whole-text fallback). Edge behavior that silently
    // drifts is how pipelines corrupt their shortest documents.
    Q(
      "q377_degenerate_text",
      (s, dir) => {
        val clipped = Tables.documents(s, dir)
          .select(col("doc_id"),
            expr("substring(text, 1, CAST((doc_id % 4) * 10 AS INT))")
              .as("text"))
        clipped
          .select(col("doc_id"), col("text"),
            TextAnalysis.tokens(col("text")).as("__toks"))
          .select(col("doc_id"), col("text"), col("__toks"),
            NearDup.shingles(col("__toks"), 8).as("__sh8"))
          .select(col("doc_id"),
            (col("doc_id") % 4 * 10).as("clip_len"),
            length(col("text")).cast("long").as("n_chars"),
            size(col("__toks")).cast("long").as("n_tokens"),
            size(col("__sh8")).cast("long").as("n_shingles"),
            TextAnalysis.rollingFingerprint(col("text"), col("__sh8"))
              .as("roll_fp"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH clipped AS (
          SELECT doc_id, substr(text, 1, CAST((doc_id % 4) * 10 AS INTEGER))
                   AS text
          FROM documents
        ), base AS (
          SELECT doc_id, text, $NormText AS norm, $Toks AS w FROM clipped
        ), feat AS (
          SELECT doc_id, text, norm, w, ${duckShingles("w", 8)} AS sh8
          FROM base
        )
        SELECT doc_id, CAST((doc_id % 4) * 10 AS BIGINT) AS clip_len,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(sh8) AS BIGINT) AS n_shingles,
               CASE WHEN len(sh8) = 0 THEN ${graft.ext.TextHash.duckHash60("norm")}
                    ELSE list_min([${graft.ext.TextHash.duckHash60("x")} FOR x IN sh8])
               END AS roll_fp
        FROM feat ORDER BY doc_id
      """.trim))
  )
}
