package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine.Sources

/** Warehouse-integration wave: CDC log compaction, exact monetary
  * allocation, late-arriving-dimension handling, and snapshot-history
  * compaction — the load-side operators a lakehouse runs between ingestion
  * and publish. Same exactness discipline as the rest of the registry:
  * integer/decimal arithmetic end-to-end (money moves as cents in longs),
  * windows only over per-key frames bounded by the data model (lines per
  * order, snapshots per key), never over the whole table.
  */
object WarehouseQueries {

  /** Spark fragment: o_totalprice (a 2-decimal value carried as double) as
    * exact integer cents. The decimal(18,2) cast recovers the true 2-decimal
    * value (correctly-rounded), so *100 is exact and the long is the cent
    * count — the same per-row path the DuckDB oracles state.
    */
  private def cents(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** DuckDB fragment for [[cents]]. */
  private def duckCents(c: String) =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  val qs: Seq[Q] = Seq(

    // CDC net-effect collapse (Debezium-style log compaction before a
    // warehouse MERGE): an ordered op log (I/U/D per key, seq-stamped) is
    // collapsed to ONE net action per key against the base snapshot —
    // insert-then-delete cancels to nothing, update-to-same-value is a
    // noop, the final payload is the last write. Collapsing BEFORE the
    // merge is the scale move: the expensive keyed upsert touches each key
    // once however chatty the log was. Per-key last-write picks ride
    // max_by over a unique seq (one hash aggregate, map-side partial);
    // the base comparison is one full-outer join on the key.
    //
    // Fixture: base = orders with o_orderkey % 10 != 0; the log replays
    // four deterministic waves over orders (update %7, delete %13, insert
    // %10, second update %21) so keys hit every depth: multi-op keys
    // (21 = 7*3 updates twice; 91 = 7*13 update-then-delete), ghost keys
    // (inserted %10 then deleted %130), and value-identical updates are
    // all present. Output = every touched key with its net action and
    // final payload (null when the net effect is a delete or ghost).
    Q(
      "q294_cdc_collapse",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("__c"))
        val base = o.filter(col("o_orderkey") % 10 =!= 0)
        val ops =
          o.filter(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"), lit(1L).as("seq"), lit("U").as("op"),
              (col("__c") + 100L).as("val"))
          .unionByName(o.filter(col("o_orderkey") % 13 === 0)
            .select(col("o_orderkey"), lit(2L).as("seq"), lit("D").as("op"),
              lit(null).cast("long").as("val")))
          .unionByName(o.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey"), lit(3L).as("seq"), lit("I").as("op"),
              col("__c").as("val")))
          .unionByName(o.filter(col("o_orderkey") % 21 === 0)
            .select(col("o_orderkey"), lit(4L).as("seq"), lit("U").as("op"),
              col("__c").as("val")))
        val last = ops.groupBy("o_orderkey")
          .agg(max_by(col("op"), col("seq")).as("last_op"),
            max_by(col("val"), col("seq")).as("last_val"))
        last.join(base.withColumnRenamed("__c", "base_val"),
            Seq("o_orderkey"), "left")
          .select(col("o_orderkey"),
            when(col("base_val").isNull && col("last_op") === "D", "noop_ghost")
              .when(col("base_val").isNull, "insert")
              .when(col("last_op") === "D", "delete")
              .when(col("last_val") === col("base_val"), "noop")
              .otherwise("update").as("net_action"),
            when(col("last_op") === "D", lit(null).cast("long"))
              .otherwise(col("last_val")).as("final_cents"))
          .orderBy("o_orderkey")
      },
      Some(s"""
        WITH o AS (
          SELECT o_orderkey, ${duckCents("o_totalprice")} AS c FROM orders
        ), base AS (
          SELECT o_orderkey, c AS base_val FROM o WHERE o_orderkey % 10 <> 0
        ), ops AS (
          SELECT o_orderkey, 1 AS seq, 'U' AS op, c + 100 AS val
          FROM o WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT o_orderkey, 2, 'D', NULL FROM o WHERE o_orderkey % 13 = 0
          UNION ALL
          SELECT o_orderkey, 3, 'I', c FROM o WHERE o_orderkey % 10 = 0
          UNION ALL
          SELECT o_orderkey, 4, 'U', c FROM o WHERE o_orderkey % 21 = 0
        ), last AS (
          SELECT o_orderkey, arg_max(op, seq) AS last_op,
                 arg_max(val, seq) AS last_val
          FROM ops GROUP BY o_orderkey
        )
        SELECT last.o_orderkey,
               CASE WHEN base_val IS NULL AND last_op = 'D' THEN 'noop_ghost'
                    WHEN base_val IS NULL THEN 'insert'
                    WHEN last_op = 'D' THEN 'delete'
                    WHEN last_val = base_val THEN 'noop'
                    ELSE 'update' END AS net_action,
               CAST(CASE WHEN last_op = 'D' THEN NULL ELSE last_val END
                 AS BIGINT) AS final_cents
        FROM last LEFT JOIN base ON last.o_orderkey = base.o_orderkey
        ORDER BY last.o_orderkey
      """.trim)),

    // Largest-remainder proration — exact integer allocation of an
    // order-level rebate across its lineitems, the invoice/ledger operator
    // where "multiply by the ratio and round" silently creates or destroys
    // cents. Floor shares are integer division (rebate*w_i div W), and the
    // leftover cents (rebate - sum of floors, provably < n_lines) go to the
    // lines with the LARGEST division remainders, tie-broken by line
    // number — so per-order allocations always sum to the rebate exactly,
    // pinned by the emitted exact_total flag (1 for every order, by
    // construction AND by oracle). The remainder ranking is a per-order
    // window — a frame bounded at 7 lines by the data model, never a
    // corpus-scale sort.
    Q(
      "q295_proration",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"),
            cents(col("l_extendedprice")).as("w"))
        val order = li.groupBy("l_orderkey")
          .agg(sum(col("w")).as("bigw"), count(lit(1)).as("n_lines"))
          .select(col("l_orderkey"), col("bigw").cast("long").as("wsum"),
            col("n_lines"))
          // rebate: 5% of the order's line total, floored to the cent —
          // integer div end-to-end, no double division anywhere
          .withColumn("rebate", expr("(wsum * 5) div 100"))
        val shared = li.join(order, "l_orderkey")
          .withColumn("base", expr("(rebate * w) div wsum"))
          .withColumn("rem", expr("(rebate * w) % wsum"))
        val byOrder = Window.partitionBy("l_orderkey")
        val ranked = shared
          .withColumn("deficit", (col("rebate") - sum(col("base")).over(byOrder)))
          // (l_orderkey, l_linenumber) is NOT unique in this data, so the
          // remainder rank adds w: remaining ties are then bit-identical
          // rows, and which physical twin takes the +1 cent cannot change
          // the output multiset.
          .withColumn("r", row_number().over(
            byOrder.orderBy(col("rem").desc, col("l_linenumber"), col("w"))))
          .withColumn("alloc_cents",
            (col("base") + when(col("r") <= col("deficit"), 1L).otherwise(0L))
              .cast("long"))
        ranked
          .withColumn("exact_total",
            when(sum(col("alloc_cents")).over(byOrder) === col("rebate"), 1L)
              .otherwise(0L))
          .select(col("l_orderkey"), col("l_linenumber"), col("alloc_cents"),
            col("exact_total"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some(s"""
        WITH li AS (
          SELECT l_orderkey, l_linenumber, ${duckCents("l_extendedprice")} AS w
          FROM lineitem
        ), ord AS (
          SELECT l_orderkey, CAST(SUM(w) AS BIGINT) AS wsum,
                 CAST(SUM(w) * 5 // 100 AS BIGINT) AS rebate
          FROM li GROUP BY l_orderkey
        ), shared AS (
          SELECT li.l_orderkey, l_linenumber, w, wsum, rebate,
                 rebate * w // wsum AS base, rebate * w % wsum AS rem
          FROM li JOIN ord ON li.l_orderkey = ord.l_orderkey
        ), ranked AS (
          SELECT *,
                 rebate - SUM(base) OVER (PARTITION BY l_orderkey) AS deficit,
                 row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY rem DESC, l_linenumber, w) AS r
          FROM shared
        ), alloc AS (
          SELECT l_orderkey, l_linenumber, rebate,
                 CAST(base + CASE WHEN r <= deficit THEN 1 ELSE 0 END AS BIGINT)
                   AS alloc_cents
          FROM ranked
        )
        SELECT l_orderkey, l_linenumber, alloc_cents,
               CAST(CASE WHEN SUM(alloc_cents) OVER (PARTITION BY l_orderkey)
                 = rebate THEN 1 ELSE 0 END AS BIGINT) AS exact_total
        FROM alloc ORDER BY l_orderkey, l_linenumber
      """.trim)),

    // Late-arriving dimension (inferred members): facts can reference
    // dimension keys the dim load hasn't delivered yet; the warehouse
    // answer is to MANUFACTURE placeholder rows for the missing keys
    // (flagged inferred, attributes defaulted) so the fact join never
    // drops revenue, then overwrite them when the real rows land. The
    // fixture withholds every 17th customer from the dim; the query mines
    // the missing keys from the facts (distinct + left_anti — one
    // aggregate, one join), publishes dim ∪ inferred, re-joins the facts,
    // and emits the member_type rollup. unresolved_after counts fact rows
    // that STILL drop on the repaired dim — pinned 0 by the oracle, which
    // is the whole point of the pattern.
    Q(
      "q296_inferred_members",
      (s, dir) => {
        val facts = Tables.orders(s, dir)
          .select(col("o_custkey"), cents(col("o_totalprice")).as("__c"))
        val dim = Tables.customer(s, dir)
          .filter(col("c_custkey") % 17 =!= 0)
          .select(col("c_custkey"), lit(0L).as("inferred"))
        val missing = facts.select(col("o_custkey").as("c_custkey")).distinct()
          .join(dim, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), lit(1L).as("inferred"))
        val dim2 = dim.unionByName(missing)
        val joined = facts.join(dim2, facts("o_custkey") === dim2("c_custkey"), "left")
        joined
          .groupBy(when(col("inferred") === 1L, "inferred").otherwise("regular")
            .as("member_type"))
          .agg(countDistinct(col("c_custkey")).as("n_customers"),
            count(lit(1)).as("n_orders"),
            sum(col("__c")).cast("long").as("revenue_cents"),
            sum(when(col("c_custkey").isNull, 1L).otherwise(0L))
              .as("unresolved_after"))
          .orderBy("member_type")
      },
      Some(s"""
        WITH facts AS (
          SELECT o_custkey, ${duckCents("o_totalprice")} AS c FROM orders
        ), dim AS (
          SELECT c_custkey, 0 AS inferred FROM customer WHERE c_custkey % 17 <> 0
        ), missing AS (
          SELECT DISTINCT o_custkey AS c_custkey, 1 AS inferred FROM facts
          WHERE o_custkey NOT IN (SELECT c_custkey FROM dim)
        ), dim2 AS (
          SELECT * FROM dim UNION ALL SELECT * FROM missing
        )
        SELECT CASE WHEN inferred = 1 THEN 'inferred' ELSE 'regular' END
                 AS member_type,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(c) AS BIGINT) AS revenue_cents,
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS unresolved_after
        FROM facts LEFT JOIN dim2 ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY member_type
      """.trim)),

    // Snapshot-to-SCD2 compaction: the OTHER way history arrives — not as
    // change deltas (q17's merge) but as full daily snapshots, which must
    // be collapsed into validity ranges by dropping the days where nothing
    // changed. Runs-of-equal-value become [valid_from, valid_to) intervals
    // via the change-flag + running-island-count idiom; every window is
    // per-key over at most 4 snapshot rows (bounded by the snapshot count,
    // not the table), so the shape survives any customer count. The
    // fixture changes each key's balance once (day k%3+1) and every 11th
    // key a second time (day 3), so single-range, two-range, and
    // three-range keys all exist; is_current marks the open range.
    Q(
      "q297_snapshot_scd2",
      (s, dir) => {
        val base = Tables.customer(s, dir)
          .select(col("c_custkey"), cents(col("c_acctbal")).as("b0"))
        val snaps = base.select(col("c_custkey"), col("b0"),
            explode(sequence(lit(0), lit(3))).as("snap_day"))
          .withColumn("attr_cents",
            col("b0")
              + when(col("snap_day") >= pmod(col("c_custkey"), lit(3)) + 1, 100L)
                .otherwise(0L)
              + when(col("c_custkey") % 11 === 0 && col("snap_day") >= 3, 50L)
                .otherwise(0L))
          .drop("b0")
        val byKey = Window.partitionBy("c_custkey").orderBy("snap_day")
        snaps
          .withColumn("changed",
            when(lag(col("attr_cents"), 1).over(byKey).isNull ||
              lag(col("attr_cents"), 1).over(byKey) =!= col("attr_cents"), 1L)
              .otherwise(0L))
          .withColumn("range_id",
            sum(col("changed")).over(byKey.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("c_custkey", "range_id")
          .agg(min(col("snap_day")).as("valid_from"),
            max(col("snap_day")).as("last_day"),
            min(col("attr_cents")).as("attr_cents"))
          .withColumn("valid_to",
            when(col("last_day") === 3, lit(null).cast("long"))
              .otherwise(col("last_day") + 1))
          .withColumn("is_current",
            when(col("valid_to").isNull, 1L).otherwise(0L))
          .select(col("c_custkey"), col("valid_from").cast("long").as("valid_from"),
            col("valid_to"), col("attr_cents"), col("is_current"))
          .orderBy("c_custkey", "valid_from")
      },
      Some(s"""
        WITH snaps AS (
          SELECT c_custkey,
                 ${duckCents("c_acctbal")}
                   + CASE WHEN d >= (c_custkey % 3) + 1 THEN 100 ELSE 0 END
                   + CASE WHEN c_custkey % 11 = 0 AND d >= 3 THEN 50 ELSE 0 END
                   AS attr_cents,
                 d AS snap_day
          FROM customer, generate_series(0, 3) AS t(d)
        ), flagged AS (
          SELECT *,
                 CASE WHEN lag(attr_cents) OVER w IS NULL
                        OR lag(attr_cents) OVER w <> attr_cents
                      THEN 1 ELSE 0 END AS changed
          FROM snaps
          WINDOW w AS (PARTITION BY c_custkey ORDER BY snap_day)
        ), ranged AS (
          SELECT *, SUM(changed) OVER (PARTITION BY c_custkey ORDER BY snap_day
                      ROWS UNBOUNDED PRECEDING) AS range_id
          FROM flagged
        )
        SELECT c_custkey,
               CAST(MIN(snap_day) AS BIGINT) AS valid_from,
               CAST(CASE WHEN MAX(snap_day) = 3 THEN NULL
                         ELSE MAX(snap_day) + 1 END AS BIGINT) AS valid_to,
               CAST(MIN(attr_cents) AS BIGINT) AS attr_cents,
               CAST(CASE WHEN MAX(snap_day) = 3 THEN 1 ELSE 0 END AS BIGINT)
                 AS is_current
        FROM ranged GROUP BY c_custkey, range_id
        ORDER BY c_custkey, valid_from
      """.trim)),

    // Small-files compaction gate (S11, previously spec-only): land orders
    // as 24 deliberately-small parquet files, compact the directory to 3
    // via the temp-write + rename swap (never overwriting a directory
    // being lazily read), and emit BOTH the file counts and the full
    // content summary of the read-back. The file counts are deterministic
    // (round-robin repartition leaves no empty file at any sf; the
    // compactor writes exactly targetFiles), so the oracle pins them as
    // literals while the content columns prove the rewrite lost nothing.
    Q(
      "q298_compaction_gate",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val path = Scratch.dir(s, dir, "compact_gate")
        def nFiles: Long = {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
        }
        Tables.orders(s, dir)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("__c"))
          .repartition(24)
          .write.mode("overwrite").parquet(path)
        val before = nFiles
        Sinks.compactParquet(s, path, targetFiles = 3)
        val after = nFiles
        Sources.parquet(s, path)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            sum(col("__c")).cast("long").as("revenue_cents"))
          .select(lit(before).as("files_before"), lit(after).as("files_after"),
            col("n_rows"), col("n_keys"), col("revenue_cents"))
      },
      Some(s"""
        SELECT CAST(24 AS BIGINT) AS files_before, CAST(3 AS BIGINT) AS files_after,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
               CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT) AS revenue_cents
        FROM orders
      """.trim)),

    // Dynamic partition overwrite gate (S13, previously spec-only): a
    // priority-partitioned orders table gets ONE partition reprocessed
    // (every amount bumped 7 cents) through partitionOverwriteMode=dynamic
    // — the incremental-pipeline staple. The read-back rollup proves the
    // sibling partitions survived untouched (static overwrite would have
    // dropped them: n_rows collapses and every non-patched row vanishes)
    // and the patched partition carries exactly the bumped values; the
    // oracle restates the final table per-partition from the raw orders.
    Q(
      "q299_dynamic_overwrite_gate",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val path = Scratch.dir(s, dir, "dynover_gate")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            cents(col("o_totalprice")).as("amount_cents"))
        Sinks.writePartitioned(o, path, Seq("o_orderpriority"))
        val patch = o.filter(col("o_orderpriority") === "3-MEDIUM")
          .withColumn("amount_cents", col("amount_cents") + 7L)
        Sinks.overwritePartitionsDynamic(patch, path, Seq("o_orderpriority"))
        Sources.parquet(s, path)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("amount_cents")).cast("long").as("total_cents"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(${duckCents("o_totalprice")}
                 + CASE WHEN o_orderpriority = '3-MEDIUM' THEN 7 ELSE 0 END)
                 AS BIGINT) AS total_cents
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Range-clustered write gate (S12, previously spec-only): lineitem
    // clustered by l_orderkey into 8 range-partitioned sorted files, then
    // audited from the read-back's hidden _metadata.file_path: per-file
    // [min, max] key ranges must be PAIRWISE DISJOINT — the property that
    // lets parquet footer stats skip whole files for range predicates at
    // 100 TB. Disjointness is deterministic even though the sampled range
    // boundaries are not (equal keys land in one partition, so ranges can
    // touch but never interleave); file names stay internal — only the
    // aggregate verdict row is emitted, so the oracle can pin it.
    Q(
      "q300_range_cluster_gate",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val path = Scratch.dir(s, dir, "rangeclust_gate")
        val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        Sinks.writeRangeClustered(li, path, "l_orderkey", numFiles = 8)
        val back = Sources.parquet(s, path)
        val files = back
          .groupBy(col("_metadata.file_path").as("f"))
          .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"),
            count(lit(1)).as("n"))
        val fileStats = files.agg(count(lit(1)).as("n_files"),
          sum(col("n")).as("n_rows"))
        val overlaps = files.as("a")
          .join(files.as("b"), col("a.f") < col("b.f"))
          .filter(col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
          .agg(count(lit(1)).as("overlap_pairs"))
        val keys = back.agg(countDistinct(col("l_orderkey")).as("n_keys"))
        fileStats.crossJoin(broadcast(overlaps)).crossJoin(broadcast(keys))
          .select(col("n_files"), col("overlap_pairs"),
            col("n_rows").cast("long").as("n_rows"), col("n_keys"))
      },
      Some("""
        SELECT CAST(8 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS overlap_pairs,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys
        FROM lineitem
      """.trim)),

    // Business-day arithmetic: order due dates 5 business days out,
    // skipping weekends and a fixed holiday list — the calendar operator
    // every SLA/settlement pipeline needs and naive date_add gets wrong.
    // The trick is the BUSINESS-DAY INDEX on the date spine (bidx(d) =
    // business days on or before d): due(d, 5) is simply the business day
    // whose index is bidx(d)+5 — correct whether d itself is a business
    // day or not, with no iterative skipping. The spine's running index is
    // an unpartitioned window over a CALENDAR-BOUNDED frame (~2.4k rows at
    // any data scale — whitelisted in the registry window sweep alongside
    // q10's decode dim); both joins broadcast the tiny calendar.
    Q(
      "q301_business_days",
      (s, dir) => {
        val spine = graft.engine.DateDim
          .dateSpine(s, "1995-01-01", "2001-08-31")
        val isHoliday = date_format(col("date_id"), "MM-dd")
          .isin("07-04", "12-25")
        val isBday = !dayofweek(col("date_id")).isin(1, 7) && !isHoliday
        val cal = spine
          .withColumn("is_bday", when(isBday, 1L).otherwise(0L))
          .withColumn("bidx", sum(col("is_bday")).over(
            Window.orderBy("date_id")
              .rowsBetween(Window.unboundedPreceding, 0)))
        val bdays = cal.filter(col("is_bday") === 1L)
          .select(col("bidx").as("target_idx"), col("date_id").as("due_date"))
        Tables.orders(s, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
          .join(broadcast(cal.select(col("date_id"), col("bidx"))),
            col("order_date") === col("date_id"))
          .withColumn("target_idx", col("bidx") + 5L)
          .join(broadcast(bdays), "target_idx")
          .select(col("o_orderkey"), col("order_date"), col("due_date"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH spine AS (
          SELECT CAST(unnest(generate_series(DATE '1995-01-01',
                   DATE '2001-08-31', INTERVAL 1 DAY)) AS DATE) AS d
        ), cal AS (
          SELECT d,
                 CASE WHEN dayofweek(d) IN (0, 6)
                        OR strftime(d, '%m-%d') IN ('07-04', '12-25')
                      THEN 0 ELSE 1 END AS is_bday
          FROM spine
        ), idx AS (
          SELECT d, is_bday,
                 SUM(is_bday) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS bidx
          FROM cal
        ), bdays AS (
          SELECT bidx AS target_idx, d AS due_date FROM idx WHERE is_bday = 1
        )
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, due_date
        FROM orders
        JOIN idx ON CAST(o_orderdate AS DATE) = idx.d
        JOIN bdays ON idx.bidx + 5 = bdays.target_idx
        ORDER BY o_orderkey
      """.trim)),

    // Golden-record survivorship — the completion step of entity
    // resolution (q86/q288 find the duplicates; this merges them): three
    // source systems carry the same customers with different fields
    // populated and different recency, and the published record takes each
    // FIELD independently from the freshest source that has it
    // (last-non-null-wins per column, not per row). With a bounded source
    // catalog the per-field picks compile to conditional aggregation +
    // coalesce in priority order — one hash aggregate over (key, field
    // values), no window, no join, map-side partial like any groupBy. The
    // fixture gives every null-pattern combination a population:
    // field-complete keys, keys where only the oldest source knows a
    // field, and keys no source can complete (phone stays null when
    // neither %3 nor %5 divides).
    Q(
      "q302_golden_record",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), cents(col("c_acctbal")).as("__b"))
        val crm = c.select(col("c_custkey"), lit(1L).as("seq"),
          concat(lit("cust_"), col("c_custkey")).as("name"),
          when(col("c_custkey") % 3 === 0,
            concat(lit("555-"), col("c_custkey") % 10000)).as("phone"),
          lit(null).cast("long").as("balance_cents"))
        val billing = c.select(col("c_custkey"), lit(2L).as("seq"),
          when(col("c_custkey") % 2 === 0,
            concat(lit("CUST_"), col("c_custkey"))).as("name"),
          when(col("c_custkey") % 5 === 0,
            concat(lit("800-"), col("c_custkey") % 10000)).as("phone"),
          when(col("c_custkey") % 4 === 0, col("__b") + 10L)
            .cast("long").as("balance_cents"))
        val web = c.select(col("c_custkey"), lit(3L).as("seq"),
          lit(null).cast("string").as("name"),
          lit(null).cast("string").as("phone"),
          col("__b").as("balance_cents"))
        val all = crm.unionByName(billing).unionByName(web)
        def pick(f: String) = (seq: Int) => max(when(col("seq") === seq, col(f)))
        all.groupBy("c_custkey")
          .agg(
            coalesce(pick("name")(3), pick("name")(2), pick("name")(1)).as("name"),
            coalesce(pick("phone")(3), pick("phone")(2), pick("phone")(1)).as("phone"),
            coalesce(pick("balance_cents")(3), pick("balance_cents")(2),
              pick("balance_cents")(1)).as("balance_cents"))
          .withColumn("completeness",
            when(col("name").isNotNull, 1L).otherwise(0L)
              + when(col("phone").isNotNull, 1L).otherwise(0L)
              + when(col("balance_cents").isNotNull, 1L).otherwise(0L))
          .orderBy("c_custkey")
      },
      Some(s"""
        WITH c AS (
          SELECT c_custkey, ${duckCents("c_acctbal")} AS b FROM customer
        ), src AS (
          SELECT c_custkey, 1 AS seq, 'cust_' || c_custkey AS name,
                 CASE WHEN c_custkey % 3 = 0
                      THEN '555-' || (c_custkey % 10000) END AS phone,
                 CAST(NULL AS BIGINT) AS balance_cents
          FROM c
          UNION ALL
          SELECT c_custkey, 2,
                 CASE WHEN c_custkey % 2 = 0 THEN 'CUST_' || c_custkey END,
                 CASE WHEN c_custkey % 5 = 0
                      THEN '800-' || (c_custkey % 10000) END,
                 CASE WHEN c_custkey % 4 = 0 THEN b + 10 END
          FROM c
          UNION ALL
          SELECT c_custkey, 3, NULL, NULL, b FROM c
        ), golden AS (
          SELECT c_custkey,
                 coalesce(MAX(CASE WHEN seq = 3 THEN name END),
                          MAX(CASE WHEN seq = 2 THEN name END),
                          MAX(CASE WHEN seq = 1 THEN name END)) AS name,
                 coalesce(MAX(CASE WHEN seq = 3 THEN phone END),
                          MAX(CASE WHEN seq = 2 THEN phone END),
                          MAX(CASE WHEN seq = 1 THEN phone END)) AS phone,
                 coalesce(MAX(CASE WHEN seq = 3 THEN balance_cents END),
                          MAX(CASE WHEN seq = 2 THEN balance_cents END),
                          MAX(CASE WHEN seq = 1 THEN balance_cents END))
                   AS balance_cents
          FROM src GROUP BY c_custkey
        )
        SELECT c_custkey, name, phone, balance_cents,
               CAST((CASE WHEN name IS NOT NULL THEN 1 ELSE 0 END)
                 + (CASE WHEN phone IS NOT NULL THEN 1 ELSE 0 END)
                 + (CASE WHEN balance_cents IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS completeness
        FROM golden ORDER BY c_custkey
      """.trim)),

    // Bitemporal as-of — transaction time (when the warehouse LEARNED a
    // fact) crossed with valid time (when the fact was TRUE): the audit
    // question "as the system knew at T, what was part p's price on day
    // V?". The fixture loads an initial price (tx 1), a scheduled future
    // change (tx 2, valid from day 10), and a RETROACTIVE CORRECTION
    // (tx 3 rewrites valid-day-0 history for every 7th part). Per
    // knowledge time: keep rows with tx_from <= T, latest tx wins per
    // (part, valid_from) — max_by on the unique tx — then the newest
    // valid_from <= V wins per part. Asking at V=5 under T=2 vs T=3
    // surfaces exactly the corrected parts: price_known_t2 carries the
    // original, price_known_t3 the correction, corrected = their
    // disagreement flag. Two hash aggregates per knowledge time, no
    // windows; history volume per part is bounded by the tx count.
    Q(
      "q303_bitemporal",
      (s, dir) => {
        val p = Tables.part(s, dir)
          .select(col("p_partkey"), cents(col("p_retailprice")).as("__c"))
        val hist = p.select(col("p_partkey"), lit(0L).as("valid_from"),
            lit(1L).as("tx_from"), col("__c").as("price_cents"))
          .unionByName(p.select(col("p_partkey"), lit(10L).as("valid_from"),
            lit(2L).as("tx_from"), (col("__c") + 100L).as("price_cents")))
          .unionByName(p.filter(col("p_partkey") % 7 === 0)
            .select(col("p_partkey"), lit(0L).as("valid_from"),
              lit(3L).as("tx_from"), (col("__c") + 5L).as("price_cents")))
        def asOf(txMax: Long, vMax: Long, outCol: String) = hist
          .filter(col("tx_from") <= txMax)
          .groupBy("p_partkey", "valid_from")
          .agg(max_by(col("price_cents"), col("tx_from")).as("p"))
          .filter(col("valid_from") <= vMax)
          .groupBy("p_partkey")
          .agg(max_by(col("p"), col("valid_from")).as(outCol))
        asOf(2L, 5L, "price_known_t2")
          .join(asOf(3L, 5L, "price_known_t3"), "p_partkey")
          .withColumn("corrected",
            when(col("price_known_t2") =!= col("price_known_t3"), 1L)
              .otherwise(0L))
          .orderBy("p_partkey")
      },
      Some(s"""
        WITH p AS (
          SELECT p_partkey, ${duckCents("p_retailprice")} AS c FROM part
        ), hist AS (
          SELECT p_partkey, 0 AS valid_from, 1 AS tx_from, c AS price_cents
          FROM p
          UNION ALL
          SELECT p_partkey, 10, 2, c + 100 FROM p
          UNION ALL
          SELECT p_partkey, 0, 3, c + 5 FROM p WHERE p_partkey % 7 = 0
        ), t2 AS (
          SELECT p_partkey, arg_max(p2.p, valid_from) AS price_known_t2
          FROM (
            SELECT p_partkey, valid_from, arg_max(price_cents, tx_from) AS p
            FROM hist WHERE tx_from <= 2 GROUP BY p_partkey, valid_from
          ) p2
          WHERE valid_from <= 5 GROUP BY p_partkey
        ), t3 AS (
          SELECT p_partkey, arg_max(p3.p, valid_from) AS price_known_t3
          FROM (
            SELECT p_partkey, valid_from, arg_max(price_cents, tx_from) AS p
            FROM hist WHERE tx_from <= 3 GROUP BY p_partkey, valid_from
          ) p3
          WHERE valid_from <= 5 GROUP BY p_partkey
        )
        SELECT t2.p_partkey, price_known_t2, price_known_t3,
               CAST(CASE WHEN price_known_t2 <> price_known_t3
                 THEN 1 ELSE 0 END AS BIGINT) AS corrected
        FROM t2 JOIN t3 ON t2.p_partkey = t3.p_partkey
        ORDER BY t2.p_partkey
      """.trim)),

    // FIFO lot costing — inventory cost-of-goods-sold where demand drains
    // purchase lots strictly in receipt order: per part, each lot's
    // consumption is the overlap of its [prev_cum, cum) supply interval
    // with [0, sold) — the closed form that turns a sequential drain
    // simulation into one per-part running sum plus per-row arithmetic
    // (consumed = clamp(sold - prev_cum into [0, qty])). Lot costs
    // allocate by integer div (cost*consumed div qty) so COGS stays in
    // exact cents with no unit-price division. Windows are per-part (~15
    // lots) — partitioned frames that scale with parts, never one task.
    // The lot order (shipdate, orderkey, linenumber, qty, cents) is total
    // down to bit-identical rows, whose swap cannot change any cum value.
    Q(
      "q304_fifo_costing",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"), col("l_quantity").cast("long").as("qty"),
            cents(col("l_extendedprice")).as("cost_cents"))
        val lots = li.filter(col("l_orderkey") % 2 === 0)
        val sold = li.filter(col("l_orderkey") % 2 === 1)
          .groupBy("l_partkey").agg(sum(col("qty")).as("sold_qty"))
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("qty"), col("cost_cents"))
        lots
          .withColumn("cum", sum(col("qty")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .join(sold.hint("shuffle_hash"), Seq("l_partkey"), "inner")
          .withColumn("consumed",
            greatest(lit(0L), least(col("qty"),
              col("sold_qty") - (col("cum") - col("qty")))))
          .withColumn("lot_cogs",
            expr("(cost_cents * consumed) div qty"))
          .groupBy("l_partkey")
          .agg(max(col("sold_qty")).as("sold_qty"),
            sum(col("qty")).as("supply_qty"),
            sum(col("consumed")).as("consumed_qty"),
            sum(when(col("consumed") > 0, 1L).otherwise(0L)).as("lots_touched"),
            sum(col("lot_cogs")).cast("long").as("cogs_cents"))
          .withColumn("unfilled_qty",
            greatest(lit(0L), col("sold_qty") - col("supply_qty")))
          .orderBy("l_partkey")
      },
      Some(s"""
        WITH li AS (
          SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
                 CAST(l_quantity AS BIGINT) AS qty,
                 ${duckCents("l_extendedprice")} AS cost_cents
          FROM lineitem
        ), sold AS (
          SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sold_qty
          FROM li WHERE l_orderkey % 2 = 1 GROUP BY l_partkey
        ), lots AS (
          SELECT l_partkey, qty, cost_cents,
                 SUM(qty) OVER (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, cost_cents
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM li WHERE l_orderkey % 2 = 0
        ), drained AS (
          SELECT lots.l_partkey, qty, cost_cents, sold_qty,
                 greatest(0, least(qty, sold_qty - (cum - qty))) AS consumed
          FROM lots JOIN sold ON lots.l_partkey = sold.l_partkey
        )
        SELECT l_partkey,
               CAST(MAX(sold_qty) AS BIGINT) AS sold_qty,
               CAST(SUM(qty) AS BIGINT) AS supply_qty,
               CAST(SUM(consumed) AS BIGINT) AS consumed_qty,
               CAST(SUM(CASE WHEN consumed > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS lots_touched,
               CAST(SUM(cost_cents * consumed // qty) AS BIGINT) AS cogs_cents,
               CAST(greatest(0, MAX(sold_qty) - SUM(qty)) AS BIGINT)
                 AS unfilled_qty
        FROM drained GROUP BY l_partkey ORDER BY l_partkey
      """.trim)),

    // Month-over-month growth in integer basis points: monthly revenue per
    // region with the previous month attached by a MONTH-ARITHMETIC
    // SELF-JOIN (cur.month = add_months(prev.month, 1)) — no window at
    // all, so the shape holds at any history length — and growth stated as
    // ((cur - prev) * 10000) div prev: exact integer basis points, no
    // IEEE division to diverge across engines. First months carry null
    // growth through the left join, and the bounded region dim rides
    // broadcast.
    Q(
      "q305_mom_growth",
      (s, dir) => {
        val monthly = Tables.orders(s, dir)
          .join(Tables.customer(s, dir),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), date_trunc("month", col("o_orderdate"))
            .cast("date").as("month"))
          .agg(sum(cents(col("o_totalprice"))).cast("long").as("revenue_cents"))
        val prev = monthly.select(col("r_name"),
          add_months(col("month"), 1).as("month"),
          col("revenue_cents").as("prev_cents"))
        monthly.join(prev, Seq("r_name", "month"), "left")
          .select(col("r_name"), col("month"), col("revenue_cents"),
            expr("((revenue_cents - prev_cents) * 10000) div prev_cents")
              .as("growth_bp"))
          .orderBy("r_name", "month")
      },
      Some(s"""
        WITH monthly AS (
          SELECT r_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT) AS revenue_cents
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2
        )
        SELECT m.r_name, m.month, m.revenue_cents,
               CAST((m.revenue_cents - p.revenue_cents) * 10000
                 // p.revenue_cents AS BIGINT) AS growth_bp
        FROM monthly m
        LEFT JOIN monthly p
          ON m.r_name = p.r_name
          AND m.month = CAST(p.month + INTERVAL 1 MONTH AS DATE)
        ORDER BY m.r_name, m.month
      """.trim)),

    // Maximum drawdown — the peak-to-trough risk statistic over each
    // user's cumulative value series: drawdown(t) = running_max(cum) - cum,
    // reported at its per-user maximum with the earliest trough event
    // (a second aggregate over the max-dd rows — composite arg_max
    // orderings do not port to the oracle engine). Both running
    // aggregates are per-user partitioned windows over (ts, event_id) —
    // a total order since event_id is unique — and values move as exact
    // integer micros, so cum/peak/dd are bit-identical in any engine.
    Q(
      "q306_max_drawdown",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long")
              .as("micros"))
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val run = ev
          .withColumn("cum", sum(col("micros")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("peak", max(col("cum")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("dd", col("peak") - col("cum"))
        val agg = run.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max(col("dd")).as("max_drawdown_micros"))
        // trough pick: biggest drawdown, then EARLIEST event — stated as a
        // second aggregate over the max-dd rows (composite arg_max
        // orderings are not portable to the oracle engine)
        val trough = run.join(agg.select(col("user_id"),
            col("max_drawdown_micros").as("__mdd")), "user_id")
          .filter(col("dd") === col("__mdd"))
          .groupBy("user_id")
          .agg(min(col("event_id")).as("trough_event_id"))
        agg.join(trough, "user_id")
          .select(col("user_id"), col("n_events"), col("max_drawdown_micros"),
            col("trough_event_id"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, ts,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT)
                   AS micros
          FROM events
        ), run AS (
          SELECT user_id, event_id,
                 MAX(cum) OVER w2 - cum AS dd
          FROM (
            SELECT user_id, event_id, ts,
                   SUM(micros) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM ev)
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING)
        )
        , agg AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(MAX(dd) AS BIGINT) AS max_drawdown_micros
          FROM run GROUP BY user_id
        )
        SELECT agg.user_id, n_events, max_drawdown_micros,
               CAST(MIN(event_id) AS BIGINT) AS trough_event_id
        FROM agg JOIN run ON agg.user_id = run.user_id
          AND run.dd = agg.max_drawdown_micros
        GROUP BY agg.user_id, n_events, max_drawdown_micros
        ORDER BY agg.user_id
      """.trim)),

    // Exact continuous quartiles (percentile_cont semantics) WITHOUT the
    // cross-engine interpolation hazard: at quartile q over n values the
    // interpolated value is v_lo*(4-r) + v_hi*r in QUARTER-CENTS, where
    // r = ((n-1)*q) mod 4 — all integers, no IEEE interpolation to
    // diverge by an ulp between engines (the reason percentile_cont
    // itself was deferred). Ranks come from per-nation partitioned
    // windows (bounded per-group frames); the lo/hi neighbors collapse
    // into one conditional aggregate per quartile.
    Q(
      "q307_quartiles_cont",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_nationkey"), cents(col("c_acctbal")).as("v"))
        val w = Window.partitionBy("c_nationkey").orderBy("v")
        val ranked = c
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("c_nationkey")))
        def quart(k: Int, name: String) = {
          val loIdx = expr(s"((n - 1) * $k) div 4")
          val r = expr(s"((n - 1) * $k) % 4")
          max(when(col("rk") === loIdx + 1, col("v") * (lit(4) - r)))
            .plus(coalesce(max(when(col("rk") === loIdx + 2, col("v") * r)),
              lit(0L)))
            .cast("long").as(name)
        }
        ranked.groupBy("c_nationkey")
          .agg(quart(1, "q1_quarter_cents"), quart(2, "q2_quarter_cents"),
            quart(3, "q3_quarter_cents"))
          .orderBy("c_nationkey")
      },
      Some(s"""
        WITH c AS (
          SELECT c_nationkey, ${duckCents("c_acctbal")} AS v FROM customer
        ), ranked AS (
          SELECT c_nationkey, v,
                 row_number() OVER (PARTITION BY c_nationkey ORDER BY v) AS rk,
                 COUNT(*) OVER (PARTITION BY c_nationkey) AS n
          FROM c
        )
        SELECT c_nationkey,
               CAST(MAX(CASE WHEN rk = (n-1)*1//4 + 1
                      THEN v * (4 - (n-1)*1%4) END)
                 + coalesce(MAX(CASE WHEN rk = (n-1)*1//4 + 2
                      THEN v * ((n-1)*1%4) END), 0) AS BIGINT)
                 AS q1_quarter_cents,
               CAST(MAX(CASE WHEN rk = (n-1)*2//4 + 1
                      THEN v * (4 - (n-1)*2%4) END)
                 + coalesce(MAX(CASE WHEN rk = (n-1)*2//4 + 2
                      THEN v * ((n-1)*2%4) END), 0) AS BIGINT)
                 AS q2_quarter_cents,
               CAST(MAX(CASE WHEN rk = (n-1)*3//4 + 1
                      THEN v * (4 - (n-1)*3%4) END)
                 + coalesce(MAX(CASE WHEN rk = (n-1)*3//4 + 2
                      THEN v * ((n-1)*3%4) END), 0) AS BIGINT)
                 AS q3_quarter_cents
        FROM ranked GROUP BY c_nationkey ORDER BY c_nationkey
      """.trim)),

    // Wilson lower confidence bound — small-sample-safe rate ranking (the
    // fix for "1/1 = 100% beats 480/500"): brands rank by the LOWER bound
    // of their return-rate confidence interval, z = 2 (~97.7%). The bound
    // is irreducibly floating-point (sqrt), but every input is an exact
    // integer and both engines evaluate the IDENTICAL expression tree —
    // +, -, *, /, sqrt are all IEEE correctly-rounded, so the doubles
    // match bitwise (the q287 z-test precedent). No ranking window: the
    // bound itself is emitted and the output ordering carries the rank.
    Q(
      "q310_wilson_rank",
      (s, dir) => {
        val stats = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir).hint("shuffle_hash"),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("s"))
        stats.select(col("p_brand"), col("n").as("n_trials"),
            col("s").as("n_returns"),
            expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("ret_rate"),
            expr("""
              (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 2.0 / CAST(n AS DOUBLE)
                - 2.0 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                    * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)
                  + 1.0 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
              / (1.0 + 4.0 / CAST(n AS DOUBLE))""").as("wilson_lcb"))
          .orderBy(col("wilson_lcb").desc, col("p_brand"))
      },
      Some("""
        WITH stats AS (
          SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS BIGINT) AS s
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand
        )
        SELECT p_brand, n AS n_trials, s AS n_returns,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ret_rate,
               (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) + 2.0 / CAST(n AS DOUBLE)
                 - 2.0 * sqrt(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                     * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE)
                   + 1.0 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
               / (1.0 + 4.0 / CAST(n AS DOUBLE)) AS wilson_lcb
        FROM stats
        ORDER BY wilson_lcb DESC, p_brand
      """.trim)),

    // Hierarchical path-prefix rollup — the trie-shaped aggregation behind
    // "traffic by site section at every depth": each leaf path contributes
    // one row per ANCESTOR prefix (bounded explode: depth levels, not
    // corpus size), and one hash aggregate rolls up events and distinct
    // users per node. The same shape serves URL sections, file-system
    // usage, and product-category trees; no recursion and no window —
    // ancestry is materialized by slicing the split path array.
    Q(
      "q311_path_rollup",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"),
            split(concat(col("event_type"),
              lit("/s"), pmod(col("user_id"), lit(10)),
              lit("/i"), pmod(col("event_id"), lit(5))), "/").as("parts"))
        ev.select(col("user_id"), explode(sequence(lit(1), lit(3))).as("d"),
            col("parts"))
          .select(col("user_id"), col("d").cast("long").as("depth"),
            expr("concat_ws('/', slice(parts, 1, d))").as("node"))
          .groupBy("node", "depth")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("node")
      },
      Some("""
        WITH ev AS (
          SELECT user_id,
                 string_split(event_type || '/s' || CAST(user_id % 10 AS VARCHAR)
                   || '/i' || CAST(event_id % 5 AS VARCHAR), '/') AS parts
          FROM events
        ), exploded AS (
          SELECT user_id, CAST(d AS BIGINT) AS depth,
                 array_to_string(parts[1:d], '/') AS node
          FROM ev, generate_series(1, 3) AS t(d)
        )
        SELECT node, depth, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM exploded GROUP BY node, depth ORDER BY node
      """.trim)),

    // Day-of-week mix deviation — the ops-monitoring baseline "is Tuesday
    // behaving like a Tuesday": per event type, each weekday's share of
    // events against the uniform 1/7 expectation, in integer basis points
    // ((dow_count*7*10000) div total − 10000, positive = over-indexed).
    // Pure integer arithmetic off two hash aggregates joined on the type
    // key; the 7-row-per-type result shape is value-bounded at any scale.
    Q(
      "q312_dow_mix",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
        val byDow = base.groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n"))
        val byType = base.groupBy("event_type")
          .agg(count(lit(1)).as("total"))
        byDow.join(byType.hint("shuffle_hash"), "event_type")
          .select(col("event_type"), col("dow"), col("n"),
            expr("(n * 7 * 10000) div total - 10000").as("dev_bp"))
          .orderBy("event_type", "dow")
      },
      Some("""
        WITH base AS (
          SELECT event_type,
                 CAST(dayofweek(ts) + 1 AS BIGINT) AS dow
          FROM events
        ), byd AS (
          SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
          FROM base GROUP BY 1, 2
        ), byt AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS total
          FROM base GROUP BY 1
        )
        SELECT byd.event_type, dow, n,
               CAST((n * 7 * 10000) // total - 10000 AS BIGINT) AS dev_bp
        FROM byd JOIN byt ON byd.event_type = byt.event_type
        ORDER BY byd.event_type, dow
      """.trim)),

    // Inventory aging — the balance-sheet twin of q304's FIFO drain: the
    // UNCONSUMED tail of each lot (qty - consumed, value prorated by
    // integer div) ages into ship-year buckets, answering "how much stock
    // value sits how old" after demand drains the oldest lots first. Same
    // closed-form drain (one per-part running sum), one extra rollup.
    Q(
      "q313_inventory_aging",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"), col("l_quantity").cast("long").as("qty"),
            cents(col("l_extendedprice")).as("cost_cents"))
        val lots = li.filter(col("l_orderkey") % 2 === 0)
        val sold = li.filter(col("l_orderkey") % 2 === 1)
          .groupBy("l_partkey").agg(sum(col("qty")).as("sold_qty"))
        val w = Window.partitionBy("l_partkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("qty"), col("cost_cents"))
        lots
          .withColumn("cum", sum(col("qty")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .join(sold.hint("shuffle_hash"), Seq("l_partkey"), "left")
          .na.fill(0L, Seq("sold_qty"))
          .withColumn("consumed",
            greatest(lit(0L), least(col("qty"),
              col("sold_qty") - (col("cum") - col("qty")))))
          .withColumn("remaining", col("qty") - col("consumed"))
          .filter(col("remaining") > 0)
          .withColumn("rem_value",
            expr("(cost_cents * remaining) div qty"))
          .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
          .agg(count(lit(1)).as("n_lots"),
            sum(col("remaining")).cast("long").as("remaining_qty"),
            sum(col("rem_value")).cast("long").as("remaining_value_cents"))
          .orderBy("ship_year")
      },
      Some(s"""
        WITH li AS (
          SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
                 CAST(l_quantity AS BIGINT) AS qty,
                 ${duckCents("l_extendedprice")} AS cost_cents
          FROM lineitem
        ), sold AS (
          SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sold_qty
          FROM li WHERE l_orderkey % 2 = 1 GROUP BY l_partkey
        ), lots AS (
          SELECT l_partkey, l_shipdate, qty, cost_cents,
                 SUM(qty) OVER (PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber, qty, cost_cents
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM li WHERE l_orderkey % 2 = 0
        ), drained AS (
          SELECT lots.l_partkey, l_shipdate, qty, cost_cents,
                 qty - greatest(0, least(qty,
                   coalesce(sold_qty, 0) - (cum - qty))) AS remaining
          FROM lots LEFT JOIN sold ON lots.l_partkey = sold.l_partkey
        )
        SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
               CAST(COUNT(*) AS BIGINT) AS n_lots,
               CAST(SUM(remaining) AS BIGINT) AS remaining_qty,
               CAST(SUM(cost_cents * remaining // qty) AS BIGINT)
                 AS remaining_value_cents
        FROM drained WHERE remaining > 0
        GROUP BY 1 ORDER BY ship_year
      """.trim)),

    // Join-cardinality audit — size a join WITHOUT running it: for an
    // equi-join the output cardinality is exactly sum over keys of
    // cnt_a(k)*cnt_b(k), two per-key count aggregates and a tiny
    // key-joined product — next to the planner's independence estimate
    // n_a*n_b/max(d_a,d_b) with its signed error in basis points. The
    // actual join is ALSO executed on the key columns alone and must
    // equal the formula — the audit that justifies running the cheap
    // version before committing a 100 TB shuffle.
    Q(
      "q314_join_size_audit",
      (s, dir) => {
        val a = Tables.events(s, dir).select(col("user_id").as("k"))
        val b = Tables.orders(s, dir).select(col("o_custkey").as("k"))
        val ca = a.groupBy("k").agg(count(lit(1)).as("ca"))
        val cb = b.groupBy("k").agg(count(lit(1)).as("cb"))
        val exact = ca.join(cb, "k")
          .agg(sum(col("ca") * col("cb")).cast("long").as("exact_pairs"))
        val actual = a.join(b.hint("shuffle_hash"), "k")
          .agg(count(lit(1)).as("actual_pairs"))
        val stats = a.agg(count(lit(1)).as("n_a"),
            countDistinct(col("k")).as("d_a"))
          .crossJoin(b.agg(count(lit(1)).as("n_b"),
            countDistinct(col("k")).as("d_b")))
        stats.crossJoin(broadcast(exact)).crossJoin(broadcast(actual))
          .withColumn("naive_estimate",
            expr("(n_a * n_b) div greatest(d_a, d_b)"))
          .withColumn("estimate_err_bp",
            expr("((naive_estimate - exact_pairs) * 10000) div exact_pairs"))
          .select(col("n_a"), col("n_b"), col("d_a"), col("d_b"),
            col("exact_pairs"), col("actual_pairs"), col("naive_estimate"),
            col("estimate_err_bp"))
      },
      Some("""
        WITH a AS (SELECT user_id AS k FROM events),
        b AS (SELECT o_custkey AS k FROM orders),
        ca AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS ca FROM a GROUP BY k),
        cb AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY k),
        ex AS (SELECT CAST(SUM(ca*cb) AS BIGINT) AS exact_pairs
               FROM ca JOIN cb ON ca.k = cb.k),
        act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_pairs
                FROM a JOIN b ON a.k = b.k),
        st AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
                      (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
                      (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM a) AS d_a,
                      (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM b) AS d_b)
        SELECT n_a, n_b, d_a, d_b, exact_pairs, actual_pairs,
               CAST((n_a * n_b) // greatest(d_a, d_b) AS BIGINT) AS naive_estimate,
               CAST(((n_a * n_b) // greatest(d_a, d_b) - exact_pairs) * 10000
                 // exact_pairs AS BIGINT) AS estimate_err_bp
        FROM st, ex, act
      """.trim)),

    // Near-zero-variance feature screen (the caret nearZeroVar rule): a
    // feature is degenerate when its most common value dominates the
    // runner-up (freq ratio > 19) AND few values are distinct (< 10%
    // unique). Four lineitem columns unpivot map-side into (feature,
    // value-in-integer-units) rows; per feature the top-2 value counts
    // come from three portable aggregates (max count, min value at that
    // count, max count excluding that value — no composite arg_max, no
    // per-feature window), and the verdict is pure integer arithmetic.
    Q(
      "q315_feature_screen",
      (s, dir) => {
        val long4 = Tables.lineitem(s, dir).select(
          col("l_quantity").cast("long").as("quantity"),
          cents(col("l_extendedprice")).as("price_cents"),
          (col("l_discount").cast("decimal(8,2)") * 100).cast("long")
            .as("discount_pct"),
          (col("l_tax").cast("decimal(8,2)") * 100).cast("long").as("tax_pct"))
          // whole dollars by integer div of exact cents (decimal->long
          // rounding conventions differ across engines; cents don't)
          .withColumn("price_dollars", expr("price_cents div 100"))
        val unpiv = long4.select(expr(
          """stack(4, 'quantity', quantity, 'price_dollars', price_dollars,
             'discount_pct', discount_pct, 'tax_pct', tax_pct)
             AS (feature, val)"""))
        val counts = unpiv.groupBy("feature", "val")
          .agg(count(lit(1)).as("cnt"))
        val tot = unpiv.groupBy("feature")
          .agg(count(lit(1)).as("n"), countDistinct(col("val")).as("n_distinct"))
        val m1 = counts.groupBy("feature").agg(max(col("cnt")).as("top1"))
        val v1 = counts.join(m1, "feature")
          .filter(col("cnt") === col("top1"))
          .groupBy("feature").agg(min(col("val")).as("v1"))
        val top2 = counts.join(v1, "feature")
          .filter(col("val") =!= col("v1"))
          .groupBy("feature").agg(max(col("cnt")).as("top2"))
        tot.join(m1, "feature").join(top2, "feature")
          .select(col("feature"), col("n"), col("n_distinct"),
            col("top1"), col("top2"),
            expr("(top1 * 10000) div greatest(top2, 1)").as("freq_ratio_bp"),
            expr("(n_distinct * 10000) div n").as("pct_unique_bp"),
            when(expr("top1 > 19 * top2") && expr("n_distinct * 10 < n"), 1L)
              .otherwise(0L).as("near_zero_var"))
          .orderBy("feature")
      },
      Some(s"""
        WITH unpiv AS (
          SELECT 'quantity' AS feature, CAST(l_quantity AS BIGINT) AS val
          FROM lineitem
          UNION ALL
          SELECT 'price_dollars', ${duckCents("l_extendedprice")} // 100
          FROM lineitem
          UNION ALL
          SELECT 'discount_pct',
                 CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT)
          FROM lineitem
          UNION ALL
          SELECT 'tax_pct', CAST(CAST(l_tax AS DECIMAL(8,2)) * 100 AS BIGINT)
          FROM lineitem
        ), counts AS (
          SELECT feature, val, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM unpiv GROUP BY 1, 2
        ), tot AS (
          SELECT feature, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT val) AS BIGINT) AS n_distinct
          FROM unpiv GROUP BY 1
        ), m1 AS (
          SELECT feature, MAX(cnt) AS top1 FROM counts GROUP BY 1
        ), v1 AS (
          SELECT counts.feature, MIN(val) AS v1
          FROM counts JOIN m1 ON counts.feature = m1.feature
            AND counts.cnt = m1.top1
          GROUP BY 1
        ), t2 AS (
          SELECT counts.feature, MAX(cnt) AS top2
          FROM counts JOIN v1 ON counts.feature = v1.feature
            AND counts.val <> v1.v1
          GROUP BY 1
        )
        SELECT tot.feature, n, n_distinct, top1, top2,
               CAST((top1 * 10000) // greatest(top2, 1) AS BIGINT)
                 AS freq_ratio_bp,
               CAST((n_distinct * 10000) // n AS BIGINT) AS pct_unique_bp,
               CAST(CASE WHEN top1 > 19 * top2 AND n_distinct * 10 < n
                 THEN 1 ELSE 0 END AS BIGINT) AS near_zero_var
        FROM tot
        JOIN m1 ON tot.feature = m1.feature
        JOIN t2 ON tot.feature = t2.feature
        ORDER BY tot.feature
      """.trim)),

    // Hierarchical forecast allocation — a fixed planning total cascades
    // region -> nation proportionally to historical revenue, with
    // LARGEST-REMAINDER exactness at BOTH levels so every roll-up
    // reconciles to the cent (the property top-down planning loses the
    // moment anyone multiplies by a float share). The 5-region level
    // ranks remainders via a tiny self-join count (no window at all);
    // the nation level ranks inside per-region windows (bounded by
    // nations-per-region). Both reconciliation flags are pinned 1.
    Q(
      "q316_forecast_allocation",
      (s, dir) => {
        val target = 100000000L // the planning total: 1,000,000.00 in cents
        val byNation = Tables.customer(s, dir)
          .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
          .join(broadcast(Tables.nation(s, dir)),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, dir)),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(cents(col("o_totalprice"))).cast("long").as("rev"))
        val byRegion = byNation.groupBy("r_name")
          .agg(sum(col("rev")).cast("long").as("rrev"))
        val total = byRegion.agg(sum(col("rrev")).cast("long").as("trev"))
        // level 1: regions (5 rows) — remainder rank by self-join count
        // products target*rev are ~1e8 * cents-revenue — past int64 by
        // sf0.1 (ANSI overflow, observed in BENCH r5); widen to
        // DECIMAL(38,0) per the repo's early-widening rule (oracle:
        // HUGEINT), narrowing back to BIGINT after the div/mod.
        val r0 = byRegion.crossJoin(broadcast(total))
          .withColumn("base", expr(
            s"CAST((CAST($target AS DECIMAL(38,0)) * rrev) div trev AS BIGINT)"))
          .withColumn("rem", expr(
            s"CAST((CAST($target AS DECIMAL(38,0)) * rrev) % trev AS BIGINT)"))
        val rdef = r0.agg((lit(target) - sum(col("base"))).as("rdeficit"))
        val rrank = r0.as("a")
          .join(r0.select(col("r_name").as("rb"), col("rem").as("remb")).as("b"),
            col("b.remb") > col("a.rem") ||
              (col("b.remb") === col("a.rem") && col("b.rb") < col("a.r_name")),
            "left")
          .groupBy(col("a.r_name").as("r_name"), col("a.base").as("base"),
            col("a.rem").as("rem"))
          .agg(count(col("b.rb")).as("ahead"))
          .crossJoin(broadcast(rdef))
          .withColumn("region_alloc",
            col("base") + when(col("ahead") < col("rdeficit"), 1L).otherwise(0L))
          .select(col("r_name"), col("region_alloc"))
        // level 2: nations inside each region — per-region window rank
        val n0 = byNation.join(byRegion, "r_name").join(rrank, "r_name")
          .withColumn("nbase", expr(
            "CAST((CAST(region_alloc AS DECIMAL(38,0)) * rev) div rrev AS BIGINT)"))
          .withColumn("nrem", expr(
            "CAST((CAST(region_alloc AS DECIMAL(38,0)) * rev) % rrev AS BIGINT)"))
        val byR = Window.partitionBy("r_name")
        val alloc = n0
          .withColumn("ndeficit",
            col("region_alloc") - sum(col("nbase")).over(byR))
          .withColumn("nrk", row_number().over(
            byR.orderBy(col("nrem").desc, col("n_name"))))
          .withColumn("nation_alloc",
            col("nbase") + when(col("nrk") <= col("ndeficit"), 1L).otherwise(0L))
        alloc
          .withColumn("region_exact",
            when(sum(col("nation_alloc")).over(byR) === col("region_alloc"), 1L)
              .otherwise(0L))
          .select(col("r_name"), col("n_name"), col("nation_alloc"),
            col("region_alloc"), col("region_exact"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""
        WITH byn AS (
          SELECT r_name, n_name,
                 CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT) AS rev
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2
        ), byr AS (
          SELECT r_name, CAST(SUM(rev) AS BIGINT) AS rrev FROM byn GROUP BY 1
        ), tot AS (
          SELECT CAST(SUM(rrev) AS BIGINT) AS trev FROM byr
        ), r0 AS (
          SELECT r_name, rrev,
                 CAST(CAST(100000000 AS HUGEINT) * rrev // trev AS BIGINT) AS base,
                 CAST(CAST(100000000 AS HUGEINT) * rrev % trev AS BIGINT) AS rem
          FROM byr, tot
        ), rdef AS (
          SELECT 100000000 - CAST(SUM(base) AS BIGINT) AS rdeficit FROM r0
        ), rrank AS (
          SELECT a.r_name, a.rrev,
                 a.base + CASE WHEN (
                   SELECT COUNT(*) FROM r0 b
                   WHERE b.rem > a.rem
                      OR (b.rem = a.rem AND b.r_name < a.r_name)
                 ) < (SELECT rdeficit FROM rdef) THEN 1 ELSE 0 END
                   AS region_alloc
          FROM r0 a
        ), n0 AS (
          SELECT byn.r_name, n_name, rev, rrank.rrev, region_alloc,
                 CAST(CAST(region_alloc AS HUGEINT) * rev // rrank.rrev AS BIGINT) AS nbase,
                 CAST(CAST(region_alloc AS HUGEINT) * rev % rrank.rrev AS BIGINT) AS nrem
          FROM byn JOIN rrank ON byn.r_name = rrank.r_name
        ), ranked AS (
          SELECT *,
                 region_alloc - SUM(nbase) OVER (PARTITION BY r_name)
                   AS ndeficit,
                 row_number() OVER (PARTITION BY r_name
                   ORDER BY nrem DESC, n_name) AS nrk
          FROM n0
        ), alloc AS (
          SELECT r_name, n_name,
                 CAST(nbase + CASE WHEN nrk <= ndeficit THEN 1 ELSE 0 END
                   AS BIGINT) AS nation_alloc,
                 CAST(region_alloc AS BIGINT) AS region_alloc
          FROM ranked
        )
        SELECT r_name, n_name, nation_alloc, region_alloc,
               CAST(CASE WHEN SUM(nation_alloc) OVER (PARTITION BY r_name)
                 = region_alloc THEN 1 ELSE 0 END AS BIGINT) AS region_exact
        FROM alloc ORDER BY r_name, n_name
      """.trim)),

    // Tukey IQR outlier fences on the exact quarter-cent quartiles (q307
    // machinery): the classic fence q1 - 1.5*IQR introduces halves, so
    // everything scales once more to EIGHTH-cents (fence_low_8 =
    // 2*q1_4 - 3*IQR_4) and the outlier test compares 8*value against
    // integer fences — box-plot semantics with zero floating point.
    // Quartiles per nation from partitioned ranks; one join back to the
    // values to count fence breaches.
    Q(
      "q317_iqr_outliers",
      (s, dir) => {
        val c = Tables.customer(s, dir)
          .select(col("c_nationkey"), cents(col("c_acctbal")).as("v"))
        val w = Window.partitionBy("c_nationkey").orderBy("v")
        val ranked = c
          .withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("c_nationkey")))
        def quart(k: Int, name: String) = {
          val loIdx = expr(s"((n - 1) * $k) div 4")
          val r = expr(s"((n - 1) * $k) % 4")
          max(when(col("rk") === loIdx + 1, col("v") * (lit(4) - r)))
            .plus(coalesce(max(when(col("rk") === loIdx + 2, col("v") * r)),
              lit(0L)))
            .cast("long").as(name)
        }
        val quartiles = ranked.groupBy("c_nationkey")
          .agg(quart(1, "q1_4"), quart(3, "q3_4"))
          .withColumn("fence_low_8",
            lit(2L) * col("q1_4") - lit(3L) * (col("q3_4") - col("q1_4")))
          .withColumn("fence_high_8",
            lit(2L) * col("q3_4") + lit(3L) * (col("q3_4") - col("q1_4")))
        c.join(quartiles.hint("shuffle_hash"), "c_nationkey")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            min(col("q1_4")).as("q1_quarter_cents"),
            min(col("q3_4")).as("q3_quarter_cents"),
            sum(when(col("v") * 8 < col("fence_low_8"), 1L).otherwise(0L))
              .as("n_low_outliers"),
            sum(when(col("v") * 8 > col("fence_high_8"), 1L).otherwise(0L))
              .as("n_high_outliers"))
          .orderBy("c_nationkey")
      },
      Some(s"""
        WITH c AS (
          SELECT c_nationkey, ${duckCents("c_acctbal")} AS v FROM customer
        ), ranked AS (
          SELECT c_nationkey, v,
                 row_number() OVER (PARTITION BY c_nationkey ORDER BY v) AS rk,
                 COUNT(*) OVER (PARTITION BY c_nationkey) AS n
          FROM c
        ), quartiles AS (
          SELECT c_nationkey,
                 CAST(MAX(CASE WHEN rk = (n-1)*1//4 + 1
                        THEN v * (4 - (n-1)*1%4) END)
                   + coalesce(MAX(CASE WHEN rk = (n-1)*1//4 + 2
                        THEN v * ((n-1)*1%4) END), 0) AS BIGINT) AS q1_4,
                 CAST(MAX(CASE WHEN rk = (n-1)*3//4 + 1
                        THEN v * (4 - (n-1)*3%4) END)
                   + coalesce(MAX(CASE WHEN rk = (n-1)*3//4 + 2
                        THEN v * ((n-1)*3%4) END), 0) AS BIGINT) AS q3_4
          FROM ranked GROUP BY c_nationkey
        ), fences AS (
          SELECT c_nationkey, q1_4, q3_4,
                 2*q1_4 - 3*(q3_4 - q1_4) AS fence_low_8,
                 2*q3_4 + 3*(q3_4 - q1_4) AS fence_high_8
          FROM quartiles
        )
        SELECT c.c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(q1_4) AS BIGINT) AS q1_quarter_cents,
               CAST(MIN(q3_4) AS BIGINT) AS q3_quarter_cents,
               CAST(SUM(CASE WHEN v * 8 < fence_low_8 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_low_outliers,
               CAST(SUM(CASE WHEN v * 8 > fence_high_8 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_high_outliers
        FROM c JOIN fences ON c.c_nationkey = fences.c_nationkey
        GROUP BY c.c_nationkey ORDER BY c.c_nationkey
      """.trim)),

    // Parquet compression-codec round-trip — the sink option surface a
    // storage migration actually flips: the same frame lands under gzip,
    // snappy, and zstd, each read back and content-verified, with the
    // codec's presence confirmed from the physical file names (Spark
    // suffixes part files .gz/.snappy/.zstd before .parquet). Values are
    // codec-invariant — that's the point — so the oracle restates one
    // aggregate three times; codec_in_filename = 1 pins that the option
    // actually reached the writer instead of silently defaulting.
    Q(
      "q318_codec_roundtrip",
      (s, dir) => {
        import graft.engine.Scratch
        val base = Tables.orders(s, dir)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("__c"))
        val codecs = Seq(("gzip", ".gz.parquet"), ("snappy", ".snappy.parquet"),
          ("zstd", ".zstd.parquet"))
        val frames = codecs.map { case (codec, suffix) =>
          val path = Scratch.dir(s, dir, s"codec_$codec")
          base.coalesce(2).write.mode("overwrite")
            .option("compression", codec).parquet(path)
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          val parts = fs.listStatus(p).map(_.getPath.getName)
            .filter(_.endsWith(".parquet"))
          val allSuffixed = parts.nonEmpty && parts.forall(_.endsWith(suffix))
          Sources.parquet(s, path)
            .agg(count(lit(1)).as("n_rows"),
              sum(col("__c")).cast("long").as("revenue_cents"))
            .select(lit(codec).as("codec"), col("n_rows"), col("revenue_cents"),
              lit(if (allSuffixed) 1L else 0L).as("codec_in_filename"))
        }
        frames.reduce(_ unionByName _).orderBy("codec")
      },
      Some(s"""
        WITH agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT)
                   AS revenue_cents
          FROM orders
        )
        SELECT codec, n_rows, revenue_cents, CAST(1 AS BIGINT)
                 AS codec_in_filename
        FROM agg, (VALUES ('gzip'), ('snappy'), ('zstd')) AS t(codec)
        ORDER BY codec
      """.trim)),

    // ABC inventory classification — the 80/15/5 concentration cut:
    // customers rank by revenue and classify by CUMULATIVE share (A while
    // the running total stays within 80% of the grand total, B to 95%,
    // C beyond), with the running total from the two-phase scalable
    // prefix sum (q93's machinery — no single-task window at any
    // customer count) and the class cuts as pure integer
    // cross-multiplications (cum*5 <= total*4). Per-class rollup with
    // share in basis points closes the report.
    Q(
      "q319_abc_classification",
      (s, dir) => {
        import graft.engine.Keys
        val rev = Tables.orders(s, dir).groupBy("o_custkey")
          .agg(sum(cents(col("o_totalprice"))).cast("long").as("rev"))
        val run = Keys.globalRunningSumBy(rev,
          Seq(col("rev").desc, col("o_custkey")), "rev", "cum")
        run
          .crossJoin(broadcast(rev.agg(sum(col("rev")).cast("long").as("total"))))
          .withColumn("abc_class",
            when(col("cum") * 5 <= col("total") * 4, "A")
              .when(col("cum") * 20 <= col("total") * 19, "B")
              .otherwise("C"))
          .groupBy("abc_class")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rev")).cast("long").as("revenue_cents"),
            expr("(CAST(SUM(rev) AS BIGINT) * 10000) div MAX(total)")
              .as("share_bp"))
          .orderBy("abc_class")
      },
      Some(s"""
        WITH rev AS (
          SELECT o_custkey,
                 CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT) AS rev
          FROM orders GROUP BY 1
        ), run AS (
          SELECT o_custkey, rev,
                 CAST(SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 (SELECT CAST(SUM(rev) AS BIGINT) FROM rev) AS total
          FROM rev
        )
        SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                    WHEN cum * 20 <= total * 19 THEN 'B'
                    ELSE 'C' END AS abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(rev) AS BIGINT) AS revenue_cents,
               CAST(SUM(rev) * 10000 // MAX(total) AS BIGINT) AS share_bp
        FROM run GROUP BY 1 ORDER BY abc_class
      """.trim)),

    // p-chart (attribute control chart) — SPC for a rate: weekly return
    // fractions against control limits p̄ ± 3·sqrt(p̄(1−p̄)/n_week), the
    // monitoring classic that distinguishes common-cause wiggle from a
    // signal. Counts are exact integers; the limits are evaluated through
    // an IDENTICAL IEEE expression tree in both engines (the q310
    // precedent — +,−,*,/ and sqrt are all correctly rounded), and the
    // out-of-control verdict is a plain comparison of those
    // bit-reproducible doubles. Two hash aggregates, one broadcast of the
    // 1-row center line.
    Q(
      "q320_p_chart",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .select(date_trunc("week", col("l_shipdate")).cast("date").as("week"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
        val weekly = li.groupBy("week")
          .agg(count(lit(1)).as("n"), sum(col("ret")).as("s"))
        val center = li.agg(count(lit(1)).as("tn"), sum(col("ret")).as("ts"))
        weekly.crossJoin(broadcast(center))
          .withColumn("pbar", expr("CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)"))
          .withColumn("sigma", expr(
            """sqrt(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
               * (1.0 - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
               / CAST(n AS DOUBLE))"""))
          .select(col("week"), col("n"), col("s"),
            expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("p_week"),
            col("pbar"),
            when(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
              > col("pbar") + lit(3.0) * col("sigma"), 1L)
              .when(expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
                < col("pbar") - lit(3.0) * col("sigma"), -1L)
              .otherwise(0L).as("signal"))
          .orderBy("week")
      },
      Some("""
        WITH li AS (
          SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
          FROM lineitem
        ), weekly AS (
          SELECT week, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(ret) AS BIGINT) AS s
          FROM li GROUP BY 1
        ), center AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS tn, CAST(SUM(ret) AS BIGINT) AS ts
          FROM li
        )
        SELECT week, n, s,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS p_week,
               CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) AS pbar,
               CAST(CASE
                 WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                   > CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
                     + 3.0 * sqrt(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
                         * (1.0 - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
                         / CAST(n AS DOUBLE)) THEN 1
                 WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                   < CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
                     - 3.0 * sqrt(CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
                         * (1.0 - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
                         / CAST(n AS DOUBLE)) THEN -1
                 ELSE 0 END AS BIGINT) AS signal
        FROM weekly CROSS JOIN center
        ORDER BY week
      """.trim)),

    // Leakage-safe churn label generation — the supervised-dataset build
    // step every churn model needs and most get wrong by peeking past the
    // cutoff: features aggregate STRICTLY BEFORE the cutoff timestamp
    // (activity counts, 7-day recency window, exact value sum), the
    // label (inactive ≥ 30 days) comes from the window STRICTLY AFTER,
    // and a user appears iff they were active before the cutoff. One
    // filtered aggregate per side of the cut, joined on the user — no
    // window functions at all, so the shape is two shuffles at any scale.
    Q(
      "q321_churn_labels",
      (s, dir) => {
        val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
        val horizon = lit("2024-01-30 00:00:00").cast("timestamp")
        val ev = Tables.events(s, dir)
        val feat = ev.filter(col("ts") < cutoff)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("ts") >= cutoff - expr("INTERVAL 7 DAYS"), 1L)
              .otherwise(0L)).as("n_events_7d"),
            max(col("ts")).as("last_ts"),
            sum((col("value").cast("decimal(16,6)") * 1000000).cast("long"))
              .cast("long").as("value_micros"))
          .withColumn("days_since_last",
            datediff(cutoff.cast("date"), col("last_ts").cast("date")).cast("long"))
        val after = ev.filter(col("ts") >= cutoff && col("ts") < horizon)
          .select(col("user_id")).distinct()
          .withColumn("active_after", lit(1L))
        feat.join(after, Seq("user_id"), "left")
          .select(col("user_id"), col("n_events"), col("n_events_7d"),
            col("days_since_last"), col("value_micros"),
            when(col("active_after").isNull, 1L).otherwise(0L).as("churned"))
          .orderBy("user_id")
      },
      Some("""
        WITH feat AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                     - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_events_7d,
                 CAST(date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-01-20')
                   AS BIGINT) AS days_since_last,
                 CAST(SUM(CAST(CAST(value AS DECIMAL(16,6)) * 1000000
                   AS BIGINT)) AS BIGINT) AS value_micros
          FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
          GROUP BY user_id
        ), after AS (
          SELECT DISTINCT user_id FROM events
          WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
            AND ts < TIMESTAMP '2024-01-30 00:00:00'
        )
        SELECT feat.user_id, n_events, n_events_7d, days_since_last,
               value_micros,
               CAST(CASE WHEN after.user_id IS NULL THEN 1 ELSE 0 END
                 AS BIGINT) AS churned
        FROM feat LEFT JOIN after ON feat.user_id = after.user_id
        ORDER BY feat.user_id
      """.trim)),

    // Price-volume bridge — the finance decomposition "how much of the
    // revenue change was selling MORE vs selling DEARER": per brand,
    // volume effect = (Q_new − Q_old)·(old revenue rate) in integer
    // cents, price/mix effect = the EXACT residual, so the two effects
    // always close to the delta to the cent (float bridges never do; the
    // residual-closure convention is how real P&L bridges reconcile).
    // Two filtered aggregates per brand, one join — windowless.
    Q(
      "q322_pvm_bridge",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir).hint("shuffle_hash"),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), year(col("l_shipdate")).as("yr"),
            col("l_quantity").cast("long").as("q"),
            cents(col("l_extendedprice")).as("r"))
        def period(yr: Int, qn: String, rn: String) = li.filter(col("yr") === yr)
          .groupBy("p_brand")
          .agg(sum(col("q")).as(qn), sum(col("r")).cast("long").as(rn))
        period(1996, "q_new", "r_new")
          .join(period(1995, "q_old", "r_old"), "p_brand")
          .withColumn("delta_cents", col("r_new") - col("r_old"))
          .withColumn("volume_effect",
            expr("((q_new - q_old) * r_old) div q_old"))
          .withColumn("price_effect", col("delta_cents") - col("volume_effect"))
          .select(col("p_brand"), col("r_old"), col("r_new"), col("delta_cents"),
            col("volume_effect"), col("price_effect"))
          .orderBy("p_brand")
      },
      Some(s"""
        WITH li AS (
          SELECT p_brand, year(l_shipdate) AS yr,
                 CAST(l_quantity AS BIGINT) AS q,
                 ${duckCents("l_extendedprice")} AS r
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), pn AS (
          SELECT p_brand, CAST(SUM(q) AS BIGINT) AS q_new,
                 CAST(SUM(r) AS BIGINT) AS r_new
          FROM li WHERE yr = 1996 GROUP BY 1
        ), po AS (
          SELECT p_brand, CAST(SUM(q) AS BIGINT) AS q_old,
                 CAST(SUM(r) AS BIGINT) AS r_old
          FROM li WHERE yr = 1995 GROUP BY 1
        )
        SELECT pn.p_brand, r_old, r_new,
               r_new - r_old AS delta_cents,
               CAST(((q_new - q_old) * r_old) // q_old AS BIGINT)
                 AS volume_effect,
               CAST(r_new - r_old - ((q_new - q_old) * r_old) // q_old
                 AS BIGINT) AS price_effect
        FROM pn JOIN po ON pn.p_brand = po.p_brand
        ORDER BY pn.p_brand
      """.trim)),

    // Duplicate-event detection (idempotency-violation sweep) — the same
    // logical event recorded twice under different ids within a minute.
    // The fixture INJECTS the violations (every 97th event cloned with a
    // shifted id and +3 s timestamp) so the detector has real positives;
    // candidate generation joins on (user, type, exact value, 60 s time
    // bucket) with the left side exploded into the 3 adjacent buckets —
    // pigeonhole-complete for the 60 s window, candidates bounded by
    // per-bucket multiplicity, never a per-user time cross join. The
    // oracle states the all-pairs theta join.
    Q(
      "q323_duplicate_events",
      (s, dir) => {
        val base = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (col("value").cast("decimal(16,6)") * 1000000).cast("long").as("v"),
            unix_micros(col("ts")).as("ts_us"))
        val clones = base.filter(col("event_id") % 97 === 0)
          .select((col("event_id") + 1000000000L).as("event_id"), col("user_id"),
            col("event_type"), col("v"), (col("ts_us") + 3000000L).as("ts_us"))
        val all = base.unionByName(clones)
          .withColumn("bkt", expr("ts_us div 60000000"))
        val probes = all.select(col("event_id"), col("user_id"),
            col("event_type"), col("v"), col("ts_us"),
            explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
        probes.as("a")
          .join(all.as("b").hint("shuffle_hash"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") === col("b.event_type") &&
              col("a.v") === col("b.v") &&
              col("a.bkt") === col("b.bkt") &&
              col("a.event_id") < col("b.event_id"))
          .filter(abs(col("a.ts_us") - col("b.ts_us")) <= 60000000L)
          .select(col("a.user_id").as("user_id"),
            col("a.event_type").as("event_type"),
            col("a.event_id").as("id_a"), col("b.event_id").as("id_b"),
            abs(col("a.ts_us") - col("b.ts_us")).as("micros_apart"))
          // each (a,b) pair matches exactly once: only one exploded probe
          // row of a carries b's bucket value — no dedup needed
          .orderBy("user_id", "id_a", "id_b")
      },
      Some("""
        WITH base AS (
          SELECT event_id, user_id, event_type,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS v,
                 epoch_us(ts) AS ts_us
          FROM events
        ), all_ev AS (
          SELECT * FROM base
          UNION ALL
          SELECT event_id + 1000000000, user_id, event_type, v,
                 ts_us + 3000000
          FROM base WHERE event_id % 97 = 0
        )
        SELECT a.user_id, a.event_type,
               a.event_id AS id_a, b.event_id AS id_b,
               CAST(abs(a.ts_us - b.ts_us) AS BIGINT) AS micros_apart
        FROM all_ev a JOIN all_ev b
          ON a.user_id = b.user_id AND a.event_type = b.event_type
          AND a.v = b.v AND a.event_id < b.event_id
        WHERE abs(a.ts_us - b.ts_us) <= 60000000
        ORDER BY a.user_id, id_a, id_b
      """.trim)),

    // Item-to-item recommendations with cold-start fallback — the batch
    // serving job of a co-purchase recommender: a BOUNDED model (top-50
    // co-purchase pairs by support, the pruning every production
    // item-item model ships with) broadcasts against each sampled
    // customer's owned parts; owned items are excluded by anti-join,
    // scores sum per candidate, top-3 rank in per-customer windows
    // (bounded by model size), and customers whose owned set touches no
    // model pair fall back to the global bestseller list — rec_source
    // says which path produced each row. Model + fallback are tiny
    // broadcasts; the only data-sized exchanges are the owned-parts
    // aggregate and the per-customer rank.
    Q(
      "q324_reco_fallback",
      (s, dir) => {
        val owned = Tables.orders(s, dir)
          .filter(col("o_custkey") % 20 === 0)
          .select(col("o_custkey"), col("o_orderkey"))
          .join(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey"), col("l_partkey")).distinct()
        val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
        val pairs = li.as("a")
          .join(li.as("b").hint("shuffle_hash"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
          .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("pa"), col("pb"))
          .limit(50)
        val model = pairs.select(col("pa").as("src"), col("pb").as("dst"), col("support"))
          .unionByName(pairs.select(col("pb").as("src"), col("pa").as("dst"), col("support")))
        val cands = owned
          .join(broadcast(model), col("l_partkey") === col("src"))
          .select(col("o_custkey"), col("dst").as("rec_part"), col("support"))
          .join(owned.withColumnRenamed("l_partkey", "rec_part"),
            Seq("o_custkey", "rec_part"), "left_anti")
          .groupBy("o_custkey", "rec_part")
          .agg(sum(col("support")).cast("long").as("score"))
        val byCust = Window.partitionBy("o_custkey")
        val cf = cands
          .withColumn("rank", row_number().over(
            byCust.orderBy(col("score").desc, col("rec_part"))))
          .filter(col("rank") <= 3)
          .select(col("o_custkey"), col("rank").cast("long").as("rank"),
            col("rec_part"), lit("cf").as("rec_source"))
        // global bestseller rank: limit(3) bounds the set (TakeOrdered, no
        // window); the rank within 3 rows is a tiny self-join count so no
        // unpartitioned window appears anywhere in the plan
        val sellers = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("l_partkey")).limit(3)
        val top3 = sellers.as("x")
          .join(sellers.select(col("l_partkey").as("k2"), col("n").as("n2")).as("y"),
            col("y.n2") > col("x.n") ||
              (col("y.n2") === col("x.n") && col("y.k2") < col("x.l_partkey")),
            "left")
          .groupBy(col("x.l_partkey").as("rec_part"))
          .agg((count(col("y.k2")) + 1).cast("long").as("rank"))
        val coldCusts = owned.select("o_custkey").distinct()
          .join(cf.select("o_custkey").distinct(), Seq("o_custkey"), "left_anti")
        val cold = coldCusts.crossJoin(broadcast(top3))
          .select(col("o_custkey"), col("rank"), col("rec_part"),
            lit("fallback").as("rec_source"))
        cf.unionByName(cold).orderBy("o_custkey", "rank")
      },
      Some("""
        WITH owned AS (
          SELECT DISTINCT o_custkey, l_partkey
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_custkey % 20 = 0
        ), pairs AS (
          SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                 CAST(COUNT(*) AS BIGINT) AS support
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 ORDER BY support DESC, pa, pb LIMIT 50
        ), model AS (
          SELECT pa AS src, pb AS dst, support FROM pairs
          UNION ALL
          SELECT pb, pa, support FROM pairs
        ), cands AS (
          SELECT o.o_custkey, m.dst AS rec_part,
                 CAST(SUM(m.support) AS BIGINT) AS score
          FROM owned o JOIN model m ON o.l_partkey = m.src
          WHERE NOT EXISTS (
            SELECT 1 FROM owned ow
            WHERE ow.o_custkey = o.o_custkey AND ow.l_partkey = m.dst)
          GROUP BY 1, 2
        ), cf AS (
          SELECT o_custkey, CAST(rank AS BIGINT) AS rank, rec_part,
                 'cf' AS rec_source
          FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY score DESC, rec_part) AS rank
            FROM cands)
          WHERE rank <= 3
        ), top3 AS (
          SELECT l_partkey AS rec_part,
                 CAST(row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey)
                   AS BIGINT) AS rank
          FROM lineitem GROUP BY l_partkey
          ORDER BY COUNT(*) DESC, l_partkey LIMIT 3
        ), cold AS (
          SELECT o.o_custkey, t.rank, t.rec_part, 'fallback' AS rec_source
          FROM (SELECT DISTINCT o_custkey FROM owned
                WHERE o_custkey NOT IN (SELECT o_custkey FROM cf)) o
          CROSS JOIN top3 t
        )
        SELECT * FROM cf UNION ALL SELECT * FROM cold
        ORDER BY o_custkey, rank
      """.trim)),

    // Bucketed-table AGGREGATION gate — q168 gates the shuffle-free
    // co-bucketed join; this gates the other bucketing payoff: a groupBy
    // on the bucket column of a bucketed+sorted table needs NO exchange
    // (the data already lives hash-clustered by the key). Values are
    // oracle-gated; the plan property itself is asserted in
    // PlanQualitySpec ("bucketed aggregation plans no exchange").
    Q(
      "q325_bucketed_agg_gate",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val li = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), cents(col("l_extendedprice")).as("__c"))
        Sinks.writeBucketedAt(li, "g325_lineitem_b",
          Some(Scratch.dir(s, dir, "bucketed_li_agg")), Seq("l_orderkey"), 8,
          Seq("l_orderkey"))
        s.table("g325_lineitem_b")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("__c")).cast("long").as("order_cents"))
          .orderBy("l_orderkey")
      },
      Some(s"""
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(${duckCents("l_extendedprice")}) AS BIGINT)
                 AS order_cents
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
      """.trim)),

    // Decile lift / gains table — the marketer's model readout: users
    // rank by a score (activity volume), cut into deciles, and each
    // decile reports its response rate plus CUMULATIVE LIFT over the
    // baseline ((cum_responders · total_users · 10000) div (cum_users ·
    // total_responders) — exact integer bp). The decile cut rides the
    // two-phase scalable rank + explicit ntile rule (no global window at
    // any user count); the cumulative pass is a 10-row self-join over the
    // decile aggregate — value-bounded.
    Q(
      "q326_lift_gains",
      (s, dir) => {
        import graft.engine.Keys
        val users = Tables.events(s, dir).groupBy("user_id")
          .agg(count(lit(1)).as("score"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("responder"))
        val ranked = Keys.rankByScalable(users,
          Seq(col("score").desc, col("user_id")), "rk")
        val n = users.agg(count(lit(1)).as("__n"),
          sum(col("responder")).as("__resp"))
        val deciles = ranked.crossJoin(broadcast(n))
          .withColumn("decile",
            Keys.ntileFromRank(col("rk"), col("__n"), 10).cast("long"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_users"),
            sum(col("responder")).cast("long").as("n_responders"),
            max(col("__n")).as("__n"), max(col("__resp")).cast("long").as("__resp"))
        val cum = deciles.as("d")
          .join(deciles.select(col("decile").as("d2"),
            col("n_users").as("nu2"), col("n_responders").as("nr2")).as("e"),
            col("e.d2") <= col("d.decile"))
          .groupBy(col("d.decile").as("decile"), col("d.n_users").as("n_users"),
            col("d.n_responders").as("n_responders"),
            col("d.__n").as("__n"), col("d.__resp").as("__resp"))
          .agg(sum(col("e.nu2")).cast("long").as("cum_users"),
            sum(col("e.nr2")).cast("long").as("cum_responders"))
        cum.select(col("decile"), col("n_users"), col("n_responders"),
            expr("(n_responders * 10000) div n_users").as("response_rate_bp"),
            expr("(cum_responders * __n * 10000) div (cum_users * __resp)")
              .as("cum_lift_bp"))
          .orderBy("decile")
      },
      Some("""
        WITH users AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS score,
                 CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS BIGINT) AS responder
          FROM events GROUP BY user_id
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(responder) AS BIGINT) AS resp
          FROM users
        ), deciles AS (
          SELECT CAST(ntile(10) OVER (ORDER BY score DESC, user_id) AS BIGINT)
                   AS decile,
                 responder
          FROM users
        ), agg AS (
          SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(responder) AS BIGINT) AS n_responders
          FROM deciles GROUP BY decile
        ), cum AS (
          SELECT a.decile, a.n_users, a.n_responders,
                 CAST(SUM(b.n_users) AS BIGINT) AS cum_users,
                 CAST(SUM(b.n_responders) AS BIGINT) AS cum_responders
          FROM agg a JOIN agg b ON b.decile <= a.decile
          GROUP BY 1, 2, 3
        )
        SELECT decile, n_users, n_responders,
               CAST((n_responders * 10000) // n_users AS BIGINT)
                 AS response_rate_bp,
               CAST((cum_responders * n * 10000) // (cum_users * resp)
                 AS BIGINT) AS cum_lift_bp
        FROM cum, tot ORDER BY decile
      """.trim)),

    // Linear multi-touch attribution with remainder-exact credit: each
    // purchase's value (exact micros) splits EQUALLY across every view in
    // the 30 minutes before it, the leftover micros going to the earliest
    // touches — so per-purchase credits always sum exactly to the
    // purchase value (q295's largest-remainder discipline applied to
    // attribution; float splits leak budget). The touch join is per-user
    // equi + time-range (bounded by the window), the credit rank a
    // per-purchase window over those bounded touches.
    Q(
      "q327_linear_attribution",
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
        val touches = purchases
          .join(views.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("vts") < col("pts") &&
            col("vts") >= col("pts") - 1800000000L)
        val byP = Window.partitionBy("purchase_id")
        touches
          .withColumn("n_touch", count(lit(1)).over(byP))
          .withColumn("base", expr("credit div n_touch"))
          .withColumn("r", row_number().over(
            byP.orderBy(col("vts"), col("view_id"))))
          .withColumn("credit_micros",
            (col("base") + when(col("r") <= col("credit") % col("n_touch"), 1L)
              .otherwise(0L)).cast("long"))
          .withColumn("exact_total",
            when(sum(col("credit_micros")).over(byP) === col("credit"), 1L)
              .otherwise(0L))
          .select(col("purchase_id"), col("view_id"), col("credit_micros"),
            col("exact_total"))
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
                 CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT)
                   AS n_touch,
                 row_number() OVER (PARTITION BY purchase_id
                   ORDER BY vts, view_id) AS r
          FROM p JOIN v ON p.user_id = v.user_id
          WHERE vts < pts AND vts >= pts - 1800000000
        )
        SELECT purchase_id, view_id,
               CAST(credit // n_touch
                 + CASE WHEN r <= credit % n_touch THEN 1 ELSE 0 END
                 AS BIGINT) AS credit_micros,
               CAST(CASE WHEN SUM(credit // n_touch
                   + CASE WHEN r <= credit % n_touch THEN 1 ELSE 0 END)
                   OVER (PARTITION BY purchase_id) = credit
                 THEN 1 ELSE 0 END AS BIGINT) AS exact_total
        FROM touches ORDER BY purchase_id, view_id
      """.trim)),

    // Nested-schema pruning gate — at 100 TB the difference between
    // reading `meta.lang` and reading the whole `meta` struct (with the
    // text-sized payload inside it) is the job's IO bill. The fixture
    // writes documents as a nested struct carrying the full text INSIDE
    // the struct, then aggregates by one leaf field only; Catalyst's
    // nested-schema pruning must push the single-leaf ReadSchema into the
    // parquet scan (plan-pinned in PlanQualitySpec), and the values gate
    // proves the pruned read still computes the right answer.
    Q(
      "q328_nested_pruning",
      (s, dir) => {
        import graft.engine.Scratch
        val path = Scratch.dir(s, dir, "nested_docs")
        Tables.documents(s, dir)
          .select(col("doc_id"),
            struct(col("lang"), col("source"), col("text"),
              col("n_chars")).as("meta"))
          .write.mode("overwrite").parquet(path)
        Sources.parquet(s, path)
          .groupBy(col("meta.lang").as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("meta.n_chars")).cast("long").as("total_chars"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang ORDER BY lang
      """.trim)),

    // Same-store sales — the retail like-for-like growth discipline:
    // year-over-year revenue compared ONLY across customers active in
    // BOTH periods, so the growth number isn't polluted by
    // acquisition/churn mix (the error plain MoM growth makes). The
    // comparable cohort is one semi-join each way; growth lands in exact
    // integer basis points. One output row per nation plus the cohort
    // size that qualifies it.
    Q(
      "q329_same_store",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
            cents(col("o_totalprice")).as("c"))
        def active(yr: Int) = o.filter(col("yr") === yr)
          .select("o_custkey").distinct()
        val comparable = active(1996).join(active(1995), Seq("o_custkey"), "left_semi")
        val nat = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey"))
        def rev(yr: Int, name: String) = o.filter(col("yr") === yr)
          .join(comparable.hint("shuffle_hash"), Seq("o_custkey"), "left_semi")
          .join(nat, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(sum(col("c")).cast("long").as(name))
        rev(1995, "rev_1995")
          .join(rev(1996, "rev_1996"), "c_nationkey")
          .join(comparable.join(nat, col("o_custkey") === col("c_custkey"))
            .groupBy("c_nationkey").agg(count(lit(1)).as("n_comparable")),
            "c_nationkey")
          .select(col("c_nationkey"), col("n_comparable"),
            col("rev_1995"), col("rev_1996"),
            expr("((rev_1996 - rev_1995) * 10000) div rev_1995")
              .as("growth_bp"))
          .orderBy("c_nationkey")
      },
      Some(s"""
        WITH o AS (
          SELECT o_custkey, year(o_orderdate) AS yr,
                 ${duckCents("o_totalprice")} AS c
          FROM orders
        ), comparable AS (
          SELECT DISTINCT o_custkey FROM o WHERE yr = 1996
          AND o_custkey IN (SELECT o_custkey FROM o WHERE yr = 1995)
        ), r95 AS (
          SELECT c_nationkey, CAST(SUM(c) AS BIGINT) AS rev_1995
          FROM o JOIN customer ON o_custkey = c_custkey
          WHERE yr = 1995 AND o_custkey IN (SELECT o_custkey FROM comparable)
          GROUP BY 1
        ), r96 AS (
          SELECT c_nationkey, CAST(SUM(c) AS BIGINT) AS rev_1996
          FROM o JOIN customer ON o_custkey = c_custkey
          WHERE yr = 1996 AND o_custkey IN (SELECT o_custkey FROM comparable)
          GROUP BY 1
        ), nc AS (
          SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_comparable
          FROM comparable JOIN customer ON o_custkey = c_custkey
          GROUP BY 1
        )
        SELECT r95.c_nationkey, n_comparable, rev_1995, rev_1996,
               CAST(((rev_1996 - rev_1995) * 10000) // rev_1995 AS BIGINT)
                 AS growth_bp
        FROM r95
        JOIN r96 ON r95.c_nationkey = r96.c_nationkey
        JOIN nc ON r95.c_nationkey = nc.c_nationkey
        ORDER BY r95.c_nationkey
      """.trim)),

    // Dynamic partition pruning gate — the runtime half of partition
    // pruning (q32 gates the static half): the fact is partitioned by
    // priority, and which partitions survive is only knowable AFTER the
    // dimension's filter runs, so Catalyst must inject the dim's filter
    // result into the fact scan as a runtime partition filter
    // (DynamicPruningExpression — plan-pinned in PlanQualitySpec). Both
    // sides land on disk first so neither filter can constant-fold at
    // plan time; the value gate proves only the dimension-selected
    // partitions contribute.
    Q(
      "q330_dpp_gate",
      (s, dir) => {
        import graft.engine.{Scratch, Sinks}
        val factPath = Scratch.dir(s, dir, "dpp_fact")
        val dimPath = Scratch.dir(s, dir, "dpp_dim")
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"),
            cents(col("o_totalprice")).as("amount_cents"))
        Sinks.writePartitioned(o, factPath, Seq("o_orderpriority"))
        Tables.orders(s, dir).select(col("o_orderpriority")).distinct()
          .withColumn("urgency",
            when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
              .otherwise("normal"))
          .write.mode("overwrite").parquet(dimPath)
        val fact = Sources.parquet(s, factPath)
        val dim = Sources.parquet(s, dimPath).filter(col("urgency") === "high")
        fact.join(broadcast(dim), Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("amount_cents")).cast("long").as("total_cents"))
          .orderBy("o_orderpriority")
      },
      Some(s"""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(${duckCents("o_totalprice")}) AS BIGINT) AS total_cents
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Audience overlap matrix — "how much do the people who VIEW overlap
    // the people who PURCHASE": pairwise Jaccard between event-type
    // audiences from one distinct (user, type) presence set self-joined
    // on the user (types-per-user bounded, never users²), with
    // per-type audience sizes attached and the Jaccard in exact integer
    // bp via inter/(na + nb − inter).
    Q(
      "q331_audience_overlap",
      (s, dir) => {
        val presence = Tables.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = presence.groupBy("event_type").agg(count(lit(1)).as("n"))
        val inter = presence.as("a")
          .join(presence.as("b").hint("shuffle_hash"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.select(col("event_type").as("type_a"),
            col("n").as("na"))), "type_a")
          .join(broadcast(sizes.select(col("event_type").as("type_b"),
            col("n").as("nb"))), "type_b")
          .select(col("type_a"), col("type_b"), col("na"), col("nb"),
            col("inter"),
            expr("(inter * 10000) div (na + nb - inter)").as("jaccard_bp"))
          .orderBy("type_a", "type_b")
      },
      Some("""
        WITH presence AS (
          SELECT DISTINCT user_id, event_type FROM events
        ), sizes AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM presence GROUP BY 1
        ), inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM presence a JOIN presence b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        )
        SELECT type_a, type_b, sa.n AS na, sb.n AS nb, inter,
               CAST((inter * 10000) // (sa.n + sb.n - inter) AS BIGINT)
                 AS jaccard_bp
        FROM inter
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b
        ORDER BY type_a, type_b
      """.trim)),

    // SQL-defined scalar function (Spark 4's CREATE FUNCTION ... RETURN):
    // business logic shared as a CATALOG object instead of a Scala
    // lambda — unlike a JVM UDF the body is a SQL expression, so Catalyst
    // inlines it and the call sites stay inside codegen (no serialization
    // wall). The gate defines a price-banding function, applies it over
    // orders, and the oracle restates the inlined expression — proving
    // the function surface and its semantics in one pass.
    Q(
      "q332_sql_udf",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g332_orders")
        s.sql("""
          CREATE OR REPLACE TEMPORARY FUNCTION g332_band(x DOUBLE)
          RETURNS STRING
          RETURN CASE WHEN x < 50000 THEN 'small'
                      WHEN x < 200000 THEN 'medium'
                      ELSE 'large' END""")
        s.sql("""
          SELECT g332_band(o_totalprice) AS band,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS total_cents
          FROM g332_orders GROUP BY 1 ORDER BY band""")
      },
      Some("""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 200000 THEN 'medium'
                    ELSE 'large' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                 AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders GROUP BY 1 ORDER BY band
      """.trim)),

    // Parameterized SQL (named parameter markers) — the injection-safe
    // templating surface: the query text carries :status / :min_cents
    // placeholders and the VALUES bind at execution, so the same plan
    // template serves any parameter set and string concatenation never
    // touches the SQL. The oracle states the query with the parameters
    // inlined — same semantics, different binding path.
    Q(
      "q333_param_sql",
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("g333_orders")
        s.sql(
          """SELECT o_orderstatus,
                    CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(MIN(o_orderkey) AS BIGINT) AS first_key
             FROM g333_orders
             WHERE o_orderstatus = :status
               AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 >= :min_cents
             GROUP BY o_orderstatus""",
          Map("status" -> "F", "min_cents" -> 10000000L))
      },
      Some("""
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(o_orderkey) AS BIGINT) AS first_key
        FROM orders
        WHERE o_orderstatus = 'F'
          AND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            >= 10000000
        GROUP BY o_orderstatus
      """.trim)),

    // Cross-device identity stitching — the CDP entity-resolution step:
    // users sharing a device belong to one identity, and shared devices
    // CHAIN (a user on two devices merges both groups), so the identity
    // is the connected component of the user-device bipartite graph —
    // NearDup's iterative min-label CC machinery (hash-partitioned edge
    // persist, label-sum convergence, localCheckpoint lineage
    // truncation) applied to an identity graph instead of a near-dup
    // graph. The deterministic fixture gives every 3 users a device and
    // every 10th user a second, adjacent device, so single-device
    // (size 3) and bridged (size 6) identities both exist. The oracle
    // computes the same components via a recursive reachability CTE.
    Q(
      "q334_identity_stitch",
      (s, dir) => {
        import graft.ext.NearDup
        val users = Tables.events(s, dir).select(col("user_id")).distinct()
        val dev = users.select(col("user_id"),
          (lit(1000000L) + expr("user_id div 3")).as("node_b"))
        val dev2 = users.filter(col("user_id") % 10 === 0)
          .select(col("user_id"),
            (lit(1000000L) + expr("user_id div 3") + 1L).as("node_b"))
        val edges = dev.unionByName(dev2)
        val cc = NearDup.connectedComponents(edges, "user_id", "node_b")
        val userCc = cc.filter(col("id") < 1000000L)
        val sizes = userCc.groupBy("cluster_id")
          .agg(count(lit(1)).as("identity_size"),
            min(col("id")).as("identity_id"))
        userCc.join(sizes.hint("shuffle_hash"), "cluster_id")
          .select(col("id").as("user_id"), col("identity_id"),
            col("identity_size"))
          .orderBy("user_id")
      },
      Some("""
        WITH RECURSIVE users AS (
          SELECT DISTINCT user_id FROM events
        ), edges AS (
          SELECT user_id AS a, 1000000 + user_id // 3 AS b FROM users
          UNION ALL
          SELECT user_id, 1000000 + user_id // 3 + 1 FROM users
          WHERE user_id % 10 = 0
        ), undirected AS (
          SELECT a, b FROM edges UNION SELECT b, a FROM edges
        ), reach AS (
          SELECT a AS id, a AS r FROM undirected
          UNION
          SELECT u.a, reach.r FROM undirected u JOIN reach ON u.b = reach.id
        ), comp AS (
          SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        ), user_cc AS (
          SELECT id, cluster_id FROM comp WHERE id < 1000000
        ), sizes AS (
          SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS identity_size,
                 CAST(MIN(id) AS BIGINT) AS identity_id
          FROM user_cc GROUP BY cluster_id
        )
        SELECT CAST(id AS BIGINT) AS user_id, identity_id, identity_size
        FROM user_cc JOIN sizes ON user_cc.cluster_id = sizes.cluster_id
        ORDER BY user_id
      """.trim)),

    // Negation funnel — conversion paths where something did NOT happen:
    // purchases attributed to a view in the prior 30 minutes, split by
    // whether any click intervened between that view and the purchase
    // ("assisted") or none did ("direct"). Sequential-pattern negation
    // is the funnel variant plain joins get wrong; here the attributed
    // view comes from a per-purchase bounded window rank and the
    // negation is one more bounded range join probed as an existence
    // flag — no correlated subquery per row.
    Q(
      "q335_negation_funnel",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        def typed(t: String, idName: String, tsName: String) =
          ev.filter(col("event_type") === t)
            .select(col("user_id"), col("event_id").as(idName),
              unix_micros(col("ts")).as(tsName))
        val purchases = typed("purchase", "purchase_id", "pts")
        val views = typed("view", "view_id", "vts")
        val clicks = typed("click", "click_id", "cts")
        val byP = Window.partitionBy("purchase_id")
        val attributed = purchases
          .join(views.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("vts") < col("pts") &&
            col("vts") >= col("pts") - 1800000000L)
          .withColumn("r", row_number().over(
            byP.orderBy(col("vts").desc, col("view_id").desc)))
          .filter(col("r") === 1)
          .select(col("user_id"), col("purchase_id"), col("pts"),
            col("view_id"), col("vts"))
        val assisted = attributed
          .join(clicks.hint("shuffle_hash"), Seq("user_id"))
          .filter(col("cts") > col("vts") && col("cts") < col("pts"))
          .select(col("purchase_id")).distinct()
          .withColumn("assisted", lit(1L))
        attributed.join(assisted, Seq("purchase_id"), "left")
          .select(col("purchase_id"), col("view_id"),
            when(col("assisted").isNull, "direct").otherwise("assisted")
              .as("path_type"))
          .orderBy("purchase_id")
      },
      Some("""
        WITH p AS (
          SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
          FROM events WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'
        ), c AS (
          SELECT user_id, epoch_us(ts) AS cts
          FROM events WHERE event_type = 'click'
        ), attributed AS (
          SELECT p.user_id, purchase_id, pts, view_id, vts
          FROM p JOIN v ON p.user_id = v.user_id
          WHERE vts < pts AND vts >= pts - 1800000000
          QUALIFY row_number() OVER (PARTITION BY purchase_id
            ORDER BY vts DESC, view_id DESC) = 1
        ), assisted AS (
          SELECT DISTINCT purchase_id
          FROM attributed a JOIN c ON a.user_id = c.user_id
          WHERE cts > vts AND cts < pts
        )
        SELECT a.purchase_id, view_id,
               CASE WHEN s.purchase_id IS NULL THEN 'direct'
                    ELSE 'assisted' END AS path_type
        FROM attributed a LEFT JOIN assisted s
          ON a.purchase_id = s.purchase_id
        ORDER BY a.purchase_id
      """.trim))
  )
}
