package graft.engine

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.Tables

/** Physical-plan assertions: the scale contract is that filters reach the
  * scan, projections prune the read schema, partition filters prune
  * directories, and co-bucketed joins skip the shuffle. These specs pin the
  * plans so a regression (a cast blocking pushdown, a lost bucket spec)
  * fails loudly instead of silently costing IO at scale.
  */
class PlanQualitySpec extends SparkSpec {

  private def formattedPlan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  private object PlanWalk
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every window operator in `df`'s physical plan: the AQE final plan
    * once executed (else the initial one), subqueries, and the plans of
    * cached relations it scans. A physical plan prints the node as
    * `Window`, so a search of the plan string for the class name
    * `WindowExec` can never fail.
    */
  private def windowOps(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = PlanWalk.collectWithSubqueries(p) {
      case w: org.apache.spark.sql.execution.window.WindowExecBase => Seq(w)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        walk(c.relation.cachedPlan)
    }.flatten
    walk(df.queryExecution.executedPlan)
  }

  test("windowOps finds a window before and after AQE, and inside a cache") {
    import org.apache.spark.sql.expressions.Window
    val ranked = spark.range(20).toDF("k")
      .withColumn("r", row_number().over(Window.partitionBy(col("k") % 3).orderBy("k")))
    assert(windowOps(ranked).size == 1, "the initial adaptive plan holds the window")
    ranked.collect()
    assert(windowOps(ranked).size == 1, "the final adaptive plan holds the window")
    val cached = ranked.cache()
    try {
      cached.count()
      val over = cached.filter(col("r") === 1)
      assert(windowOps(over).size == 1, "a cached relation's plan is searched")
    } finally cached.unpersist(): Unit
    assert(windowOps(spark.range(20).toDF("k").groupBy(col("k") % 3).count()).isEmpty)
  }

  test("filter pushdown: shipdate predicate reaches the parquet scan") {
    val df = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") <= lit("1995-01-01").cast("timestamp"))
      .select("l_orderkey", "l_quantity")
    val plan = formattedPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown in:\n$plan")
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    val df = Tables.orders(spark, sf0001).select("o_custkey", "o_orderstatus").distinct()
    val plan = formattedPlan(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_custkey") && readSchema.contains("o_orderstatus"))
    assert(!readSchema.contains("o_totalprice") && !readSchema.contains("o_comment"),
      s"scan reads more than projected:\n$readSchema")
  }

  test("partition pruning: partition-column filter becomes PartitionFilters") {
    val path = "/tmp/graft_scratch/spec_part_orders"
    Sinks.writePartitioned(
      Tables.orders(spark, sf0001).select("o_orderkey", "o_orderstatus", "o_totalprice"),
      path, Seq("o_orderstatus"))
    val df = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
    val plan = formattedPlan(df)
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderstatus") && (pf.contains("= F") || pf.contains("EqualTo")),
      s"expected partition filter in:\n$plan")
    // and the pruned count matches a plain filter
    assert(df.count() ===
      Tables.orders(spark, sf0001).filter(col("o_orderstatus") === "F").count())
  }

  test("co-bucketed join runs without a shuffle exchange") {
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Sinks.writeBucketed(Tables.orders(spark, sf0001)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
        "spec_orders_b", Seq("o_orderkey"), numBuckets = 4, sortCols = Seq("o_orderkey"))
      Sinks.writeBucketed(Tables.lineitem(spark, sf0001)
        .select("l_orderkey", "l_quantity"),
        "spec_lineitem_b", Seq("l_orderkey"), numBuckets = 4, sortCols = Seq("l_orderkey"))
      val joined = spark.table("spec_orders_b")
        .join(spark.table("spec_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange hashpartitioning"),
        s"co-bucketed join should not shuffle:\n$physical")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS spec_orders_b")
      spark.sql("DROP TABLE IF EXISTS spec_lineitem_b")
    }
  }

  test("star-fact plan broadcasts only bounded dims (scale-safe hints)") {
    val df = StarJoin.assembleStarFact(
      Tables.lineitem(spark, sf0001), Tables.orders(spark, sf0001),
      Tables.customer(spark, sf0001), Tables.nation(spark, sf0001),
      Tables.region(spark, sf0001), Tables.part(spark, sf0001),
      Tables.supplier(spark, sf0001))
    val optimized = df.queryExecution.optimizedPlan.toString
    // explicit hints (ResolvedHint survives into the optimized plan as
    // broadcast join markers) must not name the linear-scaling dims
    val analyzed = df.queryExecution.analyzed.toString
    val hintLines = analyzed.linesIterator.filter(_.contains("UnresolvedHint")).toSeq
    assert(hintLines.isEmpty || !optimized.contains("broadcast(customer)"))
    assert(df.columns.contains("fact_id"))
  }

  test("as-of join plans one key shuffle and no join operator at all") {
    val ev = Tables.events(spark, sf0001)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id", "value")
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("value").as("pv"), col("event_id").as("pid"))
    val df = AsOfJoin.asofBackward(clicks, buys, "user_id", "ts", "ts",
      "event_id", Seq("pv", "pid"))
    val physical = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(physical).size
    assert(shuffles === 1, s"as-of should shuffle exactly once on the key:\n$physical")
    assert(!physical.contains("Join"),
      s"union+window as-of must not materialize a join:\n$physical")
  }

  test("minhash near-dup plan reuses the shingle exchange (single evaluation)") {
    // The shingle frame feeds the signature aggregate plus BOTH verify
    // joins; without the exchange-reuse point it re-executes per consumer
    // (3x, once the dominant bench cost). Reuse materializes at RUNTIME
    // under AQE (reused shuffle stages in the final adaptive plan), so the
    // plan is inspected after an action. The subtrees only canonicalize
    // identically because withShingles carries its null/size filters
    // inside the shared frame — this spec pins that.
    val df = graft.ext.NearDup.minHashNearDupPairs(
      graft.Tables.documents(spark, sf0001), "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.8)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"expected a reused shingle exchange/stage in the final adaptive plan:\n$finalPlan")
  }

  test("an SCD2 merge write plans one classify exchange, reused by both its consumers") {
    // The classify pass feeds the current rows and the keyed fresh rows;
    // under its plan barrier both consumers keep the whole pass, so the
    // final adaptive plan shuffles it once and reuses that exchange.
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("spec_scd2").resolve("dim").toString
    Scd2.bootstrap((1L to 40L).map(k => (k, s"n$k", s"t${k % 3}")).toDF("id", "name", "tier"),
      "id", "sk", "2021-01-01 00:00:00").write.parquet(path)
    val incoming = (6L to 45L).map(k => (k, s"n$k", if (k <= 15) "changed" else s"t${k % 3}"))
      .toDF("id", "name", "tier")
    for (merge <- Seq(Scd2.merge _, Scd2.mergeFullSnapshot _)) {
      val out = merge(Sources.parquet(spark, path), incoming, "id", Seq("name", "tier"), "sk",
        "2022-01-01 00:00:00", "2099-12-31 00:00:00", Keys.surrogateKeysScalable(_, _, _, _))
      out.collect()
      val plan = out.queryExecution.executedPlan
      val shuffles = PlanWalk.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
      val reused = PlanWalk.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }
      assert(shuffles.size == 1 && reused.size == 1,
        s"expected one classify exchange and one reuse of it:\n$plan")
    }
  }

  test("bitmap rollup reuses the daily-bitmap exchange across both consumers") {
    // q123's per-(type, day, bucket) bitmap frame feeds the per-day distinct
    // branch AND the bitmap_or_agg merge branch; the subtrees canonicalize
    // identically up through the first shuffle, so AQE must materialize the
    // events scan + partial bitmap agg ONCE (reused stage), not per branch —
    // at 100 TB that exchange is a full fact-table scan.
    val df = graft.queries.Registry.queries("q123_bitmap_distinct")(spark, sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"expected a reused daily-bitmap exchange/stage in the final adaptive plan:\n$finalPlan")
  }

  test("feature-hashing pivot plans ONE aggregate pass, no per-bucket scans") {
    // The explicit-value pivot must compile to a single hash aggregate over
    // the exploded tokens (16 conditional counts), not 16 scans or a
    // data-dependent distinct pass for the pivot values.
    val df = graft.queries.Registry.queries("q124_feature_hashing")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size <= 1,
      s"pivot should not rescan per bucket:\n$plan")
  }

  test("table checksum is one partial-aggregated pass over the scan") {
    // 32 buckets x 3 signatures: the partial aggregate must sit directly on
    // the scan (map-side combine), with ONE exchange of 32 rows — the shape
    // that makes the 100 TB anti-entropy check IO-bound, not shuffle-bound.
    val df = graft.queries.Registry.queries("q126_table_checksum")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"checksum should shuffle exactly the 32 partial buckets:\n$plan")
    assert(!plan.contains("Window"), s"no window pass expected:\n$plan")
  }

  test("ordered-aggregate argmax plans a hash aggregate, not a window") {
    // max_by/min_by exist precisely to avoid shuffle+sort+rank; the plan
    // must contain no Window/Sort before the aggregate.
    val df = graft.queries.Registry.queries("q129_agg_surface")(spark, sf0001)
    val plan = formattedPlan(df)
    assert(!plan.contains("Window"), s"argmax must not plan a window:\n$plan")
  }

  test("null-ordering limit plans TakeOrderedAndProject, not a global sort") {
    val df = graft.queries.Registry.queries("q130_nulls_order_topk")(spark, sf0001)
    val plan = formattedPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT should plan the per-partition heap:\n$plan")
  }

  test("max-sim retrieval broadcasts only the probe sub-vectors") {
    // The non-equi pair join must build on the (bounded) probe side — a
    // BroadcastNestedLoopJoin whose build is the sub-vector probe frame —
    // while the corpus side streams; ranking goes through TopKPerKeyExec.
    val e = graft.Tables.embeddings(spark, sf0001)
    val df = graft.ext.Similarity.maxSimTopK(
      e.filter(col("vec_id") % 100 === 0).limit(50), e, "vec_id", "embedding",
      subs = 4, subDim = 16, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"),
      s"probe side must be the broadcast build:\n$plan")
    assert(plan.contains("TopKPerKey"), s"expected heap top-k ranking:\n$plan")
  }

  test("matryoshka stage 2 joins the shortlist back — exactly one corpus-wide pair join") {
    // Stage 1 is the only all-pairs (probe x corpus) join; the full-dim
    // re-rank must reach the store through equi joins on shortlist ids, so
    // exactly ONE nested-loop join may appear in the whole plan.
    val e = graft.Tables.embeddings(spark, sf0001)
    val df = graft.ext.Similarity.matryoshkaTopK(
      e.filter(col("vec_id") % 20 === 0).limit(50), e, "vec_id", "embedding",
      prefixDim = 16, shortlist = 20, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1,
      s"expected exactly one corpus-wide pair join (stage 1):\n$plan")
  }

  test("broadcastDimJoin plans a broadcast hash join on the hinted dim") {
    // J10's explicit form: the hint must survive to a BroadcastHashJoin with
    // the dim as the build side (bounded dims only — the q10 star path
    // hints nation/region and lets AQE decide the linear-scaling dims).
    val df = StarJoin.broadcastDimJoin(
      Tables.customer(spark, sf0001),
      Tables.nation(spark, sf0001),
      col("c_nationkey") === col("n_nationkey"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the hinted dim to broadcast:\n$plan")
  }

  test("ORC scan pushes filters and prunes columns like parquet") {
    // The migration-path format must keep the same IO discipline: predicate
    // into PushedFilters, projection into the read schema.
    val scratch = "/tmp/graft_scratch/plan_orc_pushdown"
    Sinks.writeOrc(Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_orderstatus", "o_totalprice"), scratch)
    val df = spark.read.orc(scratch)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey")
    val plan = formattedPlan(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"expected the status predicate pushed to the ORC scan:\n$plan")
    assert(!plan.contains("o_totalprice"),
      s"expected o_totalprice pruned from the ORC read schema:\n$plan")
  }

  test("runtime bloom-filter pruning injects might_contain on the big probe side") {
    // At 100 TB the win is pruning fact-scan output BEFORE the shuffle when
    // the dim side carries a selective filter. Spark's InjectRuntimeFilter
    // does exactly that (bloom built on the filtered creation side, probed
    // below the fact-side exchange) — but only for shuffle joins past size
    // thresholds tuned for clusters. Pin that the engine's plans remain
    // eligible by dropping the thresholds and asserting the filter appears.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Tables.orders(spark, sf0001)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_orderdate")
      val fact = Tables.lineitem(spark, sf0001)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val plan = formattedPlan(joined).toLowerCase
      assert(plan.contains("might_contain") || plan.contains("bloomfilter"),
        s"expected an injected runtime bloom filter in:\n${formattedPlan(joined)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("exact-Jaccard plan reuses the shingle exchange across its consumers") {
    // exactJaccardPairs consumes the shingle frame 3x: the prefix-posting
    // generator and both verify-side lookups. Same reuse condition as the
    // minhash spec: identical predicate sets inside withShingles =>
    // identical canonical subtrees => AQE reuses the repartition stage
    // instead of re-running tokenize+shingle per consumer.
    val df = graft.ext.NearDup.exactJaccardPairs(
      graft.Tables.documents(spark, sf0001), "doc_id", "text",
      n = 3, threshold = 0.8)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"expected a reused shingle exchange/stage in the final adaptive plan:\n$finalPlan")
  }

  test("simhash pair plan reuses the signature exchange across its four consumers") {
    // The 60-vote aggregate is the expensive stage; the repartition above it
    // in simHashNearDupPairs is the shared materialization point for the
    // banding, bucket-count, and both verify-join consumers.
    val df = graft.ext.NearDup.simHashNearDupPairs(
      graft.Tables.documents(spark, sf0001), "doc_id", "text",
      bands = 4, maxHamming = 6, maxBucket = 64)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
      s"expected a reused signature exchange/stage in the final adaptive plan:\n$finalPlan")
  }

  test("globalRunningSum plans no window at all (no single-task funnel)") {
    val df = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_custkey").as("v"))
    val out = Keys.globalRunningSum(df, "o_orderkey", "v", "cum", partitions = 4)
    out.collect()
    // the RDD shuffle-reuse form has NO WindowExec anywhere — the running
    // sum is per-partition imperative over one materialized range shuffle
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"unexpected window in:\n$plan")
  }

  test("z-score scoring joins the tiny stats side by broadcast") {
    val q = graft.SparkEntry.queries("q78_zscore_anomalies")
    val df = q(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast stats join in:\n$plan")
  }

  test("KMV sketch plans through the heap TopKPerKey operator") {
    val df = graft.SparkEntry.queries("q81_kmv_distinct")(spark, sf0001)
    val plan = df.queryExecution.optimizedPlan.toString +
      df.queryExecution.sparkPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKeyExec in:\n$plan")
  }

  test("micro-range rolling windows ride ONE user_id exchange") {
    // Both RANGE frames (trailing + leading) and their sort must share a
    // single hash exchange on user_id — a second exchange would re-shuffle
    // the fact per frame.
    val df = graft.SparkEntry.queries("q206_rolling_window")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      s"expected exactly one user_id exchange in:\n$plan")
  }

  test("priority sampling plans the global top-k as TakeOrderedAndProject") {
    // orderBy(key).limit(k) must become the streaming per-partition top-k
    // (TakeOrderedAndProject), never a materialized global sort — the
    // difference between O(k) and O(corpus) driver/exchange volume.
    val df = graft.SparkEntry.queries("q208_priority_sample")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("quality-weighted resampling is one scan + aggregates, no join") {
    // Membership is decided per-row from the hash and quality columns, so
    // the whole op must stay scan + aggregate: any Join (or second scan of
    // documents) means the sampling decision left the map side.
    val df = graft.SparkEntry.queries("q203_weighted_resample")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"expected a single documents scan in:\n$plan")
  }

  test("LATERAL top-n decorrelates to a partitioned rank, no nested loop") {
    // The LIMIT-bearing correlated subquery must not execute per outer row:
    // no nested-loop/cartesian operator, and a rank window partitioned by
    // the correlation key must appear instead.
    val df = graft.SparkEntry.queries("q211_lateral_topn")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"LATERAL fell back to a nested loop:\n$plan")
    // decorrelation produces a per-key rank, which the injected
    // TopKRankRewrite rule further lowers onto the bounded-memory heap
    // operator — LATERAL sugar ends on the same physical plan as
    // TopKPerKey.of
    assert(plan.contains("TopKPerKey") || plan.contains("row_number"),
      s"expected a decorrelated rank/heap top-k in:\n$plan")
  }

  test("registry sweep: no unpartitioned Window in any registered query's plan") {
    // The single-task-funnel audit, mechanized: every registered query's
    // optimized logical plan must be free of Window nodes with an empty
    // partitionSpec — those become one-task WindowExec sorts whose frame
    // grows with the data. The scale-safe substitutes (Keys.rankByScalable,
    // globalRunningSumBy, globalPrefixMaxBy) leave no Window node at all.
    // Whitelist: frames PROVABLY bounded by a value space, not the corpus —
    // q10's discount/tax decode dim is ~100 distinct (disc, tax) pairs at
    // any scale factor (StarJoin.scala:71).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    // q10: ~100 distinct (disc, tax) decode pairs at any scale factor
    // (StarJoin.scala:71). q301/q363: the business-day index runs over the
    // date spine — ~2.5k calendar rows regardless of data scale.
    val bounded = Set("q10_star_fact", "q301_business_days", "q363_sla_breach")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, mk) =>
        val wins = mk(spark, sf0001).queryExecution.optimizedPlan.collect {
          case w: LogicalWindow if w.partitionSpec.isEmpty => w
        }
        if (wins.nonEmpty && !bounded(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows in: ${offenders.mkString(", ")}")
  }

  test("PQ-ADC retrieval broadcasts only the bounded tables and keeps the heap top-k") {
    // The base-vector side (doc-linear) must stream through lookups against
    // broadcast distance tables/codebooks; the final per-probe top-k is the
    // heap operator, not a window sort.
    val df = graft.SparkEntry.queries("q183_pq_adc_retrieval")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKeyExec in:\n$plan")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(nBroadcast >= 2,
      s"expected the two distance tables to join by broadcast, got $nBroadcast in:\n$plan")
  }

  test("boilerplate removal reuses the block-fingerprint exchange") {
    // The paras frame feeds both the doc-frequency aggregate and the join
    // probe on the SAME chunk_fp key — the expensive tokenize+hash stage
    // must materialize once and be reused, not recomputed per consumer.
    val df = graft.SparkEntry.queries("q184_boilerplate_removal")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected a reused chunk exchange/stage in:\n$plan")
  }

  test("TWAP shuffles once: the lead window and the aggregate share the user key") {
    val df = graft.SparkEntry.queries("q186_twap")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).size
    val userShuffles = "hashpartitioning\\(user_id".r.findAllIn(plan).size
    assert(userShuffles >= 1 && shuffles <= userShuffles + 1, // +1 for the final orderBy range exchange
      s"expected one user_id hash shuffle (+ the output sort), got:\n$plan")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // The 100 TB skew story: one hot key dominating a shuffle partition is
    // re-planned by AQE into parallel sub-splits (skew=true on the SMJ),
    // instead of one straggler task. Thresholds are lowered to make the
    // spec-sized hot key (90% of rows on key 0) trip the same machinery a
    // hot customer/session would at scale.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      val left = spark.range(0, 100000).toDF("id")
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("payload"))
      val right = spark.range(0, 200).toDF("k")
      val joined = left.join(right, Seq("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed join (skew=true) in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed range join plans a hash join, never a nested loop") {
    val pts = Tables.customer(spark, sf0001)
      .select(col("c_custkey"), col("c_acctbal").cast("double").as("bal"))
    val ivs = Tables.supplier(spark, sf0001).select(col("s_suppkey"),
      (col("s_acctbal").cast("double") - 25.0).as("lo"),
      (col("s_acctbal").cast("double") + 25.0).as("hi"))
    val bucketed = RangeJoin.pointInInterval(pts, ivs, "bal", "lo", "hi", step = 50.0)
      .queryExecution.executedPlan.toString
    assert(!bucketed.contains("BroadcastNestedLoopJoin") && !bucketed.contains("CartesianProduct"),
      s"bucketed form must plan an equi-join:\n$bucketed")
    val naive = RangeJoin.pointInIntervalNaive(pts, ivs, "bal", "lo", "hi")
      .queryExecution.executedPlan.toString
    assert(naive.contains("BroadcastNestedLoopJoin"),
      "naive form is the nested-loop baseline this operator exists to avoid")
  }

  test("bloom decontamination broadcasts the bitmap onto the train-block scan") {
    // The 100 TB contract of q220: the Bloom bitmap (an aggregate of at most
    // ceil(1024/63) rows) must reach the train-block probe as a broadcast —
    // a shuffled bitmap join would defeat the point of the sketch. The exact
    // verify join stays AFTER the prefilter, so only bloom-positive blocks
    // shuffle.
    val df = graft.SparkEntry.queries("q220_bloom_decontam")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the bitmap to broadcast onto the probe:\n$plan")
  }

  test("quantile normalization routes the rank lookup through the bucketed range join") {
    // q225's k -> corpus-order-statistic lookup is a theta join by nature;
    // the plan must show the bucketed equi-join (no nested loop, no
    // cartesian) and no unpartitioned window anywhere.
    val df = graft.SparkEntry.queries("q225_quantile_normalize")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // The only BroadcastNestedLoopJoin allowed is the scalar 1-row
    // crossJoin(broadcast(count)) that attaches n_corp; the k -> value
    // lookup itself must be the bucketed hash equi-join with the exact
    // range predicate as residual.
    assert("BroadcastHashJoin \\[__bucket".r.findAllIn(plan).nonEmpty,
      s"expected the bucketed __bucket equi-join for the rank lookup:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"rank lookup must never plan a cartesian product:\n$plan")
  }

  test("hot/cold split join takes BOTH paths: broadcast for hot, shuffle for cold") {
    // q276's point is the plan shape: the hot-key slice must hit a
    // broadcast hash join (bounded hot dimension rows) while the cold
    // majority keeps a shuffle join — a plan with only one join strategy
    // means the split collapsed and the skew defense is gone.
    val df = graft.SparkEntry.queries("q276_hotcold_join")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot path must broadcast the hot dimension slice:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"cold path must keep a shuffle join:\n$plan")
  }

  test("Wilson ranking joins part via shuffle hash, never a broadcast of the dim") {
    // q310 joins the 100 TB-shaped fact (lineitem) against part. part is NOT
    // a bounded frame — it scales with SF (~200k*SF rows; ~2e10 at the
    // 100 TB design point), so broadcasting it would OOM the executors at
    // scale even though it fits at test SF. The scalable shape is a shuffled
    // hash join on the equi-key; pin that no BroadcastHashJoin sneaks in.
    val df = graft.SparkEntry.queries("q310_wilson_rank")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the part join as ShuffledHashJoin in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the SF-scaling part dim must not be broadcast:\n$plan")
  }

  test("corpus-linear frames never ride a broadcast hash join (q264/q271/q401)") {
    // The round-4 advisor's category, mechanically pinned: the vocabulary
    // df table (Heaps-law growth, q264), the probe postings (fixed corpus
    // fraction, q264), the GDPR deletion list (fixed customer fraction,
    // q271) and the shingle weight/posting frames (q401) are all
    // data-sized — a BroadcastHashJoin build on any of them OOMs at the
    // 100 TB design point. Single-row aggregate broadcasts (nDocs, totals)
    // plan as BroadcastNestedLoopJoin, which stays allowed.
    // q430: the cluster-label and split frames (corpus-linear) — only the
    // single-row leak aggregate may broadcast (BroadcastNestedLoopJoin,
    // allowed). q429 is NOT in this list: its one BroadcastHashJoin is the
    // depth x width CMS cell table (constant-size by construction — the
    // legitimate bounded-broadcast category).
    for (q <- Seq("q264_sparse_cosine_topk", "q271_gdpr_purge",
        "q401_weighted_jaccard", "q430_cluster_safe_split")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q must not broadcast a corpus-linear frame:\n$plan")
    }
  }

  test("ABC classification plans no WindowExec: the running share is the RDD prefix sum") {
    // q319's cumulative share must come from Keys.globalRunningSumBy (the
    // two-phase shuffle-reuse shape), never a single-task running-sum
    // window over the customer frame.
    val df = graft.SparkEntry.queries("q319_abc_classification")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(windowOps(df).isEmpty,
      s"running share must not plan a window:\n$plan")
  }

  test("forecast allocation: region level is windowless, nation windows are region-partitioned") {
    // q316's 5-row region remainder rank is a self-join count; the only
    // Window nodes allowed are the nation-level per-region frames.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val df = graft.SparkEntry.queries("q316_forecast_allocation")(spark, sf0001)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    assert(wins.isEmpty, "region-level allocation must not use a global window")
    df.collect()
  }

  test("bucketed aggregation plans no exchange before the partial aggregate") {
    // q325's payoff: a groupBy on the bucket column of a bucketed+sorted
    // table reads data already hash-clustered by the key — the aggregate
    // must complete without any shuffle of the fact rows (the only
    // allowed exchange is the final output range sort).
    val df = graft.SparkEntry.queries("q325_bucketed_agg_gate")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nHash == 0,
      s"bucketed groupBy must not hash-shuffle the fact rows:\n$plan")
  }

  test("nested-schema pruning drops the struct's text payload from the scan") {
    // q328 aggregates two leaves of a nested struct whose sibling field
    // carries the document text; the parquet ReadSchema must contain the
    // pruned struct WITHOUT the text leaf — reading it would multiply
    // the scan IO by the payload size at 100 TB.
    val df = graft.SparkEntry.queries("q328_nested_pruning")(spark, sf0001)
    df.collect()
    val plan = formattedPlan(df)
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(readSchema.contains("lang") && readSchema.contains("n_chars"),
      s"pruned leaves missing from scan schema:\n$readSchema")
    assert(!readSchema.contains("text"),
      s"struct text payload must be pruned from the scan:\n$readSchema")
  }

  test("dynamic partition pruning injects the dim filter into the fact scan") {
    // q330: which fact partitions survive is only knowable after the dim
    // filter runs — the scan must carry a DynamicPruningExpression
    // partition filter instead of reading all partitions.
    val df = graft.SparkEntry.queries("q330_dpp_gate")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a runtime partition-pruning filter in:\n$plan")
  }

  test("LSH tuning audit caps its materialized candidate join by bucket occupancy") {
    // q270 was the repo's one data-dependent quadratic (BENCH_r05 rehearsal
    // ratio 19.6 at 10x): its banded candidate self-join ran deliberately
    // uncapped. The redesigned audit measures the raw candidate volume
    // ANALYTICALLY (sum of C(occupancy, 2) from one aggregate) and only
    // materializes pairs from buckets at or below the production cap —
    // pin that (a) the occupancy cap filter actually guards the pair join
    // and (b) no corpus-linear frame rides a BroadcastHashJoin (single-row
    // aggregate crossJoins plan as BroadcastNestedLoopJoin, allowed).
    val df = graft.SparkEntry.queries("q270_lsh_tuning_eval")(spark, sf0001)
    df.collect()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("__occ") && optimized.contains("<= 64"),
      s"candidate join must be guarded by the bucket-occupancy cap:\n$optimized")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"q270 must not broadcast a corpus-linear frame:\n$plan")
  }

  test("batch sessionization plans Spark's session-window aggregate, not a window function") {
    // q468 gates the BUILT-IN session_window operator; if someone rewrites
    // it to a lag/running-sum window chain the value gate still passes
    // (same semantics), so pin the plan: a session-window aggregate node
    // and zero WindowExec.
    val df = graft.SparkEntry.queries("q468_session_window_batch")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("session_window"),
      s"expected the native session-window aggregate in:\n$plan")
    assert(!plan.contains("Window "), s"no window function expected in:\n$plan")
  }

  test("ANN cell joins are salted shuffled hash joins, never a probe-side broadcast") {
    // Round-7 judge finding: annTopKByCell broadcast its query side, and the
    // round-7 mutual-kNN callers (q437/q445/q446/q450/q452/q474) pass the
    // FULL corpus as queries — a corpus-linear broadcast build that OOMs the
    // driver at the 100 TB design point. The operator (and the multi-probe
    // variant) now shuffles BOTH sides on (cell, salt); pin that the plans
    // show the ShuffledHashJoin and that no BroadcastHashJoin appears
    // anywhere in them. q44's centroid attach is a crossJoin(broadcast) of a
    // cell-bounded frame — it plans as BroadcastNestedLoopJoin, which stays
    // allowed.
    for (q <- Seq("q27_cosine_ann_cell", "q44_ann_multiprobe",
        "q437_link_prediction")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin [__"),
        s"$q: the (cell, salt) candidate join must be a shuffled hash join:\n$plan")
      assert(!plan.contains("BroadcastHashJoin"),
        s"$q: no corpus-linear frame may ride a broadcast hash join:\n$plan")
    }
  }

  test("IVF-PQ search plans heap top-k everywhere and no unpartitioned window") {
    // q495/q496: every ranking step (codeword argmin, nprobe cell pick,
    // ADC shortlist, cosine re-rank, brute truth) must ride the TopKPerKey
    // heap — a WindowExec anywhere means a per-key sort crept in; a
    // CartesianProduct means a probe/codebook attach lost its broadcast
    // (bounded crossJoins plan as BroadcastNestedLoopJoin, which is fine).
    // The shortlist's corpus-side re-attach must stay shuffle-side.
    for (q <- Seq("q495_ivfpq_search", "q496_ivfpq_recall",
        "q497_graph_beam_search")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"$q: expected the heap top-k operator in:\n$plan")
      assert(windowOps(df).isEmpty,
        s"$q: no window-sort ranking allowed:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: bounded attaches must broadcast, not cartesian:\n$plan")
      // Inverted-list IO: the codes artifact is partitioned by cell and the
      // search coordinator pushes its bounded probed-cell list into the scan
      // as a STATIC partition filter — only the probed cells' files are ever
      // read (sublinear in storage at the 100 TB design point, where the
      // cell space is much larger than nprobe x probes). q497 walks the
      // graph artifact instead of the codes table, so the pin covers the
      // two ADC searchers.
      if (q != "q497_graph_beam_search")
        assert(plan.contains("PartitionFilters: [cell#"),
          s"$q: the codes scan must carry the probed-cell partition filter:\n$plan")
    }
  }

  test("index lifecycle gates: heap top-k, shuffle-side code joins, no window ranking") {
    // Round-9 lifecycle queries inherit the q495 discipline. q499's
    // frozen-vs-refit agreement joins two corpus-linear code frames —
    // pinned shuffle-side (a broadcast build there OOMs at scale even
    // though test-SF sizes would auto-broadcast); its assignment argmins
    // ride TopKPerKey, so no WindowExec anywhere. q498 is a read-back
    // pivot: one hash aggregate, no joins, no window.
    val d499 = graft.SparkEntry.queries("q499_ivfpq_delta_upsert")(spark, sf0001)
    d499.collect()
    val p499 = d499.queryExecution.executedPlan.toString
    // (the centroid/codebook attaches DO broadcast — cell-/128-row-bounded
    // frames, the operator's design — so no blanket BroadcastHashJoin ban
    // here; the corpus-linear x corpus-linear joins are the ones pinned)
    assert("ShuffledHashJoin \\[id#".r.findAllIn(p499).size >= 2,
      s"q499: both code-agreement joins must be shuffle-side on (id, m):\n$p499")
    assert(windowOps(d499).isEmpty,
      s"q499: no window-sort ranking allowed:\n$p499")
    // The assignment argmin pin moved to the OPERATOR plan (round 15): the
    // delta assignment now reads the shared staleDeltaCodes artifact, so the
    // consumer's returned plan legitimately carries no TopKPerKey — the heap
    // discipline is pinned where the assignment is actually planned.
    val ix = graft.queries.SharedFrames.staleIvf(spark, sf0001)
    val assign = graft.ext.IvfPq.assignCodes(
        graft.ext.IvfPq.residualParts(
          graft.ext.IvfPq.withDerivedCells(
            graft.Tables.embeddings(spark, sf0001), "embedding", 3),
          ix.cents, "vec_id", "embedding", "cell"),
        ix.cw)
    val assignPlan = assign.queryExecution.executedPlan.toString
    assert(assignPlan.contains("TopKPerKey") && windowOps(assign).isEmpty,
      s"assignCodes argmin must be the heap, not a window:\n$assignPlan")
    val d498 = graft.SparkEntry.queries("q498_ivfpq_index_roundtrip")(spark, sf0001)
    d498.collect()
    val p498 = d498.queryExecution.executedPlan.toString
    assert(windowOps(d498).isEmpty && !p498.contains("Join"),
      s"q498: read-back pivot must be a single hash aggregate:\n$p498")
  }

  test("round-11 gates: navigable-walk heap discipline, live long-range cell join, q504 pushed health filter") {
    // q503 constructs the long-range edges LIVE: the foreign-cell pick and
    // the per-(vector, cell) best-neighbor pick must ride the TopKPerKey
    // heap, the in-cell candidate join must be the salted shuffled cell
    // join (corpus-as-queries — a broadcast build is the round-7 defect),
    // and no ranking may fall back to a window sort. q505 walks the
    // materialized navigable artifact — same walk discipline, no live
    // construction to pin.
    for (q <- Seq("q503_navigable_beam_recall", "q505_beam_width_recall")) {
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"$q: expected the heap top-k operator in:\n$plan")
      assert(windowOps(df).isEmpty,
        s"$q: no window-sort ranking allowed:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: bounded attaches must broadcast, not cartesian:\n$plan")
      // The live cell-join pin moved to the OPERATOR plan (round 15): q503
      // localCheckpoints its edge union so the four unrolled hops read one
      // materialized frame — construction still runs live per call, but
      // inside the checkpoint job, so the returned plan legitimately no
      // longer shows it. The salted-shuffle discipline is pinned on the
      // construction's own plan below.
    }
    val lre = graft.ext.Similarity.crossCellLongRangeEdges(
        graft.Tables.embeddings(spark, sf0001), "vec_id", "embedding",
        "label", nForeign = 2)
    val lrePlan = lre.queryExecution.executedPlan.toString
    assert(lrePlan.contains("ShuffledHashJoin [__"),
      s"crossCellLongRangeEdges: the live cell join must be shuffled, both sides:\n$lrePlan")
    assert(lrePlan.contains("TopKPerKey") && windowOps(lre).isEmpty,
      s"crossCellLongRangeEdges: picks must ride the heap:\n$lrePlan")
    // q504's returned frame carries the POST health re-measure (the pre row
    // is a materialized read-back by design): the occupancy scan must push
    // the m=0 filter to the artifact parquet, and the refit-agreement join
    // must stay shuffle-side on (id, m) — both frames are corpus-linear.
    // (The refit's argmin heap is pinned on the assignCodes operator plan in
    // the lifecycle test above: the refit is localCheckpoint-evaluated once,
    // so the returned plan reads its RDD.)
    val d = graft.SparkEntry.queries("q504_ivfpq_rebuild_loop")(spark, sf0001)
    d.collect()
    val p = d.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(m,0)"),
      s"q504: the health scan must push the m=0 filter:\n$p")
    assert(p.contains("ShuffledHashJoin [id#"),
      s"q504: the refit-agreement code join must be shuffle-side:\n$p")
    assert(windowOps(d).isEmpty,
      s"q504: no window-sort ranking allowed:\n$p")
  }

  test("negative sampling joins the rank frame by shuffle, never broadcast") {
    // q454's rank frame is corpus-linear (one row per embedding): the
    // negative-draw join (on nr) and the kNN-edge audit join (on the
    // least/greatest pair key) must both stay shuffle-side.
    val df = graft.SparkEntry.queries("q454_negative_sampling")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin [nr#"),
      s"the negative-draw rank join must be shuffle-side:\n$plan")
    assert(plan.contains("ShuffledHashJoin [least(anchor_id"),
      s"the kNN-edge audit join must be shuffle-side:\n$plan")
  }
}
