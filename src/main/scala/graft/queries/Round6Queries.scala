package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.engine.Sources
import graft.ext.{NearDup, Sketches, TextAnalysis, TextHash}

/** Round-6 additions (SURVEY §2.16): the second SparkSessionExtensions seam
  * (the injected optimizer-rule + planner-strategy path, complementing
  * q400's function-injection gate) and threshold-based CMS heavy-hitter
  * extraction with its exact audit twin. Same discipline as every other
  * module: deterministic hashes, integer counts, one final double division,
  * DuckDB oracle mirrors derived from first principles.
  */
object Round6Queries {

  /** One extension-loaded session per SparkContext, built lazily and REUSED
    * (ADVICE_r06): the q428 gate used to build a fresh `withExtensions`
    * session on every invocation and never release it — Bench's min-of-2
    * passes plus the 10x rehearsal leaked a sessionState (and its temp
    * view) per run. Sessions can't be closed without killing the shared
    * context, so the fix is to stop re-creating: one cached session serves
    * every invocation, and the temp view is re-registered (replaced, not
    * accumulated) in that single catalog. Rebuilt only if the underlying
    * context changed (a test suite cycling SparkSessions).
    */
  private object ExtSession {
    @volatile private var cached: Option[org.apache.spark.sql.SparkSession] = None
    def get(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
      synchronized {
        import org.apache.spark.sql.SparkSession
        cached match {
          case Some(s2) if s2.sparkContext eq s.sparkContext => s2
          case _ =>
            SparkSession.clearActiveSession()
            SparkSession.clearDefaultSession()
            val s2 = try SparkSession.builder()
                .withExtensions(new graft.GraftExtensions())
                .getOrCreate()
              finally {
                SparkSession.setDefaultSession(s)
                SparkSession.setActiveSession(s)
              }
            cached = Some(s2)
            s2
        }
      }
  }

  /** DuckDB fragment: normalized text (mirror of Cleaning.normalizeText). */
  private val NormText = raw"regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"

  /** DuckDB fragment: whitespace tokens of the normalized text. */
  private val Toks = s"string_split($NormText, ' ')"

  val qs: Seq[Q] = Seq(

    // The GraftExtensions PLUGIN RULE path, value-gated end-to-end: q400
    // proves the plugin injects the native FUNCTIONS; this proves it
    // injects the OPTIMIZER REWRITE (window-rank-filter -> heap top-k) and
    // the PLANNER STRATEGY that makes the rewritten node physical. The
    // session is built through the public `withExtensions` hook with
    // NEITHER GraftFunctions.ensureRegistered NOR TopKRankInstall
    // .ensureInstalled called on it — and the builder-fresh sessionState is
    // asserted to carry zero experimental extraOptimizations/extraStrategies,
    // so the only possible source of the TopKPerKey plan is the plugin
    // injection. The in-builder require pins the plan (the heap operator
    // must appear in the executed plan); the oracle gates the values (the
    // per-customer top-3 orders under a total order). Same leave-no-trace
    // active/default-session discipline as q400.
    Q(
      "q428_extensions_rule_gate",
      (s, dir) => {
        val s2 = ExtSession.get(s)
        require(s2 ne s, "builder must construct a fresh extension-loaded session")
        require(s2.experimental.extraOptimizations.isEmpty
            && s2.experimental.extraStrategies.isEmpty,
          "fresh session must have no post-hoc experimental installs — " +
            "the rewrite must come from the injected plugin alone")
        Tables.orders(s2, dir).createOrReplaceTempView("graft_ext_orders")
        val df = s2.sql("""
          SELECT o_custkey, o_orderkey, o_totalprice, rnk
          FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey) AS rnk
                FROM graft_ext_orders)
          WHERE rnk <= 3
          ORDER BY o_custkey, rnk
        """)
        require(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
          "injected TopKRankRewrite + TopKPerKeyStrategy must plan the heap top-k")
        df
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
              FROM orders)
        WHERE rnk <= 3
        ORDER BY o_custkey, rnk
      """.trim)),

    // CMS threshold heavy hitters with the exact audit twin (the q169
    // pattern): q76 displays sketch estimates FOR the known exact top-10;
    // this is the production extraction direction — every token whose CMS
    // estimate clears phi*N (phi = 1/100) is emitted as a claimed heavy
    // hitter, with its exact count and an is_true_hitter flag alongside so
    // the sketch's one-sided error (false positives only: est >= exact
    // always) is auditable row by row. Scale shape: the sketch is
    // depth x width cells (constant, broadcast); the probe set is the
    // vocabulary (Heaps-law growth — shuffle-hash joined, NEVER broadcast);
    // the total is a single-row aggregate crossJoin. Deterministic row
    // hashes make the sketch engine-reproducible, so even the estimates
    // hash-match the oracle.
    Q(
      "q429_cms_threshold_hitters",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val total = tok.agg(count(lit(1)).as("n_total"))
        val cells = Sketches.cmsCells(tok, "token", depth = 4, width = 256)
        val vocab = tok.groupBy("token").agg(count(lit(1)).as("exact_n"))
        Sketches.cmsEstimate(cells, vocab.select("token"), "token",
            depth = 4, width = 256)
          .join(vocab.hint("shuffle_hash"), Seq("token"))
          .crossJoin(broadcast(total))
          .filter(col("cms_est") * 100 >= col("n_total"))
          .select(col("token"), col("cms_est"), col("exact_n"),
            when(col("exact_n") * 100 >= col("n_total"), 1L).otherwise(0L)
              .as("is_true_hitter"))
          .orderBy(col("cms_est").desc, col("token"))
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest($Toks) AS token FROM documents
        ), tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok
        ), cells AS (
          SELECT j, h % 256 AS bucket, COUNT(*) AS cnt FROM (
            SELECT r.j AS j,
                   ${TextHash.duckHash60("'cms' || CAST(r.j AS VARCHAR) || ':' || token")} AS h
            FROM tok CROSS JOIN range(0, 4) r(j))
          GROUP BY 1, 2
        ), vocab AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY token
        ), est AS (
          SELECT token, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_est FROM (
            SELECT v.token AS token, r.j AS j,
                   ${TextHash.duckHash60("'cms' || CAST(r.j AS VARCHAR) || ':' || v.token")}
                     % 256 AS bucket
            FROM vocab v CROSS JOIN range(0, 4) r(j)) p
          LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
          GROUP BY token
        )
        SELECT e.token AS token, e.cms_est, v.exact_n,
               CAST(CASE WHEN v.exact_n * 100 >= t.n_total THEN 1 ELSE 0 END
                 AS BIGINT) AS is_true_hitter
        FROM est e JOIN vocab v ON e.token = v.token CROSS JOIN tot t
        WHERE e.cms_est * 100 >= t.n_total
        ORDER BY cms_est DESC, token
      """.trim)),

    // Cluster-aware leak-free split CONSTRUCTOR: q227/q419 MEASURE how many
    // near-dup pairs straddle a doc-level hash split; this builds the split
    // that provably has none — the standard eval-hygiene move (group-aware
    // splitting): assign train/val/test by hashing the near-dup CLUSTER id
    // (connected components over the verified pair frame; docs outside any
    // pair are their own singleton cluster), so both endpoints of every
    // verified pair land in the same split by construction. The output
    // carries the per-split census AND the cross-split pair count, which
    // the oracle gates at exactly 0 — the invariant IS a checked value, not
    // a comment. Scale shape: CC is the pointer-halved q61 fixpoint over
    // the materialized pair frame; split assignment is a map-side hash of
    // the cluster id; the leak audit joins the pair frame to the split
    // frame shuffle-hash (both corpus-linear, never broadcast).
    Q(
      "q430_cluster_safe_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = SharedFrames.verifiedDocPairs(s, dir)
        val cc = NearDup.connectedComponents(pairs, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"))
        val assigned = docs
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
          .join(cc.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
          .withColumn("split", TextAnalysis.splitAssign(col("cluster_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        val splits = assigned.select(col("doc_id"), col("split"))
        val leaks = pairs
          .join(splits.withColumnRenamed("doc_id", "id_a")
            .withColumnRenamed("split", "__sa").hint("shuffle_hash"), Seq("id_a"))
          .join(splits.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("split", "__sb").hint("shuffle_hash"), Seq("id_b"))
          .agg(sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L))
            .as("n_cross_split_pairs"))
        assigned.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(col("n_tok")).as("n_tokens"))
          .crossJoin(broadcast(leaks))
          .orderBy("split")
      },
      Some(s"""
        ${("WITH RECURSIVE " + ExtQueries.MinhashPairsCte.stripPrefix("WITH ")).trim}, edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b AS src, id_a AS dst FROM verified
        ), nodes AS (
          SELECT DISTINCT src AS v FROM edges
        ), reach(v, label) AS (
          SELECT v, v FROM nodes
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.v
        ), cc AS (
          SELECT v AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
          FROM reach GROUP BY v
        ), assigned AS (
          SELECT d.doc_id, CAST(len($Toks) AS BIGINT) AS n_tok,
                 COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
                 CASE WHEN ${TextHash.duckHash60(
                     "CAST(COALESCE(cc.cluster_id, d.doc_id) AS VARCHAR)")}
                        % 100 < 80 THEN 'train'
                      WHEN ${TextHash.duckHash60(
                     "CAST(COALESCE(cc.cluster_id, d.doc_id) AS VARCHAR)")}
                        % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        ), leaks AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_cross_split_pairs
          FROM verified v
          JOIN assigned a ON a.doc_id = v.id_a
          JOIN assigned b ON b.doc_id = v.id_b
        )
        SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               (SELECT n_cross_split_pairs FROM leaks) AS n_cross_split_pairs
        FROM assigned GROUP BY split ORDER BY split
      """.trim)),

    // Vocabulary coverage estimation per source — the corpus-completeness
    // question ("how much of this source's vocabulary have we NOT seen
    // yet?") that sits beside Zipf/Heaps in a curation report: Good-Turing
    // unseen-mass coverage (1 - f1/N: the probability mass of the next
    // token being a new type equals the singleton share) and the
    // bias-corrected Chao1 richness estimate D + f1(f1-1)/(2(f2+1)) from
    // the frequency-of-frequencies. Two hash aggregates (token counts,
    // then count-of-counts — the second input is vocabulary-sized); all
    // integer until the two final divisions, each a single fixed IEEE
    // tree mirrored verbatim.
    Q(
      "q431_vocab_coverage",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
          .select(col("source"), col("n_tokens"), col("n_types"), col("f1"),
            col("f2"),
            (col("n_types").cast("double")
              + (col("f1") * (col("f1") - 1)).cast("double")
                / (lit(2.0) * (col("f2") + 1).cast("double"))).as("chao1_est"),
            (lit(1.0) - col("f1").cast("double") / col("n_tokens").cast("double"))
              .as("coverage"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (
          SELECT source, unnest($Toks) AS token FROM documents
        ), vc AS (
          SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
        )
        SELECT source,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               CAST(COUNT(*) AS DOUBLE)
                 + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE)
                   / (2.0 * CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1 AS DOUBLE))
                 AS chao1_est,
               1.0 - CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) AS coverage
        FROM vc GROUP BY source ORDER BY source
      """.trim)),

    // VARIANT SHREDDED parquet write gate — the storage half of q406's
    // VARIANT ingestion (the round-5 verdict's "when Spark exposes it"
    // item; Spark 4.1 does): with writeShredding + inferShreddingSchema
    // on, common typed paths of a variant column land as real typed parquet
    // columns (typed_value) beside the binary fallback, which is what lets
    // footer stats / column pruning work on semi-structured data at 100 TB
    // instead of every query paying the binary decode. The builder PROVES
    // shredding happened by inspecting the raw parquet footer schema for
    // the typed_value group (a plain variant write has only metadata +
    // value), then reads the file back (allowReadingShredded +
    // pushVariantIntoScan) and value-gates typed extractions against an
    // oracle computed from the ORIGINAL columns — exactness across the
    // JSON round-trip holds because shortest-repr double serialization
    // parses back bit-identically. Conf flips ride an isolated newSession
    // (q347 discipline); scratch keyed per session+dir as usual.
    Q(
      "q432_variant_shredded_write",
      (s, dir) => {
        val s2 = s.newSession()
        s2.conf.set("spark.sql.variant.writeShredding.enabled", "true")
        s2.conf.set("spark.sql.variant.inferShreddingSchema", "true")
        s2.conf.set("spark.sql.variant.allowReadingShredded", "true")
        s2.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
        val path = graft.engine.Scratch.dir(s, dir, "variant_shred")
        Tables.orders(s2, dir)
          .selectExpr("o_orderkey",
            """parse_json(to_json(named_struct(
                 'status', o_orderstatus,
                 'prio', o_orderpriority,
                 'total', o_totalprice))) AS v""")
          .write.mode("overwrite").parquet(path)
        val part = new java.io.File(path).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .head
        val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(part.getAbsolutePath),
            s.sparkContext.hadoopConfiguration))
        val schemaStr = try footer.getFooter.getFileMetaData.getSchema.toString
          finally footer.close()
        require(schemaStr.contains("typed_value"),
          s"variant column must be SHREDDED (typed_value group in the footer):\n$schemaStr")
        Sources.parquet(s2, path)
          .select(
            expr("variant_get(v, '$.status', 'string')").as("status"),
            expr("variant_get(v, '$.prio', 'string')").as("prio"),
            expr("variant_get(v, '$.total', 'double')").as("total"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("prio")).as("n_prios"),
            sum(col("total").cast("decimal(18,2)")).cast("double")
              .as("total_sales"))
          .orderBy("status")
      },
      Some("""
        SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prios,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_sales
        FROM orders GROUP BY o_orderstatus ORDER BY status
      """.trim)),

    // Multimodal RESIZE kernel gate — completes the decode / feature-extract
    // / frame-sample / resize quartet (the one kernel shape q28/q68/q145
    // didn't cover): the stub keeps every k-th payload byte with
    // k = ceil(n/64) and scales width/height metadata by the same factor —
    // batched mapPartitions after a hash spread, exactly the seam a real
    // libvips/ffmpeg scaler drops into. The resized payload itself is
    // value-gated via its md5 content id (payloads are ASCII, so DuckDB's
    // varchar stride + md5 reproduces the byte-level kernel bit-for-bit —
    // the q28 trick); sizes and scaled dimensions are pure integer
    // arithmetic.
    Q(
      "q433_multimodal_resize",
      (s, dir) => graft.ext.Multimodal.resizeStub(
          graft.ext.Multimodal.synthesize(Tables.documents(s, dir)),
          maxBytes = 64)
        .select(col("media_id"), col("n_bytes_in"), col("stride"),
          col("n_bytes_out"), col("out_w"), col("out_h"),
          md5(col("payload_out")).as("content_id"))
        .orderBy("media_id"),
      Some("""
        WITH m AS (
          SELECT doc_id AS media_id, text,
                 CAST(octet_length(encode(text)) AS INTEGER) AS n,
                 CAST((doc_id % 64 + 1) * 16 AS INTEGER) AS width,
                 CAST((doc_id % 48 + 1) * 16 AS INTEGER) AS height
          FROM documents
        ), r AS (
          SELECT media_id, text, n, width, height,
                 CAST(GREATEST(1, (n + 63) // 64) AS INTEGER) AS k
          FROM m
        )
        SELECT media_id, n AS n_bytes_in, k AS stride,
               CAST((n + k - 1) // k AS INTEGER) AS n_bytes_out,
               CAST(GREATEST(1, width // k) AS INTEGER) AS out_w,
               CAST(GREATEST(1, height // k) AS INTEGER) AS out_h,
               md5(array_to_string(
                 list_transform(range(1, CAST(n AS BIGINT) + 1, CAST(k AS BIGINT)),
                   i -> text[i:i]), '')) AS content_id
        FROM r ORDER BY media_id
      """.trim)),

    // Clustering coefficient over the verified near-dup graph — the density
    // statistic completing the graph-diagnostic set (q61 connectivity, q195
    // triangles, q196 importance, q233 degrees): local cc = triangles_v /
    // C(deg_v, 2) tells clique-like duplication families (template farms —
    // safe to collapse to one canonical) from chain-like ones (drifting
    // revisions — collapsing loses information); the global transitivity
    // 3T / sum-of-wedges is the corpus-level version. All-integer: both
    // ratios are FLOOR micro-units ((x * 1e6) div wedges — integer division
    // is engine-identical, no rounding-mode exposure). Triangles reuse the
    // q195 two-hash-join enumeration over the materialized pair frame; the
    // global couple is a single-row broadcast.
    Q(
      "q434_clustering_coefficient",
      (s, dir) => {
        val e = SharedFrames.verifiedDocPairs(s, dir)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"),
            col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        val tpn = tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("t"))
        val deg = e.select(col("a").as("doc_id"))
          .unionAll(e.select(col("b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
        val global = tri.agg(count(lit(1)).as("__nt"))
          .crossJoin(deg.agg(
            sum(shiftright(col("degree") * (col("degree") - 1), 1)).as("__w")))
          .select(
            when(col("__w") > 0,
              expr("(3 * __nt * 1000000) div __w")).otherwise(0L)
              .as("global_cc_micro"))
        deg.join(tpn.hint("shuffle_hash"), Seq("doc_id"), "left")
          .select(col("doc_id"), col("degree"),
            coalesce(col("t"), lit(0L)).as("n_triangles"),
            shiftright(col("degree") * (col("degree") - 1), 1).as("n_wedges"))
          .select(col("doc_id"), col("degree"), col("n_triangles"), col("n_wedges"),
            when(col("n_wedges") > 0,
              expr("(n_triangles * 1000000) div n_wedges")).otherwise(0L)
              .as("local_cc_micro"))
          .crossJoin(broadcast(global))
          .orderBy("doc_id")
      },
      Some(s"""
        ${ExtQueries.MinhashPairsCte}, e AS (
          SELECT id_a AS a, id_b AS b FROM verified
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
        ), tpn AS (
          SELECT doc_id, COUNT(*) AS t FROM (
            SELECT x AS doc_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
          GROUP BY doc_id
        ), deg AS (
          SELECT doc_id, COUNT(*) AS degree FROM (
            SELECT a AS doc_id FROM e UNION ALL SELECT b AS doc_id FROM e)
          GROUP BY doc_id
        ), g AS (
          SELECT (SELECT COUNT(*) FROM tri) AS nt,
                 SUM(degree * (degree - 1) // 2) AS w
          FROM deg
        )
        SELECT d.doc_id, CAST(d.degree AS BIGINT) AS degree,
               CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
               CAST(d.degree * (d.degree - 1) // 2 AS BIGINT) AS n_wedges,
               CAST(CASE WHEN d.degree >= 2
                 THEN COALESCE(t.t, 0) * 1000000 // (d.degree * (d.degree - 1) // 2)
                 ELSE 0 END AS BIGINT) AS local_cc_micro,
               (SELECT CAST(CASE WHEN w > 0 THEN 3 * nt * 1000000 // w ELSE 0 END
                  AS BIGINT) FROM g) AS global_cc_micro
        FROM deg d LEFT JOIN tpn t ON t.doc_id = d.doc_id
        ORDER BY d.doc_id
      """.trim)),

    // k-core decomposition (k=2) of the verified near-dup graph — iterative
    // peeling: repeatedly drop nodes with degree < k and re-restrict the
    // edge set. The surviving 2-core is the cyclically-duplicated kernel
    // (template farms / spam rings), vs the tree-like fringe the other
    // graph diagnostics can't separate — CC finds components, triangles
    // find closure, the core finds what REMAINS dense under peeling. Fixed
    // 8 peel rounds (each a degree aggregate + two semi-joins, edge frame
    // localCheckpoint'ed per round — the q61 CC lineage discipline), with a
    // CONVERGED flag in the output. The oracle HARDCODES converged = 1 (it
    // does NOT recompute the flag from its own peel — both engines peel the
    // same graph, so a mirrored flag would agree even at 0 and gate
    // nothing): if the Spark fixpoint ever needs more than 8 rounds its
    // converged=0 hash-mismatches the literal 1, failing the gate — the
    // q430 trick, enforced rather than merely reported. Oracle = the same
    // 8 rounds unrolled as generated CTEs (the q416 power-iteration
    // convention).
    Q(
      "q435_kcore",
      (s, dir) => {
        val kMin = 2
        val rounds = 8
        def degrees(edges: org.apache.spark.sql.DataFrame) =
          edges.select(col("a").as("id")).unionAll(edges.select(col("b").as("id")))
            .groupBy("id").agg(count(lit(1)).as("deg"))
        var e = SharedFrames.verifiedDocPairs(s, dir)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        for (_ <- 1 to rounds) {
          val keep = degrees(e).filter(col("deg") >= kMin).select("id")
          // SHUFFLE_HASH: the surviving-node frame is graph-sized.
          e = e.join(keep.withColumnRenamed("id", "a").hint("shuffle_hash"),
              Seq("a"), "left_semi")
            .join(keep.withColumnRenamed("id", "b").hint("shuffle_hash"),
              Seq("b"), "left_semi")
            // materialize: loop — each peeling round reads the previous round's edges
            .localCheckpoint()
        }
        val converged = degrees(e)
          .agg(coalesce(sum(when(col("deg") < kMin, 1L).otherwise(0L)), lit(0L))
            .as("n_below"))
          .select(when(col("n_below") === 0, 1L).otherwise(0L).as("converged"))
        degrees(e)
          .select(col("id").as("doc_id"), col("deg").as("core_degree"),
            lit(kMin).as("k"))
          .crossJoin(broadcast(converged))
          .orderBy("doc_id")
      },
      Some {
        // Every peel round references its predecessor more than once, so the
        // chained CTEs MUST be MATERIALIZED — DuckDB's default inlining would
        // expand e8 into ~3^8 copies of the pair pipeline ("Too many open
        // files" before it even gets slow).
        val rounds = 8
        val sb = new StringBuilder
        sb ++= s"${ExtQueries.MinhashPairsCte}, e0 AS MATERIALIZED (\n"
        sb ++= "          SELECT id_a AS a, id_b AS b FROM verified\n        )"
        for (i <- 1 to rounds) {
          sb ++= s""", d${i - 1} AS MATERIALIZED (
          SELECT id, COUNT(*) AS deg FROM (
            SELECT a AS id FROM e${i - 1} UNION ALL SELECT b AS id FROM e${i - 1})
          GROUP BY id
        ), n$i AS MATERIALIZED (
          SELECT id FROM d${i - 1} WHERE deg >= 2
        ), e$i AS MATERIALIZED (
          SELECT e.a, e.b FROM e${i - 1} e
          JOIN n$i x ON e.a = x.id JOIN n$i y ON e.b = y.id
        )"""
        }
        sb ++= s""", dfin AS (
          SELECT id, COUNT(*) AS deg FROM (
            SELECT a AS id FROM e$rounds UNION ALL SELECT b AS id FROM e$rounds)
          GROUP BY id
        )
        SELECT id AS doc_id, CAST(deg AS BIGINT) AS core_degree,
               CAST(2 AS INTEGER) AS k,
               CAST(1 AS BIGINT) AS converged
        FROM dfin ORDER BY doc_id"""
        sb.toString.trim
      })
  )
}
