package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.engine._
import graft.ext._
import graft.engine.Cleaning.duckNormalizeText
import graft.ext.NearDup.{duckShingles, duckConnectedComponents}
import graft.ext.Similarity.{duckDot, duckD2}
import graft.ext.TextAnalysis.duckTokens

/** LLM-training-data-pipeline queries over documents/embeddings: text stats,
  * fingerprinting/quality/language-ID, exact and approximate near-dup
  * detection, similarity search, and multimodal-column plumbing. Every query
  * has a bit-exact DuckDB oracle twin: the dedup/similarity pipelines use the
  * shared 60-bit md5 hash (TextHash) and fixed-order IEEE double arithmetic
  * so both engines reproduce each other's output exactly.
  */
object ExtQueries {

  /** DuckDB mirror of Similarity.hashOrderedProbes over a vec_id table:
    * a scalar IN-list subquery of the n hash-ordered ids. The bounded-probe
    * convention (q423, registry-wide since round 8) — a modulus probe set
    * grows with the corpus and turns every broadcast-probe brute-force
    * operator O(n^2/k) at scale.
    */
  private[queries] def duckProbes(table: String, idCol: String, tag: String, n: Int): String =
    s"""(SELECT $idCol FROM $table
           ${Similarity.duckHashOrderedProbes(idCol, tag, n)})"""

  /** DuckDB CTE chain mirroring NearDup.minHashNearDupPairs (k=64, b=16,
    * r=4, n=3, threshold 0.8): shingles -> universal-hash MinHash signatures
    * -> band buckets -> candidate pairs -> exact-Jaccard-verified `verified`
    * relation (id_a, id_b, jaccard). Shared by q24 and q36; the
    * table-parameterized form lets funnel-style oracles run the same chain
    * over an intermediate CTE (any relation with doc_id + text).
    */
  private[queries] def minhashPairsCteOver(table: String,
      thresholdSql: String = "0.8", prefix: String = ""): String = s"""
        WITH ${prefix}d AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 3)} AS sh FROM $table
        ), ${prefix}sigs AS (
          SELECT doc_id, sh,
                 [list_min([((s * 2654435761 % ${NearDup.MinHashP - 1} + 1)
                             * (${TextHash.duckHash60("x")} % ${NearDup.MinHashP}) + s)
                            % ${NearDup.MinHashP} FOR x IN sh])
                  FOR s IN generate_series(0, 63)] AS sig
          FROM ${prefix}d WHERE len(sh) > 0
        ), ${prefix}banded AS (
          SELECT doc_id, j AS band,
                 array_to_string(list_transform(sig[CAST(j*4+1 AS BIGINT):CAST(j*4+4 AS BIGINT)],
                   v -> CAST(v AS VARCHAR)), '_') AS bucket
          FROM ${prefix}sigs CROSS JOIN range(0, 16) t(j)
        ), ${prefix}cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM ${prefix}banded a JOIN ${prefix}banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), ${prefix}verified AS (
          SELECT id_a, id_b,
                 CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   AS jaccard
          FROM ${prefix}cand
          JOIN ${prefix}sigs sa ON sa.doc_id = id_a
          JOIN ${prefix}sigs sb ON sb.doc_id = id_b
          WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) >= $thresholdSql
        )""".stripMargin.trim

  private[queries] lazy val MinhashPairsCte: String = minhashPairsCteOver("documents")

  /** DuckDB oracle for exact trigram-Jaccard pairs at threshold 0.8 — shared
    * by q23 and q101. The oracle keeps the naive inverted-index formulation
    * (simplest-correct SQL); BOTH Spark plans run the threshold-complete
    * prefix filter, whose output is provably identical — the strongest
    * cross-check that prefix candidate generation drops nothing.
    */
  private lazy val ExactJaccardPairsSql: String = s"""
        WITH d AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 3)} AS sh FROM documents
        ), inv AS (
          SELECT doc_id, unnest(sh) AS s FROM d
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), sizes AS (
          SELECT doc_id, len(sh) AS n FROM d
        )
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.8
        ORDER BY id_a, id_b
      """.trim

  val qs: Seq[Q] = Seq(

    // Text analysis: per-(lang, source) corpus statistics. Map-side token
    // counting + one grouped aggregate.
    Q(
      "q21_text_stats",
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("lang"), col("source"), col("n_chars"),
            size(toks).as("__nt"), TextAnalysis.bpeTokenCount(col("text")).as("__nb"))
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("__nt")).as("sum_tokens"),
            (sum(col("__nt")).cast("double") / count(lit(1))).as("avg_tokens"),
            expr("percentile(__nt, 0.5)").as("median_tokens"),
            max(col("__nt")).as("max_tokens"),
            sum(col("__nb")).as("sum_bpe_tokens"))
          .orderBy("lang", "source")
      },
      Some(s"""
        WITH t AS (
          SELECT lang, source, n_chars,
                 CAST(len(${duckTokens("text")}) AS INTEGER) AS nt,
                 CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS nb
          FROM documents
        )
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(nt) AS BIGINT) AS sum_tokens,
               CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_tokens,
               quantile_cont(nt, 0.5) AS median_tokens,
               CAST(MAX(nt) AS INTEGER) AS max_tokens,
               CAST(SUM(nb) AS BIGINT) AS sum_bpe_tokens
        FROM t GROUP BY lang, source ORDER BY lang, source
      """.trim)),

    // Per-document fingerprints + quality + language-ID: the map-side
    // feature-extraction pass of an LLM data pipeline.
    Q(
      "q22_doc_features",
      (s, dir) => {
        // hash-spread with explicit partition count (~85 md5s per doc, one
        // input split, AQE would re-coalesce a non-explicit repartition);
        // tokens materialized BELOW the exchange so the shingle/filter
        // lambdas see a plain attribute and never re-tokenize per element
        // (see NearDup.withShingles)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"),
            TextAnalysis.tokens(col("text")).as("__toks"))
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), col("text"), col("__toks"),
            NearDup.shingles(col("__toks"), 8).as("__sh8"))
          .select(
            col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp"),
            TextAnalysis.rollingFingerprint(col("text"), col("__sh8")).as("roll_fp"),
            size(col("__toks")).as("n_tokens"),
            TextAnalysis.stopwordRatio(col("__toks")).as("stop_ratio"),
            TextAnalysis.qualityScore(col("__toks")).as("quality"),
            TextAnalysis.langId(col("__toks")).as("pred_lang"))
          .orderBy("doc_id")
      },
      Some {
        s"""
        WITH base AS (
          SELECT doc_id, ${duckNormalizeText("text")} AS norm, ${duckTokens("text")} AS w FROM documents
        ), feat AS (
          SELECT doc_id, norm, w,
                 ${duckShingles("w", 8)} AS sh8,
                 CAST(len(w) AS INTEGER) AS n_tokens,
                 len(list_filter(w, t -> t IN (${TextAnalysis.duckStopwords}))) AS n_stop,
                 CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE) AS sum_len,
                 ${TextAnalysis.duckLangCounts("w")}
          FROM base
        )
        SELECT doc_id, md5(norm) AS fp,
               CASE WHEN len(sh8) = 0 THEN ${TextHash.duckHash60("norm")}
                    ELSE list_min([${TextHash.duckHash60("x")} FOR x IN sh8]) END AS roll_fp,
               n_tokens,
               CASE WHEN n_tokens = 0 THEN 0.0
                    ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS stop_ratio,
               0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
                               ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
                 + 0.2 * least((CASE WHEN n_tokens = 0 THEN 0.0
                                     ELSE sum_len / CAST(n_tokens AS DOUBLE) END) / 8.0, 1.0)
                 AS quality,
               ${TextAnalysis.duckLangId} AS pred_lang
        FROM feat ORDER BY doc_id
      """.trim
      }),

    // Exact n-gram-Jaccard near-dup pairs — threshold-complete prefix-filter
    // candidates + full-set verify (identical output to the naive
    // inverted-index join the oracle states, at ~20% of the postings and
    // immune to hot shingles; MinHash below is the sub-linear-recall path).
    Q(
      "q23_ngram_jaccard",
      (s, dir) => NearDup.exactJaccardPairs(
          Tables.documents(s, dir), "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(ExactJaccardPairsSql)),

    // MinHash + banded LSH near-dup pairs, exact-verified on candidates —
    // bucketed candidate generation, never all-pairs (the scale path).
    Q(
      "q24_minhash_lsh",
      (s, dir) => NearDup.minHashNearDupPairs(
          Tables.documents(s, dir), "doc_id", "text",
          n = 3, k = 64, bands = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(s"""
        $MinhashPairsCte
        SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b
      """.trim)),

    // Near-dup DEDUP resolution: greedy keep-lowest-id over the verified
    // MinHash pairs — the operator a training-data pipeline actually ends
    // with (survivor set, not just pairs).
    Q(
      "q36_neardup_dedup",
      // round 15: the drop policy reads the SAME verified pair artifact its
      // cluster complement q61 already reads (identical corpus/params —
      // verifiedDocPairs IS minHashNearDupPairs(documents, 0.8)); the live
      // pair construction stays value-gated in q24, and this gate's oracle
      // still derives the pairs from first principles.
      (s, dir) => Tables.documents(s, dir)
        .join(SharedFrames.verifiedDocPairs(s, dir)
            .select(col("id_b").as("doc_id")).distinct()
            .hint("shuffle_hash"),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""
        $MinhashPairsCte
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM verified)
        ORDER BY doc_id
      """.trim)),

    // Near-dup CLUSTER resolution: connected components (iterative min-label
    // propagation) over the verified MinHash pairs — the transitive closure
    // q36's greedy policy skips. Oracle: DuckDB recursive CTE computing the
    // same min-reachable-id labels.
    Q(
      "q61_neardup_clusters",
      (s, dir) => NearDup.connectedComponents(
          SharedFrames.verifiedDocPairs(s, dir),
          "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id"),
      Some(s"""
        ${("WITH RECURSIVE " + MinhashPairsCte.stripPrefix("WITH ")).trim}, ${duckConnectedComponents("verified", "cc")}
        SELECT doc_id, component AS cluster_id FROM cc ORDER BY doc_id
      """.trim)),

    // SimHash banded near-dup pairs: bit-slice bucketing (never all-pairs)
    // + exact Hamming verify — the pair-generation step completing q25's
    // signature computation. All integer ops, so the oracle is exact.
    Q(
      "q62_simhash_pairs",
      // round 15: banding + Hamming verify over the shared signature
      // artifact (pure integer ops on parquet-exact longs); the signature
      // construction stays value-gated live in q25, and this gate's oracle
      // still derives the signatures from scratch.
      (s, dir) => NearDup.simHashNearDupPairsFromSigs(
          SharedFrames.simhashSigs(s, dir), "doc_id",
          bands = 4, maxHamming = 6, maxBucket = 64)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH sigs AS (
          ${NearDup.simHashOracleSql("documents", "doc_id", "text")}
        ), all_banded AS (
          SELECT doc_id, j, (simhash >> CAST(j * 15 AS INTEGER)) & 32767 AS bucket
          FROM sigs CROSS JOIN range(0, 4) t(j)
        ), banded AS (
          SELECT doc_id, j, bucket FROM (
            SELECT doc_id, j, bucket, COUNT(*) OVER (PARTITION BY j, bucket) AS bn
            FROM all_banded
          ) WHERE bn <= 64
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.j = b.j AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
        FROM cand
        JOIN sigs sa ON sa.doc_id = id_a
        JOIN sigs sb ON sb.doc_id = id_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 6
        ORDER BY id_a, id_b
      """.trim)),

    // TF-IDF keyword extraction (log-free: weight = tf * N / df, a pure
    // count ratio rank-equivalent to tf-idf for a fixed doc): per-doc top-3
    // terms via the heap TopKPerKey operator (its third engine use). The
    // document-frequency table is an agg output, so AQE broadcasts it here
    // and shuffles at web-scale vocabularies.
    Q(
      "q63_tfidf_keywords",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val n = Tables.documents(s, dir).agg(count(lit(1)).as("__n"))
        val scored = tf.join(dfreq, Seq("token"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("token"), col("tf"), col("df"),
            (col("tf").cast("double") * col("__n").cast("double")
              / col("df").cast("double")).as("weight"))
        graft.plans.TopKPerKey.of(scored,
            keyCols = Seq("doc_id"), order = Seq("weight" -> false, "token" -> true), k = 3)
          .select("doc_id", "token", "tf", "df", "weight", "rank")
          .orderBy("doc_id", "rank")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(${duckTokens("text")}) AS token FROM documents
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
        ), dfreq AS (
          SELECT token, COUNT(*) AS df FROM tf GROUP BY token
        ), total AS (
          SELECT COUNT(*) AS n FROM documents
        )
        SELECT t.doc_id AS doc_id, t.token AS token,
               CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
               CAST(t.tf AS DOUBLE) * CAST((SELECT n FROM total) AS DOUBLE)
                 / CAST(d.df AS DOUBLE) AS weight,
               CAST(row_number() OVER (
                 PARTITION BY t.doc_id
                 ORDER BY CAST(t.tf AS DOUBLE) * CAST((SELECT n FROM total) AS DOUBLE)
                            / CAST(d.df AS DOUBLE) DESC, t.token) AS INTEGER) AS rank
        FROM tf t JOIN dfreq d ON t.token = d.token
        QUALIFY rank <= 3 ORDER BY doc_id, rank
      """.trim)),

    // SimHash signatures (60-bit): one shuffle, bit votes aggregated
    // map-side-partially.
    Q(
      "q25_simhash",
      (s, dir) => NearDup.simHashFrame(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(NearDup.simHashOracleSql("documents", "doc_id", "text")
        + "\nORDER BY doc_id")),

    // Brute-force top-k cosine: broadcast the probe set, stream the corpus.
    // The probe set is a FIXED 50 hash-ordered ids (bounded-probe
    // convention, r8 sweep): a modulus sample grows with the corpus and
    // makes the broadcast pair work O(n^2/20) at scale.
    Q(
      "q26_cosine_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.topKCosine(
            Similarity.hashOrderedProbes(e, "vec_id", "probe", 50),
            e, "vec_id", "embedding", k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        )
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                          c.vec_id) AS INTEGER) AS rank,
               ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM e q CROSS JOIN e c
        WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)}
          AND c.vec_id <> q.vec_id
        QUALIFY rank <= 5
        ORDER BY query_id, rank
      """.trim)),

    // IVF-style ANN: every vector probes only its own cell (label = coarse
    // cell assignment; at 100 TB a k-means cell id computed upstream).
    Q(
      "q27_cosine_ann_cell",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.annTopKByCell(e, e, "vec_id", "embedding", "label", k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        )
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                          c.vec_id) AS INTEGER) AS rank,
               ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM e q JOIN e c ON q.label = c.label AND c.vec_id <> q.vec_id
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim)),

    // Embedding-cosine near-dup pairs within IVF cells — the embedding-space
    // dedup modality (threshold 0.4: the synthetic corpus has no planted
    // vector dups; the operator and its pruning are what is exercised).
    Q(
      "q37_embedding_neardup",
      (s, dir) => Similarity.embeddingNearDupPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", threshold = 0.4)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
        ORDER BY id_a, id_b
      """.trim)),

    // IVF assignment: one Lloyd step — exact per-cell centroids, then each
    // vector to its nearest centroid by squared L2 (argmin via the custom
    // heap TopKPerKey, k=1). `label` is the prior cell; `cell` the refreshed
    // assignment.
    Q(
      "q39_ivf_assign",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.assignToNearestCentroid(
            e, "vec_id", "embedding",
            Similarity.exactCentroids(e, "embedding", "label"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH ${Similarity.duckExactCentroids("m", "c", "embeddings")}, p AS (
          SELECT e.vec_id, e.label, c.cell,
                 ${duckD2("e.embedding", "c.centroid", "len(e.embedding)")} AS dist2
          FROM embeddings e CROSS JOIN c
        )
        SELECT vec_id, label, cell, dist2 FROM p
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
        ORDER BY vec_id
      """.trim)),

    // Multimodal plumbing: binary payload + typed metadata, expression-level
    // metadata extraction and deterministic frame sampling (no codec).
    Q(
      "q28_multimodal_meta",
      (s, dir) => Multimodal.metaFeatures(
          Multimodal.synthesize(Tables.documents(s, dir)))
        .orderBy("media_id"),
      Some("""
        WITH m AS (
          SELECT doc_id AS media_id,
                 text,
                 encode(text) AS payload,
                 (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
                 CAST((doc_id % 64 + 1) * 16 AS INTEGER) AS width,
                 CAST((doc_id % 48 + 1) * 16 AS INTEGER) AS height
          FROM documents
        )
        SELECT media_id, kind, width, height,
               CAST(octet_length(payload) AS INTEGER) AS n_bytes,
               md5(text) AS content_id,
               CAST(width AS DOUBLE) / CAST(height AS DOUBLE) AS aspect,
               -- text is pure ASCII (verified vs octet_length), so varchar
               -- substring/hex equal Spark's byte-wise binary slice + hex
               hex(substring(text, CAST(floor(octet_length(payload) * 0 / 4) + 1 AS INTEGER), 8)) AS frame_0,
               hex(substring(text, CAST(floor(octet_length(payload) * 1 / 4) + 1 AS INTEGER), 8)) AS frame_1,
               hex(substring(text, CAST(floor(octet_length(payload) * 2 / 4) + 1 AS INTEGER), 8)) AS frame_2,
               hex(substring(text, CAST(floor(octet_length(payload) * 3 / 4) + 1 AS INTEGER), 8)) AS frame_3
        FROM m ORDER BY media_id
      """.trim)),

    // Partitioned write + partition-pruned read-back: the filter on the
    // partition column prunes whole directories (PartitionFilters), the scan
    // never opens non-matching files. Oracle: same filter over the original.
    Q(
      "q32_partition_prune",
      (s, dir) => {
        val path = Scratch.dir(s, dir, "part_orders")
        Sinks.writePartitioned(
          Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"),
          path, partitionCols = Seq("o_orderstatus"))
        s.catalog.clearCache()
        Sources.parquet(s, path)
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"), Exact.sumD(col("o_totalprice")).as("sales"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
      """.trim)),

    // Deterministic train/val/test split: hash-bucketed so membership is
    // stable across runs/engines — per-split corpus stats as the output.
    Q(
      "q40_dataset_split",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          TextAnalysis.splitAssign(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split"),
      Some(s"""
        WITH assigned AS (
          SELECT doc_id, n_chars,
                 CASE WHEN ${TextHash.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                      WHEN ${TextHash.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        )
        SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM assigned GROUP BY split ORDER BY split
      """.trim)),

    // A2 whole-row dropDuplicates as an oracle query: inject exact duplicate
    // rows, dedup them away (single hash-aggregate shuffle).
    Q(
      "q29_exact_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
        Dedup.dropAllDuplicates(d.unionAll(d.filter(col("doc_id") % 10 === 0)))
          .orderBy("doc_id")
      },
      Some("""
        SELECT DISTINCT doc_id, lang, source, n_chars FROM (
          SELECT doc_id, lang, source, n_chars FROM documents
          UNION ALL
          SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id % 10 = 0
        ) ORDER BY doc_id
      """.trim)),

    // Multi-probe IVF ANN (nprobe=2): each query searches its TWO nearest
    // cells by exact centroid distance — the recall knob over q27's
    // own-cell-only probe; candidates still cell-bounded, never brute-force.
    Q(
      "q44_ann_multiprobe",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.annTopKMultiProbe(
            e.filter(col("vec_id") % 20 === 0), e, "vec_id", "embedding", "label",
            nprobe = 2, k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH ${Similarity.duckExactCentroids("m", "c", "embeddings")}, pr AS (
          SELECT e.vec_id AS query_id, e.embedding AS qe, c.cell,
                 ${duckD2("e.embedding", "c.centroid", "len(e.embedding)")} AS d2
          FROM embeddings e CROSS JOIN c
          WHERE e.vec_id % 20 = 0
          QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2, c.cell) <= 2
        ), cand AS (
          SELECT pr.query_id, pr.qe,
                 sqrt(${duckDot("pr.qe", "pr.qe")}) AS qn,
                 n.vec_id AS neighbor_id, n.embedding AS ne,
                 sqrt(${duckDot("n.embedding", "n.embedding")}) AS nn
          FROM pr JOIN embeddings n ON n.label = pr.cell AND n.vec_id <> pr.query_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY ${duckDot("qe", "ne")} / (qn * nn) DESC, neighbor_id) AS INTEGER) AS rank,
               ${duckDot("qe", "ne")} / (qn * nn) AS cosine
        FROM cand
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim)),

    // Per-language top-k vocabulary (corpus frequency tables — the vocab
    // extraction pass of a training-data pipeline): token counts per lang,
    // ranked by the custom heap TopKPerKey operator (its second engine use
    // beyond similarity ranking).
    Q(
      "q47_vocab_topk",
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy("lang", "token")
          .agg(count(lit(1)).as("n"))
        graft.plans.TopKPerKey.of(counts,
            keyCols = Seq("lang"), order = Seq("n" -> false, "token" -> true), k = 10)
          .select("lang", "token", "n", "rank")
          .orderBy("lang", "rank")
      },
      Some(s"""
        WITH t AS (
          SELECT lang, unnest(${duckTokens("text")}) AS token FROM documents
        ), c AS (
          SELECT lang, token, COUNT(*) AS n FROM t GROUP BY lang, token
        )
        SELECT lang, token, CAST(n AS BIGINT) AS n,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS INTEGER) AS rank
        FROM c QUALIFY rank <= 10 ORDER BY lang, rank
      """.trim)),

    // Per-document trigram repetition ratio — the standard repetition
    // quality filter (drop documents whose n-grams repeat heavily). distinct
    // vs total shingle counts; the ratio is two IEEE ops, engine-identical.
    Q(
      "q48_doc_repetition",
      (s, dir) => Tables.documents(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          greatest(size(col("__toks")) - 2, lit(0)).as("total_3grams"),
          size(NearDup.shingles(col("__toks"), 3)).as("distinct_3grams"))
        .withColumn("repetition",
          when(col("total_3grams") > 0,
            lit(1.0) - col("distinct_3grams").cast("double") / col("total_3grams"))
            .otherwise(lit(0.0)))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), s AS (
          SELECT doc_id,
                 CAST(greatest(len(w) - 2, 0) AS INTEGER) AS total_3grams,
                 CAST(len(${duckShingles("w", 3)}) AS INTEGER) AS distinct_3grams
          FROM t
        )
        SELECT doc_id, total_3grams, distinct_3grams,
               CASE WHEN total_3grams > 0
                    THEN 1.0 - CAST(distinct_3grams AS DOUBLE) / total_3grams
                    ELSE 0.0 END AS repetition
        FROM s ORDER BY doc_id
      """.trim)),

    // Sliding-window token chunking (context-window packing): one row per
    // overlapping 32-token window advancing by 24. Pure map-side Generate —
    // no shuffle, linear at 100 TB; chunk_fp doubles as a chunk-dedup key.
    Q(
      "q50_doc_chunks",
      (s, dir) => TextAnalysis.chunkFrame(
          Tables.documents(s, dir)
            .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id")),
          "doc_id", "text", window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some(s"""
        WITH t AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), s AS (
          SELECT doc_id, w, CAST(len(w) AS INTEGER) AS nt FROM t WHERE len(w) > 0
        ), c AS (
          SELECT doc_id, w, nt,
                 unnest(generate_series(0, (greatest(nt - 32, 0) + 23) // 24)) AS ci
          FROM s
        )
        SELECT doc_id,
               CAST(ci AS INTEGER) AS chunk_idx,
               CAST(least(32, nt - ci*24) AS INTEGER) AS n_tokens,
               ${TextHash.duckHash60(
                 "array_to_string(w[CAST(ci*24+1 AS BIGINT):CAST(least(ci*24+32, nt) AS BIGINT)], ' ')")} AS chunk_fp
        FROM c ORDER BY doc_id, chunk_idx
      """.trim)),

    // Vocabulary coverage / OOV rate: corpus top-20 vocabulary (count desc,
    // token asc — total order, so the LIMIT boundary is deterministic), then
    // per-document out-of-vocabulary token counts via a broadcast left join
    // against the tiny vocab. The vocab build is a distributed agg + top-k
    // collect; the probe side never shuffles by token at any scale.
    Q(
      "q51_vocab_coverage",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        val vocab = tok.groupBy("token").agg(count(lit(1)).as("__n"))
          .orderBy(col("__n").desc, col("token")).limit(20)
          .select(col("token"), lit(1).as("__in"))
        tok.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest(${duckTokens("text")}) AS token FROM documents
        ), vocab AS (
          SELECT token FROM (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
          ORDER BY n DESC, token LIMIT 20
        )
        SELECT t.doc_id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        FROM tok t LEFT JOIN vocab v ON t.token = v.token
        GROUP BY t.doc_id ORDER BY doc_id
      """.trim)),

    // Gopher-style composite quality-rule filter: per-language pass rates for
    // token-count bounds, mean-token-length bounds, trigram repetition, and
    // stopword-fraction floor. All rules are map-side expressions over the
    // materialized token array; one grouped agg by lang. Counts (not
    // booleans) are surfaced so the driver compare stays null-free.
    Q(
      "q52_quality_rules",
      (s, dir) => Tables.documents(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(col("lang"), TextAnalysis.tokens(col("text")).as("__toks"))
        .select(col("lang"),
          size(col("__toks")).as("__nt"),
          TextAnalysis.meanTokenLen(col("__toks")).as("__mtl"),
          TextAnalysis.stopwordRatio(col("__toks")).as("__swr"),
          greatest(size(col("__toks")) - 2, lit(0)).as("__t3"),
          size(NearDup.shingles(col("__toks"), 3)).as("__d3"))
        .withColumn("__rep",
          when(col("__t3") > 0,
            lit(1.0) - col("__d3").cast("double") / col("__t3"))
            .otherwise(lit(0.0)))
        .withColumn("__pass",
          (col("__nt") >= 20 && col("__nt") <= 1000 &&
            col("__mtl") >= 3.0 && col("__mtl") <= 10.0 &&
            col("__rep") < 0.5 &&
            col("__swr") >= 0.01).cast("int"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("__pass")).as("n_pass"))
        .withColumn("pass_rate",
          col("n_pass").cast("double") / col("n_docs").cast("double"))
        .orderBy("lang"),
      Some(s"""
        WITH t AS (
          SELECT lang, ${duckTokens("text")} AS w FROM documents
        ), m AS (
          SELECT lang,
                 CAST(len(w) AS INTEGER) AS nt,
                 CASE WHEN len(w) = 0 THEN 0.0
                      ELSE CAST(list_sum([CAST(len(x) AS BIGINT) FOR x IN w]) AS DOUBLE)
                           / CAST(len(w) AS DOUBLE) END AS mtl,
                 CASE WHEN len(w) = 0 THEN 0.0
                      ELSE CAST(len([x FOR x IN w IF x IN (${TextAnalysis.duckStopwords})]) AS DOUBLE)
                           / CAST(len(w) AS DOUBLE) END AS swr,
                 CAST(greatest(len(w) - 2, 0) AS INTEGER) AS t3,
                 CAST(len(${duckShingles("w", 3)}) AS INTEGER) AS d3
          FROM t
        ), r AS (
          SELECT lang, nt, mtl, swr,
                 CASE WHEN t3 > 0 THEN 1.0 - CAST(d3 AS DOUBLE) / t3 ELSE 0.0 END AS rep
          FROM m
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN nt >= 20 AND nt <= 1000
                              AND mtl >= 3.0 AND mtl <= 10.0
                              AND rep < 0.5 AND swr >= 0.01
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(SUM(CASE WHEN nt >= 20 AND nt <= 1000
                              AND mtl >= 3.0 AND mtl <= 10.0
                              AND rep < 0.5 AND swr >= 0.01
                         THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS pass_rate
        FROM r GROUP BY lang ORDER BY lang
      """.trim)),

    // Deterministic stratified sampling: per-language keep rates (en 50%,
    // others 20%) decided by the shared salted 60-bit hash bucket — a pure
    // scan-level filter (no shuffle, no rand()), so sample membership is
    // stable across runs, re-shards, and engines.
    Q(
      "q53_stratified_sample",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.stratumBucket(col("doc_id"), "#strata").as("bucket"))
        .filter(col("bucket") <
          when(col("lang") === "en", lit(5000L)).otherwise(lit(2000L)))
        .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id, lang,
               ${TextHash.duckHash60("CAST(doc_id AS VARCHAR) || '#strata'")} % 10000 AS bucket
        FROM documents
        WHERE ${TextHash.duckHash60("CAST(doc_id AS VARCHAR) || '#strata'")} % 10000
              < CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END
        ORDER BY doc_id
      """.trim)),

    // Uniform int8 embedding quantization (4x storage compression before ANN
    // sharding): per-vector min/max range, floor-quantized codes, checksum.
    // Pure map-side transform — no shuffle at any scale.
    Q(
      "q54_embed_quantize",
      (s, dir) => Tables.embeddings(s, dir)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("__dv"))
        .select(col("vec_id"), col("__dv"),
          array_min(col("__dv")).as("qmin"), array_max(col("__dv")).as("qmax"))
        .select(col("vec_id"),
          size(col("__dv")).cast("int").as("n_dims"),
          col("qmin"), col("qmax"),
          aggregate(Similarity.quantCodes(col("__dv"), col("qmin"), col("qmax")),
            lit(0L), (acc, q) => acc + q).as("qsum"))
        .orderBy("vec_id"),
      Some(s"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS dv FROM embeddings
        ), m AS (
          SELECT vec_id, dv, list_min(dv) AS qmin, list_max(dv) AS qmax FROM v
        )
        SELECT vec_id, CAST(len(dv) AS INTEGER) AS n_dims, qmin, qmax,
               CAST(CASE WHEN qmax > qmin
                    THEN list_sum([least(CAST(floor((x - qmin) * 255.0 / (qmax - qmin)) AS BIGINT), 255)
                                   FOR x IN dv])
                    ELSE 0 END AS BIGINT) AS qsum
        FROM m ORDER BY vec_id
      """.trim)),

    // Bigram collocation extraction (PMI-style association without log — a
    // pure count ratio, so the doubles are engine-identical): corpus bigram
    // counts joined to unigram counts; top-20 by (count, bigram) total order.
    // No join hints: the count tables are agg outputs, so AQE's runtime stats
    // pick broadcast here and shuffle at web-scale vocabularies.
    Q(
      "q55_collocations",
      (s, dir) => {
        val toksF = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(TextAnalysis.tokens(col("text")).as("__toks"))
        val bi = toksF.filter(size(col("__toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(__toks) - 1), i -> struct(element_at(__toks, i) AS w1, element_at(__toks, i + 1) AS w2))"))
            .as("__p"))
          .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= 5)
        val uni = toksF.select(explode(col("__toks")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n"))
        val total = uni.agg(sum(col("n")).as("__n_total"))
        bi
          .join(uni.select(col("word").as("w1"), col("n").as("n_a")), Seq("w1"))
          .join(uni.select(col("word").as("w2"), col("n").as("n_b")), Seq("w2"))
          .crossJoin(broadcast(total))
          .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
            col("n_ab"), col("n_a"), col("n_b"),
            ((col("n_ab").cast("double") * col("__n_total").cast("double"))
              / (col("n_a").cast("double") * col("n_b").cast("double"))).as("assoc"))
          .orderBy(col("n_ab").desc, col("bigram")).limit(20)
      },
      Some(s"""
        WITH t AS (
          SELECT ${duckTokens("text")} AS w FROM documents
        ), ix AS (
          SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t
        ), bc AS (
          SELECT w[i] AS w1, w[i+1] AS w2, COUNT(*) AS n_ab
          FROM ix GROUP BY w[i], w[i+1] HAVING COUNT(*) >= 5
        ), uni AS (
          SELECT word, COUNT(*) AS n FROM (SELECT unnest(w) AS word FROM t) GROUP BY word
        )
        SELECT b.w1 || ' ' || b.w2 AS bigram,
               CAST(b.n_ab AS BIGINT) AS n_ab,
               CAST(ua.n AS BIGINT) AS n_a,
               CAST(ub.n AS BIGINT) AS n_b,
               (CAST(b.n_ab AS DOUBLE) * CAST((SELECT SUM(n) FROM uni) AS DOUBLE))
                 / (CAST(ua.n AS DOUBLE) * CAST(ub.n AS DOUBLE)) AS assoc
        FROM bc b JOIN uni ua ON b.w1 = ua.word JOIN uni ub ON b.w2 = ub.word
        ORDER BY n_ab DESC, bigram LIMIT 20
      """.trim)),

    // Train/test decontamination (the eval-overlap sweep of a training-data
    // pipeline): hash-bucketed split assignment, distinct word 8-grams per
    // doc hashed to 60-bit fingerprints, then an inverted-index join on the
    // fingerprint between test and train — per test doc, how many train docs
    // share an 8-gram and how many distinct 8-grams leak. Joining on the
    // 8-byte hash (not the gram string) keeps the shuffle narrow at scale;
    // shuffle_hash avoids broadcasting a doc-linear side.
    Q(
      "q56_decontaminate",
      (s, dir) => {
        val grams = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"),
            TextAnalysis.splitAssign(col("doc_id"),
              Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"),
            explode(NearDup.shingles(TextAnalysis.tokens(col("text")), 8)).as("__g"))
          .select(col("doc_id"), col("split"), TextHash.hash60(col("__g")).as("fp"))
        val test = grams.filter(col("split") === "test")
          .select(col("doc_id").as("test_id"), col("fp"))
        val train = grams.filter(col("split") === "train")
          .select(col("doc_id").as("train_id"), col("fp"))
        test.join(train.hint("shuffle_hash"), Seq("fp"))
          .groupBy("test_id")
          .agg(countDistinct(col("train_id")).as("n_train_docs"),
            countDistinct(col("fp")).as("n_shared_grams"))
          .orderBy("test_id")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN ${TextHash.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                      WHEN ${TextHash.duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 ${duckShingles(duckTokens("text"), 8)} AS sh
          FROM documents
        ), g AS (
          SELECT doc_id, split, unnest(sh) AS gram FROM d
        ), h AS (
          SELECT doc_id, split, ${TextHash.duckHash60("gram")} AS fp FROM g
        )
        SELECT t.doc_id AS test_id,
               CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
               CAST(COUNT(DISTINCT t.fp) AS BIGINT) AS n_shared_grams
        FROM h t JOIN h tr ON t.fp = tr.fp
        WHERE t.split = 'test' AND tr.split = 'train'
        GROUP BY t.doc_id ORDER BY test_id
      """.trim)),

    // SRP-LSH ANN: sign-random-projection buckets (hyperplaneBucketFast —
    // the sign matrix pre-folded to literals, so bucketing is `planes`
    // codegen'd dot products per row, no per-row hashing), candidates
    // restricted to the query's bucket, exact cosine rank within. The
    // data-independent counterpart to IVF cells (q27/q44): no centroid fit
    // needed, recall tuned by plane count.
    Q(
      "q64_srp_ann",
      (s, dir) => {
        val b = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"),
            Similarity.hyperplaneBucketFast(col("embedding"), 6, 64).as("bucket"))
        Similarity.annTopKByCell(
            b.filter(col("vec_id") % 20 === 0), b, "vec_id", "embedding", "bucket", k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH sb AS (
          SELECT vec_id,
                 ${Similarity.duckHyperplaneBucket("embedding", "5")} AS bucket
          FROM embeddings
        ), e AS (
          SELECT v.vec_id, v.embedding, sb.bucket,
                 sqrt(${duckDot("v.embedding", "v.embedding")}) AS nrm
          FROM embeddings v JOIN sb ON v.vec_id = sb.vec_id
        )
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                          c.vec_id) AS INTEGER) AS rank,
               ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
        FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        WHERE q.vec_id % 20 = 0
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim)),

    // Token-blocklist scrub (PII-term / boilerplate removal shape): pure
    // map-side higher-order filter, no shuffle — the output text is the
    // order-preserving re-join of surviving tokens.
    Q(
      "q65_text_scrub",
      (s, dir) => {
        val bl = Seq("hash", "merge", "batch")
        // Tokenize ONCE below an exchange: the four token references above
        // would each inline the regexp+split pipeline if projected in the
        // same stage (CollapseProject), so the exchange is the
        // single-evaluation boundary — above it, __t is a plain shuffled
        // attribute and the scrub lambdas run over cheap column reads.
        Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__t"))
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"),
            size(col("__t")).as("n_tokens"),
            (size(col("__t")) - size(TextAnalysis.scrubTokens(col("__t"), bl)))
              .as("n_removed"),
            concat_ws(" ", TextAnalysis.scrubTokens(col("__t"), bl)).as("scrubbed"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(toks) - len(kept) AS INTEGER) AS n_removed,
               array_to_string(kept, ' ') AS scrubbed
        FROM (SELECT doc_id, ${duckTokens("text")} AS toks,
                     list_filter(${duckTokens("text")}, t -> t NOT IN ('hash', 'merge', 'batch')) AS kept
              FROM documents)
        ORDER BY doc_id
      """.trim)),

    // Keep-BEST dedup policy: one survivor per content fingerprint, chosen
    // by a total order (longest doc, id tie-break) — the standard
    // "keep the best copy" variant of q29's keep-first (engine
    // Dedup.keepFirstByKeyOrdered; one shuffle on the fingerprint).
    Q(
      "q66_dedup_keep_longest",
      (s, dir) => Dedup.keepFirstByKeyOrdered(
          Tables.documents(s, dir)
            .withColumn("fp", TextAnalysis.fingerprint(col("text"))),
          keys = Seq("fp"),
          order = Seq(col("n_chars").desc, col("doc_id")))
        .select("doc_id", "fp", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id, md5(${duckNormalizeText("text")}) AS fp, lang, source, n_chars
        FROM (SELECT *, row_number() OVER (
                PARTITION BY md5(${duckNormalizeText("text")})
                ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
        WHERE rn = 1 ORDER BY doc_id
      """.trim)),

    // The decode kernel end-to-end: synthesize media payloads, run the
    // mapPartitions decode stub (the real per-partition batched-kernel
    // plumbing; the codec body is the deterministic fake), and
    // oracle-verify its integer-sum/double-division feature math
    // bit-for-bit — payloads are ASCII text bytes, so DuckDB reproduces the
    // byte windows with ord(substr(...)).
    Q(
      "q68_decode_features",
      (s, dir) => {
        val d = Multimodal.decodeStub(
          Multimodal.synthesize(Tables.documents(s, dir)), dim = 8)
        // Flatten the feature vector for the compare (array cells don't
        // survive the driver's row-sorting hash); the array stays the
        // kernel's native output shape.
        d.select(Seq(col("media_id"), col("kind"), col("feat_mean"), col("feat_dim")) ++
            (0 until 8).map(i => element_at(col("features"), i + 1).as(s"feat_$i")): _*)
          .orderBy("media_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id AS media_id,
                 CASE (doc_id % 3 + 1) WHEN 1 THEN 'image' WHEN 2 THEN 'audio'
                   ELSE 'video' END AS kind,
                 text, length(text) AS n
          FROM documents
        ), fw AS (
          SELECT media_id, kind, f, n, text, greatest(n // 8, 1) AS win
          FROM m CROSS JOIN range(0, 8) t(f)
        ), feats AS (
          SELECT media_id, kind, f,
                 CASE WHEN least((f + 1) * win, n) - f * win <= 0 THEN 0.0
                      ELSE CAST(list_sum([ord(substr(text, CAST(i AS INTEGER), 1))
                             FOR i IN generate_series(CAST(f * win + 1 AS INTEGER),
                                                      CAST(least((f + 1) * win, n) AS INTEGER))])
                             AS DOUBLE)
                           / (least((f + 1) * win, n) - f * win) / 255.0 END AS feat
          FROM fw
        ), agg AS (
          SELECT media_id, kind,
                 MAX(CASE WHEN f = 0 THEN feat END) AS feat_0,
                 MAX(CASE WHEN f = 1 THEN feat END) AS feat_1,
                 MAX(CASE WHEN f = 2 THEN feat END) AS feat_2,
                 MAX(CASE WHEN f = 3 THEN feat END) AS feat_3,
                 MAX(CASE WHEN f = 4 THEN feat END) AS feat_4,
                 MAX(CASE WHEN f = 5 THEN feat END) AS feat_5,
                 MAX(CASE WHEN f = 6 THEN feat END) AS feat_6,
                 MAX(CASE WHEN f = 7 THEN feat END) AS feat_7
          FROM feats GROUP BY media_id, kind
        )
        SELECT media_id, kind,
               (((((((feat_0 + feat_1) + feat_2) + feat_3)
                 + feat_4) + feat_5) + feat_6) + feat_7) / 8 AS feat_mean,
               CAST(8 AS INTEGER) AS feat_dim,
               feat_0, feat_1, feat_2, feat_3, feat_4, feat_5, feat_6, feat_7
        FROM agg ORDER BY media_id
      """.trim)),

    // Sequence packing (chunked-concatenation): assign each doc (in corpus
    // order) to the fixed-capacity context window its FIRST token falls in.
    // The global prefix sum runs two-phase (Keys.globalRunningSum — range
    // partition + local running sums + broadcast offsets), never a
    // single-task window; integer token counts keep it hash-exact.
    Q(
      "q72_token_packing",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        Keys.globalRunningSum(toks, "doc_id", "n_tok", "cum_tok")
          .select(col("doc_id"), col("n_tok"), col("cum_tok"),
            floor((col("cum_tok") - col("n_tok")) / lit(2048)).cast("long").as("pack_id"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_tok FROM documents
        )
        SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum_tok,
               CAST((SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok)
                 // 2048 AS BIGINT) AS pack_id
        FROM t ORDER BY doc_id
      """.trim)),

    // Containment pairs: the asymmetric |A∩B|/|A| similarity that catches a
    // doc embedded in a larger one (symmetric Jaccard dilutes those).
    // Computed over the df-capped DISCRIMINATIVE shingle universe (dfCap=128,
    // oracle identical): shingles in >128 docs — boilerplate — are excluded
    // from intersections AND sizes, which both bounds the self-join (at most
    // cap^2 rows per shingle; the uncapped form was quadratic in the hottest
    // shingle's df) and stops boilerplate inflating the containment of small
    // docs. Integer counts only — no shingle arrays ever shuffle.
    Q(
      "q74_ngram_containment",
      // reads the materialized n=3 shingle frame (round 11 — this query was
      // the rehearsal's worst 10x ratio at 2.41, mostly the per-query
      // tokenize+shingle recompute); construction stays live-gated in q23/q24
      (s, dir) => NearDup.containmentPairsFromShingles(
          SharedFrames.docShingles(s, dir, 3), "doc_id", threshold = 0.8,
          dfCap = 128)
        .orderBy("id_a", "id_b"),
      Some(s"""
        WITH d AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 3)} AS sh FROM documents
        ), inv AS (
          SELECT doc_id, unnest(sh) AS s FROM d
        ), rare AS (
          SELECT s FROM inv GROUP BY s HAVING COUNT(*) <= 128
        ), cinv AS (
          SELECT doc_id, s FROM inv JOIN rare USING (s)
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n FROM cinv GROUP BY doc_id
        ), pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM cinv a JOIN cinv b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
               CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b
        FROM pairs
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE greatest(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
                       CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.8
        ORDER BY id_a, id_b
      """.trim)),

    // Count-min sketch heavy-hitter estimates: the 4x256-cell sketch is a
    // constant-size aggregate of the whole corpus (always broadcastable);
    // estimates for the true top-10 tokens sit alongside their exact counts
    // so the one-sided CMS error is visible in the output. Deterministic
    // row hashes make the sketch itself engine-reproducible.
    Q(
      "q76_cms_heavy_hitters",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val cells = Sketches.cmsCells(tok, "token", depth = 4, width = 256)
        val exact = tok.groupBy("token").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("token")).limit(10)
        Sketches.cmsEstimate(cells, exact, "token", depth = 4, width = 256)
          .join(exact, Seq("token"))
          .select("token", "exact_n", "cms_est")
          .orderBy(col("exact_n").desc, col("token"))
      },
      Some(s"""
        WITH tok AS (
          SELECT unnest(${duckTokens("text")}) AS token FROM documents
        ), cells AS (
          SELECT j, h % 256 AS bucket, COUNT(*) AS cnt FROM (
            SELECT r.j AS j,
                   ${TextHash.duckHash60("'cms' || CAST(r.j AS VARCHAR) || ':' || token")} AS h
            FROM tok CROSS JOIN range(0, 4) r(j))
          GROUP BY 1, 2
        ), exact AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok
          GROUP BY token ORDER BY exact_n DESC, token LIMIT 10
        ), est AS (
          SELECT token, CAST(MIN(cnt) AS BIGINT) AS cms_est FROM (
            SELECT e.token AS token, r.j AS j,
                   ${TextHash.duckHash60("'cms' || CAST(r.j AS VARCHAR) || ':' || e.token")}
                     % 256 AS bucket
            FROM exact e CROSS JOIN range(0, 4) r(j)) p
          JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
          GROUP BY token
        )
        SELECT e.token AS token, e.exact_n, est.cms_est
        FROM exact e JOIN est ON e.token = est.token
        ORDER BY exact_n DESC, token
      """.trim)),

    // Corpus n-gram diversity per source: distinct-vs-total trigram ratio
    // (per-doc-distinct basis — the corpus-level complement of q48's
    // per-doc repetition score). One explode + one aggregate; the ratio is
    // a single exact double division.
    Q(
      "q79_source_diversity",
      (s, dir) => {
        val g = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("source"),
            explode(NearDup.shingles(TextAnalysis.tokens(col("text")), 3)).as("g"))
        g.groupBy("source")
          .agg(count(lit(1)).as("n_grams"), countDistinct(col("g")).as("n_distinct"))
          .select(col("source"), col("n_grams"), col("n_distinct"),
            (col("n_distinct").cast("double") / col("n_grams").cast("double"))
              .as("diversity"))
          .orderBy("source")
      },
      Some(s"""
        WITH g AS (
          SELECT source, unnest(${duckShingles(duckTokens("text"), 3)}) AS g FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
               CAST(COUNT(DISTINCT g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS diversity
        FROM g GROUP BY source ORDER BY source
      """.trim)),

    // Quality-WEIGHTED subsampling: each doc's keep probability is
    // quality/2, decided by comparing its deterministic hash bucket to
    // floor(quality*5000) — per-ROW rates (the curation "sample better
    // data more" pass), vs q53's fixed per-stratum rates. Pure map-side
    // filter; membership stable across runs, shards, and engines.
    Q(
      "q90_quality_weighted_sample",
      (s, dir) => {
        val base = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), TextAnalysis.tokens(col("text")).as("__toks"))
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), col("lang"),
            TextAnalysis.qualityScore(col("__toks")).as("quality"))
        base.filter(TextAnalysis.stratumBucket(col("doc_id"), "qw")
            < floor(col("quality") * 5000.0).cast("long"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH base AS (
          SELECT doc_id, lang, ${duckTokens("text")} AS w FROM documents
        ), feat AS (
          SELECT doc_id, lang,
                 CAST(len(w) AS INTEGER) AS n_tokens,
                 len(list_filter(w, t -> t IN (${TextAnalysis.duckStopwords}))) AS n_stop,
                 CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE) AS sum_len
          FROM base
        ), q AS (
          SELECT doc_id, lang,
                 0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                   + 0.3 * (CASE WHEN n_tokens = 0 THEN 0.0
                                 ELSE CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) END)
                   + 0.2 * least((CASE WHEN n_tokens = 0 THEN 0.0
                                       ELSE sum_len / CAST(n_tokens AS DOUBLE) END) / 8.0, 1.0)
                   AS quality
          FROM feat
        )
        SELECT doc_id, lang, quality FROM q
        WHERE (${TextHash.duckHash60("CAST(doc_id AS VARCHAR) || 'qw'")} % 10000)
                < CAST(floor(quality * 5000.0) AS BIGINT)
        ORDER BY doc_id
      """.trim)),

    // ANN recall@3 evaluation: the SRP-bucketed index's top-3 vs the
    // brute-force ground truth, per probe query — the index-quality metric
    // every ANN deployment tracks, computed distributedly (semi join on
    // (query, neighbor); counts + one exact division).
    Q(
      "q97_ann_recall",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val b = e.select(col("vec_id"), col("embedding"),
          Similarity.hyperplaneBucketFast(col("embedding"), 6, 64).as("bucket"))
        // FIXED 50 hash-ordered probes (bounded-probe convention, r8
        // sweep), the SAME set on both the indexed and brute side
        val probes = Similarity.hashOrderedProbes(b, "vec_id", "probe", 50)
        val ann = Similarity.annTopKByCell(probes, b, "vec_id", "embedding", "bucket", k = 3)
          .select("query_id", "neighbor_id")
        val brute = Similarity.topKCosine(
            probes.drop("bucket"), e, "vec_id", "embedding", k = 3)
          .select("query_id", "neighbor_id")
        val base = brute.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        val hits = brute.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        base.join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("n_true"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)).cast("double")
              / col("n_true").cast("double")).as("recall"))
          .orderBy("query_id")
      },
      Some(s"""
        WITH sb AS (
          SELECT vec_id,
                 ${Similarity.duckHyperplaneBucket("embedding", "5")} AS bucket
          FROM embeddings
        ), e AS (
          SELECT v.vec_id, v.embedding, sb.bucket,
                 sqrt(${duckDot("v.embedding", "v.embedding")}) AS nrm
          FROM embeddings v JOIN sb ON v.vec_id = sb.vec_id
        ), ann AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                              c.vec_id) AS rnk
            FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)})
          WHERE rnk <= 3
        ), brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                              c.vec_id) AS rnk
            FROM e q CROSS JOIN e c
            WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)}
              AND c.vec_id <> q.vec_id)
          WHERE rnk <= 3
        ), hits AS (
          SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM brute b WHERE EXISTS (
            SELECT 1 FROM ann a
            WHERE a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id)
          GROUP BY b.query_id
        ), base AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_true
          FROM brute GROUP BY query_id
        )
        SELECT base.query_id AS query_id, n_true,
               COALESCE(n_hits, 0) AS n_hits,
               CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
        FROM base LEFT JOIN hits ON base.query_id = hits.query_id
        ORDER BY query_id
      """.trim)),

    // Prefix-filtered exact Jaccard pairs (SSJoin/PPJoin prefix filter):
    // threshold-complete candidates from hash-ordered shingle PREFIXES
    // (~20% of the postings at t=0.8), exact-verified — the scale form of
    // exact pair detection. Oracle: the SAME SQL as q23's inverted-index
    // plan; identical output proves the prefix filter loses nothing.
    Q(
      "q101_prefix_jaccard",
      // shares q74's materialized n=3 shingle frame (round 11); the prefix
      // filter + exact verify run unchanged over the read-back postings
      (s, dir) => NearDup.prefixJaccardPairsFromShingles(
          SharedFrames.docShingles(s, dir, 3), "doc_id", tNum = 4, tDen = 5)
        .orderBy("id_a", "id_b"),
      Some(ExactJaccardPairsSql)),

    // Duplicate-n-gram coverage: per-document fraction of distinct 8-grams
    // shared with any other document — the Gopher/FineWeb corpus-duplication
    // diagnostic that picks document- vs span-level dedup.
    Q(
      "q102_dup_ngram_coverage",
      (s, dir) => NearDup.dupNgramCoverage(
          Tables.documents(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some(s"""
        WITH d AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 8)} AS sh FROM documents
        ), inv AS (
          SELECT doc_id, unnest(sh) AS s FROM d WHERE len(sh) > 0
        ), df AS (
          SELECT s, COUNT(*) AS df FROM inv GROUP BY s
        )
        SELECT inv.doc_id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        FROM inv JOIN df ON inv.s = df.s
        GROUP BY inv.doc_id ORDER BY doc_id
      """.trim)),

    // Spearman rank correlation (chars vs tokens, per language): ties get
    // average ranks kept INTEGER by doubling (2*min_rank + tie_count - 1),
    // so every Pearson-on-ranks sum is exact in both engines; the only
    // doubles are the final casts, one sqrt each, and one division.
    Q(
      "q104_spearman",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
        val d = Tables.documents(s, dir)
          .select(col("lang"), col("n_chars"),
            size(TextAnalysis.tokens(col("text"))).as("__nt"))
        val rx = (rank().over(w.partitionBy("lang").orderBy("n_chars")) * 2
          + count(lit(1)).over(w.partitionBy("lang", "n_chars")) - 1).cast("long")
        val ry = (rank().over(w.partitionBy("lang").orderBy("__nt")) * 2
          + count(lit(1)).over(w.partitionBy("lang", "__nt")) - 1).cast("long")
        val g = d.select(col("lang"), rx.as("__rx"), ry.as("__ry"))
          .groupBy("lang").agg(
            count(lit(1)).as("__n"),
            sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
            sum(col("__rx") * col("__ry")).as("__sxy"),
            sum(col("__rx") * col("__rx")).as("__sxx"),
            sum(col("__ry") * col("__ry")).as("__syy"))
        val vx = g("__n") * g("__sxx") - g("__sx") * g("__sx")
        val vy = g("__n") * g("__syy") - g("__sy") * g("__sy")
        g.select(col("lang"), col("__n").as("n_docs"),
            when(vx === 0 || vy === 0, lit(null).cast("double"))
              .otherwise((col("__n") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
                / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
              .as("spearman"))
          .orderBy("lang")
      },
      Some(s"""
        WITH t AS (
          SELECT lang, n_chars, CAST(len(${duckTokens("text")}) AS BIGINT) AS nt FROM documents
        ), r AS (
          SELECT lang,
                 2 * rank() OVER (PARTITION BY lang ORDER BY n_chars)
                   + COUNT(*) OVER (PARTITION BY lang, n_chars) - 1 AS rx,
                 2 * rank() OVER (PARTITION BY lang ORDER BY nt)
                   + COUNT(*) OVER (PARTITION BY lang, nt) - 1 AS ry
          FROM t
        ), g AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
                 CAST(SUM(rx * ry) AS BIGINT) AS sxy,
                 CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                 CAST(SUM(ry * ry) AS BIGINT) AS syy
          FROM r GROUP BY lang
        )
        SELECT lang, n AS n_docs,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                            * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
               END AS spearman
        FROM g ORDER BY lang
      """.trim)),

    // Prefix-fingerprint dedup: crawl snapshots routinely differ only in a
    // trailing boilerplate suffix, so keying on the md5 of the first 80
    // normalized chars catches head-identical docs that whole-text md5
    // misses. One hash-groupBy — the same single-shuffle scale shape as
    // exact dedup. Output: one survivor (min id) per prefix group.
    Q(
      "q105_prefix_dedup",
      (s, dir) => Tables.documents(s, dir)
        .select(md5(substring(Cleaning.normalizeText(col("text")), 1, 80)).as("__fp"),
          col("doc_id"))
        .groupBy("__fp")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_dups"))
        .select("doc_id", "n_dups")
        .orderBy("doc_id"),
      Some(s"""
        SELECT min(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM (SELECT doc_id, md5(substr(${duckNormalizeText("text")}, 1, 80)) AS fp FROM documents)
        GROUP BY fp ORDER BY doc_id
      """.trim)),

    // Winnowing fingerprints (MOSS): window-min over positional 4-gram
    // hashes, w=4 — any shared 7-word run yields a common fingerprint.
    Q(
      "q106_winnowing",
      (s, dir) => NearDup.winnowFingerprints(
          Tables.documents(s, dir), "doc_id", "text", n = 4, w = 4)
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), gr AS (
          SELECT doc_id,
                 [array_to_string(w[i:i+3], ' ')
                  FOR i IN generate_series(1, len(w) - 3)] AS g
          FROM t
        ), gh AS (
          SELECT doc_id, [${TextHash.duckHash60("x")} FOR x IN g] AS gh
          FROM gr
        ), wins AS (
          SELECT doc_id, CAST(len(gh) AS INTEGER) AS n_grams,
                 list_distinct([list_min(gh[i:i+3])
                                FOR i IN generate_series(1, len(gh) - 3)]) AS fps
          FROM gh WHERE len(gh) >= 4
        )
        SELECT doc_id, n_grams, CAST(len(fps) AS INTEGER) AS n_fps,
               CAST(list_min(fps) AS BIGINT) AS min_fp
        FROM wins ORDER BY doc_id
      """.trim)),

    // Embedding L2 norms + coarse norm bands: the normalization/diagnostic
    // pass before cosine ANN (a norm-0 or extreme-norm vector is a data
    // bug). Norm = sqrt of the fixed-order double fold; band = floor(norm*4)
    // (power-of-two scaling — exact in IEEE, so the band edges agree across
    // engines). Pure map-side expression work.
    Q(
      "q107_embedding_norms",
      (s, dir) => {
        val nrm = sqrt(Similarity.dot(col("embedding"), col("embedding")))
        Tables.embeddings(s, dir)
          .select(col("vec_id"), nrm.as("l2_norm"),
            floor(nrm * 4).cast("int").as("norm_band"))
          .orderBy("vec_id")
      },
      Some(s"""
        SELECT vec_id,
               sqrt(${duckDot("embedding", "embedding")}) AS l2_norm,
               CAST(floor(sqrt(${duckDot("embedding", "embedding")}) * 4) AS INTEGER)
                 AS norm_band
        FROM embeddings ORDER BY vec_id
      """.trim)),

    // One FULL Lloyd iteration (k-means step): label-seeded exact centroids
    // -> nearest-centroid reassignment (q39's argmin) -> recomputed exact
    // centroids of the NEW cells, exploded (cell, dim, mean). Iterating this
    // operator to convergence is the IVF index build; every stage is the
    // bounded-aggregate / broadcast-argmin shape that scales.
    Q(
      "q108_lloyd_iteration",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val assigned = Similarity.assignToNearestCentroid(
            e, "vec_id", "embedding",
            Similarity.exactCentroids(e, "embedding", "label"))
          .select(col("vec_id"), col("cell"))
        val scale = lit(281474976710656.0) // 2^48, lossless float exponent shift
        assigned.join(e.select("vec_id", "embedding"), Seq("vec_id"))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("cell", "dim")
          .agg((sum((col("v").cast("double") * scale).cast("decimal(38,0)")).cast("double")
            / scale / count(lit(1))).as("mean"))
          .orderBy("cell", "dim")
      },
      Some(s"""
        WITH ${Similarity.duckExactCentroids("m", "c", "embeddings")}, p AS (
          SELECT e.vec_id, c.cell,
                 ${duckD2("e.embedding", "c.centroid", "len(e.embedding)")} AS dist2
          FROM embeddings e CROSS JOIN c
        ), a AS (
          SELECT vec_id, cell FROM p
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
        )
        SELECT a.cell AS cell, CAST(u.i - 1 AS INTEGER) AS dim,
               ${Similarity.duckExactMean("u.v")} AS mean
        FROM embeddings e JOIN a ON e.vec_id = a.vec_id,
             LATERAL (SELECT unnest(e.embedding) AS v,
                             generate_subscripts(e.embedding, 1) AS i) u
        GROUP BY a.cell, dim
        ORDER BY cell, dim
      """.trim)),

    // Character-class quality profile: digit/whitespace/vowel counts and the
    // alpha ratio per document — the cheap script/garbage signals a curation
    // pipeline computes on every document before any tokenization. Counts
    // via length-difference of class-stripped text: pure map-side regexp,
    // integer-exact in both engines.
    Q(
      "q113_char_classes",
      (s, dir) => {
        val t = col("text")
        def stripped(re: String) = length(t) - length(regexp_replace(t, re, ""))
        Tables.documents(s, dir)
          .select(col("doc_id"), length(t).as("n_chars_raw"),
            stripped("[0-9]").as("n_digits"),
            stripped("\\s").as("n_spaces"),
            stripped("[aeiou]").as("n_vowels"),
            (stripped("[a-z]").cast("double") / length(t).cast("double"))
              .as("alpha_ratio"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, CAST(len(text) AS INTEGER) AS n_chars_raw,
               CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS INTEGER)
                 AS n_digits,
               CAST(len(text) - len(regexp_replace(text, '\s', '', 'g')) AS INTEGER)
                 AS n_spaces,
               CAST(len(text) - len(regexp_replace(text, '[aeiou]', '', 'g')) AS INTEGER)
                 AS n_vowels,
               CAST(len(text) - len(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
                 / CAST(len(text) AS DOUBLE) AS alpha_ratio
        FROM documents ORDER BY doc_id
      """.trim)),

    // Generator null-semantics surface: posexplode_outer keeps a (null, null)
    // row for documents whose filtered token array is EMPTY (here: tokens of
    // >= 8 chars) — the outer-generate behavior plain explode silently drops.
    // The rollup distinguishes the two counts: n_rows counts the null row,
    // n_long_toks does not.
    Q(
      "q114_explode_outer",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          filter(TextAnalysis.tokens(col("text")), t => length(t) >= 8).as("__lt"))
        .select(col("doc_id"), posexplode_outer(col("__lt")).as(Seq("pos", "tok")))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("tok")).as("n_long_toks"),
          min(col("tok")).as("first_tok"))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (
          SELECT doc_id, list_filter(${duckTokens("text")}, x -> len(x) >= 8) AS lt FROM documents
        )
        SELECT doc_id,
               CAST(GREATEST(len(lt), 1) AS BIGINT) AS n_rows,
               CAST(len(lt) AS BIGINT) AS n_long_toks,
               CASE WHEN len(lt) = 0 THEN NULL ELSE list_sort(lt)[1] END AS first_tok
        FROM t ORDER BY doc_id
      """.trim)),

    // Array-function surface over token arrays: sort/slice/distinct/contains/
    // overlap/flatten/join — the collection toolkit the shingle and chunking
    // operators build from, exercised directly. Map-side only.
    Q(
      "q117_array_funcs",
      (s, dir) => {
        val toks = TextAnalysis.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("__t"))
          .select(col("doc_id"),
            size(col("__t")).as("n_toks"),
            size(array_distinct(col("__t"))).as("n_distinct"),
            array_contains(col("__t"), "data").as("has_data"),
            arrays_overlap(col("__t"), array(lit("spark"), lit("query"))).as("has_any"),
            array_join(slice(array_sort(array_distinct(col("__t"))), 1, 3), "-")
              .as("first3_sorted"),
            size(flatten(array(slice(col("__t"), 1, 2), slice(col("__t"), -2, 2))))
              .as("n_ends"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, ${duckTokens("text")} AS lt FROM documents)
        SELECT doc_id,
               CAST(len(lt) AS INTEGER) AS n_toks,
               CAST(len(list_distinct(lt)) AS INTEGER) AS n_distinct,
               list_contains(lt, 'data') AS has_data,
               list_has_any(lt, ['spark', 'query']) AS has_any,
               array_to_string(list_sort(list_distinct(lt))[1:3], '-') AS first3_sorted,
               CAST(len(flatten([lt[1:2], lt[-2:]])) AS INTEGER) AS n_ends
        FROM t ORDER BY doc_id
      """.trim)),

    // One BPE-training iteration: corpus frequencies of adjacent character
    // pairs within words (every occurrence counts, not per-doc-distinct) —
    // the argmax pair IS the next BPE merge. Char-pair explosion is the
    // CPU-heavy map stage (spread by doc first), the count is one hash
    // aggregate over a bounded pair universe, and the top-20 is a total-order
    // LIMIT over that constant-size frame.
    Q(
      "q118_bpe_pairs",
      (s, dir) => Tables.documents(s, dir)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(explode(TextAnalysis.tokens(col("text"))).as("__w"))
        .filter(length(col("__w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("__w")) - 1),
          i => col("__w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20),
      Some(s"""
        WITH w AS (
          SELECT unnest(${duckTokens("text")}) AS w FROM documents
        ), p AS (
          SELECT unnest([substr(w, CAST(i AS INTEGER), 2)
                         FOR i IN generate_series(1, len(w) - 1)]) AS pair
          FROM w WHERE len(w) >= 2
        )
        SELECT pair, COUNT(*) AS n FROM p
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20
      """.trim)),

    // Product quantization codes (the IVF-PQ compression path): the 64-dim
    // embedding splits into two 32-dim subspaces; each gets its own exact
    // label-seeded codebook (10 sub-centroids), and every vector is coded by
    // its nearest sub-centroid per subspace — 2 bytes per vector instead of
    // 256, the standard memory layout for billion-scale ANN. Codebooks are
    // constant-size (broadcast); assignment is the k=1 heap argmin; both
    // subspace pipelines are doc-linear with one join on vec_id.
    Q(
      "q119_pq_codes",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        def sub(i: Int) = slice(col("embedding"), i * 32 + 1, 32)
        val parts = e.select(col("vec_id"), col("label"),
          sub(0).as("s0"), sub(1).as("s1"))
        def codes(c: String, out: String) = Similarity.assignToNearestCentroid(
            parts.select(col("vec_id"), col(c)), "vec_id", c,
            Similarity.exactCentroids(parts.select(col("label"), col(c)), c, "label"))
          .select(col("vec_id"), col("cell").as(out))
        codes("s0", "code0").join(codes("s1", "code1"), Seq("vec_id"))
          .orderBy("vec_id")
      },
      Some {
        def half(j: Int, code: String) = {
          val lo = j * 32 + 1
          val hi = j * 32 + 32
          s"""m$j AS (
          SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
                 ${Similarity.duckExactMean("u.v")} AS mean
          FROM embeddings,
               LATERAL (SELECT unnest(embedding[$lo:$hi]) AS v,
                               generate_subscripts(embedding[$lo:$hi], 1) AS i) u
          GROUP BY label, dim
        ), c$j AS (
          SELECT label AS cell, list(mean ORDER BY dim) AS centroid FROM m$j GROUP BY label
        ), p$j AS (
          SELECT e.vec_id, c.cell,
                 list_sum([(CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           * (CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           FOR i IN generate_series(1, 32)]) AS dist2
          FROM embeddings e CROSS JOIN c$j c
        ), a$j AS (
          SELECT vec_id, cell AS $code FROM p$j
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
        )"""
        }
        s"""
        WITH ${half(0, "code0")}, ${half(1, "code1")}
        SELECT a0.vec_id, a0.code0, a1.code1
        FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
        ORDER BY a0.vec_id
      """.trim
      }),

    // Feature-hashing vectorizer (the "hashing trick"): tokens hash into a
    // fixed K=16-bucket count vector — constant-width featurization for
    // linear probes / cheap clustering when a learned vocabulary can't be
    // built at corpus scale. One explode + one hash agg + an explicit-value
    // pivot (K is constant, never data-dependent, so the pivot is one
    // ordinary aggregate); the dense vector is emitted space-joined so the
    // compared output stays scalar.
    Q(
      "q124_feature_hashing",
      (s, dir) => {
        val k = 16
        Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .withColumn("bucket", pmod(TextHash.hash60(col("tok")), lit(k.toLong)))
          .groupBy("doc_id").pivot("bucket", 0 until k)
          .agg(count(lit(1)))
          .na.fill(0)
          .select(col("doc_id"),
            concat_ws(" ", (0 until k).map(i => col(i.toString)): _*).as("fvec"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(${duckTokens("text")}) AS tok FROM documents
        ), counts AS (
          SELECT doc_id, ${TextHash.duckHash60("tok")} % 16 AS bucket, COUNT(*) AS cnt
          FROM toks GROUP BY 1, 2
        ), grid AS (
          SELECT doc_id, t.b FROM documents CROSS JOIN range(0, 16) t(b)
        )
        SELECT g.doc_id,
               string_agg(CAST(COALESCE(c.cnt, 0) AS VARCHAR), ' ' ORDER BY g.b) AS fvec
        FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.b = c.bucket
        GROUP BY g.doc_id ORDER BY g.doc_id
      """.trim)),

    // Chunking round-trip integrity (pack/unpack audit): non-overlapping
    // 32-token chunks reassemble into the exact normalized text via
    // order-preserving array_sort(collect_list(struct(idx, chunk))) — the
    // invariant a context-window packer must hold before chunks feed
    // training. Chunking is a shuffle-free Generate; reassembly is one
    // groupBy whose per-doc state is the doc itself (bounded by doc size).
    Q(
      "q128_chunk_roundtrip",
      (s, dir) => {
        val W = 32
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        val chunks = d
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), ((size(col("toks")) - 1) / W).cast("int"))).as("ci"))
          .select(col("doc_id"), col("ci"),
            array_join(slice(col("toks"), col("ci") * W + 1, lit(W)), " ").as("chunk"))
        chunks.groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            array_join(transform(
              array_sort(collect_list(struct(col("ci"), col("chunk")))),
              x => x.getField("chunk")), " ").as("rebuilt"))
          .join(d.select(col("doc_id"), array_join(col("toks"), " ").as("norm")),
            Seq("doc_id"))
          .select(col("doc_id"), col("n_chunks"),
            (col("rebuilt") === col("norm")).as("roundtrip_ok"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), chunks AS (
          SELECT doc_id, t.ci,
                 array_to_string(w[CAST(t.ci*32+1 AS BIGINT):CAST(t.ci*32+32 AS BIGINT)], ' ') AS chunk
          FROM toks CROSS JOIN UNNEST(generate_series(0, (len(w)-1)//32)) t(ci)
        )
        SELECT c.doc_id, COUNT(*) AS n_chunks,
               string_agg(c.chunk, ' ' ORDER BY c.ci) = array_to_string(t.w, ' ')
                 AS roundtrip_ok
        FROM chunks c JOIN toks t USING (doc_id)
        GROUP BY c.doc_id, array_to_string(t.w, ' ')
        ORDER BY c.doc_id
      """.trim)),

    // LATERAL VIEW through the SQL front door (q87's entry path + the Hive-
    // compat generator syntax): explode inside a SQL string, long-token
    // vocabulary per language. Catalyst plans the same Generate operator the
    // DataFrame explode produces — one syntax surface, one plan.
    Q(
      "q136_lateral_view_sql",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("v_documents_lv")
        s.sql(raw"""
          SELECT lang, tok, COUNT(*) AS n
          FROM v_documents_lv
          LATERAL VIEW explode(split(regexp_replace(trim(lower(text)), '\\s+', ' '), ' ')) t AS tok
          WHERE length(tok) >= 8
          GROUP BY lang, tok
          ORDER BY lang, tok
        """)
      },
      Some(s"""
        SELECT lang, t.tok, COUNT(*) AS n
        FROM documents CROSS JOIN UNNEST(${duckTokens("text")}) t(tok)
        WHERE length(t.tok) >= 8
        GROUP BY lang, t.tok
        ORDER BY lang, t.tok
      """.trim)),

    // Embedding-level dedup RESOLUTION (q37 finds the pairs; this drops the
    // losers): keep a vector iff it has no smaller-id near-duplicate — the
    // same keep-lowest policy as the MinHash dedup (q36), applied to the
    // ANN-pruned cosine pairs. The drop list is corpus-linear, so the anti
    // join is hinted shuffle_hash, never a broadcast build.
    Q(
      "q141_embedding_dedup",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val drops = Similarity.embeddingNearDupPairs(
            e, "vec_id", "embedding", "label", threshold = 0.4)
          .select(col("id_b").as("vec_id")).distinct()
        e.join(drops.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        ), drops AS (
          SELECT DISTINCT b.vec_id
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
        )
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)
        ORDER BY vec_id
      """.trim)),

    // Retrieval + quality rerank (the end-to-end RAG-curation pipeline):
    // ANN top-5 by cosine, neighbors joined to their documents' quality
    // scores, re-ranked by cosine x quality, top-3 kept. Composes the
    // similarity, text-quality, and heap-top-k layers in one plan; the
    // probe set stays bounded (broadcast), the corpus side streams.
    Q(
      "q142_retrieval_rerank",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val hits = Similarity.topKCosine(
          Similarity.hashOrderedProbes(e, "vec_id", "probe", 50),
          e, "vec_id", "embedding", k = 5)
        val qual = Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))).as("quality"))
        val scored = hits.join(qual, hits("neighbor_id") === qual("doc_id"))
          .select(col("query_id"), col("neighbor_id"),
            (col("cosine") * col("quality")).as("rerank"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("rerank").desc, col("neighbor_id"))
        scored.withColumn("rr", row_number().over(w))
          .filter(col("rr") <= 3)
          .orderBy("query_id", "rr")
      },
      Some {
        val quality = """0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0
                               ELSE CAST(len(list_filter(w, t -> t IN (""" + TextAnalysis.duckStopwords + """))) AS DOUBLE)
                                    / CAST(len(w) AS DOUBLE) END)
                 + 0.2 * least((CASE WHEN len(w) = 0 THEN 0.0
                                     ELSE CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE)
                                          / CAST(len(w) AS DOUBLE) END) / 8.0, 1.0)"""
        s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        ), cand AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS r
          FROM e q CROSS JOIN e c
          WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)}
            AND c.vec_id <> q.vec_id
          QUALIFY r <= 5
        ), qual AS (
          SELECT doc_id, $quality AS quality
          FROM (SELECT doc_id, ${duckTokens("text")} AS w FROM documents)
        )
        SELECT query_id, neighbor_id, cosine * quality AS rerank,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine * quality DESC, neighbor_id) AS INTEGER) AS rr
        FROM cand JOIN qual ON qual.doc_id = cand.neighbor_id
        QUALIFY rr <= 3
        ORDER BY query_id, rr
      """.trim
      }),

    // One-row corpus summary (the dataset-card numbers): doc/token/char
    // totals, language breadth, exact-duplicate share — integer-only
    // aggregates plus single final divisions, so the report is engine-exact.
    // The fingerprint duplicate count joins the constant-size df table back
    // to the docs (same shape as the z-score stats join).
    Q(
      "q143_corpus_summary",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
        val fpCounts = d.groupBy("fp").agg(count(lit(1)).as("c"))
        d.join(fpCounts.hint("shuffle_hash"), Seq("fp"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(col("n_toks")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars_total"),
            expr("count_if(c > 1)").as("n_dup_docs"))
          .withColumn("mean_tokens",
            col("n_tokens").cast("double") / col("n_docs").cast("double"))
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, n_chars, md5(${duckNormalizeText("text")}) AS fp,
                 len(${duckTokens("text")}) AS n_toks
          FROM documents
        ), fc AS (SELECT fp, COUNT(*) AS c FROM d GROUP BY fp)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
               CAST(count_if(c > 1) AS BIGINT) AS n_dup_docs,
               CAST(SUM(n_toks) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
        FROM d JOIN fc USING (fp)
      """.trim)),

    // Late-interaction (ColBERT-style) max-sim retrieval: 4x16-dim
    // sub-vectors, score = sum over query subs of the best cosine against
    // any document sub — catches aspect matches a single pooled cosine
    // dilutes. The oracle re-derives per-(pair, qi) bests relationally and
    // adds them through MAX(CASE) pivots in fixed index order (a relational
    // SUM over doubles would be merge-order-dependent).
    Q(
      "q155_maxsim_retrieval",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.maxSimTopK(
            Similarity.hashOrderedProbes(e, "vec_id", "maxsim", 20),
            e, "vec_id", "embedding",
            subs = 4, subDim = 16, k = 3)
          .orderBy("query_id", "rank")
      },
      Some {
        def subDot(qs: String, cs: String, qi: String, cj: String) =
          s"""list_sum([CAST($qs.embedding[i + $qi*16] AS DOUBLE)
                        * CAST($cs.embedding[i + $cj*16] AS DOUBLE)
                        FOR i IN generate_series(1, 16)])"""
        s"""
        WITH sub AS (
          SELECT vec_id, t.i AS si,
                 sqrt(list_sum([CAST(embedding[j + t.i*16] AS DOUBLE)
                                * CAST(embedding[j + t.i*16] AS DOUBLE)
                                FOR j IN generate_series(1, 16)])) AS nrm
          FROM embeddings CROSS JOIN range(0, 4) t(i)
        ), cosed AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sq.si AS qi, sc.si AS cj,
                 ${subDot("q", "c", "sq.si", "sc.si")} / (sq.nrm * sc.nrm) AS cos
          FROM embeddings q
          JOIN embeddings c
            ON q.vec_id IN ${duckProbes("embeddings", "vec_id", "maxsim", 20)}
           AND c.vec_id <> q.vec_id
          JOIN sub sq ON sq.vec_id = q.vec_id
          JOIN sub sc ON sc.vec_id = c.vec_id
        ), best AS (
          SELECT query_id, neighbor_id, qi, MAX(cos) AS b
          FROM cosed GROUP BY 1, 2, 3
        ), scored AS (
          SELECT query_id, neighbor_id,
                 MAX(CASE WHEN qi = 0 THEN b END)
                   + MAX(CASE WHEN qi = 1 THEN b END)
                   + MAX(CASE WHEN qi = 2 THEN b END)
                   + MAX(CASE WHEN qi = 3 THEN b END) AS maxsim
          FROM best GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY maxsim DESC, neighbor_id) AS INTEGER) AS rank,
               maxsim
        FROM scored
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim
      }),

    // Matryoshka two-stage retrieval: head-16-dim cosine shortlists 20
    // candidates per probe (a quarter of the arithmetic on the full corpus),
    // then ONLY the shortlist is joined back to the full-dim store for the
    // exact re-rank — the accuracy/cost dial of MRL embeddings as a plan
    // shape (stage-2 width x shortlist, never width x corpus).
    Q(
      "q156_matryoshka_rerank",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.matryoshkaTopK(
            Similarity.hashOrderedProbes(e, "vec_id", "mrl", 50),
            e, "vec_id", "embedding",
            prefixDim = 16, shortlist = 20, k = 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH h AS (
          SELECT vec_id, embedding,
                 sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                                FOR i IN generate_series(1, 16)])) AS hn,
                 sqrt(${duckDot("embedding", "embedding")}) AS fn
          FROM embeddings
        ), stage1 AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 q.embedding AS qe, c.embedding AS ce, q.fn AS qfn, c.fn AS cfn,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                             FOR i IN generate_series(1, 16)]) / (q.hn * c.hn) DESC,
                   c.vec_id) AS r1
          FROM h q JOIN h c
            ON q.vec_id IN ${duckProbes("embeddings", "vec_id", "mrl", 50)}
           AND c.vec_id <> q.vec_id
          QUALIFY r1 <= 20
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY
                 ${duckDot("qe", "ce")} / (qfn * cfn) DESC, neighbor_id) AS INTEGER) AS rank,
               ${duckDot("qe", "ce")} / (qfn * cfn) AS cosine
        FROM stage1
        QUALIFY rank <= 5
        ORDER BY query_id, rank
      """.trim)),

    // Hybrid retrieval with reciprocal-rank fusion: a LEXICAL ranking
    // (distinct shared tokens via the inverted index, the BM25-free exact
    // form) and a VECTOR ranking (full cosine; doc_id == vec_id links the
    // modalities) fuse as sum of 1/(60+rank) — integer ranks make every RRF
    // term an exact division, and missing-side contributions are an exact
    // 0.0. (1,2) vs (2,1) rank pairs tie by construction, so neighbor_id
    // tie-breaks. The standard dense+sparse search fusion, as one plan.
    Q(
      "q157_hybrid_rrf",
      (s, dir) => {
        // FIXED 20 hash-ordered probes per modality (bounded-probe
        // convention, r8 sweep — a %100 modulus fraction made the lexical
        // postings join and the brute cosine O(n^2/100) at scale); the
        // shared "rrf" tag picks the SAME ids where the id domains
        // coincide (doc_id == vec_id links the modalities)
        val probeIds = Similarity.hashOrderedProbes(
            Tables.documents(s, dir).select("doc_id"), "doc_id", "rrf", 20)
        val toks = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
        val lexPairs = toks.join(broadcast(probeIds), Seq("doc_id")).withColumnRenamed("doc_id", "query_id")
          .join(toks.withColumnRenamed("doc_id", "neighbor_id").hint("shuffle_hash"), Seq("tok"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .groupBy("query_id", "neighbor_id")
          .agg(count(lit(1)).as("shared"))
        val lex = graft.plans.TopKPerKey.of(lexPairs,
            keyCols = Seq("query_id"),
            order = Seq("shared" -> false, "neighbor_id" -> true), k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r_lex"))
        val e = Tables.embeddings(s, dir)
        val vec = Similarity.topKCosine(
            Similarity.hashOrderedProbes(e, "vec_id", "rrf", 20),
            e, "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rank").as("r_vec"))
        val fused = lex.join(vec, Seq("query_id", "neighbor_id"), "full_outer")
          .select(col("query_id"), col("neighbor_id"),
            (coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0))).as("rrf"))
        graft.plans.TopKPerKey.of(fused,
            keyCols = Seq("query_id"),
            order = Seq("rrf" -> false, "neighbor_id" -> true), k = 5)
          .select("query_id", "neighbor_id", "rank", "rrf")
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, unnest(list_distinct(${duckTokens("text")})) AS tok FROM documents
        ), lex AS (
          SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.doc_id
                   ORDER BY COUNT(*) DESC, c.doc_id) AS r_lex
          FROM toks q JOIN toks c ON q.tok = c.tok AND q.doc_id <> c.doc_id
          WHERE q.doc_id IN ${duckProbes("documents", "doc_id", "rrf", 20)}
          GROUP BY q.doc_id, c.doc_id
          QUALIFY r_lex <= 10
        ), e AS (
          SELECT vec_id, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        ), vec AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS r_vec
          FROM e q CROSS JOIN e c
          WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "rrf", 20)}
            AND c.vec_id <> q.vec_id
          QUALIFY r_vec <= 10
        ), fused AS (
          SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
                 COALESCE(lex.neighbor_id, vec.neighbor_id) AS neighbor_id,
                 COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_lex), CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_vec), CAST(0.0 AS DOUBLE)) AS rrf
          FROM lex FULL OUTER JOIN vec
            ON lex.query_id = vec.query_id AND lex.neighbor_id = vec.neighbor_id
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, neighbor_id) AS INTEGER) AS rank,
               rrf
        FROM fused
        QUALIFY rank <= 5
        ORDER BY query_id, rank
      """.trim)),

    // 2-D skyline / Pareto front (multi-objective curation: keep documents
    // no other document beats on BOTH quality and length): the classic
    // sort-desc + running-max algorithm — one aggregate to distinct quality
    // levels, then the EXCLUSIVE prefix max over levels via the two-phase
    // Keys.globalPrefixMaxBy (quality is a continuous double, so levels ~=
    // corpus cardinality; an unpartitioned window here would be a
    // single-task funnel) — vs the oracle's quadratic NOT EXISTS:
    // two algorithms, one answer. A point is dominated iff a strictly-
    // higher-quality level reaches its length, or its own level exceeds it.
    Q(
      "q158_skyline",
      (s, dir) => {
        val pts = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"),
            TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))).as("quality"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        TextAnalysis.skyline2D(pts, "quality", "n_tokens")
          .select("doc_id", "quality", "n_tokens")
          .orderBy("doc_id")
      },
      Some {
        val quality = """0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0
                               ELSE CAST(len(list_filter(w, t -> t IN (""" + TextAnalysis.duckStopwords + """))) AS DOUBLE)
                                    / CAST(len(w) AS DOUBLE) END)
                 + 0.2 * least((CASE WHEN len(w) = 0 THEN 0.0
                                     ELSE CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE)
                                          / CAST(len(w) AS DOUBLE) END) / 8.0, 1.0)"""
        s"""
        WITH pts AS (
          SELECT doc_id, $quality AS quality, CAST(len(w) AS BIGINT) AS n_tokens
          FROM (SELECT doc_id, ${duckTokens("text")} AS w FROM documents)
        )
        SELECT p.doc_id, p.quality, p.n_tokens
        FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts d
          WHERE d.quality >= p.quality AND d.n_tokens >= p.n_tokens
            AND (d.quality > p.quality OR d.n_tokens > p.n_tokens)
        )
        ORDER BY p.doc_id
      """.trim
      }),

    // binaryFile ingestion (the multimodal landing zone): raw .bin payload
    // files scanned by the built-in binaryFile source into (path, length,
    // content) rows — filename becomes the id, md5(content) the content
    // fingerprint. The oracle recomputes length/md5 from the source text
    // (ASCII corpus: char length == byte length; md5 hashes the same UTF-8
    // bytes in both engines).
    Q(
      "q145_binaryfile_ingest",
      (s, dir) => {
        val scratch = Scratch.dir(s, dir, "binfiles")
        Multimodal.writeBinaryFiles(
          Tables.documents(s, dir).filter(col("doc_id") < 100)
            .select(col("doc_id"), graft.engine.Cleaning.normalizeText(col("text")).as("norm")),
          "doc_id", "norm", scratch)
        s.read.format("binaryFile").load(scratch)
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length"),
            md5(col("content")).as("content_md5"))
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id, CAST(strlen(${duckNormalizeText("text")}) AS BIGINT) AS length,
               md5(${duckNormalizeText("text")}) AS content_md5
        FROM documents WHERE doc_id < 100 ORDER BY doc_id
      """.trim)),

    // Array higher-order-function surface (filter / exists / forall /
    // aggregate as lambdas, q117's companion): per-doc curation signals
    // computed entirely map-side inside whole-stage codegen — integer
    // arithmetic only, so the fold is engine-exact.
    Q(
      "q140_hof_surface",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          size(filter(col("w"), t => length(t) > 4)).as("n_long"),
          exists(col("w"), t => t === lit("the")).as("has_the"),
          forall(col("w"), t => length(t) <= 12).as("all_short"),
          aggregate(col("w"), lit(0), (acc, t) => acc + length(t)).as("char_sum"))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, ${duckTokens("text")} AS w FROM documents)
        SELECT doc_id,
               CAST(len(list_filter(w, t -> length(t) > 4)) AS INTEGER) AS n_long,
               len(list_filter(w, t -> t = 'the')) > 0 AS has_the,
               len(list_filter(w, t -> length(t) <= 12)) = len(w) AS all_short,
               CAST(list_sum(list_transform(w, t -> length(t))) AS INTEGER) AS char_sum
        FROM t ORDER BY doc_id
      """.trim)),

    // URL structure extraction (parse_url): the corpus-provenance pass that
    // splits crawl URLs into protocol / host / path / query params for
    // per-domain rollups. URLs are synthesized deterministically from
    // document columns so the oracle can restate the decomposition exactly;
    // the parse itself is pure map-side string work (no shuffle at all).
    Q(
      "q125_url_parse",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          concat(lit("https://"), col("source"), lit(".example.com/docs/"),
            col("doc_id").cast("string"), lit("?lang="), col("lang"),
            lit("&v=2")).as("url"))
        .select(col("doc_id"),
          expr("parse_url(url, 'PROTOCOL')").as("scheme"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))
        .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
               'https' AS scheme,
               source || '.example.com' AS host,
               '/docs/' || CAST(doc_id AS VARCHAR) AS path,
               lang AS lang_param
        FROM documents ORDER BY doc_id
      """.trim)),

    // PQ asymmetric-distance (ADC) retrieval — the scoring half that makes
    // q119's codes useful: each probe precomputes a per-subspace distance
    // TABLE to every sub-centroid (bounded: probes x cells x 2), and every
    // base vector is then scored by two table LOOKUPS + one addition
    // instead of a 64-dim distance — the standard billion-scale ANN scan
    // shape (compose with q27's IVF cells to restrict the scan). Codebooks
    // and distance tables broadcast; the base-side scan stays linear and
    // map-side. adist is d0+d1, a single deterministic double addition over
    // the fixed-order fold both engines share.
    Q(
      "q183_pq_adc_retrieval",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        def sub(i: Int) = slice(col("embedding"), i * 32 + 1, 32)
        val parts = e.select(col("vec_id"), col("label"),
          sub(0).as("s0"), sub(1).as("s1"))
        def centFor(c: String) = Similarity.exactCentroids(
          parts.select(col("label"), col(c)), c, "label")
        val cent0 = centFor("s0")
        val cent1 = centFor("s1")
        def codes(c: String, cent: org.apache.spark.sql.DataFrame, out: String) =
          Similarity.assignToNearestCentroid(
              parts.select(col("vec_id"), col(c)), "vec_id", c, cent)
            .select(col("vec_id"), col("cell").as(out))
        val coded = codes("s0", cent0, "code0")
          .join(codes("s1", cent1, "code1"), Seq("vec_id"))
        // FIXED 20 hash-ordered probes (bounded-probe convention, r8
        // sweep): the ADC distance tables are broadcast, so the probe
        // frame must be value-bounded, not a corpus fraction
        val probes = Similarity.hashOrderedProbes(parts, "vec_id", "adc", 20)
        def dtable(pcol: String, cent: org.apache.spark.sql.DataFrame,
            cCol: String, dCol: String) = {
          val d2 = aggregate(
            zip_with(col(pcol), col("centroid"),
              (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
            lit(0.0), (acc, v) => acc + v)
          probes.select(col("vec_id").as("probe_id"), col(pcol))
            .crossJoin(broadcast(cent))
            .select(col("probe_id"), col("cell").as(cCol), d2.as(dCol))
        }
        val dt0 = dtable("s0", cent0, "code0", "d0")
        val dt1 = dtable("s1", cent1, "code1", "d1")
        val scored = coded
          .join(broadcast(dt0), Seq("code0"))
          .join(broadcast(dt1), Seq("code1", "probe_id"))
          .select(col("probe_id"), col("vec_id"),
            (col("d0") + col("d1")).as("adist"))
        graft.plans.TopKPerKey.of(scored, keyCols = Seq("probe_id"),
            order = Seq("adist" -> true, "vec_id" -> true), k = 3)
          .select("probe_id", "rank", "vec_id", "adist")
          .orderBy("probe_id", "rank")
      },
      Some {
        def half(j: Int, code: String) = {
          val lo = j * 32 + 1
          val hi = j * 32 + 32
          s"""m$j AS (
          SELECT label, CAST(u.i - 1 AS INTEGER) AS dim,
                 ${Similarity.duckExactMean("u.v")} AS mean
          FROM embeddings,
               LATERAL (SELECT unnest(embedding[$lo:$hi]) AS v,
                               generate_subscripts(embedding[$lo:$hi], 1) AS i) u
          GROUP BY label, dim
        ), c$j AS (
          SELECT label AS cell, list(mean ORDER BY dim) AS centroid FROM m$j GROUP BY label
        ), p$j AS (
          SELECT e.vec_id, c.cell,
                 list_sum([(CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           * (CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           FOR i IN generate_series(1, 32)]) AS dist2
          FROM embeddings e CROSS JOIN c$j c
        ), a$j AS (
          SELECT vec_id, cell AS $code FROM p$j
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) = 1
        ), dt$j AS (
          SELECT e.vec_id AS probe_id, c.cell AS $code,
                 list_sum([(CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           * (CAST(e.embedding[i + ${lo - 1}] AS DOUBLE) - c.centroid[i])
                           FOR i IN generate_series(1, 32)]) AS d$j
          FROM embeddings e CROSS JOIN c$j c
          WHERE e.vec_id IN ${duckProbes("embeddings", "vec_id", "adc", 20)}
        )"""
        }
        s"""
        WITH ${half(0, "code0")}, ${half(1, "code1")},
        scored AS (
          SELECT dt0.probe_id, a0.vec_id, dt0.d0 + dt1.d1 AS adist
          FROM a0 JOIN a1 ON a0.vec_id = a1.vec_id
          JOIN dt0 ON dt0.code0 = a0.code0
          JOIN dt1 ON dt1.code1 = a1.code1 AND dt1.probe_id = dt0.probe_id
        )
        SELECT probe_id,
               CAST(row_number() OVER (PARTITION BY probe_id
                 ORDER BY adist, vec_id) AS INTEGER) AS rank,
               vec_id, adist
        FROM scored
        QUALIFY rank <= 3
        ORDER BY probe_id, rank
      """.trim
      }),

    // Cross-document boilerplate removal (the C4/RefinedWeb block-dedup
    // pass): documents split into NON-overlapping 16-token blocks (window =
    // stride — removal stays well-defined), block fingerprints counted by
    // DISTINCT-document frequency, and any block appearing in 2+ documents
    // is dropped as boilerplate. Per-document audit: blocks kept/dropped and
    // surviving token count. Two key shuffles (fp, then doc) — the df table
    // is data-dependent and unbounded, so it is deliberately NOT broadcast;
    // the fp join rides the same exchange as the frequency aggregate.
    Q(
      "q184_boilerplate_removal",
      (s, dir) => {
        val paras = TextAnalysis.chunkFrame(
          Tables.documents(s, dir)
            .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id")),
          "doc_id", "text", window = 16, stride = 16)
        val dfreq = paras.groupBy("chunk_fp")
          .agg(countDistinct(col("doc_id")).as("doc_freq"))
        paras.join(dfreq, Seq("chunk_fp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_blocks"),
            sum(when(col("doc_freq") >= 2, 1L).otherwise(0L)).as("n_boiler"),
            sum(when(col("doc_freq") < 2, col("n_tokens").cast("long"))
              .otherwise(0L)).as("tokens_kept"))
          .withColumn("boiler_ratio",
            col("n_boiler").cast("double") / col("n_blocks").cast("double"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), s AS (
          SELECT doc_id, w, CAST(len(w) AS INTEGER) AS nt FROM t WHERE len(w) > 0
        ), c AS (
          SELECT doc_id, nt, w,
                 unnest(generate_series(0, (greatest(nt - 16, 0) + 15) // 16)) AS ci
          FROM s
        ), p AS (
          SELECT doc_id,
                 CAST(least(16, nt - ci*16) AS INTEGER) AS n_tokens,
                 ${TextHash.duckHash60(
                   "array_to_string(w[CAST(ci*16+1 AS BIGINT):CAST(least(ci*16+16, nt) AS BIGINT)], ' ')")} AS fp
          FROM c
        ), d AS (
          SELECT fp, COUNT(DISTINCT doc_id) AS doc_freq FROM p GROUP BY fp
        )
        SELECT p.doc_id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN d.doc_freq >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
               CAST(SUM(CASE WHEN d.doc_freq < 2 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
               CAST(SUM(CASE WHEN d.doc_freq >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS boiler_ratio
        FROM p JOIN d ON p.fp = d.fp
        GROUP BY p.doc_id ORDER BY doc_id
      """.trim)),

    // Domain-blocklist filtering (the crawl-curation counterpart of q65's
    // token scrub): document URLs are reduced to their registrable host via
    // parse_url, anti-joined against a curated blocklist, and the surviving
    // corpus is profiled per source. The blocklist is a genuinely bounded
    // dim (human-curated), so broadcast is the correct scale shape — the
    // corpus side never shuffles for the filter itself.
    Q(
      "q185_domain_blocklist",
      (s, dir) => {
        import s.implicits._
        val blocked = Seq("src3", "src7", "src11")
          .map(x => s"$x.example.com").toDF("host")
        Tables.documents(s, dir)
          .withColumn("url", concat(lit("https://"), col("source"),
            lit(".example.com/docs/"), col("doc_id").cast("string")))
          .withColumn("host", expr("parse_url(url, 'HOST')"))
          .join(broadcast(blocked), Seq("host"), "left_anti")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy("source")
      },
      Some("""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE source || '.example.com' NOT IN
          ('src3.example.com', 'src7.example.com', 'src11.example.com')
        GROUP BY source ORDER BY source
      """.trim)),

    // ST7 streaming content dedup, oracle-gated (was spec-only): the corpus
    // plus a full RE-CRAWL copy (new doc_ids, identical bodies) streamed
    // through dropDuplicatesWithinWatermark keyed on the md5 content
    // fingerprint, keyed-upsert sink. WHICH physical row survives per
    // fingerprint depends on arrival order, so the gate compares only the
    // content-determined projection (fp, lang, n_chars) — identical for
    // every candidate of a fingerprint — making the final state
    // batch-split-independent by construction (the q172/q131 discipline).
    Q(
      "q189_stream_content_dedup_gate",
      (s, dir) => {
        val base = Scratch.dir(s, dir, "stream_content_dedup")
        val src = base + "_src"
        Seq(base, base + "_ckpt", src, src + "_tmp")
          .foreach(graft.engine.Scratch.rm)
        new java.io.File(src).mkdirs(): Unit
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "documents.parquet"),
          java.nio.file.Paths.get(src, "docs1.parquet")): Unit
        val docs = Tables.documents(s, dir)
        docs.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars"))
          .coalesce(1).write.parquet(src + "_tmp")
        val part = new java.io.File(src + "_tmp").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(src, "docs2_recrawl.parquet")): Unit
        graft.engine.Scratch.rm(src + "_tmp")
        val stream = s.readStream.schema(docs.schema).parquet(src)
          .withColumn("ts", expr("timestamp_micros(1000000 * doc_id)"))
        val deduped = graft.streaming.EventStreams
          .dedupContentStream(stream, "text", "ts", watermarkDelay = "3650 days")
          .withColumn("__key", TextAnalysis.fingerprint(col("text")))
        graft.streaming.EventStreams.runDrained(s)(
          deduped.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              TxLog.upsert(b.sparkSession, base, b, "__key"): Unit
            }
            .option("checkpointLocation", base + "_ckpt")
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        TxLog.read(s, base)
          .select(col("__key").as("fp"), col("lang"), col("n_chars"))
          .orderBy("fp")
      },
      Some(s"""
        SELECT DISTINCT md5(${duckNormalizeText("text")}) AS fp, lang, n_chars
        FROM documents ORDER BY fp
      """.trim)),

    // BM25 (Lucene +1 idf variant) — previously deferred on ln()
    // cross-engine ulp risk, now un-deferred by QUANTIZING idf to integer
    // micro-nats: round(ln(x)*1e6) collapses the measured 1-ulp libm
    // divergence (JVM Math.log vs DuckDB ln disagreed on 3/12000 probed
    // inputs) unless ln lands within ~1e-10 of a .5e-6 boundary —
    // negligible over the <=N distinct df values. The tf side is fully
    // rational (fixed-order IEEE ops over exact integers), and the 3-term
    // score sums in FIXED literal order (the q155 pivot discipline), so
    // ranking and LIMIT boundary are deterministic. Shape: one tokenize
    // pass, tiny df/totals frames broadcast, top-10 via sort-limit.
    Q(
      "q191_bm25",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
          .select(col("doc_id"), col("__toks"), size(col("__toks")).as("dl"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("__toks")).as("t"))
          .filter(col("t").isin("spark", "table", "query"))
          .groupBy("doc_id", "dl", "t").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
        val totals = docs.agg(count(lit(1)).as("n_docs"),
          sum(col("dl").cast("long")).as("total_dl"))
        val scored = tf.join(broadcast(dfreq), Seq("t"))
          .crossJoin(broadcast(totals))
          .withColumn("idf",
            round(log(lit(1.0)
              + (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
                / (col("df").cast("double") + lit(0.5))) * lit(1000000.0))
              .cast("long").cast("double") / lit(1000000.0))
          .withColumn("tfac",
            col("tf").cast("double") * lit(2.2)
              / (col("tf").cast("double") + lit(0.3)
                + lit(0.9) * col("dl").cast("double") * col("n_docs").cast("double")
                  / col("total_dl").cast("double")))
          .withColumn("sc", col("idf") * col("tfac"))
        scored.groupBy("doc_id")
          .agg(max(when(col("t") === "spark", col("sc"))).as("s1"),
            max(when(col("t") === "table", col("sc"))).as("s2"),
            max(when(col("t") === "query", col("sc"))).as("s3"))
          .select(col("doc_id"),
            (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))
              + coalesce(col("s3"), lit(0.0))).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(10)
      },
      Some(s"""
        WITH docs AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), dls AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM docs
        ), tok AS (
          SELECT doc_id, dl, unnest(w) AS t FROM dls
        ), tf AS (
          SELECT doc_id, dl, t, COUNT(*) AS tf FROM tok
          WHERE t IN ('spark', 'table', 'query') GROUP BY 1, 2, 3
        ), dfreq AS (
          SELECT t, COUNT(*) AS df FROM tf GROUP BY t
        ), totals AS (
          SELECT COUNT(*) AS n_docs, SUM(CAST(len(w) AS BIGINT)) AS total_dl FROM docs
        ), scored AS (
          SELECT f.doc_id, f.t,
                 CAST(CAST(round(ln(1.0
                   + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                     / (CAST(df AS DOUBLE) + 0.5)) * 1000000.0) AS BIGINT) AS DOUBLE)
                   / 1000000.0
                 * (CAST(tf AS DOUBLE) * 2.2
                    / (CAST(tf AS DOUBLE) + 0.3
                       + 0.9 * CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
                         / CAST(total_dl AS DOUBLE))) AS sc
          FROM tf f JOIN dfreq USING (t) CROSS JOIN totals
        )
        SELECT doc_id,
               (COALESCE(MAX(CASE WHEN t = 'spark' THEN sc END), CAST(0.0 AS DOUBLE))
                + COALESCE(MAX(CASE WHEN t = 'table' THEN sc END), CAST(0.0 AS DOUBLE))
                + COALESCE(MAX(CASE WHEN t = 'query' THEN sc END), CAST(0.0 AS DOUBLE)))
                 AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10
      """.trim)),

    // Multi-signal ensemble dedup — what production pipelines actually run:
    // the UNION of three independently-generated edge sets (exact content
    // fingerprint, MinHash+LSH verified Jaccard, n-gram containment) feeds
    // ONE connected-components pass, and each cluster elects its min-id
    // canonical. Signals stay banded/bucketed (never all-pairs); the CC
    // fixpoint is the q61 checkpointed loop over the merged edge set.
    Q(
      "q192_ensemble_dedup",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val mh = SharedFrames.verifiedDocPairs(s, dir).select("id_a", "id_b")
        // containment signal from the shared verified artifact (round 15 —
        // the capped postings self-join was this gate's dominant CPU and
        // duplicates q74's identical-parameter live construction, which
        // stays the containment value gate)
        val cont = SharedFrames.containmentDocPairs(s, dir)
          .select("id_a", "id_b")
        val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        val exact = fps.as("a").join(fps.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val edges = mh.unionByName(cont).unionByName(exact).distinct()
        NearDup.connectedComponents(edges, "id_a", "id_b")
          .select(col("id").as("doc_id"), col("cluster_id"),
            (col("id") === col("cluster_id")).cast("int").as("is_canonical"))
          .orderBy("doc_id")
      },
      Some(s"""
        ${("WITH RECURSIVE " + MinhashPairsCte.stripPrefix("WITH ")).trim}, cd AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 3)} AS sh FROM documents
        ), cinv AS (
          SELECT doc_id, unnest(sh) AS s FROM cd
        ), crare AS (
          SELECT s FROM cinv GROUP BY s HAVING COUNT(*) <= 128
        ), ccapped AS (
          SELECT doc_id, s FROM cinv JOIN crare USING (s)
        ), csizes AS (
          SELECT doc_id, COUNT(*) AS n FROM ccapped GROUP BY doc_id
        ), cpairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ccapped a JOIN ccapped b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), cont AS (
          SELECT id_a, id_b FROM cpairs
          JOIN csizes sa ON sa.doc_id = id_a
          JOIN csizes sb ON sb.doc_id = id_b
          WHERE greatest(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
                         CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) >= 0.8
        ), xf AS (
          SELECT doc_id, md5(${duckNormalizeText("text")}) AS fp FROM documents
        ), xpairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM xf a JOIN xf b ON a.fp = b.fp AND a.doc_id < b.doc_id
        ), eunion AS (
          SELECT id_a, id_b FROM verified
          UNION SELECT id_a, id_b FROM cont
          UNION SELECT id_a, id_b FROM xpairs
        ), ${duckConnectedComponents("eunion", "cc")}
        SELECT doc_id, component AS cluster_id,
               CAST(CASE WHEN doc_id = component THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
        FROM cc ORDER BY doc_id
      """.trim)),

    // Source-overlap contamination matrix: for every source PAIR, how many
    // distinct 16-token block fingerprints they share — the corpus-level
    // diagnostic behind q56's train/test decontamination (which pair of
    // feeds is leaking into each other). Block fps from the q184 chunker;
    // per-source distinct sets self-join on the fp (bucketed by fp, never
    // source x source cross). Output is at most |sources|^2 rows.
    Q(
      "q193_source_overlap",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val blocks = TextAnalysis.chunkFrame(
            docs.repartition(s.sessionState.conf.numShufflePartitions, col("doc_id")),
            "doc_id", "text", window = 16, stride = 16)
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .select(col("source"), col("chunk_fp")).distinct()
        blocks.as("a").join(blocks.as("b"),
            col("a.chunk_fp") === col("b.chunk_fp") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared_blocks"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, ${duckTokens("text")} AS w FROM documents
        ), s AS (
          SELECT doc_id, source, w, CAST(len(w) AS INTEGER) AS nt FROM t WHERE len(w) > 0
        ), c AS (
          SELECT doc_id, source, nt, w,
                 unnest(generate_series(0, (greatest(nt - 16, 0) + 15) // 16)) AS ci
          FROM s
        ), p AS (
          SELECT DISTINCT source,
                 ${TextHash.duckHash60(
                   "array_to_string(w[CAST(ci*16+1 AS BIGINT):CAST(least(ci*16+16, nt) AS BIGINT)], ' ')")} AS fp
          FROM c
        )
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS shared_blocks
        FROM p a JOIN p b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2 ORDER BY source_a, source_b
      """.trim)),

    // Bigram-LM perplexity scoring — the standard LLM-data quality filter,
    // previously deferred on log determinism, un-deferred by the q191
    // micro-nat trick taken further: each bigram's add-one-smoothed
    // log-probability quantizes to an INTEGER (micro-nats), so the per-doc
    // sum is an order-independent integer aggregate — no double-sum hazard
    // at any partition count — and only the final avg (one division) and
    // display perplexity (exp, re-quantized to 1e-3) are double ops.
    // Self-trained on the corpus: c2/c1 tables are token-keyed aggregates,
    // scoring is one bigram-keyed join — both linear, no all-pairs.
    Q(
      "q194_perplexity",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("w"))
          .filter(size(col("w")) > 1)
        val bigrams = toks.select(col("doc_id"),
            posexplode(slice(col("w"), 1, 1000000)).as(Seq("i", "w1")), col("w"))
          .filter(col("i") < size(col("w")) - 1)
          .select(col("doc_id"), col("w1"),
            element_at(col("w"), col("i") + 2).as("w2"))
        val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
        val vocab = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
          .agg(countDistinct(col("t")).as("v"))
        val unats = bigrams
          .join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .withColumn("unats",
            round(log((col("c2") + 1).cast("double")
              / (col("c1").cast("double") + col("v").cast("double"))) * lit(1000000.0))
              .cast("long"))
        unats.groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum(col("unats")).as("sum_unats"))
          .withColumn("avg_d",
            col("sum_unats").cast("double") / col("n_bigrams").cast("double"))
          .select(col("doc_id"), col("n_bigrams"), col("sum_unats"),
            (round(exp((lit(0.0) - col("avg_d")) / lit(1000000.0)) * lit(1000.0))
              .cast("long").cast("double") / lit(1000.0)).as("ppl"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, ${duckTokens("text")} AS w FROM documents
        ), tt AS (
          SELECT doc_id, w FROM t WHERE len(w) > 1
        ), big AS (
          SELECT doc_id,
                 unnest([w[i] FOR i IN generate_series(1, len(w) - 1)]) AS w1,
                 unnest([w[i + 1] FOR i IN generate_series(1, len(w) - 1)]) AS w2
          FROM tt
        ), c2 AS (
          SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
        ), c1 AS (
          SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
        ), vocab AS (
          SELECT COUNT(DISTINCT u.t) AS v
          FROM (SELECT unnest(${duckTokens("text")}) AS t FROM documents) u
        ), unats AS (
          SELECT b.doc_id,
                 CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE)
                   / (CAST(c1.c1 AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000.0)
                   AS BIGINT) AS unats
          FROM big b JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
          JOIN c1 ON b.w1 = c1.w1
          CROSS JOIN vocab
        ), agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 CAST(SUM(unats) AS BIGINT) AS sum_unats
          FROM unats GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, sum_unats,
               CAST(CAST(round(exp((0.0 - CAST(sum_unats AS DOUBLE)
                 / CAST(n_bigrams AS DOUBLE)) / 1000000.0) * 1000.0) AS BIGINT)
                 AS DOUBLE) / 1000.0 AS ppl
        FROM agg ORDER BY doc_id
      """.trim)),

    // Triangle counting over the verified near-dup graph — the cluster-
    // density diagnostic (triangles distinguish tight clique families from
    // loose chains before committing to a dedup policy). Distributed shape:
    // edges oriented low->high id, two hash joins (b-keyed, then the
    // closing (a,c) probe) — never an all-pairs expansion; per-node
    // triangle membership via one union+count. Integer-only, oracle exact.
    Q(
      "q195_triangle_count",
      (s, dir) => {
        val e = SharedFrames.verifiedDocPairs(s, dir)
          .select(col("id_a").as("a"), col("id_b").as("b"))
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"),
            col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
        tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
          .orderBy("doc_id")
      },
      Some(s"""
        $MinhashPairsCte, e AS (
          SELECT id_a AS a, id_b AS b FROM verified
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1
          JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
        ), members AS (
          SELECT x AS doc_id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM members GROUP BY doc_id ORDER BY doc_id
      """.trim)),

    // PageRank over the verified near-dup graph — graph IMPORTANCE next to
    // q61's connectivity and q195's density: which documents sit at the
    // center of duplication clusters (the canonical-representative signal
    // production dedup uses when min-id election is too arbitrary). Integer
    // nano-rank arithmetic throughout (NearDup.pageRankInt): rank div deg
    // contributions, (85*s) div 100 damping, base 0.15e9 div N — bit-exact
    // at any partition count, so the oracle is the same three iterations
    // unrolled as CTEs. Edge set shuffles once; 3 fixed iterations
    // re-shuffle only the one-row-per-node rank frame.
    Q(
      "q196_pagerank",
      (s, dir) => {
        val pairs = SharedFrames.verifiedDocPairs(s, dir)
        NearDup.pageRankInt(pairs, "id_a", "id_b", iters = 3)
          .select(col("node").as("doc_id"), col("rank").as("pr_nano"))
          .orderBy("doc_id")
      },
      Some(s"""
        $MinhashPairsCte, e AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified
        ), deg AS (
          SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src
        ), nn AS (
          SELECT CAST(150000000 // COUNT(*) AS BIGINT) AS base FROM deg
        ), r0 AS (
          SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank FROM deg
        ), r1 AS (
          SELECT e.dst AS node,
                 CAST((SELECT base FROM nn)
                   + (85 * CAST(SUM(r.rank // d.deg) AS BIGINT)) // 100 AS BIGINT) AS rank
          FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ), r2 AS (
          SELECT e.dst AS node,
                 CAST((SELECT base FROM nn)
                   + (85 * CAST(SUM(r.rank // d.deg) AS BIGINT)) // 100 AS BIGINT) AS rank
          FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ), r3 AS (
          SELECT e.dst AS node,
                 CAST((SELECT base FROM nn)
                   + (85 * CAST(SUM(r.rank // d.deg) AS BIGINT)) // 100 AS BIGINT) AS rank
          FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        )
        SELECT node AS doc_id, rank AS pr_nano FROM r3 ORDER BY doc_id
      """.trim)),

    // ML lag-feature generation: per-user event history flattened into a
    // per-row feature vector — previous-value delta and a bounded EWMA
    // (alpha=1/2 over the last 8 values, weights 128..1/256). Values are
    // quantized to integer micros (exact: the generator's value levels are
    // >= 1e-6 apart, the q129 precedent), the EWMA numerator is an INTEGER
    // dot product with power-of-two weights, and the single /256.0 is an
    // exact binary scaling — so the doubles match bitwise across engines
    // and partition counts. One user-partitioned window (7 lags share one
    // window spec = one physical sort); no unpartitioned ordering anywhere.
    Q(
      "q197_lag_features",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"),
            (col("value").cast("decimal(16,6)") * lit(1000000)).cast("long").as("micros"))
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val lags = (1 to 7).foldLeft(ev)((df, k) =>
          df.withColumn(s"__l$k", lag(col("micros"), k).over(w)))
        val num = col("micros") * 128 + col("__l1") * 64 + col("__l2") * 32 +
          col("__l3") * 16 + col("__l4") * 8 + col("__l5") * 4 +
          col("__l6") * 2 + col("__l7")
        lags.select(
            col("event_id"), col("user_id"), col("micros"),
            (col("micros") - col("__l1")).as("delta_1"),
            when((1 to 7).map(k => col(s"__l$k").isNotNull).reduce(_ && _),
              num / lit(256.0)).as("ewma8"))
          .orderBy("event_id")
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id, ts,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS micros
          FROM events
        ), lagd AS (
          SELECT event_id, user_id, micros,
                 lag(micros, 1) OVER w AS l1, lag(micros, 2) OVER w AS l2,
                 lag(micros, 3) OVER w AS l3, lag(micros, 4) OVER w AS l4,
                 lag(micros, 5) OVER w AS l5, lag(micros, 6) OVER w AS l6,
                 lag(micros, 7) OVER w AS l7
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id, micros,
               micros - l1 AS delta_1,
               CASE WHEN l1 IS NOT NULL AND l2 IS NOT NULL AND l3 IS NOT NULL
                     AND l4 IS NOT NULL AND l5 IS NOT NULL AND l6 IS NOT NULL
                     AND l7 IS NOT NULL
                    THEN (micros*128 + l1*64 + l2*32 + l3*16
                          + l4*8 + l5*4 + l6*2 + l7) / 256.0
               END AS ewma8
        FROM lagd ORDER BY event_id
      """.trim)),

    // Explicit GROUPING SETS — the one grouping-set surface q20 (ROLLUP)
    // and q43 (CUBE) left uncovered: the Dataset.groupingSets API with an
    // arbitrary 2-set list ((status),(priority)), unioned beside the same
    // cube so the gate cross-checks the two shapes agree on shared sets.
    // grouping_id() disambiguates NULL-as-ALL from genuine null group keys
    // in both engines (same bit convention, pinned by q20). Expansion
    // happens BEFORE the shuffle (Spark's Expand operator), so a G-set
    // aggregate costs one shuffle regardless of the set count.
    Q(
      "q198_cube_gsets",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        def shape(g: org.apache.spark.sql.RelationalGroupedDataset, tag: String) =
          g.agg(count(lit(1)).as("n_orders"),
              Exact.sumD(col("o_totalprice")).as("sales"),
              grouping_id().cast("int").as("gid"))
            .select(lit(tag).as("shape"),
              coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              col("gid"), col("n_orders"), col("sales"))
        shape(o.cube(col("o_orderstatus"), col("o_orderpriority")), "cube")
          .unionByName(shape(
            o.groupingSets(
              Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
              col("o_orderstatus"), col("o_orderpriority")), "gsets"))
          .orderBy("shape", "gid", "status", "priority")
      },
      Some("""
        SELECT 'cube' AS shape,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        UNION ALL
        SELECT 'gsets' AS shape,
               COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sales
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY shape, gid, status, priority
      """.trim)),

    // Contrastive hard-negative mining: per probe vector, the top-3 most
    // cosine-similar vectors of a DIFFERENT label — the informative
    // negatives for embedding/reranker training (random negatives are too
    // easy; nearest wrong-class examples carry the gradient). The label
    // inequality rides the broadcast join condition, so wrong-label pairs
    // never reach the top-k heap; ranking is the same TopKPerKey operator
    // as q28/q97 with its total (cosine desc, id) order. Fixed-order dots
    // keep the cosine doubles engine-bitwise.
    Q(
      "q199_hard_negatives",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Similarity.hardNegativeTopK(
            Similarity.hashOrderedProbes(e, "vec_id", "hardneg", 50),
            e, "vec_id", "embedding",
            "label", k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""
        WITH nrm AS (
          SELECT vec_id, label, embedding,
                 sqrt(${duckDot("embedding", "embedding")}) AS nrm
          FROM embeddings
        ), pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cosine
          FROM nrm q JOIN nrm c
            ON c.vec_id <> q.vec_id AND c.label <> q.label
          WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "hardneg", 50)}
        )
        SELECT query_id, neighbor_id,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
               cosine
        FROM pairs
        QUALIFY rank <= 3
        ORDER BY query_id, rank
      """.trim)),

    // Incremental dedup — the delta-vs-corpus admission gate: a fresh crawl
    // batch (doc_id % 7 = 3 stands in for the new arrivals) is MinHash-
    // banded against the existing base only; a new doc is admitted iff it
    // collides-and-verifies against NO base doc. Never re-pairs the base
    // with itself (per-batch cost ~ delta postings, not corpus pairs). The
    // oracle derives the same answer from the FULL pair pipeline restricted
    // to mixed (delta, base) pairs — bucket collision is pairwise, so the
    // two candidate sets provably coincide: two algorithms, one answer.
    Q(
      "q200_incremental_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val delta = d.filter(col("doc_id") % 7 === 3)
        // round 15: shingles/signatures from the shared corpus artifacts —
        // the delta/base split is a pure partition of the corpus, so the
        // per-side frames are filters of the artifact (withShingles and
        // the signature aggregate are per-row/per-doc: filter-then-derive
        // == derive-then-filter); the live construction stays gated in q24
        val sh = SharedFrames.docShingles(s, dir, 3)
        val sigs = SharedFrames.minhashSigs(s, dir)
        val isDelta = (c: org.apache.spark.sql.Column) => c % 7 === 3
        val pairs = NearDup.deltaNearDupPairsFromParts(
          sh.filter(isDelta(col("doc_id"))), sigs.filter(isDelta(col("doc_id"))),
          sh.filter(!isDelta(col("doc_id"))), sigs.filter(!isDelta(col("doc_id"))),
          "doc_id", k = 64, bands = 16, threshold = 0.8)
        delta.select(col("doc_id").as("new_id"))
          .join(pairs.groupBy("new_id").agg(count(lit(1)).as("n_dups")),
            Seq("new_id"), "left")
          .select(col("new_id"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"),
            when(coalesce(col("n_dups"), lit(0L)) === 0, 1).otherwise(0)
              .cast("int").as("admitted"))
          .orderBy("new_id")
      },
      Some(s"""
        $MinhashPairsCte, mixed AS (
          SELECT CASE WHEN id_a % 7 = 3 THEN id_a ELSE id_b END AS new_id
          FROM verified
          WHERE (id_a % 7 = 3) <> (id_b % 7 = 3)
        ), cnts AS (
          SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dups
          FROM mixed GROUP BY new_id
        )
        SELECT d.doc_id AS new_id,
               COALESCE(c.n_dups, 0) AS n_dups,
               CAST(CASE WHEN COALESCE(c.n_dups, 0) = 0 THEN 1 ELSE 0 END
                 AS INTEGER) AS admitted
        FROM documents d LEFT JOIN cnts c ON c.new_id = d.doc_id
        WHERE d.doc_id % 7 = 3
        ORDER BY new_id
      """.trim)),

    // Schema evolution round-trip: a v1 batch (two columns) and a v2 batch
    // (one added column) land in the same parquet directory; the mergeSchema
    // read unifies the footers and back-fills v1 rows with null — the
    // ingestion seam every long-lived lakehouse table crosses. The oracle
    // states the merge contract directly over the source table. Scratch
    // path is applicationId-keyed (concurrent drivers never collide).
    Q(
      "q201_schema_evolution",
      (s, dir) => {
        val p = Scratch.dir(s, dir, "schema_evo")
        val o = Tables.orders(s, dir)
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(p)
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("total_d"))
          .write.mode("append").parquet(p)
        Sources.parquetMergedSchema(s, p)
          .select("o_orderkey", "o_orderstatus", "total_d")
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_totalprice AS DOUBLE)
               END AS total_d
        FROM orders ORDER BY o_orderkey
      """.trim)),

    // Clickstream path mining: top-20 3-step event-type paths WITHIN a
    // session (q19's 30-minute gap rule) — the journey-discovery complement
    // of the fixed-target funnels. Two leads + the session running-sum share
    // ONE user-partitioned sort; a path counts only when its third step is
    // still in the same session (session_seq is monotone per user, so
    // checking the +2 lead subsumes the +1). Total-order top-20 via
    // TakeOrdered on the deterministic (n desc, path) key.
    Q(
      "q202_path_mining",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val prevTs = lag(unix_micros(col("ts")), 1).over(w)
        val isNew = when(
          prevTs.isNull || (unix_micros(col("ts")) - prevTs) > 1800L * 1000000L,
          1L).otherwise(0L)
        Tables.events(s, dir)
          .withColumn("session_seq",
            sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("t1", lead(col("event_type"), 1).over(w))
          .withColumn("t2", lead(col("event_type"), 2).over(w))
          .withColumn("s2", lead(col("session_seq"), 2).over(w))
          .filter(col("s2") === col("session_seq"))
          .select(concat_ws(">", col("event_type"), col("t1"), col("t2")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(20)
      },
      Some("""
        WITH flagged AS (
          SELECT user_id, event_id, ts, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), seqd AS (
          SELECT user_id, event_id, ts, event_type,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged
        ), led AS (
          SELECT event_type,
                 lead(event_type, 1) OVER w2 AS t1,
                 lead(event_type, 2) OVER w2 AS t2,
                 session_seq,
                 lead(session_seq, 2) OVER w2 AS s2
          FROM seqd
          WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t1 || '>' || t2 AS path,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM led WHERE s2 = session_seq
        GROUP BY 1 ORDER BY n DESC, path LIMIT 20
      """.trim)),

    // Quality-weighted corpus resampling (FineWeb-style): each document is
    // kept with probability equal to its quality score — deterministically,
    // by comparing a salted 60-bit hash against quality * 2^60 (the power-
    // of-two scaling is exact; both engines promote the hash to double for
    // the compare and round identically, so membership is bit-stable across
    // runs, shards, and engines — no RNG anywhere). Aggregated per source
    // with an exact kept-id checksum so the oracle pins the individual
    // membership decisions, not just the counts. Pure scan + one aggregate.
    Q(
      "q203_weighted_resample",
      (s, dir) => {
        val kept = TextHash.hash60(concat(col("doc_id").cast("string"), lit(":resample")))
          .cast("double") < col("q") * lit(1.152921504606846976e18)
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))).as("q"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
            sum(when(kept, col("doc_id")).otherwise(0L)).as("kept_id_sum"))
          .withColumn("accept_rate",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
          .orderBy("source")
      },
      Some {
        val quality = """0.5 * least(CAST(len(w) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (CASE WHEN len(w) = 0 THEN 0.0
                               ELSE CAST(len(list_filter(w, t -> t IN (""" + TextAnalysis.duckStopwords + """))) AS DOUBLE)
                                    / CAST(len(w) AS DOUBLE) END)
                 + 0.2 * least((CASE WHEN len(w) = 0 THEN 0.0
                                     ELSE CAST(list_sum([length(t) FOR t IN w]) AS DOUBLE)
                                          / CAST(len(w) AS DOUBLE) END) / 8.0, 1.0)"""
        s"""
        WITH scored AS (
          SELECT doc_id, source, $quality AS q,
                 ${TextHash.duckHash60("CAST(doc_id AS VARCHAR) || ':resample'")} AS h
          FROM (SELECT doc_id, source, ${duckTokens("text")} AS w FROM documents)
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN CAST(h AS DOUBLE) < q * 1152921504606846976.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN CAST(h AS DOUBLE) < q * 1152921504606846976.0
                             THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
               CAST(SUM(CASE WHEN CAST(h AS DOUBLE) < q * 1152921504606846976.0
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS accept_rate
        FROM scored GROUP BY source ORDER BY source
      """.trim
      }),

    // Training-mixture planning: per-language token inventories against an
    // equal-share target — the rebalancing math every multi-source pretrain
    // run starts with (downsample over-represented languages, keep the
    // rest whole). Integer token sums, integer-division target, LEAST for
    // the plan, ONE exact-int division for the rate — no running double
    // anywhere. The one-row total rides a broadcast cross join.
    Q(
      "q204_mixture_plan",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(col("lang"), size(TextAnalysis.tokens(col("text"))).cast("long").as("n"))
          .groupBy("lang").agg(sum(col("n")).as("n_tokens"))
        val tot = t.agg(sum(col("n_tokens")).as("total"), count(lit(1)).as("n_langs"))
        t.crossJoin(broadcast(tot))
          .withColumn("target_tokens", expr("total div n_langs"))
          .select(col("lang"), col("n_tokens"), col("target_tokens"),
            least(col("n_tokens"), col("target_tokens")).as("planned_tokens"),
            when(col("n_tokens") <= col("target_tokens"), lit(1.0))
              .otherwise(col("target_tokens").cast("double")
                / col("n_tokens").cast("double")).as("sample_rate"))
          .orderBy("lang")
      },
      Some(s"""
        WITH t AS (
          SELECT lang, CAST(SUM(len(${duckTokens("text")})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang
        ), tot AS (
          SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_langs FROM t
        )
        SELECT lang, n_tokens,
               CAST(total // n_langs AS BIGINT) AS target_tokens,
               CAST(LEAST(n_tokens, total // n_langs) AS BIGINT) AS planned_tokens,
               CASE WHEN n_tokens <= total // n_langs THEN 1.0
                    ELSE CAST(total // n_langs AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               END AS sample_rate
        FROM t CROSS JOIN tot ORDER BY lang
      """.trim)),

    // Token-distribution (Shannon) entropy per source — the corpus
    // diversity diagnostic next to X65's distinct-ratio: H = ln(T) -
    // (sum c_t ln c_t)/T over per-source token counts, carried in integer
    // micro-nats end-to-end (c_t * round(ln(c_t)*1e6) is an exact integer
    // product; the q194 quantization un-blocked ln). The only double op is
    // the final display division by 1e6 of two exact integers. Two hash
    // aggregates, both token-keyed — linear at any corpus size.
    Q(
      "q205_source_entropy",
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("t"))
          .groupBy("source", "t").agg(count(lit(1)).as("c"))
        counts.groupBy("source")
          .agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") * round(log(col("c").cast("double")) * 1000000.0).cast("long"))
              .as("s_unats"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            (round(log(col("n_tokens").cast("double")) * 1000000.0).cast("long")
              - expr("s_unats div n_tokens")).as("h_unats"))
          .withColumn("entropy_nats",
            col("h_unats").cast("double") / lit(1000000.0))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (
          SELECT source, unnest(${duckTokens("text")}) AS t FROM documents
        ), c AS (
          SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY source, t
        ), agg AS (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(SUM(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
                   AS BIGINT) AS s_unats
          FROM c GROUP BY source
        )
        SELECT source, n_tokens, n_distinct,
               CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                 - s_unats // n_tokens AS BIGINT) AS h_unats,
               CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
                 - s_unats // n_tokens AS DOUBLE) / 1000000.0 AS entropy_nats
        FROM agg ORDER BY source
      """.trim)),

    // RANGE-frame rolling TIME windows at microsecond resolution — the
    // event-time extension of q46's day-number range frame: per event, the
    // user's trailing-1-hour count and exact micro-sum plus a LEADING
    // 10-minute frame (the FOLLOWING direction q46 doesn't touch), frames
    // bounded by the ORDER-BY VALUE (epoch micros), not row offsets. Peers
    // at equal timestamps enter the frame together in both engines
    // (SQL-standard value-based peers), so ties cost nothing in
    // determinism. Both frames share one user-partitioned sort.
    Q(
      "q206_rolling_window",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"),
            (col("value").cast("decimal(16,6)") * lit(1000000)).cast("long").as("micros"))
        val wt = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600L * 1000000L, Window.currentRow)
        val wl = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(Window.currentRow, 600L * 1000000L)
        ev.select(col("event_id"), col("user_id"),
            count(lit(1)).over(wt).as("n_trail_1h"),
            sum(col("micros")).over(wt).as("sum_trail_1h"),
            count(lit(1)).over(wl).as("n_lead_10m"))
          .orderBy("event_id")
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id, epoch_us(ts) AS us,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS micros
          FROM events
        )
        SELECT event_id, user_id,
               CAST(COUNT(*) OVER wt AS BIGINT) AS n_trail_1h,
               CAST(SUM(micros) OVER wt AS BIGINT) AS sum_trail_1h,
               CAST(COUNT(*) OVER wl AS BIGINT) AS n_lead_10m
        FROM ev
        WINDOW wt AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
               wl AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN CURRENT ROW AND 600000000 FOLLOWING)
        ORDER BY event_id
      """.trim)),

    // Population-stability-index drift detection — the ML-ops monitor run
    // between a reference cohort and a live one (here: even- vs odd-user
    // events, a data-independent split): PSI = sum over 10 fixed value bins
    // of (p-q)*ln(p/q), add-one smoothed. The ln rides the q194 micro-nat
    // quantization (its argument is one division of two exact <2^53
    // integer products), each bin term is a fixed expression tree over
    // exact integers, and the 10 bounded terms add in FIXED index order
    // through a pivot — no merge-order-dependent double sum anywhere.
    // Absent bins are densified (a zero-count bin still contributes).
    Q(
      "q207_psi_drift",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("event_type"),
          (col("user_id") % 2 === 0).as("is_ref"),
          least(greatest(floor(col("value") / 100.0), lit(0.0)), lit(9.0))
            .cast("int").as("bin"))
        val counts = ev.groupBy("event_type", "bin").agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_r"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_c"))
        val totals = ev.groupBy("event_type").agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_r"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_c"))
        val dense = totals
          .select(col("event_type"), col("n_r"), col("n_c"),
            explode(sequence(lit(0), lit(9))).as("bin"))
          .join(counts, Seq("event_type", "bin"), "left")
          .na.fill(0L, Seq("c_r", "c_c"))
        val terms = dense
          .withColumn("unats",
            round(log(((col("c_r") + 1) * (col("n_c") + 10)).cast("double")
              / ((col("c_c") + 1) * (col("n_r") + 10)).cast("double")) * 1000000.0)
              .cast("long"))
          .withColumn("term",
            ((col("c_r") + 1).cast("double") / (col("n_r") + 10).cast("double")
              - (col("c_c") + 1).cast("double") / (col("n_c") + 10).cast("double"))
              * (col("unats").cast("double") / 1000000.0))
        terms.groupBy("event_type", "n_r", "n_c")
          .pivot("bin", 0 to 9).agg(first(col("term")))
          .select(col("event_type"), col("n_r").as("n_ref"), col("n_c").as("n_cur"),
            (0 to 9).map(i => col(i.toString)).reduce(_ + _).as("psi"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT event_type, user_id % 2 = 0 AS is_ref,
                 CAST(LEAST(GREATEST(floor(value / 100.0), 0.0), 9.0) AS INTEGER) AS bin
          FROM events
        ), c AS (
          SELECT event_type, bin,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_r,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_c
          FROM ev GROUP BY 1, 2
        ), t AS (
          SELECT event_type,
                 CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
                 CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_c
          FROM ev GROUP BY 1
        ), dense AS (
          SELECT t.event_type, t.n_r, t.n_c, b.bin,
                 COALESCE(c.c_r, 0) AS c_r, COALESCE(c.c_c, 0) AS c_c
          FROM t CROSS JOIN range(0, 10) b(bin)
          LEFT JOIN c ON c.event_type = t.event_type AND c.bin = b.bin
        ), terms AS (
          SELECT event_type, n_r, n_c, bin,
                 (CAST(c_r + 1 AS DOUBLE) / CAST(n_r + 10 AS DOUBLE)
                  - CAST(c_c + 1 AS DOUBLE) / CAST(n_c + 10 AS DOUBLE))
                 * (CAST(CAST(round(ln(CAST((c_r + 1) * (n_c + 10) AS DOUBLE)
                        / CAST((c_c + 1) * (n_r + 10) AS DOUBLE)) * 1000000.0)
                     AS BIGINT) AS DOUBLE) / 1000000.0) AS term
          FROM dense
        )
        SELECT event_type, n_r AS n_ref, n_c AS n_cur,
               MAX(CASE WHEN bin = 0 THEN term END)
               + MAX(CASE WHEN bin = 1 THEN term END)
               + MAX(CASE WHEN bin = 2 THEN term END)
               + MAX(CASE WHEN bin = 3 THEN term END)
               + MAX(CASE WHEN bin = 4 THEN term END)
               + MAX(CASE WHEN bin = 5 THEN term END)
               + MAX(CASE WHEN bin = 6 THEN term END)
               + MAX(CASE WHEN bin = 7 THEN term END)
               + MAX(CASE WHEN bin = 8 THEN term END)
               + MAX(CASE WHEN bin = 9 THEN term END) AS psi
        FROM terms GROUP BY event_type, n_r, n_c ORDER BY event_type
      """.trim)),

    // Weighted priority sampling (Efraimidis-Spirakis A-Res) without RNG:
    // key = ln(u)/w with u a salted-hash uniform in (0,1] and w = token
    // count, top-100 by key — inclusion probability proportional to weight,
    // membership stable across runs/shards/engines. The ln is micro-nat
    // quantized (q194); u's 2^60 denominator is an exact power-of-two
    // scaling; the one division per row is a fixed two-operand tree. Global
    // top-k is TakeOrdered (no single-task window). This is how a token-
    // budget-proportional corpus subsample is drawn at 100 TB — a
    // distributed top-k, not a reservoir walk.
    Q(
      "q208_priority_sample",
      (s, dir) => {
        val u = (TextHash.hash60(concat(col("doc_id").cast("string"), lit(":priority")))
          .cast("double") + lit(1.0)) / lit(1.152921504606846976e18)
        Tables.documents(s, dir)
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
            round(log(u) * 1000000.0).cast("long").as("unats"))
          .filter(col("n_tokens") > 0)
          .select(col("doc_id"), col("n_tokens"),
            (col("unats").cast("double") / col("n_tokens").cast("double"))
              .as("sample_key"))
          .orderBy(col("sample_key").desc, col("doc_id")).limit(100)
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_tokens,
                 ${TextHash.duckHash60("CAST(doc_id AS VARCHAR) || ':priority'")} AS h
          FROM documents
        ), keyed AS (
          SELECT doc_id, n_tokens,
                 CAST(CAST(round(ln((CAST(h AS DOUBLE) + 1.0)
                       / 1152921504606846976.0) * 1000000.0) AS BIGINT) AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE) AS sample_key
          FROM d WHERE n_tokens > 0
        )
        SELECT doc_id, n_tokens, sample_key
        FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
      """.trim)),

    // Recency-weighted engagement scoring with INTEGER half-life decay:
    // each event contributes its micro-value right-shifted by its age in
    // whole one-day half-lives (shift = exact division by 2^k, so the
    // per-user sum is an exact BIGINT at any partition count — the
    // floating exp(-lambda*age) this replaces is merge-order-dependent).
    // The corpus max-timestamp anchor rides a broadcast cross join; the
    // shift count is capped at 62 (beyond that a long contributes 0
    // anyway, and >=64-bit shifts are engine-undefined).
    Q(
      "q209_decayed_engagement",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("us"),
          (col("value").cast("decimal(16,6)") * lit(1000000)).cast("long").as("micros"))
        val mx = ev.agg(max(col("us")).as("t"))
        ev.crossJoin(broadcast(mx))
          .withColumn("k", least(expr("(t - us) div 86400000000"), lit(62L)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(expr("shiftright(micros, cast(k as int))")).as("decayed_score"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) AS us,
                 CAST(CAST(value AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS micros
          FROM events
        ), mx AS (SELECT MAX(us) AS t FROM ev)
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(micros >> CAST(LEAST((t - us) // 86400000000, 62) AS INTEGER))
                 AS BIGINT) AS decayed_score
        FROM ev CROSS JOIN mx GROUP BY user_id ORDER BY user_id
      """.trim)),

    // Recursive CTE (WITH RECURSIVE — the Spark 4 SQL surface): every user
    // walks the implicit binary hierarchy u -> u div 2 up to the root, one
    // recursion step per level (depth <= log2(max id), rows per user =
    // path length). Emits the depth and an exact path-id checksum, so the
    // oracle pins every step of every walk, not just termination. The only
    // spark.sql entry besides the date dim — exercises parse -> analyze ->
    // UnionLoop execution, a plan shape the DataFrame DSL can't declare.
    Q(
      "q210_recursive_cte",
      (s, dir) => {
        Tables.events(s, dir).select(col("user_id"))
          .where(col("user_id") >= 1).distinct()
          .createOrReplaceTempView("rcte_users")
        s.sql("""
          WITH RECURSIVE walk(user_id, anc, depth) AS (
            SELECT user_id, user_id, 0 FROM rcte_users
            UNION ALL
            SELECT user_id, anc div 2, depth + 1 FROM walk WHERE anc > 1
          )
          SELECT user_id, CAST(max(depth) AS INT) AS depth_to_root,
                 CAST(sum(anc) AS BIGINT) AS path_id_sum
          FROM walk GROUP BY user_id ORDER BY user_id
        """)
      },
      Some("""
        WITH RECURSIVE u AS (
          SELECT DISTINCT user_id FROM events WHERE user_id >= 1
        ), walk(user_id, anc, depth) AS (
          SELECT user_id, user_id, 0 FROM u
          UNION ALL
          SELECT user_id, anc // 2, depth + 1 FROM walk WHERE anc > 1
        )
        SELECT user_id, CAST(max(depth) AS INTEGER) AS depth_to_root,
               CAST(sum(anc) AS BIGINT) AS path_id_sum
        FROM walk GROUP BY user_id ORDER BY user_id
      """.trim)),

    // LATERAL correlated subquery — the per-row-subquery SQL surface
    // (top-2 customers per nation by balance): the planner decorrelates
    // the LIMIT-bearing subquery into a per-key rank, which the injected
    // TopKRankRewrite rule lowers onto the bounded-memory TopKPerKey heap
    // operator (plan-pinned) — LATERAL sugar lands on the same physical
    // plan as the explicit heap top-k, never a nested loop. Deterministic
    // (acctbal desc, custkey) order; money surfaced as double.
    Q(
      "q211_lateral_topn",
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("lat_nation")
        Tables.customer(s, dir).createOrReplaceTempView("lat_customer")
        s.sql("""
          SELECT n.n_name, t.c_custkey,
                 CAST(t.c_acctbal AS DOUBLE) AS acctbal
          FROM lat_nation n,
               LATERAL (SELECT c_custkey, c_acctbal
                        FROM lat_customer c
                        WHERE c.c_nationkey = n.n_nationkey
                        ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          ORDER BY n.n_name, t.c_custkey
        """)
      },
      Some("""
        SELECT n.n_name, t.c_custkey,
               CAST(t.c_acctbal AS DOUBLE) AS acctbal
        FROM nation n,
             LATERAL (SELECT c_custkey, c_acctbal
                      FROM customer c
                      WHERE c.c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n.n_name, t.c_custkey
      """.trim)),

    // Retrieval-quality metrics: per-probe MRR and NDCG@3 of the SRP-cell
    // ANN against the brute-force ground truth — the rank-position-aware
    // complement of q97's recall@k (a hit at rank 1 and a hit at rank 3
    // score differently here). The log2 position discounts are HARDCODED
    // micro-nat integers (10^12 div round(log2(i+1)*1e6) = 1000000 /
    // 630929 / 500000) so no libm call exists in either engine; DCG and
    // IDCG stay exact integers and each metric is one final division.
    Q(
      "q212_retrieval_metrics",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val b = e.select(col("vec_id"), col("embedding"),
          Similarity.hyperplaneBucketFast(col("embedding"), 6, 64).as("bucket"))
        // FIXED 50 hash-ordered probes (bounded-probe convention, r8
        // sweep), the SAME set on the indexed and brute-truth side
        val probes = Similarity.hashOrderedProbes(b, "vec_id", "probe", 50)
        val ann = Similarity.annTopKByCell(probes, b, "vec_id", "embedding", "bucket", k = 3)
          .select("query_id", "neighbor_id", "rank")
        val truth = Similarity.topKCosine(
            probes.drop("bucket"), e, "vec_id", "embedding", k = 3)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        val agg = ann.join(truth, Seq("query_id", "neighbor_id"), "left")
          .na.fill(0L, Seq("hit"))
          .groupBy("query_id")
          .agg(
            max(when(col("rank") === 1, col("hit")).otherwise(0L)).as("h1"),
            max(when(col("rank") === 2, col("hit")).otherwise(0L)).as("h2"),
            max(when(col("rank") === 3, col("hit")).otherwise(0L)).as("h3"))
        agg.select(col("query_id"),
            (col("h1") + col("h2") + col("h3")).as("n_hits"),
            when(col("h1") === 1, lit(1.0))
              .when(col("h2") === 1, lit(1.0) / lit(2.0))
              .when(col("h3") === 1, lit(1.0) / lit(3.0))
              .otherwise(lit(0.0)).as("mrr"),
            when(col("h1") + col("h2") + col("h3") === 0, lit(0.0))
              .otherwise(
                (col("h1") * 1000000L + col("h2") * 630929L + col("h3") * 500000L)
                  .cast("double")
                / when(col("h1") + col("h2") + col("h3") === 1, 1000000L)
                    .when(col("h1") + col("h2") + col("h3") === 2, 1630929L)
                    .otherwise(2130929L).cast("double")).as("ndcg3"))
          .orderBy("query_id")
      },
      Some(s"""
        WITH sb AS (
          SELECT vec_id,
                 ${Similarity.duckHyperplaneBucket("embedding", "5")} AS bucket
          FROM embeddings
        ), e AS (
          SELECT v.vec_id, v.embedding, sb.bucket,
                 sqrt(${duckDot("v.embedding", "v.embedding")}) AS nrm
          FROM embeddings v JOIN sb ON v.vec_id = sb.vec_id
        ), ann AS (
          SELECT query_id, neighbor_id, rnk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                              c.vec_id) AS rnk
            FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)})
          WHERE rnk <= 3
        ), brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC,
                              c.vec_id) AS rnk
            FROM e q CROSS JOIN e c
            WHERE q.vec_id IN ${duckProbes("embeddings", "vec_id", "probe", 50)}
              AND c.vec_id <> q.vec_id)
          WHERE rnk <= 3
        ), agg AS (
          SELECT a.query_id,
                 CAST(MAX(CASE WHEN a.rnk = 1 AND EXISTS (SELECT 1 FROM brute b
                   WHERE b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id)
                   THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                 CAST(MAX(CASE WHEN a.rnk = 2 AND EXISTS (SELECT 1 FROM brute b
                   WHERE b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id)
                   THEN 1 ELSE 0 END) AS BIGINT) AS h2,
                 CAST(MAX(CASE WHEN a.rnk = 3 AND EXISTS (SELECT 1 FROM brute b
                   WHERE b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id)
                   THEN 1 ELSE 0 END) AS BIGINT) AS h3
          FROM ann a GROUP BY a.query_id
        )
        SELECT query_id,
               CAST(h1 + h2 + h3 AS BIGINT) AS n_hits,
               CASE WHEN h1 = 1 THEN CAST(1 AS DOUBLE)
                    WHEN h2 = 1 THEN CAST(1 AS DOUBLE) / 2
                    WHEN h3 = 1 THEN CAST(1 AS DOUBLE) / 3
                    ELSE CAST(0 AS DOUBLE) END AS mrr,
               CASE WHEN h1 + h2 + h3 = 0 THEN CAST(0 AS DOUBLE)
                    ELSE CAST(h1 * 1000000 + h2 * 630929 + h3 * 500000 AS DOUBLE)
                         / CAST(CASE h1 + h2 + h3 WHEN 1 THEN 1000000
                                WHEN 2 THEN 1630929 ELSE 2130929 END AS DOUBLE)
               END AS ndcg3
        FROM agg ORDER BY query_id
      """.trim)),

    // BPE merge-training step — the tokenizer-training component of an LLM
    // pipeline: count every word-internal character bigram across the
    // corpus, elect the merge winner by (count desc, pair asc), then apply
    // the merge corpus-wide and report per-language how many words and
    // occurrences it touched (replace() is leftmost-non-overlapping in
    // both engines, so the applied-merge counts agree exactly). Pair
    // explosion is linear in characters; the 1-row winner broadcasts onto
    // the application scan. Iterating this query IS BPE training.
    Q(
      "q213_bpe_merge_step",
      (s, dir) => {
        val words = Tables.documents(s, dir)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
          .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")) >= 2)
        val pairs = words
          .select(col("lang"),
            explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
              .as("pair"))
        val winner = pairs.groupBy("pair").agg(count(lit(1)).as("n_pair"))
          .orderBy(col("n_pair").desc, col("pair")).limit(1)
        words.crossJoin(broadcast(winner))
          .withColumn("n_merges",
            expr("cast((length(w) - length(replace(w, pair, ''))) div 2 as bigint)"))
          .groupBy("lang", "pair", "n_pair")
          .agg(
            sum(when(col("n_merges") > 0, 1L).otherwise(0L)).as("n_words_affected"),
            sum(col("n_merges")).as("n_occurrences"))
          .orderBy("lang")
      },
      Some(s"""
        WITH words AS (
          SELECT lang, unnest(${duckTokens("text")}) AS w FROM documents
        ), w2 AS (
          SELECT lang, w FROM words WHERE length(w) >= 2
        ), pairs AS (
          SELECT lang, unnest([substr(w, CAST(i AS INTEGER), 2)
                               FOR i IN generate_series(1, length(w) - 1)]) AS pair
          FROM w2
        ), winner AS (
          SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair
          FROM pairs GROUP BY pair
          ORDER BY n_pair DESC, pair LIMIT 1
        )
        SELECT lang, winner.pair, winner.n_pair,
               CAST(SUM(CASE WHEN length(w) > length(replace(w, winner.pair, ''))
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_words_affected,
               CAST(SUM((length(w) - length(replace(w, winner.pair, ''))) // 2)
                 AS BIGINT) AS n_occurrences
        FROM w2 CROSS JOIN winner
        GROUP BY lang, winner.pair, winner.n_pair
        ORDER BY lang
      """.trim)),

    // Sequence packing: assign documents to fixed 2048-token context-window
    // bins by their START offset in the arrival-order token stream — the
    // training-batch packing pass that turns a deduped corpus into
    // fixed-budget sequences. The global cumulative offset comes from the
    // TWO-PHASE prefix sum (range partition + per-partition offsets,
    // Keys.globalRunningSum) — the single-task window the naive form needs
    // is exactly what 100 TB forbids; the oracle states the same packing
    // with DuckDB's (single-node-fine) unbounded window. Per-bin doc count,
    // token fill, and id span pin every assignment.
    Q(
      "q214_sequence_packing",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
          .filter(col("n_tokens") > 0)
        graft.engine.Keys.globalRunningSum(docs, "doc_id", "n_tokens", "cum")
          .withColumn("bin", expr("(cum - n_tokens) div 2048"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("bin")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_tokens FROM documents
        ), d2 AS (
          SELECT doc_id, n_tokens FROM d WHERE n_tokens > 0
        ), c AS (
          SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM d2
        )
        SELECT CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1 ORDER BY bin
      """.trim)),

    // IDF-WEIGHTED Jaccard pairs: shingle weight ln(N/df) (integer-
    // quantized at 1e-6 — the q224/q287 discipline that keeps transcendental
    // sums merge-order-free and engine-exact), similarity = W(A∩B)/W(A∪B)
    // over the df-capped discriminative universe. Rare shared phrasing now
    // counts for more than common phrasing — the similarity that separates
    // "shares a distinctive paragraph" from "shares frequent trigrams",
    // which unweighted Jaccard cannot. Same bounded inverted-index shape as
    // q74: integer weights only, at most cap^2 join rows per shingle.
    Q(
      "q401_weighted_jaccard",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // shared corpus shingle artifact (R11.7) — the per-query
        // tokenize+shingle recompute was most of this gate's cost and its
        // 10x rehearsal ratio
        val sh = SharedFrames.docShingles(s, dir, 3)
        val inv = sh.select(col("doc_id"), explode(col("__shingles")).as("__s"))
        val nDocs = docs.agg(count(lit(1)).as("__nd"))
        val w = inv.groupBy("__s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= 128)
          .crossJoin(broadcast(nDocs))
          .select(col("__s"),
            round(log(col("__nd").cast("double") / col("__df").cast("double"))
              * 1000000.0).cast("long").as("__w"))
        val cw = inv.join(w.hint("shuffle_hash"), Seq("__s"))
        val sizes = cw.groupBy("doc_id").agg(sum(col("__w")).as("__wt"))
        val inter = cw.as("a")
          .join(cw.as("b").hint("shuffle_hash"),
            col("a.__s") === col("b.__s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(sum(col("a.__w")).as("__iw"))
        inter
          .join(sizes.select(col("doc_id").as("id_a"), col("__wt").as("__wa"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("__wt").as("__wb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            (col("__iw").cast("double")
              / (col("__wa") + col("__wb") - col("__iw")).cast("double"))
              .as("wjaccard"))
          .filter(col("wjaccard") >= 0.6)
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        WITH d AS (
          SELECT doc_id, ${duckShingles(duckTokens("text"), 3)} AS sh FROM documents
        ), inv AS (
          SELECT doc_id, unnest(sh) AS s FROM d
        ), nd AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
        ), w AS (
          SELECT s, CAST(round(ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE))
                   * 1000000.0) AS BIGINT) AS w
          FROM (SELECT s, COUNT(*) AS df FROM inv GROUP BY s
                HAVING COUNT(*) <= 128) CROSS JOIN nd
        ), cw AS (
          SELECT doc_id, inv.s, w FROM inv JOIN w ON inv.s = w.s
        ), sizes AS (
          SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt FROM cw GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(SUM(a.w) AS BIGINT) AS iw
          FROM cw a JOIN cw b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(iw AS DOUBLE) / CAST(sa.wt + sb.wt - iw AS DOUBLE) AS wjaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(iw AS DOUBLE) / CAST(sa.wt + sb.wt - iw AS DOUBLE) >= 0.6
        ORDER BY id_a, id_b
      """.trim)),

    // Dedup yield curve: pair count and docs-dropped at each candidate
    // threshold from ONE banded-candidate pipeline (verified at the lowest
    // sweep point; the higher cuts are filters over the same exact jaccard
    // values) — the tuning report that prices a dedup threshold before
    // committing a 100 TB pass. The 5-row grid is the only broadcast.
    Q(
      "q402_dedup_threshold_sweep",
      (s, dir) => {
        import s.implicits._
        val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
        // banding + verify over the shared shingle/signature artifacts
        // (round 15): the sweep's 0.5 cut needs its own verify pass (more
        // pairs than the t=0.8 artifact), but the tokenize+md5+min-hash
        // pipeline is identical to q24's, which stays the live gate
        val pairs = NearDup.minHashNearDupPairsFromParts(
          SharedFrames.docShingles(s, dir, 3), SharedFrames.minhashSigs(s, dir),
          "doc_id", k = 64, bands = 16, threshold = 0.5)
        val hits = pairs
          .select(explode(array(ts.map(lit): _*)).as("threshold"),
            col("jaccard"), col("id_b"))
          .filter(col("jaccard") >= col("threshold"))
          .groupBy("threshold")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("id_b")).as("n_docs_dropped"))
        broadcast(ts.toDF("threshold"))
          .join(hits, Seq("threshold"), "left")
          .select(col("threshold"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"))
          .orderBy("threshold")
      },
      Some(s"""
        ${minhashPairsCteOver("documents", "0.5")}, grid AS (
          SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
        ), agg AS (
          SELECT g.threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(COUNT(DISTINCT v.id_b) AS BIGINT) AS n_docs_dropped
          FROM grid g JOIN verified v ON v.jaccard >= g.threshold
          GROUP BY 1
        )
        SELECT g.threshold AS threshold,
               COALESCE(n_pairs, 0) AS n_pairs,
               COALESCE(n_docs_dropped, 0) AS n_docs_dropped
        FROM grid g LEFT JOIN agg ON g.threshold = agg.threshold
        ORDER BY g.threshold
      """.trim)),

    // Source-pair dedup matrix: which FEEDS duplicate each other — verified
    // near-dup pairs annotated with both sides' sources and rolled up per
    // (source_a, source_b). The report that catches a mirror site or a
    // re-crawled feed before it skews mixture weights. Pair generation is
    // the same banded pipeline (never all-pairs); the source lookups are
    // doc-linear shuffle-hash joins.
    Q(
      "q403_source_dedup_matrix",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val src = docs.select(col("doc_id"), col("source"))
        SharedFrames.verifiedDocPairs(s, dir)
          .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b"))
            .hint("shuffle_hash"), Seq("id_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""
        $MinhashPairsCte
        SELECT da.source AS source_a, db.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM verified v
        JOIN documents da ON da.doc_id = v.id_a
        JOIN documents db ON db.doc_id = v.id_b
        GROUP BY 1, 2 ORDER BY source_a, source_b
      """.trim)),

    // MinHash estimator calibration: for every verified pair, the
    // signature-agreement ESTIMATE (matching coordinates / k) beside the
    // exact Jaccard and the absolute error — the audit that justifies k
    // (64 here: stderr ~ sqrt(j(1-j)/64) ~ 0.05 at j=0.8). All ratios of
    // integers; the signature frame is the same one the banding consumed.
    Q(
      "q404_minhash_estimate_audit",
      (s, dir) => {
        val sigs = SharedFrames.minhashSigs(s, dir)
        SharedFrames.verifiedDocPairs(s, dir)
          .join(sigs.select(col("doc_id").as("id_a"), col("__sig").as("__siga"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(sigs.select(col("doc_id").as("id_b"), col("__sig").as("__sigb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("jaccard"),
            (size(filter(zip_with(col("__siga"), col("__sigb"),
              (x, y) => x === y), b => b)).cast("double") / 64.0)
              .as("est_jaccard"))
          .withColumn("abs_err", abs(col("jaccard") - col("est_jaccard")))
          .orderBy("id_a", "id_b")
      },
      Some(s"""
        $MinhashPairsCte
        SELECT v.id_a, v.id_b, v.jaccard,
               CAST(len([i FOR i IN generate_series(1, 64)
                         IF sa.sig[i] = sb.sig[i]]) AS DOUBLE) / 64.0
                 AS est_jaccard,
               abs(v.jaccard
                   - CAST(len([i FOR i IN generate_series(1, 64)
                               IF sa.sig[i] = sb.sig[i]]) AS DOUBLE) / 64.0)
                 AS abs_err
        FROM verified v
        JOIN sigs sa ON sa.doc_id = v.id_a
        JOIN sigs sb ON sb.doc_id = v.id_b
        ORDER BY id_a, id_b
      """.trim)),

    // Dedup savings report: per near-dup CLUSTER (transitive closure, the
    // q61 fixpoint), how many documents collapse and how many training
    // tokens the canonical-only policy saves — the number a curation run
    // reports to justify its cost. Token counts join the label frame
    // doc-linearly; the canonical is the min-id member (cluster_id) by
    // construction.
    Q(
      "q405_cluster_savings",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val labels = NearDup.connectedComponents(
          SharedFrames.verifiedDocPairs(s, dir),
          "id_a", "id_b")
        val toks = docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        labels.select(col("id").as("doc_id"), col("cluster_id"))
          .join(toks.hint("shuffle_hash"), Seq("doc_id"))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            sum(when(col("doc_id") === col("cluster_id"), col("n_tok"))
              .otherwise(0L)).as("kept_tokens"))
          .select(col("cluster_id"), col("n_docs"), col("total_tokens"),
            (col("total_tokens") - col("kept_tokens")).as("tokens_saved"))
          .orderBy("cluster_id")
      },
      Some(s"""
        ${("WITH RECURSIVE " + MinhashPairsCte.stripPrefix("WITH ")).trim}, ${duckConnectedComponents("verified", "cc")}, labels AS (
          SELECT doc_id, component AS cluster_id FROM cc
        ), t AS (
          SELECT doc_id, CAST(len(${duckTokens("text")}) AS BIGINT) AS n_tok FROM documents
        )
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_tok) - SUM(CASE WHEN l.doc_id = cluster_id
                 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_saved
        FROM labels l JOIN t USING (doc_id)
        GROUP BY 1 ORDER BY cluster_id
      """.trim)),

    // Z-ORDER clustering audit: Morton-interleave two key dimensions into
    // one curve value, bucket the table 16 ways on it, and emit each
    // bucket's PER-DIMENSION key span next to the same audit for a plain
    // leading-column sort. The point the numbers make: z-buckets carry
    // bounded spans on BOTH dimensions (min/max file skipping works for
    // predicates on either), while linear buckets leave the trailing
    // dimension's span at the full key range — why lakehouse layouts
    // z-order multi-predicate tables. Keys are spread over the 16-bit
    // curve domain with a fixed modulus (SF-independent, deterministic);
    // all integer arithmetic, oracle verbatim.
    Q(
      "q408_zorder_cluster",
      (s, dir) => {
        import graft.engine.ZOrder
        val k = Tables.lineitem(s, dir).select(
          (pmod(col("l_partkey"), lit(2048L)) * 32).as("a"),
          (pmod(col("l_suppkey"), lit(2048L)) * 32).as("b"))
        val z = k.withColumn("z", ZOrder.interleave16(col("a"), col("b")))
        val zb = z.select(lit("zorder").as("layout"),
          expr("z div 268435456").as("bucket"), col("a"), col("b"))
        val lb = z.select(lit("linear").as("layout"),
          expr("a div 4096").as("bucket"), col("a"), col("b"))
        zb.unionByName(lb)
          .groupBy("layout", "bucket")
          .agg(count(lit(1)).as("n"),
            (max(col("a")) - min(col("a"))).as("span_a"),
            (max(col("b")) - min(col("b"))).as("span_b"))
          .orderBy("layout", "bucket")
      },
      Some(s"""
        WITH k AS (
          SELECT (l_partkey % 2048) * 32 AS a, (l_suppkey % 2048) * 32 AS b
          FROM lineitem
        ), z AS (
          SELECT a, b, ${graft.engine.ZOrder.duckInterleave16("a", "b")} AS z
          FROM k
        ), u AS (
          SELECT 'zorder' AS layout, z // 268435456 AS bucket, a, b FROM z
          UNION ALL
          SELECT 'linear', a // 4096, a, b FROM z
        )
        SELECT layout, CAST(bucket AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(a) - MIN(a) AS BIGINT) AS span_a,
               CAST(MAX(b) - MIN(b) AS BIGINT) AS span_b
        FROM u GROUP BY 1, 2 ORDER BY layout, bucket
      """.trim)),

    // Exact embedding Gram matrix (upper triangle): G[i][j] = sum over the
    // corpus of v_i * v_j — the d x d building block of
    // whitening/PCA/covariance on the embedding column. One generator
    // chain (posexplode twice — never a self-join), d^2 rows per vector,
    // one hash aggregate; per-element products are quantized with the
    // q399 fixed-point convention (floor(p * 2^24) longs — merge-order
    // free, 6e-8 quantization, sums fit int64 past 1e9 vectors), and the
    // single division back to double is mirrored verbatim.
    Q(
      "q409_embedding_gram",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val xi = e.select(col("vec_id"), col("embedding"),
          posexplode(col("embedding")).as(Seq("i", "vi")))
        xi.select(col("i"), col("vi"),
            posexplode(col("embedding")).as(Seq("j", "vj")))
          .filter(col("i") <= col("j"))
          .select(col("i"), col("j"),
            floor(col("vi").cast("double") * col("vj").cast("double")
              * lit(16777216.0)).cast("long").as("pq"))
          .groupBy("i", "j")
          .agg(count(lit(1)).as("n"), sum(col("pq")).as("gq"))
          .select(col("i"), col("j"), col("n"),
            (col("gq").cast("double") / lit(16777216.0)).as("gram"))
          .orderBy("i", "j")
      },
      Some("""
        SELECT CAST(u.i - 1 AS INTEGER) AS i, CAST(v.i - 1 AS INTEGER) AS j,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(CAST(u.vi AS DOUBLE) * CAST(v.vj AS DOUBLE)
                 * 16777216.0) AS BIGINT)) AS DOUBLE) / 16777216.0 AS gram
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS vi,
                             generate_subscripts(embedding, 1) AS i) u,
             LATERAL (SELECT unnest(embedding) AS vj,
                             generate_subscripts(embedding, 1) AS i) v
        WHERE u.i <= v.i
        GROUP BY 1, 2 ORDER BY i, j
      """.trim))
  )
}
