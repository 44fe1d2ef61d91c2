package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.plans.SharedSubplan

/** Near-duplicate detection for LLM training corpora: word-shingling, exact
  * n-gram Jaccard, MinHash signatures with banded LSH candidate generation,
  * and SimHash.
  *
  * Scale design (the 100 TB contract):
  *  - Signature computation (shingles -> k min-hashes -> band buckets) is
  *    pure map-side expression work — zero shuffles, linear scan.
  *  - Candidate generation is a self-join on (band, bucket): only documents
  *    that collide in at least one band ever meet. NEVER all-pairs. The join
  *    key (band, bucket) is high-cardinality, so the shuffle is well spread;
  *    a pathological bucket (all-identical docs) is bounded by band count and
  *    survives via AQE skew splitting.
  *  - Exact-Jaccard verification runs only on the candidate pairs (two hash
  *    joins back to the per-doc shingle sets).
  *  - EVERY candidate generator is bounded in the hottest key: MinHash/SimHash
  *    band buckets are capped (maxBucket), `exactJaccardPairs` and
  *    `prefixJaccardPairs` run the threshold-complete prefix filter (~(1-t)
  *    of the postings, hot-shingle-immune), and `containmentPairs` caps the
  *    posting-list document frequency (dfCap). Nothing in this file joins an
  *    unbounded inverted index against itself — the shape whose cost is
  *    quadratic in a data-dependent hot shingle.
  */
object NearDup {

  /** Distinct word n-gram shingles of a token array (empty when there are
    * fewer than n tokens — Spark's sequence() would otherwise count DOWN).
    *
    * Construction note: shingle i is built by zipping n SHIFTED SLICES of the
    * token array and concatenating each zipped struct — NOT by slicing inside
    * a `transform` lambda. A free non-attribute reference inside a
    * higher-order lambda is re-evaluated per element, so the lambda form
    * re-runs whatever expression produced `toks` once per shingle (quadratic
    * per document — and optimizer rules like CollapseProject / broadcast
    * planning can inline the tokenization there even if the caller
    * materialized it). Here every reference to `toks` sits in argument
    * position, evaluated once per row no matter how the plan is rewritten.
    */
  def shingles(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    val parts = (0 until n).map(o => slice(toks, lit(o + 1), m))
    val shingleOf = (s: Column) =>
      concat_ws(" ", (0 until n).map(i => s.getField(i.toString)): _*)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(arrays_zip(parts: _*), shingleOf)))
  }

  /** Universal-hash family for MinHash: member s maps a base hash h to
    * (A_s * h + s) mod P over the Mersenne prime P = 2^31 - 1. One md5 per
    * shingle (the base hash, reduced mod P) feeds all k members as cheap
    * 64-bit integer arithmetic — k times fewer md5 evaluations than
    * seed-prefixed hashing, exactly reproducible in DuckDB (products stay
    * under 2^62, no overflow in either engine).
    */
  val MinHashP: Long = 2147483647L
  def minHashA(s: Int): Long = (s * 2654435761L) % (MinHashP - 1) + 1

  /** k-element MinHash signature per document, computed as a hash aggregate:
    * explode the shingles, md5 each once, then k `min()` aggregates of the
    * k affine transforms — fully codegen'd (no higher-order lambdas in the
    * hot path), map-side-partial, one shuffle on the doc id.
    * Input must provide (idCol, `__shingles`); output: (idCol, `__sig`).
    * Documents with zero shingles vanish (no rows to aggregate).
    */
  def minHashSignatureFrame(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    val hashed = sh
      .select(col(idCol), explode(col("__shingles")).as("__s"))
      .select(col(idCol), pmod(TextHash.hash60(col("__s")), lit(MinHashP)).as("__h"))
    val mins = (0 until k).map { s =>
      min((lit(minHashA(s)) * col("__h") + lit(s.toLong)) % lit(MinHashP)).as(s"__m$s")
    }
    hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until k).map(s => col(s"__m$s")): _*).as("__sig"))
  }

  /** LSH banding: the signature is cut into `bands` bands of `rowsPerBand`
    * values; each band becomes (band index, joined-signature-slice bucket
    * string). Two documents are candidates iff they collide in >= 1 band.
    */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      struct(
        j.as("band"),
        concat_ws("_",
          transform(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand)), v => v.cast("string"))
        ).as("bucket")))

  /** Exact Jaccard similarity of two (distinct-element) shingle arrays, as
    * the IEEE-exact ratio |a∩b| / (|a|+|b|-|a∩b|). The intersection
    * cardinality is the codegen'd native expression (graft.functions
    * .IntersectCard — one hash-set pass, no intersection array
    * materialized); numerically identical to [[jaccardPortable]], asserted
    * in FunctionsSpec.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = call_function("graft_intersect_card", a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Built-ins-only composition of [[jaccard]] — kept as the cross-check
    * reference for the native expression (same pattern as
    * TextHash.hash60Portable).
    */
  def jaccardPortable(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  /** Hash-spread CPU-heavy per-document map work across the cluster. A small
    * parquet file arrives as ONE input split, so without this every md5 of a
    * signature computation would run in a single task regardless of cluster
    * size; one cheap shuffle of the raw rows buys full parallelism. The
    * partition count is EXPLICIT on purpose: AQE's size-based coalescing
    * would merge a byte-light/CPU-heavy shuffle back to one partition
    * (coalescing is blind to expression cost), and explicit user
    * repartitioning is exempt from it. (At 100 TB inputs are already many
    * splits and this is a balance-preserving reshuffle by id.)
    */
  private def spread(docs: DataFrame, idCol: String): DataFrame =
    graft.engine.Partitions.cpuSpread(docs, col(idCol))

  /** Per-document shingle frame: (idCol, __shingles), ending in an exchange.
    *
    * Tokens are materialized BELOW the first spread exchange, shingles above
    * it: the shingle lambda references the token array per element, and a
    * free non-attribute reference inside a higher-order lambda is
    * re-evaluated per element — a nested tokens expression would re-run
    * regexp+split once per shingle (quadratic per document; observed
    * ~1.5 ms/doc). Projections cannot collapse across the exchange, so above
    * it the lambda sees a plain shuffled attribute (free per-element), and
    * the one-per-row tokenization rides the scan stage where it is linear
    * and cheap.
    *
    * The SECOND spread makes the whole frame end in an exchange node, which
    * is the single-evaluation point: every consumer (the signature
    * aggregate plus BOTH exact-verify joins) references a plan-identical
    * exchange, so ReuseExchange computes tokenize+shingle ONCE and fans the
    * shuffled output out — without it the shingle pipeline re-executes per
    * consumer (3x, measured dominant in q24/q36). It also leaves the frame
    * hash-partitioned on the doc id, so the signature groupBy and the
    * id-keyed verify joins need no further exchange on this side.
    */
  private def withShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(
      spread(
        docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks")),
        idCol)
        .select(col(idCol), shingles(col("__toks"), n).as("__shingles"))
        // The empty-doc/null filters live HERE, inside the shared frame, so
        // every consumer's exchange subtree carries the IDENTICAL predicate
        // set. Applied outside, the optimizer pushes a different inferred
        // variant below each consumer's exchange (the explode branch infers
        // isnotnull(__shingles), the join branches only isnotnull(id)),
        // the canonical forms diverge, and exchange reuse never fires —
        // the whole tokenize+shingle pipeline then re-executes per
        // consumer. Semantics-neutral for all callers: zero-shingle docs
        // can never appear in pair output.
        .filter(col(idCol).isNotNull && col("__shingles").isNotNull &&
          size(col("__shingles")) > 0),
      idCol)

  /** Public handle on the shared per-document shingle frame
    * (idCol, __shingles), exchange-ended — see [[withShingles]].
    */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    withShingles(docs, idCol, textCol, n)

  /** POSITIONAL word n-grams (non-distinct, document order) — the winnowing
    * input, where the i-th gram corresponds to text position i. Same
    * shifted-slice zip construction as [[shingles]] (argument-position
    * references only), minus the distinct.
    */
  def posGrams(toks: Column, n: Int): Column = {
    val m = size(toks) - (n - 1)
    val parts = (0 until n).map(o => slice(toks, lit(o + 1), m))
    val gramOf = (s: Column) =>
      concat_ws(" ", (0 until n).map(i => s.getField(i.toString)): _*)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(arrays_zip(parts: _*), gramOf))
  }

  /** Exact Jaccard pairs via PREFIX FILTERING (SSJoin/PPJoin family,
    * Chaudhuri et al. 2006; Xiao et al. 2008): under any global total order
    * on the shingle universe (here: the 60-bit hash value), two sets with
    * |A∩B| >= o must share an element within the first |A|-o+1 / |B|-o+1
    * elements of their sorted forms. Jaccard >= num/den implies overlap
    * >= ceil(num*|A|/den) (integer arithmetic — a float ceil(t*|A|) can land
    * one above the true bound and silently drop candidates), so exploding
    * ONLY each document's prefix yields a threshold-COMPLETE candidate set
    * at a fraction of the inverted-index volume: for t=0.8, ~20% of the
    * postings and ~4% of the bucket-pair blowup. Candidates are then
    * exact-verified on the full shingle sets. Same output as
    * [[exactJaccardPairs]], cheaper by construction — the exact-pairs form
    * to prefer at scale when LSH recall loss is not acceptable.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tNum: Int, tDen: Int): DataFrame =
    prefixJaccardPairsFromShingles(
      withShingles(docs, idCol, textCol, n), idCol, tNum, tDen)

  /** [[prefixJaccardPairs]] over a PRECOMPUTED shingle frame (idCol,
    * __shingles) — a [[shingleFrame]] or its materialized read-back
    * (SharedFrames.docShingles): at corpus scale the tokenize+shingle pass
    * is the dominant shared cost across the exact-pair operators, and a
    * persisted postings artifact amortizes it across queries the way the
    * near-dup pair set and mutual-kNN edges already do. Every step here is
    * order-insensitive in the array (hash-sorted prefixes, set Jaccard),
    * so the artifact round-trip cannot change output.
    */
  def prefixJaccardPairsFromShingles(sh: DataFrame, idCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen must be in (0,1]")
    verifyJaccard(prefixCandidates(sh, idCol, tNum, tDen), "id_a", "id_b",
      sh, sh, idCol, tNum.toDouble / tDen)
  }

  /** Prefix-filter candidate core over a [[withShingles]] frame: the
    * threshold-COMPLETE (id_a, id_b) candidate set for Jaccard >= tNum/tDen.
    * Prefix of the hash-sorted shingle set has length |S| - ceil(t|S|) + 1;
    * ceil(num*|S|/den) is computed as floor((num*|S| + den - 1) / den) —
    * integer arithmetic (a float ceil(t*|A|) can land one above the true
    * bound and silently drop candidates); the operands stay far below 2^53,
    * so the double division + floor is integer-exact.
    *
    * The global shingle order is xxhash64, NOT the engine's md5-based
    * hash60: the order is purely internal to candidate generation (any
    * hash shared by all documents yields a complete candidate superset —
    * a collision merely merges two order positions and can only ADD a
    * candidate; the exact verify decides the output), and inside the
    * `transform` lambda the hash evaluates INTERPRETED per shingle —
    * md5 there measured ~240 CPU-seconds per million documents-worth of
    * postings, 10x the rest of the plan; xxhash64 is ~50x cheaper.
    */
  private[ext] def prefixCandidates(sh: DataFrame, idCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    val sz = size(col("__shingles"))
    val prefixLen = (sz - floor((sz * tNum + (tDen - 1)) / tDen) + 1).cast("int")
    selfJoinPairs(sh.select(col(idCol),
      explode(slice(sort_array(transform(col("__shingles"), s => xxhash64(s))),
        lit(1), prefixLen)).as("__p")), idCol, Seq("__p"))
  }

  /** Candidate core shared by the prefix, MinHash and SimHash plans: the
    * distinct (id_a, id_b), id_a < id_b, of every two rows of `keyed` that
    * agree on all `keys` (a prefix hash, a band bucket). SHUFFLE_HASH: the
    * keyed frame is doc-linear, never a broadcast build at scale.
    */
  private[ext] def selfJoinPairs(keyed: DataFrame, idCol: String,
      keys: Seq[String]): DataFrame =
    keyed.as("a")
      .join(keyed.as("b").hint("shuffle_hash"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()

  /** Exact-verify core shared by every Jaccard pair plan: join the
    * candidate (`aCol`, `bCol`) pairs back to each side's full shingle sets
    * (`shA`, `shB`: (idCol, __shingles)) and keep those whose true Jaccard
    * clears the threshold. SHUFFLE_HASH: the shingle frames are doc-linear,
    * and a broadcast build would serially re-evaluate the tokenize+shingle
    * pipeline in one thread.
    */
  private def verifyJaccard(cand: DataFrame, aCol: String, bCol: String,
      shA: DataFrame, shB: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    cand
      .join(shA.select(col(idCol).as(aCol), col("__shingles").as("__sa")).hint("shuffle_hash"),
        Seq(aCol))
      .join(shB.select(col(idCol).as(bCol), col("__shingles").as("__sb")).hint("shuffle_hash"),
        Seq(bCol))
      .select(col(aCol), col(bCol), jaccard(col("__sa"), col("__sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Band-explode core: one (idCol, __band, __bucket) row per LSH band of
    * each MinHash signature in `sigs` (idCol, __sig).
    */
  private def banded(sigs: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    sigs
      .select(col(idCol), explode(bandBuckets(col("__sig"), bands, k / bands)).as("__bb"))
      .select(col(idCol), col("__bb.band").as("__band"), col("__bb.bucket").as("__bucket"))
  }

  /** Per-document duplicate-n-gram coverage: the fraction of a document's
    * distinct n-grams that occur in at least one OTHER document — the
    * corpus-level duplication diagnostic (Gopher / FineWeb "dup n-gram
    * fraction") that decides between document-level and span-level dedup.
    * One inverted-index aggregate (shingle -> doc frequency) joined back to
    * the postings; both frames shuffle on bounded keys, never all-pairs.
    * A shingle's doc frequency counts each document once (shingle sets are
    * distinct per doc). Output: (idCol, n_grams, n_dup, dup_frac).
    */
  def dupNgramCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val inv = withShingles(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("__shingles")).as("__s"))
    val df = inv.groupBy("__s").agg(count(lit(1)).as("__df"))
    // SHUFFLE_HASH on the df side: gram-linear, not broadcastable at scale.
    inv.join(df.hint("shuffle_hash"), Seq("__s"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col(idCol), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double")).as("dup_frac"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, MOSS): hash every
    * POSITIONAL word n-gram, slide a window of `w` consecutive gram hashes,
    * keep each window's minimum — guaranteeing any shared run of
    * w + n - 1 words contributes at least one common fingerprint, with
    * expected density 2/(w+1) of the gram count. The distinct kept hashes
    * are the document's fingerprint set (plagiarism/attribution-grade
    * near-dup evidence, robust to insertions between shared spans).
    * Pure map-side expression work: gram hashes are materialized below a
    * spread exchange (the [[withShingles]] lambda-re-evaluation discipline),
    * window minima above it. Documents with fewer than w grams are dropped.
    * Output: (idCol, n_grams, n_fps, min_fp).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      n: Int, w: Int): DataFrame = {
    require(n >= 1 && w >= 1, s"need n >= 1, w >= 1; got n=$n w=$w")
    val gh = spread(
      spread(
        docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks")),
        idCol)
        .select(col(idCol),
          transform(posGrams(col("__toks"), n), g => TextHash.hash60(g)).as("__gh"))
        .filter(col(idCol).isNotNull && size(col("__gh")) >= w),
      idCol)
    gh.select(col(idCol), size(col("__gh")).as("n_grams"),
        array_distinct(transform(
          sequence(lit(1), size(col("__gh")) - (w - 1)),
          i => array_min(slice(col("__gh"), i, lit(w))))).as("__fps"))
      .select(col(idCol), col("n_grams"),
        size(col("__fps")).as("n_fps"), array_min(col("__fps")).as("min_fp"))
  }

  /** Exact near-dup pairs at a double threshold: the prefix-filter plan
    * ([[prefixCandidates]]) with the threshold lowered to the rational
    * floor(threshold*10^6)/10^6 for the prefix bound — a rational AT OR
    * BELOW the double threshold only LENGTHENS the prefix, so the candidate
    * set stays a superset of the threshold-complete one and the output is
    * IDENTICAL to the naive inverted-index join (which this replaced: an
    * uncapped posting-list self-join contributes df^2 candidate rows per
    * shingle, so one stop-phrase trigram at corpus scale degenerates it
    * into a de facto cartesian — the prefix plan touches ~(1-t) of the
    * postings and is immune to hot shingles by construction: a
    * high-frequency shingle sorts anywhere in the hash order, but each doc
    * exposes only its first |S|-ceil(t|S|)+1 hashes).
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame =
    exactJaccardPairsFromShingles(
      withShingles(docs, idCol, textCol, n), idCol, threshold)

  /** [[exactJaccardPairs]] over a PRECOMPUTED shingle frame — see
    * [[prefixJaccardPairsFromShingles]] for the artifact rationale.
    */
  def exactJaccardPairsFromShingles(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold $threshold must be in (0,1]")
    val tDen = 1000000
    val tNum = math.floor(threshold * tDen).toInt.max(1)
    verifyJaccard(prefixCandidates(sh, idCol, tNum, tDen), "id_a", "id_b",
      sh, sh, idCol, threshold)
  }

  /** Containment near-dup pairs: |A∩B|/|A| and |A∩B|/|B| — the ASYMMETRIC
    * similarity that catches a document embedded inside a larger one (quote
    * inclusion, concatenated crawls), which symmetric Jaccard dilutes (a
    * small doc inside a big one has low Jaccard but containment ~1). A pair
    * survives when EITHER direction clears the threshold.
    *
    * Computed entirely within the df-CAPPED shingle universe: shingles in
    * more than `dfCap` documents are dropped up front, and both the
    * intersection counts AND the set sizes are taken over the surviving
    * (discriminative) shingles. Two reasons, and both matter at 100 TB:
    *  - cost: prefix filtering cannot bound a containment join (the
    *    required overlap t*min(|A|,|B|) depends on the pair, so no per-set
    *    prefix is complete), and an uncapped inverted index is quadratic in
    *    the hottest shingle's document frequency — one stop-phrase trigram
    *    makes it a de facto cartesian. Capped, the self-join contributes at
    *    most dfCap^2 rows per shingle, and every joined payload is an
    *    integer count — no shingle arrays ever shuffle (a full-set verify
    *    at this candidate volume measured 3.7x slower end-to-end).
    *  - semantics: corpus-hot shingles are boilerplate (headers, nav
    *    chrome, license text); counting them inflates containment exactly
    *    for the small-doc-inside-big-doc case this operator exists for.
    *    Rare-universe containment is the boilerplate-insensitive form —
    *    the same reasoning as stopword removal and
    *    [[simHashNearDupPairs]]'s frequent-bucket suppression.
    * A pair is emitted iff it shares >= 1 sub-cap shingle and its
    * rare-universe containment clears the threshold; documents whose every
    * shingle is hot drop out (no discriminative content to compare).
    * Output: (id_a, id_b, containment_a, containment_b), id_a < id_b.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, dfCap: Int = 128): DataFrame =
    containmentPairsFromShingles(
      withShingles(docs, idCol, textCol, n), idCol, threshold, dfCap)

  /** [[containmentPairs]] over a PRECOMPUTED shingle frame (idCol,
    * __shingles) — see [[prefixJaccardPairsFromShingles]] for the artifact
    * rationale; the df-cap, sizes and intersections are all counts over
    * the exploded postings, insensitive to array order and to the parquet
    * round-trip.
    */
  def containmentPairsFromShingles(sh: DataFrame, idCol: String,
      threshold: Double, dfCap: Int = 128): DataFrame = {
    // SHUFFLE_HASH everywhere: capped/sizes are corpus-linear (see
    // cappedPostings). capped ends in the __s-keyed join, so the pair
    // self-join below reuses that partitioning; only the size aggregate
    // re-keys (by doc id).
    val capped = cappedPostings(sh, idCol, dfCap)
    val sizes = capped.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    val inter = capped.as("a")
      .join(capped.as("b").hint("shuffle_hash"),
        col("a.__s") === col("b.__s") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("__inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")).hint("shuffle_hash"),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")).hint("shuffle_hash"),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__inter").cast("double") / col("__na").cast("double")).as("containment_a"),
        (col("__inter").cast("double") / col("__nb").cast("double")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
  }

  /** df-capped postings (idCol, __s) of a [[withShingles]] frame: every
    * (doc, shingle) whose shingle occurs in at most `dfCap` documents, so a
    * self-join on __s contributes at most dfCap^2 rows per shingle. The df
    * aggregate and the semi-join both shuffle on the shingle — bounded
    * keys. SHUFFLE_HASH: the postings are corpus-linear — never
    * broadcastable at scale, and a broadcast build would serially
    * re-evaluate the tokenize+shingle pipeline in one thread (parquet stats
    * make the doc side look tiny, so the planner would pick it).
    */
  private[ext] def cappedPostings(sh: DataFrame, idCol: String, dfCap: Int): DataFrame = {
    require(dfCap >= 2, s"dfCap=$dfCap must be >= 2 (a df-1 shingle pairs nothing)")
    val inv = sh.select(col(idCol), explode(col("__shingles")).as("__s"))
    val rare = inv.groupBy("__s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= dfCap).select(col("__s"))
    inv.join(rare.hint("shuffle_hash"), Seq("__s"))
  }

  /** MinHash + banded-LSH near-dup pairs, exact-verified: generate candidate
    * pairs from band-bucket collisions, then keep those whose true shingle
    * Jaccard clears the threshold. The doc-level form of
    * [[minHashNearDupPairsFromParts]] over live [[withShingles]] and
    * [[minHashSignatureFrame]] frames. Output: (id_a, id_b, jaccard),
    * id_a < id_b.
    */
  def minHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    val sh = withShingles(docs, idCol, textCol, n)
    minHashNearDupPairsFromParts(sh, minHashSignatureFrame(sh, idCol, k),
      idCol, k, bands, threshold)
  }

  /** [[minHashNearDupPairs]] over PRECOMPUTED shingle and signature frames
    * (the SharedFrames artifacts): banding explodes the signature artifact,
    * the exact verify joins the shingle artifact — no tokenize/md5/min-hash
    * re-run per consumer. Identical output by construction: the artifacts
    * hold the same values the live pipeline computes (longs and string
    * arrays round-trip parquet exactly; banding is positional in the
    * signature array; set-Jaccard is order-insensitive). The full live
    * construction stays value-gated in q24.
    */
  def minHashNearDupPairsFromParts(sh: DataFrame, sigs: DataFrame,
      idCol: String, k: Int, bands: Int, threshold: Double): DataFrame =
    verifyJaccard(
      selfJoinPairs(banded(sigs, idCol, k, bands), idCol, Seq("__band", "__bucket")),
      "id_a", "id_b", sh, sh, idCol, threshold)

  /** Incremental dedup: near-dup pairs between a NEW delta batch and the
    * existing base corpus ONLY — the production shape when a crawl lands a
    * fresh batch against a corpus already deduped. Both sides are banded
    * with the same MinHash parameters; candidates are (delta, base) bucket
    * collisions, so the within-base quadratic work of a full re-pair never
    * happens — per-batch cost is proportional to the DELTA's postings plus
    * one bucket-join against the base's banding (which a real deployment
    * persists between batches). Candidate completeness equals the full
    * pipeline's restricted to mixed pairs: bucket collision is a pairwise
    * criterion, indifferent to which side a doc arrives on. Within-delta
    * duplicates are intentionally NOT emitted (that is a separate
    * [[minHashNearDupPairs]] pass over the delta alone). The doc-level
    * form of [[deltaNearDupPairsFromParts]] over each side's live shingle
    * and signature frames.
    * Output: (new_id, base_id, jaccard) at or above `threshold`.
    */
  def deltaNearDupPairs(base: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    val shNew = withShingles(delta, idCol, textCol, n)
    val shBase = withShingles(base, idCol, textCol, n)
    deltaNearDupPairsFromParts(shNew, minHashSignatureFrame(shNew, idCol, k),
      shBase, minHashSignatureFrame(shBase, idCol, k), idCol, k, bands, threshold)
  }

  /** [[deltaNearDupPairs]] over PRECOMPUTED shingle and signature frames
    * for each side (e.g. filters of the SharedFrames corpus artifacts when
    * the delta/base split is a partition of one corpus) — the banding is
    * positional in the signature array and the verify is set-Jaccard over
    * the artifact arrays, so output is identical to the live form; the
    * full live construction stays value-gated in q24.
    */
  def deltaNearDupPairsFromParts(shNew: DataFrame, sigsNew: DataFrame,
      shBase: DataFrame, sigsBase: DataFrame, idCol: String,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    val candidates = banded(sigsNew, idCol, k, bands).as("a")
      .join(banded(sigsBase, idCol, k, bands).as("b").hint("shuffle_hash"),
        col("a.__band") === col("b.__band") && col("a.__bucket") === col("b.__bucket"))
      .select(col(s"a.$idCol").as("new_id"), col(s"b.$idCol").as("base_id"))
      .distinct()
    verifyJaccard(candidates, "new_id", "base_id", shNew, shBase, idCol, threshold)
  }

  /** INCREMENTAL near-dup pair maintenance — the state-vs-delta step a
    * versioned corpus runs every snapshot (round 13, factored from the
    * q512 gate's path so version N -> N+1 applies the SAME operator at any
    * N): given the prior version's PERSISTED artifacts — verified pairs
    * (id_a, id_b, jaccard), MinHash signatures (idCol, __sig) and shingle
    * sets (idCol, __shingles) — plus the change slices (`gone` = ids
    * leaving the state: removed docs and revised originals; `fresh` = the
    * only rows whose TEXT is processed: revisions and additions), the
    * maintained pair set is
    *   - kept: prior pairs whose both endpoints survive (pair relations
    *     between unchanged docs cannot move);
    *   - regenerated: the fresh slice's band buckets joined against the
    *     surviving bucket table (unchanged ∪ fresh), exact-verified on
    *     shingles (unchanged side from the artifact, fresh side computed).
    * Candidacy is equivalent to from-scratch by construction: a pair
    * collides in a band iff it collides here (unchanged-unchanged pairs
    * keep their prior collision; any pair with a fresh endpoint is found
    * by the fresh-side bucket join). Hash-gated against from-scratch LSH
    * at A->B (q512) and B->C (q521). Scale: everything corpus-sized is an
    * artifact read or anti-join; everything recomputed is change-slice
    * sized; the candidate join is bucket-keyed, never all-pairs.
    * It materializes nothing: in the one returned plan, AQE computes each
    * frame with several consumers once and reuses its exchange. A caller
    * that runs the result more than once (say, `connectedComponents`'
    * actions and an audit) materializes it itself.
    */
  def incrementalPairs(oldPairs: DataFrame, oldSigs: DataFrame,
      oldShingles: DataFrame, gone: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, n: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val freshSh = shingleFrame(fresh, idCol, textCol, n)
    incrementalPairsPrepared(oldPairs, oldSigs, oldShingles, gone, freshSh,
      minHashSignatureFrame(freshSh, idCol, k), idCol, k, bands, threshold)
  }

  /** [[incrementalPairs]] with the fresh slice's shingle/signature frames
    * supplied by the caller (round 15): a versioned chain (q533) needs the
    * SAME fresh artifacts again to maintain its persisted sig/shingle
    * state for the next step — computing them once and passing them here
    * removes a duplicate change-slice re-shingle per version. Both frames
    * must be exactly shingleFrame(fresh)/minHashSignatureFrame(freshSh)
    * (deterministic), so values are unchanged; it materializes nothing.
    */
  def incrementalPairsPrepared(oldPairs: DataFrame, oldSigs: DataFrame,
      oldShingles: DataFrame, gone: DataFrame, freshSh: DataFrame,
      freshSigs: DataFrame, idCol: String, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val kept = oldPairs
      .join(gone.select(col(idCol).as("id_a")), Seq("id_a"), "left_anti")
      .join(gone.select(col(idCol).as("id_b")), Seq("id_b"), "left_anti")
      .select("id_a", "id_b", "jaccard")
    val unchangedSigs = oldSigs.join(gone, Seq(idCol), "left_anti")
    // Fresh buckets probe the unchanged ones and themselves: two joins whose
    // three fresh sides plan equal copies, so one bucket exchange feeds them.
    val freshBands = banded(freshSigs, idCol, k, bands)
    def collisions(other: DataFrame): DataFrame = freshBands.as("a")
      .join(other.as("b").hint("shuffle_hash"),
        col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
    // The barrier keeps the shingle prune's and the verify join's copies
    // equal; without it they plan apart and the candidate join runs per copy.
    val cand = SharedSubplan.of(collisions(banded(unchangedSigs, idCol, k, bands))
      .unionByName(collisions(freshBands)).distinct())
    // The verify join only ever reads shingles of docs that appear in a
    // candidate pair — a change-slice-bounded id set. Semi-join-prune the
    // corpus-sized shingle table down to those ids BEFORE it moves (guide
    // §3.2); both verify sides then reuse the pruned slice's exchange.
    val candIds = cand.select(col("id_a").as(idCol))
      .unionByName(cand.select(col("id_b").as(idCol))).distinct()
    val allSh = oldShingles.join(gone, Seq(idCol), "left_anti")
      .unionByName(freshSh)
      .join(broadcast(candIds), Seq(idCol), "left_semi")
    kept.unionByName(
      verifyJaccard(cand, "id_a", "id_b", allSh, allSh, idCol, threshold))
  }

  /** Near-dup DEDUP resolution: greedy keep-lowest-id — a document survives
    * unless some lower-id document is near-duplicate-similar to it. This is
    * the standard one-pass MinHash-dedup policy (no transitive closure: a
    * doc is dropped iff it pairs directly with a lower survivor-or-not id,
    * which keeps the decision embarrassingly parallel; see
    * [[connectedComponents]] for the transitive-closure alternative when
    * cluster-level resolution is required).
    * Returns the surviving rows of `docs`.
    */
  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    // SHUFFLE_HASH: dropIds is doc-linear (never broadcastable at scale),
    // and a broadcast build would run the whole pair pipeline inside one
    // broadcast future instead of the shared-exchange plan.
    val dropIds = minHashNearDupPairs(docs, idCol, textCol, n, k, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(dropIds.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pairs: iterative min-label
    * propagation WITH POINTER HALVING until fixpoint — the
    * transitive-closure complement to [[dropNearDuplicates]]'s greedy policy
    * (a~b, b~c clusters all three even when a and c never pair directly).
    *
    * Each iteration does two distributed steps:
    *  1. edge propagation: every node offers its label to its neighbors,
    *     one join + one min-aggregate over the (sparse) edge set;
    *  2. pointer halving (the path-compression half of large-star/
    *     small-star, Kiveris et al. 2014): every node then jumps to its
    *     LABEL's label — min(l(v), l(l(v))). A label is always the id of a
    *     node reachable from v (both steps only ever forward reachable
    *     ids), so correctness is untouched while label chains halve each
    *     round: convergence drops from O(diameter) iterations to
    *     O(log diameter) — the difference between 50 rounds and 6 on a
    *     50-hop chain, and the property that makes the fixpoint viable on
    *     high-diameter graphs, not just tight near-dup clusters.
    *
    * SMALL-INPUT CUTOVER (round 14 — VERDICT_r13 next #4): an undirected
    * edge set at or under `singleJobMaxEdges` rows skips the fixpoint
    * entirely — one bounded collect, driver union-find with path
    * compression (min id as root = the same min-label semantics), one
    * parallelize back. The decision is one count over the already-persisted
    * edge set, the same bounded-decision-read shape as the skew-salt
    * cutover, and the labels are identical by construction, so the path
    * taken is invisible to every hash gate. At 100 TB the pair set blows
    * the threshold and the distributed fixpoint below runs unchanged.
    *
    * The driver only compares label sums. Output: one row per node
    * appearing in `pairs`, labeled with the minimum id of its component
    * (`cluster_id`). Each iteration's frames are `localCheckpoint`ed, not
    * merely persisted: the physical plan stays O(1) deep across iterations
    * instead of accreting the whole join history, which is what keeps the
    * fixpoint runnable at cluster scale (a 30-iteration lineage over a
    * 100 TB edge set would otherwise blow planning time and any
    * lost-executor recomputation).
    */
  @volatile private[ext] var lastCCIterations: Int = -1

  /** Default single-job cutover for [[connectedComponents]]: an undirected
    * edge set at or under this row count is collected and union-found on
    * the driver in ONE job instead of the distributed fixpoint. At 1M
    * rows x 16 bytes the collect is ~16 MB of driver heap — far under any
    * realistic driver budget — while the fixpoint it replaces is ~6
    * driver-synchronous rounds x 2-3 jobs whose cost at this size is pure
    * job-launch overhead, not compute (the r13 verdict's biggest remaining
    * per-gate cost class: q515/q520/q523 spend seconds scheduling
    * no-op-sized joins). Labels are identical by construction (min id per
    * component is canonical), so the decision is invisible to hashes —
    * the same bounded-decision-read shape as the skew-salt cutover.
    */
  val CcSingleJobMaxEdges: Long = 1000000L

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50,
      singleJobMaxEdges: Long = CcSingleJobMaxEdges): DataFrame = {
    val sess = pairs.sparkSession
    val edges = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // Pinned hash partitioning on src: every iteration's propagation join
    // probes the edge set on src, so persisting it already partitioned means
    // the per-iteration join re-shuffles only the (smaller) label frame —
    // the edge set shuffles exactly once for the whole fixpoint. The count
    // is input-proportional (round 15): a KB-scale pair set takes a handful
    // of partitions instead of the session constant, and every fixpoint
    // frame inherits that width.
    val undirected0 = edges
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val n = graft.engine.Partitions.spreadCount(undirected0)
    val undirected = undirected0.repartition(n, col("src")).persist()
    // Bounded decision read (materializes the persist either way): small
    // edge sets take the single-job union-find, large ones the distributed
    // fixpoint — same labels, so the cutover is hash-invisible. NOTE
    // (round 15): a take(max+1) single-job variant was tried and REVERTED —
    // above the cutover, CollectLimit local-limits every partition at max
    // rows and funnels them through one task (q520's 10x edge set read
    // 8.2 s -> 20.5 s); the count is the cheap decision.
    val nUndirected = undirected.count()
    if (nUndirected <= singleJobMaxEdges) {
      val arr = undirected.collect()
      undirected.unpersist()
      // Union-find with path compression, min id as root: find(v) is the
      // smallest id reachable from v once all edges are united — exactly
      // the fixpoint's min-label semantics.
      val parent = new scala.collection.mutable.HashMap[Long, Long]()
      def find(v: Long): Long = {
        var r = v
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = v
        while (parent.getOrElse(c, c) != c) {
          val p = parent.getOrElse(c, c); parent.update(c, r); c = p
        }
        r
      }
      arr.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
        parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b)): Unit
      }
      val nodes = scala.collection.mutable.LinkedHashSet[Long]()
      arr.foreach { row => nodes += row.getLong(0); nodes += row.getLong(1) }
      lastCCIterations = 0
      import sess.implicits._
      return nodes.toSeq.map(v => (v, find(v))).toDF("id", "cluster_id")
        .repartition(n)
    }
    var labels = undirected.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")).persist()
    // Convergence via the label-sum invariant: next(id) = min over
    // non-increasing updates, so labels are monotonically non-increasing and
    // the exact decimal sum is strictly smaller than the previous one until
    // fixpoint (equal sums <=> no label moved). Round 15: the sum rides the
    // halving job itself as an observe() metric — no per-iteration
    // aggregate job — and the pre-loop baseline sum is gone too: the edge
    // set here is non-empty (the cutover handled empty/small), so
    // iteration 1 ALWAYS moves some label (every edge's larger endpoint
    // adopts a smaller label) and the first comparable pair of sums is
    // iterations 1 and 2.
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val prop = undirected.join(labels, undirected("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      val stepped = labels.unionAll(prop)
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
        // materialize: loop — cuts the lineage; both halving joins read the stepped labels
        .localCheckpoint(eager = true)
      // Pointer halving, applied TWICE per round (round 15 — the remaining
      // half of the large-star/small-star round cut): l(v) <-
      // min over {l(v), l(l(v)), ..., l^4(v)}. Every label is an id of a
      // node in the frame (labels start as ids and both steps only forward
      // existing labels), so the lookup always matches; the joins are LEFT
      // OUTER because an outer join contributes no cross-side equality/null
      // constraints — an inner join here plants constraints referencing the
      // lookup side's attrs in the checkpointed frame, and the next
      // iteration's Union chokes rewriting them (attr not in child output).
      // Label chains shrink 4x per round instead of 2x, so convergence
      // needs ~half the EDGE-PROPAGATION joins (the expensive ones — these
      // halving joins shuffle only label-frame bytes, never the edge set;
      // the second halve references the first un-materialized, which costs
      // one more label-frame join inside the same job, not a new job).
      def halve(x: DataFrame): DataFrame = x.as("x")
        .join(x.select(col("id").as("__pid"), col("cluster_id").as("__pl")).as("p"),
          col("x.cluster_id") === col("__pid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.cluster_id"), coalesce(col("__pl"), col("x.cluster_id")))
            .as("cluster_id"))
      val obs = org.apache.spark.sql.Observation()
      val halved = halve(halve(stepped))
        .observe(obs, sum(col("cluster_id").cast("decimal(38,0)")).as("__sum"))
        // materialize: loop — the next iteration's labels, and the observed sum's job
        .localCheckpoint(eager = true)
      // Constraint-free view over the checkpointed blocks: localCheckpoint
      // preserves the origin plan's CONSTRAINTS on its LogicalRDD, and the
      // join-derived constraint set makes the NEXT iteration's
      // union-with-prop crash in Catalyst's constraint rewrite
      // (UnionBase.rewriteConstraints: join-side attrs that are absent from
      // the union child's output). createDataFrame over the same RDD keeps
      // the materialized data and the O(1) plan depth, drops the toxic
      // constraint baggage.
      val next = halved.sparkSession.createDataFrame(halved.rdd, halved.schema)
      val nextSum = obs.get("__sum") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
        case other => new java.math.BigDecimal(other.toString)
      }
      labels.unpersist()
      labels = next
      converged = prevSum != null && nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    undirected.unpersist()
    lastCCIterations = i
    labels
  }

  /** Integer-arithmetic PageRank over the undirected pair graph (pairs are
    * (aCol, bCol) with a < b; both directions are materialized). Ranks are
    * held as nano-rank longs (R0 = 10^9 per node), damping 0.85 applied as
    * `(85 * s) div 100`, per-neighbor contribution as `rank div deg`, and
    * the teleport base as `(0.15 * 10^9) div N` — every operation integral,
    * so the result is bit-identical at any partition count and in any
    * engine. Textbook double PageRank is merge-order-dependent (the
    * contribution sum); the truncation here costs < 100 nano of rank mass
    * per node per iteration and buys a DuckDB-unrollable oracle. Plan
    * shape: the degree-annotated edge set shuffles ONCE (pinned src hash
    * partitioning, persisted); each of the fixed `iters` iterations
    * re-shuffles only the rank frame (one row per node) — the same
    * asymmetry that makes the q61 fixpoint scale. The final frame is
    * localCheckpoint'ed so the returned plan is O(1) deep, and the cached
    * edge set is dropped before returning.
    */
  def pageRankInt(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 3): DataFrame = {
    val e0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val edges = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg0 = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
    val n = graft.engine.Partitions.spreadCount(withDeg0)
    val withDeg = withDeg0.repartition(n, col("src")).persist()
    val nNodes = withDeg.select(col("src")).distinct().count()
    val base = if (nNodes == 0) 0L else 150000000L / nNodes
    var ranks = withDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000000L).as("rank"))
    for (_ <- 1 to iters) {
      ranks = withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
        .groupBy("dst")
        .agg((lit(base) + expr("(85 * sum(contrib)) div 100")).as("rank"))
        .select(col("dst").as("node"), col("rank"))
    }
    // materialize: loop — cuts the unrolled iterations to an O(1)-deep returned plan
    val out = ranks.localCheckpoint(eager = true)
    withDeg.unpersist()
    out
  }

  /** 60-bit SimHash signatures, one row per document: hash each distinct
    * token once (explode — no repeated md5), then one hash-aggregate computes
    * all 60 bit-vote sums map-side-partially; a final projection folds the
    * sign pattern into the signature long. Near-dups land within a small
    * Hamming distance; pair generation buckets on signature bit-slices (the
    * same banding idea as MinHash). One shuffle on the doc id — scales like
    * any hash aggregate. Documents with zero tokens are dropped (nothing to
    * vote with), matching an LLM pipeline's empty-doc filter.
    */
  def simHashFrame(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 60): DataFrame = {
    require(bits >= 1 && bits <= 60, "bits must be in [1,60] (hash60 width)")
    val tokenHashes = spread(docs, idCol)
      .select(col(idCol),
        explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("__tok"))
      .select(col(idCol), TextHash.hash60(col("__tok")).as("__h"))
    val votes = (0 until bits).map { b =>
      val mask = 1L << b
      sum(when(col("__h").bitwiseAND(lit(mask)) === mask, 1L).otherwise(-1L))
        .as(s"__v$b")
    }
    val sig = (0 until bits).map { b =>
      val mask = 1L << b
      when(col(s"__v$b") >= 0, lit(mask)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokenHashes.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** SimHash banded near-dup pairs: bucket signatures on `bands` disjoint
    * bit-slices (two docs within Hamming distance d < bands must collide in
    * at least one slice by pigeonhole, so candidate generation is complete
    * for d <= bands-1 and probabilistically catches larger d), then verify
    * candidates with the exact Hamming distance (bit_count of xor — pure
    * integer ops, engine-identical). Completes the SimHash dedup path begun
    * by [[simHashFrame]]: banding is the same never-all-pairs scale shape as
    * MinHash LSH, but the signature is one long instead of k hashes.
    *
    * Buckets larger than `maxBucket` are suppressed before pairing
    * (frequent-bucket suppression — the standard LSH guard): a bucket shared
    * by thousands of docs is non-discriminative and would alone produce a
    * quadratic pair blowup; docs in a suppressed bucket still pair through
    * their other `bands - 1` slices. This cap is what keeps the operator's
    * cost bounded on skewed real corpora, not just the test data.
    * Output: (id_a, id_b, hamming) with id_a < id_b.
    */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 6, maxBucket: Int = 64): DataFrame =
    // The repartition places an exchange ABOVE the 60-vote aggregate: the
    // only shuffle inside simHashFrame sits BELOW it (the spread), so
    // without this boundary each of the four consumers (banding, bucket
    // counting, both verify joins) would replay the whole explode+aggregate
    // pipeline; with it, AQE materializes the narrow (id, simhash) frame
    // once and every consumer reuses the stage.
    simHashNearDupPairsFromSigs(
      graft.engine.Partitions.cpuSpread(
        simHashFrame(docs, idCol, textCol), col(idCol)),
      idCol, bands, maxHamming, maxBucket)

  /** [[simHashNearDupPairs]] over a PRECOMPUTED signature frame
    * (idCol, simhash) — e.g. the SharedFrames artifact: banding, bucket
    * suppression and the Hamming verify are pure integer ops over the
    * signature longs (parquet-exact), so output is identical to the live
    * form; the signature construction stays value-gated in q25.
    */
  def simHashNearDupPairsFromSigs(sigs: DataFrame, idCol: String,
      bands: Int = 4, maxHamming: Int = 6, maxBucket: Int = 64): DataFrame = {
    require(bands >= 1 && 60 % bands == 0, s"bands=$bands must divide 60")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val allBanded = sigs.select(col(idCol), explode(array((0 until bands).map { j =>
        struct(lit(j).as("band"),
          shiftright(col("simhash"), j * width).bitwiseAND(lit(mask)).as("bucket"))
      }: _*)).as("__bb"))
      .select(col(idCol), col("__bb.band").as("__band"), col("__bb.bucket").as("__bucket"))
    val smallBuckets = allBanded.groupBy("__band", "__bucket")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucket).drop("__bn")
    val cand = selfJoinPairs(
      allBanded.join(smallBuckets.hint("shuffle_hash"), Seq("__band", "__bucket")),
      idCol, Seq("__band", "__bucket"))
    // SHUFFLE_HASH: the signature frame is doc-linear — same broadcast-build
    // reasoning as the MinHash verify joins.
    cand
      .join(sigs.select(col(idCol).as("id_a"), col("simhash").as("__sa")).hint("shuffle_hash"),
        Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("simhash").as("__sb")).hint("shuffle_hash"),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(__sa ^ __sb)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** DuckDB SQL mirror of [[simHashFrame]] over a relation `docsRel` with
    * columns (idCol, textCol) — generated programmatically so the 60 unrolled
    * bit expressions stay in lockstep with the Spark plan.
    */
  def simHashOracleSql(docsRel: String, idCol: String, textCol: String,
      bits: Int = 60): String = {
    val voteCols = (0 until bits).map { b =>
      val mask = 1L << b
      s"SUM(CASE WHEN (__h & $mask) = $mask THEN 1 ELSE -1 END) AS __v$b"
    }.mkString(",\n         ")
    val sigExpr = (0 until bits).map { b =>
      val mask = 1L << b
      s"(CASE WHEN __v$b >= 0 THEN CAST($mask AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT $idCol, unnest(list_distinct(string_split(
       |           regexp_replace(trim(lower($textCol)), '\\s+', ' ', 'g'), ' '))) AS __tok
       |  FROM $docsRel
       |), hashed AS (
       |  SELECT $idCol, ${TextHash.duckHash60("__tok")} AS __h FROM toks
       |), voted AS (
       |  SELECT $idCol,
       |         $voteCols
       |  FROM hashed GROUP BY $idCol
       |)
       |SELECT $idCol, CAST($sigExpr AS BIGINT) AS simhash FROM voted""".stripMargin
  }
}
