package graft.ext

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec
import graft.Tables
import graft.engine.{Caching, StarJoin}

/** Unit specs for the LLM-data-pipeline extension operators. Oracle-level
  * correctness is covered by q21-q29; these assert the semantic edges the
  * oracle can't see (recall of LSH vs exact, determinism, lifecycle).
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf0001)

  test("shingles: short and empty docs yield empty sets, no DOWN-counting") {
    val df = Seq((1L, "one two"), (2L, ""), (3L, "a b c d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      NearDup.shingles(TextAnalysis.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty)
    assert(out(2L).isEmpty)
    assert(out(3L) === Seq("a b c", "b c d"))
  }

  test("minhash LSH pairs cover the exact Jaccard pairs (planted near-dups)") {
    val exact = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.minHashNearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dup pairs")
    // verified-LSH output is exactly the exact pairs when banding recall is
    // total (k=64/b=16/r=4 at jaccard>=0.8: miss prob < 1e-3 per pair)
    assert(lsh === exact)
  }

  test("simhash: identical docs share signatures; near-dups are hamming-close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (3L, "the quick brown fox jumps over the lazy dog near the river shore"),
      (4L, "completely unrelated text about spark catalyst expression codegen")
    ).toDF("doc_id", "text")
    val sig = NearDup.simHashFrame(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) === sig(2L))
    assert(hamming(sig(1L), sig(3L)) < hamming(sig(1L), sig(4L)))
  }

  test("topKCosine finds the planted nearest neighbor with rank 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.topKCosine(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getInt(2), r.getLong(1))).toMap
    assert(out(1) === 1L)
    assert(out(2) === 2L)
  }

  test("annTopKByCell only searches the query's own cell") {
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f)),
      (2L, 1, Array(1.0f, 0.01f)) // closer, but in another cell
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.annTopKByCell(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", "label", k = 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L))
  }

  test("annTopKMultiProbe reaches a cross-cell neighbor the own-cell probe misses") {
    val vecs = Seq(
      (0L, 0, Array(1.0f, 0.0f)),
      (1L, 0, Array(0.9f, 0.1f)),
      (2L, 1, Array(1.0f, 0.01f)), // nearer than 1, lives in the adjacent cell
      (3L, 2, Array(-1.0f, 0.0f))  // far cell: must not be probed at nprobe=2
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.annTopKMultiProbe(
        vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", "label",
        nprobe = 2, k = 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(1L, 2L))
  }

  test("mutualKnnGraph keeps exactly the reciprocated in-cell kNN links, canonically ordered") {
    val e = Tables.embeddings(spark, sf0001)
    val edges = Similarity.mutualKnnGraph(e, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    // canonical orientation, no duplicate edges
    assert(edges.forall { case (a, b) => a < b })
    assert(edges.distinct.length === edges.length)
    // first-principles recomputation: an edge exists iff BOTH directed
    // top-3 lists (within the shared cell) contain the other endpoint
    val knn = Similarity.annTopKByCell(e, e, "vec_id", "embedding", "label", k = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = knn.filter { case (q, n) => q < n && knn.contains((n, q)) }
    assert(edges.toSet === expected)
  }

  test("hashOrderedProbes is deterministic, size-bounded, and tag-decorrelated") {
    val e = Tables.embeddings(spark, sf0001)
    def ids(tag: String, n: Int) = Similarity.hashOrderedProbes(e, "vec_id", tag, n)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val a = ids("probe", 50)
    assert(a.length === 50)
    assert(a === ids("probe", 50), "same tag and n must reproduce the same probe set")
    // growing n extends the sample without reshuffling the prefix
    assert(ids("probe", 100).take(50) === a,
      "the hash order must make samples nested across sizes")
    // a different tag draws an effectively independent sample
    val b = ids("entry", 50)
    assert(a.toSet !== b.toSet, "different tags should decorrelate the draw")
    // and it is not an id-ordered prefix (the whole point vs LIMIT on ids)
    assert(a !== a.sorted, "hash order must differ from id order")
  }

  test("graphBeamSearch walks a planted chain to the far end, hop-bounded") {
    // Five unit vectors fanned at 15-degree steps form a cosine chain;
    // edges connect consecutive nodes only. A query pointing at node 4,
    // entered at node 0 with beam 2, must need the hops to get there:
    // after 1 hop the frontier can only have reached node 1; after 4 hops
    // the walk converges and node 4 ranks first.
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val corpus = (0 to 4).map(i => (i.toLong, v(i * 15.0))).toDF("vec_id", "embedding")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val query = Seq((100L, v(60.0))).toDF("vec_id", "embedding")
    val entry = Seq(Tuple1(0L)).toDF("node")
    def walk(hops: Int) = Similarity.graphBeamSearch(
        corpus, edges, query, "vec_id", "embedding", entry,
        hops = hops, beam = 2, k = 2)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val short = walk(1)
    assert(!short.values.toSet.contains(4L),
      "one hop from node 0 must not reach node 4")
    val full = walk(4)
    assert(full(1) === 4L, s"expected node 4 at rank 1 after 4 hops, got $full")
  }

  /** Driver-side replay of the beam walk's contract: a hop's candidates
    * are the frontier plus its neighbours over the undirected edges, minus
    * the query itself; a candidate scores at its best corpus row (sequential
    * double dot, then dot / (|q| |v|)); the beam keeps the top `beam` by
    * (cosine desc, node asc). Returns per query the top `k` (node, cosine).
    */
  private def referenceWalk(corpus: Seq[(Long, Array[Float])], edges: Seq[(Long, Long)],
      queries: Seq[(Long, Array[Float])], frontier0: Map[Long, Seq[Long]],
      hops: Int, beam: Int, k: Int): Map[Long, Seq[(Long, Double)]] = {
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2) }
    val rows = corpus.groupBy(_._1)
    queries.map { case (q, qv) =>
      def cut(cands: Iterable[Long], n: Int) = cands.toSeq.distinct.filter(_ != q)
        .flatMap(node => rows.get(node).map(rs => node -> rs.map { case (_, v) =>
          dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v)))
        }.max))
        .sortBy { case (node, cos) => (-cos, node) }.take(n)
      val last = (1 to hops).foldLeft(frontier0(q).map(_ -> 0.0)) { (f, _) =>
        cut(f.flatMap { case (u, _) => u +: nbrs.getOrElse(u, Nil) }, beam)
      }
      q -> last.take(k)
    }.toMap
  }

  test("graphBeamSearch matches a driver-side reference walk on the graph's edge cases") {
    def v(deg: Double, len: Double = 1.0) = Array(
      (len * math.cos(math.toRadians(deg))).toFloat, (len * math.sin(math.toRadians(deg))).toFloat)
    // corpus id 5 appears twice (two directions); id 9 has no edges; 99 is
    // an entry with edges but no corpus row; (2, 2) is a self-loop; (1, 3)
    // comes three times, once reversed
    val corpus = Seq(1L -> v(0), 2L -> v(11), 3L -> v(23, 2.0), 4L -> v(37), 5L -> v(52),
      5L -> v(78), 6L -> v(64), 7L -> v(89), 8L -> v(101, 0.5), 9L -> v(47))
    val edges = Seq(99L -> 1L, 1L -> 3L, 1L -> 3L, 3L -> 1L, 2L -> 2L, 1L -> 2L, 3L -> 4L,
      4L -> 5L, 5L -> 6L, 6L -> 7L, 7L -> 8L, 2L -> 4L)
    // query 4 is also a corpus id: the walk never returns a query as its own neighbour
    val queries = Seq(100L -> v(70), 101L -> v(28), 4L -> v(37))
    val entries = Seq(99L, 9L)
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val edgesDf = edges.toDF("id_a", "id_b")
    val queriesDf = queries.toDF("vec_id", "embedding")
    val entriesDf = entries.toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
        .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    def walk(hops: Int, k: Int) = rows(Similarity.graphBeamSearch(corpusDf, edgesDf, queriesDf,
      "vec_id", "embedding", entriesDf, hops = hops, beam = 3, k = k))
    def same(got: Map[Long, Seq[(Long, Double)]], want: Map[Long, Seq[(Long, Double)]]) = {
      assert(got.keySet === want.keySet)
      for (q <- want.keys) {
        assert(got(q).map(_._1) === want(q).map(_._1), s"query $q")
        got(q).zip(want(q)).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
      }
    }
    val start = queries.map(_._1 -> entries).toMap
    for (hops <- 1 to 4)
      same(walk(hops, k = 2), referenceWalk(corpus, edges, queries, start, hops, beam = 3, k = 2))
    // every neighbour list is duplicate-free, the duplicated corpus id included
    assert(walk(4, k = 3).values.forall(ns => ns.map(_._1).distinct.size == ns.size))
    // continuing from the full hop-h frontier reproduces the longer walk (q534)
    for (h <- 1 to 2) {
      val frontier = walk(h, k = 3).toSeq.flatMap { case (q, ns) => ns.map(n => (q, n._1)) }
        .toDF("query_id", "node")
      same(rows(Similarity.graphBeamSearchFrom(corpusDf, edgesDf, queriesDf, "vec_id",
        "embedding", frontier, hops = 4 - h, beam = 3, k = 2)), walk(4, k = 2))
    }
  }

  test("cell-join salt adapts to the distinct-cell/partition ratio; results are salt-invariant") {
    val e = Tables.embeddings(spark, sf0001)
    // 10 labels >= the suite's 4 shuffle partitions -> the salt buys
    // nothing and drops to 1 (the 100 TB regime: cells >> partitions)
    assert(Similarity.saltFor(e, "label") === 1)
    // 2 cells < 4 partitions -> salt 8 spreads each cell's work
    val few = e.withColumn("cell2", pmod(col("label"), lit(2)).cast("int"))
    assert(Similarity.saltFor(few, "cell2") === 8)
    // the decision shapes only the physical plan: identical output rows
    // under both regimes (partitions=1 flips the same frame to salt=1)
    def topk() = Similarity.annTopKByCell(few, few, "vec_id", "embedding", "cell2", k = 3)
    def run() = topk()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // both regimes keep the shuffled-hash cell join (the r8 plan pin) —
    // the salt only changes the key's fan-out, never the join strategy
    def planOf() = topk().queryExecution.executedPlan.toString
    assert(planOf().contains("ShuffledHashJoin"))
    assert(!planOf().contains("BroadcastHashJoin"))
    val salted = run()
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      assert(Similarity.saltFor(few, "cell2") === 1)
      assert(planOf().contains("ShuffledHashJoin"))
      assert(!planOf().contains("BroadcastHashJoin"))
      assert(run() === salted)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("crossCellLongRangeEdges links each vector to the best node of its nearest foreign cell") {
    // three 2-cell-apart clusters on the unit circle; nForeign=1 must pick,
    // per vector, the angularly nearest OTHER cluster's centroid and then
    // the highest-cosine node inside it — hand-derivable end to end
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val corpus = Seq(
      (0L, 0, v(0)), (1L, 0, v(10)),
      (10L, 1, v(60)), (11L, 1, v(70)),
      (20L, 2, v(120)), (21L, 2, v(130))
    ).toDF("vec_id", "cell", "embedding")
    val edges = Similarity.crossCellLongRangeEdges(
        corpus, "vec_id", "embedding", "cell", nForeign = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0,1 (cell 0) -> cell 1, best node 10 (60 deg); 10 -> cell 0, best 1;
    // 11 -> cell 2, best 20; 20,21 (cell 2) -> cell 1, best 11
    assert(edges === Set((0L, 10L), (1L, 10L), (11L, 20L), (11L, 21L)))
    // every edge crosses cells by construction (the own cell is filtered
    // before the probe), and the edge count is bounded by nForeign * n
    val cellOf = Map(0L -> 0, 1L -> 0, 10L -> 1, 11L -> 1, 20L -> 2, 21L -> 2)
    assert(edges.forall { case (a, b) => cellOf(a) != cellOf(b) })
  }

  test("salt decision runs NO corpus-side job once the cell count is cached") {
    // VERDICT_r10 weak #2: saltFor used to run an approx_count_distinct scan
    // over the corpus-linear cell column before EVERY cell join it decided
    // about. The count is now memoized per (app, corpus plan): the first
    // decision measures once; every later decision — including one from an
    // INDEPENDENTLY constructed read of the same snapshot, the registry's
    // actual shape — is a map lookup + conf read, zero Spark jobs.
    val warm = Tables.embeddings(spark, sf0001)
    Similarity.saltFor(warm, "label") // first decision: measures the count
    // a fresh read of the same parquet canonicalizes equal -> cache hit
    // (constructed OUTSIDE the listener window: reader setup is allowed to
    // do IO; the contract under test is the salt DECISION)
    val again = Tables.embeddings(spark, sf0001)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Similarity.saltFor(again, "label") === 1)
      // the decision stays conf-sensitive with the cached count: dropping
      // the partition budget below the cell count flips the regime with
      // still no job
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      try assert(Similarity.saltFor(again, "label") === 1)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
      // listener events are async; a job launched above would enqueue its
      // start event well inside this window (the bus drains in millis)
      Thread.sleep(300)
      assert(jobs === 0, s"salt decision launched $jobs Spark job(s) after warm-up")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("graphBeamSearch rejects corpus-shaped (unbounded) query/entry frames at plan time") {
    // The round-7 annTopKByCell defect class: a corpus-linear frame on the
    // broadcast side of an iterated probe join. The contract is now CODE,
    // not doc — a frame whose logical plan carries no row bound (any scan)
    // is refused at construction, before a single job runs.
    val e = Tables.embeddings(spark, sf0001)
    val entries = Similarity.hashOrderedProbes(e.select("vec_id"), "vec_id", "entry", 2)
    val edges = Similarity.mutualKnnGraph(e, "vec_id", "embedding", "label", k = 3)
    val exQ = intercept[IllegalArgumentException] {
      Similarity.graphBeamSearch(e, edges, e, "vec_id", "embedding", entries,
        hops = 2, beam = 2, k = 2)
    }
    assert(exQ.getMessage.contains("queries"))
    val exE = intercept[IllegalArgumentException] {
      Similarity.graphBeamSearch(e, edges, e.limit(5), "vec_id", "embedding",
        e.select("vec_id"), hops = 2, beam = 2, k = 2)
    }
    assert(exE.getMessage.contains("entries"))
    // an over-cap LIMIT is also refused; a within-cap LIMIT passes
    val exBig = intercept[IllegalArgumentException] {
      Similarity.graphBeamSearch(e, edges,
        e.limit(Similarity.MaxBoundedProbeRows.toInt + 1), "vec_id", "embedding",
        entries, hops = 2, beam = 2, k = 2)
    }
    assert(exBig.getMessage.contains("queries"))
    Similarity.graphBeamSearch(e, edges, e.limit(5), "vec_id", "embedding",
      entries, hops = 2, beam = 2, k = 2) // constructs fine
    // the same contract guards every broadcast-probe operator
    val exT = intercept[IllegalArgumentException] {
      Similarity.topKCosine(e, e, "vec_id", "embedding", k = 3)
    }
    assert(exT.getMessage.contains("topKCosine"))
    val exM = intercept[IllegalArgumentException] {
      Similarity.maxSimTopK(e, e, "vec_id", "embedding", subs = 4, subDim = 16, k = 3)
    }
    assert(exM.getMessage.contains("maxSimTopK"))
  }

  test("annTopKMultiProbe with nprobe = all cells equals brute-force top-k") {
    val e = Tables.embeddings(spark, sf0001)
    // .limit bounds the probe plan (topKCosine's enforced contract); the
    // filter matches a single row at this SF so the limit drops nothing
    val q = e.filter(col("vec_id") % 50 === 0).limit(50)
    val cells = e.select("label").distinct().count().toInt
    val multi = Similarity.annTopKMultiProbe(q, e, "vec_id", "embedding", "label",
      nprobe = cells, k = 3)
    val brute = Similarity.topKCosine(q, e, "vec_id", "embedding", k = 3)
    assert(multi.except(brute).count() === 0)
    assert(brute.except(multi).count() === 0)
  }

  test("hyperplaneBucket is deterministic and spreads vectors") {
    val e = Tables.embeddings(spark, sf0001)
    val b1 = e.select(col("vec_id"), Similarity.hyperplaneBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = e.select(col("vec_id"), Similarity.hyperplaneBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1.values.toSet.size > 1, "8 hyperplanes should split the corpus")
  }

  test("hyperplaneBucketFast is bit-identical to the generic form") {
    val e = Tables.embeddings(spark, sf0001)
    val both = e.select(
        Similarity.hyperplaneBucket(col("embedding"), 8).as("generic"),
        Similarity.hyperplaneBucketFast(col("embedding"), 8, 64).as("fast"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("decodeStub: deterministic features with the declared schema and batching") {
    val media = Multimodal.synthesize(docs.limit(20))
    val out = Multimodal.decodeStub(media, dim = 4, partitions = 3)
    assert(out.schema === Multimodal.decodedSchema)
    val rows = out.collect()
    assert(rows.length === 20)
    val again = Multimodal.decodeStub(media, dim = 4, partitions = 5).collect()
    val k1 = rows.map(r => (r.getLong(0), r.getDouble(2))).toMap
    val k2 = again.map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(k1 === k2, "features must not depend on partitioning")
    assert(rows.forall(r => r.getSeq[Double](4).length === 4))
  }

  test("resizeStub: byte-budget stride, scaled metadata, partition-independent") {
    val media = Multimodal.synthesize(docs.limit(20))
    val out = Multimodal.resizeStub(media, maxBytes = 64, partitions = 3)
    assert(out.schema === Multimodal.resizedSchema)
    val rows = out.collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val (nIn, k, nOut) = (r.getInt(1), r.getInt(2), r.getInt(3))
      assert(nOut <= 64, s"resized payload must respect the byte budget, got $nOut")
      assert(k === math.max(1, (nIn + 63) / 64))
      assert(nOut === (nIn + k - 1) / k)
      assert(r.getAs[Array[Byte]](6).length === nOut)
      assert(r.getInt(4) >= 1 && r.getInt(5) >= 1, "scaled dims floor at 1")
    }
    // the kernel keeps exactly bytes 0, k, 2k, ... of the input
    val payloads = media.select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      val in = payloads(r.getLong(0))
      val k = r.getInt(2)
      val expected = in.indices.collect { case i if i % k == 0 => in(i) }.toArray
      assert(r.getAs[Array[Byte]](6).toSeq === expected.toSeq)
    }
    val again = Multimodal.resizeStub(media, maxBytes = 64, partitions = 5).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](6).toSeq).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getAs[Array[Byte]](6).toSeq,
      "resized payload must not depend on partitioning"))
  }

  test("J9 keyOverlapCount matches the distinct-key intersection") {
    val o = Tables.orders(spark, sf0001)
    val c = Tables.customer(spark, sf0001)
    val n = StarJoin.keyOverlapCount(o, "o_custkey", c, "c_custkey")
    val expected = o.select("o_custkey").distinct()
      .intersect(c.select(col("c_custkey").as("o_custkey")).distinct()).count()
    assert(n === expected)
    assert(n > 0)
  }

  test("connectedComponents labels transitive chains with the component minimum") {
    import spark.implicits._
    // chain 1-2, 2-3 (one component: 1 and 3 never pair directly),
    // pair 10-11, and a long path 20-21-22-23 (diameter > 1 iteration)
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (21L, 20L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    // singleJobMaxEdges = 0 forces the DISTRIBUTED fixpoint: this arm pins
    // the iterative path's convergence, not the small-input cutover
    val labels = NearDup.connectedComponents(pairs, "id_a", "id_b",
        singleJobMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // iteration budget: min-label propagation needs ceil(log2(diameter))-ish
    // rounds plus the fixpoint-confirming round; the localCheckpoint swap
    // must not change convergence (diameter-3 path -> at most 4 rounds).
    assert(NearDup.lastCCIterations > 0 && NearDup.lastCCIterations <= 4,
      s"CC took ${NearDup.lastCCIterations} iterations")
  }

  test("connectedComponents converges logarithmically on a high-diameter path") {
    import spark.implicits._
    // 41-node path graph (diameter 40): plain min-label propagation needs
    // ~diameter rounds (41+ here — it would exhaust the default iteration
    // budget); pointer halving must close it in O(log2(diameter)) — the
    // scale property for web-graph-shaped components, where diameter is
    // NOT the 2-3 hops of tight near-dup clusters.
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = NearDup.connectedComponents(pairs, "id_a", "id_b",
        singleJobMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === (0L to 40L).map(_ -> 0L).toMap)
    assert(NearDup.lastCCIterations <= 6,
      s"CC took ${NearDup.lastCCIterations} iterations on a 40-hop path " +
        "— double pointer halving (round 15) is not compressing label " +
        "chains 4x per round")
  }

  test("connectedComponents on an empty pair set returns an empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(NearDup.connectedComponents(empty, "id_a", "id_b").count() === 0)
    // the iterative path converges on the empty frame too
    assert(NearDup.connectedComponents(empty, "id_a", "id_b",
      singleJobMaxEdges = 0L).count() === 0)
  }

  test("connectedComponents single-job cutover labels exactly like the fixpoint") {
    // VERDICT_r13 next #4: a bounded edge set skips the driver-synchronous
    // fixpoint for one collect + union-find. The decision must be invisible
    // to every hash gate, so BOTH paths are run on the same graph — chains,
    // a star, an isolated pair, id order scrambled — and must agree row-set
    // exactly (min id per component either way).
    import spark.implicits._
    val pairs = (Seq((7L, 3L), (3L, 9L), (9L, 1L)) ++      // chain, min inside
      Seq((100L, 50L), (100L, 60L), (100L, 70L)) ++        // star, min at leaf
      Seq((200L, 201L)) ++                                 // isolated pair
      (0L until 40L).map(i => (1000L + i + 1, 1000L + i))) // long path
      .toDF("id_a", "id_b")
    val viaFixpoint = NearDup.connectedComponents(pairs, "id_a", "id_b",
      singleJobMaxEdges = 0L)
    val viaUnionFind = NearDup.connectedComponents(pairs, "id_a", "id_b")
    assert(NearDup.lastCCIterations === 0,
      "the bounded input must have taken the single-job path")
    assert(viaFixpoint.except(viaUnionFind).count() === 0)
    assert(viaUnionFind.except(viaFixpoint).count() === 0)
    // spot-pin the semantics, not just the agreement
    val got = viaUnionFind.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) === 1L && got(100L) === 50L && got(201L) === 200L
      && got(1040L) === 1000L)
  }

  test("deltaNearDupPairs equals the full pipeline restricted to mixed pairs") {
    // planted: delta doc 3 duplicates base doc 1; delta docs never pair
    // with each other (within-batch dedup is out of contract)
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (10L, "unrelated words entirely separate content here today now")
    ).toDF("doc_id", "text")
    val inc = NearDup.deltaNearDupPairs(
        planted.filter(col("doc_id") % 7 =!= 3),
        planted.filter(col("doc_id") % 7 === 3),
        "doc_id", "text", 3, 64, 16, 0.8)
      .select("new_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === Set((3L, 1L)))

    // corpus equivalence: incremental output == full pair pipeline filtered
    // to mixed (delta, base) pairs and re-oriented
    val incCorpus = NearDup.deltaNearDupPairs(
        docs.filter(col("doc_id") % 7 =!= 3), docs.filter(col("doc_id") % 7 === 3),
        "doc_id", "text", 3, 64, 16, 0.8)
      .select("new_id", "base_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullMixed = NearDup.minHashNearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 7 == 3) != (b % 7 == 3) }
      .map { case (a, b) => if (a % 7 == 3) (a, b) else (b, a) }.toSet
    assert(incCorpus === fullMixed)
  }

  test("pageRankInt matches a driver-side integer reference on a seeded graph") {
    import spark.implicits._
    // star 1-{2,3,4} plus pair 10-11: the hub must outrank the leaves, and
    // every rank must equal the hand-rolled integer recurrence exactly.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val got = NearDup.pageRankInt(pairs, "id_a", "id_b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val adj = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 10L -> 11L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = adj.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val base = 150000000L / deg.size
    var ranks = deg.keys.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 3) {
      val in = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => ranks(src) / deg(src) }.sum
      }
      ranks = in.map { case (n, s) => n -> (base + (85L * s) / 100L) }
    }
    assert(got === ranks)
    assert(got(1L) > got(2L), "hub must outrank a leaf")
    assert(got(2L) === got(3L) && got(3L) === got(4L), "symmetric leaves tie")
  }

  test("hardNegativeTopK excludes same-label vectors and ranks by cosine") {
    import spark.implicits._
    // query 0 (label 0) at e1; same-label near-twin must NOT appear;
    // best different-label is the axis-aligned 2, then the diagonal 3.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f), 0), // same label: excluded however similar
      (2L, Array(0.9f, 0.1f), 1),
      (3L, Array(0.5f, 0.5f), 1),
      (4L, Array(0.0f, 1.0f), 2)).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegativeTopK(
        vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", "label", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 3L, 4L))
    assert(!out.map(_.getLong(1)).contains(1L))
    val cosines = out.map(_.getDouble(3))
    assert(cosines.sameElements(cosines.sorted.reverse), "ranked by cosine desc")
  }

  test("chunkFrame: windows tile every token with the declared overlap") {
    val w = 32; val s = 24
    val chunks = TextAnalysis.chunkFrame(docs, "doc_id", "text", w, s)
      .collect().groupBy(_.getLong(0))
    val nts = docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.nonEmpty)
    chunks.foreach { case (docId, rows) =>
      val byIdx = rows.sortBy(_.getInt(1))
      val nt = nts(docId)
      // indices are 0..n-1 dense; every chunk is full-width except possibly
      // the tail; the last chunk's window reaches exactly the last token
      assert(byIdx.map(_.getInt(1)).toSeq === (0 until byIdx.length))
      byIdx.init.foreach(r => assert(r.getInt(2) === w))
      val last = byIdx.last
      assert(last.getInt(1) * s + last.getInt(2) === nt)
      // overlap w - s between consecutive starts means n chunks cover nt iff
      // n == 1 + ceil(max(nt - w, 0) / s)
      assert(byIdx.length === 1 + math.ceil(math.max(nt - w, 0) / s.toDouble).toInt)
    }
  }

  test("stratumBucket is a stable scan-level filter with sane per-stratum rates") {
    val bucketed = docs.select(col("doc_id"), col("lang"),
      TextAnalysis.stratumBucket(col("doc_id"), "#strata").as("b"))
    val once = bucketed.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val again = bucketed.repartition(7).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(once === again, "bucket must not depend on partitioning")
    assert(once.values.forall(b => b >= 0 && b < 10000))
    // ~50% keep-rate at rate 5000 (loose: hash uniformity, 500 docs)
    val kept = once.values.count(_ < 5000).toDouble / once.size
    assert(kept > 0.35 && kept < 0.65, s"keep rate $kept far from 0.5")
  }

  test("prefix-filtered Jaccard pairs equal the exhaustive all-pairs truth") {
    // Completeness of the prefix filter (SSJoin lemma), checked against an
    // INDEPENDENT exhaustive reference: brute-force every document pair
    // (fine at 500 docs — never in the engine) and compare both prefix
    // plans (rational-threshold and double-threshold forms) at two
    // thresholds (two different prefix lengths).
    val sh = docs.select(col("doc_id"),
        NearDup.shingles(TextAnalysis.tokens(col("text")), 3).as("sh"))
      .filter(col("doc_id").isNotNull && size(col("sh")) > 0)
    for ((num, den) <- Seq((4, 5), (3, 5))) {
      val t = num.toDouble / den
      val truth = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          NearDup.jaccard(col("a.sh"), col("b.sh")).as("j"))
        .filter(col("j") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exact = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = NearDup.prefixJaccardPairs(docs, "doc_id", "text", 3, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(truth.nonEmpty, "testdata should contain planted near-dup pairs")
      assert(exact === truth, s"exactJaccardPairs must be complete at t=$t")
      assert(pref === truth, s"prefix filter must be complete at t=$t")
    }
  }

  test("containment df-cap bounds candidates; rare-shingle pairs survive") {
    // 14 docs share one corpus-hot trigram; docs 20/21 additionally share
    // rare content (20 embedded in 21). With dfCap below the hot df, the
    // hot shingle generates NO candidates (bounding the self-join at
    // cap^2 rows per shingle) while the rare-overlap pair still pairs,
    // and its rare-universe containment (6 shared discriminative trigrams
    // over doc 20's 6 discriminative trigrams) is exactly 1.0 — the hot
    // boilerplate trigram is excluded from numerator AND denominator.
    val hot = "common header boilerplate"
    val rows = (1L to 12L).map(i =>
      (i, s"$hot unique$i filler$i tail$i words$i here$i")) ++ Seq(
      (20L, s"$hot alpha beta gamma delta epsilon zeta"),
      (21L, s"$hot alpha beta gamma delta epsilon zeta extra trailing tokens appended here now"))
    val df = rows.toDF("doc_id", "text")
    val sh = NearDup.shingleFrame(df, "doc_id", "text", 3)
    def candidates(dfCap: Int): Long = NearDup.selfJoinPairs(
      NearDup.cappedPostings(sh, "doc_id", dfCap), "doc_id", Seq("__s")).count()
    val capped = candidates(dfCap = 5)
    val uncapped = candidates(dfCap = 100)
    assert(capped === 1L, "only the rare-overlap pair may survive the cap")
    assert(uncapped === (14L * 13L) / 2, "hot shingle alone pairs all 14 docs uncapped")
    val out = NearDup.containmentPairs(df, "doc_id", "text", 3, 0.8, dfCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out === Set((20L, 21L, 1.0)), "doc 20 is fully contained in doc 21")
  }

  test("ZOrder.interleave16 matches hand-computed Morton codes") {
    import graft.engine.ZOrder
    // a bits land on even positions, b bits on odd: (a=3, b=1) -> 0b0111;
    // (a=0, b=0) -> 0; (a=1, b=2) -> a0@0 + b1@3 = 0b1001; inputs wrap
    // mod 2^16 ((65536+3, 1) ~ (3, 1)).
    val df = Seq((3L, 1L), (0L, 0L), (1L, 2L), (65539L, 1L))
      .toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.interleave16(col("a"), col("b")).as("z"))
    val z = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z((3L, 1L)) === 7L)
    assert(z((0L, 0L)) === 0L)
    assert(z((1L, 2L)) === 9L)
    assert(z((65539L, 1L)) === 7L)
  }

  test("winnowing: shared w+n-1 token run yields a common fingerprint") {
    // n=4, w=4: any shared run of 7 tokens shares a full window of 4-gram
    // hashes, so the window minimum is a common fingerprint (MOSS guarantee).
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (1L, s"one two $shared three four five six"),
      (2L, s"$shared completely different tail words here"),
      (3L, "unrelated text with enough tokens to form several windows okay")
    ).toDF("doc_id", "text")
    val fps = NearDup.winnowFingerprints(df, "doc_id", "text", 4, 4)
    assert(fps.count() === 3)
    // recompute the fingerprint SETS directly to check pairwise overlap
    val sets = df.select(col("doc_id"),
        NearDup.posGrams(TextAnalysis.tokens(col("text")), 4).as("__g"))
      .select(col("doc_id"), transform(col("__g"), g => TextHash.hash60(g)).as("__gh"))
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("__gh")) - 3),
        i => array_min(slice(col("__gh"), i, lit(4))))).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sets(1L) & sets(2L)).nonEmpty, "shared 7-token run must collide")
    assert((sets(1L) & sets(3L)).isEmpty, "unrelated docs must not collide")
  }

  test("dup-ngram coverage: planted duplicate spans are detected, frac in [0,1]") {
    val rows = NearDup.dupNgramCoverage(docs, "doc_id", "text", 8).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, dup, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dup >= 0 && dup <= n)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // the corpus plants near-duplicate docs, so SOME doc must carry dup grams
    assert(rows.exists(_.getLong(2) > 0), "planted near-dups imply dup 8-grams")
  }

  test("skyline2D matches brute-force dominance on seeded random points") {
    // Property check: the levels/running-max algorithm equals the O(n^2)
    // definition (no other point >= on both axes and > on at least one) on
    // 10 seeded point clouds, duplicates and ties included.
    val rng = new scala.util.Random(42)
    (1 to 10).foreach { _ =>
      val pts = (0 until 120).map(i =>
        (i.toLong, rng.nextInt(20).toDouble / 2.0, rng.nextInt(30).toLong))
      val df = pts.toDF("id", "x", "y")
      val got = TextAnalysis.skyline2D(df, "x", "y")
        .select("id").collect().map(_.getLong(0)).toSet
      val want = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, x2, y2) =>
          x2 >= x && y2 >= y && (x2 > x || y2 > y)
        }
      }.map(_._1).toSet
      assert(got === want)
    }
  }

  test("rankTopKWindow matches the heap TopKPerKey ranking exactly") {
    // The two formulations of per-key top-k (window row_number vs the custom
    // heap operator) must agree on every (rank, id, score) — including on
    // tied scores, where both tie-break by neighbor_id.
    val pairs = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.9), (1L, 12L, 0.5), (1L, 13L, 0.95),
      (2L, 10L, 0.1), (2L, 11L, 0.3), (2L, 12L, 0.3)
    ).toDF("query_id", "neighbor_id", "cosine")
    val win = Similarity.rankTopKWindow(pairs, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val heap = graft.plans.TopKPerKey.of(pairs,
        keyCols = Seq("query_id"),
        order = Seq("cosine" -> false, "neighbor_id" -> true), k = 2)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(win === heap)
    assert(win === Set((1L, 13L, 1), (1L, 10L, 2), (2L, 11L, 1), (2L, 12L, 2)))
  }

  test("shingleFrame exposes the same distinct shingle sets as the expression form") {
    val viaFrame = NearDup.shingleFrame(docs, "doc_id", "text", 3)
      .select(col("doc_id"), sort_array(col("__shingles")).as("sh"))
    val viaExpr = docs.select(col("doc_id"),
      sort_array(NearDup.shingles(TextAnalysis.tokens(col("text")), 3)).as("sh"))
    // shingleFrame drops empty-shingle docs (they cannot pair); the
    // expression form keeps them — compare on the common support.
    assert(viaFrame.join(viaExpr, Seq("doc_id", "sh"), "left_anti").count() === 0L)
    assert(viaFrame.count() ===
      viaExpr.filter(size(col("sh")) > 0).count())
  }

  test("Caching.withCached caches during the body and releases after") {
    val dims = Seq(Tables.nation(spark, sf0001), Tables.region(spark, sf0001))
    Caching.withCached(dims) {
      dims.foreach(d => assert(d.storageLevel !== StorageLevel.NONE))
      // two consumptions, the reference's double-write pattern
      dims.foreach(d => assert(d.count() > 0))
      dims.foreach(d => assert(d.count() > 0))
    }
    dims.foreach(d => assert(d.storageLevel === StorageLevel.NONE))
  }
}
