package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Sinks, Sources}
import graft.ext.{IvfPq, NearDup, Similarity}

/** `neardup_curation`: one MinHash dedup pass over a corpus with planted
  * near-duplicate clusters, survivors written with `Sinks`. Quality is the
  * F1 of the dropped set against the planted duplicates.
  */
final class NearDupCuration(c: Ctx, nDocs: Int) extends Workload {
  import c.{spark, span}

  private val file = new File(c.input, "neardup/docs.jsonl")
  private val out = c.path("out/curated")
  private val Schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("source", StringType)))
  /** F1 below this fails the op: the planted clusters sit at Jaccard >= 0.85,
    * far above the 0.75 threshold, so a correct pass scores ~1.0.
    */
  private val F1Floor = 0.95
  private var gen = GenInfo(0, 0)
  private var truth = Corpus.Truth(Set.empty, 0)
  private val f1 = scala.collection.mutable.Map[Int, Double]()

  def generate(): GenInfo = {
    val (g, t) = Corpus.generate(file, c.seed, nDocs, docLen = 80)
    gen = g; truth = t; g
  }

  def op(i: Int): Unit = span("step.neardup") {
    val docs = span("sources.json")(Sources.jsonLines(spark, file.getAbsolutePath, Schema))
    val kept = span("neardup.drop")(NearDup.dropNearDuplicates(docs, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.75))
    span("sinks.write")(Sinks.writeParquet(kept, out))
  }

  def check(i: Int): Seq[String] = {
    val kept = spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = (1L to truth.docs).filterNot(kept.contains).toSet
    val tp = (dropped intersect truth.duplicates).size.toDouble
    val precision = if (dropped.isEmpty) 1.0 else tp / dropped.size
    val recall = if (truth.duplicates.isEmpty) 1.0 else tp / truth.duplicates.size
    f1(i) = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
    if (f1(i) >= F1Floor) Nil else Seq(f"neardup_curation.f1_below_floor(${f1(i)}%.4f)")
  }

  def quality(i: Int): Double = f1.getOrElse(i, 0.0)
  def inputRows(i: Int): Long = gen.rows
  def inputBytes(i: Int): Long = gen.bytes
  def writtenBytes(i: Int): Long = Files.bytes(Seq(out))

  override def layer(i: Int): Map[String, Double] = {
    val files = Files.dataFiles(out)
    Map("sinks.write_mb" -> files.map(_.length).sum / 1048576.0, "sinks.files" -> files.size.toDouble)
  }

  def corrupt(): Unit = Corrupt.oneRow(spark, Corrupt.firstParquet(new File(out)))
}

/** `ann_recall`: build an IVF-PQ index and a mutual-kNN graph over seeded
  * clustered embeddings, then answer one bounded probe batch with the ADC
  * shortlist and with graph beam search at several hop budgets. Quality is
  * recall@10 of the deepest walk against exact `Similarity.topKCosine`.
  */
final class AnnRecall(c: Ctx, n: Int) extends Workload {
  import c.{spark, span}

  private val json = new File(c.input, "ann/vectors.jsonl")
  private val out = c.path("out/ann/index")
  private val Probes = 64
  private val K = 10
  private val Beam = 16
  val Hops = Seq(1, 2)
  /** Recall of the deepest walk below this fails the op: it catches a
    * broken walk (recall ~0), not a weak graph — the cell-restricted
    * mutual-kNN graph leaves most true neighbours unreachable.
    */
  private val RecallFloor = 0.05
  private var gen = GenInfo(0, 0)
  private var exact = Map.empty[Long, Set[Long]]
  private var shortlist = Map.empty[Long, Seq[Long]]
  private var walks = Map.empty[Int, Map[Long, Set[Long]]]

  def generate(): GenInfo = {
    gen = Vectors.generate(json, c.seed, n, clusters = 50, dim = IvfPq.Dim)
    gen
  }

  private def corpus = Sources.jsonLines(spark, json.getAbsolutePath,
    StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)))))
  private def probes(df: DataFrame) = Similarity.hashOrderedProbes(df, "vec_id", "probe", Probes)

  private def byQuery(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.toSeq.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)) }

  def op(i: Int): Unit = {
    val cells = span("step.ivfpq_build") {
      val withCells = IvfPq.withDerivedCells(span("sources.json")(corpus), "embedding",
        IvfPq.derivedPlanes(n.toLong))
      val ix = span("ivfpq.build")(IvfPq.buildIndex(withCells, "vec_id", "embedding", "cell"))
      span("sinks.write") {
        Sinks.writeParquet(ix.cents, s"$out/cents")
        Sinks.writeParquet(ix.cw, s"$out/cw")
        Sinks.writeParquet(ix.codes, s"$out/codes")
      }
      withCells
    }
    span("step.graph") {
      val edges = span("similarity.mutual_knn")(
        Similarity.mutualKnnGraph(cells, "vec_id", "embedding", "cell", k = K))
      span("sinks.write")(Sinks.writeParquet(edges, s"$out/edges"))
    }
    span("step.ivfpq_search") {
      val ix = span("sources.parquet")(IvfPq.Index(Sources.parquet(spark, s"$out/cents"),
        Sources.parquet(spark, s"$out/cw"), Sources.parquet(spark, s"$out/codes")))
      val q = probes(corpus).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      shortlist = byQuery(span("ivfpq.adc")(
        IvfPq.adcShortlist(ix, q, nprobe = 4, shortlist = 40)
          .select("query_id", "neighbor_id").collect()))
    }
    span("step.walk") {
      val edges = span("sources.parquet")(Sources.parquet(spark, s"$out/edges"))
      val entries = span("similarity.entries")(Similarity.topDegreeNodes(edges, 16))
      val q = probes(corpus)
      walks = Hops.map { h =>
        h -> byQuery(span("similarity.walk")(Similarity.graphBeamSearch(corpus, edges, q,
          "vec_id", "embedding", entries, hops = h, beam = Beam, k = K)
          .select("query_id", "neighbor_id").collect())).map { case (k, v) => k -> v.toSet }
      }.toMap
    }
  }

  override def reference(): Unit =
    exact = byQuery(Similarity.topKCosine(probes(corpus), corpus, "vec_id", "embedding", K)
      .select("query_id", "neighbor_id").collect()).map { case (k, v) => k -> v.toSet }

  private def recall(found: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, truth) => (found.getOrElse(q, Set.empty) intersect truth).size }.sum
    hits.toDouble / math.max(1, exact.values.map(_.size).sum)
  }

  def quality(i: Int): Double = recall(walks.getOrElse(Hops.max, Map.empty))

  def check(i: Int): Seq[String] = {
    val r = quality(i)
    if (r >= RecallFloor) Nil else Seq(f"ann_recall.recall_below_floor($r%.4f)")
  }

  def inputRows(i: Int): Long = gen.rows
  def inputBytes(i: Int): Long = gen.bytes
  def writtenBytes(i: Int): Long = Files.bytes(Seq(out))

  override def layer(i: Int): Map[String, Double] = {
    val files = Files.dataFiles(out)
    Map("ivfpq.shortlist_per_query" -> shortlist.values.map(_.size).sum.toDouble / Probes,
      "ivfpq.recall_at_shortlist" -> recall(shortlist.map { case (k, v) => k -> v.toSet }),
      "sinks.write_mb" -> files.map(_.length).sum / 1048576.0,
      "sinks.files" -> files.size.toDouble) ++
      Hops.map(h => s"similarity.recall_at_hop$h" -> recall(walks.getOrElse(h, Map.empty))) ++
      Seq("similarity.recall_at_hop" -> quality(i))
  }

  def corrupt(): Unit = walks = walks.updated(Hops.max, Map.empty)
}

/** `toolkit_curation`: the LLM-data toolkit in one op — the
  * `neardup_curation` pass, then the `ann_recall` index build and probe
  * batch — so both toolkit layers are measured in one JVM. Each half keeps
  * its own check and floor. Quality is the near-dup F1: the walk's
  * recall@10 moves with the seed's graph by more than an end-to-end bound
  * allows, so it is reported per layer.
  */
final class ToolkitCuration(c: Ctx, nDocs: Int, nVectors: Int) extends Workload {
  private val parts: Seq[Workload] = Seq(new NearDupCuration(c, nDocs), new AnnRecall(c, nVectors))

  def generate(): GenInfo = parts.map(_.generate()).reduce((a, b) => GenInfo(a.rows + b.rows,
    a.bytes + b.bytes))
  def op(i: Int): Unit = parts.foreach(_.op(i))
  override def reference(): Unit = parts.foreach(_.reference())
  def check(i: Int): Seq[String] = parts.flatMap(_.check(i))
  def quality(i: Int): Double = parts.head.quality(i)
  def inputRows(i: Int): Long = parts.map(_.inputRows(i)).sum
  def inputBytes(i: Int): Long = parts.map(_.inputBytes(i)).sum
  def writtenBytes(i: Int): Long = parts.map(_.writtenBytes(i)).sum

  override def layer(i: Int): Map[String, Double] = {
    val each = parts.map(_.layer(i))
    val sums = Seq("sinks.write_mb", "sinks.files").map(k => k -> each.map(_.getOrElse(k, 0.0)).sum)
    each.reduce(_ ++ _) ++ sums
  }

  def corrupt(): Unit = parts.head.corrupt()
}
