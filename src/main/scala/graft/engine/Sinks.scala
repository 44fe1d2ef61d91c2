package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sinks (SURVEY.md section 2.1, S3-S5).
  *
  * The reference writes overwrite-mode Parquet (csv_to_parquet.py:79) with an
  * output-file row cap on the fact table (final_fact_load.py:149), plus a
  * BigQuery warehouse load (final_dim_load.py:211-215). The warehouse sink is
  * modeled as a trait so the BigQuery connector (unreachable here: external
  * service + connector jar) and the local Parquet stand-in are the same code
  * path to callers.
  *
  * Sinks write whole directories or partitions; none merges by key. Keyed
  * upserts and change sets commit through the table log ([[TxLog.upsert]],
  * [[TxLog.applyChanges]]), which never deletes or renames the live table.
  */
object Sinks {

  /** S3/S4: overwrite Parquet, optional rows-per-file cap. At cluster scale
    * the cap bounds file sizes under AQE-coalesced partitions so downstream
    * scans parallelize; locally it just splits files.
    */
  def writeParquet(df: DataFrame, path: String, maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w2.parquet(path)
  }

  /** C5 write-then-readback: truncates lineage and returns post-write state
    * (final_dim_load.py:208-210). The reference clears every cache to dodge
    * a stale FileIndex (final_dim_load.py:455); `refreshByPath` re-lists
    * and re-caches only the frames that read `path`, so a caller's caches
    * over other paths survive. The read-back is [[Sources.parquet]]'s, so
    * the write is the only job this call runs.
    */
  def writeAndReadBack(spark: SparkSession, df: DataFrame, path: String,
      maxRecordsPerFile: Long = 0L): DataFrame = {
    writeParquet(df, path, maxRecordsPerFile)
    spark.catalog.refreshByPath(path)
    Sources.parquet(spark, path)
  }

  /** ORC sink/source round-trip (S-surface beyond the reference's
    * CSV/Parquet): same columnar footer-statistics story as Parquet through
    * Spark's built-in `orc` format — the interchange format a warehouse
    * migration actually encounters.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Hive-style partitioned Parquet write: partition values become
    * directories, so a filter on the partition column prunes whole
    * directories at planning time (PartitionFilters in the scan) — the
    * reference writes unpartitioned directories (SURVEY.md section 4), but at
    * 100 TB date/tenant partitioning is what makes selective scans feasible.
    *
    * Rows are CLUSTERED by the partition columns before the write: a naive
    * `partitionBy` has every upstream task write its own sliver into every
    * partition directory — tasks x partitions tiny files, the classic
    * small-files explosion (at 1000 tasks x 365 date partitions, 365k
    * files). After the one hash shuffle each partition value lands in
    * exactly one task, so each directory holds one compact file (plus
    * maxRecordsPerFile splits). `writersPerPartition` > 1 salts the
    * clustering for SKEWED partition values — a hot tenant/date then fans
    * out over that many writers instead of serializing through one, at the
    * cost of that many files per directory (still bounded by the salt, not
    * by the task count). The salt is a deterministic row hash, so reruns
    * produce identical layouts.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 0L, writersPerPartition: Int = 1): Unit = {
    require(writersPerPartition >= 1, s"writersPerPartition must be >= 1, got $writersPerPartition")
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val keys = partitionCols.map(col)
    // EXPLICIT partition count (round 15): repartition(cols) with no count
    // is eligible for AQE coalescing, which folds a byte-light clustering
    // shuffle to ONE task — that task then opens a parquet writer per
    // partition directory it holds, serializing per-directory writer
    // open/close across the whole table (profiled: the q504 10x rehearsal
    // spent ~6 s per write in a single coalesced task walking ~512 cell
    // directories). Per-file cost is invisible to AQE's byte heuristic, so
    // the count is explicit and input-proportional (Partitions.spread —
    // directory count tracks data size for cell/date layouts, and a
    // KB-scale write keeps one task). Each partition VALUE still hashes
    // wholly into one task, so file count per directory is unchanged —
    // this is purely writer-parallelism recovery.
    val clustered =
      if (writersPerPartition == 1) Partitions.spread(df, keys: _*)
      // the salted arm is EXPLICITLY the hot-value writer-parallelism case —
      // it keeps the session's full parallelism so the salt can actually fan
      // a hot partition value across tasks (an input-proportional count of 1
      // would put every salt bucket back into one writer)
      else df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions,
        (keys :+ pmod(xxhash64(df.columns.map(col): _*), lit(writersPerPartition))): _*)
    val w = clustered.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
    val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w2.parquet(path)
  }

  /** Range-clustered Parquet write: range-partition by the cluster key, sort
    * within partitions, then write — every output file covers a disjoint key
    * range, so parquet footer min/max statistics skip whole files/rowgroups
    * for range predicates. This is the lake "clustering" maintenance op: at
    * 100 TB it turns a full scan for `key BETWEEN a AND b` into reading only
    * the few files whose range intersects. One range shuffle (sampled
    * boundaries), no global sort.
    */
  def writeRangeClustered(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int, maxRecordsPerFile: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.col
    val clustered = df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
    val w = clustered.write.mode(SaveMode.Overwrite)
    val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    w2.parquet(path)
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving sibling partitions untouched — the incremental-pipeline
    * staple (reprocess one day without rewriting the table). Static
    * overwrite mode would drop every partition first; the conf is scoped to
    * this write and restored after.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    // same clustering as writePartitioned: one compact file per replaced
    // partition instead of a sliver from every upstream task; the optional
    // rows-per-file cap is the same S4 contract as writeParquet (replaced
    // partitions land as ceil(rows/cap) files from their single writer)
    try {
      // explicit adaptive count, same rationale as writePartitioned: an
      // AQE-coalesced single task would serialize one parquet writer per
      // replaced partition directory
      val w = Partitions.spread(df, partitionCols.map(col): _*)
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      val w2 = if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w
      w2.parquet(path)
    }
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Bucketed + sorted table write: rows are pre-shuffled into `numBuckets`
    * by the bucket key at write time, so equi-joins (and aggregations)
    * between co-bucketed tables skip the shuffle entirely — the write-side
    * answer to repeated join keys at scale. Requires saveAsTable (bucketing
    * metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit =
    writeBucketedAt(df, table, None, bucketCols, numBuckets, sortCols)

  /** [[writeBucketed]] with an explicit EXTERNAL data path: the bucketing
    * metadata still lives in the (session-scoped) catalog, but the parquet
    * lands under `path` instead of spark.sql.warehouse.dir — so gate
    * queries can scope their bucketed tables to per-session scratch and
    * never pollute a shared warehouse directory.
    */
  def writeBucketedAt(df: DataFrame, table: String, path: Option[String],
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    // Cluster into the buckets BEFORE the write: a naive bucketBy has every
    // upstream task write a file for every bucket it holds — tasks x buckets
    // small files. repartition(numBuckets, cols) assigns rows by the SAME
    // pmod(murmur3, numBuckets) expression Spark derives bucket ids from
    // (HashPartitioning.partitionIdExpression), so after the shuffle each
    // task holds exactly one bucket and each bucket lands as one file.
    val clustered = df.repartition(numBuckets, bucketCols.map(col): _*)
    val w0 = clustered.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = path.fold(w0)(p => w0.option("path", p))
    val w2 = if (sortCols.nonEmpty) w1.sortBy(sortCols.head, sortCols.tail: _*) else w1
    w2.format("parquet").saveAsTable(table)
  }

  /** JSON-lines sink (one object per line — splittable on re-read). Dates
    * and timestamps serialize as ISO strings, so a schema'd jsonLines read
    * of the declared types round-trips them exactly.
    */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Small-files compaction: rewrite a parquet directory into ~targetFiles
    * files. Continuous/append ingestion accumulates many small files, and at
    * scale the per-file open cost (plus task-per-file scheduling under
    * non-splittable readers) dominates scans — periodic compaction is the
    * standard lake-maintenance op. Writes to a sibling temp directory first:
    * overwriting the path being lazily read would destroy the input mid-job;
    * the swap is two filesystem renames, and `refreshByPath` re-lists any
    * cached frame over the old file set (the stale-FileIndex hazard the
    * reference clears every cache for, final_dim_load.py:455).
    */
  def compactParquet(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    import org.apache.hadoop.fs.Path
    val tmp = new Path(path + "__compact_tmp")
    Sources.parquet(spark, path).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new Path(path)
    fs.delete(dest, true)
    require(fs.rename(tmp, dest), s"compaction swap failed for $path")
    spark.catalog.refreshByPath(path)
  }

  /** Partition-scoped compaction (round 11): repeated dynamic partition
    * overwrites and capped writes fragment HOT partitions over time;
    * [[compactParquet]] heals that by rewriting the WHOLE table, which at
    * 100 TB is full-table IO for a few hot directories. This walks the partition directories (a
    * bounded listing — partition count, never row count), finds the leaves
    * holding more than `minFiles` parquet files, and rewrites ONLY those,
    * each with [[compactParquet]]'s read -> repartition -> temp-swap (the
    * partition VALUE lives in the directory name, not the files, so a
    * per-directory rewrite of the data columns preserves it; a partitioned
    * read-back sees identical rows). IO is bounded by the fragmented
    * partitions; untouched directories keep their files byte-for-byte
    * (spec-pinned). One small job per fragmented leaf — a production
    * scheduler spreads these across a maintenance window; the point is
    * that table size never enters the cost.
    * Returns the number of directories compacted.
    */
  def compactPartitions(spark: SparkSession, path: String,
      targetFiles: Int, minFiles: Int): Int = {
    require(targetFiles > 0 && minFiles > targetFiles,
      s"need minFiles ($minFiles) > targetFiles ($targetFiles) > 0 — " +
        "compacting at-or-below-target directories would churn files for nothing")
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    // leaf partition dirs: directories that directly hold parquet files
    // (handles any partition nesting depth)
    def leaves(dir: Path): Seq[Path] = {
      val entries = fs.listStatus(dir).toSeq
      val subdirs = entries.filter(_.isDirectory).map(_.getPath)
        // skip hidden/metadata dirs and any crashed-run staging leftovers —
        // the same names Spark's own file index ignores
        .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      val holdsParquet = entries.exists(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet"))
      (if (holdsParquet) Seq(dir) else Nil) ++ subdirs.flatMap(leaves)
    }
    val fragmented = leaves(root).filter { d =>
      fs.listStatus(d).count(e =>
        e.isFile && e.getPath.getName.endsWith(".parquet")) > minFiles
    }
    // per-leaf temp-swap like [[compactParquet]], but the staging dir is
    // DOT-prefixed: Spark's partition discovery ignores `.`/`_` names, so a
    // concurrent reader of the table root never sees a transient directory
    // that would parse as a bogus partition value. The per-leaf rewrites
    // are INDEPENDENT jobs over disjoint directories, so they run from a
    // small thread pool (guide §2.6 — overlap independent jobs): each
    // rewrite is a tiny scan+write whose tail would otherwise serialize
    // the whole heal behind one leaf at a time, and the leaf count grows
    // with the table (the 10x-rehearsal superlinearity r14 flagged).
    // 2-8 in flight is enough to fill the tail without fighting for cores.
    if (fragmented.nonEmpty) {
      val parallelism = math.min(8, fragmented.size)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val done = fragmented.map { d =>
          scala.concurrent.Future {
            val tmp = new Path(d.getParent, "." + d.getName + "__compact_tmp")
            Sources.parquet(spark, d.toString).repartition(targetFiles)
              .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
            fs.delete(d, true)
            require(fs.rename(tmp, d), s"compaction swap failed for $d")
          }(ec)
        }
        import scala.concurrent.duration.Duration
        done.foreach(scala.concurrent.Await.result(_, Duration.Inf))
      } finally pool.shutdown()
      spark.catalog.refreshByPath(path)
    }
    fragmented.size
  }

  /** Observed write: attach `observe()` metrics to the frame and write it —
    * the Spark-native data-quality instrumentation (metrics are computed by
    * the SAME job that writes, no second scan) — and return the observed
    * values (e.g. row count, null counts, sums) for load-audit logging.
    */
  def writeParquetObserved(df: DataFrame, path: String,
      metrics: Map[String, org.apache.spark.sql.Column]): Map[String, Any] = {
    require(metrics.nonEmpty, "writeParquetObserved needs at least one metric")
    val obs = org.apache.spark.sql.Observation(
      s"graft_write_${java.util.UUID.randomUUID()}")
    val cols = metrics.toSeq
    val observed = df.observe(obs, cols.head._2.as(cols.head._1),
      cols.tail.map { case (n, c) => c.as(n) }: _*)
    writeParquet(observed, path)
    obs.get
  }

  /** Per-call staging directory for the ANN serving log's publish rename
    * ([[graft.streaming.EventStreams.startAnnServe]]): a fixed sibling
    * name would let two writers of the SAME path stage into one shared
    * directory and clobber each other's data. The applicationId scopes
    * staging per driver, the UUID per call (two in-flight writers of one
    * path inside a single app — e.g. two streaming queries — stay disjoint
    * too). Each call renames its staging into place or deletes it before
    * returning, so orphans only survive a crashed JVM; they are sibling
    * directories (never inside the table root), invisible to partition
    * discovery and readers.
    */
  private[graft] def stagingDir(path: String, op: String, spark: SparkSession): String =
    s"${path}__${op}_tmp_${spark.sparkContext.applicationId}_${java.util.UUID.randomUUID()}"

  /** S5 warehouse sink abstraction. */
  trait WarehouseSink {
    def save(df: DataFrame, table: String): Unit
  }

  /** Local warehouse: one Parquet directory per table (DuckDB-readable). */
  final class ParquetWarehouse(root: String) extends WarehouseSink {
    def save(df: DataFrame, table: String): Unit =
      writeParquet(df, s"$root/$table")
  }
}
