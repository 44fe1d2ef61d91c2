package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Minimal optimistic-concurrency COMMIT LOG over parquet — the
  * multi-writer table format the round-12 frontier named (#5), and the
  * engine's one keyed-merge protocol ([[applyChanges]], [[upsert]]) for
  * partitioned and unpartitioned tables alike: a real lake coordinates
  * concurrent writers through a transactional log, not external locks or
  * a delete-then-rename directory swap.
  * This is the standard public protocol shape (a Delta-style ordered log
  * of commits; an Iceberg-style files-list manifest):
  *
  *   table/_txlog/v<20-digit>.json   one DELTA manifest per committed
  *                                   version — the files this commit adds
  *                                   (path + optional partition value +
  *                                   optional column min/max stats) and
  *                                   the live-file paths it removes
  *   table/_txlog/c<20-digit>.json   a CHECKPOINT: the FULL live-file list
  *                                   at that version, written every
  *                                   [[CheckpointInterval]] commits (and
  *                                   by vacuum at its retention cutoff)
  *   table/data/<uuid>/...           each commit's staged files, immutable
  *                                   once referenced by any manifest
  *
  * Deltas, not full lists, are the 100 TB shape (round 14): a table with
  * millions of live files must not rewrite an O(files) manifest per
  * commit — per-commit log IO is O(delta), and a reader resolves the
  * snapshot from the newest checkpoint plus at most
  * [[CheckpointInterval]] delta manifests, never a year-long replay.
  * Checkpoints are derived metadata (create-if-absent, deterministic from
  * replay), so a missing or torn checkpoint degrades to a longer replay,
  * never a wrong answer.
  *
  * The commit protocol:
  *   1. stage the new data files under a fresh uuid dir (no reader or
  *      other writer can observe them — nothing references them yet);
  *   2. read the LATEST committed snapshot, compute the next live set
  *      (append: old files + staged; replaceWhere: old files minus the
  *      replaced partition values' files + staged) — the written manifest
  *      is the DELTA between the two;
  *   3. CLAIM version N+1 by `fs.create(path, overwrite = false)` — the
  *      atomic create-if-absent every HDFS-like filesystem provides (the
  *      public Delta LogStore contract; object stores without it need a
  *      coordination service). Exactly ONE writer can create a given
  *      version file, so commits serialize without locks;
  *   4. on collision, re-read the new latest snapshot and RETRY from
  *      step 2 — staged files are immutable, so a retry re-points the
  *      manifest, never re-writes data. Disjoint concurrent writers both
  *      land (spec-pinned); same-partition replaceWhere writers serialize
  *      into last-committed-wins, each applied against the snapshot it
  *      actually observed at claim time — never a lost update, which is
  *      exactly what the read-merge-swap race loses.
  *
  * Readers resolve the latest version file and read ONLY the resolved
  * manifest's files — a reader opened mid-commit sees the previous
  * snapshot (snapshot isolation at file granularity). A partially-written
  * claim file (the writer crashed inside step 3's write) parses as
  * garbage; the reader treats it as an aborted commit and falls back to
  * the previous version, and the next writer's claim of that same version
  * number fails — it claims the NEXT free slot, so an aborted claim
  * wastes one version number, never a committed row.
  *
  * Partitioned commits stage with `partitionBy`, record each leaf file
  * with its partition VALUE (from the directory name), and the reader
  * reconstructs the partition column per commit dir via Spark's
  * `basePath` + explicit leaf files — one scan per live commit dir,
  * unioned by name (bounded by log length, not file count).
  *
  * FILE STATISTICS (round 14): a commit may declare a numeric clustering
  * column; the stage then records each staged file's min/max of that
  * column in its manifest entry (one column-pruned scan of the staged
  * delta — O(delta), the IO the commit already pays), and [[readWhere]]
  * prunes the file list from the MANIFEST before any footer is opened —
  * data skipping from metadata, the log-resident form of
  * [[Sinks.writeRangeClustered]]'s layout contract.
  *
  * 100 TB: manifests are delta-sized metadata (object-store listing is
  * the thing this avoids), claims are one small atomic create, and data
  * IO is exactly the staged delta.
  */
object TxLog {

  final case class ColStats(column: String, min: Double, max: Double)
  final case class FileEntry(path: String, partition: Option[String],
    stats: Option[ColStats] = None)
  final case class Snapshot(version: Long, entries: Seq[FileEntry])

  /** A checkpoint every this-many commits: snapshot resolution reads at
    * most this many delta manifests past the newest checkpoint. 10 is the
    * public Delta default.
    */
  private val CheckpointInterval = 10L

  private def logDir(table: String) = new Path(table, "_txlog")
  private def fsOf(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def versionFile(table: String, v: Long) =
    new Path(logDir(table), f"v$v%020d.json")
  private def checkpointFile(table: String, v: Long) =
    new Path(logDir(table), f"c$v%020d.json")

  /** JSON codec — hand-rolled (flat fields, one nesting level) so the
    * on-disk format is explicit and dependency-free. Paths are escaped;
    * partition values may be any Hive-escaped directory token. A
    * checkpoint file is a bare entry array; a version file is
    * `{"add":[entries],"remove":[paths]}`.
    */
  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def renderEntry(e: FileEntry): String = {
    val stats = e.stats.fold("")(st =>
      s""","stats":{"column":${js(st.column)},"min":${st.min},"max":${st.max}}""")
    s"""{"path":${js(e.path)},"partition":${e.partition.map(js).getOrElse("null")}$stats}"""
  }

  private def renderEntries(entries: Seq[FileEntry]): String =
    entries.map(renderEntry).mkString("[", ",", "]")

  private def renderDelta(add: Seq[FileEntry], remove: Seq[String]): String =
    s"""{"add":${renderEntries(add)},"remove":${remove.map(js).mkString("[", ",", "]")}}"""

  private def parseEntryNode(
      e: com.fasterxml.jackson.databind.JsonNode): FileEntry = {
    val st = Option(e.get("stats")).filter(_.isObject).map(s =>
      ColStats(s.path("column").asText(),
        s.path("min").asDouble(), s.path("max").asDouble()))
    FileEntry(e.path("path").asText(),
      Option(e.path("partition")).filter(_.isTextual).map(_.asText()), st)
  }

  private def parseEntries(json: String): Seq[FileEntry] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(root.isArray, "txlog checkpoint must be a JSON array")
    val it = root.elements()
    val b = Seq.newBuilder[FileEntry]
    while (it.hasNext) b += parseEntryNode(it.next())
    b.result()
  }

  private def parseDelta(json: String): (Seq[FileEntry], Seq[String]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(root.isObject && root.has("add") && root.has("remove"),
      "txlog version manifest must be an {add, remove} object")
    val add = Seq.newBuilder[FileEntry]
    val ai = root.get("add").elements()
    while (ai.hasNext) add += parseEntryNode(ai.next())
    val rm = Seq.newBuilder[String]
    val ri = root.get("remove").elements()
    while (ri.hasNext) rm += ri.next().asText()
    (add.result(), rm.result())
  }

  private def readBytes(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 65536, false)
      bytes.toString("UTF-8")
    } finally in.close()
  }

  /** ONE directory listing yielding every version and checkpoint number
    * present — readable or not (a claim whose writer crashed mid-write
    * still BURNS its number: claims are create-if-absent, so that slot can
    * never be committed). The commit cores derive the observed snapshot
    * AND the claim target from this one listing: listing again after the
    * snapshot read opens a lost-update window (a commit landing between
    * the two reads gets leapfrogged — the claim takes the slot ABOVE it
    * without ever rebasing onto it, and its files silently drop out of
    * the manifest). With one listing, any interleaved commit necessarily
    * took this writer's target slot, so the claim fails and the rebase
    * sees it.
    */
  private def listLog(fs: FileSystem, table: String): (Seq[Long], Seq[Long]) = {
    val dir = logDir(table)
    if (!fs.exists(dir)) return (Nil, Nil)
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    def nums(prefix: String): Seq[Long] = names
      .filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .flatMap(n =>
        scala.util.Try(n.stripPrefix(prefix).stripSuffix(".json").toLong).toOption)
    (nums("v"), nums("c"))
  }

  /** Latest COMMITTED snapshot: highest readable version file, resolved
    * as the newest readable checkpoint at-or-below it plus the delta
    * suffix above the checkpoint. Unreadable (crashed mid-write) claims
    * are skipped — they were never committed; an unreadable checkpoint
    * degrades to a longer replay. Version -1 with no entries when the log
    * is empty or absent.
    */
  def snapshot(spark: SparkSession, table: String): Snapshot = {
    val fs = fsOf(spark, table)
    val (vs, cs) = listLog(fs, table)
    snapshotFrom(fs, table, vs, cs)
  }

  private def readDelta(fs: FileSystem, table: String,
      v: Long): Option[(Seq[FileEntry], Seq[String])] =
    scala.util.Try(parseDelta(readBytes(fs, versionFile(table, v)))).toOption

  /** [[snapshot]] resolved against an ALREADY-TAKEN listing (see
    * [[listLog]]).
    */
  private def snapshotFrom(fs: FileSystem, table: String,
      versions: Seq[Long], checkpoints: Seq[Long]): Snapshot =
    snapshotAt(fs, table, versions.sorted.lastOption.getOrElse(-1L),
      versions, checkpoints)

  /** The committed state at the highest committed version <= `upTo`:
    * newest readable checkpoint at-or-below it, plus readable deltas
    * above the checkpoint applied in version order.
    */
  private def snapshotAt(fs: FileSystem, table: String, upTo: Long,
      versions: Seq[Long], checkpoints: Seq[Long]): Snapshot = {
    val candidates = versions.filter(_ <= upTo).sorted(Ordering[Long].reverse)
    val latest = candidates.iterator
      .map(v => v -> readDelta(fs, table, v))
      .collectFirst { case (v, Some(d)) => v -> d }
    latest match {
      case None => Snapshot(-1L, Nil)
      case Some((v, lastDelta)) =>
        val base = checkpoints.filter(_ <= v).sorted(Ordering[Long].reverse)
          .iterator
          .map(k => k -> scala.util.Try(
            parseEntries(readBytes(fs, checkpointFile(table, k)))).toOption)
          .collectFirst { case (k, Some(es)) => k -> es }
          .getOrElse(-1L -> Seq.empty[FileEntry])
        val (baseV, baseEntries) = base
        // a checkpoint at v already holds v's own delta
        val replay =
          if (baseV == v) Nil
          else versions.filter(x => x > baseV && x < v).sorted
            .flatMap(x => readDelta(fs, table, x)) :+ lastDelta
        val entries = replay.foldLeft(baseEntries) { case (cur, (add, rm)) =>
          val dead = rm.toSet
          cur.filterNot(e => dead.contains(e.path)) ++ add
        }
        Snapshot(v, entries)
    }
  }

  /** The latest snapshot reconstructed by FULL delta replay from version
    * 0, ignoring every checkpoint — the q531 gate's equivalence arm: a
    * checkpoint is derived metadata, so checkpoint-resolved and
    * replay-resolved reads must be identical or the checkpoint writer is
    * corrupting state.
    */
  private[graft] def fullReplaySnapshot(spark: SparkSession,
      table: String): Snapshot = {
    val fs = fsOf(spark, table)
    val (vs, _) = listLog(fs, table)
    snapshotAt(fs, table, vs.sorted.lastOption.getOrElse(-1L), vs, Nil)
  }

  /** The newest checkpoint version at or below the latest commit, -1 when
    * none exists — gate-visible evidence that snapshot resolution is
    * running on checkpoint + suffix, not full replay.
    */
  def latestCheckpointVersion(spark: SparkSession, table: String): Long = {
    val fs = fsOf(spark, table)
    val (vs, cs) = listLog(fs, table)
    val latest = vs.sorted.lastOption.getOrElse(-1L)
    cs.filter(_ <= latest).sorted.lastOption.getOrElse(-1L)
  }

  /** Read the latest committed snapshot as a DataFrame. Partitioned
    * entries group by commit dir (two levels up: data/<uuid>/<p>=<v>/file)
    * and read with `basePath` so Spark reconstructs the partition column;
    * unpartitioned entries read as one plain file set.
    */
  def read(spark: SparkSession, table: String): DataFrame = {
    val snap = snapshot(spark, table)
    require(snap.version >= 0, s"txlog table $table has no committed version")
    readEntries(spark, snap.entries).getOrElse(
      throw new IllegalArgumentException(
        s"txlog table $table version ${snap.version} is empty"))
  }

  /** Manifest-pruned range read — data skipping from the LOG (round 14):
    * keep only the live files whose recorded `column` min/max overlaps
    * [lo, hi] (a file with no stats for the column is kept — unknown can
    * never be pruned), scan just those, and apply the residual row
    * filter. Returns (rows, files scanned, files live). At 100 TB the
    * pruned file set — not the table — bounds the scan, and the decision
    * is made from manifest metadata without opening a single footer.
    */
  def readWhere(spark: SparkSession, table: String, column: String,
      lo: Double, hi: Double): (DataFrame, Int, Int) = {
    val snap = snapshot(spark, table)
    require(snap.version >= 0, s"txlog table $table has no committed version")
    val kept = snap.entries.filter(_.stats.forall(st =>
      st.column != column || (st.max >= lo && st.min <= hi)))
    val base = readEntries(spark, if (kept.nonEmpty) kept else snap.entries)
      .getOrElse(throw new IllegalArgumentException(
        s"txlog table $table version ${snap.version} is empty"))
    val pruned = if (kept.nonEmpty) base else base.limit(0)
    val rows = pruned.filter(
      col(column).cast("double").between(lo, hi))
    (rows, kept.size, snap.entries.size)
  }

  /** A manifest entry subset as one DataFrame (None when empty) — the
    * read() body factored so the merge commits below can scan ONLY the
    * entries of the snapshot they observed. Every file of one commit dir
    * comes from one staged write, so each scan takes its schema from one
    * footer read on the driver ([[Sources.parquet]]'s rule) and builds
    * with no schema-inference job; partition columns still come from the
    * paths.
    */
  private def readEntries(spark: SparkSession,
      entries: Seq[FileEntry]): Option[DataFrame] = {
    val (parted, plain) = entries.partition(_.partition.isDefined)
    val scans = (if (plain.isEmpty) Nil else Seq(None -> plain)) ++
      parted.groupBy(e => new Path(e.path).getParent.getParent.toString)
        .toSeq.sortBy(_._1).map { case (base, es) => Some(base) -> es }
    scans.map { case (base, es) =>
      val files = es.map(_.path)
      Sources.withFooterSchema(spark, files.head)(r =>
        base.fold(r)(r.option("basePath", _)).parquet(files: _*))
    }.reduceOption(_ unionByName _)
  }

  /** Stage `df` under a fresh commit dir; returns the staged entries.
    * With a partition column the write is Hive-layout and each leaf file
    * is recorded with its directory's partition token; without, a plain
    * parquet write recorded as unpartitioned entries. With `statsCol`,
    * one column-pruned pass over the staged files records each file's
    * min/max of that column in its entry — O(staged delta) IO, paid at
    * write time so every future read can prune from metadata.
    */
  private def stage(df: DataFrame, table: String,
      partitionCol: Option[String],
      statsCol: Option[String] = None): Seq[FileEntry] = {
    val spark = df.sparkSession
    val fs = fsOf(spark, table)
    val dir = new Path(new Path(table, "data"),
      java.util.UUID.randomUUID().toString)
    // a failed write leaves a commit dir nothing references: drop it
    def write(w: => Unit): Unit =
      try w catch { case e: Throwable => fs.delete(dir, true); throw e }
    val entries = partitionCol match {
      case Some(p) =>
        // explicit ADAPTIVE count (round 15): repartition(col) with no
        // count is AQE-coalescible to one task, which serializes a parquet
        // writer per partition directory of the staged delta; but a blanket
        // session-parallelism count makes every 1-row append (q531 commits
        // 33 of them) a 32-task job. The input-proportional count gives
        // tiny deltas one task and data-sized deltas the full writer
        // fan-out.
        write(Partitions.spread(df, col(p))
          .write.partitionBy(p).parquet(dir.toString))
        fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { d =>
          val token = d.getPath.getName
          fs.listStatus(d.getPath).toSeq
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => FileEntry(s.getPath.toString, Some(token)))
        }
      case None =>
        write(df.write.parquet(dir.toString))
        fs.listStatus(dir).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => FileEntry(s.getPath.toString, None))
    }
    statsCol.filter(_ => entries.nonEmpty).fold(entries) { c =>
      import org.apache.spark.sql.functions.{input_file_name, max, min}
      def norm(p: String): String = new Path(p).toUri.getPath
      val byFile = Sources.withFooterSchema(spark, entries.head.path)(
          _.parquet(entries.map(_.path): _*))
        .select(input_file_name().as("__f"), col(c).cast("double").as("__v"))
        .groupBy("__f")
        .agg(min("__v").as("mn"), max("__v").as("mx"))
        .collect() // bounded by staged file count, not rows
        .flatMap { r =>
          if (r.isNullAt(1) || r.isNullAt(2)) None
          else Some(norm(r.getString(0)) -> ((r.getDouble(1), r.getDouble(2))))
        }.toMap
      entries.map(e => e.copy(stats = byFile.get(norm(e.path))
        .map { case (mn, mx) => ColStats(c, mn, mx) }))
    }
  }

  /** Atomic create-if-absent claim carrying its FULL content: a claim
    * must never be observable half-written, or a concurrent writer reads
    * the winner's version file mid-write, treats it as aborted, and
    * commits a manifest that drops the winner's rows — the exact lost
    * update the log exists to prevent. Local paths write a temp file and
    * HARD-LINK it to the claim name (link(2): atomic, fails EEXIST, and
    * the content is complete at link time; Hadoop's local
    * create(overwrite=false) is an exists-check THEN a create — a TOCTOU
    * window two barrier-released writers can actually hit). HDFS-like
    * schemes write a temp and rely on atomic no-overwrite rename — the
    * public Delta LogStore contract; object stores without it need a
    * coordination service. Returns false on a lost race.
    */
  private def atomicClaim(fs: FileSystem, claim: Path,
      content: Array[Byte]): Boolean = {
    val scheme = claim.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val dir = java.nio.file.Paths.get(claim.getParent.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(dir, ".claim_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, content)
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(claim.toUri.getPath), tmp)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally java.nio.file.Files.deleteIfExists(tmp): Unit
    } else {
      val tmp = new Path(claim.getParent,
        s".claim_${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(content) finally out.close()
      val ok = try fs.rename(tmp, claim)
        catch { case _: java.io.IOException => false }
      if (!ok) fs.delete(tmp, true)
      ok
    }
  }

  /** Write the periodic checkpoint after a successful commit at `v`:
    * the committer just computed the full live set, so the checkpoint is
    * free metadata. Create-if-absent and best-effort — only the claim
    * winner of `v` reaches here, and a torn or missing checkpoint only
    * lengthens replay (snapshotAt falls back to the previous readable
    * checkpoint, ultimately to empty-base full replay).
    */
  private def maybeCheckpoint(fs: FileSystem, table: String, v: Long,
      full: Seq[FileEntry]): Unit =
    if (v > 0 && v % CheckpointInterval == 0) {
      scala.util.Try(atomicClaim(fs, checkpointFile(table, v),
        renderEntries(full).getBytes("UTF-8"))): Unit
    }

  /** Test-only interleave seam: invoked once per commit ATTEMPT, before the
    * attempt's snapshot read — lets a spec deterministically land a
    * concurrent commit inside the [baseline read -> claim] window that a
    * thread barrier can only hit probabilistically. Never set in
    * production code; a no-op by default.
    */
  private[engine] var testInterleave: () => Unit = () => ()

  /** The optimistic-retry commit core: compute the next live set from the
    * latest COMMITTED snapshot, claim the next FREE version number (above
    * every number present, committed or burned — a crashed claim must not
    * livelock its successors) with the DELTA manifest, retry on a lost
    * race. `next` must be a pure function of the observed snapshot — it
    * re-runs per attempt — and returns None when there is nothing to
    * commit (the observed version is returned). With `restage`, `next`
    * stages its own files on every attempt (the keyed merges, computed
    * against the snapshot they observed): a lost claim deletes that
    * attempt's staging, which nothing references, and the retry re-merges
    * on the new snapshot. Without, the files were staged once before the
    * loop and a retry only re-points the manifest.
    */
  private def commit(spark: SparkSession, table: String, maxRetries: Int,
      restage: Boolean = false)(next: Snapshot => Option[Seq[FileEntry]]): Long = {
    val fs = fsOf(spark, table)
    fs.mkdirs(logDir(table))
    var attempt = 0
    while (attempt <= maxRetries) {
      testInterleave()
      // ONE listing yields both the observed snapshot and the claim
      // target (see listLog): anything that commits after this listing
      // — a merge's stage takes seconds — takes `target` first, failing
      // this claim into a rebase
      val (versions, checkpoints) = listLog(fs, table)
      val snap = snapshotFrom(fs, table, versions, checkpoints)
      val target = (versions :+ snap.version :+ -1L).max + 1
      val full = next(snap) match {
        case Some(f) => f
        case None => return snap.version
      }
      val oldPaths = snap.entries.map(_.path).toSet
      val newPaths = full.map(_.path).toSet
      val added = full.filterNot(e => oldPaths.contains(e.path))
      val delta = renderDelta(added,
        snap.entries.map(_.path).filterNot(newPaths.contains))
      if (atomicClaim(fs, versionFile(table, target),
          delta.getBytes("UTF-8"))) {
        maybeCheckpoint(fs, table, target, full)
        return target
      }
      if (restage) dropStaged(fs, added)
      attempt += 1 // another writer claimed it first — rebase and retry
    }
    throw new IllegalStateException(
      s"txlog commit contention exceeded $maxRetries retries for $table")
  }

  /** Delete one attempt's staging: its entries share one commit dir. */
  private def dropStaged(fs: FileSystem, staged: Seq[FileEntry]): Unit =
    staged.headOption.foreach(e => fs.delete(commitDirOf(new Path(e.path)), true): Unit)

  /** Append-commit: the new snapshot is everything live plus the staged
    * files. Concurrent appends never conflict semantically — collisions
    * only re-point the manifest. `statsCol` opts the staged files into
    * per-file min/max recording for [[readWhere]] pruning.
    */
  def append(df: DataFrame, table: String,
      partitionCol: Option[String] = None,
      statsCol: Option[String] = None, maxRetries: Int = 20): Long = {
    val staged = stage(df, table, partitionCol, statsCol)
    commit(df.sparkSession, table, maxRetries)(snap => Some(snap.entries ++ staged))
  }

  /** Retention-windowed GC — the maintenance leg of the log (round 13):
    * drops version manifests older than the newest `keepVersions`
    * committed ones and deletes every data file those DROPPED manifests
    * added that no RETAINED state still references. Before dropping
    * anything it writes a checkpoint at the retention cutoff (the full
    * state there, create-if-absent), so the retained delta suffix always
    * has a base to replay from. The deletion rule is subtractive on
    * purpose: a file referenced by NO manifest at all is left alone — a
    * concurrent writer's staged-but-uncommitted files are exactly that,
    * so vacuum can never race an in-flight commit into data loss (the
    * worst case is an orphan from an aborted stage surviving; reclaiming
    * those is [[reclaimOrphans]]' age-gated job, not vacuum's). Unreadable
    * (burned) claim files inside the dropped range are removed too — they
    * were never committed. Stale checkpoints below the cutoff are removed
    * but NOT counted: the returned (manifests dropped, data files
    * deleted) counts commits, and checkpoints are derived cache, not
    * commits.
    *
    * READER-vs-VACUUM HAZARD (ADVICE_r13): a reader that resolved an OLDER
    * snapshot (`snapshot()` then `read()`, or a long-running scan of a
    * superseded version) holds file paths vacuum may delete mid-scan —
    * exactly the race public lake formats gate behind a TIME retention
    * window. `minAgeMs` is that guard: a manifest whose version file is
    * younger than `minAgeMs` is retained — and every file it ADDS kept —
    * even when it falls below the `keepVersions` cutoff, so any reader
    * that resolved its snapshot within the window keeps its files (the
    * files survive; re-RESOLVING an old version whose delta predecessors
    * were dropped is not the contract). The default 0 keeps vacuum purely
    * count-windowed — callers with concurrent readers should pass a
    * window comfortably above their longest read (the reference formats
    * default to hours–days).
    */
  def vacuum(spark: SparkSession, table: String,
      keepVersions: Int, minAgeMs: Long = 0L): (Int, Int) = {
    require(keepVersions >= 1, "vacuum must retain at least the latest version")
    val fs = fsOf(spark, table)
    val (versions, checkpoints) = listLog(fs, table)
    val latest = snapshotFrom(fs, table, versions, checkpoints).version
    if (latest < 0) return (0, 0)
    val cutoff = latest - keepVersions + 1
    val youngEnough: Long => Boolean =
      if (minAgeMs <= 0L) _ => false
      else {
        val floor = System.currentTimeMillis() - minAgeMs
        v => scala.util.Try(
          fs.getFileStatus(versionFile(table, v)).getModificationTime > floor
        ).getOrElse(true) // unstat-able claim: assume young, never drop
      }
    val (dropped, retained) = versions
      .partition(v => v < cutoff && !youngEnough(v))
    val droppedCks = checkpoints.filter(_ < cutoff)
    if (dropped.isEmpty && droppedCks.isEmpty) return (0, 0)
    // the retained suffix needs a replay base at the cutoff: materialize
    // the state there BEFORE any delta below it disappears
    val cutState = snapshotAt(fs, table, cutoff, versions, checkpoints).entries
    scala.util.Try(atomicClaim(fs, checkpointFile(table, cutoff),
      renderEntries(cutState).getBytes("UTF-8"))): Unit
    def addsOf(vs: Seq[Long]): Set[String] = vs.flatMap(v =>
      readDelta(fs, table, v).fold(Seq.empty[String])(_._1.map(_.path))).toSet
    def ckRefs(ks: Seq[Long]): Set[String] = ks.flatMap(k =>
      scala.util.Try(parseEntries(readBytes(fs, checkpointFile(table, k)))
        .map(_.path)).getOrElse(Nil)).toSet
    val droppedRefs = addsOf(dropped) ++ ckRefs(droppedCks)
    val retainedRefs = cutState.map(_.path).toSet ++ addsOf(retained) ++
      ckRefs(checkpoints.filterNot(droppedCks.contains))
    val dead = droppedRefs -- retainedRefs
    dead.foreach(p => fs.delete(new Path(p), false): Unit)
    dropped.foreach(v => fs.delete(versionFile(table, v), false): Unit)
    droppedCks.foreach(k => fs.delete(checkpointFile(table, k), false): Unit)
    (dropped.size, dead.size)
  }

  /** Replace-where commit: drop every live file whose partition token is
    * in `values`, add the staged files (which must carry exactly those
    * values — enforced). Two writers replacing DISJOINT values both land
    * whatever the interleaving; same-value writers serialize into
    * last-committed-wins, each applied to the snapshot it observed.
    *
    * CONCURRENT-APPEND CONFLICT (ADVICE_r13): an append into one of the
    * replaced partitions that commits BETWEEN this writer's baseline read
    * and its claim would be silently overwritten by a naive rebase (the
    * loser's re-filter drops the freshly appended files — serializable as
    * append-then-replace, but a lost write from the appender's view). The
    * rebase therefore DETECTS it — any file in the replaced partitions
    * present in the rebase snapshot but not the baseline fails the commit
    * loudly (the public ConcurrentAppendException contract), leaving the
    * appended rows live; the caller re-reads and re-issues its replacement
    * against the world that now includes the append.
    */
  def replaceWhere(df: DataFrame, table: String, partitionCol: String,
      values: Seq[String], statsCol: Option[String] = None,
      maxRetries: Int = 20): Long = {
    val spark = df.sparkSession
    val baseline = snapshot(spark, table)
    val staged = stage(df, table, Some(partitionCol), statsCol)
    val tokens = values.map(v =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString(partitionCol, v)).toSet
    val stray = staged.filterNot(e => e.partition.exists(tokens))
    require(stray.isEmpty,
      s"replaceWhere staged rows outside the declared values $values: " +
        stray.flatMap(_.partition).distinct.mkString(", "))
    val basePaths = baseline.entries
      .filter(_.partition.exists(tokens)).map(_.path).toSet
    commit(spark, table, maxRetries) { snap =>
      val appended = snap.entries
        .filter(e => e.partition.exists(tokens) && !basePaths.contains(e.path))
      if (appended.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"replaceWhere($values) on $table conflicts with a concurrent " +
            s"append: ${appended.size} file(s) landed in the replaced " +
            "partition(s) after this writer's baseline snapshot " +
            s"(v${baseline.version} -> v${snap.version}); re-read and " +
            "re-issue the replacement so the appended rows are not " +
            "silently dropped")
      Some(snap.entries.filterNot(_.partition.exists(tokens)) ++ staged)
    }
  }

  /** Partition-scoped keyed MERGE through the commit log — the one
    * partitioned keyed-merge protocol of the engine (the streaming upsert
    * sinks, the incremental maintenance gates and [[upsert]] into a
    * partitioned table all commit through it): `deletes` keys are
    * removed, `upserts` rows inserted or replaced by key, and only the
    * partitions the change set names are read and rewritten. Concurrent writers get optimistic
    * concurrency and readers snapshot isolation.
    *
    * Each attempt: read ONLY the touched partitions of the OBSERVED
    * snapshot, drop every row whose key appears in the change set, union
    * the upserts, stage, and claim the next version with a manifest =
    * untouched entries + staged. Untouched entries — and their files —
    * are carried over as they are. A LOST claim deletes its staging and
    * re-runs the whole merge against the new snapshot — true serializable
    * MERGE (the loser's result includes the winner's rows), not
    * last-writer-wins; disjoint-partition writers both land whatever the
    * interleaving, same-partition writers compose. A partition the change
    * set empties simply drops out of the manifest — no directory surgery,
    * the advantage of log-resident layout.
    *
    * Batch contracts: key-unique upserts, and each delete row NAMES the
    * partition its key currently lives in (a cell-move is delete-at-old +
    * insert-at-new; the caller knows the old row — a diff has both
    * sides), since locating deleted keys by table scan would be the full
    * read the partition scoping exists to avoid. The delete contract is
    * audited on the staged write's own job: an `observe()` metric counts
    * delete keys with no existing row in the touched read, and a miss is
    * disambiguated by one key scan of the snapshot, on the miss path
    * only. A missed key found elsewhere in the table means the delete
    * named a WRONG partition — proceeding would silently leave the old
    * row in place, so the call fails with nothing committed; a missed key
    * absent from the table entirely is a REPLAYED change batch
    * (foreachBatch delivers at-least-once) and converges as a no-op.
    * Delete rows with a NULL key are rejected before any IO: every
    * equality in the merge and the probe is null-dropping, so a NULL key
    * would otherwise read as absent and pass as a replay.
    *
    * 100 TB: per-commit IO is the touched partitions' files plus the
    * staged delta; the claim is one atomic create; contention cost is
    * re-merging the touched slice, never the table.
    */
  def applyChanges(spark: SparkSession, table: String,
      deletes: DataFrame, upserts: DataFrame, key: String,
      partitionCol: String, maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, max, sum, when}
    val fs = fsOf(spark, table)
    val del = pinned(deletes); val up = pinned(upserts)
    try {
      // ONE collect, bounded by the partition count: the touched values,
      // and per value its delete rows and NULL-key delete rows
      val touched = del.select(col(partitionCol), lit(1L).as("__d"),
          when(col(key).isNull, 1L).otherwise(0L).as("__n"))
        .unionByName(up.select(col(partitionCol), lit(0L).as("__d"),
          lit(0L).as("__n")))
        .groupBy(partitionCol).agg(sum("__d"), sum("__n")).collect()
      if (touched.isEmpty) return snapshot(spark, table).version
      require(touched.forall(_.getLong(2) == 0L),
        s"TxLog.applyChanges: delete rows with a NULL key can never match " +
          s"an existing row of $table — fix the upstream diff")
      val nDeletes = touched.map(_.getLong(1)).sum
      val tokens = touched.map(r =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(partitionCol,
            if (r.isNullAt(0)) null else r.get(0).toString)).toSet
      val changeKeys = del.select(col(key)).withColumn("__is_del", lit(1))
        .unionByName(up.select(col(key)).withColumn("__is_del", lit(0)))
        .groupBy(key).agg(max(col("__is_del")).as("__del"))
      commit(spark, table, maxRetries, restage = true) { snap =>
        val touchedEntries = snap.entries.filter(_.partition.exists(tokens))
        val obs = org.apache.spark.sql.Observation(
          s"graft_txmerge_${java.util.UUID.randomUUID()}")
        val existing = readEntries(spark, touchedEntries)
        val merged = existing.fold(up.filter(lit(true))) { ex =>
          ex.withColumn("__ex", lit(1))
            .join(changeKeys, Seq(key), "full_outer")
            .observe(obs, coalesce(sum(when(col("__del") === 1
              && col("__ex").isNull, 1L)), lit(0L)).as("missed_deletes"))
            .filter(col("__del").isNull).drop("__ex", "__del")
            .unionByName(up)
        }
        val staged = stage(merged, table, Some(partitionCol))
        // an EMPTY touched read means every delete key is a miss (the
        // audit frame never ran) — they are all replays or wrong-partition
        val missed =
          if (snap.version < 0 || nDeletes == 0L) 0L
          else existing.fold(nDeletes)(_ =>
            obs.get("missed_deletes").asInstanceOf[Long])
        if (missed > 0L) {
          def keysOf(df: Option[DataFrame]): DataFrame = df
            .fold(up.select(col(key)).limit(0))(_.select(col(key)))
          val wrongPartition = del.select(col(key)).distinct()
            .join(keysOf(existing), Seq(key), "left_anti")
            .join(keysOf(readEntries(spark, snap.entries)), Seq(key),
              "left_semi")
            .count()
          if (wrongPartition > 0L) {
            dropStaged(fs, staged)
            throw new IllegalArgumentException(
              s"TxLog.applyChanges: $wrongPartition delete key(s) live in " +
                s"partitions of $table their delete rows do not name — " +
                "each delete must carry the partition its key currently " +
                "lives in (a cell-move is delete-at-old + insert-at-new). " +
                "Nothing was committed. The remaining " +
                s"${missed - wrongPartition} missed key(s) are absent from " +
                "the table entirely (replay or never-existing) and would " +
                "have converged as a no-op.")
          }
        }
        Some(snap.entries.filterNot(_.partition.exists(tokens)) ++ staged)
      }
    } finally { del.unpersist(); up.unpersist(): Unit }
  }

  /** Cache a change frame the merge reads several times — unless it is
    * already driver-local rows (a literal batch, or a filter the optimizer
    * folded to empty, as [[upsert]]'s deletes), where a cache only adds a
    * build job.
    */
  private def pinned(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
    case _ => df.persist()
  }

  /** Keyed upsert through the commit log: rows of `batch` (key-unique)
    * replace same-key rows and insert otherwise; a table with no log yet
    * gets version 0. With `partitionCol` (the layout rule of [[append]])
    * it is [[applyChanges]] with no deletes, touching only the batch's
    * partitions. Without, each attempt merges the whole observed snapshot
    * (existing rows whose key the batch carries are dropped, the batch is
    * unioned in) into one staged write and claims a version whose manifest
    * is that write alone — a table-sized rewrite, fine for the small
    * bounded-key tables that stay unpartitioned. Nothing is deleted or
    * renamed in place, so a failed write leaves the prior version live and
    * concurrent upserts compose; an `observe()` count of the batch rides
    * the staged write, and an empty batch into an existing table drops its
    * staging and commits nothing (a no-data streaming trigger), where into
    * a missing table it commits version 0 with the batch's schema.
    */
  def upsert(spark: SparkSession, table: String, batch: DataFrame, key: String,
      partitionCol: Option[String] = None, maxRetries: Int = 20): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    partitionCol match {
      case Some(p) =>
        applyChanges(spark, table, batch.filter(lit(false)), batch, key, p, maxRetries)
      case None =>
        val fs = fsOf(spark, table)
        commit(spark, table, maxRetries, restage = true) { snap =>
          val obs = org.apache.spark.sql.Observation(
            s"graft_txupsert_${java.util.UUID.randomUUID()}")
          val counted = batch.observe(obs, count(lit(1)).as("rows"))
          // read in the batch's session: the staged write then runs there,
          // where the observation listens
          val staged = stage(readEntries(batch.sparkSession, snap.entries).fold(counted)(
            _.join(batch.select(key), Seq(key), "left_anti").unionByName(counted)),
            table, None)
          if (snap.version < 0 || obs.get("rows").asInstanceOf[Long] > 0L) Some(staged)
          else { dropStaged(fs, staged); None }
        }
    }
  }

  /** Age-gated ORPHAN reclaim — the data-directory sweep [[vacuum]]
    * deliberately does not do: a commit-dir under `data/` referenced by NO
    * manifest (committed or dropped) is either an aborted stage or a
    * concurrent writer's not-yet-committed staging — indistinguishable by
    * reference alone, so reclaim is gated on AGE: only unreferenced dirs
    * whose every file is older than `minAgeMs` are deleted (an in-flight
    * commit stages, then claims, within seconds — a day-old unreferenced
    * stage is an abort). Reference = every delta's adds plus every
    * checkpoint's entries, so a dir whose adding delta was vacuumed but
    * whose files live on in a checkpoint stays referenced. Returns the
    * number of commit dirs reclaimed.
    */
  def reclaimOrphans(spark: SparkSession, table: String,
      minAgeMs: Long): Int = {
    require(minAgeMs > 0L,
      "reclaimOrphans needs a positive age window — an ageless sweep would " +
        "race a concurrent writer's staged-but-unclaimed commit into data loss")
    val fs = fsOf(spark, table)
    val dataDir = new Path(table, "data")
    if (!fs.exists(dataDir)) return 0
    val (versions, checkpoints) = listLog(fs, table)
    val referenced = (versions.flatMap(v =>
        readDelta(fs, table, v).fold(Seq.empty[String])(_._1.map(_.path))) ++
      checkpoints.flatMap(k =>
        scala.util.Try(parseEntries(readBytes(fs, checkpointFile(table, k)))
          .map(_.path)).getOrElse(Nil)))
      .map(p => commitDirOf(new Path(p)).toString).toSet
    val floor = System.currentTimeMillis() - minAgeMs
    def newestMTime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).toSeq.map(s => newestMTime(s.getPath))).max
    }
    val orphans = fs.listStatus(dataDir).toSeq.filter(_.isDirectory)
      .map(_.getPath)
      .filterNot(d => referenced.contains(d.toString))
      .filter(d => scala.util.Try(newestMTime(d) < floor).getOrElse(false))
    orphans.foreach(d => fs.delete(d, true): Unit)
    orphans.size
  }

  /** The commit dir (data/<uuid>) an entry's file lives under — entries are
    * either data/<uuid>/file or data/<uuid>/<p>=<v>/file.
    */
  private def commitDirOf(file: Path): Path = {
    var p = file.getParent
    while (p.getParent != null && p.getParent.getName != "data") p = p.getParent
    p
  }
}
