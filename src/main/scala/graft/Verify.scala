package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). Any further args restrict
    // the dump to the named queries — local iteration on a new gate
    // without re-running the whole registry.
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    new java.io.File(outDir).mkdirs()
    var dumped = 0
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          dumped += 1
        } catch { case e: Throwable =>
          failed ::= name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // In filtered mode the oracle map restricts to the same set as the dumps
    // (ADVICE_r11): otherwise a compare run against a filtered dump dir
    // reports every unselected query as a missing dump instead of comparing
    // only the named queries.
    OracleJson.write(outDir,
      SparkEntry.oracleSql.filter { case (name, _) => only.isEmpty || only(name) })
    // Loud-fail summary (VERDICT_r13 #5 — CORRECTNESS_r13.json arrived
    // EMPTY and masked the round's hard signal until the judge re-ran the
    // gate): a machine-readable per-run summary lands next to the dumps,
    // the human-readable line goes to stderr, and a dump that produced
    // ZERO query directories exits non-zero — an empty correctness
    // artifact must never read as "nothing to compare".
    Files.writeString(Paths.get(s"$outDir/_dump_summary.json"),
      s"""{"registry":${SparkEntry.queries.size},"selected":${
        if (only.isEmpty) SparkEntry.queries.size else only.size
      },"dumped":$dumped,"failed":${failed.size},"failed_names":[${
        failed.sorted.map(n => "\"" + n + "\"").mkString(",")}]}"""): Unit
    System.err.println(
      s"[verify] dumped $dumped queries, ${failed.size} failed" +
        (if (failed.nonEmpty) s": ${failed.sorted.mkString(", ")}" else ""))
    spark.stop()
    if (dumped == 0) {
      System.err.println(
        "[verify] FATAL: zero queries dumped — the correctness gate has " +
          "nothing to compare; failing loudly instead of emitting an " +
          "empty artifact")
      sys.exit(1)
    }
  }
}

/** Writes `oracle_sql.json` in the driver's expected shape. */
object OracleJson {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(outDir: String, entries: Map[String, String]): Unit = {
    val json = entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }
}
