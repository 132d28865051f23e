package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Names in `expected` with no committed parquet dump under `outDir`
    * (dir present AND `_SUCCESS` present — a partial write is missing).
    * Factored from main for the spec; extra stale dirs from earlier
    * local runs are deliberately NOT flagged.
    */
  private[graft] def missingDumps(outDir: String, expected: Set[String]): Set[String] =
    expected.filterNot(name =>
      new java.io.File(s"$outDir/$name/_SUCCESS").isFile)

  def main(args: Array[String]): Unit = {
    // Optional trailing args name specific queries (local iteration);
    // the driver always passes exactly (sfDir, outDir) → run everything.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val attempted = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
    attempted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Dump-count gate (VERDICT r18 item 3): every declared query that did
    // not loudly fail must have actually landed a dump directory — the
    // runtime complement of SparkEntrySpec's source-text duplicate-key
    // guard (the r18 q_rbo shadowing consistently re-pointed BOTH map
    // sides, so every downstream validation stayed green while a declared
    // operator silently stopped being exercised; a missing dump dir is
    // the one observable that can't be shadowed consistently).
    val missing = missingDumps(outDir, attempted.keySet -- failed)
    if (missing.nonEmpty) {
      System.err.println(s"[verify] FATAL: ${missing.size} declared quer" +
        s"${if (missing.size == 1) "y" else "ies"} produced no dump directory: " +
        missing.toSeq.sorted.mkString(", "))
      spark.stop()
      sys.exit(2)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
