package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    // optional extra args: run only the named queries (local smoke runs;
    // the driver always calls with exactly two args → full catalog)
    def selected(name: String) = only.isEmpty || only(name)
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries persist intermediate frames (MinHash shingles/signatures,
      // IVF centroids) as optimizer barriers; each invocation builds fresh
      // frames, so drop the previous query's blocks here instead of
      // letting them accumulate across the whole catalog.
      InternalCaches.releaseAll()
      spark.catalog.clearCache()
    }
    // The dumped BPE oracles must embed the merge table of the dataset
    // THIS run verified, not whichever dataset a BPE query last trained
    // against in this JVM (identical in the driver's one-dir invocation;
    // diverges in mixed local smoke runs — round-13 advisory).
    graft.text.Bpe.pinOracleDataset(sfDir)
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
