package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated exact query names (builder-side
    // single-query gating; the driver always passes two args = run all)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [name,name,...]")
    }
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // the dump IS the final consumer of each query's plan — release
      // every checkpoint block the query minted (q94/q96/q99/q100 return
      // joins OVER their checkpoints, unreachable from near-root
      // release) so 99 queries in one session don't accumulate them.
      // Release must run on the FAILURE path too: a query that throws
      // after minting checkpoints (or whose write fails) would otherwise
      // pin its blocks for the rest of the session. A write-time failure
      // (the common case — fn mostly builds a lazy plan) still has the
      // returned frame, so releaseTree covers its checkpoint leaves; a
      // failure inside fn itself leaves no frame, so it falls back to a
      // blanket unpersist (safe here — nothing is cached across queries;
      // Bench does the same between timings). Cleanup exceptions (e.g. a
      // dead context after an executor OOM) must stay confined to this
      // query — the remaining queries and the oracle_sql.json dump are
      // worth more than this cleanup.
      var df: org.apache.spark.sql.DataFrame = null
      try {
        df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        try {
          if (df != null) CacheHygiene.releaseTree(df)
          else spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name cleanup failed: ${e.getMessage}")
        }
      }
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
