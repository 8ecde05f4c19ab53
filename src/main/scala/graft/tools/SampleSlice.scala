package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Materialize a deterministic hash-sampled slice of a testdata dir —
  * the sampled-oracle mode for the sf1.0 extended gate's tier-2
  * dropouts (r17/r18 carried item): q130/q131's exact PQ-instrument
  * oracle recomputations exceed DuckDB's single-node spill/heap
  * envelope at 100×, and q140's string-gram oracle OOMs outright — all
  * oracle-side resource limits, not engine divergences. Running BOTH
  * engines over the same materialized slice keeps the hash gate exact
  * (they read the same parquet bytes, so there is no cross-engine hash
  * portability question at all) while shrinking the oracle's
  * recomputation back inside its envelope.
  *
  * The keep rule per sampled table: `id < 10 OR xxhash64(id) % mod == 0`
  * — ids below 10 always survive because the vector/lexical tiers use
  * `id < 10` as the query-doc convention (dropping the query rows would
  * degenerate the sliced queries, not just shrink them). The slice is
  * fully determined by (source data, mod): re-running reproduces it
  * bit-for-bit, so a recorded PASS is re-derivable.
  *
  * Non-sampled tables are symlinked from the source dir, so the slice
  * costs only the sampled tables' bytes.
  *
  * Usage:
  *   runMain graft.tools.SampleSlice <srcDir> <dstDir> <mod> [t:id,...]
  *     (default sampled tables: documents:doc_id, embeddings:vec_id)
  * then the normal gate over the slice:
  *   runMain graft.Verify <dstDir> <outDir> q130_pq_topk,q131_ivfpq,q140_keepfirst_scrub
  *   python3 tools/compare.py <dstDir> <outDir>
  */
object SampleSlice {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: SampleSlice <srcDir> <dstDir> <mod> [table:idcol,...]")
    val Array(srcDir, dstDir, modS) = args.take(3)
    val mod = modS.toInt
    require(mod >= 2, s"mod must be >= 2 (got $mod) — mod 1 is a copy")
    val sampled: Seq[(String, String)] =
      if (args.length > 3) args(3).split(",").toSeq.map { t =>
        val Array(n, c) = t.split(":"); (n, c)
      }
      else Seq("documents" -> "doc_id", "embeddings" -> "vec_id")
    val spark = graft.GraftSession.local("sample-slice")
    Files.createDirectories(Paths.get(dstDir))
    // a slice is a single consistent GENERATION: remove every
    // pre-existing entry first — re-running into a dstDir with a
    // different sampled-table list would otherwise mix generations (the
    // symlink-if-absent below skipped entries that were previously
    // sliced dirs and vice versa). Symlinks delete as links (never
    // following into the source data); only real dirs recurse.
    Option(new java.io.File(dstDir).listFiles()).foreach(_.foreach { e =>
      def rm(p: java.io.File): Unit = {
        if (!Files.isSymbolicLink(p.toPath))
          Option(p.listFiles()).foreach(_.foreach(rm))
        Files.delete(p.toPath); ()
      }
      rm(e)
    })
    val sampledNames = sampled.map(_._1 + ".parquet").toSet
    for ((table, idCol) <- sampled) {
      val src = s"$srcDir/$table.parquet"
      val out = spark.read.parquet(src)
        .filter(col(idCol) < 10 ||
          pmod(xxhash64(col(idCol)), lit(mod.toLong)) === 0)
      // one file: slices are small by construction, and a 32-shard
      // directory of ~40-row files degrades the DuckDB oracle's plan
      // (the m16 embeddings slice OOMed a query that finishes in 36 s
      // on the same row count in one file)
      out.coalesce(1).write.mode("overwrite").parquet(s"$dstDir/$table.parquet")
      println(s"SLICED $table mod=$mod rows=" +
        spark.read.parquet(s"$dstDir/$table.parquet").count())
    }
    // everything else rides along by reference
    val srcFiles = new java.io.File(srcDir).listFiles()
    if (srcFiles != null) srcFiles.filter(f => !sampledNames(f.getName))
      .foreach { f =>
        val link = Paths.get(dstDir, f.getName)
        // absolute target: a relative srcDir would otherwise mint links
        // the filesystem resolves against DST — silently broken
        if (!Files.exists(link))
          Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
      }
    spark.stop()
  }
}
