package graft.tools

import graft.operators.VectorOps
import graft.sources.Tables

/** Calibration probe: PQ/ADC recall@5 vs exact for various (m, k) grids.
  * Usage: Test/runMain graft.tools.PqProbe [dir] — the grid's embeddings
  * dir, default sf0.001. Time q129/q130/q131 with `graft.tools.Probe time`.
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("pq-probe")
    val df = Tables.embeddings(spark, args.headOption.getOrElse("/root/testdata/sf0.001"))
    for ((m, k, it) <- Seq((8, 64, 2), (16, 16, 6), (16, 64, 2))) {
      val t0 = System.nanoTime
      val rows = VectorOps.pqTopk(df, m = m, k = k, iters = it).collect()
      val hits = rows.count(r => !r.isNullAt(r.fieldIndex("exact_rk")))
      println(f"PQSCAN m=$m k=$k iters=$it recall@5=${hits / 50.0}%.2f " +
        f"wall=${(System.nanoTime - t0) / 1e9}%.1fs")
    }
    for ((np, m, k) <- Seq((2, 16, 64), (4, 16, 64), (8, 16, 64))) {
      val t0 = System.nanoTime
      val rows = VectorOps.ivfpqTopk(df, nProbe = np, m = m, k = k).collect()
      val hits = rows.count(r => !r.isNullAt(r.fieldIndex("exact_rk")))
      println(f"IVFPQ nProbe=$np m=$m k=$k recall@5=${hits / 50.0}%.2f " +
        f"wall=${(System.nanoTime - t0) / 1e9}%.1fs")
    }
    // persisted-index lifecycle at 10×: build once, serve thrice (min
    // wall), count the list partitions the probe read actually touches
    for (dir <- Seq("/root/testdata/sf0.1", "/root/repo/scratch/sf1.0")) {
      val idx = java.nio.file.Files.createTempDirectory("pqprobe_idx").toString
      val corpus = Tables.embeddings(spark, dir)
      val t0 = System.nanoTime
      VectorOps.ivfpqBuild(corpus.filter(
        org.apache.spark.sql.functions.col("vec_id") >= 10), idx,
        kc = 8, m = 16, k = 64)
      val tb = (System.nanoTime - t0) / 1e9
      val qs = corpus.filter(
        org.apache.spark.sql.functions.col("vec_id") < 10)
      val walls = (1 to 3).map { _ =>
        val t1 = System.nanoTime
        val n = VectorOps.ivfpqSearch(spark, idx, qs).count()
        ((System.nanoTime - t1) / 1e9, n)
      }
      println(f"IVFPQIDX $dir build=$tb%.2f search=${walls.map(_._1).min}%.2f " +
        f"rows=${walls.head._2}")
    }
    spark.stop()
  }
}
