package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.sources.Tables

/** Ad-hoc probe: IVF recall@5 vs exact for various configs. */
object IvfProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("ivf-probe")

    // args: [dir ...] — defaults to the two small SFs; nProbe sweep is
    // fixed (r17: recall vs probe count is the scale-rule evidence)
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    for (sf <- dirs) {
      val exact = VectorOps.q38EmbedTopk(spark, sf).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
      val all = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("label"), col("embedding").as("vec"))
        .withColumn("norm", sqrt(VectorOps.dot(col("vec"), col("vec"))))
      // build the index ONCE and sweep the search (r17 review: the
      // probe count is a pure search-time parameter; rebuilding per
      // probe value paid 6 redundant deterministic builds per dir)
      val queries = all.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"),
          col("norm").as("q_norm"))
      val corpus = all.filter(col("vec_id") >= 10)
      val n = corpus.count()
      val c = VectorOps.ivfNumCentroids(n)
      println(s"$sf corpus=$n centroids=$c")
      val (centroids, assignments) = VectorOps.ivfIndex(corpus)
      for (probes <- Seq(4, 8, 12, 16, 24, 32, 0)) {
        val ivf = VectorOps
          .ivfSearch(queries, corpus, centroids, assignments, probes)
          .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
        val recall = (exact & ivf).size.toDouble / exact.size
        println(s"$sf nProbe=$probes recall=$recall")
      }
      graft.CacheHygiene.release(centroids, assignments)
    }
    spark.stop()
  }
}
