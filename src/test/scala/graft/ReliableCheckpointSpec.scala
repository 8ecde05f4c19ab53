package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{ConnectedComponents, SemanticDedupGate, VectorOps}

/** The r19 cluster-posture seam: `spark.graft.reliableCheckpoints=true`
  * routes every CacheHygiene.materialize site (ConnectedComponents
  * rounds, the widthCappedPairs bucket frame, the BronzePipeline/gate
  * batch materializations) through a RELIABLE `checkpoint()` instead of
  * `localCheckpoint` — identical results, different executor-loss
  * blast radius. shuffleRank's refusal without a dir has its own spec
  * in TextOpsSpec; this covers the other families.
  */
class ReliableCheckpointSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("connected components + width-capped pairs: loud without a dir, identical output in both modes") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 5L), (9L, 9L), (11L, 5L))
      .toDF("src", "dst")
    // no checkpoint dir configured -> loud refusal, not a deep Spark
    // error (skipped when an earlier suite already set the session dir)
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = withFlag(on = true) {
        intercept[IllegalArgumentException](ConnectedComponents.run(edges))
      }
      assert(e.getMessage.contains("checkpoint dir"), e.getMessage)
    }
    val localLabels = rows(ConnectedComponents.run(edges))
    val localPairs = rows(VectorOps.q36MinhashLshOn(docs))
    val localLex = rows(graft.operators.TextOps
      .impactSearch(docs, instrument = false))
    val localRank = rows(graft.operators.TextOps
      .shuffleRank(docs.select($"doc_id"), $"doc_id", "spec:"))
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val localPq = rows(VectorOps.pqTopk(emb))

    val dir = java.nio.file.Files.createTempDirectory("graft_relckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    withFlag(on = true) {
      assert(rows(ConnectedComponents.run(edges)) == localLabels,
        "reliable closure must label identically to the local mode")
      assert(rows(VectorOps.q36MinhashLshOn(docs)) == localPairs,
        "reliable pair kernel must list identically to the local mode")
      assert(rows(graft.operators.TextOps
          .impactSearch(docs, instrument = false)) == localLex,
        "reliable lexical term frame must serve identically to the local mode")
      assert(rows(graft.operators.TextOps
          .shuffleRank(docs.select($"doc_id"), $"doc_id", "spec:")) == localRank,
        "shuffleRank must honor the session flag with identical ranks")
      assert(rows(VectorOps.pqTopk(emb)) == localPq,
        "the PQ family's shared score frame must rank identically under the flag")
      // the frames really did route through the reliable path: the
      // checkpoint dir is no longer empty
      val ckpts = new java.io.File(dir).listFiles()
      assert(ckpts != null && ckpts.nonEmpty,
        "reliable mode must write under the checkpoint dir")
    }
  }

  test("gate family under the flag: semantic gate ingests identically") {
    import spark.implicits._
    def vec(seed: Int) =
      (0 until 8).map(i => (math.sin(seed * 31 + i) * 100).toFloat)
    val ref = (0L to 3L).map(i => (i, vec(i.toInt), 0))
      .toDF("vec_id", "embedding", "label")
    val batch = Seq((10L, vec(0), 0), (11L, vec(99), 0))
      .toDF("vec_id", "embedding", "label")
    def runOnce(): Set[Seq[Any]] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_relgate").toString
      SemanticDedupGate.writeCentroids(ref, s"$dir/centroids", k = 2, iters = 1)
      SemanticDedupGate.ingest(ref, s"$dir/centroids", s"$dir/store", 0.999)
      rows(SemanticDedupGate.ingest(batch, s"$dir/centroids", s"$dir/store", 0.999)
        .select("vec_id"))
    }
    val local = runOnce()
    // self-contained: set a dir rather than depending on the parity
    // test's setCheckpointDir having run first in this suite order
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_relgate_ckpt").toString)
    val reliable = withFlag(on = true) { runOnce() }
    assert(local == reliable,
      s"gate admit set must not depend on the materialization mode: $local vs $reliable")
  }
}
