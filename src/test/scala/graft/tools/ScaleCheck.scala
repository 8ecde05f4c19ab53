package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic 10× scale probe: time named SparkEntry queries at sf0.1 and
  * the scratch sf1.0 derivative (min of 3 passes each — the BASELINE.md
  * probe-table protocol). Each pass materializes the full output through
  * the `noop` sink: `.count()` lets Catalyst prune every column a count
  * does not need (q146's plan becomes a bare scan), so count-mode
  * figures are never compared with these. Usage:
  * Test/runMain graft.tools.ScaleCheck q132_bpe_fertility ...
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleCheck <queryName> [queryName ...]")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("scale-check")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dirs = sys.env.get("SPARK_GRAFT_SCALE_DIRS")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("/root/testdata/sf0.1", "/root/repo/scratch/sf1.0"))
    for (dir <- dirs;
        name <- args) {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        (System.nanoTime - t0) / 1e9
      }
      println(f"SCALE $name $dir wall=${walls.min}%.2f (full output)")
    }
    spark.stop()
  }
}
