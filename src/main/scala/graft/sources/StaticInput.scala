package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The rows of a small parquet artifact that a streaming gate reads on
  * every micro-batch — `DriftMonitor`'s reference histogram,
  * `MixtureGate`'s keep-rates — collected once per VERSION of its files
  * and reused by later batches, so a warm batch pays no Spark job for
  * them. The version is the listing of the path's data files (name,
  * length, modification time), taken on the driver with no Spark job;
  * any rewrite — `writeReference`/`writeRates` overwrite with fresh file
  * names — reads the rows again. Entries are keyed by the qualified path
  * and the read schema; each holds a few hundred rows at most.
  */
object StaticInput {
  private type Version = Seq[(String, Long, Long)]
  private val cache = new ConcurrentHashMap[(String, StructType), (Version, Array[Row])]()

  /** `path`'s rows under `schema`: a missing path fails as
    * `spark.read` does. */
  def rows(spark: SparkSession, path: String, schema: StructType): Array[Row] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read() = spark.read.schema(schema).parquet(path).collect()
    if (!fs.exists(p)) read()
    else {
      val version = fs.listStatus(p).toSeq
        .filter(s => !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
      val key = (fs.makeQualified(p).toString, schema)
      val cur = cache.get(key)
      if (cur != null && cur._1 == version) cur._2
      else {
        val rows = read()
        cache.put(key, (version, rows))
        rows
      }
    }
  }
}
