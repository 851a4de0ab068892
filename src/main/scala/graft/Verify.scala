package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the conf Bench times under: the hashes checked are the ones timed
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce inserts no shuffle,
      // so on a narrow plan it collapses the WHOLE scan+transform into
      // one task (and single-threads a global-sort tail) — repartition
      // keeps the computation parallel and single-files only the write
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Drop any frames a query persisted for intra-query reuse (e.g.
      // the CurationQueries token-count projections) so cached blocks
      // never accumulate across the sweep.
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonOut.q(k)}: ${JsonOut.q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
