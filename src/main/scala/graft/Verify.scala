package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val keys = Harness.keys()
    new java.io.File(outDir).mkdirs()
    Harness.withSession(keys) { spark =>
      val q = SparkEntry.queries
      Harness.run(keys)(k =>
        q(k)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$k"))
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Harness.json(SparkEntry.oracleSql))
  }
}
