package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = subset of query names (dev-loop targeting);
    // the driver always passes exactly two args → full run
    val only: Set[String] = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // workload-sized generated-class cache (see Bench.main's sizing
      // note): the full dump runs the same ~2,300-distinct-class suite in
      // one session, so the 100-entry default thrashes here identically
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
      // reclaim lingering broadcast blocks between queries (see Bench)
      spark.catalog.clearCache()
      System.gc()
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
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // closing line: every failed query by name (the exit code stays 0;
    // the dump is what the oracle judges)
    val names = failed.result()
    System.err.println(
      if (names.isEmpty) "[verify] 0 failed"
      else s"[verify] ${names.size} failed: ${names.mkString(", ")}")
  }
}
