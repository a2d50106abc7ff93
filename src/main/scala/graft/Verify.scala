package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "graft-verify")
    dump(spark, sfDir, outDir, SparkEntry.queries.keys.toSeq)
    spark.stop()
  }

  /** Write each named query's result under `outDir/<name>` and the
    * matching subset of oracle SQL as `outDir/oracle_sql.json` — shared
    * by the full driver gate above and the dev-loop
    * [[graft.tools.RunQuery]] so the dump format and JSON escaping can
    * never drift between them.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    def delete(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete()
    }
    names.foreach { name =>
      // a query that throws while its DataFrame is built (library ops run
      // jobs then) never starts the write: drop the last run's dump first
      // so the oracle check sees it missing instead of passing it
      delete(new java.io.File(s"$outDir/$name"))
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      CacheScope.release() // scope library-op caches to the query
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
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
