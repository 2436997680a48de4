package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: dump only the named queries (local subset
    // re-verification; the driver passes none and gets the full suite)
    val only = args.drop(2).toSet
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-process portability smoke runs the same contract on
    // local-cluster[n,c,mem] (real executor JVMs: real closure
    // serialization, conf shipping, and disk-shuffle paths). That mode
    // needs the library on the EXECUTOR classpath: pass the packaged
    // jar via SPARK_GRAFT_JARS (sbt package).
    // SPARK_GRAFT_CONF (applied by Harness.session) lets the forced-gate
    // oracle run produce all DuckDB hashes with the salted/two-phase
    // branches a 100x deployment would execute, e.g.
    //   SPARK_GRAFT_CONF="spark.graft.sizing.force=salted"
    val spark = Harness.session("verify",
      master = sys.env.get("SPARK_GRAFT_MASTER"),
      extra = sys.env.get("SPARK_GRAFT_JARS").map("spark.jars" -> _).toMap)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
