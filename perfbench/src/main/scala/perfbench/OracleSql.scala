package perfbench

import java.io.PrintWriter

/** Writes the DuckDB oracle SQL of the named `SparkEntry` queries as one
  * JSON object, for the curation reference:
  *   OracleSql <out.json> <query>... */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val w = new PrintWriter(args(0), "UTF-8")
    try w.println(Json.obj(args.drop(1).toSeq.map(q => q -> Json.str(sql(q)))))
    finally w.close()
  }
}
