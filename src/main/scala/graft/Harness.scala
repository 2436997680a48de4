package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one SparkSession set-up of every `main`: the library's four
  * (Bench, Verify, Smoke, Cli) and the measurement mains of the
  * `harness/` subproject. */
object Harness {
  /** Cores of the local master: SPARK_GRAFT_CPUS, else `default`. */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A session on `master` (default `local[cores]`) with `cores` shuffle
    * partitions, nanosecond parquet timestamps read as longs, UTC
    * session time and no UI, plus the `extra` builder confs.
    *
    * SPARK_GRAFT_CONF="k=v;k=v" is then set on the session, each pair
    * echoed as `[tag] conf k=v` on stdout; a segment without `=` is
    * warned about on stderr and skipped. One `[tag] env` line on stderr
    * names the cores, the max heap and the collectors, so a capture
    * records the JVM it ran on. */
  def session(tag: String, cores: String = cpus("4"),
              master: Option[String] = None,
              extra: Map[String, String] = Map.empty,
              logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').map(_.trim)
      .filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) =>
            spark.conf.set(k, v)
            println(s"[$tag] conf $k=$v")
          case _ =>
            System.err.println(s"[$tag] ignoring malformed SPARK_GRAFT_CONF segment '$kv' (want k=v)")
        }
      })
    val gc = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(",")
    System.err.println(s"[$tag] env cores=$cores " +
      s"heapMaxMb=${Runtime.getRuntime.maxMemory >> 20} gc=$gc")
    spark
  }
}
