package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AvailableNow streaming-floor decomposition (measurement tooling,
  * VERDICT r17 item #8): ~25 s of the 250 s suite was the 2-3 s
  * per-query Structured Streaming floor across 10 serve queries, with
  * no decomposition on record. This main runs the suite's two
  * streaming shapes — a minimal passthrough (the machinery floor:
  * source listing + micro-batch planning + foreachBatch sink + offset/
  * commit log writes) and the q134 semantic-serve shape (embed + cell
  * + stream-static anti join) — `reps` times in ONE JVM, printing each
  * run's wall plus the StreamingQueryProgress durationMs breakdown
  * (triggerExecution / queryPlanning / getBatch / addBatch /
  * walCommit / commitOffsets / latestOffset). Rep 1 minus steady-state
  * isolates the codegen/JIT share the bench pays; the steady rows say
  * which machinery term owns the rest. Read-only over the parquet
  * inputs; writes only under /tmp.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "harness/runMain graft.StreamProf [reps]"
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session("streamprof", Harness.cpus("32"))

    def runOnce(what: String, rep: Int)(mk: SparkSession => DataFrame): Unit = {
      // the bench's withStreamParts shape: a cloned session at width 4
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val out = s"/tmp/streamprof_${what}_$rep"
      val t0 = System.nanoTime()
      val q = mk(ss).writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/b$bid")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val agg = scala.collection.mutable.Map.empty[String, Long]
      progress.foreach { p =>
        p.durationMs.forEach((k, v) => agg(k) = agg.getOrElse(k, 0L) + v)
      }
      val detail = agg.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      println(f"[streamprof] $what rep$rep wall=$wall%.2fs " +
        s"batches=${progress.length} $detail")
    }

    for (rep <- 1 to reps) {
      // floor shape: schema-declared parquet source, trivial projection
      val schema = spark.read.parquet(s"$sfDir/embeddings.parquet").schema
      runOnce("passthrough", rep) { ss =>
        ss.readStream.schema(schema).parquet(s"$sfDir/embeddings.parq*")
          .where(col("vec_id") % 4 === 0)
          .select(col("vec_id"))
      }
      // the q134 serve shape: embed-side prep + stream-static anti join
      // against a prepared (localCheckpoint'ed per run) reference
      val cm = graft.ml.Similarity.ivfCentroids(32, 64)
      val refs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .where(col("vec_id") % 4 =!= 0)
        .select(col("vec_id"), col("embedding"))
      runOnce("semserve", rep) { ss =>
        val src = ss.readStream.schema(schema)
          .parquet(s"$sfDir/embeddings.parq*")
          .where(col("vec_id") % 4 === 0)
        graft.ml.SemDedup.semanticFilterStream(src,
          ss.read.parquet(s"$sfDir/embeddings.parquet")
            .where(col("vec_id") % 4 =!= 0)
            .select(col("vec_id"), col("embedding")),
          cm, 30)
      }
      refs.unpersist()
    }
    spark.stop()
  }
}
