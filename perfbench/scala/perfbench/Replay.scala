package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.Tables

/** The two replay workloads: one generated `events` table drained through
  * a fixed list of the program's own oracle-checked queries, each call
  * forced with a noop write and timed from the call to the forced result.
  *
  * Set-up (repeated `--setups` times, each on a fresh session): session
  * build, the chunked replay build (streaming gates only) and one untimed
  * warm-up pass. Each repetition reads the table through its own alias
  * directory, so the program's per-directory chunk cache cannot turn a
  * later repetition's chunk build into a cache hit. */
object Replay {
  val StreamingGates = Seq("q_streaming_wearable", "q_streaming_slidingtime_bykey",
    "q_streaming_taxi_q1", "q_streaming_taxi_q2", "q_streaming_slidingtime")
  val BatchTwins = Seq("q_wearable", "q_sliding_time", "q_taxi_q1", "q_taxi_q2",
    "q_graph_lowered")

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Harness hygiene between calls, as `graft.Bench` does it: no cached
    * relation or checkpointed RDD of one call rides into the next. */
  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** `<work>/in/s<k>/events.parquet` → the generated table (a symlink). */
  private def aliasDir(work: String, k: Int): String = {
    val d = Paths.get(work, "in", s"s$k")
    Files.createDirectories(d)
    val link = d.resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(work, "events.parquet").toAbsolutePath)
    d.toString
  }

  def run(a: Main.Args, spans: Spans, names: Seq[String]): Map[String, Any] = {
    val streaming = names.head.startsWith("q_streaming")
    val all = SparkEntry.queries
    val fns = names.map(n => n -> all(n))
    var spark: SparkSession = null
    var dir = ""
    val setups = ArrayBuffer.empty[Double]
    for (k <- 1 to a.setups) {
      if (spark != null) spark.stop()
      spans.run = s"setup$k"
      dir = aliasDir(a.work, k)
      val t0 = System.nanoTime()
      spans("setup") {
        spark = spans("setup.session")(Main.session(a.cpus))
        if (streaming)
          spans("sources.chunk_build")(Tables.streamEventsChunked(spark, dir))
        spans("setup.warmup") {
          fns.foreach { case (n, f) =>
            try spans(s"queries.$n")(force(f(spark, dir)))
            catch { case e: Exception => System.err.println(s"[perfbench] $n failed: $e") }
          }
        }
      }
      setups += (System.nanoTime() - t0) / 1e9
      sweep(spark)
    }

    // oracle SQL for the Python-side DuckDB check
    Files.writeString(Paths.get(a.work, "oracles.json"),
      Json.write(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    // fixed-length warm-up, outside set-up and measurement: pass times keep
    // falling over the first passes as the JIT compiles the per-query paths
    val warmDeadline = System.nanoTime() + (a.warmupS * 1e9).toLong
    var warmPasses = 0
    spans.run = "warmup"
    while (System.nanoTime() < warmDeadline) {
      warmPasses += 1
      for ((n, f) <- fns) {
        // a failing query is counted by the measured calls below
        try spans(s"warmup.$n")(force(f(spark, dir)))
        catch { case _: Exception => () }
        sweep(spark)
      }
    }

    val rec = if (a.trace) Some(new Recorder(spark)) else None
    rec.foreach(_.cut())
    val calls = ArrayBuffer.empty[Map[String, Any]]
    val jvm = new JvmWindow
    val measureStart = spans.nowMs()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var pass = 0
    val outDir = Paths.get(a.work, "out")
    while (pass == 0 || System.nanoTime() < deadline) {
      pass += 1
      spans.run = s"pass$pass"
      for ((n, f) <- fns) {
        val s0 = spans.nowMs()
        val t0 = System.nanoTime()
        val result = try Right(spans(s"queries.$n")(f(spark, dir).tap(force)))
          catch { case e: Exception => Left(e.toString) }
        val wall = (System.nanoTime() - t0) / 1e9
        val s1 = spans.nowMs()
        val bucket = rec.map(_.cut()).getOrElse(Map.empty)
        // the output check reads the first pass's result outside the timed call
        if (pass == 1)
          result.foreach(_.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(n).toString))
        sweep(spark)
        rec.foreach(_.cut()) // the check's own events belong to no call
        calls += Map("query" -> n, "pass" -> pass, "start_ms" -> s0, "end_ms" -> s1,
          "wall_s" -> wall) ++ result.left.toOption.map("error" -> _) ++ bucket
      }
    }
    val measureEnd = spans.nowMs()
    Map(
      "setup_s" -> setups.toSeq,
      "measure_start_ms" -> measureStart,
      "measure_end_ms" -> measureEnd,
      "passes" -> pass,
      "warmup_passes" -> warmPasses,
      "calls" -> calls.toSeq,
      "jvm" -> jvm.close(),
      "spark_conf" -> Env.sparkConf(spark))
  }
}
