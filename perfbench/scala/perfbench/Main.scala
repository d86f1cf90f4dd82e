package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. Runs one workload on inputs the Python
  * driver generated into `--work`, times the program's public functions
  * from outside, and writes every raw measurement to `<work>/raw.json`;
  * the driver turns those into metrics and checks the outputs.
  *
  * Usage: Main --workload W --work DIR --seconds S --trace 0|1 --cpus N
  *             --setups K [--warmup S] [--rate R --drain S]
  */
object Main {
  final case class Args(
      workload: String,
      work: String,
      seconds: Double,
      trace: Boolean,
      cpus: Int,
      setups: Int,
      rate: Int,
      warmupS: Double,
      drainS: Double)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("work"), need("seconds").toDouble, need("trace") == "1",
      need("cpus").toInt, need("setups").toInt, kv.getOrElse("rate", "0").toInt,
      kv.getOrElse("warmup", "0").toDouble, kv.getOrElse("drain", "20").toDouble)
  }

  /** The session `graft.Bench` builds (same conf), plus enough retained
    * streaming progress to read a whole live run back without a listener. */
  def session(cpus: Int): SparkSession = {
    val s = graft.streaming.StateStores.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.catalyst.GraftExtensions")
      .config("spark.local.dir", graft.core.TempDirs.sparkLocalDir())
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.ui.retainedDeadExecutors", "1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spans = new Spans
    val probe = Env.cpuProbeMs()
    val result: Map[String, Any] = a.workload match {
      case "live_wearable"    => Live.run(a, spans)
      case "replay_streaming" => Replay.run(a, spans, Replay.StreamingGates)
      case "replay_batch"     => Replay.run(a, spans, Replay.BatchTwins)
      case other              => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val raw = result ++ Map(
      "workload" -> a.workload,
      "cpus" -> a.cpus,
      "trace" -> a.trace,
      "cpu_probe_ms" -> probe,
      "rss_peak_mb" -> Env.rssPeakMb(),
      "spans" -> spans.toJson)
    Files.writeString(Paths.get(a.work, "raw.json"), Json.write(raw))
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}
