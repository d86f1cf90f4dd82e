package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Event, WindowMakers}
import graft.examples.Wearable.{Sample, Threshold}
import graft.plans._

/** The live workload: the reference wearable program as an 8-vertex
  * StreamGraph, planned by `Planner.bestPlan`, lowered by
  * `StreamingLowering.lower` onto an in-memory live source, and fed
  * open-loop at a fixed offered rate by one generator thread.
  *
  * Every event is stamped with its scheduled due time (epoch µs), so the
  * event-time content is the seeded stream shifted to the run's clock.
  * The driver attributes each event to the micro-batch that committed it
  * through the source offsets recorded here. */
object Live {
  type Row = (Long, Int, Int, Int, Int)

  /** Criterion-measured per-event service times of the reference's
    * wearable operators (BASELINE.md), as rates μ = 1/t. `Map length`
    * has no figure of its own and reuses the source's; the sink is
    * unmodelled (μ = 0 means utilisation 0 in `Jackson`). */
  val ServiceS: Map[String, Double] = Map(
    "source" -> 1.5e-7, "vibe" -> 7.73e-7, "squares" -> 9.19e-7, "intSqrt" -> 3.4e-6,
    "fallingEdge" -> 1.6e-6, "window" -> 1.24e-6, "length" -> 1.5e-7)
  private def mu(k: String) = 1.0 / ServiceS(k)

  /** Source → Filter vibe → Map squares → Map intSqrt → FilterAcc falling
    * edge → Window chopTime 120 → Map length → Sink. */
  def graph(rate: Double, selVibe: Double, selStep: Double): StreamGraph = StreamGraph.path(Seq(
    StreamVertex(0, OpSource(rate), Nil, "Sample", "Sample", mu("source")),
    StreamVertex(1, OpFilter(selVibe),
      List(Param("vibeOff", (v: Any) => v.asInstanceOf[Sample].vibe == 0)),
      "Sample", "Sample", mu("vibe")),
    StreamVertex(2, OpMap, List(Param("squares", (v: Any) => {
      val s = v.asInstanceOf[Sample]
      s.x.toLong * s.x + s.y.toLong * s.y + s.z.toLong * s.z
    })), "Sample", "Long", mu("squares")),
    StreamVertex(3, OpMap,
      List(Param("intSqrt", (v: Any) => math.sqrt(v.asInstanceOf[Long].toDouble).toInt)),
      "Long", "Int", mu("intSqrt")),
    StreamVertex(4, OpFilterAcc(selStep), List(
      Param("(_, v) => v", (_: Any, v: Any) => v),
      Param("0", 0),
      Param(s"(v, prev) => prev > $Threshold && v <= $Threshold",
        (v: Any, prev: Any) => prev.asInstanceOf[Int] > Threshold && v.asInstanceOf[Int] <= Threshold)),
      "Int", "Int", mu("fallingEdge")),
    StreamVertex(5, OpWindow,
      List(Param("chopTime 120", (s: List[Event[Any]]) => WindowMakers.chopTime[Any](120)(s))),
      "Int", "[Int]", mu("window")),
    StreamVertex(6, OpMap, List(Param("length", (v: Any) => v.asInstanceOf[Seq[Any]].length)),
      "[Int]", "Int", mu("length")),
    StreamVertex(7, OpSink, Nil, "Int", "IO", 0.0)))

  /** The thesis evaluation's bandwidth cap (BASELINE.md); the default node
    * utilisation cap. */
  val Opts: Planner.PlanOpts = Planner.PlanOpts(maxBandwidth = 1760.0)

  final case class Input(off: Array[Long], x: Array[Int], y: Array[Int], z: Array[Int],
                         vibe: Array[Int], prime: Int, selVibe: Double, selStep: Double)

  /** `live.txt`: a header `n prime sel_vibe sel_step`, then one line per
    * event `offset_us x y z vibe`. */
  def readInput(path: String): Input = {
    val lines = Files.readAllLines(Paths.get(path)).asScala
    val h = lines.head.trim.split("\\s+")
    val n = h(0).toInt
    val rows = lines.iterator.drop(1).take(n).map(_.trim.split("\\s+")).toArray
    Input(rows.map(_(0).toLong), rows.map(_(1).toInt), rows.map(_(2).toInt), rows.map(_(3).toInt),
      rows.map(_(4).toInt), h(1).toInt, h(2).toDouble, h(3).toDouble)
  }

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Sink rows as (event time µs or Long.MinValue, value). */
  private def key(e: Event[Any]): (Long, Any) =
    (e.time.map(Event.micros).getOrElse(Long.MinValue), e.value.orNull)

  final class Running(val spark: SparkSession, val mem: MemoryStream[Row], val q: StreamingQuery,
                      val plan: Planner.Plan) {
    val out = new ConcurrentLinkedQueue[(Long, Any)]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
  }

  private def start(a: Main.Args, spans: Spans, g: StreamGraph): Running = {
    val spark = spans("setup.session")(Main.session(a.cpus))
    val plan = spans("plans.plan")(Planner.bestPlan(Opts, g)).getOrElse(
      throw new IllegalStateException("Planner.bestPlan found no viable plan"))
    val mem = MemoryStream[Row](spark, 1)(Encoders.product[Row])
    val src: Dataset[Event[Any]] = mem.toDS().map { case (us, x, y, z, v) =>
      Event[Any](Some(Event.fromMicros(us)), Some(Sample(x, y, z, v)))
    }(Encoders.kryo[Event[Any]])
    val srcId = plan.graph.sources.head.id
    val sinkId = plan.graph.sinks.head.id
    val lowered = spans("plans.lower")(StreamingLowering.lower(spark, plan.graph, Map(srcId -> src)))
    var running: Running = null
    val sink: (Dataset[Event[Any]], Long) => Unit = (ds, _) => {
      val t0 = System.nanoTime()
      val rows = ds.collect()
      running.sinkMs.add((System.nanoTime() - t0) / 1e6)
      rows.foreach(e => running.out.add(key(e)))
    }
    val ckpt = graft.core.TempDirs.create("graft_perfbench_live_").toAbsolutePath
    // the lowering is one single-group state machine: one state partition,
    // as the program's own lowered gates pin it
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val q = spans("streaming.start") {
      try {
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        lowered(sinkId).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch(sink)
          .start()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    running = new Running(spark, mem, q, plan)
    running
  }

  def run(a: Main.Args, spans: Spans): Map[String, Any] = {
    val in = readInput(Paths.get(a.work, "live.txt").toString)
    val g = graph(a.rate.toDouble, in.selVibe, in.selStep)
    val n = in.off.length
    val p = in.prime
    def row(i: Int, stampUs: Long): Row = (stampUs, in.x(i), in.y(i), in.z(i), in.vibe(i))

    var r: Running = null
    var t0Us = 0L
    val setups = ArrayBuffer.empty[Double]
    for (k <- 1 to a.setups) {
      if (r != null) { r.q.stop(); r.spark.stop() }
      spans.run = s"setup$k"
      val s0 = System.nanoTime()
      spans("setup") {
        r = start(a, spans, g)
        spans("streaming.first_batch") {
          t0Us = nowUs()
          r.mem.addData((0 until p).map(i => row(i, t0Us + in.off(i))))
          r.q.processAllAvailable()
        }
      }
      setups += (System.nanoTime() - s0) / 1e9
    }
    val rec = if (a.trace) Some(new Recorder(r.spark)) else None
    rec.foreach(_.cut())

    // open-loop generator: every tick, add all events whose due time passed
    val offP = in.off(p)
    val endRel = ((a.warmupS + a.seconds) * 1e6).toLong
    val tickNs = 2000000L
    val blocks = ArrayBuffer.empty[(Long, Int, Int, Double)] // (offset, first, count, late ms)
    var fedEnd = p
    val t1Us = nowUs()
    val n1 = System.nanoTime()
    val jvm = new JvmWindow
    val gen = new Thread(() => {
      var i = p
      var tick = 1L
      while (i < n && in.off(i) - offP < endRel) {
        val wake = n1 + tick * tickNs
        var now = System.nanoTime()
        while (now < wake) { LockSupport.parkNanos(wake - now); now = System.nanoTime() }
        val relNow = (now - n1) / 1000L
        var j = i
        while (j < n && in.off(j) - offP <= relNow && in.off(j) - offP < endRel) j += 1
        if (j > i) {
          val rows = (i until j).map(e => row(e, t1Us + in.off(e) - offP))
          val late = (System.nanoTime() - wake) / 1e6
          val o = r.mem.addData(rows)
          blocks += ((o.json.toLong, i, j - i, late))
          i = j
        }
        tick += 1
      }
      fedEnd = i
    }, "perfbench-generator")
    def committed(): Long = Option(r.q.lastProgress)
      .flatMap(pr => Option(pr.sources.head.endOffset)).map(_.trim.toLong).getOrElse(-1L)
    spans.run = "live"
    val genEndMs = spans("streaming.live") {
      gen.start()
      gen.join()
      val genEnd = spans.nowMs()
      // drain: wait until the batch covering the last block has committed;
      // events still uncommitted at the deadline count as failed
      val lastOffset = blocks.lastOption.map(_._1).getOrElse(0L)
      val deadline = System.nanoTime() + (a.drainS * 1e9).toLong
      while (committed() < lastOffset && System.nanoTime() < deadline) Thread.sleep(5)
      genEnd
    }
    val jvmStats = jvm.close()
    val bucket = rec.map(_.cut()).getOrElse(Map.empty)
    spans.run = "stop"
    spans("streaming.stop")(r.q.stop())
    val progress = r.q.recentProgress.map(pr => Json.Raw(pr.json)).toSeq

    // reference output: the interpreter over exactly the fed events
    val check = spans("check.interpreter") {
      val fed = (0 until fedEnd).map { i =>
        val us = if (i < p) t0Us + in.off(i) else t1Us + in.off(i) - offP
        Event[Any](Some(Event.fromMicros(us)), Some(Sample(in.x(i), in.y(i), in.z(i), in.vibe(i))))
      }.toList
      val sinkId = g.sinks.head.id
      val expected = Interpreter.runToSinks(g, Map(g.sources.head.id -> fed))(sinkId)
        .map(key).dropRight(1) // the final window is still open on the live stream
      val actual = r.out.asScala.toSeq
      val firstDiff = expected.iterator.zipAll(actual.iterator, null, null)
        .indexWhere { case (e, o) => e != o }
      Map("ok" -> (firstDiff < 0), "expected_windows" -> expected.size,
        "actual_windows" -> actual.size, "first_diff" -> firstDiff)
    }

    val plans = if (a.trace) planStats(g, r.plan, spans) else Map.empty[String, Any]
    Map(
      "setup_s" -> setups.toSeq,
      "prime" -> p,
      "t1_us" -> t1Us,
      "warmup_s" -> a.warmupS,
      "seconds" -> a.seconds,
      "gen_end_ms" -> genEndMs,
      "blocks" -> blocks.toSeq,
      "progress" -> progress,
      "sink_ms" -> r.sinkMs.asScala.toSeq.map(_.doubleValue),
      "check" -> check,
      "plans" -> plans,
      "trace_bucket" -> bucket,
      "jvm" -> jvmStats,
      "spark_conf" -> Env.sparkConf(r.spark))
  }

  /** The planner's search, timed in its parts (traced mode, after the run):
    * rewrite enumeration, then partitioning and costing of every variant. */
  private def planStats(g: StreamGraph, plan: Planner.Plan, spans: Spans): Map[String, Any] = {
    spans.run = "plans"
    val t0 = System.nanoTime()
    val variants = spans("plans.rewrite") {
      Rules.rewriteGraph(Opts.rules, g, Opts.rewriteDepth).map(_.graph).distinctBy(_.show)
    }
    val t1 = System.nanoTime()
    val candidates = spans("plans.cost") {
      variants.flatMap(gv => Planner.allPartitions(gv).map(Planner.Plan(gv, _)))
        .map(pl => pl -> Planner.planCost(Opts, pl))
    }
    val t2 = System.nanoTime()
    Map(
      "rewrite_ms" -> (t1 - t0) / 1e6,
      "cost_ms" -> (t2 - t1) / 1e6,
      "variants_n" -> variants.size,
      "partitionings_n" -> candidates.size,
      "viable_n" -> candidates.count(_._2.isDefined),
      "predicted_util_max" -> Jackson.calcAll(plan.graph).map(_.util).max,
      "plan_partitions" -> plan.partitions.map(_.sorted))
  }
}
