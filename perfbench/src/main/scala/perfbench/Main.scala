package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py` (see README.md).
  *
  *   perfbench.Main --workload surface|etl-paced|etl-bulk --seed N --seconds S
  *                  --trace 0|1 --run-dir DIR --bench-dir DIR --trace-dir DIR
  *                  [--record-expected FILE]
  *
  * Prints `PERFBENCH_READY` once set-up is done, then one
  * `PERFBENCH_RESULT {json}` line: the cold iteration, the warm iterations
  * that fill `--seconds`, the output checks and, with `--trace 1`, the
  * per-layer figures of the traced iterations.
  */
object Main {
  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      runDir: String = "",
      benchDir: String = "",
      traceDir: String = "",
      record: Option[String] = None)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--run-dir" :: v :: t => parse(t, o.copy(runDir = v))
    case "--bench-dir" :: v :: t => parse(t, o.copy(benchDir = v))
    case "--trace-dir" :: v :: t => parse(t, o.copy(traceDir = v))
    case "--record-expected" :: v :: t => parse(t, o.copy(record = Some(v)))
    case Nil => o
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  def main(args: Array[String]): Unit = {
    val mainMs = ManagementFactory.getRuntimeMXBean.getUptime
    val o = parse(args.toList)
    val cpus = Runtime.getRuntime.availableProcessors()
    System.setProperty("derby.system.home", o.runDir)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
    if (o.trace)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTap].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val w: Workload = o.workload match {
      case "surface" => new Surface(spark, o)
      case "etl-paced" => new Etl(spark, o, Etl.paced(o.seed))
      case "etl-bulk" => new Etl(spark, o, Etl.bulk(o.seed))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionMs = ManagementFactory.getRuntimeMXBean.getUptime
    w.setup()
    System.err.println(s"[perfbench] set-up: JVM uptime at main ${mainMs} ms, " +
      s"session ${sessionMs} ms, ready ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    println("PERFBENCH_READY")
    System.out.flush()
    println("PERFBENCH_RESULT " + new Runner(spark, o, w).run())
    System.out.flush()
    spark.stop()
  }
}

/** One warm or cold iteration as the runner sees it. `samples` are the
  * per-operation latencies (s); `layers` the traced per-layer figures. */
final case class Iter(seconds: Double, samples: Seq[Double], attempted: Int,
    failed: Int, layers: Map[String, Double] = Map.empty)

abstract class Workload(val spark: SparkSession, val o: Main.Opts) {
  def setup(): Unit
  /** Run iteration `i` (0 is cold). `traced` asks for per-layer figures. */
  def iterate(i: Int, traced: Boolean, tap: Option[SparkTap]): Iter
  /** Output checks not already made per iteration: (attempted, failed). */
  def verify(): (Int, Int) = (0, 0)
  /** The fewest warm iterations a run makes, however short they are. */
  def minWarm: Int = 2
  /** The warm per-operation latencies (s) the quantiles are taken over. */
  def latencies(warm: Seq[Iter]): Seq[Double] = warm.flatMap(_.samples)
  /** Per-operation warm latencies (s) by name, for the run's sidecar line. */
  def opTimes: Map[String, Seq[Double]] = Map.empty
  /** Traced-run-only probes of single layers. */
  def probes(): Map[String, Double] = Map.empty
}

/** Closed loop, one client: a cold iteration, then warm iterations until
  * `--seconds` have been measured, and at least the workload's `minWarm`,
  * then, untimed, the live heap. A traced run makes at least three warm
  * iterations, traced and untraced in turn, to state the tracing overhead. */
final class Runner(spark: SparkSession, o: Main.Opts, w: Workload) {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    * Over a few heterogeneous queries it moves smoothly where the plain
    * sample quantile jumps from one query's time to the next one's. */
  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n))).sum
    }

  /** Wall and timed seconds of one phase, to the run's log. */
  private def phase(name: String, wallNs: Long, timed: Double): Unit =
    System.err.println(f"[perfbench] $name: wall ${wallNs / 1e9}%.3f s, timed $timed%.3f s")

  def run(): String = {
    val tap = if (o.trace) Some(new SparkTap) else None
    val runStart = System.nanoTime()
    var attached = false
    def listen(on: Boolean): Unit = tap.foreach { t =>
      if (on && !attached) spark.sparkContext.addSparkListener(t)
      if (!on && attached) spark.sparkContext.removeSparkListener(t)
      attached = on
    }
    Trace.on = o.trace
    listen(o.trace)
    val (cold, coldNs) = Trace.span("iteration", "run", "cold", parent = 0L, force = o.trace) { _ =>
      w.iterate(0, traced = false, tap)
    }
    phase("cold pass", coldNs, cold.seconds)
    var warm = Vector.empty[(Iter, Boolean)]
    var measured = 0.0
    // at least minWarm warm iterations, so run_s is always the best of the
    // same count; a traced run alternates T U T ..., so a linear warm-up
    // trend cancels out of the overhead estimate
    def need: Boolean =
      measured < o.seconds || warm.size < (if (o.trace) math.max(3, w.minWarm) else w.minWarm)
    while (need) {
      val i = warm.size + 1
      val traced = o.trace && i % 2 == 1
      Trace.on = traced
      listen(traced)
      val (it, itNs) = Trace.span("iteration", "run", s"warm$i", parent = 0L, force = o.trace) { _ =>
        w.iterate(i, traced, tap)
      }
      phase(s"warm pass $i", itNs, it.seconds)
      warm :+= (it -> traced)
      measured += it.seconds
    }
    // forced collections only from here on: one before a timed pass would
    // start it on a heap the JVM had not sized itself
    Trace.on = false
    listen(false)
    val (heapMb, heapNs) = Trace.span("heap", "run", parent = 0L, force = o.trace) { _ =>
      HeapLive.settle(spark)
    }
    phase("live heap", heapNs, 0.0)
    Trace.on = o.trace
    listen(o.trace)
    val ((va, vf), _) = Trace.span("verify", "run", parent = 0L, force = o.trace) { _ => w.verify() }
    val probes =
      if (!o.trace) Map.empty[String, Double]
      else Trace.span("probes", "run", parent = 0L, force = true) { _ =>
        try w.probes() catch { case e: Throwable =>
          System.err.println(s"[perfbench] probes failed: $e")
          Map("probe.failed" -> 1.0)
        }
      }._1
    val runNs = System.nanoTime() - runStart

    val all = cold +: warm.map(_._1)
    val pf = probes.getOrElse("probe.failed", -1.0).toInt
    val attempted = all.map(_.attempted).sum + va + (if (pf >= 0) 1 else 0)
    val failed = all.map(_.failed).sum + vf + math.max(pf, 0)
    val samples = w.latencies(warm.map(_._1))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("cold_s", cold.seconds, "s"),
        // the best warm iteration: a shared host's slow moments only add time
        ("run_s", warm.map(_._1.seconds).min, "s"),
        ("query_p50_s", pct(samples, 0.50), "s"),
        ("query_p95_s", pct(samples, 0.95), "s"),
        ("ok_ratio", (attempted - failed).toDouble / math.max(1, attempted), "ratio"),
        ("heap_live_mb", heapMb, "MB"))
      else {
        tap.foreach(_.drain())
        val traced = warm.filter(_._2).map(_._1)
        val untraced = warm.filterNot(_._2).map(_._1)
        val layers = Layers.keys.map { case (k, _) =>
          k -> median(traced.map(_.layers.getOrElse(k, 0.0)))
        }.toMap ++ probes
        // wall time of the run that no top-level span covers
        val top = Trace.spans.asScala.filter(_.parent == 0L).toSeq.sortBy(_.startNs)
        var covered = 0L
        var reach = runStart
        top.foreach { s =>
          covered += math.max(0L, s.endNs - math.max(s.startNs, reach))
          reach = math.max(reach, s.endNs)
        }
        val uncovered = (runNs - covered) / 1e9
        val overhead = median(traced.map(_.seconds)) / median(untraced.map(_.seconds)) - 1
        Trace.writeJsonl(java.nio.file.Paths.get(
          s"${o.traceDir}/spans-${o.workload}-seed${o.seed}.jsonl"))
        Layers.keys.map { case (k, unit) =>
          val v = k match {
            case "trace.overhead" => overhead
            case "trace.uncovered_s" => uncovered
            case _ => layers.getOrElse(k, 0.0)
          }
          (k, v, unit)
        }
      }
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "warm_iterations" -> warm.size.toString,
      "samples" -> samples.size.toString,
      "heap_mb" -> Json.num(heapMb),
      "iterations_s" -> warm.map(w => Json.num(w._1.seconds)).mkString("[", ",", "]"),
      "ops" -> Json.obj(w.opTimes.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.map(Json.num).mkString("[", ",", "]") }),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

/** Every per-layer metric the traced run reports, with its unit. */
object Layers {
  /** The families `Surface.Queries` draws from; the others have no query in
    * the sample, so nothing could move their figure. */
  val Families: Seq[String] = Seq("Relational", "Joins", "Windows", "EventsOps", "Dedup",
    "Ann", "Curation", "GraphOps", "Stats", "StreamQueries")
  val Tables: Seq[String] = Seq("playlists", "saved_tracks", "recent_tracks",
    "followed_artists", "playlists_tracks", "audio_features")

  val keys: Seq[(String, String)] =
    Seq("http.requests" -> "count", "http.retries" -> "count", "http.throttled" -> "count",
      "http.pace_sleep_s" -> "s", "http.backoff_sleep_s" -> "s", "http.server_s" -> "s",
      "http.peak_rps" -> "1/s", "http.budget_ratio" -> "ratio", "http.client_copies" -> "count",
      "pipeline.build_s" -> "s", "pipeline.wave1_s" -> "s", "pipeline.wave2_s" -> "s",
      "pipeline.wave3_s" -> "s", "pipeline.overlap" -> "ratio") ++
      Tables.map(t => s"table.$t.s" -> "s") ++
      Seq("etl.rows" -> "count", "jdbc.sink_s" -> "s", "jdbc.rows_per_s" -> "1/s",
        "v2.tracks_scan_s" -> "s", "surface.build_s" -> "s", "surface.action_s" -> "s") ++
      Families.map(f => s"family.$f.s" -> "s") ++
      SparkTap.Keys.map(k => k -> (if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
        else "count")) ++
      Seq("codegen.compiles" -> "count", "stream.starts" -> "count",
        "stream.batches" -> "count", "stream.batch_s" -> "s", "stream.commit_s" -> "s",
        "trace.overhead" -> "ratio", "trace.uncovered_s" -> "s")
}

/** Live heap once the timed work is over and Spark has let go of it. Until
  * then no collection is forced: the JVM collects and sizes its heap as it
  * would on its own, so GC pressure carries from one operation and one
  * iteration to the next. */
object HeapLive {
  private def collect(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Wait (up to a second) until no RDD is cached, since released caches
    * are unpersisted asynchronously; collect; wait 3 s; collect, and return
    * the heap (MB) that leaves. A finished query holds execution memory for
    * a while after it ends: sampled 0, 0.1, 0.25, 0.5, 1 and 2 s after a
    * full collection, the heap after `q_graph_pagerank` read about 490 MB
    * (some runs 880 MB) up to 1 s, and about 100 MB at 2 s. A sample taken
    * at once read that holding, which came and went from run to run. */
  def settle(spark: SparkSession): Double = {
    val until = System.nanoTime() + 1000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < until)
      Thread.sleep(10)
    collect()
    Thread.sleep(3000)
    collect()
  }
}
