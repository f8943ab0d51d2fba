package perfbench

import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Caches
import graft.sources.{JdbcReplaceSink, RateLimitedClient, SpotifyPipeline, SpotifySource}

/** The paper's ETL: six paginated extracts from the simulated Spotify API
  * through `SpotifyPipeline.runConcurrent`, each table replace-loaded into
  * embedded in-memory Derby with `JdbcReplaceSink`. One iteration is one
  * full extract-to-load run. */
final class Etl(spark: SparkSession, o: Main.Opts, account: Account) extends Workload(spark, o) {
  private val url = s"jdbc:derby:memory:perfbench${o.seed};create=true"
  private val stub = new SpotifyStub(account)
  /** 2024-03-01T00:00:00Z, the single ingest time every table carries. */
  private val ingestTs = new Timestamp(1709251200000L)
  private val ingestText = "2024-03-01 00:00:00"
  private var keepAlive: java.sql.Connection = _
  private var expected: Map[String, (Long, Long)] = Map.empty

  private def client() =
    new TimedClient(new RateLimitedClient(stub, account.minIntervalMs, 5, StubState.sleeper))

  override def setup(): Unit = {
    keepAlive = DriverManager.getConnection(url)
    expected = account.expectedTables(ingestText).map { case (t, rows) =>
      t -> Etl.digest(rows)
    }
  }

  override def iterate(i: Int, traced: Boolean, tap: Option[SparkTap]): Iter = {
    StubState.reset(account, i)
    val cg0 = SparkTap.compiles
    val windows = new ConcurrentHashMap[String, (Long, Long)]()
    val waveOf = Map("playlists" -> 1, "saved_tracks" -> 1, "recent_tracks" -> 1,
      "followed_artists" -> 1, "playlists_tracks" -> 2, "audio_features" -> 3)
    val fromMs = System.currentTimeMillis()
    var failed = 0
    val (t0, ns) = Trace.span("pipeline", "sources.pipeline", s"iteration$i") { pid =>
      val waveIds = Map(1 -> Trace.newId(), 2 -> Trace.newId(), 3 -> Trace.newId())
      val t0 = System.nanoTime()
      try {
        new SpotifyPipeline(new SpotifySource(client(), Account.Base))
          .runConcurrent(spark, ingestTs, (name, df) => {
            val id = Trace.newId()
            spark.sparkContext.setLocalProperty(Trace.SpanProp, id.toString)
            val w0 = System.nanoTime()
            try JdbcReplaceSink.write(df, url, name)
            finally {
              val w1 = System.nanoTime()
              windows.put(name, (w0, w1))
              if (Trace.on) Trace.record(waveIds(waveOf(name)), "table", "sources.jdbc",
                w0, w1, name, id)
              spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
            }
          })
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] iteration $i failed: $e")
          failed = Layers.Tables.size
      } finally Caches.release(spark)
      val ws = windows.asScala
      if (Trace.on) {
        if (ws.nonEmpty) Trace.record(pid, "build", "sources.pipeline", t0, ws.values.map(_._1).min)
        ws.groupBy { case (n, _) => waveOf(n) }.foreach { case (k, m) =>
          Trace.record(pid, s"wave$k", "sources.pipeline", m.values.map(_._1).min,
            m.values.map(_._2).max, id = waveIds(k))
        }
      }
      t0
    }
    val toMs = System.currentTimeMillis()
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val ws = windows.asScala.toMap
        def wave(k: Int): Double = {
          val m = ws.filter { case (n, _) => waveOf(n) == k }.values
          if (m.isEmpty) 0.0 else (m.map(_._2).max - m.map(_._1).min) / 1e9
        }
        val first = if (ws.isEmpty) t0 else ws.values.map(_._1).min
        tap.map { t => t.drain(); t.ledger(fromMs, toMs) }.getOrElse(Map.empty) ++
          Map(
            "http.requests" -> StubState.requests.sum.toDouble,
            "http.retries" -> StubState.retries.sum.toDouble,
            "http.throttled" -> StubState.throttled.sum.toDouble,
            "http.pace_sleep_s" -> StubState.paceNs.sum / 1e9,
            "http.backoff_sleep_s" -> StubState.backoffNs.sum / 1e9,
            "http.server_s" -> StubState.serverNs.sum / 1e9,
            "http.peak_rps" -> StubState.peakPerSecond.toDouble,
            "http.budget_ratio" -> (if (account.minIntervalMs > 0)
              StubState.peakPerSecond / (1000.0 / account.minIntervalMs) else 0.0),
            "http.client_copies" -> StubState.copies.sum.toDouble,
            "pipeline.build_s" -> (first - t0) / 1e9,
            "pipeline.wave1_s" -> wave(1), "pipeline.wave2_s" -> wave(2),
            "pipeline.wave3_s" -> wave(3),
            "pipeline.overlap" -> ws.values.map(w => w._2 - w._1).sum.toDouble / ns,
            "etl.rows" -> expected.values.map(_._1).sum.toDouble,
            "codegen.compiles" -> (SparkTap.compiles - cg0).toDouble) ++
          ws.map { case (n, w) => s"table.$n.s" -> (w._2 - w._1) / 1e9 }
      }
    Iter(ns / 1e9, StubState.latencies.asScala.map(_ / 1e9).toSeq,
      Layers.Tables.size, failed, layers)
  }

  /** Read the six Derby tables back and compare each with the rows the
    * generator says it must hold. */
  override def verify(): (Int, Int) = {
    val bad = Layers.Tables.filter { t =>
      val got = try {
        val st = keepAlive.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT * FROM $t")
          val n = rs.getMetaData.getColumnCount
          Etl.digest(Iterator.continually(rs).takeWhile(_.next())
            .map(r => (1 to n).map(r.getString)))
        } finally st.close()
      } catch { case e: java.sql.SQLException =>
        System.err.println(s"[perfbench] read-back of $t failed: $e"); (-1L, 0L)
      }
      if (got != expected(t))
        System.err.println(s"[perfbench] $t: read back $got, expected ${expected(t)}")
      got != expected(t)
    }
    (Layers.Tables.size, bad.size)
  }

  /** Single-layer probes: a sink-only replace-load of the staged frames once
    * materialized, and the DataSourceV2 `spotify-tracks` scan over the same
    * playlist ids. */
  override def probes(): Map[String, Double] = {
    spark.sparkContext.setLocalProperty(Trace.SpanProp, Trace.parent.toString)
    StubState.reset(account, 0)
    val staged = new SpotifyPipeline(new SpotifySource(client(), Account.Base))
      .run(spark, ingestTs)
    val frozen = staged.map { case (n, df) => n -> df.localCheckpoint(eager = true) }
    val rows = frozen.values.map(_.count()).sum
    val (_, sinkNs) = Trace.span("sink-only", "sources.jdbc") { _ =>
      frozen.foreach { case (n, df) => JdbcReplaceSink.write(df, url, s"sink_$n") }
    }
    Caches.release(spark)
    frozen.values.foreach(_.unpersist(blocking = true))

    StubState.reset(account, 0)
    graft.sources.v2.HttpClients.register("perfbench", client())
    val ids = (0 until account.playlists).map(account.playlistId).mkString(",")
    val (n, scanNs) = Trace.span("v2-scan", "sources.spotify") { _ =>
      val df = spark.read.format("spotify-tracks").option("ids", ids).option("chunk", "8")
        .option("client", "perfbench").option("baseurl", Account.Base).load()
      // every column is read: the length sum needs them all
      df.agg(count(lit(1)), sum(length(concat_ws("|", df.columns.map(col).toIndexedSeq: _*))))
        .head().getLong(0)
    }
    spark.sparkContext.setLocalProperty(Trace.SpanProp, null)
    val scanOk = n == expected("playlists_tracks")._1
    if (!scanOk) System.err.println(s"[perfbench] spotify-tracks scan: $n rows, " +
      s"expected ${expected("playlists_tracks")._1}")
    Map("jdbc.sink_s" -> sinkNs / 1e9, "jdbc.rows_per_s" -> rows / (sinkNs / 1e9),
      "v2.tracks_scan_s" -> scanNs / 1e9, "probe.failed" -> (if (scanOk) 0.0 else 1.0))
  }
}

object Etl {
  /** Reference scale at the program's default 100 ms pacing. */
  def paced(seed: Long): Account = Account(playlists = 50, tracksPerPlaylist = 100,
    saved = 1000, recent = 50, followed = 50, trackPool = 3000, latencyMs = 20,
    minIntervalMs = 100, throttle = true, seed = seed)

  /** Volume instead of rate: no pacing, latency or refusals. */
  def bulk(seed: Long): Account = Account(playlists = 2000, tracksPerPlaylist = 100,
    saved = 20000, recent = 50, followed = 50, trackPool = 113000, latencyMs = 0,
    minIntervalMs = 0, throttle = false, seed = seed)

  /** Row count and the wrapping sum of a 64-bit hash per row: order-free,
    * duplicate-sensitive. A null value hashes apart from any string. */
  def digest(rows: Iterator[Seq[String]]): (Long, Long) = {
    var n = 0L
    var s = 0L
    rows.foreach { r =>
      val text = r.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
      val a = scala.util.hashing.MurmurHash3.stringHash(text, 0x5eed)
      val b = scala.util.hashing.MurmurHash3.stringHash(text, 0x0b5e55ed)
      s += (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
      n += 1
    }
    (n, s)
  }
}
