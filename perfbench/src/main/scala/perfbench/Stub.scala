package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import graft.sources.{HttpClient, HttpResponse}

/** One simulated Spotify account: its sizes, and how the simulated server
  * behaves. Every record is a pure function of `seed` and its position, so
  * the stub, each of its per-task copies and the expected-row generator all
  * agree without sharing state. */
final case class Account(
    playlists: Int,
    tracksPerPlaylist: Int,
    saved: Int,
    recent: Int,
    followed: Int,
    trackPool: Int,
    latencyMs: Int,
    minIntervalMs: Long,
    throttle: Boolean,
    seed: Long) {
  import Account._

  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[perfbench] def h(a: Long, b: Long, c: Long = 0L): Long =
    mix(mix(mix(seed ^ a) + b) + c) & Long.MaxValue

  // -- the catalog ----------------------------------------------------------

  def playlistId(p: Int): String = f"p$p%06d"
  def trackId(t: Int): String = f"t$t%07d"

  /** Track at position j of playlist p; None is a null track item (2%). */
  def playlistTrack(p: Int, j: Int): Option[Int] =
    if (h(1, p, j) % 50 == 0) None else Some((h(2, p, j) % trackPool).toInt)

  def savedTrack(k: Int): Option[Int] =
    if (h(3, k) % 50 == 0) None else Some((h(4, k) % trackPool).toInt)

  def recentTrack(k: Int): Int = (h(5, k) % trackPool).toInt

  /** Some ids have no audio features; the API answers null for them (1%). */
  def hasFeatures(t: Int): Boolean = h(6, t) % 100 != 0

  private val epoch2023 = 1672531200L
  private def iso(sec: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT
      .format(java.time.Instant.ofEpochSecond(sec))
  private def sqlTs(sec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  private def addedAtSec(k: Int): Long = epoch2023 + k * 3607L
  private def playedAtSec(k: Int): Long = epoch2023 + 86400L * 400 + k * 211L

  private def trackName(t: Int) = s"Song $t"
  private def artistName(t: Int) = s"Artist ${t % 997}"
  private def albumName(t: Int) = s"Album ${t % 1999}"
  private val genreList = Array("rock", "jazz", "pop", "folk", "metal", "soul", "techno")
  private def genres(k: Int): Seq[String] =
    (0 until (h(7, k) % 4).toInt).map(i => genreList(((h(8, k, i) % genreList.length).toInt)))

  /** The 18 audio-feature fields in `SpotifySchemas.audioFeatures` order,
    * rendered as JSON literals. Decimals are k/1000 so their text survives
    * the JSON round trip and Spark's string cast unchanged. */
  private def features(t: Int): Seq[(String, String)] = {
    def d(i: Int, range: Int, off: Int = 0): String =
      ((off + h(9, t, i) % range) / 1000.0).toString
    val id = trackId(t)
    Seq(
      "danceability" -> d(0, 1000), "energy" -> d(1, 1000),
      "key" -> (h(9, t, 2) % 12).toString, "loudness" -> d(3, 40000, -40000),
      "mode" -> (h(9, t, 4) % 2).toString, "speechiness" -> d(5, 1000),
      "acousticness" -> d(6, 1000), "instrumentalness" -> d(7, 1000),
      "liveness" -> d(8, 1000), "valence" -> d(10, 1000),
      "tempo" -> d(11, 140000, 60000), "type" -> "\"audio_features\"",
      "id" -> s"\"$id\"", "uri" -> s"\"spotify:track:$id\"",
      "track_href" -> s"\"$Base/tracks/$id\"",
      "analysis_url" -> s"\"$Base/audio-analysis/$id\"",
      "duration_ms" -> (120000 + h(9, t, 12) % 240000).toString,
      "time_signature" -> (3 + h(9, t, 13) % 3).toString)
  }

  // -- the API pages ----------------------------------------------------------

  private def trackJson(t: Int): String =
    s"""{"id":"${trackId(t)}","name":"${trackName(t)}","artists":[{"name":"${artistName(t)}"},""" +
      s"""{"name":"Guest ${t % 13}"}],"album":{"name":"${albumName(t)}"}}"""

  private def next(path: String, off: Int, limit: Int, total: Int): String =
    if (off + limit < total) s""""$Base$path?offset=${off + limit}&limit=$limit"""" else "null"

  private def query(url: String): Map[String, String] =
    url.indexOf('?') match {
      case -1 => Map.empty
      case i => url.substring(i + 1).split('&').map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
    }

  /** The response body for `url`, or None for an unknown endpoint. */
  def page(url: String): Option[String] = {
    if (!url.startsWith(Base)) return None
    val path = url.substring(Base.length).takeWhile(_ != '?')
    val q = query(url)
    val off = q.get("offset").map(_.toInt).getOrElse(0)
    path match {
      case "/me/playlists" =>
        val items = (off until math.min(off + 50, playlists)).map { p =>
          val id = playlistId(p)
          s"""{"id":"$id","href":"$Base/playlists/$id","name":"Playlist $p",""" +
            s""""owner":{"display_name":"user-${p % 7}"},"public":${p % 3 != 0},""" +
            s""""collaborative":${p % 5 == 0},"tracks":{"total":$tracksPerPlaylist}}"""
        }
        Some(s"""{"items":[${items.mkString(",")}],"next":${next(path, off, 50, playlists)}}""")
      case "/me/tracks" =>
        val items = (off until math.min(off + 50, saved)).map { k =>
          val t = savedTrack(k).map(trackJson).getOrElse("null")
          s"""{"added_at":"${iso(addedAtSec(k))}","track":$t}"""
        }
        Some(s"""{"items":[${items.mkString(",")}],"next":${next(path, off, 50, saved)}}""")
      case "/me/player/recently-played" =>
        val items = (0 until recent).map { k =>
          s"""{"played_at":"${iso(playedAtSec(k))}","track":${trackJson(recentTrack(k))}}"""
        }
        Some(s"""{"items":[${items.mkString(",")}]}""")
      case "/me/following" =>
        val items = (0 until followed).map { k =>
          s"""{"id":"${f"a$k%05d"}","name":"Band $k","genres":[""" +
            genres(k).map(g => s""""$g"""").mkString(",") +
            s"""],"popularity":${h(10, k) % 101},"followers":{"total":${h(11, k) % 1000000}}}"""
        }
        Some(s"""{"artists":{"items":[${items.mkString(",")}],"next":null}}""")
      case "/audio-features" =>
        val ids = q.getOrElse("ids", "").split(',').filter(_.nonEmpty)
        val objs = ids.map { id =>
          val t = id.substring(1).toInt
          if (!hasFeatures(t)) "null"
          else features(t).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        }
        Some(s"""{"audio_features":[${objs.mkString(",")}]}""")
      case p if p.startsWith("/playlists/") && p.endsWith("/tracks") =>
        val pid = p.stripPrefix("/playlists/").stripSuffix("/tracks")
        val pi = pid.substring(1).toInt
        val items = (off until math.min(off + 100, tracksPerPlaylist)).map { j =>
          s"""{"track":${playlistTrack(pi, j).map(trackJson).getOrElse("null")}}"""
        }
        Some(s"""{"items":[${items.mkString(",")}],"next":${next(p, off, 100, tracksPerPlaylist)}}""")
      case _ => None
    }
  }

  // -- expected table contents ----------------------------------------------

  /** Rows the six loaded tables must hold, every value in the all-string
    * form the sink writes (null stays null), keyed by table name. */
  def expectedTables(ingest: String): Map[String, Iterator[Seq[String]]] = {
    def track(t: Int) = Seq(trackId(t), trackName(t), artistName(t), albumName(t))
    val audioIds = (
      (for (p <- 0 until playlists; j <- 0 until tracksPerPlaylist) yield playlistTrack(p, j)) ++
        (0 until saved).map(savedTrack)
      ).flatten.distinct
    Map(
      "playlists" -> (0 until playlists).iterator.map { p =>
        val id = playlistId(p)
        Seq(id, s"$Base/playlists/$id", s"Playlist $p", s"user-${p % 7}",
          (p % 3 != 0).toString, (p % 5 == 0).toString, tracksPerPlaylist.toString, ingest)
      },
      "playlists_tracks" -> (for {
        p <- (0 until playlists).iterator
        j <- (0 until tracksPerPlaylist).iterator
        t <- playlistTrack(p, j)
      } yield track(t) ++ Seq(playlistId(p), ingest)),
      "saved_tracks" -> (0 until saved).iterator.flatMap(k =>
        savedTrack(k).map(t => track(t) ++ Seq(sqlTs(addedAtSec(k)), ingest))),
      "recent_tracks" -> (0 until recent).iterator.map(k =>
        track(recentTrack(k)) ++ Seq(sqlTs(playedAtSec(k)), ingest)),
      "followed_artists" -> (0 until followed).iterator.map { k =>
        Seq(f"a$k%05d", s"Band $k", genres(k).mkString(", "),
          (h(10, k) % 101).toString, (h(11, k) % 1000000).toString, ingest)
      },
      "audio_features" -> audioIds.iterator.filter(hasFeatures).map { t =>
        features(t).map(_._2.stripPrefix("\"").stripSuffix("\"")) :+ ingest
      })
  }
}

object Account {
  val Base = "https://api.spotify.com/v1"
}

/** JVM-global stub and client counters. Spark deserializes one copy of the
  * client per task, so per-instance state would split across the copies;
  * everything the benchmark reads lives here. Reset once per iteration. */
object StubState {
  val requests = new LongAdder
  val throttled = new LongAdder
  val retries = new LongAdder
  val serverNs = new LongAdder
  val copies = new LongAdder
  val paceNs = new LongAdder
  val backoffNs = new LongAdder
  /** Request arrival times at the server (ns), for the peak rate. */
  val arrivals = new ConcurrentLinkedQueue[java.lang.Long]
  /** Client-observed latency of each request (ns): pacing, retries and all. */
  val latencies = new ConcurrentLinkedQueue[java.lang.Long]
  private val throttledUrls = ConcurrentHashMap.newKeySet[String]()
  private val victims = ConcurrentHashMap.newKeySet[String]()
  private val audioSeen = new AtomicLong
  @volatile private var audioVictim = -1L
  private val window = new java.util.ArrayDeque[java.lang.Long]()

  /** Set by the stub on the thread it answers 429 on; the sleeper that runs
    * next on that thread is the client's back-off, not its pacing. */
  private[perfbench] val backoffNext = new ThreadLocal[java.lang.Boolean]

  /** Start an iteration. With `throttle`, four URLs answer one 429 each:
    * one playlists page, one saved-tracks page, one playlist's tracks and
    * the k-th audio-features batch. The seed picks which; the number per
    * endpoint is fixed, so every seed puts the same back-off on each wave. */
  def reset(a: Account, iteration: Int): Unit = {
    Seq(requests, throttled, retries, serverNs, copies, paceNs, backoffNs).foreach(_.reset())
    arrivals.clear(); latencies.clear(); throttledUrls.clear(); victims.clear()
    window.synchronized(window.clear())
    audioSeen.set(0)
    audioVictim = -1
    if (a.throttle) {
      val r = new scala.util.Random(a.h(20, iteration))
      def pageUrl(path: String, per: Int, total: Int): String = {
        val off = r.nextInt((total + per - 1) / per) * per
        if (off == 0) s"${Account.Base}$path" else s"${Account.Base}$path?offset=$off&limit=$per"
      }
      victims.add(pageUrl("/me/playlists", 50, a.playlists))
      victims.add(pageUrl("/me/tracks", 50, a.saved))
      victims.add(s"${Account.Base}/playlists/${a.playlistId(r.nextInt(a.playlists))}/tracks")
      audioVictim = 1 + r.nextInt(8)
    }
  }

  /** Some(429 response) when this request is refused. */
  private[perfbench] def refuse(a: Account, url: String, nowNs: Long): Option[HttpResponse] = {
    if (throttledUrls.contains(url)) retries.increment()
    val injected = a.throttle && (victims.remove(url) ||
      (url.contains("/audio-features?") && audioSeen.incrementAndGet() == audioVictim))
    // Spotify's rolling 30-second budget at the client's documented rate
    val overBudget = !injected && a.minIntervalMs > 0 && window.synchronized {
      val limit = 30000L / a.minIntervalMs
      while (!window.isEmpty && nowNs - window.peekFirst() >= 30000000000L) window.pollFirst()
      if (window.size >= limit) true else { window.addLast(nowNs); false }
    }
    if (!injected && !overBudget) None
    else {
      throttled.increment()
      throttledUrls.add(url)
      backoffNext.set(true)
      val wait =
        if (injected) 1L
        else window.synchronized(math.max(1L,
          (window.peekFirst() + 30000000000L - nowNs + 999999999L) / 1000000000L))
      Some(HttpResponse(429, """{"error":{"status":429}}""", Map("Retry-After" -> wait.toString)))
    }
  }

  /** The client's sleeper: pacing and back-off, told apart and timed. */
  val sleeper: Long => Unit = ms => {
    val backoff = java.lang.Boolean.TRUE == backoffNext.get()
    backoffNext.remove()
    val t0 = System.nanoTime()
    Thread.sleep(ms)
    (if (backoff) backoffNs else paceNs).add(System.nanoTime() - t0)
  }

  /** Most requests that reached the server in any one-second window. */
  def peakPerSecond: Int = {
    val ts = arrivals.asScala.map(_.longValue).toArray.sorted
    var best = 0
    var lo = 0
    for (hi <- ts.indices) {
      while (ts(hi) - ts(lo) >= 1000000000L) lo += 1
      best = math.max(best, hi - lo + 1)
    }
    best
  }
}

/** The simulated Spotify Web API. Serializable like any connector client;
  * each deserialized copy counts as one client copy. */
final class SpotifyStub(val account: Account) extends HttpClient {
  override def get(url: String, headers: Map[String, String]): HttpResponse = {
    val now = System.nanoTime()
    StubState.requests.increment()
    StubState.arrivals.add(now)
    StubState.refuse(account, url, now).getOrElse {
      if (account.latencyMs > 0) {
        Thread.sleep(account.latencyMs)
        StubState.serverNs.add(System.nanoTime() - now)
      }
      account.page(url).map(HttpResponse(200, _))
        .getOrElse(HttpResponse(404, """{"error":{"status":404}}"""))
    }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    StubState.copies.increment()
  }
}

/** Times each request as the pipeline sees it (pacing, back-off and
  * retries included) and records it as a span when tracing. */
final class TimedClient(inner: HttpClient) extends HttpClient {
  override def get(url: String, headers: Map[String, String]): HttpResponse = {
    val t0 = System.nanoTime()
    try inner.get(url, headers)
    finally {
      val t1 = System.nanoTime()
      StubState.latencies.add(t1 - t0)
      if (Trace.on) Trace.record(Trace.requestParent(), "request", "sources.http",
        t0, t1, Trace.endpoint(url))
    }
  }
}
