package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Caches, GQ, Registry}

/** The declared query surface: `Registry` queries over the sf0.01 tables in
  * `data/`, in an order the seed permutes afresh each pass. The timed action
  * is a `noop` write, which consumes every row and column. The cold pass
  * also fingerprints each result and checks it against `expected/`. */
final class Surface(spark: SparkSession, o: Main.Opts) extends Workload(spark, o) {
  private val dir = s"${o.benchDir}/data/sf0.01"
  private val expectedPath = s"${o.benchDir}/expected/surface-sf0.01.json"

  private val family: Map[String, String] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "Joins" -> graft.operators.Joins.queries,
    "Aggregates" -> graft.operators.Aggregates.queries,
    "SetOps" -> graft.operators.SetOps.queries,
    "Windows" -> graft.operators.Windows.queries,
    "EventsOps" -> graft.operators.EventsOps.queries,
    "TextOps" -> graft.operators.TextOps.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Ann" -> graft.operators.Ann.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Fingerprint" -> graft.operators.Fingerprint.queries,
    "Curation" -> graft.operators.Curation.queries,
    "BloomPrune" -> graft.operators.BloomPrune.queries,
    "Retrieval" -> graft.operators.Retrieval.queries,
    "Layout" -> graft.operators.Layout.queries,
    "GraphOps" -> graft.operators.GraphOps.queries,
    "DataQuality" -> graft.operators.DataQuality.queries,
    "Stats" -> graft.operators.Stats.queries,
    "Recs" -> graft.operators.Recs.queries,
    "LinearAlgebra" -> graft.operators.LinearAlgebra.queries,
    "Lm" -> graft.operators.Lm.queries,
    "LlmPipeline" -> graft.operators.LlmPipeline.queries,
    "StreamQueries" -> graft.streaming.StreamQueries.queries
  ).flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Recording the expected file covers the whole surface. */
  private val queries: Seq[GQ] =
    if (o.record.nonEmpty) Registry.all else Surface.Queries.map(Registry.byName)
  private var expected: Map[String, (Long, String)] = Map.empty
  private val rng = new scala.util.Random(o.seed)
  private val recorded = scala.collection.mutable.LinkedHashMap[String, (Long, String)]()
  /** Per-query ledger rows of the last traced pass, for the sidecar. */
  private var ledgerRows = Seq.empty[(String, Map[String, Double])]
  private val warmTimes =
    scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Seq.empty)
  override def opTimes: Map[String, Seq[Double]] = warmTimes.toMap
  /** Three warm passes, so each query's best time is a best of three. */
  override def minWarm: Int = 3
  /** One latency per query: its best warm time. The quantiles of ten
    * queries rest on the slowest two or three, so one slow pass of one of
    * them would otherwise move `query_p95_s` on its own. */
  override def latencies(warm: Seq[Iter]): Seq[Double] = warmTimes.values.map(_.min).toSeq

  override def setup(): Unit = if (o.record.isEmpty) {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(expectedPath))
    expected = node.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asText)
    }.toMap
  }

  /** Row count and the sum of per-row xxhash64 values as DECIMAL(38,0): the
    * sum ignores row order, counts duplicates, and cannot overflow. */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val p = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def agg(h: org.apache.spark.sql.Column) = p.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val r =
      try agg(xxhash64(p.columns.map(col).toIndexedSeq: _*))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        agg(xxhash64(to_json(struct(p.columns.map(col).toIndexedSeq: _*))))
      }
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  override def iterate(i: Int, traced: Boolean, tap: Option[SparkTap]): Iter = {
    val order = rng.shuffle(queries)
    val stream0 = StreamTap.snapshot
    val fromMs = System.currentTimeMillis()
    val runs = order.map(runOne(_, cold = i == 0))
    val toMs = System.currentTimeMillis()
    val layers = tap.filter(_ => traced).map { t =>
      t.drain()
      ledgerRows = runs.map(r => r.name -> (t.ledger(r.fromMs, r.toMs) ++ Map(
        "build_s" -> r.buildNs / 1e9, "action_s" -> r.actionNs / 1e9,
        "codegen.compiles" -> r.compiles.toDouble)))
      val stream1 = StreamTap.snapshot
      t.ledger(fromMs, toMs) ++
        stream1.map { case (k, v) => k -> (v - stream0(k)) } ++
        runs.groupBy(_.family).map { case (f, rs) =>
          s"family.$f.s" -> rs.map(r => r.buildNs + r.actionNs).sum / 1e9 } ++
        Map("surface.build_s" -> runs.map(_.buildNs).sum / 1e9,
          "surface.action_s" -> runs.map(_.actionNs).sum / 1e9,
          "codegen.compiles" -> runs.map(_.compiles).sum.toDouble)
    }.getOrElse(Map.empty[String, Double])
    if (traced) writeLedger()
    if (i > 0) runs.foreach(r => warmTimes(r.name) :+= (r.buildNs + r.actionNs) / 1e9)
    // the cold pass's fingerprint actions are checks, not timed work
    Iter(runs.map(r => r.buildNs + r.actionNs).sum / 1e9,
      runs.map(r => (r.buildNs + r.actionNs) / 1e9), runs.size, runs.count(!_.ok), layers)
  }

  private final case class QRun(name: String, family: String, fromMs: Long, toMs: Long,
      buildNs: Long, actionNs: Long, compiles: Long, ok: Boolean)

  /** Build the plan (`GQ.run`, eager inner actions included), run the noop
    * write, release the query's caches; on the cold pass also check it. */
  private def runOne(q: GQ, cold: Boolean): QRun = {
    val cg0 = SparkTap.compiles
    val fromMs = System.currentTimeMillis()
    var t1 = 0L
    var checkNs = 0L
    var ok = true
    val t0 = System.nanoTime()
    val (_, ns) = Trace.span("query", "core", q.name) { id =>
      try q.apply(spark, dir) { df =>
        t1 = System.nanoTime()
        Trace.record(id, "build", "core", t0, t1, q.name)
        df.write.format("noop").mode("overwrite").save()
        Trace.record(id, "action", "operators", t1, System.nanoTime(), q.name)
        if (cold) {
          val c0 = System.nanoTime()
          val fp = fingerprint(df)
          checkNs = System.nanoTime() - c0
          if (o.record.nonEmpty) recorded(q.name) = fp
          else if (!expected.get(q.name).contains(fp)) {
            System.err.println(s"[perfbench] ${q.name}: fingerprint $fp, " +
              s"expected ${expected.get(q.name)}")
            ok = false
          }
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          ok = false
      } finally {
        spark.catalog.clearCache()
        Caches.release(spark)
      }
    }
    // a query whose build threw counts its whole time as build
    val buildNs = if (t1 == 0L) ns else t1 - t0
    QRun(q.name, family.getOrElse(q.name, "other"), fromMs, System.currentTimeMillis(),
      buildNs, ns - buildNs - checkNs, SparkTap.compiles - cg0, ok)
  }

  /** Per-query ledger of the last traced pass, beside the span file. */
  private def writeLedger(): Unit = {
    val body = ledgerRows.map { case (q, m) =>
      s"  ${Json.str(q)}: " + Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${o.traceDir}/ledger-surface-seed${o.seed}.json"),
      body.mkString("{\n", ",\n", "\n}\n"))
  }

  override def verify(): (Int, Int) = {
    o.record.foreach { path =>
      val body = recorded.map { case (k, (n, h)) => s"  ${Json.str(k)}: [$n, ${Json.str(h)}]" }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
        body.mkString("{\n", ",\n", "\n}\n"))
    }
    (0, 0)
  }
}

object Surface {
  /** The queries a run measures: every 25th of `Registry.all` in declared
    * order, from the first. That is 10 queries over 9 operator families and
    * `StreamQueries` (`Layers.Families`), one of them a stream-stream join.
    * They are fixed by name, so a change to the Registry does not change
    * the workload. A pass over all 230 takes minutes, beyond what one run
    * may take; see README.md. */
  val Queries: Seq[String] = Seq("q_scan_projection", "q_join_lateral", "q_window_rank",
    "q_events_attribution", "q_dedup_minhash_pairs", "q_dedup_semantic_served",
    "q_shuffle_shards", "q_graph_pagerank", "q_time_theilsen", "q_stream_join")
}
