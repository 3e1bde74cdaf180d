package graftbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Api
import graft.model.Cdc
import graft.operators.Index
import graft.sources.Tables
import graft.streaming.Pipelines

/** The read side of what cdc_stream writes: a closed loop of 2 clients,
  * each sending its next request when the previous one returns. Every
  * client cycles through the request types in seed-shuffled order with
  * a seed-chosen variant, so each type carries the same weight. Set-up
  * writes the tables with the streaming sinks' own batch functions, in
  * calls the size of one micro-batch. */
object ServingReads {
  val Clients = 2
  val Variants = 8
  /** micro-batches the set-up writes the state table in */
  val Batches = 4
  /** the mirror is written in catch-up-sized calls (1000 envelopes) */
  val MirrorBatches = 2
  val Types = Seq("trending", "timeline", "wordcloud", "search", "category_stats",
    "daily_counts", "state_range", "mirror_range", "vector_search")
  private val words = Seq("table", "query", "stream", "window", "batch", "spark",
    "merge", "value")
  private val eventTypes = Seq("signup", "error", "click", "view", "purchase")
  private val langs = Seq("en", "de", "fr", "es", "zh")

  final class Served(val api: Api, val state: String, val mirror: String,
      val firstMinuteMs: Long, val index: Index.IvfPq)

  def setup(c: Ctx, gen: String): Served = {
    val spark = c.spark
    val root = c.dir("serve")
    val parsed = Cdc.parse(spark.read.text(s"$gen/tables.jsonl"), col("value"))
      .withColumn("seq", coalesce(col("after.views_count"), col("before.views_count")))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .cache()
    val n = parsed.agg(max(col("seq"))).head().getInt(0) + 1
    val mirrorBatch = floor(col("seq") * MirrorBatches / n)
    // the three tables are independent: written concurrently
    val mirror = s"$root/mirror"
    val mirrorDone = Future {
      (0 until MirrorBatches).foreach { b =>
        Pipelines.applyCdcBatch(spark, parsed.filter(mirrorBatch === b), mirror,
          Pipelines.MirrorBuckets, Pipelines.ReferenceTablePolicy,
          Pipelines.TablePolicy.SkipTable)
      }
    }
    val index = Future(Index.buildIvfPq(Tables.embeddings(spark, c.data), 16, s"$root/ivfpq"))
    // each closed window lands once, in the trigger whose envelopes
    // closed it: here the batch of the window's first envelope
    val counts = CdcStream.keywordsOf(parsed)
      .groupBy(window(col("event_time"), "1 minute"), col("keyword"))
      .agg(count(lit(1)).as("count"), min(col("seq")).as("first"))
      .select(col("window.start").as("minute"), col("keyword"), col("count"),
        floor(col("first") * Batches / n).as("b"))
      .cache()
    val state = s"$root/keyword_counts"
    (0 until Batches).foreach { b =>
      Pipelines.applyClusteredStateBatch(counts.filter(col("b") === b).drop("b"),
        state, b.toLong, Seq("keyword", "minute"))
    }
    val first = counts.agg(min(col("minute"))).head().getTimestamp(0).getTime
    counts.unpersist()
    Await.result(mirrorDone, Duration.Inf)
    parsed.unpersist()
    val served = new Served(new Api(Tables.documents(spark, c.data),
      Tables.events(spark, c.data)), state, mirror, first, Await.result(index, Duration.Inf))
    served
  }

  /** The request of type `t`, variant `v`, as a DataFrame. */
  def request(c: Ctx, tb: Served, t: String, v: Int): DataFrame = {
    val spark = c.spark
    t match {
      case "trending" => tb.api.trendingKeywordsAdvanced(10 + 5 * v)
      case "timeline" => tb.api.keywordTimeline(eventTypes(v % eventTypes.size))
      case "wordcloud" => tb.api.wordcloud(20 + 10 * v)
      case "search" => tb.api.searchArticles(keyword = Some(words(v)),
        lang = if (v % 2 == 0) Some(langs(v % langs.size)) else None, page = v % 3)
      case "category_stats" => tb.api.categoryStats
      case "daily_counts" => tb.api.dailyCounts(3 + v)
      case "state_range" =>
        val from = tb.firstMinuteMs + v * 10L * 60 * 1000
        spark.read.parquet(tb.state)
          .filter(col("keyword") === words(v) &&
            col("minute").between(timestamp_millis(lit(from)),
              timestamp_millis(lit(from + 30L * 60 * 1000))))
          .select("minute", "keyword", "count")
      case "mirror_range" =>
        spark.read.parquet(tb.mirror)
          .filter(col("table") === Seq("articles", "media", "article_changes")(v % 3) &&
            col("id").between(40L * v, 40L * v + 80))
          .select("id", "ts_ms", "is_deleted", "value")
      case "vector_search" => tb.index.search(37L * v, 10)
    }
  }

  /** One request: build + plan, then execute; checked against golden. */
  def serve(c: Ctx, tb: Served, golden: Golden, t: String, v: Int, id: String,
      timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    val err = try {
      val rows = c.trace("api.request", id) {
        val df = c.trace("api.build", id)(request(c, tb, t, v))
        c.trace("plans.plan", id)(df.queryExecution.executedPlan)
        val planNs = System.nanoTime() - t0
        val rows = c.trace("engine.execute", id)(df.collect().toSeq)
        if (timed) c.rec.sample(s"api.$t.plan_ms", planNs / 1e6)
        rows
      }
      if (timed) c.rec.add("serve.rows_returned", rows.size.toDouble)
      val h = Check.hash(rows)
      if (golden.matches(s"$t/$v", h)) None else Some(s"check $t/$v: result $h is not golden")
    } catch { case e: Throwable => Some(c.rec.failure(s"$t/$v", e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    c.rec.op(err.isEmpty, err.getOrElse(""))
    if (timed) {
      c.rec.sample("serve.latency_ms", ms)
      c.rec.sample(s"api.$t.ms", ms)
    }
  }

  /** `Clients` closed-loop clients, each sending every request type once
    * per cycle in a shuffled order until `deadline`. A cycle once begun
    * is finished, so every type is sent equally often. */
  def clientLoop(c: Ctx, tb: Served, golden: Golden, seed: Long, deadline: Long,
      timed: Boolean): Unit = {
    val clients = (0 until Clients).map { k =>
      new Thread(() => {
        val rng = new Random(seed * 1000003L + k)
        var i = 0
        do {
          rng.shuffle(Types).foreach { t =>
            serve(c, tb, golden, t, rng.nextInt(Variants), s"c$k-$i", timed)
            i += 1
          }
        } while (System.nanoTime() < deadline)
      }, s"client-$k")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  def run(c: Ctx, gen: String, golden: Golden, setupDone: () => Unit): Unit = {
    val tb = setup(c, gen)
    // recording golden values: every variant once, one at a time
    if (golden.write)
      for (t <- Types; v <- 0 until Variants) serve(c, tb, golden, t, v, s"golden-$t-$v", timed = false)
    // warm-up: one cycle per client, as measured below but untimed
    clientLoop(c, tb, golden, seed = -1L - c.seed, deadline = 0L, timed = false)
    setupDone()
    val e0 = c.engine.snapshot
    val p0 = c.plans.snapshot
    val t0 = System.nanoTime()
    clientLoop(c, tb, golden, c.seed, t0 + c.seconds * 1000000000L, timed = true)
    val wallS = (System.nanoTime() - t0) / 1e9
    Measure.engine(c, e0, p0, wallS)
    val lat = c.rec.samplesOf("serve.latency_ms")
    val requests = lat.size.toDouble
    c.rec.set("serve.rps", requests / wallS)
    val plan = Types.flatMap(t => c.rec.samplesOf(s"api.$t.plan_ms")).sum
    c.rec.set("serve.plan_share", plan / lat.sum)
    val e = c.engine.snapshot
    c.rec.set("sources.rows_read_per_row_returned",
      (e("input_records") - e0("input_records")) /
        math.max(1.0, c.rec.value("serve.rows_returned")))
    c.rec.set("sources.bytes_read_per_request",
      (e("input_bytes") - e0("input_bytes")) / 1024.0 / requests)
    c.rec.set("engine.jobs_per_request", (e("jobs") - e0("jobs")) / requests)
  }
}
