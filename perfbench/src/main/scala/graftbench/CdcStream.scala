package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.functions.Text
import graft.model.Cdc
import graft.streaming.{Pipelines, Stateful}

/** The six-sink dataflow of `jobs/StreamingJob.scala`, rebuilt here with
  * the same parameters over a JSON-lines file source (no broker) and a
  * zero trigger interval. Duplicated until the job's wiring becomes a
  * callable function.
  *
  * Phases: warm-up (two triggers per sink, discarded, part of set-up),
  * then the measured trickle: an open-loop writer at 20 envelopes/s per
  * core for `seconds`, whatever the stream is doing, with the intake
  * of each trigger bounded by `maxFilesPerTrigger`; the run ends when
  * every sink has committed every envelope. */
object CdcStream {
  val Sinks = Seq("counts", "alerts", "mirror", "rank", "landing", "neardup")
  val LinesPerFile = 50
  val MaxFilesPerTrigger = 20
  val TickMs = 500
  val RatePerCore = 20
  /** envelopes further behind the running maximum are the generator's
    * late ones (it writes them 50-90 min behind; normal ones ascend) */
  val LateMs: Long = 30L * 60 * 1000
  val ZeroTrigger: Trigger = Trigger.ProcessingTime(0L)

  /** The job's keyword fan-out of the upserts in `parsed`. */
  def keywordsOf(parsed: DataFrame): DataFrame =
    Pipelines.keywordFanout(Cdc.upserts(parsed), "after.content",
      Text.validKeywords(col("after.content")))

  /** The job's document projection of the upserts in `parsed`. */
  def docsOf(parsed: DataFrame): DataFrame =
    Cdc.upserts(parsed)
      .select(col("after.id").as("doc_id"), col("after.content").as("text"),
        col("event_time"))
      .filter(col("doc_id").isNotNull && col("text").isNotNull)

  /** The StreamingJob wiring; returns (sink name, query) pairs. */
  def start(spark: SparkSession, src: String, out: String): Seq[(String, StreamingQuery)] = {
    val parsed = Cdc.parse(
      Pipelines.rateLimited(spark.readStream.format("text"),
        maxFilesPerTrigger = Some(MaxFilesPerTrigger)).load(src),
      col("value"))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val keywords = keywordsOf(parsed)
    val counts = Pipelines.clusteredStateSink(
      keywords.withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "1 minute"), col("keyword"))
        .count()
        .select(col("window.start").as("minute"), col("keyword"), col("count")),
      s"$out/keyword_counts", s"$out/ckpt/counts", keys = Seq("keyword", "minute"),
      trigger = ZeroTrigger)
    val alerts = Pipelines.trendingAlerts(
      keywords, "event_time", "keyword", threshold = 10, watermark = "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt/alerts")
      .trigger(ZeroTrigger)
      .format("parquet").option("path", s"$out/trending_alerts")
      .start()
    val mirror = Pipelines.cdcMirrorSink(spark, parsed, s"$out/mirror",
      s"$out/ckpt/mirror", trigger = ZeroTrigger,
      policy = Pipelines.ReferenceTablePolicy,
      defaultPolicy = Pipelines.TablePolicy.SkipTable)
    val rank = Pipelines.rankDeltaSnapshotSinkTtl(spark, keywords, "keyword",
      "event_time", s"$out/rank_state", s"$out/ckpt/rank",
      ttlMs = 7L * 24 * 3600 * 1000, topN = 50, watermarkDelay = "10 minutes",
      trigger = ZeroTrigger)
    val docs = docsOf(parsed)
    val landing = Pipelines.curatedLandingSink(
      Pipelines.dedupByContent(docs, "text", "event_time"),
      s"$out/curated", s"$out/ckpt/landing", trigger = ZeroTrigger)
    val neardup = Stateful.lshCandidateStream(docs, "doc_id", "text", "event_time",
      ttlMs = 1000L * 3600 * 24, watermarkDelay = "10 minutes")
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$out/ckpt/neardup")
      .trigger(ZeroTrigger)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Stateful.CandidatePair], _: Long) =>
        df.write.mode("append").parquet(s"$out/neardup_candidates")
      }
      .start()
    Sinks.zip(Seq(counts, alerts, mirror, rank, landing, neardup))
  }

  /** Writes envelope files into the source directory: hidden temp file,
    * then a rename, so the file source never lists a partial file. */
  final class Feeder(dir: File) {
    final case class Written(name: String, phase: String, dueMs: Seq[Double])
    val files = mutable.ArrayBuffer[Written]()
    var lateMaxMs = 0L

    def delivered: Long = files.iterator.map(_.dueMs.size.toLong).sum

    private def write(lines: Seq[String], phase: String, due: Seq[Double]): Unit = {
      val name = f"${files.size}%06d.txt"
      val tmp = new File(dir, "." + name)
      Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      files += Written(name, phase, due)
    }

    /** All lines at once, due now. */
    def burst(lines: Seq[String], phase: String): Unit = {
      val now = System.currentTimeMillis().toDouble
      lines.grouped(LinesPerFile).foreach(g => write(g, phase, g.map(_ => now)))
    }

    /** Open loop: envelope j is due at t0 + j / rate; every tick writes
      * the envelopes that have come due, whatever the stream is doing. */
    def openLoop(lines: Seq[String], perSecond: Int, seconds: Int): Unit = {
      val n = math.min(lines.size, perSecond * seconds)
      val t0 = System.currentTimeMillis()
      def due(j: Int): Double = t0 + j * 1000.0 / perSecond
      var next = 0
      var tick = 0
      while (next < n) {
        val at = t0 + tick.toLong * TickMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMaxMs = math.max(lateMaxMs, System.currentTimeMillis() - at)
        val upto = (next until n).find(j => due(j) > at).getOrElse(n)
        if (upto > next) write(lines.slice(next, upto), "trickle", (next until upto).map(due))
        next = upto
        tick += 1
      }
    }
  }

  /** Every progress event, per query, as the engine reports it. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
    /** (query, action) run on each of the query's data triggers */
    @volatile var onData: Option[(UUID, StreamingQueryProgress => Unit)] = None
    def of(id: UUID): Seq[StreamingQueryProgress] =
      Option(events.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
    def rows(id: UUID): Long = of(id).map(_.numInputRows).sum
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.computeIfAbsent(e.progress.id, _ => new ConcurrentLinkedQueue()).add(e.progress)
      onData.foreach { case (id, f) =>
        if (e.progress.id == id && e.progress.numInputRows > 0) f(e.progress) }
    }
  }

  private def readLines(f: String): Seq[String] =
    Files.readAllLines(new File(f).toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def run(c: Ctx, gen: String, setupDone: () => Unit): Unit = {
    val spark = c.spark
    val root = c.dir("cdc")
    val src = new File(root, "in")
    src.mkdirs()
    val out = s"$root/out"
    val warm = readLines(s"$gen/warm.jsonl")
    val trickle = readLines(s"$gen/trickle.jsonl")
    val progress = new Progress
    spark.streams.addListener(progress)
    val queries = start(spark, src.getPath, out)
    // the mirror's published buckets carry the time their files were
    // staged: the ones newer than the trigger's start were rewritten by it
    if (c.trace.enabled) progress.onData = Some(queries.toMap.apply("mirror").id -> {
      (p: StreamingQueryProgress) =>
        val since = java.time.Instant.parse(p.timestamp).toEpochMilli
        val touched = Option(new File(s"$out/mirror").listFiles()).getOrElse(Array.empty[File])
          .filter(d => d.getName.startsWith("bucket=") && d.lastModified() >= since)
        c.rec.sample("streaming.mirror.buckets_rewritten_per_trigger", touched.length)
        c.rec.sample("streaming.mirror.bytes_written_per_trigger",
          touched.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File]))
            .map(_.length).sum / 1048576.0)
    })
    val feeder = new Feeder(src)

    def awaitDrain(what: String): Unit = {
      val target = feeder.delivered
      val deadline = System.currentTimeMillis() + 150000
      while (queries.exists { case (_, q) => progress.rows(q.id) < target }) {
        queries.foreach { case (n, q) =>
          q.exception.foreach(e => throw new IllegalStateException(s"sink $n failed", e)) }
        require(System.currentTimeMillis() < deadline, s"$what: sinks did not drain")
        Thread.sleep(10)
      }
    }

    try {
      // two warm-up triggers: a stateful sink judges late rows against
      // the watermark of the batch before last
      val (first, second) = warm.splitAt(warm.size / 4)
      Seq(first, second).foreach { part =>
        feeder.burst(part, "warm")
        awaitDrain("warm-up")
      }
      setupDone()
      val warmBatches = queries.map { case (n, q) => n -> progress.of(q.id).size }.toMap
      val (e0, p0) = (c.engine.snapshot, c.plans.snapshot)
      val t0 = System.currentTimeMillis()
      feeder.openLoop(trickle, RatePerCore * c.cores, c.seconds)
      c.rec.set("stream.backlog_end", queries.map { case (_, q) =>
        feeder.delivered - progress.rows(q.id) }.max.toDouble)
      awaitDrain("trickle")
      Measure.engine(c, e0, p0, (System.currentTimeMillis() - t0) / 1000.0)
      // stateful sinks emit closed windows in the next (no-data) batch
      val deadline = System.currentTimeMillis() + 10000
      while (Seq("counts", "alerts").exists { n =>
          progress.of(queries.toMap.apply(n).id).lastOption.forall(_.numInputRows > 0) } &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
      queries.foreach(_._2.stop())
      report(c, feeder, progress, queries.map { case (n, q) => n -> q.id }.toMap,
        warmBatches, t0, out)
      checks(c, src.getPath, out, feeder.delivered,
        queries.map { case (n, q) => n -> progress.of(q.id) }.toMap)
      if (c.trace.enabled) staged(c, trickle)
    } finally {
      queries.foreach(_._2.stop())
      spark.streams.removeListener(progress)
    }
  }

  /** file name -> batch id, from a sink's file-source log. */
  private def fileBatches(ckpt: String): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    // each log file: a version line, then one JSON entry per file read
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.startsWith("{")))
      .map(Json.mapper.readTree)
      .map(e => e.get("path").asText.split('/').last -> e.get("batchId").asLong).toMap
  }

  private def commitMs(ckpt: String, batch: Long): Long =
    new File(s"$ckpt/commits/$batch").lastModified()

  private def report(c: Ctx, feeder: Feeder, progress: Progress, ids: Map[String, UUID],
      warmBatches: Map[String, Int], t0: Long, out: String): Unit = {
    val rec = c.rec
    val batches = Sinks.map(s => s -> fileBatches(s"$out/ckpt/$s")).toMap
    // the moment the last sink committed the trigger that read file f
    def covered(f: String): Long = Sinks.map { s =>
      batches(s).get(f).map(b => commitMs(s"$out/ckpt/$s", b)).getOrElse(Long.MaxValue)
    }.max
    val trickle = feeder.files.filter(_.phase == "trickle")
    // commit time per envelope, in delivery order (files are read in order)
    val done = trickle.flatMap { f => val t = covered(f.name); f.dueMs.map(d => (d, t)) }
    done.foreach { case (due, t) => rec.sample("stream.freshness_ms", t - due) }
    // envelopes per second from the first due time to the commit of the
    // median envelope: the last few files fall into one trigger more or
    // less, which would swing a rate taken to the last commit
    rec.set("stream.eps", (done.size / 2) / ((done(done.size / 2)._2 - t0) / 1000.0))
    rec.set("stream.generator_late_ms_max", feeder.lateMaxMs.toDouble)
    // per-sink trigger phases, after the warm-up, from the engine's own record
    val t0Ns = System.nanoTime() - System.currentTimeMillis() * 1000000L
    Sinks.foreach { s =>
      val ps = progress.of(ids(s)).drop(warmBatches(s))
      ps.filter(_.numInputRows > 0).foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        rec.sample("stream.trigger_ms", d.getOrElse("triggerExecution", 0L).toDouble)
        Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
            "planning_ms" -> "queryPlanning", "commit_ms" -> "commitOffsets")
          .foreach { case (m, k) => rec.sample(s"streaming.$s.$m", d.getOrElse(k, 0L).toDouble) }
        if (c.trace.enabled) {
          val startNs = t0Ns + java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
          val trace = s"$s#${p.batchId}"
          val root = c.trace.add(s"streaming.$s.trigger", trace, 0L, startNs,
            startNs + d.getOrElse("triggerExecution", 0L) * 1000000L)
          // phases laid end to end in the engine's order inside the trigger
          var at = startNs
          Seq("latestOffset", "queryPlanning", "getBatch", "walCommit", "addBatch",
              "commitOffsets").foreach { k =>
            val ns = d.getOrElse(k, 0L) * 1000000L
            if (ns > 0) c.trace.add(s"streaming.$s.$k", trace, root, at, at + ns)
            at += ns
          }
        }
      }
      ps.lastOption.foreach { p =>
        val ops = p.stateOperators.toSeq
        if (ops.nonEmpty) {
          rec.set(s"streaming.$s.state_rows", ops.map(_.numRowsTotal).sum.toDouble)
          rec.set(s"streaming.$s.state_mb", ops.map(_.memoryUsedBytes).sum / 1048576.0)
        }
      }
      val dropped = progress.of(ids(s)).flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      if (progress.of(ids(s)).exists(_.stateOperators.nonEmpty))
        rec.set(s"streaming.$s.late_rows_dropped", dropped.toDouble)
    }
    // mirror buckets published per trigger: bucket dirs carry the
    // rename time of their last publish
  }

  /** Each sink against its batch twin over every delivered envelope. */
  private def checks(c: Ctx, src: String, out: String, delivered: Long,
      progress: Map[String, Seq[StreamingQueryProgress]]): Unit = {
    val spark = c.spark
    val rec = c.rec
    rec.ops(delivered)
    val parsed = Cdc.parse(spark.read.text(src), col("value"))
      .withColumn("seq", coalesce(col("after.views_count"), col("before.views_count")))
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .cache()
    rec.set("model.parsed_rows", parsed.count().toDouble)
    // the stream drops what is behind its watermark; the generator's late
    // envelopes are the ones far behind the running maximum
    val order = parsed.select(col("seq"), col("ts_ms")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var runMax = order.headOption.map(_._2).getOrElse(0L)
    val late = order.flatMap { case (s, ts) =>
      val isLate = ts < runMax - LateMs
      runMax = math.max(runMax, ts)
      if (isLate) Some(s) else None
    }
    rec.set("stream.late_envelopes", late.length.toDouble)
    val onTime = parsed.filter(!col("seq").isin(late.toIndexedSeq.map(Int.box): _*))
    def watermarkMs(s: String): Long = progress(s).lastOption
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    // the checks are independent Spark jobs: run them concurrently
    val pending = mutable.ArrayBuffer[Future[Unit]]()
    def run(name: String)(body: => String): Unit = pending += Future {
      try rec.check(name, body) catch { case e: Throwable => rec.op(ok = false,
        rec.failure(s"check $name", e)) }
    }

    def nonEmpty(path: String): String =
      if (spark.read.parquet(path).isEmpty) s"no rows in $path" else ""
    run("mirror") {
      val twin = s"${c.dir("cdc-check")}/mirror"
      Pipelines.applyCdcBatch(spark, parsed, twin, Pipelines.MirrorBuckets,
        Pipelines.ReferenceTablePolicy, Pipelines.TablePolicy.SkipTable)
      val cols = Seq("id", "table", "ts_ms", "value", "is_deleted").map(col)
      Check.diff(spark.read.parquet(s"$out/mirror").select(cols: _*),
        spark.read.parquet(twin).select(cols: _*))
    }
    val keywords = keywordsOf(onTime)
    run("counts") {
      val w = watermarkMs("counts")
      val twin = keywords.groupBy(window(col("event_time"), "1 minute"), col("keyword"))
        .count()
        .filter(col("window.end") <= timestamp_millis(lit(w)))
        .select(col("window.start").as("minute"), col("keyword"), col("count"))
      Check.diff(spark.read.parquet(s"$out/keyword_counts")
        .select("minute", "keyword", "count"), twin)
    }
    run("alerts") {
      val w = watermarkMs("alerts")
      val twin = Pipelines.trendingAlerts(keywords, "event_time", "keyword", threshold = 10)
        .filter(col("window_start") + expr("INTERVAL 30 minutes") <= timestamp_millis(lit(w)))
      // the generator closes an alert window on every seed: an empty twin
      // means the check would compare nothing
      if (twin.isEmpty) s"no alert window closed by watermark $w"
      else Check.diff(spark.read.parquet(s"$out/trending_alerts"), twin)
    }
    run("landing") { nonEmpty(s"$out/curated") }
    run("rank") { nonEmpty(s"$out/rank_state/snapshot") }
    run("neardup") { nonEmpty(s"$out/neardup_candidates") }
    pending.foreach(Await.result(_, Duration.Inf))
    parsed.unpersist()
  }

  /** Traced runs only: each layer called once on one fixed, materialized
    * batch of envelopes, timed from here. */
  private def staged(c: Ctx, envelopes: Seq[String]): Unit = {
    val spark = c.spark
    import spark.implicits._
    val lines = envelopes.take(500)
    val raw = lines.toDF("value").cache()
    raw.count()
    val per1k = 1000.0 / lines.size
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = c.trace(name, "staged")(body)
      (r, (System.nanoTime() - t0) / 1e6)
    }
    val (parsedN, parseMs) = timed("model.parse")(Cdc.parse(raw, col("value")).count())
    c.rec.set("model.parse_ms_per_1k", parseMs * per1k)
    val parsed = Cdc.parse(raw, col("value"))
      .withColumn("event_time", timestamp_millis(col("ts_ms"))).cache()
    parsed.count()
    val upserts = Cdc.upserts(parsed).count()
    val (kwN, fanMs) = timed("functions.fanout")(keywordsOf(parsed).count())
    c.rec.set("functions.fanout_ms_per_1k", fanMs * per1k)
    c.rec.set("functions.keywords_per_envelope", kwN.toDouble / math.max(1L, upserts))
    val dir = c.dir("cdc-staged")
    c.rec.set("streaming.mirror.apply_ms", timed("streaming.mirror.apply")(
      Pipelines.applyCdcBatch(spark, parsed, s"$dir/mirror", Pipelines.MirrorBuckets,
        Pipelines.ReferenceTablePolicy, Pipelines.TablePolicy.SkipTable))._2)
    val keywords = keywordsOf(parsed)
    c.rec.set("streaming.counts.apply_ms", timed("streaming.counts.apply")(
      Pipelines.applyClusteredStateBatch(
        keywords.groupBy(window(col("event_time"), "1 minute"), col("keyword")).count()
          .select(col("window.start").as("minute"), col("keyword"), col("count")),
        s"$dir/counts", 0L, Seq("keyword", "minute")))._2)
    c.rec.set("streaming.rank.apply_ms", timed("streaming.rank.apply")(
      Pipelines.applyRankDeltaUpdates(spark,
        keywords.groupBy(col("keyword").as("key")).agg(count(lit(1)).as("total"))
          .withColumn("evicted", lit(false)), s"$dir/rank", 50))._2)
    val docs = docsOf(parsed)
    c.rec.set("operators.curate_stream_ms", timed("operators.curate_stream")(
      graft.operators.Curation.curateStream(docs, col("doc_id"), col("text"))
        .filter(col("verdict") === "keep").count())._2)
    c.rec.set("operators.lsh_candidates_ms", timed("operators.lsh_candidates")(
      Stateful.lshCandidateStream(docs, "doc_id", "text", "event_time",
        ttlMs = 1000L * 3600 * 24).count())._2)
    require(parsedN > 0)
    parsed.unpersist()
    raw.unpersist()
  }
}
