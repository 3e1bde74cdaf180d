package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's JSON reader and writer: Jackson, from Spark's classpath. */
object Json {
  val mapper = new ObjectMapper()

  /** A number for the record; JSON has no NaN or infinity, so those are null. */
  def num(d: Double): java.lang.Double = if (d.isNaN || d.isInfinite) null else d
}

/** In-memory spans, written out once at exit. A span's parent is the
  * innermost open span on the same thread; `trace` names the trigger,
  * request or query the span belongs to. Disabled traces record
  * nothing and add one branch per call. */
final class Trace(val enabled: Boolean) {
  final case class Span(name: String, trace: String, id: Long, parent: Long,
      startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(name, trace, id, stack.headOption.getOrElse(0L), t0,
          System.nanoTime()))
        open.set(stack)
      }
    }

  /** A span whose interval was measured elsewhere (progress durations). */
  def add(name: String, trace: String, parent: Long, startNs: Long, endNs: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.getAndIncrement()
      spans.add(Span(name, trace, id, parent, startNs, endNs))
      id
    }

  def size: Int = spans.size
  /** [name, trace, id, parent, startNs, endNs] per span. */
  def rows: java.util.List[java.util.List[Any]] = spans.asScala.map(s =>
    Seq[Any](s.name, s.trace, s.id, s.parent, s.startNs, s.endNs).asJava).toSeq.asJava
}

/** Everything one run reports: scalar values, latency samples, the
  * operation tally and the failures behind it. */
final class Record {
  private val values = mutable.LinkedHashMap[String, Double]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val errors = mutable.ArrayBuffer[String]()
  private val attempted = new AtomicLong
  private val failed = new AtomicLong

  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  def add(name: String, v: Double): Unit = synchronized {
    values(name) = values.getOrElse(name, 0.0) + v
  }
  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }
  def value(name: String): Double = synchronized { values.getOrElse(name, 0.0) }
  def samplesOf(name: String): Seq[Double] = synchronized {
    samples.get(name).map(_.toSeq).getOrElse(Nil)
  }

  /** One operation attempted; `ok = false` counts it failed. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }
  /** `n` operations attempted that succeeded unless failed later. */
  def ops(n: Long): Unit = attempted.addAndGet(n)
  /** A failure of an operation already counted as attempted. */
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    synchronized { if (errors.size < 50) errors += what }
  }
  def failure(where: String, e: Throwable): String =
    s"$where: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** One output check: counted as an operation, failed when `problem`
    * is not empty. */
  def check(name: String, problem: String): Unit =
    op(problem.isEmpty, s"check $name: $problem")

  def json(trace: Trace): String = synchronized {
    val top = new java.util.LinkedHashMap[String, Any]()
    top.put("attempted", attempted.get)
    top.put("failed", failed.get)
    top.put("errors", errors.asJava)
    top.put("values", values.map { case (k, v) => k -> Json.num(v) }.asJava)
    top.put("samples", samples.map { case (k, vs) => k -> vs.map(Json.num).asJava }.asJava)
    top.put("spans", trace.rows)
    Json.mapper.writeValueAsString(top)
  }
}

/** Engine-wide counters from Spark's task and job events. Totals only:
  * concurrent clients share one session, so per-call attribution is a
  * difference of snapshots taken around the call. */
final class Engine extends SparkListener {
  private val c = mutable.LinkedHashMap(
    Seq("jobs", "task_cpu_ns", "gc_ms", "shuffle_write_bytes",
      "spill_bytes", "input_bytes", "input_records").map(_ -> new AtomicLong): _*)
  override def onJobStart(e: SparkListenerJobStart): Unit = c("jobs").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    c("task_cpu_ns").addAndGet(m.executorCpuTime)
    c("gc_ms").addAndGet(m.jvmGCTime)
    c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
    c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
    c("input_records").addAndGet(m.inputMetrics.recordsRead)
  }
  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}

/** Planning time and Exchange nodes of every finished query execution,
  * read from the AQE-final plan. */
final class Plans extends QueryExecutionListener {
  val exchanges = new AtomicLong
  val planNs = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    exchanges.addAndGet(Plans.nodes(qe.executedPlan).count(_.isInstanceOf[Exchange]).toLong)
    planNs.addAndGet(Plans.planningNs(qe))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def snapshot: Map[String, Long] = Map("exchanges" -> exchanges.get,
    "plan_ns" -> planNs.get)
}

object Plans {
  /** Every node of a physical plan, looking through AQE wrappers and
    * query stages into the plans they finally ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Analysis + optimization + planning time recorded by the tracker. */
  def planningNs(qe: QueryExecution): Long =
    qe.tracker.phases.iterator.collect {
      case (phase, s) if phase != "parsing" => (s.endTimeMs - s.startTimeMs) * 1000000L
    }.sum
}

/** Order-insensitive result hashes for the output checks. Doubles are
  * rounded to 6 significant digits so summation order does not show. */
object Check {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.6g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => row(r)
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
  private def row(r: Row): String = r.toSeq.map(cell).mkString("(", ",", ")")

  def hash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(row).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** "" when `actual` and `expected` hold the same rows (as multisets),
    * else a short account of the difference. */
  def diff(actual: DataFrame, expected: DataFrame): String = {
    val extra = actual.exceptAll(expected).cache()
    val missing = expected.exceptAll(actual).cache()
    try {
      val (e, m) = (extra.count(), missing.count())
      if (e + m == 0) ""
      else s"$e unexpected rows (e.g. ${extra.take(2).mkString(" ")}), " +
        s"$m missing rows (e.g. ${missing.take(2).mkString(" ")})"
    } finally { extra.unpersist(); missing.unpersist() }
  }
}

final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Int, trace: Trace, rec: Record, work: java.io.File, data: String,
    engine: Engine, plans: Plans, cores: Int) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Engine totals over a measured window, per pass/request where asked. */
object Measure {
  def engine(c: Ctx, e0: Map[String, Long], p0: Map[String, Long], wallS: Double): Unit = {
    val e = c.engine.snapshot
    val p = c.plans.snapshot
    def d(k: String) = (e(k) - e0(k)).toDouble
    c.rec.set("engine.jobs", d("jobs"))
    c.rec.set("engine.task_cpu_s", d("task_cpu_ns") / 1e9)
    c.rec.set("engine.gc_s", d("gc_ms") / 1e3)
    c.rec.set("engine.shuffle_write_mb", d("shuffle_write_bytes") / 1048576.0)
    c.rec.set("engine.spill_mb", d("spill_bytes") / 1048576.0)
    c.rec.set("sources.scan_mb", d("input_bytes") / 1048576.0)
    c.rec.set("sources.rows_read", d("input_records"))
    c.rec.set("engine.core_util", d("task_cpu_ns") / 1e9 / (wallS * c.cores))
    c.rec.set("engine.exchanges", (p("exchanges") - p0("exchanges")).toDouble)
    c.rec.set("engine.plan_s", (p("plan_ns") - p0("plan_ns")) / 1e9)
    c.rec.set("engine.wall_s", wallS)
  }
}
