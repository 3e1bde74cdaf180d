package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** JVM half of the benchmark: runs one workload on a `local[4]`
  * product session and writes the raw record (values, samples, spans,
  * the operation tally) to `--out`. run.py turns it into the metrics.
  *
  *   Main --workload <cdc_stream|serving_reads> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *        --gen <dir> --golden <file> --out <file> [--write-golden]
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val writeGolden = args.contains("--write-golden")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.create(appName = "graft-perfbench",
      master = s"local[$Cores]", shufflePartitions = Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new Engine
    val plans = new Plans
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(plans)
    val rec = new Record
    val ctx = Ctx(spark, opts("workload"), opts("seed").toLong, opts("seconds").toInt,
      new Trace(opts("trace") == "1"), rec, new File(opts("work")), opts("data"),
      engine, plans, Cores)
    val golden = Golden(opts("golden"), writeGolden)
    val setupDone = () => rec.set("setup_s", (System.currentTimeMillis() - jvmStart) / 1000.0)
    try ctx.workload match {
      case "cdc_stream" => CdcStream.run(ctx, opts("gen"), setupDone)
      case "serving_reads" => ServingReads.run(ctx, opts("gen"), golden, setupDone)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        rec.op(ok = false, rec.failure("workload", e))
        e.printStackTrace()
    }
    if (writeGolden) golden.save()
    rec.set("peak_rss_mb", peakRssMb)
    if (ctx.trace.enabled) rec.set("trace.span_cost_us", spanCostUs)
    Files.write(new File(opts("out")).toPath, rec.json(ctx.trace).getBytes(UTF_8))
    spark.stop()
  }

  /** Cost of recording one empty span, measured on a private trace. */
  def spanCostUs: Double = {
    val probe = new Trace(true)
    val n = 200000
    val t0 = System.nanoTime()
    (0 until n).foreach(_ => probe("probe", "probe")(()))
    (System.nanoTime() - t0) / 1e3 / n
  }

  /** The JVM's own peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Golden result hashes kept in the benchmark's directory, one per
  * request variant. `write = true` records instead of checks. */
final case class Golden(path: String, write: Boolean) {
  private val known: Map[String, String] = {
    val f = new File(path)
    if (!f.exists()) Map.empty
    else Json.mapper.readValue(f, classOf[java.util.Map[String, String]]).asScala.toMap
  }
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** True when `value` matches the golden entry for `key`. */
  def matches(key: String, value: String): Boolean =
    if (write) { seen.put(key, value); true }
    else known.get(key).contains(value)

  def save(): Unit = {
    val all = new java.util.TreeMap[String, String]((known ++ seen.asScala).asJava)
    Json.mapper.writerWithDefaultPrettyPrinter().writeValue(new File(path), all)
  }
}
