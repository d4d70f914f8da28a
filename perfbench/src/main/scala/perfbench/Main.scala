package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside its own run directory. `run.py` builds the
  * classpath, prepares the directory, starts the `cdc_live` generator and
  * turns the JSON this writes into the benchmark's result line.
  *
  * Usage: Main key=value... (see [[Args]]).
  */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
  def int(k: String): Int = apply(k).toInt
  def dbl(k: String): Double = apply(k).toDouble
  val workload: String = apply("workload")
  val seed: Long = apply("seed").toLong
  val seconds: Double = dbl("seconds")
  val trace: Boolean = apply("trace") == "1"
  val cores: Int = int("cores")
  val runDir: Path = Paths.get(apply("run_dir"))
}

/** Everything a workload reports: end-to-end metrics, per-layer metrics
  * and the output-check tally. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  var valid = true
  val notes = mutable.ArrayBuffer.empty[String]

  def json: String = {
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "0" else v.toString}""" }
        .mkString("{", ",", "}")
    val ns = notes.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString("[", ",", "]")
    s"""{"valid":$valid,"attempted":$attempted,"failed":$failed,"e2e":${obj(e2e)},""" +
      s""""layer":${obj(layer)},"notes":$ns}"""
  }
}

/** Shared state of one run. */
final class Ctx(val a: Args, val spark: SparkSession, val spans: Spans,
    val counters: Option[Counters], val progress: Progress, val report: Report) {
  private var n = 0
  def fresh(prefix: String): String = { n += 1; s"$prefix-${a.seed}-$n" }
  def dir(name: String): Path = Files.createDirectories(a.runDir.resolve(name))
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val report = new Report
    val spans = new Spans(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}", a.trace)
    var spark: SparkSession = null
    val status =
      try {
        spark = SparkSession.builder()
          .master(s"local[${a.cores}]")
          .appName(s"perfbench-${a.workload}")
          .config("spark.sql.shuffle.partitions", a.cores.toString)
          .config("spark.default.parallelism", a.cores.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", a.runDir.resolve("warehouse").toString)
          // The default FileContext-based manager renames through Hadoop's
          // AbstractFileSystem, which on the local filesystem (no Hadoop
          // native library) spawns a `readlink` process per rename: about
          // 70 ms of every offset/commit-log write and 390 ms of every state
          // commit, varying with host load. Checkpoints still go through the
          // same logs and state store; only the rename path differs.
          .config("spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        val counters = if (a.trace) Some(new Counters) else None
        counters.foreach(spark.sparkContext.addSparkListener)
        val progress = new Progress
        spark.streams.addListener(progress)
        val ctx = new Ctx(a, spark, spans, counters, progress, report)
        spans("run", "harness") {
          a.workload match {
            case "cdc_catchup" => CatchUp.run(ctx, jvmStartUs)
            case "cdc_live" => Live.run(ctx, jvmStartUs)
            case "query_mix" => Mix.run(ctx, jvmStartUs)
            case w => sys.error(s"unknown workload $w")
          }
        }
        if (a.trace) {
          spans.selfSeconds.foreach { case (layer, s) => report.layer(s"self.${layer}_s") = s }
          report.layer("trace.spans") = spans.all.length
          spans.write(a.runDir.resolve("spans.jsonl"))
          jvm(report)
        }
        report.layer("catalog.temp_views_left") =
          spark.catalog.listTables().collect().count(_.isTemporary).toDouble
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          report.valid = false
          report.notes += s"${e.getClass.getSimpleName}: ${e.getMessage}"
          1
      } finally {
        if (spark != null) {
          spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
          spark.stop()
        }
      }
    Files.writeString(a.runDir.resolve("result.json"), report.json)
    sys.exit(status)
  }

  private def jvm(r: Report): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    r.layer("jvm.peak_heap_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
    r.layer("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Spark task counters over a measured region, per workload. */
  def sparkLayer(ctx: Ctx, before: Acc, after: Acc, wallS: Double): Unit = {
    val r = ctx.report.layer
    r("spark.jobs") = (after.jobs - before.jobs).toDouble
    r("spark.tasks") = (after.tasks - before.tasks).toDouble
    r("spark.task_run_s") = (after.runMs - before.runMs) / 1e3
    r("spark.task_cpu_s") = (after.cpuNs - before.cpuNs) / 1e9
    r("spark.gc_s") = (after.gcMs - before.gcMs) / 1e3
    r("spark.shuffle_write_mb") = (after.shWrite - before.shWrite) / 1e6
    r("spark.shuffle_read_mb") = (after.shRead - before.shRead) / 1e6
    r("spark.spill_mb") = (after.spill - before.spill) / 1e6
    r("spark.utilization") =
      if (wallS > 0) (after.runMs - before.runMs) / 1e3 / (wallS * ctx.a.cores) else 0.0
  }

  def snapshot(ctx: Ctx): Acc =
    ctx.counters.map(_.snapshot()).getOrElse(new Acc)
}
