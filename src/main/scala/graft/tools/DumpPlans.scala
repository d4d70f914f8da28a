package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{GraftSessionShim, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan dumper, two modes:
  *
  *  - `runMain graft.tools.DumpPlans <outDir> <name>[,<name>...]` writes
  *    each named entry's plans to `<outDir>/<name>.txt` (names match by
  *    substring, like SPARK_GRAFT_ONLY), so before/after plan claims are
  *    checkable without running Spark;
  *  - `runMain graft.tools.DumpPlans` writes every entry of the inventory
  *    into docs/PLANS.md, one `## <name>` section each (PreflightSpec
  *    checks that the sections match the inventory).
  *
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001) and
  * SPARK_GRAFT_CPUS (default 4) pick the data and the local cores.
  *
  * Three plan sources per entry:
  *  - the returned DataFrame's formatted plan — for plain batch queries
  *    the whole story, and the thing Bench times;
  *  - INTERNAL batch actions observed while the entry builds, via a
  *    QueryExecutionListener (cloned sessions inherit it): iterative
  *    operators (connected components, PageRank supersteps, k-core
  *    peels) pin each round eagerly, and the listener catches each
  *    round's executed plan — the loop body is the plan that matters at
  *    100 TB. Plans that differ only in numbers (expression and RDD ids,
  *    round literals) count once, so a loop shows one plan per distinct
  *    round shape; shown only where the returned plan is a scan of an
  *    RDD or local rows, or the entry streamed;
  *  - STREAMING micro-batch plans: on every progress event, the last
  *    IncrementalExecution of the stream, whichever session runs it
  *    (StreamRun runs streams in a cloned session).
  *
  * Building an entry executes whatever its closure does first, exactly
  * as Bench does before its noop write. Listener events are drained
  * (GraftSessionShim.drainListeners) before each entry's plans are read.
  */
object DumpPlans {
  private val MaxInternal = 6     // distinct internal plan shapes per entry
  private val MaxStreaming = 2    // distinct streaming snapshots per entry
  private val MaxPlanChars = 20000

  def main(args: Array[String]): Unit = {
    val perEntry = args.length >= 2
    require(args.isEmpty || perEntry,
      "usage: DumpPlans [<outDir> <name>[,<name>...]]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val capture = new Capture(spark)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    if (perEntry) {
      val outDir = Files.createDirectories(Paths.get(args(0)))
      val wanted = args(1).split(",").toSeq
      names.filter(n => wanted.exists(n.contains)).foreach { name =>
        Files.writeString(outDir.resolve(s"$name.txt"),
          capture.sections(name, sfDir, "##"))
        println(s"[plans] wrote $name")
      }
    } else {
      val sb = new StringBuilder(header)
      names.zipWithIndex.foreach { case (name, i) =>
        sb ++= s"\n## $name\n\n" ++= capture.sections(name, sfDir, "###")
        if ((i + 1) % 25 == 0) println(s"[plans] ${i + 1}/${names.size}")
      }
      Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
      println(s"wrote docs/PLANS.md (${names.size} queries)")
    }
    spark.stop()
  }

  private val header =
    """# PLANS — physical plan audit of the full query inventory
      |
      |Regenerate with `sbt "runMain graft.tools.DumpPlans"`. Commentary
      |in COVERAGE.md / query scaladocs; the properties to check here:
      |filters/projections reach the parquet scan (PushedFilters,
      |ReadSchema), dimension joins are BroadcastHashJoin, aggregations
      |are partial+final HashAggregate pairs, and no plan contains an
      |unexpected SortMergeJoin or CartesianProduct.
      |
      |Per entry, up to three plan sources: the returned frame's
      |formatted plan; `internal action` plans — batch actions executed
      |while the entry built (iterative loop bodies, fixture builds), one
      |per distinct shape, first few kept; `streaming batch` plans — the
      |IncrementalExecution snapshot of real micro-batch queries the
      |entry ran.
      |""".stripMargin

  /** Listens on `spark` for internal actions and micro-batches and
    * renders one entry's plans. */
  private final class Capture(spark: SparkSession) {
    private val internal = mutable.LinkedHashMap.empty[String, String]
    private val streaming = mutable.LinkedHashSet.empty[String]

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.explainString(SimpleMode)
        internal.synchronized {
          if (internal.size < 64)
            internal.getOrElseUpdate(p.replaceAll("[0-9]+", "0"), p)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        GraftSessionShim.lastBatchPlan(spark, e.progress.id)
          .filter(_.contains("Physical Plan"))
          .foreach(p => streaming.synchronized {
            if (streaming.size < 16) streaming += p
          })
    })
    drain() // session warm-up noise

    private def drain(): (Seq[String], Seq[String]) = {
      GraftSessionShim.drainListeners(spark.sparkContext)
      val i = internal.synchronized {
        val v = internal.values.toVector; internal.clear(); v }
      val s = streaming.synchronized {
        val v = streaming.toVector; streaming.clear(); v }
      (i, s)
    }

    private def clip(p: String): String =
      if (p.length <= MaxPlanChars) p
      else p.take(MaxPlanChars) + s"\n… [clipped ${p.length - MaxPlanChars} chars]\n"

    /** Builds entry `name` over `sfDir` and renders its plans, the extra
      * sources under `level` headings. */
    def sections(name: String, sfDir: String, level: String): String = {
      val plan =
        try graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        catch { case e: Exception =>
          System.err.println(s"[plans] $name FAILED — ${e.getClass.getSimpleName}: ${e.getMessage}")
          s"FAILED — ${e.getClass.getSimpleName}: ${e.getMessage}\n"
        }
      val (internalPlans, streamingPlans) = drain()
      val sb = new StringBuilder(s"```\n${clip(plan)}```\n")
      streamingPlans.take(MaxStreaming).zipWithIndex.foreach { case (p, i) =>
        sb ++= s"\n$level $name — streaming batch plan ${i + 1}\n\n```\n${clip(p)}```\n"
      }
      // internal plans only add signal where the returned plan is NOT
      // the story: iterative/eager entries whose returned frame is a
      // checkpoint scan or local result
      val eager = plan.contains("ExistingRDD") || plan.contains("LocalTableScan") ||
        streamingPlans.nonEmpty
      if (eager) internalPlans.filter(_.length > 200).take(MaxInternal)
        .zipWithIndex.foreach { case (p, i) =>
          sb ++= s"\n$level $name — internal action plan ${i + 1}\n\n```\n${clip(p)}```\n"
        }
      sb.toString
    }
  }
}
