package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.cdc.{CdcEnvelope, CdcPipeline, Changelog, Sinks}
import graft.sources.{FileWalTransport, PgOutputSession, TopicStore, WalIndex}

/** Trigger, source, state and sink metrics shared by both CDC workloads. */
object StreamLayer {
  /** Phases of one micro-batch in `MicroBatchExecution` order, with the
    * layer each is charged to. `StreamingQueryProgress` gives durations
    * only, so the phase spans are laid end to end from the trigger start. */
  val Phases: Seq[(String, String)] = Seq("latestOffset" -> "source", "walCommit" -> "commit",
    "getBatch" -> "source", "queryPlanning" -> "planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit")

  def recordSpans(ctx: Ctx, parent: Int, label: String, bs: Seq[Batch]): Unit =
    if (ctx.a.trace) bs.foreach { b =>
      val t = ctx.spans.record(parent, s"trigger $label ${b.batchId}", "trigger",
        b.startMs * 1000L, b.endMs * 1000L)
      var at = b.startMs * 1000L
      Phases.foreach { case (phase, layer) =>
        val d = b.phases.getOrElse(phase, 0L) * 1000L
        if (d > 0) ctx.spans.record(t, s"$phase $label ${b.batchId}", layer, at, at + d)
        at += d
      }
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** `batches`: per query label, the measured batches; `rounds` divides
    * counts so they read per drain. */
  def report(ctx: Ctx, batches: Map[String, Seq[Batch]], rounds: Int): Unit = {
    val r = ctx.report.layer
    for ((label, bs) <- batches.toSeq.sortBy(_._1)) {
      def phase(p: String) = mean(bs.map(_.phases.getOrElse(p, 0L).toDouble))
      r(s"trigger.$label.count") = bs.length.toDouble / rounds
      r(s"trigger.$label.exec_ms_p50") = Stats.percentile(bs.map(_.execMs.toDouble), 0.5)
      r(s"trigger.$label.exec_ms_p90") = Stats.percentile(bs.map(_.execMs.toDouble), 0.9)
      r(s"trigger.$label.planning_ms") = phase("queryPlanning")
      r(s"trigger.$label.add_batch_ms") = phase("addBatch")
      r(s"trigger.$label.wal_commit_ms") = phase("walCommit")
      r(s"trigger.$label.commit_offsets_ms") = phase("commitOffsets")
    }
    val all = batches.values.flatten.toSeq
    r("source.rows_per_trigger_p50") = Stats.percentile(all.map(_.rows.toDouble), 0.5)
    r("source.latest_offset_ms") = mean(all.map(_.phases.getOrElse("latestOffset", 0L).toDouble))
    val pb = batches.getOrElse("pb_count", Nil)
    r("state.rows_total") = pb.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
    r("state.rows_updated") = mean(pb.map(_.stateUpdated.toDouble))
    r("state.commit_ms") = mean(pb.map(_.stateCommitMs.toDouble))
    r("state.memory_mb") = pb.lastOption.map(_.stateMemBytes / 1e6).getOrElse(0.0)
    r("sink.upsert_rows") = SinkCounters.rows.get.toDouble / rounds
    r("sink.upsert_txns") = SinkCounters.txns.get.toDouble / rounds
    r("sink.upsert_ms") = SinkCounters.nanos.get / 1e6 / rounds
  }

  /** (latency ms, events) per delivery: each batch delivers the events it
    * consumed at its end, measured from `t0Ms`. */
  def deliveries(dl: Deliveries, label: String, bs: Seq[Batch], t0Ms: Double): Seq[(Double, Long)] =
    bs.map(b => (b.endMs - t0Ms, dl.count(label, b.startLsn, b.endLsn)))
}

/** `cdc_catchup`: the three queries drain a pre-written pgoutput backlog
  * through `FileWalTransport` with admission control on. Each measured
  * drain starts fresh queries (new checkpoints, topics and sink namespace)
  * on the same WAL, so every drain does the same work; drains repeat until
  * the measuring time is used and the medians are reported. */
object CatchUp {
  val Keys = 40000

  def opts(ctx: Ctx): Map[String, String] = Map("walFormat" -> "pgoutput",
    "numPartitions" -> ctx.a.cores.toString, "maxEventsPerBatch" -> ctx.a("max_frames"))

  final case class Drain(seconds: Double, latency: Seq[(Double, Long)],
      topic: Seq[(Double, Long)], count: Seq[(Double, Long)],
      batches: Map[String, Seq[Batch]], wrong: Long)

  def drain(ctx: Ctx, wal: Path, gen: Gen, dl: Deliveries): Drain = {
    val name = ctx.fresh("cu")
    val t0Ms = Clock.micros() / 1000.0
    var parent = 0
    var topo: Topology = null
    val done = ctx.spans("drain", "harness") {
      parent = ctx.spans.current
      topo = new Topology(ctx.spark, wal.toString, opts(ctx), ctx.dir(s"ckpt/$name"), name)
      ctx.progress.awaitCommitted(topo.queries.map(_._2), gen.lsn(gen.events - 1), 150000L)
    }
    topo.stop()
    require(done, s"drain $name did not commit the backlog")
    val batches = topo.queries.map { case (l, q) => l -> ctx.progress.of(q.id) }.toMap
    batches.foreach { case (l, bs) => StreamLayer.recordSpans(ctx, parent, l, bs) }
    val endMs = batches.values.map(_.last.endMs).max
    val d = batches.map { case (l, bs) => l -> StreamLayer.deliveries(dl, l, bs, t0Ms) }
    val wrong = ctx.spans("verify", "harness")(topo.mismatches(gen))
    ctx.report.layer("sink.topic_msgs") =
      (TopicStore.size(topo.usersTopic) + TopicStore.size(topo.colorsTopic)).toDouble
    topo.clear()
    Drain((endMs - t0Ms) / 1000.0, d.values.flatten.toSeq,
      d("pa_users") ++ d("pa_colors"), d("pb_count"), batches, wrong)
  }

  /** Unmeasured drains of a WAL of its own (`warm_events` events, seed + 1):
    * drain times keep falling until the JIT has compiled the decode, demux,
    * state, sink and planning paths, so those drains land in setup. */
  def warmUp(ctx: Ctx): Unit = {
    val gen = new Gen(ctx.a.seed + 1, ctx.a.int("warm_events"), Keys)
    val wal = ctx.dir("wal").resolve("warmup.pgoutput")
    gen.writeWal(wal)
    val dl = new Deliveries(gen)
    (1 to ctx.a.int("warm_drains")).foreach { _ =>
      val w = drain(ctx, wal, gen, dl)
      if (w.wrong > 0) ctx.report.notes += s"warm-up drain: ${w.wrong} wrong outputs"
    }
  }

  def run(ctx: Ctx, jvmStartUs: Long): Unit = {
    val a = ctx.a
    val events = a.int("events")
    val (gen, wal) = ctx.spans("setup", "harness") {
      val walDir = ctx.dir("wal")
      val gen = new Gen(a.seed, events, Keys)
      val wal = walDir.resolve("backlog.pgoutput")
      gen.writeWal(wal)
      val t = System.nanoTime()
      WalIndex.of(wal.toString, "pgoutput")
      ctx.report.layer("probe.wal_index_build_ms") = (System.nanoTime() - t) / 1e6
      warmUp(ctx)
      // The first drain of a new WAL runs slower than the next ones.
      drain(ctx, wal, gen, new Deliveries(gen))
      (gen, wal)
    }
    val setupS = (Clock.micros() - jvmStartUs) / 1e6
    val dl = new Deliveries(gen)
    SinkCounters.reset()
    val before = Main.snapshot(ctx)
    val start = Clock.micros()
    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    while (drains.isEmpty || (Clock.micros() - start) / 1e6 < a.seconds)
      drains += drain(ctx, wal, gen, dl)
    val wallS = (Clock.micros() - start) / 1e6
    val r = ctx.report
    r.notes += drains.map(d => f"${d.seconds}%.2f").mkString("drain seconds: ", " ", "")
    r.attempted = events.toLong * drains.length
    r.failed = math.min(r.attempted, drains.map(_.wrong).sum)
    r.e2e("setup_s") = setupS
    r.e2e("ops_per_s") = Stats.median(drains.map(events / _.seconds).toSeq)
    r.e2e("latency_p50_ms") = Stats.median(drains.map(d => Stats.percentile(d.latency, 0.5)).toSeq)
    r.e2e("latency_p90_ms") = Stats.median(drains.map(d => Stats.percentile(d.latency, 0.9)).toSeq)
    r.layer("fresh.topic_p50_ms") = Stats.median(drains.map(d => Stats.percentile(d.topic, 0.5)).toSeq)
    r.layer("fresh.topic_p90_ms") = Stats.median(drains.map(d => Stats.percentile(d.topic, 0.9)).toSeq)
    r.layer("fresh.count_p50_ms") = Stats.median(drains.map(d => Stats.percentile(d.count, 0.5)).toSeq)
    r.layer("fresh.count_p90_ms") = Stats.median(drains.map(d => Stats.percentile(d.count, 0.9)).toSeq)
    r.layer("source.lag_events_max") = events
    r.layer("source.lag_events_end") = 0
    StreamLayer.report(ctx, drains.flatMap(_.batches).groupBy(_._1).map { case (l, xs) =>
      l -> xs.flatMap(_._2).toSeq }, drains.length)
    if (a.trace) {
      Main.sparkLayer(ctx, before, Main.snapshot(ctx), wallS)
      if (a.m.getOrElse("probes", "1") == "1") Probes.run(ctx, wal, gen)
    }
  }
}

/** `cdc_live`: the same three queries tail the generator process over the
  * `graft-wal://` socket while it appends WAL at a fixed offered rate
  * (open loop). Freshness is measured per event from its scheduled send
  * time to the commit of the micro-batch that delivered it. */
object Live {
  def run(ctx: Ctx, jvmStartUs: Long): Unit = {
    val a = ctx.a
    val rate = a.dbl("rate")
    val warmS = a.dbl("warm_s")
    val events = a.int("events")
    val gen = new Gen(a.seed, events, CatchUp.Keys)
    val dl = new Deliveries(gen)
    val (topo, ctl) = ctx.spans("setup", "harness") {
      // Warm-up: file-fed drains of the same topology, so the live queries
      // do not pay for JIT and codegen.
      CatchUp.warmUp(ctx)
      val portFile = Path.of(a("port_file"))
      val deadline = System.currentTimeMillis() + 60000L
      while (!Files.exists(portFile) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      val port = Files.readString(portFile).trim.toInt
      SinkCounters.reset()
      val name = ctx.fresh("live")
      val topo = new Topology(ctx.spark, s"graft-wal://127.0.0.1:$port",
        Map("walFormat" -> "pgoutput", "numPartitions" -> a.cores.toString),
        ctx.dir(s"ckpt/$name"), name)
      (topo, new WalSenderControl(port))
    }
    val t0Us = ctl.go()
    val t0Ms = t0Us / 1000.0
    val setupS = (Clock.micros() - jvmStartUs) / 1e6
    def schedMs(i: Int): Double = t0Ms + i * 1000.0 / rate
    val lo = math.ceil(warmS * rate).toInt
    val hi = events
    val winStart = schedMs(lo)
    val winEnd = schedMs(hi)
    val before = Main.snapshot(ctx)
    var parent = 0
    val done = ctx.spans("live", "harness") {
      parent = ctx.spans.current
      val sleepMs = (winEnd - Clock.micros() / 1000.0).toLong
      if (sleepMs > 0) Thread.sleep(sleepMs)
      ctx.progress.awaitCommitted(topo.queries.map(_._2), gen.lsn(events - 1), 60000L)
    }
    val wallS = (winEnd - winStart) / 1000.0
    val genStats = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ctl.finish())
    ctl.close()
    topo.stop()
    val batches = topo.queries.map { case (l, q) => l -> ctx.progress.of(q.id) }.toMap
    batches.foreach { case (l, bs) => StreamLayer.recordSpans(ctx, parent, l, bs) }

    // Per event and query: the end of the batch that committed it.
    val commitMs = batches.map { case (l, bs) =>
      val c = Array.fill(events)(Double.NaN)
      bs.foreach { b =>
        var i = math.max(0L, b.startLsn).toInt
        while (i < math.min(events.toLong, b.endLsn)) { c(i) = b.endMs.toDouble; i += 1 }
      }
      l -> c
    }
    val topic = scala.collection.mutable.ArrayBuffer.empty[Double]
    val count = scala.collection.mutable.ArrayBuffer.empty[Double]
    var visible = 0L
    var i = lo
    while (i < hi) {
      var all = 0.0
      batches.keys.foreach { l =>
        if (dl.consumes(l, i)) {
          val f = commitMs(l)(i) - schedMs(i)
          if (l == "pb_count") count += f else topic += f
          all = math.max(all, commitMs(l)(i))
        }
      }
      if (all >= winStart && all < winEnd) visible += 1
      i += 1
    }
    val union = (topic ++ count).toSeq
    val r = ctx.report
    val wrong = ctx.spans("verify", "harness")(topo.mismatches(gen))
    val late = genStats.get("late_p99_ms").asDouble()
    r.attempted = events
    r.failed = math.min(events.toLong, wrong + (if (done) 0 else events))
    if (late > 50.0) {
      r.valid = false
      r.notes += f"generator fell behind its schedule: late p99 $late%.1f ms"
    }
    r.e2e("setup_s") = setupS
    r.e2e("ops_per_s") = visible / wallS
    r.e2e("latency_p50_ms") = Stats.percentile(union, 0.5)
    r.e2e("latency_p90_ms") = Stats.percentile(union, 0.9)
    r.layer("fresh.topic_p50_ms") = Stats.percentile(topic.toSeq, 0.5)
    r.layer("fresh.topic_p90_ms") = Stats.percentile(topic.toSeq, 0.9)
    r.layer("fresh.count_p50_ms") = Stats.percentile(count.toSeq, 0.5)
    r.layer("fresh.count_p90_ms") = Stats.percentile(count.toSeq, 0.9)

    // Backlog: events published but not yet committed by the slowest query.
    def headAt(tMs: Double): Long = math.min(events.toLong, math.floor((tMs - t0Ms) * rate / 1000.0).toLong + 1)
    def lagAt(tMs: Double): Long = headAt(tMs) - batches.values.map { bs =>
      bs.filter(_.endMs <= tMs).lastOption.map(_.endLsn).getOrElse(0L)
    }.min
    val inWindow = batches.map { case (l, bs) => l -> bs.filter(b => b.endMs >= winStart && b.endMs < winEnd) }
    val lags = Iterator.iterate(winStart)(_ + 20.0).takeWhile(_ < winEnd).map(t => t -> lagAt(t)).toSeq
    val lagEnd = lagAt(winEnd - 1)
    // The backlog is a sawtooth between commits. A flat one ends the window
    // below the peaks of its first half; one that grew ends above twice them.
    val firstHalfMax = lags.filter(_._1 < (winStart + winEnd) / 2).map(_._2).max
    if (lagEnd > 2 * firstHalfMax) {
      r.valid = false
      r.notes += s"backlog grew: $lagEnd events at the window end, at most $firstHalfMax in its first half"
    }
    r.layer("source.lag_events_max") = lags.map(_._2).max
    r.layer("source.lag_events_end") = lagEnd
    r.layer("gen.offered_eps") = genStats.get("offered_eps").asDouble()
    r.layer("gen.late_p99_ms") = late
    r.layer("walsender.requests") = genStats.get("requests").asDouble()
    r.layer("walsender.frames_served") = genStats.get("frames_served").asDouble()
    r.layer("walsender.bytes_served_mb") = genStats.get("bytes_served").asDouble() / 1e6
    r.layer("walsender.frames_per_event") = genStats.get("frames_served").asDouble() / events
    r.layer("sink.topic_msgs") =
      (TopicStore.size(topo.usersTopic) + TopicStore.size(topo.colorsTopic)).toDouble
    StreamLayer.report(ctx, inWindow, 1)
    if (a.trace) Main.sparkLayer(ctx, before, Main.snapshot(ctx), wallS)
    topo.clear()
  }
}

/** Single-threaded direct calls into public functions of the `sources` and
  * `cdc` layers on the `cdc_catchup` WAL (traced run only). */
object Probes {
  private def rate(n: Long, nanos: Long): Double = n / (nanos / 1e9)

  def run(ctx: Ctx, wal: Path, gen: Gen): Unit = ctx.spans("probes", "probe") {
    val r = ctx.report.layer
    val path = wal.toString
    val t = new FileWalTransport(path, "pgoutput")
    val frames = ctx.spans("probe.frames_read", "probe") {
      val s = System.nanoTime()
      val fs = t.frames(Long.MinValue).toVector
      r("probe.frames_read_per_s") = rate(fs.length, System.nanoTime() - s)
      fs
    }
    val envs = ctx.spans("probe.pgoutput_decode", "probe") {
      val s = System.nanoTime()
      val session = new PgOutputSession()
      val out = frames.flatMap { case (lsn, f) => session.decode(f, lsn) }
      r("probe.pgoutput_decode_per_s") = rate(out.length, System.nanoTime() - s)
      out
    }
    ctx.spans("probe.boundary_states", "probe") {
      val head = t.headLsn()
      val ms = (1 to 3).map { _ =>
        val s = System.nanoTime()
        PgOutputSession.boundaryStates(t.frames(Long.MinValue, head), Seq(head))
        (System.nanoTime() - s) / 1e6
      }
      r("probe.boundary_states_ms_at_end") = Stats.median(ms)
    }
    ctx.spans("probe.compact_batch", "probe") {
      val spark = ctx.spark
      import spark.implicits._
      val ds = spark.createDataset(envs.filter(_.table == "users"))
      val s = System.nanoTime()
      Changelog.compact(ds)(spark).toDF().write.format("noop").mode("overwrite").save()
      r("probe.compact_batch_per_s") = rate(ds.count(), System.nanoTime() - s)
    }
    ctx.spans("probe.topic_commit", "probe") {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = envs.map(e => CdcEnvelope.keyOf(e.schema, e.image.getOrElse("id", "")) ->
        mapper.writeValueAsString(e.image.asJava))
      val topic = ctx.fresh("probe-topic")
      val s = System.nanoTime()
      rows.grouped(10000).zipWithIndex.foreach { case (chunk, k) =>
        TopicStore.commit(topic, "probe", k.toLong, chunk) }
      r("probe.topic_commit_per_s") = rate(rows.length, System.nanoTime() - s)
      TopicStore.clear(topic)
    }
    ctx.spans("probe.upsert", "probe") {
      val ns = ctx.fresh("probe-db")
      val writer = new Sinks.UpsertWriter(CdcPipeline.countTable, "pgschema",
        Seq("pgschema", "user_count"), additive = Set("user_count"))
      val conn = Sinks.MemoryDb.factory(ns).connect()
      val n = envs.length
      val s = System.nanoTime()
      val st = conn.prepareStatement(writer.upsertSql)
      envs.iterator.zipWithIndex.foreach { case (e, k) =>
        st.setObject(1, CdcEnvelope.keyOf(e.schema, e.image.getOrElse("id", "")))
        st.setObject(2, java.lang.Long.valueOf(1L))
        st.addBatch()
        if (k % 500 == 499) st.executeBatch()
      }
      st.executeBatch(); conn.commit(); conn.close()
      r("probe.upsert_rows_per_s") = rate(n, System.nanoTime() - s)
    }
    t.close()
  }
}

/** `query_mix`: a fixed list of oracle-graded `SparkEntry.queries` entries
  * (the `entries` argument) in a seeded order. An untimed pass writes each
  * entry's output for the DuckDB oracle check and warms JIT, codegen and
  * fixtures; timed passes consume each entry with a noop write until the
  * measuring time is used. */
object Mix {
  def run(ctx: Ctx, jvmStartUs: Long): Unit = {
    val a = ctx.a
    val spark = ctx.spark
    val sf = a("sf_dir")
    val defs = graft.SparkEntry.all.map(q => q.name -> q).toMap
    val entries = a("entries").split(',').toSeq
    val order = new scala.util.Random(a.seed).shuffle(entries)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def tagged[T](tag: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(Counters.Tag, tag)
      try body finally spark.sparkContext.setLocalProperty(Counters.Tag, null)
    }
    val out = ctx.dir("out")
    ctx.spans("setup", "harness") {
      order.foreach { n =>
        try tagged(s"warm.$n")(defs(n).build(spark, sf).coalesce(1).write.mode("overwrite")
          .parquet(out.resolve(n).toString))
        catch { case e: Throwable => failed += n; ctx.report.notes += s"$n: ${e.getMessage}" }
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Files.writeString(out.resolve("oracle_sql.json"), mapper.writeValueAsString(
        order.flatMap(n => defs.get(n).flatMap(_.oracle).map(n -> _)).toMap.asJava))
    }
    val setupS = (Clock.micros() - jvmStartUs) / 1e6
    val before = Main.snapshot(ctx)
    val build = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val exec = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val start = Clock.micros()
    var passes = 0
    ctx.spans("mix", "harness") {
      // At least two timed passes, so each entry's time is a median.
      while (passes < 2 || (Clock.micros() - start) / 1e6 < a.seconds) {
        order.filterNot(failed).foreach { n =>
          try tagged(s"query.$n") {
            val t0 = System.nanoTime()
            val df = ctx.spans(s"build $n", "build")(defs(n).build(spark, sf))
            val t1 = System.nanoTime()
            ctx.spans(s"execute $n", "execute")(df.write.format("noop").mode("overwrite").save())
            val t2 = System.nanoTime()
            build(n) :+= (t1 - t0) / 1e9
            exec(n) :+= (t2 - t1) / 1e9
          } catch { case e: Throwable => failed += n; ctx.report.notes += s"$n: ${e.getMessage}" }
        }
        passes += 1
      }
    }
    val wallS = (Clock.micros() - start) / 1e6
    val ok = order.filterNot(failed)
    val perQuery = ok.map(n => n -> Stats.median(build(n).zip(exec(n)).map { case (b, e) => b + e })).toMap
    val mixS = perQuery.values.sum
    val r = ctx.report
    r.attempted = entries.length
    r.failed = failed.size
    r.e2e("setup_s") = setupS
    r.e2e("ops_per_s") = if (mixS > 0) ok.length / mixS else 0.0
    r.e2e("latency_p50_ms") = Stats.percentile(perQuery.values.map(_ * 1000).toSeq, 0.5)
    r.e2e("latency_p90_ms") = Stats.percentile(perQuery.values.map(_ * 1000).toSeq, 0.9)
    r.layer("mix.mix_s") = mixS
    r.notes += s"timed passes: $passes"
    r.layer("mix.build_s") = ok.map(n => Stats.median(build(n))).sum
    if (a.trace) {
      Main.sparkLayer(ctx, before, Main.snapshot(ctx), wallS)
      val c = ctx.counters.get
      entries.foreach { n =>
        val acc = c.snapshot(_ == s"query.$n")
        r.layer(s"query.$n.run_s") = if (exec(n).isEmpty) 0.0 else Stats.median(exec(n))
        r.layer(s"query.$n.jobs") = acc.jobs.toDouble / math.max(1, passes)
        r.layer(s"query.$n.task_s") = acc.runMs / 1e3 / math.max(1, passes)
      }
    }
  }
}
