package graft.cdc

import org.apache.spark.sql.SparkSession

import graft.queries.StreamRun

/** Runnable end-to-end demo of both CDC pipelines over the reference's
  * golden scenario (README.md:54-114) extended with a delete. Usage:
  * `sbt "runMain graft.cdc.CdcDemo"`. Prints the typed event stream, the
  * keyed-JSON wire rows, and the continuously-upserted count table. */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = SparkSession.builder()
      .master("local[4]")
      .appName("graft-cdc-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    def ev(lsn: Long, op: String, schema: String, id: Long, name: String): CdcEnvelope = {
      val row = Map("id" -> id.toString, "full_name" -> name)
      CdcEnvelope(lsn, lsn, 1600000000000L + lsn, op, "experiment", schema,
        "users",
        before = if (op == "c" || op == "r") Map.empty else row,
        after = if (op == "d") Map.empty else row)
    }
    val golden = Seq(
      ev(1, "c", "schema1", 1, "susan smith"),
      ev(2, "c", "schema1", 2, "anne smith"),
      ev(3, "c", "schema2", 1, "bob smith"),
      ev(4, "u", "schema1", 1, "sue smith"),
      ev(5, "u", "schema2", 1, "bobby smith"))

    // WAL stand-in consumed through the DSv2 source (format "graft-cdc").
    def jsonLine(e: CdcEnvelope): String = {
      def m(mm: Map[String, String]) =
        if (mm.isEmpty) "null"
        else mm.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
      s"""{"lsn": ${e.lsn}, "txId": ${e.txId}, "tsMs": ${e.tsMs}, "op": "${e.op}", "db": "${e.db}", "schema": "${e.schema}", "table": "${e.table}", "before": ${m(e.before)}, "after": ${m(e.after)}}"""
    }
    val demoDir = java.nio.file.Paths.get(StreamRun.dir(spark, "cdc-demo"))
    val wal = demoDir.resolve("wal.jsonl")
    java.nio.file.Files.write(wal, golden.map(jsonLine).mkString("\n").getBytes)

    val ns = "cdc-demo"
    val sink = Sinks.MemoryDb.table(ns, CdcPipeline.countTable)
    val ckpt = demoDir.resolve("ckpt").toString
    val sourced = spark.readStream.format("graft-cdc").load(wal.toString)
      .as[CdcEnvelope]
    val query = CdcPipeline.liveCountPerSchema(sourced,
      Sinks.MemoryDb.factory(ns), ckpt)

    println("== typed users events (pipeline A demux) ==")
    Demux.users(spark.createDataset(golden)).collect().foreach(println)

    println("== keyed JSON wire rows (pipeline A sink format) ==")
    CdcPipeline.usersTopicFrame(spark.createDataset(golden))
      .collect().foreach(r => println(s"key=${r.getString(0)} value=${r.getString(1)}"))

    query.processAllAvailable()
    println("== user_count_by_pgschema after golden sequence (expect schema1->2, schema2->1) ==")
    sink.snapshot.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"$k -> ${v("user_count")}") }

    // Replication continues: append a delete to the WAL; the next
    // micro-batch reads only lsn > 5.
    java.nio.file.Files.write(wal,
      ("\n" + jsonLine(ev(6, "d", "schema1", 2, "anne smith"))).getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    query.processAllAvailable()
    println("== after DELETE schema1 id=2 (expect schema1->1) ==")
    sink.snapshot.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"$k -> ${v("user_count")}") }

    query.stop()
    spark.stop()
  }
}
