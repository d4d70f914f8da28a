package graft.cdc

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, PreparedStatement, Statement}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Sinks mirroring the reference's two output paths. */
object Sinks {

  /** K1: keyed-JSON wire format (reference Pulsar sink, CustomJob.java:
    * 93-118): message key = event key bytes, value = JSON of the typed
    * event. Returns a two-column DataFrame `(key, value)` ready for any
    * Kafka-shaped `writeStream` sink; at-least-once under micro-batch
    * replay, as in the reference (PulsarSinkSemantic.AT_LEAST_ONCE :103). */
  def keyedJson[T](events: Dataset[T], fields: Seq[String]): DataFrame =
    events.toDF().select(
      col("key").cast("string").as("key"),
      to_json(struct(fields.map(col): _*)).as("value"))

  /** Opens a JDBC connection on an executor. Implementations must be
    * serializable (the factory ships inside the `foreachPartition`
    * closure); a production impl wraps `DriverManager.getConnection(url)`,
    * [[MemoryDb.factory]] is the in-process test impl. */
  trait ConnectionFactory extends Serializable {
    def connect(): Connection
  }

  /** Production [[ConnectionFactory]]: `DriverManager.getConnection` on the
    * executor — the deploy-time counterpart of [[MemoryDb.factory]] for a
    * real sink database (reference CustomJob.java:183-193 writes to the
    * docker-compose Postgres this way). A case class of plain strings so the
    * closure serializes without capturing a live connection; the driver jar
    * must be on the executor classpath (`--jars`). `props` carries
    * user/password etc. — source them from cluster secret management, not
    * literals. One connection per partition per micro-batch is the writer's
    * contract; at high trigger rates front the database with a server-side
    * pooler (e.g. pgbouncer) — the writer already amortizes round-trips via
    * statement batching, so connection setup is the only per-partition cost. */
  final case class JdbcConnectionFactory(url: String,
      props: Map[String, String] = Map.empty) extends ConnectionFactory {
    override def connect(): Connection = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      java.sql.DriverManager.getConnection(url, p)
    }
  }

  /** The pk-hash partition count a batch is written in when it has no
    * replay-stable count of its own: it comes from outside a stream, or
    * its stream runs with AQE (see [[UpsertWriter.writeBatch]]). Fixed,
    * so a replay maps rows to the same claim keys. */
  private val LedgerPartitions = 32

  /** Rows per `executeBatch` round-trip of the K2 upsert writer. */
  private val BatchSize = 500

  /** K2: JDBC upsert writer (reference CustomJob.java:183-193 +
    * setup_sink_db1.sql). Spark's jdbc writer has no upsert, so this
    * renders `INSERT ... ON CONFLICT (pk) DO UPDATE` and executes it as a
    * per-partition prepared-statement batch: rows never funnel through the
    * driver, each partition writes in one transaction, and statement
    * batching amortizes round-trips. Replace-merge is idempotent by PK, so
    * at-least-once replay is safe (the reference's effective semantics);
    * columns in `additive` merge as `col = table.col + EXCLUDED.col`
    * (delta accumulation — see [[CdcPipeline.liveCountPerSchema]]).
    */
  final class UpsertWriter(table: String, pk: String, columns: Seq[String],
      additive: Set[String] = Set.empty,
      runId: String = "") extends Serializable {
    require(columns.contains(pk), s"pk $pk must be among columns")

    def upsertSql: String = {
      val collist = columns.mkString(", ")
      val placeholders = columns.map(_ => "?").mkString(", ")
      val sets = columns.filterNot(_ == pk).map { c =>
        if (additive(c)) s"$c = $table.$c + EXCLUDED.$c"
        else s"$c = EXCLUDED.$c"
      }.mkString(", ")
      s"INSERT INTO $table ($collist) VALUES ($placeholders) " +
        s"ON CONFLICT ($pk) DO UPDATE SET $sets"
    }

    /** Ledger insert claiming (batchId, partitionId); applied inside the
      * data transaction, so "claimed" and "written" are atomic. */
    def ledgerSql: String =
      s"INSERT INTO ${table}__batches (batch_key) VALUES (?) " +
        "ON CONFLICT (batch_key) DO NOTHING"

    /** Distributed upsert of `batch`: one connection + transaction per
      * partition, `executeBatch` every [[BatchSize]] rows.
      *
      * `batchId` is the `foreachBatch` micro-batch id; it makes the write
      * EXACTLY-ONCE under retries: each partition first claims
      * (runId, batchId, partitionId) in a ledger table inside the same
      * transaction; a replayed partition whose claim already exists
      * (data committed, checkpoint didn't advance before the crash)
      * skips — the standard idempotent-foreachBatch recipe. Additive
      * merge depends on it, where blind re-application would
      * double-count.
      *
      * Two details make the claim key SOUND rather than merely plausible:
      *  - `runId` scopes it to one logical pipeline run (derive it from
      *    the checkpoint location: stable across restarts of the same
      *    checkpoint, distinct for a fresh checkpoint or another pipeline
      *    sharing the table — otherwise a reprocessing run's batch 0
      *    collides with the old run's batch 0 and is silently skipped);
      *  - the partition a row is written in is murmur3(pk) mod P, with
      *    P fixed for the run, so a replay maps rows to the same claim
      *    keys. For a stream's batch P is the partition count the stream
      *    records in its offset log and restores on every restart (its
      *    stateful operators' count; a restart under another
      *    `spark.sql.shuffle.partitions` changes only the stream's
      *    stateless shuffles). Spark turns AQE off for stateful streams,
      *    so their batches keep the partitions they are planned with:
      *    Pipeline B's per-batch `groupBy(pk)` already hash-partitions
      *    by pk into P and writes straight from its final aggregate,
      *    with no shuffle of its own ([[claimPartitions]]). Claim keys
      *    read `runId/batchId/partition/P`, so keys counted in different
      *    partitionings never collide. */
    def writeBatch(batch: DataFrame, factory: ConnectionFactory,
        batchId: Long): Unit = {
      val cols = columns
      val sql = upsertSql
      val ledger = ledgerSql
      val run = runId
      val (stable, parts) = claimPartitions(batch.select(cols.map(col): _*))
      stable.foreachPartition { rows: Iterator[Row] =>
        if (rows.hasNext) {
          val conn = factory.connect()
          try {
            conn.setAutoCommit(false)
            val claimed = {
              val ls = conn.prepareStatement(ledger)
              try {
                ls.setObject(1, s"$run/$batchId/${TaskContext.getPartitionId()}/$parts")
                ls.executeUpdate() == 1 // 0 = already applied → skip
              } finally ls.close()
            }
            if (claimed) {
              val st = conn.prepareStatement(sql)
              try {
                var n = 0
                rows.foreach { r =>
                  var i = 0
                  while (i < cols.length) { st.setObject(i + 1, r.get(i)); i += 1 }
                  st.addBatch()
                  n += 1
                  if (n % BatchSize == 0) st.executeBatch()
                }
                st.executeBatch()
              } finally st.close()
            }
            conn.commit()
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally conn.close()
        }
      }
    }

    /** `rows` in the partitions it is written in, and their count P.
      * A batch of a stream whose session runs without AQE counts in the
      * stream's recorded partition count: written in place when its
      * executed plan already hash-partitions by `pk` alone into that many
      * partitions, else hash-repartitioned by `pk` into them. Any other
      * batch — AQE may coalesce its partitions, or it comes from outside
      * a stream — is hash-repartitioned into [[LedgerPartitions]]. */
    private def claimPartitions(rows: DataFrame): (DataFrame, Int) = {
      val qe = rows.queryExecution
      val conf = qe.sparkSession.sessionState.conf
      conf.getConf(SQLConf.STATEFUL_SHUFFLE_PARTITIONS_INTERNAL) match {
        case Some(n) if !conf.adaptiveExecutionEnabled =>
          val plan = qe.executedPlan
          plan.outputPartitioning match {
            case HashPartitioning(Seq(e), `n`)
                if e.semanticEquals(plan.output(columns.indexOf(pk))) =>
              (rows, n)
            case _ => (rows.repartition(n, col(pk)), n)
          }
        case _ =>
          (rows.repartition(LedgerPartitions, col(pk)), LedgerPartitions)
      }
    }
  }

  /** PK-keyed in-memory table with upsert semantics (test stand-in for the
    * Postgres sink table user_count_by_pgschema, setup_sink_db1.sql:1-4). */
  final class MemoryUpsertTable {
    private val rows = new ConcurrentHashMap[String, Map[String, Any]]()
    def upsert(key: String, row: Map[String, Any]): Unit = rows.put(key, row)
    def delete(key: String): Unit = rows.remove(key)
    // Point reads for the upsert path: `snapshot` copies the WHOLE map,
    // which inside the per-row merge turned every micro-batch write into
    // O(|table|) work per row — quadratic in keys, and the r8 scale
    // curve's only sink-side superlinearity. A real database does a
    // point read here; so do we.
    def get(key: String): Option[Map[String, Any]] = Option(rows.get(key))
    def contains(key: String): Boolean = rows.containsKey(key)
    def snapshot: Map[String, Map[String, Any]] = rows.asScala.toMap
  }

  /** In-process "database" that serves [[MemoryUpsertTable]]s through the
    * real `java.sql` API (dynamic proxies), so the K2 writer's production
    * path — `Connection.prepareStatement(upsertSql)` + `executeBatch` — is
    * what specs exercise, not a parallel test-only code path. Namespaced so
    * concurrent suites don't share tables. Single-JVM by design (matches
    * local[n]); a cluster deployment swaps the factory for a DriverManager
    * one and nothing else changes. */
  object MemoryDb {
    private val registry = new ConcurrentHashMap[String, MemoryUpsertTable]()

    /** Claim keys taken by an open (uncommitted) transaction — the
      * in-memory analog of the row lock a real `INSERT ... ON CONFLICT DO
      * NOTHING` holds until commit. */
    private val pendingClaims =
      ConcurrentHashMap.newKeySet[String]()

    def table(ns: String, name: String): MemoryUpsertTable =
      registry.computeIfAbsent(s"$ns/$name", _ => new MemoryUpsertTable)

    def factory(ns: String): ConnectionFactory = new MemoryConnectionFactory(ns)

    private final class MemoryConnectionFactory(ns: String)
        extends ConnectionFactory {
      override def connect(): Connection = newConnection(ns)
    }

    /** Per-connection transaction: statements buffer their effects here;
      * `commit` applies them, `rollback`/`close` discards — so the K2
      * writer's claimed-and-written-atomically contract holds in specs
      * exactly as it does on a real database (a task that fails after
      * claiming leaves neither the claim nor partial rows behind). */
    private final class Txn(val ns: String) {
      val effects = scala.collection.mutable.ArrayBuffer[() => Unit]()
      val claims = scala.collection.mutable.ArrayBuffer[String]()
      def commit(): Unit = {
        effects.foreach(_.apply())
        finish()
      }
      def rollback(): Unit = {
        effects.clear()
        claims.foreach(pendingClaims.remove)
        claims.clear()
      }
      private def finish(): Unit = {
        effects.clear()
        claims.foreach(pendingClaims.remove)
        claims.clear()
      }
    }

    private def newConnection(ns: String): Connection = {
      val txn = new Txn(ns)
      val handler = new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "prepareStatement" =>
              newStatement(ns, args(0).asInstanceOf[String], txn)
            case "commit" => txn.commit(); null
            case "rollback" => txn.rollback(); null
            case "close" => txn.rollback(); null // uncommitted work dies
            case "isClosed" => java.lang.Boolean.FALSE
            case "getAutoCommit" => java.lang.Boolean.FALSE
            case "toString" => s"MemoryDb($ns)"
            case "hashCode" => Int.box(System.identityHashCode(proxy))
            case "equals" => Boolean.box(proxy eq args(0))
            case _ => null // setAutoCommit etc.: no-ops
          }
      }
      Proxy.newProxyInstance(classOf[Connection].getClassLoader,
        Array[Class[_]](classOf[Connection]), handler).asInstanceOf[Connection]
    }

    // The statements interpret the exact SQL shapes UpsertWriter renders.
    private val UpsertRe =
      """INSERT INTO (\S+) \(([^)]+)\) VALUES \([?, ]+\) ON CONFLICT \((\w+)\) DO UPDATE SET (.+)""".r
    private val InsertIgnoreRe =
      """INSERT INTO (\S+) \((\w+)\) VALUES \(\?\) ON CONFLICT \(\w+\) DO NOTHING""".r

    private def newStatement(ns: String, sql: String,
        txn: Txn): PreparedStatement =
      sql match {
        case InsertIgnoreRe(t, c) => newInsertIgnore(ns, t, c, sql, txn)
        case _ => newUpsert(ns, sql, txn)
      }

    /** Ledger claim: executeUpdate returns 1 when this transaction takes
      * the key (insert applies at commit, lock held meanwhile), 0 when
      * the key is already committed or held by an open transaction (the
      * DO NOTHING + row-lock contract the writer relies on). */
    private def newInsertIgnore(ns: String, tableName: String, colName: String,
        sql: String, txn: Txn): PreparedStatement = {
      val target = table(ns, tableName)
      val params = new java.util.HashMap[Int, Any]()
      val handler = new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case n if n.startsWith("set") && args != null && args.length >= 2 &&
                args(0).isInstanceOf[java.lang.Integer] =>
              params.put(args(0).asInstanceOf[java.lang.Integer].intValue(),
                args(1)); null
            case "executeUpdate" =>
              val key = String.valueOf(params.get(1))
              val lock = s"$ns/$tableName/$key"
              target.synchronized {
                if (target.contains(key) ||
                    !pendingClaims.add(lock)) Int.box(0)
                else {
                  txn.claims += lock
                  txn.effects += (() =>
                    target.synchronized {
                      target.upsert(key, Map(colName -> key))
                    })
                  Int.box(1)
                }
              }
            case "isClosed" => java.lang.Boolean.FALSE
            case "toString" => s"MemoryDb($ns).prepare($sql)"
            case "hashCode" => Int.box(System.identityHashCode(proxy))
            case "equals" => Boolean.box(proxy eq args(0))
            case _ => null
          }
      }
      Proxy.newProxyInstance(classOf[PreparedStatement].getClassLoader,
        Array[Class[_]](classOf[PreparedStatement]), handler)
        .asInstanceOf[PreparedStatement]
    }

    private def newUpsert(ns: String, sql: String,
        txn: Txn): PreparedStatement = {
      val (tableName, cols, pk, additiveCols) = sql match {
        case UpsertRe(t, collist, pkCol, sets) =>
          val cs = collist.split(",").map(_.trim).toSeq
          val adds = sets.split(", (?=\\w+ =)").flatMap { s =>
            val c = s.takeWhile(_ != ' ')
            if (s.contains(s"$t.$c + EXCLUDED.$c")) Some(c) else None
          }.toSet
          (t, cs, pkCol, adds)
        case _ =>
          throw new java.sql.SQLSyntaxErrorException(s"unsupported SQL: $sql")
      }
      val target = table(ns, tableName)
      val params = new java.util.HashMap[Int, Any]()
      val batch = scala.collection.mutable.ArrayBuffer[Seq[Any]]()

      def addNum(a: Any, b: Any): Any = (a, b) match {
        case (x: java.lang.Number, y: java.lang.Number)
            if x.isInstanceOf[java.lang.Double] || x.isInstanceOf[java.lang.Float] ||
              y.isInstanceOf[java.lang.Double] || y.isInstanceOf[java.lang.Float] =>
          x.doubleValue() + y.doubleValue()
        case (x: java.lang.Number, y: java.lang.Number) =>
          x.longValue() + y.longValue()
        case _ => b
      }

      // read-modify-write under the table lock: additive merge must not
      // lose increments to a concurrent writer (real Postgres serializes
      // this with row locks)
      def applyRow(values: Seq[Any]): Unit = target.synchronized {
        val incoming = cols.zip(values).toMap
        val key = String.valueOf(incoming(pk))
        val merged = target.get(key) match {
          case Some(existing) =>
            incoming.map { case (c, v) =>
              c -> (if (additiveCols(c)) addNum(existing.getOrElse(c, 0L), v)
              else v)
            }
          case None => incoming
        }
        target.upsert(key, merged)
      }

      val handler = new InvocationHandler {
        override def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case n if n.startsWith("set") && args != null && args.length >= 2 &&
                args(0).isInstanceOf[java.lang.Integer] =>
              params.put(args(0).asInstanceOf[java.lang.Integer].intValue(),
                args(1)); null
            case "addBatch" =>
              batch += (1 to cols.length).map(params.get(_)); null
            case "executeBatch" =>
              // transactional: rows apply at connection commit, in
              // execution order; rollback discards them
              val staged = batch.toVector
              batch.clear()
              txn.effects += (() => staged.foreach(applyRow))
              Array.fill(staged.length)(Statement.SUCCESS_NO_INFO)
            case "executeUpdate" =>
              val values = (1 to cols.length).map(params.get(_))
              txn.effects += (() => applyRow(values)); Int.box(1)
            case "clearParameters" => params.clear(); null
            case "clearBatch" => batch.clear(); null
            case "isClosed" => java.lang.Boolean.FALSE
            case "toString" => s"MemoryDb($ns).prepare($sql)"
            case "hashCode" => Int.box(System.identityHashCode(proxy))
            case "equals" => Boolean.box(proxy eq args(0))
            case _ => null
          }
      }
      Proxy.newProxyInstance(classOf[PreparedStatement].getClassLoader,
        Array[Class[_]](classOf[PreparedStatement]), handler)
        .asInstanceOf[PreparedStatement]
    }
  }
}
