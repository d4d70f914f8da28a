package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{GraftSessionShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.ops.Layout

/** Tail-the-snapshot-table as a stream, `format("graft-snapshot")` —
  * the DSv2 MicroBatchStream over [[graft.ops.Layout]]'s
  * manifest-committed table: offsets ARE snapshot ids, and each
  * micro-batch's input partitions are exactly the data files introduced
  * between two ids (the [[Layout.readSnapshotChanges]] planning rule:
  * exact for appends, full image for rewrites). This closes the
  * lakehouse produce/consume loop the way GraftTopic closes the keyed
  * topic's — the reference's whole topology is tail-a-changing-table
  * into a streaming job (StreamingJob.java:44-62, CDC table → stream);
  * here the table is the engine's own snapshot format, so a batch
  * writer ([[Layout.appendSnapshot]]) and a streaming consumer
  * compose without a broker. Delta calls this `startingVersion`
  * streaming; Iceberg, incremental scan.
  *
  * Scale shape: offset probes and batch planning are driver-side
  * manifest metadata (|files|-bounded text, never a data scan); row
  * reading fans out ONE partition PER DATA FILE, so a 1000-file append
  * consumes on 1000 cores. Options:
  *  - `path` (required): the snapshot table root;
  *  - `startingSnapshot` (default 0): first batch covers
  *    `(startingSnapshot, head]` — 0 replays all history;
  *  - `maxSnapshotsPerTrigger` (default 1): admission control — at
  *    most this many snapshot transitions per micro-batch, so commit
  *    boundaries stay visible to the consumer (and a restart resumes
  *    at the checkpointed id, never re-reading a consumed commit).
  *
  * Batch reads (`spark.read.format("graft-snapshot")`) serve the
  * current head (or `asOfSnapshot`) through the same per-file readers.
  * This scan is the table's ONE reader: SQL, the catalog, `MERGE INTO`,
  * the streaming tail and every [[Layout]] read (`readSnapshot`, its
  * pruned forms, the touched-file reads of `mergeSnapshot` and
  * `deleteWhere`, `readSnapshotChanges`) read through it, so deletion
  * sidecars are applied in one place. Two metadata columns identify a
  * row's origin: `_file`, the absolute path of its data file (an
  * `_file = v` / `_file IN (...)` filter plans only those files), and
  * `_pos`, its physical ordinal in that file. Each partition also sets
  * Spark's input-file holder, so `input_file_name()` answers on every
  * snapshot read. Every parquet byte is read and written by Spark's
  * own `ParquetFileFormat` against the MANIFEST-recorded schema —
  * atomic types only (the table's own writers refuse any other, so a
  * mismatch is a corrupt table, not a cast decision).
  */
class GraftSnapshotProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private def path(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-snapshot requires a table root: .load(<path>)")
    p
  }

  // Writes carry their own schema (the query's), so the provider must
  // accept external metadata — otherwise the FIRST write to an empty
  // table would fail trying to infer a schema no commit has recorded.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = Layout.snapshotSchema(SparkSession.active, path(options))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-snapshot: no committed snapshot at ${path(options)} to " +
          "infer a schema from (commit first, or pass .schema(...))"))
    // change-feed reads carry the typed-op column on every row
    if (options.getBoolean("readChangeFeed", false))
      base.add(StructField("_op", StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftSnapshotTable(properties.get("path"), schema,
      partCols = GraftSnapshotTable.identityCols(partitioning))
}

/** `asOf` (-1 = head) pins every scan of this Table instance to one
  * snapshot id — the catalog's `VERSION AS OF` handle and
  * [[Layout.readSnapshot]]'s time travel; a per-scan `asOfSnapshot`
  * option still overrides. `partCols`: Hive-style identity partition
  * columns (from `partitionBy` / `PARTITIONED BY`) — the directory
  * layout writes follow and reads prune on. Metadata columns: `_file`
  * and `_pos`. */
class GraftSnapshotTable(val path: String, tableSchema: StructType,
    val asOf: Int = -1, val partCols: Seq[String] = Nil)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {
  require(path != null && path.nonEmpty,
    "graft-snapshot requires a table root: .load(<path>)")
  SnapshotFileReaderFactory.validate(tableSchema)
  partCols.foreach(c => require(tableSchema.fieldNames.contains(c),
    s"graft-snapshot: partition column '$c' is not a table column"))

  override def partitioning(): Array[Transform] =
    partCols.map(org.apache.spark.sql.connector.expressions
      .Expressions.identity).toArray

  override def name(): String = s"graft-snapshot:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(path, info, partCols)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSnapshotScanBuilder(path, tableSchema, options, asOf)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(FileMetadataColumn, PosMetadataColumn)
}

/** `_file` — a row's data file: its absolute path, synthesized by the
  * per-file reader. The row-level protocol's group identity, and the
  * handle [[Layout]]'s touched-file reads select files by. */
object FileMetadataColumn extends MetadataColumn {
  override def name(): String = "_file"
  override def dataType(): DataType = StringType
  override def isNullable: Boolean = false
  override def comment(): String =
    "absolute path of the snapshot data file holding this row"
}

/** `_pos` — a row's physical ordinal in its data file, the parquet row
  * index the reader already reads: what positional deletion sidecars
  * record. */
object PosMetadataColumn extends MetadataColumn {
  override def name(): String = "_pos"
  override def dataType(): DataType = LongType
  override def isNullable: Boolean = false
  override def comment(): String =
    "physical row ordinal of this row in its snapshot data file"
}

object GraftSnapshotTable {
  /** The identity-transform columns of a declared partitioning; any
    * non-identity transform (bucket, days, ...) is rejected loudly —
    * the manifest records plain Hive-style value directories only. */
  private[sources] def identityCols(
      partitioning: Array[Transform]): Seq[String] =
    partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case other => throw new IllegalArgumentException(
        s"graft-snapshot: unsupported partition transform $other — " +
          "only identity (plain column) partitioning is supported")
    }
}

/** Scan planning with the two pushdowns a metadata-committed table can
  * serve from the DRIVER:
  *  - `SupportsPushDownFilters`: range/equality predicates on the
  *    manifest's recorded stats column ([[Layout.snapshotStatsCol]])
  *    narrow the BATCH file list to overlapping [min, max] entries —
  *    file skipping planned from |files|-bounded manifest text, zero
  *    footer opens. Every filter stays RESIDUAL (skipping is
  *    file-granular, i.e. inexact), so Spark re-applies it row-level
  *    and correctness never depends on the index. `_file = v` /
  *    `_file IN (...)` keep only the named files, the same cut the
  *    row-level scan's runtime group filter makes.
  *  - `SupportsPushDownRequiredColumns`: the pruned schema reaches the
  *    per-file reader, which projects the parquet read to the required
  *    columns (I/O ∝ columns read — the wide-table win).
  * The streaming scan applies column pruning only: its batches are
  * commit diffs, and admission control — not predicates — governs what
  * a trigger reads. */
final class GraftSnapshotScanBuilder(path: String,
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    tableAsOf: Int = -1)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import org.apache.spark.sql.sources

  // The scan is PINNED to one snapshot id at builder construction:
  // pushdown decisions (which column the ranges index, the aggregate
  // values) and execution-time file planning must all read the SAME
  // immutable manifest — resolving the head again at planInputPartitions
  // could see a concurrent commit whose ranges index a different
  // column, silently mis-skipping files. Pinning also makes a batch
  // read snapshot-consistent end to end. Precedence: per-scan option,
  // then the Table's VERSION AS OF pin, then the current head.
  private val asOf: Int =
    Option(options.get("asOfSnapshot")).map(_.toInt)
      .orElse(Option(tableAsOf).filter(_ >= 0))
      .getOrElse(Layout.headId(SparkSession.active, path))
  // the pinned manifest, parsed once: every pushdown and planning
  // question below reads it (None = a table with no commits)
  private lazy val info: Option[Layout.ManifestInfo] =
    Layout.snapshotInfo(SparkSession.active, path, asOf)
  private var required: StructType = tableSchema
  private var accepted: Array[sources.Filter] = Array.empty
  // (position in the manifest's statscols list, query interval) per
  // pushed bound — file skipping is per-column positional, typed
  // (integral exact / string code-point order / decimal unscaled,
  // Layout.ColRange)
  private var bounds: Seq[(Int, Layout.ColRange)] = Nil
  // (position, wantNull) per pushed IS [NOT] NULL — served by the
  // per-file null counts (round 14)
  private var nullBounds: Seq[(Int, Boolean)] = Nil

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    // temporal literals in their INDEX domain (epoch days / micros —
    // the parquet physical renderings the manifest ranges store)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(Math.addExact(Math.multiplyExact(t.getTime, 1000L),
        (t.getNanos % 1000000L) / 1000L))
    case t: java.time.Instant =>
      Some(Math.addExact(
        Math.multiplyExact(t.getEpochSecond, 1000000L),
        t.getNano / 1000L))
    case _ => None
  }

  /** A DECIMAL literal as an UNSCALED long at the column's declared
    * scale, rounded CONSERVATIVELY for the bound's direction (a
    * literal with more fractional digits than the column can only
    * WIDEN the interval, never narrow it); None = not a decimal
    * column / doesn't fit — no pushdown. */
  private def asUnscaled(c: String, v: Any,
      mode: java.math.RoundingMode): Option[Long] = {
    val scale = tableSchema.fields.find(_.name == c)
      .map(_.dataType).collect {
        case d: DecimalType => d.scale }.getOrElse(return None)
    val bd = v match {
      case b: java.math.BigDecimal => b
      case b: scala.math.BigDecimal => b.underlying()
      case b: org.apache.spark.sql.types.Decimal => b.toJavaBigDecimal
      case _ => return None
    }
    try Some(bd.setScale(scale, mode).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }
  }
  private def decLo(c: String, v: Any, strict: Boolean): Option[Long] =
    if (strict)
      asUnscaled(c, v, java.math.RoundingMode.FLOOR).map(_ + 1L)
    else asUnscaled(c, v, java.math.RoundingMode.CEILING)
  private def decHi(c: String, v: Any, strict: Boolean): Option[Long] =
    if (strict)
      asUnscaled(c, v, java.math.RoundingMode.CEILING).map(_ - 1L)
    else asUnscaled(c, v, java.math.RoundingMode.FLOOR)
  private def decScaleOf(c: String): Int =
    tableSchema.fields.find(_.name == c).map(_.dataType).collect {
      case d: DecimalType => d.scale }.getOrElse(0)
  private def asStr(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String =>
      Some(u.toString)
    case _ => None
  }
  private def boundOf(c: String, f: sources.Filter)
      : Option[Layout.ColRange] = f match {
    case sources.EqualTo(a, v) if a == c =>
      asLong(v).map(x => Layout.LongRange(x, x): Layout.ColRange)
        .orElse(asStr(v).map(s =>
          Layout.StrRange(s, Some(s)): Layout.ColRange))
        .orElse(for {
          lo <- asUnscaled(c, v, java.math.RoundingMode.FLOOR)
          hi <- asUnscaled(c, v, java.math.RoundingMode.CEILING)
        } yield Layout.DecRange(lo, hi, decScaleOf(c)): Layout.ColRange)
    case sources.GreaterThan(a, v) if a == c =>
      // strict integral bound tightened exactly (the extreme literal —
      // an always-false predicate — becomes an overlaps-nothing
      // range); strict STRING bounds are relaxed to inclusive
      // (file-granular skipping is inexact anyway, the residual
      // row-level filter stays strict)
      asLong(v).map(x =>
        (if (x == Long.MaxValue) Layout.LongRange(Long.MaxValue, Long.MinValue)
         else Layout.LongRange(x + 1, Long.MaxValue)): Layout.ColRange)
        .orElse(asStr(v).map(s =>
          Layout.StrRange(s, None): Layout.ColRange))
        .orElse(decLo(c, v, strict = true).map(x =>
          Layout.DecRange(x, Long.MaxValue, decScaleOf(c))
            : Layout.ColRange))
    case sources.GreaterThanOrEqual(a, v) if a == c =>
      asLong(v).map(x =>
        Layout.LongRange(x, Long.MaxValue): Layout.ColRange)
        .orElse(asStr(v).map(s =>
          Layout.StrRange(s, None): Layout.ColRange))
        .orElse(decLo(c, v, strict = false).map(x =>
          Layout.DecRange(x, Long.MaxValue, decScaleOf(c))
            : Layout.ColRange))
    case sources.LessThan(a, v) if a == c =>
      asLong(v).map(x =>
        (if (x == Long.MinValue) Layout.LongRange(Long.MaxValue, Long.MinValue)
         else Layout.LongRange(Long.MinValue, x - 1)): Layout.ColRange)
        .orElse(asStr(v).map(s =>
          Layout.StrRange("", Some(s)): Layout.ColRange))
        .orElse(decHi(c, v, strict = true).map(x =>
          Layout.DecRange(Long.MinValue, x, decScaleOf(c))
            : Layout.ColRange))
    case sources.LessThanOrEqual(a, v) if a == c =>
      asLong(v).map(x =>
        Layout.LongRange(Long.MinValue, x): Layout.ColRange)
        .orElse(asStr(v).map(s =>
          Layout.StrRange("", Some(s)): Layout.ColRange))
        .orElse(decHi(c, v, strict = false).map(x =>
          Layout.DecRange(Long.MinValue, x, decScaleOf(c))
            : Layout.ColRange))
    case _ => None
  }

  // partition-directory pruning: col -> allowed (URL-encoded) values,
  // from equality/IN predicates on the table's recorded partcols
  private var partEq: Seq[(String, Set[String])] = Nil
  // file selection: the absolute paths `_file = v` / `_file IN (...)`
  // predicates allow, one set per predicate
  private var fileEq: Seq[Set[String]] = Nil

  override def pushFilters(filters: Array[sources.Filter])
      : Array[sources.Filter] = {
    val statsCols = info.toSeq.flatMap(_.statsCols)
    val parsed = statsCols.zipWithIndex.flatMap { case (c, i) =>
      filters.toSeq.flatMap(f =>
        boundOf(c, f).map(q => (f, (i, q))))
    }
    // IS [NOT] NULL on an indexed column: served by the per-file
    // null counts (files without a recorded count are always read)
    val nullParsed = statsCols.zipWithIndex.flatMap { case (c, i) =>
      filters.toSeq.collect {
        case f @ sources.IsNull(a) if a == c => (f, (i, true))
        case f @ sources.IsNotNull(a) if a == c => (f, (i, false))
      }
    }
    nullBounds = nullParsed.map(_._2)
    val partCols = info.toSeq.flatMap(_.partCols)
    def enc(v: Any) =
      java.net.URLEncoder.encode(String.valueOf(v), "UTF-8")
    val pf = filters.toSeq.flatMap {
      case f @ sources.EqualTo(c, v) if partCols.contains(c) =>
        Some((f, (c, Set(enc(v)))))
      case f @ sources.In(c, vs) if partCols.contains(c) =>
        Some((f, (c, vs.map(enc).toSet)))
      case _ => None
    }
    partEq = pf.map(_._2)
    val ff = filters.toSeq.collect {
      case f @ sources.EqualTo("_file", v) => (f, Set(String.valueOf(v)))
      case f @ sources.In("_file", vs) =>
        (f, vs.map(String.valueOf).toSet)
    }
    fileEq = ff.map(_._2)
    accepted = (parsed.map(_._1) ++ nullParsed.map(_._1) ++
      pf.map(_._1) ++ ff.map(_._1)).distinct.toArray
    bounds = parsed.map(_._2)
    filters // ALL residual: file-granular skipping is inexact
  }
  override def pushedFilters(): Array[sources.Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ----- Aggregate pushdown: METADATA queries answered by the manifest.
  // count(*) is the manifest's recorded total row count; min/max of the
  // stats column are the extremes of the per-file [min, max] index —
  // both driver-side text reads, ZERO data files touched. At 100 TB
  // this turns `SELECT count(*)` from a full scan into an O(manifest)
  // lookup (Iceberg's metadata-table trick, served from our own
  // format). Pushed only when EXACT: no grouping, no pushed file-skip
  // bounds (Spark itself refuses aggregate pushdown while residual
  // filters remain, and all our filters are residual — the two rules
  // compose so a filtered count never takes this path), min/max only
  // when EVERY file carries a range for the recorded column and the
  // table is non-empty (empty → SQL NULL, which the manifest cannot
  // distinguish from refused — so refuse).
  private var aggResult: Option[(StructType, Seq[Any])] = None

  private def planAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    // a change-feed scan reads a COMMIT WINDOW, not the head image —
    // the manifest's totals answer the wrong question there
    if (agg.groupByExpressions.nonEmpty || bounds.nonEmpty ||
      nullBounds.nonEmpty || fileEq.nonEmpty ||
      options.getBoolean("readChangeFeed", false)) return None
    val info = this.info.getOrElse(return None)
    // deletion sidecars (keyed or positional): count(*) stays exact
    // (the manifest's total is LOGICAL — commits subtract masked
    // rows), but per-file ranges and null counts describe PHYSICAL
    // rows a mask may have removed, so min/max/count(col) cannot be
    // answered from the index while sidecars exist
    if ((info.dv.nonEmpty || info.dvp.nonEmpty) &&
      agg.aggregateExpressions.exists {
      case _: org.apache.spark.sql.connector.expressions.aggregate
        .CountStar => false
      case _ => true
    }) return None
    val rows = info.rows
    lazy val perFile = info.statLines.map(l => Layout.statsOfFull(l)._2)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case n: NamedReference if n.fieldNames.length == 1 =>
        Some(n.fieldNames.head)
      case _ => None
    }
    def extreme(e: org.apache.spark.sql.connector.expressions.Expression,
        pick: Seq[(Long, Long)] => Long)
        : Option[(String, DataType, Any)] =
      for {
        c <- colOf(e)
        i <- Some(info.statsCols.indexOf(c)) if i >= 0 && rows > 0
        // complete INTEGRAL-domain ranges at THIS column's position:
        // every file carries an exact range (Long, or DecRange at the
        // column's own scale), else the manifest can't answer exactly
        // (string bounds are TRUNCATED — never an exact extreme — and
        // a missing range means an unindexed or all-null file)
        dt = tableSchema(c).dataType
        ranges <- Some(perFile.map(_.lift(i).flatMap(_.range).collect {
          case Layout.LongRange(lo, hi) => (lo, hi)
          case Layout.DecRange(lo, hi, s)
              if dt.isInstanceOf[DecimalType] &&
                dt.asInstanceOf[DecimalType].scale == s => (lo, hi)
        })) if ranges.nonEmpty && ranges.forall(_.isDefined)
        // answer only for types whose index domain maps back exactly —
        // a FLOAT/DOUBLE statscol would surface a truncated extreme
        out <- dt match {
          case LongType | IntegerType | DateType | TimestampType |
            TimestampNTZType => Some(dt)
          case d: DecimalType if d.precision <= 18 => Some(d)
          case _ => None
        }
      } yield {
        val v = pick(ranges.map(_.get))
        out match {
          case IntegerType | DateType => (c, out, v.toInt)
          case d: DecimalType => (c, out,
            org.apache.spark.sql.types.Decimal
              .createUnsafe(v, d.precision, d.scale))
          case _ => (c, out, v) // LongType / TIMESTAMP micros
        }
      }
    // count(col) = rows − Σ per-file null counts: exact when EVERY
    // file records a count for the column (round-14 manifests; any
    // pre-null-count line refuses the shortcut)
    def countCol(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(String, DataType, Any)] =
      for {
        c <- colOf(e)
        i <- Some(info.statsCols.indexOf(c)) if i >= 0
        nulls <- Some(perFile.map(_.lift(i).flatMap(_.nulls)))
          if nulls.forall(_.isDefined)
      } yield (s"count($c)", LongType, rows - nulls.flatten.sum)
    val planned = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count(*)", LongType: DataType, rows))
      case m: Min => extreme(m.column, _.map(_._1).min)
        .map { case (c, dt, v) => (s"min($c)", dt, v) }
      case m: Max => extreme(m.column, _.map(_._2).max)
        .map { case (c, dt, v) => (s"max($c)", dt, v) }
      case cnt: Count if !cnt.isDistinct => countCol(cnt.column)
      case _ => None
    }
    if (planned.exists(_.isEmpty)) None
    else Some((
      StructType(planned.flatten.map { case (n, dt, _) =>
        StructField(n, dt, nullable = false)
      }),
      planned.flatten.map(_._3)))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = planAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    planAgg(agg) match {
      case some @ Some(_) => aggResult = some; true
      case None => false
    }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new ManifestAggScan(schema, values)
    case None => fileScan()
  }

  private def changeFeed: Boolean =
    options.getBoolean("readChangeFeed", false)

  private def fileScan(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def description(): String =
      s"graft-snapshot:$path bounds=${bounds.mkString(",")} " +
        s"columns=${required.fieldNames.mkString(",")}" +
        (if (changeFeed) " changeFeed" else "")
    override def toBatch: Batch = if (changeFeed) new Batch {
      // BATCH change-feed window: typed changes of every commit in
      // (startingSnapshot, endingSnapshot|asOf] — the batch twin of
      // the streaming readChangeFeed mode, same per-commit planning
      // (recorded change files for merge/restore, synthesized
      // added/removed for unrecorded commits). Stats/partition pruning
      // does not apply: the window is selected by SNAPSHOT ids, not
      // predicates (which stay residual row-level as always).
      override def planInputPartitions(): Array[InputPartition] = {
        val spark = SparkSession.active
        val from =
          Option(options.get("startingSnapshot")).map(_.toInt)
            .getOrElse(0)
        val to =
          Option(options.get("endingSnapshot")).map(_.toInt)
            .getOrElse(asOf)
        require(to <= asOf,
          s"graft-snapshot: endingSnapshot $to is beyond the pinned " +
            s"snapshot $asOf")
        Layout.changeFeedPlan(spark, path, from, to)
          .map { case (f, op) =>
            SnapshotFilePartition(f, op.orNull): InputPartition
          }.toArray
      }
      // recorded change files (op None) carry their own written names;
      // synthesized data-file reads use the mapping
      override def createReaderFactory(): PartitionReaderFactory =
        SnapshotFileReaderFactory(path, required,
          info.map(_.colMap).getOrElse(Map.empty), changeFeed = true)
    } else new Batch {
      override def planInputPartitions(): Array[InputPartition] = {
        // a file with no `col=value` segment for a filtered column is
        // kept (an unpartitioned writer's file — conservative)
        def partKeep(rel: String): Boolean = {
          lazy val segs = rel.split('/').dropRight(1).flatMap { s =>
            val i = s.indexOf('=')
            if (i > 0) Some(s.take(i) -> s.drop(i + 1)) else None
          }.toMap
          partEq.forall { case (c, allowed) =>
            segs.get(c).forall(allowed.contains) }
        }
        info.map(i => SnapshotFilePartition.of(path, i,
          Layout.snapshotFileStats(SparkSession.active, path, i)
          .filter { case (abs, rel, stats) =>
            fileEq.forall(_.contains(abs)) && partKeep(rel) &&
            bounds.forall { case (i, q) =>
              stats.lift(i).flatMap(_.range).forall(r =>
                Layout.ColRange.overlaps(r, q))
              // no recorded range for this column = always read
            } &&
            nullBounds.forall { case (i, wantNull) =>
              val s = stats.lift(i)
              if (wantNull)
                // IS NULL: skip files PROVEN null-free
                !s.exists(_.nulls.contains(0L))
              else
                // IS NOT NULL: skip files PROVEN all-null (range
                // None + nulls > 0, the statLine writer invariant)
                !s.exists(st => st.range.isEmpty &&
                  st.nulls.exists(_ > 0L))
            }
          }.map(e => (e._1, e._2))))
          .getOrElse(Array.empty)
      }
      override def createReaderFactory(): PartitionReaderFactory =
        SnapshotFileReaderFactory(path, required,
          info.map(_.colMap).getOrElse(Map.empty), sidecars = info)
    }
    override def toMicroBatchStream(
        checkpointLocation: String): rstreaming.MicroBatchStream =
      new SnapshotMicroBatchStream(path, required,
        Option(options.get("startingSnapshot")).map(_.toInt).getOrElse(0),
        math.max(1, Option(options.get("maxSnapshotsPerTrigger"))
          .map(_.toInt).getOrElse(1)),
        options.getBoolean("readChangeFeed", false))
  }
}

/** The one-row scan serving a completely-pushed aggregate from
  * manifest metadata — its single partition carries the already-
  * computed values (Longs/Ints), so the "query" ships no work at all. */
final class ManifestAggScan(aggSchema: StructType, values: Seq[Any])
    extends MetaRowsScan(aggSchema, Seq(values),
      s"graft-snapshot manifest-aggregate " +
        aggSchema.fieldNames.mkString(","))

/** Driver-computed rows served as a scan — the metadata-table shape
  * (history/files) and the pushed-aggregate's one-row case: all
  * values are precomputed InternalRow-ready atoms (Long/Int/
  * UTF8String/null), the single partition just replays them. */
sealed class MetaRowsScan(rowSchema: StructType,
    rows: Seq[Seq[Any]], desc: String) extends Scan {
  override def readSchema(): StructType = rowSchema
  override def description(): String = desc
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(MetaRowsPartition(rows))
    override def createReaderFactory(): PartitionReaderFactory =
      new PartitionReaderFactory {
        override def createReader(
            p: InputPartition): PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private val it =
              p.asInstanceOf[MetaRowsPartition].rows.iterator
            private var cur: InternalRow = _
            override def next(): Boolean =
              if (!it.hasNext) false
              else { cur = new GenericInternalRow(it.next().toArray)
                true }
            override def get(): InternalRow = cur
            override def close(): Unit = ()
          }
      }
  }
}

final case class MetaRowsPartition(rows: Seq[Seq[Any]])
    extends InputPartition

/** The stream offset IS the snapshot id — the manifest sequence is the
  * log, so offset arithmetic and time travel share one number line. */
final case class SnapshotOffset(id: Int) extends rstreaming.Offset {
  override def json(): String = id.toString
}

final class SnapshotMicroBatchStream(path: String, schema: StructType,
    startingSnapshot: Int, maxPerTrigger: Int,
    changeFeed: Boolean = false)
    extends rstreaming.MicroBatchStream
    with rstreaming.SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): rstreaming.Offset =
    SnapshotOffset(startingSnapshot)

  // Admission control caps each micro-batch at `maxPerTrigger` snapshot
  // TRANSITIONS, so one trigger never flattens several commits into an
  // indistinguishable blob (and processAllAvailable() still drains to
  // the head, one commit-window at a time).
  override def getDefaultReadLimit: rstreaming.ReadLimit =
    rstreaming.ReadLimit.allAvailable()
  override def latestOffset(start: rstreaming.Offset,
      limit: rstreaming.ReadLimit): rstreaming.Offset = {
    val s = start.asInstanceOf[SnapshotOffset].id
    SnapshotOffset(math.min(Layout.headId(spark, path),
      s.toLong + maxPerTrigger).toInt)
  }
  override def reportLatestOffset(): rstreaming.Offset =
    SnapshotOffset(Layout.headId(spark, path))
  override def latestOffset(): rstreaming.Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: rstreaming.Offset,
      end: rstreaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotOffset].id
    val e = end.asInstanceOf[SnapshotOffset].id
    if (e <= s) Array.empty
    else {
      // MID-STREAM schema evolution (round 14): a stream's output
      // schema is fixed at start, so a RENAME/DROP of a column it
      // emits cannot be surfaced in-flight — resolving the old
      // logical name against files storing physical names would
      // silently null-fill from here on. Fail LOUDLY with a restart
      // instruction instead. Checked against the HEAD schema, not
      // the window's end snapshot: replaying history legitimately
      // crosses snapshots that PREDATE later-added columns (those
      // null-fill — the append-evolution contract) and snapshots
      // that predate a rename (the head's column mapping resolves
      // current names to their stable physical names for files of
      // every vintage). ADD COLUMN stays transparent: the stream
      // simply doesn't emit the new column until restarted.
      val headInfo = Layout.snapshotInfo(spark, path)
      val logicalNow = headInfo.flatMap(_.schema)
        .map(_.fieldNames.toSet).getOrElse(Set.empty[String])
      val missing = schema.fieldNames
        .filterNot(n => n == "_op" || n == "_file" || n == "_pos")
        .filterNot(logicalNow.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"graft-snapshot stream at $path: column(s) " +
          s"${missing.mkString(", ")} no longer exist in the " +
          "table's logical schema — renamed or dropped mid-stream. " +
          "Restart the query to resume from its checkpoint under " +
          "the new schema; emitted batches up to this point used " +
          "the old names.")
      val physOf = headInfo.map(_.colMap).getOrElse(Map.empty)
      if (changeFeed) {
        // per-commit plan: recorded change files (own _op column) for
        // merge/restore commits, new data files with synthesized
        // op='added' for appends
        factory = SnapshotFileReaderFactory(path, schema, physOf,
          changeFeed = true)
        Layout.changeFeedPlan(spark, path, s, e).map { case (f, op) =>
          SnapshotFilePartition(f, op.orNull): InputPartition
        }.toArray
      } else {
        // the END snapshot's deletion sidecars apply to the streamed
        // files (matching the batch twin readSnapshotChanges): a fresh
        // file that gained a delete sidecar inside the same window
        // must not stream rows the equivalent batch read masks
        val endInfo = Layout.snapshotInfo(spark, path, e)
        factory = SnapshotFileReaderFactory(path, schema, physOf,
          sidecars = endInfo)
        endInfo.map(SnapshotFilePartition.of(path, _,
          Layout.changedFilePaths(spark, path, s, e)))
          .getOrElse(Array.empty)
      }
    }
  }
  // the reader factory of the last planned batch, built for its column
  // mapping and sidecars: Spark plans a batch's partitions before it
  // asks for the factory (a factory that misses a partition's sidecars
  // fails the read, never unmasks a row)
  @volatile private var factory: PartitionReaderFactory = _
  override def createReaderFactory(): PartitionReaderFactory =
    Option(factory).getOrElse(SnapshotFileReaderFactory(path, schema))
  override def deserializeOffset(json: String): rstreaming.Offset =
    SnapshotOffset(json.toInt)
  override def commit(end: rstreaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One data (or recorded-change) file to read. `op` (change-feed
  * batches only): the constant `_op` to synthesize for every row —
  * null when the file carries its own `_op` column or the scan is a
  * plain table read. `dvFiles` / `dvpFiles`: ABSOLUTE paths of the
  * file's keyed and positional deletion sidecars (merge-on-read) — the
  * reader drops rows whose key appears in any keyed one and rows whose
  * physical ordinal a positional one lists for this file. */
final case class SnapshotFilePartition(file: String, op: String = null,
    dvFiles: Seq[String] = Nil, dvpFiles: Seq[String] = Nil)
    extends InputPartition

object SnapshotFilePartition {
  /** One partition per file of `files` — (ABSOLUTE path,
    * manifest-relative name) pairs of the snapshot `info` — each
    * carrying the keyed and positional sidecars `info` attaches to it. */
  def of(path: String, info: Layout.ManifestInfo,
      files: Seq[(String, String)]): Array[InputPartition] = {
    val spark = SparkSession.active
    val dv = Layout.sidecarPaths(spark, path, info.dv)
    val dvp = Layout.sidecarPaths(spark, path, info.dvp)
    files.map { case (abs, rel) =>
      SnapshotFilePartition(abs, dvFiles = dv.getOrElse(rel, Nil),
        dvpFiles = dvp.getOrElse(rel, Nil)): InputPartition
    }.toArray
  }
}

object SnapshotFileReaderFactory {
  /** Is `dt` a column type the snapshot reader/writer pair carries?
    * Atomic types only; DECIMAL up to precision 18 (what the
    * data-skipping index stores as an unscaled long, Layout.DecRange);
    * DATE as INT32 epoch days; TIMESTAMP (both LTZ and NTZ) as INT64
    * TIMESTAMP_MICROS. */
  private[sources] def supports(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType |
      BooleanType | StringType | DateType | TimestampType |
      TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }
  def validate(schema: StructType): Unit = schema.fields.foreach { f =>
    require(supports(f.dataType),
      s"graft-snapshot: unsupported column type ${f.dataType.sql} for " +
        s"'${f.name}' (supported: BIGINT, INT, DOUBLE, FLOAT, " +
        "BOOLEAN, STRING, DATE, TIMESTAMP, TIMESTAMP_NTZ, " +
        "DECIMAL(<=18, s))")
  }

  /** Spark's parquet reader for `required`, built on the driver and
    * shipped to executors: rows (never batches) and no pushed filters
    * — every filter stays residual. A column the file lacks reads null
    * (files predating an evolved column); an INT or FLOAT file column
    * widens to a BIGINT or DOUBLE `required` one (ALTER COLUMN TYPE
    * stays metadata-only); the row index column yields each row's
    * physical ordinal in the file. */
  private[sources] final class FileRead(spark: SparkSession,
      val required: StructType) extends Serializable {
    private val read = new ParquetFileFormat()
      .buildReaderWithPartitionValues(spark, required, new StructType(),
        required, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())

    /** `file`, `len` bytes long, read whole as one split, so row
      * indexes are ordinals. */
    def rows(file: String, len: Long): Iterator[InternalRow] =
      read(PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(file), 0L, len, fileSize = len))
  }

  private[sources] def lengthOf(file: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val p = new org.apache.hadoop.fs.Path(file)
    p.getFileSystem(conf).getFileStatus(p).getLen
  }

  /** The reader-synthesized metadata columns, never read from a file. */
  private[sources] val MetaCols = Set("_file", "_pos")

  private val RowIndex = StructField(
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
  private val PositionSchema = new StructType()
    .add("__gf_fb", StringType).add("__gf_pos", LongType)

  /** The reader factory of one scan, built on the DRIVER. `schema`:
    * the scan's (pruned, logical) columns; `physOf`: the snapshot's
    * logical → physical column names, which data files store (recorded
    * change files — a change-feed partition without `op` — keep the
    * names they were written with); `sidecars`: the snapshot whose
    * deletion sidecars the partitions carry. The keyed sidecars' key
    * columns join every data read, so masking evaluates whether or not
    * the scan selects them. */
  def apply(path: String, schema: StructType,
      physOf: Map[String, String] = Map.empty,
      sidecars: Option[Layout.ManifestInfo] = None,
      changeFeed: Boolean = false): SnapshotFileReaderFactory = {
    val spark = SparkSession.active
    val keys = sidecars.toSeq.flatMap(dvKeyFields(spark, path, _))
    def dataRead(name: String => String) = {
      val cols = schema.fields.toSeq.filterNot(f => MetaCols(f.name))
        .map(f => f.copy(name = name(f.name), nullable = true))
      new FileRead(spark, StructType((cols ++ keys.filterNot(k =>
        cols.exists(_.name == k.name))) :+ RowIndex))
    }
    val data = dataRead(c => physOf.getOrElse(c, c))
    new SnapshotFileReaderFactory(schema, data,
      written = if (changeFeed && physOf.nonEmpty) dataRead(identity)
        else data,
      keys = if (keys.isEmpty) null
        else new FileRead(spark, StructType(keys)),
      positions = if (sidecars.exists(_.dvp.nonEmpty))
        new FileRead(spark, PositionSchema) else null,
      spark.sparkContext.broadcast(new SerializableConfiguration(
        spark.sessionState.newHadoopConf())))
  }

  /** The key columns of `info`'s keyed deletion sidecars: the PHYSICAL
    * name each sidecar records, typed as the snapshot's schema types
    * that column — so a sidecar written before a type widening reads
    * in the data files' current type. */
  private def dvKeyFields(spark: SparkSession, path: String,
      info: Layout.ManifestInfo): Seq[StructField] = {
    val typeOf = info.schema.toSeq.flatMap(_.fields).map(f =>
      Layout.physName(info.colMap, f.name) -> f.dataType).toMap
    Layout.dvKeyPhysCols(spark, path, info).toSeq.sorted.map(k =>
      StructField(k, typeOf.getOrElse(k, throw new IllegalStateException(
        s"graft-snapshot: deletion-sidecar key '$k' is not a column " +
          s"of the snapshot at $path"))))
  }
}

/** One reader per committed data file (executor-side), over Spark's own
  * parquet reader ([[SnapshotFileReaderFactory.FileRead]]): the read
  * function built on the driver projects the file to the scan's
  * physical columns plus the sidecar key columns and the row index;
  * each partition wraps its iterator — drop rows a keyed sidecar masks
  * (a null key is never masked), drop positionally masked ordinals,
  * fill the `_file` and `_op` constants and the `_pos` ordinal, project
  * to the scan's schema — and point the input-file holder at the file.
  * A zero-column read (the count(*) shape) still reads the row index,
  * so row counts survive full pruning. `data` reads a file under the
  * snapshot's physical names, `written` one without a synthesized `_op`
  * — in a change feed a recorded change file, under the names it was
  * written with; elsewhere the same read as `data`. `keys` /
  * `positions`: the sidecar reads, null when the scan's snapshot has
  * none of that kind. */
final class SnapshotFileReaderFactory private (schema: StructType,
    data: SnapshotFileReaderFactory.FileRead,
    written: SnapshotFileReaderFactory.FileRead,
    keys: SnapshotFileReaderFactory.FileRead,
    positions: SnapshotFileReaderFactory.FileRead,
    hadoopConf: org.apache.spark.broadcast
      .Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  import SnapshotFileReaderFactory.{lengthOf, MetaCols}

  /** The union of the sidecars' masked keys, one set per key column —
    * bounded by the masked-row count, loaded once per reader task. */
  private def loadDvKeys(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)
      : Array[java.util.HashSet[Any]] = {
    val fields = keys.required.fields
    val sets = fields.map(_ => new java.util.HashSet[Any]())
    paths.foreach(p => keys.rows(p, lengthOf(p, conf)).foreach(r =>
      fields.indices.filterNot(r.isNullAt).foreach(k =>
        sets(k).add(InternalRow.copyValue(r.get(k, fields(k).dataType))))))
    sets
  }

  /** THIS file's masked physical row ordinals from positional sidecars
    * — rows are (`__gf_fb` basename, `__gf_pos` ordinal) pairs,
    * filtered to the partition's own file. */
  private def loadDvPositions(paths: Seq[String], fileBase: String,
      conf: org.apache.hadoop.conf.Configuration)
      : java.util.HashSet[Long] = {
    val set = new java.util.HashSet[Long]()
    val base = UTF8String.fromString(fileBase)
    paths.foreach(p => positions.rows(p, lengthOf(p, conf)).foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1) && r.getUTF8String(0) == base)
        set.add(r.getLong(1))
    })
    set
  }

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SnapshotFilePartition]
    val file = part.file
    val conf = hadoopConf.value.value
    require((part.dvFiles.isEmpty || keys != null) &&
      (part.dvpFiles.isEmpty || positions != null),
      s"graft-snapshot: $file carries deletion sidecars the scan's " +
        "reader was not built for")
    val read = if (part.op == null) written else data
    // per sidecar key column: its ordinal in the read row, its type
    // and the keys it masks
    val keyed: Array[(Int, DataType, java.util.HashSet[Any])] =
      if (part.dvFiles.isEmpty) Array.empty
      else keys.required.fields.zip(loadDvKeys(part.dvFiles, conf)).map {
        case (f, set) => (read.required.fieldIndex(f.name), f.dataType, set)
      }
    val dropped =
      if (part.dvpFiles.isEmpty) null
      else loadDvPositions(part.dvpFiles,
        file.substring(file.lastIndexOf('/') + 1), conf)
    val rowIdx = read.required.length - 1
    // per output column: its ordinal in the read row, or -1 = the
    // `_file` metadata column, -2 = the change feed's synthesized
    // `_op`, -3 = the `_pos` metadata column (the row index)
    val src = schema.fields.zipWithIndex.map { case (f, i) =>
      if (f.name == "_file") -1
      else if (f.name == "_pos") -3
      else if (f.name == "_op" && part.op != null) -2
      else i - schema.fields.take(i).count(g => MetaCols(g.name))
    }
    val types = schema.fields.map(_.dataType)
    val fileU = UTF8String.fromString(file)
    val opU = if (part.op == null) null else UTF8String.fromString(part.op)
    val len = lengthOf(file, conf)
    GraftSessionShim.setInputFile(file, len)
    val it = read.rows(file, len)
    new PartitionReader[InternalRow] {
      private val cur = new GenericInternalRow(schema.length)
      private def masked(r: InternalRow): Boolean =
        (dropped != null && dropped.contains(r.getLong(rowIdx))) ||
          keyed.exists { case (o, dt, set) =>
            !r.isNullAt(o) && set.contains(r.get(o, dt)) }
      override def next(): Boolean = {
        var r: InternalRow = null
        while (r == null && it.hasNext) {
          r = it.next()
          if (masked(r)) r = null
        }
        if (r == null) false
        else {
          var i = 0
          while (i < src.length) {
            cur.update(i, src(i) match {
              case -1 => fileU
              case -2 => opU
              case -3 => r.getLong(rowIdx)
              case o => if (r.isNullAt(o)) null else r.get(o, types(i))
            })
            i += 1
          }
          true
        }
      }
      override def get(): InternalRow = cur
      override def close(): Unit = {
        GraftSessionShim.unsetInputFile()
        it match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
    }
  }
}

// ----- Write path: the DSv2 snapshot SINK --------------------------------
//
// `df.write.format("graft-snapshot")` (append, or overwrite via
// TRUNCATE) and `writeStream.format("graft-snapshot")` commit through
// the SAME optimistic manifest protocol as Layout's API
// ([[graft.ops.Layout.commitStagedLines]]): executors stage immutable
// parquet files DIRECTLY under data/ (unreferenced until a manifest
// wins — the crash contract: a dead task leaves an orphan for vacuum,
// never a torn table), each task's commit message carries its manifest
// file line (name, row count, optional min/max of `statsCol` — so the
// data-skipping index is populated from values the writer already saw,
// zero extra footer reads), and the DRIVER commit assembles one
// manifest per job/epoch. Streaming commits tag the manifest with
// (queryId, epochId), making epoch replay after a restart IDEMPOTENT —
// the same ledger rule as the K1 topic sink, expressed as manifest
// metadata. Options: `statsCol` records the per-file range index;
// `tag` (batch) makes a batch write idempotent under the caller's key.
final class SnapshotWriteBuilder(path: String,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    declaredPartCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var replaceAll = false
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    replaceAll = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new SnapshotWrite(path, info.schema(), info.queryId(),
      info.options(), replaceAll, declaredPartCols)
}

final class SnapshotWrite(path: String, writeSchema: StructType,
    queryId: String, options: CaseInsensitiveStringMap,
    truncate: Boolean, declaredPartCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write
      .RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  SnapshotFileReaderFactory.validate(writeSchema)

  // Hive-style partition layout: declared (partitionBy / catalog
  // PARTITIONED BY) wins; otherwise the table's recorded layout is
  // sticky so plain appends keep following it. Partition values
  // become path segments, so floats (lossy text) are rejected.
  private val partCols: Seq[String] =
    if (declaredPartCols.nonEmpty) declaredPartCols
    else Layout.snapshotPartCols(SparkSession.active, path)
  partCols.foreach { c =>
    require(writeSchema.fieldNames.contains(c),
      s"graft-snapshot write: partition column '$c' is not a " +
        "written column")
    writeSchema(c).dataType match {
      // DATE partitions (round 14): values render as ISO strings
      // ('d=2020-01-01/') — the standard daily layout; floats stay
      // rejected (lossy text)
      case LongType | IntegerType | StringType | BooleanType |
        DateType => ()
      case dt => throw new IllegalArgumentException(
        s"graft-snapshot write: partition column '$c' has " +
          s"non-partitionable type ${dt.sql}")
    }
  }

  private val statsCol = Option(options.get("statsCol"))
  private def statsColList: Seq[String] =
    statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  // The table requests its own write GEOMETRY (round 13 — no more
  // /*+ REPARTITION */ hints in SQL INSERTs):
  //  - partitioned: cluster by the partition values so each value
  //    lands in ONE task → one file per (task, value);
  //  - stats-indexed (unpartitioned): a GLOBAL ORDER on the indexed
  //    columns → Spark range-partitions + sorts, so files carry
  //    DISJOINT [min, max] ranges and the data-skipping index prunes
  //    pure-SQL inserts exactly like the Layout API's range writes.
  // Not strictly required: AQE may coalesce the shuffle, so a small
  // INSERT lands as one file instead of |shuffle.partitions| shards.
  // Within-task ordering covers both (partition value, then stats).
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    if (partCols.nonEmpty)
      Distributions.clustered(partCols.map(c =>
        org.apache.spark.sql.connector.expressions.Expressions
          .column(c): org.apache.spark.sql.connector.expressions
          .Expression).toArray)
    else if (statsColList.nonEmpty)
      Distributions.ordered(sortOrders(statsColList))
    else Distributions.unspecified()
  }
  override def distributionStrictlyRequired(): Boolean = false
  private def sortOrders(cols: Seq[String])
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    cols.map { c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions
          .column(c),
        org.apache.spark.sql.connector.expressions.SortDirection
          .ASCENDING)
        : org.apache.spark.sql.connector.expressions.SortOrder
    }.toArray
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    sortOrders((partCols ++ statsColList).distinct)
  // statsCol accepts a comma list ("c1,c2"): each indexed column must
  // be a written integral, temporal, decimal or string column
  // (strings record truncated code-point-ordered bounds; temporals
  // ride the integral lane as epoch days/micros; decimals as scaled
  // unscaled longs — Layout.ColRange)
  statsCol.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    .foreach { c =>
      require(writeSchema.fieldNames.contains(c),
        s"graft-snapshot write: statsCol '$c' is not a written column")
      val ok = writeSchema(c).dataType match {
        case LongType | IntegerType | StringType | DateType |
          TimestampType | TimestampNTZType => true
        case d: DecimalType => d.precision <= 18
        case _ => false
      }
      require(ok,
        s"graft-snapshot write: statsCol '$c' must be integral, " +
          s"date/timestamp, decimal(<=18) or string, is " +
          s"${writeSchema(c).dataType.sql}")
    }
  private val batchTag = Option(options.get("tag"))
  // column mapping: new files write the PHYSICAL names the table's
  // manifest records (stable across renames)
  private val tablePhys: Map[String, String] =
    Layout.snapshotInfo(SparkSession.active, path)
      .map(_.colMap).getOrElse(Map.empty)

  // Executors stage into a write-private `.stage-<tok>/` dir, NEVER
  // into data/: files appear under data/ only inside the driver commit
  // (rename per file, a metadata op), and the publish step — renames
  // plus manifest claim — runs under the table's commit lock, which a
  // same-JVM vacuum also takes, so maintenance beside a streaming sink
  // can never interleave between an epoch's renames and its manifest.
  // Cross-process, vacuum's modification-time grace period narrows
  // (not closes) that window — the Delta retention trade-off. A crash
  // leaves a hidden stage dir beside the table (same as Layout's own
  // staging); vacuum sweeps `.stage-*` dirs past the grace age.
  private def fsOf() = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf()), root)
  }

  private def prepareStageDir(tok: String): String = {
    val (fs, root) = fsOf()
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
    fs.mkdirs(stage)
    fs.makeQualified(stage).toString
  }

  private def deleteStaged(tok: String,
      messages: Array[WriterCommitMessage]): Unit = {
    val (fs, root) = fsOf()
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
    messages.collect { case m: SnapshotFileCommit => m }
      .flatMap(_.lines).map(_.split('|').head)
      .foreach(n => fs.delete(
        new org.apache.hadoop.fs.Path(stage, n), false))
  }

  private def commitLines(tok: String,
      messages: Array[WriterCommitMessage], tag: String): Unit = {
    val (fs, root) = fsOf()
    val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    fs.mkdirs(dataDir)
    val msgs = messages.collect { case m: SnapshotFileCommit => m }
    // publish: move each task's staged file under data/ (names carry
    // the write token + epoch + partition — unique; partitioned
    // writes carry their `col=value/` subpath, created on demand),
    // THEN commit the manifest; a crash between the two leaves
    // orphans, never a torn table (the snapshotWrite contract). The
    // whole step holds the table's commit lock so a same-JVM vacuum
    // can't sweep the just-renamed, not-yet-referenced files.
    Layout.withTableLock(SparkSession.active, path) {
      msgs.flatMap(_.lines).map(_.split('|').head).foreach { n =>
        val dest = new org.apache.hadoop.fs.Path(dataDir, n)
        fs.mkdirs(dest.getParent)
        // a failed publish rename must abort BEFORE the manifest
        // claim — committing would reference a file that never arrived
        Layout.renameOrAbort(fs,
          new org.apache.hadoop.fs.Path(stage, n), dest)
      }
      Layout.commitStagedLines(SparkSession.active, path,
        msgs.flatMap(_.lines).sorted.toSeq, msgs.map(_.rows).sum,
        writeSchema, tag, carryPrevious = !truncate,
        statsCol.orNull, expectedBase = -1, tok = tok,
        partCols = partCols)
    }
    ()
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private val tok = java.util.UUID.randomUUID().toString.take(8)
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory = {
      // registered for the write's whole flight so a same-JVM vacuum
      // (even graceMs = 0) never sweeps its staged/just-renamed files
      Layout.registerTok(tok)
      SnapshotWriterFactory(prepareStageDir(tok), writeSchema,
        statsCol, partCols, tok, tablePhys)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      try {
        commitLines(tok, messages, batchTag.orNull)
        val (fs, root) = fsOf()
        fs.delete(new org.apache.hadoop.fs.Path(root, s".stage-$tok"),
          true)
      } finally Layout.releaseTok(tok)
    override def abort(messages: Array[WriterCommitMessage]): Unit =
      try {
        val (fs, root) = fsOf()
        fs.delete(new org.apache.hadoop.fs.Path(root, s".stage-$tok"),
          true)
      } finally Layout.releaseTok(tok)
  }

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new org.apache.spark.sql.connector.write.streaming.StreamingWrite {
      private val tok = java.util.UUID.randomUUID().toString.take(8)
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): org.apache.spark.sql.connector
          .write.streaming.StreamingDataWriterFactory = {
        // held for the query's lifetime (epochs share the stage dir)
        // and RELEASED when the query terminates (a query-scoped
        // StreamingQueryListener) — without the release a stopped
        // query's token would pin its replayed-epoch stage orphans
        // against vacuum for the JVM's lifetime
        StreamingTokRegistry.register(queryId, tok)
        SnapshotWriterFactory(prepareStageDir(tok), writeSchema,
          statsCol, partCols, tok, tablePhys)
      }
      // epoch replay after a restart re-stages files but the tagged
      // manifest short-circuits: exactly one commit per (query, epoch),
      // replayed stages become vacuum-able orphans. The stage dir is
      // shared across a query's sequential epochs (file names carry
      // the epoch id), so per-epoch abort deletes only its own files.
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        commitLines(tok, messages, s"sink-$queryId-e$epochId")
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        deleteStaged(tok, messages)
    }
}

/** Write tokens held by LIVE streaming queries, released on query
  * termination: a token spares the query's stage dir and just-staged
  * files from vacuum ([[graft.ops.Layout.registerTok]]); the streaming
  * sink has no per-query close hook, so a session-wide
  * [[org.apache.spark.sql.streaming.StreamingQueryListener]] (added
  * once per session, on the first streaming write) releases every
  * token registered under the terminated query's id — after which the
  * query's replayed-epoch stage orphans become vacuum-able, honoring
  * the maintenance-loop contract. Keyed by the
  * [[org.apache.spark.sql.connector.write.LogicalWriteInfo]] queryId;
  * the listener clears both the event's id and runId forms so either
  * identity convention releases.
  *
  * The listener attaches to the shared SPARKCONTEXT bus (termination
  * events are `SparkListenerEvent`s posted there), NOT to a
  * session-level `streams.addListener`: the write is planned on the
  * stream-execution thread whose active session is the runner's
  * CLONE, and a clone's StreamingQueryListenerBus filters out events
  * of queries it didn't start — a session-level listener registered
  * from here would never fire. */
private[sources] object StreamingTokRegistry {
  private val toks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[String]]()
  private val listening = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, java.lang.Boolean]())

  def register(queryId: String, tok: String): Unit = {
    Layout.registerTok(tok)
    toks.computeIfAbsent(queryId,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(tok)
    val sc = SparkSession.active.sparkContext
    if (listening.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            event: org.apache.spark.scheduler.SparkListenerEvent)
            : Unit = event match {
          case e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryTerminatedEvent =>
            Seq(e.id.toString, e.runId.toString).foreach { k =>
              Option(toks.remove(k))
                .foreach(_.forEach(t => Layout.releaseTok(t)))
            }
          case _ => ()
        }
      })
  }

  /** Is any token still held under this query id? (test seam) */
  private[graft] def live(queryId: String): Boolean =
    toks.containsKey(queryId)
}

final case class SnapshotFileCommit(lines: Seq[String], rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** What every task of one snapshot write shares, built on the DRIVER
  * ([[SnapshotWriterFactory.apply]]): Spark's parquet writer prepared
  * for `physSchema` — the written schema under the table's PHYSICAL
  * column names (column mapping; rows are written by position, so only
  * the names change) — and the job conf it writes with. */
final class SnapshotWriterFactory private (val stageDir: String,
    val schema: StructType, val statsCol: Option[String],
    val partCols: Seq[String], tok: String,
    val physSchema: StructType, val parquet: OutputWriterFactory,
    val jobConf: org.apache.spark.broadcast
      .Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SnapshotDataWriter(this, partitionId,
      s"$tok-p$partitionId-t$taskId")
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new SnapshotDataWriter(this, partitionId,
      s"$tok-e$epochId-p$partitionId-t$taskId")
}

object SnapshotWriterFactory {
  /** Prepares Spark's parquet write of `schema` renamed by `physOf`.
    * TIMESTAMP columns are pinned to INT64 TIMESTAMP_MICROS on the job
    * conf, whatever the session's default: Spark's legacy INT96 has no
    * column statistics for the data-skipping index. */
  def apply(stageDir: String, schema: StructType,
      statsCol: Option[String], partCols: Seq[String], tok: String,
      physOf: Map[String, String]): SnapshotWriterFactory = {
    val spark = SparkSession.active
    val physSchema = StructType(schema.fields.map(f =>
      f.copy(name = physOf.getOrElse(f.name, f.name))))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val parquet = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, physSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    new SnapshotWriterFactory(stageDir, schema, statsCol, partCols, tok,
      physSchema, parquet, spark.sparkContext.broadcast(
        new SerializableConfiguration(job.getConfiguration)))
  }
}

/** One parquet file per non-empty task and partition directory
  * (executor-side), written by Spark's parquet writer straight from
  * InternalRow. Files open LAZILY — an empty partition stages nothing
  * and commits an empty message — and each tracks the min/max of
  * `statsCol` over the rows it writes, so the manifest's data-skipping
  * index costs nothing beyond values already in hand. A null in
  * `statsCol` drops the file's range (rangeless = always read —
  * skipping must never change answers). */
final class SnapshotDataWriter(f: SnapshotWriterFactory,
    partitionId: Int, suffix: String)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val schema = f.schema
  // a per-writer copy: the parquet writer may set keys on its conf,
  // and the broadcast value is shared by every task on the executor
  private val conf =
    new org.apache.hadoop.conf.Configuration(f.jobConf.value.value)
  private val task = new org.apache.hadoop.mapreduce.task
    .TaskAttemptContextImpl(conf, new org.apache.hadoop.mapreduce
      .TaskAttemptID(new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID(suffix, 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId), 0))
  // per indexed column (statsCol is a comma list), in order
  private val statsIdx = f.statsCol.toSeq.flatMap(_.split(','))
    .map(_.trim).filter(_.nonEmpty).map(schema.fieldIndex).toArray
  private val partIdx = f.partCols.map(schema.fieldIndex).toArray

  /** One open parquet file (plus its running stats) — a task writes
    * one per partition-value directory it encounters; an
    * unpartitioned write has exactly one with an empty dir. The
    * writer opens lazily, so an empty task stages nothing. */
  private final class FileState(val relName: String) {
    val hPath = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(f.stageDir), relName)
    val writer = f.parquet.newInstance(hPath.toString, f.physSchema, task)
    var rows = 0L
    val lo = Array.fill(statsIdx.length)(Long.MaxValue)
    val hi = Array.fill(statsIdx.length)(Long.MinValue)
    // string columns: min/max tracked as UTF8String (byte comparison
    // = the code-point order the stored bounds use); values are
    // CLONED on update because Spark reuses row buffers
    val sLo = new Array[UTF8String](statsIdx.length)
    val sHi = new Array[UTF8String](statsIdx.length)
    val nullCnt = Array.fill(statsIdx.length)(0L)
    // one field pair (+ null count) per indexed column, positions
    // aligned with the statscols order: the range covers NON-NULL
    // values (integrals/temporals/decimal-unscaled in the Long lane,
    // strings truncated); a column whose every value was null renders
    // as an empty pair + the count — the all-null proof the reader
    // invariant relies on (Layout.statLine)
    def line: String =
      if (statsIdx.isEmpty || rows == 0) relName
      else graft.ops.Layout.statLineFull(relName,
        statsIdx.indices.map { k =>
          val range: Option[graft.ops.Layout.ColRange] =
            if (sLo(k) != null)
              Some(graft.ops.Layout.ColRange.ofStrings(
                sLo(k).toString, sHi(k).toString))
            else if (lo(k) <= hi(k))
              Some(schema.fields(statsIdx(k)).dataType match {
                case d: DecimalType =>
                  graft.ops.Layout.DecRange(lo(k), hi(k), d.scale)
                case _ => graft.ops.Layout.LongRange(lo(k), hi(k))
              })
            else None
          graft.ops.Layout.ColStat(range, Some(nullCnt(k)))
        })
  }
  private val states =
    scala.collection.mutable.LinkedHashMap[String, FileState]()
  private var fileSeq = 0

  /** Hive-style `col=value/` subpath for this row (empty when the
    * table is unpartitioned); values are URL-encoded so any string
    * is path-safe, nulls get a reserved marker. */
  private def dirOf(row: InternalRow): String =
    partIdx.zip(f.partCols).map { case (i, c) =>
      val v =
        if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
        else schema.fields(i).dataType match {
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case BooleanType => row.getBoolean(i).toString
          case DateType => // ISO 'yyyy-MM-dd' — matches the string
            // form of date literals in partition-equality pruning
            java.time.LocalDate.ofEpochDay(row.getInt(i)).toString
          case _ => row.getUTF8String(i).toString
        }
      c + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("/")

  override def write(row: InternalRow): Unit = {
    val dir = dirOf(row)
    val st = states.getOrElseUpdate(dir, {
      val nm = s"c$suffix-f$fileSeq.parquet"
      fileSeq += 1
      new FileState(if (dir.isEmpty) nm else s"$dir/$nm")
    })
    st.writer.write(row)
    st.rows += 1
    var k = 0
    while (k < statsIdx.length) {
      val si = statsIdx(k)
      if (row.isNullAt(si)) st.nullCnt(k) += 1L
      else schema.fields(si).dataType match {
        case StringType =>
          val u = row.getUTF8String(si)
          if (st.sLo(k) == null || u.compareTo(st.sLo(k)) < 0)
            st.sLo(k) = u.clone()
          if (st.sHi(k) == null || u.compareTo(st.sHi(k)) > 0)
            st.sHi(k) = u.clone()
        case dt =>
          // the Long index lane: plain integrals, DATE days,
          // TIMESTAMP micros, DECIMAL unscaled
          val v = dt match {
            case LongType | TimestampType | TimestampNTZType =>
              row.getLong(si)
            case d: DecimalType =>
              row.getDecimal(si, d.precision, d.scale).toUnscaledLong
            case _ => row.getInt(si).toLong // INT, DATE
          }
          if (v < st.lo(k)) st.lo(k) = v
          if (v > st.hi(k)) st.hi(k) = v
      }
      k += 1
    }
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    states.values.foreach(_.writer.close())
    SnapshotFileCommit(
      states.values.filter(_.rows > 0).map(_.line).toSeq,
      states.values.map(_.rows).sum)
  }

  override def abort(): Unit = states.values.foreach { st =>
    st.writer.close()
    st.hPath.getFileSystem(conf).delete(st.hPath, false)
  }

  override def close(): Unit = ()
}
