package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** SQL `MERGE INTO` / `UPDATE` / `DELETE` on the catalog's snapshot
  * tables — Spark's GROUP-BASED row-level operation protocol (the
  * copy-on-write path Iceberg pioneered), mapped onto the manifest
  * commit:
  *
  *  1. the analyzer rewrites the statement into a ReplaceData plan
  *     that reads the target through THIS operation's scan, joins the
  *     source, and emits the full replacement rows of every AFFECTED
  *     GROUP (here: data file);
  *  2. Spark's runtime group filtering evaluates the ON condition
  *     against a regular scan first and pushes `IN (_file, ...)` —
  *     the matched files — into the operation scan, so only files
  *     that actually contain matched rows are read and rewritten
  *     (file-pruned MERGE through pure SQL, the same O(touched+delta)
  *     shape as [[graft.ops.Layout.mergeSnapshot]]);
  *  3. the replacement write stages new files and commits with
  *     `dropFiles` = exactly the files the scan planned, conditional
  *     on the snapshot the scan pinned — a concurrent commit aborts
  *     with ConcurrentModificationException instead of losing rows.
  *
  * The `_file` metadata column (exposed via SupportsMetadataColumns on
  * the snapshot table and synthesized per-row by the file reader) is
  * the group identity the whole protocol keys on. */
final class GraftRowLevelOperation(path: String,
    tableSchema: StructType, statsCol: Option[String],
    cmd: RowLevelOperation.Command,
    partCols: Seq[String] = Nil) extends RowLevelOperation {

  // scan → write handshake, set when the (runtime-filtered) scan plans
  // its partitions: the ABSOLUTE paths of the files being replaced and
  // the snapshot id they came from
  @volatile private[sources] var plannedFiles: Seq[String] = Nil
  @volatile private[sources] var pinnedSnapshot: Int = -1

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String =
    s"graft-snapshot row-level $cmd on $path"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftRowLevelScanBuilder(this, path, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(GraftRowLevelOperation.this, path,
          info, statsCol, partCols)
    }
}

/** The affected-groups scan: all files of the pinned snapshot, cut
  * down by the runtime `_file IN (...)` group filter to the files
  * holding matched rows. Column pruning applies (the replacement read
  * carries the full row anyway); the final planned file set is
  * reported back to the operation for the commit's dropFiles. */
final class GraftRowLevelScanBuilder(op: GraftRowLevelOperation,
    path: String, tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // pin the snapshot NOW (plan time): the write's expectedBase and
    // the scanned file set must describe the same immutable manifest,
    // parsed once here
    val spark = SparkSession.active
    val asOf = Layout.headId(spark, path)
    op.pinnedSnapshot = asOf
    new GraftRowLevelScan(op, path, required, asOf,
      Layout.snapshotInfo(spark, path, asOf))
  }
}

final class GraftRowLevelScan(op: GraftRowLevelOperation, path: String,
    required: StructType, asOf: Int, info: Option[Layout.ManifestInfo])
    extends Scan with SupportsRuntimeFiltering {
  @volatile private var kept: Option[Set[String]] = None

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-snapshot row-level scan $path@$asOf " +
      s"groupFilter=${kept.map(_.size).getOrElse(-1)}"

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def filter(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    filters.foreach {
      case org.apache.spark.sql.sources.In("_file", values) =>
        kept = Some(values.map(String.valueOf).toSet)
      case _ => // non-file runtime filters: keep everything (safe)
    }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      // deletion sidecars apply here too: the replacement rows are
      // computed from the LOGICAL image, or the rewrite would
      // resurrect masked rows
      val planned = info.toSeq.flatMap { i =>
        Layout.snapshotFileStats(SparkSession.active, path, i)
          .map(e => (e._1, e._2))
          .filter(e => kept.forall(_.contains(e._1)))
      }
      op.plannedFiles = planned.map(_._1)
      info.map(SnapshotFilePartition.of(path, _, planned))
        .getOrElse(Array.empty)
    }
    override def createReaderFactory(): PartitionReaderFactory =
      SnapshotFileReaderFactory(path, required,
        info.map(_.colMap).getOrElse(Map.empty), sidecars = info)
  }
}

/** The replacement write: stages the full new content of the affected
  * groups through the same executor-side writers as the DSv2 sink,
  * then commits carry-forward with `dropFiles` = the scanned files —
  * the OPTIMIZE commit shape, conditional on the scanned snapshot. */
final class GraftReplaceDataWrite(op: GraftRowLevelOperation,
    path: String, info: LogicalWriteInfo, statsCol: Option[String],
    partCols: Seq[String])
    extends Write {
  SnapshotFileReaderFactory.validate(info.schema())

  override def description(): String =
    s"graft-snapshot replace-data $path"

  override def toBatch: BatchWrite = new BatchWrite {
    private val tok = java.util.UUID.randomUUID().toString.take(8)
    private def fsRoot() = {
      val root = new org.apache.hadoop.fs.Path(path)
      (root.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf()), root)
    }

    override def createBatchWriterFactory(
        pinfo: PhysicalWriteInfo): DataWriterFactory = {
      val (fs, root) = fsRoot()
      val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
      fs.mkdirs(stage)
      // spared from vacuum for the write's whole flight
      Layout.registerTok(tok)
      SnapshotWriterFactory(fs.makeQualified(stage).toString,
        info.schema(), statsCol, partCols, tok,
        Layout.snapshotInfo(SparkSession.active, path)
          .map(_.colMap).getOrElse(Map.empty))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val (fs, root) = fsRoot()
      val stage = new org.apache.hadoop.fs.Path(root, s".stage-$tok")
      val dataDir = new org.apache.hadoop.fs.Path(root, "data")
      fs.mkdirs(dataDir)
      val conf = spark.sessionState.newHadoopConf()
      val msgs = messages.collect { case m: SnapshotFileCommit => m }
      // dropFiles speaks MANIFEST-relative names (which include any
      // `col=value/` partition subpath), so strip the qualified data
      // dir from the scanned absolute paths
      val dataDirQ = fs.makeQualified(dataDir).toString + "/"
      val dropped = op.plannedFiles
      val droppedRel = dropped.map(_.stripPrefix(dataDirQ))
      // replaced LOGICAL row count: footers of the touched files only,
      // minus rows their deletion sidecars already masked (the scan
      // replaced the logical image, not the physical rows)
      val baseInfo = Layout.snapshotInfo(spark, path,
        op.pinnedSnapshot)
      val baseDv = baseInfo.map(_.dv).getOrElse(Nil)
      val baseDvp = baseInfo.map(_.dvp).getOrElse(Nil)
      val maskedByRel = (baseDv ++ baseDvp).groupBy(_.dataFile)
        .view.mapValues(_.map(_.masked).sum).toMap
      val dropRows = dropped.zip(droppedRel).map { case (p, rel) =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), conf))
        val phys = try r.getRecordCount finally r.close()
        phys - maskedByRel.getOrElse(rel, 0L)
      }.sum
      try {
        Layout.withTableLock(spark, path) {
          msgs.flatMap(_.lines).map(_.split('|').head).foreach { n =>
            val dest = new org.apache.hadoop.fs.Path(dataDir, n)
            fs.mkdirs(dest.getParent)
            // a failed rename must abort before the manifest claim
            Layout.renameOrAbort(fs,
              new org.apache.hadoop.fs.Path(stage, n), dest)
          }
          Layout.commitStagedLines(spark, path,
            msgs.flatMap(_.lines).sorted.toSeq, msgs.map(_.rows).sum,
            info.schema(), tag = null, carryPrevious = true,
            statsCol = statsCol.orNull,
            expectedBase = op.pinnedSnapshot, tok = tok,
            dropFiles = droppedRel.toSet,
            dropRows = dropRows, partCols = partCols,
            // a sidecar added to a scanned file after the scan pinned
            // its snapshot would be resurrected by this rewrite —
            // guard aborts (expectedBase already pins the id; the dv
            // guard makes the contract explicit)
            dvGuard = Some((droppedRel.toSet,
              baseDv.filter(e => droppedRel.contains(e.dataFile))
                .map(_.line) ++
              baseDvp.filter(e => droppedRel.contains(e.dataFile))
                .map(_.lineP))))
        }
        fs.delete(stage, true)
      } finally Layout.releaseTok(tok)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      try {
        val (fs, root) = fsRoot()
        fs.delete(new org.apache.hadoop.fs.Path(root, s".stage-$tok"),
          true)
      } finally Layout.releaseTok(tok)
  }
}
