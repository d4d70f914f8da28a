package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Layout

/** SQL catalog over a warehouse directory of `graft-snapshot` tables —
  * the DDL-first entry surface the reference leads with (its E1 job
  * defines every table in SQL before a single record moves,
  * CustomJob.java:156-193), served by the engine's own table format:
  *
  * {{{
  *   spark.sql.catalog.graft            = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse  = /path/to/warehouse
  *
  *   CREATE NAMESPACE graft.db;
  *   CREATE TABLE graft.db.t (id BIGINT, v STRING) USING graft-snapshot;
  *   INSERT INTO graft.db.t SELECT ...;          -- manifest append
  *   INSERT OVERWRITE graft.db.t SELECT ...;     -- full-replace commit
  *   SELECT * FROM graft.db.t VERSION AS OF 2;   -- time travel
  *   MERGE INTO graft.db.t USING s ON ... ;      -- file-pruned CoW
  * }}}
  *
  * Layout on disk: `<warehouse>/<namespace...>/<table>/` where a table
  * directory is exactly a [[graft.ops.Layout]] snapshot table
  * (`snapshots/` + `data/`) — a directory IS a table iff it has a
  * `snapshots/` child, so the catalog needs no side metastore: the
  * warehouse tree is the catalog, and every Layout/DSv2 writer and
  * this SQL surface see one consistent table state through the same
  * optimistic manifest protocol. CREATE TABLE commits snapshot 1 as a
  * ZERO-FILE manifest carrying the declared schema (the table is
  * immediately readable and survives a catalog restart); `VERSION AS
  * OF n` resolves through `loadTable(ident, version)` to a Table
  * pinned at that snapshot id. All catalog calls are driver-side
  * metadata on |tables| + |manifests|-bounded listings.
  *
  * Option `statsCol` (table property at CREATE, e.g.
  * `TBLPROPERTIES ('statsCol' = 'id')`) records the per-file min/max
  * data-skipping index on every INSERT, which is also what makes SQL
  * MERGE file-pruned. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: org.apache.hadoop.fs.Path = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"GraftCatalog: set spark.sql.catalog.$name.warehouse")
    warehouse = new org.apache.hadoop.fs.Path(w)
  }
  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs() = warehouse.getFileSystem(
    spark.sessionState.newHadoopConf())
  private def nsDir(ns: Array[String]): org.apache.hadoop.fs.Path =
    ns.foldLeft(warehouse)(new org.apache.hadoop.fs.Path(_, _))
  private def tableDir(ident: Identifier): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(nsDir(ident.namespace), ident.name)
  private def isTable(f: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    f.exists(new org.apache.hadoop.fs.Path(dir, "snapshots"))

  // ----- tables -----------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val f = fs()
    val dir = nsDir(ns)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(
      name() +: ns)
    f.listStatus(dir).filter(st => st.isDirectory &&
        isTable(f, st.getPath))
      .map(st => Identifier.of(ns, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table =
    loadAt(ident, -1)

  /** `SELECT * FROM <catalog>.<db>.<table>.history` / `.files` — the
    * Iceberg-style metadata tables, resolved when the identifier's
    * NAMESPACE path lands on a table directory and the final name is
    * a known metadata relation. Rows are |manifest|-bounded driver
    * metadata computed fresh at scan time. */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    if (ident.namespace.isEmpty) return None
    val parentDir = nsDir(ident.namespace)
    val f = fs()
    if (!isTable(f, parentDir)) return None
    val path = parentDir.toString
    import org.apache.spark.sql.types._
    ident.name match {
      case "history" => Some(new GraftMetaTable(
        s"graft-snapshot-meta:$path#history",
        StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("n_files", LongType, nullable = false),
          StructField("n_rows", LongType, nullable = false),
          StructField("n_manifest_lines", LongType, nullable = false))),
        () => Layout.snapshots(spark, path).collect().toSeq.map(r =>
          Seq[Any](r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))))
      case "files" => Some(new GraftMetaTable(
        s"graft-snapshot-meta:$path#files",
        StructType(Seq(
          StructField("file", StringType, nullable = false),
          StructField("min_primary", LongType, nullable = true),
          StructField("max_primary", LongType, nullable = true))),
        () => Layout.snapshotInfo(spark, path).toSeq
          .flatMap(_.statLines).map(Layout.statsOf).map {
            case (n, ranges) =>
              // integral primary-index bounds only; a string-indexed
              // table shows NULL here (its truncated bounds have no
              // Long rendering — the manifest line is authoritative)
              val r = ranges.headOption.flatten.collect {
                case Layout.LongRange(lo, hi) => (lo, hi) }
              Seq[Any](
                org.apache.spark.unsafe.types.UTF8String.fromString(n),
                r.map(_._1).map(Long.box).orNull,
                r.map(_._2).map(Long.box).orNull)
          }))
      // `<table>.changes` — the CHANGE FEED as a named relation:
      // batch (`spark.read.table`) and STREAMING
      // (`spark.readStream.table`) reads both resolve here, with
      // `startingSnapshot`/`endingSnapshot`/`maxSnapshotsPerTrigger`
      // passed as reader options — Delta's readChangeFeed through the
      // catalog, no path addressing needed
      case "changes" =>
        Layout.snapshotSchema(spark, path).map { base =>
          new GraftChangeFeedTable(path, base.add(
            StructField("_op", StringType, nullable = false)))
        }
      case _ => None
    }
  }

  /** `VERSION AS OF <v>` — a Table pinned to snapshot id `v`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"GraftCatalog: VERSION AS OF takes a snapshot id, got " +
            s"'$version'")
    }
    loadAt(ident, v)
  }

  private def loadAt(ident: Identifier, asOf: Int): Table = {
    val f = fs()
    val dir = tableDir(ident)
    if (!isTable(f, dir)) {
      metaTableOf(ident).foreach(t => return t)
      throw new NoSuchTableException(
        (name() +: ident.namespace :+ ident.name).toSeq)
    }
    val path = dir.toString
    val schema = Layout.snapshotSchema(spark, path, asOf).getOrElse(
      throw new NoSuchTableException(
        (name() +: ident.namespace :+ ident.name).toSeq))
    val sc = Layout.snapshotStatsCols(spark, path)
    new GraftCatalogTable(path, schema, asOf,
      if (sc.isEmpty) None else Some(sc.mkString(",")),
      Layout.snapshotPartCols(spark, path))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // PARTITIONED BY (identity columns only) → the Hive-style
    // directory layout every write follows and reads prune on
    val partCols = GraftSnapshotTable.identityCols(partitions)
    SnapshotFileReaderFactory.validate(schema)
    val f = fs()
    val dir = tableDir(ident)
    if (isTable(f, dir))
      throw new TableAlreadyExistsException(
        (name() +: ident.namespace :+ ident.name).toSeq)
    // snapshot 1 = a zero-file manifest carrying the declared schema
    // (plus the index and partition layout): the table is immediately
    // readable as empty, and none of it needs a metastore — it lives
    // where every other commit records it
    val statsCol = properties.get("statsCol")
    Option(statsCol).toSeq.flatMap(_.split(',')).map(_.trim)
      .filter(_.nonEmpty).foreach { c =>
        require(schema.fieldNames.contains(c),
          s"GraftCatalog: statsCol '$c' is not a table column")
      }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"GraftCatalog: partition column '$c' is not a table column"))
    Layout.commitStagedLines(spark, dir.toString, Nil, 0L, schema,
      tag = null, carryPrevious = false, statsCol = statsCol,
      expectedBase = -1,
      tok = java.util.UUID.randomUUID().toString.take(8),
      partCols = partCols)
    new GraftCatalogTable(dir.toString, schema, -1, Option(statsCol),
      partCols)
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch; resolve to
    * the newest snapshot whose manifest committed at or before it. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(fs(), dir)) throw new NoSuchTableException(
      (name() +: ident.namespace :+ ident.name).toSeq)
    val id = Layout.snapshotIdAtTime(spark, dir.toString,
      timestamp / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"GraftCatalog: no snapshot of $ident at or before " +
          s"timestamp $timestamp"))
    loadAt(ident, id)
  }

  /** ALTER TABLE — ALL metadata-only commits (round 13: column
    * mapping makes the full evolution surface free of rewrites):
    *  - ADD COLUMN: union schema, added columns nullable, earlier
    *    files null-fill; a recycled name (re-ADD after DROP) gets a
    *    FRESH physical name so orphaned values in old files can never
    *    leak into the new column;
    *  - RENAME COLUMN: the logical name changes, the files' physical
    *    name stays, a `colmap:` manifest line connects them — every
    *    old file reads unchanged. Partition columns refuse (their
    *    values are directory path segments);
    *  - DROP COLUMN: the logical field disappears; the physical
    *    column stays in old files, projected away; its name is
    *    retired. Indexed/partition columns refuse;
    *  - ALTER COLUMN TYPE: WIDENING only (INT→BIGINT, FLOAT→DOUBLE);
    *    readers upcast the files' narrower physical values at decode. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(fs(), dir)) throw new NoSuchTableException(
      (name() +: ident.namespace :+ ident.name).toSeq)
    val path = dir.toString
    val info = Layout.snapshotInfo(spark, path).getOrElse(
      throw new NoSuchTableException(
        (name() +: ident.namespace :+ ident.name).toSeq))
    val prior = info.schema.getOrElse(
      throw new NoSuchTableException(
        (name() +: ident.namespace :+ ident.name).toSeq))
    var schema = prior
    var colMap = info.colMap
    var dropped = info.droppedPhys
    var statsCols = info.statsCols
    def physOf(c: String) = colMap.getOrElse(c, c)
    def usedPhys: Set[String] =
      schema.fieldNames.map(physOf).toSet ++ dropped
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "GraftCatalog: nested ADD COLUMN is not supported")
        val nm = add.fieldNames.head
        val f = org.apache.spark.sql.types.StructField(
          nm, add.dataType, nullable = true)
        SnapshotFileReaderFactory.validate(StructType(Seq(f)))
        require(!schema.fieldNames.contains(nm),
          s"GraftCatalog: column '$nm' already exists")
        // a recycled name maps to a fresh physical so old files'
        // orphaned values never leak in
        if (usedPhys.contains(nm))
          colMap += nm -> s"${nm}__r${Layout.headId(spark, path) + 1}"
        schema = StructType(schema.fields :+ f)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "GraftCatalog: nested RENAME COLUMN is not supported")
        val from = rn.fieldNames.head
        val to = rn.newName
        require(schema.fieldNames.contains(from),
          s"GraftCatalog: no column '$from' to rename")
        require(!schema.fieldNames.contains(to),
          s"GraftCatalog: column '$to' already exists")
        require(!Layout.snapshotPartCols(spark, path).contains(from),
          s"GraftCatalog: cannot rename partition column '$from' — " +
            "its values are directory path segments")
        val phys = physOf(from)
        colMap = colMap - from
        if (to != phys) colMap += to -> phys
        schema = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
        statsCols = statsCols.map(c => if (c == from) to else c)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "GraftCatalog: nested DROP COLUMN is not supported")
        val nm = del.fieldNames.head
        require(schema.fieldNames.contains(nm),
          s"GraftCatalog: no column '$nm' to drop")
        require(!statsCols.contains(nm),
          s"GraftCatalog: cannot drop indexed column '$nm' — the " +
            "data-skipping index records it")
        require(!Layout.snapshotPartCols(spark, path).contains(nm),
          s"GraftCatalog: cannot drop partition column '$nm'")
        // live deletion sidecars key on a physical column: dropping it
        // would break reader-side masking (the snapshot reader matches
        // each row's value of the sidecar's key column) and leave the
        // table unreadable — materialize the masks first
        require(!Layout.dvKeyPhysCols(spark, path, info)
            .contains(physOf(nm)),
          s"GraftCatalog: cannot drop column '$nm' — live deletion " +
            "sidecars mask rows by it; run " +
            "CALL <catalog>.system.optimize(...) (or " +
            "Layout.optimizeSnapshot) to materialize them first")
        dropped = dropped :+ physOf(nm)
        colMap = colMap - nm
        schema = StructType(schema.fields.filterNot(_.name == nm))
      case ut: TableChange.UpdateColumnType =>
        require(ut.fieldNames.length == 1,
          "GraftCatalog: nested ALTER COLUMN is not supported")
        val nm = ut.fieldNames.head
        val cur = schema(nm).dataType
        val ok = (cur, ut.newDataType) match {
          case (org.apache.spark.sql.types.IntegerType,
            org.apache.spark.sql.types.LongType) => true
          case (org.apache.spark.sql.types.FloatType,
            org.apache.spark.sql.types.DoubleType) => true
          case (a, b) => a == b
        }
        require(ok, s"GraftCatalog: only WIDENING type changes are " +
          s"metadata-only (INT->BIGINT, FLOAT->DOUBLE); " +
          s"'${cur.sql}' -> '${ut.newDataType.sql}' needs a rewrite")
        schema = StructType(schema.fields.map(f =>
          if (f.name == nm) f.copy(dataType = ut.newDataType) else f))
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER TABLE change $other")
    }
    Layout.commitStagedLines(spark, path, Nil, 0L, schema, tag = null,
      carryPrevious = true, statsCol = null, expectedBase = -1,
      tok = java.util.UUID.randomUUID().toString.take(8),
      colMapOverride = Some((colMap, dropped)),
      replaceSchema = true,
      statsColsOverride = Some(statsCols),
      dvAdd = Nil)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val f = fs()
    val dir = tableDir(ident)
    if (!isTable(f, dir)) false else f.delete(dir, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    // RENAME TO targets arrive AS WRITTEN: `RENAME TO gcat.db.t2`
    // carries the catalog name as the namespace head, and a bare
    // `RENAME TO t2` carries no namespace at all — normalize both to
    // an in-catalog identifier before touching the filesystem
    val toNs0 = to.namespace match {
      case ns if ns.headOption.contains(name()) => ns.tail
      case ns => ns
    }
    val toIdent = Identifier.of(
      if (toNs0.isEmpty) from.namespace else toNs0, to.name)
    val f = fs()
    if (!isTable(f, tableDir(from)))
      throw new NoSuchTableException(
        (name() +: from.namespace :+ from.name).toSeq)
    if (isTable(f, tableDir(toIdent)))
      throw new TableAlreadyExistsException(
        (name() +: toIdent.namespace :+ toIdent.name).toSeq)
    f.mkdirs(nsDir(toIdent.namespace))
    require(f.rename(tableDir(from), tableDir(toIdent)),
      s"GraftCatalog: rename $from -> $toIdent failed")
  }

  // ----- maintenance procedures (CALL graft.system.*) ---------------
  //
  // The SQL spelling of the table-maintenance loop — OPTIMIZE (bin-
  // pack or ZORDER), VACUUM retention, RESTORE — so a DDL-first user
  // never needs the Scala API:
  //   CALL graft.system.optimize('db.t', 4000000, 'a,b')
  //   CALL graft.system.vacuum('db.t', 7)
  //   CALL graft.system.restore('db.t', 3)
  // Each returns a one-row result (ids/counts) through the driver-rows
  // scan. Table argument = '<namespace>.<table>' within THIS catalog.

  private def tableArg(s: String): String = {
    val parts = s.split('.')
    require(parts.length >= 1 && parts.forall(_.nonEmpty),
      s"GraftCatalog: bad table argument '$s' — use 'db.table'")
    val dir = tableDir(Identifier.of(parts.init, parts.last))
    require(isTable(fs(), dir),
      s"GraftCatalog: no snapshot table at '$s'")
    dir.toString
  }

  private def proc(procName: String,
      params: Seq[org.apache.spark.sql.connector.catalog.procedures
        .ProcedureParameter],
      outCols: Seq[(String, org.apache.spark.sql.types.DataType)],
      body: org.apache.spark.sql.catalyst.InternalRow => Seq[Any])
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    new org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure {
      override def name(): String = procName
      override def bind(inputType: org.apache.spark.sql.types
          .StructType): org.apache.spark.sql.connector.catalog
          .procedures.BoundProcedure =
        new org.apache.spark.sql.connector.catalog.procedures
            .BoundProcedure {
          override def name(): String = procName
          override def parameters(): Array[
            org.apache.spark.sql.connector.catalog.procedures
              .ProcedureParameter] = params.toArray
          override def isDeterministic: Boolean = false
          override def call(input: org.apache.spark.sql.catalyst
              .InternalRow): java.util.Iterator[
              org.apache.spark.sql.connector.read.Scan] = {
            // Spark requires procedure output as a LOCAL scan
            val out = body(input)
            val scan: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def readSchema()
                    : org.apache.spark.sql.types.StructType =
                  org.apache.spark.sql.types.StructType(outCols.map {
                    case (n, dt) => org.apache.spark.sql.types
                      .StructField(n, dt, nullable = false) })
                override def rows(): Array[
                  org.apache.spark.sql.catalyst.InternalRow] =
                  Array(new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(out.toArray))
                override def description(): String =
                  s"graft.system.$procName"
              }
            java.util.Collections.singletonList(scan).iterator()
          }
        }
    }

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array("system")))
      Array("optimize", "vacuum", "restore", "compact_manifests",
          "delete_where")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    import org.apache.spark.sql.connector.catalog.procedures
      .ProcedureParameter
    import org.apache.spark.sql.types.{LongType, StringType, IntegerType}
    require(ident.namespace.sameElements(Array("system")),
      s"GraftCatalog: unknown procedure namespace " +
        s"${ident.namespace.mkString(".")} — procedures live under " +
        "`system`")
    ident.name match {
      case "optimize" => proc("optimize",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_rows_per_file", LongType)
            .build(),
          ProcedureParameter.in("zorder_by", StringType)
            .defaultValue("''").build()),
        Seq("snapshot_id" -> LongType),
        { in =>
          val path = tableArg(in.getUTF8String(0).toString)
          val z = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          Seq(Layout.optimizeSnapshot(spark, path, in.getLong(1),
            zorderBy = z).toLong)
        })
      case "vacuum" => proc("vacuum",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("keep_last", IntegerType).build(),
          ProcedureParameter.in("grace_ms", LongType)
            .defaultValue("0").build()),
        Seq("manifests_dropped" -> LongType,
          "data_files_deleted" -> LongType),
        { in =>
          val path = tableArg(in.getUTF8String(0).toString)
          val (m, f) = Layout.vacuum(spark, path, in.getInt(1),
            in.getLong(2))
          Seq(m.toLong, f.toLong)
        })
      case "restore" => proc("restore",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("to_snapshot", IntegerType).build()),
        Seq("snapshot_id" -> LongType),
        { in =>
          val path = tableArg(in.getUTF8String(0).toString)
          Seq(Layout.restoreSnapshot(spark, path,
            in.getInt(1)).toLong)
        })
      case "compact_manifests" => proc("compact_manifests",
        Seq(ProcedureParameter.in("table", StringType).build()),
        Seq("snapshot_id" -> LongType,
          "segments_after" -> LongType),
        { in =>
          val path = tableArg(in.getUTF8String(0).toString)
          val id = Layout.compactManifestSegments(spark, path)
          Seq(id.toLong,
            Layout.snapshotInfo(spark, path).get.segRefs.size.toLong)
        })
      case "delete_where" => proc("delete_where",
        Seq(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("predicate", StringType).build(),
          ProcedureParameter.in("dv_threshold",
            org.apache.spark.sql.types.DoubleType)
            .defaultValue("0.05").build()),
        Seq("snapshot_id" -> LongType,
          "files_rewritten" -> LongType,
          "dv_files" -> LongType),
        { in =>
          // predicate DELETE as merge-on-read POSITIONAL deletion
          // vectors (Layout.deleteWhere) — the write-cheap spelling;
          // plain SQL DELETE remains the group-based copy-on-write
          // protocol (GraftRowLevelOperation), which Spark drives
          // per-file and cannot express a sidecar under
          val path = tableArg(in.getUTF8String(0).toString)
          val before = Layout.snapshotInfo(spark, path).get
          val id = Layout.deleteWhere(spark, path,
            in.getUTF8String(1).toString, in.getDouble(2))
          val after = Layout.snapshotInfo(spark, path).get
          Seq(id.toLong,
            (before.files.toSet -- after.files.toSet).size.toLong,
            (after.dvp.map(_.dvFile).toSet --
              before.dvp.map(_.dvFile).toSet).size.toLong)
        })
      case other => throw new IllegalArgumentException(
        s"GraftCatalog: unknown procedure system.$other " +
          "(have: optimize, vacuum, restore, compact_manifests, " +
          "delete_where)")
    }
  }

  // ----- namespaces -------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val f = fs()
    if (!f.exists(warehouse)) return Array.empty
    f.listStatus(warehouse).filter(st => st.isDirectory &&
        !isTable(f, st.getPath))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(ns: Array[String])
      : Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    val f = fs()
    val dir = nsDir(ns)
    if (!f.exists(dir)) throw new NoSuchNamespaceException(
      name() +: ns)
    f.listStatus(dir).filter(st => st.isDirectory &&
        !isTable(f, st.getPath))
      .map(st => ns :+ st.getPath.getName)
  }

  override def namespaceExists(ns: Array[String]): Boolean = {
    val f = fs()
    ns.isEmpty || (f.exists(nsDir(ns)) && !isTable(f, nsDir(ns)))
  }

  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(ns))
      throw new NoSuchNamespaceException(name() +: ns)
    Map("location" -> nsDir(ns).toString).asJava
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val f = fs()
    if (namespaceExists(ns) && f.exists(nsDir(ns)))
      throw new NamespaceAlreadyExistsException(name() +: ns)
    f.mkdirs(nsDir(ns))
  }

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(ns: Array[String],
      cascade: Boolean): Boolean = {
    val f = fs()
    val dir = nsDir(ns)
    if (!f.exists(dir)) return false
    if (!cascade && f.listStatus(dir).nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(name() +: ns)
    f.delete(dir, true)
  }
}

/** The catalog's Table: a [[GraftSnapshotTable]] that also injects the
  * table's sticky `statsCol` into every SQL write (INSERT has no
  * `.option(...)` surface, and the data-skipping index must not
  * silently stop being recorded when writes arrive via SQL). */
class GraftCatalogTable(path: String, tableSchema: StructType,
    asOf: Int, statsCol: Option[String],
    catalogPartCols: Seq[String] = Nil)
    extends GraftSnapshotTable(path, tableSchema, asOf,
      catalogPartCols)
    with SupportsRowLevelOperations {

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new SnapshotWriteBuilder(path, GraftCatalogTable.withStats(
      info, statsCol), catalogPartCols)

  /** SQL MERGE INTO / UPDATE / DELETE — the group-based copy-on-write
    * protocol over the manifest commit (see [[GraftRowLevelOperation]]:
    * runtime `_file` group filtering keeps the rewrite file-pruned). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(path, tableSchema, statsCol,
      info.command(), catalogPartCols)

}

/** The `<table>.changes` relation: the snapshot table's CHANGE FEED
  * addressed by catalog name — every scan (batch or micro-batch) runs
  * through [[GraftSnapshotScanBuilder]] with `readChangeFeed` forced
  * on, so window options (`startingSnapshot`, `endingSnapshot`,
  * `maxSnapshotsPerTrigger`) arrive as plain reader options. */
final class GraftChangeFeedTable(path: String, feedSchema: StructType)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"graft-snapshot-changes:$path"
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.put("readChangeFeed", "true")
    new GraftSnapshotScanBuilder(path, feedSchema,
      new CaseInsensitiveStringMap(merged))
  }
}

/** A read-only metadata relation (history/files): rows computed
  * driver-side at scan time from manifest metadata. */
final class GraftMetaTable(tableName: String,
    metaSchema: StructType, rows: () => Seq[Seq[Any]])
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = metaSchema
  override def capabilities(): util.Set[TableCapability] =
    java.util.Collections.singleton(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new MetaRowsScan(metaSchema, rows(), tableName)
}

object GraftCatalogTable {
  private[sources] def withStats(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
      statsCol: Option[String])
      : org.apache.spark.sql.connector.write.LogicalWriteInfo =
    statsCol match {
      case Some(c) if !info.options().containsKey("statsCol") =>
        val merged = new util.HashMap[String, String](info.options())
        merged.put("statsCol", c)
        new org.apache.spark.sql.connector.write.LogicalWriteInfo {
          override def options(): CaseInsensitiveStringMap =
            new CaseInsensitiveStringMap(merged)
          override def queryId(): String = info.queryId()
          override def schema(): StructType = info.schema()
        }
      case _ => info
    }
}
