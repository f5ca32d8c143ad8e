package graft.sources

import graft.operators.Snapshots

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, IntegerType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import org.apache.hadoop.fs.Path

/** A Spark `TableCatalog` over a warehouse directory of snapshot tables,
  * so plain SQL reaches the snapshot layer with zero API calls:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.snap.warehouse", "/data/tables")
  *   spark.sql("SELECT * FROM snap.events")                            // latest
  *   spark.sql("SELECT * FROM snap.events FOR VERSION AS OF 3")        // travel
  *   spark.sql("SELECT * FROM snap.events FOR TIMESTAMP AS OF '...'")  // travel
  * }}}
  *
  * Every table is the snapshot root `<warehouse>/<name>` (namespaces map
  * to subdirectories); loads return the same [[SnapshotTable]] the DSv2
  * source serves, so catalog reads inherit the whole pushdown stack —
  * stats/bloom file skipping, metadata-only aggregates, limit pushdown,
  * runtime (DPP) pruning — and `FOR VERSION/TIMESTAMP AS OF` pins the
  * version through the same manifest resolution as `option("version")` /
  * `option("timestampAsOf")`.
  *
  * Management verbs: `CREATE TABLE` publishes an empty v1 with the
  * declared schema (the snapshot layer's schema header), `DROP TABLE`
  * removes the root, `RENAME` is a filesystem move (atomic same-FS),
  * `ALTER TABLE ADD COLUMNS`/`DROP COLUMN` commit a metadata-only
  * schema-evolution version. DML: `INSERT INTO`/`INSERT OVERWRITE`
  * publish versions through the V1 write bridge, `DELETE FROM` is the
  * stats-pruned copy-on-write [[Snapshots.deleteWhere]], `TRUNCATE`
  * publishes an empty version — all on the single-writer contract
  * (ACID multi-writer coordination is out of scope).
  */
class SnapshotCatalog extends TableCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires option 'warehouse' " +
          s"(spark.sql.catalog.$name.warehouse=<dir of snapshot roots>)"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Identifier segments become PATH segments under the warehouse root,
    * so every one must be a plain directory name: a quoted identifier (or
    * a raw procedure argument) containing '/', '\', '..' or an empty
    * segment could otherwise address — and mutate, via CALL sys.vacuum —
    * paths OUTSIDE the warehouse.
    */
  private def validSegments(segments: Seq[String], what: String): Seq[String] = {
    segments.foreach { s =>
      require(s.nonEmpty && s != "." && s != ".." &&
        !s.contains('/') && !s.contains('\\'),
        s"invalid $what segment '$s': identifier segments must be non-empty " +
          "names without path separators or dot-dirs")
    }
    segments
  }

  private def rootOf(ident: Identifier): String =
    validSegments(ident.namespace().toSeq :+ ident.name(), "table identifier")
      .mkString(s"$warehouse/", "/", "")

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace).mkString("/"))
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => Snapshots.versions(spark, s"$dir/$n").nonEmpty)
      .sorted.map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    scala.util.Try(Snapshots.versions(spark, rootOf(ident)).nonEmpty).getOrElse(false)

  private def load(ident: Identifier, version: Int): Table = {
    val root = rootOf(ident)
    new SnapshotTable(Snapshots.schemaOf(spark, root, version), root,
      Map("version" -> version.toString))
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    val vs = scala.util.Try(Snapshots.versions(spark, root)).getOrElse(Nil)
    if (vs.isEmpty)
      // Iceberg-style METADATA TABLES as a dotted suffix — `t.files`,
      // `t.history`, `t.staged` — resolved only when no real table
      // shadows the name (real tables always win)
      return metadataTable(ident).getOrElse(throw new NoSuchTableException(ident))
    // latest is NOT pinned: each scan of the returned table re-resolves,
    // so a long-lived cached table keeps seeing new publishes
    new SnapshotTable(Snapshots.schemaOf(spark, root, vs.last), root, Map.empty)
  }

  /** `SELECT * FROM cat.t.files | t.history | t.staged` — bounded
    * manifest-resident ops metadata as queryable tables: the version's
    * file inventory (manifest `#bytes=`/`#rows=` lines, cluster split
    * dir — zero file opens), the commit history ([[Snapshots
    * .describeHistory]]), and pending write–audit–publish stages.
    * Driver-materialized LocalScans: every row set is bounded by file /
    * version / stage count, never data.
    */
  private def metadataTable(ident: Identifier): Option[Table] = {
    import org.apache.spark.unsafe.types.UTF8String
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (!Set("files", "history", "staged")(kind) || ident.namespace().isEmpty)
      return None
    val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
    val root = scala.util.Try(rootOf(parent)).getOrElse(return None)
    val vs = scala.util.Try(Snapshots.versions(spark, root)).getOrElse(Nil)
    if (vs.isEmpty) return None
    val qual = s"${parent.name()}.$kind"
    Some(kind match {
      case "files" =>
        val v = vs.last
        val bytes = Snapshots.byteCountsOf(spark, root, v)
        val rows = Snapshots.rowCountsOf(spark, root, v)
        val dirRe = "__cluster=([^/]+)/".r
        localTable(qual, StructType(Seq(
          StructField("file", StringType, nullable = false),
          StructField("bytes", LongType, nullable = true),
          StructField("rows", LongType, nullable = true),
          StructField("cluster_dir", StringType, nullable = true))),
          Snapshots.files(spark, root, v).map { fl =>
            Array[Any](UTF8String.fromString(fl),
              bytes(fl), rows(fl),
              dirRe.findFirstMatchIn(fl)
                .map(m => UTF8String.fromString(m.group(1))).orNull)
          })
      case "history" =>
        localTable(qual, historySchema, historyRows(root))
      case "staged" =>
        localTable(qual, StructType(Seq(
          StructField("token", StringType, nullable = false),
          StructField("base_version", IntegerType, nullable = false),
          StructField("n_files", IntegerType, nullable = false))),
          Snapshots.stagedSummary(spark, root).map { case (t, b, n) =>
            Array[Any](UTF8String.fromString(t), b, n)
          })
    })
  }

  private def localTable(tblName: String, tblSchema: StructType,
      rows: Seq[Array[Any]]): Table =
    new Table with org.apache.spark.sql.connector.catalog.SupportsRead {
      override def name(): String = tblName
      override def schema(): StructType = tblSchema
      override def capabilities(): java.util.Set[
          org.apache.spark.sql.connector.catalog.TableCapability] =
        java.util.Set.of(
          org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : org.apache.spark.sql.connector.read.ScanBuilder = {
        val out = rows.map(vs =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
            : InternalRow).toArray
        () => new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = tblSchema
          override def description(): String = s"graft-snapshot metadata $tblName"
          override def rows(): Array[InternalRow] = out
        }
      }
    }

  /** `FOR VERSION AS OF v` — an integer literal or a TAG name
    * ([[Snapshots.tag]]), both resolved through the shared resolver.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val v = Snapshots.resolveVersion(spark, rootOf(ident), version)
    require(Snapshots.versions(spark, rootOf(ident)).contains(v),
      s"version $v does not exist under ${rootOf(ident)}")
    load(ident, v)
  }

  /** `FOR TIMESTAMP AS OF t` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    load(ident, Snapshots.versionAt(spark, rootOf(ident),
      Math.floorDiv(timestampMicros, 1000L)))
  }

  override def invalidateTable(ident: Identifier): Unit = () // nothing cached

  /** `CREATE TABLE`: publish an empty v1 carrying the declared schema.
    * `PARTITIONED BY (col)` — one identity transform — declares the
    * table KEY-CLUSTERED on the column: the v1 header records it, every
    * SQL INSERT / streamed batch re-shuffles onto it, and joins and
    * aggregations on the column plan storage-partitioned (zero
    * shuffles). Other transforms (bucket/days/...) refuse: the snapshot
    * layer's layout verbs are clusterBy and compact(zorderBy).
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    val timeUnits = GraftTimeFunction.units.toSet
    val cluster = partitions.toSeq match {
      case Nil => None
      case ts if ts.forall(t => t.name == "identity" && t.references.length == 1
          && t.references.head.fieldNames.length == 1) =>
        val cols = ts.map(_.references.head.fieldNames.head)
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"PARTITIONED BY column '$c' is not a table column"))
        Some(cols.mkString(","))
      // PARTITIONED BY (days(ts)) — ONE temporal transform declares the
      // table time-clustered: the v1 header records `days(ts)` and every
      // INSERT routes through the time-transform write path
      case scala.collection.Seq(t) if timeUnits(t.name.toLowerCase(java.util.Locale.ROOT))
          && t.references.length == 1 && t.references.head.fieldNames.length == 1 =>
        val c = t.references.head.fieldNames.head
        require(schema.fieldNames.contains(c),
          s"PARTITIONED BY ${t.name}($c): '$c' is not a table column")
        Some(s"${t.name.toLowerCase(java.util.Locale.ROOT)}($c)")
      case other => throw new UnsupportedOperationException(
        s"snapshot tables support PARTITIONED BY (<columns>) as the " +
          s"key-cluster declaration (identity transforms, or one temporal " +
          s"transform years/months/days/hours); got " +
          s"${other.mkString(", ")} — bucket layouts go through " +
          "CALL sys.cluster / sys.zorder")
    }
    require(!tableExists(ident),
      s"table ${ident.name()} already exists under $warehouse")
    val root = rootOf(ident)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    Snapshots.publish(spark, root, empty, clusterBy = cluster)
    loadTable(ident)
  }

  /** `ALTER TABLE ADD COLUMNS` / `DROP COLUMN` as a METADATA-ONLY
    * publish: the next version re-lists the head's files under the new
    * schema ([[Snapshots.evolveSchema]]) — no data moves, added columns
    * read back null-filled, dropped columns stop being projected, and
    * time travel still serves every old version under ITS schema.
    * RENAME COLUMN is refused: parquet projection is by-name, so a
    * rename would silently orphan every existing value (rewrite via
    * publish instead). Type changes refuse for the same reason.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = rootOf(ident)
    val v = Snapshots.versions(spark, root).last
    val old = Snapshots.schemaOf(spark, root, v)
    val evolved = changes.foldLeft(old) {
      case (s, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          s"nested ADD COLUMN (${add.fieldNames.mkString(".")}) is not supported")
        require(add.position() == null,
          "positioned ADD COLUMN (FIRST/AFTER) is not supported — new columns append")
        val name = add.fieldNames.head
        require(!s.fieldNames.contains(name), s"column '$name' already exists")
        require(add.isNullable,
          s"added column '$name' must be nullable: existing rows have no value")
        val f = StructField(name, add.dataType, nullable = true)
        s.add(Option(add.comment).fold(f)(f.withComment))
      case (s, del: TableChange.DeleteColumn) =>
        require(del.fieldNames.length == 1,
          s"nested DROP COLUMN (${del.fieldNames.mkString(".")}) is not supported")
        val name = del.fieldNames.head
        require(s.fieldNames.contains(name), s"column '$name' does not exist")
        require(s.fields.length > 1, "cannot drop the last column")
        StructType(s.fields.filterNot(_.name == name))
      case (s, up: TableChange.UpdateColumnType) =>
        // ALTER COLUMN ... TYPE: metadata-only for lossless widenings
        // (int ladder, float->double) — evolveSchema enforces the rule,
        // validated here too so the refusal names the ALTER surface
        require(up.fieldNames.length == 1,
          s"nested ALTER COLUMN (${up.fieldNames.mkString(".")}) is not supported")
        val name = up.fieldNames.head
        val idx = s.fieldNames.indexOf(name)
        require(idx >= 0, s"column '$name' does not exist")
        val from = s.fields(idx).dataType
        require(graft.operators.Snapshots.widens(from, up.newDataType),
          s"ALTER COLUMN '$name' TYPE ${from.simpleString} -> " +
            s"${up.newDataType.simpleString} is not a lossless widening " +
            "(byte->short->int->long, float->double) — existing files would " +
            "lose or reinterpret values; rewrite via publish instead")
        StructType(s.fields.updated(idx, s.fields(idx).copy(dataType = up.newDataType)))
      case (_, other) =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE change ${other.getClass.getSimpleName} is not supported: " +
            "parquet projection is by-name, so renames/non-widening type " +
            "changes would orphan or reinterpret existing values — rewrite " +
            "via publish")
    }
    Snapshots.evolveSchema(spark, root, evolved)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(new Path(rootOf(ident)), true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    require(!tableExists(newIdent), s"table ${newIdent.name()} already exists")
    require(fs.rename(new Path(rootOf(oldIdent)), new Path(rootOf(newIdent))),
      s"filesystem refused to move ${rootOf(oldIdent)} -> ${rootOf(newIdent)}")
  }

  // ---------------------------------------------------------------- CALL
  // Snapshot-table maintenance from plain SQL (`ProcedureCatalog`):
  //
  //   CALL <catalog>.sys.rollback('events', 3)
  //   CALL <catalog>.sys.expire('events', 5)
  //   CALL <catalog>.sys.vacuum('events', 3600000)
  //   CALL <catalog>.sys.compact('events', 134217728)
  //   CALL <catalog>.sys.cluster('events', 'region')
  //   CALL <catalog>.sys.history('events')
  //   CALL <catalog>.sys.tag('events', 'train-v1', 3)   -- version -1 = head
  //   CALL <catalog>.sys.untag('events', 'train-v1')
  //   CALL <catalog>.sys.tags('events')
  //   CALL <catalog>.sys.create_mv('daily', 'events', 'id', 'day', 'cents', 64)
  //   CALL <catalog>.sys.create_mv('daily', ..., min_max_columns => 'cents')
  //   CALL <catalog>.sys.create_mv('daily', ..., distinct_columns => 'user_id',
  //                                where_clause => 'cents >= 100')
  //   CALL <catalog>.sys.refresh_mv('daily')
  //   CALL <catalog>.sys.create_join3_mv('star', 'dim1', ..., 'fact', ..., 'dim2', ...)
  //   CALL <catalog>.sys.rebucket_neardup('nd.seen', 'nd.pairs', 128)
  //
  // Every procedure resolves its `table` argument through the same
  // warehouse mapping as table reads (namespaces as dots), mutates via
  // the table-API operators, and returns its evidence as rows — the
  // lifecycle verbs a 100 TB table needs on a schedule (retention,
  // reclamation, layout) without any library import.

  private def tableRoot(table: String): String = {
    // same segment rules as table resolution: the argument is raw SQL text
    val root =
      (warehouse +: validSegments(table.split('.').toSeq, "procedure table"))
        .mkString("/")
    require(Snapshots.versions(spark, root).nonEmpty,
      s"no snapshot table '$table' under $warehouse")
    root
  }

  /** One-scan procedure result: `rows` of `schema` as the LOCAL scan the
    * CALL framework expects (results are bounded evidence rows, never
    * data-sized).
    */
  private def resultScan(schema: StructType, rows: Seq[Array[Any]],
      what: String): java.util.Iterator[Scan] = {
    val out = rows.map(vs =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
        : InternalRow).toArray
    val scan: Scan = new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema
      override def description(): String = s"graft-snapshot procedure $what"
      override def rows(): Array[InternalRow] = out
    }
    java.util.List.of(scan).iterator()
  }

  private def proc(procName: String, params: Seq[(String, DataType)],
      out: StructType, defaults: Map[String, String] = Map.empty)(
      body: InternalRow => Seq[Array[Any]]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft snapshot maintenance: $procName"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = procName
        override def description(): String = s"graft snapshot maintenance: $procName"
        override def parameters(): Array[ProcedureParameter] =
          params.map { case (n, dt) =>
            val b = ProcedureParameter.in(n, dt)
            defaults.get(n).foreach(b.defaultValue)
            b.build()
          }.toArray
        override def isDeterministic: Boolean = false // they mutate the table
        override def call(input: InternalRow): java.util.Iterator[Scan] =
          resultScan(out, body(input), procName)
      }
    }

  private def str(in: InternalRow, i: Int): String = in.getUTF8String(i).toString

  private lazy val procedures: Map[String, UnboundProcedure] = Seq(
    proc("rollback", Seq("table" -> StringType, "version" -> IntegerType),
      StructType(Seq(StructField("version", IntegerType, nullable = false)))) { in =>
      Seq(Array(Snapshots.rollback(spark, tableRoot(str(in, 0)), in.getInt(1)): Any))
    },
    proc("expire", Seq("table" -> StringType, "keep_last" -> IntegerType),
      StructType(Seq(StructField("dropped_version", IntegerType, nullable = false)))) { in =>
      Snapshots.expire(spark, tableRoot(str(in, 0)), in.getInt(1))
        .map(v => Array(v: Any))
    },
    proc("vacuum", Seq("table" -> StringType, "grace_ms" -> LongType),
      StructType(Seq(StructField("deleted_files", LongType, nullable = false)))) { in =>
      Seq(Array(Snapshots.vacuum(spark, tableRoot(str(in, 0)), in.getLong(1)): Any))
    },
    proc("compact", Seq("table" -> StringType, "target_bytes" -> LongType),
      StructType(Seq(StructField("version", IntegerType, nullable = false)))) { in =>
      Seq(Array(Snapshots.compact(spark, tableRoot(str(in, 0)),
        targetBytes = in.getLong(1)): Any))
    },
    // re-publish the head KEY-CLUSTERED by a column: one CALL turns an
    // existing table into a storage-partitioned-join participant
    proc("cluster", Seq("table" -> StringType, "column" -> StringType),
      StructType(Seq(StructField("version", IntegerType, nullable = false)))) { in =>
      val root = tableRoot(str(in, 0))
      Seq(Array(Snapshots.publish(spark, root, Snapshots.read(spark, root),
        clusterBy = Some(str(in, 1))): Any))
    },
    // multi-dimensional layout: rewrite the head z-ordered on the given
    // columns (comma-separated) so range predicates on ANY of them skip
    // files through the footer stats
    proc("zorder", Seq("table" -> StringType, "columns" -> StringType,
      "target_bytes" -> LongType),
      StructType(Seq(StructField("version", IntegerType, nullable = false)))) { in =>
      val cols = str(in, 1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      Seq(Array(Snapshots.compact(spark, tableRoot(str(in, 0)),
        targetBytes = in.getLong(2), zorderBy = cols): Any))
    },
    // deep clone / export: one version's files copied executor-parallel
    // to a fresh table with stats and layout headers carried (version
    // <= 0 means latest) — the backup / environment-promotion verb
    proc("clone", Seq("src" -> StringType, "dst" -> StringType,
      "version" -> IntegerType),
      StructType(Seq(StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))) { in =>
      val dstRoot =
        (warehouse +: validSegments(str(in, 1).split('.').toSeq, "procedure dst"))
          .mkString("/")
      val ver = if (in.getInt(2) <= 0) None else Some(in.getInt(2))
      val (nf, nb) = Snapshots.cloneTo(spark, tableRoot(str(in, 0)), dstRoot, ver)
      Seq(Array[Any](nf, nb))
    },
    // incremental replication: bring a (possibly fresh) replica up to
    // the source head copying only missing files (version <= 0 = head)
    proc("sync", Seq("src" -> StringType, "dst" -> StringType,
      "version" -> IntegerType),
      StructType(Seq(StructField("files", LongType, nullable = false),
        StructField("bytes", LongType, nullable = false)))) { in =>
      val dstRoot =
        (warehouse +: validSegments(str(in, 1).split('.').toSeq, "procedure dst"))
          .mkString("/")
      val ver = if (in.getInt(2) <= 0) None else Some(in.getInt(2))
      val (nf, nb) = Snapshots.syncTo(spark, tableRoot(str(in, 0)), dstRoot, ver)
      Seq(Array[Any](nf, nb))
    },
    // materialized views from plain SQL: create computes the grouped
    // count/sum over the base's current version and records the refresh
    // watermark; refresh applies the base's change feed incrementally
    // (see operators.Mv — O(changes + touched buckets), declared full
    // fallback) and returns the report row as evidence. The created
    // view IS a snapshot table under this catalog: SELECT / AS OF /
    // history all work on it directly. min_max_columns adds hybrid
    // min/max, distinct_columns adds ALWAYS-incremental COUNT(DISTINCT)
    // via per-column companion tables, where_clause ('' = none) filters
    // the viewed relation — all maintained through the same refresh.
    proc("create_mv", Seq("view" -> StringType, "base" -> StringType,
      "key_columns" -> StringType, "group_columns" -> StringType,
      "sum_columns" -> StringType, "buckets" -> IntegerType,
      "min_max_columns" -> StringType, "distinct_columns" -> StringType,
      "where_clause" -> StringType, "approx_distinct_columns" -> StringType,
      "approx_quantile_columns" -> StringType),
      StructType(Seq(StructField("version", IntegerType, nullable = false))),
      defaults = Map("min_max_columns" -> "''", "distinct_columns" -> "''",
        "where_clause" -> "''", "approx_distinct_columns" -> "''",
        "approx_quantile_columns" -> "''")) { in =>
      def cols(i: Int): Seq[String] =
        str(in, i).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val viewRoot = // the view does not exist yet: segment rules only
        (warehouse +: validSegments(str(in, 0).split('.').toSeq, "procedure view"))
          .mkString("/")
      // group_columns accepts the time-transform specs too — 'days(ts)'
      // creates the epoch-day-grouped view exactly like the Scala API
      Seq(Array(graft.operators.Mv.create(spark, viewRoot, tableRoot(str(in, 1)),
        cols(2), cols(3), cols(4), mvBuckets = in.getInt(5),
        minMaxCols = cols(6), distinctCols = cols(7),
        where = Some(str(in, 8).trim).filter(_.nonEmpty),
        approxDistinctCols = cols(9), approxQuantileCols = cols(10)): Any))
    },
    // the grouped count/sum over TWO co-clustered snapshot tables (the
    // star shape — hash buckets with one shared count, or a time
    // transform with one shared unit: the days(ts) event star works from
    // SQL exactly like the bucket star), maintained from either side's
    // change feed — see operators.Mv.createJoin for the contract
    // (co-clustered join keys, disjoint column names). min_max_columns
    // ('' = none) adds hybrid-maintained min/max like create_mv's.
    proc("create_join_mv", Seq("view" -> StringType,
      "left" -> StringType, "left_keys" -> StringType, "left_join" -> StringType,
      "right" -> StringType, "right_keys" -> StringType, "right_join" -> StringType,
      "group_columns" -> StringType, "sum_columns" -> StringType,
      "buckets" -> IntegerType, "min_max_columns" -> StringType,
      "distinct_columns" -> StringType, "where_clause" -> StringType,
      "approx_distinct_columns" -> StringType,
      "approx_quantile_columns" -> StringType),
      StructType(Seq(StructField("version", IntegerType, nullable = false))),
      defaults = Map("min_max_columns" -> "''", "distinct_columns" -> "''",
        "where_clause" -> "''", "approx_distinct_columns" -> "''",
        "approx_quantile_columns" -> "''")) { in =>
      def cols(i: Int): Seq[String] =
        str(in, i).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val viewRoot =
        (warehouse +: validSegments(str(in, 0).split('.').toSeq, "procedure view"))
          .mkString("/")
      Seq(Array(graft.operators.Mv.createJoin(spark, viewRoot,
        tableRoot(str(in, 1)), cols(2), str(in, 3),
        tableRoot(str(in, 4)), cols(5), str(in, 6),
        cols(7), cols(8), mvBuckets = in.getInt(9),
        minMaxCols = cols(10), distinctCols = cols(11),
        where = Some(str(in, 12).trim).filter(_.nonEmpty),
        approxDistinctCols = cols(13), approxQuantileCols = cols(14)): Any))
    },
    // the TRILINEAR star (left dim - fact - right dim) from plain SQL —
    // see operators.Mv.createJoin3 for the contract (each base clustered
    // on its probed join key; the fact carries both FKs)
    proc("create_join3_mv", Seq("view" -> StringType,
      "left" -> StringType, "left_keys" -> StringType, "left_join" -> StringType,
      "mid" -> StringType, "mid_keys" -> StringType,
      "mid_join_left" -> StringType, "mid_join_right" -> StringType,
      "right" -> StringType, "right_keys" -> StringType, "right_join" -> StringType,
      "group_columns" -> StringType, "sum_columns" -> StringType,
      "buckets" -> IntegerType, "min_max_columns" -> StringType,
      "distinct_columns" -> StringType, "where_clause" -> StringType,
      "approx_distinct_columns" -> StringType,
      "approx_quantile_columns" -> StringType),
      StructType(Seq(StructField("version", IntegerType, nullable = false))),
      defaults = Map("min_max_columns" -> "''", "distinct_columns" -> "''",
        "where_clause" -> "''", "approx_distinct_columns" -> "''",
        "approx_quantile_columns" -> "''")) { in =>
      def cols(i: Int): Seq[String] =
        str(in, i).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val viewRoot =
        (warehouse +: validSegments(str(in, 0).split('.').toSeq, "procedure view"))
          .mkString("/")
      Seq(Array(graft.operators.Mv.createJoin3(spark, viewRoot,
        tableRoot(str(in, 1)), cols(2), str(in, 3),
        tableRoot(str(in, 4)), cols(5), str(in, 6), str(in, 7),
        tableRoot(str(in, 8)), cols(9), str(in, 10),
        cols(11), cols(12), mvBuckets = in.getInt(13),
        minMaxCols = cols(14), distinctCols = cols(15),
        where = Some(str(in, 16).trim).filter(_.nonEmpty),
        approxDistinctCols = cols(17), approxQuantileCols = cols(18)): Any))
    },
    // whole-view retention: expire/vacuum the MV AND its distinct-count
    // companions together — a refresh writes one version per table per
    // cycle, so this is the verb a scheduler runs (plain expire/vacuum
    // on the view root would leave the companions growing unbounded)
    proc("expire_mv", Seq("view" -> StringType, "keep_last" -> IntegerType),
      StructType(Seq(StructField("dropped_version", IntegerType, nullable = false)))) { in =>
      graft.operators.Mv.expire(spark, tableRoot(str(in, 0)), in.getInt(1))
        .map(v => Array(v: Any))
    },
    proc("vacuum_mv", Seq("view" -> StringType, "grace_ms" -> LongType),
      StructType(Seq(StructField("deleted_files", LongType, nullable = false)))) { in =>
      Seq(Array(graft.operators.Mv.vacuum(spark, tableRoot(str(in, 0)),
        in.getLong(1)): Any))
    },
    // transparent-routing registry (session-scoped — see operators.Mv
    // .register / sources.MvRoute): matching aggregates over the base
    // table(s) rewrite to read the view while it is FRESH; returns the
    // registry after the change as evidence
    proc("register_route", Seq("view" -> StringType),
      StructType(Seq(StructField("routes", StringType, nullable = false)))) { in =>
      graft.operators.Mv.register(spark, tableRoot(str(in, 0)))
      Seq(Array(org.apache.spark.unsafe.types.UTF8String.fromString(
        spark.conf.get(graft.operators.Mv.RoutesKey, "")): Any))
    },
    proc("unregister_route", Seq("view" -> StringType),
      StructType(Seq(StructField("routes", StringType, nullable = false)))) { in =>
      graft.operators.Mv.unregister(spark, tableRoot(str(in, 0)))
      Seq(Array(org.apache.spark.unsafe.types.UTF8String.fromString(
        spark.conf.get(graft.operators.Mv.RoutesKey, "")): Any))
    },
    // serves ALL THREE MV kinds (kind dispatch): a join/trilinear MV
    // reports its LEFT base's watermark pair in from/to_version (the
    // full tuple is on the API reports). recount_groups/recount_pruned
    // are the min/max recount report (0/true when no recount ran).
    proc("refresh_mv", Seq("view" -> StringType),
      StructType(Seq(
        StructField("mode", StringType, nullable = false),
        StructField("from_version", IntegerType, nullable = false),
        StructField("to_version", IntegerType, nullable = false),
        StructField("groups_touched", LongType, nullable = false),
        StructField("mv_version", IntegerType, nullable = true),
        StructField("recount_groups", LongType, nullable = false),
        StructField("recount_pruned", BooleanType, nullable = false)))) { in =>
      val root = tableRoot(str(in, 0))
      val (mode, from, to, groups, v, recG, recP) =
        graft.operators.Mv.kindOf(spark, root) match {
          case "join" =>
            val r = graft.operators.Mv.refreshJoin(spark, root)
            (r.mode, r.fromLeft, r.toLeft, r.groupsTouched, r.mvVersion,
              r.recountGroups, r.recountPruned)
          case "join3" =>
            val r = graft.operators.Mv.refreshJoin3(spark, root)
            (r.mode, r.fromLeft, r.toLeft, r.groupsTouched, r.mvVersion,
              r.recountGroups, r.recountPruned)
          case _ =>
            val r = graft.operators.Mv.refresh(spark, root)
            (r.mode, r.fromVersion, r.toVersion, r.groupsTouched, r.mvVersion,
              r.recountGroups, r.recountPruned)
        }
      Seq(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(mode),
        from, to, groups, v.map(Int.box).orNull, recG, recP))
    },
    // near-dup state migration: rewrite the seen/band state tables with
    // every bucket value recomputed under the new count (see
    // streaming.DocStreams.rebucket — pairs are untouched, exactly-once
    // replay protection survives, crash-safe by order + idempotence)
    proc("rebucket_neardup", Seq("seen" -> StringType, "pairs" -> StringType,
      "buckets" -> IntegerType),
      StructType(Seq(StructField("seen_version", IntegerType, nullable = false)))) { in =>
      val seenRoot = tableRoot(str(in, 0))
      val pairsRoot = tableRoot(str(in, 1))
      graft.streaming.DocStreams.rebucket(spark, seenRoot, pairsRoot, in.getInt(2))
      Seq(Array(graft.operators.Snapshots.versions(spark, seenRoot).last: Any))
    },
    proc("history", Seq("table" -> StringType), historySchema) { in =>
      historyRows(tableRoot(str(in, 0)))
    },
    // named version tags: immutable pointers that pin retention (expire
    // keeps tagged manifests) and resolve through VERSION AS OF 'name'
    proc("tag", Seq("table" -> StringType, "name" -> StringType,
      "version" -> IntegerType),
      StructType(Seq(StructField("version", IntegerType, nullable = false)))) { in =>
      Seq(Array(graft.operators.Snapshots.tag(spark, tableRoot(str(in, 0)),
        str(in, 1), Some(in.getInt(2)).filter(_ >= 0)): Any))
    },
    proc("untag", Seq("table" -> StringType, "name" -> StringType),
      StructType(Seq(StructField("existed", BooleanType, nullable = false)))) { in =>
      Seq(Array(graft.operators.Snapshots.untag(spark, tableRoot(str(in, 0)),
        str(in, 1)): Any))
    },
    proc("tags", Seq("table" -> StringType),
      StructType(Seq(StructField("name", StringType, nullable = false),
        StructField("version", IntegerType, nullable = false)))) { in =>
      graft.operators.Snapshots.tags(spark, tableRoot(str(in, 0))).map { case (n, v) =>
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(n), v)
      }
    }
  ).map(p => p.name() -> p).toMap

  /** The table's history in [[historySchema]] shape — shared by the
    * `history` procedure and the `t.history` metadata table. Bounded:
    * one row per retained version.
    */
  private def historyRows(root: String): Seq[Array[Any]] = {
    val df = Snapshots.describeHistory(spark, root)
    df.selectExpr(historySchema.fieldNames.toIndexedSeq: _*).collect().map { r =>
      Array[Any](r.getInt(0), r.getInt(1), r.getLong(2),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(3)))
    }.toSeq
  }

  private def historySchema: StructType =
    StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = true),
      StructField("n_rows", LongType, nullable = true),
      StructField("operation", StringType, nullable = true)))

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    procedures.getOrElse(ident.name().toLowerCase(java.util.Locale.ROOT),
      throw new UnsupportedOperationException(
        s"procedure ${ident.name()} does not exist; available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toSeq.sorted.map(Identifier.of(Array("sys"), _)).toArray

  /** The `bucket` V2 function — what lets Catalyst RESOLVE the bucket
    * transform a `bucket(n, col)`-clustered table's scan reports
    * (`V2ScanPartitioningAndOrdering` drops key-grouped partitioning
    * whose transform it cannot bind through the relation's function
    * catalog), and what makes two bucketed tables' shuffle specs
    * compatible (`canonicalName` equality). Catalog tables only: a
    * `format("graft-snapshot")` load has no catalog to resolve against,
    * so bucket SPJ runs through `spark.table("cat.t")` reads.
    */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else GraftTimeFunction.units.find(_.equalsIgnoreCase(ident.name()))
      .map(new GraftTimeFunction(_))
      .getOrElse(throw
        new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    (Seq("bucket") ++ GraftTimeFunction.units)
      .map(Identifier.of(Array.empty, _)).toArray
}

/** Murmur3(seed 42) hash-bucketing as a Spark V2 function:
  * `bucket(n, col) = pmod(hash(col), n)` — EXACTLY the expression
  * [[graft.operators.Snapshots.publish]]'s bucketed write routes rows
  * with, so the transform Catalyst evaluates (e.g. to shuffle a plain
  * join side INTO a bucketed table's layout) and the files on disk agree
  * by construction. Null keys hash to the bare seed, matching Spark's
  * hash expression, which skips null children.
  */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(murmur3_hash(col), n) — the graft bucketed-layout routing"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets INT, col), got ${inputType.simpleString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket's first argument must be INT, got ${inputType.fields(0).dataType.simpleString}")
    val dt = inputType.fields(1).dataType
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, dt)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        // the catalog exposes this to ANY SQL caller, so the publish
        // path's range contract re-checks here: bucket(0, c) would
        // otherwise throw a raw / by zero and a negative n would return
        // nonsense bucket ids instead of a contract error
        require(n >= 2 && n <= 65536,
          s"bucket count $n out of range [2, 65536] (the bucketed-layout contract)")
        val h =
          if (input.isNullAt(1)) 42
          else org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
            .hash(input.get(1, dt), dt, 42L).toInt
        ((h % n) + n) % n
      }
    }
  }
}

/** The temporal partition transforms (`years`/`months`/`days`/`hours`)
  * as Spark V2 functions — what lets Catalyst resolve the time transform
  * a `days(ts)`-clustered table's scan reports, exactly as
  * [[GraftBucketFunction]] does for hash buckets. Unit semantics are the
  * Iceberg/Spark partition-transform epochs in UTC (the engine pins the
  * session zone): `years` = year − 1970, `months` = (year − 1970)·12 +
  * month − 1, `days` = floorDiv(micros, 86400·10⁶) (= epoch days for a
  * date), `hours` = floorDiv(micros, 3600·10⁶) — the SAME math
  * [[graft.operators.Snapshots]]'s write routing and footer-stats proof
  * compute, so the transform Catalyst evaluates (e.g. to shuffle a plain
  * join side INTO a time-clustered table's layout) and the files on disk
  * agree by construction. Null instants map to a null key.
  */
final class GraftTimeFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = unit
  override def description(): String =
    s"$unit(col): the graft time-clustered-layout routing (UTC epoch units)"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.fields.length == 1,
      s"$unit takes one date/timestamp column, got ${inputType.simpleString}")
    val dt = inputType.fields(0).dataType
    require(dt == DateType || dt == TimestampType,
      s"$unit needs a date or timestamp column, got ${dt.simpleString}")
    require(unit != "hours" || dt == TimestampType,
      "hours needs a timestamp column; a date has no hour")
    val u = unit
    new org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(dt)
      override def resultType(): DataType = IntegerType
      override def name(): String = u
      override def canonicalName(): String = s"graft.$u"
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): Integer =
        if (input.isNullAt(0)) null
        else dt match {
          case DateType => // internal value: epoch days (INT)
            Int.box(graft.operators.Snapshots.timeOfEpochDay(u, input.getInt(0).toLong))
          case _ => // TimestampType internal value: epoch micros (LONG)
            Int.box(graft.operators.Snapshots.timeOfMicros(u, input.getLong(0)))
        }
    }
  }
}

object GraftTimeFunction {
  val units: Seq[String] = Seq("years", "months", "days", "hours")
}
