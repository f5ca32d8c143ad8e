package graft.sources

import graft.operators.{SnapshotStats, Snapshots}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftbridge.ParquetReadBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util.{Set => JSet}
import scala.jdk.CollectionConverters._

/** DataSource-V2 front door to the snapshot layer:
  *
  * {{{
  *   spark.read.format("graft-snapshot").option("root", root).load()
  *   spark.readStream.format("graft-snapshot").option("root", root).load()
  * }}}
  *
  * Batch reads plan over EXACTLY the manifest's file list (optionally at
  * `option("version", n)` for time travel) and push catalyst filters two
  * levels down: (1) against the manifest's per-file footer stats
  * ([[Snapshots.statsOf]]), so statically-excluded files never become
  * scan tasks — the `.filter(col("ts").between(...))` a user writes gets
  * [[Snapshots.readBetween]]'s skipping without calling it; (2) into the
  * parquet readers for row-group/page-index skipping inside surviving
  * files. Every filter stays in the residual (Spark re-applies it above
  * the scan), so pruning is advisory and correctness never depends on a
  * stats line existing. Column pruning reaches the parquet reader the
  * same way (`ReadSchema` carries only the projected columns).
  *
  * The streaming side is an exactly-once incremental source: offsets ARE
  * manifest versions, and a micro-batch (start, end] delivers the rows of
  * files first listed in that version range — O(new data) per trigger,
  * never O(table). Restart replays deterministically from the
  * checkpointed version because manifests and data files are immutable.
  * Append-only delivery: a version that REMOVES files (compaction,
  * z-order, copy-on-write DELETE/UPDATE, rollback) fails the stream
  * loudly unless `option("ignoreRewrites", true)` declares the log's
  * rewrites layout-only (their added files are then skipped, not
  * re-delivered); merge-on-read delete vectors likewise fail unless
  * `option("ignoreDeletes", true)` accepts that deletes do not retract
  * already-delivered rows (the CDF path, [[Snapshots.changes]], is the
  * tool when retractions matter). `option("startingVersion", "latest")`
  * tails only future appends; a number starts at that version inclusive;
  * default replays from the earliest retained version.
  *
  * Vs the reference's static partition enumeration
  * (`CommonUtils.java:151-163`, date-range directory walk planned once
  * per run): the manifest is the enumeration, stats make it
  * value-selective, and the stream makes it continuous.
  */
class SnapshotSourceProvider extends TableProvider with DataSourceRegister
    with StreamSinkProvider {
  override def shortName(): String = "graft-snapshot"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val r = options.get("root")
    require(r != null && r.nonEmpty, "graft-snapshot requires option 'root'")
    r
  }

  /** `df.writeStream.format("graft-snapshot").option("root", root)` — the
    * EXACTLY-ONCE streaming sink: every micro-batch publishes as one
    * snapshot version through [[Snapshots.publishStreamBatch]], whose
    * manifest-recorded batch id skips the batch Structured Streaming
    * re-delivers after a crash (the at-least-once → exactly-once
    * upgrade; the atomic manifest rename is the transaction). Append
    * mode appends versions; Complete mode publishes each batch as a
    * full replacement version (the streaming-aggregation sink shape) —
    * history stays time-travelable either way, and a concurrent
    * `readStream` on the same root tails the published versions, making
    * snapshot tables a streaming transport. Single writer per root (the
    * snapshot layer's standing contract).
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val root = parameters.getOrElse("root", parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot sink requires option 'root'")))
    // the writer's partitionBy columns declare the destination
    // key-clustered (possibly composite) from the first batch — a fresh
    // root has no header to inherit yet
    val complete = outputMode == org.apache.spark.sql.streaming.OutputMode.Complete()
    val update = outputMode == org.apache.spark.sql.streaming.OutputMode.Update()
    // Update mode re-delivers mutated keys, so it is legal exactly when
    // the writer names the key: each micro-batch then lands as a CoW
    // MERGE on `keyColumns` (exactly-once via the manifest batch id) —
    // the streaming-upsert / CDC-ingest shape. `tombstoneColumn`
    // (optional, boolean) routes per-row deletes through the merge.
    val keyCols = parameters.get("keyColumns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    require(!update || keyCols.isDefined,
      "graft-snapshot sink in Update mode requires option 'keyColumns' " +
        "(comma-separated MERGE key) — without a key, re-delivered rows " +
        "would duplicate; use Append, or name the key to upsert")
    require(keyCols.isEmpty || !complete,
      "keyColumns is meaningless in Complete mode (each batch already " +
        "replaces the table) — drop the option or switch to Update/Append")
    require(complete || update ||
        outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot sink supports Append, Update (with keyColumns) and " +
        s"Complete output modes, got $outputMode")
    new SnapshotStreamSink(root, complete,
      Some(partitionColumns.mkString(",")).filter(_.nonEmpty),
      keyCols, parameters.get("tombstoneColumn"),
      parameters.get("sortColumns").map(_.trim).filter(_.nonEmpty))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val root = rootOf(options)
    val vs = Snapshots.versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = Option(options.get("version"))
      .map(Snapshots.resolveVersion(spark, root, _))
      .orElse(Option(options.get("timestampAsOf")).map(t =>
        Snapshots.versionAt(spark, root, SnapshotScan.parseAsOf(t))))
      .getOrElse(vs.last)
    val base = Snapshots.schemaOf(spark, root, v)
    if (options.getBoolean("readChangeFeed", false))
      SnapshotScan.cdfSchemaOf(base, SnapshotScan.keyColsOf(options))
    else base
  }

  /** True so `writeStream` reaches the v1 sink path even when the
    * DESTINATION root has no snapshots yet (the first batch creates it):
    * DataStreamWriter then hands the frame's own schema to [[getTable]]
    * instead of inferring one from a table that does not exist. Batch
    * reads without `.schema(...)` still infer from the manifest; a
    * user-supplied read schema projects by-name (absent columns
    * null-fill — the snapshot layer's standing evolution rule).
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SnapshotTable(schema, properties.asScala.getOrElse("root", "<unset>"),
      Map.empty)
}

/** The v1 streaming sink behind `writeStream.format("graft-snapshot")`:
  * one snapshot version per micro-batch, exactly-once via the manifest
  * batch-id check. `complete` publishes replacements instead of appends;
  * `keyCols` (the Update-mode contract) merges each batch as a keyed
  * CoW upsert instead of appending it.
  */
private[graft] class SnapshotStreamSink(root: String, complete: Boolean,
    declaredCluster: Option[String] = None,
    keyCols: Option[Seq[String]] = None,
    tombstoneCol: Option[String] = None,
    declaredSort: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val raw = org.apache.spark.sql.graftbridge.SessionBridge.rebatch(data)
    val spark = raw.sparkSession
    if (keyCols.isDefined && Snapshots.versions(spark, root).nonEmpty) {
      // keyed upsert: per-batch CoW MERGE, replayed ids skipped. The
      // clustered layout (if any) survives inside mergeByKey itself.
      Snapshots.mergeStreamBatch(spark, root, raw, batchId, keyCols.get, tombstoneCol)
      return
    }
    // a keyed stream's FIRST batch bootstraps the table as a plain
    // publish (merge needs a base; keys are vacuously unique against an
    // empty table) with tombstoned rows already resolved — so a declared
    // partitionBy layout applies from version 1 and the tombstone column
    // never enters the table schema. The batch itself still owes MERGE's
    // intra-delta uniqueness precondition: without this check, two rows
    // for one key in batch 0 would land as silent duplicate keys that
    // every later mergeByKey batch then carries forward — the same loud
    // dupKey refusal mergeByKey applies, one bounded aggregation.
    keyCols.foreach { kc =>
      import org.apache.spark.sql.functions.{col, lit}
      val dupKey = raw.groupBy(kc.map(raw(_)): _*)
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
        .filter(col("count") > 1).limit(1).collect()
      require(dupKey.isEmpty,
        s"bootstrap batch carries multiple rows for key (${kc.mkString(",")}) = " +
          s"(${dupKey.headOption.fold("")(r => kc.indices.map(i => String.valueOf(r.get(i))).mkString(","))}) — " +
          "MERGE source keys must be unique (dedupe or pre-resolve the batch)")
    }
    val batch =
      if (keyCols.isDefined)
        tombstoneCol.fold(raw)(tc =>
          raw.filter(!org.apache.spark.sql.functions.coalesce(
            raw(tc), org.apache.spark.sql.functions.lit(false))).drop(tc))
      else raw
    // a key-clustered destination KEEPS its layout (each micro-batch
    // shuffles onto the cluster key, so the #cluster= guarantee — and
    // storage-partitioned planning — survives continuous ingest). The
    // writer's `partitionBy(col)` declaration applies ONLY to a fresh
    // root: an existing table keeps its own layout — appending clustered
    // onto an unclustered base cannot hold the per-file guarantee and
    // would crash-loop the stream on publish's refusal
    val cluster = Snapshots.versions(spark, root).lastOption match {
      case Some(v) => Snapshots.clusterOf(spark, root, v)
        .filter(Snapshots.clusterApplies(_, batch.columns.toSeq))
      case None =>
        // a fresh root's DECLARED layout must resolve or fail loudly: a
        // typo'd partitionBy would otherwise publish an unclustered table
        // and every later batch would silently keep it that way
        declaredCluster.foreach { spec =>
          require(Snapshots.clusterApplies(spec, batch.columns.toSeq),
            s"partitionBy columns [$spec] do not resolve against the stream " +
              s"schema [${batch.columns.mkString(", ")}]")
        }
        declaredCluster
    }
    // a SORTED destination keeps its attestation through continuous
    // ingest (each batch's files write internally ordered; publish
    // itself validates the sorted-append contract, so a mismatched base
    // fails loudly rather than crash-looping silently unsorted). A fresh
    // root takes the layout from `option("sortColumns", ...)` — the
    // writer's partitionBy syntax has no sort slot — resolved against
    // publish's own validation on the first batch.
    val sort = Snapshots.versions(spark, root).lastOption match {
      case Some(v) => Snapshots.sortOf(spark, root, v)
        .filter(Snapshots.clusterApplies(_, batch.columns.toSeq))
        // an evolved-away cluster layout drops the sort with it (sort
        // is only defined within a clustered group)
        .filter(_ => cluster.isDefined)
      case None =>
        // deliberately NOT gated on cluster: sortColumns without
        // partitionBy must hit publish's loud sortBy-needs-clusterBy
        // refusal on batch 0, not publish silently unsorted forever
        declaredSort
    }
    Snapshots.publishStreamBatch(spark, root, batch, batchId,
      append = !complete, clusterBy = cluster, sortBy = sort)
  }
  override def toString: String = s"SnapshotStreamSink($root)"
}

/** `bound` options (root, and a pinned version for catalog time travel)
  * override whatever the reader passes — a catalog-loaded table carries
  * its own identity; a `format(...)` load passes root per read.
  */
private[sources] class SnapshotTable(tableSchema: StructType, root: String,
    bound: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"graft-snapshot($root)"

  /** (root, catalog-bound options) for the MV routing rule
    * ([[MvRoute]]) — routing must see the table's identity AND any
    * bound time-travel pin (a version-pinned table never routes).
    */
  private[graft] def routeIdentity: (String, Map[String, String]) = (root, bound)

  /** `SELECT _file, _version FROM t` — per-row data-file path and the
    * scan's resolved manifest version, served as per-file constant
    * columns (same-named DATA columns shadow them). `_file` is also the
    * row-level operations' group-filter key. BATCH-ONLY: the streaming
    * planner resolves metadata columns without a pruneColumns
    * round-trip, so a stream projecting them fails at execution rather
    * than mis-binding — a stream's file attribution lives in its
    * offsets (manifest versions).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    SnapshotScan.metaColumns(tableSchema)

  /** SQL `UPDATE` / `MERGE INTO` / non-translatable `DELETE` via group-
    * based (copy-on-write) row-level operations: the operation's scan
    * reads the affected files WHOLE (runtime group filtering prunes to
    * files that may hold a matching row — the q150 machinery fed by the
    * command's own condition), Spark computes the replacement rows, the
    * write lands them as new files through the shared parquet machinery,
    * and commit publishes `head − scanned + written` as the next version
    * — history time-travelable, CDF-diffable, exactly like the table-API
    * [[Snapshots.updateWhere]]/[[Snapshots.mergeByKey]] paths. Fully-
    * translatable DELETEs never get here (Spark's metadata-delete
    * optimization routes them to [[deleteWhere]] first).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!bound.contains("version"),
      "cannot run DML against a version-pinned (time travel) table")
    () => new SnapshotRowLevelOperation(tableSchema, root, bound, info.command())
  }

  /** SQL `DELETE FROM` lands as [[Snapshots.deleteWhere]] — a
    * copy-on-write publish: stats prune the candidate files through the
    * manifest (the same translation the read path pushes), only files
    * holding a matching row rewrite, history stays time-travelable.
    * Translation is all-or-nothing: a predicate with no exact Column
    * form refuses here and Spark reports it, so a delete is never
    * silently partial. High-frequency key deletes between compactions
    * belong to the merge-on-read path ([[Snapshots.deleteByKey]]).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !bound.contains("version") &&
      filters.forall(f => SnapshotScan.filterColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!bound.contains("version"),
      "cannot DELETE from a version-pinned (time travel) table")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.lit
    val pred = filters.flatMap(SnapshotScan.filterColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    val v = Snapshots.versions(spark, root).lastOption.getOrElse(
      throw new IllegalStateException(s"no snapshots published under $root"))
    val candidates = SnapshotScan.prune(Snapshots.statsOf(spark, root, v),
      Snapshots.files(spark, root, v), filters.toSeq)
    Snapshots.deleteWhere(spark, root, pred, candidates = Some(candidates))
  }

  /** SQL `TRUNCATE TABLE`: publish an empty replacement version —
    * metadata-only (no file probe, no rewrite), history intact, so
    * `VERSION AS OF` still reaches the pre-truncate data.
    */
  override def truncateTable(): Boolean = {
    require(!bound.contains("version"),
      "cannot TRUNCATE a version-pinned (time travel) table")
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    // a clustered (and sorted) table stays DECLARED so through a
    // truncate (vacuously true on zero files), so later inserts
    // re-cluster and re-sort
    val head = Snapshots.versions(spark, root).lastOption
    val cluster = head.flatMap(v => Snapshots.clusterOf(spark, root, v))
      .filter(Snapshots.clusterApplies(_, tableSchema.fieldNames.toSeq))
    val sort = head.flatMap(v => Snapshots.sortOf(spark, root, v))
      .filter(Snapshots.clusterApplies(_, tableSchema.fieldNames.toSeq))
      .filter(_ => cluster.isDefined)
    Snapshots.publish(spark, root, empty, append = false, clusterBy = cluster,
      sortBy = sort)
    true
  }
  override def schema(): StructType = tableSchema
  override def capabilities(): JSet[TableCapability] =
    // no OVERWRITE_DYNAMIC: the V1 write bridge supports append and
    // truncate/filter overwrite only, and the table has no hive
    // partitions for dynamic mode to preserve anyway — its absence
    // routes INSERT OVERWRITE to the static (truncate) plan
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    if (root != "<unset>") merged.put("root", root)
    bound.foreach { case (k, v) => merged.put(k, v) }
    new SnapshotScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged))
  }

  /** SQL DML lands as snapshot publishes: `INSERT INTO` appends a new
    * version sharing every existing file; `INSERT OVERWRITE` publishes a
    * replacement version — history intact either way, so both compose
    * with time travel and CDF. The V1 write bridge hands the rows over
    * as a DataFrame, which IS the publish API's input — distributed
    * write, driver-side manifest commit, single-writer contract
    * unchanged. A version-pinned (time-travel) table refuses writes.
    * `INSERT OVERWRITE` needs `partitionOverwriteMode=static` (the
    * analyzer plans dynamic overwrite from the session conf alone, and
    * the V1 bridge serves only the static plan — the table has no hive
    * partitions, so the two are the same operation here).
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!bound.contains("version"),
      "cannot write to a version-pinned (time travel) table — writes always " +
        "target the table head")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def overwrite(filters: Array[Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        require(filters.forall(_ == AlwaysTrue),
          "conditional INSERT OVERWRITE (replaceWhere) is not supported — " +
            "compose Snapshots.deleteWhere + publish(append) for a banded replace")
        truncate()
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  ignored: Boolean): Unit = {
                val spark = data.sparkSession
                // a key-clustered table KEEPS its layout through SQL
                // writes: the inserted rows shuffle onto the cluster key
                // and the #cluster= guarantee (and with it SPJ planning)
                // survives both INSERT INTO and INSERT OVERWRITE. A
                // SORTED table likewise keeps its attestation — publish
                // sorts the new files internally (the writer owns its
                // distribution, so no RequiresDistributionAndOrdering
                // hand-off is needed); an insert whose envelopes overlap
                // the base's only narrows the scan's ordering proof for
                // the affected groups, never the header
                val head = Snapshots.versions(spark, root).lastOption
                val cluster = head.flatMap(v => Snapshots.clusterOf(spark, root, v))
                  .filter(Snapshots.clusterApplies(_, data.columns.toSeq))
                val sort = head.flatMap(v => Snapshots.sortOf(spark, root, v))
                  .filter(Snapshots.clusterApplies(_, data.columns.toSeq))
                  .filter(_ => cluster.isDefined)
                Snapshots.publish(spark, root, data,
                  append = !overwrite, clusterBy = cluster, sortBy = sort)
              }
            }
        }
    }
  }
}

/** Group-based copy-on-write row-level operation (SQL UPDATE / MERGE
  * INTO / rewrite-path DELETE). The ONE scan built through
  * [[newScanBuilder]] is the main ReplaceData read — its post-runtime-
  * filter planned file set IS the replaced-group set the commit swaps
  * out. (The group-filter subquery Spark may inject scans the PLAIN
  * table, so it never registers here.)
  */
private[sources] class SnapshotRowLevelOperation(tableSchema: StructType,
    root: String, bound: Map[String, String],
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private[sources] var scans: List[SnapshotScan] = Nil

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft-snapshot CoW $cmd root=$root"

  /** `_file` rides through the rewrite plan so runtime group filtering
    * keys on the group identity itself: the matching-rows subquery
    * yields FILE PATHS (IN-set bounded by file count at any scale) and
    * the scan prunes by exact membership. Absent when a data column
    * shadows `_file` (the stats-column fallback then applies).
    */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (tableSchema.fieldNames.contains(SnapshotScan.FileCol)) Array.empty
    else Array(Expressions.column(SnapshotScan.FileCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options)
    merged.put("root", root)
    bound.foreach { case (k, v) => merged.put(k, v) }
    new SnapshotScanBuilder(tableSchema, new CaseInsensitiveStringMap(merged),
      onBuild = s => scans = s :: scans, rowLevel = true)
  }

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new SnapshotReplaceDataWrite(root, info.schema(), SnapshotRowLevelOperation.this)
    }
}

/** The ReplaceData write: executors land replacement rows as parquet
  * files under `root/data/<uuid>/` ([[ParquetWriteBridge]] — the same
  * writer machinery as `df.write.parquet`, snappy + TIMESTAMP_MICROS),
  * and commit publishes the file swap as the next manifest version. A
  * failed job leaves only unreferenced files (vacuumable crash debris);
  * a concurrent publish fails the commit loudly via the expected-version
  * check.
  */
private[sources] class SnapshotReplaceDataWrite(root: String,
    writeSchema: StructType, op: SnapshotRowLevelOperation)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.graftbridge.ParquetWriteBridge

  private val dataDir = s"data/${java.util.UUID.randomUUID().toString.take(12)}"

  /** A key-clustered base asks the rewrite for a clustered distribution
    * and a within-task ordering on the cluster column, and the writers
    * roll to a new file on every key change — replacement files come out
    * single-valued BY CONSTRUCTION, so the commit's footer-stats proof
    * succeeds and the `#cluster=` layout (with its storage-partitioned
    * planning) survives SQL UPDATE / MERGE INTO unconditionally.
    */
  private val cluster: Option[String] =
    try {
      val spark = SparkSession.active
      Snapshots.versions(spark, root).lastOption
        .flatMap(v => Snapshots.clusterOf(spark, root, v))
        .filter(Snapshots.clusterApplies(_, writeSchema.fieldNames.toSeq))
        // a bucket layout is attested by the publish path's dir routing;
        // files this rewrite's executors emit carry no such attestation
        // and footer stats cannot re-prove a hash membership, so the
        // header rightly drops (compact restores the layout)
        .filter(s => Snapshots.bucketSpec(s).isEmpty)
        // a TIME layout could re-prove from stats, but this write's only
        // distribution lever is identity clustering on the raw column —
        // which would roll a file per distinct INSTANT. Skip the request;
        // the commit still carries the header whenever the replacement
        // files happen to stay unit-pure (provenClustered's time proof),
        // and compact restores it otherwise
        .filter(s => Snapshots.timeSpec(s).isEmpty)
    } catch { case scala.util.control.NonFatal(_) => None }

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    cluster match {
      case Some(spec) => org.apache.spark.sql.connector.distributions.Distributions
        .clustered(Snapshots.clusterCols(spec).map(Expressions.identity).toArray)
      case None => org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    }

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    cluster match {
      case Some(spec) => Snapshots.clusterCols(spec).map(c =>
        Expressions.sort(Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }

  override def description(): String = s"graft-snapshot CoW rewrite root=$root"
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    ParquetWriteBridge.writerFactory(SparkSession.active, writeSchema,
      s"$root/$dataDir", rollOn = cluster.toSeq.flatMap(Snapshots.clusterCols))

  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val added = messages.collect {
      case ParquetWriteBridge.WrittenFiles(ns, _) => ns.map(n => s"$dataDir/$n")
    }.flatten.toSeq.sorted
    val (version, removed) = op.scans match {
      case s :: Nil => s.lastPlanned.getOrElse(throw new IllegalStateException(
        "row-level write committed before its scan planned any files — " +
          "cannot determine the replaced-group set"))
      case other => throw new IllegalStateException(
        s"expected exactly one row-level scan for $root, saw ${other.size} — " +
          "refusing to guess the replaced-group set")
    }
    Snapshots.commitRewrite(spark, root, version, removed.toSet, added)
  }

  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$dataDir"), true)
  }
}

private[graft] class SnapshotScanBuilder(tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    onBuild: SnapshotScan => Unit = _ => (),
    rowLevel: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  require(options.get("version") == null || options.get("timestampAsOf") == null,
    "options 'version' and 'timestampAsOf' are mutually exclusive")
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggPush: Option[(StructType, Seq[Array[Any]])] = None
  private var limitN: Option[Int] = None

  /** PARTIAL limit pushdown from manifest row counts: an unfiltered
    * `LIMIT n` plans only a prefix of the file list whose exact `#rows=`
    * sum already covers n — Spark's own Limit still executes above the
    * scan, we just never schedule tasks for files that cannot
    * contribute. Refused whenever a filter is pushed (a filter could
    * eliminate rows inside the chosen prefix, and the trimmed scan
    * would under-deliver) or any file lacks a row count.
    */
  override def pushLimit(n: Int): Boolean =
    if (!rowLevel && pushed.isEmpty && n >= 0) { limitN = Some(n); true } else false
  override def isPartiallyPushed(): Boolean = true

  private var topN: Option[(String, Boolean, Int)] = None

  /** PARTIAL top-N pushdown from manifest stats: for an unfiltered
    * `ORDER BY c LIMIT n`, sort files by their min (max for DESC),
    * take the shortest prefix whose exact NON-NULL row counts cover n,
    * and keep only files that can hold a value at-or-before the
    * prefix's worst bound — plus every null-carrying file (either null
    * ordering may rank them). Spark's own TopN still runs above the
    * scan, so the pruning only has to never DROP a candidate row,
    * which the ≥n-rows-within-bound argument guarantees. On a
    * range/z-order-clustered 100 TB table, `ORDER BY ts DESC LIMIT
    * 100` plans only the newest band's files. Refused under a pushed
    * filter (the filter could eliminate the covering rows) — and a
    * runtime (DPP) filter arriving later voids the prune the same way
    * the limit prefix is voided.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (rowLevel || pushed.nonEmpty || n < 0 || orders.length != 1) return false
    val so = orders(0)
    val c = so.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }
    c.filter(tableSchema.fieldNames.contains) match {
      case Some(name) =>
        topN = Some((name,
          so.direction() == org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
          n))
        true
      case None => false
    }
  }

  /** Accept every filter for ADVISORY use (stats + parquet row-group
    * skipping) but return all of them as residual — Spark re-applies
    * them above the scan, so a missing stats line can never change
    * results. The exchange is the standard conservative contract.
    *
    * A ROW-LEVEL-operation scan accepts nothing: its replaced-group set
    * is whole files, so the scan must return every row of every planned
    * file — compile-time pruning here would be on the KEEP predicate
    * (dropping all-rewritten files from the replacement set), and even
    * advisory parquet row-group skipping changes which rows the rewrite
    * copies forward. Group selection comes from runtime group filtering
    * instead (the MATCH predicate, conservative by construction).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!rowLevel) pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // streaming wraps the scan in an internal offset/commit harness that
    // can ask for zero columns; the parquet factory needs ≥1 to count rows
    required = if (requiredSchema.isEmpty) StructType(tableSchema.take(1)) else requiredSchema

  // Spark invokes supportCompletePushDown then pushAggregation with the
  // same Aggregation; each translateAgg re-reads manifests/stats driver-
  // side, so memoize by instance — table history makes this O(versions)
  // of metadata work per call on slow filesystems
  private var aggMemo: (Aggregation, Option[(StructType, Seq[Array[Any]])]) = null

  private def translateAggMemo(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    if (aggMemo == null || !(aggMemo._1 eq agg)) aggMemo = (agg, translateAgg(agg))
    aggMemo._2
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translateAggMemo(agg).isDefined

  /** COMPLETE aggregate pushdown answered from manifest metadata alone:
    * an unfiltered, ungrouped `count(*)` / `min(c)` / `max(c)` over the
    * snapshot becomes ONE pre-computed row — no file is opened, no scan
    * task scheduled (the `SELECT count(*)` over 100 TB in one manifest
    * read, now reachable from plain SQL instead of the
    * [[Snapshots.countRows]] API). Bounds come from the same exact
    * footer fold as [[Snapshots.columnStats]]: Some only when EVERY
    * file carries usable stats and no delete vectors are outstanding —
    * otherwise the pushdown is refused and Spark plans the ordinary
    * scan, so the fast path is never a guess.
    */
  override def pushAggregation(agg: Aggregation): Boolean =
    translateAggMemo(agg) match {
      case Some(x) => aggPush = Some(x); true
      case None => false
    }

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  /** The (schema, result rows) of a fully-stats-answerable aggregation,
    * or None when any piece is unprovable from metadata.
    *
    * Ungrouped: `count(*)` / `count(c)` / `min(c)` / `max(c)` fold to ONE
    * row from the manifest's exact row counts, per-column null counts and
    * min/max bounds. GROUPED: when every grouping column is provably
    * SINGLE-VALUED per file (min==max with zero nulls, or all-null — the
    * key-clustered layout, or any naturally file-partitioned one), files
    * group by their key tuple driver-side and the same per-file algebra
    * folds within each group — `SELECT k, count(*), max(ts) GROUP BY k`
    * over 100 TB becomes one manifest read with zero scan tasks. Refused
    * whenever any file lacks the proof, any aggregate is untranslatable,
    * or delete vectors are outstanding — the fast path is never a guess.
    */
  private def translateAgg(agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    if (rowLevel || pushed.nonEmpty) return None
    // a change-feed frame's logical rows are DIFF rows, not table rows —
    // base-table stats would misanswer; refuse so the batch guard fires
    if (options.getBoolean("readChangeFeed", false)) return None
    val spark = SparkSession.active
    val root = options.get("root")
    val vs = Snapshots.versions(spark, root)
    if (vs.isEmpty) return None
    val version = Option(options.get("version"))
      .map(Snapshots.resolveVersion(spark, root, _))
      .orElse(Option(options.get("timestampAsOf")).map(t =>
        Snapshots.versionAt(spark, root, SnapshotScan.parseAsOf(t))))

    def checked(dt: DataType, v: Any): Option[Any] = SnapshotScan.checkedCatalyst(dt, v)

    if (agg.groupByExpressions.isEmpty) {
      def bound(f: AggregateFunc, wantMin: Boolean): Option[(StructField, Any)] = for {
        c <- colOf(f.children()(0))
        field <- tableSchema.find(_.name == c)
        r <- Snapshots.columnStats(spark, root, c, version)
        v <- checked(field.dataType, if (wantMin) r.min else r.max)
      } yield (StructField(s"${if (wantMin) "min" else "max"}($c)", field.dataType), v)
      // count(c) = rows − nulls, both manifest-exact; needs every file's
      // row count AND a stats line for c (the null count rides on it)
      def countCol(c: String): Option[Long] = {
        val v = version.getOrElse(vs.last)
        if (Snapshots.hasDeleteVectors(spark, root, v)) return None
        val files = Snapshots.files(spark, root, v)
        val rows = Snapshots.rowCountsOf(spark, root, v)
        val stats = Snapshots.statsOf(spark, root, v)
        if (!files.forall(fl => stats.get(fl).exists(_.contains(c)))) None
        else Some(files.map(fl => rows(fl) - stats(fl)(c).nulls).sum)
      }
      val parts = agg.aggregateExpressions.map {
        case _: CountStar => Snapshots.countRows(spark, root, version)
          .map(n => (StructField("count(*)", LongType, nullable = false), n: Any))
        case cnt: org.apache.spark.sql.connector.expressions.aggregate.Count
            if !cnt.isDistinct =>
          colOf(cnt.column).filter(c => tableSchema.fieldNames.contains(c))
            .flatMap(countCol)
            .map(n => (StructField("count", LongType, nullable = false), n: Any))
        case m: Min => bound(m, wantMin = true)
        case m: Max => bound(m, wantMin = false)
        case _ => None
      }
      if (parts.exists(_.isEmpty)) None
      else Some((StructType(parts.map(_.get._1)), Seq(parts.map(_.get._2))))
    } else translateGroupedAgg(spark, root, agg, version.getOrElse(vs.last))
  }

  /** The grouped half of [[translateAgg]]: group files by their proved
    * single-valued key tuple, fold count/min/max per group from manifest
    * metadata alone. Output schema is grouping columns FIRST then
    * aggregate columns — the order `V2ScanRelationPushDown` binds.
    */
  private def translateGroupedAgg(spark: SparkSession, root: String,
      agg: Aggregation, v: Int): Option[(StructType, Seq[Array[Any]])] = {
    if (Snapshots.hasDeleteVectors(spark, root, v)) return None
    val groupFields: Seq[Option[StructField]] = agg.groupByExpressions.toSeq
      .map(e => colOf(e).flatMap(c => tableSchema.find(_.name == c)))
    if (groupFields.exists(_.isEmpty)) return None
    val gFields = groupFields.flatten
    val files = Snapshots.files(spark, root, v)
    val stats = Snapshots.statsOf(spark, root, v)
    val rows = Snapshots.rowCountsOf(spark, root, v)

    // (tag, decoded external value or null) of a file's single value for
    // a column — None when the file is not provably single-valued
    def singleValue(fl: String, c: String): Option[(String, Any)] =
      stats.get(fl).flatMap(_.get(c)).flatMap {
        case cs if cs.tag == "allnull" => Some(("allnull", null))
        case cs if cs.nulls == 0 && cs.min == cs.max =>
          scala.util.Try((cs.tag,
            SnapshotScan.normalizeKey(SnapshotStats.decode(cs.tag, cs.min)))).toOption
        case _ => None
      }

    val keyed: Seq[Option[(Seq[Any], String)]] = files.map { fl =>
      val key = gFields.map(f => singleValue(fl, f.name).map(_._2))
      if (key.exists(_.isEmpty)) None else Some((key.map(_.get), fl))
    }
    if (keyed.exists(_.isEmpty)) return None
    val groups: Seq[(Seq[Any], Seq[String])] = keyed.flatMap(x => x)
      .groupBy(_._1).toSeq.map { case (k, fs) => (k, fs.map(_._2)) }
      .sortBy(_._2.head)

    // per-group aggregate folds; each returns (field, group -> value) or None
    def minMax(f: AggregateFunc, wantMin: Boolean)
        : Option[(StructField, Seq[String] => Option[Any])] = for {
      c <- colOf(f.children()(0))
      field <- tableSchema.find(_.name == c)
      // every file must carry usable stats for c (all-null files fold as
      // absent — parquet min/max exclude nulls)
      if files.forall(fl => stats.get(fl).exists(_.get(c).exists(cs =>
        cs.tag == "allnull" || cs.min.nonEmpty)))
    } yield (StructField(s"${if (wantMin) "min" else "max"}($c)", field.dataType),
      (fls: Seq[String]) => {
        val vals = fls.flatMap { fl =>
          val cs = stats(fl)(c)
          if (cs.tag == "allnull") None
          else scala.util.Try(
            (cs.tag, SnapshotStats.decode(cs.tag, if (wantMin) cs.min else cs.max))).toOption
        }
        val folded =
          if (vals.isEmpty) Some(null)
          else {
            val tag = vals.head._1
            Some(vals.map(_._2).reduce((a, b) =>
              if (wantMin) SnapshotStats.decodedMin(tag, a, b)
              else SnapshotStats.decodedMax(tag, a, b)))
          }
        folded.flatMap(x => SnapshotScan.checkedCatalyst(field.dataType, x))
      })

    val parts: Seq[Option[(StructField, Seq[String] => Option[Any])]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some((StructField("count(*)", LongType, nullable = false),
          (fls: Seq[String]) => Some(fls.map(rows).sum: Any)))
        case cnt: org.apache.spark.sql.connector.expressions.aggregate.Count
            if !cnt.isDistinct =>
          colOf(cnt.column).filter(c => files.forall(fl =>
            stats.get(fl).exists(_.contains(c))))
            .map(c => (StructField("count", LongType, nullable = false),
              (fls: Seq[String]) => Some(fls.map(fl => rows(fl) - stats(fl)(c).nulls).sum: Any)))
        case m: Min => minMax(m, wantMin = true)
        case m: Max => minMax(m, wantMin = false)
        case _ => None
      }
    if (parts.exists(_.isEmpty)) return None
    val aggCols = parts.flatMap(x => x)

    val outRows = groups.map { case (key, fls) =>
      val keyCat = key.zip(gFields).map { case (kv, f) =>
        SnapshotScan.checkedCatalyst(f.dataType, kv) }
      val aggVals = aggCols.map(_._2(fls))
      if (keyCat.exists(_.isEmpty) || aggVals.exists(_.isEmpty)) return None
      (keyCat.map(_.get) ++ aggVals.map(_.get)).toArray
    }
    Some((StructType(gFields.map(f => StructField(f.name, f.dataType)) ++
      aggCols.map(_._1)), outRows))
  }

  override def build(): Scan = aggPush match {
    case Some((schema, rows)) =>
      new StatsAggScan(schema, rows, options.get("root"))
    case None =>
      val s = new SnapshotScan(tableSchema, required, pushed.toSeq, options,
        limitN.filter(_ => pushed.isEmpty), rowLevel,
        topN.filter(_ => pushed.isEmpty))
      onBuild(s)
      s
  }
}

/** The scan a metadata-answered aggregate compiles to: one partition,
  * pre-computed rows (one for an ungrouped aggregate, one per group for
  * a grouped one — bounded by the file count), zero files opened.
  */
private[sources] class StatsAggScan(aggSchema: StructType, rows: Seq[Array[Any]],
    root: String) extends Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"graft-snapshot root=$root METADATA-ONLY aggregate " +
      aggSchema.fieldNames.mkString("[", ", ", "]")
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(StatsRowPartition(rows.toArray))
    override def createReaderFactory(): PartitionReaderFactory =
      new StatsRowReaderFactory
  }
}

private[sources] case class StatsRowPartition(rows: Array[Array[Any]])
  extends InputPartition

private[sources] class StatsRowReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[StatsRowPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
  }
}

private[graft] object SnapshotScan {

  /** Constant metadata columns every snapshot scan can serve: the data
    * file each row came from and the manifest version the scan resolved
    * (`SELECT _file, _version FROM t` — lineage/debugging, and the
    * row-level operations' file-granular group filtering). Served via
    * the parquet factory's partition-values mechanism: per-file constant
    * column vectors, multi-file task packing intact.
    */
  val FileCol = "_file"
  val VersionCol = "_version"
  val MetaNames: Seq[String] = Seq(FileCol, VersionCol)

  def metaColumns(tableSchema: StructType)
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    MetaNames.filterNot(tableSchema.fieldNames.contains).map { n =>
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType =
          if (n == FileCol) StringType else IntegerType
        override def isNullable: Boolean = false
        override def comment(): String =
          if (n == FileCol) "absolute path of the data file holding the row"
          else "manifest version the scan resolved"
      }
    }.toArray

  /** The change-feed row shape: change kind, key columns, non-key
    * columns (the [[Snapshots.changes]] order), and the committing
    * version.
    */
  def cdfSchemaOf(base: StructType, keyCols: Seq[String]): StructType = {
    keyCols.foreach(k => require(base.fieldNames.contains(k),
      s"keyColumns entry '$k' is not a table column"))
    val keys = keyCols.map(k => base(k))
    val nonKey = base.filterNot(f => keyCols.contains(f.name))
    StructType(StructField("change", StringType, nullable = false) +:
      (keys ++ nonKey) :+ StructField("_commit_version", IntegerType, nullable = false))
  }

  def keyColsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("keyColumns")).getOrElse(
      throw new IllegalArgumentException(
        "readChangeFeed requires option 'keyColumns' (comma-separated: the " +
          "row identity the diff classifies by)"))
    raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Spark SQL's grouping/join semantics treat -0.0 and 0.0 as the same
    * key (NormalizeFloatingNumbers); keys decoded from file stats must
    * agree, or a float-keyed metadata GROUP BY / SPJ partition split
    * would produce two groups where SQL has one.
    */
  def normalizeKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case x => x
  }

  /** Decoded stats bound → the CATALYST value of the type the table
    * declares, or None on tag/type drift (the caller then refuses the
    * metadata answer rather than producing a miscast row).
    */
  def checkedCatalyst(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => Some(null)
    case (LongType, x: Long) => Some(x)
    case (IntegerType, x: Long) => Some(x.toInt)
    case (ShortType, x: Long) => Some(x.toShort)
    case (ByteType, x: Long) => Some(x.toByte)
    case (DoubleType, x: Double) => Some(x)
    case (FloatType, x: Double) => Some(x.toFloat)
    case (StringType, x: String) => Some(CatalystTypeConverters.convertToCatalyst(x))
    case (TimestampType, x: java.sql.Timestamp) =>
      Some(CatalystTypeConverters.convertToCatalyst(x))
    case (DateType, x: java.sql.Date) => Some(CatalystTypeConverters.convertToCatalyst(x))
    case _ => None
  }

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd[ HH:mm:ss]` or
    * ISO-8601 local datetime — interpreted on the UTC wall clock the
    * engine pins.
    */
  def parseAsOf(s: String): Long =
    scala.util.Try(s.toLong).getOrElse {
      val ldt =
        if (s.contains(" ") || s.contains("T"))
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        else java.time.LocalDate.parse(s).atStartOfDay()
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  /** Does any row of a file admitted by `stats` possibly satisfy `f`?
    * Conservative three-level translation of catalyst's pushed-filter
    * language onto footer min/max/null-count: unknown shapes and
    * stats-less columns admit. This is the bridge that turns a plain
    * `.filter` into manifest-level file skipping.
    */
  def admits(stats: Map[String, SnapshotStats.ColStats], f: Filter): Boolean = {
    def col(c: String)(test: SnapshotStats.ColStats => Boolean): Boolean =
      stats.get(c).forall(test)
    f match {
      case EqualTo(c, v) if v != null => col(c)(SnapshotStats.overlaps(_, v, v))
      case EqualNullSafe(c, null) => col(c)(cs => cs.nulls > 0 || cs.tag == "allnull")
      case EqualNullSafe(c, v) => col(c)(SnapshotStats.overlaps(_, v, v))
      case GreaterThan(c, v) if v != null => col(c)(SnapshotStats.admitsAtLeast(_, v))
      case GreaterThanOrEqual(c, v) if v != null => col(c)(SnapshotStats.admitsAtLeast(_, v))
      case LessThan(c, v) if v != null => col(c)(SnapshotStats.admitsAtMost(_, v))
      case LessThanOrEqual(c, v) if v != null => col(c)(SnapshotStats.admitsAtMost(_, v))
      case In(c, vs) if vs != null && vs.nonEmpty =>
        vs.exists(v => v == null || col(c)(SnapshotStats.overlaps(_, v, v)))
      case IsNull(c) => col(c)(cs => cs.nulls > 0 || cs.tag == "allnull")
      case IsNotNull(c) => col(c)(_.tag != "allnull")
      case And(l, r) => admits(stats, l) && admits(stats, r)
      case Or(l, r) => admits(stats, l) || admits(stats, r)
      case _ => true // Not / StringStartsWith / unknown: never prune on it
    }
  }

  /** The subset of `rel` whose stats admit every pushed filter. */
  def prune(stats: Map[String, Map[String, SnapshotStats.ColStats]],
      rel: Seq[String], filters: Seq[Filter]): Seq[String] =
    if (filters.isEmpty) rel
    else rel.filter(fl => filters.forall(admits(stats.getOrElse(fl, Map.empty), _)))

  /** EXACT v1 `Filter` → `Column` translation for SQL DELETE: the
    * returned Column reproduces the pushed filter's tri-valued logic
    * (NULL-yielding rows are NOT matched, so they survive a DELETE —
    * SQL semantics). `None` for shapes with no exact Column form;
    * `canDeleteWhere` then refuses and Spark surfaces the unsupported
    * predicate instead of a silently-partial delete.
    */
  def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(c, v) => Some(col(c) === lit(v))
      case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
      case GreaterThan(c, v) => Some(col(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
      case LessThan(c, v) => Some(col(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
      case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
      case IsNull(c) => Some(col(c).isNull)
      case IsNotNull(c) => Some(col(c).isNotNull)
      case And(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
      case Or(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
      case Not(x) => filterColumn(x).map(!_)
      case StringStartsWith(c, v) => Some(col(c).startsWith(v))
      case StringEndsWith(c, v) => Some(col(c).endsWith(v))
      case StringContains(c, v) => Some(col(c).contains(v))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Conservative V2 `Predicate` → V1 `Filter` translation for runtime
    * filters (DPP hands back IN/EQ predicates over the join keys, as
    * CATALYST-internal literal values — converted to external here so
    * the stats/bloom pruners compare in their own domain). Unknown
    * shapes drop out (None): runtime pruning is advisory, the join
    * itself still filters rows.
    */
  def v2ToV1(e: org.apache.spark.sql.connector.expressions.Expression): Option[Filter] = {
    def col(x: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      x match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
        case _ => None
      }
    def lit(x: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      x match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(CatalystTypeConverters.convertToScala(l.value, l.dataType))
        case _ => None
      }
    e match {
      case p: Predicate => (p.name, p.children()) match {
        case ("IN", ch) if ch.nonEmpty =>
          for {
            c <- col(ch.head)
            vs <- scala.util.Try(ch.tail.map(x => lit(x).get)).toOption
          } yield In(c, vs)
        case ("=", Array(l, r)) =>
          col(l).flatMap(c => lit(r).map(v => EqualTo(c, v)))
            .orElse(col(r).flatMap(c => lit(l).map(v => EqualTo(c, v))))
        case (">=", Array(l, r)) =>
          col(l).flatMap(c => lit(r).map(v => GreaterThanOrEqual(c, v)))
        case ("<=", Array(l, r)) =>
          col(l).flatMap(c => lit(r).map(v => LessThanOrEqual(c, v)))
        case (">", Array(l, r)) =>
          col(l).flatMap(c => lit(r).map(v => GreaterThan(c, v)))
        case ("<", Array(l, r)) =>
          col(l).flatMap(c => lit(r).map(v => LessThan(c, v)))
        case ("AND", Array(l, r)) =>
          (v2ToV1(l), v2ToV1(r)) match {
            case (Some(a), Some(b)) => Some(And(a, b))
            case (a, b) => a.orElse(b) // a conjunct alone is still sound
          }
        case ("OR", Array(l, r)) =>
          for { a <- v2ToV1(l); b <- v2ToV1(r) } yield Or(a, b)
        case ("IS_NOT_NULL", Array(x)) => col(x).map(IsNotNull)
        case _ => None
      }
      case _ => None
    }
  }
}

private[graft] class SnapshotScan(tableSchema: StructType, required: StructType,
    filters: Seq[Filter], options: CaseInsensitiveStringMap,
    limit: Option[Int] = None, rowLevel: Boolean = false,
    topN: Option[(String, Boolean, Int)] = None)
    extends Scan with SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  private val root = options.get("root")

  // metadata columns requested by this scan (shadowed by same-named DATA
  // columns: then they are ordinary columns and none of this applies).
  // Spark appends metadata attrs after data attrs and pruning preserves
  // order, so `required` must be (data..., meta...) — asserted, because
  // the reader emits readDataSchema ++ partitionSchema in exactly that
  // order and a silent permutation would misbind columns.
  private val metaEligible =
    SnapshotScan.MetaNames.filterNot(tableSchema.fieldNames.contains)
  private[graft] val metaFields: Seq[StructField] =
    required.fields.filter(f => metaEligible.contains(f.name)).toSeq
  private val dataRequired: StructType =
    StructType(required.fields.filterNot(f => metaEligible.contains(f.name)))
  require(required.fieldNames.toSeq ==
    dataRequired.fieldNames.toSeq ++ metaFields.map(_.name),
    s"metadata columns must trail the projection: ${required.fieldNames.mkString(",")}")

  /** Runtime (dynamic) file pruning: a broadcast join over this scan
    * hands the build side's join-key values back as IN predicates at
    * EXECUTION time (Spark's DPP machinery), and the re-planned scan
    * drops every file whose stats/blooms exclude them — the
    * star-schema shape at 100 TB: a dimension filtered to one region
    * prunes the fact scan to that region's files with zero user hints.
    */
  @volatile private var runtimeFilters: Seq[Filter] = Nil
  /** Planned-file count of the LAST toBatch (re-planned post-filter);
    * exposed for specs/queries to evidence the pruning.
    */
  @volatile private[graft] var plannedFileCount: Int = -1
  /** CLEAN-file count of the LAST dv-carrying toBatch: files whose
    * footer-stats envelope proved every applicable deleted key absent,
    * so they bypassed the merge-on-read probe (plain vectorized read).
    * -1 until a dv batch plans; exposed for specs/queries.
    */
  @volatile private[graft] var dvCleanFileCount: Int = -1
  /** (version, kept relative files) of the LAST toBatch — the row-level
    * operation write reads this at commit to learn exactly which files
    * its rewrite replaces (post-runtime-filter, the group granularity).
    */
  @volatile private[graft] var lastPlanned: Option[(Int, Seq[String])] = None

  // the engine resolves these against the scan's OUTPUT, so only the
  // projected columns qualify (the table may be wider). A ROW-LEVEL
  // operation scan reports exactly ONE attribute: Spark's group filter
  // builds a single IN over the struct of ALL reported attributes, and
  // a multi-column struct-IN is untranslatable to a source filter (the
  // filter silently no-ops into a full rewrite). The attribute of
  // choice is `_file` — the group identity itself: the IN-set is then
  // FILE PATHS of matching rows (bounded by the file count at any
  // scale, where a value-keyed IN-set grows with matched rows) and
  // pruning is exact membership, not a stats estimate. When `_file` is
  // shadowed by a data column, fall back to the first stats-covered
  // column (conservative-correct: a file holding a matching row always
  // has that row's value admitted by its stats).
  override def filterAttributes(): Array[NamedReference] =
    if (!rowLevel) required.fieldNames.map(Expressions.column)
    else if (metaEligible.contains(SnapshotScan.FileCol))
      Array(Expressions.column(SnapshotScan.FileCol))
    else {
      val statsCol = try {
        val spark = SparkSession.active
        val vs = Snapshots.versions(spark, root)
        val v = version.getOrElse(vs.last)
        val stats = Snapshots.statsOf(spark, root, v)
        required.fieldNames.find(c => stats.valuesIterator.exists(_.contains(c)))
      } catch { case scala.util.control.NonFatal(_) => None }
      statsCol.toArray.map(Expressions.column)
    }

  override def filter(predicates: Array[Predicate]): Unit =
    runtimeFilters = predicates.flatMap(SnapshotScan.v2ToV1).toSeq
  private val version = Option(options.get("version"))
    .map(Snapshots.resolveVersion(SparkSession.active, root, _))
  private val timestampAsOf = Option(options.get("timestampAsOf"))

  override def readSchema(): StructType = required

  override def description(): String = {
    val v = version.map(v => s" version=$v").getOrElse("") +
      timestampAsOf.map(t => s" asOf=$t").getOrElse("")
    s"graft-snapshot root=$root$v filters=[${filters.mkString(", ")}]" +
      limit.map(n => s" limit=$n").getOrElse("") +
      topN.map { case (c, asc, n) =>
        s" topN=$n by $c ${if (asc) "ASC" else "DESC"}" }.getOrElse("")
  }

  private def resolveVersion(spark: SparkSession): Int = {
    val vs = Snapshots.versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    version.orElse(timestampAsOf.map(t =>
      Snapshots.versionAt(spark, root, SnapshotScan.parseAsOf(t)))).getOrElse(vs.last)
  }

  /** `base` thinned by `preds`, in pruning-strength order: exact `_file`
    * path membership (a user's lineage filter, or the row-level
    * operations' file-granular runtime group filter — only when the
    * metadata column is live), manifest footer stats, then parquet bloom
    * probes for point-lookup conjuncts (written at publish via `bloomOn`;
    * on an unclustered high-cardinality key the min/max stats prune
    * nothing and the blooms do all the work — the q143 path). Pure
    * filtering, so compile-time and runtime predicate sets compose by
    * chaining.
    */
  private def pruneBy(spark: SparkSession, v: Int, base: Seq[String],
      preds: Seq[Filter]): Seq[String] = {
    if (preds.isEmpty) return base
    val fileKept =
      if (!metaEligible.contains(SnapshotScan.FileCol)) base
      else preds.foldLeft(base) {
        case (fls, In(SnapshotScan.FileCol, vs)) if vs != null =>
          val set = vs.filter(_ != null).map(_.toString).toSet
          fls.filter(r => set(s"$root/$r"))
        case (fls, EqualTo(SnapshotScan.FileCol, v0)) if v0 != null =>
          fls.filter(r => v0.toString == s"$root/$r")
        case (fls, _) => fls
      }
    val statsKept =
      SnapshotScan.prune(Snapshots.statsOf(spark, root, v), fileKept, preds)
    preds.foldLeft(statsKept) {
      case (fls, EqualTo(c, v0)) if v0 != null && fls.nonEmpty =>
        graft.operators.SnapshotBloom.filesMightContain(spark, root, fls, c, Seq(v0))
      case (fls, In(c, vs)) if vs != null && vs.nonEmpty && !vs.contains(null)
          && fls.nonEmpty =>
        graft.operators.SnapshotBloom.filesMightContain(spark, root, fls, c, vs.toSeq)
      case (fls, _) => fls
    }
  }

  /** Compile-time plan: (version, kept files BEFORE the limit prefix,
    * kept files AFTER it, total file count). Computed once — both
    * [[outputPartitioning]]'s key groups and [[toBatch]] derive from the
    * same set, so the reported partitioning always matches the planned
    * partitions; runtime (DPP) filters later thin WITHIN this set.
    */
  /** Outstanding merge-on-read delete vectors at the resolved version:
    * the plain batch scan then anti-probes them row-level ([[toBatch]]'s
    * dv branch), and every metadata shortcut whose soundness rests on
    * raw row counts or raw file contents stands down — the limit prefix
    * and top-N prune here (counts include deleted rows, so a prefix
    * could under-deliver), key-grouped planning (a file's rows are no
    * longer exactly its contents), and the metadata aggregates (which
    * already refuse dv versions in translateAgg).
    */
  private lazy val dvOutstanding: Boolean = {
    val spark = SparkSession.active
    try Snapshots.hasDeleteVectors(spark, root, resolveVersion(spark))
    catch { case scala.util.control.NonFatal(_) => false }
  }

  private lazy val compiledPlan: (Int, Seq[String], Seq[String], Int) = {
    val spark = SparkSession.active
    val v = resolveVersion(spark)
    val rel = Snapshots.files(spark, root, v)
    val kept0 = pruneBy(spark, v, rel, filters)
    // unfiltered LIMIT n: plan only the prefix whose EXACT row counts
    // cover n (see pushLimit).
    // unfiltered ORDER BY c LIMIT n: the stats-bounded top-N prune.
    val kept = (limit, topN) match {
      case _ if dvOutstanding => kept0
      case (Some(n), _) if filters.isEmpty =>
        val rows = Snapshots.rowCountsOf(spark, root, v)
        var acc = 0L
        kept0.takeWhile { fl => val need = acc < n; acc += rows(fl); need }
      case (_, Some((c, asc, n))) if filters.isEmpty =>
        topNPrune(spark, v, kept0, c, asc, n)
      case _ => kept0
    }
    (v, kept0, kept, rel.size)
  }

  /** Files that can contribute to the top `n` rows by `c` (ascending
    * when `asc`). Sound bound: order files by their best-case value,
    * take the shortest prefix whose exact non-null row counts reach n —
    * every one of those ≥n rows is at-or-before the prefix's worst
    * bound B, so no row beyond B can rank in the top n. Kept: files
    * whose best value is at-or-before B, plus every null-carrying file
    * (NULLS FIRST would rank them). Refused (all files kept) when any
    * file lacks usable stats for `c`, or tags mix.
    */
  private def topNPrune(spark: SparkSession, v: Int, rel: Seq[String],
      c: String, asc: Boolean, n: Int): Seq[String] = {
    val stats = Snapshots.statsOf(spark, root, v)
    val rows = Snapshots.rowCountsOf(spark, root, v)
    if (!rel.forall(fl => stats.get(fl).exists(_.contains(c)))) return rel
    final case class B(fl: String, tag: String, lo: Any, hi: Any,
        nulls: Long, nonNull: Long)
    val bounds =
      try rel.map { fl =>
        val s = stats(fl)(c)
        if (s.tag == "allnull") B(fl, "allnull", null, null, s.nulls, 0L)
        else B(fl, s.tag, SnapshotStats.decode(s.tag, s.min),
          SnapshotStats.decode(s.tag, s.max), s.nulls,
          math.max(0L, rows(fl) - s.nulls))
      } catch { case scala.util.control.NonFatal(_) => return rel }
    val nonNull = bounds.filter(_.tag != "allnull")
    if (nonNull.map(_.tag).distinct.size > 1) return rel // mixed tags: refuse
    if (nonNull.map(_.nonNull).sum < n) return rel // cannot bound: keep all
    val tag = nonNull.headOption.map(_.tag).getOrElse(return rel)
    def cmp(a: Any, b: Any) = SnapshotStats.decodedCompare(tag, a, b)
    // best-case order: by min ASC, or by max DESC
    val ordered =
      if (asc) nonNull.sortWith((a, b) => cmp(a.lo, b.lo) < 0)
      else nonNull.sortWith((a, b) => cmp(a.hi, b.hi) > 0)
    var acc = 0L
    val prefix = ordered.takeWhile { b => val need = acc < n; acc += b.nonNull; need }
    if (prefix.isEmpty) // n == 0: only null-carrying files can matter
      return rel.filter(fl => bounds.exists(b => b.fl == fl &&
        (b.nulls > 0 || b.tag == "allnull")))
    // worst value the covering prefix can contribute
    val bound =
      if (asc) prefix.map(_.hi).reduce((a, b) => SnapshotStats.decodedMax(tag, a, b))
      else prefix.map(_.lo).reduce((a, b) => SnapshotStats.decodedMin(tag, a, b))
    val keep = bounds.filter(b => b.nulls > 0 || b.tag == "allnull" ||
      (if (asc) cmp(b.lo, bound) <= 0 else cmp(b.hi, bound) >= 0))
      .map(_.fl).toSet
    rel.filter(keep)
  }

  /** The cluster column and its per-key compile-time file groups, when
    * storage-partitioned planning is SOUND: every compile-kept file is
    * provably single-valued for the column (manifest stats min==max with
    * zero nulls, or all-null), the decoded key carries the declared type,
    * and the scan is a plain batch read (no row-level op, no limit
    * prefix, no change feed). Activated by the version's `#cluster=`
    * manifest header (written by a clustered publish) or forced via
    * `option("clusterBy", col)` — the forced form fails loudly when the
    * layout cannot support it, the automatic form degrades to ordinary
    * planning.
    *
    * A `bucket(n, col)` spec groups by the write path's `__cluster=<id>`
    * dir segment instead (the bucket id is not a stored column, so the
    * footer-stats proof does not apply — the manifest only ever lists
    * bucket-dir files committed by the bucketed publish itself) and the
    * partition keys become the BUCKET TRANSFORM over the raw column,
    * resolved against the catalog's `bucket` V2 function.
    *
    * Returns (partition key expressions, per-partition-constant ordered
    * column claims, key → file groups, proved-sorted flag).
    */
  private type ClusterPlan =
    (Array[org.apache.spark.sql.connector.expressions.Expression],
      Seq[String], Seq[(InternalRow, Seq[String])], Boolean)
  private lazy val clusterGroups: Option[ClusterPlan] = {
    // `clusterPlanning=false` opts a read out of key-grouped planning:
    // grouped scans run ONE task per key, which is the point for
    // co-clustered joins but caps a plain full-table scan's parallelism
    // at the key cardinality — a full scan of a low-cardinality-keyed
    // table reads faster ungrouped
    if (rowLevel || limit.isDefined || topN.isDefined
        || options.getBoolean("readChangeFeed", false)
        || !options.getBoolean("clusterPlanning", true)
        || dvOutstanding) None
    else {
      val spark = SparkSession.active
      val forced = Option(options.get("clusterBy")).filter(_.nonEmpty)
      val (v, _, kept, _) = compiledPlan
      val specOpt = forced.orElse(
        try Snapshots.clusterOf(spark, root, v)
        catch { case scala.util.control.NonFatal(_) => None })
      specOpt.flatMap { spec =>
        def refuse(msg: String): Option[ClusterPlan] =
          if (forced.isDefined) throw new IllegalArgumentException(
            s"option clusterBy=$spec on $root v$v: $msg") else None
        Snapshots.bucketSpec(spec) match {
          case Some((n, bcol)) if !tableSchema.fieldNames.contains(bcol) =>
            refuse("bucket column is not a table column")
          case Some((n, bcol)) =>
            // trust-the-writer grouping: only the bucketed publish path
            // commits `__cluster=<integer>/` file paths into a manifest
            // carrying this header, so the dir id IS the bucket id; a
            // file without the segment (or out of range) was not written
            // by it and voids the layout
            val re = "__cluster=(\\d+)/[^/]+$".r
            val keyed = kept.map { fl =>
              re.findFirstMatchIn(fl).map(_.group(1).toInt).filter(_ < n).map(_ -> fl)
            }
            if (keyed.exists(_.isEmpty))
              refuse("a planned file does not carry the bucketed publish's " +
                "__cluster=<id> dir segment")
            else if (keyed.isEmpty) None
            else {
              val raw = keyed.flatMap(x => x).groupBy(_._1).toSeq
                .map { case (id, fs) =>
                  (new GenericInternalRow(Array[Any](id)): InternalRow,
                    fs.map(_._2).sorted)
                }
                .sortBy(_._2.head)
              // SORTED-WITHIN-BUCKET (the Hive/Iceberg bucketed-sorted
              // SMB shape): unlike the identity case the bucket's raw
              // key is NOT constant per group, so the ordering claim is
              // the SORT columns alone — typically the raw key itself,
              // giving a sort-free merge join at UNBOUNDED key
              // cardinality where the identity layout would write one
              // file set per value. Proof is the same per-group
              // envelope argument; fan-out (partial clustering) splits
              // groups across tasks and rightly wins over the claim.
              val sortCols: Seq[String] =
                (try Snapshots.sortOf(spark, root, v)
                 catch { case scala.util.control.NonFatal(_) => None })
                  .map(Snapshots.clusterCols).getOrElse(Nil)
                  .filter(tableSchema.fieldNames.contains)
              val fanOut = spark.conf.get(
                "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
                "false").toBoolean
              def plan(groups: Seq[(InternalRow, Seq[String])],
                  provedSort: Seq[String]): Option[ClusterPlan] = Some((
                Array[org.apache.spark.sql.connector.expressions.Expression](
                  Expressions.bucket(n, bcol)),
                provedSort, groups, provedSort.nonEmpty))
              if (sortCols.isEmpty || fanOut) plan(raw, Nil)
              else {
                val stats = Snapshots.statsOf(spark, root, v)
                val proved = raw.map { case (k, fls) =>
                  envelopeOrdered(stats, sortCols, fls).map(k -> _) }
                if (proved.exists(_.isEmpty)) plan(raw, Nil)
                else plan(proved.flatten, sortCols)
              }
            }
          case None => Snapshots.timeSpec(spec) match {
            case Some((unit, tcol)) => timeGroups(spark, unit, tcol, v, kept, refuse)
            case None => identityGroups(spark, spec, v, kept, refuse)
          }
        }
      }
    }
  }

  /** The inter-file half of the sorted-layout proof, per key group: the
    * `#sort=` header attests each file INTERNALLY ascending by the sort
    * columns; this completes it ACROSS files — every file needs usable
    * null-free stats on the LEADING sort column, and the envelopes,
    * ordered by min, must be STRICTLY disjoint (prev.max < next.min
    * proves the whole lexicographic tuple order across the
    * concatenation). Some(files in envelope order) on proof; None (an
    * overlapping append, a null, missing stats) degrades the ordering
    * claim — never a wrong answer, just a reappearing sort. Shared by
    * the identity and bucket grouping paths.
    */
  private def envelopeOrdered(
      stats: Map[String, Map[String, graft.operators.SnapshotStats.ColStats]],
      sortCols: Seq[String], fls: Seq[String]): Option[Seq[String]] =
    sortCols.headOption.flatMap { s0 =>
      if (fls.size <= 1) Some(fls)
      else try {
        val bs = fls.map(fl => stats.get(fl).flatMap(_.get(s0))
          .filter(cs => cs.nulls == 0 && cs.tag != "allnull").map(fl -> _))
        if (bs.exists(_.isEmpty)) None
        else {
          val flat = bs.flatten
          val tag = flat.head._2.tag
          if (flat.exists(_._2.tag != tag)) None
          else {
            val dec = flat.map { case (fl, cs) =>
              (fl, SnapshotStats.decode(tag, cs.min),
                SnapshotStats.decode(tag, cs.max))
            }
            val ordered = dec.sortWith((a, b) =>
              SnapshotStats.decodedCompare(tag, a._2, b._2) < 0)
            val disjoint = ordered.sliding(2).forall {
              case scala.collection.Seq(a, b) =>
                SnapshotStats.decodedCompare(tag, a._3, b._2) < 0
              case _ => true
            }
            if (disjoint) Some(ordered.map(_._1)) else None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** Time-transform grouping: like [[identityGroups]] the proof is
    * footer stats, but single-valuedness holds for the TRANSFORM —
    * `unit(min) == unit(max)` with zero nulls (monotonicity closes the
    * envelope), or all-null (the transform's null key). Works for any
    * file generation that happens to be unit-pure (the clustered publish
    * by construction; a CoW survivor rewrite of single-day files by
    * inheritance), so the proof — not the dir layout — is the authority.
    * The partition keys are the TRANSFORM over the raw column, resolved
    * against the catalog's `days`/`months`/`years`/`hours` V2 function:
    * an equi-join whose keys include the raw column plans exchange-free
    * against another table clustered on the same unit (equal instants ⇒
    * equal units — the Iceberg temporal-transform SPJ shape).
    */
  private def timeGroups(spark: SparkSession, unit: String, c: String, v: Int,
      kept: Seq[String],
      refuse: String => Option[ClusterPlan]): Option[ClusterPlan] = {
    if (!tableSchema.fieldNames.contains(c)) refuse("not a table column")
    else {
      val stats = Snapshots.statsOf(spark, root, v)
      // Some(Some(unitValue)) | Some(None) for the all-null key; None = unprovable
      def key(fl: String): Option[Option[Int]] =
        stats.get(fl).flatMap(_.get(c)).flatMap {
          case cs if cs.tag == "allnull" => Some(None)
          case cs if cs.nulls == 0 =>
            try {
              val lo = Snapshots.timeOfDecoded(unit, SnapshotStats.decode(cs.tag, cs.min))
              val hi = Snapshots.timeOfDecoded(unit, SnapshotStats.decode(cs.tag, cs.max))
              if (lo == hi) Some(Some(lo)) else None
            } catch { case scala.util.control.NonFatal(_) => None }
          case _ => None
        }
      val keyed = kept.map(fl => key(fl).map(k => k -> fl))
      if (keyed.exists(_.isEmpty))
        refuse(s"a planned file is not provably single-valued for $unit($c) " +
          "(missing stats, a unit-crossing envelope, or nulls beside values) — " +
          "publish with clusterBy, or compact, to guarantee the layout")
      else if (keyed.isEmpty) None // empty table: nothing to group
      else {
        val transform: org.apache.spark.sql.connector.expressions.Expression =
          unit match {
            case "years" => Expressions.years(c)
            case "months" => Expressions.months(c)
            case "days" => Expressions.days(c)
            case "hours" => Expressions.hours(c)
          }
        Some((
          Array(transform),
          Nil, // the raw column is NOT constant within a unit group
          keyed.flatMap(x => x).groupBy(_._1).toSeq
            .map { case (k, fs) =>
              (new GenericInternalRow(Array[Any](k.map(Int.box).orNull)): InternalRow,
                fs.map(_._2).sorted)
            }
            .sortBy(_._2.head),
          false))
      }
    }
  }

  private def identityGroups(spark: SparkSession, spec: String, v: Int,
      kept: Seq[String],
      refuse: String => Option[ClusterPlan]): Option[ClusterPlan] = {
    {
        val cols = Snapshots.clusterCols(spec)
        val fields = cols.map(c => tableSchema.find(_.name == c))
        if (cols.isEmpty || fields.exists(_.isEmpty)) refuse("not a table column")
        else {
          val stats = Snapshots.statsOf(spark, root, v)
          // Some(catalyst key or null) iff the file is single-valued for
          // the column
          def colKey(fl: String, c: String, dt: DataType): Option[Any] =
            stats.get(fl).flatMap(_.get(c)).flatMap {
              case cs if cs.tag == "allnull" => Some(null)
              case cs if cs.nulls == 0 && cs.min == cs.max =>
                scala.util.Try(SnapshotStats.decode(cs.tag, cs.min)).toOption
                  .map(SnapshotScan.normalizeKey)
                  .flatMap(SnapshotScan.checkedCatalyst(dt, _))
              case _ => None
            }
          def keyOf(fl: String): Option[Seq[Any]] = {
            val parts = fields.flatten.map(f => colKey(fl, f.name, f.dataType))
            if (parts.exists(_.isEmpty)) None else Some(parts.map(_.get))
          }
          val keyed = kept.map(fl => keyOf(fl).map(k => k -> fl))
          if (keyed.exists(_.isEmpty))
            refuse("a planned file is not provably single-valued for every cluster " +
              "column (missing stats, mixed values, or nulls beside values) — " +
              "publish with clusterBy to guarantee the layout")
          else if (keyed.isEmpty) None // empty table: nothing to group
          else {
            val raw = keyed.flatMap(x => x).groupBy(_._1).toSeq
              .map { case (k, fs) =>
                (new GenericInternalRow(k.toArray): InternalRow, fs.map(_._2).sorted)
              }
              .sortBy(_._2.head)
            // SORTED layout: the version's `#sort=` header attests each
            // file internally ascending by the sort columns; the scan
            // completes the proof INTER-file — per group, every file
            // needs usable null-free stats on the LEADING sort column and
            // the envelopes, ordered by min, must be STRICTLY disjoint
            // (prev.max < next.min proves the whole lexicographic tuple
            // order across the concatenation). Proof holds → groups read
            // in envelope order and [[outputOrdering]] claims
            // (clusterKeys..., sortCols...); any group failing (an
            // overlapping append, a null, missing stats) degrades the
            // claim to the key-only ordering — never a wrong answer,
            // just a reappearing sort.
            val sortCols: Seq[String] =
              (try Snapshots.sortOf(spark, root, v)
               catch { case scala.util.control.NonFatal(_) => None })
                .map(Snapshots.clusterCols).getOrElse(Nil)
                .filter(c => tableSchema.fieldNames.contains(c) && !cols.contains(c))
            def envelopeOrder(fls: Seq[String]): Option[Seq[String]] =
              envelopeOrdered(stats, sortCols, fls)
            // Spark honors a reported ordering only when every key group
            // is a SINGLE scan partition (DataSourceV2ScanExecBase
            // .outputOrdering: a task CONCATENATES same-key partitions in
            // unspecified order), so a proved-sorted group must plan as
            // one envelope-ordered partition — which forfeits the
            // hot-key fan-out partial clustering provides. When the user
            // turned fan-out ON they chose skew-splitting over
            // sortedness: keep the split planning and degrade the
            // ordering claim instead of silently serializing hot keys.
            val fanOut = spark.conf.get(
              "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
              "false").toBoolean
            def plan(groups: Seq[(InternalRow, Seq[String])],
                provedSort: Seq[String]): Option[ClusterPlan] = Some((
              cols.map(c => Expressions.identity(c)
                : org.apache.spark.sql.connector.expressions.Expression).toArray,
              cols ++ provedSort, groups, provedSort.nonEmpty))
            if (sortCols.isEmpty || fanOut) plan(raw, Nil)
            else {
              val proved = raw.map { case (k, fls) => envelopeOrder(fls).map(k -> _) }
              if (proved.exists(_.isEmpty)) plan(raw, Nil)
              else plan(proved.flatten, sortCols)
            }
          }
        }
    }
  }

  /** Storage-partitioned planning: a key-clustered snapshot reports its
    * per-key file groups as key-grouped partitioning over the cluster
    * column, so a join or aggregation clustered by that column plans
    * with ZERO shuffle on this side (`spark.sql.sources.v2.bucketing.
    * enabled`) — two clustered snapshot tables join map-side at any
    * scale, the layout-for-shuffle trade the reference's per-partition
    * directory scheme made implicitly.
    *
    * SKEW: [[toBatch]] emits each key's files as byte-sized SPLITS
    * (multiple `HasPartitionKey` partitions per hot key —
    * `ParquetReadBridge.keyedFilePartitions`), so under
    * `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.
    * enabled` a co-clustered join keeps a hot key's splits as separate
    * tasks and replicates the other side's matching partition instead of
    * serializing the whole key into one task (SnapshotClusterSpec pins
    * fan-out + row equality). Off by default, matching Spark: partial
    * clustering deliberately un-groups the join OUTPUT, so an
    * aggregation above it re-shuffles — turn it on when the cluster key
    * is skewed, leave it off when the exchange-free agg matters more.
    */
  override def outputPartitioning(): Partitioning = clusterGroups match {
    case Some((keys, _, gs, _)) if gs.nonEmpty =>
      new KeyGroupedPartitioning(keys, gs.size)
    case _ => new UnknownPartitioning(0)
  }

  /** Within a key-grouped partition the cluster column is CONSTANT, so
    * the scan is trivially sorted by it — reporting that ordering lets a
    * sort-merge join on the cluster key drop both local sorts on top of
    * the dropped shuffles (the fully map-side co-clustered join). A
    * SORTED clustered layout ([[Snapshots.publish]] `sortBy`, proof
    * completed per group in [[clusterGroups]]) extends the claim to
    * `(clusterKeys..., sortCols...)` — a window PARTITION BY key ORDER
    * BY sortCol, or a sort-merge join on the full prefix, then runs with
    * zero exchange AND zero sort. ASC NULLS FIRST (Spark's default asc);
    * the proof required zero nulls, so the null-ordering clause is
    * vacuous but must still match the plan's required ordering.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterGroups match {
      case Some((_, orderCols, gs, _)) if gs.nonEmpty =>
        orderCols.map(c => Expressions.sort(Expressions.identity(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case _ => Array.empty
    }

  override def toBatch: Batch = {
    require(!options.getBoolean("readChangeFeed", false),
      "readChangeFeed is a STREAMING option (readStream); for a batch diff " +
        "call Snapshots.changes(root, from, to, keyCols) directly")
    val spark = SparkSession.active
    val (v, preLimit, postLimit, totalFiles) = compiledPlan
    // a ROW-LEVEL operation scan must see raw file contents (its rewrite
    // replaces whole files) — dv filtering there would silently drop the
    // dv bookkeeping, so the refusal stays; plain scans take the
    // merge-on-read branch below instead
    require(!rowLevel || !Snapshots.hasDeleteVectors(spark, root, v),
      s"v$v under $root carries outstanding merge-on-read delete vectors — a " +
        "row-level operation would rewrite files without their deletes; run " +
        "materializeDeletes or compact first")
    if (Snapshots.hasDeleteVectors(spark, root, v)) return dvBatch(spark, v, totalFiles)
    // manifest-recorded byte lengths ride along so partition packing
    // never stats the planned files
    val sized = Snapshots.byteCountsOf(spark, root, v)
    // requested metadata columns become per-file constant rows, appended
    // by the parquet factory's partition-values mechanism
    def metaOf(r: String): InternalRow =
      if (metaFields.isEmpty) InternalRow.empty
      else new GenericInternalRow(metaFields.map { f =>
        if (f.name == SnapshotScan.FileCol)
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$root/$r"): Any
        else v: Any
      }.toArray)
    def sizedMeta(r: String) = (s"$root/$r", sized(r), metaOf(r))
    clusterGroups match {
      case Some((_, _, groups, provedSorted)) =>
        // runtime (DPP) filters thin files WITHIN groups but never drop a
        // group: the reported partition-value set must survive replanning
        // (an emptied group plans as an empty partition). A filter keeps
        // relative order, so a proved-sorted group's envelope order
        // survives thinning and the ordering claim stays honest.
        val runtimeKept: Set[String] =
          if (runtimeFilters.isEmpty) groups.flatMap(_._2).toSet
          else pruneBy(spark, v, groups.flatMap(_._2), runtimeFilters).toSet
        val keyedGroups = groups.map { case (k, fls) =>
          (k, fls.filter(runtimeKept).map(sizedMeta))
        }
        plannedFileCount = keyedGroups.map(_._2.size).sum
        lastPlanned = Some((v, groups.flatMap(_._2).filter(runtimeKept)))
        new SnapshotBatch(spark, root, tableSchema, dataRequired,
          StructType(metaFields), filters,
          keyedGroups.flatMap(_._2), totalFiles - plannedFileCount,
          grouped = Some(keyedGroups), ordered = provedSorted)
      case None =>
        // a runtime filter voids the limit prefix (it could eliminate rows
        // inside the chosen prefix and under-deliver) — re-plan from the
        // pre-limit set, exactly the pushLimit soundness rule
        val kept =
          if (runtimeFilters.isEmpty) postLimit
          else pruneBy(spark, v, preLimit, runtimeFilters)
        plannedFileCount = kept.size
        lastPlanned = Some((v, kept))
        new SnapshotBatch(spark, root, tableSchema, dataRequired,
          StructType(metaFields), filters,
          kept.map(sizedMeta), totalFiles - kept.size)
    }
  }

  /** MERGE-ON-READ batch planning for a dv-carrying version: instead of
    * refusing, the scan anti-probes every row against the outstanding
    * delete-vector key sets INSIDE the readers — the same semantics as
    * [[Snapshots.read]]'s distributed anti-join, pushed to the file
    * granularity Spark's dv designs use. Planned files group by their
    * first-seen sequence (a dv committed at D applies to a file iff
    * firstSeen ≤ D — re-inserted keys stay visible) and partitions never
    * pack across groups, so each reader applies exactly its group's key
    * sets. Key columns absent from the projection are force-read and
    * projected away after the probe; key sets are driver-collected —
    * O(deleted keys), broadcast-sized by the dv contract — and ship in
    * the serialized factory. Readers run row-based while dvs are
    * outstanding (the probe is per-row); `materializeDeletes`/`compact`
    * restores the vectorized path. Metadata shortcuts stand down (see
    * [[dvOutstanding]]); the refusal survives only where the probe
    * cannot follow the rows: row-level operation scans and
    * non-equality-safe key types.
    */
  private def dvBatch(spark: SparkSession, v: Int, totalFiles: Int): Batch = {
    val (_, preLimit, _, _) = compiledPlan
    val kept =
      if (runtimeFilters.isEmpty) preLimit
      else pruneBy(spark, v, preLimit, runtimeFilters)
    val (firstSeen, dvGroups) = Snapshots.dvReadPlan(spark, root, v, Some(tableSchema))
    def probeSafe(c: String): Boolean = tableSchema.fields.find(_.name == c).exists(
      _.dataType match {
        case BinaryType => false // array equality — cannot hash-probe
        case _: NumericType => true
        case StringType | BooleanType | DateType | TimestampType
            | TimestampNTZType => true
        case _ => false
      })
    val allKeyCols = dvGroups.flatMap(_._1).distinct
    require(allKeyCols.forall(probeSafe),
      s"v$v under $root carries delete vectors on non-probeable key columns " +
        s"(${allKeyCols.filterNot(probeSafe).mkString(", ")}) — run " +
        "materializeDeletes or compact first, or read through Snapshots.read")
    val extraCols = allKeyCols.filterNot(dataRequired.fieldNames.contains)
    val augData = StructType(dataRequired.fields ++ extraCols.map(c => tableSchema(c)))
    val augTypes = (augData.fields ++ metaFields).map(_.dataType).toArray
    val outputOrdinals = ((0 until dataRequired.size) ++
      (augData.size until augData.size + metaFields.size)).toArray
    // deleted-key tuples in CATALYST representation (what row.get returns)
    val converted: Seq[(Seq[String], Int, Set[Seq[Any]])] = dvGroups.map {
      case (kc, ver, rows) =>
        val convs = kc.map(c =>
          CatalystTypeConverters.createToCatalystConverter(tableSchema(c).dataType))
        val keys = rows.iterator.map { r =>
          kc.indices.map(i => if (r.isNullAt(i)) null
            else org.apache.spark.sql.graftbridge.DvFilteringReaderFactory
              .normalizeZero(convs(i)(r.get(i)))).toList: Seq[Any]
        }.filter(!_.contains(null)).toSet
        (kc, ver, keys)
    }
    val ordsOf: Map[Seq[String], Array[Int]] = converted.map(_._1).distinct
      .map(kc => kc -> kc.map(augData.fieldIndex).toArray).toMap
    val sized = Snapshots.byteCountsOf(spark, root, v)
    def metaOf(r: String): InternalRow =
      if (metaFields.isEmpty) InternalRow.empty
      else new GenericInternalRow(metaFields.map { f =>
        if (f.name == SnapshotScan.FileCol)
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$root/$r"): Any
        else v: Any
      }.toArray)
    // CLEAN-FILE SPLIT: a file whose footer-stats envelope (manifest
    // `#stats=` lines — zero extra I/O) proves every applicable deleted
    // key absent never pays the probe: it reads through the plain
    // vectorized factory over the UNaugmented schema, exactly the
    // no-dv scan cost. A key tuple is possibly-present iff it has no
    // null component AND every component falls inside that column's
    // [min,max]; missing stats admit (conservative). At 100 TB a dv
    // deletes keys clustered in a few files — the split keeps the
    // whole rest of the table on the fast path. The exact per-tuple
    // sweep is driver-side O(files × keys); guarded by a budget so a
    // degenerate (huge-dv × huge-table) case skips the split rather
    // than stall planning — correctness never depends on it.
    val stats = Snapshots.statsOf(spark, root, v)
    val totalKeys = dvGroups.iterator.map(_._3.length.toLong).sum
    def admitsEq(cs: SnapshotStats.ColStats, value: Any): Boolean = value match {
      // ±0.0: the probe treats the zeros equal (normalizeZero) but a
      // footer envelope ordered by Double.compare separates them — a
      // [-0.0, -0.0] file must NOT be judged clean of a 0.0 key, so
      // zero keys conservatively admit every file
      case d: java.lang.Double if d.doubleValue() == 0.0 => true
      case f: java.lang.Float if f.floatValue() == 0.0f => true
      case _ =>
        try SnapshotStats.overlaps(cs, value, value)
        catch { case scala.util.control.NonFatal(_) => true }
    }
    def isClean(rel: String, seq: Int): Boolean = {
      val st = stats.getOrElse(rel, Map.empty)
      dvGroups.forall { case (kc, ver, rows) =>
        ver < seq || rows.forall { r =>
          val present = !kc.indices.exists(r.isNullAt) &&
            kc.zipWithIndex.forall { case (c, i) =>
              st.get(c).forall(admitsEq(_, r.get(i))) }
          !present
        }
      }
    }
    val splitBudgetOk = kept.size.toLong * math.max(1L, totalKeys) <= 20L * 1000 * 1000
    def seqOf(rel: String): Int = firstSeen.getOrElse(rel, v)
    val (cleanFiles, dirtyFiles) =
      if (splitBudgetOk) kept.partition(r => isClean(r, seqOf(r)))
      else (Nil, kept)
    val seqGroups = dirtyFiles.groupBy(seqOf).toSeq.sortBy(_._1)
    val keyFilters: Map[Int, Seq[(Array[Int], Set[Seq[Any]])]] = seqGroups.map {
      case (seq, _) => seq -> converted.filter(_._2 >= seq)
        .map { case (kc, _, keys) => (ordsOf(kc), keys) }
        .filter(_._2.nonEmpty)
    }.toMap
    plannedFileCount = kept.size
    dvCleanFileCount = cleanFiles.size
    lastPlanned = Some((v, kept))
    val cleanGroup =
      if (cleanFiles.isEmpty) Nil
      else Seq((org.apache.spark.sql.graftbridge.DvFilteringReaderFactory.CleanTag,
        cleanFiles.map(r => (s"$root/$r", sized(r), metaOf(r)))))
    new DvSnapshotBatch(spark, tableSchema, dataRequired, augData,
      StructType(metaFields), filters,
      cleanGroup ++ seqGroups.map { case (s, fls) =>
        (s, fls.map(r => (s"$root/$r", sized(r), metaOf(r)))) },
      augTypes, outputOrdinals, keyFilters, totalFiles - kept.size)
  }

  /** Manifest-derived statistics, AFTER stats pruning: exact row counts
    * from `#rows=` lines, bytes from the kept files' lengths scaled by
    * the projection ratio (the FileScan convention). This is what makes
    * snapshot tables first-class citizens of join planning — a small or
    * well-pruned side reports small and auto-broadcasts, where a
    * stats-less DSv2 relation defaults to "assume huge, never
    * broadcast". One manifest read, no per-file RPCs (`#bytes=` lines),
    * at optimize time only; failures degrade to "unknown".
    */
  private lazy val estimated: (java.util.OptionalLong, java.util.OptionalLong) =
    try {
      val spark = SparkSession.active
      val vs = Snapshots.versions(spark, root)
      val v = version.orElse(timestampAsOf.map(t =>
        Snapshots.versionAt(spark, root, SnapshotScan.parseAsOf(t)))).getOrElse(vs.last)
      // stats pruning only — no bloom footer probes in the optimizer loop
      val kept = SnapshotScan.prune(Snapshots.statsOf(spark, root, v),
        Snapshots.files(spark, root, v), filters)
      val rows = Snapshots.rowCountsOf(spark, root, v)
      val numRows = java.util.OptionalLong.of(kept.map(rows).sum)
      val sized = Snapshots.byteCountsOf(spark, root, v)
      val rawBytes = kept.map(sized).sum
      // projection ratio over DATA columns only (metadata columns are
      // free per-file constants, not scan bytes)
      val ratio = math.max(1, dataRequired.size).toDouble / math.max(1, tableSchema.size)
      (java.util.OptionalLong.of(math.max(1L, (rawBytes * ratio).toLong)), numRows)
    } catch {
      case scala.util.control.NonFatal(_) =>
        (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
    }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong = estimated._1
    override def numRows(): java.util.OptionalLong = estimated._2
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(metaFields.isEmpty,
      s"metadata columns (${metaFields.map(_.name).mkString(", ")}) are batch-only — " +
        "a stream's file attribution lives in its offsets (manifest versions)")
    if (options.getBoolean("readChangeFeed", false)) {
      // tableSchema must BE the cdf schema (the format() path builds it in
      // inferSchema); a base-schema table (e.g. catalog-loaded) streamed
      // with readChangeFeed would emit rows its declared schema cannot
      // describe — refuse with the working spelling
      require(tableSchema.fieldNames.contains("change")
          && tableSchema.fieldNames.contains("_commit_version"),
        "readChangeFeed needs the change-feed schema — read via " +
          "spark.readStream.format(\"graft-snapshot\").option(\"root\", ...)" +
          ".option(\"readChangeFeed\", true).option(\"keyColumns\", ...)")
      new SnapshotCdfStream(SparkSession.active, root, tableSchema, required,
        SnapshotScan.keyColsOf(options),
        options.getBoolean("cdfPreImages", false), options)
    }
    else
      new SnapshotMicroBatchStream(SparkSession.active, root, tableSchema, required,
        filters, options)
  }
}

private[sources] class SnapshotBatch(spark: SparkSession, root: String,
    tableSchema: StructType, readSchema: StructType, metaSchema: StructType,
    filters: Seq[Filter],
    files: Seq[(String, Long, InternalRow)], prunedFiles: Int,
    grouped: Option[Seq[(InternalRow, Seq[(String, Long, InternalRow)])]] = None,
    ordered: Boolean = false)
    extends Batch {
  override def planInputPartitions(): Array[InputPartition] = grouped match {
    case Some(gs) if ordered => ParquetReadBridge.orderedKeyedFilePartitions(spark, gs)
    case Some(gs) => ParquetReadBridge.keyedFilePartitions(spark, gs)
    case None => ParquetReadBridge.filePartitions(spark, files)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ParquetReadBridge.readerFactory(spark, tableSchema, readSchema, filters, metaSchema)

  /** Exposed for the spec: the absolute files this batch plans over. */
  private[graft] def plannedPaths: Seq[String] = files.map(_._1)
  private[graft] def prunedFileCount: Int = prunedFiles
}

/** The merge-on-read Batch behind [[SnapshotScan.dvBatch]]: sequence-
  * tagged partitions (packing never crosses first-seen groups; the
  * stats-proven CLEAN files pack as their own group) over a
  * dv-filtering wrap of the stock parquet reader factory. Clean
  * partitions read through a factory over the UNaugmented required
  * schema — the plain vectorized scan; dirty partitions read the
  * augmented schema row-based and probe per row.
  */
private[sources] class DvSnapshotBatch(spark: SparkSession,
    tableSchema: StructType, cleanSchema: StructType, augSchema: StructType,
    metaSchema: StructType, filters: Seq[Filter],
    tagged: Seq[(Int, Seq[(String, Long, InternalRow)])],
    augTypes: Array[DataType], outputOrdinals: Array[Int],
    keyFilters: Map[Int, Seq[(Array[Int], Set[Seq[Any]])]],
    prunedFiles: Int) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    org.apache.spark.sql.graftbridge.ParquetReadBridge
      .taggedFilePartitions(spark, tagged)
  override def createReaderFactory(): PartitionReaderFactory =
    new org.apache.spark.sql.graftbridge.DvFilteringReaderFactory(
      ParquetReadBridge.readerFactory(spark, tableSchema, cleanSchema, filters,
        metaSchema),
      ParquetReadBridge.readerFactory(spark, tableSchema, augSchema, filters,
        metaSchema),
      augTypes, outputOrdinals, spark.sparkContext.broadcast(keyFilters),
      allClean = tagged.forall(_._1 ==
        org.apache.spark.sql.graftbridge.DvFilteringReaderFactory.CleanTag))
  private[graft] def prunedFileCount: Int = prunedFiles
}

/** A manifest version as a streaming offset. Version 0 = "before the
  * first publish" (nothing delivered yet).
  */
private[sources] case class VersionOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] object VersionOffset {
  private val Re = """\{\s*"version"\s*:\s*(\d+)\s*\}""".r
  def parse(json: String): VersionOffset = json match {
    case Re(v) => VersionOffset(v.toInt)
    case other => throw new IllegalArgumentException(
      s"not a graft-snapshot offset: $other")
  }
}

/** Shared offset/admission machinery for the two snapshot streams:
  * offsets ARE manifest versions; subclasses decide which FILES a
  * version range (start, end] plans (appended data files, or
  * materialized change-feed files).
  */
private[sources] abstract class VersionOffsetStream(spark: SparkSession,
    root: String, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // admission control: at most this many VERSIONS advance per trigger —
  // version granularity (not files/rows) because a version is the atomic
  // exactly-once unit; a huge backfill then drains as bounded micro-batches
  // instead of one giant catch-up batch
  private val maxVersionsPerTrigger =
    Option(options.get("maxVersionsPerTrigger")).map(_.toInt)
  maxVersionsPerTrigger.foreach(n =>
    require(n >= 1, s"maxVersionsPerTrigger must be >= 1, got $n"))
  // Trigger.AvailableNow: pin the goal line at prepare time, so the run
  // drains exactly what existed when it started, then terminates
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(Snapshots.versions(spark, root).lastOption.getOrElse(0))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].version
    val newest = Snapshots.versions(spark, root).lastOption.getOrElse(0)
    val capped = availableNowCap.fold(newest)(math.min(newest, _))
    VersionOffset(maxVersionsPerTrigger.fold(capped)(n => math.min(capped, s + n)))
  }

  override def reportLatestOffset(): Offset =
    VersionOffset(Snapshots.versions(spark, root).lastOption.getOrElse(0))

  override def initialOffset(): Offset = {
    val vs = Snapshots.versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    Option(options.get("startingVersion")) match {
      case None => VersionOffset(0)
      case Some("earliest") => VersionOffset(0)
      case Some("latest") => VersionOffset(vs.last)
      case Some(n) => // deliver n onward, inclusive
        val v = n.toInt
        require(v >= 1, s"startingVersion must be >= 1, got $v")
        if (v - 1 == 0 || vs.contains(v - 1)) VersionOffset(v - 1)
        else if (v == vs.head)
          // history below the earliest surviving version is expired:
          // there is no manifest v-1 to diff the first step against, but
          // every row through v is present in v's own files — start from
          // offset 0, which makes the first step a full-snapshot delivery
          VersionOffset(0)
        else throw new IllegalArgumentException(
          s"startingVersion $v under $root: baseline version ${v - 1} is " +
            s"expired and $v is not the earliest surviving version " +
            s"(${vs.head}) — choose 'earliest' or a version in " +
            s"[${vs.head}, ${vs.last}]")
    }
  }

  override def latestOffset(): Offset =
    VersionOffset(Snapshots.versions(spark, root).lastOption.getOrElse(0))

  override def deserializeOffset(json: String): Offset = VersionOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ParquetReadBridge.filePartitions(spark,
      plannedSized(start, end).map { case (p, n) => (p, n, InternalRow.empty) })

  /** Surviving versions in (start, end], after the expiry guard. */
  protected def walkOf(start: Offset, end: Offset): Seq[Int] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) return Nil
    val vs = Snapshots.versions(spark, root)
    require(s == 0 || vs.contains(s),
      s"checkpointed offset v$s no longer exists under $root (expired?) — " +
        "the stream cannot re-establish its baseline; reset the checkpoint " +
        "or retain more versions (expire keepLast)")
    vs.filter(v => v > s && v <= e)
  }

  protected def startVersion(start: Offset): Int =
    start.asInstanceOf[VersionOffset].version

  /** The absolute file paths carrying (start, end]'s rows, with their
    * byte lengths, so per-trigger partition planning needs no per-file
    * FS RPC.
    */
  private[graft] def plannedSized(start: Offset, end: Offset): Seq[(String, Long)]

  private[graft] def plannedPaths(start: Offset, end: Offset): Seq[String] =
    plannedSized(start, end).map(_._1)

  override def commit(end: Offset): Unit = () // manifests are immutable
  override def stop(): Unit = ()
}

private[graft] class SnapshotMicroBatchStream(spark: SparkSession, root: String,
    tableSchema: StructType, required: StructType, filters: Seq[Filter],
    options: CaseInsensitiveStringMap)
    extends VersionOffsetStream(spark, root, options) {

  private val ignoreRewrites = options.getBoolean("ignoreRewrites", false)
  private val ignoreDeletes = options.getBoolean("ignoreDeletes", false)

  /** The absolute file paths whose rows version range (start, end]
    * appended — the version-by-version walk over surviving manifests,
    * with the append-only contract enforced per step. Each kept file
    * carries its manifest-recorded byte length, so per-trigger partition
    * planning stays RPC-free.
    */
  private[graft] def plannedSized(start: Offset,
      end: Offset): Seq[(String, Long)] = {
    val walk = walkOf(start, end)
    if (walk.isEmpty) return Nil
    val s = startVersion(start)
    var prev: Set[String] = if (s == 0) Set.empty else Snapshots.files(spark, root, s).toSet
    val out = Seq.newBuilder[(String, Long)]
    walk.foreach { w =>
      if (!ignoreDeletes && Snapshots.hasDeleteVectors(spark, root, w))
        throw new IllegalStateException(
          s"v$w under $root carries merge-on-read delete vectors; an append-only " +
            "stream cannot retract delivered rows — use readChangeFeed for CDF, " +
            "or option(\"ignoreDeletes\", true) to stream inserts only")
      val cur = Snapshots.files(spark, root, w).toSet
      val removed = prev -- cur
      val added = (cur -- prev).toSeq.sorted
      if (removed.nonEmpty && !ignoreRewrites)
        throw new IllegalStateException(
          s"v$w under $root removed ${removed.size} file(s) (compaction/rewrite/" +
            "rollback); re-delivering rewritten files would duplicate rows — " +
            "option(\"ignoreRewrites\", true) declares such versions layout-only " +
            "(their files are skipped), or option(\"readChangeFeed\", true) for " +
            "row-level diffs")
      if (removed.isEmpty) {
        // stats-prune the step's additions exactly like the batch path:
        // a tailing stream with a pushed predicate plans only admitted files
        val kept = SnapshotScan.prune(Snapshots.statsOf(spark, root, w), added, filters)
        val sized = Snapshots.byteCountsOf(spark, root, w)
        out ++= kept.map(r => (s"$root/$r", sized(r)))
      }
      prev = cur
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ParquetReadBridge.readerFactory(spark, tableSchema, required, filters)
}

/** Change-data-feed stream: each version in (start, end] contributes its
  * ROW-LEVEL diff against the previous surviving version —
  * insert/update/delete rows classified by `keyColumns` (the
  * [[Snapshots.changes]] algebra), so merges, copy-on-write
  * DELETE/UPDATE and compactions stream as retractions/applications
  * instead of refusals. Each version's diff is materialized ONCE under
  * `root/_cdf/` (parquet, atomic `_SUCCESS` commit, reused on replay —
  * determinism comes from immutable manifests, so a re-computed cache is
  * bit-identical) and served through the same vectorized readers as data
  * files. The first step from offset 0 synthesizes the initial snapshot
  * as inserts.
  */
private[sources] class SnapshotCdfStream(spark: SparkSession, root: String,
    cdfSchema: StructType, required: StructType, keyCols: Seq[String],
    preImages: Boolean, options: CaseInsensitiveStringMap)
    extends VersionOffsetStream(spark, root, options) {

  import org.apache.spark.sql.functions.{col, lit}

  /** A diff cache's FULL provenance lives in its name: the baseline
    * version `prev`, the target version `w`, and a hash of the key
    * columns the diff was classified under. Without all three, a stream
    * restarted with different keyColumns — or a post-expire stream whose
    * first step re-baselines at prev=0 — would silently reuse a diff
    * computed under different semantics.
    */
  private def cacheDir(prev: Int, w: Int): String = {
    val kh = (scala.util.hashing.MurmurHash3
      .stringHash(keyCols.mkString(",")) & 0xffffffffL).toHexString
    s"$root/_cdf/${if (preImages) "pre_" else ""}v$prev-${w}_k$kh"
  }

  private def materialize(prev: Int, w: Int): String = {
    val dir = cacheDir(prev, w)
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committed = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"))
    if (committed) return dir
    // two concurrent readers of the same root may both decide to build
    // (reads are not single-writer-gated): a JVM-level lock serializes
    // same-process builders, and build-to-temp + atomic rename makes the
    // cross-process race harmless — the loser's bytes are bit-identical
    // (immutable manifests), and it just discards its build
    SnapshotCdfStream.buildLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      if (!committed) {
        val diff =
          if (prev == 0)
            Snapshots.read(spark, root, Some(w))
              .select(lit("insert").as("change") +:
                cdfSchema.fieldNames.filter(n => n != "change" && n != "_commit_version")
                  .map(col).toSeq: _*)
          else Snapshots.changes(spark, root, prev, w, keyCols, preImages)
        val shaped = diff.withColumn("_commit_version", lit(w))
          .select(cdfSchema.fieldNames.map(col).toIndexedSeq: _*)
        val tmp = new org.apache.hadoop.fs.Path(
          s"$dir.build-${java.util.UUID.randomUUID()}")
        // same isolated write conf as publishes: stats-friendly micros
        org.apache.spark.sql.graftbridge.SessionBridge.withIsolatedConf(shaped,
          Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) {
          _.write.mode("overwrite").parquet(tmp.toString)
        }
        // a dir without _SUCCESS is a crashed pre-rename-era build — clear it
        if (fs.exists(target) && !committed) fs.delete(target, true)
        if (fs.exists(target) || !fs.rename(tmp, target))
          fs.delete(tmp, true) // lost the cross-process race; winner's output is identical
      }
    }
    dir
  }

  private[graft] def plannedSized(start: Offset, end: Offset): Seq[(String, Long)] = {
    val walk = walkOf(start, end)
    if (walk.isEmpty) return Nil
    var prev = startVersion(start)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long)]
    walk.foreach { w =>
      val dir = materialize(prev, w)
      out ++= fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1)
      prev = w
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ParquetReadBridge.readerFactory(spark, cdfSchema, required, Nil)
}

private[sources] object SnapshotCdfStream {
  /** One lock per cache dir: same-JVM concurrent CDF readers serialize
    * their builds instead of overwriting each other's part files mid-read.
    */
  private[sources] val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
