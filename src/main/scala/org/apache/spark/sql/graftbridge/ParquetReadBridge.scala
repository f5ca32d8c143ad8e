package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{HasPartitionKey, InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's DataSource-V2 parquet read machinery for custom
  * connectors (the snapshot source, `graft.sources.SnapshotSource`): a
  * file-list-driven scan gets the SAME vectorized/codegen parquet
  * readers as `spark.read.parquet`, instead of a hand-rolled row reader.
  * Lives in the `org.apache.spark.sql` namespace because the factory and
  * its file-partition helpers are `private[sql]` — this is the supported
  * extension seam for connectors built on the file-source engine.
  */
object ParquetReadBridge {

  /** A serializable reader factory decoding the given `schema` from
    * parquet files. Files missing a column (snapshot schema evolution)
    * null-fill it, exactly like `spark.read.schema(s).parquet`.
    * `filters` reach the parquet row-group/page index evaluators —
    * advisory skipping; rows still re-filter above the scan.
    */
  def readerFactory(spark: SparkSession, dataSchema: StructType,
      readSchema: StructType, filters: Seq[Filter] = Nil,
      partitionSchema: StructType = new StructType()): PartitionReaderFactory = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    // the conf hand-off ParquetScan.createReaderFactory performs before
    // broadcasting: the record readers resolve their ReadSupport, the
    // requested schema and the schema-converter flags from the TASK-side
    // hadoop conf, not from the factory's constructor arguments
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readSchema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      conf.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readSchema, hadoopConf)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      conf.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      conf.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      conf.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    ParquetPartitionReaderFactory(
      conf, bc,
      dataSchema = dataSchema, readDataSchema = readSchema,
      partitionSchema = partitionSchema,
      filters = filters.toArray, aggregation = None,
      options = new ParquetOptions(Map.empty[String, String], conf))
  }

  /** One scan file at its caller-known byte length — the snapshot
    * source feeds manifest `#bytes=` metadata here, so planning a
    * 10⁶-file table costs no per-file NameNode RPC (qualifying the path
    * is client-side string work). `meta` holds per-file constant
    * "partition" values — the vehicle for CONSTANT METADATA COLUMNS
    * (`_file`, `_version`): the parquet factory appends them to the
    * file's rows exactly like hive-partition columns. Modification time
    * is reported as 0; this source exposes no
    * `_metadata.file_modification_time` column, so nothing reads it.
    */
  private def partitionedFile(hconf: org.apache.hadoop.conf.Configuration,
      file: (String, Long, InternalRow)): PartitionedFile = {
    val (p, len, meta) = file
    val hp = new Path(p)
    PartitionedFile(meta, SparkPath.fromPath(hp.getFileSystem(hconf).makeQualified(hp)),
      0L, len, Array.empty, 0L, len, Map.empty)
  }

  /** Bin-pack sized files into scan partitions using Spark's own sizing
    * (`maxPartitionBytes` / `openCostInBytes`), so a thousand small
    * snapshot files coalesce and a handful of large ones spread — the
    * same task shape the built-in parquet source would plan. The
    * caller's `partitionSchema` on [[readerFactory]] names the files'
    * constant metadata values.
    */
  def filePartitions(spark: SparkSession,
      files: Seq[(String, Long, InternalRow)]): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    val hconf = spark.sessionState.newHadoopConf()
    val pfs = files.map(partitionedFile(hconf, _))
    val maxSplit = FilePartition.maxSplitBytes(spark, pfs.map(_.length).sum)
    FilePartition.getFilePartitions(spark, pfs, maxSplit).toArray
  }

  /** [[filePartitions]] with a per-group integer TAG carried on every
    * resulting partition: the dv-aware scan groups files by first-seen
    * sequence and tags partitions with the group, so the reader applies
    * exactly the delete vectors committed at-or-after that group's
    * sequence. Packing never crosses groups (a packed partition must
    * have ONE applicable dv set).
    */
  def taggedFilePartitions(spark: SparkSession,
      groups: Seq[(Int, Seq[(String, Long, InternalRow)])])
      : Array[InputPartition] = {
    val hconf = spark.sessionState.newHadoopConf()
    val totalBytes = groups.flatMap(_._2).map(_._2).sum
    val maxSplit = FilePartition.maxSplitBytes(spark, totalBytes)
    var idx = -1
    groups.flatMap { case (tag, files) =>
      if (files.isEmpty) Nil
      else FilePartition.getFilePartitions(spark,
          files.map(partitionedFile(hconf, _)), maxSplit)
        .map { fp => idx += 1; new TaggedFilePartition(idx, fp.files, tag) }
    }.toArray
  }

  /** KEY-GROUPED scan partitions for storage-partitioned planning: each
    * group of files shares one partition-key value (the scan proved every
    * file single-valued from manifest stats), packs with Spark's own
    * sizing, and every resulting partition carries the key via
    * [[HasPartitionKey]] — `BatchScanExec` then groups same-key
    * partitions into co-partitioned tasks and EnsureRequirements drops
    * the shuffle on joins/aggregations clustered by the key. A group with
    * ZERO files still emits one (empty) partition: runtime filtering must
    * never change the reported partition-value set, only thin it.
    */
  def keyedFilePartitions(spark: SparkSession,
      groups: Seq[(InternalRow, Seq[(String, Long, InternalRow)])])
      : Array[InputPartition] = {
    val hconf = spark.sessionState.newHadoopConf()
    val totalBytes = groups.flatMap(_._2).map(_._2).sum
    val maxSplit = FilePartition.maxSplitBytes(spark, totalBytes)
    var idx = -1
    groups.flatMap { case (key, files) =>
      val packed =
        if (files.isEmpty) Seq(Array.empty[PartitionedFile])
        else FilePartition.getFilePartitions(spark,
          files.map(partitionedFile(hconf, _)), maxSplit).map(_.files)
      packed.map { arr => idx += 1; new KeyedFilePartition(idx, arr, key) }
    }.toArray
  }

  /** [[keyedFilePartitions]] for a PROVED-SORTED clustered layout: each
    * group emits exactly ONE partition whose files keep the CALLER's
    * order (the scan's footer-envelope order). Both departures from the
    * packed form are what make a reported sort order true end-to-end:
    * Spark's `DataSourceV2ScanExecBase.outputOrdering` keeps a scan's
    * ordering claim only when no key group spans multiple partitions (a
    * grouped task concatenates same-key partitions in unspecified
    * order), and `FilePartition.getFilePartitions` bin-packs files
    * LENGTH-sorted, which would interleave the envelope order inside a
    * partition. One task per key is what key-grouped execution runs
    * anyway, so the only cost vs packing is losing the hot-key fan-out
    * option — the scan only routes here when that conf is off.
    */
  def orderedKeyedFilePartitions(spark: SparkSession,
      groups: Seq[(InternalRow, Seq[(String, Long, InternalRow)])])
      : Array[InputPartition] = {
    val hconf = spark.sessionState.newHadoopConf()
    groups.zipWithIndex.map { case ((key, files), idx) =>
      new KeyedFilePartition(idx,
        files.map(partitionedFile(hconf, _)).toArray, key)
    }.toArray
  }
}

/** A [[FilePartition]] that also carries its storage-partition key — the
  * shape `BatchScanExec` requires (`HasPartitionKey`) to serve a scan
  * whose `outputPartitioning` is key-grouped. Being a FilePartition, it
  * flows through the stock parquet reader factories unchanged.
  */
class KeyedFilePartition(index: Int, files: Array[PartitionedFile],
    key: InternalRow) extends FilePartition(index, files) with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** A [[FilePartition]] carrying an integer tag — the dv-aware scan's
  * first-seen-sequence group id, which [[DvFilteringReaderFactory]] maps
  * to the delete-vector key sets applicable to the partition's files.
  */
class TaggedFilePartition(index: Int, files: Array[PartitionedFile],
    val tag: Int) extends FilePartition(index, files)

object DvFilteringReaderFactory {
  /** The reserved tag of CLEAN partitions — files whose footer-stats
    * envelope provably excludes every applicable deleted key. Never a
    * first-seen sequence (those are version numbers ≥ 0).
    */
  val CleanTag: Int = Int.MinValue

  /** Normalize -0.0 to 0.0 in a boxed key component: the probe compares
    * with java equality (`Set.contains`), which DISTINGUISHES the two
    * zeros, while SQL equality (Snapshots.read's anti-join) treats them
    * equal — without this, a dv keyed 0.0 would leave -0.0 rows visible
    * through the DSv2 scan but delete them through Snapshots.read, two
    * answers for the same version. Applied to BOTH the key sets and the
    * probed row values. (NaN needs no care: boxed NaN.equals(NaN) is
    * true, matching Spark's SQL join semantics for NaN.)
    */
  def normalizeZero(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0 => java.lang.Double.valueOf(0.0)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }
}

/** Wraps a parquet reader factory with a MERGE-ON-READ delete-vector
  * filter: each [[TaggedFilePartition]]'s tag selects the key sets that
  * apply to its files; a row whose key tuple (no nulls — SQL equality
  * semantics, a null key never matches a delete) is in any applicable
  * set is dropped, and the AUGMENTED read schema (key columns
  * force-included for the probe) projects back to the caller's required
  * ordinals. Dirty partitions read row-based — the probe is per-row;
  * the cost is paid exactly while dvs are outstanding
  * (materializeDeletes/compact restores the vectorized path).
  *
  * Partitions tagged [[DvFilteringReaderFactory.CleanTag]] — files the
  * scan PROVED cannot contain any applicable deleted key, from manifest
  * footer stats — bypass the probe entirely and read through
  * `cleanInner`, a factory over the UNaugmented required schema: no
  * forced key columns, no per-row work. At 100 TB this is the common
  * case — a dv deletes keys clustered in a few files, and every other
  * file keeps near-plain-scan cost. Columnar reads are claimed only
  * when EVERY partition is clean (`allClean` — e.g. pruning dropped all
  * dirty files): Spark refuses a scan mixing row-based and columnar
  * partitions, so a mixed batch runs row-based throughout, with clean
  * partitions still skipping the probe and the key-column read.
  *
  * `keyFilters`: tag → Seq of (key ordinals in the augmented row, the
  * CATALYST-converted deleted-key tuples). Key sets are O(deleted keys)
  * and ship inside the serialized factory — the broadcast-sized
  * contract of the snapshot layer's dv design.
  */
class DvFilteringReaderFactory(cleanInner: PartitionReaderFactory,
    dirtyInner: PartitionReaderFactory,
    augTypes: Array[org.apache.spark.sql.types.DataType],
    outputOrdinals: Array[Int],
    // a BROADCAST, not an embedded map: the factory serializes into
    // every task, so embedded key sets would ship O(tasks × keys) over
    // the wire — the broadcast ships once per executor (torrent), which
    // is what "broadcast-sized by the dv contract" is supposed to mean
    keyFiltersBc: org.apache.spark.broadcast.Broadcast[
      Map[Int, Seq[(Array[Int], Set[Seq[Any]])]]],
    allClean: Boolean)
    extends PartitionReaderFactory {
  private def isClean(p: InputPartition): Boolean = p match {
    case t: TaggedFilePartition => t.tag == DvFilteringReaderFactory.CleanTag
    case _ => false
  }
  override def supportColumnarReads(p: InputPartition): Boolean =
    allClean && isClean(p) && cleanInner.supportColumnarReads(p)
  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    require(isClean(p), "columnar read requested for a dv-dirty partition")
    cleanInner.createColumnarReader(p)
  }
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    if (isClean(p)) return cleanInner.createReader(p)
    val preds = p match {
      case t: TaggedFilePartition => keyFiltersBc.value.getOrElse(t.tag, Nil)
      case _ => Nil
    }
    val innerR = dirtyInner.createReader(p)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      outputOrdinals.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, augTypes(i), nullable = true)))
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (innerR.next()) {
          val row = innerR.get()
          val deleted = preds.exists { case (ords, keys) =>
            var i = 0; var anyNull = false
            val k = new Array[Any](ords.length)
            while (i < ords.length && !anyNull) {
              if (row.isNullAt(ords(i))) anyNull = true
              else k(i) = DvFilteringReaderFactory.normalizeZero(
                row.get(ords(i), augTypes(ords(i))))
              i += 1
            }
            !anyNull && keys.contains(k.toSeq)
          }
          if (!deleted) { current = proj(row); return true }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = innerR.close()
    }
  }
}
