package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.charset.StandardCharsets

/** Versioned table snapshots — publish / time-travel read / diff /
  * rollback / vacuum over a plain parquet directory tree. The
  * reproducibility layer a training pipeline needs: "train on corpus
  * version 17" must mean the same bytes next month, even though the
  * corpus has moved on.
  *
  * The reference gets versioning implicitly by COPYING whole partition
  * trees per run (`TransWholeTablePartition.java:40-78` — every
  * migration is a new full tree); this is that idea with O(changed
  * files) storage instead of O(table) per version, expressed as the
  * standard log-of-manifests design (Iceberg/Delta's core, rebuilt here
  * from scratch on plain Hadoop FS + parquet):
  *
  *   - each publish writes data files into a fresh `data/<uuid>/` dir —
  *     existing files are IMMUTABLE, never rewritten or renamed;
  *   - a manifest `_snapshots/v<N>` records the version's SCHEMA (a
  *     `#schema=` header line, Spark DataType JSON) followed by every
  *     data file (relative path) visible in that version, one per line;
  *     append-mode manifests start from the previous version's list, so
  *     unchanged files are SHARED across versions, not copied;
  *   - the manifest is written to a temp name and RENAMED into place —
  *     the atomic-commit primitive of every Hadoop-compatible FS — so a
  *     version exists entirely or not at all; a crash mid-publish leaves
  *     only an invisible data dir + temp manifest, both swept by
  *     [[vacuum]] after its grace period;
  *   - readers resolve a manifest (bounded metadata: schema + file
  *     paths) and hand the file list to the parquet scan UNDER THE
  *     RECORDED SCHEMA — so schema evolution (appending columns) is
  *     first-class: files written before a column existed read back with
  *     that column null-filled, exactly like [[Migrate]]'s
  *     schema-evolution semantics, and a v1-only manifest keeps reading
  *     with v1's schema after the table evolved;
  *   - rollback is roll-FORWARD: version N+1 re-publishes version V's
  *     file list AND schema, preserving history;
  *   - vacuum deletes data files referenced by NO manifest (crashed
  *     publishes, vacuumed-away history after `expire`) — but only
  *     files older than a GRACE PERIOD, so a janitor vacuum running
  *     concurrently with a publish cannot delete the about-to-be-
  *     committed files of that publish (the Delta/Iceberg RETAIN
  *     pattern). The listing is a distributed scan and the deletes run
  *     on executors, so a million-orphan sweep never serializes through
  *     the driver.
  *
  * At 100 TB: manifests hold schema + paths, not data — a 100k-file
  * version is a few MB of text; publishes of disjoint tables never
  * conflict; within one table, last-rename-wins (single-writer per
  * table is the documented contract, same as Delta's on
  * non-atomic-rename stores).
  */
object Snapshots {

  private val SNAP_DIR = "_snapshots"
  private val TMP_SUFFIX = ".tmp"
  private val SCHEMA_HEADER = "#schema="
  private val DV_HEADER = "#dv="
  private val SEQ_HEADER = "#seq="
  private val CLUSTER_HEADER = "#cluster="
  private val SORT_HEADER = "#sort="

  /** Directory-split column name a clustered publish writes under (the
    * values become `__cluster=<v>/` subdirectories of the publish dir;
    * the DATA column itself stays in the files — see [[publish]]'s
    * `clusterBy`).
    */
  private[graft] val ClusterDirCol = "__cluster"

  /** Default vacuum grace: files younger than this are never deleted,
    * so an in-flight publish (write files, then commit manifest) cannot
    * lose its not-yet-referenced files to a concurrent janitor. Size it
    * above the longest publish you run.
    */
  val DefaultGraceMs: Long = 60L * 60 * 1000

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Int): Path =
    new Path(s"$root/$SNAP_DIR/v$v")

  /** Published versions, ascending (temp/partial manifests invisible). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new Path(s"$root/$SNAP_DIR")
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt)
      .sorted
  }

  /** [[versions]] stamp-cached by the `_snapshots` dir's mtime: ONE
    * getFileStatus replaces the directory listing. This is the
    * PLAN-TIME hot path's variant — MV routing consults version heads
    * per registered route per Aggregate per optimizer pass, and on
    * cloud storage each listing is an RPC the compile pays repeatedly
    * for the same answer. Discipline mirrors the manifest cache: a dir
    * modified within the last [[ManifestCacheRecentMs]] serves a FRESH
    * listing and is never cached (a manifest commit bumps the dir's
    * mtime — local FS and HDFS both update it on entry create/delete —
    * so a just-published root cannot serve its pre-publish listing,
    * and the coarse-mtime delete-recreate collision is excluded the
    * same way). Steady state (nothing published for the window) is one
    * stat per lookup. Execution-time reads keep the uncached
    * [[versions]] — this variant is for freshness PROBES whose answer
    * is advisory by design (plan-time routing already carries the
    * optimize-to-execute window).
    *
    * Three hardenings against stores whose DIRECTORY mtimes lie:
    *   - the stamp keys on the commit-bumped `_snapshots/_epoch` object
    *     when present ([[bumpEpoch]] — length strictly grows per bump),
    *     removing the dir-mtime assumption entirely for any table
    *     committed by an epoch-writing engine;
    *   - absent an epoch, a dir reporting mtime <= 0 (object stores'
    *     synthetic "fake directory" entries commonly do) NEVER caches —
    *     every lookup lists fresh, so a constant stamp can never serve
    *     a stale head;
    *   - the manifest COMMIT path itself drops this cache's entry for
    *     the root it just advanced ([[invalidateVersionsCache]]), so
    *     within one driver the stamp is only a CROSS-PROCESS fallback,
    *     not the freshness mechanism.
    */
  private val versionsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Int])]()

  /** Publish-side invalidation: every manifest create/delete calls this
    * with its root, so the same driver's next freshness probe re-lists
    * regardless of whether the store's dir mtime moved.
    */
  private def invalidateVersionsCache(root: String): Unit =
    versionsCache.remove(new Path(s"$root/$SNAP_DIR").toString)

  /** Test hook: the raw plan-time versions cache, so a spec can
    * simulate a SECOND driver (one that cached a pre-publish stamp and
    * was not reached by the in-process invalidation) by re-inserting a
    * captured entry. Never touch outside tests.
    */
  private[graft] def versionsCacheForTest
      : java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Int])] =
    versionsCache

  private val EpochFile = "_epoch"

  /** Cross-process freshness EPOCH: `_snapshots/_epoch` is rewritten
    * AFTER every manifest create/promote/expire with a payload whose
    * LENGTH strictly grows per bump, so [[versionsCached]] keys its
    * stamp on this file's (length, mtime) stat instead of the directory
    * mtime — a store with synthetic (zero OR constant-nonzero)
    * directory mtimes stops being a staleness channel for a second
    * driver, because the length moves even where the store's stamps do
    * not. Written tmp + delete + rename, best-effort: a store refusing
    * the write (or a probe landing in the sub-millisecond rename gap)
    * falls back to the dir-mtime discipline below, which the in-process
    * invalidation already backstops for the committing driver. Bumped
    * AFTER the manifest lands, so a probe can never cache the OLD
    * listing under the NEW stamp; the crash window between the two
    * leaves a foreign driver's cached stamp valid until the next
    * successful commit — acceptable for a PLAN-TIME advisory probe
    * (execution-time reads use the uncached [[versions]]).
    */
  private def bumpEpoch(f: FileSystem, root: String): Unit = try {
    val p = new Path(s"$root/$SNAP_DIR/$EpochFile")
    val n = try {
      val in = f.open(p)
      try new java.io.BufferedReader(new java.io.InputStreamReader(
        in, StandardCharsets.UTF_8)).readLine().trim
        .split("\\s+").head.toLong + 1
      finally in.close()
    } catch { case _: Exception => 1L }
    // strictly length-growing (bounded: the pad tops out at 64 KiB and
    // the counter keeps growing in the digits, still changing length
    // every ~10x — by then mtime granularity long since disambiguates)
    val body = s"$n ${java.util.UUID.randomUUID()}"
      .padTo(64 + math.min(n, 65536L).toInt, '.')
    val tmp = new Path(s"$root/$SNAP_DIR/.$EpochFile$TMP_SUFFIX")
    val o = f.create(tmp, true)
    try o.write(body.getBytes(StandardCharsets.UTF_8)) finally o.close()
    f.delete(p, false)
    f.rename(tmp, p)
  } catch { case scala.util.control.NonFatal(_) => () }

  private[graft] def versionsCached(spark: SparkSession, root: String): Seq[Int] = {
    val dir = new Path(s"$root/$SNAP_DIR")
    val f = fs(spark, root)
    val key = dir.toString
    def list(): Seq[Int] = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .map(_.drop(1).toInt)
      .sorted
    // EPOCH stamp preferred: one stat of the commit-bumped epoch object
    // (whose length strictly grows per bump) replaces the dir stat — no
    // store mtime assumption at all, and steady state stays ONE stat
    val epochStamp: Option[String] =
      try {
        val es = f.getFileStatus(new Path(dir, EpochFile))
        Some(s"e:${es.getLen}:${es.getModificationTime}")
      } catch { case _: java.io.IOException => None }
    epochStamp match {
      case Some(stamp) =>
        val cached = versionsCache.get(key)
        if (cached != null && cached._1 == stamp) cached._2
        else {
          val vs = try list() catch {
            case _: java.io.FileNotFoundException =>
              versionsCache.remove(key); return Seq.empty
          }
          versionsCache.put(key, (stamp, vs))
          vs
        }
      case None =>
        val st = try Some(f.getFileStatus(dir)) catch {
          case _: java.io.FileNotFoundException => None
        }
        st match {
          case None => versionsCache.remove(key); Seq.empty
          case Some(s) =>
            val dirStamp = s"d:${s.getModificationTime}"
            val cached = versionsCache.get(key)
            if (cached != null && s.getModificationTime > 0 &&
                cached._1 == dirStamp) cached._2
            else {
              val vs = list()
              val recent = s.getModificationTime >
                System.currentTimeMillis() - ManifestCacheRecentMs
              // mtime <= 0 = the store doesn't maintain dir stamps —
              // never cache on it (a constant stamp would be served
              // forever)
              if (!recent && s.getModificationTime > 0)
                versionsCache.put(key, (dirStamp, vs))
              else versionsCache.remove(key)
              vs
            }
        }
    }
  }

  /** [[lastBatchId]] over the stamp-cached listing — with the manifest
    * cache underneath, a steady-state freshness probe costs two stats
    * (dir + newest manifest) and zero reads.
    */
  private[graft] def lastBatchIdCached(spark: SparkSession, root: String): Option[Long] =
    versionsCached(spark, root).reverseIterator
      .flatMap(v => manifestLines(spark, root, v)
        .find(_.startsWith(BATCH_HEADER)).map(_.drop(BATCH_HEADER.length).toLong))
      .nextOption()

  /** One cached manifest: its lines plus lazily-parsed derived views, so
    * repeated planning steps (file list, stats pruning, row/byte counts)
    * neither re-read NOR re-parse. Immutable once built — the cache key
    * carries the on-disk (length, mtime) stamp.
    */
  private final class Manifest(val lines: List[String]) {
    val weight: Long = lines.iterator.map(_.length.toLong + 16).sum
    lazy val stats: Map[String, Map[String, SnapshotStats.ColStats]] =
      SnapshotStats.parse(lines)
    lazy val rows: Map[String, Long] = SnapshotStats.parseRows(lines)
    lazy val bytes: Map[String, Long] = SnapshotStats.parseBytes(lines)
    /** How these lines fall short of the current on-disk format, if
      * they do: every reader below assumes a schema header, per-file
      * `#seq=`/`#rows=`/`#bytes=` lines and versioned `#dv=` lines.
      */
    lazy val outdated: Option[String] = {
      val listed = lines.filterNot(_.startsWith("#"))
      lazy val seq = lines.filter(_.startsWith(SEQ_HEADER)).map(statsLineFile).toSet
      if (!lines.exists(_.startsWith(SCHEMA_HEADER))) Some("no #schema= header")
      else if (!listed.forall(seq)) Some("a file without a #seq= line")
      else if (!listed.forall(rows.contains)) Some("a file without a #rows= line")
      else if (!listed.forall(bytes.contains)) Some("a file without a #bytes= line")
      else if (lines.exists(l => l.startsWith(DV_HEADER) && l.split("\t", -1).length < 3))
        Some("an unversioned #dv= line")
      else None
    }
  }

  /** The one refusal for on-disk state older than the current format:
    * names what is outdated and the call that brings it current.
    */
  private[graft] def outdatedFormat(what: String, why: String, fix: String): Nothing =
    throw new IllegalStateException(
      s"$what predates the current on-disk format ($why) — $fix")

  /** [[manifest]] for readers that rely on the current format: an older
    * manifest fails through [[outdatedFormat]], naming [[upgrade]].
    */
  private def current(spark: SparkSession, root: String, version: Int): Manifest = {
    val m = manifest(spark, root, version)
    m.outdated.foreach(why => outdatedFormat(s"snapshot v$version under $root", why,
      s"run Snapshots.upgrade(spark, \"$root\") to commit a current-format head " +
        "(older versions stay unreadable until expired)"))
    m
  }

  /** Committed manifests are immutable (atomic-rename commit, never
    * rewritten), so their parse is cacheable across queries — at 10⁶
    * files a manifest is ~100 MB of driver text, and planning touches it
    * several times per query (prune, stats, partition sizing). The cache
    * validates against the file's (length, mtime) stamp with ONE
    * getFileStatus. Two safety properties:
    *
    *   - BYTE-weighted LRU (not entry-counted): big-table manifests are
    *     the point of the cache, so the bound must track what they
    *     actually pin on the driver heap; eviction drops the coldest
    *     entries, never the whole cache.
    *   - VERY RECENT manifests (mtime within 10 s of now) are served
    *     fresh-read and not cached: a delete-and-recreate of the same
    *     root inside one coarse-mtime tick could otherwise stamp-collide
    *     (same path, length, mtime) and serve the dead incarnation's
    *     lines. Correctness never depends on retention.
    *     CLOCK-SKEW ASSUMPTION: "recent" compares the STORE's mtime
    *     against the DRIVER's clock, so the guard holds only while
    *     driver-vs-store skew stays under the window minus the store's
    *     mtime granularity (10 s − 1 s here). That is well inside NTP
    *     discipline; a deployment with a free-running store clock must
    *     widen [[ManifestCacheRecentMs]] to its skew bound. Same-clock
    *     rewrites (tests, local FS) are exact. This sits on top of the
    *     single-writer contract: concurrent publishes to one root are
    *     already outside the table's guarantees — the guard exists for
    *     the DELETE-then-recreate shape, which single-writer permits.
    */
  private val ManifestCacheRecentMs = 10000L
  private val ManifestCacheBudget: Long = 64L << 20 // chars of line text
  private val manifestCache =
    new java.util.LinkedHashMap[(String, Long, Long), Manifest](64, 0.75f, true)
  private var manifestCacheWeight: Long = 0L

  private def manifest(spark: SparkSession, root: String, version: Int): Manifest = {
    val f = fs(spark, root)
    val p = manifestPath(root, version)
    val st =
      try f.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        throw new IllegalArgumentException(
          s"requirement failed: snapshot v$version does not exist under $root")
      }
    val key = (p.toString, st.getLen, st.getModificationTime)
    manifestCache.synchronized {
      val cached = manifestCache.get(key)
      if (cached != null) return cached
    }
    val in = f.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    val m = new Manifest(lines)
    val recent =
      st.getModificationTime > System.currentTimeMillis() - ManifestCacheRecentMs
    if (!recent && m.weight <= ManifestCacheBudget) manifestCache.synchronized {
      if (!manifestCache.containsKey(key)) {
        manifestCache.put(key, m)
        manifestCacheWeight += m.weight
        val it = manifestCache.entrySet().iterator()
        while (manifestCacheWeight > ManifestCacheBudget && it.hasNext) {
          manifestCacheWeight -= it.next().getValue.weight
          it.remove()
        }
      }
    }
    m
  }

  private def manifestLines(spark: SparkSession, root: String, version: Int): List[String] =
    manifest(spark, root, version).lines

  /** The file list (relative paths) a version resolves to. */
  def files(spark: SparkSession, root: String, version: Int): Seq[String] =
    manifestLines(spark, root, version).filterNot(_.startsWith("#"))

  /** A version's raw per-file header lines — column stats, row counts
    * (see [[SnapshotStats]]) AND first-seen sequence numbers; they travel
    * with their files across appends, rollbacks and partial rewrites.
    */
  private def statsLinesOf(spark: SparkSession, root: String, version: Int): Seq[String] =
    manifestLines(spark, root, version)
      .filter(l => l.startsWith("#stats=") || l.startsWith("#rows=")
        || l.startsWith("#bytes=") || l.startsWith(SEQ_HEADER))

  private def statsLineFile(l: String): String =
    l.stripPrefix("#stats=").stripPrefix("#rows=").stripPrefix("#bytes=")
      .stripPrefix(SEQ_HEADER).takeWhile(_ != '\t')

  /** The column a version's files are KEY-CLUSTERED under, if any: every
    * listed data file holds exactly one value of this column (a clustered
    * [[publish]] wrote one file set per value). This is the layout
    * guarantee behind storage-partitioned planning — the DSv2 scan
    * reports key-grouped partitioning over it, so joins and aggregations
    * on the cluster column run with ZERO shuffle on this side. The
    * header is per-VERSION: any publish that cannot guarantee the layout
    * (a plain append, a compaction that re-mixes values) simply does not
    * record it, and planning falls back to ordinary shuffles.
    */
  def clusterOf(spark: SparkSession, root: String, version: Int): Option[String] =
    manifestLines(spark, root, version).find(_.startsWith(CLUSTER_HEADER))
      .map(_.drop(CLUSTER_HEADER.length)).filter(_.nonEmpty)

  /** A cluster spec's column list — the spec string is one or more
    * comma-separated column names (`"day"`, `"tenant,day"`): a COMPOSITE
    * key clusters one file set per value TUPLE, and joins/aggregations
    * on all of its columns plan storage-partitioned.
    */
  def clusterCols(spec: String): Seq[String] =
    spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The columns a version's files are SORTED by WITHIN each cluster
    * group, if any: a sorted clustered [[publish]] wrote every data file
    * internally ascending by these columns (after its cluster-key
    * prefix), recorded as a `#sort=` manifest header. The header attests
    * the INTRA-file order — the scan proves the INTER-file order per
    * group from footer-stat envelopes (strictly disjoint ranges on the
    * leading sort column) and only then reports output ordering, so
    * windows and sort-merge joins over `(clusterKeys..., sortCols...)`
    * drop their local sorts on top of the dropped shuffles. Like
    * `#cluster=`, the header is per-VERSION: any commit whose rewrite
    * cannot guarantee file-internal order simply does not record it.
    */
  def sortOf(spark: SparkSession, root: String, version: Int): Option[String] =
    manifestLines(spark, root, version).find(_.startsWith(SORT_HEADER))
      .map(_.drop(SORT_HEADER.length)).filter(_.nonEmpty)

  private def sortHeaderOf(spark: SparkSession, root: String,
      version: Int): Seq[String] =
    sortOf(spark, root, version).map(s => s"$SORT_HEADER$s").toSeq

  /** Parse a `bucket(n, col)` cluster spec — HASH-BUCKET clustering for
    * HIGH-CARDINALITY keys, where one file set per raw value is
    * impossible (an identity-clustered publish on a 10⁹-key column
    * would write 10⁹ files). A bucketed publish routes each row to
    * `pmod(hash(col), n)` — Spark's own Murmur3(seed 42), the same
    * function [[graft.sources.GraftBucketFunction]] exposes to Catalyst
    * — and the scan reports key-grouped partitioning over the BUCKET
    * TRANSFORM, so joins and aggregations on the raw key still plan
    * exchange-free (Spark's clustered-distribution check collects the
    * transform's leaf attributes). Returns (numBuckets, column).
    */
  private[graft] def bucketSpec(spec: String): Option[(Int, String)] = {
    val re = "(?i)^\\s*bucket\\s*\\(\\s*(\\d+)\\s*,\\s*([^(),]+?)\\s*\\)\\s*$".r
    spec match {
      case re(n, c) => Some((n.toInt, c))
      case _ => None
    }
  }

  /** Parse a `days(col)` / `months(col)` / `years(col)` / `hours(col)`
    * cluster spec — TIME-TRANSFORM clustering, the dominant 100 TB
    * layout: event data keyed by a timestamp clusters one file set per
    * calendar unit (bounded groups per retention window, unlike identity
    * clustering on a microsecond-cardinality column), and the scan
    * reports key-grouped partitioning over the TRANSFORM, so equi-joins
    * whose keys include the raw column still plan exchange-free (equal
    * timestamps imply equal days — the transform is a coarsening of the
    * join key, exactly the Iceberg partition-transform SPJ shape).
    *
    * Unit semantics are the Iceberg/Spark partition-transform epochs, in
    * the session's UTC zone: `years` = year − 1970, `months` =
    * (year − 1970)·12 + month − 1, `days` = epoch days, `hours` =
    * floorDiv(micros, 3600·10⁶). All INT-valued; null input → null key.
    * Returns (unit, column).
    */
  private[graft] def timeSpec(spec: String): Option[(String, String)] = {
    val re = "(?i)^\\s*(years|months|days|hours)\\s*\\(\\s*([^(),]+?)\\s*\\)\\s*$".r
    spec match {
      case re(u, c) => Some((u.toLowerCase(java.util.Locale.ROOT), c))
      case _ => None
    }
  }

  /** A time transform of an epoch-days value (UTC calendar). */
  private[graft] def timeOfEpochDay(unit: String, epochDay: Long): Int = {
    val ld = java.time.LocalDate.ofEpochDay(epochDay)
    unit match {
      case "years" => ld.getYear - 1970
      case "months" => (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
      case "days" => epochDay.toInt
      case other => sys.error(s"time unit '$other' undefined on dates")
    }
  }

  /** A time transform of an epoch-micros value (UTC calendar). */
  private[graft] def timeOfMicros(unit: String, micros: Long): Int =
    unit match {
      case "hours" => Math.floorDiv(micros, 3600L * 1000000L).toInt
      case _ => timeOfEpochDay(unit, Math.floorDiv(micros, 86400L * 1000000L))
    }

  /** The time transform as a Column — the WRITE path's routing
    * expression. Calendar functions evaluate in the session zone (pinned
    * UTC engine-wide), so `days` is exactly floorDiv(micros, 86400·10⁶)
    * and `hours` floorDiv(micros, 3600·10⁶) — the same values
    * [[timeOfDecoded]] and the catalog's V2 time functions compute.
    */
  private[graft] def timeTransformCol(unit: String,
      c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{datediff, hour, lit, month, to_date, year}
    val epoch = to_date(lit("1970-01-01"))
    unit match {
      case "years" => year(c) - lit(1970)
      case "months" => (year(c) - lit(1970)) * lit(12) + month(c) - lit(1)
      case "days" => datediff(c.cast("date"), epoch)
      case "hours" => datediff(c.cast("date"), epoch) * lit(24) + hour(c)
      case other => sys.error(s"unknown time transform unit '$other'")
    }
  }

  /** The time transform of a DECODED footer-stats value (the scan-side
    * twin of the write path's routing expression — see [[writeData]]).
    * Monotonic in its input, which is what lets footer min/max PROVE a
    * file single-valued for the transform: same unit at both envelope
    * ends ⇒ same unit for every row between them.
    */
  private[graft] def timeOfDecoded(unit: String, v: Any): Int = v match {
    case d: java.sql.Date => timeOfEpochDay(unit, d.toLocalDate.toEpochDay)
    case t: java.sql.Timestamp =>
      // floor-seconds via floorDiv (truncation would misplace pre-1970
      // values); getNanos is the non-negative sub-second part
      timeOfMicros(unit,
        Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case other => sys.error(s"time transform on unsupported value ${other.getClass}")
  }

  /** The raw data columns a cluster spec keys on — the bucket and time
    * forms key on their single transformed column; the identity form on
    * every listed one.
    */
  private[graft] def clusterKeyCols(spec: String): Seq[String] =
    bucketSpec(spec).map { case (_, c) => Seq(c) }
      .orElse(timeSpec(spec).map { case (_, c) => Seq(c) })
      .getOrElse(clusterCols(spec))

  /** Does `columns` still carry every column of the cluster spec? The
    * carry condition for mutation paths re-clustering their rewrites.
    */
  private[graft] def clusterApplies(spec: String, columns: Seq[String]): Boolean = {
    val cs = clusterKeyCols(spec)
    // match the session's column RESOLVER (spark.sql.caseSensitive,
    // default false): a streaming partitionBy("EventDate") over a frame
    // column `eventdate` resolves downstream, so the carry test must not
    // silently drop the layout on a case difference
    val sensitive = org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    def norm(c: String) = if (sensitive) c else c.toLowerCase(java.util.Locale.ROOT)
    val have = columns.map(norm).toSet
    cs.nonEmpty && cs.forall(c => have.contains(norm(c)))
  }

  /** The base version's cluster header, as manifest lines for a
    * follow-on commit that PRESERVES the layout (same file list, or
    * replacement files proven/constructed single-valued).
    */
  private def clusterHeaderOf(spark: SparkSession, root: String,
      version: Int): Seq[String] =
    clusterOf(spark, root, version).map(c => s"$CLUSTER_HEADER$c").toSeq

  /** Does every file in `listed` prove single-valued for EVERY column of
    * the cluster spec under the given stats lines? The condition for a
    * rewrite commit to carry the base's `#cluster=` header when the
    * replacement files were written outside the clustered write path
    * (the DSv2 row-level operation's executor writes).
    */
  private def provenClustered(spec: String, listed: Seq[String],
      statsLines: Seq[String]): Boolean = {
    // a bucket layout is attested by the write path's dir routing, not
    // by footer stats — files written outside it can never re-prove it
    if (bucketSpec(spec).isDefined) return false
    val stats = SnapshotStats.parse(statsLines)
    // a TIME layout, unlike a bucket, IS re-provable from footer stats:
    // the transform is monotonic, so transform(min) == transform(max)
    // with zero nulls proves every row in between shares the unit
    timeSpec(spec) match {
      case Some((unit, c)) =>
        return listed.forall(fl => stats.get(fl).flatMap(_.get(c)).exists(cs =>
          cs.tag == "allnull" || (cs.nulls == 0 &&
            scala.util.Try(timeOfDecoded(unit, SnapshotStats.decode(cs.tag, cs.min)) ==
              timeOfDecoded(unit, SnapshotStats.decode(cs.tag, cs.max))).getOrElse(false))))
      case None =>
    }
    val cols = clusterCols(spec)
    cols.nonEmpty && listed.forall(fl => cols.forall(c =>
      stats.get(fl).flatMap(_.get(c)).exists(cs =>
        cs.tag == "allnull" || (cs.nulls == 0 && cs.min == cs.max))))
  }

  /** A version's raw `#dv=` header lines — outstanding merge-on-read
    * delete vectors (see [[deleteByKey]]); they travel across
    * append-publishes and rollbacks until materialized.
    */
  private def dvLinesOf(spark: SparkSession, root: String, version: Int): Seq[String] =
    manifestLines(spark, root, version).filter(_.startsWith(DV_HEADER))

  /** An outstanding delete vector: its key file, the key columns it
    * deletes on, and the version that COMMITTED it (its sequence
    * number — a dv applies only to data files that already existed
    * when it was committed).
    */
  private final case class Dv(file: String, keyCols: Seq[String], version: Int)

  /** Per-file first-seen versions and resolved delete vectors of a
    * version, read from the version's OWN manifest: every listed data
    * file carries a persisted `#seq=` line (written by [[commit]] at
    * first listing, carried verbatim ever after) and every `#dv=` line
    * embeds the version that committed it. First-seen is the sequence
    * number that makes re-inserting a deleted key correct: a dv
    * committed at D applies to a data file f iff firstSeen(f) <= D, so
    * rows appended AFTER the delete are never retro-deleted.
    *
    * Persisted — NOT derived by walking the manifest log — because
    * [[expire]] deletes old manifests: a walk over survivors would
    * collapse every first-seen onto the oldest surviving version and
    * retro-apply dvs to post-dv files (silently dropping re-inserted
    * rows).
    */
  private def history(spark: SparkSession, root: String,
      version: Int): (Map[String, Int], Seq[Dv]) = {
    val lines = current(spark, root, version).lines
    val firstSeen: Map[String, Int] = lines.collect {
      case l if l.startsWith(SEQ_HEADER) =>
        val (p, v) = l.drop(SEQ_HEADER.length).span(_ != '\t')
        p -> v.drop(1).toInt
    }.toMap
    val dvs = lines.collect {
      case l if l.startsWith(DV_HEADER) =>
        val parts = l.drop(DV_HEADER.length).split("\t", -1)
        Dv(parts(0), parts(1).split(",").toSeq, parts(2).toInt)
    }
    (firstSeen, dvs)
  }

  /** Whether a version carries outstanding merge-on-read delete vectors
    * (readers that cannot anti-join, e.g. the streaming source, refuse
    * such versions rather than resurrect deleted rows).
    */
  def hasDeleteVectors(spark: SparkSession, root: String, version: Int): Boolean =
    dvLinesOf(spark, root, version).nonEmpty

  /** Parquet footer record count of one file — metadata-only (no column
    * bytes read), schema-free. The bound-check primitive for dv key
    * files, whose groups can carry different key columns/types.
    */
  private def parquetRecordCount(spark: SparkSession, p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, spark.sparkContext.hadoopConfiguration)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rdr.getRecordCount finally rdr.close()
  }

  /** Outstanding dv key-row totals per (root, version, dv-set identity) —
    * a committed version's dv set is immutable, so the sum never changes
    * FOR THAT SET; but roots are routinely deleted and re-created at the
    * same path (test fixtures, idempotent-rerun wipes), and a re-created
    * table reaching the same version number must never reuse the old
    * count, so the key carries a digest of the dv file list (each entry
    * names an immutable `data/<uuid>/…` key file — a different set can
    * never collide). Bounded LRU so a long-lived session touching many
    * roots stays O(1) memory.
    */
  private val dvOutstandingCache: java.util.Map[(String, Int, String), java.lang.Long] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Int, String), java.lang.Long](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Int, String), java.lang.Long]): Boolean =
          size() > 256
      })

  /** The merge-on-read READ plan of a dv-carrying version, for external
    * dv-aware readers (the DSv2 batch scan): per-file first-seen sequence
    * numbers, plus each outstanding dv group's key columns, committing
    * version, and DISTINCT key rows (driver-collected — O(deleted keys),
    * broadcast-sized by the dv contract; see [[dvApplied]] for the
    * distributed anti-join form these rows replicate). A dv applies to
    * data file f iff firstSeen(f) <= dv.version — rows appended after
    * the delete are never retro-deleted. `keySchema` reads the key files
    * under the TABLE's (possibly widened) column types, so a key written
    * before a type widening still matches the promoted scan values.
    */
  private[graft] def dvReadPlan(spark: SparkSession, root: String, version: Int,
      keySchema: Option[StructType] = None)
      : (Map[String, Int], Seq[(Seq[String], Int, Array[Row])]) = {
    val (firstSeen, dvs) = history(spark, root, version)
    // the "broadcast-sized" contract ENFORCED, not assumed: a
    // retraction-heavy table between compactions (the GDPR case) can
    // accumulate millions of outstanding keys, and collecting them would
    // stall or OOM the driver. The upper bound (raw key-file rows,
    // pre-distinct) comes from parquet FOOTER record counts — per file,
    // schema-free, so heterogeneous dv groups (different keyCols/types)
    // never collide under one inferred schema and the check costs
    // metadata reads, not a second pass over the key bytes the collect
    // below already pays for. A version's dv set is immutable once
    // committed, so the total caches per (root, version) — repeated scan
    // plannings of the same dv-carrying version re-check for free.
    if (dvs.nonEmpty) {
      val bound = spark.conf.get("spark.graft.dv.maxProbeKeys", "2000000").toLong
      val dvSetId = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(dvs.map(d => s"${d.file}@${d.version}").sorted.mkString("\n")
          .getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val outstanding: Long = dvOutstandingCache.computeIfAbsent(
        (root, version, dvSetId),
        _ => Long.box(dvs.map(d => parquetRecordCount(spark, new Path(root, d.file))).sum))
      require(outstanding <= bound,
        s"v$version under $root carries ~$outstanding outstanding deleted-key " +
          s"rows — beyond spark.graft.dv.maxProbeKeys=$bound, the in-reader " +
          "probe would replicate a non-broadcast-sized key set; run " +
          "materializeDeletes (targeted) or compact (full rewrite), read " +
          "through Snapshots.read (distributed anti-join), or raise the bound")
    }
    val groups = dvs.groupBy(d => (d.keyCols, d.version)).toSeq.map {
      case ((kc, ver), ds) =>
        val paths = ds.map(d => s"$root/${d.file}")
        val proj = keySchema.flatMap { s =>
          val fields = kc.map(c => s.fields.find(_.name == c))
          if (fields.exists(_.isEmpty)) None
          else Some(StructType(fields.flatten.toArray))
        }
        val rows = proj.fold(spark.read.parquet(paths: _*))(s =>
            spark.read.schema(s).parquet(paths: _*))
          .select(kc.map(col): _*).distinct().collect()
        (kc.toSeq, ver, rows)
    }
    (firstSeen, groups)
  }

  /** Fail unless `version` carries no outstanding delete vectors — the
    * guard on every path that reads data files RAW (stats-pruned reads,
    * CDC, merge, copy-on-write rewrites): silently ignoring a dv would
    * resurrect deleted rows. Callers materialize first.
    */
  private def requireMaterialized(spark: SparkSession, root: String, version: Int,
      what: String): Unit =
    require(dvLinesOf(spark, root, version).isEmpty,
      s"$what requires materialized state, but v$version under $root carries " +
        "outstanding merge-on-read delete vectors — run materializeDeletes " +
        "(targeted) or compact (full rewrite) first")

  /** The schema recorded at publish time for a version (its `#schema=`
    * header; a manifest without one is refused — see [[upgrade]]).
    */
  def schemaOf(spark: SparkSession, root: String, version: Int): StructType =
    schemaIn(current(spark, root, version).lines).get

  private def schemaIn(lines: Seq[String]): Option[StructType] =
    lines.find(_.startsWith(SCHEMA_HEADER))
      .map(l => DataType.fromJson(l.drop(SCHEMA_HEADER.length)).asInstanceOf[StructType])

  /** Union-merge for append publishes and merges: `base`'s columns keep
    * their order; columns new in `next` append. Matching names must
    * match types — snapshot evolution supports ADDING columns, not
    * retyping them (a retype would make old files unreadable under the
    * new schema, which is exactly the silent corruption this layer
    * exists to prevent). NULLABILITY is not a type: top-level and nested
    * flags (array containsNull, struct fields, map values) merge to the
    * more permissive side, because parquet round-trips and catalyst
    * analysis legitimately flip them (a compacted table re-appended from
    * the same pipeline must never refuse on a containsNull bit).
    */
  private[graft] def unionMerge(base: StructType, next: StructType): StructType = {
    import org.apache.spark.sql.graftbridge.TypeBridge.asNullable
    val baseNames = base.fieldNames.toSet
    val kept = base.fields.map { f =>
      next.fields.find(_.name == f.name) match {
        case Some(g) =>
          require(asNullable(g.dataType) == asNullable(f.dataType),
            s"snapshot schema evolution supports adding columns, not retyping: " +
              s"'${f.name}' ${f.dataType.simpleString} -> ${g.dataType.simpleString}")
          val dt = if (f.dataType == g.dataType) f.dataType else asNullable(f.dataType)
          f.copy(dataType = dt, nullable = f.nullable || g.nullable)
        case None => f.copy(nullable = true) // absent from new data: null-filled
      }
    }
    val added = next.fields.filterNot(f => baseNames(f.name)).map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** Publish `df` as the next version. `append = true` keeps the previous
    * version's files visible alongside the new ones (incremental load)
    * and union-merges the schema, so appending a frame that grew a column
    * evolves the table; `append = false` makes the new files (and
    * exactly `df`'s schema) the whole table — prior versions stay
    * readable, under THEIR recorded schemas, until `expire` + `vacuum`.
    * Returns the new version number.
    *
    * `clusterBy = Some(col)` writes a KEY-CLUSTERED layout: rows shuffle
    * once on the column and land one file set per distinct value
    * (directory-split write), so every data file is single-valued for
    * the column — recorded as a `#cluster=` manifest header. The DSv2
    * scan then reports key-grouped partitioning and joins/aggregations
    * on the column plan with no shuffle on this side (the
    * storage-partitioned join). An append preserves the header only when
    * the base version is clustered by the SAME column (anything else
    * would break the per-file guarantee and is refused for an explicit
    * clusterBy, or silently drops the header for a plain append).
    * Sized for layouts where the cluster column is a bounded-cardinality
    * routing key (day, region, tenant); a high-cardinality key belongs
    * in `compact(zorderBy)` + stats pruning instead.
    *
    * `sortBy = Some(cols)` (requires `clusterBy`) additionally sorts each
    * cluster group's rows ascending by the columns before writing, so
    * every data file is internally ordered — recorded as a `#sort=`
    * manifest header. The DSv2 scan then reports output ordering
    * `(clusterKeys..., sortCols...)` whenever each group's file
    * envelopes prove the concatenated read order (trivially for the one
    * file per group a single publish writes), and windows / sort-merge
    * joins over those columns run with ZERO exchange AND ZERO sort — the
    * full sorted-bucket shape at any scale. An append keeps the header
    * only when the base holds the same sort spec; a later append whose
    * envelopes overlap a group's existing files never breaks anything —
    * the scan just degrades to key-only ordering for that version.
    */
  def publish(spark: SparkSession, root: String, df: DataFrame,
      append: Boolean = false, extraHeader: Seq[String] = Nil,
      bloomOn: Seq[String] = Nil, clusterBy: Option[String] = None,
      sortBy: Option[String] = None, stageAs: Option[String] = None): Int = {
    val f = fs(spark, root)
    // canonical spec: trimmed, comma-joined, and NORMALIZED to the frame's
    // own column spelling under the session resolver (default
    // case-insensitive) — header equality is string equality and every
    // downstream proof (footer-stats lookups, roll-on-key writers,
    // to_json split digests) keys on the REAL column name, so a
    // case-differing clusterBy must resolve here or fail loudly, never
    // record an unprovable header
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val cluster = clusterBy.map { spec =>
      require(!df.columns.contains(ClusterDirCol),
        s"frame already has a '$ClusterDirCol' column")
      bucketSpec(spec) match {
        case Some((n, c)) =>
          // HASH-BUCKET clustering (high-cardinality keys): a bounded
          // group count regardless of key cardinality. Floats are
          // excluded (±0.0 hash ambiguity has no place in a layout key),
          // as are types footer stats cannot describe — the raw column
          // still wants stats-prunable reads
          require(n >= 2 && n <= 65536,
            s"bucket count $n out of range [2, 65536]")
          val matches = df.columns.filter(resolver(_, c))
          require(matches.nonEmpty, s"clusterBy bucket column '$c' is not in the frame")
          require(matches.length == 1,
            s"clusterBy bucket column '$c' is ambiguous in the frame: ${matches.mkString(", ")}")
          val resolved = matches.head
          import org.apache.spark.sql.types._
          val dt = df.schema(resolved).dataType
          require(Seq(ByteType, ShortType, IntegerType, LongType,
              StringType, DateType, TimestampType).contains(dt),
            s"clusterBy bucket column '$c' has type ${dt.simpleString}; " +
              "hash-bucketing needs an exactly-hashable type (integral, " +
              "string, date, timestamp)")
          s"bucket($n,$resolved)"
        case None => timeSpec(spec) match {
          case Some((unit, c)) =>
            // TIME-TRANSFORM clustering (event/time-series tables): one
            // file set per calendar unit of a date/timestamp column —
            // bounded groups over any retention window where identity
            // clustering on the raw column would write one file per
            // distinct instant
            val matches = df.columns.filter(resolver(_, c))
            require(matches.nonEmpty, s"clusterBy $unit column '$c' is not in the frame")
            require(matches.length == 1,
              s"clusterBy $unit column '$c' is ambiguous in the frame: ${matches.mkString(", ")}")
            val resolved = matches.head
            import org.apache.spark.sql.types._
            val dt = df.schema(resolved).dataType
            require(dt == DateType || dt == TimestampType,
              s"clusterBy $unit column '$c' has type ${dt.simpleString}; " +
                "time-transform clustering needs a date or timestamp column")
            require(unit != "hours" || dt == TimestampType,
              s"hours($c) needs a timestamp column; a date has no hour")
            s"$unit($resolved)"
          case None =>
          val cols = clusterCols(spec)
          require(cols.nonEmpty, "clusterBy needs at least one column")
          cols.map { c =>
            val matches = df.columns.filter(resolver(_, c))
            require(matches.nonEmpty, s"clusterBy column '$c' is not in the frame")
            require(matches.length == 1,
              s"clusterBy column '$c' is ambiguous in the frame: ${matches.mkString(", ")}")
            val resolved = matches.head
            // the whole clustered tier derives keys from parquet footer stats,
            // so the column must be a stats-provable type — a binary/decimal/
            // boolean header would claim a layout no scan could ever verify
            // (and roll-on-key writers would compare binary keys by reference)
            import org.apache.spark.sql.types._
            val dt = df.schema(resolved).dataType
            require(Seq(ByteType, ShortType, IntegerType, LongType, FloatType,
                DoubleType, StringType, DateType, TimestampType).contains(dt),
              s"clusterBy column '$c' has type ${dt.simpleString}; key-clustering " +
                "needs a footer-stats-provable type (integral, float, string, " +
                "date, timestamp)")
            resolved
          }.mkString(",")
        }
      }
    }
    // sort spec: same resolution + stats-provable-type discipline as the
    // cluster spec (the scan's inter-file order proof reads the same
    // footer envelopes), plus disjointness from the cluster key — a sort
    // column that IS a cluster column is constant per group, an ordering
    // claim with no content
    val sorted = sortBy.map { spec =>
      require(cluster.isDefined,
        "sortBy needs clusterBy: file-internal order is only provable — and " +
          "only useful — within a key-clustered group")
      require(timeSpec(cluster.get).isEmpty,
        "sortBy composes with identity or bucket clustering: a time-transform " +
          "group spans many raw instants, so the scan's constant-key ordering " +
          "claim (the premise of sort-free planning) does not hold over it")
      val cols = clusterCols(spec)
      require(cols.nonEmpty, "sortBy needs at least one column")
      // identity clustering: a sort column that IS a cluster column is
      // constant per group — an ordering claim with no content. BUCKET
      // clustering is the opposite: the raw key is NOT constant per
      // bucket, and sorting ON it is exactly the Hive/Iceberg
      // bucketed-sorted SMB shape (sort-free merge join at unbounded
      // key cardinality) — so the disjointness rule applies only to
      // identity specs
      val ccols =
        if (bucketSpec(cluster.get).isDefined) Nil else clusterCols(cluster.get)
      cols.map { c =>
        val matches = df.columns.filter(resolver(_, c))
        require(matches.nonEmpty, s"sortBy column '$c' is not in the frame")
        require(matches.length == 1,
          s"sortBy column '$c' is ambiguous in the frame: ${matches.mkString(", ")}")
        val resolved = matches.head
        require(!ccols.exists(resolver(_, resolved)),
          s"sortBy column '$c' is already a cluster column")
        import org.apache.spark.sql.types._
        val dt = df.schema(resolved).dataType
        require(Seq(ByteType, ShortType, IntegerType, LongType, FloatType,
            DoubleType, StringType, DateType, TimestampType).contains(dt),
          s"sortBy column '$c' has type ${dt.simpleString}; sorted layout " +
            "needs a footer-stats-provable type (integral, float, string, " +
            "date, timestamp)")
        resolved
      }.mkString(",")
    }
    val (dataDir, newFiles) = writeData(f, root, df, bloomOn, cluster,
      sorted.map(clusterCols).getOrElse(Nil))
    val prev = versions(spark, root)
    val base: Seq[String] =
      if (append && prev.nonEmpty) files(spark, root, prev.last) else Seq.empty
    val baseStats: Seq[String] =
      if (append && prev.nonEmpty) statsLinesOf(spark, root, prev.last) else Seq.empty
    // outstanding delete vectors survive an append (they keep deleting
    // from the files they were committed against — never from the files
    // this publish adds); a full refresh rightly drops them
    val baseDvs: Seq[String] =
      if (append && prev.nonEmpty) dvLinesOf(spark, root, prev.last) else Seq.empty
    val schema: StructType =
      if (append && prev.nonEmpty) unionMerge(schemaOf(spark, root, prev.last), df.schema)
      else df.schema
    // the cluster guarantee is per-version: a fresh clustered publish
    // claims it; a clustered APPEND only if the base already holds it for
    // the same column (else the combined file list would not be
    // single-valued — refused loudly, the caller asked for a layout this
    // publish cannot deliver)
    val clusterHeader = cluster match {
      case None => Nil
      case Some(c) if !append || prev.isEmpty => Seq(s"$CLUSTER_HEADER$c")
      case Some(c) =>
        require(clusterOf(spark, root, prev.last).contains(c),
          s"cannot append clusterBy=$c: base v${prev.last} is not clustered by '$c' — " +
            "re-publish the whole table clustered (append=false), or append unclustered")
        Seq(s"$CLUSTER_HEADER$c")
    }
    // same per-version rule as the cluster header: a fresh sorted publish
    // claims it, a sorted APPEND only onto a base sorted the same way
    // (the base's files must be internally ordered too), a plain append
    // silently drops it (the new files are unordered)
    val sortHeader = sorted match {
      case None => Nil
      case Some(s) if !append || prev.isEmpty => Seq(s"$SORT_HEADER$s")
      case Some(s) =>
        require(sortOf(spark, root, prev.last).contains(s),
          s"cannot append sortBy=$s: base v${prev.last} is not sorted by '$s' — " +
            "re-publish the whole table sorted (append=false), or append unsorted")
        Seq(s"$SORT_HEADER$s")
    }
    commit(f, root, prev.lastOption.getOrElse(0) + 1, base ++ newFiles, schema,
      clusterHeader ++ sortHeader ++ extraHeader ++ baseDvs ++ baseStats ++
        SnapshotStats.collect(spark, root, newFiles),
      target = stageAs.map(stagedManifestPath(root, _)))
  }

  private val BATCH_HEADER = "#batch="
  private val BASE_HEADER = "#base="
  private val STAGED_PREFIX = "staged-"

  private def stagedManifestPath(root: String, token: String): Path =
    new Path(s"$root/$SNAP_DIR/$STAGED_PREFIX$token")

  private def stagedLines(spark: SparkSession, root: String,
      token: String): List[String] = {
    val f = fs(spark, root)
    val p = stagedManifestPath(root, token)
    require(f.exists(p), s"no staged publish '$token' under $root")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** WRITE–AUDIT–PUBLISH, stage step: run the full [[publish]] write
    * path (same append/cluster/sort/bloom validation, same data-dir
    * layout, same stats collection) but land the manifest as an
    * INVISIBLE staged commit instead of a version — readers, history
    * and time travel see nothing. Audit the candidate with
    * [[readStaged]] (drive [[Expectations]] over it), then [[promote]]
    * it into the next version by one atomic rename, or [[abort]] to
    * reclaim its files. The staged manifest records the base version it
    * was built against (`#base=`); promote refuses if the table moved —
    * the audit's conclusions would be about a different table state.
    *
    * Staged data files are LIVE to [[vacuum]] (a pending audit can
    * outlast any grace period); the explicit reclaim is [[abort]], and
    * [[listStaged]] surfaces pending stages for ops. A base with
    * outstanding merge-on-read delete vectors refuses an APPEND stage
    * (the staged read would need the dv probe; materialize first) —
    * replacement stages don't carry dvs and stage freely. Single-writer
    * per root, like every publish surface.
    */
  def publishStaged(spark: SparkSession, root: String, df: DataFrame,
      append: Boolean = false, bloomOn: Seq[String] = Nil,
      clusterBy: Option[String] = None, sortBy: Option[String] = None): String = {
    val base = versions(spark, root).lastOption.getOrElse(0)
    require(!append || base == 0 || !hasDeleteVectors(spark, root, base),
      s"cannot stage an append onto $root: base v$base carries outstanding " +
        "delete vectors (the staged read would silently resurrect deleted " +
        "rows) — run materializeDeletes or compact first")
    val token = java.util.UUID.randomUUID().toString.take(12)
    publish(spark, root, df, append = append, bloomOn = bloomOn,
      clusterBy = clusterBy, sortBy = sortBy,
      extraHeader = Seq(s"$BASE_HEADER$base"), stageAs = Some(token))
    token
  }

  /** Pending staged tokens under a root (crash-orphaned stages included
    * — they hold files live until promoted or aborted).
    */
  def listStaged(spark: SparkSession, root: String): Seq[String] = {
    val dir = new Path(s"$root/$SNAP_DIR")
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(STAGED_PREFIX) && !n.endsWith(TMP_SUFFIX))
      .map(_.drop(STAGED_PREFIX.length)).sorted
  }

  /** Deep CLONE / export: copy ONE version's files (executor-parallel,
    * bounded-buffer — [[FileMigrate.copyList]]) to a fresh root and
    * commit them as its v1, with every line of manifest metadata the
    * files justify carried verbatim — column stats, row counts, byte
    * lengths, cluster and sort layout headers (relative paths are
    * preserved, and the bytes are identical, so the attestations hold
    * at the destination: a clone of an SPJ-ready table is SPJ-ready).
    * Sequence numbers restamp at v1 and batch/base headers drop — the
    * clone is a fresh single-version table with its own history, fully
    * independent of the source (expire/vacuum on either side cannot
    * touch the other). The backup / environment-promotion / migration
    * verb; time-travel history intentionally does NOT copy (export the
    * versions you need by cloning each).
    *
    * Refuses a version with outstanding merge-on-read delete vectors
    * (the copied files would resurrect deleted rows — materialize or
    * compact first) and a destination that already has versions.
    * Returns (files copied, bytes copied).
    */
  def cloneTo(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Int] = None, copyTags: Boolean = false): (Long, Long) = {
    val vs = versions(spark, srcRoot)
    require(vs.nonEmpty, s"no snapshots published under $srcRoot")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v does not exist under $srcRoot")
    requireMaterialized(spark, srcRoot, v, "cloneTo")
    require(versions(spark, dstRoot).isEmpty,
      s"clone destination $dstRoot already has published versions")
    val rel = files(spark, srcRoot, v)
    val copied = FileMigrate.copyList(spark, srcRoot, dstRoot, rel)
    require(copied.filesCopied == rel.size,
      s"clone copied ${copied.filesCopied} of ${rel.size} files")
    val carried = statsLinesOf(spark, srcRoot, v)
      .filterNot(_.startsWith(SEQ_HEADER)) // first-seen restamps at v1
    val f = fs(spark, dstRoot)
    commit(f, dstRoot, 1, rel, schemaOf(spark, srcRoot, v),
      clusterOf(spark, srcRoot, v).map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sortOf(spark, srcRoot, v).map(s => s"$SORT_HEADER$s").toSeq ++
        carried)
    // opt-in compliance-pin replication: tags naming the CLONED version
    // re-create on the clone pointing at its v1 (a clone exports one
    // version; a tag on any other source version has no referent here)
    if (copyTags) carryTags(spark, srcRoot, v, dstRoot, 1)
    (copied.filesCopied, copied.bytesCopied)
  }

  /** Re-create every source tag naming `srcVersion` on `dstRoot` at
    * `dstVersion` — the tag-carry step of [[cloneTo]]/[[syncTo]]'s
    * opt-in. Idempotent across re-syncs (an existing same-name tag
    * already at `dstVersion` is a no-op); a same-name tag pinning a
    * DIFFERENT destination version refuses loudly (tags are immutable
    * pointers — silently skipping a diverged pin would leave two roots
    * disagreeing about what the name means).
    */
  private def carryTags(spark: SparkSession, srcRoot: String, srcVersion: Int,
      dstRoot: String, dstVersion: Int): Unit =
    tags(spark, srcRoot).filter(_._2 == srcVersion).foreach { case (n, _) =>
      tags(spark, dstRoot).find(_._1 == n) match {
        case Some((_, dv)) =>
          require(dv == dstVersion,
            s"tag '$n' already exists on $dstRoot at v$dv — cannot carry the " +
              s"source pin to v$dstVersion; tags are immutable (untag first)")
        case None => tag(spark, dstRoot, n, Some(dstVersion))
      }
    }

  /** Incremental REPLICATION: bring a replica root up to the source's
    * head (or a pinned version) by copying ONLY the files the replica's
    * manifests don't already reference — immutable files make relative
    * paths content-stable, so presence in any replica manifest IS
    * proof of identical bytes. A first sync degenerates to [[cloneTo]];
    * a steady-state sync costs O(files added since the last one) in
    * copy work plus one manifest commit listing the source head's full
    * file set (stats/layout headers carried from the source; files the
    * replica already knew keep their replica-side first-seen sequence
    * numbers). A no-change sync commits nothing. Returns (files copied,
    * bytes copied).
    *
    * Contract: the replica is written ONLY by sync (a read-only
    * replica — the cross-region / DR shape). History replicates as the
    * sequence of sync points, not the source's full version log;
    * source expire/vacuum between syncs is invisible (sync replicates
    * head STATE). Outstanding dvs at the source version refuse, like
    * [[cloneTo]].
    */
  def syncTo(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Option[Int] = None, syncTags: Boolean = false): (Long, Long) = {
    val dstVs = versions(spark, dstRoot)
    if (dstVs.isEmpty) return cloneTo(spark, srcRoot, dstRoot, version,
      copyTags = syncTags)
    val srcVs = versions(spark, srcRoot)
    require(srcVs.nonEmpty, s"no snapshots published under $srcRoot")
    val v = version.getOrElse(srcVs.last)
    require(srcVs.contains(v), s"version $v does not exist under $srcRoot")
    requireMaterialized(spark, srcRoot, v, "syncTo")
    val want = files(spark, srcRoot, v)
    val have = dstVs.flatMap(w => files(spark, dstRoot, w)).toSet
    // "already at this state" must mean META-exact, not just file-set
    // equal: a metadata-only source commit (schema widening, a layout
    // header gained or lost) re-lists the same files, and a file-only
    // check would leave the replica serving the old schema until the
    // next data-changing sync — the replication contract is head STATE
    if (want.toSet == files(spark, dstRoot, dstVs.last).toSet &&
        schemaOf(spark, srcRoot, v) == schemaOf(spark, dstRoot, dstVs.last) &&
        clusterOf(spark, srcRoot, v) == clusterOf(spark, dstRoot, dstVs.last) &&
        sortOf(spark, srcRoot, v) == sortOf(spark, dstRoot, dstVs.last)) {
      // the replica head already HOLDS the synced state, so a pin named
      // after the sync still carries (the re-sync-after-tag workflow)
      if (syncTags) carryTags(spark, srcRoot, v, dstRoot, dstVs.last)
      return (0L, 0L) // already at this state: commit nothing
    }
    val missing = want.filterNot(have)
    val copied =
      if (missing.isEmpty) FileMigrate.Result(0L, 0L)
      else FileMigrate.copyList(spark, srcRoot, dstRoot, missing)
    require(copied.filesCopied == missing.size,
      s"sync copied ${copied.filesCopied} of ${missing.size} files")
    val wantSet = want.toSet
    // replica-side sequence continuity: files the replica already
    // references keep their first-seen version; fresh files stamp at
    // the new replica version (commit() fills them in)
    val dstSeq = statsLinesOf(spark, dstRoot, dstVs.last)
      .filter(l => l.startsWith(SEQ_HEADER) && wantSet(statsLineFile(l)))
    val carried = statsLinesOf(spark, srcRoot, v)
      .filterNot(_.startsWith(SEQ_HEADER))
    val f = fs(spark, dstRoot)
    commit(f, dstRoot, dstVs.last + 1, want, schemaOf(spark, srcRoot, v),
      clusterOf(spark, srcRoot, v).map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sortOf(spark, srcRoot, v).map(s => s"$SORT_HEADER$s").toSeq ++
        dstSeq ++ carried)
    // opt-in: tags naming the synced source version re-create on the
    // replica version that now holds that state
    if (syncTags) carryTags(spark, srcRoot, v, dstRoot, dstVs.last + 1)
    (copied.filesCopied, copied.bytesCopied)
  }

  /** Pending stages summarized for ops: (token, base version, file
    * count) per staged manifest — driver metadata only.
    */
  def stagedSummary(spark: SparkSession, root: String): Seq[(String, Int, Int)] =
    listStaged(spark, root).map { t =>
      val lines = stagedLines(spark, root, t)
      val base = lines.find(_.startsWith(BASE_HEADER))
        .map(_.drop(BASE_HEADER.length).toInt).getOrElse(-1)
      (t, base, lines.count(!_.startsWith("#")))
    }

  /** The staged candidate as a frame — the audit surface. Reads exactly
    * the staged manifest's file list under its recorded schema, like
    * [[read]] on a committed version.
    */
  def readStaged(spark: SparkSession, root: String, token: String): DataFrame = {
    val lines = stagedLines(spark, root, token)
    val schema = schemaIn(lines).getOrElse(outdatedFormat(s"staged '$token' under $root",
      "no #schema= header", "abort it and stage again"))
    readFiles(spark, root, lines.filterNot(_.startsWith("#")), schema)
  }

  /** WRITE–AUDIT–PUBLISH, publish step: promote a staged commit to the
    * next version by ONE atomic manifest rename — the staged bytes
    * become the version the audit approved, no rewrite. Refuses when
    * the table advanced past the stage's recorded base version (the
    * audit examined a combined state that no longer exists).
    */
  def promote(spark: SparkSession, root: String, token: String): Int = {
    val lines = stagedLines(spark, root, token)
    val base = lines.find(_.startsWith(BASE_HEADER))
      .map(_.drop(BASE_HEADER.length).toInt)
      .getOrElse(throw new IllegalStateException(
        s"staged '$token' records no base version — not a publishStaged artifact"))
    val cur = versions(spark, root).lastOption.getOrElse(0)
    require(cur == base,
      s"cannot promote staged '$token': staged against v$base but $root is " +
        s"now at v$cur — the audited state is stale; abort and re-stage")
    val f = fs(spark, root)
    val dest = manifestPath(root, base + 1)
    if (!f.rename(stagedManifestPath(root, token), dest))
      throw new java.io.IOException(
        s"promote of staged '$token' failed: rename to $dest " +
          "(concurrent publisher? snapshots are single-writer per table)")
    bumpEpoch(f, root)
    invalidateVersionsCache(root)
    base + 1
  }

  /** WRITE–AUDIT–PUBLISH, reject step: delete a staged commit's OWN data
    * files (those no committed version references — an append stage
    * shares its base's files, which stay) and its manifest. Returns the
    * number of data files reclaimed.
    */
  def abort(spark: SparkSession, root: String, token: String): Long = {
    val lines = stagedLines(spark, root, token)
    val staged = lines.filterNot(_.startsWith("#")).toSet
    val committed = versions(spark, root)
      .flatMap(v => files(spark, root, v)).toSet
    val f = fs(spark, root)
    var n = 0L
    (staged -- committed).foreach { rel =>
      if (f.delete(new Path(s"$root/$rel"), false)) n += 1
    }
    f.delete(stagedManifestPath(root, token), false)
    n
  }

  /** The most recent streaming batch id committed under `root` (scans
    * manifests newest-first; bounded by version count, not data).
    */
  def lastBatchId(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).reverseIterator
      .flatMap(v => manifestLines(spark, root, v)
        .find(_.startsWith(BATCH_HEADER)).map(_.drop(BATCH_HEADER.length).toLong))
      .nextOption()

  /** EXACTLY-ONCE streaming ingest: append-publish one micro-batch as a
    * new snapshot version, recording the batch id in the manifest header.
    * A replayed batch (id ≤ the last committed one — Structured
    * Streaming re-delivers the in-flight batch after a restart) is
    * SKIPPED, so `foreachBatch { (b, id) => publishStreamBatch(..., id) }`
    * upgrades the sink's at-least-once contract to exactly-once: the
    * atomic manifest rename is the transaction, and the id check is the
    * dedup — the txnVersion/txnAppId idiom, manifest-native. Readers get
    * a consistent versioned view of the growing table and `readAdded`
    * gives downstream consumers the per-batch delta. Returns the version
    * published, or None for a replay. Single-writer per root (the
    * snapshot layer's standing contract; concurrent batch writers would
    * race the id check).
    */
  def publishStreamBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long, append: Boolean = true,
      clusterBy: Option[String] = None,
      sortBy: Option[String] = None,
      extraHeader: Seq[String] = Nil): Option[Int] =
    if (lastBatchId(spark, root).exists(_ >= batchId)) None
    else Some(publish(spark, root, batch, append = append,
      extraHeader = s"$BATCH_HEADER$batchId" +: extraHeader, clusterBy = clusterBy,
      sortBy = sortBy))

  /** The newest committed value of a custom `#<name>=` manifest header —
    * operators persist small state CONTRACTS this way (e.g. the
    * incremental near-dup bucket count, whose mismatch across calls
    * would silently drop cross-batch collisions). Walks versions
    * newest-first because most maintenance commits (rewrites, rollbacks)
    * do not re-attach custom headers; cost is O(1) manifest parses in
    * steady state (the header rides every ingest version).
    */
  private[graft] def headerValue(spark: SparkSession, root: String,
      prefix: String): Option[String] =
    versions(spark, root).reverseIterator
      .flatMap(v => manifestLines(spark, root, v)
        .find(_.startsWith(prefix)).map(_.drop(prefix.length)))
      .nextOption()

  /** Write `df` into a fresh immutable `data/<uuid>/` dir; returns the
    * relative dir and its file list. An empty frame may produce zero
    * part files — legal, because the manifest's schema header lets
    * [[read]] reconstruct an empty frame without any file to sample.
    *
    * `preRouted` (clustered, UNSORTED layouts only) appends rows the
    * caller attests are ALREADY physically grouped by this layout's
    * routing — a CoW merge's survivors, read back from the base's own
    * cluster dirs — WITHOUT the routing exchange: they keep their scan
    * partitioning and stream straight into the directory-split write.
    * The per-file single-value proof is untouched because it is the
    * WRITER's construction, not the exchange's: the dynamic-partition
    * write splits every task's rows by the recomputed dir value (the
    * same deterministic expressions route both sides), so each emitted
    * file still holds exactly one dir's rows — multi-file groups are the
    * layout's normal form. Only `df` pays the rebalance; on a merge that
    * is the delta-sized side, so survivor bytes cross the cluster's
    * network zero times instead of once (the dominant cost of the CoW
    * rewrite at 100 TB). Sorted layouts refuse: their strict
    * one-task-per-group repartition is what keeps the secondary order
    * stable, and a union has no ordering to preserve it.
    */
  private def writeData(f: FileSystem, root: String, df: DataFrame,
      bloomOn: Seq[String] = Nil, clusterBy: Option[String] = None,
      sortWithin: Seq[String] = Nil,
      preRouted: Option[DataFrame] = None): (String, Seq[String]) = {
    require(preRouted.isEmpty || (clusterBy.isDefined && sortWithin.isEmpty),
      "preRouted rows need a clustered, unsorted layout — the exchange-free " +
        "path has no meaning unclustered and would scramble a sorted layout's " +
        "secondary order")
    val dataDir = s"data/${java.util.UUID.randomUUID().toString.take(12)}"
    // clustered layout: one shuffle on the key (tuple) routes every value
    // to one task, and the directory-split write (partitionBy on a hex
    // DIGEST of the key — URI-safe for any value of any type, where raw
    // values would URL-escape into %-names that string-path reads
    // re-decode; to_json(struct(...)) keeps composite keys unambiguous)
    // emits one file set per value tuple. The data columns themselves
    // stay in the files, so readers derive the key from footer stats
    // (min==max per file), never from the directory name.
    val toWrite = clusterBy match {
      case Some(spec) =>
        import org.apache.spark.sql.functions.{coalesce, col, hash, lit, md5, pmod, struct, to_json}
        def keyedOf(d: DataFrame): DataFrame = bucketSpec(spec) match {
          case Some((n, c)) =>
            // hash-bucket routing: the dir IS the bucket id, computed with
            // Spark's own hash (Murmur3 seed 42) — the same function the
            // catalog's `bucket` V2 function evaluates, so the scan's
            // reported bucket transform and these files agree by
            // construction, at any cardinality of the raw key
            d.withColumn(ClusterDirCol, pmod(hash(col(c)), lit(n)).cast("string"))
          case None => timeSpec(spec) match {
            case Some((unit, c)) =>
              // time-transform routing: the dir is the calendar unit —
              // calendar functions in the session's pinned-UTC zone,
              // EXACTLY the math [[timeOfDecoded]] applies to footer
              // stats on the scan side and the catalog's V2 time
              // functions evaluate (null instants route to their own
              // "null" dir, the transform's null key)
              d.withColumn(ClusterDirCol,
                coalesce(timeTransformCol(unit, col(c)).cast("string"), lit("null")))
            case None =>
              d.withColumn(ClusterDirCol, md5(to_json(struct(clusterCols(spec).map(col): _*))))
          }
        }
        val keyed = keyedOf(df)
        def withPreRouted(routed: DataFrame): DataFrame = preRouted match {
          // pre-routed rows LEAD the union (the merge's survivors-first
          // column order), the exchanged side coerces onto them exactly
          // as the caller's own unionByName would
          case Some(p) => keyedOf(p).unionByName(routed, allowMissingColumns = true)
          case None => routed
        }
        if (sortWithin.isEmpty)
          // REBALANCE, not a strict repartition: a strict
          // repartition(dir) funnels EVERY row of one cluster group
          // through one task — a hot calendar day of a 100 TB/year feed
          // becomes an unbounded single-task shuffle fetch plus a serial
          // parquet encode. Under AQE the rebalance hash-partitions on
          // the dir exactly like repartition would, then SPLITS any
          // group whose shuffle bytes exceed
          // spark.sql.adaptive.advisoryPartitionSizeInBytes into
          // map-chunk slices (several write tasks, several files in the
          // SAME `__cluster=` dir — multi-file groups are the layout's
          // normal form, the read side fans them out under
          // partiallyClusteredDistribution) and coalesces cold groups
          // whole (a dir never splits across tasks below the advisory
          // size, so small-scale publishes still land one file per
          // group). Layout proofs are per FILE, so fan-out never weakens
          // them: identity/time groups re-prove from each file's footer
          // stats, bucket groups carry by the routing construction.
          withPreRouted(keyed.hint("rebalance", col(ClusterDirCol)))
        else
          // sorted layout: one strict task per group, sorted by
          // (split dir, sort cols) — leading with the dir column means
          // the plan's ordering already satisfies the dynamic-partition
          // writer's required ordering, so it adds NO sort of its own
          // (whose tie-breaking would not be stable and could scramble
          // the secondary order within a dir). The de-skew rebalance
          // does NOT apply here: splitting a group at map-chunk
          // boundaries would interleave its sort ranges across files,
          // and the scan's inter-file order proof (disjoint footer
          // envelopes) is exactly what sorted layouts sell.
          keyed.repartition(col(ClusterDirCol))
            .sortWithinPartitions((ClusterDirCol +: sortWithin).map(col): _*)
      case None => df
    }
    // INT64-micros timestamps, NOT Spark's legacy INT96 default: INT96
    // columns carry no parquet footer statistics, which would blind
    // [[SnapshotStats]] file skipping on every timestamp column. Applied
    // via a cloned session so concurrent queries on the caller's session
    // never see the override (results written elsewhere must keep the
    // session default — the driver's compare is representation-sensitive).
    org.apache.spark.sql.graftbridge.SessionBridge.withIsolatedConf(toWrite,
      Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) { d =>
      // per-column parquet bloom filters for [[SnapshotBloom]] point skipping
      val w = bloomOn.foldLeft(d.write)((w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      if (clusterBy.isDefined) w.partitionBy(ClusterDirCol).parquet(s"$root/$dataDir")
      else w.parquet(s"$root/$dataDir")
    }
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    val dataPath = new Path(s"$root/$dataDir")
    val newFiles = (clusterBy match {
      case None => f.listStatus(dataPath).toSeq.filter(st => st.isFile)
        .map(_.getPath.getName).filter(visible).map(n => s"$dataDir/$n")
      case Some(_) => // one `__cluster=<v>/` subdirectory per distinct value
        // list ONLY the split dirs this write's partitionBy produced —
        // the dir-name analogue of the file branch's visible(): a
        // non-default committer's leftover `_temporary/` (or any other
        // stray subdirectory) must never commit as data
        f.listStatus(dataPath).toSeq
          .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$ClusterDirCol="))
          .flatMap(d => f.listStatus(d.getPath).toSeq
            .filter(st => st.isFile && visible(st.getPath.getName))
            .map(st => s"$dataDir/${d.getPath.getName}/${st.getPath.getName}"))
    }).sorted
    (dataDir, newFiles)
  }

  /** Roll back by rolling FORWARD: the next version re-lists exactly the
    * files — and re-records the schema — of `toVersion`. No data moves;
    * history is preserved.
    */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Int = {
    val f = fs(spark, root)
    val next = versions(spark, root).lastOption.getOrElse(0) + 1
    commit(f, root, next, files(spark, root, toVersion),
      schemaOf(spark, root, toVersion),
      clusterOf(spark, root, toVersion).map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sortHeaderOf(spark, root, toVersion) ++
        dvLinesOf(spark, root, toVersion) ++ statsLinesOf(spark, root, toVersion))
  }

  /** Commit a copy-on-write file swap produced OUTSIDE the driver write
    * path (the DSv2 row-level operation write: executors already wrote
    * `added` under `root`): next version = head's files minus `removed`
    * plus `added`, untouched stats lines carried, fresh footer stats
    * collected for the additions. `expectedVersion` pins the head the
    * caller planned against — a concurrent publish fails the commit
    * loudly instead of silently dropping its files (single-writer
    * contract, enforced where it would corrupt).
    */
  private[graft] def commitRewrite(spark: SparkSession, root: String,
      expectedVersion: Int, removed: Set[String], added: Seq[String]): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = vs.last
    require(v == expectedVersion,
      s"row-level operation planned against v$expectedVersion of $root but the " +
        s"head is now v$v — a concurrent publish raced the rewrite; retry " +
        "(snapshots are single-writer per table)")
    requireMaterialized(spark, root, v, "row-level operation")
    val rel = files(spark, root, v)
    val known = rel.toSet
    require(removed.forall(known),
      s"rewrite removes files v$v does not list: ${removed.filterNot(known).take(3).mkString(", ")}")
    val keptStats = statsLinesOf(spark, root, v).filterNot(l => removed(statsLineFile(l)))
    val allStats = keptStats ++ SnapshotStats.collect(spark, root, added)
    val listed = rel.filterNot(removed) ++ added
    // the executors wrote `added` outside the clustered write path, so a
    // clustered base carries its header only when the fresh footer stats
    // PROVE every listed file still single-valued (a narrow rewrite that
    // touched one key's file usually does; a re-mixing one drops it)
    val cluster = clusterOf(spark, root, v)
      .filter(c => provenClustered(c, listed, allStats))
    commit(fs(spark, root), root, v + 1, listed,
      schemaOf(spark, root, v),
      cluster.map(c => s"$CLUSTER_HEADER$c").toSeq ++ allStats)
  }

  /** Is `from -> to` a LOSSLESS primitive widening a reader can apply to
    * existing parquet bytes without rewriting them? Exactly the integer
    * ladder byte→short→int→long plus float→double: every old value maps
    * to the same logical value, Spark's vectorized parquet reader
    * promotes the physical type at read, and the manifest's footer-stats
    * tags are already type-FAMILY scoped ("long" for all ints, "double"
    * for both floats), so pruning, metadata aggregates and cluster
    * proofs carry over unchanged. Everything else (narrowing, int→float,
    * long→double, string↔anything) either loses values or reinterprets
    * bytes and refuses.
    */
  private[graft] def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intLadder = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    (from, to) match {
      // decimal precision growth at the SAME scale: every old value is
      // representable verbatim; the reader promotes across the physical
      // representation change (int64-backed → binary-backed) at scan
      // time. Scale changes rescale values and are refused.
      case (f: DecimalType, t: DecimalType) =>
        t.precision > f.precision && t.scale == f.scale
      case _ => (intLadder.indexOf(from), intLadder.indexOf(to)) match {
        case (f, t) if f >= 0 && t >= 0 => f < t
        case _ => from == FloatType && to == DoubleType
      }
    }
  }

  /** Metadata-only schema change (SQL `ALTER TABLE ADD/DROP COLUMNS`,
    * `ALTER COLUMN ... TYPE` widening): the next version re-lists the
    * head's files under `newSchema`. Legal exactly when no existing file
    * needs rewriting — an ADDED column reads back null-filled (the
    * by-name parquet projection), a DROPPED column is simply no longer
    * projected, and a shared column may change type ONLY along a
    * lossless [[widens]] promotion (int→long, float→double: the reader
    * promotes old bytes at scan time; files written after the evolution
    * use the new type, and one scan reads both generations). Any other
    * type change refuses: existing bytes would reinterpret. Returns the
    * new version.
    */
  def evolveSchema(spark: SparkSession, root: String, newSchema: StructType): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = vs.last
    val old = schemaOf(spark, root, v)
    newSchema.fields.foreach { nf =>
      old.fields.find(_.name == nf.name).foreach(of =>
        require(of.dataType == nf.dataType || widens(of.dataType, nf.dataType),
          s"column '${nf.name}' would change type ${of.dataType.simpleString} -> " +
            s"${nf.dataType.simpleString}; only lossless widenings " +
            "(byte->short->int->long, float->double) are metadata-safe — " +
            "rewrite via publish instead"))
      if (!old.fieldNames.contains(nf.name))
        require(nf.nullable,
          s"added column '${nf.name}' must be nullable: existing rows have no value")
    }
    commit(fs(spark, root), root, v + 1, files(spark, root, v), newSchema,
      clusterOf(spark, root, v).filter(clusterApplies(_, newSchema.fieldNames.toSeq))
        .map(c => s"$CLUSTER_HEADER$c").toSeq ++
        // file-preserving: a widening reinterprets bytes, it never reorders
        // rows, so the sorted-layout attestation survives as long as the
        // sort columns themselves survive the evolution
        sortOf(spark, root, v).filter(clusterApplies(_, newSchema.fieldNames.toSeq))
          .map(s => s"$SORT_HEADER$s").toSeq ++
        dvLinesOf(spark, root, v) ++ statsLinesOf(spark, root, v))
  }

  /** Bring a root written in an older on-disk format up to the current
    * one — the only code that knows the older shapes. The next version
    * re-lists the head's files with everything readers now assume: a
    * `#schema=` header (one footer merge when the head recorded none),
    * a `#seq=` line per file (first-seen versions from one ascending
    * walk over the surviving manifest log), `#rows=`/`#bytes=`/`#stats=`
    * lines from [[SnapshotStats.collect]] for files that lack them, and
    * the committing version on every `#dv=` line. Layout, batch and
    * custom header lines carry verbatim; no data file moves. A current
    * head is left alone. Versions below the upgraded head keep their old
    * format — time travel to them refuses until [[expire]] drops them.
    * Returns the head version.
    */
  def upgrade(spark: SparkSession, root: String): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = vs.last
    val m = manifest(spark, root, v)
    if (m.outdated.isEmpty) return v
    val fl = m.lines.filterNot(_.startsWith("#"))
    val firstSeen = scala.collection.mutable.Map.empty[String, Int]
    vs.foreach(w => manifestLines(spark, root, w).foreach { l =>
      if (!l.startsWith("#") || l.startsWith(DV_HEADER)) firstSeen.getOrElseUpdate(l, w)
    })
    val schema = schemaIn(m.lines).getOrElse {
      require(fl.nonEmpty, s"v$v under $root lists no files and records no schema")
      spark.read.option("mergeSchema", "true").parquet(fl.map(r => s"$root/$r"): _*).schema
    }
    // files missing a count or a size get all three footer-stats lines
    // afresh; every other header line carries unless rebuilt below
    val unsized = fl.filterNot(r => m.rows.contains(r) && m.bytes.contains(r))
    val recollect = unsized.toSet
    val footerLines = Seq("#stats=", "#rows=", "#bytes=")
    val sequenced = m.lines.filter(_.startsWith(SEQ_HEADER)).map(statsLineFile).toSet
    val kept = m.lines.filter(l => l.startsWith("#") && !l.startsWith(SCHEMA_HEADER) &&
      !l.startsWith(DV_HEADER) &&
      !(footerLines.exists(l.startsWith) && recollect(statsLineFile(l))))
    val dvs = m.lines.filter(_.startsWith(DV_HEADER)).map(l =>
      if (l.split("\t", -1).length >= 3) l else s"$l\t${firstSeen(l)}")
    commit(fs(spark, root), root, v + 1, fl, schema, kept ++ dvs ++
      fl.filterNot(sequenced).map(r => s"$SEQ_HEADER$r\t${firstSeen(r)}") ++
      SnapshotStats.collect(spark, root, unsized))
  }

  private def commit(f: FileSystem, root: String, v: Int, list: Seq[String],
      schema: StructType, statsLines: Seq[String] = Nil,
      target: Option[Path] = None): Int = {
    // Per-file sequence numbers, PERSISTED in the manifest: carried
    // `#seq=` lines keep their version for shared files; any listed file
    // without one is first seen HERE and stamps `v`. Persisted (not
    // log-derived) so [[expire]] can drop old manifests without
    // collapsing dv sequence semantics onto surviving versions.
    val listed = list.toSet
    val kept = statsLines.filter(l =>
      !l.startsWith(SEQ_HEADER) || listed(statsLineFile(l)))
    val haveSeq = statsLines.filter(_.startsWith(SEQ_HEADER))
      .map(statsLineFile).toSet
    val newSeq = list.filterNot(haveSeq).map(fl => s"$SEQ_HEADER$fl\t$v")
    val dest = target.getOrElse(manifestPath(root, v))
    val tmp = new Path(dest.toString + TMP_SUFFIX)
    f.mkdirs(dest.getParent)
    val header = SCHEMA_HEADER + schema.json + "\n" + (kept ++ newSeq).map(_ + "\n").mkString
    val out = f.create(tmp, true)
    try out.write((header + list.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, dest))
      throw new java.io.IOException(
        s"commit of snapshot v$v failed: rename $tmp -> $dest " +
          "(concurrent publisher? snapshots are single-writer per table)")
    // a STAGED manifest is not a version — the epoch moves on promote
    if (target.isEmpty) bumpEpoch(f, root)
    invalidateVersionsCache(root)
    v
  }

  /** Read a version (default: latest) UNDER ITS RECORDED SCHEMA. The
    * manifest's file list goes straight to the parquet source, so the
    * scan is exactly the version's files — immune to concurrent
    * publishes and leftover crash debris — and files predating a column
    * read back with it null-filled. An empty version (a published empty
    * frame) returns an empty frame with the recorded schema instead of
    * failing schema inference.
    */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    if (dvLinesOf(spark, root, v).isEmpty)
      readFiles(spark, root, files(spark, root, v), schemaOf(spark, root, v))
    else dvApplied(spark, root, v, None)
  }

  /** Read `version`'s data files with its outstanding delete vectors
    * applied — the merge-on-read path. Files group by first-seen version
    * (their sequence number); each group anti-joins the union of dv keys
    * committed AT OR AFTER that sequence, so a key re-inserted after its
    * delete stays visible. Group count is bounded by version count
    * ([[expire]] bounds the log), and each anti-join's build side is the
    * dv key files — O(deleted keys), broadcast-sized in the common case.
    */
  private def dvApplied(spark: SparkSession, root: String, v: Int,
      subset: Option[Set[String]]): DataFrame = {
    val schema = schemaOf(spark, root, v)
    val fl = files(spark, root, v).filter(f => subset.forall(_.contains(f)))
    val (firstSeen, dvs) = history(spark, root, v)
    val groups = fl.groupBy(firstSeen).toSeq.sortBy(_._1)
    groups.map { case (seq, fls) =>
      val applicable = dvs.filter(_.version >= seq)
      applicable.groupBy(_.keyCols).foldLeft(
        readFiles(spark, root, fls.sorted, schema)) {
        case (df, (kc, ds)) =>
          kc.foreach(k => require(df.columns.contains(k),
            s"delete-vector key column '$k' not in v$v schema"))
          val keys = spark.read.parquet(ds.map(d => s"$root/${d.file}"): _*)
            .select(kc.map(col): _*).distinct()
          df.join(keys, kc.toSeq, "left_anti")
      }
    }.reduceOption(_.unionByName(_))
      .getOrElse(readFiles(spark, root, Nil, schema))
  }

  private[operators] def readFiles(spark: SparkSession, root: String, rel: Seq[String],
      schema: StructType): DataFrame =
    if (rel.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(rel.map(r => s"$root/$r"): _*)

  /** Rows contained in files ADDED between `from` and `to` — the
    * incremental-consumption path ("process only what version N added",
    * e.g. train on documents new since the last run). Correct because
    * data files are immutable: a file present in `to` but not `from`
    * holds exactly rows that `from` could not see. The delta reads under
    * `to`'s schema, so a column added at `to` is present (null-filled in
    * any pre-evolution file, visible where the new data carries it) —
    * the delta never silently drops evolved columns. Returns an empty
    * frame with the `to` schema when nothing was added (a rollback or
    * pure-removal version). At 100 TB the scan covers only the delta
    * files — incremental cost is O(new data), never O(table).
    */
  def readAdded(spark: SparkSession, root: String, from: Int, to: Int): DataFrame = {
    val added = (files(spark, root, to).toSet -- files(spark, root, from).toSet).toSeq.sorted
    if (dvLinesOf(spark, root, to).nonEmpty && added.nonEmpty)
      // merge-on-read: dvs committed at or after an added file's sequence
      // still apply to it (e.g. ingest batch N, delete some of it at N+1)
      dvApplied(spark, root, to, Some(added.toSet))
    else readFiles(spark, root, added, schemaOf(spark, root, to))
  }

  /** Row-level CHANGE DATA FEED between two versions, derived purely
    * from the manifests plus a key: scan only the files `to` added and
    * the files it dropped, full-outer join them on `keyCols`, and
    * classify —
    *
    *   - key only in added files           → `insert` (new image)
    *   - key in both, non-key columns differ → `update` (new image)
    *   - key in both, row identical        → NOT a change (a rewrite:
    *     compaction/merge survivors cancel out — CDC over a pure
    *     compaction is empty)
    *   - key only in removed files         → `delete` (last image)
    *
    * Cost is O(changed files), never O(table): shared files appear in
    * neither side. Old files read under `from`'s schema aligned up to
    * `to`'s (evolution-added columns null-fill), so a row whose only
    * change is a newly-populated column classifies as `update`.
    * Contract: `keyCols` unique per version (the [[mergeByKey]]
    * precondition); rows violating it produce join fan-out, not wrong
    * classes. Returns `change` + the key + the image columns.
    */
  def changes(spark: SparkSession, root: String, from: Int, to: Int,
      keyCols: Seq[String], preImages: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "changes needs key columns to classify rows")
    requireMaterialized(spark, root, from, "changes")
    requireMaterialized(spark, root, to, "changes")
    val fFrom = files(spark, root, from).toSet
    val fTo = files(spark, root, to).toSet
    val newRows = readFiles(spark, root, (fTo -- fFrom).toSeq.sorted,
      schemaOf(spark, root, to))
    val oldRaw = readFiles(spark, root, (fFrom -- fTo).toSeq.sorted,
      schemaOf(spark, root, from))
    val cols = newRows.columns.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"key column $k not in v$to schema"))
    // align removed-file rows up to the `to` schema (null-fill evolution)
    val oldRows = oldRaw.select(cols.map(c =>
      if (oldRaw.columns.contains(c)) col(c)
      else lit(null).cast(newRows.schema(c).dataType).as(c)): _*)
    val nonKey = cols.filterNot(keyCols.contains)
    // all-key tables still need a non-empty struct to carry presence
    val packFields = if (nonKey.isEmpty) Seq(lit(1).as("__present")) else nonKey.map(col)
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+ struct(packFields: _*).as(as): _*)
    // an update is one row (new image) by default; with `preImages` it
    // splits into update_preimage (old) + update_postimage (new) — the
    // retract/apply pair incremental view maintenance needs
    val updateRows =
      if (preImages)
        array(struct(lit("update_preimage").as("change"), col("__old").as("img")),
          struct(lit("update_postimage").as("change"), col("__new").as("img")))
      else array(struct(lit("update").as("change"), col("__new").as("img")))
    packed(newRows, "__new").join(packed(oldRows, "__old"), keyCols, "full_outer")
      .withColumn("__rows",
        when(col("__old").isNull,
          array(struct(lit("insert").as("change"), col("__new").as("img"))))
          .when(col("__new").isNull,
            array(struct(lit("delete").as("change"), col("__old").as("img"))))
          // pure rewrite: no change — explode() of the null array emits
          // zero rows, so rewrites vanish without a separate filter
          .when(col("__new") <=> col("__old"), lit(null))
          .otherwise(updateRows))
      .select(keyCols.map(col) :+ explode(col("__rows")).as("__r"): _*)
      .select(col("__r.change").as("change") +: keyCols.map(col)
        ++: nonKey.map(c => col(s"__r.img.$c")): _*)
  }

  /** The table's commit history as a DataFrame — one row per surviving
    * version: commit wall clock (manifest mtime), file/row/byte totals,
    * files added/removed vs the previous surviving version, outstanding
    * delete-vector count, and a coarse operation kind inferred from the
    * file-set delta (`append` / `overwrite` / `rewrite` / `delete-vector`
    * / `no-op`). Driver-side manifest metadata only — O(versions·files)
    * name-set work; rows and bytes come from manifest `#rows=`/`#bytes=`
    * lines; no data file is opened. The `DESCRIBE HISTORY` a table user
    * asks for first.
    */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    var prev: Set[String] = Set.empty
    var first = true
    val rows = vs.map { v =>
      val fl = files(spark, root, v)
      val cur = fl.toSet
      val added = (cur -- prev).size
      val removed = (prev -- cur).size
      val dvs = dvLinesOf(spark, root, v).size
      val m = current(spark, root, v)
      val nRows = fl.map(m.rows).sum
      val bytes = fl.map(m.bytes).sum
      val op =
        if (dvs > 0 && added == 0 && removed == 0) "delete-vector"
        else if (first) "append"
        else if (added > 0 && removed == 0) "append"
        else if (removed > 0 && added > 0) "rewrite"
        else if (removed > 0) "overwrite"
        else "no-op"
      first = false
      prev = cur
      (v, new java.sql.Timestamp(
        f.getFileStatus(manifestPath(root, v)).getModificationTime),
        op, fl.size, added, removed, nRows, bytes, dvs)
    }
    rows.toDF("version", "commit_time", "operation", "n_files",
      "files_added", "files_removed", "n_rows", "total_bytes",
      "outstanding_dvs")
  }

  /** Files added and removed between two versions, as a DataFrame
    * (`file`, `change` ∈ added|removed) — the audit surface for "what
    * did version 18 actually change?".
    */
  def diff(spark: SparkSession, root: String, from: Int, to: Int): DataFrame = {
    import spark.implicits._
    val a = files(spark, root, from).toSet
    val b = files(spark, root, to).toSet
    ((b -- a).toSeq.sorted.map(f => (f, "added")) ++
      (a -- b).toSeq.sorted.map(f => (f, "removed")))
      .toDF("file", "change")
  }

  /** Drop manifests older than `keepLast` versions (their exclusively-
    * owned data files become vacuum-eligible). Returns dropped versions.
    */
  def expire(spark: SparkSession, root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val f = fs(spark, root)
    // TAGGED versions are retention-pinned: expire trims the rolling
    // history but never a named pointer (the "dataset run X trained on"
    // compliance pin) — untag is the explicit release
    val pinned = tags(spark, root).map(_._2).toSet
    val drop = versions(spark, root).dropRight(keepLast).filterNot(pinned)
    drop.foreach(v => f.delete(manifestPath(root, v), false))
    if (drop.nonEmpty) { bumpEpoch(f, root); invalidateVersionsCache(root) }
    drop
  }

  // ── named version TAGS ────────────────────────────────────────────────
  //
  // A tag is an immutable named pointer at one committed version, stored
  // as `_tags/<name>` (one int, staged-write + atomic rename). Tags make
  // a version ADDRESSABLE (`option("version", "name")`, SQL `VERSION AS
  // OF 'name'`) and RETAINED ([[expire]] never drops a tagged version's
  // manifest; [[vacuum]] then keeps its files referenced for free) — the
  // reproducibility pin for "the exact table run X trained on". Tags
  // never move (drop and re-create to re-point); names are plain path
  // segments so no tag can escape the table root. Tags are ROOT-LOCAL by
  // default: [[cloneTo]]/[[syncTo]] do not carry them (a clone has a
  // fresh lifecycle; a replica's retention is the replica's policy)
  // unless the caller opts in (`copyTags`/`syncTags` — the "replicate
  // the compliance pin" workflow), which carries exactly the tags naming
  // the cloned/synced version, re-pointed at the destination's version.

  private val TAGS_DIR = "_tags"

  private def tagPath(root: String, name: String): Path = {
    require(name.nonEmpty && !name.exists(c => c == '/' || c == '\\')
        && name != "." && name != ".." && !name.startsWith("_")
        && name.forall(c => c > ' '),
      s"tag name '$name' must be a plain path segment (no separators, " +
        "whitespace, leading underscore, or dot names)")
    require(name.toIntOption.isEmpty,
      s"tag name '$name' would shadow a literal version number")
    new Path(root, s"$TAGS_DIR/$name")
  }

  /** Pin `version` (default: the head) under `name`. Refuses an existing
    * name (tags are immutable pointers) and a version that is not
    * committed. Returns the pinned version.
    */
  def tag(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): Int = {
    val f = fs(spark, root)
    val p = tagPath(root, name)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v does not exist under $root")
    require(!f.exists(p),
      s"tag '$name' already exists under $root — tags are immutable " +
        "pointers; untag first to re-point")
    val tmp = new Path(root, s"$TAGS_DIR/.${name}.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    require(f.rename(tmp, p), s"could not commit tag at $p")
    v
  }

  /** Drop the named tag, releasing its retention pin. Returns whether it
    * existed. The version stays readable until the next [[expire]] drops
    * its manifest.
    */
  def untag(spark: SparkSession, root: String, name: String): Boolean =
    fs(spark, root).delete(tagPath(root, name), false)

  /** All tags of a root as (name, version), name-sorted. Bounded driver
    * metadata (one dir listing).
    */
  def tags(spark: SparkSession, root: String): Seq[(String, Int)] = {
    val f = fs(spark, root)
    val dir = new Path(root, TAGS_DIR)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .flatMap { st =>
        val in = f.open(st.getPath)
        val text = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 256, false)
          buf.toString("UTF-8").trim
        } finally in.close()
        text.toIntOption.map(st.getPath.getName -> _)
      }
      .sortBy(_._1)
  }

  /** Resolve a version SPEC — an integer literal or a tag name — to a
    * committed version number, loudly. The shared resolution behind
    * `option("version", ...)` and SQL `VERSION AS OF`.
    */
  def resolveVersion(spark: SparkSession, root: String, spec: String): Int =
    spec.trim.toIntOption.getOrElse {
      tags(spark, root).collectFirst { case (n, v) if n == spec.trim => v }
        .getOrElse(throw new IllegalArgumentException(
          s"'$spec' is neither a version number nor a tag of $root " +
            s"(tags: ${tags(spark, root).map(_._1).mkString(", ")})"))
    }

  /** Delete every file under `data/` referenced by NO live manifest —
    * crashed publishes and expired history — PROVIDED it is older than
    * `graceMs` (default 1 h). The grace period is what makes vacuum safe
    * to run as a janitor job beside live publishers: a publish writes
    * its data files BEFORE committing the manifest that references them,
    * so a zero-grace sweep racing that window would delete the files and
    * let the commit publish a manifest pointing at nothing. Files
    * younger than the grace are left alone unconditionally.
    *
    * Also sweeps crash debris the data scan can't see: stale `.tmp`
    * manifests (a publisher that died between writing and renaming) and
    * data subdirectories left empty by the file deletes — both
    * grace-guarded the same way.
    *
    * The on-disk listing is a distributed scan and the deletes run on
    * EXECUTORS via foreachPartition, so the sweep scales with cluster
    * width, not driver memory. Returns the number of data files deleted.
    */
  def vacuum(spark: SparkSession, root: String,
      graceMs: Long = DefaultGraceMs): Long = {
    import spark.implicits._
    val f = fs(spark, root)
    val cutoff = System.currentTimeMillis() - graceMs
    // stale temp manifests: bounded driver metadata (one dir listing)
    val snapDir = new Path(s"$root/$SNAP_DIR")
    if (f.exists(snapDir)) {
      f.listStatus(snapDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(TMP_SUFFIX)
          && st.getModificationTime < cutoff)
        .foreach(st => f.delete(st.getPath, false))
    }
    if (!f.exists(new Path(s"$root/data"))) return 0L
    // live = data files of every version PLUS outstanding delete-vector
    // key files (they live under data/ too and are load-bearing until
    // materialized) PLUS files of pending STAGED commits — a
    // write-audit-publish candidate can outlast any grace period, so
    // its reclaim is the explicit [[abort]], never the sweep
    val referenced = (versions(spark, root)
      .flatMap(v => files(spark, root, v) ++
        dvLinesOf(spark, root, v).map(l =>
          l.drop(DV_HEADER.length).takeWhile(_ != '\t'))) ++
      listStaged(spark, root).flatMap(t =>
        stagedLines(spark, root, t).filterNot(_.startsWith("#")))).toSet
    val refDf = referenced.toSeq.toDF("name")
    val onDisk = FileManifest.listTree(spark, s"$root/data")
      .filter(col("mtime") < lit(new java.sql.Timestamp(cutoff)))
      .select(concat(lit("data/"), col("name")).as("name"))
    // persisted: BOTH the drained-dir derivation and the delete pass read
    // this relation, and recomputing it would re-list the tree — worse,
    // the second listing would run AFTER the deletes and see a different
    // world than the dirs were derived from
    val orphans = onDisk.join(refDf, Seq("name"), "left_anti").persist()
    val qualifiedRoot = f.makeQualified(new Path(root)).toString
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // the dirs THIS sweep is about to drain (bounded: distinct parents,
    // one per publish-or-cluster dir) — computed BEFORE the deletes. The
    // deletes refresh each parent dir's mtime, so age alone would defer
    // reclaiming a just-drained dir to the NEXT sweep; membership here is
    // the proof it was emptied by us, not freshly created by an in-flight
    // publish (whose young, referenced-to-be files are never orphans).
    val drained: Set[String] = orphans.select("name").as[String]
      .map(n => n.substring(0, n.lastIndexOf('/')))
      .distinct().collect().toSet
    val deleted = spark.sparkContext.longAccumulator("snapshots.vacuumed")
    orphans.select("name").as[String].foreachPartition { it: Iterator[String] =>
      val pfs = new Path(qualifiedRoot).getFileSystem(conf.value)
      it.foreach { rel =>
        if (pfs.delete(new Path(s"$qualifiedRoot/$rel"), false)) deleted.add(1L)
      }
    }
    orphans.unpersist(blocking = false)
    // publish dirs drained by the sweep: one listing per historical
    // publish — bounded by publish count, not data size. A dir is
    // removable when nothing but aged hidden markers (_SUCCESS, .crc)
    // and emptied subdirs remain; an empty subdir counts when it is aged
    // OR this sweep drained it (a clustered publish nests
    // `__cluster=<digest>/` subdirs whose mtimes our own deletes just
    // refreshed). A partially-live publish dir survives, but its
    // individually drained-empty cluster subdirs are reclaimed now.
    f.listStatus(new Path(s"$root/data")).toSeq
      .filter(_.isDirectory)
      .foreach { st =>
        val rel = s"data/${st.getPath.getName}"
        val children = f.listStatus(st.getPath)
        def emptyDirDebris(c: org.apache.hadoop.fs.FileStatus): Boolean =
          c.isDirectory && f.listStatus(c.getPath).isEmpty &&
            (c.getModificationTime < cutoff || drained(s"$rel/${c.getPath.getName}"))
        val whole =
          if (children.isEmpty) st.getModificationTime < cutoff || drained(rel)
          else children.forall { c =>
            val n = c.getPath.getName
            (c.isFile && (n.startsWith("_") || n.startsWith(".")) &&
              c.getModificationTime < cutoff) || emptyDirDebris(c)
          }
        if (whole) f.delete(st.getPath, true)
        else children.filter(emptyDirDebris).foreach(c => f.delete(c.getPath, false))
      }
    // change-feed caches below the earliest surviving version are
    // unreplayable (the stream's expiry guard refuses offsets before
    // it), so they are reclaimable; newer caches stay — they are the
    // replay determinism for live checkpoints. Aged-only, like data.
    val cdfDir = new Path(s"$root/_cdf")
    val earliest = versions(spark, root).headOption.getOrElse(Int.MaxValue)
    if (f.exists(cdfDir)) {
      // cache names carry their provenance: `v{prev}-{w}_k{hash}`
      // (baseline version, target version, key-column hash). A cache is
      // unreplayable — reclaimable — when its target expired, or its
      // non-zero baseline did (prev=0 caches are full-snapshot steps:
      // replayable as long as the target survives).
      val keyed = """v(\d+)-(\d+)_k[0-9a-f]+""".r
      f.listStatus(cdfDir).toSeq
        .filter(st => st.isDirectory && st.getModificationTime < cutoff)
        .filter { st =>
          val n = st.getPath.getName.stripPrefix("pre_")
          n match {
            case _ if n.contains(".build-") => true // orphaned aged temp build
            case keyed(p, w) => w.toInt < earliest ||
              (p.toInt != 0 && p.toInt < earliest)
            case _ => false // unrecognized (future writer): keep
          }
        }
        .foreach(st => f.delete(st.getPath, true))
    }
    deleted.value
  }

  /** Compact the CURRENT version into ~`targetBytes` files and publish
    * the result as a new version. Old versions keep reading the
    * pre-compaction bytes (immutability); `expire` + `vacuum` reclaims
    * the small files once no manifest references them — the reference's
    * merge-then-DELETE (`HDFSMerge.java:144-148`) with the delete
    * deferred behind the version history instead of immediate.
    */
  def compact(spark: SparkSession, root: String,
      targetBytes: Long = 128L << 20, zorderBy: Seq[String] = Nil,
      minFiles: Int = 1): Int = {
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorderBy needs >= 2 columns (a 1-column layout is a plain range sort)")
    require(minFiles >= 1, "minFiles must be >= 1")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root — nothing to compact")
    val v = vs.last
    val f = fs(spark, root)
    // manifest-driven sizing: `#bytes=` lines answer without a file stat.
    // `minFiles` floors the count for LAYOUT-driven rewrites: a z-order
    // whose data fits one target file would otherwise collapse to a
    // single all-spanning file and skip nothing.
    val sizes = byteCountsOf(spark, root, v)
    val totalBytes = files(spark, root, v).map(sizes).sum
    val nFiles = math.max(minFiles,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val base = read(spark, root, Some(v))
    // a KEY-CLUSTERED table compacts within its layout: the rewrite goes
    // through the clustered publish (one file set per key — exactly what
    // a streaming-ingested clustered table needs, its per-batch file
    // fan-out collapsing back to one file per key) and the header
    // survives. A SORTED table compacts through the sorted publish —
    // the append fan-out's many small per-group files, whose overlapping
    // envelopes may have degraded the scan's order proof, collapse back
    // to one internally-ordered file per key and the proof turns trivial
    // again: compaction is the maintenance op that RESTORES sort-free
    // planning. An explicit zorderBy re-mixes and takes precedence.
    val cluster =
      if (zorderBy.nonEmpty) None
      else clusterOf(spark, root, v).filter(clusterApplies(_, base.columns.toSeq))
    val sort = sortOf(spark, root, v)
      .filter(clusterApplies(_, base.columns.toSeq))
      .filter(_ => cluster.isDefined)
    val rewritten =
      if (cluster.isDefined) base
      else if (zorderBy.isEmpty) base.repartition(nFiles)
      else {
        // Z-ORDER rewrite (same layout reasoning as Compact.merge's
        // zorderBy): range-partition by CONTIGUOUS z-range then sort
        // within tasks, so every file's footer min/max is tight on every
        // clustered column — the input [[SnapshotStats]] needs for
        // multi-dimensional [[readWhere]] skipping.
        val zExpr = ZOrder.curve(base, zorderBy)
        base.repartitionByRange(nFiles, zExpr).sortWithinPartitions(zExpr)
      }
    // custom header contracts (e.g. the near-dup bucket count) survive
    // the rewrite, so expiring the versions below it never loses them
    val core = Seq(SCHEMA_HEADER, DV_HEADER, SEQ_HEADER, CLUSTER_HEADER, SORT_HEADER,
      BATCH_HEADER, BASE_HEADER, "#stats=", "#rows=", "#bytes=")
    val custom = manifestLines(spark, root, v)
      .filter(l => l.startsWith("#") && !core.exists(l.startsWith))
    publish(spark, root, rewritten, clusterBy = cluster, sortBy = sort,
      extraHeader = custom)
  }

  /** MERGE a delta into the snapshot table and publish the result as a
    * NEW VERSION — history intact, time travel unbroken (contrast
    * [[Upsert.mergeByKey]], which swaps partition directories in place
    * and therefore REFUSES to run under a snapshot root). Per-key
    * semantics are identical to [[Upsert.mergeByKey]]:
    *
    *   - WHEN MATCHED AND tombstone  THEN DELETE
    *   - WHEN MATCHED                THEN UPDATE (the delta row wins whole)
    *   - WHEN NOT MATCHED, no tombstone THEN INSERT
    *
    * Mechanics (the Delta/Iceberg copy-on-write MERGE shape): the
    * delta keys' min/max envelope stats-prunes the candidate files
    * through the manifest's footer stats (same pruned-read path as
    * [[deleteWhere]]'s `pruneRanges`), then one semi-join over just the
    * candidates finds the files that contain at least one delta key;
    * ONLY those files' survivor rows rewrite,
    * together with the delta's upserts, into a fresh immutable data dir;
    * the new manifest lists (untouched files ++ new files) under the
    * union-merged schema. Cost is O(touched files + delta), never
    * O(table); a delta whose keys cluster in few files rewrites few
    * files. Old manifests still reference the pre-merge bytes, so every
    * prior version reads back byte-identically.
    *
    * Contracts: delta keys unique (enforced), key columns non-null, and
    * single-writer per table (the snapshot layer's standing contract).
    * Returns the new version number.
    *
    * `coveringDelta = true` is the caller's attestation that the delta
    * carries a row (upsert or tombstone) for EVERY key present in any
    * candidate file — the MV-refresh shape, where the delta was DERIVED
    * from a whole-bucket read of this very table at its current version,
    * so each touched bucket's unchanged keys re-upsert their identical
    * rows. Under the attestation the row-level touched-file probe and
    * the survivor anti-join are tautologies (every candidate file holds
    * a delta key; no candidate row's key is absent from the delta), so
    * both scans are SKIPPED: touched = the stats/bucket-pruned candidate
    * set, survivors = ∅, and the rewrite is one routed write of the
    * delta's upserts. That removes two full reads of the touched files
    * per merge — at 100 TB, two scans of every touched bucket per
    * refresh. A FALSE attestation loses rows (an uncovered key's old row
    * is dropped with its file) — internal callers only.
    */
  def mergeByKey(
      spark: SparkSession,
      root: String,
      delta: DataFrame,
      keyCols: Seq[String],
      tombstoneCol: Option[String] = None,
      extraHeader: Seq[String] = Nil,
      coveringDelta: Boolean = false): Int = {
    require(keyCols.nonEmpty, "mergeByKey needs at least one key column")
    val vs = versions(spark, root)
    require(vs.nonEmpty,
      s"no snapshots published under $root — publish the initial version, then merge")
    val v = vs.last
    requireMaterialized(spark, root, v, "mergeByKey")
    val f = fs(spark, root)
    val rel = files(spark, root, v)
    val schema = schemaOf(spark, root, v)
    // ONE materialization of the delta: the dup-key gate, the empty
    // check, the key envelope, the bucket prune set, the touched-file
    // probe, the anti-join and the rewrite union all read it. Without a
    // persist each of those actions re-runs the delta's full lineage —
    // an MV refresh's delta is a multi-join over change feeds, so the
    // recomputations dwarfed the merge's own write. MEMORY_AND_DISK
    // keeps a huge delta safe (spills, never OOMs); a caller-persisted
    // delta is left alone (persist would throw on a level change, and
    // unpersisting it would clobber the caller's cache).
    val ownPersist = delta.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val deltaP = if (ownPersist)
      delta.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else delta
    try {
    // ONE PASS over the delta for every driver-side scalar the merge
    // needs — previously four separate actions (dup-key check, isEmpty,
    // key envelope, bucket set), each its own job:
    //   - `__groups` = distinct key count (0 ⇒ the no-op merge);
    //   - `__maxn` = max per-key multiplicity (>1 ⇒ the dup-key refusal);
    //   - min/max per key column = the stats-prune envelope (min/max
    //     ignore NULLs; NULL keys never equi-match anyway);
    //   - `__buckets` = the delta's distinct bucket dirs when the base is
    //     hash-bucket-clustered on a merge key (bounded by the bucket
    //     count, so collect_set stays driver-safe).
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val bucketLayout: Option[(Int, String)] =
      clusterOf(spark, root, v).flatMap(bucketSpec).flatMap { case (n, c) =>
        keyCols.find(k => resolver(k, c)).map(k => (n, k))
      }
    val keyAgg = deltaP.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val aggExprs: Seq[Column] =
      Seq(count(lit(1)).as("__groups"), max(col("__n")).as("__maxn")) ++
        keyCols.flatMap(k =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k"))) ++
        bucketLayout.map { case (n, k) =>
          collect_set(pmod(hash(col(k)), lit(n)).cast("string")).as("__buckets")
        }
    val head = keyAgg.agg(aggExprs.head, aggExprs.tail: _*).collect().head
    // an empty delta is a no-op merge: publish the same file list rather
    // than writing a (possibly zero-file) data dir nobody references
    if (head.getAs[Long]("__groups") == 0L)
      return commit(f, root, v + 1, rel, schema,
        clusterHeaderOf(spark, root, v) ++ sortHeaderOf(spark, root, v) ++
          extraHeader ++ statsLinesOf(spark, root, v))
    if (head.getAs[Long]("__maxn") > 1L) {
      // error path only: re-derive one offending key for the message
      val dupKey = keyAgg.filter(col("__n") > 1).limit(1).collect()
      require(dupKey.isEmpty,
        s"delta carries multiple rows for key (${keyCols.mkString(",")}) = " +
          s"(${dupKey.headOption.fold("")(r => keyCols.indices.map(i => String.valueOf(r.get(i))).mkString(","))}) — " +
          "MERGE source keys must be unique (dedupe or pre-resolve the delta)")
    }
    val upserts = tombstoneCol.fold(deltaP)(tc =>
      deltaP.filter(!coalesce(col(tc), lit(false))).drop(tc))

    // which files hold a delta key? bounded output: one row per touched
    // file (the same driver granularity as Upsert's touched-partition set)
    val deltaKeys = keyAgg.drop("__n")
    // stats-prune the probe FIRST: a file whose footer min/max on every
    // key column misses the delta's key envelope cannot hold a delta key,
    // so the row-level semi-join probe never scans it — on a 100 TB
    // key-clustered table a narrow MERGE probes only its band, the same
    // shape deleteWhere/updateWhere get via pruneRanges. The envelope is
    // a superset of the key set, and filesWhere passes files without
    // usable stats, so pruning is advisory and never drops a genuine match.
    val keyBounds: Map[String, (Any, Any)] =
      keyCols.flatMap { k =>
        val (lo, hi) = (head.getAs[Any](s"__lo_$k"), head.getAs[Any](s"__hi_$k"))
        if (lo == null || hi == null) None else Some(k -> (lo, hi))
      }.toMap
    val statsPruned =
      if (keyBounds.isEmpty) rel else filesWhere(spark, root, v, keyBounds)
    // bucket-layout prune: when the base is hash-bucket-clustered on a
    // merge key column, the delta's distinct bucket set (bounded by n)
    // names the only `__cluster=` dirs that can hold a delta key, so
    // candidates outside them drop BEFORE the row-level probe. This is
    // the prune that matters on high-cardinality keys (digests, ids):
    // their min/max envelope spans every file and the stats prune above
    // keeps everything — with the bucket layout a keyed upsert on a
    // 100 TB table (or an [[Mv]] refresh on a billion-group view) probes
    // O(touched buckets) files instead of the table. The hash agreement
    // with the write path's routing (Murmur3 seed 42 via `hash`, pmod n,
    // decimal-string dir) is the same contract the DSv2 scan's V2 bucket
    // function already row-pins. NULL keys hash to a real bucket on both
    // sides; files outside any cluster dir stay candidates (conservative).
    val candidates = bucketLayout match {
      case Some(_) =>
        val hit = head.getAs[Seq[String]]("__buckets").toSet
        val dirRe = (java.util.regex.Pattern.quote(ClusterDirCol) + "=([^/]+)/").r
        statsPruned.filter(f => dirRe.findFirstMatchIn(f).forall(m => hit(m.group(1))))
      case _ => statsPruned
    }
    val touched: Set[String] =
      if (candidates.isEmpty) Set.empty
      // covering delta: every candidate file holds a delta key by the
      // caller's attestation — the probe scan would only re-prove it
      else if (coveringDelta) candidates.toSet
      // no forced broadcast: a small delta broadcasts via AQE; a huge one
      // is allowed its shuffle (the touched-file set stays file-bounded)
      else readFiles(spark, root, candidates, schema)
        .withColumn("__file", input_file_name())
        .join(deltaKeys, keyCols, "left_semi")
        // normalize reader URIs (file:///x vs file:/x) to the manifest's
        // relative form: data files always live at data/<uuid>/<name>
        .select(regexp_extract(col("__file"), "data/[^/]+(?:/[^/]+)?/[^/]+$", 0).as("__file"))
        .distinct().collect().map(_.getString(0)).toSet
    require(touched.forall(_.nonEmpty),
      s"could not relativize a scanned file path under $root/data — layout violation")

    val survivors =
      // covering delta: no candidate row's key is absent from the delta,
      // so the anti-join is empty by the attestation — skip its scan
      if (touched.isEmpty || coveringDelta) upserts.limit(0)
      else readFiles(spark, root, touched.toSeq.sorted, schema)
        .join(deltaKeys, keyCols, "left_anti")
    val merged = survivors.unionByName(upserts, allowMissingColumns = true)
    // a clustered base KEEPS its layout: replacement rows write through
    // the clustered path (single-valued files by construction), so the
    // header — and storage-partitioned planning — survives the MERGE. A
    // SORTED base likewise: replacement files write internally ordered,
    // untouched files are already attested, so the `#sort=` header (and
    // with it sort-free windows/joins) survives the upsert — a
    // replacement whose envelope overlaps a neighbor only narrows the
    // scan's per-group order proof, never the attestation
    val cluster = clusterOf(spark, root, v)
      .filter(clusterApplies(_, merged.columns.toSeq))
    val sort = sortOf(spark, root, v)
      .filter(clusterApplies(_, merged.columns.toSeq))
      .filter(_ => cluster.isDefined)
    // survivors were read back from the base's OWN cluster dirs, so on an
    // unsorted clustered base they are already routed: stream them through
    // writeData's exchange-free side and pay the rebalance only on the
    // delta-sized upserts — the survivor bytes (the bulk of a CoW rewrite)
    // never cross an exchange. Requires BOTH sides to carry the routing
    // columns themselves at the SAME type: a side that would take them
    // null-filled or type-coerced from the union must route through the
    // exchanged path AS that union (hash(int) ≠ hash(long) for the same
    // value, so per-side routing under unequal types would place upserts
    // in dirs the table schema's probe never looks in).
    val resolverW = org.apache.spark.sql.internal.SQLConf.get.resolver
    def routingType(d: DataFrame, c: String) =
      d.schema.fields.find(fd => resolverW(fd.name, c)).map(_.dataType)
    val streamSurvivors = cluster.isDefined && sort.isEmpty &&
      cluster.forall(s => clusterApplies(s, survivors.columns.toSeq) &&
        clusterApplies(s, upserts.columns.toSeq) &&
        clusterKeyCols(s).forall { c =>
          val (ts, tu) = (routingType(survivors, c), routingType(upserts, c))
          ts.isDefined && ts == tu
        })
    val (_, newFiles) =
      if (coveringDelta)
        // survivors are empty by the attestation: one routed write of the
        // upserts, nothing to stream through
        writeData(f, root, upserts, clusterBy = cluster,
          sortWithin = sort.map(clusterCols).getOrElse(Nil))
      else if (streamSurvivors)
        writeData(f, root, upserts, clusterBy = cluster,
          preRouted = Some(survivors))
      else writeData(f, root, merged, clusterBy = cluster,
        sortWithin = sort.map(clusterCols).getOrElse(Nil))
    val mergedSchema = unionMerge(schema, upserts.schema)
    // untouched files keep their stats lines; rewritten files get fresh ones
    val keptStats = statsLinesOf(spark, root, v).filterNot(l => touched(statsLineFile(l)))
    commit(f, root, v + 1, rel.filterNot(touched) ++ newFiles, mergedSchema,
      cluster.map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sort.map(s => s"$SORT_HEADER$s").toSeq ++ extraHeader ++
        keptStats ++ SnapshotStats.collect(spark, root, newFiles))
    } finally if (ownPersist) deltaP.unpersist(blocking = false)
  }

  /** EXACTLY-ONCE streaming UPSERT: merge one micro-batch of keyed
    * changes as a new snapshot version with the batch id recorded in the
    * manifest — [[publishStreamBatch]]'s dedup contract over
    * [[mergeByKey]]'s CoW semantics. A replayed batch (id ≤ the last
    * committed) is SKIPPED, so a restart re-delivering its in-flight
    * batch merges nothing twice: the CDC-ingest shape (`writeStream`
    * in Update mode with a `keyColumns` option, or `foreachBatch`
    * calling this directly). Cost per batch is O(touched files + delta),
    * never O(table). Returns the version published, or None for a
    * replay. Single-writer per root.
    */
  def mergeStreamBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long, keyCols: Seq[String],
      tombstoneCol: Option[String] = None,
      extraHeader: Seq[String] = Nil,
      coveringDelta: Boolean = false): Option[Int] =
    if (lastBatchId(spark, root).exists(_ >= batchId)) None
    else Some(mergeByKey(spark, root, batch, keyCols, tombstoneCol,
      extraHeader = s"$BATCH_HEADER$batchId" +: extraHeader,
      coveringDelta = coveringDelta))

  /** Row-level DELETE by predicate, copy-on-write: rows where `predicate`
    * is TRUE are removed (NULL keeps the row — SQL DELETE semantics);
    * only files CONTAINING a matching row rewrite, everything else is
    * carried by reference into the new version. History stays intact:
    * prior manifests keep referencing the pre-delete bytes, so "delete
    * user X" composes with time travel (and a compliance erase is
    * delete + `expire` + `vacuum`, which physically reclaims the
    * rewritten-away files).
    *
    * `pruneRanges` (optional) pre-prunes the candidate files through the
    * manifest's footer stats before the row-level probe — pass the
    * bounding box the predicate implies (e.g. the date band of a
    * retention delete) and the touched-file probe scans only
    * stats-matching files instead of the table. Advisory, and must be a
    * SUPERSET of the predicate (same contract as [[readWhere]]): rows
    * matching the predicate outside the ranges would be missed, so the
    * ranges must be implied by the predicate, not a guess.
    *
    * Cost: one probe scan over candidate files + a rewrite of touched
    * files. A retention delete over a range-clustered 100 TB table
    * probes and rewrites only the expiring band. Returns the new
    * version.
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
      pruneRanges: Map[String, (Any, Any)] = Map.empty,
      candidates: Option[Seq[String]] = None): Int =
    rewriteWhere(spark, root, predicate, pruneRanges, candidates) { touchedRows =>
      touchedRows.filter(!coalesce(predicate, lit(false)))
    }

  /** Row-level UPDATE by predicate, copy-on-write: rows where `predicate`
    * is TRUE get each `set` column replaced by its assignment expression
    * (evaluated against the OLD row, so `set("n" -> col("n") + 1)`
    * increments); NULL-predicate rows stay unchanged. Assignments cast
    * to the column's existing type — an UPDATE never changes the table
    * schema (add columns via append-publish evolution instead). Only
    * files containing a matching row rewrite; `pruneRanges` pre-prunes
    * candidates exactly as in [[deleteWhere]]. Returns the new version.
    */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], pruneRanges: Map[String, (Any, Any)] = Map.empty): Int = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    rewriteWhere(spark, root, predicate, pruneRanges) { touchedRows =>
      set.keys.foreach(c => require(touchedRows.columns.contains(c),
        s"updateWhere assignment targets unknown column '$c'"))
      touchedRows.select(touchedRows.columns.map { c =>
        set.get(c) match {
          case Some(expr) =>
            when(coalesce(predicate, lit(false)),
              expr.cast(touchedRows.schema(c).dataType))
              .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
    }
  }

  /** Shared copy-on-write rewrite: find the files whose rows match
    * `predicate` (optionally stats-pruned first), apply `rewrite` to
    * exactly those files' rows, and publish (untouched files ++
    * rewritten files) as a new version under the unchanged schema. A
    * predicate matching nothing publishes a no-op version (same file
    * list) rather than writing an empty data dir.
    */
  private def rewriteWhere(spark: SparkSession, root: String, predicate: Column,
      pruneRanges: Map[String, (Any, Any)],
      explicitCandidates: Option[Seq[String]] = None)
      (rewrite: DataFrame => DataFrame): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root — nothing to rewrite")
    val v = vs.last
    requireMaterialized(spark, root, v, "deleteWhere/updateWhere")
    val f = fs(spark, root)
    val rel = files(spark, root, v)
    val schema = schemaOf(spark, root, v)
    // an explicit candidate list (e.g. the DSv2 DELETE's stats-pruned
    // set) must cover every file that can hold a matching row — the
    // caller derives it from the same predicate — and is clamped to the
    // version's own files for safety
    val candidates = explicitCandidates match {
      case Some(c) => val known = rel.toSet; c.filter(known)
      case None =>
        if (pruneRanges.isEmpty) rel else filesWhere(spark, root, v, pruneRanges)
    }
    // which candidate files hold a matching row? bounded output: one row
    // per touched file (same granularity as mergeByKey's key probe)
    val touched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else readFiles(spark, root, candidates, schema)
        .filter(coalesce(predicate, lit(false)))
        .select(regexp_extract(input_file_name(), "data/[^/]+(?:/[^/]+)?/[^/]+$", 0).as("__file"))
        .distinct().collect().map(_.getString(0)).toSet
    require(touched.forall(_.nonEmpty),
      s"could not relativize a scanned file path under $root/data — layout violation")
    if (touched.isEmpty)
      return commit(f, root, v + 1, rel, schema,
        clusterHeaderOf(spark, root, v) ++ sortHeaderOf(spark, root, v) ++
          statsLinesOf(spark, root, v))
    val rewritten = rewrite(
      readFiles(spark, root, touched.toSeq.sorted, schema))
    // a clustered base keeps its layout: replacements re-cluster on
    // write; a sorted base keeps its attestation the same way (ordered
    // replacement files beside already-attested untouched ones)
    val cluster = clusterOf(spark, root, v)
      .filter(clusterApplies(_, rewritten.columns.toSeq))
    val sort = sortOf(spark, root, v)
      .filter(clusterApplies(_, rewritten.columns.toSeq))
      .filter(_ => cluster.isDefined)
    val (_, newFiles) = writeData(f, root, rewritten, clusterBy = cluster,
      sortWithin = sort.map(clusterCols).getOrElse(Nil))
    val keptStats = statsLinesOf(spark, root, v).filterNot(l => touched(statsLineFile(l)))
    commit(f, root, v + 1, rel.filterNot(touched) ++ newFiles, schema,
      cluster.map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sort.map(s => s"$SORT_HEADER$s").toSeq ++
        keptStats ++ SnapshotStats.collect(spark, root, newFiles))
  }

  /** MERGE-ON-READ delete: remove every row whose key appears in `keys`
    * WITHOUT rewriting any data file. The keys land as an immutable
    * parquet "delete vector" under `data/`, and the new manifest records
    * it as a `#dv=` header — commit cost is O(deleted keys), not
    * O(touched files), which is the right shape for high-frequency
    * deletes between compactions (the GDPR-eraser / retraction-stream
    * case at 100 TB: deleting a user from a petabyte table commits in
    * seconds; [[deleteWhere]]'s copy-on-write rewrite is the other end
    * of the same read/write-amplification trade, exactly Iceberg v2's
    * equality-delete vs data-rewrite split).
    *
    * Readers ([[read]]/[[readAdded]]) anti-join the dv keys at scan
    * time, with SEQUENCE semantics: the dv applies only to data files
    * that existed when it was committed, so re-inserting a deleted key
    * later (append or stream batch) makes the key visible again — the
    * delete never retro-applies to new data. Outstanding dvs survive
    * appends and rollbacks, and are physically applied by
    * [[materializeDeletes]] (targeted) or [[compact]] (full rewrite);
    * paths that read files raw (stats-pruned reads, CDC, merge,
    * copy-on-write rewrites) refuse to run until then, and metadata
    * aggregates return None — a dv is never silently ignored.
    *
    * `keys` must cover its columns uniquely per row semantics (extra
    * columns are not allowed — pass exactly the key columns). Returns
    * the new version, or a no-op version when `keys` is empty.
    */
  def deleteByKey(spark: SparkSession, root: String, keys: DataFrame): Int = {
    require(keys.columns.nonEmpty, "deleteByKey needs at least one key column")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root — nothing to delete from")
    val v = vs.last
    val kc = keys.columns.toSeq
    require(kc.forall(!_.contains(",")) && kc.forall(!_.contains("\t")),
      s"key column names must not contain ',' or tab: ${kc.mkString(",")}")
    val schema = schemaOf(spark, root, v)
    kc.foreach(k => require(schema.fieldNames.contains(k),
      s"delete key column '$k' not in v$v schema"))
    val f = fs(spark, root)
    val carried = dvLinesOf(spark, root, v) ++ statsLinesOf(spark, root, v)
    val (_, dvFiles) = writeData(f, root, keys.distinct())
    // the committing version IS the dv's sequence number — embedded in
    // the line (not derived from the log) so it survives expire()
    val newDvLines = dvFiles.map(p => s"$DV_HEADER$p\t${kc.mkString(",")}\t${v + 1}")
    commit(f, root, v + 1, files(spark, root, v), schema,
      clusterHeaderOf(spark, root, v) ++ sortHeaderOf(spark, root, v) ++
        newDvLines ++ carried)
  }

  /** Physically apply a version's outstanding delete vectors: rewrite
    * ONLY the files that contain a deleted row (semi-join probe, same
    * granularity as [[mergeByKey]]'s touched set), drop the `#dv=`
    * headers, and publish. Read results are unchanged — prior versions
    * still merge-on-read their own dvs — but the new version reads raw
    * again (stats-pruned reads, CDC and metadata aggregates come back),
    * and the dv key files become vacuum-eligible once no manifest
    * references them. Returns the new version (the current one when
    * there is nothing to materialize).
    */
  def materializeDeletes(spark: SparkSession, root: String): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = vs.last
    if (dvLinesOf(spark, root, v).isEmpty) return v
    val f = fs(spark, root)
    val rel = files(spark, root, v)
    val schema = schemaOf(spark, root, v)
    val (firstSeen, dvs) = history(spark, root, v)
    // per sequence group: which files hold a doomed row?
    val groups = rel.groupBy(firstSeen).toSeq.sortBy(_._1)
    def keysOf(ds: Seq[Dv], kc: Seq[String]) =
      spark.read.parquet(ds.map(d => s"$root/${d.file}"): _*)
        .select(kc.map(col): _*).distinct()
    val touched: Set[String] = groups.flatMap { case (seq, fls) =>
      val applicable = dvs.filter(_.version >= seq)
      if (applicable.isEmpty) Set.empty[String]
      else {
        val base = readFiles(spark, root, fls.sorted, schema)
          .withColumn("__file",
            regexp_extract(input_file_name(), "data/[^/]+(?:/[^/]+)?/[^/]+$", 0))
        applicable.groupBy(_.keyCols).map { case (kc, ds) =>
          base.join(keysOf(ds, kc.toSeq), kc.toSeq, "left_semi")
            .select("__file").distinct().collect().map(_.getString(0)).toSet
        }.reduce(_ ++ _)
      }
    }.toSet
    require(touched.forall(_.nonEmpty),
      s"could not relativize a scanned file path under $root/data — layout violation")
    if (touched.isEmpty) // dvs deleted nothing: drop them, share every file
      return commit(f, root, v + 1, rel, schema,
        clusterHeaderOf(spark, root, v) ++ sortHeaderOf(spark, root, v) ++
          statsLinesOf(spark, root, v))
    // survivors of the touched files, dv-applied with the same sequence rule
    val rewritten = groups.flatMap { case (seq, fls) =>
      val mine = fls.filter(touched).sorted
      if (mine.isEmpty) None
      else Some(dvs.filter(_.version >= seq).groupBy(_.keyCols).foldLeft(
        readFiles(spark, root, mine, schema)) {
        case (df, (kc, ds)) => df.join(keysOf(ds, kc.toSeq), kc.toSeq, "left_anti")
      })
    }.reduce(_.unionByName(_))
    // a clustered base keeps its layout: dv-applied survivors
    // re-cluster; a sorted base keeps its attestation (ordered
    // replacement files beside already-attested untouched ones)
    val cluster = clusterOf(spark, root, v)
      .filter(clusterApplies(_, rewritten.columns.toSeq))
    val sort = sortOf(spark, root, v)
      .filter(clusterApplies(_, rewritten.columns.toSeq))
      .filter(_ => cluster.isDefined)
    val (_, newFiles) = writeData(f, root, rewritten, clusterBy = cluster,
      sortWithin = sort.map(clusterCols).getOrElse(Nil))
    val keptStats = statsLinesOf(spark, root, v).filterNot(l => touched(statsLineFile(l)))
    commit(f, root, v + 1, rel.filterNot(touched) ++ newFiles, schema,
      cluster.map(c => s"$CLUSTER_HEADER$c").toSeq ++
        sort.map(s => s"$SORT_HEADER$s").toSeq ++
        keptStats ++ SnapshotStats.collect(spark, root, newFiles))
  }

  /** The subset of a version's files whose footer stats ADMIT rows
    * satisfying EVERY `column BETWEEN lo AND hi` range — files without
    * usable stats for a column pass that column's test (pruning is
    * advisory; correctness never depends on it).
    */
  def filesWhere(spark: SparkSession, root: String, version: Int,
      ranges: Map[String, (Any, Any)]): Seq[String] = {
    require(ranges.nonEmpty, "filesWhere needs at least one column range")
    val stats = statsOf(spark, root, version)
    files(spark, root, version).filter { fl =>
      ranges.forall { case (column, (lo, hi)) =>
        stats.get(fl).flatMap(_.get(column)) match {
          case Some(cs) => SnapshotStats.overlaps(cs, lo, hi)
          case None => true
        }
      }
    }
  }

  /** A version's parsed per-file column stats — the manifest-resident
    * skipping metadata, exposed for external pruning drivers (the DSv2
    * source translates pushed catalyst filters against these).
    */
  def statsOf(spark: SparkSession, root: String,
      version: Int): Map[String, Map[String, SnapshotStats.ColStats]] =
    manifest(spark, root, version).stats

  /** A version's parsed per-file exact row counts (`#rows=` lines) — the
    * metadata behind [[countRows]] and the DSv2 source's limit pushdown.
    */
  def rowCountsOf(spark: SparkSession, root: String,
      version: Int): Map[String, Long] =
    current(spark, root, version).rows

  /** A version's parsed per-file byte lengths (`#bytes=` lines, one per
    * listed file) — the manifest-resident sizing metadata behind
    * plan-time statistics and scan-partition packing.
    */
  def byteCountsOf(spark: SparkSession, root: String,
      version: Int): Map[String, Long] =
    current(spark, root, version).bytes

  /** Single-column [[filesWhere]]. */
  def filesBetween(spark: SparkSession, root: String, version: Int,
      column: String, lo: Any, hi: Any): Seq[String] =
    filesWhere(spark, root, version, Map(column -> (lo, hi)))

  /** Multi-range read with manifest-level file skipping: the conjunction
    * of every `column BETWEEN lo AND hi` drives the pruning AND the
    * row-level filter. With a Z-ordered layout ([[compact]]'s `zorderBy`)
    * this is the multi-dimensional scan-avoidance pair: the curve makes
    * per-file min/max tight on EVERY clustered column at once, so a 2-D
    * selection prunes in both dimensions where a sort could only serve
    * its leading column.
    */
  def readWhere(spark: SparkSession, root: String,
      ranges: Map[String, (Any, Any)], version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    requireMaterialized(spark, root, v, "readWhere/readBetween")
    val pred = ranges.map { case (c, (lo, hi)) => col(c).between(lit(lo), lit(hi)) }
      .reduce(_ && _)
    readFiles(spark, root, filesWhere(spark, root, v, ranges),
      schemaOf(spark, root, v)).filter(pred)
  }

  /** Range read with MANIFEST-LEVEL file skipping: plan the scan over only
    * the files whose per-file min/max (collected from parquet footers at
    * publish time, [[SnapshotStats]]) intersect `[lo, hi]`, then apply the
    * row-level filter. Semantically identical to
    * `read(...).filter(col(column).between(lo, hi))` — the footer interval
    * is a superset guarantee — but the plan never sees the pruned files,
    * so a narrow time-range query over a range-clustered 100 TB table
    * costs O(matching files), with no scan tasks scheduled for the rest.
    * This is the reference's date-range directory selection
    * (`CommonUtils.java:151-163`) generalized to any stats-bearing column
    * at file granularity.
    */
  def readBetween(spark: SparkSession, root: String, column: String,
      lo: Any, hi: Any, version: Option[Int] = None): DataFrame =
    readWhere(spark, root, Map(column -> (lo, hi)), version)

  /** Needle-in-haystack read: `column IN (values)` planned over only the
    * files that might hold a probe value — min/max stats prune first
    * (cheap, manifest-resident), then [[SnapshotBloom]] probes the
    * survivors' parquet bloom filters (one footer read each; written at
    * publish via `bloomOn`). On an unclustered high-cardinality key the
    * range test keeps everything and the bloom is what collapses a
    * 100 TB scan to a handful of files. Lossless: kept files still go
    * through the row-level IN filter.
    */
  def readPoint(spark: SparkSession, root: String, column: String,
      values: Seq[Any], version: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "readPoint needs at least one probe value")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    requireMaterialized(spark, root, v, "readPoint")
    val kept = pointFiles(spark, root, v, column, values)
    readFiles(spark, root, kept, schemaOf(spark, root, v))
      .filter(col(column).isin(values: _*))
  }

  /** The file subset [[readPoint]] plans over (exposed for audits). */
  def pointFiles(spark: SparkSession, root: String, version: Int,
      column: String, values: Seq[Any]): Seq[String] = {
    val stats = statsOf(spark, root, version)
    val rangeKept = files(spark, root, version).filter { fl =>
      stats.get(fl).flatMap(_.get(column)) match {
        case Some(cs) => values.exists(x => SnapshotStats.overlaps(cs, x, x))
        case None => true
      }
    }
    SnapshotBloom.filesMightContain(spark, root, rangeKept, column, values)
  }

  /** Exact row count of a version from manifest metadata ALONE — no file
    * is opened: the sum of its `#rows=` lines. None while merge-on-read
    * delete vectors are outstanding (deleted rows are not counted, so
    * the sum would be a guess). `SELECT count(*)` over 100 TB in one
    * manifest read.
    */
  def countRows(spark: SparkSession, root: String, version: Option[Int] = None): Option[Long] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    if (dvLinesOf(spark, root, v).nonEmpty) return None // dv rows uncounted: not provable
    val rows = rowCountsOf(spark, root, v)
    Some(files(spark, root, v).map(rows).sum)
  }

  final case class ColRange(min: Any, max: Any, nulls: Long)

  /** Exact (min, max, null count) of a column from manifest metadata
    * ALONE. Some only when EVERY file carries usable stats for the column
    * (footer min/max are exact bounds, so their fold is the exact
    * aggregate); all-null files contribute nulls. None = not provable
    * from metadata — caller falls back to a scan, never gets a guess.
    */
  def columnStats(spark: SparkSession, root: String, column: String,
      version: Option[Int] = None): Option[ColRange] = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshots published under $root")
    val v = version.getOrElse(vs.last)
    if (dvLinesOf(spark, root, v).nonEmpty) return None // deleted rows skew bounds
    val fl = files(spark, root, v)
    val stats = statsOf(spark, root, v)
    val per = fl.map(f => stats.get(f).flatMap(_.get(column)))
    if (per.exists(_.isEmpty)) return None
    val cs = per.flatten
    val valued = cs.filter(_.tag != "allnull")
    if (valued.map(_.tag).distinct.size > 1) return None // mixed tags: unprovable
    val nulls = cs.map(_.nulls).sum
    valued.headOption match {
      case None => Some(ColRange(null, null, nulls)) // every file all-null
      case Some(h) =>
        val tag = h.tag
        val decoded = valued.map(c =>
          (SnapshotStats.decode(tag, c.min), SnapshotStats.decode(tag, c.max)))
        Some(ColRange(
          decoded.map(_._1).reduce(SnapshotStats.decodedMin(tag, _, _)),
          decoded.map(_._2).reduce(SnapshotStats.decodedMax(tag, _, _)),
          nulls))
    }
  }

  /** Resolve the version visible AT a wall-clock instant (by manifest
    * commit mtime) — "read the table as of last Tuesday" without knowing
    * version numbers. Commit mtimes are monotone under the single-writer
    * contract.
    */
  def versionAt(spark: SparkSession, root: String, asOfMs: Long): Int = {
    val f = fs(spark, root)
    val vs = versions(spark, root)
      .filter(v => f.getFileStatus(manifestPath(root, v)).getModificationTime <= asOfMs)
    require(vs.nonEmpty,
      s"no snapshot under $root existed at ${new java.sql.Timestamp(asOfMs)}")
    vs.last
  }

  /** Time travel by timestamp: [[read]] of [[versionAt]]. */
  def readAsOf(spark: SparkSession, root: String, asOfMs: Long): DataFrame =
    read(spark, root, Some(versionAt(spark, root, asOfMs)))
}
