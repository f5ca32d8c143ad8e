package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Managed MATERIALIZED VIEWS over snapshot tables: a grouped
  * count/sum aggregate stored as its own snapshot table and kept
  * current by applying the base table's row-level change feed —
  * refresh cost is O(changes + touched groups), never O(base table).
  *
  * The composition (nothing here is new machinery):
  *   - the view algebra is [[IncrementalView]] (ΔV = γ(+ΔR) ⊖ γ(−ΔR),
  *     with the `nn_<c>` companions that keep all-NULL-group sums NULL);
  *   - the change feed is [[Snapshots.changes]] with preimages;
  *   - the write is [[Snapshots.mergeStreamBatch]] with the BASE VERSION
  *     as the batch id — the manifest-native exactly-once contract, so
  *     the refresh watermark needs no side-channel state: it IS the last
  *     committed batch id, recovery-free across crashes, and a replayed
  *     refresh at the same base version merges nothing twice.
  *
  * The merge key is `__gk`, an md5 digest of the group tuple's JSON —
  * the same null-safe composite-key discipline as the clustered layout's
  * split dirs (`Snapshots` routes cluster groups by md5(to_json(...)));
  * raw group columns would break on NULL groups (equi-join upsert would
  * duplicate them) and multi-column merges. The MV table is
  * bucket-clustered on `__gk` (`mvBuckets`), so a refresh's CoW merge
  * probes only the delta's hash buckets ([[Snapshots.mergeByKey]]'s
  * bucket-layout pruning) — on a billion-group MV (per-user aggregates
  * over 100 TB) the probe reads O(touched buckets) files, not the MV.
  *
  * Sums maintain exactly only over exact types (integral, decimal):
  * float/double sums accumulate add/retract in a different order than a
  * recompute and drift by ulps. Sum cents, not dollars (the repo-wide
  * oracle discipline).
  *
  * min/max maintain HYBRID (`minMaxCols` on [[create]] and
  * [[createJoin]]): algebraic on insert-only feeds, a declared
  * per-retracted-group recount otherwise — they are not invertible
  * under deletes, and an honest bounded recount beats both a silent
  * wrong answer and a full refusal. The recount FILE-prunes: the
  * single-base read probes only the retracted groups' cluster dirs
  * when the base is clustered on a group column ([[groupProbe]]); the
  * join form restricts the group-carrying side first, then
  * bucket/time-probes the other side with the survivors' join keys.
  * Every refresh reports what it paid (`recountGroups`,
  * `recountPruned`).
  *
  * COUNT(DISTINCT) maintains EXACTLY and ALWAYS incrementally
  * (`distinctCols` on every create): each column gets a companion
  * snapshot table under `<mvRoot>/_dv/<col>` holding, per (group tuple,
  * value), how many viewed rows carry that value — the classic
  * two-level view maintenance. The feed's per-value signed delta
  * updates the companion exactly in BOTH directions (a value whose
  * count reaches zero tombstones; one that appears inserts), and the
  * group's `nd_<c>` is simply its surviving companion rows — no
  * recount tier, unlike min/max, because the companion IS the
  * invertibility the plain aggregate lacks. Refresh cost stays
  * O(changes + touched groups' companion buckets); the companion's
  * storage is O(distinct (group, value) pairs), distributed, and never
  * read whole.
  *
  * An optional row FILTER (`where`, a SQL boolean over the viewed
  * relation) makes the view γ(σ(rel)): σ commutes with the signed
  * algebra row-wise — an update whose preimage matched and postimage
  * does not nets to a view delete — so maintenance just filters the
  * change feed (and each join delta term) before applying it.
  *
  * Single-writer per MV root (the snapshot layer's standing contract);
  * the base table may evolve freely between refreshes — the CDF aligns
  * removed-file rows up to the newer schema.
  */
object Mv {

  /** The stored view definition (`<mvRoot>/_mv/def`, written once at
    * [[create]], immutable): base table root, the base's unique row key
    * (the CDF classification key), the group-by columns, the summed
    * columns, the min/max columns (hybrid-maintained — see [[create]]),
    * the distinct-count columns (companion-maintained, always
    * incremental — see [[create]]), and the optional row filter (a SQL
    * boolean expression over the base's columns; the view aggregates
    * σ(base), maintained by filtering the change feed row-wise).
    */
  final case class Definition(baseRoot: String, baseKeyCols: Seq[String],
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, distinctCols: Seq[String] = Nil,
      approxCols: Seq[String] = Nil, quantileCols: Seq[String] = Nil,
      filterSql: Option[String] = None)

  /** The stored definition of a JOIN MV ([[createJoin]]): two co-clustered
    * base tables, each with its own unique row key (CDF classification)
    * and its side of the equi-join, plus the grouped/summed/min-max
    * columns of the JOINED relation.
    */
  final case class JoinDefinition(leftRoot: String, leftKeyCols: Seq[String],
      joinLeft: String, rightRoot: String, rightKeyCols: Seq[String],
      joinRight: String, groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, distinctCols: Seq[String] = Nil,
      approxCols: Seq[String] = Nil, quantileCols: Seq[String] = Nil,
      filterSql: Option[String] = None)

  /** One join-MV refresh's outcome: like [[Refresh]] but with a
    * watermark PAIR (one per base), plus the PROBE-PRUNING report:
    * `probePrunedLeft`/`probePrunedRight` say whether every full-side
    * probe of that base read only the delta's colliding buckets. `false`
    * means this refresh paid an UNpruned O(that base) probe — correct,
    * still delta-joined, but unbounded on that side because the base's
    * bucket header was dropped (a row-level CoW rewrite) or rescaled
    * away from the join key; restore the layout (`CALL sys.cluster` /
    * a clustered publish) to re-bound future refreshes. `true` when no
    * probe of that side ran at all (noop, full, or no opposing delta) —
    * the flag reports degradation, not activity.
    * `recountGroups`/`recountPruned` are the min/max recount report,
    * exactly [[Refresh]]'s.
    */
  final case class JoinRefresh(mode: String, fromLeft: Int, toLeft: Int,
      fromRight: Int, toRight: Int, groupsTouched: Long, mvVersion: Option[Int],
      probePrunedLeft: Boolean = true, probePrunedRight: Boolean = true,
      recountGroups: Long = 0L, recountPruned: Boolean = true)

  /** One refresh's outcome: `mode` ∈ noop | incremental | full,
    * the base-version watermark it moved from/to, the distinct groups
    * the change feed touched (0 for noop; the full MV group count for
    * full), and the MV version published (None for noop).
    *
    * `recountGroups`/`recountPruned` report the min/max RECOUNT — the
    * probe-degradation sibling of [[JoinRefresh]]'s `probePruned*`:
    * `recountGroups` is the distinct groups whose min/max paid a
    * per-group recount this refresh (0 = pure algebraic, including
    * every refresh whose feed retracted nothing), and `recountPruned`
    * says the recount's base read was FILE-pruned to those groups'
    * cluster dirs. `false` means the recount row-pruned over an
    * UNpruned O(base) scan — correct, declared, and fixable by
    * clustering the base on a group column (`CALL sys.cluster`).
    */
  final case class Refresh(mode: String, fromVersion: Int, toVersion: Int,
      groupsTouched: Long, mvVersion: Option[Int],
      recountGroups: Long = 0L, recountPruned: Boolean = true)

  private val GkCol = "__gk"
  private val VkCol = "__vk"
  private val VdCol = "__vd"
  private val TombCol = "__mv_del"
  private val MmStaleCol = "__mm_stale"

  /** A group column SPEC is either a plain base column name or a
    * time-transform — `days(ts)` / `hours(ts)` / `months(ts)` /
    * `years(ts)`, [[Snapshots.timeSpec]]'s own grammar — and a
    * transform group stores its derived calendar unit under
    * `<unit>_<col>` (`days_ts`). The unit is FUNCTIONALLY DETERMINED by
    * the row, so maintenance stays delta-sized (a changed row's unit
    * travels with it through the CDF), and a base CLUSTERED on the same
    * transform file-prunes recounts by the very dirs the write path
    * routed ([[groupProbe]]). Works on every MV kind: join and
    * trilinear deltas derive the unit per joined delta row (it is a
    * function of the row), so the bilinear/trilinear algebra is
    * untouched — the canonical star daily dashboard (`GROUP BY
    * days(o_orderdate), n_name`) maintains and routes like any other
    * grouping.
    */
  private[graft] def groupStored(spec: String): String =
    Snapshots.timeSpec(spec).map { case (u, c) => s"${u}_$c" }.getOrElse(spec)

  /** The base column a group spec reads (itself when plain). */
  private def groupSource(spec: String): String =
    Snapshots.timeSpec(spec).map(_._2).getOrElse(spec)

  /** The viewed relation extended with each transform group's derived
    * unit column — the ONE place the derivation lives; everything
    * downstream (digest, algebra, companions, recounts) sees plain
    * stored columns.
    */
  private def withGroupCols(df: DataFrame, groupCols: Seq[String]): DataFrame =
    groupCols.foldLeft(df)((d, g) => Snapshots.timeSpec(g) match {
      case Some((u, c)) =>
        d.withColumn(groupStored(g), Snapshots.timeTransformCol(u, col(c)))
      case None => d
    })

  /** The time-group Column a query must group by for TRANSPARENT ROUTING
    * to a `days(ts)`-grouped view ([[graft.sources.MvRoute]] matches
    * this exact form semantically): the same epoch-unit expression the
    * engine's cluster layouts and MV maintenance compute.
    */
  def timeGroup(unit: String, column: String): Column =
    Snapshots.timeTransformCol(unit, col(column))

  private def defPath(root: String) = new Path(root, "_mv/def")

  private def gk(groupCols: Seq[String]): Column =
    md5(to_json(struct(groupCols.map(col): _*)))

  /** The (group tuple, value) digest — the distinct-count companion's
    * merge key, null-safe and composite-safe exactly like [[gk]].
    */
  private def vk(groupCols: Seq[String], valueCol: String): Column =
    md5(to_json(struct((groupCols :+ valueCol).map(col): _*)))

  /** The VALUE-ALONE digest (`__vd`), stored beside [[vk]] on every
    * companion row: [[vk]] identifies a value only WITHIN its group, so
    * rolling distinct counts up across groups needs this — routing's
    * exact-rollup rewrite is `count(DISTINCT __vd)` over the matched
    * groups' companion rows ([[graft.sources.MvRoute]]). Same digest
    * discipline as [[gk]]/[[vk]]; companion values are non-null by
    * construction.
    */
  private def vd(valueCol: String): Column =
    md5(to_json(struct(col(valueCol).as("v"))))

  /** Where a distinct-count companion table lives: a snapshot table of
    * its own NESTED under the MV root (`_dv/<col>`), so dropping the MV
    * root drops its companions with it. The MV root's own maintenance
    * never touches it — expire/vacuum operate on `data/`, `_snapshots/`
    * and `_cdf/` only.
    */
  private[graft] def dvRoot(mvRoot: String, c: String): String = s"$mvRoot/_dv/$c"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def checkDefField(v: Any): Unit = v match {
    case s: String => require(!s.contains("\n"), "definition fields cannot hold newlines")
    case o: Option[_] => o.foreach(checkDefField)
    case cols: Seq[_] => cols.foreach(c => require(
      !c.toString.exists(ch => ch == ',' || ch == '\n'),
      s"column name '$c' cannot hold ',' or newline"))
  }

  private def writeDefLines(spark: SparkSession, root: String, lines: Seq[String]): Unit = {
    val f = fs(spark, root)
    val p = defPath(root)
    require(!f.exists(p), s"$root is already a materialized view (found ${p}); " +
      "drop the root to redefine")
    // staged write + atomic rename: a crashed create leaves no def, so
    // the root never looks like a half-defined MV
    val tmp = new Path(root, s"_mv/.def.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, false)
    try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(f.rename(tmp, p), s"could not commit MV definition at $p")
  }

  private def writeDef(spark: SparkSession, root: String, d: Definition): Unit = {
    d.productIterator.foreach(checkDefField)
    writeDefLines(spark, root, Seq(
      s"base=${d.baseRoot}",
      s"keys=${d.baseKeyCols.mkString(",")}",
      s"groups=${d.groupCols.mkString(",")}",
      s"sums=${d.sumCols.mkString(",")}",
      s"minmax=${d.minMaxCols.mkString(",")}",
      s"nd=${d.distinctCols.mkString(",")}",
      s"approxnd=${d.approxCols.mkString(",")}",
      s"approxq=${d.quantileCols.mkString(",")}") ++
      d.filterSql.map(w => s"where=$w"))
  }

  private def writeJoinDef(spark: SparkSession, root: String, d: JoinDefinition): Unit = {
    d.productIterator.foreach(checkDefField)
    writeDefLines(spark, root, Seq(
      "kind=join",
      s"lbase=${d.leftRoot}",
      s"lkeys=${d.leftKeyCols.mkString(",")}",
      s"ljoin=${d.joinLeft}",
      s"rbase=${d.rightRoot}",
      s"rkeys=${d.rightKeyCols.mkString(",")}",
      s"rjoin=${d.joinRight}",
      s"groups=${d.groupCols.mkString(",")}",
      s"sums=${d.sumCols.mkString(",")}",
      s"minmax=${d.minMaxCols.mkString(",")}",
      s"nd=${d.distinctCols.mkString(",")}",
      s"approxnd=${d.approxCols.mkString(",")}",
      s"approxq=${d.quantileCols.mkString(",")}") ++
      d.filterSql.map(w => s"where=$w"))
  }

  /** Parsed definitions cached by (path, length, mtime) — a definition
    * is written once and immutable, but roots can be dropped and
    * recreated, so the on-disk stamp keys the entry (the manifest
    * cache's discipline). Matters because the ROUTING rule consults
    * definitions at PLAN time, per candidate aggregate — without the
    * cache every optimizer pass would re-read the def file.
    */
  private val defCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Map[String, String]]()

  private def defKv(spark: SparkSession, mvRoot: String): Map[String, String] = {
    val f = fs(spark, mvRoot)
    val p = defPath(mvRoot)
    val st = try f.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"requirement failed: $mvRoot is not a materialized view (no ${p}) — Mv.create it")
    }
    defCache.computeIfAbsent((p.toString, st.getLen, st.getModificationTime), _ => {
      val in = f.open(p)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
        buf.toString("UTF-8")
      } finally in.close()
      text.linesIterator.map { l =>
        val i = l.indexOf('=')
        require(i > 0, s"malformed MV definition line: $l")
        l.take(i) -> l.drop(i + 1)
      }.toMap
    })
  }

  private def defCols(kv: Map[String, String], k: String): Seq[String] =
    kv(k).split(",", -1).toSeq.filter(_.nonEmpty)

  // absent on pre-feature definitions — they maintain none / filter nothing
  private def defColsOpt(kv: Map[String, String], k: String): Seq[String] =
    kv.get(k).map(_.split(",", -1).toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private def defWhere(kv: Map[String, String]): Option[String] =
    kv.get("where").filter(_.nonEmpty)

  /** The stored [[Definition]] of an MV root; fails loudly when the root
    * was never [[create]]d as one (or is a join MV — see
    * [[joinDefinition]]).
    */
  def definition(spark: SparkSession, mvRoot: String): Definition = {
    val kv = defKv(spark, mvRoot)
    require(!kv.contains("kind"),
      s"$mvRoot is a ${kv.getOrElse("kind", "")} materialized view — use " +
        "Mv.refreshJoin (join) / Mv.refreshJoin3 (join3), not Mv.refresh")
    Definition(kv("base"), defCols(kv, "keys"), defCols(kv, "groups"),
      defCols(kv, "sums"), defColsOpt(kv, "minmax"), defColsOpt(kv, "nd"),
      defColsOpt(kv, "approxnd"), defColsOpt(kv, "approxq"), defWhere(kv))
  }

  /** Whether the MV root stores a join definition ([[createJoin]]) —
    * the dispatch bit for generic callers (the SQL `refresh_mv`
    * procedure serves both kinds through it).
    */
  def isJoin(spark: SparkSession, mvRoot: String): Boolean =
    defKv(spark, mvRoot).get("kind").contains("join")

  /** The stored [[JoinDefinition]] of a join-MV root. */
  def joinDefinition(spark: SparkSession, mvRoot: String): JoinDefinition = {
    val kv = defKv(spark, mvRoot)
    require(kv.get("kind").contains("join"),
      s"$mvRoot is a ${kv.getOrElse("kind", "single-base")} materialized view " +
        "— use Mv.refresh (single-base) / Mv.refreshJoin3 (join3), not refreshJoin")
    JoinDefinition(kv("lbase"), defCols(kv, "lkeys"), kv("ljoin"),
      kv("rbase"), defCols(kv, "rkeys"), kv("rjoin"),
      defCols(kv, "groups"), defCols(kv, "sums"),
      defColsOpt(kv, "minmax"), defColsOpt(kv, "nd"),
      defColsOpt(kv, "approxnd"), defColsOpt(kv, "approxq"), defWhere(kv))
  }

  /** Create the MV: compute the grouped count/sum over the base's CURRENT
    * version and publish it as a fresh snapshot table at `mvRoot`, with
    * that base version recorded as the batch id (the refresh watermark).
    * `mvBuckets` bucket-clusters the MV on the group digest so refresh
    * merges probe only touched buckets.
    *
    * `minMaxCols` adds maintained `min_<c>`/`max_<c>` columns, HYBRID:
    * an insert-only refresh combines them algebraically (exact — a new
    * value can only extend the envelope), and any refresh that RETRACTS
    * from a group recounts that group's min/max from the current base —
    * FILE-pruned to the retracted groups' cluster dirs when the base is
    * clustered on a group column ([[groupProbe]]), row-pruned within
    * them, and reported either way (`Refresh.recountGroups` /
    * `recountPruned`; a retracted minimum is not invertible — the
    * recount is declared, never silent). min/max are exact SELECTIONS,
    * so float/double columns are fine here even though sums refuse
    * them.
    *
    * `distinctCols` adds maintained `nd_<c>` = COUNT(DISTINCT c)
    * columns, ALWAYS incremental via per-column companion tables (see
    * the object doc); `approxDistinctCols` adds a per-group DataSketches
    * HLL sketch (`hll_<c>`, min/max's hybrid discipline — exact union on
    * inserts, recount under retraction); `approxQuantileCols` adds a
    * per-group KLL sketch (`kll_<c>`, same hybrid discipline; per-type —
    * double/float/bigint — so routed quantiles stay type-exact);
    * `where` restricts the view to σ(base) — all validated here
    * (existence, exact types, resolvable predicate), so a typo reports
    * the contract at create, not mid-refresh. Returns the MV version (1).
    */
  def create(spark: SparkSession, mvRoot: String, baseRoot: String,
      baseKeyCols: Seq[String], groupCols: Seq[String], sumCols: Seq[String],
      mvBuckets: Int = 64, minMaxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil, where: Option[String] = None,
      approxDistinctCols: Seq[String] = Nil,
      approxQuantileCols: Seq[String] = Nil): Int = {
    require(groupCols.nonEmpty, "an MV needs group columns")
    require(baseKeyCols.nonEmpty, "an MV needs the base table's unique row key " +
      "(CDF classification; see Snapshots.changes)")
    require(groupCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      sumCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      minMaxCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      distinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxDistinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxQuantileCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty,
      s"'$GkCol'/'$VkCol'/'$TombCol'/'$MmStaleCol' are reserved MV columns")
    val baseVs = Snapshots.versions(spark, baseRoot)
    require(baseVs.nonEmpty, s"base $baseRoot has no published snapshot versions")
    val w = baseVs.last
    // after the nonEmpty check, so an empty base reports the contract
    // error above, not a reader failure from inside the type check;
    // schemaOf is a manifest read (no scan)
    val baseSchema = Snapshots.schemaOf(spark, baseRoot, w)
    val plainGroups = groupCols.filter(g => Snapshots.timeSpec(g).isEmpty)
    requireDefCols(baseSchema, baseKeyCols, plainGroups, sumCols, minMaxCols,
      s"base $baseRoot", distinctCols ++ approxDistinctCols)
    requireTransformGroups(baseSchema, groupCols, s"base $baseRoot")
    requireExactSums(baseSchema, sumCols)
    requireDistinctCols(baseSchema, plainGroups, distinctCols)
    requireApproxCols(baseSchema, plainGroups, approxDistinctCols)
    requireQuantileCols(baseSchema, plainGroups, approxQuantileCols)
    requireFilter(Snapshots.read(spark, baseRoot, Some(w)), where)
    // a crashed create (def committed, first top publish never happened)
    // leaves a def with zero versions — recoverable, not a conflict; a
    // half-built companion set goes with it (companions publish before
    // the top, so "no top versions" proves the create never finished)
    if (fs(spark, mvRoot).exists(defPath(mvRoot)) &&
        Snapshots.versions(spark, mvRoot).isEmpty) {
      fs(spark, mvRoot).delete(defPath(mvRoot), false)
      fs(spark, mvRoot).delete(new Path(mvRoot, "_dv"), true)
    }
    writeDef(spark, mvRoot, Definition(baseRoot, baseKeyCols, groupCols,
      sumCols, minMaxCols, distinctCols, approxDistinctCols,
      approxQuantileCols, where))
    val storedGroups = groupCols.map(groupStored)
    val rel = withGroupCols(
      filtered(Snapshots.read(spark, baseRoot, Some(w)), where), groupCols)
    distinctCols.foreach(c =>
      publishCompanion(spark, mvRoot, c, storedGroups, rel, batchId = w,
        buckets = mvBuckets))
    val mv0 = IncrementalView.countSum(rel, storedGroups, sumCols, minMaxCols,
      distinctCols, approxDistinctCols, approxQuantileCols)
      .withColumn(GkCol, gk(storedGroups))
    Snapshots.publishStreamBatch(spark, mvRoot, mv0, batchId = w,
      append = false, clusterBy = Some(s"bucket($mvBuckets,$GkCol)"))
      .getOrElse(sys.error(s"fresh MV root $mvRoot already carries batch ids"))
  }

  /** Every column the definition references must EXIST in the base
    * schema at create time — a typo'd group/key/min-max column must
    * report the contract here, not surface as a raw unresolved-column
    * analysis error from the first aggregate or refresh.
    */
  private def requireDefCols(schema: org.apache.spark.sql.types.StructType,
      baseKeyCols: Seq[String], groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String], what: String,
      distinctCols: Seq[String] = Nil): Unit = {
    val have = schema.fieldNames.toSet
    val missing = (baseKeyCols ++ groupCols ++ sumCols ++ minMaxCols ++ distinctCols)
      .distinct.filterNot(have)
    require(missing.isEmpty,
      s"MV definition references column(s) ${missing.mkString(", ")} that " +
        s"$what does not carry (has: ${schema.fieldNames.mkString(", ")})")
  }

  /** Time-transform group contract, checked at create: the source column
    * must exist and be a date/timestamp (the transform is a calendar
    * coarsening, not an arbitrary expression), and the derived storage
    * name must not shadow a base column.
    */
  private def requireTransformGroups(schema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String], what: String): Unit = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    groupCols.foreach(g => Snapshots.timeSpec(g).foreach { case (_, c) =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined,
        s"MV group '$g' references column $c that $what does not carry")
      require(Seq(DateType, TimestampType, TimestampNTZType).contains(f.get.dataType),
        s"MV group '$g' needs a date/timestamp column; $c is ${f.get.dataType.sql}")
      require(!schema.fieldNames.contains(groupStored(g)),
        s"MV group '$g' would store as '${groupStored(g)}', which $what " +
          "already carries — rename the base column")
    })
  }

  /** EXACT sum types only: the incremental algebra retract/applies per
    * refresh, and float/double sums would drift by ulps on every cycle —
    * silently, cumulatively, away from what a recompute (or the declared
    * full fallback) reports. The bucket layout excludes floats for the
    * same reason (±0.0 key ambiguity); refusal over silent drift.
    */
  private def requireExactSums(schema: org.apache.spark.sql.types.StructType,
      sumCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val drifty = sumCols.filter(c => schema.fields.find(_.name == c)
      .exists(f => f.dataType == FloatType || f.dataType == DoubleType))
    require(drifty.isEmpty,
      s"MV sum columns must be exact types (integral/decimal): ${drifty.mkString(", ")} " +
        "are float/double, whose incremental refresh drifts by ulps per cycle — " +
        "sum a scaled integral column (e.g. cents) instead")
  }

  /** Distinct-count contract, checked at create: each column must be
    * disjoint from the group columns (COUNT(DISTINCT g) grouped by g is
    * 1 by construction — a definition bug, not a view), an exact type
    * (float/double value EQUALITY is engine-ambiguous: ±0.0 and NaN
    * normalize differently across engines, so a float distinct count is
    * not oracle-stable), and a path-safe name (each column names its
    * companion table's directory under `_dv/`).
    */
  private def requireDistinctCols(schema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String], distinctCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    require(distinctCols.distinct.size == distinctCols.size,
      s"duplicate distinct-count column in ${distinctCols.mkString(", ")}")
    val grouped = distinctCols.filter(groupCols.contains)
    require(grouped.isEmpty,
      s"distinct-count column(s) ${grouped.mkString(", ")} are group columns — " +
        "COUNT(DISTINCT) of a group key is 1 on every row of the view")
    val floaty = distinctCols.filter(c => schema.fields.find(_.name == c)
      .exists(f => f.dataType == FloatType || f.dataType == DoubleType))
    require(floaty.isEmpty,
      s"distinct-count columns must be exact types: ${floaty.mkString(", ")} " +
        "are float/double, whose value equality (±0.0, NaN) is engine-ambiguous — " +
        "count a scaled integral or string form instead")
    val unsafe = distinctCols.filterNot(_.matches("[A-Za-z0-9_]+"))
    require(unsafe.isEmpty,
      s"distinct-count column name(s) ${unsafe.mkString(", ")} must match " +
        "[A-Za-z0-9_]+ — each names its companion table's directory")
  }

  /** Approximate-distinct contract, checked at create: each column must
    * be disjoint from the group columns (same argument as exact nd) and
    * inside the DataSketches HLL input domain (int/bigint/string/
    * binary — the hash the sketch updates from is defined on exactly
    * these).
    */
  private def requireApproxCols(schema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String], approxCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
    require(approxCols.distinct.size == approxCols.size,
      s"duplicate approx-distinct column in ${approxCols.mkString(", ")}")
    val grouped = approxCols.filter(groupCols.contains)
    require(grouped.isEmpty,
      s"approx-distinct column(s) ${grouped.mkString(", ")} are group columns — " +
        "APPROX_COUNT_DISTINCT of a group key is 1 on every row of the view")
    val ok: Set[org.apache.spark.sql.types.DataType] =
      Set(IntegerType, LongType, StringType, BinaryType)
    val bad = approxCols.filter(c => schema.fields.find(_.name == c)
      .exists(f => !ok.contains(f.dataType)))
    require(bad.isEmpty,
      s"approx-distinct columns must be int/bigint/string/binary " +
        s"(the DataSketches HLL input domain): ${bad.mkString(", ")}")
  }

  /** Approx-quantile contract, checked at create: each column must be
    * disjoint from the group columns (a quantile of a group key is that
    * key on every row) and a numeric type the DataSketches KLL family
    * covers (double/float/bigint — the sketch and its get-quantile are
    * per-type, which is also what keeps routing type-exact).
    */
  private def requireQuantileCols(schema: org.apache.spark.sql.types.StructType,
      groupCols: Seq[String], quantileCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}
    require(quantileCols.distinct.size == quantileCols.size,
      s"duplicate approx-quantile column in ${quantileCols.mkString(", ")}")
    val grouped = quantileCols.filter(groupCols.contains)
    require(grouped.isEmpty,
      s"approx-quantile column(s) ${grouped.mkString(", ")} are group columns — " +
        "every row of the view carries the key itself")
    val ok: Set[org.apache.spark.sql.types.DataType] =
      Set(DoubleType, FloatType, LongType)
    val bad = quantileCols.filter(c => schema.fields.find(_.name == c)
      .exists(f => !ok.contains(f.dataType)))
    require(bad.isEmpty,
      s"approx-quantile columns must be double/float/bigint " +
        s"(the DataSketches KLL input domain): ${bad.mkString(", ")}")
  }

  /** A row filter's SQL must parse and resolve against the viewed
    * relation AT CREATE — a typo'd predicate must report the contract
    * here, not surface as an analysis error from the first refresh.
    */
  private def requireFilter(rel: DataFrame, where: Option[String]): Unit =
    where.foreach { w =>
      require(!w.contains("\n"), "MV filter cannot hold newlines")
      try rel.where(expr(w)).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"MV filter '$w' does not resolve against the viewed relation: ${e.getMessage}")
      }
    }

  private def filtered(rel: DataFrame, where: Option[String]): DataFrame =
    where.map(w => rel.where(expr(w))).getOrElse(rel)

  /** Build and publish ONE distinct-count companion from the viewed
    * relation (create and the declared full fallback both land here):
    * one row per (group tuple, non-null value) with its row count,
    * merge-keyed by the (group,value) digest and bucket-clustered on
    * the GROUP digest — so a refresh's companion read AND its merge
    * probe both stay at touched-group-bucket granularity (mergeByKey's
    * bucket prune fires because the cluster column is a merge key).
    */
  private def publishCompanion(spark: SparkSession, mvRoot: String, c: String,
      groupCols: Seq[String], rel: DataFrame, batchId: Long, buckets: Int): Unit = {
    // __vd rides in the grouping (functionally determined by __vk — the
    // value digest of the pair's value), stored so routing can dedup
    // values ACROSS groups for the exact-rollup rewrite
    val comp = rel.where(col(c).isNotNull)
      .groupBy(gk(groupCols).as(GkCol), vk(groupCols, c).as(VkCol),
        vd(c).as(VdCol))
      .agg(count(lit(1)).as("vcount"))
    Snapshots.publishStreamBatch(spark, dvRoot(mvRoot, c), comp,
      batchId = batchId, append = false,
      clusterBy = Some(s"bucket($buckets,$GkCol)"))
    ()
  }

  /** Maintain ONE distinct-count companion from a refresh's change feed
    * and return the fresh per-group `nd` for EVERY touched group (one
    * row each, explicit zeros included — the caller's overlay coalesces
    * onto the stored value for untouched groups). This is the classic
    * two-level view maintenance that makes COUNT(DISTINCT) exactly and
    * ALWAYS incremental — no recount under retraction, unlike min/max:
    * the companion stores, per (group, value), how many viewed rows
    * carry that value, so the per-value delta (a signed sum over the
    * feed) updates it exactly in both directions, and the group's
    * distinct count is simply its surviving companion rows.
    *
    * Cost: O(feed) to delta + O(touched groups' companion buckets) to
    * read and merge — the same granularity as the MV apply itself.
    *
    * Crash-replay: the companion commits BEFORE the top MV. A refresh
    * replayed after a crash between the two commits finds the companion
    * already AT the target batch id — it recomputes the per-group
    * counts from the companion's current (already-applied) state and
    * merges nothing twice; the deterministic CDF guarantees the same
    * touched-group set on replay. If the BASE ADVANCED past the crash
    * window before the re-run (companion at some mid batch id strictly
    * between the top's watermark and the new target), the incoming feed
    * overlaps what the companion already absorbed — applying it would
    * double-count the overlap — so the companion REBUILDS from the
    * current viewed relation (`rebuildRel`) instead: a declared
    * O(viewed relation) recovery on a crash-shaped path, never a
    * silently inflated count.
    */
  private def maintainDistinct(spark: SparkSession, mvRoot: String, c: String,
      groupCols: Seq[String], cdf: DataFrame, touched: DataFrame,
      batchId: Long, topWatermark: Long,
      rebuildRel: () => DataFrame,
      touchedBuckets: Option[(Int, Set[String])] = None): DataFrame = {
    val compRoot = dvRoot(mvRoot, c)
    val compVs = Snapshots.versions(spark, compRoot)
    require(compVs.nonEmpty,
      s"$mvRoot maintains count(distinct $c) but its companion at $compRoot " +
        "has no versions — a crashed create; drop the MV root and recreate")
    val compV = compVs.last
    if (!Snapshots.schemaOf(spark, compRoot, compV).fieldNames.contains(VdCol))
      Snapshots.outdatedFormat(s"count(distinct $c) companion at $compRoot",
        s"no $VdCol value digest", "drop and recreate the MV")
    val compLast = Snapshots.lastBatchId(spark, compRoot).getOrElse(sys.error(
      s"companion $compRoot carries no batch id — was it written outside Mv?"))
    require(compLast <= batchId,
      s"companion $compRoot is AHEAD of the refresh target ($compLast > $batchId) " +
        "— single-writer contract broken")
    val replay = compLast == batchId
    if (!replay && compLast != topWatermark) {
      // the crash window PLUS a base advance: the companion sits at a mid
      // batch id (it absorbed topWatermark..compLast; the top merge never
      // landed), while this feed spans topWatermark..batchId — the
      // overlap would double-apply. Rebuild from the viewed relation.
      val rel = rebuildRel()
      val comp = rel.where(col(c).isNotNull)
        .groupBy(gk(groupCols).as(GkCol), vk(groupCols, c).as(VkCol),
          vd(c).as(VdCol))
        .agg(count(lit(1)).as("vcount"))
      val buckets = mvBucketsOf(spark, compRoot)
        .orElse(mvBucketsOf(spark, mvRoot)).getOrElse(64)
      Snapshots.publishStreamBatch(spark, compRoot, comp, batchId = batchId,
        append = false, clusterBy = Some(s"bucket($buckets,$GkCol)"))
      val nd = touched.select(col(GkCol))
        .join(comp.where(col("vcount") > 0).groupBy(col(GkCol))
          .agg(count(lit(1)).as("__nd")), Seq(GkCol), "left")
        .select(col(GkCol), coalesce(col("__nd"), lit(0L)).as(s"__nd_$c"))
        .persist()
      nd.count()
      return nd
    }
    // the companion files that can hold a touched group's values: its own
    // bucket header names them (the same routing as the MV's apply read).
    // The caller's already-collected MV bucket set is reused when the
    // counts agree (they are created equal) — no extra collect job.
    val compFiles = Snapshots.files(spark, compRoot, compV)
    val inBuckets = Snapshots.clusterOf(spark, compRoot, compV)
      .flatMap(Snapshots.bucketSpec) match {
      case Some((n, k)) if k == GkCol =>
        val hit = touchedBuckets match {
          case Some((mn, set)) if mn == n => set
          case _ => touched
            .select(pmod(hash(col(GkCol)), lit(n)).cast("string").as("__b"))
            .distinct().collect().map(_.getString(0)).toSet
        }
        val dirRe = "__cluster=([^/]+)/".r
        compFiles.filter(f => dirRe.findFirstMatchIn(f).forall(m => hit(m.group(1))))
      case _ => compFiles
    }
    // whole-BUCKET granularity, like the MV apply read itself: no
    // row-level semi-join down to the touched groups. A colliding
    // bucket's untouched (group, value) rows ride through the state
    // combine unchanged and re-upsert their identical rows — which makes
    // the merge delta COVERING (every key in any candidate file has a
    // delta row), so the CoW merge skips its probe and survivor scans.
    // Net: the candidate files are read ONCE (here) instead of three
    // times (state read + probe + anti-join).
    val oldTouched = Snapshots.readFiles(spark, compRoot, inBuckets,
      Snapshots.schemaOf(spark, compRoot, compV))
    // every touched group gets a row — a group whose last value vanished
    // reports nd = 0, which the overlay must SEE (a missing row would
    // fall back to the stale stored count)
    def ndOf(state: DataFrame): DataFrame =
      touched.select(col(GkCol))
        .join(state.where(col("vcount") > 0).groupBy(col(GkCol))
          .agg(count(lit(1)).as("__nd")), Seq(GkCol), "left")
        .select(col(GkCol), coalesce(col("__nd"), lit(0L)).as(s"__nd_$c"))
    if (replay) ndOf(oldTouched)
    else {
      val sign = when(col("change").isin("insert", "update_postimage"), lit(1L))
        .when(col("change").isin("delete", "update_preimage"), lit(-1L))
      val dvdKeys = Seq(gk(groupCols).as(GkCol), vk(groupCols, c).as(VkCol),
        vd(c).as(VdCol))
      val dvd = cdf.withColumn("__sign", sign)
        .where(col("__sign").isNotNull && col(c).isNotNull)
        .groupBy(dvdKeys: _*)
        .agg(sum(col("__sign")).as("__dn"))
        .where(col("__dn") =!= 0L)
      val o = oldTouched.alias("__do")
      val dd = dvd.alias("__dd")
      val mergedCols = Seq(
        coalesce(col(s"__do.$GkCol"), col(s"__dd.$GkCol")).as(GkCol),
        coalesce(col(s"__do.$VkCol"), col(s"__dd.$VkCol")).as(VkCol),
        coalesce(col(s"__do.$VdCol"), col(s"__dd.$VdCol")).as(VdCol),
        (coalesce(col("__do.vcount"), lit(0L)) +
          coalesce(col("__dd.__dn"), lit(0L))).as("vcount"),
        col("__dd.__dn").isNotNull.as("__chg"))
      val stateNew = o.join(dd, col(s"__do.$VkCol") === col(s"__dd.$VkCol"),
          "full_outer")
        .select(mergedCols: _*)
        .persist()
      try {
        // a sound feed can never retract a value below zero — going
        // negative means the companion state diverged from the base
        // (external writes); refuse over a silently wrong count
        require(stateNew.where(col("vcount") < 0).limit(1).collect().isEmpty,
          s"count(distinct $c) companion at $compRoot would go NEGATIVE for a " +
            "(group,value) pair — the feed retracts values it never counted " +
            "(state diverged; drop and recreate the MV)")
        val writeCols = Seq(col(GkCol), col(VkCol), col(VdCol), col("vcount"),
          (col("vcount") === 0L).as(TombCol))
        // ALL of stateNew merges, not just the changed rows: unchanged
        // pairs re-upsert identically (they live in files the bucket
        // merge rewrites anyway), and in exchange the delta COVERS every
        // key in the candidate files, so the merge skips its probe and
        // survivor scans (coveringDelta)
        Snapshots.mergeStreamBatch(spark, compRoot,
          stateNew.select(writeCols: _*),
          batchId = batchId, keyCols = Seq(GkCol, VkCol),
          tombstoneCol = Some(TombCol), coveringDelta = true)
        val nd = ndOf(stateNew).persist()
        nd.count() // materialize before the source state unpersists
        nd
      } finally stateNew.unpersist()
    }
  }

  /** The MV's rows (group columns + `n_rows` + `sum_<c>`/`nn_<c>`), the
    * internal merge digest dropped. `deriveAvg = true` additionally
    * derives `avg_<c> = sum_<c> / nn_<c>` (double, NULL on an all-NULL
    * group) for every summed column — avg is DERIVED at read from the
    * exactly-maintained count+sum, never stored, so it carries no
    * refresh drift of its own.
    */
  def read(spark: SparkSession, mvRoot: String, deriveAvg: Boolean = false): DataFrame = {
    val base = Snapshots.read(spark, mvRoot).drop(GkCol)
    if (!deriveAvg) base
    else defCols(defKv(spark, mvRoot), "sums").foldLeft(base)((df, c) =>
      df.withColumn(s"avg_$c",
        when(col(s"nn_$c") > 0,
          col(s"sum_$c").cast("double") / col(s"nn_$c").cast("double"))))
  }

  /** Bring the MV up to the base table's current version.
    *
    *   - already current → `noop`, nothing published;
    *   - watermark and head both dv-free and the watermark version still
    *     retained → `incremental`: ONE change feed over the base's
    *     changed files classifies every row-level change; the view delta
    *     applies to the touched groups only; groups whose count reaches
    *     zero tombstone away; the merge commits with the new base version
    *     as the batch id (replays merge nothing);
    *   - watermark expired, or merge-on-read delete vectors outstanding
    *     at either end (the CDF reads files raw) → declared `full`
    *     recompute: a replacement MV version through the dv-aware read,
    *     same batch-id contract.
    *
    * Cost: incremental = O(changed base files) to classify +
    * O(touched groups) to apply + a CoW merge probing only the touched
    * `__gk` buckets; full = one base scan (the honest fallback, recorded
    * in the report — never silent).
    */
  def refresh(spark: SparkSession, mvRoot: String): Refresh = {
    val d = definition(spark, mvRoot)
    val w = Snapshots.lastBatchId(spark, mvRoot).getOrElse(
      sys.error(s"$mvRoot carries no refresh watermark (batch id) — " +
        "was it published outside Mv.create?")).toInt
    val baseVs = Snapshots.versions(spark, d.baseRoot)
    require(baseVs.nonEmpty, s"base ${d.baseRoot} has no versions")
    val cur = baseVs.last
    // the definition must still be satisfiable: schema evolution may
    // have dropped a grouped/summed/key column — refuse with the
    // contract, not a raw unresolved-column error mid-plan
    val have = Snapshots.schemaOf(spark, d.baseRoot, cur).fieldNames.toSet
    val missing = (d.baseKeyCols ++ d.groupCols.map(groupSource) ++ d.sumCols ++
      d.minMaxCols ++ d.distinctCols ++ d.approxCols ++ d.quantileCols)
      .filterNot(have)
    require(missing.isEmpty,
      s"MV definition references column(s) ${missing.mkString(", ")} that " +
        s"base ${d.baseRoot} v$cur no longer carries — drop and redefine the MV")
    if (cur <= w) return Refresh("noop", w, w, 0L, None)

    val storedGroups = d.groupCols.map(groupStored)
    val canDiff = baseVs.contains(w) &&
      !Snapshots.hasDeleteVectors(spark, d.baseRoot, w) &&
      !Snapshots.hasDeleteVectors(spark, d.baseRoot, cur)
    if (!canDiff) {
      val rel = withGroupCols(
        filtered(Snapshots.read(spark, d.baseRoot, Some(cur)), d.filterSql),
        d.groupCols)
      val buckets = mvBucketsOf(spark, mvRoot)
      // companions rebuild first (same order as the incremental path):
      // a crash before the top publish replays into batch-id skips
      d.distinctCols.foreach(c =>
        publishCompanion(spark, mvRoot, c, storedGroups, rel, batchId = cur,
          buckets = mvBucketsOf(spark, dvRoot(mvRoot, c)).orElse(buckets)
            .getOrElse(64)))
      val mv = IncrementalView.countSum(rel, storedGroups, d.sumCols,
        d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols)
        .withColumn(GkCol, gk(storedGroups))
      val v = Snapshots.publishStreamBatch(spark, mvRoot, mv, batchId = cur,
        append = false, clusterBy = buckets.map(n => s"bucket($n,$GkCol)"))
      // group count from the published manifest's `#rows=` lines — the
      // aggregate already ran once for the publish, don't run it twice
      val groups = v.flatMap(ver =>
        Snapshots.countRows(spark, mvRoot, Some(ver))).getOrElse(0L)
      return Refresh("full", w, cur, groups, v)
    }

    // the filter commutes with the signed algebra row-wise: an update
    // whose preimage matched and postimage does not NETS to a delete of
    // the view row (and vice versa), exactly σ(base)'s own change feed;
    // transform groups derive their unit per CDF row (the unit is a
    // function of the row, so it classifies with it)
    val cdf = withGroupCols(filtered(Snapshots.changes(spark, d.baseRoot, w, cur,
      d.baseKeyCols, preImages = true), d.filterSql), d.groupCols).persist()
    try {
      // every group the feed touches, once — both the apply target and
      // the tombstone candidate set
      val touched = cdf.select(
        (gk(storedGroups).as(GkCol) +: storedGroups.map(col)): _*).distinct().persist()
      try {
        // min/max recount relation, built ON DEMAND from the distinct
        // retracted group tuples: file-pruned to those groups' cluster
        // dirs when the base is clustered on (a subset of) the group
        // columns — the same header-routing machinery as [[bucketProbe]]
        // — then row-pruned null-safe within the probed files. The probe
        // is a fresh read (no cdf lineage), so the semi-join against the
        // delta-descended group set is unambiguous.
        val recountOf: DataFrame => (DataFrame, Boolean) = { retracted =>
          val (probed, pruned) =
            groupProbe(spark, d.baseRoot, cur, d.groupCols, retracted)
          (semiOnGroups(
            withGroupCols(filtered(probed, d.filterSql), d.groupCols),
            retracted, storedGroups), pruned)
        }
        val a = applyDelta(spark, mvRoot, storedGroups, d.sumCols,
          cdf, touched, batchId = cur, minMaxCols = d.minMaxCols,
          recountFrom = Some(recountOf), distinctCols = d.distinctCols,
          approxCols = d.approxCols, quantileCols = d.quantileCols,
          topWatermark = w.toLong,
          rebuildRel = Some(() => withGroupCols(
            filtered(Snapshots.read(spark, d.baseRoot, Some(cur)), d.filterSql),
            d.groupCols)))
        Refresh("incremental", w, cur, a.groups, a.mvVersion,
          a.recountGroups, a.recountPruned)
      } finally touched.unpersist()
    } finally cdf.unpersist()
  }

  /** `rel` restricted to exactly the group tuples in `keys` — null-safe
    * on the raw group columns (a NULL group retracts like any other).
    * Aliased so a fresh-read left side joins a delta-descended key set
    * without ambiguous references.
    */
  private def semiOnGroups(rel: DataFrame, keys: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val l = rel.alias("__rp")
    val r = keys.alias("__rk")
    l.join(r, groupCols.map(c => col(s"__rp.$c") <=> col(s"__rk.$c"))
      .reduce(_ && _), "left_semi")
  }

  /** One [[applyDelta]] outcome: groups the feed touched, the MV version
    * published (None on a replay), and the min/max recount report
    * (groups recounted; whether the recount read file-pruned).
    */
  private final case class Applied(groups: Long, mvVersion: Option[Int],
      recountGroups: Long = 0L, recountPruned: Boolean = true)

  /** The shared incremental-apply core (single-base and join MVs): apply
    * a signed row-level change feed of the VIEWED relation to the
    * materialized count/sum at touched-bucket granularity, tombstone
    * vanished groups, commit via mergeStreamBatch under `batchId`.
    * `minMaxCols` maintains min/max hybrid: the algebraic combine where
    * the feed only inserted, a per-group recount otherwise —
    * `recountFrom` maps the DISTINCT RETRACTED GROUP TUPLES (raw group
    * columns) to (the viewed relation's rows restricted to at least
    * those groups, whether that read was file-pruned); extra groups in
    * the relation are ignored by the stale-only overlay, so a probe
    * that returns whole colliding cluster dirs stays sound. The MV side
    * still carries every untouched bucket's files by name.
    * `netInsertOnly = true` asserts the feed's retraction rows are
    * synthetic duplicates of values the same feed inserts (the join
    * form's bilinear correction term on raw-insert-only bases), so the
    * algebraic combine is exact and the recount subtree is elided even
    * though negative-signed rows exist.
    */
  private def applyDelta(spark: SparkSession, mvRoot: String,
      groupCols: Seq[String], sumCols: Seq[String],
      cdf: DataFrame, touched: DataFrame, batchId: Long,
      minMaxCols: Seq[String] = Nil,
      recountFrom: Option[DataFrame => (DataFrame, Boolean)] = None,
      netInsertOnly: Boolean = false,
      distinctCols: Seq[String] = Nil,
      approxCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      topWatermark: Long = -1L,
      rebuildRel: Option[() => DataFrame] = None): Applied = {
    // ONE action over the (persisted) touched set serves both the group
    // count and — when the MV is bucket-clustered on __gk — the distinct
    // bucket-dir set the apply read prunes to (collect_set is bounded by
    // the bucket count, so it stays driver-safe): previously two jobs.
    val mvV = Snapshots.versions(spark, mvRoot).last
    val mvBucketSpec = Snapshots.clusterOf(spark, mvRoot, mvV)
      .flatMap(Snapshots.bucketSpec).filter(_._2 == GkCol)
    val touchedAggs = count(lit(1)).as("__nt") +:
      mvBucketSpec.toSeq.map { case (n, _) =>
        collect_set(pmod(hash(col(GkCol)), lit(n)).cast("string")).as("__bk")
      }
    val touchedHead = touched.agg(touchedAggs.head, touchedAggs.tail: _*)
      .collect().head
    val nTouched = touchedHead.getAs[Long]("__nt")
    if (nTouched == 0) {
      // pure rewrite (compaction) under the base: move the watermark
      // with a no-op merge so the next refresh diffs from the new head
      val v = Snapshots.mergeStreamBatch(spark, mvRoot,
        Snapshots.read(spark, mvRoot).limit(0).withColumn(TombCol, lit(false)),
        batchId = batchId, keyCols = Seq(GkCol), tombstoneCol = Some(TombCol))
      return Applied(0L, v)
    }
    // current MV rows at TOUCHED-BUCKET granularity: only files in the
    // touched groups' hash buckets can hold their rows (the same
    // routing agreement the merge's probe prune rests on), so the apply
    // side opens O(touched buckets) files, not the MV. No row-level
    // semi-join against `touched` here — it would embed the CDF's
    // attributes inside the apply join's left branch (an ambiguous
    // self-join); a bucketful's unchanged groups simply re-upsert their
    // identical rows into the files the merge rewrites anyway
    val mvFiles = Snapshots.files(spark, mvRoot, mvV)
    val inBuckets = mvBucketSpec match {
      case Some(_) =>
        val hit = touchedHead.getAs[Seq[String]]("__bk").toSet
        val dirRe = "__cluster=([^/]+)/".r
        mvFiles.filter(f => dirRe.findFirstMatchIn(f).forall(m => hit(m.group(1))))
      case _ => mvFiles
    }
    val mvInBuckets = Snapshots.readFiles(spark, mvRoot, inBuckets,
      Snapshots.schemaOf(spark, mvRoot, mvV))
      .drop(GkCol)
    val counted = IncrementalView.applyCountSum(mvInBuckets, cdf,
      groupCols, sumCols, minMaxCols,
      // stored distinct counts ride through the algebra untouched (NULL
      // for brand-new groups); the companion overlay below replaces them
      // for every touched group
      carryCols = distinctCols.map(c => s"nd_$c"),
      approxCols = approxCols, quantileCols = quantileCols,
      // cdf comes straight from Snapshots.changes(preImages = true) (or
      // the join form's signed algebra over it): never a plain 'update'
      trustPreimages = true)
      .withColumn(GkCol, gk(groupCols))
    val (applied, recGroups, recPruned) =
      if (minMaxCols.isEmpty && approxCols.isEmpty && quantileCols.isEmpty)
        (counted, 0L, true)
      else {
        // min/max recount: the algebraic combine is stale for exactly the
        // groups the feed RETRACTED from (__mm_stale). Recount those — and
        // only those — from the current viewed relation: `recountFrom`
        // file-prunes the read to the retracted groups' cluster dirs
        // where the base layout allows and row-prunes within them, so
        // the recount costs O(retracted groups' rows) — and the report
        // SAYS which bound held (recountGroups / recountPruned). A
        // refresh whose raw feed only inserted skips the recount subtree
        // STRUCTURALLY (one delta-sized emptiness probe — or the
        // caller's netInsertOnly assertion — decides, never touching the
        // viewed relation, not even to plan a scan of it). The recount
        // relation's scan carries NO cdf lineage (a fresh read), so
        // joining it onto the applied frame is not an ambiguous
        // self-join.
        val retracted = cdf
          .filter(col("change").isin("delete", "update_preimage"))
          .select(groupCols.map(col): _*).distinct()
        // one action decides both the structural skip and the group count
        // (isEmpty + count was two passes over the same cdf-derived frame)
        val nRec = if (netInsertOnly) 0L else retracted.count()
        if (nRec == 0L) (counted.drop(MmStaleCol), 0L, true)
        else {
          val (recRel, pruned) = recountFrom.getOrElse(sys.error(
            "minMaxCols set but no recount relation supplied"))(retracted)
          val rAggs = minMaxCols.flatMap(c =>
            Seq(min(col(c)).as(s"__rmin_$c"), max(col(c)).as(s"__rmax_$c"))) ++
            approxCols.map(c =>
              hll_sketch_agg(col(c), IncrementalView.HllLgK).as(s"__rhll_$c")) ++
            quantileCols.map(c => IncrementalView.kllAgg(
              recRel.schema(c).dataType, col(c)).as(s"__rkll_$c"))
          val rec = recRel
            .withColumn(GkCol, gk(groupCols))
            .groupBy(col(GkCol)).agg(rAggs.head, rAggs.tail: _*)
          val keep = counted.columns.filterNot(c => c == MmStaleCol ||
            minMaxCols.exists(mc => c == s"min_$mc" || c == s"max_$mc") ||
            approxCols.exists(ac => c == s"hll_$ac") ||
            quantileCols.exists(qc => c == s"kll_$qc"))
          (counted.join(rec, Seq(GkCol), "left")
            .select((keep.map(col) ++ minMaxCols.flatMap(c => Seq(
              when(col(MmStaleCol), col(s"__rmin_$c")).otherwise(col(s"min_$c"))
                .as(s"min_$c"),
              when(col(MmStaleCol), col(s"__rmax_$c")).otherwise(col(s"max_$c"))
                .as(s"max_$c"))) ++ approxCols.map(c =>
              when(col(MmStaleCol), col(s"__rhll_$c")).otherwise(col(s"hll_$c"))
                .as(s"hll_$c")) ++ quantileCols.map(c =>
              when(col(MmStaleCol), col(s"__rkll_$c")).otherwise(col(s"kll_$c"))
                .as(s"kll_$c"))): _*), nRec, pruned)
        }
      }
    // distinct counts: each companion applies its (group,value) delta
    // exactly (both directions — no recount tier here) and hands back
    // the fresh nd for every touched group; the overlay coalesces onto
    // the carried stored value for the untouched groups re-upserted from
    // the same buckets. Companions commit BEFORE the top merge — the
    // crash-replay contract lives in [[maintainDistinct]].
    // the MV's already-collected touched-bucket set is reusable by any
    // companion bucketed at the SAME count (they are created that way) —
    // saves each companion its own collect over the touched set
    val touchedBuckets: Option[(Int, Set[String])] = mvBucketSpec.map {
      case (n, _) => (n, touchedHead.getAs[Seq[String]]("__bk").toSet)
    }
    val ndFrames: Seq[(String, DataFrame)] =
      distinctCols.map(c => c ->
        maintainDistinct(spark, mvRoot, c, groupCols, cdf, touched, batchId,
          topWatermark, rebuildRel.getOrElse(sys.error(
            "distinctCols set but no rebuild relation supplied")),
          touchedBuckets))
    val withNd = ndFrames.foldLeft(applied) { case (df, (c, nd)) =>
      df.join(nd, Seq(GkCol), "left")
        .withColumn(s"nd_$c", coalesce(col(s"__nd_$c"), col(s"nd_$c"), lit(0L)))
        .drop(s"__nd_$c")
    }
    // groups the feed touched that no longer exist (count hit zero) —
    // EXCEPT, not an anti-join: both sides descend from the CDF, and a
    // set op carries no ambiguous column references
    val gone = touched.select(GkCol).except(applied.select(GkCol))
    val batch = withNd.withColumn(TombCol, lit(false))
      .unionByName(gone.withColumn(TombCol, lit(true)), allowMissingColumns = true)
    // the batch COVERS the merge's candidate files: `counted` descends
    // from a whole-bucket read of the MV at its current version (every
    // unchanged group in a touched bucket re-upserts its identical row),
    // and a group that dropped out of `applied` (count hit zero) is in
    // `gone` — so every key in any touched-bucket file has a delta row,
    // and the merge can skip its probe and survivor scans outright
    val v = Snapshots.mergeStreamBatch(spark, mvRoot, batch, batchId = batchId,
      keyCols = Seq(GkCol), tombstoneCol = Some(TombCol), coveringDelta = true)
    ndFrames.foreach(_._2.unpersist())
    Applied(nTouched, v, recGroups, recPruned)
  }

  /** A base's current rows FILE-pruned to the cluster dirs that can hold
    * the given GROUP tuples — [[bucketProbe]]'s sibling for the min/max
    * recount: when the base's cluster header routes by (a subset of) the
    * group columns — hash bucket, time transform, or identity split dirs
    * — the retracted groups' routing values (bounded by the delta's
    * distinct groups, and by the bucket count / calendar units) name the
    * only `__cluster=` dirs their rows can live in, computed with the
    * SAME expressions the write path routes by. A base clustered on
    * something else (or not at all) degrades to the unpruned read — the
    * second half of the return says which happened, surfaced as
    * [[Refresh]].recountPruned.
    */
  private[graft] def groupProbe(spark: SparkSession, root: String, version: Int,
      groupCols: Seq[String], groups: DataFrame): (DataFrame, Boolean) = {
    val all = Snapshots.files(spark, root, version)
    val spec = Snapshots.clusterOf(spark, root, version)
    // `groups` carries STORED columns: plain group columns by name, a
    // transform group as its derived `<unit>_<col>` value
    val plain = groupCols.filter(g => Snapshots.timeSpec(g).isEmpty)
    val routing: Option[Column] = spec.flatMap { sp =>
      Snapshots.bucketSpec(sp) match {
        case Some((n, c)) if plain.contains(c) =>
          Some(pmod(hash(col(c)), lit(n)).cast("string"))
        case Some(_) => None
        case None => Snapshots.timeSpec(sp) match {
          case Some((unit, c)) if plain.contains(c) =>
            Some(coalesce(Snapshots.timeTransformCol(unit, col(c))
              .cast("string"), lit("null")))
          case Some((unit, c))
              if groupCols.exists(g => Snapshots.timeSpec(g).contains((unit, c))) =>
            // the MV groups by the SAME transform the base clusters on:
            // the retracted tuples' stored unit value IS the dir value
            // the write path routed by
            Some(coalesce(col(s"${unit}_$c").cast("string"), lit("null")))
          case Some(_) => None
          case None =>
            val cc = Snapshots.clusterCols(sp)
            if (cc.nonEmpty && cc.forall(plain.contains))
              Some(md5(to_json(struct(cc.map(col): _*))))
            else None
        }
      }
    }
    val (files, pruned) = routing match {
      case Some(r) =>
        val hit = groups.select(r.as("__b")).distinct()
          .collect().map(_.getString(0)).toSet
        val dirRe = "__cluster=([^/]+)/".r
        (all.filter(f => dirRe.findFirstMatchIn(f).forall(m => hit(m.group(1)))), true)
      case None if plain.nonEmpty =>
        // no group-column routing — ADVISORY footer-stats fallback (the
        // bucketProbe discipline): bound every PLAIN group column by the
        // retracted tuples' min/max envelope (derived transform units
        // have no footer stats of their own); filesWhere passes files
        // without usable stats, so a genuine match never drops. ONLY
        // when no retracted tuple carries a NULL group value — footer
        // stats describe non-null values, so a file holding a retracted
        // NULL group's rows could otherwise prune away. Reported
        // unpruned either way (the envelope is no structural bound).
        val aggs = count(lit(1)).as("__n") +: plain.flatMap(c => Seq(
          count(col(c)).as(s"__nn_$c"),
          min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
        val row = groups.agg(aggs.head, aggs.tail: _*).collect().head
        val n = row.getLong(0)
        val noNulls = plain.indices.forall(i => row.getLong(1 + 3 * i) == n)
        val ranges = plain.zipWithIndex.flatMap { case (c, i) =>
          val (lo, hi) = (row.get(2 + 3 * i), row.get(3 + 3 * i))
          if (lo == null || hi == null) None else Some(c -> ((lo, hi)))
        }.toMap
        if (n > 0 && noNulls && ranges.nonEmpty)
          (Snapshots.filesWhere(spark, root, version, ranges), false)
        else (all, false)
      case None => (all, false)
    }
    (Snapshots.readFiles(spark, root, files,
      Snapshots.schemaOf(spark, root, version)),
      pruned)
  }

  /** Session conf key holding the comma-separated MV roots registered
    * for transparent aggregate routing — see [[register]].
    */
  val RoutesKey = "spark.graft.mv.routes"

  /** Register an MV for TRANSPARENT AGGREGATE ROUTING
    * ([[graft.sources.MvRoute]], injected by `GraftExtensions`): a
    * grouped aggregate over the BASE table whose shape the view covers
    * (grouping = the view's group columns; aggregates drawn from
    * count(*) / sum / count / avg over `sumCols`, min/max over
    * `minMaxCols`, count(DISTINCT) over `distinctCols`) rewrites to a
    * scan of this view; grouping by a SUBSET of the group columns
    * (including none — the global aggregate) rewrites to a compensating
    * re-aggregation OVER the view (|groups| rows, not |base|); a
    * filtered view answers when the query's predicate semantically
    * matches its `where`. Routing happens ONLY while the view is FRESH
    * (its watermark equals the base's head version); a stale or
    * unmatched query keeps its original plan, so routing is never a
    * correctness trade. Session-scoped (a conf entry, not persisted);
    * single-base views only.
    */
  /** register/unregister are READ-MODIFY-WRITES of one shared conf
    * value; concurrent queries in one session (Verify's pool, notebook
    * cells) each registering their own view would otherwise lose each
    * other's entries — a lost registration silently un-routes a live
    * query mid-flight.
    */
  private val routesLock = new Object

  def register(spark: SparkSession, mvRoot: String): Unit = {
    // the registry is a comma-joined conf value: a root carrying a comma
    // (legal in paths) would shred into garbage entries that can never be
    // unregistered — refuse at the door (checkDefField's discipline)
    require(!mvRoot.contains(',') && !mvRoot.contains('\n'),
      s"MV root '$mvRoot' cannot hold ',' or newline — the routing " +
        "registry is a comma-joined session conf value")
    routesLock.synchronized {
      spark.conf.set(RoutesKey, (routes(spark) :+ mvRoot).distinct.mkString(","))
    }
  }

  /** Remove an MV from the routing registry ([[register]]). */
  def unregister(spark: SparkSession, mvRoot: String): Unit =
    routesLock.synchronized {
      spark.conf.set(RoutesKey, routes(spark).filterNot(_ == mvRoot).mkString(","))
    }

  private[graft] def routes(spark: SparkSession): Seq[String] =
    spark.conf.get(RoutesKey, "").split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** The routable definition of an MV root: its single-base
    * [[Definition]] (filtered views route when the query's predicate
    * semantically matches — [[graft.sources.MvRoute]]), or None when
    * the root is not (or no longer) a routable view — join kinds
    * (their freshness is a version TUPLE) and plain missing/foreign
    * roots decline instead of failing, so a stale registry entry can
    * never break a query.
    */
  private[graft] def routeDefinition(spark: SparkSession, mvRoot: String): Option[Definition] =
    try {
      val kv = defKv(spark, mvRoot)
      if (kv.contains("kind")) None
      else Some(Definition(kv("base"), defCols(kv, "keys"), defCols(kv, "groups"),
        defCols(kv, "sums"), defColsOpt(kv, "minmax"), defColsOpt(kv, "nd"),
        defColsOpt(kv, "approxnd"), defColsOpt(kv, "approxq"), defWhere(kv)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The routable JOIN definition of an MV root — None for non-join
    * kinds or unreadable roots (decline, never fail: registry entries
    * may outlive their views).
    */
  private[graft] def joinRouteDefinition(spark: SparkSession,
      mvRoot: String): Option[JoinDefinition] =
    try {
      if (!defKv(spark, mvRoot).get("kind").contains("join")) None
      else Some(joinDefinition(spark, mvRoot))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether a join MV is FRESH for routing: its watermark PAIR equals
    * both bases' head versions.
    */
  private[graft] def joinRouteFresh(spark: SparkSession, mvRoot: String,
      d: JoinDefinition): Boolean = {
    val lVs = Snapshots.versionsCached(spark, d.leftRoot)
    val rVs = Snapshots.versionsCached(spark, d.rightRoot)
    lVs.nonEmpty && rVs.nonEmpty &&
      Snapshots.lastBatchIdCached(spark, mvRoot).contains(encWm(lVs.last, rVs.last))
  }

  /** The routable TRILINEAR definition of an MV root — None for other
    * kinds or unreadable roots (decline, never fail).
    */
  private[graft] def join3RouteDefinition(spark: SparkSession,
      mvRoot: String): Option[Join3Definition] =
    try {
      if (!defKv(spark, mvRoot).get("kind").contains("join3")) None
      else Some(join3Definition(spark, mvRoot))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Whether a trilinear MV is FRESH for routing: its watermark TRIPLE
    * equals all three bases' head versions.
    */
  private[graft] def join3RouteFresh(spark: SparkSession, mvRoot: String,
      d: Join3Definition): Boolean = {
    val lVs = Snapshots.versionsCached(spark, d.leftRoot)
    val mVs = Snapshots.versionsCached(spark, d.midRoot)
    val rVs = Snapshots.versionsCached(spark, d.rightRoot)
    lVs.nonEmpty && mVs.nonEmpty && rVs.nonEmpty &&
      Snapshots.lastBatchIdCached(spark, mvRoot)
        .contains(encWm3(lVs.last, mVs.last, rVs.last))
  }

  /** The distinct-count companion roots of an MV (empty when the
    * definition maintains none) — the definition is the source of
    * truth, read once, any MV kind.
    */
  private def companionRoots(spark: SparkSession, mvRoot: String): Seq[String] =
    defColsOpt(defKv(spark, mvRoot), "nd").map(dvRoot(mvRoot, _))

  /** Retention for the WHOLE view: expire old versions of the top MV
    * AND every distinct-count companion to the same depth. A refresh
    * commits one version per table per cycle, so an hourly-refreshed
    * view grows manifests at O(tables × hours) — this is the one verb a
    * scheduler needs. Returns the dropped version numbers (top first,
    * then companions in definition order).
    */
  def expire(spark: SparkSession, mvRoot: String, keepLast: Int): Seq[Int] =
    (mvRoot +: companionRoots(spark, mvRoot))
      .flatMap(r => Snapshots.expire(spark, r, keepLast))

  /** Reclamation for the WHOLE view: vacuum the top MV and every
    * distinct-count companion (a companion nests under the MV root, but
    * the top's own vacuum never descends into `_dv/` — each snapshot
    * table sweeps only its own data/manifest/cdf dirs). Returns files
    * deleted.
    */
  def vacuum(spark: SparkSession, mvRoot: String,
      graceMs: Long = Snapshots.DefaultGraceMs): Long =
    (mvRoot +: companionRoots(spark, mvRoot))
      .map(r => Snapshots.vacuum(spark, r, graceMs)).sum

  /** The MV's bucket count from its live cluster header (None when the
    * layout was dropped — a full refresh then re-clusters with nothing).
    */
  private def mvBucketsOf(spark: SparkSession, mvRoot: String): Option[Int] = {
    val vs = Snapshots.versions(spark, mvRoot)
    vs.lastOption.flatMap(v => Snapshots.clusterOf(spark, mvRoot, v))
      .flatMap(Snapshots.bucketSpec(_).map(_._1))
  }

  // ── JOIN MVs (the q185 co-bucketed star as a maintained view) ────────

  /** The watermark PAIR of a join MV packed into the one manifest batch
    * id: (left version << 32) | right version. Monotone because both
    * components only move forward, so mergeStreamBatch's replay skip
    * keeps working unchanged.
    */
  private def encWm(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)
  private def decWm(w: Long): (Int, Int) = ((w >> 32).toInt, (w & 0xffffffffL).toInt)

  /** A base's current rows PRUNED to the cluster groups the delta's join
    * keys can collide with — the co-clustered premise's payoff: the
    * join-delta probe of a 100 TB base reads O(colliding groups) files,
    * never the table. Two layouts prune: a HASH-BUCKET header on the
    * join key (groups = the delta keys' buckets, count from the PROBED
    * table's own live header — a one-sided rescale must never prune
    * with the other side's count) and a TIME-TRANSFORM header on the
    * join key (groups = the delta keys' calendar units: a `days(ts)`
    * fact probes O(touched days) — equal instants imply equal days, the
    * same coarsening that makes the q191 SPJ exchange-free). A table
    * whose layout was dropped (a row-level CoW rewrite) degrades to an
    * UNpruned — still correct, still delta-joined — read rather than a
    * refusal. The second half of the return says which happened (`true`
    * = group-pruned), so [[refreshJoin]] can SURFACE the degradation in
    * its report instead of an operator discovering it from a
    * mysteriously base-sized "incremental" refresh; a clustered
    * re-publish (`CALL sys.cluster`) restores the layout and the prune
    * with it.
    */
  private[graft] def bucketProbe(spark: SparkSession, root: String, version: Int,
      joinKey: String, deltaKeys: DataFrame): (DataFrame, Boolean) = {
    val (files, pruned) = probeFiles(spark, root, version, joinKey, deltaKeys)
    (Snapshots.readFiles(spark, root, files,
      Snapshots.schemaOf(spark, root, version)),
      pruned)
  }

  /** Probe-key cap for the per-file bloom tier: past this many distinct
    * delta keys the driver-side value list (and the per-file hash loop)
    * stops being metadata-cheap, and a delta that wide keeps most files
    * anyway — fall through to the stats envelope.
    */
  private val BloomProbeMaxKeys = 4096

  /** The file subset a [[bucketProbe]] plans over, exposed for the spec's
    * file-bound pins.
    */
  private[graft] def probeFiles(spark: SparkSession, root: String, version: Int,
      joinKey: String, deltaKeys: DataFrame): (Seq[String], Boolean) = {
    val all = Snapshots.files(spark, root, version)
    val spec = Snapshots.clusterOf(spark, root, version)
    // the delta keys' routing values under the probed table's OWN header
    // — the same expressions the write path routes `__cluster=` dirs by
    val routing: Option[Column] = spec.flatMap(Snapshots.bucketSpec) match {
      case Some((n, c)) if c == joinKey =>
        Some(pmod(hash(deltaKeys.columns.map(col): _*), lit(n)).cast("string"))
      case _ => spec.flatMap(Snapshots.timeSpec) match {
        case Some((unit, c)) if c == joinKey =>
          Some(Snapshots.timeTransformCol(unit,
            col(deltaKeys.columns.head)).cast("string"))
        // IDENTITY split dirs on the join key (a low-cardinality dim):
        // the dir is md5 of the key's one-field JSON — the field must be
        // NAMED as the probed table's column, which the write path's
        // struct(col) carries, so alias the delta key to it
        case _ => spec.map(Snapshots.clusterCols) match {
          case Some(Seq(c)) if c == joinKey =>
            Some(md5(to_json(struct(
              col(deltaKeys.columns.head).as(c)))))
          case _ => None
        }
      }
    }
    routing match {
      case Some(r) =>
        val hit = deltaKeys.na.drop()
          .select(r.as("__b")).na.drop()
          .distinct().collect().map(_.getString(0)).toSet
        val dirRe = "__cluster=([^/]+)/".r
        (all.filter(f => dirRe.findFirstMatchIn(f).forall(m => hit(m.group(1)))), true)
      case None =>
        // header routing unavailable — the layout was lost, or the probed
        // key is not this table's cluster key (the trilinear fact under a
        // right-dim delta). Two fallback tiers:
        //   1. ADVISORY footer-stats pruning by the delta keys' min/max
        //      envelope (manifest-resident, free): filesWhere passes
        //      files without usable stats, so a genuine match can never
        //      drop — but a wide delta or an uncorrelated layout keeps
        //      everything.
        //   2. STRUCTURAL per-file parquet-bloom probe of the survivors
        //      on the join key (the SnapshotBloom machinery the DSv2
        //      point lookup uses): when the base was published with
        //      `bloomOn` the non-cluster FK, every kept file
        //      bloom-matched a delta key — a real per-file bound, so the
        //      probe REPORTS pruned. Gated on one footer sniff (no
        //      blooms → no sweep scheduled) and a delta-key cap (a
        //      wide delta keeps most files anyway); a partial-bloom
        //      version still drops what it can but reports unpruned.
        val b = deltaKeys.na.drop()
          .agg(min(col(deltaKeys.columns.head)), max(col(deltaKeys.columns.head)))
          .collect().head
        val statFiles =
          if (b.isNullAt(0) || b.isNullAt(1)) all
          else Snapshots.filesWhere(spark, root, version,
            Map(joinKey -> ((b.get(0), b.get(1)))))
        if (b.isNullAt(0) || statFiles.isEmpty ||
            !SnapshotBloom.hasBloom(spark, root, statFiles.head, joinKey))
          (statFiles, false)
        else {
          val keyRows = deltaKeys.na.drop().distinct()
            .limit(BloomProbeMaxKeys + 1).collect()
          if (keyRows.length > BloomProbeMaxKeys) (statFiles, false)
          else SnapshotBloom.filesMightContainReport(spark, root, statFiles,
            joinKey, keyRows.map(_.get(0)).toSeq)
        }
    }
  }

  /** A base's CDF between two versions reduced to SIGNED data rows:
    * the base's own columns plus `signCol` ∈ {+1, −1} (insert /
    * postimage add, delete / preimage retract), CDF metadata dropped so
    * two deltas can join without ambiguous column references.
    */
  private def signedDelta(spark: SparkSession, root: String, from: Int, to: Int,
      keyCols: Seq[String], signCol: String): DataFrame = {
    val cdf = Snapshots.changes(spark, root, from, to, keyCols, preImages = true)
    val sign = when(col("change").isin("insert", "update_postimage"), lit(1L))
      .when(col("change").isin("delete", "update_preimage"), lit(-1L))
    val dataCols = cdf.columns.filterNot(c =>
      c == "change" || c.startsWith("_commit")).toSeq
    cdf.withColumn(signCol, sign).where(col(signCol).isNotNull)
      .select((dataCols :+ signCol).map(col): _*)
  }

  /** Create a JOIN MV: the grouped count/sum over `left ⋈ right ON
    * joinLeft = joinRight`, stored like [[create]]'s view and refreshed
    * incrementally from EITHER side's change feed ([[refreshJoin]]).
    * `minMaxCols` maintains `min_<c>`/`max_<c>` hybrid exactly like
    * [[create]]'s — algebraic when neither RAW base feed retracted
    * (the bilinear correction's synthetic deletes don't force a
    * recount); under genuine retraction the per-group recount restricts
    * the group-carrying side to the retracted groups and bucket/time-
    * probes the other side with the survivors' join keys — O(that dim +
    * colliding groups' files), reported via `recountGroups` /
    * `recountPruned`.
    *
    * Requires a co-clustered star: both bases clustered on their join
    * key, either hash buckets with the SAME count (the q185 shape) or a
    * time transform with the SAME unit (the q191 `days(ts)` event-feed
    * shape, joining on the time key) — that co-location is what bounds
    * the refresh's delta-join probes to colliding buckets / calendar
    * units (and what makes the underlying join exchange-free to begin
    * with) — and disjoint column names across the two bases (the joined
    * relation must be unambiguous; project/rename before publishing
    * otherwise).
    *
    * `distinctCols` / `where` work exactly like [[create]]'s, over the
    * JOINED relation: the companions consume the signed view delta the
    * bilinear expansion already computes, and the filter applies to
    * each delta term's joined rows before projection.
    */
  def createJoin(spark: SparkSession, mvRoot: String,
      leftRoot: String, leftKeyCols: Seq[String], joinLeft: String,
      rightRoot: String, rightKeyCols: Seq[String], joinRight: String,
      groupCols: Seq[String], sumCols: Seq[String], mvBuckets: Int = 64,
      minMaxCols: Seq[String] = Nil, distinctCols: Seq[String] = Nil,
      where: Option[String] = None,
      approxDistinctCols: Seq[String] = Nil,
      approxQuantileCols: Seq[String] = Nil): Int = {
    require(groupCols.nonEmpty, "an MV needs group columns")
    require(leftKeyCols.nonEmpty && rightKeyCols.nonEmpty,
      "a join MV needs each base's unique row key (CDF classification)")
    require(groupCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      sumCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      minMaxCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      distinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxDistinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxQuantileCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty,
      s"'$GkCol'/'$VkCol'/'$TombCol'/'$MmStaleCol' are reserved MV columns")
    val (lVs, rVs) = (Snapshots.versions(spark, leftRoot), Snapshots.versions(spark, rightRoot))
    require(lVs.nonEmpty && rVs.nonEmpty, "both bases need published versions")
    val (wL, wR) = (lVs.last, rVs.last)
    val lSchema = Snapshots.schemaOf(spark, leftRoot, wL)
    val rSchema = Snapshots.schemaOf(spark, rightRoot, wR)
    val overlap = lSchema.fieldNames.toSet.intersect(rSchema.fieldNames.toSet)
    require(overlap.isEmpty,
      s"join MV bases share column name(s) ${overlap.mkString(", ")} — the joined " +
        "relation must be unambiguous; rename before publishing")
    val joinedSchema = org.apache.spark.sql.types.StructType(
      lSchema.fields ++ rSchema.fields)
    val plainGroups = groupCols.filter(g => Snapshots.timeSpec(g).isEmpty)
    requireDefCols(joinedSchema, leftKeyCols ++ rightKeyCols, plainGroups,
      sumCols, minMaxCols, s"the joined relation of $leftRoot ⋈ $rightRoot",
      distinctCols ++ approxDistinctCols)
    requireTransformGroups(joinedSchema, groupCols,
      s"the joined relation of $leftRoot ⋈ $rightRoot")
    requireExactSums(joinedSchema, sumCols)
    requireDistinctCols(joinedSchema, plainGroups, distinctCols)
    requireApproxCols(joinedSchema, plainGroups, approxDistinctCols)
    requireQuantileCols(joinedSchema, plainGroups, approxQuantileCols)
    // the co-clustered star contract: BOTH bases clustered on their join
    // key, either hash buckets (one shared count) or a time transform
    // (one shared unit — the q191 `days(ts)` event-feed shape). That
    // agreement is what bounds refresh probes to colliding groups and
    // makes the underlying join exchange-free to begin with.
    def layoutOf(root: String, v: Int, key: String): String = {
      val spec = Snapshots.clusterOf(spark, root, v)
      val b = spec.flatMap(Snapshots.bucketSpec).filter(_._2 == key)
      val t = spec.flatMap(Snapshots.timeSpec).filter(_._2 == key)
      require(b.isDefined || t.isDefined,
        s"createJoin needs $root bucket- or time-transform-clustered on its " +
          s"join key '$key' (found ${spec.getOrElse("no cluster layout")}) — " +
          "the co-clustered star shape is what bounds refresh probes to " +
          "colliding groups")
      b.map(s => s"bucket(${s._1})").getOrElse(t.get._1)
    }
    val layL = layoutOf(leftRoot, wL, joinLeft)
    val layR = layoutOf(rightRoot, wR, joinRight)
    require(layL == layR, s"createJoin needs ONE layout on both bases " +
      s"(same bucket count or same time unit), got $layL($joinLeft) vs " +
      s"$layR($joinRight)")
    val joined0 = Snapshots.read(spark, leftRoot, Some(wL))
      .join(Snapshots.read(spark, rightRoot, Some(wR)),
        col(joinLeft) === col(joinRight))
    requireFilter(joined0, where)
    if (fs(spark, mvRoot).exists(defPath(mvRoot)) &&
        Snapshots.versions(spark, mvRoot).isEmpty) {
      fs(spark, mvRoot).delete(defPath(mvRoot), false)
      fs(spark, mvRoot).delete(new Path(mvRoot, "_dv"), true)
    }
    writeJoinDef(spark, mvRoot, JoinDefinition(leftRoot, leftKeyCols, joinLeft,
      rightRoot, rightKeyCols, joinRight, groupCols, sumCols, minMaxCols,
      distinctCols, approxDistinctCols, approxQuantileCols, where))
    val storedGroups = groupCols.map(groupStored)
    val joined = withGroupCols(filtered(joined0, where), groupCols)
    distinctCols.foreach(c =>
      publishCompanion(spark, mvRoot, c, storedGroups, joined,
        batchId = encWm(wL, wR), buckets = mvBuckets))
    val mv0 = IncrementalView.countSum(joined, storedGroups, sumCols, minMaxCols,
      distinctCols, approxDistinctCols, approxQuantileCols)
      .withColumn(GkCol, gk(storedGroups))
    Snapshots.publishStreamBatch(spark, mvRoot, mv0, batchId = encWm(wL, wR),
      append = false, clusterBy = Some(s"bucket($mvBuckets,$GkCol)"))
      .getOrElse(sys.error(s"fresh MV root $mvRoot already carries batch ids"))
  }

  // ── TRILINEAR JOIN MVs (3-table star: dim ⋈ fact ⋈ dim) ─────────────

  /** The stored definition of a TRILINEAR join MV ([[createJoin3]]): a
    * chain `left ⋈ mid ⋈ right` — mid is the fact carrying BOTH join
    * keys (`joinMidLeft` = its FK to the left dim, `joinMidRight` = its
    * FK to the right dim) — each base with its own unique row key (CDF
    * classification), plus the grouped/summed columns of the joined
    * relation.
    */
  final case class Join3Definition(
      leftRoot: String, leftKeyCols: Seq[String], joinLeft: String,
      midRoot: String, midKeyCols: Seq[String],
      joinMidLeft: String, joinMidRight: String,
      rightRoot: String, rightKeyCols: Seq[String], joinRight: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Nil, distinctCols: Seq[String] = Nil,
      approxCols: Seq[String] = Nil, quantileCols: Seq[String] = Nil,
      filterSql: Option[String] = None)

  /** One trilinear refresh's outcome: the watermark TRIPLE, plus the
    * per-base probe report ([[JoinRefresh]]'s discipline): `false` on a
    * side means some full-side probe of that base read unpruned this
    * refresh. `probePrunedMid` deserves a caveat: the fact clusters on
    * ONE of its two join keys, so a right-dim delta's fact probe has no
    * cluster-header bound (a table cannot co-cluster on two keys) — but
    * a fact PUBLISHED WITH PER-FILE BLOOMS on its right FK (`bloomOn`)
    * gets the structural bloom tier ([[probeFiles]]): every kept file
    * bloom-matched a delta key, and the flag reports pruned. Without
    * blooms the flag reports the O(fact) read honestly.
    */
  final case class Join3Refresh(mode: String,
      fromLeft: Int, toLeft: Int, fromMid: Int, toMid: Int,
      fromRight: Int, toRight: Int,
      groupsTouched: Long, mvVersion: Option[Int],
      probePrunedLeft: Boolean = true, probePrunedMid: Boolean = true,
      probePrunedRight: Boolean = true,
      recountGroups: Long = 0L, recountPruned: Boolean = true)

  /** The watermark TRIPLE packed into the one manifest batch id: 21 bits
    * per component (versions < 2 097 152 — far past any real manifest
    * log, enforced at pack time). Lexicographically monotone because
    * every component only moves forward, so mergeStreamBatch's replay
    * skip keeps working unchanged.
    */
  private def encWm3(l: Int, m: Int, r: Int): Long = {
    Seq(l, m, r).foreach(v => require(v >= 0 && v < (1 << 21),
      s"trilinear MV watermark component $v out of the 21-bit pack range"))
    (l.toLong << 42) | (m.toLong << 21) | r.toLong
  }
  private def decWm3(w: Long): (Int, Int, Int) =
    (((w >> 42) & 0x1fffffL).toInt, ((w >> 21) & 0x1fffffL).toInt,
      (w & 0x1fffffL).toInt)

  private def writeJoin3Def(spark: SparkSession, root: String,
      d: Join3Definition): Unit = {
    d.productIterator.foreach(checkDefField)
    writeDefLines(spark, root, Seq(
      "kind=join3",
      s"lbase=${d.leftRoot}", s"lkeys=${d.leftKeyCols.mkString(",")}",
      s"ljoin=${d.joinLeft}",
      s"mbase=${d.midRoot}", s"mkeys=${d.midKeyCols.mkString(",")}",
      s"mjoinl=${d.joinMidLeft}", s"mjoinr=${d.joinMidRight}",
      s"rbase=${d.rightRoot}", s"rkeys=${d.rightKeyCols.mkString(",")}",
      s"rjoin=${d.joinRight}",
      s"groups=${d.groupCols.mkString(",")}",
      s"sums=${d.sumCols.mkString(",")}",
      s"minmax=${d.minMaxCols.mkString(",")}",
      s"nd=${d.distinctCols.mkString(",")}",
      s"approxnd=${d.approxCols.mkString(",")}",
      s"approxq=${d.quantileCols.mkString(",")}") ++
      d.filterSql.map(w => s"where=$w"))
  }

  /** The stored [[Join3Definition]] of a trilinear-MV root. */
  def join3Definition(spark: SparkSession, mvRoot: String): Join3Definition = {
    val kv = defKv(spark, mvRoot)
    require(kv.get("kind").contains("join3"),
      s"$mvRoot is a ${kv.getOrElse("kind", "single-base")} materialized view " +
        "— use Mv.refresh (single-base) / Mv.refreshJoin (join), not refreshJoin3")
    Join3Definition(kv("lbase"), defCols(kv, "lkeys"), kv("ljoin"),
      kv("mbase"), defCols(kv, "mkeys"), kv("mjoinl"), kv("mjoinr"),
      kv("rbase"), defCols(kv, "rkeys"), kv("rjoin"),
      defCols(kv, "groups"), defCols(kv, "sums"),
      defColsOpt(kv, "minmax"), defColsOpt(kv, "nd"),
      defColsOpt(kv, "approxnd"), defColsOpt(kv, "approxq"), defWhere(kv))
  }

  /** The MV root's kind — `single` | `join` | `join3` — the dispatch
    * value for generic callers (the SQL `refresh_mv` procedure).
    */
  def kindOf(spark: SparkSession, mvRoot: String): String =
    defKv(spark, mvRoot).getOrElse("kind", "single")

  /** Create a TRILINEAR join MV: the grouped count/sum over
    * `left ⋈ mid ON joinLeft = joinMidLeft ⋈ right ON joinMidRight =
    * joinRight` (the fact-with-two-dims star), refreshed incrementally
    * from ANY side's change feed ([[refreshJoin3]]). Requires every base
    * clustered on its probed join key — left on `joinLeft`, mid (the
    * fact) on `joinMidLeft`, right on `joinRight`; hash buckets, a time
    * transform, or identity split dirs all prune — and disjoint column
    * names across the three bases. The fact cannot also cluster on
    * `joinMidRight`, so a right-dim delta's fact probe has no header
    * bound — publish the fact with `bloomOn = Seq(joinMidRight)` to
    * give it the structural per-file bloom tier instead (probed files =
    * bloom-colliding files; [[Join3Refresh]].probePrunedMid then
    * reports pruned); without blooms the probe runs unpruned (reported,
    * never silent), so keep the volatile dims on the clustered side of
    * the chain.
    * `minMaxCols` maintains `min_<c>`/`max_<c>` hybrid exactly like
    * [[createJoin]]'s — algebraic when no RAW feed retracted (the
    * inclusion–exclusion correction terms' synthetic deletes are
    * duplicate rows); under genuine retraction the per-group recount
    * restricts the group-carrying base first and chains the probes
    * outward through each table's own header, reported via
    * `recountGroups`/`recountPruned`.
    */
  def createJoin3(spark: SparkSession, mvRoot: String,
      leftRoot: String, leftKeyCols: Seq[String], joinLeft: String,
      midRoot: String, midKeyCols: Seq[String],
      joinMidLeft: String, joinMidRight: String,
      rightRoot: String, rightKeyCols: Seq[String], joinRight: String,
      groupCols: Seq[String], sumCols: Seq[String], mvBuckets: Int = 64,
      minMaxCols: Seq[String] = Nil, distinctCols: Seq[String] = Nil,
      where: Option[String] = None,
      approxDistinctCols: Seq[String] = Nil,
      approxQuantileCols: Seq[String] = Nil): Int = {
    require(groupCols.nonEmpty, "an MV needs group columns")
    require(leftKeyCols.nonEmpty && midKeyCols.nonEmpty && rightKeyCols.nonEmpty,
      "a trilinear MV needs each base's unique row key (CDF classification)")
    require(groupCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      sumCols.intersect(Seq(GkCol, VkCol, TombCol)).isEmpty &&
      minMaxCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      distinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxDistinctCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty &&
      approxQuantileCols.intersect(Seq(GkCol, VkCol, TombCol, MmStaleCol)).isEmpty,
      s"'$GkCol'/'$VkCol'/'$TombCol'/'$MmStaleCol' are reserved MV columns")
    val roots = Seq(leftRoot, midRoot, rightRoot)
    val vs = roots.map(r => Snapshots.versions(spark, r))
    require(vs.forall(_.nonEmpty), "all three bases need published versions")
    val (wL, wM, wR) = (vs(0).last, vs(1).last, vs(2).last)
    val schemas = roots.zip(Seq(wL, wM, wR)).map { case (r, v) =>
      Snapshots.schemaOf(spark, r, v)
    }
    val dup = schemas.flatMap(_.fieldNames).groupBy(identity)
      .collect { case (n, occ) if occ.size > 1 => n }
    require(dup.isEmpty,
      s"trilinear MV bases share column name(s) ${dup.mkString(", ")} — the " +
        "joined relation must be unambiguous; rename before publishing")
    val joinedSchema = org.apache.spark.sql.types.StructType(
      schemas.flatMap(_.fields).toArray)
    val plainGroups = groupCols.filter(g => Snapshots.timeSpec(g).isEmpty)
    requireDefCols(joinedSchema, leftKeyCols ++ midKeyCols ++ rightKeyCols,
      plainGroups, sumCols, minMaxCols,
      s"the joined relation of $leftRoot ⋈ $midRoot ⋈ $rightRoot",
      distinctCols ++ approxDistinctCols)
    requireTransformGroups(joinedSchema, groupCols,
      s"the joined relation of $leftRoot ⋈ $midRoot ⋈ $rightRoot")
    requireExactSums(joinedSchema, sumCols)
    requireDistinctCols(joinedSchema, plainGroups, distinctCols)
    requireApproxCols(joinedSchema, plainGroups, approxDistinctCols)
    requireQuantileCols(joinedSchema, plainGroups, approxQuantileCols)
    // the probe contract: each base clustered on the key its full-side
    // probes route by — that layout, the probed table's OWN header, is
    // what bounds a refresh's reads to colliding groups
    def requireClusteredOn(root: String, v: Int, key: String): Unit = {
      val spec = Snapshots.clusterOf(spark, root, v)
      val ok = spec.exists(sp =>
        Snapshots.bucketSpec(sp).exists(_._2 == key) ||
          Snapshots.timeSpec(sp).exists(_._2 == key) ||
          Snapshots.clusterCols(sp) == Seq(key))
      require(ok, s"createJoin3 needs $root clustered on its join key '$key' " +
        s"(found ${spec.getOrElse("no cluster layout")}) — bucket, time " +
        "transform, or identity split dirs all bound the refresh probes")
    }
    requireClusteredOn(leftRoot, wL, joinLeft)
    requireClusteredOn(midRoot, wM, joinMidLeft)
    requireClusteredOn(rightRoot, wR, joinRight)
    val joined0 = Snapshots.read(spark, leftRoot, Some(wL))
      .join(Snapshots.read(spark, midRoot, Some(wM)),
        col(joinLeft) === col(joinMidLeft))
      .join(Snapshots.read(spark, rightRoot, Some(wR)),
        col(joinMidRight) === col(joinRight))
    requireFilter(joined0, where)
    if (fs(spark, mvRoot).exists(defPath(mvRoot)) &&
        Snapshots.versions(spark, mvRoot).isEmpty) {
      fs(spark, mvRoot).delete(defPath(mvRoot), false)
      fs(spark, mvRoot).delete(new Path(mvRoot, "_dv"), true)
    }
    writeJoin3Def(spark, mvRoot, Join3Definition(leftRoot, leftKeyCols, joinLeft,
      midRoot, midKeyCols, joinMidLeft, joinMidRight,
      rightRoot, rightKeyCols, joinRight, groupCols, sumCols, minMaxCols,
      distinctCols, approxDistinctCols, approxQuantileCols, where))
    val storedGroups = groupCols.map(groupStored)
    val joined = withGroupCols(filtered(joined0, where), groupCols)
    distinctCols.foreach(c =>
      publishCompanion(spark, mvRoot, c, storedGroups, joined,
        batchId = encWm3(wL, wM, wR), buckets = mvBuckets))
    val mv0 = IncrementalView.countSum(joined, storedGroups, sumCols, minMaxCols,
      distinctCols, approxDistinctCols, approxQuantileCols)
      .withColumn(GkCol, gk(storedGroups))
    Snapshots.publishStreamBatch(spark, mvRoot, mv0, batchId = encWm3(wL, wM, wR),
      append = false, clusterBy = Some(s"bucket($mvBuckets,$GkCol)"))
      .getOrElse(sys.error(s"fresh MV root $mvRoot already carries batch ids"))
  }

  /** Bring a trilinear join MV up to all three bases' current versions.
    * The view delta is the TRILINEAR expansion of the bilinear identity
    * over signed row multisets (primes = the NEW versions):
    *
    *   Δ(L⋈M⋈R) = ΔL⋈M'⋈R' + L'⋈ΔM⋈R' + L'⋈M'⋈ΔR
    *            − ΔL⋈ΔM⋈R' − ΔL⋈M'⋈ΔR − L'⋈ΔM⋈ΔR
    *            + ΔL⋈ΔM⋈ΔR
    *
    * (inclusion–exclusion: pairs counted by two single-delta terms are
    * removed once, the triple-delta pairs removed thrice come back
    * once; each joined row's sign is ±(product of its deltas' signs),
    * negated on the two-delta terms). Every term is delta-sized on at
    * least one side, and every full-side probe routes through the
    * probed table's own cluster header ([[bucketProbe]]) — the one
    * structurally unpruned probe is the fact under a right-dim delta
    * (see [[createJoin3]]); the report says which probes pruned.
    * Watermark, exactly-once, tombstones and the touched-bucket apply
    * are [[applyDelta]] unchanged; dvs or an expired watermark at any
    * base fall back to a DECLARED full recompute.
    */
  def refreshJoin3(spark: SparkSession, mvRoot: String): Join3Refresh = {
    val d = join3Definition(spark, mvRoot)
    val (wL, wM, wR) = decWm3(Snapshots.lastBatchId(spark, mvRoot).getOrElse(
      sys.error(s"$mvRoot carries no refresh watermark (batch id) — " +
        "was it published outside Mv.createJoin3?")))
    val lVs = Snapshots.versions(spark, d.leftRoot)
    val mVs = Snapshots.versions(spark, d.midRoot)
    val rVs = Snapshots.versions(spark, d.rightRoot)
    require(lVs.nonEmpty && mVs.nonEmpty && rVs.nonEmpty, "all bases need versions")
    val (curL, curM, curR) = (lVs.last, mVs.last, rVs.last)
    if (curL <= wL && curM <= wM && curR <= wR)
      return Join3Refresh("noop", wL, wL, wM, wM, wR, wR, 0L, None)
    def dvFree(root: String, v: Int) = !Snapshots.hasDeleteVectors(spark, root, v)
    val canDiff = lVs.contains(wL) && mVs.contains(wM) && rVs.contains(wR) &&
      Seq((d.leftRoot, wL), (d.leftRoot, curL), (d.midRoot, wM),
        (d.midRoot, curM), (d.rightRoot, wR), (d.rightRoot, curR))
        .forall { case (r, v) => dvFree(r, v) }
    val batchId = encWm3(curL, curM, curR)
    val storedGroups = d.groupCols.map(groupStored)
    def joinedNow = withGroupCols(
      filtered(Snapshots.read(spark, d.leftRoot, Some(curL))
        .join(Snapshots.read(spark, d.midRoot, Some(curM)),
          col(d.joinLeft) === col(d.joinMidLeft))
        .join(Snapshots.read(spark, d.rightRoot, Some(curR)),
          col(d.joinMidRight) === col(d.joinRight)), d.filterSql), d.groupCols)
    if (!canDiff) {
      val buckets = mvBucketsOf(spark, mvRoot)
      d.distinctCols.foreach(c =>
        publishCompanion(spark, mvRoot, c, storedGroups, joinedNow,
          batchId = batchId,
          buckets = mvBucketsOf(spark, dvRoot(mvRoot, c)).orElse(buckets)
            .getOrElse(64)))
      val mv = IncrementalView.countSum(joinedNow, storedGroups, d.sumCols,
        d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols)
        .withColumn(GkCol, gk(storedGroups))
      val v = Snapshots.publishStreamBatch(spark, mvRoot, mv, batchId = batchId,
        append = false,
        clusterBy = buckets.map(n => s"bucket($n,$GkCol)"))
      val groups = v.flatMap(ver =>
        Snapshots.countRows(spark, mvRoot, Some(ver))).getOrElse(0L)
      return Join3Refresh("full", wL, curL, wM, curM, wR, curR, groups, v)
    }
    val dl = if (curL > wL)
      Some(signedDelta(spark, d.leftRoot, wL, curL, d.leftKeyCols, "__sl").persist())
      else None
    val dm = if (curM > wM)
      Some(signedDelta(spark, d.midRoot, wM, curM, d.midKeyCols, "__sm").persist())
      else None
    val dr = if (curR > wR)
      Some(signedDelta(spark, d.rightRoot, wR, curR, d.rightKeyCols, "__sr").persist())
      else None
    try {
      var prunedL = true; var prunedM = true; var prunedR = true
      def probeL(keys: DataFrame): DataFrame = {
        val (df, p) = bucketProbe(spark, d.leftRoot, curL, d.joinLeft, keys)
        prunedL &&= p; df
      }
      def probeM(byKey: String, keys: DataFrame): DataFrame = {
        val (df, p) = bucketProbe(spark, d.midRoot, curM, byKey, keys)
        prunedM &&= p; df
      }
      def probeR(keys: DataFrame): DataFrame = {
        val (df, p) = bucketProbe(spark, d.rightRoot, curR, d.joinRight, keys)
        prunedR &&= p; df
      }
      val condLM = col(d.joinLeft) === col(d.joinMidLeft)
      val condMR = col(d.joinMidRight) === col(d.joinRight)
      val terms = Seq.newBuilder[DataFrame]
      dl.foreach { l =>
        // ΔL ⋈ M' ⋈ R': fact probed by ΔL's keys, then the delta-sized
        // pair probes the right dim by its surviving FK values
        val m = probeM(d.joinMidLeft, l.select(d.joinLeft))
        val lm = l.join(m, condLM)
        terms += lm.join(probeR(lm.select(d.joinMidRight)), condMR)
          .withColumn("__sign", col("__sl"))
      }
      dm.foreach { m =>
        // L' ⋈ ΔM ⋈ R': both dims probed by the fact delta's FK values
        terms += probeL(m.select(d.joinMidLeft)).join(m, condLM)
          .join(probeR(m.select(d.joinMidRight)), condMR)
          .withColumn("__sign", col("__sm"))
      }
      dr.foreach { r =>
        // L' ⋈ M' ⋈ ΔR: the structurally unpruned fact probe (the fact
        // clusters on its LEFT key) — reported via probePrunedMid
        val m = probeM(d.joinMidRight, r.select(d.joinRight))
        val mr = m.join(r, condMR)
        terms += probeL(mr.select(d.joinMidLeft)).join(mr, condLM)
          .withColumn("__sign", col("__sr"))
      }
      for (l <- dl; m <- dm) {
        val lm = l.join(m, condLM)
        terms += lm.join(probeR(lm.select(d.joinMidRight)), condMR)
          .withColumn("__sign", -(col("__sl") * col("__sm")))
      }
      for (l <- dl; r <- dr) {
        val m = probeM(d.joinMidLeft, l.select(d.joinLeft))
        terms += l.join(m, condLM).join(r, condMR)
          .withColumn("__sign", -(col("__sl") * col("__sr")))
      }
      for (m <- dm; r <- dr)
        terms += probeL(m.select(d.joinMidLeft))
          .join(m.join(r, condMR), condLM)
          .withColumn("__sign", -(col("__sm") * col("__sr")))
      for (l <- dl; m <- dm; r <- dr)
        terms += l.join(m, condLM).join(r, condMR)
          .withColumn("__sign", col("__sl") * col("__sm") * col("__sr"))
      val outCols = (storedGroups ++ d.sumCols ++ d.minMaxCols ++
        d.distinctCols ++ d.approxCols ++ d.quantileCols).distinct
      // filter each term's JOINED rows before the projection (σ commutes
      // with the signed expansion row-wise); a transform group's unit
      // derives per joined delta row (a function of the row)
      val delta = terms.result().map(t =>
          withGroupCols(filtered(t, d.filterSql), d.groupCols).select(
          (outCols.map(col) :+
            when(col("__sign") === 1L, lit("insert")).otherwise(lit("delete"))
              .as("change")): _*))
        .reduce(_ unionByName _).persist()
      try {
        val touched = delta.select(
          (gk(storedGroups).as(GkCol) +: storedGroups.map(col)): _*).distinct().persist()
        try {
          // min/max: the inclusion-exclusion terms' synthetic deletes are
          // duplicate rows when all three RAW feeds only inserted (every
          // negative term's rows are a subset of a positive term's, since
          // ΔX ⊆ X'), so the algebraic combine stays exact and the
          // recount elides — the bilinear argument, one relation deeper
          val netInsertOnly =
            (d.minMaxCols ++ d.approxCols ++ d.quantileCols).nonEmpty &&
            dl.forall(_.filter(col("__sl") === -1L).isEmpty) &&
            dm.forall(_.filter(col("__sm") === -1L).isEmpty) &&
            dr.forall(_.filter(col("__sr") === -1L).isEmpty)
          // recount under genuine retraction: restrict the GROUP-CARRYING
          // base to the retracted tuples first, then chain the probes
          // outward through each table's own header — O(group side +
          // colliding groups' files); groups spanning bases fall back to
          // the full 3-way join, row-pruned above it (recountPruned false)
          val recountOf: DataFrame => (DataFrame, Boolean) = { retracted =>
            def fieldsOf(root: String, v: Int) =
              Snapshots.schemaOf(spark, root, v).fieldNames.toSet
            // group SOURCES (a transform group reads its time column):
            // the carrying side derives the stored unit itself
            val srcCols = d.groupCols.map(groupSource)
            val onLeft = srcCols.forall(fieldsOf(d.leftRoot, curL))
            lazy val onMid = srcCols.forall(fieldsOf(d.midRoot, curM))
            lazy val onRight = srcCols.forall(fieldsOf(d.rightRoot, curR))
            def gSide(root: String, v: Int) = semiOnGroups(
              withGroupCols(Snapshots.read(spark, root, Some(v)), d.groupCols),
              retracted, storedGroups)
            if (onLeft) {
              val gp = gSide(d.leftRoot, curL)
              val (m, p1) = bucketProbe(spark, d.midRoot, curM, d.joinMidLeft,
                gp.select(d.joinLeft))
              val gm = gp.join(m, condLM)
              val (r, p2) = bucketProbe(spark, d.rightRoot, curR, d.joinRight,
                gm.select(d.joinMidRight))
              (filtered(gm.join(r, condMR), d.filterSql), p1 && p2)
            } else if (onMid) {
              val gp = gSide(d.midRoot, curM)
              val (l, p1) = bucketProbe(spark, d.leftRoot, curL, d.joinLeft,
                gp.select(d.joinMidLeft))
              val (r, p2) = bucketProbe(spark, d.rightRoot, curR, d.joinRight,
                gp.select(d.joinMidRight))
              (filtered(l.join(gp, condLM).join(r, condMR), d.filterSql),
                p1 && p2)
            } else if (onRight) {
              val gp = gSide(d.rightRoot, curR)
              val (m, p1) = bucketProbe(spark, d.midRoot, curM, d.joinMidRight,
                gp.select(d.joinRight))
              val gm = m.join(gp, condMR)
              val (l, p2) = bucketProbe(spark, d.leftRoot, curL, d.joinLeft,
                gm.select(d.joinMidLeft))
              (filtered(l.join(gm, condLM), d.filterSql), p1 && p2)
            } else {
              (semiOnGroups(joinedNow, retracted, storedGroups), false)
            }
          }
          val a = applyDelta(spark, mvRoot, storedGroups, d.sumCols,
            delta, touched, batchId, minMaxCols = d.minMaxCols,
            recountFrom = Some(recountOf), netInsertOnly = netInsertOnly,
            distinctCols = d.distinctCols, approxCols = d.approxCols,
            quantileCols = d.quantileCols,
            topWatermark = encWm3(wL, wM, wR),
            rebuildRel = Some(() => joinedNow))
          Join3Refresh("incremental", wL, curL, wM, curM, wR, curR,
            a.groups, a.mvVersion, prunedL, prunedM, prunedR,
            recountGroups = a.recountGroups, recountPruned = a.recountPruned)
        } finally touched.unpersist()
      } finally delta.unpersist()
    } finally { Seq(dl, dm, dr).foreach(_.foreach(_.unpersist())) }
  }

  /** Bring a join MV up to both bases' current versions. The view delta
    * is the standard bilinear join-maintenance identity over SIGNED row
    * multisets (insert +1, delete −1):
    *
    *   Δ(L ⋈ R) = ΔL ⋈ R_new  +  L_new ⋈ ΔR  −  ΔL ⋈ ΔR
    *
    * (the third term removes the pairs the first two both counted; signs
    * multiply per joined pair). Every term is delta-sized on at least
    * one side, and the full-side probes read only the buckets the
    * delta's keys hash into — the co-bucketed premise — so an
    * incremental refresh costs O(changes + colliding buckets), never
    * O(bases). A base whose bucket header was dropped (a row-level CoW
    * rewrite) or rescaled away from the join key stays INCREMENTAL with
    * an unpruned probe of that side — correct, delta-joined, just
    * unbounded on the probe — and the returned [[JoinRefresh]] SAYS so
    * (`probePrunedLeft`/`probePrunedRight` = false for the degraded
    * side), so an operator sees that the refresh cost O(base) and that
    * a clustered re-publish (`CALL sys.cluster`) would re-bound it.
    * Watermark, exactly-once, tombstones and the
    * touched-bucket apply are the single-base machinery unchanged
    * ([[applyDelta]]); dvs or an expired watermark at either base fall
    * back to a DECLARED full recompute.
    */
  def refreshJoin(spark: SparkSession, mvRoot: String): JoinRefresh = {
    val d = joinDefinition(spark, mvRoot)
    val (wL, wR) = decWm(Snapshots.lastBatchId(spark, mvRoot).getOrElse(
      sys.error(s"$mvRoot carries no refresh watermark (batch id) — " +
        "was it published outside Mv.createJoin?")))
    val lVs = Snapshots.versions(spark, d.leftRoot)
    val rVs = Snapshots.versions(spark, d.rightRoot)
    require(lVs.nonEmpty && rVs.nonEmpty, "both bases need versions")
    val (curL, curR) = (lVs.last, rVs.last)
    if (curL <= wL && curR <= wR) return JoinRefresh("noop", wL, wL, wR, wR, 0L, None)
    def dvFree(root: String, v: Int) = !Snapshots.hasDeleteVectors(spark, root, v)
    val canDiff = lVs.contains(wL) && rVs.contains(wR) &&
      dvFree(d.leftRoot, wL) && dvFree(d.leftRoot, curL) &&
      dvFree(d.rightRoot, wR) && dvFree(d.rightRoot, curR)
    val batchId = encWm(curL, curR)
    val storedGroups = d.groupCols.map(groupStored)
    def joinedNow = withGroupCols(
      filtered(Snapshots.read(spark, d.leftRoot, Some(curL))
        .join(Snapshots.read(spark, d.rightRoot, Some(curR)),
          col(d.joinLeft) === col(d.joinRight)), d.filterSql), d.groupCols)
    if (!canDiff) {
      val joined = joinedNow
      val buckets = mvBucketsOf(spark, mvRoot)
      d.distinctCols.foreach(c =>
        publishCompanion(spark, mvRoot, c, storedGroups, joined,
          batchId = batchId,
          buckets = mvBucketsOf(spark, dvRoot(mvRoot, c)).orElse(buckets)
            .getOrElse(64)))
      val mv = IncrementalView.countSum(joined, storedGroups, d.sumCols,
        d.minMaxCols, d.distinctCols, d.approxCols, d.quantileCols)
        .withColumn(GkCol, gk(storedGroups))
      val v = Snapshots.publishStreamBatch(spark, mvRoot, mv, batchId = batchId,
        append = false,
        clusterBy = buckets.map(n => s"bucket($n,$GkCol)"))
      val groups = v.flatMap(ver =>
        Snapshots.countRows(spark, mvRoot, Some(ver))).getOrElse(0L)
      return JoinRefresh("full", wL, curL, wR, curR, groups, v)
    }
    val dl = if (curL > wL)
      Some(signedDelta(spark, d.leftRoot, wL, curL, d.leftKeyCols, "__sl").persist())
      else None
    val dr = if (curR > wR)
      Some(signedDelta(spark, d.rightRoot, wR, curR, d.rightKeyCols, "__sr").persist())
      else None
    try {
      val terms = Seq.newBuilder[DataFrame]
      // degradation report: did every full-side probe of that base prune
      // to colliding buckets? (stays true when no probe of the side ran)
      var prunedL = true
      var prunedR = true
      dl.foreach { l =>
        // ΔL ⋈ R_new, probe pruned to ΔL's buckets; sign = sl
        val (rNew, pr) = bucketProbe(spark, d.rightRoot, curR, d.joinRight,
          l.select(d.joinLeft))
        prunedR &&= pr
        terms += l.join(rNew, col(d.joinLeft) === col(d.joinRight))
          .withColumn("__sign", col("__sl"))
      }
      dr.foreach { r =>
        // L_new ⋈ ΔR, probe pruned to ΔR's buckets; sign = sr
        val (lNew, pl) = bucketProbe(spark, d.leftRoot, curL, d.joinLeft,
          r.select(d.joinRight))
        prunedL &&= pl
        terms += lNew.join(r, col(d.joinLeft) === col(d.joinRight))
          .withColumn("__sign", col("__sr"))
      }
      for (l <- dl; r <- dr)
        // ΔL ⋈ ΔR, both delta-sized; sign = −(sl·sr)
        terms += l.join(r, col(d.joinLeft) === col(d.joinRight))
          .withColumn("__sign", -col("__sl") * col("__sr"))
      val outCols = (storedGroups ++ d.sumCols ++ d.minMaxCols ++
        d.distinctCols ++ d.approxCols ++ d.quantileCols).distinct
      // the filter applies to each term's JOINED rows before the
      // projection (σ commutes with the signed expansion row-wise, and
      // the predicate may reference columns the view does not carry);
      // a transform group's unit derives per joined delta row — it is a
      // function of the row, so the delta algebra never sees raw time
      val delta = terms.result().map(t =>
          withGroupCols(filtered(t, d.filterSql), d.groupCols).select(
          (outCols.map(col) :+
            when(col("__sign") === 1L, lit("insert")).otherwise(lit("delete"))
              .as("change")): _*))
        .reduce(_ unionByName _).persist()
      try {
        val touched = delta.select(
          (gk(storedGroups).as(GkCol) +: storedGroups.map(col)): _*).distinct().persist()
        try {
          // the bilinear correction term emits sign=−1 rows even for
          // insert×insert collisions, but those retraction rows are
          // exact duplicates of pairs the first two terms insert (with
          // insert-only deltas, ΔL⋈ΔR ⊆ ΔL⋈R_new) — so when NEITHER
          // raw base feed retracted, the algebraic min/max combine is
          // exact and the recount elides despite the synthetic deletes.
          // Two delta-sized emptiness probes decide, never the bases.
          val netInsertOnly =
            (d.minMaxCols ++ d.approxCols ++ d.quantileCols).nonEmpty &&
            dl.forall(_.filter(col("__sl") === -1L).isEmpty) &&
            dr.forall(_.filter(col("__sr") === -1L).isEmpty)
          // min/max recount relation under genuine retraction: restrict
          // the GROUP-CARRYING side to the retracted group tuples first
          // (one read of that side — the dimension, in a star), then
          // bucket/time-probe the OTHER side with the survivors' join
          // keys, so the big side's read stays O(colliding groups)
          // files. Group columns spanning both sides fall back to the
          // full co-located join, row-pruned above it — declared via
          // recountPruned = false.
          val recountOf: DataFrame => (DataFrame, Boolean) = { retracted =>
            def fieldsOf(root: String, v: Int) =
              Snapshots.schemaOf(spark, root, v).fieldNames.toSet
            // group SOURCES (a transform group reads its time column):
            // the carrying side derives the stored unit itself
            val srcCols = d.groupCols.map(groupSource)
            val onLeft = srcCols.forall(fieldsOf(d.leftRoot, curL))
            lazy val onRight = srcCols.forall(fieldsOf(d.rightRoot, curR))
            if (onLeft || onRight) {
              val (gRoot, gCur, gJoin, oRoot, oCur, oJoin) =
                if (onLeft) (d.leftRoot, curL, d.joinLeft, d.rightRoot, curR, d.joinRight)
                else (d.rightRoot, curR, d.joinRight, d.leftRoot, curL, d.joinLeft)
              val gPruned = semiOnGroups(
                withGroupCols(Snapshots.read(spark, gRoot, Some(gCur)), d.groupCols),
                retracted, storedGroups)
              val (oProbe, pruned) = bucketProbe(spark, oRoot, oCur, oJoin,
                gPruned.select(gJoin))
              (filtered(gPruned.join(oProbe,
                col(d.joinLeft) === col(d.joinRight)), d.filterSql), pruned)
            } else {
              (semiOnGroups(joinedNow, retracted, storedGroups), false)
            }
          }
          val a = applyDelta(spark, mvRoot, storedGroups, d.sumCols,
            delta, touched, batchId, minMaxCols = d.minMaxCols,
            recountFrom = Some(recountOf), netInsertOnly = netInsertOnly,
            distinctCols = d.distinctCols, approxCols = d.approxCols,
            quantileCols = d.quantileCols,
            topWatermark = encWm(wL, wR),
            rebuildRel = Some(() => joinedNow))
          JoinRefresh("incremental", wL, curL, wR, curR, a.groups, a.mvVersion,
            probePrunedLeft = prunedL, probePrunedRight = prunedR,
            recountGroups = a.recountGroups, recountPruned = a.recountPruned)
        } finally touched.unpersist()
      } finally delta.unpersist()
    } finally { dl.foreach(_.unpersist()); dr.foreach(_.unpersist()) }
  }
}
