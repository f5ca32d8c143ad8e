package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming over the `documents` corpus: continuous-ingest
  * forms of the batch curation tier, for pipelines where documents land
  * incrementally (a crawler drop directory) rather than as corpus
  * snapshots. Batch and stream share expressions, so the batch oracles
  * pin the semantics (q120 runs the stream form itself under the DuckDB
  * oracle, the q46 pattern).
  */
object DocStreams {

  /** Streaming read of a documents parquet path. The schema comes from a
    * one-footer driver read of an existing file (streaming file sources
    * need an explicit schema).
    */
  def readDocuments(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Streaming EXACT corpus dedup by content hash: the first-arriving
    * copy of each distinct text survives, every later copy — same batch
    * or any later micro-batch — is dropped by the state store. This is
    * the batch q32 exact-dedup as a continuous operator: a crawler feed
    * dedups against everything already ingested without re-scanning the
    * corpus, because the seen-hash set IS the streaming state (checkpoint
    * it and the guarantee survives restarts).
    *
    * Emits only content-determined columns (hash + length): every member
    * of a duplicate group agrees on them, so the output is deterministic
    * regardless of arrival order — which batch form an external oracle
    * can replay exactly (`SELECT DISTINCT md5(text), length(text)`).
    * Callers that want a full surviving row join the hash back to the
    * corpus and pick a representative by policy (the q95 selection
    * layer); the hash, not the row choice, is the dedup decision.
    *
    * State is one (hash, no-value) entry per DISTINCT document — bounded
    * by corpus cardinality, not stream length. For unbounded horizons use
    * `withWatermark` upstream + `dropDuplicatesWithinWatermark` (the
    * [[EventStreams.dedupEvents]] shape) to expire state.
    */
  def contentDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(md5(col(textCol)).as("content_hash"),
        length(col(textCol)).cast("long").as("n_chars"))
      .dropDuplicates("content_hash")

  /** The band-state sibling root of a near-dup `seenRoot` (the clustered
    * (doc_id, band, bh, bucket) table [[incrementalNearDup]] probes).
    */
  def bandRootOf(seenRoot: String): String = seenRoot.stripSuffix("/") + "__bands"

  /** Manifest header persisting [[incrementalNearDup]]'s bucket count with
    * the state (on the seen root, the state set's commit marker).
    */
  private val ND_BUCKETS_HEADER = "#ndbuckets="

  /** Enforce the bucket-count contract on a near-dup state set: a stored
    * `#ndbuckets=` header must equal the passed count, loudly. A state
    * without the header or without its band sibling predates the current
    * format and is refused until [[rebucket]] upgrades it — guessing the
    * count would silently drop cross-batch band collisions.
    */
  private def requireBucketContract(spark: SparkSession, seenRoot: String,
      buckets: Int): Unit = {
    import graft.operators.Snapshots
    // a half-done REBUCKET (bands rewritten, seen marker not yet) leaves
    // the band root's count stamp ahead of the seen contract — every
    // ingest call refuses until the migration re-runs to completion
    // (rebucket is idempotent: buckets recompute from raw values)
    val seenStamp = Snapshots.headerValue(spark, seenRoot, ND_BUCKETS_HEADER)
    Snapshots.headerValue(spark, bandRootOf(seenRoot), ND_BUCKETS_HEADER)
      .filterNot(seenStamp.contains).foreach { bs =>
        throw new IllegalArgumentException(
          s"near-dup state at $seenRoot is HALF-REBUCKETED: the band state is " +
            s"stamped buckets=$bs but the seen contract says " +
            s"${seenStamp.getOrElse("<none>")} — re-run DocStreams.rebucket" +
            s"(..., $bs) (or CALL sys.rebucket_neardup) to finish the migration")
      }
    seenStamp match {
      case Some(stored) =>
        require(stored.toInt == buckets,
          s"near-dup state at $seenRoot was built with buckets=$stored but this " +
            s"call passed buckets=$buckets — the bucket count is fixed until " +
            "migrated (bucket values are baked into the stored rows); pass the " +
            "original count, or migrate with DocStreams.rebucket / " +
            "CALL sys.rebucket_neardup")
      case None => // fresh state: this call's count becomes the contract
    }
    if (Snapshots.versions(spark, seenRoot).nonEmpty) {
      val why =
        if (seenStamp.isEmpty) Some(s"no ${ND_BUCKETS_HEADER.init} header")
        else if (Snapshots.versions(spark, bandRootOf(seenRoot)).isEmpty) Some("no band state")
        else None
      why.foreach(Snapshots.outdatedFormat(s"near-dup state at $seenRoot", _,
        s"run DocStreams.rebucket(spark, \"$seenRoot\", <pairsRoot>, $buckets) " +
          "(or CALL sys.rebucket_neardup) to upgrade it"))
    }
  }

  /** MIGRATE a near-dup state set to a new bucket count IN PLACE — the
    * alternative to wiping and re-ingesting the corpus when the count
    * chosen at day one no longer fits (too few buckets → coarse file
    * pruning; too many → dir explosion). Rewrites the two
    * bucket-carrying tables through the publish path with every
    * bucket value RECOMPUTED from raw values (`id_bucket` from the doc
    * id, band `bucket` from (band, bh)) and the new count stamped as
    * the `#ndbuckets=` header: one layout-preserving rewrite version
    * per root, no batch header, so the exactly-once replay contract is
    * untouched ([[graft.operators.Snapshots.lastBatchId]] skips
    * headerless versions). The pairs table stores nothing
    * bucket-derived and is untouched. Cost: one clustered rewrite of
    * seen + bands — O(state), the honest price of a re-layout, paid
    * once instead of re-tokenizing the corpus.
    *
    * Crash-safe by ORDER + IDEMPOTENCE: bands rewrite first (stamping
    * the band root), seen last (its header is the authoritative
    * contract — the migration's commit marker). A crash in between
    * leaves the two stamps disagreeing, which every ingest call refuses
    * loudly ([[requireBucketContract]]) until this method re-runs —
    * and re-running is always safe because bucket values derive from
    * raw columns, never from the previous layout. Refuses a MID-BATCH
    * state (pairs/bands holding a batch id the seen marker lacks):
    * replay the in-flight trigger first, then migrate.
    *
    * Also the near-dup state's format UPGRADE: a state from before the
    * count header gets it, and one from before the band table gets its
    * band state derived once from the stored signatures (under the
    * default MinHash params — the ones every ingest caller runs with).
    */
  def rebucket(spark: SparkSession, seenRoot: String, pairsRoot: String,
      newBuckets: Int): Unit = {
    import graft.operators.{MinHashDedup, Snapshots}
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    val bandRoot = bandRootOf(seenRoot)
    require(Snapshots.versions(spark, seenRoot).nonEmpty,
      s"no near-dup state at $seenRoot — nothing to rebucket (a fresh state " +
        "simply adopts whatever count its first batch passes)")
    val seenId = Snapshots.lastBatchId(spark, seenRoot)
    val bandId = Snapshots.lastBatchId(spark, bandRoot)
    val pairId = Snapshots.lastBatchId(spark, pairsRoot)
    require(bandId.forall(bi => seenId.exists(_ >= bi)) &&
      pairId.forall(pi => seenId.exists(_ >= pi)),
      s"near-dup state at $seenRoot is MID-BATCH (pairs/bands hold a batch id " +
        "the seen commit marker lacks) — replay the in-flight trigger to " +
        "completion, then rebucket")
    val stamp = s"$ND_BUCKETS_HEADER$newBuckets"
    val seenStamp = Snapshots.headerValue(spark, seenRoot, ND_BUCKETS_HEADER)
    val bandStamp = Snapshots.headerValue(spark, bandRoot, ND_BUCKETS_HEADER)
    val hasBands = Snapshots.versions(spark, bandRoot).nonEmpty
    if (hasBands && seenStamp.contains(newBuckets.toString) &&
        bandStamp.forall(_ == newBuckets.toString)) return // already there
    val bands =
      if (hasBands) Snapshots.read(spark, bandRoot).drop("bucket")
      else MinHashDedup.bandRows(Snapshots.read(spark, seenRoot))
    Snapshots.publish(spark, bandRoot, bands.withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(newBuckets.toLong)).cast("int")),
      clusterBy = Some("bucket"), extraHeader = Seq(stamp))
    val seen = Snapshots.read(spark, seenRoot).drop("id_bucket")
      .withColumn("id_bucket",
        pmod(xxhash64(col("doc_id")), lit(newBuckets.toLong)).cast("int"))
    Snapshots.publish(spark, seenRoot, seen, clusterBy = Some("id_bucket"),
      extraHeader = Seq(stamp))
  }

  /** Streaming incremental NEAR-dup dedup — the continuous-ingest form of
    * the MinHash pipeline: each micro-batch is compared against
    * everything already ingested (and itself) and every verified pair it
    * completes is appended; the accumulated pair set after the stream
    * drains EQUALS the batch recompute over the full corpus (each pair
    * is found exactly once, when its later member arrives — q176 pins
    * that equality under the q34 oracle).
    *
    * PRECONDITION: doc ids must be UNIQUE across the stream's lifetime.
    * The state is append-only, so a later batch re-delivering an
    * already-seen id would band-join both the stale and fresh rows and
    * could emit pairs against superseded text. Re-deliveries whose text
    * still band-collides with the old row (the common update shape) are
    * REFUSED loudly by the probe's same-id check; a fully rewritten text
    * can evade it, so the id contract is the caller's. A keyed-update
    * stream belongs on [[upsertNearDup]], which retracts the superseded
    * doc's band rows and stale pairs.
    *
    * State is three snapshot tables:
    *   - `seenRoot`: per-doc [[graft.operators.MinHashDedup.prepared]]
    *     rows (signature + shingle set — old docs are never re-tokenized),
    *     KEY-CLUSTERED on `id_bucket = hash(doc_id) % buckets` so the
    *     verification lookup reads only the file groups that can hold a
    *     candidate id;
    *   - `[[bandRootOf]](seenRoot)`: the per-doc LSH band rows
    *     (doc_id, band, bh), KEY-CLUSTERED on
    *     `bucket = hash(band, bh) % buckets`;
    *   - `pairsRoot`: the verified pairs.
    *
    * Per-batch cost is O(batch + colliding band state), with NO shuffle
    * of the accumulated state: the band probe reads the clustered band
    * table through the DSv2 source, which reports key-grouped
    * partitioning on `bucket`, so under
    * `spark.sql.sources.v2.bucketing.shuffle.enabled` (set on a cloned
    * session per batch — the caller's session is never mutated) only the
    * BATCH side shuffles, into the state's key groups — the q172
    * one-side storage-partitioned join, spec-pinned at ≤1 exchange. The
    * state side additionally prunes at file granularity via the scan's
    * runtime filtering when the batch's bucket set is sparse (small
    * batches under a large `buckets`). Verification then joins the
    * (output-sized) candidate set against shingle sets from the batch
    * plus ONLY the seen files whose `id_bucket` stats overlap a
    * candidate id — O(colliding file groups), never a state scan.
    *
    * All three publishes carry the micro-batch id (pairs, then bands,
    * then seen — seen is the commit marker): a restart that re-delivers
    * the in-flight batch appends NOTHING twice, and a crash between
    * publishes replays only the missing tail (bands committed implies
    * pairs committed, so a bands-hit replay skips the probe entirely —
    * the band state already holds the batch, and re-probing it would
    * collide every batch doc with itself).
    *
    * `buckets` bounds the cluster-key cardinality of both state tables
    * (the snapshot layer's bounded-routing-key contract): larger → finer
    * file pruning for small batches, but more `__cluster=` dirs per
    * publish.
    *
    * `compactEvery` (0 = never) folds the per-batch file fan-out back to
    * one file per bucket after every Nth batch — the small-files answer
    * for continuous ingest: without it, T triggers leave O(T) files per
    * bucket and the probe's scan cost creeps with trigger count rather
    * than corpus size. Compaction publishes layout-preserving rewrite
    * versions (no batch header), so exactly-once replay protection is
    * untouched — [[graft.operators.Snapshots.lastBatchId]] skips
    * headerless versions. A crash around the compaction point never
    * loses data (the batch's seen publish is the commit marker and
    * precedes it); at worst the fold waits for the next cycle, since a
    * replayed batch returns before the maintenance step.
    *
    * Use as the `foreachBatch` body:
    * {{{
    * stream.writeStream.foreachBatch(
    *   DocStreams.incrementalNearDup(seenRoot, pairsRoot) _).start()
    * }}}
    */
  def incrementalNearDup(seenRoot: String, pairsRoot: String,
      p: graft.operators.MinHashDedup.Params = graft.operators.MinHashDedup.Params(),
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 64, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{MinHashDedup, Snapshots}
    import org.apache.spark.sql.graftbridge.SessionBridge
    val b0 = SessionBridge.rebatch(batch)
    // one conf-clone per batch: the probe needs v2.bucketing.shuffle so
    // the clustered state side plans storage-partitioned; the clone keeps
    // the caller's session untouched (the plan-isolation discipline)
    val spark = SessionBridge.cloneWithConf(b0.sparkSession,
      Map("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"))
    val b = SessionBridge.rebind(b0, spark)
    val bandRoot = bandRootOf(seenRoot)

    // bucket-count contract: state rows store bucket/id_bucket values
    // computed with the count at WRITE time, so a later call with a
    // different `buckets` would silently miss cross-batch band collisions
    // (probe joins on l.bucket === r.bucket) and read the wrong seen file
    // groups in verification. The first publish persists the count as a
    // manifest header; every later call must match it — loudly, never a
    // silent pair drop.
    val bucketsHeader = s"$ND_BUCKETS_HEADER$buckets"
    requireBucketContract(spark, seenRoot, buckets)

    // seen publishes LAST: its committed id ≥ ours means every publish of
    // this batch landed — a crash-redelivered batch is a metadata-only no-op
    if (Snapshots.lastBatchId(spark, seenRoot).exists(_ >= batchId)) return

    // persisted for the whole call: the tokenize→minhash scan is the
    // batch's dominant compute and feeds THREE consumers (the candidate
    // graph, the verification lookup, the seen publish) — without the
    // persist each one re-runs it
    val prep = MinHashDedup.prepared(b, idCol, textCol, p)
      .withColumn("id_bucket",
        pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))
      .persist()
    // a state table created before the clustered layout (or with another
    // bucket count) keeps its own layout: appending clustered onto an
    // unclustered base would be refused by publish
    def clusterFor(root: String, c: String): Option[String] =
      Snapshots.versions(spark, root).lastOption match {
        case Some(v) => Snapshots.clusterOf(spark, root, v).filter(_ == c)
        case None    => Some(c)
      }

    // bands committed but seen not: pairs committed too (publish order),
    // so only the seen catch-up is owed — and the probe MUST be skipped.
    // The order guarantee is checked, not assumed: a bands root holding
    // the batch while pairs does not means the three roots were reset
    // inconsistently (they are ONE atomic state set — wipe all or none),
    // and recomputing against a band state that already holds the batch
    // would be wrong, so refuse loudly instead
    if (Snapshots.lastBatchId(spark, bandRoot).exists(_ >= batchId)) {
      require(Snapshots.lastBatchId(spark, pairsRoot).exists(_ >= batchId),
        s"band state $bandRoot already holds batch $batchId but $pairsRoot does " +
          "not — pairs/bands/seen (and the derived bandRootOf sibling) are one " +
          "atomic state set; wipe all three or none when resetting")
      try Snapshots.publishStreamBatch(spark, seenRoot, prep, batchId,
        clusterBy = clusterFor(seenRoot, "id_bucket"),
        extraHeader = Seq(bucketsHeader))
      finally prep.unpersist(false)
      return
    }

    val freshBands = MinHashDedup.bandRows(prep, p)
      .withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(buckets.toLong)).cast("int"))
    val noPairs = prep.select(col("doc_id").as("da"), col("doc_id").as("db")).limit(0)
    val crossCands =
      if (Snapshots.versions(spark, bandRoot).isEmpty) noPairs
      else probeJoin(spark, bandRoot, freshBands)
    // intra-batch pairs: batch × batch band self-join (batch-sized)
    val selfCands = freshBands.as("l").join(freshBands.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
    val cands = crossCands.unionByName(selfCands)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct()
      .persist() // two consumers (contract/bucket aggregate, verify join)
    try {
      // ONE bounded aggregate serves both the unique-id contract check
      // and the verification bucket set — per-trigger driver job count
      // is itself a scale factor for a streaming operator. A same-id
      // collision between state and batch = the stream broke the
      // unique-id precondition (probe state cannot contain this batch —
      // the bands-hit replay path returned above).
      val contract = cands.agg(
        max(col("doc_a") === col("doc_b")).as("dup"),
        collect_set(pmod(xxhash64(col("doc_a")), lit(buckets.toLong)).cast("int")),
        collect_set(pmod(xxhash64(col("doc_b")), lit(buckets.toLong)).cast("int")))
        .collect().head
      if (!contract.isNullAt(0) && contract.getBoolean(0)) {
        val dup = cands.filter(col("doc_a") === col("doc_b")).limit(1).collect()
        throw new IllegalArgumentException(
          s"doc id ${dup.headOption.map(_.get(0)).getOrElse("")} was re-delivered " +
            "with band-colliding text — incrementalNearDup requires ids unique " +
            "across the stream's lifetime (use Snapshots.mergeStreamBatch for " +
            "keyed updates)")
      }
      // verification reads shingle sets from the batch plus ONLY the
      // seen file groups whose id_bucket can hold a candidate id — the
      // bucket set is bounded (≤ `buckets` values)
      val needBuckets: Seq[Int] =
        (contract.getSeq[Int](1) ++ contract.getSeq[Int](2)).distinct.sorted
      val emptyShs = prep.select(col("doc_id"), col("shset")).limit(0)
      val seenShs = Snapshots.versions(spark, seenRoot).lastOption match {
        case None => emptyShs
        case Some(v) =>
          // the file-granular read below bypasses the dv-aware scan —
          // sound only while the seen table carries no merge-on-read
          // delete vectors (this module never writes them; an out-of-band
          // MOR delete would silently resurrect superseded signatures
          // into verification, so the invariant fails loudly instead)
          require(!Snapshots.hasDeleteVectors(spark, seenRoot, v),
            s"near-dup seen state $seenRoot v$v carries outstanding " +
              "merge-on-read delete vectors — this state set is managed by " +
              "DocStreams only; materializeDeletes or compact before resuming")
          val rel =
            if (Snapshots.clusterOf(spark, seenRoot, v).contains("id_bucket"))
              needBuckets.flatMap(bk =>
                Snapshots.filesBetween(spark, seenRoot, v, "id_bucket", bk, bk)).distinct
            else Snapshots.files(spark, seenRoot, v) // unclustered state
          if (rel.isEmpty) emptyShs
          else spark.read.schema(Snapshots.schemaOf(spark, seenRoot, v))
            .parquet(rel.map(r => s"$seenRoot/$r"): _*)
            .select(col("doc_id"), col("shset"))
      }
      val lookup = prep.select(col("doc_id"), col("shset")).unionByName(seenShs)
      val pairs = cands
        .join(lookup.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
        .join(lookup.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double")).as("jac"))
        .filter(col("jac") >= p.threshold)

      // pairs FIRST, seen LAST: each publish is replay-skipped by its own
      // batch id, so a crash between any two replays only the missing tail
      Snapshots.publishStreamBatch(spark, pairsRoot, pairs, batchId)
      Snapshots.publishStreamBatch(spark, bandRoot, freshBands, batchId,
        clusterBy = clusterFor(bandRoot, "bucket"))
      Snapshots.publishStreamBatch(spark, seenRoot, prep, batchId,
        clusterBy = clusterFor(seenRoot, "id_bucket"),
        extraHeader = Seq(bucketsHeader))
      // state maintenance rides the trigger: fold each table's per-batch
      // file fan-out back to target-sized files (one per bucket for the
      // clustered state). Runs AFTER the seen commit marker, so a crash
      // mid-compaction owes nothing — the batch is already durable and
      // the next trigger's compaction re-folds.
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        Snapshots.compact(spark, seenRoot)
        Snapshots.compact(spark, bandRoot)
        Snapshots.compact(spark, pairsRoot)
      }
    } finally { cands.unpersist(false); prep.unpersist(false) }
  }

  /** KEYED-UPDATE streaming near-dup — [[incrementalNearDup]] for an
    * UPDATE stream: a batch may re-deliver an already-seen doc id with
    * new text, and the accumulated state then reflects the LATEST text
    * per id — the superseded doc's band rows retract, its stale pairs
    * retract, and after any drain the pair set EQUALS the batch
    * recompute over the final texts (q196 pins that equality).
    *
    * With `tombstoneCol` set, a batch row whose tombstone is true is a
    * DELETE (takedown) of that doc id — the GDPR verb every
    * training-data pipeline eventually serves: the doc's seen row, band
    * rows, and every pair it anchors all retract, and the accumulated
    * state equals the batch recompute over the SURVIVING corpus (q198
    * pins that equality). A delete row's text is ignored (may be null);
    * deleting a never-seen id is a no-op. One batch may mix updates and
    * deletes, but at most one row per id (the uniqueness check below) —
    * an update and a delete of the same id in one trigger is ambiguous
    * and refuses.
    *
    * The composition is [[graft.operators.Snapshots.mergeStreamBatch]]
    * on all three state tables (the upsert form of the append-only
    * publishes), with the retraction sets RECOMPUTED rather than looked
    * up: a superseded (updated or deleted) doc's stale pairs are exactly
    * the pairs its STORED signature band-collides into under the
    * pre-update state (the same deterministic probe+verify that created
    * them), so retraction costs O(colliding buckets) — no scan of the
    * pairs table, no per-pair index. Deltas:
    *
    *   - seen: upsert the batch's prepared rows by (id_bucket, doc_id),
    *     tombstone deleted ids — `id_bucket` depends only on the id, so
    *     updates never move cluster groups and the CoW probe prunes by
    *     the bucket envelope;
    *   - bands: tombstone the old rows whose (bucket, doc_id, band) key
    *     vanished (a deleted doc's vanish wholesale), upsert the new
    *     rows (a band whose hash — and thus bucket — survived the edit
    *     is an in-place upsert);
    *   - pairs: tombstone (stale ∖ new), upsert new — a pair that holds
    *     under both texts is re-asserted, never dropped; a deleted doc
    *     re-asserts nothing, so everything it anchored retracts.
    *
    * Publish order pairs → bands → seen (seen is the commit marker),
    * each exactly-once by batch id; every delta derives deterministically
    * from the PRE-update state, so a crash between merges replays only
    * the missing tail (a bands-hit replay skips straight to the seen
    * catch-up — recomputing against post-merge band state would be
    * wrong, exactly as in the append form). Within one batch doc ids
    * must be unique (checked loudly before anything publishes).
    */
  def upsertNearDup(seenRoot: String, pairsRoot: String,
      p: graft.operators.MinHashDedup.Params = graft.operators.MinHashDedup.Params(),
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 64, compactEvery: Int = 0,
      tombstoneCol: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{MinHashDedup, Snapshots}
    import org.apache.spark.sql.graftbridge.SessionBridge
    val b0 = SessionBridge.rebatch(batch)
    val spark = SessionBridge.cloneWithConf(b0.sparkSession,
      Map("spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"))
    val b = SessionBridge.rebind(b0, spark)
    val bandRoot = bandRootOf(seenRoot)
    val bucketsHeader = s"$ND_BUCKETS_HEADER$buckets"
    requireBucketContract(spark, seenRoot, buckets)
    if (Snapshots.lastBatchId(spark, seenRoot).exists(_ >= batchId)) return

    // split the batch: alive rows go through the prepared/upsert path,
    // tombstoned ids are id-only deletes (text ignored, may be null)
    val alive = tombstoneCol.fold(b)(tc =>
      b.filter(!coalesce(col(tc), lit(false))).drop(tc))
    val deadIds = tombstoneCol.fold(b.select(col(idCol).as("doc_id")).limit(0))(tc =>
      b.filter(coalesce(col(tc), lit(false)))
        .select(col(idCol).as("doc_id")).distinct())
    val prep = MinHashDedup.prepared(alive, idCol, textCol, p)
      .withColumn("id_bucket",
        pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))
      .persist()
    try {
      // seen rows in the given id buckets — the bounded state lookup
      def seenRows(needBuckets: Seq[Int]): DataFrame = {
        val empty = prep.limit(0).drop("id_bucket")
        Snapshots.versions(spark, seenRoot).lastOption match {
          case None => empty
          case Some(v) =>
            // raw file read below — sound only dv-free (see the append
            // form's guard; same invariant, same loud failure)
            require(!Snapshots.hasDeleteVectors(spark, seenRoot, v),
              s"near-dup seen state $seenRoot v$v carries outstanding " +
                "merge-on-read delete vectors — this state set is managed by " +
                "DocStreams only; materializeDeletes or compact before resuming")
            val rel =
              if (Snapshots.clusterOf(spark, seenRoot, v).contains("id_bucket"))
                needBuckets.flatMap(bk =>
                  Snapshots.filesBetween(spark, seenRoot, v, "id_bucket", bk, bk)).distinct
              else Snapshots.files(spark, seenRoot, v)
            if (rel.isEmpty) empty
            else spark.read.schema(Snapshots.schemaOf(spark, seenRoot, v))
              .parquet(rel.map(r => s"$seenRoot/$r"): _*).drop("id_bucket")
        }
      }
      def withBucket(bands: DataFrame): DataFrame = bands.withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(buckets.toLong)).cast("int"))
      def verify(cands: DataFrame, lookup: DataFrame): DataFrame = cands
        .join(lookup.select(col("doc_id").as("doc_a"), col("shset").as("sa")), Seq("doc_a"))
        .join(lookup.select(col("doc_id").as("doc_b"), col("shset").as("sb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double")).as("jac"))
        .filter(col("jac") >= p.threshold)
      def canon(raw: DataFrame): DataFrame = raw
        .filter(col("da") =!= col("db"))
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"))
        .distinct()

      // ONE bounded aggregate: intra-batch dup ids (refuse BEFORE any
      // publish — garbage pairs must never commit; checked on the RAW
      // batch, since `prepared` aggregates per id and would absorb the
      // duplicate) + the batch's id buckets (the update lookup's prune set)
      val head = b.groupBy(col(idCol).as("doc_id")).count()
        .agg(max(col("count") > 1), collect_set(
          pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int")))
        .collect().head
      require(head.isNullAt(0) || !head.getBoolean(0),
        s"batch $batchId delivers the same $idCol more than once — an update " +
          "stream must carry one latest row per key per batch (an update and " +
          "a delete of one id in one trigger is ambiguous)")
      val batchBuckets = if (head.isNullAt(1)) Nil else head.getSeq[Int](1)

      // every id the batch supersedes — updates AND deletes — feeds the
      // pre-state lookup; the seen-table delta (shared by the main path
      // and the crash catch-up) upserts alive rows and tombstones
      // deleted ids (key-only rows — the merge drops them, so the null
      // payload never lands)
      val batchIds = prep.select("doc_id").unionByName(deadIds)
      def seenDelta: DataFrame = prep.withColumn("__nd_del", lit(false))
        .unionByName(deadIds
          .withColumn("id_bucket",
            pmod(xxhash64(col("doc_id")), lit(buckets.toLong)).cast("int"))
          .withColumn("__nd_del", lit(true)),
          allowMissingColumns = true)
      def mergeSeen(): Unit =
        if (Snapshots.versions(spark, seenRoot).isEmpty) {
          // fresh state: nothing to delete — publish the alive rows (an
          // empty publish still records the batch id for exactly-once)
          Snapshots.publishStreamBatch(spark, seenRoot, prep, batchId,
            clusterBy = Some("id_bucket"), extraHeader = Seq(bucketsHeader))
          ()
        } else {
          Snapshots.mergeStreamBatch(spark, seenRoot, seenDelta, batchId,
            keyCols = Seq("id_bucket", "doc_id"), tombstoneCol = Some("__nd_del"),
            extraHeader = Seq(bucketsHeader))
          ()
        }

      // bands committed but seen not: pairs committed too (publish
      // order) — only the seen catch-up is owed, and the deltas must NOT
      // recompute against the post-merge band state
      if (Snapshots.lastBatchId(spark, bandRoot).exists(_ >= batchId)) {
        require(Snapshots.lastBatchId(spark, pairsRoot).exists(_ >= batchId),
          s"band state $bandRoot already holds batch $batchId but $pairsRoot " +
            "does not — pairs/bands/seen are one atomic state set")
        mergeSeen()
        return
      }

      // the superseded ids' PRE-update state rows (empty on a pure
      // insert batch): everything the update/delete owes derives from
      // these — a deleted doc's retraction set is recomputed from its
      // stored signature exactly like an updated one's
      val oldPrep = seenRows(batchBuckets.sorted)
        .join(batchIds, Seq("doc_id"), "left_semi").persist()
      try {
        val oldBands = withBucket(MinHashDedup.bandRows(oldPrep, p))
        val newBands = withBucket(MinHashDedup.bandRows(prep, p))
        val stateEmpty = Snapshots.versions(spark, bandRoot).isEmpty
        val noCands = prep.select(col("doc_id").as("da"), col("doc_id").as("db")).limit(0)

        // STALE pairs: the updated docs' stored signatures re-probe the
        // pre-update state — the deterministic recompute of exactly the
        // pairs previously recorded for them (old texts on BOTH ends)
        val staleCands = canon(
          if (stateEmpty) noCands else probeJoin(spark, bandRoot, oldBands)).persist()
        // NEW pairs: new bands vs state (minus every superseded doc's
        // stale rows — an anti-join on the updated+deleted id set, so a
        // fresh doc never pairs against an old text or a taken-down doc)
        // plus the batch self-join
        val supersededIds = oldPrep.select(col("doc_id").as("da"))
        val crossNew =
          if (stateEmpty) noCands
          else probeJoin(spark, bandRoot, newBands)
            .join(supersededIds, Seq("da"), "left_anti")
        val selfNew = newBands.as("l").join(newBands.as("r"),
            col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
              col("l.doc_id") < col("r.doc_id"))
          .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
        val newCands = canon(crossNew.unionByName(selfNew)).persist()
        try {
          // verification lookups: stale = pre-update state everywhere;
          // new = batch texts + non-updated partners' state rows.
          // ONE bounded aggregate serves BOTH candidate sets' bucket
          // needs (each collect_set ≤ `buckets` values): per-trigger
          // driver job count is itself a scale factor, so the two
          // per-set collects fuse into a single job over the two
          // already-persisted frames.
          def bucketsOf(cands: DataFrame): Column = explode(array(
            pmod(xxhash64(col("doc_a")), lit(buckets.toLong)).cast("int"),
            pmod(xxhash64(col("doc_b")), lit(buckets.toLong)).cast("int")))
          val needRow = staleCands.select(lit(true).as("__stale"), bucketsOf(staleCands).as("__b"))
            .unionByName(newCands.select(lit(false).as("__stale"), bucketsOf(newCands).as("__b")))
            .agg(collect_set(when(col("__stale"), col("__b"))).as("__sb"),
              collect_set(when(!col("__stale"), col("__b"))).as("__nb"))
            .collect().head
          val staleBuckets = needRow.getSeq[Int](0).sorted
          val newBuckets = needRow.getSeq[Int](1).sorted
          val stalePairs = verify(staleCands,
            seenRows(staleBuckets)).persist()
          val newPairs = verify(newCands,
            prep.select(col("doc_id"), col("shset"))
              .unionByName(seenRows(newBuckets)
                .join(prep.select("doc_id"), Seq("doc_id"), "left_anti")
                .select(col("doc_id"), col("shset")))).persist()
          try {
            // pairs delta: retract (stale ∖ new), upsert new
            val goneKeys = stalePairs.select("doc_a", "doc_b")
              .join(newPairs.select("doc_a", "doc_b"),
                Seq("doc_a", "doc_b"), "left_anti")
            val pairsDelta = newPairs.withColumn("__nd_del", lit(false))
              .unionByName(goneKeys.withColumn("jac", lit(0.0))
                .withColumn("__nd_del", lit(true)))
            if (Snapshots.versions(spark, pairsRoot).isEmpty)
              Snapshots.publishStreamBatch(spark, pairsRoot,
                pairsDelta.filter(!col("__nd_del")).drop("__nd_del"), batchId)
            else Snapshots.mergeStreamBatch(spark, pairsRoot, pairsDelta, batchId,
              keyCols = Seq("doc_a", "doc_b"), tombstoneCol = Some("__nd_del"))
            // bands delta: tombstone vanished (bucket, doc_id, band)
            // keys, upsert the new rows (bucket ∈ key so the CoW probe
            // prunes by the cluster envelope)
            val bandGone = oldBands
              .join(newBands, Seq("bucket", "doc_id", "band"), "left_anti")
            val bandsDelta = newBands.withColumn("__nd_del", lit(false))
              .unionByName(bandGone.withColumn("__nd_del", lit(true)))
            if (Snapshots.versions(spark, bandRoot).isEmpty)
              Snapshots.publishStreamBatch(spark, bandRoot, newBands, batchId,
                clusterBy = Some("bucket"))
            else Snapshots.mergeStreamBatch(spark, bandRoot, bandsDelta, batchId,
              keyCols = Seq("bucket", "doc_id", "band"),
              tombstoneCol = Some("__nd_del"))
            // seen upsert/tombstone LAST — the commit marker
            mergeSeen()
            if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
              Snapshots.compact(spark, seenRoot)
              Snapshots.compact(spark, bandRoot)
              Snapshots.compact(spark, pairsRoot)
            }
          } finally { stalePairs.unpersist(false); newPairs.unpersist(false) }
        } finally { staleCands.unpersist(false); newCands.unpersist(false) }
      } finally oldPrep.unpersist(false)
    } finally prep.unpersist(false)
  }

  /** TAKEDOWN stream — [[upsertNearDup]] specialized to an ID-ONLY
    * delete feed (the GDPR/takedown shape: a compliance queue delivers
    * doc ids to remove, no text). Every batch row names one doc id;
    * the doc's seen row, band rows, and every pair it anchors retract,
    * and the accumulated state equals the batch recompute over the
    * surviving corpus. Shares upsertNearDup's exactly-once, publish
    * order, and replay machinery verbatim — this wrapper only supplies
    * the constant tombstone and a null text column so the feed needs
    * neither.
    */
  def deleteNearDup(seenRoot: String, pairsRoot: String,
      p: graft.operators.MinHashDedup.Params = graft.operators.MinHashDedup.Params(),
      idCol: String = "doc_id", buckets: Int = 64, compactEvery: Int = 0)(
      batch: DataFrame, batchId: Long): Unit =
    upsertNearDup(seenRoot, pairsRoot, p, idCol, "__nd_text", buckets,
      compactEvery, tombstoneCol = Some("__nd_tomb"))(
      batch.select(col(idCol))
        .withColumn("__nd_text", lit(null).cast("string"))
        .withColumn("__nd_tomb", lit(true)),
      batchId)

  /** The cross-state band probe: accumulated clustered band state ⋈ the
    * batch's band rows on (bucket, band, bh) — under
    * `spark.sql.sources.v2.bucketing.shuffle.enabled` the DSv2 state scan
    * reports key-grouped partitioning on `bucket` and ONLY the fresh side
    * shuffles, into the state's key groups (exchange-free on the state
    * side at any accumulated size). Exposed for the plan-pinning spec.
    * Returns raw (da = state id, db = batch id) rows; da may equal db
    * exactly when a batch id was re-delivered (the caller's loud check).
    */
  private[graft] def probeJoin(spark: SparkSession, bandRoot: String,
      freshBands: DataFrame): DataFrame = {
    val state = spark.read.format("graft-snapshot").option("root", bandRoot).load()
    state.as("l").join(freshBands.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.band") === col("r.band") &&
          col("l.bh") === col("r.bh"))
      .select(col("l.doc_id").as("da"), col("r.doc_id").as("db"))
  }
}
