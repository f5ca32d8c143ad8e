package graft

import graft.operators.{IncrementalView, Mv, Snapshots}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the managed materialized-view layer: create/refresh equality
  * against a from-scratch recompute across every CDF row class
  * (insert / update / delete, new group, vanished group, NULL group,
  * all-NULL sums), the exactly-once watermark contract (noop replay,
  * crash-retry), the declared full-refresh fallbacks (expired
  * watermark, outstanding dvs), and the bucket-layout probe bound —
  * a one-group refresh carries every untouched bucket's files BY NAME.
  */
class MvSpec extends AnyFunSuite {
  import SparkTestEnv._

  private lazy val wh: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-mv")
    p.toFile.deleteOnExit()
    p.toString
  }

  /** A small keyed base: (k PK, g group, v long measure). */
  private def base(rows: Seq[(Long, String, java.lang.Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "g", "v")
  }

  private def recompute(root: String): Set[(String, Long, Option[Long])] =
    collectMv(IncrementalView.countSum(Snapshots.read(spark, root), Seq("g"), Seq("v")))

  private def collectMv(df: DataFrame): Set[(String, Long, Option[Long])] =
    df.select("g", "n_rows", "sum_v").collect().map { r =>
      (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toSet

  test("incremental refresh equals the recompute across insert/update/delete/new/vanished groups") {
    val b = s"$wh/b1"; val m = s"$wh/m1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "c", 7L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 8)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))

    // update (2 moves a→b), delete (4: group c vanishes), insert (5: new
    // group d, and 6 into a) — one merge with tombstones
    Snapshots.mergeByKey(spark, b, base(Seq(
      (2L, "b", 21L), (5L, "d", 100L), (6L, "a", 1L)))
      .withColumn("dead", lit(false))
      .unionByName(base(Seq((4L, "c", 0L))).withColumn("dead", lit(true))),
      Seq("k"), tombstoneCol = Some("dead"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    // touched groups: a (lost 2, gained 6), b (gained 2), c (vanished), d (new)
    assert(r.groupsTouched === 4L)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
    assert(!Mv.read(spark, m).columns.contains("__gk"))
  }

  test("NULL group keys and all-NULL sums maintain exactly") {
    val b = s"$wh/b2"; val m = s"$wh/m2"
    Snapshots.publish(spark, b, base(Seq(
      (1L, null, 10L), (2L, null, null), (3L, "x", null))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
    // retract the NULL group's only non-null value → its sum returns to
    // NULL; give x its first non-null → NULL sum becomes a number
    Snapshots.mergeByKey(spark, b, base(Seq((3L, "x", 8L)))
      .withColumn("dead", lit(false))
      .unionByName(base(Seq((1L, null, 0L))).withColumn("dead", lit(true))),
      Seq("k"), tombstoneCol = Some("dead"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    val got = collectMv(Mv.read(spark, m))
    assert(got === recompute(b))
    assert(got.contains(("<null>", 1L, None))) // the all-NULL group really is NULL
    assert(got.contains(("x", 1L, Some(8L))))
  }

  test("refresh is exactly-once: noop when current, replayed merge commits nothing twice") {
    val b = s"$wh/b3"; val m = s"$wh/m3"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"))
    val r0 = Mv.refresh(spark, m)
    assert(r0.mode === "noop" && r0.mvVersion.isEmpty)
    Snapshots.publish(spark, b, base(Seq((2L, "a", 2L))), append = true)
    val r1 = Mv.refresh(spark, m)
    assert(r1.mode === "incremental" && r1.mvVersion.isDefined)
    val vAfter = Snapshots.versions(spark, m).last
    // crash-retry: the driver re-runs refresh at the same base version —
    // the batch-id contract publishes nothing
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "noop")
    assert(Snapshots.versions(spark, m).last === vAfter)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("expired watermark and outstanding dvs fall back to a DECLARED full refresh") {
    val b = s"$wh/b4"; val m = s"$wh/m4"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L), (2L, "b", 2L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4)
    Snapshots.publish(spark, b, base(Seq((3L, "b", 3L))), append = true)
    Snapshots.publish(spark, b, base(Seq((4L, "c", 4L))), append = true)
    Snapshots.expire(spark, b, keepLast = 1) // v1 (the watermark) is gone
    val r = Mv.refresh(spark, m)
    assert(r.mode === "full")
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
    // the full publish re-records the watermark: next refresh noops
    assert(Mv.refresh(spark, m).mode === "noop")
    // a dv at the head (deleteByKey is merge-on-read) also forces full
    import spark.implicits._
    Snapshots.deleteByKey(spark, b, Seq(3L).toDF("k"))
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "full")
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("a one-group refresh probes only its bucket: every other bucket's files carry by name") {
    val b = s"$wh/b5"; val m = s"$wh/m5"
    // 64 groups over 16 buckets so most buckets are non-empty and the
    // touched bucket is a strict subset
    Snapshots.publish(spark, b, base(
      (1L to 200L).map(i => (i, s"g${i % 64}", java.lang.Long.valueOf(i)))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 16)
    val before = Snapshots.files(spark, m, Snapshots.versions(spark, m).last)
    // touch exactly one group
    Snapshots.mergeByKey(spark, b, base(Seq((1L, "g1", 999L))), Seq("k"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental" && r.groupsTouched === 1L)
    val after = Snapshots.files(spark, m, Snapshots.versions(spark, m).last)
    val touchedBucket = spark.range(1).select(
      pmod(hash(md5(to_json(struct(lit("g1").as("g"))))), lit(16)).cast("string"))
      .head.getString(0)
    def bucketOf(f: String): Option[String] =
      "__cluster=([^/]+)/".r.findFirstMatchIn(f).map(_.group(1))
    // every pre-refresh file OUTSIDE the touched bucket must survive by
    // name (it was never probed, let alone rewritten)...
    val untouched = before.filter(f => !bucketOf(f).contains(touchedBucket))
    assert(untouched.nonEmpty)
    assert(untouched.forall(after.contains))
    // ...and the touched bucket's file really was replaced
    val replaced = before.filter(f => bucketOf(f).contains(touchedBucket))
    assert(replaced.nonEmpty && replaced.forall(f => !after.contains(f)))
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("base compaction is a pure rewrite: zero touched groups, watermark still advances") {
    val b = s"$wh/b6"; val m = s"$wh/m6"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L))))
    Snapshots.publish(spark, b, base(Seq((2L, "a", 2L))), append = true)
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"))
    // compaction only: every CDF pair cancels — zero touched groups,
    // but the watermark must still advance past the rewrite version
    Snapshots.compact(spark, b)
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental" && r.groupsTouched === 0L)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
    val r1 = Mv.refresh(spark, m)
    assert(r1.mode === "noop")
    // real changes after the compaction still apply incrementally
    Snapshots.publish(spark, b, base(Seq((3L, "b", 3L))), append = true)
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "incremental" && r2.groupsTouched === 1L)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("definition is validated: non-MV refresh refuses, double create refuses") {
    val b = s"$wh/b7"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L))))
    val e = intercept[IllegalArgumentException](Mv.refresh(spark, b))
    assert(e.getMessage.contains("not a materialized view"))
    val m = s"$wh/m7"
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"))
    val e2 = intercept[IllegalArgumentException](
      Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v")))
    assert(e2.getMessage.contains("already a materialized view"))
    val d = Mv.definition(spark, m)
    assert(d.baseRoot === b && d.groupCols === Seq("g") && d.sumCols === Seq("v"))
  }

  test("float/double sum columns refuse at create: incremental refresh would drift by ulps") {
    import spark.implicits._
    val b = s"$wh/b7f"
    Snapshots.publish(spark, b,
      Seq((1L, "a", 1.5), (2L, "a", 2.5)).toDF("k", "g", "x"))
    val e = intercept[IllegalArgumentException](
      Mv.create(spark, s"$wh/m7f", b, Seq("k"), Seq("g"), Seq("x")))
    assert(e.getMessage.contains("exact types") && e.getMessage.contains("x"),
      s"refusal must name the drifty column: ${e.getMessage}")
  }

  test("base dropping a summed column refuses refresh with the contract") {
    val b = s"$wh/b8"; val m = s"$wh/m8"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"))
    Snapshots.evolveSchema(spark, b,
      org.apache.spark.sql.types.StructType(
        Snapshots.read(spark, b).schema.fields.filterNot(_.name == "v")))
    val e = intercept[IllegalArgumentException](Mv.refresh(spark, m))
    assert(e.getMessage.contains("no longer carries"))
  }

  // ── JOIN MVs ────────────────────────────────────────────────────────

  /** fact (k PK, ck join key, cents) and dim (ck2 PK+join key, seg):
    * the co-bucketed star, bucket(4, join key) on both sides.
    */
  private def publishStar(fact: String, dim: String,
      facts: Seq[(Long, Long, Long)], dims: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    Snapshots.publish(spark, fact, facts.toDF("k", "ck", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dim, dims.toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
  }

  private def joinRecompute(fact: String, dim: String): Set[(String, Long, Option[Long])] =
    collectJoinMv(IncrementalView.countSum(
      Snapshots.read(spark, fact).join(Snapshots.read(spark, dim),
        col("ck") === col("ck2")),
      Seq("seg"), Seq("cents")))

  private def collectJoinMv(df: DataFrame): Set[(String, Long, Option[Long])] =
    df.select("seg", "n_rows", "sum_cents").collect().map { r =>
      (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toSet

  test("join MV: incremental refresh equals the recompute when either or both sides change") {
    val f = s"$wh/jf1"; val dm = s"$wh/jd1"; val m = s"$wh/jm1"
    publishStar(f, dm,
      Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 11L, 300L), (4L, 12L, 400L)),
      Seq((10L, "a"), (11L, "b"), (12L, "c")))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4)
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))

    // LEFT-only change: update cents of k=1, delete k=4 (group c vanishes),
    // insert k=5 into ck=11
    import spark.implicits._
    Snapshots.mergeByKey(spark, f,
      Seq((1L, 10L, 150L, false), (4L, 0L, 0L, true), (5L, 11L, 500L, false))
        .toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r1 = Mv.refreshJoin(spark, m)
    assert(r1.mode === "incremental", s"got $r1")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))

    // RIGHT-only change: customer 10 moves a -> b
    Snapshots.mergeByKey(spark, dm,
      Seq((10L, "b", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r2 = Mv.refreshJoin(spark, m)
    assert(r2.mode === "incremental")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))

    // BOTH sides change before one refresh: the bilinear identity's
    // third term (ΔL ⋈ ΔR) is what keeps a simultaneously-touched pair
    // counted exactly once
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, 250L, false), (6L, 13L, 600L, false))
        .toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, dm,
      Seq((10L, "moved", false), (13L, "d", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r3 = Mv.refreshJoin(spark, m)
    assert(r3.mode === "incremental")
    assert(r3.fromLeft < r3.toLeft && r3.fromRight < r3.toRight,
      s"both watermarks must advance: $r3")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))

    // replay: both bases unchanged -> noop, nothing published
    val before = Snapshots.versions(spark, m)
    assert(Mv.refreshJoin(spark, m).mode === "noop")
    assert(Snapshots.versions(spark, m) === before)
  }

  test("join MV refusals: co-bucket contract, ambiguous names, kind dispatch") {
    val f = s"$wh/jf2"; val dm = s"$wh/jd2"
    import spark.implicits._
    // dim bucketed with a DIFFERENT count
    Snapshots.publish(spark, f, Seq((1L, 10L, 100L)).toDF("k", "ck", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm, Seq((10L, "a")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(8, ck2)"))
    val e1 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/jm2", f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
        Seq("seg"), Seq("cents")))
    assert(e1.getMessage.contains("ONE layout"), e1.getMessage)
    // unbucketed base
    val dm2 = s"$wh/jd2b"
    Snapshots.publish(spark, dm2, Seq((10L, "a")).toDF("ck2", "seg"))
    val e2 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/jm2b", f, Seq("k"), "ck", dm2, Seq("ck2"), "ck2",
        Seq("seg"), Seq("cents")))
    assert(e2.getMessage.contains("bucket- or time-transform-clustered"),
      e2.getMessage)
    // overlapping column names
    val dm3 = s"$wh/jd2c"
    Snapshots.publish(spark, dm3, Seq((10L, "a")).toDF("ck", "seg"),
      clusterBy = Some("bucket(4, ck)"))
    val e3 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/jm2c", f, Seq("k"), "ck", dm3, Seq("ck"), "ck",
        Seq("seg"), Seq("cents")))
    assert(e3.getMessage.contains("unambiguous"), e3.getMessage)
    // kind dispatch both ways
    val dmOk = s"$wh/jd2d"
    Snapshots.publish(spark, dmOk, Seq((10L, "a")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    val jm = s"$wh/jm2d"
    Mv.createJoin(spark, jm, f, Seq("k"), "ck", dmOk, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4)
    assert(intercept[IllegalArgumentException](Mv.refresh(spark, jm))
      .getMessage.contains("refreshJoin"))
    val sm = s"$wh/jm2e"
    Snapshots.publish(spark, s"$wh/jb2e", Seq((1L, "g", 1L)).toDF("k", "g", "v"))
    Mv.create(spark, sm, s"$wh/jb2e", Seq("k"), Seq("g"), Seq("v"))
    assert(intercept[IllegalArgumentException](Mv.refreshJoin(spark, sm))
      .getMessage.contains("refresh"))
  }

  test("join-MV probe reads only colliding buckets: the O(changes + buckets) claim") {
    import spark.implicits._
    val b = s"$wh/probe1"
    // 400 keys over 8 buckets, one row per key — the probe returns whole
    // FILES, so its row count reveals exactly which bucket files it read
    Snapshots.publish(spark, b,
      (0L until 400L).map(k => (k, k * 10)).toDF("ck", "v"),
      clusterBy = Some("bucket(8, ck)"))
    val delta = Seq(7L).toDF("ck") // one key -> one bucket
    val (probed, pruned) = Mv.bucketProbe(spark, b, 1, "ck", delta)
    assert(pruned, "a bucket-clustered base must report a pruned probe")
    val hashes = (0L until 400L).toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(8)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = hashes.values.count(_ == hashes(7L))
    assert(probed.count() === expected.toLong,
      "probe must read exactly the colliding bucket's files")
    assert(probed.count() < 400, "an unpruned probe would betray the claim")
    // a table whose layout was dropped degrades to the FALLBACK read —
    // reported unpruned (no structural bound), but still stats-bounded:
    // every row matching the delta key survives, and with a
    // range-correlated layout (disjoint per-file ck envelopes) the
    // advisory footer-stats prune reads a strict file subset
    val b2 = s"$wh/probe2"
    Snapshots.publish(spark, b2, (0L until 50L).map(k => (k, k)).toDF("ck", "v")
      .repartitionByRange(5, col("ck")).sortWithinPartitions("ck"))
    val (p2, pruned2) = Mv.bucketProbe(spark, b2, 1, "ck", delta)
    assert(!pruned2, "a fallback probe must report itself unpruned")
    assert(p2.filter(col("ck") === 7L).count() === 1,
      "the advisory prune must never drop a matching row")
    assert(p2.count() < 50,
      "a narrow delta over disjoint file envelopes must read a file subset")
    // NULL-only delta keys keep the conservative full read
    val (p3, _) = Mv.bucketProbe(spark, b2, 1, "ck",
      Seq[Option[Long]](None).toDF("ck"))
    assert(p3.count() === 50)
  }

  test("join-MV probe prunes time-transform layouts to colliding calendar units") {
    import spark.implicits._
    val b = s"$wh/tprobe1"
    // 10 calendar days x 5 rows, days(ts)-clustered: one file set per day
    val rows = (0 until 50).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i / 5 + 1}%02d 0${i % 5}:00:00"), i.toLong)
    }
    Snapshots.publish(spark, b, rows.toDF("ts", "v"), clusterBy = Some("days(ts)"))
    // a delta touching TWO days probes exactly those days' rows
    val delta = Seq(
      java.sql.Timestamp.valueOf("2024-01-03 01:00:00"),
      java.sql.Timestamp.valueOf("2024-01-07 04:00:00")).toDF("ts")
    val (probed, pruned) = Mv.bucketProbe(spark, b, 1, "ts", delta)
    assert(pruned, "a days(ts) layout must report a pruned probe")
    assert(probed.count() === 10L, "probe must read exactly the touched days' files")
    val days = probed.select(to_date(col("ts"))).distinct()
      .collect().map(_.getDate(0).toString).toSet
    assert(days === Set("2024-01-03", "2024-01-07"))
  }

  test("join MV over a days(ts) co-clustered star: incremental refresh equals the recompute") {
    import spark.implicits._
    val f = s"$wh/tf1"; val dm = s"$wh/td1"; val m = s"$wh/tm1"
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d $h%02d:00:00")
    // fact: (k PK, ts time key, cents); dim: (rts PK+time key, seg)
    val facts = Seq((1L, ts(1, 1), 100L), (2L, ts(1, 2), 200L),
      (3L, ts(2, 1), 300L), (4L, ts(3, 1), 400L))
    val dims = Seq((ts(1, 1), "a"), (ts(1, 2), "a"), (ts(2, 1), "b"), (ts(3, 1), "c"))
    Snapshots.publish(spark, f, facts.toDF("k", "ts", "cents"),
      clusterBy = Some("days(ts)"))
    Snapshots.publish(spark, dm, dims.toDF("rts", "seg"),
      clusterBy = Some("days(rts)"))
    Mv.createJoin(spark, m, f, Seq("k"), "ts", dm, Seq("rts"), "rts",
      Seq("seg"), Seq("cents"), mvBuckets = 4)
    def recompute = collectJoinMv(IncrementalView.countSum(
      Snapshots.read(spark, f).join(Snapshots.read(spark, dm),
        col("ts") === col("rts")), Seq("seg"), Seq("cents")))
    assert(collectJoinMv(Mv.read(spark, m)) === recompute)
    // both sides mutate: fact updates k=1, deletes k=4 (day 3 vanishes);
    // dim moves day 2's segment
    Snapshots.mergeByKey(spark, f,
      Seq((1L, ts(1, 1), 150L, false), (4L, ts(3, 1), 0L, true))
        .toDF("k", "ts", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, dm,
      Seq((ts(2, 1), "moved", false)).toDF("rts", "seg", "__del"),
      keyCols = Seq("rts"), tombstoneCol = Some("__del"))
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(r.probePrunedLeft && r.probePrunedRight,
      s"time-transform probes must report pruned: $r")
    assert(collectJoinMv(Mv.read(spark, m)) === recompute)
    // replay is a noop
    assert(Mv.refreshJoin(spark, m).mode === "noop")
    // layout contract: a bucket star cannot pair with a time star, and
    // differing time units refuse
    val dm2 = s"$wh/td2"
    Snapshots.publish(spark, dm2, dims.toDF("rts", "seg"),
      clusterBy = Some("bucket(4, rts)"))
    val e1 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/tm2", f, Seq("k"), "ts", dm2, Seq("rts"), "rts",
        Seq("seg"), Seq("cents")))
    assert(e1.getMessage.contains("ONE layout"), e1.getMessage)
    val dm3 = s"$wh/td3"
    Snapshots.publish(spark, dm3, dims.toDF("rts", "seg"),
      clusterBy = Some("months(rts)"))
    val e2 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/tm3", f, Seq("k"), "ts", dm3, Seq("rts"), "rts",
        Seq("seg"), Seq("cents")))
    assert(e2.getMessage.contains("ONE layout"), e2.getMessage)
  }

  test("join MV with a days(ts) GROUP spec maintains from either side; trilinear lifts too") {
    import spark.implicits._
    val f = s"$wh/jtg_f"; val dm = s"$wh/jtg_d"; val m = s"$wh/jtg_m"
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")
    // the star daily dashboard: bucket-co-clustered on the JOIN key, the
    // view grouped by (dim column, days over the FACT's time column)
    Snapshots.publish(spark, f,
      Seq((1L, 10L, ts(1, 1), 100L), (2L, 10L, ts(2, 5), 200L),
        (3L, 11L, ts(1, 9), 300L), (4L, 11L, ts(3, 2), 400L))
        .toDF("k", "ck", "ts", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm, Seq((10L, "a"), (11L, "b")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg", "days(ts)"), Seq("cents"), mvBuckets = 4,
      minMaxCols = Seq("cents"))
    def recompute: Set[Seq[Any]] = Snapshots.read(spark, f)
      .join(Snapshots.read(spark, dm), col("ck") === col("ck2"))
      .groupBy(col("seg"), Mv.timeGroup("days", "ts").as("days_ts"))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"),
        count(col("cents")).as("nn_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .collect().map(_.toSeq).toSet
    def got: Set[Seq[Any]] = Mv.read(spark, m)
      .select("seg", "days_ts", "n_rows", "sum_cents", "nn_cents",
        "min_cents", "max_cents")
      .collect().map(_.toSeq).toSet
    assert(got === recompute)
    // FACT feed: k=2 MOVES across days (the unit travels through the CDF
    // as a group move), k=1 deletes (its day's min retracts → the
    // recount tier), k=5 inserts a fresh (seg, day)
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, ts(4, 1), 250L, false), (5L, 11L, ts(4, 2), 500L, false),
        (1L, 10L, ts(1, 1), 100L, true)).toDF("k", "ck", "ts", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r1 = Mv.refreshJoin(spark, m)
    assert(r1.mode === "incremental", s"got $r1")
    assert(r1.recountGroups > 0L, s"a deleted minimum must recount: $r1")
    assert(got === recompute)
    // DIM feed: a relabel moves every (seg, day) group of ck=11 wholesale
    Snapshots.mergeByKey(spark, dm,
      Seq((11L, "c", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r2 = Mv.refreshJoin(spark, m)
    assert(r2.mode === "incremental", s"got $r2")
    assert(got === recompute)
    assert(Mv.refreshJoin(spark, m).mode === "noop")
    // contract: a non-time transform column refuses at create
    val e1 = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/jtg_x", f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
        Seq("days(cents)"), Seq("cents")))
    assert(e1.getMessage.contains("date/timestamp"), e1.getMessage)
    // TRILINEAR: the same spec lifts — days(ts) on the fact of a
    // dim ⋈ fact ⋈ dim star maintains through the fact's feed
    val l3 = s"$wh/jtg3_l"; val f3 = s"$wh/jtg3_f"
    val r3 = s"$wh/jtg3_r"; val m3 = s"$wh/jtg3_m"
    Snapshots.publish(spark, l3, Seq((10L, "a"), (11L, "b")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    Snapshots.publish(spark, f3,
      Seq((1L, 10L, 1L, ts(1, 1), 100L), (2L, 10L, 2L, ts(2, 1), 200L),
        (3L, 11L, 1L, ts(2, 3), 300L))
        .toDF("k", "ck", "prio", "ts", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, r3, Seq((1L, "hi"), (2L, "lo")).toDF("pr", "plabel"),
      clusterBy = Some("pr"))
    Mv.createJoin3(spark, m3, l3, Seq("ck2"), "ck2", f3, Seq("k"), "ck", "prio",
      r3, Seq("pr"), "pr", Seq("seg", "plabel", "days(ts)"), Seq("cents"),
      mvBuckets = 4)
    def rec3: Set[Seq[Any]] = Snapshots.read(spark, l3)
      .join(Snapshots.read(spark, f3), col("ck2") === col("ck"))
      .join(Snapshots.read(spark, r3), col("prio") === col("pr"))
      .groupBy(col("seg"), col("plabel"), Mv.timeGroup("days", "ts").as("days_ts"))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("sum_cents"))
      .collect().map(_.toSeq).toSet
    def got3: Set[Seq[Any]] = Mv.read(spark, m3)
      .select("seg", "plabel", "days_ts", "n_rows", "sum_cents")
      .collect().map(_.toSeq).toSet
    assert(got3 === rec3)
    Snapshots.mergeByKey(spark, f3,
      Seq((2L, 10L, 2L, ts(5, 1), 250L, false))
        .toDF("k", "ck", "prio", "ts", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refreshJoin3(spark, m3).mode === "incremental")
    assert(got3 === rec3)
  }

  test("join-MV refresh SURFACES probe degradation: flag flips on layout loss, resets after re-cluster") {
    import spark.implicits._
    val f = s"$wh/jf4"; val dm = s"$wh/jd4"; val m = s"$wh/jm4"
    publishStar(f, dm,
      Seq((1L, 10L, 100L), (2L, 11L, 200L), (3L, 12L, 300L)),
      Seq((10L, "a"), (11L, "b"), (12L, "c")))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4)
    // intact layouts: a left-only change probes the RIGHT base pruned
    Snapshots.mergeByKey(spark, f,
      Seq((1L, 10L, 150L, false)).toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r1 = Mv.refreshJoin(spark, m)
    assert(r1.mode === "incremental" && r1.probePrunedLeft && r1.probePrunedRight,
      s"intact layouts must report pruned probes: $r1")
    // the RIGHT base loses its bucket header (the row-level CoW rewrite
    // shape — commitRewrite drops what footer stats cannot re-prove; a
    // plain unclustered re-publish stands in) while the LEFT mutates, so
    // the next refresh's ΔL must probe the right base UNPRUNED — still
    // incremental, still correct, and the report must say so
    Snapshots.publish(spark, dm, Snapshots.read(spark, dm))
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 11L, 250L, false)).toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r2 = Mv.refreshJoin(spark, m)
    assert(r2.mode === "incremental", s"got $r2")
    assert(!r2.probePrunedRight, s"layout loss must surface in the report: $r2")
    assert(r2.probePrunedLeft, s"the intact side stays pruned: $r2")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm),
      "the degraded probe is still CORRECT")
    // re-cluster (the CALL sys.cluster verb) restores the layout, and
    // the next refresh's probe prunes again
    Snapshots.publish(spark, dm, Snapshots.read(spark, dm),
      clusterBy = Some("bucket(4, ck2)"))
    Snapshots.mergeByKey(spark, f,
      Seq((3L, 12L, 350L, false)).toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r3 = Mv.refreshJoin(spark, m)
    assert(r3.mode === "incremental" && r3.probePrunedLeft && r3.probePrunedRight,
      s"re-clustering must restore the pruned probe: $r3")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))
  }

  test("MV min/max: algebraic on insert-only groups, recount under retraction, equality throughout") {
    import spark.implicits._
    val b = s"$wh/mm1"; val m = s"$wh/mmv1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "b", 5L), (4L, "b", 50L),
      (5L, "c", null.asInstanceOf[java.lang.Long]))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"))
    def mm: Map[String, (Option[Long], Option[Long])] =
      Mv.read(spark, m).select("g", "min_v", "max_v").collect().map { r =>
        r.getString(0) -> (
          (if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      }.toMap
    assert(mm === Map("a" -> (Some(10L), Some(30L)), "b" -> (Some(5L), Some(50L)),
      "c" -> (None, None)))
    // INSERT-only refresh: min/max extend algebraically (incl. a new
    // group and an envelope-extending value)
    Snapshots.mergeByKey(spark, b, Seq((6L, "a", 7L, false), (7L, "d", 99L, false))
      .toDF("k", "g", "v", "__del"), keyCols = Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    assert(mm === Map("a" -> (Some(7L), Some(30L)), "b" -> (Some(5L), Some(50L)),
      "c" -> (None, None), "d" -> (Some(99L), Some(99L))))
    // RETRACTIONS: delete b's min (min must RISE — not invertible
    // algebraically), update a's max downward, delete d entirely
    Snapshots.mergeByKey(spark, b, Seq(
        (3L, "b", 0L, true),          // b loses its min 5 -> min rises to 50
        (2L, "a", 8L, false),         // a's max 30 rewrites to 8 -> max drops to 10
        (7L, "d", 0L, true))          // group d vanishes
      .toDF("k", "g", "v", "__del"), keyCols = Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    assert(mm === Map("a" -> (Some(7L), Some(10L)), "b" -> (Some(50L), Some(50L)),
      "c" -> (None, None)))
    // equality against the from-scratch recompute, all columns
    val recomputed = IncrementalView.countSum(Snapshots.read(spark, b),
      Seq("g"), Seq("v"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    val got = Mv.read(spark, m).select("g", "n_rows", "sum_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    assert(got === recomputed)
    // a retraction of a NON-extremal value still recounts to the right
    // answer (recount is per-group, not per-value)
    Snapshots.mergeByKey(spark, b, Seq((6L, "a", 0L, true))
      .toDF("k", "g", "v", "__del"), keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Mv.refresh(spark, m)
    assert(mm("a") === (Some(8L), Some(10L)))
    // reserved-name refusal covers the stale flag
    val e = intercept[IllegalArgumentException](Mv.create(spark, s"$wh/mmv2", b,
      Seq("k"), Seq("g"), Seq("v"), minMaxCols = Seq("__mm_stale")))
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("insert-only min/max refresh elides the recount: zero pre-existing base-file reopens") {
    import spark.implicits._
    import graft.sources.CountingFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingFileSystem].getName)
    val b = s"graftcount://$wh/cntb1"; val m = s"$wh/cntv1"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 10L), (2L, "b", 20L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"))
    val v1Files = Snapshots.files(spark, b, 1)
    // INSERT-only change, then refresh under the counting FS: the CDF
    // reads only the APPENDED file, and the recount subtree is elided
    // structurally — no v1 data file may reopen
    Snapshots.publish(spark, b, base(Seq((3L, "a", 5L))), append = true)
    CountingFileSystem.reset()
    val rIns = Mv.refresh(spark, m)
    assert(rIns.mode === "incremental")
    assert(rIns.recountGroups === 0L && rIns.recountPruned,
      s"insert-only refresh must report a zero recount: $rIns")
    val reopened = v1Files.filter(f => CountingFileSystem.count("open", f) > 0)
    assert(reopened.isEmpty,
      s"insert-only refresh reopened pre-existing base files: $reopened")
    // the algebraic combine still extended the envelope
    val aMin = Mv.read(spark, m).filter(col("g") === "a")
      .select("min_v").head.getLong(0)
    assert(aMin === 5L)
    // a RETRACTION pays the declared recount — and says so in the report
    Snapshots.mergeByKey(spark, b,
      Seq((3L, "a", 0L, true)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val rDel = Mv.refresh(spark, m)
    assert(rDel.mode === "incremental")
    assert(rDel.recountGroups === 1L, s"one group retracted: $rDel")
    assert(!rDel.recountPruned,
      s"an unclustered base cannot file-prune the recount — report it: $rDel")
    assert(Mv.read(spark, m).filter(col("g") === "a")
      .select("min_v").head.getLong(0) === 10L)
  }

  test("min/max recount survives a NULL-group retraction (stats fallback stays conservative)") {
    import spark.implicits._
    val b = s"$wh/mmnull"; val m = s"$wh/mmnullv"
    Snapshots.publish(spark, b, base(Seq(
      (1L, null, 10L), (2L, null, 30L), (3L, "x", 7L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"))
    // delete the NULL group's minimum: footer stats describe non-null
    // values only, so the advisory envelope prune must step aside and
    // the recount must still see the surviving NULL-group row
    Snapshots.mergeByKey(spark, b,
      Seq((1L, null.asInstanceOf[String], 0L, true)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental" && r.recountGroups === 1L && !r.recountPruned,
      s"got $r")
    val nullMin = Mv.read(spark, m).filter(col("g").isNull)
      .select("min_v").head.getLong(0)
    assert(nullMin === 30L, "the NULL group's minimum must recount correctly")
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("min/max recount FILE-prunes to the retracted groups' cluster dirs") {
    import spark.implicits._
    import graft.sources.CountingFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingFileSystem].getName)
    val b = s"graftcount://$wh/cntb2"; val m = s"$wh/cntv2"
    // 8 identity-clustered groups, 3 rows each — one `__cluster=` dir per
    // group value (the q200 shape: bounded groups, group-clustered base)
    Snapshots.publish(spark, b, base(
      (0L until 24L).map(i => (i, s"g${i % 8}", java.lang.Long.valueOf(i + 1)))),
      clusterBy = Some("g"))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"))
    val v1Files = Snapshots.files(spark, b, 1)
    // delete g1's minimum (k=1, v=2): a retraction touching ONE group
    Snapshots.mergeByKey(spark, b,
      Seq((1L, "g1", 0L, true)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    CountingFileSystem.reset()
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    assert(r.recountGroups === 1L && r.recountPruned,
      s"a group-clustered base must file-prune the recount and say so: $r")
    // every pre-existing base file the refresh opened (CDF over the
    // rewritten dir + the recount probe) must live in g1's cluster dir —
    // the other 7 groups' files never open, not even to plan a scan
    val g1Dir = spark.range(1)
      .select(md5(to_json(struct(lit("g1").as("g"))))).head.getString(0)
    val reopened = v1Files.filter(f => CountingFileSystem.count("open", f) > 0)
    assert(reopened.nonEmpty, "the retracted group's own files must open")
    assert(reopened.forall(_.contains(s"__cluster=$g1Dir/")),
      s"recount opened files outside the retracted group's dir: " +
        reopened.filterNot(_.contains(s"__cluster=$g1Dir/")).mkString(", "))
    // and the recount got the risen minimum right
    assert(Mv.read(spark, m).filter(col("g") === "g1")
      .select("min_v").head.getLong(0) === 10L)
    assert(collectMv(Mv.read(spark, m)) === recompute(b))
  }

  test("join-MV min/max recount: group side restricted first, fact probed to colliding buckets") {
    import spark.implicits._
    import graft.sources.CountingFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingFileSystem].getName)
    val f = s"graftcount://$wh/cntjf1"; val dm = s"$wh/cntjd1"; val m = s"$wh/cntjm1"
    // 8 custkeys over 4 buckets; segments: a = {10, 20}, rest one key each
    val facts = (0 until 8).map(i => (i.toLong, (i + 1) * 10L, (i + 1) * 100L))
    val dims = Seq((10L, "a"), (20L, "a"), (30L, "b"), (40L, "c"),
      (50L, "d"), (60L, "e"), (70L, "f"), (80L, "g"))
    Snapshots.publish(spark, f, facts.toDF("k", "ck", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm, dims.toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4, minMaxCols = Seq("cents"))
    val v1Fact = Snapshots.files(spark, f, 1)
    // DIM-only retraction: customer 10 moves a -> b, so group 'a' retracts
    // and the recount's fact probe may touch only the buckets of the
    // delta key (10) and of 'a''s surviving member (20)
    Snapshots.mergeByKey(spark, dm,
      Seq((10L, "b", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    CountingFileSystem.reset()
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(r.recountGroups === 1L && r.recountPruned,
      s"the dim-side retraction must recount one group through pruned probes: $r")
    val bucketOfKey = (0 until 8).map { i =>
      val k = (i + 1) * 10L
      k -> spark.range(1).select(pmod(hash(lit(k)), lit(4)).cast("string"))
        .head.getString(0)
    }.toMap
    val allowed = Set(bucketOfKey(10L), bucketOfKey(20L))
    def bucketOf(fl: String): Option[String] =
      "__cluster=([^/]+)/".r.findFirstMatchIn(fl).map(_.group(1))
    val opened = v1Fact.filter(fl => CountingFileSystem.count("open", fl) > 0)
    assert(opened.nonEmpty, "the colliding buckets' fact files must open")
    assert(opened.forall(fl => bucketOf(fl).forall(allowed)),
      s"fact probe opened buckets outside the colliding set: " +
        opened.filterNot(fl => bucketOf(fl).forall(allowed)).mkString(", "))
    assert(v1Fact.exists(fl => CountingFileSystem.count("open", fl) == 0),
      "an unpruned fact read would betray the bound")
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))
  }

  test("join-MV min/max: colliding insert-only deltas elide the recount (net-additive feed)") {
    import spark.implicits._
    val f = s"$wh/niof"; val dm = s"$wh/niod"; val m = s"$wh/niom"
    publishStar(f, dm,
      Seq((1L, 10L, 100L), (2L, 11L, 300L)), Seq((10L, "a"), (11L, "b")))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4, minMaxCols = Seq("cents"))
    // BOTH sides insert, and the inserts COLLIDE (new fact key 12 ⋈ new
    // dim 12): the bilinear correction term ΔL⋈ΔR emits sign=−1 rows,
    // but neither RAW feed retracted — the recount must still elide
    Snapshots.publish(spark, f, Seq((3L, 12L, 50L), (4L, 10L, 900L))
      .toDF("k", "ck", "cents"), append = true,
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm, Seq((12L, "c")).toDF("ck2", "seg"),
      append = true, clusterBy = Some("bucket(4, ck2)"))
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(r.recountGroups === 0L && r.recountPruned,
      s"insert-only raw feeds must elide the recount despite the " +
        s"correction term's synthetic deletes: $r")
    // and the algebraic combine over the net-additive feed is exact
    val mm = Mv.read(spark, m).select("seg", "min_cents", "max_cents")
      .collect().map(rr => rr.getString(0) -> ((rr.getLong(1), rr.getLong(2)))).toMap
    assert(mm === Map("a" -> ((100L, 900L)), "b" -> ((300L, 300L)),
      "c" -> ((50L, 50L))))
    assert(collectJoinMv(Mv.read(spark, m)) === joinRecompute(f, dm))
  }

  test("create validates every referenced column against the base schema") {
    val b = s"$wh/vcol1"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 1L))))
    def failing(key: Seq[String] = Seq("k"), grp: Seq[String] = Seq("g"),
        sum: Seq[String] = Seq("v"), mm: Seq[String] = Nil): String =
      intercept[IllegalArgumentException](Mv.create(spark, s"$wh/vcolm1", b,
        key, grp, sum, minMaxCols = mm)).getMessage
    assert(failing(grp = Seq("nope")).contains("nope"))
    assert(failing(key = Seq("oops")).contains("does not carry"))
    assert(failing(sum = Seq("missing")).contains("missing"))
    assert(failing(mm = Seq("ghost")).contains("ghost"))
    // join form: same contract over the joined relation
    import spark.implicits._
    val dm = s"$wh/vcold1"
    Snapshots.publish(spark, s"$wh/vcolf1",
      Seq((1L, 10L, 5L)).toDF("k", "ck", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm, Seq((10L, "a")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    val ej = intercept[IllegalArgumentException](
      Mv.createJoin(spark, s"$wh/vcoljm1", s"$wh/vcolf1", Seq("k"), "ck",
        dm, Seq("ck2"), "ck2", Seq("segg"), Seq("cents")))
    assert(ej.getMessage.contains("segg") &&
      ej.getMessage.contains("does not carry"), ej.getMessage)
  }

  test("join-MV min/max: recount under retraction equals the joined recompute") {
    import spark.implicits._
    val f = s"$wh/jmm1"; val dm = s"$wh/jmmd1"; val m = s"$wh/jmmv1"
    publishStar(f, dm,
      Seq((1L, 10L, 100L), (2L, 10L, 300L), (3L, 11L, 50L), (4L, 11L, 500L)),
      Seq((10L, "a"), (11L, "b")))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4, minMaxCols = Seq("cents"))
    def mm: Map[String, (Long, Long)] = Mv.read(spark, m)
      .select("seg", "min_cents", "max_cents").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mm === Map("a" -> ((100L, 300L)), "b" -> ((50L, 500L))))
    // delete a's max and b's min in one merge; insert into a NEW group
    // via a dim move — the recount must consult the JOINED relation
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, 0L, true), (3L, 11L, 0L, true), (5L, 12L, 42L, false))
        .toDF("k", "ck", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, dm,
      Seq((12L, "c", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(mm === Map("a" -> ((100L, 100L)), "b" -> ((500L, 500L)),
      "c" -> ((42L, 42L))),
      "deleted extrema must recount; the fresh group combines algebraically")
    // full equality against the joined recompute
    val rec = IncrementalView.countSum(
      Snapshots.read(spark, f).join(Snapshots.read(spark, dm),
        col("ck") === col("ck2")), Seq("seg"), Seq("cents"), Seq("cents"))
      .select("seg", "n_rows", "sum_cents", "min_cents", "max_cents")
      .collect().map(_.toSeq).toSet
    val got = Mv.read(spark, m)
      .select("seg", "n_rows", "sum_cents", "min_cents", "max_cents")
      .collect().map(_.toSeq).toSet
    assert(got === rec)
  }

  test("approx-distinct sketches: exact union on inserts, recount on retraction, bounded at scale") {
    import spark.implicits._
    val b = s"$wh/axb1"; val m = s"$wh/axm1"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Nil, mvBuckets = 4,
      approxDistinctCols = Seq("v"))
    def est: Map[String, Long] = Mv.read(spark, m)
      .select(col("g"), hll_sketch_estimate(col("hll_v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // DataSketches HLL is exact at tiny cardinalities (coupon mode)
    assert(est === Map("a" -> 2L, "b" -> 1L))
    // INSERT-only refresh: registers only grow, the union is exact and
    // the recount tier must elide; a duplicate value adds nothing
    Snapshots.publish(spark, b, base(Seq((4L, "a", 30L), (5L, "b", 5L))), append = true)
    val r1 = Mv.refresh(spark, m)
    assert(r1.mode === "incremental" && r1.recountGroups === 0L, s"got $r1")
    assert(est === Map("a" -> 3L, "b" -> 1L))
    // RETRACTION: a union can never forget — the recount tier rebuilds
    // the retracted group's sketch from the surviving rows
    Snapshots.mergeByKey(spark, b, base(Seq((4L, "a", 30L)))
      .withColumn("__del", lit(true)), Seq("k"), tombstoneCol = Some("__del"))
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "incremental" && r2.recountGroups > 0L, s"got $r2")
    assert(est === Map("a" -> 2L, "b" -> 1L))
    // error bound at scale: 60k distinct values, one-shot build vs the
    // half-publish + append-refresh UNION path — both estimates inside
    // the lgK=12 band (~1.6% rse; 5% is >3σ)
    def ids(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id").as("k"), lit("g").as("g"), col("id").as("v"))
    val b2 = s"$wh/axb2"; val m2 = s"$wh/axm2"
    Snapshots.publish(spark, b2, ids(0, 60000))
    Mv.create(spark, m2, b2, Seq("k"), Seq("g"), Nil, approxDistinctCols = Seq("v"))
    val e1 = Mv.read(spark, m2).select(hll_sketch_estimate(col("hll_v"))).head.getLong(0)
    assert(math.abs(e1 - 60000.0) / 60000.0 < 0.05, s"one-shot estimate $e1 off >5%")
    val b3 = s"$wh/axb3"; val m3 = s"$wh/axm3"
    Snapshots.publish(spark, b3, ids(0, 30000))
    Mv.create(spark, m3, b3, Seq("k"), Seq("g"), Nil, approxDistinctCols = Seq("v"))
    Snapshots.publish(spark, b3, ids(30000, 60000), append = true)
    assert(Mv.refresh(spark, m3).mode === "incremental")
    val e2 = Mv.read(spark, m3).select(hll_sketch_estimate(col("hll_v"))).head.getLong(0)
    assert(math.abs(e2 - 60000.0) / 60000.0 < 0.05, s"union-path estimate $e2 off >5%")
    // contract refusals: a float column and a group column both refuse
    assert(intercept[IllegalArgumentException](Mv.create(spark, s"$wh/axmx", b,
      Seq("k"), Seq("g"), Nil, approxDistinctCols = Seq("g")))
      .getMessage.contains("group columns"))
  }

  test("approx-quantile sketches: exact merge on inserts, recount on retraction, typed contract") {
    import spark.implicits._
    val b = s"$wh/kqb1"; val m = s"$wh/kqm1"
    Snapshots.publish(spark, b,
      Seq[(Long, String, Long)]((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
        (4L, "b", 40L), (5L, "b", 50L)).toDF("k", "g", "v"))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Nil, mvBuckets = 4,
      approxQuantileCols = Seq("v"))
    // below the sketch's k (200) nothing compacts: the sketch holds the
    // EXACT value set, so its median is the exact order statistic — the
    // equality pin that proves the maintenance algebra, not the bound
    def p50: Map[String, Long] = Mv.read(spark, m)
      .select(col("g"), kll_sketch_get_quantile_bigint(col("kll_v"), lit(0.5)).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p50 === Map("a" -> 20L, "b" -> 40L))
    // insert-only feed: stored ⊎ delta sketch == the sketch of the union
    Snapshots.mergeByKey(spark, b,
      Seq((6L, "a", 5L, false), (7L, "b", 60L, false)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r1 = Mv.refresh(spark, m)
    assert(r1.mode === "incremental" && r1.recountGroups === 0L, s"got $r1")
    assert(p50 === Map("a" -> 10L, "b" -> 50L))
    // retraction: the sketch cannot forget — the group recounts (the
    // min/max __mm_stale channel), untouched groups keep their sketch
    Snapshots.mergeByKey(spark, b,
      Seq((3L, "a", 30L, true)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "incremental" && r2.recountGroups === 1L, s"got $r2")
    assert(p50 === Map("a" -> 10L, "b" -> 50L))
    assert(Mv.read(spark, m).select("g", "n_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("a" -> 3L, "b" -> 3L))
    // contract: a string column refuses at create; so does a group column
    val b2 = s"$wh/kqb2"
    Snapshots.publish(spark, b2, Seq((1L, "a", "s")).toDF("k", "g", "s"))
    assert(intercept[IllegalArgumentException](Mv.create(spark, s"$wh/kqm2", b2,
      Seq("k"), Seq("g"), Nil, approxQuantileCols = Seq("s")))
      .getMessage.contains("double/float/bigint"))
    assert(intercept[IllegalArgumentException](Mv.create(spark, s"$wh/kqm3", b2,
      Seq("k"), Seq("g"), Nil, approxQuantileCols = Seq("g")))
      .getMessage.contains("group columns"))
  }

  test("join-MV approx-distinct: dim relabel moves values wholesale, sketches rebuild; rollup routes") {
    import spark.implicits._
    val f = s"$wh/axjf"; val dm = s"$wh/axjd"; val m = s"$wh/axjm"
    Snapshots.publish(spark, f,
      Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 11L, 200L), (4L, 11L, 300L))
        .toDF("k", "ck", "v"), clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, dm,
      Seq((10L, "a", "x"), (11L, "a", "y")).toDF("ck2", "seg", "sub"),
      clusterBy = Some("bucket(4, ck2)"))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg", "sub"), Nil, mvBuckets = 4, approxDistinctCols = Seq("v"))
    def est: Map[(String, String), Long] = Mv.read(spark, m)
      .select(col("seg"), col("sub"), hll_sketch_estimate(col("hll_v")).as("e"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est === Map(("a", "x") -> 2L, ("a", "y") -> 2L))
    // the dim relabel RETRACTS (a,y) and inserts (b,y): values move
    // wholesale through the bilinear delta; both touched groups' sketches
    // settle exactly (tiny regime)
    Snapshots.mergeByKey(spark, dm,
      Seq((11L, "b", "y", false)).toDF("ck2", "seg", "sub", "__del"),
      Seq("ck2"), tombstoneCol = Some("__del"))
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(est === Map(("a", "x") -> 2L, ("b", "y") -> 2L))
    // the ROLLUP approx query over the star routes to a sketch union —
    // note 200 appears under both segs, so the union must dedup to 3
    Mv.register(spark, m)
    try {
      def q = spark.read.format("graft-snapshot").option("root", f).load()
        .join(spark.read.format("graft-snapshot").option("root", dm).load(),
          col("ck") === col("ck2"))
        .agg(approx_count_distinct(col("v")).as("nd"))
      assert(q.queryExecution.optimizedPlan.toString.contains(s"graft-snapshot($m)"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.head.getLong(0) === 3L)
    } finally Mv.unregister(spark, m)
  }

  test("time-unit MV grouping: days(ts) maintains delta-sized, recounts prune by calendar dirs") {
    import spark.implicits._
    val b = s"$wh/tgb1"; val m = s"$wh/tgm1"
    // events across 3 days, base CLUSTERED on the same days(ts) the view
    // groups by — the recount's file bound comes from that agreement
    def df(rows: Seq[(Long, String, java.lang.Long)]) =
      rows.toDF("k", "ts", "v").withColumn("ts", to_timestamp(col("ts")))
    Snapshots.publish(spark, b, df(Seq(
      (1L, "2024-03-01 01:00:00", 10L), (2L, "2024-03-01 05:00:00", 20L),
      (3L, "2024-03-02 03:00:00", 30L), (4L, "2024-03-02 09:00:00", 40L),
      (5L, "2024-03-03 02:00:00", 50L))), clusterBy = Some("days(ts)"))
    Mv.create(spark, m, b, Seq("k"), Seq("days(ts)"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"))
    def recompute: Set[Seq[Any]] = Snapshots.read(spark, b)
      .groupBy(Mv.timeGroup("days", "ts").as("days_ts"))
      .agg(count(lit(1)).as("n_rows"), sum("v").as("sum_v"),
        count(col("v")).as("nn_v"), min("v").as("min_v"), max("v").as("max_v"))
      .collect().map(_.toSeq).toSet
    def got: Set[Seq[Any]] = Mv.read(spark, m)
      .select("days_ts", "n_rows", "sum_v", "nn_v", "min_v", "max_v")
      .collect().map(_.toSeq).toSet
    assert(got === recompute)
    assert(Mv.read(spark, m).schema("days_ts").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // one mixed merge: k=3 MOVES days (2024-03-02 → 03-04: its unit
    // travels through the CDF as a group move), k=1 deletes (day 1's
    // MIN retracts → the recount tier), k=6 inserts into a fresh day
    Snapshots.mergeByKey(spark, b,
      df(Seq((3L, "2024-03-04 03:00:00", 30L),
        (6L, "2024-03-05 01:00:00", 60L))).withColumn("__del", lit(false))
        .unionByName(df(Seq((1L, "2024-03-01 01:00:00", 10L)))
          .withColumn("__del", lit(true))),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental", s"got $r")
    assert(r.recountGroups > 0L,
      s"day 1 lost its minimum — the recount tier must run: $r")
    assert(r.recountPruned,
      s"the days(ts)-clustered base must FILE-prune the recount by the " +
        s"retracted days' own dirs: $r")
    assert(got === recompute)
    // a typo'd transform column and a non-time column both refuse at create
    assert(intercept[IllegalArgumentException](Mv.create(spark, s"$wh/tgm1x", b,
      Seq("k"), Seq("days(nope)"), Seq("v"))).getMessage.contains("does not carry"))
    assert(intercept[IllegalArgumentException](Mv.create(spark, s"$wh/tgm1y", b,
      Seq("k"), Seq("days(v)"), Seq("v"))).getMessage.contains("date/timestamp"))
  }

  // ── TRILINEAR JOIN MVs (dim ⋈ fact ⋈ dim) ──────────────────────────

  /** left dim (ck2 PK, seg) ⋈ fact (k PK, ck, prio, cents) ⋈ right dim
    * (pr PK, plabel): bucket(4) on the left pair's keys, identity split
    * dirs on the low-cardinality right key.
    */
  private def publishStar3(ldim: String, fact: String, rdim: String,
      dims: Seq[(Long, String)], facts: Seq[(Long, Long, Long, Long)],
      prios: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    Snapshots.publish(spark, ldim, dims.toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    Snapshots.publish(spark, fact, facts.toDF("k", "ck", "prio", "cents"),
      clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, rdim, prios.toDF("pr", "plabel"),
      clusterBy = Some("pr"))
  }

  private def create3(m: String, ldim: String, fact: String, rdim: String): Unit =
    Mv.createJoin3(spark, m, ldim, Seq("ck2"), "ck2",
      fact, Seq("k"), "ck", "prio", rdim, Seq("pr"), "pr",
      Seq("seg", "plabel"), Seq("cents"), mvBuckets = 4)

  private def recompute3(ldim: String, fact: String, rdim: String): Set[Seq[Any]] =
    IncrementalView.countSum(
      Snapshots.read(spark, ldim)
        .join(Snapshots.read(spark, fact), col("ck2") === col("ck"))
        .join(Snapshots.read(spark, rdim), col("prio") === col("pr")),
      Seq("seg", "plabel"), Seq("cents"))
      .select("seg", "plabel", "n_rows", "sum_cents", "nn_cents")
      .collect().map(_.toSeq).toSet

  private def collect3(m: String): Set[Seq[Any]] =
    Mv.read(spark, m).select("seg", "plabel", "n_rows", "sum_cents", "nn_cents")
      .collect().map(_.toSeq).toSet

  test("trilinear join MV: incremental refresh equals the recompute from any side's change") {
    import spark.implicits._
    val l = s"$wh/t3l1"; val f = s"$wh/t3f1"; val r = s"$wh/t3r1"; val m = s"$wh/t3m1"
    publishStar3(l, f, r,
      Seq((10L, "a"), (11L, "b"), (12L, "c")),
      Seq((1L, 10L, 1L, 100L), (2L, 10L, 2L, 200L),
        (3L, 11L, 1L, 300L), (4L, 12L, 2L, 400L)),
      Seq((1L, "P1"), (2L, "P2")))
    create3(m, l, f, r)
    assert(collect3(m) === recompute3(l, f, r))

    // FACT-only change: update, delete (group (c,P2) vanishes), insert
    Snapshots.mergeByKey(spark, f,
      Seq((1L, 10L, 1L, 150L, false), (4L, 12L, 2L, 0L, true),
        (5L, 11L, 2L, 500L, false)).toDF("k", "ck", "prio", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    val r1 = Mv.refreshJoin3(spark, m)
    assert(r1.mode === "incremental", s"got $r1")
    assert(r1.probePrunedLeft && r1.probePrunedMid && r1.probePrunedRight,
      s"a fact-only delta probes both dims pruned: $r1")
    assert(collect3(m) === recompute3(l, f, r))

    // LEFT-dim-only change: customer 10 moves a -> moved
    Snapshots.mergeByKey(spark, l,
      Seq((10L, "moved", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r2 = Mv.refreshJoin3(spark, m)
    assert(r2.mode === "incremental")
    assert(collect3(m) === recompute3(l, f, r))

    // RIGHT-dim-only change: P2 relabels — the fact probe on the right
    // key is structurally unpruned (the fact clusters on ck) and the
    // report must SAY so; the other probes stay pruned
    Snapshots.mergeByKey(spark, r,
      Seq((2L, "P2X", false)).toDF("pr", "plabel", "__del"),
      keyCols = Seq("pr"), tombstoneCol = Some("__del"))
    val r3 = Mv.refreshJoin3(spark, m)
    assert(r3.mode === "incremental")
    assert(!r3.probePrunedMid,
      s"the right-dim delta's fact probe cannot prune — report it: $r3")
    assert(r3.probePrunedLeft && r3.probePrunedRight, s"got $r3")
    assert(collect3(m) === recompute3(l, f, r))

    // ALL THREE sides change before one refresh: the inclusion-exclusion
    // terms keep simultaneously-touched triples counted exactly once
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, 2L, 250L, false), (6L, 13L, 3L, 600L, false))
        .toDF("k", "ck", "prio", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, l,
      Seq((10L, "back", false), (13L, "d", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, r,
      Seq((3L, "P3", false)).toDF("pr", "plabel", "__del"),
      keyCols = Seq("pr"), tombstoneCol = Some("__del"))
    val r4 = Mv.refreshJoin3(spark, m)
    assert(r4.mode === "incremental")
    assert(r4.fromLeft < r4.toLeft && r4.fromMid < r4.toMid &&
      r4.fromRight < r4.toRight, s"all three watermarks must advance: $r4")
    assert(collect3(m) === recompute3(l, f, r))

    // replay: nothing moved -> noop, nothing published
    val before = Snapshots.versions(spark, m)
    assert(Mv.refreshJoin3(spark, m).mode === "noop")
    assert(Snapshots.versions(spark, m) === before)
  }

  test("a bloomOn fact bounds the right-dim fact probe STRUCTURALLY") {
    import spark.implicits._
    val l = s"$wh/t3lb"; val f = s"$wh/t3fb"; val r = s"$wh/t3rb"; val m = s"$wh/t3mb"
    Snapshots.publish(spark, l, Seq((10L, "a"), (11L, "b"), (12L, "c")).toDF("ck2", "seg"),
      clusterBy = Some("bucket(4, ck2)"))
    // fact: IDENTITY split dirs on ck (one file set per value — no hash
    // collisions muddying the pin) + per-file BLOOMS on the right FK.
    // prio RANGES overlap across files ([1,5] twice) so the stats
    // envelope alone cannot prune — only bloom MEMBERSHIP can.
    Snapshots.publish(spark, f, Seq(
      (1L, 10L, 1L, 100L), (2L, 10L, 5L, 200L), (3L, 11L, 3L, 300L),
      (4L, 12L, 1L, 400L), (5L, 12L, 5L, 500L)).toDF("k", "ck", "prio", "cents"),
      clusterBy = Some("ck"), bloomOn = Seq("prio"))
    Snapshots.publish(spark, r,
      Seq((1L, "P1"), (3L, "P3"), (5L, "P5")).toDF("pr", "plabel"),
      clusterBy = Some("pr"))
    Mv.createJoin3(spark, m, l, Seq("ck2"), "ck2",
      f, Seq("k"), "ck", "prio", r, Seq("pr"), "pr",
      Seq("seg", "plabel"), Seq("cents"), mvBuckets = 4)
    // file-bound pin, direct on the probe's file selection: probing
    // prio=3 keeps ONLY the file whose bloom might hold 3 — and because
    // every fact file carries a prio filter, the bound is STRUCTURAL
    val fv = Snapshots.versions(spark, f).last
    val all = Snapshots.files(spark, f, fv)
    val (kept, pruned) = Mv.probeFiles(spark, f, fv, "prio", Seq(3L).toDF("prio"))
    assert(pruned, "every fact file has a prio bloom — the bound must report structural")
    val holding = all.filter(fl =>
      spark.read.parquet(s"$f/$fl").filter(col("prio") === 3L).limit(1).count() > 0)
    assert(holding.toSet.subsetOf(kept.toSet), "bloom pruning must be lossless")
    assert(kept.size < all.size,
      s"range-overlapping files without prio=3 must drop by bloom: kept $kept of $all")
    // e2e: a right-dim relabel — previously THE structurally unpruned
    // path — now refreshes with the mid probe REPORTED PRUNED, and the
    // view still equals the recompute
    Snapshots.mergeByKey(spark, r,
      Seq((3L, "P3X", false)).toDF("pr", "plabel", "__del"),
      keyCols = Seq("pr"), tombstoneCol = Some("__del"))
    val rr = Mv.refreshJoin3(spark, m)
    assert(rr.mode === "incremental")
    assert(rr.probePrunedMid,
      s"the bloomed fact probe under a right-dim delta must report pruned: $rr")
    assert(rr.probePrunedLeft && rr.probePrunedRight, s"got $rr")
    assert(collect3(m) === recompute3(l, f, r))
  }

  test("trilinear probes read only colliding groups: fact bounded under a dim delta") {
    import spark.implicits._
    import graft.sources.CountingFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingFileSystem].getName)
    val l = s"$wh/t3l2"; val f = s"graftcount://$wh/t3f2"
    val r = s"$wh/t3r2"; val m = s"$wh/t3m2"
    // 8 custkeys over 4 buckets so the touched bucket is a strict subset
    publishStar3(l, f, r,
      (0 until 8).map(i => ((i + 1) * 10L, s"s$i")),
      (0 until 8).map(i => (i.toLong, (i + 1) * 10L, (i % 2 + 1).toLong,
        (i + 1) * 100L)),
      Seq((1L, "P1"), (2L, "P2")))
    create3(m, l, f, r)
    val v1Fact = Snapshots.files(spark, f, 1)
    // LEFT-dim-only change: only ck2=10 moves — the ΔL term's fact probe
    // may open only bucket(hash(10))'s files
    Snapshots.mergeByKey(spark, l,
      Seq((10L, "sX", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    CountingFileSystem.reset()
    val r1 = Mv.refreshJoin3(spark, m)
    assert(r1.mode === "incremental" && r1.probePrunedLeft &&
      r1.probePrunedMid && r1.probePrunedRight, s"got $r1")
    val allowed = spark.range(1)
      .select(pmod(hash(lit(10L)), lit(4)).cast("string")).head.getString(0)
    def bucketOf(fl: String): Option[String] =
      "__cluster=([^/]+)/".r.findFirstMatchIn(fl).map(_.group(1))
    val opened = v1Fact.filter(fl => CountingFileSystem.count("open", fl) > 0)
    assert(opened.nonEmpty, "the colliding bucket's fact files must open")
    assert(opened.forall(fl => bucketOf(fl).forall(_ == allowed)),
      s"fact probe opened buckets outside the delta key's: " +
        opened.filterNot(fl => bucketOf(fl).forall(_ == allowed)).mkString(", "))
    assert(v1Fact.exists(fl => CountingFileSystem.count("open", fl) == 0),
      "an unpruned fact read would betray the bound")
    assert(collect3(m) === recompute3(l, f, r))
  }

  test("trilinear min/max: recount under retraction equals the 3-way recompute, insert-only elides") {
    import spark.implicits._
    val l = s"$wh/t3ml"; val f = s"$wh/t3mf"; val r = s"$wh/t3mr"; val m = s"$wh/t3mm"
    publishStar3(l, f, r,
      Seq((10L, "a"), (11L, "b")),
      Seq((1L, 10L, 1L, 100L), (2L, 10L, 1L, 300L),
        (3L, 11L, 2L, 50L), (4L, 11L, 2L, 500L)),
      Seq((1L, "P1"), (2L, "P2")))
    Mv.createJoin3(spark, m, l, Seq("ck2"), "ck2",
      f, Seq("k"), "ck", "prio", r, Seq("pr"), "pr",
      Seq("seg"), Seq("cents"), mvBuckets = 4, minMaxCols = Seq("cents"))
    def mm: Map[String, (Long, Long)] = Mv.read(spark, m)
      .select("seg", "min_cents", "max_cents").collect()
      .map(rr => rr.getString(0) -> ((rr.getLong(1), rr.getLong(2)))).toMap
    assert(mm === Map("a" -> ((100L, 300L)), "b" -> ((50L, 500L))))
    // INSERT-only on two sides with colliding deltas: a new fact row
    // joins a new dim row — correction terms emit synthetic deletes,
    // yet no raw feed retracted, so the recount must elide
    Snapshots.publish(spark, f, Seq((5L, 12L, 1L, 900L)).toDF("k", "ck", "prio", "cents"),
      append = true, clusterBy = Some("bucket(4, ck)"))
    Snapshots.publish(spark, l, Seq((12L, "a")).toDF("ck2", "seg"),
      append = true, clusterBy = Some("bucket(4, ck2)"))
    val r1 = Mv.refreshJoin3(spark, m)
    assert(r1.mode === "incremental" && r1.recountGroups === 0L && r1.recountPruned,
      s"insert-only raw feeds must elide the recount: $r1")
    assert(mm === Map("a" -> ((100L, 900L)), "b" -> ((50L, 500L))))
    // RETRACTIONS: delete a's max (fact) and move dim 11 to a new
    // segment (left-dim retraction) — groups live on the LEFT dim, so
    // the recount restricts the dim first and chains pruned probes
    Snapshots.mergeByKey(spark, f,
      Seq((5L, 12L, 1L, 0L, true)).toDF("k", "ck", "prio", "cents", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, l,
      Seq((11L, "moved", false)).toDF("ck2", "seg", "__del"),
      keyCols = Seq("ck2"), tombstoneCol = Some("__del"))
    val r2 = Mv.refreshJoin3(spark, m)
    assert(r2.mode === "incremental", s"got $r2")
    assert(r2.recountGroups > 0L && r2.recountPruned,
      s"a genuine retraction recounts through pruned probes: $r2")
    assert(mm === Map("a" -> ((100L, 300L)), "moved" -> ((50L, 500L))))
    // full equality against the 3-way recompute, min/max included
    val rec = IncrementalView.countSum(
      Snapshots.read(spark, l)
        .join(Snapshots.read(spark, f), col("ck2") === col("ck"))
        .join(Snapshots.read(spark, r), col("prio") === col("pr")),
      Seq("seg"), Seq("cents"), Seq("cents"))
      .select("seg", "n_rows", "sum_cents", "min_cents", "max_cents")
      .collect().map(_.toSeq).toSet
    val got = Mv.read(spark, m)
      .select("seg", "n_rows", "sum_cents", "min_cents", "max_cents")
      .collect().map(_.toSeq).toSet
    assert(got === rec)
  }

  test("trilinear refusals: cluster contract, ambiguous names, kind dispatch") {
    import spark.implicits._
    val l = s"$wh/t3l3"; val f = s"$wh/t3f3"; val r = s"$wh/t3r3"
    publishStar3(l, f, r, Seq((10L, "a")), Seq((1L, 10L, 1L, 100L)),
      Seq((1L, "P1")))
    // an UNclustered right dim refuses with the probe contract
    val rBad = s"$wh/t3r3b"
    Snapshots.publish(spark, rBad, Seq((1L, "P1")).toDF("pr", "plabel"))
    val e1 = intercept[IllegalArgumentException](
      Mv.createJoin3(spark, s"$wh/t3m3a", l, Seq("ck2"), "ck2",
        f, Seq("k"), "ck", "prio", rBad, Seq("pr"), "pr",
        Seq("seg", "plabel"), Seq("cents")))
    assert(e1.getMessage.contains("clustered on its join key"), e1.getMessage)
    // overlapping column names across the three bases refuse
    val rDup = s"$wh/t3r3c"
    Snapshots.publish(spark, rDup, Seq((1L, "x")).toDF("pr", "seg"),
      clusterBy = Some("pr"))
    val e2 = intercept[IllegalArgumentException](
      Mv.createJoin3(spark, s"$wh/t3m3b", l, Seq("ck2"), "ck2",
        f, Seq("k"), "ck", "prio", rDup, Seq("pr"), "pr",
        Seq("seg"), Seq("cents")))
    assert(e2.getMessage.contains("unambiguous"), e2.getMessage)
    // kind dispatch: every refresh verb refuses the other kinds' roots
    val m3 = s"$wh/t3m3"
    create3(m3, l, f, r)
    assert(intercept[IllegalArgumentException](Mv.refresh(spark, m3))
      .getMessage.contains("refreshJoin3"))
    assert(intercept[IllegalArgumentException](Mv.refreshJoin(spark, m3))
      .getMessage.contains("refreshJoin3"))
    val sb = s"$wh/t3sb"; val sm = s"$wh/t3sm"
    Snapshots.publish(spark, sb, Seq((1L, "g", 1L)).toDF("k", "g", "v"))
    Mv.create(spark, sm, sb, Seq("k"), Seq("g"), Seq("v"))
    assert(intercept[IllegalArgumentException](Mv.refreshJoin3(spark, sm))
      .getMessage.contains("refreshJoin3"))
    assert(Mv.kindOf(spark, m3) === "join3" && Mv.kindOf(spark, sm) === "single")
  }

  test("derived avg at read: sum/nn, NULL on all-NULL groups, never stored") {
    val b = s"$wh/avg1"; val m = s"$wh/avgm1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", null.asInstanceOf[java.lang.Long]))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4)
    val got = Mv.read(spark, m, deriveAvg = true)
      .select("g", "avg_v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map("a" -> Some(15.0), "b" -> None))
    // derived, not stored: the plain read has no avg column
    assert(!Mv.read(spark, m).columns.contains("avg_v"))
    // and it tracks refreshes exactly (the stored sum/count are exact)
    import spark.implicits._
    Snapshots.mergeByKey(spark, b,
      Seq((4L, "a", 60L, false)).toDF("k", "g", "v", "__del"),
      keyCols = Seq("k"), tombstoneCol = Some("__del"))
    Mv.refresh(spark, m)
    val a2 = Mv.read(spark, m, deriveAvg = true)
      .filter(col("g") === "a").select("avg_v").head.getDouble(0)
    assert(a2 === 30.0)
  }

  // ── COUNT(DISTINCT) companions and filtered views ────────────────────

  private def collectNd(m: String): Set[Seq[Any]] =
    Mv.read(spark, m).select("g", "n_rows", "sum_v", "nn_v", "nd_v")
      .collect().map(_.toSeq).toSet

  private def recomputeNd(root: String, where: Option[String] = None): Set[Seq[Any]] = {
    val rel = where.foldLeft(Snapshots.read(spark, root))((df, w) => df.where(expr(w)))
    IncrementalView.countSum(rel, Seq("g"), Seq("v"), Nil, Seq("v"))
      .select("g", "n_rows", "sum_v", "nn_v", "nd_v")
      .collect().map(_.toSeq).toSet
  }

  private def recomputeWhere(root: String, w: String): Set[(String, Long, Option[Long])] =
    collectMv(IncrementalView.countSum(
      Snapshots.read(spark, root).where(expr(w)), Seq("g"), Seq("v")))

  private def ndOfGroup(m: String, g: String): Long =
    Mv.read(spark, m).filter(col("g") === g).select("nd_v").head.getLong(0)

  test("count(distinct) maintains incrementally: inserts, updates, deletes, NULLs, vanished values and groups") {
    import spark.implicits._
    val b = s"$wh/ndb1"; val m = s"$wh/ndm1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 10L),
      (4L, "b", 5L), (5L, "b", null.asInstanceOf[java.lang.Long]))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 8,
      distinctCols = Seq("v"))
    assert(collectNd(m) === recomputeNd(b))
    assert(ndOfGroup(m, "a") === 2L) // {10, 20}; the duplicate 10 counts once
    // one merge: k=2 deleted (20 vanishes from a), k=3 deleted (a still
    // holds 10 via k=1 — nd must NOT drop for it), k=4 updated 5→7,
    // k=5 updated NULL→3 (b gains a countable value), k=6 inserts a
    // duplicate 7 into b, k=7 opens group c
    Snapshots.mergeByKey(spark, b, base(Seq(
      (4L, "b", 7L), (5L, "b", 3L), (6L, "b", 7L), (7L, "c", 9L)))
      .withColumn("__del", lit(false))
      .unionByName(base(Seq((2L, "a", 0L), (3L, "a", 0L)))
        .withColumn("__del", lit(true))),
      Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    assert(collectNd(m) === recomputeNd(b))
    assert(ndOfGroup(m, "a") === 1L && ndOfGroup(m, "b") === 2L)
    // group c vanishes entirely; b loses ONE of its two 7s (nd holds)
    Snapshots.mergeByKey(spark, b, base(Seq((7L, "c", 0L), (6L, "b", 0L)))
      .withColumn("__del", lit(true)), Seq("k"), tombstoneCol = Some("__del"))
    Mv.refresh(spark, m)
    assert(collectNd(m) === recomputeNd(b))
    assert(Mv.read(spark, m).filter(col("g") === "c").isEmpty)
    assert(ndOfGroup(m, "b") === 2L)
    assert(Mv.refresh(spark, m).mode === "noop")
  }

  test("a pre-__vd count(distinct) companion is refused: drop and recreate the MV") {
    val b = s"$wh/ndbvd"; val m = s"$wh/ndmvd"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 10L), (2L, "b", 20L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 8,
      distinctCols = Seq("v"))
    // the companion as a writer before the value digest shaped it: same
    // rows, layout and refresh watermark, no __vd column
    val comp = Mv.dvRoot(m, "v")
    val cv = Snapshots.versions(spark, comp).last
    Snapshots.publish(spark, comp, Snapshots.read(spark, comp).drop("__vd"),
      clusterBy = Snapshots.clusterOf(spark, comp, cv),
      extraHeader = Seq(s"#batch=${Snapshots.lastBatchId(spark, comp).get}"))
    Snapshots.publish(spark, b, base(Seq((3L, "a", 30L))), append = true)
    val e = intercept[IllegalStateException](Mv.refresh(spark, m))
    assert(e.getMessage.contains("__vd") &&
      e.getMessage.contains("drop and recreate the MV"), e.getMessage)
  }

  test("count(distinct) refresh reads only the touched groups' companion buckets") {
    import spark.implicits._
    import graft.sources.CountingFileSystem
    spark.sparkContext.hadoopConfiguration.set("fs.graftcount.impl",
      classOf[CountingFileSystem].getName)
    val b = s"$wh/ndb2"; val m = s"graftcount://$wh/ndm2"
    Snapshots.publish(spark, b, base(
      (0 until 64).map(i => (i.toLong, s"g${i % 16}", java.lang.Long.valueOf(i % 7)))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 16,
      distinctCols = Seq("v"))
    val compRoot = s"$m/_dv/v"
    val comp1Files = Snapshots.files(spark, compRoot, 1)
    val g5b = spark.range(1).select(
      pmod(hash(md5(to_json(struct(lit("g5").as("g"))))), lit(16)).cast("string"))
      .head.getString(0)
    def bucketOf(f: String): Option[String] =
      "__cluster=([^/]+)/".r.findFirstMatchIn(f).map(_.group(1))
    assert(comp1Files.exists(f => bucketOf(f).exists(_ != g5b)),
      "fixture must populate companion buckets beyond g5's")
    // touch ONLY group g5 (a brand-new value inserts into it)
    Snapshots.mergeByKey(spark, b,
      Seq((1000L, "g5", 99L, false)).toDF("k", "g", "v", "__del"),
      Seq("k"), tombstoneCol = Some("__del"))
    CountingFileSystem.reset()
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    val readOutside = comp1Files.filter(f => bucketOf(f).exists(_ != g5b))
      .filter(f => CountingFileSystem.count("open", f) > 0)
    assert(readOutside.isEmpty,
      s"companion refresh read outside the touched bucket: $readOutside")
    assert(collectNd(m) === recomputeNd(b))
  }

  test("a crash between the companion and top commits replays soundly") {
    import spark.implicits._
    val b = s"$wh/ndb3"; val m = s"$wh/ndm3"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      distinctCols = Seq("v"))
    // one update and one duplicate insert — a companion that re-applied
    // this delta would inflate b's 5-count and resurrect a's dead 20
    Snapshots.mergeByKey(spark, b, base(Seq((2L, "a", 30L), (4L, "b", 5L)))
      .withColumn("__del", lit(false)), Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    val mvV = Snapshots.versions(spark, m).last
    // simulate the crash window: the companion committed, the top merge
    // did not — rewind ONLY the top MV by dropping its newest manifest
    val f = new org.apache.hadoop.fs.Path(m).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$m/_snapshots/v$mvV"), false))
    assert(Snapshots.lastBatchId(spark, s"$m/_dv/v").get >
      Snapshots.lastBatchId(spark, m).get, "fixture must be IN the crash window")
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "incremental")
    assert(collectNd(m) === recomputeNd(b))
    // the companion did not double-apply: its stored counts equal the
    // recomputed per-(group,value) row counts exactly
    val expected = Snapshots.read(spark, b).where(col("v").isNotNull)
      .groupBy(md5(to_json(struct(col("g"), col("v")))).as("vk"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    val got = Snapshots.read(spark, s"$m/_dv/v")
      .select("__vk", "vcount").collect()
      .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(got === expected)
  }

  test("a crash window followed by a BASE ADVANCE rebuilds the companion, never double-applies") {
    import spark.implicits._
    val b = s"$wh/ndb4"; val m = s"$wh/ndm4"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      distinctCols = Seq("v"))
    // first mutation + refresh, then rewind ONLY the top MV's newest
    // manifest: the companion sits at the MID batch id (the crash window)
    Snapshots.mergeByKey(spark, b, base(Seq((2L, "a", 30L), (4L, "b", 5L)))
      .withColumn("__del", lit(false)), Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    val mvV = Snapshots.versions(spark, m).last
    val f = new org.apache.hadoop.fs.Path(m).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new org.apache.hadoop.fs.Path(s"$m/_snapshots/v$mvV"), false))
    // the base ADVANCES before the re-run: v's 30 dies (a would over-count
    // it if the w..mid window re-applied), b's duplicate 5 count would
    // inflate — and a brand-new value lands
    Snapshots.mergeByKey(spark, b, base(Seq((2L, "a", 40L), (5L, "c", 9L)))
      .withColumn("__del", lit(false)), Seq("k"), tombstoneCol = Some("__del"))
    assert(Snapshots.lastBatchId(spark, s"$m/_dv/v").get >
      Snapshots.lastBatchId(spark, m).get, "fixture must be IN the crash window")
    assert(Snapshots.lastBatchId(spark, s"$m/_dv/v").get <
      Snapshots.versions(spark, b).last.toLong,
      "fixture must have the base AHEAD of the companion")
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    assert(collectNd(m) === recomputeNd(b))
    // the companion did not double-apply the overlapped window: stored
    // counts equal the recomputed per-(group,value) row counts exactly
    val expected = Snapshots.read(spark, b).where(col("v").isNotNull)
      .groupBy(md5(to_json(struct(col("g"), col("v")))).as("vk"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    val got = Snapshots.read(spark, s"$m/_dv/v")
      .select("__vk", "vcount").collect()
      .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    assert(got === expected)
  }

  test("filtered MV maintains σ(base) across boundary-crossing updates") {
    import spark.implicits._
    val b = s"$wh/fb1"; val m = s"$wh/fm1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 3L), (3L, "b", 50L), (4L, "b", 2L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      where = Some("v >= 10"))
    assert(collectMv(Mv.read(spark, m)) === recomputeWhere(b, "v >= 10"))
    // k=2 crosses INTO the filter (3→12: a view insert), k=3 crosses
    // OUT (50→5: a view delete — group b vanishes, k=4 never qualified),
    // k=1 stays in but changes, k=5 inserts below the bar (invisible)
    Snapshots.mergeByKey(spark, b, base(Seq(
      (2L, "a", 12L), (3L, "b", 5L), (1L, "a", 11L), (5L, "c", 4L)))
      .withColumn("__del", lit(false)), Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refresh(spark, m)
    assert(r.mode === "incremental")
    assert(collectMv(Mv.read(spark, m)) === recomputeWhere(b, "v >= 10"))
    assert(Mv.read(spark, m).filter(col("g") === "b").isEmpty)
    assert(Mv.read(spark, m).filter(col("g") === "c").isEmpty)
    // an unresolvable predicate refuses at create, with the contract
    val e = intercept[IllegalArgumentException](Mv.create(spark, s"$wh/fm1x", b,
      Seq("k"), Seq("g"), Seq("v"), where = Some("no_such_col > 1")))
    assert(e.getMessage.contains("does not resolve"), e.getMessage)
  }

  test("filter, min/max and count(distinct) compose on one view") {
    import spark.implicits._
    val b = s"$wh/fxb1"; val m = s"$wh/fxm1"
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 90L), (3L, "a", 40L), (4L, "b", 70L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      minMaxCols = Seq("v"), distinctCols = Seq("v"), where = Some("v < 80"))
    def mmOf(g: String): (Long, Long) = {
      val row = Mv.read(spark, m).filter(col("g") === g)
        .select("min_v", "max_v").head
      (row.getLong(0), row.getLong(1))
    }
    assert(mmOf("a") === ((10L, 40L))) // the 90 sits outside the filter
    // retract the VIEW maximum: the recount must run over the filtered
    // relation — forgetting the filter would resurrect the 90
    Snapshots.mergeByKey(spark, b,
      Seq((3L, "a", 40L, true)).toDF("k", "g", "v", "__del"),
      Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refresh(spark, m)
    assert(r.recountGroups === 1L)
    assert(mmOf("a") === ((10L, 10L)))
    assert(ndOfGroup(m, "a") === 1L)
    assert(collectNd(m) === recomputeNd(b, Some("v < 80")))
  }

  test("join MV: count(distinct) and filter maintain over the star from either side") {
    import spark.implicits._
    val f = s"$wh/ndjf"; val dm = s"$wh/ndjd"; val m = s"$wh/ndjm"
    publishStar(f, dm,
      Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 10L, 100L),
        (4L, 11L, 300L), (5L, 12L, 50L)),
      Seq((10L, "a"), (11L, "a"), (12L, "b")))
    Mv.createJoin(spark, m, f, Seq("k"), "ck", dm, Seq("ck2"), "ck2",
      Seq("seg"), Seq("cents"), mvBuckets = 4,
      distinctCols = Seq("cents"), where = Some("cents >= 100"))
    def recomputeJ: Set[Seq[Any]] = IncrementalView.countSum(
      Snapshots.read(spark, f).join(Snapshots.read(spark, dm),
        col("ck") === col("ck2")).where(expr("cents >= 100")),
      Seq("seg"), Seq("cents"), Nil, Seq("cents"))
      .select("seg", "n_rows", "sum_cents", "nd_cents")
      .collect().map(_.toSeq).toSet
    def gotJ: Set[Seq[Any]] = Mv.read(spark, m)
      .select("seg", "n_rows", "sum_cents", "nd_cents")
      .collect().map(_.toSeq).toSet
    assert(gotJ === recomputeJ)
    // fact side: k=2 → 100 (a's 200 vanishes; 100 now duplicated), k=5
    // → 150 (crosses INTO the filter — b appears); dim side: ck2=11
    // relabels a→b (300 moves between groups)
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, 100L, false), (5L, 12L, 150L, false))
        .toDF("k", "ck", "cents", "__del"), Seq("k"),
      tombstoneCol = Some("__del"))
    Snapshots.mergeByKey(spark, dm,
      Seq((11L, "b", false)).toDF("ck2", "seg", "__del"),
      Seq("ck2"), tombstoneCol = Some("__del"))
    val r = Mv.refreshJoin(spark, m)
    assert(r.mode === "incremental")
    assert(gotJ === recomputeJ)
    assert(Mv.refreshJoin(spark, m).mode === "noop")
  }

  test("trilinear join MV maintains count(distinct) through the fact's change feed") {
    import spark.implicits._
    val l = s"$wh/nd3l"; val f = s"$wh/nd3f"; val r3 = s"$wh/nd3r"; val m = s"$wh/nd3m"
    publishStar3(l, f, r3,
      Seq((10L, "a"), (11L, "b")),
      Seq((1L, 10L, 1L, 100L), (2L, 10L, 1L, 200L), (3L, 11L, 2L, 100L)),
      Seq((1L, "hi"), (2L, "lo")))
    Mv.createJoin3(spark, m, l, Seq("ck2"), "ck2",
      f, Seq("k"), "ck", "prio", r3, Seq("pr"), "pr",
      Seq("seg", "plabel"), Seq("cents"), mvBuckets = 4,
      distinctCols = Seq("cents"))
    def recomputeT: Set[Seq[Any]] = IncrementalView.countSum(
      Snapshots.read(spark, l)
        .join(Snapshots.read(spark, f), col("ck2") === col("ck"))
        .join(Snapshots.read(spark, r3), col("prio") === col("pr")),
      Seq("seg", "plabel"), Seq("cents"), Nil, Seq("cents"))
      .select("seg", "plabel", "n_rows", "nd_cents")
      .collect().map(_.toSeq).toSet
    def gotT: Set[Seq[Any]] = Mv.read(spark, m)
      .select("seg", "plabel", "n_rows", "nd_cents")
      .collect().map(_.toSeq).toSet
    assert(gotT === recomputeT)
    // fact: k=2's cents collapse onto k=1's value (nd for (a,hi) drops
    // to 1), and k=3 deletes (the (b,lo) group vanishes)
    Snapshots.mergeByKey(spark, f,
      Seq((2L, 10L, 1L, 100L, false), (3L, 11L, 2L, 100L, true))
        .toDF("k", "ck", "prio", "cents", "__del"),
      Seq("k"), tombstoneCol = Some("__del"))
    val r = Mv.refreshJoin3(spark, m)
    assert(r.mode === "incremental")
    assert(gotT === recomputeT)
  }

  test("distinct-count contract refusals: group column, float, unsafe name, missing") {
    import spark.implicits._
    val b = s"$wh/ndref"
    Snapshots.publish(spark, b, Seq((1L, "a", 1.5, 2L)).toDF("k", "g", "f", "v")
      .withColumn("a-b", lit(1L)))
    def msg(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(msg(Mv.create(spark, s"$wh/ndrefm1", b, Seq("k"), Seq("g"), Nil,
      distinctCols = Seq("g"))).contains("group columns"))
    assert(msg(Mv.create(spark, s"$wh/ndrefm2", b, Seq("k"), Seq("g"), Nil,
      distinctCols = Seq("f"))).contains("float/double"))
    assert(msg(Mv.create(spark, s"$wh/ndrefm3", b, Seq("k"), Seq("g"), Nil,
      distinctCols = Seq("a-b"))).contains("companion"))
    assert(msg(Mv.create(spark, s"$wh/ndrefm4", b, Seq("k"), Seq("g"), Nil,
      distinctCols = Seq("nope"))).contains("does not carry"))
  }

  test("Mv.expire / Mv.vacuum maintain the top MV and its companions together") {
    import spark.implicits._
    val b = s"$wh/ndlcb"; val m = s"$wh/ndlcm"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 10L), (2L, "b", 20L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      distinctCols = Seq("v"))
    // three refresh cycles: one version lands on the top AND on the
    // companion per cycle — the manifest growth the retention verb bounds
    (1 to 3).foreach { i =>
      Snapshots.mergeByKey(spark, b,
        Seq((10L + i, "a", 30L + i, false)).toDF("k", "g", "v", "__del"),
        Seq("k"), tombstoneCol = Some("__del"))
      Mv.refresh(spark, m)
    }
    val comp = s"$m/_dv/v"
    assert(Snapshots.versions(spark, m).size === 4)
    assert(Snapshots.versions(spark, comp).size === 4)
    val dropped = Mv.expire(spark, m, keepLast = 1)
    assert(dropped.size === 6)
    assert(Snapshots.versions(spark, m).size === 1)
    assert(Snapshots.versions(spark, comp).size === 1)
    Mv.vacuum(spark, m, graceMs = 0L)
    // the view still reads and still refreshes incrementally after the
    // sweep (live files were referenced, never orphans)
    Snapshots.mergeByKey(spark, b,
      Seq((99L, "b", 20L, false)).toDF("k", "g", "v", "__del"),
      Seq("k"), tombstoneCol = Some("__del"))
    assert(Mv.refresh(spark, m).mode === "incremental")
    assert(collectNd(m) === recomputeNd(b))
  }

  test("expired watermark full fallback rebuilds the distinct companions") {
    import spark.implicits._
    val b = s"$wh/ndfull"; val m = s"$wh/ndfullm"
    Snapshots.publish(spark, b, base(Seq((1L, "a", 10L), (2L, "a", 20L))))
    Mv.create(spark, m, b, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4,
      distinctCols = Seq("v"))
    Snapshots.publish(spark, b, base(Seq((3L, "b", 5L))), append = true)
    Snapshots.publish(spark, b, base(Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L), (4L, "b", 7L))),
      append = false)
    Snapshots.expire(spark, b, keepLast = 1) // the watermark version is gone
    val r = Mv.refresh(spark, m)
    assert(r.mode === "full")
    assert(collectNd(m) === recomputeNd(b))
    // the NEXT incremental cycle works off the rebuilt companions,
    // including a retraction (7 collapses onto 5 — nd drops to 1)
    Snapshots.mergeByKey(spark, b,
      Seq((4L, "b", 5L, false)).toDF("k", "g", "v", "__del"),
      Seq("k"), tombstoneCol = Some("__del"))
    val r2 = Mv.refresh(spark, m)
    assert(r2.mode === "incremental")
    assert(collectNd(m) === recomputeNd(b))
    assert(ndOfGroup(m, "b") === 1L)
  }
}
