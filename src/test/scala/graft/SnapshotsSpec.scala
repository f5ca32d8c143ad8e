package graft

import graft.operators.Snapshots
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the versioned-snapshot layer: publish/time-travel/append file
  * sharing, roll-forward rollback, diff, expire+vacuum reachability, and
  * crash-debris invisibility. q128 carries the oracle-checked contents
  * claim; these specs pin the file-level mechanics the oracle can't see.
  */
class SnapshotsSpec extends AnyFunSuite {
  import SparkTestEnv._

  private def freshRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-snap-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def orders = Tables.load(spark, sf, "orders")

  test("publish assigns consecutive versions and read time-travels") {
    val root = freshRoot("travel")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    val v1 = Snapshots.publish(spark, root, early)
    val v2 = Snapshots.publish(spark, root, orders)
    assert(v1 == 1 && v2 == 2)
    assert(Snapshots.versions(spark, root) == Seq(1, 2))
    assert(Snapshots.read(spark, root, Some(1)).count() == early.count())
    assert(Snapshots.read(spark, root).count() == orders.count()) // latest
  }

  test("append publish shares the previous version's files, never copies") {
    val root = freshRoot("append")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    val late = orders.filter(col("o_orderdate") >= lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, late, append = true)
    val f1 = Snapshots.files(spark, root, 1).toSet
    val f2 = Snapshots.files(spark, root, 2).toSet
    assert(f1.subsetOf(f2), "append must retain every v1 file")
    assert(f2.size > f1.size, "append must add the new files")
    assert(Snapshots.read(spark, root, Some(2)).count() == orders.count())
    // v1 is still exactly the early slice — immutability of published data
    assert(Snapshots.read(spark, root, Some(1)).count() == early.count())
  }

  test("rollback rolls FORWARD: new version, old contents, history intact") {
    val root = freshRoot("rollback")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, orders)
    val v3 = Snapshots.rollback(spark, root, toVersion = 1)
    assert(v3 == 3)
    assert(Snapshots.versions(spark, root) == Seq(1, 2, 3))
    assert(Snapshots.files(spark, root, 3) == Snapshots.files(spark, root, 1))
    // the rolled-back-FROM version remains auditable
    assert(Snapshots.read(spark, root, Some(2)).count() == orders.count())
  }

  test("diff reports exactly the added and removed files") {
    val root = freshRoot("diff")
    Snapshots.publish(spark, root, orders.limit(10))
    Snapshots.publish(spark, root, orders.limit(20)) // full refresh: all-new files
    val d = Snapshots.diff(spark, root, 1, 2).collect()
    val added = d.filter(_.getString(1) == "added").map(_.getString(0)).toSet
    val removed = d.filter(_.getString(1) == "removed").map(_.getString(0)).toSet
    assert(added == Snapshots.files(spark, root, 2).toSet)
    assert(removed == Snapshots.files(spark, root, 1).toSet)
    assert(Snapshots.diff(spark, root, 1, 1).isEmpty)
  }

  test("expire + vacuum deletes only unreachable files; shared files survive") {
    val root = freshRoot("vacuum")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    val late = orders.filter(col("o_orderdate") >= lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, late, append = true) // v2 shares v1's files
    assert(Snapshots.expire(spark, root, keepLast = 1) == Seq(1))
    // v1's files are still referenced by v2 — vacuum must delete NOTHING
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) == 0L)
    assert(Snapshots.read(spark, root).count() == orders.count())
  }

  test("expire + vacuum sweeps a superseded full refresh") {
    val root = freshRoot("vacuum2")
    Snapshots.publish(spark, root, orders.limit(10))
    Snapshots.publish(spark, root, orders.limit(20)) // full refresh, v1 orphaned
    val v1Files = Snapshots.files(spark, root, 1)
    Snapshots.expire(spark, root, keepLast = 1)
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) == v1Files.size.toLong)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    v1Files.foreach(f => assert(!fs.exists(new Path(s"$root/$f")), s"$f not deleted"))
    assert(Snapshots.read(spark, root).count() == 20)
  }

  test("crash debris is invisible to readers and swept by vacuum") {
    val root = freshRoot("crash")
    Snapshots.publish(spark, root, orders.limit(10))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crashed publish: data files written, manifest still a temp
    orders.limit(5).write.parquet(s"$root/data/crashed00000")
    val tmp = fs.create(new Path(s"$root/_snapshots/v2.tmp"), true)
    tmp.write("data/crashed00000/whatever\n".getBytes("UTF-8")); tmp.close()
    assert(Snapshots.versions(spark, root) == Seq(1), "temp manifest must be invisible")
    assert(Snapshots.read(spark, root).count() == 10)
    // a janitor with the DEFAULT grace must NOT touch the fresh debris —
    // it is indistinguishable from an in-flight publish
    assert(Snapshots.vacuum(spark, root) == 0L,
      "default-grace vacuum must spare fresh (possibly in-flight) files")
    assert(fs.exists(new Path(s"$root/_snapshots/v2.tmp")))
    // aged debris is swept, tmp manifest included
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) >= 1L,
      "crashed data files must be swept once past the grace period")
    assert(!fs.exists(new Path(s"$root/_snapshots/v2.tmp")),
      "stale temp manifest must be swept")
    assert(!fs.exists(new Path(s"$root/data/crashed00000")),
      "emptied crash dir must be removed")
    // the committed version is untouched
    assert(Snapshots.read(spark, root).count() == 10)
    // and a LATER publish still gets the next number after the debris
    assert(Snapshots.publish(spark, root, orders.limit(3)) == 2)
  }

  test("readAdded returns exactly the delta rows; empty for rollbacks") {
    val root = freshRoot("added")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    val late = orders.filter(col("o_orderdate") >= lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, late, append = true)
    assert(Snapshots.readAdded(spark, root, 1, 2).count() == late.count())
    // a rollback adds no files → empty delta, schema preserved
    Snapshots.rollback(spark, root, toVersion = 1)
    val delta = Snapshots.readAdded(spark, root, 2, 3)
    assert(delta.isEmpty)
    assert(delta.columns.sameElements(orders.columns))
    // across the whole history: v1 -> v3 adds nothing (v3 IS v1)
    assert(Snapshots.readAdded(spark, root, 1, 3).isEmpty)
  }

  test("vacuum grace period spares an in-flight publish's files") {
    val root = freshRoot("grace")
    Snapshots.publish(spark, root, orders.limit(10))
    // simulate the window INSIDE a publish: data written, manifest not yet
    // committed — exactly what a janitor vacuum must not destroy
    orders.limit(5).write.parquet(s"$root/data/inflight00000")
    assert(Snapshots.vacuum(spark, root) == 0L,
      "default-grace vacuum deleted files a commit is about to reference")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$root/data/inflight00000"))
      .exists(_.getPath.getName.endsWith(".parquet")))
    // once aged past the grace, the same files are sweepable debris
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) >= 1L)
    assert(!fs.exists(new Path(s"$root/data/inflight00000")))
  }

  test("schema evolution: appended column null-fills old files; v1 keeps v1 schema") {
    val root = freshRoot("evolve")
    val v1df = orders.select(col("o_orderkey"), col("o_custkey"))
    Snapshots.publish(spark, root, v1df)
    val evolved = orders.select(col("o_orderkey"), col("o_custkey"))
      .filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_flag", lit(7L))
    Snapshots.publish(spark, root, evolved, append = true)
    // v2 reads under the union schema; pre-evolution files null-fill o_flag
    val v2 = Snapshots.read(spark, root, Some(2))
    assert(v2.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_flag"))
    assert(v2.filter(col("o_flag").isNull).count() == v1df.count())
    assert(v2.filter(col("o_flag") === 7L).count() == evolved.count())
    // a v1-only manifest is untouched by the evolution: no phantom column
    assert(Snapshots.read(spark, root, Some(1)).columns.toSeq ==
      Seq("o_orderkey", "o_custkey"))
    // the delta carries the evolved column, fully populated
    val delta = Snapshots.readAdded(spark, root, 1, 2)
    assert(delta.columns.contains("o_flag"))
    assert(delta.filter(col("o_flag").isNull).count() == 0)
    // retyping a column is refused loudly, not silently mis-read
    intercept[IllegalArgumentException] {
      Snapshots.publish(spark, root,
        evolved.withColumn("o_custkey", col("o_custkey").cast("string")),
        append = true)
    }
  }

  test("publishing an empty frame reads back as an empty frame with schema") {
    val root = freshRoot("emptypub")
    Snapshots.publish(spark, root, orders.filter(lit(false)))
    val back = Snapshots.read(spark, root)
    assert(back.isEmpty)
    assert(back.columns.sameElements(orders.columns))
  }

  test("compact rewrites the current version; history reads pre-compaction bytes") {
    val root = freshRoot("compactsnap")
    val ten = orders.limit(1000)
    Snapshots.publish(spark, root, ten.repartition(8))
    val v1Files = Snapshots.files(spark, root, 1)
    assert(v1Files.size == 8)
    val before = Snapshots.read(spark, root, Some(1))
      .agg(count(lit(1)), sum(col("o_orderkey"))).head()
    val v2 = Snapshots.compact(spark, root, targetBytes = Long.MaxValue)
    assert(v2 == 2)
    assert(Snapshots.files(spark, root, 2).size == 1)
    // same contents through the compaction
    assert(Snapshots.read(spark, root, Some(2))
      .agg(count(lit(1)), sum(col("o_orderkey"))).head() == before)
    // time travel to the pre-compaction version still reads the old bytes
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    v1Files.foreach(f => assert(fs.exists(new Path(s"$root/$f"))))
    assert(Snapshots.read(spark, root, Some(1))
      .agg(count(lit(1)), sum(col("o_orderkey"))).head() == before)
    // expire + vacuum reclaims the 8 small files
    Snapshots.expire(spark, root, keepLast = 1)
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) == 8L)
    v1Files.foreach(f => assert(!fs.exists(new Path(s"$root/$f"))))
  }

  test("mergeByKey publishes a new version; old manifests resolve byte-identically") {
    val root = freshRoot("mergesnap")
    // deterministic base slice — limit() could pick different rows on the
    // re-evaluations below, silently decoupling delta keys from the table
    val base = orders.filter(col("o_orderkey") < 4000)
    val nBase = base.count()
    Snapshots.publish(spark, root, base.repartition(4))
    val preAgg = Snapshots.read(spark, root, Some(1))
      .agg(count(lit(1)), sum(col("o_orderkey")), sum(length(col("o_orderstatus")))).head()
    val v1Files = Snapshots.files(spark, root, 1)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Lens = v1Files.map(f => f -> fs.getFileStatus(new Path(s"$root/$f")).getLen).toMap

    val keys = base.select(col("o_orderkey"))
    val nDel = base.filter(col("o_orderkey") % 10 === 1).count()
    val upd = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("MERGED")).withColumn("__del", lit(false))
    val del = base.filter(col("o_orderkey") % 10 === 1).withColumn("__del", lit(true))
    val ins = base.filter(col("o_orderkey") % 10 === 2)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000000L)
      .withColumn("o_orderstatus", lit("INSERTED")).withColumn("__del", lit(false))
    val nIns = base.filter(col("o_orderkey") % 10 === 2).count()
    val v2 = Snapshots.mergeByKey(spark, root,
      upd.unionByName(del).unionByName(ins), Seq("o_orderkey"), Some("__del"))
    assert(v2 == 2)

    val merged = Snapshots.read(spark, root, Some(2))
    assert(merged.count() == nBase - nDel + nIns)
    assert(merged.filter(col("o_orderstatus") === "MERGED").count() ==
      base.filter(col("o_orderkey") % 10 === 0).count())
    assert(merged.filter(col("o_orderstatus") === "INSERTED").count() == nIns)
    // deleted keys are gone; non-delta keys untouched
    assert(merged.join(keys.filter(col("o_orderkey") % 10 === 1),
      Seq("o_orderkey"), "left_semi").count() == 0)
    // v1 still reads back byte-identically: same files, same lengths, same rows
    assert(Snapshots.files(spark, root, 1) == v1Files)
    v1Files.foreach { f =>
      assert(fs.getFileStatus(new Path(s"$root/$f")).getLen == v1Lens(f), s"$f changed")
    }
    assert(Snapshots.read(spark, root, Some(1))
      .agg(count(lit(1)), sum(col("o_orderkey")), sum(length(col("o_orderstatus")))).head()
      == preAgg)
    // copy-on-write is file-granular: every delta key appears in every
    // base file here (keys mod 10 spread across 4 hash partitions), so
    // all 4 rewrite — but a no-op delta must rewrite NOTHING
    val v3 = Snapshots.mergeByKey(spark, root,
      upd.filter(lit(false)), Seq("o_orderkey"), Some("__del"))
    assert(Snapshots.files(spark, root, v3) == Snapshots.files(spark, root, 2))
  }

  test("mergeByKey evolves schema when the delta carries a new column") {
    val root = freshRoot("mergeevolve")
    val base = orders.filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_custkey"))
    Snapshots.publish(spark, root, base)
    val delta = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_note", lit("patched"))
    Snapshots.mergeByKey(spark, root, delta, Seq("o_orderkey"))
    val merged = Snapshots.read(spark, root, Some(2))
    assert(merged.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_note"))
    assert(merged.filter(col("o_note") === "patched").count() == delta.count())
    assert(merged.count() == base.count())
  }

  test("changes: insert/update/delete images, rewrites cancel, evolution-aware") {
    import org.apache.spark.sql.functions.{col => c}
    val sqlc = spark
    import sqlc.implicits._
    val root = freshRoot("cdc")
    Snapshots.publish(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").repartition(1))
    // merge: update k=1, delete k=2, insert k=4 with an EVOLVED column
    val delta = Seq((1L, "a2", Some("x"), false), (2L, "b", None, true),
        (4L, "d", Some("y"), false))
      .toDF("k", "v", "note", "__del")
    Snapshots.mergeByKey(spark, root, delta, Seq("k"), Some("__del"))
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("k")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    assert(ch == Set(
      ("update", 1L, "a2", "x"),   // new image, evolved column populated
      ("delete", 2L, "b", null),   // last image; old files null-fill note
      ("insert", 4L, "d", "y")))
    // k=3 was rewritten unchanged (same file as k=1/k=2) — it must NOT
    // appear: file-level churn is not row-level change. And CDC over a
    // pure compaction is empty by the same rule.
    Snapshots.compact(spark, root)
    assert(Snapshots.changes(spark, root, 2, 3, Seq("k")).isEmpty)
    // fabricating changes needs real key columns
    intercept[IllegalArgumentException](
      Snapshots.changes(spark, root, 1, 2, Seq("nope")))
  }

  test("Upsert.mergeByKey refuses to swap partitions under a snapshot root") {
    val root = freshRoot("upsertguard")
    Snapshots.publish(spark, root, orders.limit(10))
    val e = intercept[IllegalArgumentException] {
      graft.operators.Upsert.mergeByKey(spark, root,
        orders.limit(1).withColumn("day", lit("20240101")),
        keyCols = Seq("o_orderkey"), partNames = Seq("day"))
    }
    assert(e.getMessage.contains("_snapshots"))
  }

  test("read of a missing version and empty roots fail loudly") {
    val root = freshRoot("empty")
    assert(Snapshots.versions(spark, root).isEmpty)
    intercept[IllegalArgumentException](Snapshots.read(spark, root))
    Snapshots.publish(spark, root, orders.limit(1))
    intercept[IllegalArgumentException](Snapshots.files(spark, root, 99))
  }

  test("file skipping: footer stats prune range reads losslessly") {
    val root = freshRoot("skip")
    // range-cluster on o_orderkey so files cover disjoint key bands
    Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .repartitionByRange(8, col("o_orderkey")))
    val v = Snapshots.versions(spark, root).last
    val all = Snapshots.files(spark, root, v)
    val kept = Snapshots.filesBetween(spark, root, v, "o_orderkey", 100L, 300L)
    assert(kept.size < all.size, s"expected pruning: kept ${kept.size} of ${all.size}")
    assert(kept.nonEmpty)
    // lossless: pruned read == full read + filter, on multiple column types
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Snapshots.readBetween(spark, root, "o_orderkey", 100L, 300L)) ==
      rows(Snapshots.read(spark, root).filter(col("o_orderkey").between(100L, 300L))))
    // timestamp bounds are lossless too (writeData forces INT64-micros
    // output so the footer carries ts stats; clustering is by key here,
    // so date pruning may keep everything — losslessness is the claim)
    assert(rows(Snapshots.readBetween(spark, root, "o_orderdate",
      "1995-01-01 00:00:00", "1995-03-31 23:59:59")) ==
      rows(Snapshots.read(spark, root).filter(
        col("o_orderdate").between(lit("1995-01-01 00:00:00"), lit("1995-03-31 23:59:59")))))
    // string column pruning is lossless too
    assert(rows(Snapshots.readBetween(spark, root, "o_orderpriority", "1-URGENT", "2-HIGH")) ==
      rows(Snapshots.read(spark, root).filter(
        col("o_orderpriority").between("1-URGENT", "2-HIGH"))))
  }

  test("file skipping: stats survive rollback and merge; statless files are kept") {
    val root = freshRoot("skipcarry")
    Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_custkey").repartitionByRange(4, col("o_orderkey")))
    val before = Snapshots.filesBetween(spark, root, 1, "o_orderkey", 1L, 100L)
    assert(before.size < Snapshots.files(spark, root, 1).size)
    // merge a small delta: untouched files keep their stats
    import spark.implicits._
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    Snapshots.mergeByKey(spark, root,
      Seq((maxKey + 1, 7L)).toDF("o_orderkey", "o_custkey"), Seq("o_orderkey"))
    val afterMerge = Snapshots.filesBetween(spark, root, 2, "o_orderkey", 1L, 100L)
    assert(afterMerge.size < Snapshots.files(spark, root, 2).size,
      "untouched files lost their stats lines across mergeByKey")
    // rollback carries the stats of the target version forward
    val v3 = Snapshots.rollback(spark, root, 1)
    assert(Snapshots.filesBetween(spark, root, v3, "o_orderkey", 1L, 100L).size == before.size)
    // a version with no stats lines (hand-stripped manifest) keeps all files
    val f = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(s"$root/_snapshots/v$v3")
    val lines = scala.io.Source.fromInputStream(f.open(mPath), "UTF-8").getLines().toList
    val stripped = lines.filterNot(_.startsWith("#stats="))
    val out = f.create(mPath, true)
    out.write((stripped.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
    assert(Snapshots.filesBetween(spark, root, v3, "o_orderkey", 1L, 100L).size ==
      Snapshots.files(spark, root, v3).size)
  }

  test("changes with preImages emits retract/apply pairs; IVM matches recompute") {
    import spark.implicits._
    val root = freshRoot("ivm")
    Snapshots.publish(spark, root,
      Seq((1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "b", Some(30L)),
        (5L, "d", None)).toDF("k", "g", "x"))
    // update k=2 (a→40), delete k=3 (group b vanishes), insert k=4 (new
    // group c), insert k=6 (group d stays all-NULL in x — its sum must
    // stay NULL through the incremental apply, not collapse to 0)
    Snapshots.mergeByKey(spark, root,
      Seq((2L, "a", Some(40L), false), (3L, "b", Some(0L), true),
        (4L, "c", Some(5L), false), (6L, "d", None, false))
        .toDF("k", "g", "x", "del"),
      Seq("k"), Some("del"))
    val cdf = Snapshots.changes(spark, root, 1, 2, Seq("k"), preImages = true)
    val got = cdf.select("change", "k", "g", "x")
      .as[(String, Long, String, Option[Long])].collect().toSet
    assert(got == Set(
      ("update_preimage", 2L, "a", Some(20L)), ("update_postimage", 2L, "a", Some(40L)),
      ("delete", 3L, "b", Some(30L)), ("insert", 4L, "c", Some(5L)),
      ("insert", 6L, "d", None)))
    // incremental refresh == full recompute (group b vanished, c appeared)
    val mv1 = graft.operators.IncrementalView.countSum(
      Snapshots.read(spark, root, Some(1)), Seq("g"), Seq("x"))
    val mv2 = graft.operators.IncrementalView.applyCountSum(mv1, cdf, Seq("g"), Seq("x"))
    val full = graft.operators.IncrementalView.countSum(
      Snapshots.read(spark, root, Some(2)), Seq("g"), Seq("x"))
    assert(mv2.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet)
    // a preimage-less feed is rejected instead of double-counting
    val plain = Snapshots.changes(spark, root, 1, 2, Seq("k"))
    intercept[IllegalArgumentException](
      graft.operators.IncrementalView.applyCountSum(mv1, plain, Seq("g"), Seq("x")))
  }

  test("zorder compact: 2-D skipping prunes both dimensions, history intact") {
    val root = freshRoot("zskip")
    val events = Tables.load(spark, sf, "events").select("event_id", "ts", "user_id", "value")
    Snapshots.publish(spark, root, events.repartition(8))
    val preCount = Snapshots.read(spark, root, Some(1)).count()
    Snapshots.compact(spark, root, zorderBy = Seq("user_id", "ts"), minFiles = 16)
    val v2 = Snapshots.versions(spark, root).last
    val all = Snapshots.files(spark, root, v2)
    val ranges = Map[String, (Any, Any)](
      "user_id" -> (3L, 7L),
      "ts" -> ("2024-01-10 00:00:00", "2024-01-12 23:59:59"))
    val kept = Snapshots.filesWhere(spark, root, v2, ranges)
    assert(kept.size < all.size, s"2-D pruning kept ${kept.size} of ${all.size}")
    // the conjunction prunes harder than either dimension alone admits
    assert(kept.size <= Snapshots.filesBetween(spark, root, v2, "user_id", 3L, 7L).size)
    // lossless vs the full-scan filter
    val expected = Snapshots.read(spark, root, Some(v2))
      .filter(col("user_id").between(3L, 7L) &&
        col("ts").between(lit("2024-01-10 00:00:00"), lit("2024-01-12 23:59:59")))
      .collect().map(_.toSeq).toSet
    assert(Snapshots.readWhere(spark, root, ranges).collect().map(_.toSeq).toSet == expected)
    // v1 still reads its pre-compaction bytes
    assert(Snapshots.read(spark, root, Some(1)).count() == preCount)
  }

  test("describeHistory reports per-version operations and metadata totals") {
    val root = freshRoot("history")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    val late = orders.filter(col("o_orderdate") >= lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, late, append = true)
    Snapshots.compact(spark, root, targetBytes = 1L << 30)
    val h = Snapshots.describeHistory(spark, root)
      .orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h.map(_.getString(2)).toSeq == Seq("append", "append", "rewrite"))
    // row totals are exact metadata folds
    assert(h(0).getLong(6) == early.count())
    assert(h(1).getLong(6) == orders.count())
    assert(h(2).getLong(6) == orders.count())
    // append shares: v2 added files, removed none
    assert(h(1).getInt(4) > 0 && h(1).getInt(5) == 0)
    // no outstanding dvs anywhere
    assert(h.forall(_.getInt(8) == 0))
  }

  test("metadata-only aggregates match the scan; absent stats yield None") {
    val root = freshRoot("statsagg")
    Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_orderdate", "o_orderpriority").repartition(4))
    // fold of footer stats == scanned aggregate, across three types
    val scan = Snapshots.read(spark, root)
      .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"),
        min("o_orderdate"), max("o_orderdate"),
        min("o_orderpriority"), max("o_orderpriority")).head
    assert(Snapshots.countRows(spark, root) == Some(scan.getLong(0)))
    val key = Snapshots.columnStats(spark, root, "o_orderkey").get
    assert((key.min, key.max) == (scan.getLong(1), scan.getLong(2)))
    // fixture timestamps read as session-TZ TIMESTAMP (SparkEnv pins
    // inferTimestampNTZ=false + UTC), so scan values and decoded stats
    // are both java.sql.Timestamp on the UTC wall clock
    val dt = Snapshots.columnStats(spark, root, "o_orderdate").get
    assert((dt.min, dt.max) == (scan.get(3), scan.get(4)))
    val pri = Snapshots.columnStats(spark, root, "o_orderpriority").get
    assert((pri.min, pri.max) == (scan.getString(5), scan.getString(6)))
    assert(Snapshots.columnStats(spark, root, "no_such_column").isEmpty)
    // rows lines survive a merge, so counts stay metadata-answerable
    import spark.implicits._
    Snapshots.mergeByKey(spark, root,
      Seq((-1L, java.sql.Timestamp.valueOf("1970-01-01 00:00:00"), "zz")).toDF(
        "o_orderkey", "o_orderdate", "o_orderpriority"), Seq("o_orderkey"))
    assert(Snapshots.countRows(spark, root) == Some(scan.getLong(0) + 1))
    // a hand-stripped manifest (no row counts) is refused, never a guess;
    // the upgrade re-collects the counts from the footers
    rewriteManifests(root)(_.filterNot(_.startsWith("#rows=")))
    val e = intercept[IllegalStateException](Snapshots.countRows(spark, root))
    assert(e.getMessage.contains("Snapshots.upgrade"), e.getMessage)
    Snapshots.upgrade(spark, root)
    assert(Snapshots.countRows(spark, root) == Some(scan.getLong(0) + 1))
  }

  /** Rewrite every manifest of `root` the way an older writer shaped it. */
  private def rewriteManifests(root: String)(f: List[String] => List[String]): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.versions(spark, root).foreach { v =>
      val mPath = new Path(s"$root/_snapshots/v$v")
      val in = fs.open(mPath)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val out = fs.create(mPath, true)
      try out.write((f(lines).mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    }
  }

  test("outdated manifest shapes are refused naming Snapshots.upgrade; upgrade keeps rows") {
    import spark.implicits._
    val shapes: Seq[(String, List[String] => List[String])] = Seq(
      "#schema=" -> (_.filterNot(_.startsWith("#schema="))),
      "#seq=" -> (_.filterNot(_.startsWith("#seq="))),
      "#rows=" -> (_.filterNot(_.startsWith("#rows="))),
      "#bytes=" -> (_.filterNot(_.startsWith("#bytes="))),
      "unversioned #dv=" -> (_.map(l =>
        if (l.startsWith("#dv=")) l.split("\t").take(2).mkString("\t") else l)))
    shapes.foreach { case (shape, strip) =>
      val root = freshRoot("outdated")
      // v1 keys 1..4; v2 deletes key 2 merge-on-read; v3 re-inserts it —
      // the re-insert must stay visible (first-seen after the delete)
      Snapshots.publish(spark, root, Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
        .toDF("k", "s"))
      Snapshots.deleteByKey(spark, root, Seq(2L).toDF("k"))
      Snapshots.publish(spark, root, Seq((2L, "b2"), (5L, "e")).toDF("k", "s"), append = true)
      val before = Snapshots.read(spark, root).collect().toSet
      assert(before.map(_.getLong(0)) == Set(1L, 2L, 3L, 4L, 5L))
      rewriteManifests(root)(strip)
      val e = intercept[IllegalStateException](Snapshots.read(spark, root).collect())
      assert(e.getMessage.contains("Snapshots.upgrade"), s"$shape: ${e.getMessage}")
      assert(Snapshots.upgrade(spark, root) == 4, shape)
      assert(Snapshots.read(spark, root).collect().toSet == before, shape)
      assert(Snapshots.countRows(spark, root).isEmpty, s"$shape: dvs stay outstanding")
      assert(Snapshots.read(spark, root, Some(4)).count() == 5)
      intercept[IllegalStateException](Snapshots.read(spark, root, Some(3)))
    }
  }

  test("bloom point lookup prunes unclustered files; absence keeps them") {
    val root = freshRoot("bloom")
    val src = orders.select("o_orderkey", "o_custkey")
    Snapshots.publish(spark, root, src.repartition(8), bloomOn = Seq("o_orderkey"))
    val needles: Seq[Any] = Seq(10L, 700L)
    val all = Snapshots.files(spark, root, 1)
    val kept = Snapshots.pointFiles(spark, root, 1, "o_orderkey", needles)
    // hash layout → ranges keep everything; blooms must do the pruning
    assert(kept.size < all.size, s"bloom kept ${kept.size} of ${all.size}")
    // lossless vs the scanning filter
    val expected = Snapshots.read(spark, root)
      .filter(col("o_orderkey").isin(10L, 700L)).collect().map(_.toSeq).toSet
    assert(Snapshots.readPoint(spark, root, "o_orderkey", needles)
      .collect().map(_.toSeq).toSet == expected)
    assert(expected.nonEmpty)
    // a publish WITHOUT bloomOn: no filter in the footers → nothing
    // pruned beyond ranges, lookup still correct
    val root2 = freshRoot("nobloom")
    Snapshots.publish(spark, root2, src.repartition(4))
    assert(Snapshots.pointFiles(spark, root2, 1, "o_orderkey", needles).size ==
      Snapshots.files(spark, root2, 1).size)
    assert(Snapshots.readPoint(spark, root2, "o_orderkey", needles)
      .collect().map(_.toSeq).toSet == expected)
  }

  test("versionAt/readAsOf resolve time travel by wall clock") {
    val root = freshRoot("asof")
    Snapshots.publish(spark, root, orders.limit(10))
    val fs_ = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t1 = fs_.getFileStatus(new Path(s"$root/_snapshots/v1")).getModificationTime
    Thread.sleep(20)
    Snapshots.publish(spark, root, orders.limit(25))
    assert(Snapshots.versionAt(spark, root, t1) == 1)
    assert(Snapshots.readAsOf(spark, root, t1).count() == 10)
    assert(Snapshots.readAsOf(spark, root, System.currentTimeMillis()).count() == 25)
    intercept[IllegalArgumentException](Snapshots.versionAt(spark, root, t1 - 60000))
  }

  test("publishStreamBatch: replayed batch ids are skipped (exactly-once)") {
    import spark.implicits._
    val root = freshRoot("stream")
    val b0 = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b1 = Seq((3L, "z")).toDF("id", "v")
    assert(Snapshots.publishStreamBatch(spark, root, b0, 0L) == Some(1))
    // restart replays the in-flight batch: same id must NOT publish again
    assert(Snapshots.publishStreamBatch(spark, root, b0, 0L) == None)
    assert(Snapshots.publishStreamBatch(spark, root, b1, 1L) == Some(2))
    assert(Snapshots.lastBatchId(spark, root) == Some(1L))
    assert(Snapshots.read(spark, root).count() == 3)
    // the per-batch delta is exactly batch 1's rows
    assert(Snapshots.readAdded(spark, root, 1, 2).as[(Long, String)].collect().toSet ==
      Set((3L, "z")))
    // a non-stream publish in between doesn't break replay detection
    Snapshots.publish(spark, root, Seq((9L, "w")).toDF("id", "v"), append = true)
    assert(Snapshots.publishStreamBatch(spark, root, b1, 1L) == None)
    assert(Snapshots.publishStreamBatch(spark, root, b1, 2L) == Some(4))
  }

  test("deleteWhere: SQL NULL semantics, banded rewrite, history intact") {
    import spark.implicits._
    val root = freshRoot("delete")
    // ids 1..40 clustered into 4 files by range; grp NULL on multiples of 5
    val base = (1L to 40L).map(i => (i, if (i % 5 == 0) null else s"g${i % 3}"))
      .toDF("id", "grp")
    Snapshots.publish(spark, root, base.repartitionByRange(4, col("id")))
    val f1 = Snapshots.files(spark, root, 1)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1Lens = f1.map(f => f -> fs.getFileStatus(new Path(s"$root/$f")).getLen).toMap
    // delete grp='g1' but ONLY in the id<=20 band (the predicate implies
    // the range, so pruneRanges is a valid bounding box)
    val v2 = Snapshots.deleteWhere(spark, root,
      col("grp") === "g1" && col("id") <= 20,
      pruneRanges = Map("id" -> (1L, 20L)))
    assert(v2 == 2)
    val after = Snapshots.read(spark, root, Some(2))
    val expectGone = base.filter(col("grp") === "g1" && col("id") <= 20).count()
    assert(after.count() == 40 - expectGone)
    // NULL-predicate rows (grp IS NULL → pred NULL) survive — SQL DELETE
    assert(after.filter(col("grp").isNull).count() ==
      base.filter(col("grp").isNull).count())
    assert(after.filter(col("grp") === "g1" && col("id") <= 20).count() == 0)
    assert(after.filter(col("grp") === "g1" && col("id") > 20).count() ==
      base.filter(col("grp") === "g1" && col("id") > 20).count())
    // copy-on-write was BANDED: the id>20 files carried by reference
    val f2 = Snapshots.files(spark, root, 2)
    assert((f1.toSet & f2.toSet).nonEmpty, "out-of-band files must be shared")
    assert((f1.toSet -- f2.toSet).size < f1.size, "only the band rewrites")
    // history intact byte-for-byte
    assert(Snapshots.files(spark, root, 1) == f1)
    f1.foreach(f =>
      assert(fs.getFileStatus(new Path(s"$root/$f")).getLen == v1Lens(f), s"$f changed"))
    assert(Snapshots.read(spark, root, Some(1)).count() == 40)
    // a predicate matching nothing publishes a no-op version, no new files
    val v3 = Snapshots.deleteWhere(spark, root, col("grp") === "nope")
    assert(Snapshots.files(spark, root, v3) == f2)
  }

  test("updateWhere: old-row assignments, type-stable schema, untouched files shared") {
    import spark.implicits._
    val root = freshRoot("update")
    val base = (1L to 40L).map(i => (i, i * 10, if (i % 5 == 0) null else "keep"))
      .toDF("id", "n", "tag")
    Snapshots.publish(spark, root, base.repartitionByRange(4, col("id")))
    val f1 = Snapshots.files(spark, root, 1)
    // increment n off the OLD row and restamp tag, only in the id<=10 band;
    // the Int literal must cast to the column's LONG type (schema stable)
    val v2 = Snapshots.updateWhere(spark, root,
      col("tag") === "keep" && col("id") <= 10,
      set = Map("n" -> (col("n") + 1), "tag" -> lit("touched")),
      pruneRanges = Map("id" -> (1L, 10L)))
    val after = Snapshots.read(spark, root, Some(v2))
    assert(after.schema == Snapshots.read(spark, root, Some(1)).schema)
    val touched = after.filter(col("tag") === "touched")
    assert(touched.count() == base.filter(col("tag") === "keep" && col("id") <= 10).count())
    // assignment evaluated against the old row: n = old n + 1
    assert(touched.filter(col("n") =!= col("id") * 10 + 1).count() == 0)
    // NULL-predicate rows untouched; out-of-band rows untouched
    assert(after.filter(col("tag").isNull).count() ==
      base.filter(col("tag").isNull).count())
    assert(after.filter(col("tag") === "keep").count() ==
      base.filter(col("tag") === "keep" && col("id") > 10).count())
    // banded copy-on-write + intact history
    val f2 = Snapshots.files(spark, root, v2)
    assert((f1.toSet & f2.toSet).nonEmpty)
    assert(Snapshots.read(spark, root, Some(1))
      .agg(sum(col("n"))).head().getLong(0) == (1L to 40L).map(_ * 10).sum)
    // unknown assignment column fails loudly
    intercept[IllegalArgumentException](
      Snapshots.updateWhere(spark, root, lit(true), Map("nope" -> lit(1))))
  }

  test("merge-on-read delete vectors: O(keys) commit, sequence-correct re-insert, targeted materialize") {
    import spark.implicits._
    val root = freshRoot("mor")
    val base = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    Snapshots.publish(spark, root, base.repartitionByRange(4, col("id")))
    val f1 = Snapshots.files(spark, root, 1)
    // delete ids 1..10 via a dv — NO data file may move
    Snapshots.deleteByKey(spark, root, (1L to 10L).toDF("id"))
    assert(Snapshots.files(spark, root, 2) == f1, "dv commit must not rewrite data")
    assert(Snapshots.read(spark, root, Some(2)).count() == 30)
    assert(Snapshots.read(spark, root, Some(2))
      .filter(col("id") <= 10).count() == 0)
    // v1 unaffected
    assert(Snapshots.read(spark, root, Some(1)).count() == 40)
    // re-insert a deleted key: sequence semantics keep it visible
    Snapshots.publish(spark, root, Seq((3L, "reborn")).toDF("id", "v"), append = true)
    val v3 = Snapshots.read(spark, root, Some(3))
    assert(v3.count() == 31)
    assert(v3.filter(col("id") === 3).select("v").as[String].collect().toSeq ==
      Seq("reborn"), "dv must not retro-delete rows appended after it")
    // the per-batch delta under outstanding dvs is just the appended rows
    assert(Snapshots.readAdded(spark, root, 2, 3).count() == 1)
    // raw-read paths refuse until materialized; metadata aggs return None
    intercept[IllegalArgumentException](
      Snapshots.readBetween(spark, root, "id", 1L, 5L))
    intercept[IllegalArgumentException](
      Snapshots.mergeByKey(spark, root, Seq((9L, "x")).toDF("id", "v"), Seq("id")))
    intercept[IllegalArgumentException](
      Snapshots.deleteWhere(spark, root, col("id") === 9))
    intercept[IllegalArgumentException](
      Snapshots.changes(spark, root, 2, 3, Seq("id")))
    assert(Snapshots.countRows(spark, root).isEmpty)
    assert(Snapshots.columnStats(spark, root, "id").isEmpty)
    // targeted materialize: only files holding doomed rows rewrite
    val v4 = Snapshots.materializeDeletes(spark, root)
    assert(v4 == 4)
    val f3 = Snapshots.files(spark, root, 3)
    val f4 = Snapshots.files(spark, root, 4)
    assert((f3.toSet & f4.toSet).nonEmpty, "untouched files carried by reference")
    val after = Snapshots.read(spark, root, Some(4))
    assert(after.count() == 31)
    assert(after.filter(col("id") === 3).select("v").as[String].collect().toSeq ==
      Seq("reborn"))
    // materialized: raw paths and metadata aggregates come back
    assert(Snapshots.countRows(spark, root) == Some(31L))
    assert(Snapshots.readBetween(spark, root, "id", 1L, 5L).count() ==
      after.filter(col("id").between(1, 5)).count())
    // a second materialize is a no-op (returns the current version)
    assert(Snapshots.materializeDeletes(spark, root) == 4)
    // prior MoR versions still read correctly (their dvs intact)
    assert(Snapshots.read(spark, root, Some(2)).count() == 30)
    // vacuum with live dv references must NOT delete the dv key file;
    // after expiring the dv-bearing versions it becomes sweepable
    Snapshots.vacuum(spark, root, graceMs = 0L)
    assert(Snapshots.read(spark, root, Some(2)).count() == 30, "dv file survived vacuum")
    Snapshots.expire(spark, root, keepLast = 1)
    Snapshots.vacuum(spark, root, graceMs = 0L)
    assert(Snapshots.read(spark, root).count() == 31)
  }

  test("vacuum at the boundary: concurrent reads are clean or refuse loudly, never partial") {
    // the deletion-surface audit (expire at the grace boundary, data-file
    // sweep, cluster-subdir drain) against a concurrent reader: every
    // outcome must be a CLEAN full read or a LOUD refusal — a silently
    // partial result is the one forbidden state. (CDF-cache reclaim and
    // the stream-side expiry guard have their own specs in
    // SnapshotSourceSpec.)
    val root = freshRoot("vacrace")
    val v1Rows = orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_orderpriority")
    Snapshots.publish(spark, root, v1Rows, clusterBy = Some("o_orderpriority"))
    val v1Count = v1Rows.count()
    // v2 fully replaces v1, so v1's files become expire-then-vacuum bait
    Snapshots.publish(spark, root,
      orders.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority"),
      clusterBy = Some("o_orderpriority"))
    val headCount = orders.filter(col("o_orderkey") % 2 === 1).count()
    val v1Dirs = Snapshots.files(spark, root, 1)
      .map(_.split('/').dropRight(1).mkString("/")).distinct
    // a reader PLANNED against v1 before the boundary ops run
    val planned = spark.read.format("graft-snapshot").option("root", root)
      .option("version", "1").load()
    val headReader = spark.read.format("graft-snapshot").option("root", root).load()

    // within-grace vacuum beside live readers: deletes NOTHING referenced
    Snapshots.expire(spark, root, keepLast = 1)
    Snapshots.vacuum(spark, root) // default 1h grace: v1's young files survive
    assert(headReader.count() == headCount, "head read must stay clean under vacuum")

    // at the boundary (grace 0): v1's files and drained cluster subdirs go
    Snapshots.vacuum(spark, root, graceMs = 0L)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(v1Dirs.nonEmpty && v1Dirs.forall(d => !fs.exists(new Path(s"$root/$d"))),
      "v1's drained publish/cluster dirs must be reclaimed")
    // the pre-planned v1 reader: complete rows or a loud error — never a subset
    scala.util.Try(planned.collect()) match {
      case scala.util.Success(rows) =>
        assert(rows.length == v1Count,
          s"pre-planned v1 read returned ${rows.length} of $v1Count rows — PARTIAL")
      case scala.util.Failure(e) =>
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString("; ")
        assert(msgs.contains("v1") || msgs.toLowerCase.contains("not exist") ||
          msgs.toLowerCase.contains("no such file"), s"refusal must be loud: $msgs")
    }
    // a FRESH v1 request refuses loudly at plan time (manifest expired)
    val e = intercept[Exception] {
      spark.read.format("graft-snapshot").option("root", root)
        .option("version", "1").load().collect()
    }
    assert(String.valueOf(e.getMessage).contains("v1") ||
      String.valueOf(e.getMessage).contains("does not exist"))
    // and the live head still reads complete and exact after the sweep
    assert(headReader.count() == headCount)
    assert(Snapshots.read(spark, root).count() == headCount)
  }

  test("widens() is a strict partial order over exactly the lossless promotions") {
    import org.apache.spark.sql.types._
    import graft.operators.Snapshots.widens
    val ladder = Seq[DataType](ByteType, ShortType, IntegerType, LongType)
    // the int ladder widens strictly upward, never down or reflexively
    for (i <- ladder.indices; j <- ladder.indices)
      assert(widens(ladder(i), ladder(j)) == (i < j), s"${ladder(i)} -> ${ladder(j)}")
    assert(widens(FloatType, DoubleType) && !widens(DoubleType, FloatType))
    assert(!widens(FloatType, FloatType))
    // decimal: precision growth at the SAME scale only
    assert(widens(DecimalType(10, 2), DecimalType(20, 2)))
    assert(!widens(DecimalType(20, 2), DecimalType(10, 2)))
    assert(!widens(DecimalType(10, 2), DecimalType(20, 3)), "scale change rescales values")
    assert(!widens(DecimalType(10, 2), DecimalType(10, 2)))
    // cross-family never widens: reinterpretation or value loss
    for (a <- ladder :+ (DoubleType: DataType);
         b <- Seq[DataType](FloatType, StringType, DateType, TimestampType,
           BooleanType, DecimalType(20, 0)))
      assert(!widens(a, b), s"$a -> $b")
    assert(!widens(LongType, DoubleType), "long -> double loses integers above 2^53")
    assert(!widens(IntegerType, FloatType) && !widens(StringType, LongType))
    // transitivity on the accepted graph: a->b and b->c implies a->c
    val all = ladder ++ Seq(FloatType, DoubleType,
      DecimalType(10, 2), DecimalType(20, 2), DecimalType(38, 2))
    for (a <- all; b <- all; c <- all if widens(a, b) && widens(b, c))
      assert(widens(a, c), s"transitivity: $a -> $b -> $c")
  }
}
