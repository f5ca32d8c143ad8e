package graft

import graft.operators.Snapshots

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins deep clone / export: byte-identical data at the destination,
  * every manifest attestation carried (stats, rows, bytes, cluster and
  * sort layout), fresh single-version history, full independence from
  * the source lifecycle, version pinning, and the refusal matrix
  * (dv-carrying versions, existing destinations).
  */
class CloneSpec extends AnyFunSuite {
  import SparkTestEnv._

  private lazy val wh: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-clone")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def orders = Tables.load(spark, sf, "orders")
    .select("o_orderkey", "o_orderpriority", "o_totalprice")

  test("clone carries rows, stats, and layout; history is fresh; reads are equal") {
    val src = s"$wh/src1"; val dst = s"$wh/dst1"
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 0),
      clusterBy = Some("o_orderpriority"))
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 1),
      append = true)
    val (nf, nb) = Snapshots.cloneTo(spark, src, dst)
    assert(nf === Snapshots.files(spark, src, 2).size.toLong && nb > 0)
    // fresh single-version history; identical rows
    assert(Snapshots.versions(spark, dst) === Seq(1))
    assert(Snapshots.read(spark, dst).collect().toSet ===
      Snapshots.read(spark, src).collect().toSet)
    // manifest metadata carried verbatim: per-file rows and bytes answer
    // without opening a single data file
    assert(Snapshots.countRows(spark, dst) ===
      Some(Snapshots.read(spark, src).count()))
    assert(Snapshots.byteCountsOf(spark, dst, 1) ===
      Snapshots.byteCountsOf(spark, src, 2))
    // v1's cluster attestation does NOT carry (the append dropped it at
    // the source head — the clone reflects the cloned version exactly)
    assert(Snapshots.clusterOf(spark, dst, 1) ===
      Snapshots.clusterOf(spark, src, 2))
  }

  test("cloning a clustered version keeps the layout SPJ-ready at the destination") {
    val src = s"$wh/src2"; val dst = s"$wh/dst2"
    Snapshots.publish(spark, src, orders, clusterBy = Some("o_orderpriority"))
    Snapshots.cloneTo(spark, src, dst)
    assert(Snapshots.clusterOf(spark, dst, 1).contains("o_orderpriority"))
    // the scan proves the layout from the carried stats (no re-derive)
    val df = spark.read.format("graft-snapshot").option("root", dst).load()
    assert(df.groupBy("o_orderpriority").count().collect().map(_.getLong(1)).sum
      === orders.count())
  }

  test("version pinning: the clone is the pinned version, not the head") {
    val src = s"$wh/src3"; val dst = s"$wh/dst3"
    Snapshots.publish(spark, src, orders.limit(100))
    Snapshots.publish(spark, src, orders.limit(250))
    Snapshots.cloneTo(spark, src, dst, Some(1))
    assert(Snapshots.read(spark, dst).count() === 100)
  }

  test("independence: source expire+vacuum cannot touch the clone") {
    val src = s"$wh/src4"; val dst = s"$wh/dst4"
    Snapshots.publish(spark, src, orders.limit(100))
    Snapshots.publish(spark, src, orders.limit(30)) // replacement
    Snapshots.cloneTo(spark, src, dst, Some(1))
    Snapshots.expire(spark, src, keepLast = 1)
    Snapshots.vacuum(spark, src, graceMs = 0L)
    assert(Snapshots.read(spark, dst).count() === 100)
  }

  test("syncTo replicates incrementally: only new files copy, reads track the source head") {
    val src = s"$wh/src6"; val dst = s"$wh/dst6"
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    // first sync = clone
    val (nf1, _) = Snapshots.syncTo(spark, src, dst)
    assert(nf1 === Snapshots.files(spark, src, 1).size.toLong)
    // append at the source → sync copies ONLY the appended files
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 1),
      append = true)
    val delta = (Snapshots.files(spark, src, 2).toSet --
      Snapshots.files(spark, src, 1).toSet).size.toLong
    val (nf2, _) = Snapshots.syncTo(spark, src, dst)
    assert(nf2 === delta && delta > 0)
    assert(Snapshots.read(spark, dst).collect().toSet ===
      Snapshots.read(spark, src).collect().toSet)
    assert(Snapshots.versions(spark, dst) === Seq(1, 2))
    // metadata carried: exact count from the replica's manifest alone
    assert(Snapshots.countRows(spark, dst) ===
      Some(Snapshots.read(spark, src).count()))
    // no-change sync commits NOTHING
    assert(Snapshots.syncTo(spark, src, dst) === ((0L, 0L)))
    assert(Snapshots.versions(spark, dst) === Seq(1, 2))
    // a CoW rewrite at the source (delete) syncs as its replacement
    // files; shared files don't re-copy
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    Snapshots.deleteWhere(spark, src, col("o_orderkey") === lo)
    val (nf3, _) = Snapshots.syncTo(spark, src, dst)
    assert(nf3 > 0 && nf3 < Snapshots.files(spark, src, 3).size)
    assert(Snapshots.read(spark, dst).count() === orders.count() - 1)
    // replica time travel: each sync point is a version
    assert(Snapshots.read(spark, dst, Some(2)).count() === orders.count())
  }

  test("syncTo replicates metadata-only commits: schema widening with zero file copies") {
    val src = s"$wh/src8"; val dst = s"$wh/dst8"
    Snapshots.publish(spark, src, orders)
    Snapshots.syncTo(spark, src, dst)
    // a metadata-only source commit: same files, evolved schema — the
    // no-op check must see THROUGH file-set equality (head-state
    // replication is meta-exact, not file-exact)
    val evolved = org.apache.spark.sql.types.StructType(
      Snapshots.schemaOf(spark, src, 1).fields :+
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType))
    Snapshots.evolveSchema(spark, src, evolved)
    val (nf, nb) = Snapshots.syncTo(spark, src, dst)
    assert((nf, nb) === ((0L, 0L)), "a schema-only commit must copy no files")
    assert(Snapshots.versions(spark, dst) === Seq(1, 2),
      "the replica must commit a metadata-only version")
    assert(Snapshots.schemaOf(spark, dst, 2) === Snapshots.schemaOf(spark, src, 2))
    assert(Snapshots.read(spark, dst).columns.contains("note"))
    // and once meta-exact, the next sync is a true no-op
    assert(Snapshots.syncTo(spark, src, dst) === ((0L, 0L)))
    assert(Snapshots.versions(spark, dst) === Seq(1, 2))
  }

  test("tag carry is opt-in: default root-local, copyTags/syncTags carry resolvable pins") {
    val src = s"$wh/srcT"; val dst = s"$wh/dstT"
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 1),
      append = true)
    Snapshots.tag(spark, src, "audited", Some(2))
    Snapshots.tag(spark, src, "old-pin", Some(1)) // names a NON-cloned version
    // DEFAULT: a clone carries no tags (root-local semantics preserved)
    Snapshots.cloneTo(spark, src, dst)
    assert(Snapshots.tags(spark, dst).isEmpty, "default clone must carry no tags")
    // opt-in: tags naming the cloned version carry, re-pointed at v1 and
    // RESOLVABLE; tags naming other versions do not (no referent)
    val dst2 = s"$wh/dstT2"
    Snapshots.cloneTo(spark, src, dst2, copyTags = true)
    assert(Snapshots.tags(spark, dst2) === Seq("audited" -> 1))
    assert(Snapshots.read(spark, dst2, Some(
      Snapshots.resolveVersion(spark, dst2, "audited"))).count() ===
      Snapshots.read(spark, src, Some(2)).count())
    // syncTo: default carries nothing; opt-in carries the synced pin
    val dst3 = s"$wh/dstT3"
    Snapshots.syncTo(spark, src, dst3)
    assert(Snapshots.tags(spark, dst3).isEmpty, "default sync must carry no tags")
    Snapshots.publish(spark, src, orders.limit(10), append = true)
    Snapshots.tag(spark, src, "release", Some(3))
    Snapshots.syncTo(spark, src, dst3, syncTags = true)
    assert(Snapshots.tags(spark, dst3) === Seq("release" -> 2),
      s"the synced version's pin must carry: ${Snapshots.tags(spark, dst3)}")
    // idempotent re-sync: the carried pin already at the right version is
    // a no-op, even on the meta-exact no-change path
    Snapshots.syncTo(spark, src, dst3, syncTags = true)
    assert(Snapshots.tags(spark, dst3) === Seq("release" -> 2))
    // a tag added at the source AFTER the state synced still carries on
    // the next (no-change) sync — the re-sync-after-tag workflow
    Snapshots.tag(spark, src, "late-pin", Some(3))
    Snapshots.syncTo(spark, src, dst3, syncTags = true)
    assert(Snapshots.tags(spark, dst3).toMap.get("late-pin") === Some(2))
    // a diverged same-name pin refuses (never silently re-points)
    Snapshots.untag(spark, src, "release")
    Snapshots.tag(spark, src, "release", Some(1))
    val e = intercept[IllegalArgumentException](
      Snapshots.syncTo(spark, src, dst3, syncTags = true, version = Some(1)))
    assert(e.getMessage.contains("tags are immutable"), e.getMessage)
  }

  test("refusals: dv-carrying version, existing destination") {
    val src = s"$wh/src5"; val dst = s"$wh/dst5"
    Snapshots.publish(spark, src, orders.limit(50))
    import spark.implicits._
    Snapshots.deleteByKey(spark, src,
      orders.limit(5).select("o_orderkey"))
    val e = intercept[IllegalArgumentException](
      Snapshots.cloneTo(spark, src, dst))
    assert(e.getMessage.contains("delete vectors"))
    // the PRE-dv version clones fine
    Snapshots.cloneTo(spark, src, dst, Some(1))
    assert(Snapshots.read(spark, dst).count() === 50)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.cloneTo(spark, src, dst, Some(1)))
    assert(e2.getMessage.contains("already has published versions"))
  }
}
