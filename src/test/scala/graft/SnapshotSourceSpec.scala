package graft

import graft.operators.Snapshots

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the DSv2 front door (`format("graft-snapshot")`): batch reads
  * match `Snapshots.read` bit-for-bit, pushed filters prune FILES through
  * the manifest stats (asserted on the planned scan, not just the rows),
  * column pruning reaches the scan's read schema, time travel works, dv
  * versions refuse a raw scan, and the micro-batch stream delivers each
  * append exactly once across a checkpointed restart.
  */
class SnapshotSourceSpec extends AnyFunSuite {
  import SparkTestEnv._

  private def freshRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-dsv2-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def orders = Tables.load(spark, sf, "orders")

  private def readSource(root: String): DataFrame =
    spark.read.format("graft-snapshot").option("root", root).load()

  /** The files the frame's (single) snapshot scan plans over. */
  private def plannedFiles(df: DataFrame): Seq[String] = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.size == 1, s"expected one snapshot scan, got ${scans.size}")
    scans.head.inputPartitions.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.urlEncodedPath)
      case other => fail(s"unexpected partition shape: $other")
    }
  }

  test("plan-time file sizing is manifest-resident: zero per-file FS calls") {
    val root = freshRoot("bytes")
    Snapshots.publish(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val rel = Snapshots.files(spark, root, 1)
    val sized = Snapshots.byteCountsOf(spark, root, 1)
    assert(rel.forall(sized.contains), "every published file must carry a #bytes= line")
    val actual = rel.map(r => new java.io.File(s"$root/$r").length()).sum
    assert(sized.values.sum == actual,
      s"manifest bytes ${sized.values.sum} != filesystem bytes $actual")
    // capture plan-time outputs while the data files still exist
    val before = readSource(root)
    val expectStats = before.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsReportStatistics]
          .estimateStatistics()
    }.head
    assert(expectStats.sizeInBytes.isPresent && expectStats.sizeInBytes.getAsLong >= actual,
      "unpruned unprojected scan must report at least the raw file bytes")
    // THE zero-RPC proof: physically remove every data file (manifests
    // stay) — statistics and partition planning must still succeed,
    // because any per-file getFileStatus would now throw
    rel.foreach(r => assert(new java.io.File(s"$root/$r").delete()))
    val df = readSource(root)
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    val stats = scan.scan.asInstanceOf[
      org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    assert(stats.sizeInBytes.isPresent
      && stats.sizeInBytes.getAsLong == expectStats.sizeInBytes.getAsLong,
      "statistics must come from the manifest, not the (deleted) files")
    val parts = scan.inputPartitions
    assert(parts.nonEmpty, "partition planning must succeed without the data files")
    val plannedBytes = parts.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.length)
      case other => fail(s"unexpected partition shape: $other")
    }.sum
    assert(plannedBytes == actual,
      s"partition sizing must use manifest bytes: $plannedBytes != $actual")
    // history's byte totals are manifest-resident too
    val hist = Snapshots.describeHistory(spark, root)
      .select("total_bytes").head.getLong(0)
    assert(hist == actual, s"describeHistory bytes $hist != $actual")
  }

  test("a manifest without #bytes= is refused until Snapshots.upgrade") {
    val root = freshRoot("legacybytes")
    Snapshots.publish(spark, root, orders.limit(1000))
    // rewrite the manifest as a pre-#bytes= writer would have produced it
    val mf = new java.io.File(s"$root/_snapshots/v1")
    val stripped = scala.io.Source.fromFile(mf, "UTF-8").getLines()
      .filterNot(_.startsWith("#bytes=")).mkString("", "\n", "\n")
    java.nio.file.Files.write(mf.toPath, stripped.getBytes("UTF-8"))
    // the rewrite bypassed hadoop's ChecksumFileSystem — drop the sidecar
    new java.io.File(s"$root/_snapshots/.v1.crc").delete()
    val e = intercept[IllegalStateException](readSource(root).count())
    assert(e.getMessage.contains("#bytes=") && e.getMessage.contains("Snapshots.upgrade"),
      e.getMessage)
    // upgrade-then-read: same rows, and sizing is manifest-resident again
    assert(Snapshots.upgrade(spark, root) == 2)
    assert(Snapshots.upgrade(spark, root) == 2, "a current head is left alone")
    val rel = Snapshots.files(spark, root, 2)
    assert(rel == Snapshots.files(spark, root, 1), "upgrade moves no data file")
    val actual = rel.map(r => new java.io.File(s"$root/$r").length()).sum
    assert(rel.map(Snapshots.byteCountsOf(spark, root, 2)).sum == actual)
    assert(readSource(root).count() == 1000)
    val planned = readSource(root).queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head.inputPartitions.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.length)
      case other => fail(s"unexpected partition shape: $other")
    }.sum
    assert(planned == actual, "upgraded sizing must plan the real lengths")
    // the pre-upgrade version stays outdated until expired
    Snapshots.expire(spark, root, keepLast = 1)
    assert(Snapshots.describeHistory(spark, root)
      .select("total_bytes").head.getLong(0) == actual)
  }

  test("batch read matches Snapshots.read, supports time travel") {
    val root = freshRoot("batch")
    val early = orders.filter(col("o_orderdate") < lit("1996-01-01"))
    Snapshots.publish(spark, root, early)
    Snapshots.publish(spark, root, orders)
    assert(readSource(root).count() == orders.count())
    val v1 = spark.read.format("graft-snapshot")
      .option("root", root).option("version", 1).load()
    assert(v1.count() == early.count())
    // contents, not just counts: full-row symmetric difference is empty
    assert(readSource(root).exceptAll(orders).isEmpty
      && orders.exceptAll(readSource(root)).isEmpty)
  }

  test("pushed range filter prunes files via manifest stats") {
    val root = freshRoot("prune")
    // range-clustered publish: each file's o_orderkey min/max is tight
    Snapshots.publish(spark, root,
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    val all = readSource(root)
    val total = plannedFiles(all).size
    assert(total >= 6, s"expected ~8 clustered files, got $total")
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val narrow = readSource(root).filter(col("o_orderkey") === lit(lo))
    val planned = plannedFiles(narrow)
    assert(planned.size < total,
      s"stats pruning must drop files: planned ${planned.size} of $total")
    assert(narrow.count() == orders.filter(col("o_orderkey") === lit(lo)).count())
    // one-sided comparison prunes too, and results stay exact
    val hi = orders.agg(max("o_orderkey")).head.getLong(0)
    val tail = readSource(root).filter(col("o_orderkey") > lit(hi - 5))
    assert(plannedFiles(tail).size < total)
    assert(tail.count() == orders.filter(col("o_orderkey") > lit(hi - 5)).count())
  }

  test("column pruning reaches the scan read schema") {
    val root = freshRoot("colprune")
    Snapshots.publish(spark, root, orders)
    val two = readSource(root).select("o_orderkey", "o_totalprice")
    val scan = two.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.head
    assert(scan.scan.readSchema().fieldNames.toSet ==
      Set("o_orderkey", "o_totalprice"))
  }

  test("ungrouped count/min/max compiles to a metadata-only scan") {
    val root = freshRoot("aggpush")
    Snapshots.publish(spark, root, orders)
    val agg = readSource(root).agg(
      count(lit(1)).as("n"), min("o_orderkey").as("mn"),
      max("o_orderdate").as("mx"), max("o_orderpriority").as("mp"))
    val scans = agg.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.description().contains("METADATA-ONLY"),
      s"expected the stats-answered scan, got:\n${agg.queryExecution.executedPlan}")
    val got = agg.head
    val want = orders.agg(count(lit(1)), min("o_orderkey"),
      max("o_orderdate"), max("o_orderpriority")).head
    assert(got == want)
    // a filter blocks the metadata answer — ordinary scan, same result
    val filtered = readSource(root)
      .filter(col("o_orderpriority") =!= "1-URGENT").agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.exists(_.scan.description().contains("METADATA-ONLY")))
    assert(filtered.head.getLong(0) ==
      orders.filter(col("o_orderpriority") =!= "1-URGENT").count())
    // sum is not metadata-answerable — must fall back, not misanswer
    val summed = readSource(root).agg(sum("o_orderkey"))
    assert(!summed.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }.exists(_.scan.description().contains("METADATA-ONLY")))
    assert(summed.head.getLong(0) == orders.agg(sum("o_orderkey")).head.getLong(0))
  }

  test("point-lookup filters probe parquet blooms on unclustered files") {
    val root = freshRoot("bloomprobe")
    // hash layout: every file spans the whole key range, stats prune nothing
    Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_custkey").repartition(8),
      bloomOn = Seq("o_orderkey"))
    val needle = orders.agg(min("o_orderkey")).head.getLong(0)
    val hit = readSource(root).filter(col("o_orderkey") === lit(needle))
    val total = plannedFiles(readSource(root)).size
    assert(plannedFiles(hit).size < total,
      s"bloom probe must drop files on a hash layout ($total planned)")
    assert(hit.count() == orders.filter(col("o_orderkey") === lit(needle)).count())
    val in3 = readSource(root).filter(col("o_orderkey").isin(needle, needle + 1, -1L))
    assert(plannedFiles(in3).size < total)
    assert(in3.count() ==
      orders.filter(col("o_orderkey").isin(needle, needle + 1, -1L)).count())
  }

  test("outstanding delete vectors: the batch scan anti-probes them (merge-on-read)") {
    import spark.implicits._
    val root = freshRoot("dv")
    val base = orders.limit(100).select("o_orderkey", "o_orderpriority", "o_totalprice")
    Snapshots.publish(spark, root, base)
    val doomed = base.select("o_orderkey").orderBy("o_orderkey").limit(5)
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    Snapshots.deleteByKey(spark, root, doomed)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey").collect().map(_.getLong(0)).toSeq.sorted
    // SQL-path read equals the API's distributed anti-join
    assert(keys(readSource(root)) == keys(Snapshots.read(spark, root)))
    assert(keys(readSource(root)).toSet.intersect(doomedIds).isEmpty)
    // a projection WITHOUT the key column still filters (the key is
    // force-read for the probe and projected away after)
    assert(readSource(root).select("o_orderpriority").count() == 95)
    // filtered read composes with the probe
    assert(readSource(root)
      .filter(col("o_orderkey").isin(doomedIds.toSeq.map(lit): _*)).count() == 0)
    // LIMIT must deliver (the manifest row-count prefix, which counts
    // deleted rows, stands down under outstanding dvs)
    assert(readSource(root).limit(97).count() == 95)
    // count(*) does not answer from metadata (which would overcount)
    assert(readSource(root).count() == 95)
    // a key re-inserted AFTER its delete stays visible (sequence scoping)
    val back = doomedIds.min
    Snapshots.publish(spark, root,
      Seq((back, "REINSERTED", 1.0)).toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
      append = true)
    val re = readSource(root).filter(col("o_orderkey") === lit(back)).collect()
    assert(re.length == 1 && re.head.getString(1) == "REINSERTED",
      "a post-delete re-insert must stay visible exactly once")
    assert(keys(readSource(root)) == keys(Snapshots.read(spark, root)))
  }

  test("dv probe enforces the broadcast-sized contract: over-bound key sets refuse pre-collect") {
    val root = freshRoot("dvbound")
    val base = orders.limit(100).select("o_orderkey", "o_orderpriority")
    Snapshots.publish(spark, root, base)
    Snapshots.deleteByKey(spark, root,
      base.select("o_orderkey").orderBy("o_orderkey").limit(10))
    val k = "spark.graft.dv.maxProbeKeys"
    spark.conf.set(k, "3")
    try {
      // the bound checks DISTRIBUTED (a count job), before any
      // driver-side materialization of the key set
      val e = intercept[Exception](readSource(root).count())
      assert(e.getMessage.contains("maxProbeKeys") &&
        e.getMessage.contains("materializeDeletes"),
        s"over-bound dv read must refuse with the outs: ${e.getMessage}")
      // Snapshots.read (the distributed anti-join) stays the scale-safe
      // out at ANY key count — no bound applies there
      assert(Snapshots.read(spark, root).count() === 90)
    } finally spark.conf.unset(k)
    // back under the (default) bound, the probe works unchanged
    assert(readSource(root).count() === 90)
  }

  test("dv merge-on-read: stats-clean files bypass the probe (vectorized fast path)") {
    // a dv's keys are clustered in a few files; every OTHER file's
    // footer-stats envelope proves it cannot contain a deleted key, so
    // it must plan as a CLEAN partition — plain vectorized read, no
    // forced key columns, no per-row probe. Range-sorted publish gives
    // each file a tight o_orderkey envelope; the deleted keys all come
    // from the lowest range, so most files must classify clean.
    val root = freshRoot("dvclean")
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    Snapshots.publish(spark, root,
      base.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val doomed = base.select("o_orderkey").orderBy("o_orderkey").limit(5)
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    Snapshots.deleteByKey(spark, root, doomed)
    val df = readSource(root)
    assert(df.count() == base.count() - 5)
    val scan = (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
        b.scan.asInstanceOf[graft.sources.SnapshotScan]
    }.head
    val total = scan.plannedFileCount
    assert(total >= 6, s"expected >=6 planned files, got $total")
    assert(scan.dvCleanFileCount >= total - 2 && scan.dvCleanFileCount < total,
      s"deleted keys live in at most 2 ranges — expected >=${total - 2} clean of " +
        s"$total files, got ${scan.dvCleanFileCount}")
    // the probe itself still filters exactly (the dirty files' rows)
    assert(df.select("o_orderkey").collect().map(_.getLong(0)).toSet
      .intersect(doomedIds).isEmpty)
    // files first seen AFTER the last dv classify clean by construction
    import spark.implicits._
    Snapshots.publish(spark, root,
      Seq((-1L, "POSTDV", 1.0)).toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
      append = true)
    val df2 = readSource(root)
    assert(df2.count() == base.count() - 5 + 1)
    val scan2 = (df2.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
        b.scan.asInstanceOf[graft.sources.SnapshotScan]
    }.head
    assert(scan2.dvCleanFileCount >= scan.dvCleanFileCount + 1,
      "a post-dv append must join the clean set")
  }

  test("manifest statistics drive join planning: small snapshot side auto-broadcasts") {
    val root = freshRoot("stats")
    Snapshots.publish(spark, root, orders.limit(200))
    // no broadcast() hint: the scan's reported size must be what makes
    // Spark choose a broadcast join (stats-less DSv2 assumes huge)
    val joined = Tables.load(spark, sf, "lineitem")
      .join(readSource(root), col("l_orderkey") === col("o_orderkey"))
    joined.count()
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"small snapshot side must auto-broadcast:\n$plan")
    // filtered stats shrink with the pruned file set
    val scanOf: org.apache.spark.sql.DataFrame => graft.sources.SnapshotScan = df =>
      df.queryExecution.executedPlan.collect {
        case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
          b.scan.asInstanceOf[graft.sources.SnapshotScan]
      }.head
    val root2 = freshRoot("stats2")
    Snapshots.publish(spark, root2,
      orders.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"))
    val all = scanOf(spark.read.format("graft-snapshot").option("root", root2).load())
      .estimateStatistics()
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val narrow = scanOf(spark.read.format("graft-snapshot").option("root", root2)
      .load().filter(col("o_orderkey") === lit(lo)))
    val nstat = narrow.estimateStatistics()
    assert(all.numRows.getAsLong == orders.count())
    assert(nstat.numRows.getAsLong < all.numRows.getAsLong,
      "pruned scan must report fewer rows")
    assert(nstat.sizeInBytes.getAsLong < all.sizeInBytes.getAsLong)
  }

  test("broadcast join prunes the fact scan at runtime (dynamic file pruning)") {
    val root = freshRoot("dpp")
    val li = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    Snapshots.publish(spark, root,
      li.repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey"))
    val fact = readSource(root)
    val total = plannedFiles(fact).size
    val needle = li.agg(min("l_orderkey")).head.getLong(0)
    val dim = orders.filter(col("o_orderkey") === lit(needle)).select("o_orderkey")
    val joined = fact.join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
    val got = joined.count()
    assert(got == li.filter(col("l_orderkey") === lit(needle)).count())
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = finalPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.SnapshotScan] =>
        b.scan.asInstanceOf[graft.sources.SnapshotScan]
    }.head
    assert(scan.plannedFileCount >= 0 && scan.plannedFileCount < total,
      s"runtime filter must re-plan the scan to fewer files " +
        s"(planned ${scan.plannedFileCount} of $total)")
  }

  test("unfiltered LIMIT plans only a row-count-covering file prefix") {
    val root = freshRoot("limit")
    Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_orderpriority").repartition(8))
    val total = plannedFiles(readSource(root)).size
    assert(total >= 6)
    val limited = readSource(root).limit(5)
    assert(plannedFiles(limited).size < total,
      "limit must trim the planned file list via #rows= counts")
    assert(limited.count() == 5)
    // a filter forbids the trim — the chosen prefix could under-deliver
    val both = readSource(root).filter(col("o_orderpriority") =!= "zzz").limit(5)
    assert(plannedFiles(both).size == total)
    assert(both.count() == 5)
  }

  test("timestampAsOf resolves the version live at that wall clock") {
    val root = freshRoot("asof")
    val early = orders.filter(col("o_orderkey") % 2 === 0)
    Snapshots.publish(spark, root, early)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Snapshots.publish(spark, root, orders)
    val asOf = spark.read.format("graft-snapshot").option("root", root)
      .option("timestampAsOf", between.toString).load()
    assert(asOf.count() == early.count())
    assert(readSource(root).count() == orders.count())
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("root", root)
        .option("version", 1).option("timestampAsOf", between.toString)
        .load().count()
    }
  }

  test("micro-batch stream delivers appends exactly once across restart") {
    val root = freshRoot("stream")
    val ck = Scratch.ephemeralCheckpoint("dsv2-stream-spec")
    val slices = Seq(
      orders.filter(col("o_orderkey") % 3 === 0),
      orders.filter(col("o_orderkey") % 3 === 1),
      orders.filter(col("o_orderkey") % 3 === 2))
    Snapshots.publish(spark, root, slices(0))
    // a FAULT-TOLERANT sink (parquet), so the restart genuinely recovers
    // from the checkpointed version offset (memory sink refuses recovery)
    val out = freshRoot("stream-sink")
    def startQuery() =
      spark.readStream.format("graft-snapshot").option("root", root).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).start()
    def delivered = spark.read.parquet(out)
    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assert(delivered.count() == slices(0).count())
      Snapshots.publish(spark, root, slices(1), append = true)
      q1.processAllAvailable()
      assert(delivered.count() == slices(0).count() + slices(1).count())
    } finally q1.stop()
    // restart from the checkpoint: only the not-yet-committed append
    // lands — the union is every slice exactly once, no replay, no loss
    Snapshots.publish(spark, root, slices(2), append = true)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(delivered.count() == orders.count(),
        "restart must deliver exactly the new version — no replay, no loss")
      assert(delivered.exceptAll(orders).isEmpty
        && orders.exceptAll(delivered).isEmpty)
    } finally q2.stop()
  }

  test("stream refuses a compaction version unless declared layout-only") {
    val root = freshRoot("rewrite")
    val ck1 = Scratch.ephemeralCheckpoint("dsv2-rewrite-spec")
    Snapshots.publish(spark, root, orders.limit(500).repartition(4))
    Snapshots.compact(spark, root, targetBytes = 1L << 30)
    val fail = spark.readStream.format("graft-snapshot").option("root", root).load()
      .writeStream.format("memory").queryName("dsv2_rw_fail")
      .option("checkpointLocation", ck1).start()
    val e = intercept[Exception] {
      try fail.processAllAvailable() finally fail.stop()
    }
    assert(e.getMessage.contains("ignoreRewrites"),
      s"expected the rewrite refusal, got: ${e.getMessage}")
    // declared layout-only: the rewrite delivers nothing, appends still flow
    val ck2 = Scratch.ephemeralCheckpoint("dsv2-rewrite-spec-ok")
    val ok = spark.readStream.format("graft-snapshot").option("root", root)
      .option("ignoreRewrites", true).load()
      .writeStream.format("memory").queryName("dsv2_rw_ok")
      .option("checkpointLocation", ck2).start()
    try {
      ok.processAllAvailable()
      // v1's original files were all rewritten at v2: replaying from 0
      // delivers v1's appends only (v2 is layout-only by declaration)
      assert(spark.table("dsv2_rw_ok").count() == 500)
    } finally ok.stop()
  }

  test("maxVersionsPerTrigger drains a backlog as bounded micro-batches") {
    val root = freshRoot("throttle")
    val ck = Scratch.ephemeralCheckpoint("dsv2-throttle-spec")
    val slices = (0 to 2).map(i => orders.filter(col("o_orderkey") % 3 === i))
    Snapshots.publish(spark, root, slices(0))
    slices.tail.foreach(sl => Snapshots.publish(spark, root, sl, append = true))
    val q = spark.readStream.format("graft-snapshot").option("root", root)
      .option("maxVersionsPerTrigger", 1).load()
      .writeStream.format("memory").queryName("dsv2_throttle")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsv2_throttle").count() == orders.count(),
        "throttling must never lose data, only spread it")
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty == 3,
        s"3 versions at 1/trigger must land as 3 non-empty batches, got $nonEmpty")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains to the prepare-time version and terminates") {
    val root = freshRoot("avnow")
    val ck = Scratch.ephemeralCheckpoint("dsv2-avnow-spec")
    Snapshots.publish(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    Snapshots.publish(spark, root,
      orders.filter(col("o_orderkey") % 2 === 1), append = true)
    val q = spark.readStream.format("graft-snapshot").option("root", root).load()
      .writeStream.format("memory").queryName("dsv2_avnow")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000),
      "AvailableNow must terminate once the backlog is drained")
    assert(spark.table("dsv2_avnow").count() == orders.count())
  }

  test("change feed streams inserts/updates/deletes; compaction cancels to nothing") {
    import spark.implicits._
    val root = freshRoot("cdf")
    val ck = Scratch.ephemeralCheckpoint("dsv2-cdf-spec")
    Snapshots.publish(spark, root,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("k", "g", "x"))
    Snapshots.mergeByKey(spark, root,
      Seq((2L, "a", 40L, false), (3L, "b", 0L, true), (4L, "c", 5L, false))
        .toDF("k", "g", "x", "del"), Seq("k"), Some("del"))
    def start() = spark.readStream.format("graft-snapshot").option("root", root)
      .option("readChangeFeed", true).option("keyColumns", "k").load()
      .writeStream.format("memory").queryName("dsv2_cdf")
      .option("checkpointLocation", ck).start()
    val q = start()
    try {
      q.processAllAvailable()
      val got = spark.table("dsv2_cdf")
        .select("change", "k", "g", "x", "_commit_version")
        .as[(String, Long, String, Long, Int)].collect().toSet
      assert(got == Set(
        ("insert", 1L, "a", 10L, 1), ("insert", 2L, "a", 20L, 1),
        ("insert", 3L, "b", 30L, 1),
        ("update", 2L, "a", 40L, 2), ("delete", 3L, "b", 30L, 2),
        ("insert", 4L, "c", 5L, 2)))
      // a pure rewrite (compaction) must stream ZERO change rows
      Snapshots.compact(spark, root, targetBytes = 1L << 30)
      q.processAllAvailable()
      assert(spark.table("dsv2_cdf").count() == got.size,
        "compaction is layout-only — the change feed must stay silent")
    } finally q.stop()
  }

  test("a tailing stream with a pushed filter plans only admitted appended files") {
    val root = freshRoot("streamprune")
    def clustered(df: org.apache.spark.sql.DataFrame) =
      df.repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
    val half = orders.count() / 2
    val mid = orders.select("o_orderkey").orderBy("o_orderkey")
      .limit(half.toInt).agg(max("o_orderkey")).head.getLong(0)
    Snapshots.publish(spark, root,
      clustered(orders.filter(col("o_orderkey") <= lit(mid))))
    Snapshots.publish(spark, root,
      clustered(orders.filter(col("o_orderkey") > lit(mid))), append = true)
    val schema = Snapshots.schemaOf(spark, root, 2)
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root))
    def planned(filters: Array[org.apache.spark.sql.sources.Filter]): Seq[String] = {
      val b = new graft.sources.SnapshotScanBuilder(schema, opts)
      b.pushFilters(filters)
      val s = b.build().toMicroBatchStream("unused")
        .asInstanceOf[graft.sources.SnapshotMicroBatchStream]
      s.plannedPaths(s.deserializeOffset("""{"version":0}"""),
        s.deserializeOffset("""{"version":2}"""))
    }
    val all = planned(Array.empty)
    assert(all.size == 8, s"expected 8 clustered files, got ${all.size}")
    val lo = orders.agg(min("o_orderkey")).head.getLong(0)
    val narrow = planned(Array(
      org.apache.spark.sql.sources.EqualTo("o_orderkey", lo)))
    assert(narrow.size < all.size && narrow.nonEmpty,
      s"stream planning must stats-prune each step's additions: ${narrow.size} of ${all.size}")
    assert(narrow.toSet.subsetOf(all.toSet))
  }

  test("vacuum reclaims change-feed caches below retained history") {
    import spark.implicits._
    val root = freshRoot("cdfvac")
    val ck = Scratch.ephemeralCheckpoint("dsv2-cdfvac-spec")
    Snapshots.publish(spark, root, Seq((1L, "a")).toDF("k", "g"))
    Snapshots.publish(spark, root, Seq((2L, "b")).toDF("k", "g"), append = true)
    Snapshots.publish(spark, root, Seq((3L, "c")).toDF("k", "g"), append = true)
    val q = spark.readStream.format("graft-snapshot").option("root", root)
      .option("readChangeFeed", true).option("keyColumns", "k").load()
      .writeStream.format("memory").queryName("dsv2_cdfvac")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // cache names carry provenance (v{prev}-{w}_k{keyhash})
    def cache(prev: Int, v: Int) = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_cdf"))
      .exists(_.getPath.getName.matches(s"v$prev-${v}_k[0-9a-f]+"))
    assert(cache(0, 1) && cache(1, 2) && cache(2, 3))
    Snapshots.expire(spark, root, keepLast = 2)
    Snapshots.vacuum(spark, root, graceMs = 0L)
    assert(!cache(0, 1), "the v1 cache fell out of retained history")
    // v1→2 is unreplayable too: the expiry guard refuses a checkpoint at
    // offset 1 once v1's manifest is gone, so nothing can ever plan it
    assert(!cache(1, 2), "a cache whose baseline expired is unreplayable")
    assert(cache(2, 3), "caches with both ends surviving must survive vacuum")
  }

  test("two concurrent change-feed readers share caches without clobbering") {
    import spark.implicits._
    val root = freshRoot("cdfrace")
    Snapshots.publish(spark, root, (1L to 2000L).map(i => (i, i * 2)).toDF("k", "x"))
    Snapshots.publish(spark, root,
      (2001L to 3000L).map(i => (i, i * 2)).toDF("k", "x"), append = true)
    def start(nm: String) = spark.readStream.format("graft-snapshot")
      .option("root", root)
      .option("readChangeFeed", true).option("keyColumns", "k").load()
      .writeStream.format("memory").queryName(nm)
      .option("checkpointLocation", Scratch.ephemeralCheckpoint(s"dsv2-$nm")).start()
    // both readers race the same un-built caches: the build lock + temp/
    // rename publish must leave ONE committed copy each, never a dir one
    // stream overwrites while the other's tasks read it
    val q1 = start("cdfrace_a")
    val q2 = start("cdfrace_b")
    try {
      val t1 = new Thread(() => q1.processAllAvailable())
      val t2 = new Thread(() => q2.processAllAvailable())
      t1.start(); t2.start(); t1.join(180000); t2.join(180000)
      val a = spark.table("cdfrace_a").collect().map(_.toString).toSet
      val b = spark.table("cdfrace_b").collect().map(_.toString).toSet
      assert(a.size == 3000 && a == b, "both readers must see the identical feed")
    } finally { q1.stop(); q2.stop() }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_cdf"))
      .map(_.getPath.getName).toSeq
    assert(!dirs.exists(_.contains(".build-")),
      s"no temp build dirs may survive a clean run: $dirs")
    dirs.foreach(d => assert(
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/_cdf/$d/_SUCCESS")),
      s"every surviving cache must be committed: $d"))
  }

  test("change-feed caches are keyed by keyColumns: no cross-key reuse") {
    import spark.implicits._
    val root = freshRoot("cdfkeys")
    Snapshots.publish(spark, root, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"))
    // overwrite: under key k this is {update k=2}; under key x it is
    // {delete x=20, insert x=21, insert x=30} — reusing a diff cached
    // under the other key would be silently wrong
    Snapshots.publish(spark, root, Seq((1L, 10L), (2L, 21L), (3L, 30L)).toDF("k", "x"))
    def feed(nm: String, key: String): Set[(String, Long, Long)] = {
      val q = spark.readStream.format("graft-snapshot").option("root", root)
        .option("readChangeFeed", true).option("keyColumns", key).load()
        .writeStream.format("memory").queryName(nm)
        .option("checkpointLocation", Scratch.ephemeralCheckpoint(s"dsv2-$nm")).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(nm).select("change", "k", "x")
        .as[(String, Long, Long)].collect().toSet
    }
    val byK = feed("cdfkeys_k", "k")
    val byX = feed("cdfkeys_x", "x")
    assert(byK.contains(("update", 2L, 21L)) && !byK.exists(_._1 == "delete"),
      s"key=k must classify the overwrite as an update: $byK")
    assert(byX.contains(("delete", 2L, 20L)) && !byX.exists(_._1 == "update"),
      s"key=x must classify the overwrite as delete+insert: $byX")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v2caches = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_cdf"))
      .map(_.getPath.getName).filter(_.matches("v1-2_k[0-9a-f]+"))
    assert(v2caches.length == 2,
      s"each keyColumns choice needs its own v1→2 cache: ${v2caches.toSeq}")
  }

  test("startingVersion at the earliest surviving version works after expire") {
    import spark.implicits._
    val root = freshRoot("startexp")
    Snapshots.publish(spark, root, (1L to 100L).map(i => (i, i)).toDF("k", "x"))
    Snapshots.publish(spark, root,
      (101L to 150L).map(i => (i, i)).toDF("k", "x"), append = true)
    Snapshots.publish(spark, root,
      (151L to 200L).map(i => (i, i)).toDF("k", "x"), append = true)
    Snapshots.expire(spark, root, keepLast = 2) // survivors: v2, v3
    // baseline v1 is gone, but v2's own files hold every row through v2 —
    // the first step must degrade to a full-snapshot delivery, not refuse
    val q = spark.readStream.format("graft-snapshot").option("root", root)
      .option("startingVersion", 2).load()
      .writeStream.format("memory").queryName("startexp_ok")
      .option("checkpointLocation", Scratch.ephemeralCheckpoint("dsv2-startexp")).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("startexp_ok").count() == 200,
      "full snapshot of v2 (150 rows) plus v3's 50 appends")
    // a startingVersion whose baseline is expired and which is NOT the
    // earliest survivor must fail with a clear error at stream start
    Snapshots.expire(spark, root, keepLast = 1) // survivors: v3
    val err = intercept[Exception] {
      val bad = spark.readStream.format("graft-snapshot").option("root", root)
        .option("startingVersion", 2).load()
        .writeStream.format("memory").queryName("startexp_bad")
        .option("checkpointLocation", Scratch.ephemeralCheckpoint("dsv2-startbad")).start()
      try bad.processAllAvailable() finally bad.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(err).exists(t => Option(t.getMessage).exists(_.contains("startingVersion"))),
      s"error must name startingVersion: $err")
  }

  test("streaming sink: one version per batch, exactly-once across restart and replay") {
    val src = freshRoot("sinksrc")
    val dst = freshRoot("sinkdst")
    val ck = Scratch.ephemeralCheckpoint("dsv2-sink-spec")
    Snapshots.publish(spark, src, orders.filter(col("o_orderkey") % 2 === 0))
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot").option("root", src).load()
        .writeStream.format("graft-snapshot").option("root", dst)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow must drain and stop")
    }
    drain()
    assert(Snapshots.read(spark, dst).count() ==
      orders.filter(col("o_orderkey") % 2 === 0).count())
    val v1 = Snapshots.versions(spark, dst)
    drain() // restart with no new data: nothing republishes
    assert(Snapshots.versions(spark, dst) == v1,
      "a no-new-data restart must not publish")
    Snapshots.publish(spark, src,
      orders.filter(col("o_orderkey") % 2 === 1), append = true)
    drain()
    assert(Snapshots.read(spark, dst).count() == orders.count(),
      "the append must flow through exactly once")
    // crash-replay: re-delivering an already-committed batch id is a no-op
    val sink = new graft.sources.SnapshotStreamSink(dst, complete = false)
    val lastId = Snapshots.lastBatchId(spark, dst).get
    sink.addBatch(lastId, orders.limit(5))
    assert(Snapshots.read(spark, dst).count() == orders.count(),
      "a replayed batch id must be skipped, not re-published")
  }

  test("streaming sink: Complete mode publishes replacement versions; Update refuses") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sink-complete-src")
    srcDir.toFile.deleteOnExit()
    val dst = freshRoot("sinkcomplete")
    val ck = Scratch.ephemeralCheckpoint("dsv2-sink-complete")
    Seq(("a", 1L), ("b", 2L)).toDF("g", "x").write.mode("append").json(srcDir.toString)
    val stream = spark.readStream.schema("g STRING, x BIGINT")
      .json(srcDir.toString).groupBy("g").agg(sum("x").as("total"))
    val q = stream.writeStream.format("graft-snapshot").option("root", dst)
      .outputMode("complete").option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(Snapshots.read(spark, dst).as[(String, Long)].collect().toSet ==
        Set(("a", 1L), ("b", 2L)))
      Seq(("a", 10L)).toDF("g", "x").write.mode("append").json(srcDir.toString)
      q.processAllAvailable()
      // each batch REPLACES: the head is the full current aggregate
      assert(Snapshots.read(spark, dst).as[(String, Long)].collect().toSet ==
        Set(("a", 11L), ("b", 2L)))
      // and the previous aggregate state stays time-travelable
      val vs = Snapshots.versions(spark, dst)
      assert(vs.size >= 2)
      assert(Snapshots.read(spark, dst, Some(vs.head)).as[(String, Long)]
        .collect().toSet == Set(("a", 1L), ("b", 2L)))
    } finally q.stop()
    val e = intercept[Exception] {
      spark.readStream.schema("g STRING, x BIGINT").json(srcDir.toString)
        .groupBy("g").agg(sum("x").as("total"))
        .writeStream.format("graft-snapshot").option("root", freshRoot("sinkupd"))
        .outputMode("update")
        .option("checkpointLocation", Scratch.ephemeralCheckpoint("dsv2-sink-upd"))
        .start()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(t => Option(t.getMessage).exists(_.contains("keyColumns"))),
      s"Update mode without keyColumns must refuse with guidance: $e")
    // ...and keyColumns under Complete is a contradiction, refused too
    val e2 = intercept[Exception] {
      spark.readStream.schema("g STRING, x BIGINT").json(srcDir.toString)
        .groupBy("g").agg(sum("x").as("total"))
        .writeStream.format("graft-snapshot").option("root", freshRoot("sinkupdc"))
        .outputMode("complete").option("keyColumns", "g")
        .option("checkpointLocation", Scratch.ephemeralCheckpoint("dsv2-sink-updc"))
        .start()
    }
    assert(chain(e2).exists(t => Option(t.getMessage).exists(_.contains("Complete"))))
  }

  test("streaming sink: Update mode with keyColumns upserts a streaming aggregate") {
    import spark.implicits._
    // the canonical Update-mode shape: a running per-group aggregate
    // whose CHANGED groups re-deliver each trigger — with keyColumns the
    // sink merges them, so the table holds exactly one current row per
    // group (an Append sink would stack stale totals; Complete would
    // rewrite every group every batch)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sink-upsert-src")
    srcDir.toFile.deleteOnExit()
    val dst = freshRoot("sinkupsert")
    val ck = Scratch.ephemeralCheckpoint("dsv2-sink-upsert")
    Seq(("a", 1L), ("b", 2L)).toDF("g", "x").write.mode("append").json(srcDir.toString)
    val q = spark.readStream.schema("g STRING, x BIGINT").json(srcDir.toString)
      .groupBy("g").agg(sum("x").as("total"))
      .writeStream.format("graft-snapshot").option("root", dst)
      .outputMode("update").option("keyColumns", "g")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(Snapshots.read(spark, dst).as[(String, Long)].collect().toSet ==
        Set(("a", 1L), ("b", 2L)))
      Seq(("a", 10L)).toDF("g", "x").write.mode("append").json(srcDir.toString)
      q.processAllAvailable()
      // only group a re-delivered; the merge replaced its row, kept b's
      assert(Snapshots.read(spark, dst).as[(String, Long)].collect().toSet ==
        Set(("a", 11L), ("b", 2L)))
      // versioned: bootstrap publish + one merge, both time-travelable
      val vs = Snapshots.versions(spark, dst)
      assert(vs.size == 2)
      assert(Snapshots.read(spark, dst, Some(vs.head)).as[(String, Long)]
        .collect().toSet == Set(("a", 1L), ("b", 2L)))
      // and the CHANGE FEED replays the upsert stream's merges as
      // row-level diffs — CDC in (Update sink), CDC out (readChangeFeed):
      // batch 1 inserts both groups, batch 2 updates only group a
      val cdfCk = Scratch.ephemeralCheckpoint("dsv2-sink-upsert-cdf")
      val cdf = spark.readStream.format("graft-snapshot").option("root", dst)
        .option("readChangeFeed", true).option("keyColumns", "g").load()
        .writeStream.format("memory").queryName("upsert_cdf")
        .option("checkpointLocation", cdfCk).start()
      try {
        cdf.processAllAvailable()
        val diffs = spark.table("upsert_cdf")
          .select("change", "g", "total", "_commit_version")
          .as[(String, String, Long, Int)].collect().toSet
        assert(diffs == Set(
          ("insert", "a", 1L, 1), ("insert", "b", 2L, 1),
          ("update", "a", 11L, 2)))
      } finally cdf.stop()
    } finally q.stop()
  }

  test("metadata columns: _file/_version are per-row constants; _file filters prune exactly") {
    val root = freshRoot("metacols")
    Snapshots.publish(spark, root, orders.select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 0).repartition(3))
    Snapshots.publish(spark, root, orders.select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 1).repartition(2), append = true)
    val head = Snapshots.versions(spark, root).last
    val files = Snapshots.files(spark, root, head).map(r => s"$root/$r").toSet
    val df = readSource(root).select(col("o_orderkey"), col("_file"), col("_version"))
    val got = df.collect()
    assert(got.length == orders.count())
    assert(got.map(_.getInt(2)).toSet == Set(head), "_version is the resolved head")
    val seenFiles = got.map(_.getString(1)).toSet
    assert(seenFiles == files, s"_file must cover exactly the planned files: $seenFiles")
    // per-file row attribution is real: grouping by _file matches the
    // manifest's per-file row counts
    val perFile = readSource(root).groupBy("_file").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val manifest = Snapshots.rowCountsOf(spark, root, head)
      .map { case (r, n) => s"$root/$r" -> n }
    assert(perFile == manifest, "group-by _file must equal manifest #rows= counts")
    // a _file equality filter plans exactly that one file
    val one = files.head
    val narrow = readSource(root).filter(col("_file") === one)
    assert(plannedFiles(narrow).size == 1, "a _file point filter plans one file")
    assert(narrow.count() == manifest(one))
    // metadata-only projection works (no data columns decoded)
    assert(readSource(root).select("_file").distinct().count() == files.size)
    // a version-pinned read reports ITS version
    val v1 = spark.read.format("graft-snapshot").option("root", root)
      .option("version", 1).load().select("_version").distinct().collect()
    assert(v1.map(_.getInt(0)).toSeq == Seq(1))
    // batch-only: metadata columns never silently mis-serve in a stream
    // (the streaming planner resolves them from the relation without a
    // pruneColumns round-trip, so the query fails instead of binding
    // wrong columns — documented limitation; offsets carry the file
    // attribution for streams)
    intercept[Exception] {
      val q = spark.readStream.format("graft-snapshot").option("root", root).load()
        .select("_file").writeStream.format("memory").queryName("meta_stream")
        .option("checkpointLocation", Scratch.ephemeralCheckpoint("dsv2-metastream"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  test("micro-batch planning is O(new data): planned paths == appended-file set") {
    val root = freshRoot("planident")
    // three appends, each landing its own files
    Snapshots.publish(spark, root, orders.filter(col("o_orderkey") % 3 === 0))
    Snapshots.publish(spark, root,
      orders.filter(col("o_orderkey") % 3 === 1), append = true)
    Snapshots.publish(spark, root,
      orders.filter(col("o_orderkey") % 3 === 2), append = true)
    def filesAt(v: Int): Set[String] =
      Snapshots.files(spark, root, v).map(r => s"$root/$r").toSet
    val schema = Snapshots.schemaOf(spark, root, 3)
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", root))
    val s = new graft.sources.SnapshotScanBuilder(schema, opts)
      .build().toMicroBatchStream("unused")
      .asInstanceOf[graft.sources.SnapshotMicroBatchStream]
    def off(v: Int) = s.deserializeOffset(s"""{"version":$v}""")
    // the structural O(new data) guarantee: each version step plans
    // EXACTLY the files that step appended — not the current snapshot
    assert(s.plannedPaths(off(0), off(1)).toSet == filesAt(1))
    assert(s.plannedPaths(off(1), off(2)).toSet == filesAt(2) -- filesAt(1))
    assert(s.plannedPaths(off(2), off(3)).toSet == filesAt(3) -- filesAt(2))
    // a multi-version catch-up batch is the union of its steps
    assert(s.plannedPaths(off(0), off(3)).toSet == filesAt(3))
    // and the partition planner packs exactly those paths, nothing else
    def normalize(urlEncoded: String): String =
      new java.net.URI(java.net.URLDecoder.decode(urlEncoded, "UTF-8")).getPath
    val packed = s.planInputPartitions(off(1), off(2)).flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(f => normalize(f.urlEncodedPath))
      case other => fail(s"unexpected partition shape: $other")
    }.toSet
    assert(packed == (filesAt(2) -- filesAt(1)),
      s"planInputPartitions must pack the appended files only: $packed")
  }

  test("startingVersion=latest tails only future appends") {
    val root = freshRoot("tail")
    val ck = Scratch.ephemeralCheckpoint("dsv2-tail-spec")
    Snapshots.publish(spark, root, orders.filter(col("o_orderkey") % 2 === 0))
    val fresh = orders.filter(col("o_orderkey") % 2 === 1)
    val q = spark.readStream.format("graft-snapshot").option("root", root)
      .option("startingVersion", "latest").load()
      .writeStream.format("memory").queryName("dsv2_tail")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsv2_tail").count() == 0)
      Snapshots.publish(spark, root, fresh, append = true)
      q.processAllAvailable()
      assert(spark.table("dsv2_tail").count() == fresh.count())
    } finally q.stop()
  }

  test("top-N pushdown: ORDER BY LIMIT over a range-clustered table prunes files") {
    val root = freshRoot("topn")
    Snapshots.publish(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
    val total = Snapshots.files(spark, root, 1).size
    assert(total == 8)
    def expectKeys(df: DataFrame) = df.collect().map(_.getAs[Long]("o_orderkey")).toSeq

    val asc = readSource(root).orderBy(col("o_orderkey")).limit(5)
    assert(plannedFiles(asc).size < total,
      s"ASC top-N must prune, planned ${plannedFiles(asc).size}/$total")
    assert(expectKeys(asc) ==
      orders.orderBy(col("o_orderkey")).limit(5).collect()
        .map(_.getAs[Long]("o_orderkey")).toSeq)

    val desc = readSource(root).orderBy(col("o_orderkey").desc).limit(3)
    assert(plannedFiles(desc).size < total, "DESC top-N must prune")
    assert(expectKeys(desc) ==
      orders.orderBy(col("o_orderkey").desc).limit(3).collect()
        .map(_.getAs[Long]("o_orderkey")).toSeq)

    // a filter voids the prune (the covering-prefix argument needs every
    // row); results still exact
    val filtered = readSource(root).filter(col("o_orderkey") % 2 === 0)
      .orderBy(col("o_orderkey")).limit(5)
    assert(expectKeys(filtered) ==
      orders.filter(col("o_orderkey") % 2 === 0).orderBy(col("o_orderkey"))
        .limit(5).collect().map(_.getAs[Long]("o_orderkey")).toSeq)
  }

  test("top-N pushdown keeps every null-carrying file") {
    val root = freshRoot("topn-nulls")
    // band 0 holds ONLY nulls for the sort key; bands 1..3 are ranged
    val df = orders.withColumn("maybe_key",
      when(col("o_orderkey") % 4 === 0, lit(null).cast("long"))
        .otherwise(col("o_orderkey")))
    Snapshots.publish(spark, root,
      df.repartitionByRange(4, col("maybe_key")).sortWithinPartitions("maybe_key"))
    val got = readSource(root).orderBy(col("maybe_key")).limit(7).collect()
      .map(r => Option(r.getAs[java.lang.Long]("maybe_key")).map(_.toLong)).toSeq
    val expect = df.orderBy(col("maybe_key")).limit(7).collect()
      .map(r => Option(r.getAs[java.lang.Long]("maybe_key")).map(_.toLong)).toSeq
    // default ASC = NULLS FIRST: the top rows are the null band — they
    // must survive the prune
    assert(got == expect)
    assert(got.head.isEmpty, "expected nulls first")
  }
}
