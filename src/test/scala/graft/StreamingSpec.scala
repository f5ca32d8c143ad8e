package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Stream-equals-batch parity: the streaming operators must produce the
  * same results as their oracle-checked batch forms when fed the whole
  * fixture as one file-source stream (memory sink, processAllAvailable).
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestEnv._

  // the file stream source requires a directory — stage the fixture file
  private lazy val eventsPath: String = {
    val dir = Files.createTempDirectory("graft-stream-events")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private def runToTable(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
  }

  test("streaming hourly counts equal the oracle-checked batch q24") {
    runToTable(EventStreams.hourlyCounts(EventStreams.readEvents(spark, eventsPath)),
      "hourly", mode = "complete")
    val stream = spark.table("hourly").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), math.round(r.getDouble(3) * 1e6)))
      .toSet
    val batch = SparkEntry.queries("q24_events_hourly")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), math.round(r.getDouble(3) * 1e6)))
      .toSet
    assert(stream == batch)
  }

  test("streaming session counts match batch sessionization totals") {
    runToTable(EventStreams.sessionCounts(EventStreams.readEvents(spark, eventsPath)),
      "sessions", mode = "complete")
    val stream = spark.table("sessions")
    val batch = SparkEntry.queries("q25_sessionize")(spark, sf)
    // same number of sessions and same total events per user
    assert(stream.count() == batch.count())
    val s = stream.groupBy("user_id").agg(sum("n_events").as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = batch.groupBy("user_id").agg(sum("n_events").as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s == b)
  }

  test("streaming content dedup: state survives a checkpointed restart across arrivals") {
    import graft.streaming.DocStreams
    val base = Files.createTempDirectory("graft-stream-dedup").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .filter(col("text").isNotNull)
    // first arrival: half the corpus
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def drain(): Unit = {
      val q = DocStreams.contentDedup(DocStreams.readDocuments(spark, src, schema))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val firstHashes = spark.read.parquet(out).count()
    // second arrival OVERLAPS the first (odd docs plus a re-send of the
    // even docs): the checkpointed seen-hash state must drop every
    // re-sent duplicate across the restart, not just within a batch
    docs.coalesce(1).write.mode("append").parquet(src)
    drain()
    val result = spark.read.parquet(out)
    val expected = docs.select(md5(col("text")).as("h")).distinct().count()
    assert(firstHashes > 0 && firstHashes < expected, "fixture lacks cross-arrival overlap")
    assert(result.count() == expected,
      s"streamed dedup kept ${result.count()} hashes, expected $expected")
    assert(result.select("content_hash").distinct().count() == expected,
      "duplicate hash escaped the cross-restart state")
  }

  test("rate source drives the windowed-agg path: no rows lost or duplicated") {
    // non-file source coverage: the same windowed-aggregation machinery fed
    // by Spark's rate source. The source emits values 0..N-1 exactly once,
    // so after any number of micro-batches sum(value) == N(N-1)/2 — a
    // loss/duplication invariant that holds across batch boundaries.
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    val agg = rate.withColumn("etype", (col("value") % 3).cast("string"))
      .groupBy(window(col("timestamp"), "1 second"), col("etype"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("rate_agg").start()
    var tries = 0
    while (spark.table("rate_agg").isEmpty && tries < 100) {
      Thread.sleep(100); q.processAllAvailable(); tries += 1
    }
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rate_agg").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getLong(2)).sum
    val sumv = rows.map(_.getLong(3)).sum
    assert(total > 0)
    assert(sumv == total * (total - 1) / 2,
      s"expected contiguous 0..${total - 1}, got sum $sumv")
  }

  test("readEvents refuses to guess the ts layout of an empty path") {
    val empty = Files.createTempDirectory("graft-stream-empty")
    val e = intercept[IllegalArgumentException] {
      EventStreams.readEvents(spark, empty.toString)
    }
    assert(e.getMessage.contains("layout"),
      s"empty-probe failure must point at the layout option: ${e.getMessage}")
    // explicit layout skips the probe entirely — streams can start ahead
    // of their first file without risking a mis-typed ts column
    assert(EventStreams.readEvents(spark, empty.toString, Some("micros"))
      .schema("ts").dataType.typeName == "timestamp")
    assert(EventStreams.readEvents(spark, empty.toString, Some("nanos"))
      .schema("ts").dataType.typeName == "timestamp")
  }

  test("stateful dedup drops re-delivered events") {
    // simulate at-least-once delivery: the same file arrives twice
    val dir = Files.createTempDirectory("graft-stream-dup")
    val srcFile = Paths.get(s"$sf/events.parquet")
    Files.copy(srcFile, dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(srcFile, dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runToTable(EventStreams.dedupEvents(EventStreams.readEvents(spark, dir.toString)), "deduped")
    val n = spark.table("deduped").count()
    val distinct = Tables.load(spark, sf, "events").count()
    assert(n == distinct, s"expected $distinct deduped events, got $n")
  }

  test("flatMapGroupsWithState running totals equal batch totals") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    runToTable(EventStreams.runningUserTotals(
      EventStreams.readEvents(spark, eventsPath),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout).toDF(), "usertotals")
    // single input batch → one emitted row per user holding full totals
    val stream = spark.table("usertotals").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    val batch = Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum("value").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6))).toSet
    assert(stream == batch)
  }

  test("stream-static join enriches events with a broadcast dimension") {
    val dim = Tables.load(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("user_total_events"))
    runToTable(EventStreams.enriched(
      EventStreams.readEvents(spark, eventsPath), dim), "enriched")
    val out = spark.table("enriched")
    assert(out.count() == Tables.load(spark, sf, "events").count())
    assert(out.filter(col("user_total_events").isNull).count() == 0)
  }

  test("stream-stream time-bounded join equals the batch self-join") {
    runToTable(EventStreams.correlated(
      EventStreams.readEvents(spark, eventsPath),
      EventStreams.readEvents(spark, eventsPath)), "correlated")
    val got = spark.table("correlated").select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.load(spark, sf, "events")
    val l = ev.select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
    val r = ev.select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts").as("r_ts"))
    val want = l.join(r,
        col("user_id") === col("r_user") && col("l_id") =!= col("r_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("stream-stream join drops events beyond the watermark on both sides") {
    // pins the state-eviction claim on `correlated`: with both sides
    // watermarked and the join time-bounded, an event arriving AFTER the
    // watermark passed its timestamp is dropped — its would-be pair never
    // appears, even though the batch self-join over the same data has it
    import spark.implicits._
    val in = Files.createTempDirectory("graft-stream-late")
    val baseNs = 1704067200L * 1000000000L // 2024-01-01T00:00Z
    def file(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val st = Files.createTempDirectory("graft-stream-late-stage").resolve("out")
      rows.map { case (id, min, user, typ) =>
        (id, baseNs + min * 60L * 1000000000L, user, typ, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(st.toString)
      val part = new java.io.File(st.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      Files.move(part.toPath, in.resolve(name + ".parquet"))
    }
    // batch A: an on-time pair for user 1 (5 min apart, within the 30-min
    // join bound) plus a lone event at +10 h that pushes the watermark to
    // +8 h (10 h − 2 h delay) once the batch commits
    file("a", Seq((1L, 0L, 1L, "click"), (2L, 5L, 1L, "view"), (3L, 600L, 99L, "click")))
    val q = EventStreams.correlated(
        EventStreams.readEvents(spark, in.toString),
        EventStreams.readEvents(spark, in.toString))
      .writeStream.outputMode("append").format("memory").queryName("late_join").start()
    q.processAllAvailable() // watermark now at +8 h
    // batch B: a user-2 pair timestamped near +1 min — hours BEHIND the
    // watermark on both sides; state for that region is evicted, the rows
    // are dropped, the pair must never materialize
    file("b", Seq((4L, 1L, 2L, "click"), (5L, 2L, 2L, "view")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("late_join").select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"late pair must be dropped, got $got")
    // the same data through the BATCH self-join contains the late pair —
    // proving the absence above is watermark eviction, not join semantics
    val ev = spark.read.schema(EventStreams.rawSchema).parquet(in.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val l = ev.select(col("event_id").as("l_id"), col("user_id"), col("ts").as("l_ts"))
    val r = ev.select(col("event_id").as("r_id"), col("user_id").as("r_user"), col("ts").as("r_ts"))
    val batch = l.join(r,
        col("user_id") === col("r_user") && col("l_id") =!= col("r_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes"))
      .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(batch == Set((1L, 2L), (4L, 5L)))
  }

  test("quality metrics ride a streaming ingest per micro-batch") {
    import spark.implicits._
    import graft.operators.Quality
    val in = Files.createTempDirectory("graft-stream-quality").resolve("in")
    Files.createDirectories(in)
    (0L until 200L).map(i => (i, if (i % 4 == 0) null else s"v$i"))
      .toDF("id", "payload").coalesce(1).write.mode("append").parquet(in.toString)
    val checks = Seq(Quality.Check.notNull(col("payload"), "payload_not_null"))
    val stream = spark.readStream
      .schema("id LONG, payload STRING").parquet(in.toString)
    val q = Quality.observedStream(stream, checks)
      .writeStream.format("memory").queryName("quality_stream").start()
    q.processAllAvailable()
    // 50 of 200 rows violate; the count surfaces in observedMetrics
    // without any extra scan or state
    val counts = q.recentProgress.toSeq
      .flatMap(p => Quality.fromProgress(p, checks))
    q.stop()
    assert(counts.map(_("payload_not_null")).sum == 50, counts.mkString(","))
    assert(spark.table("quality_stream").count() == 200)
  }

  test("curation gates run per micro-batch and equal the batch decisions") {
    import graft.operators.FilterPipeline
    // every FilterPipeline signal is document-local, so the decisions are
    // batch-split-invariant: stream the corpus in two files, decide per
    // micro-batch, and the union must equal one batch pass
    val docs = Tables.load(spark, sf, "documents")
    val in = Files.createTempDirectory("graft-stream-curation").resolve("in")
    Files.createDirectories(in)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(in.toString)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(in.toString)
    val got = scala.collection.mutable.Map[Long, String]()
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in.toString)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += 1
        FilterPipeline.decide(b).collect().foreach(r =>
          got(r.getLong(0)) = r.getString(r.fieldIndex("reason")))
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected at least 2 micro-batches, saw $batches")
    val want = FilterPipeline.decide(docs).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("reason"))).toMap
    assert(got.toMap == want)
  }

  test("checkpoint restart recovers state: stop mid-stream, append, resume, equal batch") {
    // the streaming analogue of the reference's idempotent re-run
    // semantics (TransTablePartition.java:126-131): a query killed and
    // restarted from its checkpoint must neither lose nor double-count —
    // the resumed query restores aggregation state and processes ONLY the
    // files that arrived after the stop
    val root = Files.createTempDirectory("graft-stream-ckpt")
    val in = root.resolve("in"); Files.createDirectories(in)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    // split the fixture into two arrivals, preserving the raw long-nanos ts
    // (staged as single part files moved flat into the watched dir — the
    // file source does not recurse into subdirectories)
    val raw = spark.read.parquet(s"$sf/events.parquet")
    def arrive(cond: org.apache.spark.sql.Column, name: String): Unit = {
      val st = root.resolve("stage-" + name)
      raw.filter(cond).coalesce(1).write.parquet(st.toString)
      val part = new java.io.File(st.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      Files.move(part.toPath, in.resolve(name + ".parquet"))
    }
    arrive(col("event_id") % 2 === 0, "a")

    def start() = EventStreams.hourlyCounts(EventStreams.readEvents(spark, in.toString))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("overwrite").parquet(out)
        (): Unit
      }
      .start()

    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val afterHalf = spark.read.parquet(out).agg(sum("n_events")).collect()(0).getLong(0)
    // second half arrives while the query is DOWN
    arrive(col("event_id") % 2 === 1, "b")
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val stream = spark.read.parquet(out).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), math.round(r.getDouble(3) * 1e6)))
      .toSet
    val batch = SparkEntry.queries("q24_events_hourly")(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), math.round(r.getDouble(3) * 1e6)))
      .toSet
    assert(afterHalf < raw.count(), "first run already saw everything — split failed")
    assert(stream == batch)
  }

  test("foreachBatch alerting fires on high-value events") {
    val alerts = new graft.operators.Alerter.Collecting
    val q = EventStreams.alertHighValue(EventStreams.readEvents(spark, eventsPath), 0.0, alerts).start()
    q.processAllAvailable(); q.stop()
    assert(alerts.all.nonEmpty && alerts.all.head._1 == "events.high_value")
  }

  test("streamIncremental: drains to the batch layout, picks up only NEW files on re-run") {
    import graft.operators.Migrate
    val base = Files.createTempDirectory("graft-stream-migrate").toString
    val src = s"$base/src"; val dest = s"$base/dest"; val ckpt = s"$base/ckpt"
    val raw = Tables.load(spark, sf, "events")
    // first arrival: half the events as one file batch
    raw.filter(col("event_id") % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    val q1 = Migrate.streamIncremental(spark, src, dest, "ts", ckpt)
    q1.awaitTermination(); // AvailableNow stops by itself after draining
    val half = spark.read.parquet(dest)
    val halfCount = half.count()
    assert(halfCount == raw.filter(col("event_id") % 2 === 0).count())
    assert(half.columns.contains("par_key"), "destination missing the hive partition key")

    // second arrival while no query runs; re-running with the SAME
    // checkpoint must read only the new files (the cron re-run shape) and
    // never duplicate the first batch
    raw.filter(col("event_id") % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    val q2 = Migrate.streamIncremental(spark, src, dest, "ts", ckpt)
    q2.awaitTermination()
    val all = spark.read.parquet(dest)
    assert(all.count() == raw.count(), s"got ${all.count()} of ${raw.count()} rows")
    assert(all.select("event_id").distinct().count() == raw.count(),
      "duplicate event_ids: the checkpoint failed to dedup source files")
    // layout equals the batch path's: same per-day partition values
    val streamed = all.groupBy("par_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchDest = s"$base/batch"
    Migrate.migrateAll(spark, src, batchDest, "ts")
    val batch = spark.read.parquet(batchDest).groupBy("par_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, "streaming layout diverged from batch migrate")

    // ORPHAN SWEEP: a data file on disk but missing from _spark_metadata
    // (a crashed micro-batch's leftovers) is invisible to log-honoring
    // readers but holds bytes — the sweep must find exactly it
    import graft.operators.FileManifest
    assert(FileManifest.streamingSinkOrphans(spark, dest).count() == 0,
      "clean sink reported orphans")
    val leaf = Files.walk(Paths.get(dest)).iterator().asScala
      .find { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.get
    val planted = leaf.getParent.resolve("part-99999-deadbeef.c000.snappy.parquet")
    Files.copy(leaf, planted, StandardCopyOption.REPLACE_EXISTING)
    val orphans = FileManifest.streamingSinkOrphans(spark, dest).collect()
    assert(orphans.length == 1 &&
      orphans.head.getString(0).endsWith("part-99999-deadbeef.c000.snappy.parquet"),
      s"orphans: ${orphans.map(_.getString(0)).toSeq}")
    // and the committed row count is unchanged: Spark reads honor the log
    assert(spark.read.parquet(dest).count() == raw.count(),
      "planted orphan leaked into a log-honoring read")

    // LATE-ARRIVING OLD-MTIME backfill (distcp -p preserves source
    // mtimes): the file source's default maxFileAge=7d silently skips a
    // new file whose mtime is >7d behind the newest seen —
    // streamIncremental must pin maxFileAge to effectively-infinite so
    // the documented "new files are picked up on the next trigger"
    // guarantee holds for backfills too
    val backfill = s"$base/backfill"
    raw.limit(5).withColumn("event_id", -col("event_id") - 1)
      .coalesce(1).write.mode("overwrite").parquet(backfill)
    val backFile = Files.walk(Paths.get(backfill)).iterator().asScala
      .find { f =>
        val n = f.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.get
    val landed = Paths.get(src).resolve("backfill-" + backFile.getFileName.toString)
    Files.move(backFile, landed)
    Files.setLastModifiedTime(landed, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 30L * 24 * 3600 * 1000))
    val q3 = Migrate.streamIncremental(spark, src, dest, "ts", ckpt)
    q3.awaitTermination()
    assert(spark.read.parquet(dest).count() == raw.count() + 5,
      "old-mtime backfill file was silently skipped (maxFileAge default)")
  }

  test("keyed sink bootstrap refuses a duplicate-key first batch") {
    // the first batch of an Update-mode keyed stream bootstraps as a
    // plain publish (no base to merge into) — but it still owes MERGE's
    // intra-delta uniqueness: two rows for one key in batch 0 must fail
    // loudly, never land as silent duplicate keys that every later
    // mergeByKey batch carries forward
    import spark.implicits._
    import graft.operators.Snapshots
    val base = java.nio.file.Files.createTempDirectory("graft-bootdup").toString
    val (src, dst) = (s"$base/src", s"$base/dst")
    Snapshots.publish(spark, src,
      Seq((1L, 10.0), (1L, 11.0), (2L, 20.0)).toDF("k", "x"))
    val ck = Scratch.ephemeralCheckpoint("bootdup")
    val q = spark.readStream.format("graft-snapshot").option("root", src).load()
      .writeStream.format("graft-snapshot").option("root", dst)
      .outputMode("update").option("keyColumns", "k")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(300000)
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("multiple rows for key"))),
      s"bootstrap dup-key must refuse with the mergeByKey message: $e")
    assert(Snapshots.versions(spark, dst).isEmpty,
      "a refused bootstrap batch must publish nothing")
  }

  test("incremental near-dup probe is storage-partitioned: one exchange, batch side only") {
    // the scale contract of the streaming near-dup state: the accumulated
    // band table is key-clustered on the digest bucket, so the per-batch
    // probe plans as the q172 one-side storage-partitioned join — the
    // state side scans in place (ZERO exchanges at any accumulated size),
    // only the batch's band rows shuffle, into the state's key groups
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-incdup-spj").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    DocStreams.incrementalNearDup(seen, pairs)(
      df(1L -> "alpha beta gamma delta epsilon",
         2L -> "alpha beta gamma delta epsilon"), 0L)
    DocStreams.incrementalNearDup(seen, pairs)(
      df(3L -> "alpha beta gamma delta zeta",
         4L -> "totally unrelated content here now"), 1L)
    val bandRoot = DocStreams.bandRootOf(seen)
    assert(Snapshots.clusterOf(spark, bandRoot,
      Snapshots.versions(spark, bandRoot).last).contains("bucket"),
      "band state must publish key-clustered on the digest bucket")
    assert(Snapshots.clusterOf(spark, seen,
      Snapshots.versions(spark, seen).last).contains("id_bucket"),
      "seen state must publish key-clustered on the id bucket")
    // a third batch's probe, pinned deterministic (no broadcast escape)
    val s2 = org.apache.spark.sql.graftbridge.SessionBridge.cloneWithConf(spark, Map(
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    // materialize the batch's band rows first, so the plan under count
    // isolates the PROBE (building the rows has its own prep shuffles)
    val freshComputed = MinHashDedup.bandRows(
        MinHashDedup.prepared(df(5L -> "alpha beta gamma delta epsilon"),
          "doc_id", "text"))
      .withColumn("bucket", pmod(xxhash64(col("band"), col("bh")), lit(64L)).cast("int"))
    val fresh = org.apache.spark.sql.graftbridge.SessionBridge.rebind(
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(freshComputed.collect(): _*)),
        freshComputed.schema), s2)
    val probe = DocStreams.probeJoin(s2, bandRoot, fresh)
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(PlanOps.shuffleCount(probe) == 1,
      s"probe must shuffle ONLY the batch side:\n${probe.queryExecution.executedPlan}")
    assert(probe.queryExecution.executedPlan.toString.contains("keygroupedpartitioning"),
      s"the single exchange must target the state's key groups:\n${probe.queryExecution.executedPlan}")
    // row equality: the SPJ probe equals a plain re-banded recompute
    val expected = MinHashDedup.bandRows(Snapshots.read(spark, seen)).as("l")
      .join(MinHashDedup.bandRows(
          MinHashDedup.prepared(df(5L -> "alpha beta gamma delta epsilon"),
            "doc_id", "text")).as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh"))
      .select(col("l.doc_id"), col("r.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty, s"probe rows: $got vs $expected")
  }

  test("incremental near-dup: pre-bands state refused until rebucket, then pairs") {
    // a seen state from a deployment older than the count header and the
    // clustered band table: ingest refuses it naming the upgrade, and the
    // upgraded state must still find pairs against the old docs (silently
    // finding none would be the worst failure mode of the layout change)
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-incdup-legacy").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    // old layout: prepared rows published UNclustered, no header, no bands
    val old = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "totally unrelated content here now")).toDF("doc_id", "text")
    Snapshots.publish(spark, seen,
      MinHashDedup.prepared(old, "doc_id", "text"))
    Snapshots.publish(spark, pairs,
      old.select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        lit(1.0).as("jac")).limit(0))
    val batch = Seq((3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val e = intercept[IllegalStateException](
      DocStreams.incrementalNearDup(seen, pairs)(batch, 0L))
    assert(e.getMessage.contains("DocStreams.rebucket"), e.getMessage)
    assert(Snapshots.versions(spark, pairs) == Seq(1), "a refused batch publishes nothing")
    DocStreams.rebucket(spark, seen, pairs, 64)
    val bandRoot = DocStreams.bandRootOf(seen)
    assert(Snapshots.versions(spark, bandRoot).nonEmpty,
      "the upgrade must backfill the band state")
    DocStreams.incrementalNearDup(seen, pairs)(batch, 0L)
    val got = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 3L)), s"cross pair against the old docs must be found: $got")
    // the backfilled band table covers old AND batch docs
    assert(Snapshots.read(spark, bandRoot).select("doc_id").distinct().count() == 3)
  }

  test("incremental near-dup: restart continues, replayed batches append nothing") {
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    val base = java.nio.file.Files.createTempDirectory("graft-incdup").toString
    val (src2, seen, pairs) = (s"$base/src", s"$base/seen", s"$base/pairs")
    def doc(id: Long, text: String) = (id, text)
    // b1: two dups of each other; b2: a dup of a b1 doc (cross-batch) +
    // a singleton; b3 (post-restart): another cross-batch dup
    val b1 = Seq(doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val b2 = Seq(doc(3, "alpha beta gamma delta zeta"),
      doc(4, "totally unrelated content here now")).toDF("doc_id", "text")
    val b3 = Seq(doc(5, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    Snapshots.publish(spark, src2, b1)
    Snapshots.publish(spark, src2, b2, append = true)
    val ck = Scratch.ephemeralCheckpoint("incdup-restart")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshot").option("root", src2)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.foreachBatch(
          graft.streaming.DocStreams.incrementalNearDup(seen, pairs) _)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), "drain timed out")
    }
    drain()
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedAfter2 = MinHashDedup.verifiedPairs(b1.unionByName(b2), "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expectedAfter2 && pairSet.contains((1L, 3L)),
      s"cross-batch pair must be found: $pairSet")
    val versionsAfter = (Snapshots.versions(spark, pairs), Snapshots.versions(spark, seen))
    // restart with no new data: nothing re-appends
    drain()
    assert((Snapshots.versions(spark, pairs), Snapshots.versions(spark, seen))
      == versionsAfter, "a no-new-data restart must append nothing")
    assert(pairSet == expectedAfter2)
    // a direct batch-id REPLAY (the crash-redelivery shape) is a no-op too
    graft.streaming.DocStreams.incrementalNearDup(seen, pairs)(
      Snapshots.read(spark, src2, Some(2)).limit(0), 1L)
    assert((Snapshots.versions(spark, pairs), Snapshots.versions(spark, seen))
      == versionsAfter, "a replayed batch id must publish nothing")
    // new data after restart: the stream continues from the checkpoint
    Snapshots.publish(spark, src2, b3, append = true)
    drain()
    val all = b1.unionByName(b2).unionByName(b3)
    val expectedAll = MinHashDedup.verifiedPairs(all, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expectedAll && pairSet.exists(_._2 == 5L),
      s"post-restart cross-batch pairs must land: $pairSet vs $expectedAll")
  }

  test("incremental near-dup: periodic compaction folds state files, replay protection survives") {
    // continuous ingest leaves O(triggers) files per bucket without
    // maintenance; compactEvery folds them back to one file per bucket
    // WITHOUT breaking exactly-once (compaction versions carry no batch
    // header, and lastBatchId skips headerless versions)
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-incdup-compact").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    val bandRoot = DocStreams.bandRootOf(seen)
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val batches = Seq(
      df(1L -> "alpha beta gamma delta epsilon", 2L -> "alpha beta gamma delta epsilon"),
      df(3L -> "alpha beta gamma delta zeta"),
      df(4L -> "totally unrelated content here now"),
      df(5L -> "alpha beta gamma delta epsilon"))
    batches.zipWithIndex.foreach { case (b, i) =>
      DocStreams.incrementalNearDup(seen, pairs, buckets = 4, compactEvery = 2)(b, i.toLong)
    }
    // four batches, compaction after batch 1 and batch 3: the head
    // version of each state table is a fold, not a 4-high append stack
    def headFiles(root: String) =
      Snapshots.files(spark, root, Snapshots.versions(spark, root).last).size
    val seenDocs = Snapshots.read(spark, seen).select("doc_id").as[Long].collect().toSet
    assert(seenDocs == Set(1L, 2L, 3L, 4L, 5L), s"compaction must preserve state: $seenDocs")
    assert(headFiles(seen) <= 4 && headFiles(bandRoot) <= 4,
      s"folded clustered state must hold at most one file per bucket " +
        s"(seen=${headFiles(seen)}, bands=${headFiles(bandRoot)})")
    // pairs content unchanged by its compaction
    val expected = MinHashDedup.verifiedPairs(
        batches.reduce(_ unionByName _), "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expected, s"$pairSet vs $expected")
    // replay protection reads THROUGH the headerless compaction versions:
    // re-delivering the last batch (and an older one) is a no-op
    val before = (Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot))
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4, compactEvery = 2)(
      batches.last, 3L)
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4, compactEvery = 2)(
      batches.head, 0L)
    assert((Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot)) == before,
      "replayed batch ids must publish nothing after compaction")
    assert(pairSet == expected)
    // the next REAL batch keeps working against folded state
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4, compactEvery = 2)(
      df(6L -> "alpha beta gamma delta zeta"), 4L)
    assert(pairSet.contains((3L, 6L)), s"post-compaction pairing must work: $pairSet")
  }

  test("incremental near-dup bucket count is a state-set contract: mismatch refuses loudly") {
    import spark.implicits._
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-incdup-bkts").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    DocStreams.incrementalNearDup(seen, pairs, buckets = 8)(
      df(1L -> "alpha beta gamma delta epsilon"), 0L)
    // a different count would bake mismatched bucket values into the
    // state and silently drop cross-batch collisions — must refuse
    val e = intercept[IllegalArgumentException] {
      DocStreams.incrementalNearDup(seen, pairs, buckets = 16)(
        df(2L -> "alpha beta gamma delta zeta"), 1L)
    }
    assert(e.getMessage.contains("buckets=8") && e.getMessage.contains("buckets=16"),
      s"refusal must name both counts: ${e.getMessage}")
    // the matching count keeps working, across replays and new batches
    DocStreams.incrementalNearDup(seen, pairs, buckets = 8)(
      df(2L -> "alpha beta gamma delta epsilon"), 1L)
    val got = graft.operators.Snapshots.read(spark, pairs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"post-contract batches must still pair: $got")
  }

  test("upsertNearDup: updates retract stale pairs/bands and the state equals the final-text recompute") {
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-upsdup").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    val bandRoot = DocStreams.bandRootOf(seen)
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "totally different content lives here now"
    val tB2 = "totally different content lives here too"   // ~ tB
    // batch 0: 1 ~ 2 (pair), 3 distinct
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
      df(1L -> tA, 2L -> tA, 3L -> tB), 0L)
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L)))
    // batch 1: doc 2 UPDATES away from 1 and toward 3; doc 4 inserts ~ 1
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
      df(2L -> tB2, 4L -> tA), 1L)
    val expected = MinHashDedup.verifiedPairs(
        df(1L -> tA, 2L -> tB2, 3L -> tB, 4L -> tA), "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.contains((2L, 3L)) && !expected.contains((1L, 2L)),
      s"fixture must exercise retraction+new pairing: $expected")
    assert(pairSet == expected, s"$pairSet vs $expected")
    // seen holds ONE latest row per id; bands hold no stale rows
    val seenRows = Snapshots.read(spark, seen)
    assert(seenRows.count() == 4 &&
      seenRows.select("doc_id").distinct().count() == 4)
    val bandCount = Snapshots.read(spark, bandRoot).count()
    val perDoc = MinHashDedup.bandRows(
      MinHashDedup.prepared(df(1L -> tA), "doc_id", "text")).count()
    assert(bandCount == 4 * perDoc,
      s"stale band rows must retract: $bandCount vs ${4 * perDoc}")
    // replay of the last batch publishes nothing anywhere
    val before = (Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot))
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(df(2L -> tB2, 4L -> tA), 1L)
    assert((Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot)) == before)
    // an update that KEEPS a pair re-asserts it (never drops it)
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
      df(4L -> "alpha beta gamma delta epsilon eta"), 2L)
    assert(pairSet.contains((1L, 4L)), s"surviving pair must persist: $pairSet")
    // contract refusals: intra-batch dup id; mismatched bucket count
    val eDup = intercept[IllegalArgumentException](
      DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
        df(9L -> tA, 9L -> tB), 3L))
    assert(eDup.getMessage.contains("more than once"), eDup.getMessage)
    val eBkt = intercept[IllegalArgumentException](
      DocStreams.upsertNearDup(seen, pairs, buckets = 8)(df(10L -> tA), 3L))
    assert(eBkt.getMessage.contains("buckets=4"), eBkt.getMessage)
  }

  test("deleteNearDup: takedowns retract seen/bands/pairs; state equals the surviving-corpus recompute") {
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-deldup").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    val bandRoot = DocStreams.bandRootOf(seen)
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "totally different content lives here now"
    // batch 0 (insert): 1 ~ 2 ~ 4 clique, 3 distinct
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
      df(1L -> tA, 2L -> tA, 3L -> tB, 4L -> tA), 0L)
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // batch 1 (takedown): doc 2 removed; a never-seen id is a no-op
    DocStreams.deleteNearDup(seen, pairs, buckets = 4)(
      Seq(2L, 99L).toDF("doc_id"), 1L)
    assert(pairSet == Set((1L, 4L)),
      s"every pair anchored on the taken-down doc must retract: $pairSet")
    val seenIds = Snapshots.read(spark, seen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(seenIds == Set(1L, 3L, 4L), s"seen row must retract: $seenIds")
    val perDoc = MinHashDedup.bandRows(
      MinHashDedup.prepared(df(1L -> tA), "doc_id", "text")).count()
    assert(Snapshots.read(spark, bandRoot).count() == 3 * perDoc,
      "the taken-down doc's band rows must retract wholesale")
    // accumulated pairs EQUAL the batch recompute over the SURVIVORS
    val expected = MinHashDedup.verifiedPairs(
        df(1L -> tA, 3L -> tB, 4L -> tA), "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expected, s"$pairSet vs $expected")
    // replay of the delete batch publishes nothing anywhere
    val before = (Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot))
    DocStreams.deleteNearDup(seen, pairs, buckets = 4)(
      Seq(2L, 99L).toDF("doc_id"), 1L)
    assert((Snapshots.versions(spark, seen), Snapshots.versions(spark, pairs),
      Snapshots.versions(spark, bandRoot)) == before)
    // a MIXED batch via tombstoneCol: doc 4 deletes, doc 5 inserts ~ 1,
    // in ONE trigger — the fresh doc must not pair against the takedown
    DocStreams.upsertNearDup(seen, pairs, buckets = 4,
      tombstoneCol = Some("__del"))(
      Seq((4L, null.asInstanceOf[String], true), (5L, tA, false))
        .toDF("doc_id", "text", "__del"), 2L)
    assert(pairSet == Set((1L, 5L)), s"mixed batch: $pairSet")
    // an update and a delete of ONE id in one batch is ambiguous — refuse
    val eDup = intercept[IllegalArgumentException](
      DocStreams.upsertNearDup(seen, pairs, buckets = 4,
        tombstoneCol = Some("__del"))(
        Seq((5L, tA, false), (5L, null.asInstanceOf[String], true))
          .toDF("doc_id", "text", "__del"), 3L))
    assert(eDup.getMessage.contains("more than once"), eDup.getMessage)
    // a deleted id can be RE-INSERTED later: the full keyed lifecycle
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(df(2L -> tA), 3L)
    assert(pairSet == Set((1L, 5L), (1L, 2L), (2L, 5L)),
      s"re-inserted id must pair fresh: $pairSet")
  }

  test("deleteNearDup interop: a takedown retracts from an APPEND-built (incrementalNearDup) state") {
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    // the three state roots have one shape regardless of which verb built
    // them — a corpus ingested append-only (q176) must accept a takedown
    // without a rebuild (the r12 gap: "a takedown forces a full rebuild")
    val base = java.nio.file.Files.createTempDirectory("graft-interop").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val tA = "alpha beta gamma delta epsilon zeta"
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4)(
      df(1L -> tA, 2L -> tA), 0L)
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4)(df(4L -> tA), 1L)
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    DocStreams.deleteNearDup(seen, pairs, buckets = 4)(Seq(2L).toDF("doc_id"), 2L)
    val expected = MinHashDedup.verifiedPairs(df(1L -> tA, 4L -> tA),
        "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expected, s"$pairSet vs $expected")
    // and the append verb keeps working on the post-takedown state
    DocStreams.incrementalNearDup(seen, pairs, buckets = 4)(df(6L -> tA), 3L)
    assert(pairSet == Set((1L, 4L), (1L, 6L), (4L, 6L)))
  }

  test("rebucket migrates a near-dup state set in place: new count works, pairs survive, old count refuses") {
    import spark.implicits._
    import graft.operators.{MinHashDedup, Snapshots}
    import graft.streaming.DocStreams
    val base = java.nio.file.Files.createTempDirectory("graft-rebkt").toString
    val (seen, pairs) = (s"$base/seen", s"$base/pairs")
    val bandRoot = DocStreams.bandRootOf(seen)
    def df(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val tA = "alpha beta gamma delta epsilon zeta"
    val tB = "totally different content lives here now"
    DocStreams.upsertNearDup(seen, pairs, buckets = 4)(
      df(1L -> tA, 2L -> tA, 3L -> tB), 0L)
    def pairSet = Snapshots.read(spark, pairs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairSet
    assert(before == Set((1L, 2L)))

    DocStreams.rebucket(spark, seen, pairs, 16)
    // accumulated pairs untouched (nothing in a pair row is bucket-derived)
    assert(pairSet == before)
    // the stored layout really rebucketed: every id_bucket/bucket value
    // recomputes under 16, and both tables re-clustered on it
    val badSeen = Snapshots.read(spark, seen).filter(col("id_bucket") =!=
      pmod(xxhash64(col("doc_id")), lit(16L)).cast("int")).count()
    val badBand = Snapshots.read(spark, bandRoot).filter(col("bucket") =!=
      pmod(xxhash64(col("band"), col("bh")), lit(16L)).cast("int")).count()
    assert(badSeen == 0 && badBand == 0, "bucket values must recompute under 16")
    assert(Snapshots.clusterOf(spark, seen,
      Snapshots.versions(spark, seen).last).contains("id_bucket"))
    // a second rebucket to the same count is a no-op (no new versions)
    val vs = (Snapshots.versions(spark, seen), Snapshots.versions(spark, bandRoot))
    DocStreams.rebucket(spark, seen, pairs, 16)
    assert((Snapshots.versions(spark, seen),
      Snapshots.versions(spark, bandRoot)) == vs)

    // OLD-count calls refuse with the header message
    val eOld = intercept[IllegalArgumentException](
      DocStreams.upsertNearDup(seen, pairs, buckets = 4)(df(4L -> tA), 1L))
    assert(eOld.getMessage.contains("buckets=16") &&
      eOld.getMessage.contains("buckets=4"), eOld.getMessage)

    // NEW-count upserts and deletes work against the migrated state:
    // doc 4 inserts ~ 1 (cross-batch pair against PRE-migration state),
    // then doc 2's takedown retracts its pairs
    DocStreams.upsertNearDup(seen, pairs, buckets = 16)(df(4L -> tA), 1L)
    assert(pairSet == Set((1L, 2L), (1L, 4L), (2L, 4L)),
      s"post-migration pairing must see pre-migration state: $pairSet")
    DocStreams.deleteNearDup(seen, pairs, buckets = 16)(Seq(2L).toDF("doc_id"), 2L)
    val expected = MinHashDedup.verifiedPairs(
        df(1L -> tA, 3L -> tB, 4L -> tA), "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == expected, s"$pairSet vs $expected")

    // a HALF-DONE migration (bands stamped ahead of the seen contract —
    // the crash-between-rewrites state) refuses every ingest verb until
    // rebucket re-runs; re-running completes it (idempotent: buckets
    // recompute from raw values)
    Snapshots.publish(spark, bandRoot,
      Snapshots.read(spark, bandRoot).drop("bucket").withColumn("bucket",
        pmod(xxhash64(col("band"), col("bh")), lit(32L)).cast("int")),
      clusterBy = Some("bucket"), extraHeader = Seq("#ndbuckets=32"))
    val eHalf = intercept[IllegalArgumentException](
      DocStreams.upsertNearDup(seen, pairs, buckets = 16)(df(5L -> tB), 3L))
    assert(eHalf.getMessage.contains("HALF-REBUCKETED"), eHalf.getMessage)
    DocStreams.rebucket(spark, seen, pairs, 32)
    DocStreams.upsertNearDup(seen, pairs, buckets = 32)(df(5L -> tB), 3L)
    assert(pairSet == expected + ((3L, 5L)),
      s"post-recovery ingest must pair against migrated state: $pairSet")
    // a mid-batch state (pairs ahead of the seen marker) refuses to migrate
    Snapshots.publishStreamBatch(spark, pairs,
      Snapshots.read(spark, pairs).limit(0), batchId = 9L)
    val eMid = intercept[IllegalArgumentException](
      DocStreams.rebucket(spark, seen, pairs, 64))
    assert(eMid.getMessage.contains("MID-BATCH"), eMid.getMessage)
  }
}
