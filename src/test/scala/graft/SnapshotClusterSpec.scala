package graft

import graft.operators.Snapshots

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Key-clustered snapshot tables and storage-partitioned planning: a
  * clustered publish writes one file set per cluster-key value (manifest
  * `#cluster=` header), the DSv2 scan reports key-grouped partitioning
  * over provably single-valued files, and joins/aggregations clustered
  * by the key run with ZERO shuffle exchanges — asserted on the executed
  * plan, with row-level equality against the ordinary shuffled plan.
  */
class SnapshotClusterSpec extends AnyFunSuite {
  import SparkTestEnv._

  private def freshRoot(tag: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-cluster-$tag")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def readSource(root: String): DataFrame =
    spark.read.format("graft-snapshot").option("root", root).load()

  /** Count shuffle exchanges in the EXECUTED (post-AQE) plan. */
  private def shuffles(df: DataFrame): Int = {
    df.collect()
    PlanOps.shuffleCount(df)
  }

  private def noBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def orders = Tables.load(spark, sf, "orders")
  private def customer = Tables.load(spark, sf, "customer")

  test("clustered publish: one single-valued file set per key, header recorded") {
    val root = freshRoot("pub")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderpriority"))
    assert(Snapshots.clusterOf(spark, root, 1).contains("o_orderpriority"))
    val stats = Snapshots.statsOf(spark, root, 1)
    val files = Snapshots.files(spark, root, 1)
    assert(files.nonEmpty)
    files.foreach { fl =>
      val cs = stats(fl)("o_orderpriority")
      assert(cs.nulls == 0 && cs.min == cs.max,
        s"$fl is not single-valued: $cs")
    }
    // exactly one file per distinct value (the publish repartitions by key)
    val distinct = orders.select("o_orderpriority").distinct().count()
    assert(files.size == distinct, s"${files.size} files for $distinct keys")
    // read back equals input
    val got = readSource(root)
    assert(got.count() == orders.count())
    assert(got.orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq ==
      orders.orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq)
  }

  test("storage-partitioned join: zero shuffles, rows equal the shuffled plan") {
    val left = freshRoot("spjL")
    val right = freshRoot("spjR")
    Snapshots.publish(spark, left, orders, clusterBy = Some("o_orderpriority"))
    Snapshots.publish(spark, right,
      orders.groupBy("o_orderpriority")
        .agg(sum("o_totalprice").as("prio_total"), count("*").as("prio_n")),
      clusterBy = Some("o_orderpriority"))
    noBroadcast {
      val joined = readSource(left).join(readSource(right), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count("*").as("n"), max("prio_total").as("t"))
      assert(shuffles(joined) == 0,
        s"expected a shuffle-free storage-partitioned join:\n" +
          joined.queryExecution.executedPlan)
      // equality vs the plain (shuffled) parquet-side join
      val expect = orders.join(
          orders.groupBy("o_orderpriority")
            .agg(sum("o_totalprice").as("prio_total"), count("*").as("prio_n")),
          "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count("*").as("n"), max("prio_total").as("t"))
      val a = joined.orderBy("o_orderpriority").collect().map(r =>
        (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      val b = expect.orderBy("o_orderpriority").collect().map(r =>
        (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
      assert(a.toSeq == b.toSeq)
    }
  }

  test("aggregation on the cluster key plans without a shuffle") {
    val root = freshRoot("agg")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderstatus"))
    val agg = readSource(root).groupBy("o_orderstatus")
      .agg(count("*").as("n"), sum("o_totalprice").as("total"))
    assert(shuffles(agg) == 0,
      s"expected shuffle-free aggregation:\n${agg.queryExecution.executedPlan}")
    val got = agg.orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = orders.groupBy("o_orderstatus").agg(count("*").as("n"))
      .orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("a filter prunes whole key groups and the join stays shuffle-free") {
    val left = freshRoot("fltL")
    val right = freshRoot("fltR")
    Snapshots.publish(spark, left, orders, clusterBy = Some("o_orderpriority"))
    Snapshots.publish(spark, right,
      orders.select("o_orderpriority").distinct().withColumn("tag", lit(1)),
      clusterBy = Some("o_orderpriority"))
    noBroadcast {
      val joined = readSource(left).filter(col("o_orderpriority").startsWith("1"))
        .join(readSource(right).filter(col("o_orderpriority").startsWith("1")),
          "o_orderpriority")
      assert(shuffles(joined) == 0)
      val n = joined.count()
      val expect = orders.filter(col("o_orderpriority").startsWith("1")).count()
      assert(n == expect, s"joined $n != base $expect")
    }
  }

  test("clustered append keeps the guarantee; plain append drops the header") {
    val root = freshRoot("app")
    val half1 = orders.filter(col("o_orderkey") % 2 === 0)
    val half2 = orders.filter(col("o_orderkey") % 2 =!= 0)
    Snapshots.publish(spark, root, half1, clusterBy = Some("o_orderpriority"))
    Snapshots.publish(spark, root, half2, append = true,
      clusterBy = Some("o_orderpriority"))
    assert(Snapshots.clusterOf(spark, root, 2).contains("o_orderpriority"))
    // the appended head still plans shuffle-free and reads everything
    val agg = readSource(root).groupBy("o_orderpriority").count()
    assert(shuffles(agg) == 0)
    assert(readSource(root).count() == orders.count())
    // mismatched clustered append refuses loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.publish(spark, root, half1, append = true,
        clusterBy = Some("o_orderstatus"))
    }
    assert(e.getMessage.contains("clusterBy"))
    // a plain append drops the header — planning degrades, rows stay right
    Snapshots.publish(spark, root, half1.limit(10), append = true)
    assert(Snapshots.clusterOf(spark, root, 3).isEmpty)
    val agg2 = readSource(root).groupBy("o_orderpriority").count()
    assert(shuffles(agg2) > 0, "unclustered head must fall back to shuffling")
  }

  test("rollback and schema evolution carry the cluster header") {
    val root = freshRoot("roll")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderstatus"))
    Snapshots.publish(spark, root, orders.limit(50)) // unclustered v2
    assert(Snapshots.clusterOf(spark, root, 2).isEmpty)
    val v3 = Snapshots.rollback(spark, root, 1)
    assert(Snapshots.clusterOf(spark, root, v3).contains("o_orderstatus"))
    val withExtra = Snapshots.schemaOf(spark, root, v3)
      .add("note", org.apache.spark.sql.types.StringType, nullable = true)
    val v4 = Snapshots.evolveSchema(spark, root, withExtra)
    assert(Snapshots.clusterOf(spark, root, v4).contains("o_orderstatus"))
    // dropping the cluster column itself drops the header
    val without = org.apache.spark.sql.types.StructType(
      withExtra.fields.filterNot(_.name == "o_orderstatus"))
    val v5 = Snapshots.evolveSchema(spark, root, without)
    assert(Snapshots.clusterOf(spark, root, v5).isEmpty)
  }

  test("forced clusterBy option refuses an unclustered layout loudly") {
    val root = freshRoot("forced")
    Snapshots.publish(spark, root,
      orders.repartition(4)) // multiple priorities per file
    val e = intercept[Exception] {
      spark.read.format("graft-snapshot").option("root", root)
        .option("clusterBy", "o_orderpriority").load()
        .groupBy("o_orderpriority").count().collect()
    }
    assert(e.getMessage.contains("clusterBy"), s"got: ${e.getMessage}")
    // and a column that does not exist refuses too
    val e2 = intercept[Exception] {
      spark.read.format("graft-snapshot").option("root", root)
        .option("clusterBy", "nope").load().collect()
    }
    assert(e2.getMessage.contains("not a table column"), s"got: ${e2.getMessage}")
  }

  private def metadataOnly(df: DataFrame): Boolean = {
    df.collect()
    PlanOps.metadataOnly(df)
  }

  test("grouped aggregate over the cluster key answers metadata-only") {
    val root = freshRoot("gagg")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderpriority"))
    val agg = readSource(root).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
    assert(metadataOnly(agg),
      s"expected a metadata-only grouped aggregate:\n${agg.queryExecution.executedPlan}")
    val got = agg.orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = orders.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("o_orderpriority").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("count(column) discounts nulls from metadata, grouped and ungrouped") {
    val root = freshRoot("cnulls")
    val df = orders.withColumn("maybe",
      when(col("o_orderkey") % 3 === 0, col("o_totalprice")))
    Snapshots.publish(spark, root, df, clusterBy = Some("o_orderstatus"))
    val ungrouped = readSource(root).agg(count("maybe").as("n"))
    assert(metadataOnly(ungrouped))
    assert(ungrouped.head.getLong(0) == df.filter(col("maybe").isNotNull).count())
    val grouped = readSource(root).groupBy("o_orderstatus").agg(count("maybe").as("n"))
    assert(metadataOnly(grouped))
    val got = grouped.orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = df.filter(col("maybe").isNotNull).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n")).orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("grouped aggregate refuses when the grouping column is not file-constant") {
    val root = freshRoot("gref")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderpriority"))
    // group by a NON-clustered column: files mix values → ordinary scan,
    // same answers
    val agg = readSource(root).groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(!metadataOnly(agg), "must not claim metadata for a mixed column")
    val got = agg.orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = orders.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
    // and a filtered grouped aggregate refuses too (stats cannot see rows)
    val filtered = readSource(root).filter(col("o_orderkey") > 100)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
    assert(!metadataOnly(filtered))
  }

  test("SPJ drops the local sorts too: constant-per-group key reports ordering") {
    val left = freshRoot("ordL")
    val right = freshRoot("ordR")
    Snapshots.publish(spark, left, orders, clusterBy = Some("o_orderpriority"))
    Snapshots.publish(spark, right,
      orders.select("o_orderpriority").distinct().withColumn("tag", lit(1)),
      clusterBy = Some("o_orderpriority"))
    noBroadcast {
      val joined = readSource(left).join(readSource(right), "o_orderpriority")
      joined.collect()
      assert(shuffles(joined) == 0)
      assert(PlanOps.sortCount(joined) == 0,
        s"expected a sort-free merge join:\n${joined.queryExecution.executedPlan}")
    }
  }

  test("clusterPlanning=false opts a read out of key-grouped task granularity") {
    val root = freshRoot("opt")
    Snapshots.publish(spark, root, orders, clusterBy = Some("o_orderstatus"))
    // sum() keeps the aggregate out of the metadata pushdown, so both
    // plans exercise a real scan
    val grouped = readSource(root).groupBy("o_orderstatus")
      .agg(sum("o_totalprice").as("t"))
    assert(shuffles(grouped) == 0)
    val opted = spark.read.format("graft-snapshot").option("root", root)
      .option("clusterPlanning", "false").load()
      .groupBy("o_orderstatus").agg(sum("o_totalprice").as("t"))
    assert(shuffles(opted) > 0, "opt-out must fall back to ordinary planning")
    assert(opted.count() == 3)
  }

  test("SQL INSERT preserves a clustered table's layout") {
    val wh = freshRoot("inswh")
    spark.conf.set("spark.sql.catalog.cluscat",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cluscat.warehouse", wh)
    Snapshots.publish(spark, s"$wh/ct",
      orders.select("o_orderkey", "o_orderpriority")
        .filter(col("o_orderkey") % 2 === 0),
      clusterBy = Some("o_orderpriority"))
    spark.sql(
      """INSERT INTO cluscat.ct
        |SELECT o_orderkey, o_orderpriority FROM cluscat.ct LIMIT 0""".stripMargin)
    // real append through the catalog: register the odd half as a view
    orders.select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 1).createOrReplaceTempView("odd_half")
    spark.sql("INSERT INTO cluscat.ct SELECT * FROM odd_half")
    val head = Snapshots.versions(spark, s"$wh/ct").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct", head).contains("o_orderpriority"),
      "INSERT INTO must keep the cluster header")
    assert(spark.sql("SELECT count(*) FROM cluscat.ct").head.getLong(0) ==
      orders.count())
    // and the appended head still plans shuffle-free
    val agg = spark.read.format("graft-snapshot").option("root", s"$wh/ct").load()
      .groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0)
    // INSERT OVERWRITE keeps it too (static plan — the V1 bridge's mode)
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try spark.sql("INSERT OVERWRITE cluscat.ct SELECT * FROM odd_half")
    finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
    val head2 = Snapshots.versions(spark, s"$wh/ct").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct", head2).contains("o_orderpriority"),
      "INSERT OVERWRITE must keep the cluster header")
  }

  test("the streaming sink preserves a clustered destination's layout") {
    val src = freshRoot("streamsrc")
    val dst = freshRoot("streamdst")
    val ck = java.nio.file.Files.createTempDirectory("graft-cluster-ck").toString
    val half1 = orders.select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 0)
    val half2 = orders.select("o_orderkey", "o_orderpriority")
      .filter(col("o_orderkey") % 2 === 1)
    Snapshots.publish(spark, src, half1)
    // destination starts clustered; the stream must keep it that way
    Snapshots.publish(spark, dst, half1, clusterBy = Some("o_orderpriority"))
    val q = spark.readStream.format("graft-snapshot").option("root", src)
      .option("startingVersion", "latest").load()
      .writeStream.format("graft-snapshot").option("root", dst)
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      Snapshots.publish(spark, src, half2, append = true)
      q.processAllAvailable()
    } finally q.stop()
    val head = Snapshots.versions(spark, dst).last
    assert(head >= 2)
    assert(Snapshots.clusterOf(spark, dst, head).contains("o_orderpriority"),
      "streamed appends must keep the cluster header")
    val agg = readSource(dst).groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0)
    assert(readSource(dst).count() == orders.count())
  }

  test("copy-on-write operations preserve the clustered layout") {
    val root = freshRoot("cow")
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    Snapshots.publish(spark, root, base, clusterBy = Some("o_orderpriority"))
    def assertClustered(v: Int): Unit = {
      assert(Snapshots.clusterOf(spark, root, v).contains("o_orderpriority"),
        s"v$v lost the cluster header")
      val stats = Snapshots.statsOf(spark, root, v)
      Snapshots.files(spark, root, v).foreach { fl =>
        val cs = stats(fl)("o_orderpriority")
        assert(cs.tag == "allnull" || (cs.nulls == 0 && cs.min == cs.max),
          s"v$v file $fl is not single-valued")
      }
    }
    // MERGE: update a band, delete a band, insert fresh keys
    val kmod = col("o_orderkey") % 11
    val delta = base.filter(kmod === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
      .withColumn("__del", lit(false))
      .unionByName(base.filter(kmod === 1).withColumn("__del", lit(true)))
    val v2 = Snapshots.mergeByKey(spark, root, delta,
      keyCols = Seq("o_orderkey"), tombstoneCol = Some("__del"))
    assertClustered(v2)
    assert(Snapshots.read(spark, root).count() ==
      base.filter(kmod =!= 1).count())
    // DELETE by predicate
    val v3 = Snapshots.deleteWhere(spark, root, col("o_orderkey") % 11 === 2)
    assertClustered(v3)
    // UPDATE by predicate
    val v4 = Snapshots.updateWhere(spark, root, col("o_orderkey") % 11 === 3,
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    assertClustered(v4)
    // compact collapses the accumulated per-key file fan-out back to one
    // file set per key, layout intact
    val v5 = Snapshots.compact(spark, root)
    assertClustered(v5)
    val distinct = base.select("o_orderpriority").distinct().count()
    assert(Snapshots.files(spark, root, v5).size == distinct)
    // the whole history of mutations still plans shuffle-free
    val agg = readSource(root).groupBy("o_orderpriority")
      .agg(sum("o_totalprice").as("t"))
    assert(shuffles(agg) == 0)
    // and the rows are right: replay the mutations relationally
    val expect = base.filter(kmod =!= 1).filter(col("o_orderkey") % 11 =!= 2)
      .withColumn("o_totalprice",
        when(kmod === 0, col("o_totalprice") + 1).otherwise(col("o_totalprice")))
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 3, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
    val got = Snapshots.read(spark, root)
      .agg(count(lit(1)), sum(col("o_totalprice")).cast("decimal(20,2)")).head
    val want = expect.agg(count(lit(1)), sum(col("o_totalprice")).cast("decimal(20,2)")).head
    assert(got.getLong(0) == want.getLong(0))
    assert(got.getDecimal(1).compareTo(want.getDecimal(1)) == 0)
  }

  test("merge-on-read deletes carry the header; materialize re-clusters") {
    val root = freshRoot("mor")
    val base = orders.select("o_orderkey", "o_orderpriority")
    Snapshots.publish(spark, root, base, clusterBy = Some("o_orderpriority"))
    import spark.implicits._
    val doomed = base.filter(col("o_orderkey") % 7 === 0)
      .select("o_orderkey").as[Long].collect().toSeq
    val v2 = Snapshots.deleteByKey(spark, root, doomed.toDF("o_orderkey"))
    assert(Snapshots.clusterOf(spark, root, v2).contains("o_orderpriority"),
      "a dv commit shares every data file — the header must survive")
    val v3 = Snapshots.materializeDeletes(spark, root)
    assert(Snapshots.clusterOf(spark, root, v3).contains("o_orderpriority"))
    assert(readSource(root).count() == base.count() - doomed.size)
    val agg = readSource(root).groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0)
  }

  test("SQL UPDATE and MERGE INTO preserve the clustered layout") {
    val wh = freshRoot("dmlwh")
    spark.conf.set("spark.sql.catalog.dmlclus",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.dmlclus.warehouse", wh)
    val base = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    Snapshots.publish(spark, s"$wh/dt", base, clusterBy = Some("o_orderpriority"))
    def assertClustered(tag: String): Unit = {
      val v = Snapshots.versions(spark, s"$wh/dt").last
      assert(Snapshots.clusterOf(spark, s"$wh/dt", v).contains("o_orderpriority"),
        s"$tag lost the cluster header at v$v")
      val stats = Snapshots.statsOf(spark, s"$wh/dt", v)
      Snapshots.files(spark, s"$wh/dt", v).foreach { fl =>
        val cs = stats(fl)("o_orderpriority")
        assert(cs.nulls == 0 && cs.min == cs.max, s"$tag: $fl mixes values")
      }
    }
    // a BROAD UPDATE touching every file: the rewrite re-clusters via
    // the requested distribution + per-key file rolling
    spark.sql("UPDATE dmlclus.dt SET o_totalprice = o_totalprice + 1 " +
      "WHERE o_orderkey % 2 = 0")
    assertClustered("UPDATE")
    // MERGE INTO through the row-level operation path
    base.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .createOrReplaceTempView("dml_delta")
    spark.sql(
      """MERGE INTO dmlclus.dt t USING dml_delta s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assertClustered("MERGE")
    // rows are right and the head still plans shuffle-free
    // the MERGE delta was built from the ORIGINAL prices, so matched rows
    // end at base*2 regardless of the earlier UPDATE
    val expect = base.withColumn("o_totalprice",
      when(col("o_orderkey") % 5 === 0, col("o_totalprice") * 2)
        .otherwise(when(col("o_orderkey") % 2 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice"))))
    val got = spark.sql("SELECT CAST(sum(o_totalprice) AS DECIMAL(20,2)) FROM dmlclus.dt")
      .head.getDecimal(0)
    val want = expect.agg(sum("o_totalprice").cast("decimal(20,2)")).head.getDecimal(0)
    assert(got.compareTo(want) == 0, s"got $got want $want")
    val agg = spark.read.format("graft-snapshot").option("root", s"$wh/dt").load()
      .groupBy("o_orderpriority").agg(sum("o_totalprice").as("t"))
    assert(shuffles(agg) == 0)
  }

  test("CREATE TABLE PARTITIONED BY declares a clustered table; CTAS and TRUNCATE keep it") {
    val wh = freshRoot("declwh")
    spark.conf.set("spark.sql.catalog.declclus",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.declclus.warehouse", wh)
    spark.sql(
      """CREATE TABLE declclus.ct (o_orderkey BIGINT, o_orderpriority STRING)
        |USING `graft-snapshot` PARTITIONED BY (o_orderpriority)""".stripMargin)
    assert(Snapshots.clusterOf(spark, s"$wh/ct", 1).contains("o_orderpriority"))
    // INSERT INTO the declared-clustered empty table clusters the data
    orders.select("o_orderkey", "o_orderpriority")
      .createOrReplaceTempView("decl_src")
    spark.sql("INSERT INTO declclus.ct SELECT * FROM decl_src")
    val v2 = Snapshots.versions(spark, s"$wh/ct").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct", v2).contains("o_orderpriority"))
    val agg = spark.read.format("graft-snapshot").option("root", s"$wh/ct").load()
      .groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0)
    // TRUNCATE keeps the declaration; a later insert re-clusters
    spark.sql("TRUNCATE TABLE declclus.ct")
    val v3 = Snapshots.versions(spark, s"$wh/ct").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct", v3).contains("o_orderpriority"),
      "TRUNCATE must keep the cluster declaration")
    spark.sql("INSERT INTO declclus.ct SELECT * FROM decl_src")
    val v4 = Snapshots.versions(spark, s"$wh/ct").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct", v4).contains("o_orderpriority"))
    // CTAS with the declaration
    spark.sql(
      """CREATE TABLE declclus.ct2 USING `graft-snapshot`
        |PARTITIONED BY (o_orderpriority)
        |AS SELECT * FROM decl_src""".stripMargin)
    val ctasHead = Snapshots.versions(spark, s"$wh/ct2").last
    assert(Snapshots.clusterOf(spark, s"$wh/ct2", ctasHead)
      .contains("o_orderpriority"), "CTAS must come out clustered")
    assert(spark.sql("SELECT count(*) FROM declclus.ct2").head.getLong(0) ==
      orders.count())
    // a non-identity transform refuses with guidance
    val e = intercept[Exception] {
      spark.sql(
        """CREATE TABLE declclus.bad (k BIGINT, b STRING)
          |USING `graft-snapshot` PARTITIONED BY (bucket(4, k))""".stripMargin)
    }
    assert(e.getMessage.contains("identity"), s"got: ${e.getMessage}")
  }

  test("composite cluster keys: SPJ and grouped metadata over a two-column key") {
    val root = freshRoot("composite")
    val df = orders.select(col("o_orderkey"),
      col("o_orderstatus"), col("o_orderpriority"))
    Snapshots.publish(spark, root, df,
      clusterBy = Some("o_orderstatus,o_orderpriority"))
    val tuples = df.select("o_orderstatus", "o_orderpriority").distinct().count()
    assert(Snapshots.files(spark, root, 1).size == tuples)
    assert(Snapshots.clusterOf(spark, root, 1)
      .contains("o_orderstatus,o_orderpriority"))
    // grouped metadata aggregate over BOTH key columns
    val agg = readSource(root).groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("hi"))
    assert(metadataOnly(agg))
    val got = agg.orderBy("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = df.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("hi"))
      .orderBy("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // a real aggregation on the full key tuple plans shuffle-free
    val real = readSource(root).groupBy("o_orderstatus", "o_orderpriority")
      .agg(sum("o_orderkey").as("s"))
    assert(shuffles(real) == 0)
    // composite SPJ: join two co-clustered tables on the key tuple
    val dim = freshRoot("compositeDim")
    Snapshots.publish(spark, dim,
      df.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cell_n")),
      clusterBy = Some("o_orderstatus,o_orderpriority"))
    noBroadcast {
      val joined = readSource(root).join(readSource(dim).hint("merge"),
        Seq("o_orderstatus", "o_orderpriority"))
      assert(shuffles(joined) == 0,
        s"expected composite-key SPJ:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() == df.count())
    }
    // SQL UPDATE preserves the composite layout
    spark.conf.set("spark.sql.catalog.compclus",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.compclus.warehouse",
      new java.io.File(root).getParent)
    // point the catalog at the root's parent so the table resolves by name
    val tname = new java.io.File(root).getName
    spark.sql(s"UPDATE compclus.`$tname` SET o_orderkey = o_orderkey + 5000000 " +
      "WHERE o_orderkey % 4 = 0")
    val head = Snapshots.versions(spark, root).last
    assert(Snapshots.clusterOf(spark, root, head)
      .contains("o_orderstatus,o_orderpriority"),
      "composite layout must survive SQL UPDATE")
  }

  test("a writer partitionBy declares the cluster key for a fresh streamed table") {
    val src = freshRoot("declsrc")
    val dst = freshRoot("decldst")
    val ck = java.nio.file.Files.createTempDirectory("graft-declck").toString
    Snapshots.publish(spark, src,
      orders.select("o_orderkey", "o_orderpriority"))
    val q = spark.readStream.format("graft-snapshot").option("root", src).load()
      .writeStream.format("graft-snapshot").option("root", dst)
      .partitionBy("o_orderpriority")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    val head = Snapshots.versions(spark, dst).last
    assert(Snapshots.clusterOf(spark, dst, head).contains("o_orderpriority"),
      "the declared partitionBy must become the cluster key")
    val agg = readSource(dst).groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0)
    assert(readSource(dst).count() == orders.count())
  }

  test("partially-clustered SPJ: a hot key's splits stay separate tasks, results equal") {
    // the SPJ skew case: a key-clustered 100 TB table with a hot tenant
    // must not serialize the whole tenant into ONE task just because the
    // join is exchange-free. With partiallyClusteredDistribution enabled
    // Spark keeps the hot key's file splits as separate co-partitioned
    // tasks and replicates the other side's matching partition — the
    // scan already emits multiple HasPartitionKey splits per key
    // (ParquetReadBridge.keyedFilePartitions), so the join side accepts
    // them once the conf is on.
    val fact = freshRoot("skewfact")
    val dim = freshRoot("skewdim")
    import spark.implicits._
    def batch(lo: Long, n: Long, key: String) =
      spark.range(lo, lo + n).select(col("id"),
        lit(key).as("k"), (col("id") % 97).cast("double").as("x"))
    // hot key accumulates one file per clustered append → a multi-file
    // key whose splits CAN fan out; cold keys stay single-file
    Snapshots.publish(spark, fact,
      batch(0, 2000, "hot").unionAll(batch(100000, 300, "a"))
        .unionAll(batch(200000, 300, "b")), clusterBy = Some("k"))
    (1 to 5).foreach { i =>
      Snapshots.publish(spark, fact, batch(i * 10000L, 2000, "hot"),
        append = true, clusterBy = Some("k"))
    }
    Snapshots.publish(spark, dim,
      Seq(("hot", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "w"),
      clusterBy = Some("k"))
    val prev = Seq(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes").map(k => k -> spark.conf.getOption(k))
    try {
      // tiny split sizing so the hot key's 6 files pack into >1 split
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      spark.conf.set("spark.sql.files.openCostInBytes", "1024")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      noBroadcast {
        // the JOIN stays exchange-free (the aggregation above it rightly
        // re-shuffles: under partial clustering a key spans tasks, so
        // key-grouped output no longer holds upstream of the agg — that
        // exchange is the price of de-skewing, paid above a de-skewed join)
        val join = readSource(fact).join(readSource(dim).hint("merge"), "k")
        val joinRows = join.count()
        assert(PlanOps.shuffleCount(join) == 0,
          s"partially-clustered join must stay exchange-free:\n${join.queryExecution.executedPlan}")
        // the skew evidence: more co-partitioned tasks than distinct keys
        // (the hot key fanned out; without partial clustering the join
        // runs exactly one task per key)
        val joinTasks = readSource(fact).join(readSource(dim).hint("merge"), "k")
          .rdd.getNumPartitions
        assert(joinTasks > 3,
          s"hot key must span >1 task: got $joinTasks tasks for 3 keys")
        def agg = readSource(fact).join(readSource(dim).hint("merge"), "k")
          .groupBy("k").agg(count(lit(1)).as("n"), sum(col("x") * col("w")).as("s"))
        val rows = agg.collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 100))).sortBy(_._1)
        // row-level equality against the one-task-per-key plan
        spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
        val expect = agg.collect().map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 100))).sortBy(_._1)
        assert(rows.toSeq == expect.toSeq)
        assert(joinRows == readSource(fact).count())
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Update-mode streaming upsert into a clustered destination keeps the layout") {
    // CDC ingest into a key-clustered table: the sink's per-batch CoW
    // MERGE re-clusters its replacement rows (mergeByKey's layout
    // invariant), so the #cluster= header — and shuffle-free planning —
    // survives continuous keyed upserts.
    import spark.implicits._
    val src = freshRoot("upclussrc")
    val dst = freshRoot("upclusdst")
    val ck = java.nio.file.Files.createTempDirectory("graft-upclusck").toString
    // destination pre-published clustered on the group key
    Snapshots.publish(spark, dst,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "g", "x"),
      clusterBy = Some("g"))
    Snapshots.publish(spark, src,
      Seq((1L, "a", 11.0), (3L, "b", 30.0)).toDF("k", "g", "x"))
    val q = spark.readStream.format("graft-snapshot").option("root", src).load()
      .writeStream.format("graft-snapshot").option("root", dst)
      .outputMode("update").option("keyColumns", "k")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    val head = Snapshots.versions(spark, dst).last
    assert(head == 2)
    assert(Snapshots.clusterOf(spark, dst, head).contains("g"),
      "the clustered layout must survive the streaming upsert merge")
    assert(readSource(dst).orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "a", 11.0), (2L, "b", 20.0), (3L, "b", 30.0)))
    // and the layout still plans: aggregation on g stays shuffle-free
    val agg = readSource(dst).groupBy("g").agg(sum("x").as("s"))
    assert(shuffles(agg) == 0,
      s"post-upsert clustered agg must stay shuffle-free:\n${agg.queryExecution.executedPlan}")
  }

  test("widening the cluster-key column keeps the layout and SPJ planning") {
    // type widening is metadata-only and stats tags are family-scoped,
    // so widening the CLUSTER column itself (int→long) must not break
    // the single-valuedness proof: the header carries, post-widening
    // clustered appends land long-typed files, and the co-clustered
    // join still plans exchange-free across both file generations.
    import spark.implicits._
    val fact = freshRoot("widenclus")
    val dim = freshRoot("widenclusdim")
    def rows(lo: Int, n: Int) =
      (lo until lo + n).map(i => (i % 7, i.toLong)).toDF("k", "v")
    Snapshots.publish(spark, fact, rows(0, 500), clusterBy = Some("k"))
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = true)))
    Snapshots.evolveSchema(spark, fact, widened)
    assert(Snapshots.clusterOf(spark, fact, 2).contains("k"),
      "the cluster header must survive widening its own column")
    // post-widening clustered append: long-typed physical files
    Snapshots.publish(spark, fact,
      rows(500, 200).withColumn("k", col("k").cast("long")),
      append = true, clusterBy = Some("k"))
    Snapshots.publish(spark, dim,
      (0 until 7).map(i => (i.toLong, s"g$i")).toDF("k", "name"),
      clusterBy = Some("k"))
    noBroadcast {
      val joined = readSource(fact).join(readSource(dim).hint("merge"), "k")
      assert(joined.count() == 700)
      assert(shuffles(joined) == 0,
        s"SPJ must survive cluster-key widening:\n${joined.queryExecution.executedPlan}")
    }
  }

  test("one-side storage-partitioned shuffle: plain side shuffles INTO the clustered layout") {
    // the asymmetric 100 TB join: a clustered fact table joined with a
    // PLAIN (unclustered) delta. Without v2.bucketing.shuffle.enabled,
    // Spark re-shuffles BOTH sides to hash partitioning — the clustered
    // layout buys nothing; with it, only the plain side shuffles into
    // the fact's key-grouped layout and the fact side scans in place.
    val fact = freshRoot("oneshuf")
    Snapshots.publish(spark, fact,
      orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
      clusterBy = Some("o_orderpriority"))
    // a plain projection (no internal aggregate, so the ONLY exchange in
    // the join plan is the one routing it into the fact's layout)
    val plain = orders.select(col("o_orderpriority"), col("o_orderkey").as("side"))
    val key = "spark.sql.sources.v2.bucketing.shuffle.enabled"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      noBroadcast {
        val joined = readSource(fact).join(plain.hint("merge"), "o_orderpriority")
        val got = joined.count()
        val n = PlanOps.shuffleCount(joined)
        assert(n == 1,
          s"exactly the plain side must shuffle (got $n exchanges):\n" +
            joined.queryExecution.executedPlan)
        assert(joined.queryExecution.executedPlan.toString
          .contains("keygroupedpartitioning"),
          "the single exchange must target the fact's key-grouped layout")
        // row-count equality against the both-sides-shuffled plan
        spark.conf.set(key, "false")
        val expect = readSource(fact).join(plain.hint("merge"), "o_orderpriority")
        expect.count()
        assert(PlanOps.shuffleCount(expect) >= 2, "control plan should shuffle both sides")
        assert(got == expect.count())
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("SPJ on a join-key SUBSET of a composite cluster key") {
    // a (status, priority)-clustered table joined on priority alone:
    // with allowJoinKeysSubsetOfPartitionKeys the key-grouped layout
    // still serves the join (groups merge logically by the subset key)
    // instead of falling back to a full re-shuffle of the fact side.
    val fact = freshRoot("subsetfact")
    val dim = freshRoot("subsetdim")
    Snapshots.publish(spark, fact,
      orders.select("o_orderkey", "o_orderstatus", "o_orderpriority"),
      clusterBy = Some("o_orderstatus,o_orderpriority"))
    Snapshots.publish(spark, dim,
      orders.groupBy("o_orderpriority").agg(count(lit(1)).as("prio_n")),
      clusterBy = Some("o_orderpriority"))
    // subset-key SPJ needs BOTH: the subset conf, and co-partition checks
    // relaxed from all-cluster-keys (spark.sql.requireAllClusterKeysForCoPartition,
    // default true, otherwise demands the join keys cover the whole tuple)
    val key = "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled"
    val reqAll = "spark.sql.requireAllClusterKeysForCoPartition"
    val prev = Seq(key, reqAll).map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(key, "true")
      spark.conf.set(reqAll, "false")
      noBroadcast {
        val joined = readSource(fact).join(readSource(dim).hint("merge"), "o_orderpriority")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), max("prio_n").as("pn"))
        val rows = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        // the fact side must NOT re-shuffle for the join (the agg above
        // may: subset grouping loosens the output partitioning)
        val joinOnly = readSource(fact).join(readSource(dim).hint("merge"), "o_orderpriority")
        joinOnly.count()
        assert(PlanOps.shuffleCount(joinOnly) == 0,
          s"subset-key join must stay exchange-free:\n${joinOnly.queryExecution.executedPlan}")
        spark.conf.set(key, "false")
        val expect = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        assert(rows.toSeq == expect.toSeq)
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("case-differing cluster specs resolve to the frame's spelling; typos fail loudly") {
    // publish: the header must record the REAL column name (downstream
    // footer-stats proofs key on it), resolved like the session resolver
    val root = freshRoot("casewise")
    val v = Snapshots.publish(spark, root,
      orders.select("o_orderkey", "o_orderpriority"),
      clusterBy = Some("O_OrderPriority"))
    assert(Snapshots.clusterOf(spark, root, v).contains("o_orderpriority"),
      "header must carry the frame's spelling, not the spec's")
    val agg = readSource(root).groupBy("o_orderpriority").agg(sum("o_orderkey").as("s"))
    assert(shuffles(agg) == 0, "resolved layout must still plan shuffle-free")
    // streaming fresh-root declaration: same resolution...
    val src = freshRoot("casesrc")
    val dst = freshRoot("casedst")
    val ck = java.nio.file.Files.createTempDirectory("graft-caseck").toString
    Snapshots.publish(spark, src, orders.select("o_orderkey", "o_orderpriority"))
    val q = spark.readStream.format("graft-snapshot").option("root", src).load()
      .writeStream.format("graft-snapshot").option("root", dst)
      .partitionBy("O_ORDERPRIORITY")
      .option("checkpointLocation", ck).start()
    try q.processAllAvailable() finally q.stop()
    assert(Snapshots.clusterOf(spark, dst, Snapshots.versions(spark, dst).last)
      .contains("o_orderpriority"))
    // ...and a column that does NOT resolve fails loudly instead of
    // silently publishing an unclustered table forever. Spark's own
    // DataStreamWriter.normalize rejects it at start(); the sink's
    // fresh-root require is the second line of defense for direct
    // construction (publish() itself refuses too)
    val dst2 = freshRoot("casedst2")
    val ck2 = java.nio.file.Files.createTempDirectory("graft-caseck2").toString
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.readStream.format("graft-snapshot").option("root", src).load()
        .writeStream.format("graft-snapshot").option("root", dst2)
        .partitionBy("o_orderpriorty") // typo
        .option("checkpointLocation", ck2).start()
    }
    assert(e.getMessage.contains("o_orderpriorty"), s"got: ${e.getMessage}")
    assert(intercept[IllegalArgumentException] {
      Snapshots.publish(spark, dst2,
        orders.select("o_orderkey", "o_orderpriority"),
        clusterBy = Some("o_orderpriorty"))
    }.getMessage.contains("o_orderpriorty"))
  }

  test("float cluster keys: -0.0 and 0.0 are ONE group; binary keys refuse") {
    val root = freshRoot("zeros")
    import spark.implicits._
    val df = Seq((1L, 0.0d), (2L, -0.0d), (3L, 1.5d), (4L, -0.0d))
      .toDF("id", "k")
    Snapshots.publish(spark, root, df, clusterBy = Some("k"))
    // the split writes -0.0 and 0.0 to different file sets, but SQL
    // grouping treats them as one key — whatever plan serves the answer
    // must agree with the un-pushed one. (parquet-mr declines to write
    // footer stats for double columns containing -0.0, so the metadata
    // path honestly REFUSES here — the normalizeKey seam pins the
    // semantics for stats that do exist, and the scan must never split
    // the zero group.)
    val agg = readSource(root).groupBy("k").agg(count(lit(1)).as("n"))
    val got = agg.collect().map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(got == Map(0.0d -> 3L, 1.5d -> 1L), s"got $got")
    val plain = df.groupBy("k").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toMap
    assert(got == plain)
    // a type footer stats cannot prove refuses the cluster claim
    val e = intercept[IllegalArgumentException] {
      Snapshots.publish(spark, freshRoot("bin"),
        df.withColumn("b", lit(Array[Byte](1, 2))), clusterBy = Some("b"))
    }
    assert(e.getMessage.contains("stats-provable"), s"got: ${e.getMessage}")
  }

  test("a timestamp cluster key (time-routed table) groups and plans shuffle-free") {
    val root = freshRoot("bymonth")
    val df = orders.select(col("o_orderkey"),
      date_trunc("month", col("o_orderdate")).as("month"))
    Snapshots.publish(spark, root, df, clusterBy = Some("month"))
    val months = df.select("month").distinct().count()
    assert(Snapshots.files(spark, root, 1).size == months)
    // grouped metadata aggregate over the ts key
    val agg = readSource(root).groupBy("month")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"))
    assert(metadataOnly(agg))
    val got = agg.orderBy("month").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    val expect = df.groupBy("month")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("lo"))
      .orderBy("month").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // and a real (non-pushable) aggregation runs storage-partitioned
    val real = readSource(root).groupBy("month").agg(sum("o_orderkey").as("s"))
    assert(shuffles(real) == 0)
  }

  test("forced clusterBy on a naturally clustered layout works without a header") {
    val root = freshRoot("nat")
    // per-key appends: every file holds one status by construction even
    // though no publish declared clusterBy — the option derives SPJ from
    // the stats alone
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted
    statuses.zipWithIndex.foreach { case (s, i) =>
      Snapshots.publish(spark, root,
        orders.filter(col("o_orderstatus") === s).coalesce(1), append = i > 0)
    }
    assert(Snapshots.clusterOf(spark, root, statuses.length).isEmpty)
    val agg = spark.read.format("graft-snapshot").option("root", root)
      .option("clusterBy", "o_orderstatus").load()
      .groupBy("o_orderstatus").count()
    assert(shuffles(agg) == 0,
      s"expected stats-derived SPJ:\n${agg.queryExecution.executedPlan}")
    assert(agg.collect().map(_.getLong(1)).sum == orders.count())
  }
}
