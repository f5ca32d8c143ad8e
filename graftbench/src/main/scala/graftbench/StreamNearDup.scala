package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.Snapshots
import graft.streaming.DocStreams

/** Document micro-batches through `DocStreams.upsertNearDup`, which
  * commits each batch to three snapshot tables (seen, bands, pairs). A
  * batch has fixed shares of inserts, updates and deletes; half of the
  * texts inserted or updated are near-duplicate edits (one word replaced)
  * of a root text from a fixed pool of families. Every edit is one word
  * away from its root, so any two family members are far above the pair
  * threshold and any two unrelated texts far below it: LSH cannot miss a
  * pair, and an exact all-pairs recompute is the oracle. Reads are few:
  * point lookups on the pairs table. Maintenance expires and vacuums all
  * three tables.
  */
final class StreamNearDup(b: Bench, dir: String) extends Workload {
  import StreamNearDup._

  private val spark = b.spark
  private val seen = s"$dir/seen"
  private val pairs = s"$dir/pairs"

  private val vocab = {
    val rnd = new SplittableRandom(b.seed ^ 0x5eed)
    Array.fill(VocabSize)(Gen.word(rnd, 7))
  }
  /** Root texts of the near-duplicate families: a fixed pool, so family
    * sizes stay stationary while documents come and go.
    */
  private val roots = {
    val rnd = new SplittableRandom(b.seed ^ 0xfa111e5L)
    Array.fill(Families)(Array.fill(Words)(vocab(rnd.nextInt(VocabSize))))
  }
  // the oracle: the live corpus
  private val docs = mutable.LinkedHashMap.empty[Long, String]
  private var nextId = 0L
  private var batches = 0L
  private var expected = Map.empty[(Long, Long), Double]

  /** Half the texts are a family root with one word replaced, half are
    * unrelated to every other text.
    */
  private def text(rnd: SplittableRandom): String =
    if (rnd.nextBoolean()) {
      val w = roots(rnd.nextInt(Families)).clone()
      w(rnd.nextInt(Words)) = vocab(rnd.nextInt(VocabSize))
      w.mkString(" ")
    } else Array.fill(Words)(vocab(rnd.nextInt(VocabSize))).mkString(" ")

  private def insert(rnd: SplittableRandom): Row = {
    val id = nextId
    nextId += 1
    docs(id) = text(rnd)
    Row(id, docs(id), false)
  }

  private def anyDoc(rnd: SplittableRandom): Long = docs.keysIterator.drop(rnd.nextInt(docs.size)).next()

  /** Exact word-3-gram Jaccard over every pair sharing a shingle. */
  private def recompute(): Map[(Long, Long), Double] = {
    val sh = docs.map { case (id, t) => id -> t.split(' ').sliding(3).map(_.mkString(" ")).toSet }
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(x => index.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += id) }
    val candidates = index.valuesIterator.flatMap(ids => for (a <- ids; c <- ids if a < c) yield (a, c)).toSet
    candidates.iterator.map { case (a, c) =>
      (a, c) -> sh(a).intersect(sh(c)).size.toDouble / sh(a).union(sh(c)).size.toDouble
    }.filter(_._2 >= Threshold).toMap
  }

  private def ingest(rows: Seq[Row]): Unit = {
    val batchId = batches
    batches += 1
    val path = s"$dir/batches/b$batchId"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), Schema).write.parquet(path)
    b.ingested(rows.size.toLong, b.duBytes(path))
    val batch = spark.read.parquet(path)
    val roots3 = Seq(seen, DocStreams.bandRootOf(seen), pairs)
    val before = if (!b.tracing) Nil else roots3.map(r => Snapshots.versions(spark, r).lastOption
      .map(v => Snapshots.files(spark, r, v).toSet).getOrElse(Set.empty[String]))
    b.call("DocStreams.upsertNearDup", "write")(
      DocStreams.upsertNearDup(seen, pairs, buckets = Buckets, tombstoneCol = Some("__del"))(batch, batchId))
    if (b.tracing) {
      val after = roots3.map(r => Snapshots.files(spark, r, Snapshots.versions(spark, r).last).toSet)
      b.note("files_added", before.zip(after).map { case (x, y) => (y -- x).size }.sum.toDouble)
      b.note("state_bytes", b.snapshotLayout(roots3)._4.toDouble)
    }
    b.fs.delete(new org.apache.hadoop.fs.Path(path), true)
    expected = recompute()
  }

  def setup(): Unit = {
    val rnd = new SplittableRandom(b.seed)
    ingest((0 until InitialDocs).map(_ => insert(rnd)))
  }

  def cycle(c: Int): Unit = {
    val rnd = new SplittableRandom(b.seed * 1000003L + c)
    val touched = mutable.HashSet.empty[Long]
    def pick(): Long = {
      var id = anyDoc(rnd)
      while (touched.contains(id)) id = anyDoc(rnd)
      touched += id
      id
    }
    val updates = (0 until Updates).map { _ => val id = pick(); docs(id) = text(rnd); Row(id, docs(id), false) }
    val deletes = (0 until Deletes).map { _ => val id = pick(); docs.remove(id); Row(id, null, true) }
    val inserts = (0 until Inserts).map(_ => insert(rnd))
    ingest(updates ++ deletes ++ inserts)

    (0 until PointReads).foreach { _ =>
      val id = anyDoc(rnd)
      val got = b.call("Snapshots.readPoint", "read")(
        Snapshots.readPoint(spark, pairs, "doc_a", Seq(id)).select("doc_b", "jac").collect())
      if (b.tracing) b.note("files_scanned",
        Snapshots.pointFiles(spark, pairs, Snapshots.versions(spark, pairs).last, "doc_a", Seq(id)).size.toDouble)
      b.check("pair lookup matches the recompute")(
        got.map(r => (id, r.getLong(0)) -> r.getDouble(1)).toMap == expected.filter(_._1._1 == id))
    }
  }

  def maintain(): Unit =
    Seq(seen, DocStreams.bandRootOf(seen), pairs).foreach { r =>
      b.reclaiming("Snapshots.expire", r)(Snapshots.expire(spark, r, keepLast = 2))
      b.reclaiming("Snapshots.vacuum", r)(Snapshots.vacuum(spark, r, graceMs = 0L))
    }

  def layout(): (Long, Long, Long, Long) =
    b.snapshotLayout(Seq(seen, DocStreams.bandRootOf(seen), pairs))

  def verify(): Unit = {
    val got = Snapshots.read(spark, pairs).select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    b.check("pair set equals a batch recompute over the surviving corpus")(got == recompute())
    val ids = Snapshots.read(spark, seen).select("doc_id").collect().map(_.getLong(0)).toSet
    b.check("seen state holds exactly the surviving documents")(ids == docs.keySet)
  }
}

object StreamNearDup {
  private val InitialDocs = 600
  private val Updates = 20
  private val Deletes = 20
  private val Inserts = 20
  private val PointReads = 6
  private val Words = 40
  private val Families = 150
  private val VocabSize = 20000
  private val Buckets = 8
  /** MinHashDedup's default pair threshold, which the workload keeps. */
  private val Threshold = 0.5
  private val Schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("__del", BooleanType, nullable = false)))
}
