package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, crc32, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{Blocks, SparkEntry}
import graft.queries.Q
import graft.refstar.Warehouse
import graft.sources.Snapshots
import graft.streaming.SnapshotIngest

/** One output to compare with its DuckDB oracle: `path` holds the
  * output of timed call `call` as parquet.
  */
final case class Check(gate: String, path: String, oracle: String,
                       call: String)

/** A workload: untimed set-up, then a pass, the timed unit the loop
  * repeats. Nothing is warmed up: every run is a fresh JVM, as a one-shot
  * batch job is. `repeatedSetup` is the part of set-up that is cheap
  * enough to run several times, so its median is steady.
  */
trait Workload {
  def repeatedSetup(): Unit = ()
  def pass(loop: Loop, passNo: Int): Unit
  def checks: Seq[Check] = Nil
  def extra: Seq[(String, Any)] = Nil
}

object Workload {

  def gates(names: Seq[String]): Seq[Q] = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no gate $n")))
  }

  /** The seed's order for one pass. */
  def permuted[A](xs: Seq[A], seed: Long, passNo: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + passNo).shuffle(xs)

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def delete(dir: File): Unit = {
    Option(dir.listFiles()).foreach(_.foreach(delete))
    dir.delete()
  }
}

/** Runs gates as timed calls. Each call writes the gate's full output as
  * parquet under `outDir`, so every call's output is compared with the
  * gate's oracle after the run. Dead local checkpoints are swept after
  * each call, untimed, as the engine's bench does.
  */
final class GateCalls(spark: SparkSession, dir: String, outDir: String) {
  val checks = mutable.ArrayBuffer.empty[Check]

  def run(loop: Loop, q: Q): Unit = {
    val path = s"$outDir/${loop.nextCallId}"
    val c = loop.call(q.name, "query") {
      q.build(spark, dir).write.mode("overwrite").parquet(path)
      true
    }
    loop.untimed(Blocks.sweepLocalCheckpoints(spark))
    checks += Check(q.name, path,
      q.oracle.getOrElse(sys.error(s"${q.name}: no oracle")), c.id)
  }
}

/** `star_etl`: the reference's whole dimensional ETL in a fresh JVM, as
  * a one-shot run sees it. A pass is a forced `Warehouse.rebuild` over
  * seed-generated staging CSVs at the reference's sales rows, then the 10
  * pass-through and 7 analytical views over the stored star in a
  * seed-permuted order.
  */
final class StarEtl(spark: SparkSession, seed: Long, outDir: String)
    extends Workload {
  import Workload._

  // 1x: a cold pass is fixed cost (JIT, per-job driver work) at any
  // size this run budget allows
  private val scale = 1.0

  private val qs = gates(SparkEntry.allQueries.map(_.name)
    .filter(_.matches("qr(0[1-9]|10)_.*|qv0[1-7]_.*")))
  require(qs.size == 17, s"expected the 17 star views, found ${qs.size}")
  private val calls = new GateCalls(spark, "", outDir)
  private var inputBytes = 0L
  private val steps = mutable.ArrayBuffer.empty[(String, Warehouse.Step)]

  override def repeatedSetup(): Unit = inputBytes = SalesGen.generate(seed, scale)

  def pass(loop: Loop, passNo: Int): Unit = {
    var built: Seq[Warehouse.Step] = Nil
    // a rebuild's own check is the shape of its accounting; the stored
    // tables themselves are checked by the qr views that read them
    val c = loop.call("Warehouse.rebuild", "build") {
      built = Warehouse.rebuild(spark)
      built.size == 22 && built.forall(_.rows > 0)
    }
    steps ++= built.map(c.id -> _)
    permuted(qs, seed, passNo).foreach(calls.run(loop, _))
  }

  override def checks: Seq[Check] = calls.checks.toSeq

  override def extra: Seq[(String, Any)] = Seq(
    "sales_rows" -> SalesGen.rows(scale),
    "input_bytes" -> inputBytes,
    "stored_bytes" -> (Warehouse.StagingTables ++ Warehouse.DimTables ++
      Warehouse.FactTables).map(t => bytesUnder(Paths.get(Warehouse.path(t)))).sum,
    "steps" -> steps.map { case (id, s) =>
      Json.obj("call" -> id, "table" -> s.name, "rows" -> s.rows,
        "seconds" -> s.seconds)
    })
}

/** A snapshot-table cycle on a fresh table: `batches` seed-generated
  * appends, each committed with `SnapshotIngest.ingestBatch` and followed
  * by a version-pinned `Snapshots.read` of the latest version; every
  * `replayEvery`-th commit is replayed (it must return false) and every
  * `compactEvery`-th commit is followed by `Snapshots.compactIncremental`.
  * Each read is checked against the row count and the key and payload
  * checksums of everything committed so far. The batches are generated
  * in set-up (`generate`); building their DataFrames, the statistics and
  * the checks made between calls are untimed.
  */
final class SnapshotCycle(spark: SparkSession, seed: Long) {
  import Workload._

  private val batches = 8
  private val rowsPerBatch = 2000
  private val replayEvery = 4
  private val compactEvery = 4
  // every file of a cycle stays below half of this, so each compaction
  // rewrites the whole table into one file
  private val targetBytes = 4L << 20

  private val schema = StructType(Seq(StructField("key", LongType),
    StructField("ts", LongType), StructField("payload", StringType)))

  /** One batch's rows plus their (count, key sum, payload crc sum). */
  private def batch(b: Int): (Seq[Row], (Long, Long, Long)) = {
    val r = new java.util.SplittableRandom(seed * 7919L + b)
    val rows = (0 until rowsPerBatch).map { i =>
      val key = r.nextLong(1000000000L)
      val payload = Iterator.fill(8 + r.nextInt(40))(
        ('a' + r.nextInt(26)).toChar).mkString
      Row(key, b * 1000000L + i, payload)
    }
    val crc = rows.map { row =>
      val c = new CRC32
      c.update(row.getString(2).getBytes("UTF-8"))
      c.getValue
    }.sum
    (rows, (rows.size.toLong, rows.map(_.getLong(0)).sum, crc))
  }

  private var data: Seq[(Seq[Row], (Long, Long, Long))] = Nil
  private var userBytes = 0L

  def generate(): Unit = {
    data = (1 to batches).map(batch)
    userBytes = data.flatMap(_._1)
      .map(r => 16L + r.getString(2).getBytes("UTF-8").length).sum
  }

  private val filesPerVersion = mutable.ArrayBuffer.empty[Int]
  private val versions = mutable.ArrayBuffer.empty[Int]
  private val writtenPerUserByte = mutable.ArrayBuffer.empty[Double]

  private def sums(table: String): (Long, Long, Long) = {
    val got = Snapshots.read(spark, table,
        Some(Snapshots.latestVersion(spark, table).get))
      .agg(count(lit(1)), sum(col("key")),
        sum(crc32(col("payload").cast("binary")))).head()
    (got.getLong(0), got.getLong(1), got.getLong(2))
  }

  def run(loop: Loop, table: String): Unit = {
    var expect = (0L, 0L, 0L)
    data.zipWithIndex.foreach { case ((rows, s), i) =>
      val b = i + 1
      val df = loop.untimed(spark.createDataFrame(rows.asJava, schema))
      loop.call("SnapshotIngest.ingestBatch", "commit") {
        SnapshotIngest.ingestBatch(spark, table, df, b)
      }
      expect = (expect._1 + s._1, expect._2 + s._2, expect._3 + s._3)
      val want = expect
      loop.call("Snapshots.read", "read") { sums(table) == want }
      filesPerVersion += loop.untimed(Snapshots.files(spark, table, None).size)
      if (b % replayEvery == 0)
        loop.call("SnapshotIngest.replay", "replay") {
          !SnapshotIngest.ingestBatch(spark, table, df, b)
        }
      if (b % compactEvery == 0) {
        val c = loop.call("Snapshots.compactIncremental", "compact") {
          Snapshots.compactIncremental(spark, table, targetBytes) > 0
        }
        // no timed read may follow the last compaction: read back here,
        // untimed, and fail the compaction if the table changed
        val same = loop.untimed(sums(table) == want)
        if (!same) loop.fail(c.id, "compaction changed the table's content")
      }
    }
    loop.untimed {
      versions += Snapshots.versions(spark, table).size
      writtenPerUserByte += bytesUnder(Paths.get(table)).toDouble / userBytes
      delete(new File(table))
    }
  }

  def extra: Seq[(String, Any)] = Seq(
    "batches" -> batches, "rows_per_batch" -> rowsPerBatch,
    "replay_every" -> replayEvery, "compact_every" -> compactEvery,
    "files_per_version" -> filesPerVersion,
    "versions" -> versions,
    "bytes_written_per_user_byte" -> writtenPerUserByte)
}

/** `llm_data`: the LLM-data side of the engine in a fresh JVM. A pass is
  * one `SnapshotCycle` of maintained state, then five operator gates over
  * a fixed corpus in a seed-permuted order.
  */
final class LlmData(spark: SparkSession, seed: Long, dataDir: String,
                    work: String) extends Workload {
  import Workload._

  // qt32_bpe_incremental is left out for the run budget: cold, it alone
  // took 13.6 s of a 45 s pass; operators.Bpe stays covered by qt18, and
  // qg04's 132 jobs per call still stress driver round-trips
  private val qs = gates(Seq("qd05_minhash_lsh", "qs09_pq_recall",
    "qt18_bpe_encode", "qg04_pagerank_deep", "qp13_dedup_fusion_scale"))
  private val calls = new GateCalls(spark, dataDir, s"$work/out")
  private val snapshots = new SnapshotCycle(spark, seed)

  override def repeatedSetup(): Unit = snapshots.generate()

  def pass(loop: Loop, passNo: Int): Unit = {
    snapshots.run(loop, s"$work/snap/cycle$passNo")
    permuted(qs, seed, passNo).foreach(calls.run(loop, _))
  }

  override def checks: Seq[Check] = calls.checks.toSeq

  override def extra: Seq[(String, Any)] = snapshots.extra
}
