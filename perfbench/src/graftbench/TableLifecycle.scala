package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, VersionedTable}
import graft.streaming.TableChangeStream

/** `table_lifecycle`: one catalog table seeded with ~2M rows, then a
  * fixed seeded mix of small writes (INSERT, merge-on-read point DELETE,
  * UPDATE, MERGE INTO upsert, purge_tombstones and OPTIMIZE)
  * interleaved with reads (pruned key-range SELECT, full aggregate,
  * VERSION AS OF travel, change-feed drain). Every write touches well
  * under 1% of the rows, so the fixed per-commit cost dominates.
  *
  * Every read is checked against an independent model of the table kept
  * by this client: the seed rows follow a closed-form value function,
  * and the model records every key the writes touched since, plus the
  * (count, sum) of every committed version and the (count, sum) change
  * each version introduced.
  */
final class TableLifecycle extends Workload {
  // 100k rows: a twentieth of the ~2M the workload is named for
  override def defaultScale: Double = 0.05

  private val Cat = "gt"
  private val Name = "t"
  private var seed = 0L
  private var n = 0L
  private var table = ""
  private var checkpoint = ""
  private var rnd: SplittableRandom = _

  // ---- the model ----
  private val Deleted = Long.MinValue
  private val touched = mutable.LongMap[Long]()
  private var nextKey = 0L
  private var liveCount = 0L
  private var liveSum = 0L
  private var head = 0
  private val byVersion = mutable.LongMap[(Long, Long)]()
  private val deltaOf = mutable.LongMap[(Long, Long)]()
  private var rowsChanged = 0L

  // the seed's key-range files. Every write and key-range read stays inside
  // one of them, and which file each operation of a pass touches follows
  // from the pass and the operation alone, so a pass does the same work for
  // every seed; the seed picks the keys inside the file and the values.
  private val SeedFiles = 16
  private def inSeedFile(file: Int, width: Long): Long = {
    val size = n / SeedFiles
    java.lang.Math.floorMod(file, SeedFiles) * size + rnd.nextLong(size - width)
  }

  private def baseValue(k: Long): Long = java.lang.Math.floorMod(k * 2654435761L + seed, 1000003L)
  private def valueOf(k: Long): Option[Long] = touched.get(k) match {
    case Some(Deleted) => None
    case Some(v) => Some(v)
    case None => if (k < n) Some(baseValue(k)) else None
  }
  private def set(k: Long, v: Option[Long]): Unit = {
    valueOf(k).foreach { old => liveCount -= 1; liveSum -= old }
    v.foreach { nv => liveCount += 1; liveSum += nv }
    touched(k) = v.getOrElse(Deleted)
  }

  override def setup(spark: SparkSession, dir: Path, seed: Long,
                     scale: Double, events: Events): Unit = {
    this.seed = seed
    // every seed file must hold the widest key range an operation uses
    n = math.max(SeedFiles * 2000L, (2000000L * scale).toLong)
    rnd = new SplittableRandom(seed)
    touched.clear(); byVersion.clear(); deltaOf.clear()
    nextKey = n
    rowsChanged = 0L
    val wh = dir.resolve("warehouse").toString
    table = s"$wh/$Name"
    checkpoint = dir.resolve("drain-checkpoint").toString
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $Cat.$Name (k BIGINT, v BIGINT, tag STRING)")
    // range-clustered seed: 16 files of contiguous keys, so key-range
    // reads can skip files
    spark.sql(s"INSERT INTO $Cat.$Name SELECT id AS k, " +
      s"pmod(id * 2654435761 + $seed, 1000003) AS v, " +
      s"concat('t', CAST(id % 16 AS STRING)) AS tag FROM range(0, $n, 1, $SeedFiles)")
    spark.sql(s"CALL $Cat.system.analyze('$Name', 'k')")
    spark.sql(s"ALTER TABLE $Cat.$Name SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    liveCount = n
    liveSum = (0L until n).iterator.map(baseValue).sum
    head = VersionedTable.versions(spark, table).last
    VersionedTable.versions(spark, table).foreach { v =>
      byVersion(v.toLong) = if (v == head) (liveCount, liveSum) else (-1L, -1L)
    }
    // warm-up and consumer bootstrap: the first drain delivers the
    // seed snapshot; later drains only see what the passes commit
    val seen = mutable.ArrayBuffer[Int]()
    TableChangeStream.drain(spark, table, checkpoint) { (feed, v) =>
      feed.agg(count(lit(1))).collect()
      seen += v
    }
    require(seen.lastOption.contains(head), s"bootstrap drain ended at $seen, head $head")
    events.line(Json.obj("ev" -> "input", "name" -> "table_rows", "value" -> n, "unit" -> "rows"))
    events.line(Json.obj("ev" -> "input", "name" -> "table_bytes",
      "value" -> Main.dirBytes(java.nio.file.Paths.get(table)), "unit" -> "B"))
    events.line(Json.obj("ev" -> "input", "name" -> "table_files",
      "value" -> VersionedTable.dataFilesOf(VersionedTable.manifest(spark, table, head)).size,
      "unit" -> "files"))
  }

  /** Record the commit a write just made in the model. */
  private def committed(ctx: Ctx, before: (Long, Long)): Unit = {
    val vs = VersionedTable.versions(ctx.spark, table)
    ctx.check("one_commit_per_write", vs.last == head + 1,
      s"expected v${head + 1}, table head is v${vs.last}")
    head = vs.last
    byVersion(head.toLong) = (liveCount, liveSum)
    deltaOf(head.toLong) = (liveCount - before._1, liveSum - before._2)
    if (ctx.tracer.on) {
      val prev = VersionedTable.manifest(ctx.spark, table, head - 1)
      val cur = VersionedTable.manifest(ctx.spark, table, head)
      val a = VersionedTable.dataFilesOf(prev).toSet
      val b = VersionedTable.dataFilesOf(cur).toSet
      ctx.count("table.files_added", (b -- a).size)
      ctx.count("table.files_removed", (a -- b).size)
      ctx.count("table.live_files", b.size)
      ctx.count("table.live_dv_files", VersionedTable.dvFilesOf(cur).size)
    }
  }

  /** Run one write through the engine, then apply it to the model. */
  private def write(ctx: Ctx, name: String)(body: => Unit)(model: => Unit): Unit = {
    val before = (liveCount, liveSum)
    ctx.op("write", s"table.$name")(body)
    model
    committed(ctx, before)
  }

  private val Rounds = 3
  private val InsertRows = 200L
  private val MergeNewRows = 100L
  /** Rows a pass adds at the tail of the key space, in small files. */
  private val TailRows = Rounds * InsertRows + MergeNewRows

  private def insert(ctx: Ctx): Unit = {
    val m = InsertRows
    val a = nextKey
    nextKey += m
    val salt = rnd.nextInt(1000)
    write(ctx, "insert") {
      ctx.spark.sql(s"INSERT INTO $Cat.$Name SELECT id, pmod(id * 31 + $salt, 1000003), " +
        s"'ins' FROM range($a, ${a + m})")
    } {
      (a until a + m).foreach(k => set(k, Some(java.lang.Math.floorMod(k * 31 + salt, 1000003L))))
      rowsChanged += m
    }
  }

  private def delete(ctx: Ctx, file: Int): Unit = {
    val a = inSeedFile(file, 32)
    val present = (a until a + 32).count(k => valueOf(k).isDefined)
    write(ctx, "delete") {
      ctx.spark.sql(s"DELETE FROM $Cat.$Name WHERE k BETWEEN $a AND ${a + 31}")
    } {
      (a until a + 32).foreach(k => set(k, None))
      rowsChanged += present
    }
  }

  private def update(ctx: Ctx, file: Int): Unit = {
    val w = 1000L
    val a = inSeedFile(file, w)
    val d = 1 + rnd.nextInt(100)
    write(ctx, "update") {
      ctx.spark.sql(s"UPDATE $Cat.$Name SET v = v + $d WHERE k BETWEEN $a AND ${a + w - 1}")
    } {
      (a until a + w).foreach { k => valueOf(k).foreach { v => set(k, Some(v + d)); rowsChanged += 1 } }
    }
  }

  /** Upsert: the rows the last INSERT added (all matched) and
    * `MergeNewRows` new keys after them. The merge rewrites only that
    * insert's file, and the table's seed files keep their key ranges. */
  private def merge(ctx: Ctx): Unit = {
    val a = nextKey - InsertRows
    val b = nextKey
    nextKey += MergeNewRows
    val salt = rnd.nextInt(1000)
    val src = s"mrg_src"
    write(ctx, "merge") {
      ctx.spark.sql(s"CREATE OR REPLACE TEMP VIEW $src AS " +
        s"SELECT id AS k, pmod(id * 17 + $salt, 1000003) AS v, 'mrg' AS tag " +
        s"FROM range($a, ${b + MergeNewRows})")
      ctx.spark.sql(s"MERGE INTO $Cat.$Name t USING $src s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag " +
        "WHEN NOT MATCHED THEN INSERT *")
    } {
      (a until b + MergeNewRows).foreach { k =>
        set(k, Some(java.lang.Math.floorMod(k * 17 + salt, 1000003L)))
      }
      rowsChanged += InsertRows + MergeNewRows
    }
  }

  /** `CALL purge_tombstones` or `CALL optimize`; both commit in every pass. */
  private def maintain(ctx: Ctx, proc: String, targetRows: Long): Unit = {
    val before = (liveCount, liveSum)
    val v = ctx.op("write", "table.maintain") {
      ctx.spark.sql(s"CALL $Cat.system.$proc(`table` => '$Name', target_rows => $targetRows)")
        .collect().head.getLong(0)
    }
    if (v.toInt != head) committed(ctx, before)
  }

  private def agg(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  private def pointRead(ctx: Ctx, file: Int): Unit = {
    val w = 1000L
    val a = inSeedFile(file, w)
    val rows = ctx.op("read", "scan.point_read") {
      ctx.spark.sql(s"SELECT k, v FROM $Cat.$Name WHERE k BETWEEN $a AND ${a + w - 1}").collect()
    }
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = (a until a + w).flatMap(k => valueOf(k).map(v => (k, v)))
    val shown = if (ctx.corrupt) want.drop(1) else want
    ctx.check("point_read", got == shown,
      s"range [$a, ${a + w}): ${got.size} rows, model ${shown.size}")
    if (ctx.tracer.on) {
      val live = VersionedTable.dataFilesOf(VersionedTable.manifest(ctx.spark, table, head)).size
      ctx.count("scan.live_files", live)
    }
  }

  private def fullAgg(ctx: Ctx): Unit = {
    val got = ctx.op("read", "scan.agg_read") { agg(ctx.spark.table(s"$Cat.$Name")) }
    ctx.check("full_agg", got == (liveCount, liveSum), s"$got vs model ${(liveCount, liveSum)}")
  }

  private def timeTravel(ctx: Ctx): Unit = {
    // the version three commits back (or the oldest known one)
    val known = byVersion.filter(_._2._1 >= 0).keys.toIndexedSeq.sorted
    val v = known(math.max(0, known.size - 4))
    val got = ctx.op("read", "scan.time_travel") {
      agg(ctx.spark.sql(s"SELECT v FROM $Cat.$Name VERSION AS OF $v"))
    }
    ctx.check("time_travel", got == byVersion(v), s"v$v: $got vs model ${byVersion(v)}")
  }

  private def drain(ctx: Ctx): Unit = {
    // the consumer folds each delivered feed into (rows, sum of v, feed
    // rows) as it arrives
    val signed = when(col("change") === "insert", col("n")).otherwise(-col("n"))
    val seen = ctx.op("read", "stream.drain") {
      val folded = mutable.ArrayBuffer[(Int, Long, Long, Long)]()
      TableChangeStream.drain(ctx.spark, table, checkpoint) { (feed, v) =>
        val r = feed.agg(coalesce(sum(signed), lit(0L)), coalesce(sum(signed * col("v")), lit(0L)),
          coalesce(sum(col("n")), lit(0L))).collect().head
        folded += ((v, r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      folded.toSeq
    }
    val expected = deltaOf.keys.toSeq.sorted
    val got = seen.map(s => s._1.toLong)
    ctx.check("drain_versions", got == expected, s"drained $got, model $expected")
    seen.foreach { case (v, dc, ds, _) =>
      ctx.check("drain_feed", deltaOf.get(v.toLong).contains((dc, ds)),
        s"v$v feed ($dc, $ds) vs model ${deltaOf.get(v.toLong)}")
    }
    ctx.count("stream.versions_drained", seen.size)
    ctx.count("stream.feed_rows", seen.map(_._4).sum.toDouble)
    deltaOf.clear()
  }

  /** Ten writes and fourteen reads, the same in every pass. Three
    * rounds of a small INSERT and a point DELETE, each followed by a
    * key-range read, and a drain of the two commits, put the median
    * write among the small commits, the median read among the key-range
    * reads and the 90th percentile read among the round drains; the
    * UPDATE and the MERGE make the write tail. The deletes of a pass all
    * hit one seed file, so `purge_tombstones` rewrites that one file
    * into one file, and `optimize` compacts exactly the small files
    * this pass added at the tail: the layout after every pass is the
    * seed's, plus one tail file per pass. */
  override def pass(ctx: Ctx, i: Int): Unit = {
    val f = 3 * i
    (0 until Rounds).foreach { r =>
      insert(ctx); pointRead(ctx, f + 3 + 2 * r)
      delete(ctx, f); pointRead(ctx, f + 4 + 2 * r)
      drain(ctx)
    }
    update(ctx, f + 1); pointRead(ctx, f + 1)
    merge(ctx); pointRead(ctx, f + 2)
    maintain(ctx, "purge_tombstones", n / SeedFiles)
    maintain(ctx, "optimize", TailRows)
    fullAgg(ctx); timeTravel(ctx)
    drain(ctx)
    // write amplification of this pass: the table directory only grows
    // (nothing is vacuumed), so its growth is what the pass wrote
    ctx.count("table.bytes", Main.dirBytes(java.nio.file.Paths.get(table)).toDouble)
    ctx.count("table.rows_changed", rowsChanged.toDouble)
    rowsChanged = 0L
  }
}
