package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.GraftCatalog

/** The generated inputs of one seed (see `gen.py`). */
final class Inputs(val dir: String) {
  private val plan: JsonNode =
    new ObjectMapper().readTree(new java.io.File(s"$dir/plan.json"))
  private def longs(name: String): IndexedSeq[Long] = {
    val a = plan.get(name)
    (0 until a.size()).map(i => a.get(i).asLong())
  }
  val deltas: Int = plan.get("deltas").asInt()
  val deleteWidth: Long = plan.get("delete_width").asLong()
  val deleteLo: IndexedSeq[Long] = longs("delete_lo")
  val picks: IndexedSeq[Long] = longs("picks")
  def pick(i: Int): Long = picks(i % picks.size)
  def table(name: String): String = s"$dir/$name.parquet"
  def delta(d: Int): String = f"$dir/deltas/d$d%03d.parquet"
}

/** What a workload reports besides its ops: its set-up times and
  * figures read from the warehouse after the run. */
final case class Outcome(setupS: Seq[Double], extra: Map[String, Double])

/**
 * mor_read: set-up builds a bucket=4 PK table `orders` from one full upsert,
 * the delta upserts of the inputs and two range tombstones placed after a
 * third and two thirds of them, each commit a recorded op. The timed loop
 * cycles a uniform and a recently rewritten key, each looked up through
 * `readWhere` and through `spark.sql` on `GraftSparkCatalog`, then a
 * merge-on-read group-by, a time-travel read and an adjacent-snapshot
 * incremental read. In the traced run an untimed epilogue then compacts one
 * bucket and the whole table, checks the result and looks a key up again.
 *
 * Every answer is checked against an expected image kept in driver memory
 * with no graft code: rows from the source parquet through plain Spark,
 * upserts replacing by key, deletes dropping key ranges.
 */
final class MorRead(r: Runner, in: Inputs, wh: String, work: String, corrupt: Boolean) {
  private val spark = r.spark
  private val cat = new GraftCatalog(spark, wh)
  private val T = "orders"
  private val Key = "o_orderkey"
  private val base = spark.read.parquet(in.table("orders"))
  private val schema = base.schema
  private val image = new Image(schema, Key)
  image.upsert(base.collect().toSeq)
  /** Expected fingerprint of every snapshot, and of what it added. */
  private val snapSums = mutable.LinkedHashMap.empty[Long, (Sum, Sum)]
  /** Keys of the last four deltas, for the hot half of the lookups. */
  private val recentKeys = mutable.Queue.empty[IndexedSeq[Long]]
  private val DeleteAfter = Seq(in.deltas / 3, 2 * in.deltas / 3)

  cat.createSchema("db")
  spark.conf.set("spark.sql.catalog.graftbench", "graft.sources.GraftSparkCatalog")
  spark.conf.set("spark.sql.catalog.graftbench.warehouse", wh)

  /** Lookup key `i`: even draws are uniform over the key space, odd draws
    * come from keys the last four deltas rewrote. */
  private def lookupKey(i: Int): Long = {
    val p = in.pick(i)
    val hot = recentKeys.flatten.toIndexedSeq
    if (i % 2 == 1) hot((p % hot.size).toInt) else p % (image.keys.max + 1)
  }

  private def values(row: Row): Seq[Any] = schema.fieldNames.toSeq.map(n => row.getAs[Any](n))

  private def pointRead(kind: String, k: Long, sql: Boolean): Unit = r.op(kind) {
    val df = r.call(
      if (sql) spark.sql(s"SELECT * FROM graftbench.db.$T WHERE $Key = $k")
      else cat.readWhere("db", T, col(Key) === k))
    val rows = r.action(df.collect()).toSeq
    (rows.size.toLong, () => rows.map(values) == image.get(k).toSeq.map(values))
  }

  /** One set-up commit: the graft call, and the expected image after it
    * and of what it added, both computed before any commit is timed. */
  private final case class Commit(kind: String, rows: Long, call: () => Long,
      at: Sum, added: Sum)

  /** The set-up commits in order: the full upsert, the deltas and the two
    * tombstones. Reading the deltas and updating the expected image happen
    * here, outside the timed commits. */
  private def setupCommits(): Seq[Commit] = {
    val out = mutable.ArrayBuffer(
      Commit("upsert", image.size.toLong, () => cat.upsert("db", T, base), image.sum, image.sum))
    (0 until in.deltas).foreach { d =>
      val df = spark.read.parquet(in.delta(d))
      val rows = df.collect().toSeq
      image.upsert(rows)
      recentKeys.enqueue(rows.map(_.getAs[Long](Key)).toIndexedSeq)
      if (recentKeys.size > 4) recentKeys.dequeue()
      out += Commit("upsert", rows.size.toLong, () => cat.upsert("db", T, df),
        image.sum, image.fingerprint(rows))
      if (DeleteAfter.contains(d)) {
        val lo = in.deleteLo(DeleteAfter.indexOf(d))
        val hi = lo + in.deleteWidth - 1
        image.delete(lo, hi)
        out += Commit("delete", 0L, () => cat.deleteWhere("db", T, col(Key).between(lo, hi)),
          image.sum, Sum.empty)
      }
    }
    out.toSeq
  }

  def run(seconds: Double): Outcome = {
    val planned = setupCommits()
    cat.createTable("db", T, schema, options = Map("bucket" -> "4"), primaryKey = Seq(Key))
    r.enter("setup")
    planned.foreach { c =>
      r.op(c.kind) {
        snapSums(r.call(c.call())) = (c.at, c.added)
        (c.rows, () => true) // snapshots are read back and checked by the loop
      }
    }
    // set-up time is the graft commits alone, not the harness's preparation
    val setupS = r.ops.filter(_.phase == "setup").map(_.ms).sum / 1e3
    if (corrupt) { // self-test: a deliberately wrong expected image
      image.corrupt()
      snapSums.mapValuesInPlace { case (_, (at, added)) =>
        (at.copy(count = at.count + 1), added.copy(count = added.count + 1))
      }
    }
    val snaps = snapSums.keys.toIndexedSeq
    val grouped = image.values.groupBy(_.getAs[String]("o_orderstatus")).map {
      case (st, rs) => (st, rs.size.toLong,
        rs.map(x => BigDecimal(x.getAs[Double]("o_totalprice")).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum)
    }.toSeq.sortBy(_._1)
    // One cycle: a uniform and a recently rewritten key (the warm-up uses
    // only the first), a scan, a time-travel read at one of the four newest
    // snapshots and an incremental read between two adjacent snapshots.
    def cycle(i: Int, keys: Int): Unit = {
      (0 until keys).map(j => lookupKey(2 * i + j)).foreach { k =>
        r.sampleLiveDirs(cat.snapshotFileEntries("db", T).size)
        pointRead("point_read", k, sql = false)
        pointRead("sql_point_read", k, sql = true)
      }
      r.op("scan_agg") {
        val rows = r.action(r.call(cat.read("db", T)).groupBy("o_orderstatus")
          .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")))
          .collect()).toSeq
        (rows.size.toLong, () => rows.map(x =>
          (x.getString(0), x.getLong(1), BigDecimal(x.getDecimal(2)))).sortBy(_._1) == grouped)
      }
      val at = snaps(snaps.size - 1 - (in.pick(3 * i) % 4).toInt)
      r.op("time_travel") {
        val got = r.action(Sum.of(r.call(cat.read("db", T, snapshotId = Some(at))), schema))
        (got.count, () => got == snapSums(at)._1)
      }
      val to = 1 + (in.pick(3 * i + 1) % (snaps.size - 1)).toInt
      r.op("incremental") {
        val got = r.action(Sum.of(
          r.call(cat.readIncremental("db", T, snaps(to - 1), snaps(to))), schema))
        (got.count, () => got == snapSums(snaps(to))._2)
      }
    }
    r.enter("warmup")
    cycle(0, keys = 1)
    r.enter("loop")
    Loop.cycles(seconds, minCycles = 2)(i => cycle(i + 1, keys = 2))
    if (r.tracer.isEmpty) return Outcome(Seq(setupS), Map.empty)

    // Traced runs only: the per-layer compaction and storage figures.
    r.enter("epilogue")
    r.op("compact_bucket") {
      r.call(cat.compactBuckets("db", T, Seq((in.pick(7) % 4).toInt)))
      (0L, () => true) // checked through the full compaction built on it
    }
    r.op("compact") {
      r.call(cat.compact("db", T))
      (0L, () => Sum.of(cat.read("db", T), schema) == image.sum)
    }
    pointRead("point_read_compacted", lookupKey(1), sql = false)
    val stored = Walk(s"$wh/db/$T")
    val finalImage = s"$work/final_image"
    spark.createDataFrame(image.values.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(finalImage)
    val commits = r.ops.count(o => Report.Commits(o.kind))
    val upserts = r.ops.filter(_.kind == "upsert")
    Outcome(Seq(setupS), Map(
      "rows_committed_per_s" -> upserts.map(_.rows).sum / (upserts.map(_.ms).sum / 1e3),
      "bytes_stored_per_user_byte" -> stored.bytes.toDouble / Walk(finalImage).dataBytes,
      "metadata_bytes_per_commit" -> stored.metaBytes.toDouble / commits,
      "data_files_per_commit" -> stored.dataFiles.toDouble / commits))
  }
}

/**
 * query_mix: registered `SparkEntry` queries over the raw tables, no
 * warehouse. Set-up opens every table through `graft.sources.Tables`. The
 * warm-up pass runs every query once, keeps its rows as the reference for
 * the timed runs and writes them out for the DuckDB oracle check that
 * `run.py` makes after the harness exits.
 */
final class QueryMix(r: Runner, in: Inputs, work: String, queries: Seq[String]) {
  private val spark = r.spark
  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  def run(seconds: Double): Outcome = {
    r.enter("setup")
    val setup = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Tables.foreach(n => graft.sources.Tables(spark, in.dir, n).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val fns = queries.map(q => q -> graft.SparkEntry.queries(q))
    r.enter("warmup")
    val reference = fns.map { case (q, fn) =>
      val df = fn(spark, in.dir)
      val rows = df.collect().toSeq
      spark.createDataFrame(rows.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/qout/$q")
      q -> rows
    }.toMap
    r.enter("loop")
    Loop.cycles(seconds, minCycles = 1) { _ =>
      fns.foreach { case (q, fn) =>
        r.op(s"operators.$q") {
          val rows = r.action(r.build(fn(spark, in.dir)).collect()).toSeq
          (rows.size.toLong, () => rows == reference(q))
        }
      }
    }
    Outcome(setup, Map.empty)
  }
}

object Loop {
  /** Runs whole cycles, at least `minCycles`, until `seconds` have passed.
    * Every run thus sees each op kind in the same proportion. */
  def cycles(seconds: Double, minCycles: Int)(cycle: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCycles || (System.nanoTime() - t0) / 1e9 < seconds) { cycle(i); i += 1 }
    i
  }
}

/** Bytes and files under a directory, split into parquet data files and
  * everything else (manifests, snapshot logs, stats sidecars). */
final case class Walk(bytes: Long, dataBytes: Long, dataFiles: Long) {
  def metaBytes: Long = bytes - dataBytes
}

object Walk {
  def apply(dir: String): Walk = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val fs = files.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      val data = fs.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".")
      }
      Walk(fs.map(java.nio.file.Files.size).sum,
        data.map(java.nio.file.Files.size).sum, data.size.toLong)
    } finally files.close()
  }
}
