package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.GraftCatalog

/**
 * `file.format=orc` (Paimon's `file.format` CoreOption, DDL-exposed by
 * the reference like every option): table data writes/reads through
 * Spark's native ORC source; merge-on-read, schema evolution,
 * compaction, changelog, streaming all work through the format-aware
 * seams. ORC footers carry min/max/null statistics, so zone maps, data
 * skipping and metadata-only counts work like parquet (r14); bloom
 * indexes and deletion vectors stay parquet-only.
 */
class OrcFormatSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-orcwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    gc.createSchema("db")
  }

  test("append-only ORC: round trip, .orc files on disk, conservative stats") {
    import spark.implicits._
    gc.createTable("db", "o1", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "orc"))
    gc.append("db", "o1", (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    gc.append("db", "o1", (101L to 150L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(gc.read("db", "o1").count() === 150)
    assert(gc.read("db", "o1", snapshotId = Some(1L)).count() === 100)
    // data landed as ORC, not parquet
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$warehouse/db/o1"))
      .iterator()
    var orc = 0; var parquet = 0
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".orc")) orc += 1
      if (p.toString.endsWith(".parquet")) parquet += 1
    }
    assert(orc > 0 && parquet === 0)
    // ORC footers carry stats: metadata-only count is exact, and
    // readWhere zone-prunes the dir whose range can't match
    assert(gc.countRows("db", "o1") === Some(150L))
    val pruned = gc.readWhere("db", "o1", col("id") between (10, 20))
    assert(pruned.count() === 11)
    val dirs = pruned.inputFiles.map(f =>
      f.split("/").reverse.dropWhile(!_.startsWith("snap-")).head).toSet
    assert(dirs === Set("snap-1"), s"scanned $dirs") // snap-2 (101..150) pruned
    // $files and $partitions views work; row counts via ORC footers
    assert(gc.filesTable("db", "o1").agg(sum("n_part_files")).head().getLong(0) > 0)
    assert(gc.partitionsTable("db", "o1")
      .agg(sum("row_count")).head().getLong(0) === 150)
  }

  test("PK ORC table: merge-on-read, tombstones, compaction, changelog") {
    import spark.implicits._
    gc.createTable("db", "o2", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "orc"), primaryKey = Seq("id"))
    gc.upsert("db", "o2", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    gc.upsert("db", "o2", Seq((2L, "b2")).toDF("id", "v"))
    gc.deleteWhere("db", "o2", col("id") === 3L)
    def img() = gc.read("db", "o2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(img() === Seq((1L, "a"), (2L, "b2")))
    // schema evolution across ORC files (by-name write-time resolution)
    gc.renameColumn("db", "o2", "v", "w")
    gc.upsert("db", "o2", Seq((4L, "d")).toDF("id", "w"))
    assert(gc.read("db", "o2").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    gc.compact("db", "o2")
    assert(gc.read("db", "o2").count() === 3)
    // changelog over ORC deltas
    val cl = gc.readChangelog("db", "o2", 0L, 3L)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(cl === Seq((1L, "+U"), (2L, "+U"), (3L, "-D")))
  }

  test("SQL surface reads ORC through the merge bridge; INSERT writes ORC") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.go", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.go.warehouse", warehouse)
    spark.sql("CREATE TABLE go.db.o3 (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('file.format' = 'orc')")
    spark.sql("INSERT INTO go.db.o3 VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT v FROM go.db.o3 WHERE id = 2").head().getString(0) === "b")
    assert(gc.fileFormatOf("db", "o3") === "orc")
    // pushed filters still answer exactly through the spliced reader
    assert(spark.sql("SELECT count(*) FROM go.db.o3 WHERE id >= 2").head().getLong(0) === 1)
  }

  test("validation: unknown formats refused, format immutable; ORC " +
      "composes with DVs and bloom indexes (r16)") {
    import spark.implicits._
    val sch = Seq((1L, "x")).toDF("id", "v").schema
    intercept[IllegalArgumentException](gc.createTable("db", "bad1", sch,
      options = Map("file.format" -> "csv")))
    // DVs and bloom indexes are ORC-capable since r16 (DeletionVectorSpec
    // and BloomIndexSpec exercise both end-to-end)
    gc.createTable("db", "odv", sch,
      options = Map("file.format" -> "orc", "deletion-vectors" -> "true"))
    gc.createTable("db", "obl", sch,
      options = Map("file.format" -> "orc",
        "file-index.bloom-filter.columns" -> "id"))
    gc.createTable("db", "o4", sch, options = Map("file.format" -> "orc"))
    intercept[IllegalArgumentException](
      gc.setTableOptions("db", "o4", Map("file.format" -> "parquet")))
  }

  test("file-level streaming read follows ORC appends") {
    import spark.implicits._
    gc.createTable("db", "o5", Seq((1L, "x")).toDF("id", "v").schema,
      options = Map("file.format" -> "orc"))
    gc.append("db", "o5", Seq((1L, "a")).toDF("id", "v"))
    val q = gc.readStream("db", "o5")
      .writeStream.format("memory").queryName("orc_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      gc.append("db", "o5", Seq((2L, "b")).toDF("id", "v"))
      q.processAllAvailable()
      assert(spark.table("orc_stream_out").select("id")
        .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("ORC zone maps: long/string/date domains prune dirs, stay sound") {
    import spark.implicits._
    def day(i: Long) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i))
    val df = (1L to 90L).map(i => (i, f"k${100 + i}%03d", day(i), i % 2 == 0))
      .toDF("id", "name", "d", "flag")
    gc.createTable("db", "oz", df.schema, options = Map("file.format" -> "orc"))
    gc.append("db", "oz", df.filter(col("id") <= 30))
    gc.append("db", "oz", df.filter(col("id") > 30 && col("id") <= 60))
    gc.append("db", "oz", df.filter(col("id") > 60))
    def dirsOf(p: org.apache.spark.sql.DataFrame): Set[String] =
      p.inputFiles.map(f =>
        f.split("/").reverse.dropWhile(!_.startsWith("snap-")).head).toSet
    val q1 = gc.readWhere("db", "oz", col("id") > 65)
    assert(q1.count() === 25 && dirsOf(q1) === Set("snap-3"))
    val q2 = gc.readWhere("db", "oz", col("name") === "k145")
    assert(q2.count() === 1 && dirsOf(q2) === Set("snap-2"))
    val q3 = gc.readWhere("db", "oz", col("d") < lit(day(31)))
    assert(q3.count() === 30 && dirsOf(q3) === Set("snap-1"))
    // soundness: a predicate matching everything loses no rows
    assert(gc.readWhere("db", "oz",
      col("flag") === true || col("flag") === false).count() === 90)
    // metadata-only count stays exact across the three ORC dirs
    assert(gc.countRows("db", "oz") === Some(90L))
  }
}
