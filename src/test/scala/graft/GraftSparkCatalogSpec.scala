package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.GraftCatalog

/**
 * The SQL-connector surface: `spark.sql` against a registered
 * `graft.sources.GraftSparkCatalog` — DDL, scans with pushdown, time
 * travel, ALTER TABLE column evolution, and the read-only write guard.
 */
class GraftSparkCatalogSpec extends SparkSpecBase {

  private lazy val warehouse = Files.createTempDirectory("graft-sqlwh").toString
  private lazy val gc: GraftCatalog = new GraftCatalog(spark, warehouse)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.g", "graft.sources.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.g.warehouse", warehouse)
  }

  test("SQL DDL + scan: create namespace/table, library write, SQL read") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE g.db")
    spark.sql("CREATE TABLE g.db.t (id BIGINT, name STRING)")
    assert(spark.sql("SHOW TABLES IN g.db").collect().map(_.getString(1)).toSeq === Seq("t"))
    // empty table scans as zero rows with the declared schema
    assert(spark.sql("SELECT * FROM g.db.t").count() === 0)
    gc.append("db", "t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    assert(spark.sql("SELECT name FROM g.db.t WHERE id >= 2 ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("b", "c"))
    // pushdown reaches the parquet scan
    val plan = spark.sql("SELECT name FROM g.db.t WHERE id >= 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual"),
      s"filter not pushed:\n$plan")
  }

  test("SQL time travel: VERSION AS OF / TIMESTAMP AS OF") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.tt (id BIGINT, name STRING)")
    gc.append("db", "tt", Seq((1L, "a")).toDF("id", "name"))
    gc.append("db", "tt", Seq((2L, "b")).toDF("id", "name"))
    assert(spark.sql("SELECT count(*) FROM g.db.tt").head().getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM g.db.tt VERSION AS OF 1").head().getLong(0) === 1)
    val ts1 = gc.snapshots("db", "tt").head.timestampMillis
    val lit = new java.sql.Timestamp(ts1).toInstant.toString
    assert(spark.sql(s"SELECT count(*) FROM g.db.tt TIMESTAMP AS OF '$lit'")
      .head().getLong(0) === 1)
  }

  test("ALTER TABLE column DDL routes through metadata-only evolution") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.ev (id BIGINT, name STRING)")
    gc.append("db", "ev", Seq((1L, "a")).toDF("id", "name"))
    spark.sql("ALTER TABLE g.db.ev ADD COLUMN extra INT")
    spark.sql("ALTER TABLE g.db.ev RENAME COLUMN name TO label")
    assert(gc.currentSchema("db", "ev").fieldNames.toSeq === Seq("id", "label", "extra"))
    // pre-evolution files are served immediately via the read-time merge
    // scan (field-id mapping) — no compact prerequisite
    val row = spark.sql("SELECT id, label, extra FROM g.db.ev").head()
    assert(row.getLong(0) === 1L && row.getString(1) === "a" && row.isNullAt(2))
    spark.sql("ALTER TABLE g.db.ev DROP COLUMN extra")
    assert(spark.sql("SELECT * FROM g.db.ev").columns.toSeq === Seq("id", "label"))
  }

  test("$audit_log serves the row-kinded changelog as a distributed table") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "aud", Seq((1L, "a")).toDF("id", "v").schema,
      primaryKey = Seq("id"))
    gc.upsert("db", "aud", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.upsert("db", "aud", Seq((2L, "b2")).toDF("id", "v"))
    gc.deleteWhere("db", "aud", col("id") === 1L)
    val rows = spark.sql(
      "SELECT id, v, _row_kind FROM g.db.`aud$audit_log` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.get(1), r.getString(2))).toSeq
    assert(rows === Seq((1L, null, "-D"), (2L, "b2", "+U")))
    // filters apply over the spliced changelog plan
    val q = spark.sql(
      "SELECT count(*) FROM g.db.`aud$audit_log` WHERE _row_kind = '-D'")
    assert(q.head().getLong(0) === 1L)
    // the changelog plan itself runs under the query: parquet scans,
    // no row-bridge RDD scan
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("RDDScan"),
      s"$$audit_log still reads through an RDD scan:\n$plan")
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"no parquet scan in the spliced $$audit_log plan:\n$plan")
  }

  test("$ro serves the read-optimized snapshot through the native path") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "rot", Seq((1L, "a")).toDF("id", "v").schema,
      primaryKey = Seq("id"))
    gc.upsert("db", "rot", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.upsert("db", "rot", Seq((2L, "b2")).toDF("id", "v"))
    // live table merges the delta; $ro serves the last resolved snapshot
    assert(spark.sql("SELECT v FROM g.db.rot WHERE id = 2").head().getString(0) === "b2")
    assert(spark.sql("SELECT v FROM g.db.`rot$ro` WHERE id = 2").head().getString(0) === "b")
    // $ro is the raw parquet path: BatchScan, no merge
    val plan = spark.sql("SELECT * FROM g.db.`rot$ro`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected native scan:\n$plan")
    gc.compact("db", "rot")
    assert(spark.sql("SELECT v FROM g.db.`rot$ro` WHERE id = 2").head().getString(0) === "b2")
    // $ro is read-only: DML must not silently mutate the base table
    intercept[Exception](spark.sql("INSERT INTO g.db.`rot$ro` VALUES (9, 'x')"))
    assert(spark.sql("SELECT count(*) FROM g.db.rot").head().getLong(0) === 2L)
    // VERSION AS OF bounds the resolved snapshot ($ro at snapshot 1)
    assert(spark.sql("SELECT v FROM g.db.`rot$ro` VERSION AS OF 2 WHERE id = 2")
      .head().getString(0) === "b")
    // travel-to-tag resolves against the BASE table for suffixed names
    gc.createTag("db", "rot", "before-compact", Some(1L))
    assert(spark.sql(
      "SELECT v FROM g.db.`rot$ro` VERSION AS OF 'before-compact' WHERE id = 2")
      .head().getString(0) === "b")
    // no resolved snapshot (a tombstone before the first data): $ro
    // reads as empty with the table's schema, and stays read-only
    gc.createTable("db", "rotnone", Seq((1L, "a")).toDF("id", "v").schema,
      primaryKey = Seq("id"))
    gc.deleteWhere("db", "rotnone", col("id") === 1L)
    gc.upsert("db", "rotnone", Seq((1L, "a2")).toDF("id", "v"))
    assert(gc.resolvedSnapshotId("db", "rotnone") === None)
    val none = spark.sql("SELECT * FROM g.db.`rotnone$ro`")
    assert(none.columns.toSeq === Seq("id", "v") && none.count() === 0L)
    intercept[Exception](spark.sql("INSERT INTO g.db.`rotnone$ro` VALUES (9, 'x')"))
    assert(spark.sql("SELECT v FROM g.db.rotnone").collect().map(_.getString(0))
      .toSeq === Seq("a2"))
  }

  test("ALTER COLUMN TYPE widens metadata-only; narrowing refuses") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.tw (id BIGINT, v INT)")
    gc.append("db", "tw", Seq((1L, 7)).toDF("id", "v"))
    spark.sql("ALTER TABLE g.db.tw ALTER COLUMN v TYPE BIGINT")
    assert(spark.sql("SELECT v FROM g.db.tw").schema("v").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT v FROM g.db.tw WHERE id = 1").head().getLong(0) === 7L)
    intercept[Exception](spark.sql("ALTER TABLE g.db.tw ALTER COLUMN v TYPE INT"))
  }

  test("PK tables merge at read time via SQL; INSERT upserts") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.pk (id BIGINT, name STRING) TBLPROPERTIES ('primary-key'='id')")
    assert(gc.primaryKeyOf("db", "pk") === Seq("id"))
    gc.upsert("db", "pk", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    gc.upsert("db", "pk", Seq((2L, "b2")).toDF("id", "name"))
    // two unresolved deltas: SELECT merges at read time, newest wins
    assert(spark.sql("SELECT name FROM g.db.pk WHERE id = 2").head().getString(0) === "b2")
    // SQL INSERT routes through the upsert commit (merge-on-read)
    spark.sql("INSERT INTO g.db.pk VALUES (2, 'b3'), (9, 'x')")
    assert(spark.sql("SELECT name FROM g.db.pk WHERE id IN (2, 9) ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("b3", "x"))
    // compaction materializes the same image back onto the fast raw path
    gc.compact("db", "pk")
    assert(spark.sql("SELECT id, name FROM g.db.pk ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b3"), (9L, "x")))
  }

  test("uncompacted 3-delta PK table with tombstones scans via SQL") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.mor (id BIGINT, name STRING) TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "mor", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    gc.upsert("db", "mor", Seq((2L, "b2"), (4L, "d")).toDF("id", "name"))
    gc.deleteWhere("db", "mor", col("id") === 3L)
    // three deltas (two upserts + a tombstone), zero compactions
    assert(spark.sql("SELECT id, name FROM g.db.mor ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // count(*) exercises the empty-projection path of the merge scan
    assert(spark.sql("SELECT count(*) FROM g.db.mor").head().getLong(0) === 3L)
    // time travel still resolves MoR at the pinned snapshot
    assert(spark.sql("SELECT count(*) FROM g.db.mor VERSION AS OF 2").head().getLong(0) === 4L)
    // pushed filters are honored on the MERGED view: id=2 must be b2, and
    // the tombstoned key must not resurface under a filter
    assert(spark.sql("SELECT name FROM g.db.mor WHERE id = 2").head().getString(0) === "b2")
    assert(spark.sql("SELECT count(*) FROM g.db.mor WHERE id = 3").head().getLong(0) === 0L)
  }

  test("INSERT INTO / INSERT OVERWRITE are atomic snapshot commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.w (id BIGINT, name STRING)")
    spark.sql("INSERT INTO g.db.w VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO g.db.w SELECT id + 10, name FROM g.db.w")
    assert(spark.sql("SELECT count(*) FROM g.db.w").head().getLong(0) === 4)
    assert(gc.snapshots("db", "w").map(_.id) === Seq(1L, 2L))
    // every prior state stays time-travelable
    assert(spark.sql("SELECT count(*) FROM g.db.w VERSION AS OF 1").head().getLong(0) === 2)
    spark.sql("INSERT OVERWRITE g.db.w VALUES (99, 'z')")
    assert(spark.sql("SELECT id FROM g.db.w").collect().map(_.getLong(0)).toSeq === Seq(99L))
    assert(spark.sql("SELECT count(*) FROM g.db.w VERSION AS OF 2").head().getLong(0) === 4)
  }

  test("INSERT OVERWRITE honors dynamic partitionOverwriteMode") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.dyn (id BIGINT, day STRING) PARTITIONED BY (day)")
    spark.sql("INSERT INTO g.db.dyn VALUES (1, 'd1'), (2, 'd2'), (3, 'd3')")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // dynamic: only d1 is replaced
      spark.sql("INSERT OVERWRITE g.db.dyn VALUES (10, 'd1')")
      assert(spark.sql("SELECT id FROM g.db.dyn ORDER BY id")
        .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L, 10L))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    // static (default): the whole table is replaced
    spark.sql("INSERT OVERWRITE g.db.dyn VALUES (20, 'd2')")
    assert(spark.sql("SELECT id FROM g.db.dyn").collect()
      .map(_.getLong(0)).toSeq === Seq(20L))
  }

  test("INSERT after ALTER writes at the evolved schema") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.evw (id BIGINT, name STRING)")
    spark.sql("INSERT INTO g.db.evw VALUES (1, 'a')")
    spark.sql("ALTER TABLE g.db.evw ADD COLUMN score INT")
    spark.sql("INSERT INTO g.db.evw VALUES (2, 'b', 7)")
    val rows = spark.sql("SELECT id, name, score FROM g.db.evw ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.head.isNullAt(2) && rows.last.getInt(2) === 7)
  }

  test("DELETE FROM commits a tombstone snapshot on PK tables") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.del (id BIGINT, name STRING) TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "del", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    spark.sql("DELETE FROM g.db.del WHERE id = 2")
    assert(spark.sql("SELECT id FROM g.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the delete added a snapshot; pre-delete state is still time-travelable
    assert(gc.read("db", "del", snapshotId = Some(1L)).count() === 3)
    // richer predicate shapes route through the filter translation; every
    // scan below rides the read-time merge (tombstone deltas uncompacted)
    gc.upsert("db", "del", Seq((10L, "j"), (11L, "k"), (12L, "l")).toDF("id", "name"))
    spark.sql("DELETE FROM g.db.del WHERE id IN (10, 11) AND name IS NOT NULL")
    spark.sql("DELETE FROM g.db.del WHERE id > 11 AND name = 'l'")
    assert(spark.sql("SELECT id FROM g.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // append-only tables refuse row-level delete (no PK to tombstone)
    spark.sql("CREATE TABLE g.db.del2 (id BIGINT)")
    spark.sql("INSERT INTO g.db.del2 VALUES (1)")
    intercept[Exception](spark.sql("DELETE FROM g.db.del2 WHERE id = 1"))
  }

  test("DELETE FROM with subqueries tombstones PK tables") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.dsq (id BIGINT, grp INT, v INT) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "dsq", (1L to 20L).map(i =>
      (i, (i % 4).toInt, (i * 10).toInt)).toDF("id", "grp", "v"))
    spark.sql("CREATE TABLE g.db.dsqref (k BIGINT)")
    spark.sql("INSERT INTO g.db.dsqref VALUES (3), (7), (11)")
    // IN subquery over another table
    spark.sql("DELETE FROM g.db.dsq WHERE id IN (SELECT k FROM g.db.dsqref)")
    assert(spark.sql("SELECT count(*) FROM g.db.dsq").head.getLong(0) === 17L)
    assert(spark.sql("SELECT count(*) FROM g.db.dsq WHERE id IN (3, 7, 11)")
      .head.getLong(0) === 0L)
    // correlated EXISTS + extra conjunct
    spark.sql("DELETE FROM g.db.dsq WHERE grp = 2 AND EXISTS " +
      "(SELECT 1 FROM g.db.dsqref r WHERE r.k < dsq.id)")
    // grp=2 ids: 2,6,10,14,18; EXISTS(k < id) true for id > 3 -> 6,10,14,18 go
    assert(spark.sql("SELECT id FROM g.db.dsq WHERE grp = 2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // pre-delete images stay time-travelable
    assert(gc.read("db", "dsq", snapshotId = Some(1L)).count() === 20)
    // append-only (no PK, no DV) still refuses with Spark's own error
    intercept[Exception](spark.sql(
      "DELETE FROM g.db.del2 WHERE id IN (SELECT k FROM g.db.dsqref)"))
  }

  test("partitioned tables: identity transform round-trip + pruning") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.pt (id BIGINT, region STRING) PARTITIONED BY (region)")
    assert(gc.partitionColumnsOf("db", "pt") === Seq("region"))
    gc.append("db", "pt",
      Seq((1L, "emea"), (2L, "apac"), (3L, "emea")).toDF("id", "region"))
    assert(spark.sql("SELECT id FROM g.db.pt WHERE region = 'emea' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val plan = spark.sql("SELECT id FROM g.db.pt WHERE region = 'emea'")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Filter [region"), s"partition filter not pruned:\n$plan")
  }

  test("metadata tables via SQL suffix: t$snapshots / t$files / t$schemas / t$options") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.md (id BIGINT, name STRING) TBLPROPERTIES ('retention'='30d')")
    gc.append("db", "md", Seq((1L, "a")).toDF("id", "name"))
    gc.append("db", "md", Seq((2L, "b")).toDF("id", "name"))
    val snaps = spark.sql("SELECT snapshot_id, n_added_dirs FROM g.db.`md$snapshots` ORDER BY snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(snaps.map(_.getInt(1)).toSeq === Seq(1, 1))
    assert(spark.sql("SELECT count(*) FROM g.db.`md$files`").head().getLong(0) === 2)
    // snapshot-scoped views honor time travel: $files at snapshot 1
    assert(spark.sql("SELECT count(*) FROM g.db.`md$files` VERSION AS OF 1")
      .head().getLong(0) === 1)
    assert(spark.sql("SELECT count(*) FROM g.db.`md$partitions` VERSION AS OF 1")
      .head().getLong(0) === 1)
    assert(spark.sql("SELECT field_name FROM g.db.`md$schemas` ORDER BY field_id")
      .collect().map(_.getString(0)).toSeq === Seq("id", "name"))
    val opts = spark.sql("SELECT key, value FROM g.db.`md$options`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(opts("retention") === "30d")
    intercept[Exception](spark.sql("SELECT * FROM g.db.`nope$snapshots`").collect())
  }

  test("SQL UPDATE commits a merge-on-read upsert snapshot") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.up (id BIGINT, name STRING, score INT) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "up", Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "score"))
    spark.sql("UPDATE g.db.up SET score = score + 5, name = upper(name) WHERE id >= 2")
    val rows = spark.sql("SELECT id, name, score FROM g.db.up ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows === Seq((1L, "a", 10), (2L, "B", 25), (3L, "C", 35)))
    // the update added ONE upsert snapshot (not a table rewrite); the
    // pre-update image is still time-travelable
    assert(gc.snapshots("db", "up").map(_.id) === Seq(1L, 2L))
    assert(gc.read("db", "up", snapshotId = Some(1L))
      .filter(col("id") === 2L).head().getInt(2) === 20)
    // assigning a primary-key column is refused (silent-duplicate hazard)
    intercept[Exception](spark.sql("UPDATE g.db.up SET id = id + 100"))
    // SQL semantics: every assignment's RHS sees the OLD row — a swap-like
    // pair must not feed one assignment into the other
    spark.sql("UPDATE g.db.up SET name = CAST(score AS STRING), score = length(name) WHERE id = 1")
    val r1 = spark.sql("SELECT name, score FROM g.db.up WHERE id = 1").head()
    assert(r1.getString(0) === "10" && r1.getInt(1) === 1) // from old ("a", 10)
    // subqueries in the condition execute as ordinary Catalyst plans
    // (the live-plan transport carries them through the command)
    spark.sql("""UPDATE g.db.up SET score = -1
      WHERE id IN (SELECT id FROM g.db.up WHERE name = 'B')""")
    assert(spark.sql("SELECT id FROM g.db.up WHERE score = -1")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("MERGE/UPDATE conditions accept IN/EXISTS subqueries") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.sq (id BIGINT, name STRING, score INT) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "sq", Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "name", "score"))
    Seq((1L, "A1"), (2L, "B1"), (3L, "C1"), (9L, "I1"))
      .toDF("id", "name").createOrReplaceTempView("sq_src")
    Seq(2L, 3L, 9L).toDF("k").createOrReplaceTempView("sq_allow")
    // WHEN MATCHED AND t.id IN (SELECT ...): only allowed matched keys
    // update; the unlisted match (id=1) is untouched; the insert leg
    // takes an EXISTS guard too
    spark.sql("""
      MERGE INTO g.db.sq t USING sq_src s ON t.id = s.id
      WHEN MATCHED AND t.id IN (SELECT k FROM sq_allow) THEN UPDATE SET name = s.name
      WHEN NOT MATCHED AND EXISTS (SELECT 1 FROM sq_allow a WHERE a.k = s.id)
        THEN INSERT (id, name, score) VALUES (s.id, s.name, 0)
    """)
    val rows = spark.sql("SELECT id, name FROM g.db.sq ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "B1"), (3L, "C1"), (4L, "d"), (9L, "I1")))
    // correlated NOT EXISTS in a DELETE action condition
    spark.sql("""
      MERGE INTO g.db.sq t USING sq_src s ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND NOT EXISTS
        (SELECT 1 FROM sq_allow a WHERE a.k = t.id) THEN DELETE
    """)
    assert(spark.sql("SELECT id FROM g.db.sq ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 9L))
  }

  test("SQL MERGE INTO lands one atomic snapshot of updates+inserts+deletes") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.mt (id BIGINT, name STRING, score INT) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "mt", Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "name", "score"))
    Seq((2L, "B2", 200), (3L, "C2", -1), (9L, "i", 90))
      .toDF("id", "name", "score").createOrReplaceTempView("src")
    spark.sql("""
      MERGE INTO g.db.mt t USING src s ON t.id = s.id
      WHEN MATCHED AND s.score < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.name, score = t.score + s.score
      WHEN NOT MATCHED THEN INSERT (id, name, score) VALUES (s.id, s.name, s.score)
    """)
    val rows = spark.sql("SELECT id, name, score FROM g.db.mt ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    // 1 untouched, 2 updated (20+200), 3 deleted (score<0), 4 untouched, 9 inserted
    assert(rows === Seq((1L, "a", 10), (2L, "B2", 220), (4L, "d", 40), (9L, "i", 90)))
    // ONE new snapshot carries the whole merge (atomic data+tombstone pair)
    assert(gc.snapshots("db", "mt").map(_.id) === Seq(1L, 2L))
    assert(gc.read("db", "mt", snapshotId = Some(1L)).count() === 4)
    // NOT MATCHED BY SOURCE sweeps rows the source no longer covers
    spark.sql("""
      MERGE INTO g.db.mt t USING src s ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.id > 1 THEN DELETE
    """)
    assert(spark.sql("SELECT id FROM g.db.mt ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 9L))
  }

  test("MERGE guards: PK assignment and reserved marker names are refused") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.mg (id BIGINT, name STRING) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "mg", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    Seq((2L, "B")).toDF("id", "name").createOrReplaceTempView("mgsrc")
    // assigning the primary key in an UPDATE action would upsert under the
    // NEW key without tombstoning the old one — refused up front
    val e1 = intercept[Exception](spark.sql("""
      MERGE INTO g.db.mg t USING mgsrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET id = s.id + 100, name = s.name
    """))
    assert(e1.getMessage.contains("primary-key"))
    // a source carrying a reserved marker column breaks the presence-join
    // partitioning — refused with a clear error
    Seq((2L, "B", true)).toDF("id", "name", "__sp").createOrReplaceTempView("mgbad")
    val e2 = intercept[Exception](spark.sql("""
      MERGE INTO g.db.mg t USING mgbad s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET name = s.name
    """))
    assert(e2.getMessage.contains("__sp") || e2.getMessage.contains("reserve"))
    // the un-violating merge still works
    spark.sql("""
      MERGE INTO g.db.mg t USING mgsrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET name = s.name
    """)
    assert(spark.sql("SELECT name FROM g.db.mg WHERE id = 2").head().getString(0) === "B")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the target from the source") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.se (id BIGINT, name STRING) " +
      "TBLPROPERTIES ('primary-key'='id')")
    gc.upsert("db", "se", Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // source carries an extra column the target lacks
    Seq((2L, "B", 20), (5L, "e", 50)).toDF("id", "name", "score")
      .createOrReplaceTempView("se_src")
    spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO g.db.se t USING se_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    // the column DDL landed (metadata-only evolution)...
    assert(gc.currentSchema("db", "se").fieldNames.toSeq === Seq("id", "name", "score"))
    // ...and the merged image has the widened rows; pre-evolution row 1
    // serves score as null via the field-id mapping
    val rows = spark.sql("SELECT id, name, score FROM g.db.se ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq
    assert(rows === Seq((1L, "a", None), (2L, "B", Some(20)), (5L, "e", Some(50))))
    // UPDATE SET * assigned pk = s.id — allowed because the merge
    // condition proves it a no-op; an unproven pk assignment still fails
    val e = intercept[Exception](spark.sql("""
      MERGE INTO g.db.se t USING se_src s ON t.name = s.name
      WHEN MATCHED THEN UPDATE SET id = s.id
    """))
    assert(e.getMessage.contains("primary-key"))
  }

  test("column comments flow through SQL DDL (CREATE / ALTER / DESCRIBE)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.cmt (id BIGINT COMMENT 'row id', name STRING)")
    assert(gc.currentSchema("db", "cmt")("id").getComment().contains("row id"))
    spark.sql("ALTER TABLE g.db.cmt ADD COLUMN score INT COMMENT 'quality'")
    spark.sql("ALTER TABLE g.db.cmt ALTER COLUMN name COMMENT 'display name'")
    val cur = gc.currentSchema("db", "cmt")
    assert(cur("score").getComment().contains("quality"))
    assert(cur("name").getComment().contains("display name"))
    val desc = spark.sql("DESCRIBE TABLE g.db.cmt").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("id") === "row id" && desc("score") === "quality")
    // $schemas metadata table shows the comment column
    assert(spark.sql("SELECT field_comment FROM g.db.`cmt$schemas` WHERE field_name = 'id'")
      .collect().map(_.getString(0)).distinct.toSeq === Seq("row id"))
  }

  test("$partitions metadata table reports per-partition file stats") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.parts (id BIGINT, region STRING) PARTITIONED BY (region)")
    gc.append("db", "parts",
      Seq((1L, "emea"), (2L, "apac"), (3L, "emea")).toDF("id", "region"))
    gc.append("db", "parts", Seq((4L, "emea")).toDF("id", "region"))
    val rows = spark.sql(
      "SELECT partition, n_files, row_count FROM g.db.`parts$partitions` " +
        "ORDER BY partition").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // two commits hit emea (3 rows total), one hit apac (1 row)
    val byPart = rows.groupBy(_._1).view.mapValues(v =>
      (v.map(_._2).sum, v.map(_._3).sum)).toMap
    assert(byPart("region=apac")._2 === 1L)
    assert(byPart("region=emea")._2 === 3L && byPart("region=emea")._1 >= 2L)
    // bucketed PK table: partitions are the __bucket=k dirs, and the
    // tombstone dir surfaces as kind='delete' (compaction debt visible)
    spark.sql("CREATE TABLE g.db.bparts (id BIGINT, name STRING) " +
      "TBLPROPERTIES ('primary-key'='id', 'bucket'='2')")
    gc.upsert("db", "bparts", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    gc.deleteWhere("db", "bparts", col("id") === 2L)
    val b = spark.sql("SELECT partition, kind, row_count FROM g.db.`bparts$partitions`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(b.filter(_._2 == "data").map(_._3).sum === 3L)
    assert(b.filter(_._2 == "delete").map(_._3).sum === 1L)
    assert(b.forall(_._1.startsWith("__bucket=")))
    // unpartitioned: one '' partition row
    val u = spark.sql("SELECT partition, row_count FROM g.db.`w$partitions`").collect()
    assert(u.map(_.getString(0)).distinct.toSeq === Seq(""))
  }

  test("CHAR(n) columns keep pad-space semantics through the SQL surface") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.ch (id BIGINT, code CHAR(3))")
    // the declared char type persists in the manifest (round-trip)
    assert(gc.schemasTable("db", "ch").collect()
      .find(_.getString(2) == "code").get.getString(3) === "char(3)")
    spark.sql("INSERT INTO g.db.ch VALUES (1, 'ab'), (2, 'abc')")
    // write-side padding: the short value is stored space-padded to 3
    val vals = spark.sql("SELECT code, length(code) FROM g.db.ch ORDER BY id")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(vals.toSeq === Seq(("ab ", 3), ("abc", 3)))
    // comparison padding: an unpadded literal still matches (char
    // semantics compare with trailing spaces ignored via rpad-on-compare)
    assert(spark.sql("SELECT id FROM g.db.ch WHERE code = 'ab'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // over-length values are rejected, not truncated
    intercept[Exception](spark.sql("INSERT INTO g.db.ch VALUES (3, 'abcd')"))
  }

  test("$tags metadata table and VERSION AS OF tag-name time travel") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.tg (id BIGINT)")
    gc.append("db", "tg", Seq(1L, 2L).toDF("id"))
    gc.append("db", "tg", Seq(3L).toDF("id"))
    gc.createTag("db", "tg", "v1", Some(1L))
    val t = spark.sql("SELECT tag_name, snapshot_id FROM g.db.`tg$tags`").head()
    assert(t.getString(0) === "v1" && t.getLong(1) === 1L)
    // travel by tag name resolves through the registry; numeric still works
    assert(spark.sql("SELECT count(*) FROM g.db.tg VERSION AS OF 'v1'")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) FROM g.db.tg VERSION AS OF 2")
      .head().getLong(0) === 3L)
    intercept[Exception](
      spark.sql("SELECT * FROM g.db.tg VERSION AS OF 'nope'").collect())
  }

  test("drop/rename via SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql("CREATE TABLE g.db.r1 (id BIGINT)")
    spark.sql("ALTER TABLE g.db.r1 RENAME TO g.db.r2")
    assert(gc.listTables("db").contains("r2") && !gc.listTables("db").contains("r1"))
    spark.sql("DROP TABLE g.db.r2")
    assert(!gc.listTables("db").contains("r2"))
  }

  test("a small MoR-pending PK dim auto-broadcasts through the splice") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "dimsmall", StructType(Seq(
      StructField("k", LongType), StructField("label", StringType))),
      primaryKey = Seq("k"))
    // two uncompacted deltas -> the merge plan is spliced under the
    // join, whose own size estimate (the version files' bytes) puts the
    // small dim under the broadcast threshold
    gc.upsert("db", "dimsmall", (1L to 50L).map(i => (i, s"l$i")).toDF("k", "label"))
    gc.upsert("db", "dimsmall", (1L to 10L).map(i => (i, s"u$i")).toDF("k", "label"))
    gc.createTable("db", "factbig", StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    gc.append("db", "factbig",
      (1L to 5000L).map(i => (i % 60L, i)).toDF("k", "v"))
    val q = spark.sql(
      "SELECT f.k, f.v, d.label FROM g.db.factbig f JOIN g.db.dimsmall d ON f.k = d.k")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small MoR dim did not broadcast:\n$plan")
    // and the answer matches the library-side join
    assert(q.count() ===
      gc.read("db", "factbig").join(gc.read("db", "dimsmall"), "k").count())
  }

  test("MoR-pending SQL reads execute NATIVELY: merge plan spliced under " +
      "the query, no V1 row-bridge RDD scan, codegen + parquet columnar") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "mornative", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("w", LongType))), primaryKey = Seq("id"))
    gc.upsert("db", "mornative", (1L to 200L).map(i => (i, s"a$i", i)).toDF("id", "v", "w"))
    gc.upsert("db", "mornative", (1L to 50L).map(i => (i, s"b$i", i * 2)).toDF("id", "v", "w"))
    gc.deleteWhere("db", "mornative", col("id") > 190L)
    val q = spark.sql("SELECT id, v FROM g.db.mornative WHERE w <= 60 ORDER BY id")
    // result identical to the library read
    val expected = gc.read("db", "mornative").filter(col("w") <= 60)
      .select("id", "v").orderBy("id").collect().toSeq
    assert(q.collect().toSeq === expected)
    // plan-shape asserts on the FINAL adaptive plan (post-execution)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("RDDScan")
        && !plan.contains("GraftUnsplicedMorScan"),
      s"MoR SQL read is not spliced:\n$plan")
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"no native parquet scan in the spliced plan:\n$plan")
    // AQE final plans print codegen stages as `*(n)` operator prefixes
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"merge plan lost whole-stage codegen:\n$plan")
    // a full-PK equality lookup pushes the key below the merge window
    // into the parquet scans (partition-key predicates pass Window)
    val pt = spark.sql("SELECT v FROM g.db.mornative WHERE id = 7")
    assert(pt.head().getString(0) === "b7")
    val ptPlan = pt.queryExecution.executedPlan.toString
    assert(ptPlan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,7)")
      || ptPlan.contains("EqualTo(id,7)"),
      s"PK point lookup not pushed into the parquet scans:\n$ptPlan")
    // aggregates over the spliced merge plan stay correct
    assert(spark.sql("SELECT count(*) FROM g.db.mornative").head().getLong(0) === 190L)
    assert(spark.sql(
      "SELECT sum(w) FROM g.db.mornative WHERE id <= 50").head().getLong(0)
      === (1L to 50L).map(_ * 2).sum)
  }

  test("an unspliced MoR relation plans a scan that refuses to execute, " +
      "naming the extension") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "unspliced", Seq((1L, "a")).toDF("id", "v").schema,
      primaryKey = Seq("id"))
    gc.upsert("db", "unspliced", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.upsert("db", "unspliced", Seq((2L, "b2")).toDF("id", "v"))
    val cat = new graft.sources.GraftSparkCatalog
    cat.initialize("g", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", warehouse)))
    val table = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "unspliced"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(scan.readSchema() === table.schema())
    val e = intercept[UnsupportedOperationException](scan.toBatch)
    assert(e.getMessage.contains(
      "spark.sql.extensions=graft.plans.GraftExtensions"), e.getMessage)
  }

  test("multi-dir PARTITIONED reads execute natively through the splice " +
      "(r16): no V1 row bridge, per-dir discovery-backed parquet scans") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    // append-only partitioned, several snapshot roots — the shape Spark's
    // own partition discovery cannot serve from one ParquetTable
    gc.createTable("db", "mdirpart", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType))), partitionBy = Seq("p"))
    gc.append("db", "mdirpart", (1L to 100L).map(i =>
      (i, s"a$i", s"p${i % 3}")).toDF("id", "v", "p"))
    gc.append("db", "mdirpart", (101L to 200L).map(i =>
      (i, s"b$i", s"p${i % 3}")).toDF("id", "v", "p"))
    val q = spark.sql(
      "SELECT id, v, p FROM g.db.mdirpart WHERE id <= 150 ORDER BY id")
    assert(q.count() === 150)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("RDDScan")
        && !plan.contains("GraftUnsplicedMorScan"),
      s"multi-dir partitioned read is not spliced:\n$plan")
    assert(plan.contains("FileScan parquet") || plan.contains("Scan parquet"),
      s"no native parquet scan under the splice:\n$plan")
    // partition-column predicates prune at the per-dir scans
    val pq = spark.sql("SELECT count(*) FROM g.db.mdirpart WHERE p = 'p0'")
    assert(pq.head().getLong(0) ===
      (1L to 200L).count(_ % 3 == 0))
    // partitioned PK table, MoR-pending across several dirs: same deal
    gc.createTable("db", "mdirpk", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("p", StringType))),
      partitionBy = Seq("p"), primaryKey = Seq("p", "id"))
    gc.upsert("db", "mdirpk", (1L to 100L).map(i =>
      (i, s"a$i", s"p${i % 3}")).toDF("id", "v", "p"))
    gc.upsert("db", "mdirpk", (1L to 40L).map(i =>
      (i, s"u$i", s"p${i % 3}")).toDF("id", "v", "p"))
    val q2 = spark.sql("SELECT id, v FROM g.db.mdirpk WHERE p = 'p1' ORDER BY id")
    val plan2 = q2.queryExecution.executedPlan.toString
    assert(!plan2.contains("GraftUnsplicedMorScan") &&
        !plan2.contains("Scan ExistingRDD"),
      s"partitioned PK MoR read is not spliced:\n$plan2")
    val got = q2.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = (1L to 100L).filter(_ % 3 == 1)
      .map(i => (i, if (i <= 40) s"u$i" else s"a$i"))
    assert(got === want)
  }

  test("CTAS: CREATE TABLE AS SELECT stages, writes one snapshot commit, " +
      "and aborts cleanly on write failure") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "ctas_src",
      Seq((1L, "a")).toDF("id", "name").schema)
    gc.append("db", "ctas_src",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    spark.sql("CREATE TABLE g.db.ctas_t AS SELECT id, upper(name) AS name " +
      "FROM g.db.ctas_src WHERE id >= 2")
    assert(spark.sql("SELECT * FROM g.db.ctas_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "B"), (3L, "C")))
    // the CTAS write is one ordinary snapshot commit — time-travelable
    assert(gc.snapshots("db", "ctas_t").size === 1)
    // a write that fails at execution must abort the stage, removing the
    // staged catalog entry (no half-created table left behind)
    val err = intercept[Exception] {
      spark.sql("CREATE TABLE g.db.ctas_bad AS SELECT id, " +
        "CAST(raise_error('boom') AS STRING) AS v FROM g.db.ctas_src")
    }
    assert(err.getMessage != null)
    assert(!gc.listTables("db").contains("ctas_bad"),
      "aborted CTAS left the staged table behind")
    // and a successful PK CTAS carries the key into the new table
    spark.sql("CREATE TABLE g.db.ctas_pk TBLPROPERTIES('primary-key'='id') " +
      "AS SELECT id, name FROM g.db.ctas_src")
    assert(gc.primaryKeyOf("db", "ctas_pk") === Seq("id"))
    assert(spark.sql("SELECT count(*) FROM g.db.ctas_pk").head().getLong(0) === 3)
  }

  test("RTAS: REPLACE TABLE AS SELECT swaps atomically; abort restores " +
      "the original lineage") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    gc.createTable("db", "rtas_t", Seq((1L, "a")).toDF("id", "v").schema)
    gc.append("db", "rtas_t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    gc.append("db", "rtas_t", Seq((3L, "c")).toDF("id", "v"))
    spark.sql("CREATE OR REPLACE TABLE g.db.rtas_t AS " +
      "SELECT id * 10 AS id2 FROM g.db.rtas_t")
    assert(spark.sql("SELECT * FROM g.db.rtas_t ORDER BY id2").collect()
      .map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L))
    assert(!gc.listTables("db").contains("rtas_t__rtas_stage"),
      "committed RTAS left the staging copy behind")
    // failing RTAS (write errors at execution) must restore the ORIGINAL
    // table — data, schema, and snapshot history intact
    intercept[Exception] {
      spark.sql("REPLACE TABLE g.db.rtas_t AS " +
        "SELECT CAST(raise_error('boom') AS BIGINT) AS k")
    }
    assert(spark.sql("SELECT * FROM g.db.rtas_t ORDER BY id2").collect()
      .map(_.getLong(0)).toSeq === Seq(10L, 20L, 30L),
      "aborted RTAS did not restore the original table")
    // plain REPLACE on a missing table refuses (CREATE OR REPLACE allows)
    intercept[Exception] {
      spark.sql("REPLACE TABLE g.db.rtas_missing AS SELECT 1L AS x")
    }
  }

  test("staging hygiene: reserved prefix refused in DDL, stages hidden and " +
      "TTL-swept, crash-interrupted swap recovered on next access") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    // user DDL may not squat on the reserved staging prefix
    intercept[Exception] {
      spark.sql(s"CREATE TABLE g.db.`${GraftCatalog.StagePrefix}squat` (id BIGINT)")
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.io.File(warehouse).toURI, spark.sparkContext.hadoopConfiguration)
    def stageDirs(): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(warehouse, "db"))
        .map(_.getPath.getName).filter(_.startsWith(GraftCatalog.StagePrefix)).toSeq
    // a committed RTAS leaves zero staging dirs on disk
    gc.createTable("db", "stg_t", Seq((1L, "a")).toDF("id", "v").schema)
    gc.append("db", "stg_t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("CREATE OR REPLACE TABLE g.db.stg_t AS SELECT id * 2 AS id2 FROM g.db.stg_t")
    assert(spark.sql("SELECT * FROM g.db.stg_t ORDER BY id2").collect()
      .map(_.getLong(0)).toSeq === Seq(2L, 4L))
    assert(stageDirs().isEmpty, s"staging dirs left behind: ${stageDirs()}")
    // a crashed mid-WRITE stage (no commit marker): hidden from SHOW
    // TABLES, then swept by the TTL'd GC on the next staging attempt
    val dead = GraftCatalog.newStageName("stg_never")
    gc.createTable("db", dead, Seq((1L, "x")).toDF("id", "v").schema)
    assert(!spark.sql("SHOW TABLES IN g.db").collect()
      .map(_.getString(1)).contains(dead), "in-flight stage leaked into SHOW TABLES")
    spark.conf.set("spark.graft.staging.ttlMs", "0")
    try {
      Thread.sleep(5) // ensure mtime is strictly past the zero TTL
      spark.sql("CREATE TABLE g.db.stg_sweeper AS SELECT 1L AS x")
      assert(!stageDirs().contains(dead), "stale mid-write stage not swept")
    } finally spark.conf.unset("spark.graft.staging.ttlMs")
    // crash recovery: a stage that reached its COMMIT POINT (marker names
    // the target) but died before the swap completes on next access
    val rec = GraftCatalog.newStageName("stg_rec")
    gc.createTable("db", rec, Seq((1L, "x")).toDF("id", "v").schema)
    gc.append("db", rec, Seq((7L, "seven")).toDF("id", "v"))
    val mk = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse, s"db/$rec"), ".swap-commit")
    val out = fs.create(mk, true)
    out.write("stg_rec".getBytes("UTF-8")); out.close()
    assert(spark.sql("SELECT v FROM g.db.stg_rec WHERE id = 7").head().getString(0)
      === "seven", "declared-commit-point stage was not recovered")
    assert(stageDirs().forall(d => d != rec), "recovered stage dir still present")
  }

  test("stage sweep: a truncated/garbled creation stamp falls back to dir " +
      "mtime instead of parsing to an ancient timestamp (r15 ADVICE)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.io.File(warehouse).toURI, spark.sparkContext.hadoopConfiguration)
    val live = GraftCatalog.newStageName("stg_live")
    gc.createTable("db", live, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))))
    // simulate a short read / garbled stamp: "17" parses to epoch-1970,
    // which the old single-read path aged as ancient and deleted
    val stampP = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse, s"db/$live"), ".stage-stamp")
    val out = fs.create(stampP, true)
    out.write("17".getBytes("UTF-8")); out.close()
    gc.sweepStaleStages("db", ttlMs = 3600000L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(warehouse, s"db/$live")),
      "live stage with a garbled stamp was swept inside the TTL window")
    fs.delete(new org.apache.hadoop.fs.Path(warehouse, s"db/$live"), true)
  }
}
