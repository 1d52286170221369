package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit, md5, pmod, row_number, struct, when, xxhash64}
import org.apache.spark.sql.types.{NumericType, StructField, StructType}

/**
 * Versioned table catalog over a warehouse directory — the Spark-native
 * analog of the reference's metadata surface:
 *
 *  - schema ops (create/list/drop):        TrinoMetadataBase.java:88–114
 *  - table ops (create/list/rename/drop):  TrinoMetadataBase.java:165–241
 *  - column DDL (add/rename/drop):         TrinoMetadataBase.java:290–328
 *  - time travel (snapshot-id / as-of-ms): TrinoSessionProperties.java:36–37,
 *                                          TrinoTableHandle.java:138
 *  - table options persisted in DDL:       TrinoTableOptionUtils.java
 *
 * Layout — the Paimon snapshot → manifest-list → manifest-file hierarchy,
 * re-expressed:
 *
 *  - `<warehouse>/<schema>/<table>/manifest-v<N>.json` — the HEAD
 *    (immutable, exclusive-rename CAS — Paimon's snapshot-N commit
 *    protocol): table metadata + a snapshot log whose file lists
 *    serialize as `{baseId, added}` DELTAS (the manifest-list analog:
 *    tiny entries, O(total dirs), materialized at read), plus per-dir
 *    zone AGGREGATES (the manifest-list partition-stats analog).
 *  - `snap-<id>/` — immutable parquet dirs, each carrying its own
 *    `.zones.json` per-FILE zone sidecar (the manifest-FILE analog,
 *    written once into the staging dir so the ordinal claim-rename
 *    publishes data and zones atomically) and, when indexed, a
 *    `.bloomidx/` sidecar tree.
 *
 * A commit therefore WRITES O(its own files) metadata regardless of
 * table size; reads are O(files referenced) with zone/bloom sidecars
 * loaded lazily and cached by build token. Nothing is ever rewritten in
 * place — the same immutability contract Paimon's snapshot log gives
 * the reference connector. Concurrent writers land additive commits via
 * rebase-and-retry; stale rewrites abort (see `commit`).
 *
 * Schema evolution is metadata-only (stable field ids, Paimon-style):
 * renames/drops/adds never rewrite data; reads map each file's
 * write-time schema onto the current schema by field id (missing → null).
 *
 * All I/O goes through Hadoop FileSystem, so the same code runs on local
 * disk, HDFS, or object stores on a real cluster.
 */
class GraftCatalog(private[sources] val spark: SparkSession,
    private[sources] val warehouse: String)
  extends GraftMetadataViews with GraftChangelog
    with GraftDeletionVectors with GraftMaintenance
    with GraftDynamicBucket with GraftTagsBranches with GraftStreamingOps
    with GraftColumnDdl with GraftStagingLineage {

  import GraftCatalog._

  // Spark 4.1's partitioning-aware UnionExec (spark.sql.unionOutputPartitioning,
  // default true) ZIPS union children that share an output partitioning —
  // and every per-bucket merge leg this engine builds is deliberately
  // SinglePartition (the in-task keep-latest merge needs one bucket's
  // rows in one partition), so a K-bucket resolve's union of K legs
  // collapsed into ONE task that merged every bucket SERIALLY (measured
  // r19: an 8-bucket read ran 1 task; a 4096-bucket 100 TB table would
  // funnel the whole merge through one core). Restore the documented
  // one-bucket-per-task shape by turning the flag off for sessions this
  // catalog drives — set it back after construction to opt out. (Shape
  // fix, not tuning: the flag only controls whether UnionExec CLAIMS its
  // children's common partitioning to save downstream exchanges — none
  // of this engine's plans rely on that claim, and a bucketed resolve's
  // merge parallelism is pinned by GraftCatalogSpec.)
  spark.conf.set("spark.sql.unionOutputPartitioning", "false")

  private[sources] val mapper = new ObjectMapper()

  private[sources] def fs: FileSystem =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def schemaPath(schema: String) = new Path(warehouse, schema)

  /** `t$branch_<name>` → (t, Some(name)); plain names pass through.
    * Branches are one level deep: a branch name never contains the
    * separator again (validated at creation). */
  private[sources] def splitBranch(table: String): (String, Option[String]) = {
    val i = table.indexOf(BranchSep)
    if (i < 0) (table, None)
    else (table.substring(0, i), Some(table.substring(i + BranchSep.length)))
  }

  /** A branch lineage lives under `<base>/.branch/<name>/` — its own
    * manifest versions, staging dirs and snap dirs, fully isolated from
    * the base lineage; every tablePath-relative operation (commit
    * protocol, claims, sweeps) works on a branch unchanged. */
  private[sources] def tablePath(schema: String, table: String): Path =
    splitBranch(table) match {
      case (base, Some(br)) =>
        new Path(new Path(schemaPath(schema), base), s"$BranchDirName/$br")
      case (base, None) => new Path(schemaPath(schema), base)
    }

  /** Resolve a manifest dir reference to a filesystem path: a `~/x`
    * entry is BASE-TABLE-relative — the cross-lineage sharing form (a
    * branch inheriting the base's history references `~/snap-3`; a
    * fast-forwarded base references `~/.branch/dev/snap-7`) — while a
    * plain entry is lineage-local. Sharing is by reference, never by
    * copy: branch creation and fast-forward move ZERO data bytes. */
  private[sources] def dirPath(schema: String, table: String, dir: String): Path =
    if (dir.startsWith(BaseRelMarker))
      new Path(new Path(schemaPath(schema), splitBranch(table)._1),
        dir.substring(BaseRelMarker.length))
    else new Path(tablePath(schema, table), dir)

  /** Bucket ids a set of commit dirs touched, from their materialized
    * `__bucket=k` children — one driver listing per dir (recursing
    * through partition `col=value` levels on partitioned+bucketed
    * layouts), ZERO Spark jobs. `None` = some dir carries non-bucket,
    * non-partition children (unknown/flat layout): the caller must fall
    * back to EVERY bucket, never to none — under dynamic buckets
    * (`n == -1`) a `0 until n` fallback would silently mean "no
    * buckets". Shared by the changelog before-image, the field-wise
    * producer, and the incremental DV rebuild. */
  private[sources] def changedBucketsOf(schema: String, table: String,
      dirs: Seq[String]): Option[Seq[Int]] = {
    val bucketRe = (java.util.regex.Pattern.quote(BucketCol) + "=(\\d+)").r
    def walk(p: Path): Option[Seq[Int]] = {
      val kids = fs.listStatus(p).toSeq
      val per = kids.map { st =>
        st.getPath.getName match {
          case bucketRe(i) => Some(Seq(i.toInt))
          case n if st.isDirectory && n.contains('=') => walk(st.getPath)
          case n if n.startsWith(".") || n.startsWith("_") => Some(Nil)
          case _ => None // flat data file / unknown layout
        }
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten)
    }
    val per = dirs.map(d => walk(dirPath(schema, table, d)))
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.flatten.distinct.sorted)
  }

  /** A dir reference in BASE-relative form — the cross-lineage identity
    * under which two lineages of one table compare references (pinning:
    * a dir is deletable only when NO lineage references it). */
  private[sources] def baseRelativeDir(table: String, dir: String): String =
    if (dir.startsWith(BaseRelMarker)) dir.substring(BaseRelMarker.length)
    else splitBranch(table) match {
      case (_, Some(br)) => s"$BranchDirName/$br/$dir"
      case _ => dir
    }

  /** A dir reference reduced to its physical DIR NAME (the trailing
    * `snap-…` segment): the form deletion-vector file refs use (they
    * derive from `_metadata.file_path`, which knows nothing of sharing
    * markers) and the form the merge ordinal parses. Unique within one
    * manifest — a lineage assigns ids strictly above every retained id,
    * inherited included, so a shared and a local dir can never collide
    * on their name. */
  private[sources] def dirKey(dir: String): String = {
    val i = dir.lastIndexOf("snap-")
    if (i <= 0) dir else dir.substring(i)
  }

  /** Filesystem location of a manifest dir reference — public resolution
    * for the SQL catalog (branch lineages, `~/` shared refs). */
  def dirLocation(schema: String, table: String, dir: String): String =
    dirPath(schema, table, dir).toString
  private def manifestPath(schema: String, table: String) =
    new Path(tablePath(schema, table), "manifest.json")

  // ---- schema (namespace) ops -------------------------------------------

  def createSchema(schema: String): Unit = { fs.mkdirs(schemaPath(schema)); () }

  def listSchemas(): Seq[String] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }

  def dropSchema(schema: String): Unit = {
    require(listTables(schema).isEmpty, s"schema $schema is not empty")
    fs.delete(schemaPath(schema), true)
    ()
  }

  // ---- table ops ---------------------------------------------------------

  def createTable(schema: String, table: String, structType: StructType,
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Seq.empty,
      primaryKey: Seq[String] = Seq.empty): Unit = {
    require(fs.exists(schemaPath(schema)), s"schema $schema does not exist")
    require(!table.contains("$"),
      s"'$$' is reserved in table names (branch lineages `t$$branch_<name>` " +
        s"are created via createBranch; `t$$snapshots`-style names are views)")
    require(!tableManifestExists(schema, table), s"table $schema.$table exists")
    partitionBy.foreach(p => require(structType.fieldNames.contains(p),
      s"partition column $p not in schema"))
    primaryKey.foreach(p => require(structType.fieldNames.contains(p),
      s"primary-key column $p not in schema"))
    options.get("bucket").foreach { b =>
      require(primaryKey.nonEmpty, "bucket option requires a primary key")
      // -1 = DYNAMIC bucket mode (Paimon's bucket = -1): key→bucket
      // assignment comes from a persisted hash index, buckets fill to
      // `dynamic-bucket.target-row-num` keys and new ones open as needed
      require(b.toInt >= 1 || b.toInt == -1,
        s"bucket must be >= 1 (fixed) or -1 (dynamic), got $b")
      if (partitionBy.nonEmpty) {
        // Paimon's combined layout: `part=v/__bucket=k` dirs. With a FIXED
        // bucket count the PK-table rule (partition ⊆ primary key)
        // guarantees a key lives in exactly one partition, so per-bucket
        // merge legs stay key-disjoint across partitions. DYNAMIC bucket
        // mode (bucket = -1) lifts that rule — Paimon's CROSS-PARTITION
        // UPSERT: the persisted index records each key's current
        // (partition, bucket), an upsert whose partition differs from the
        // recorded one tombstones the old partition's row in the same
        // atomic snapshot, and the merge keys on (pk, partition) so each
        // residence resolves independently (see [[dynamicRoute]]).
        if (b.toInt != -1)
          require(partitionBy.forall(primaryKey.contains),
            "bucketed partitioned tables require every partition column to " +
              "be part of the primary key (a key must live in exactly one " +
              "partition); for keys that MOVE between partitions use " +
              "dynamic bucket mode (bucket = -1, cross-partition upsert)")
        else if (!partitionBy.forall(primaryKey.contains)) {
          // cross-partition mode restrictions (v1): commit-order version
          // races only — a user sequence column cannot arbitrate a move's
          // tombstone (it carries no sequence value that beats the old
          // partition's row), and the changelog/incremental protocols key
          // per pk, which a same-ordinal move pair would tie.
          require(!options.contains("sequence.field"),
            "cross-partition upsert tables (partition not in primary key) " +
              "do not support sequence.field")
          require(options.getOrElse("merge-engine", "deduplicate") == "deduplicate",
            "cross-partition upsert tables support only the deduplicate " +
              "merge engine")
        }
      }
      require(!structType.fieldNames.contains(BucketCol),
        s"column name $BucketCol is reserved on bucketed tables")
    }
    options.get("dynamic-bucket.index-fold.deltas").foreach { t =>
      require(options.get("bucket").contains("-1"),
        "dynamic-bucket.index-fold.deltas applies to dynamic-bucket (bucket = -1) tables")
      require(t.toInt >= 0,
        s"dynamic-bucket.index-fold.deltas must be >= 0 (0 disables), got $t")
    }
    options.get("dynamic-bucket.target-row-num").foreach { t =>
      require(options.get("bucket").contains("-1"),
        "dynamic-bucket.target-row-num applies to dynamic-bucket (bucket = -1) tables")
      require(t.toLong >= 1, s"dynamic-bucket.target-row-num must be >= 1, got $t")
    }
    // Paimon merge engines: how a PK table resolves multiple versions of
    // one key. The in-task bucketed merge implements deduplicate only,
    // so the two options are mutually exclusive here.
    options.get("merge-engine").foreach { e =>
      require(MergeEngines.contains(e),
        s"merge-engine must be one of ${MergeEngines.mkString(", ")}, got $e")
      require(primaryKey.nonEmpty, "merge-engine requires a primary key")
      require(e == "deduplicate" || !options.contains("bucket"),
        "bucketed tables support only the deduplicate merge engine")
    }
    // Sequence field (Paimon's `sequence.field`, a CoreOption the
    // reference exposes via DDL like every other — TrinoTableOptionUtils):
    // a USER column, not commit order, decides which version of a key
    // wins — the out-of-order CDC ingestion contract (an event-time
    // column keeps a late-arriving update from clobbering newer state).
    // Largest value wins; ties fall back to commit order; NULL sorts
    // smallest. Deduplicate engine only, as in Paimon (the field-wise
    // engines fold ALL versions, so precedence has nothing to decide).
    options.get("sequence.field").foreach { f =>
      require(primaryKey.nonEmpty, "sequence.field requires a primary key")
      val fld = structType.fields.find(_.name == f)
      require(fld.isDefined, s"sequence.field column $f not in schema")
      require(!primaryKey.contains(f),
        s"sequence.field $f cannot be a primary-key column")
      require(!partitionBy.contains(f),
        s"sequence.field $f cannot be a partition column")
      require(options.getOrElse("merge-engine", "deduplicate") == "deduplicate",
        "sequence.field applies to the deduplicate merge engine only")
      val dt = fld.get.dataType
      require(dt.isInstanceOf[NumericType] ||
        dt == org.apache.spark.sql.types.DateType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.StringType,
        s"sequence.field $f: ${dt.simpleString} is not an orderable " +
          "sequence type (numeric/date/timestamp/string)")
    }
    // Row-kind field (Paimon's `rowkind.field`): a STRING column OF THE
    // TABLE carries each record's CDC kind — `-D`/`-U` rows act as
    // retractions (tombstones), everything else upserts — so a raw CDC
    // feed lands through plain [[upsert]] without a separate changelog
    // pipeline. Deduplicate PK tables only, like sequence.field.
    options.get("rowkind.field").foreach { f =>
      require(primaryKey.nonEmpty, "rowkind.field requires a primary key")
      val fld = structType.fields.find(_.name == f)
      require(fld.isDefined, s"rowkind.field column $f not in schema")
      require(!primaryKey.contains(f),
        s"rowkind.field $f cannot be a primary-key column")
      require(fld.get.dataType == org.apache.spark.sql.types.StringType,
        s"rowkind.field $f must be a string column, got " +
          fld.get.dataType.simpleString)
      // Field-wise engines and retractions (r16): the aggregation engine
      // accepts `-U`/`-D` rows when every aggregated field's function
      // has an exact retraction (sum/collect — see retractableField), or
      // when remove-record-on-delete turns `-D` into whole-row removal;
      // ignore-delete drops them. partial-update has no retract path.
      // The rowkind column is excluded case-INSENSITIVELY, matching the
      // runtime retract gate (the field lookup above already resolved
      // it case-insensitively).
      val engine = options.getOrElse("merge-engine", "deduplicate")
      val aggRetractable = engine == "aggregation" && (
        options.get("aggregation.remove-record-on-delete").contains("true") ||
          structType.fields.filterNot(fd => primaryKey.contains(fd.name))
            .filterNot(_.name.equalsIgnoreCase(f)).forall(fd =>
              GraftCatalog.retractableField(
                options.getOrElse(s"fields.${fd.name}.aggregate-function",
                  "last_non_null"), fd.dataType)))
      val puRemoves = engine == "partial-update" &&
        options.get("partial-update.remove-record-on-delete").contains("true")
      require(engine == "deduplicate" ||
        options.get("ignore-delete").contains("true") || aggRetractable ||
        puRemoves,
        "rowkind.field on a field-wise merge engine requires " +
          "ignore-delete=true, <engine>.remove-record-on-delete=true, " +
          "or retractable aggregate functions (sum/collect) on every " +
          "aggregated field")
    }
    // File format (Paimon's `file.format`, default parquet): ORC and
    // AVRO write through Spark's native sources (Spark 4 bundles the
    // avro source in spark-sql) — reads, merge-on-read, schema evolution
    // (each dir is read at its WRITE-TIME schema and mapped forward by
    // field id, so by-name file resolution suffices), compaction,
    // streaming, changelog all work unchanged through the format-aware
    // read/write seams. ORC footers carry min/max/null statistics like
    // parquet, so ORC tables get zone maps, data skipping, and
    // metadata-only countRows (r14; timestamp columns conservatively
    // untracked — ORC timestamp stats are writer-zone sensitive). AVRO
    // files carry no column statistics: zone stats are collected from
    // the DATA at write time (r15). Bitsets and DV counts are sized
    // from the per-file row counts zone collection produces for every
    // format. The `$partitions` view counts ORC rows from footers and
    // AVRO rows from block headers (I/O-only, no decode).
    options.get("file.format").foreach { f =>
      require(f == "parquet" || f == "orc" || f == "avro",
        s"file.format must be parquet, orc or avro, got $f")
      // Deletion vectors are format-independent (r17, matching Paimon —
      // `deletion-vectors.enabled` is DDL-exposed unconditionally):
      // ORC and AVRO readers expose no `_metadata.row_index`, so DV
      // tables of both formats stamp a hidden write-time position
      // column ([[OrcPosCol]]) into every data file instead. Positions
      // exist from the FIRST commit by construction: `deletion-vectors`
      // is an ImmutableOption, so it can only be set at create —
      // spark-avro's refusal of schema fields absent from a file can
      // never trigger, because no data file of such a table predates
      // the column.
      // bloom file indexes are format-independent since r16: the build
      // reads `_metadata.file_path` + the indexed columns through the
      // table's own source, and bitsets are sized from the per-file row
      // counts the zone collection produces for ALL formats (parquet/orc
      // footers; avro write-time data stats).
    }
    // File compression (Paimon's `file.compression`): per-table codec,
    // validated against what the chosen format's Spark writer accepts.
    options.get("file.compression").foreach { c =>
      val fmt = options.getOrElse("file.format", "parquet")
      val valid = fmt match {
        case "orc" => Set("none", "snappy", "zlib", "zstd", "lz4")
        case "avro" => Set("uncompressed", "snappy", "deflate", "bzip2",
          "xz", "zstandard")
        case _ => Set("none", "uncompressed", "snappy", "gzip", "zstd", "lz4")
      }
      require(valid(c.toLowerCase(java.util.Locale.ROOT)),
        s"file.compression '$c' is not a valid $fmt codec " +
          s"(${valid.toSeq.sorted.mkString(", ")})")
    }
    // Retention policy options (Paimon's snapshot.num-retained /
    // snapshot.time-retained): applied automatically after every commit
    // (see autoExpire) — validated here AND in setTableOptions (mutable).
    validateRetentionOptions(options)
    // Deletion vectors (Paimon's `deletion-vectors.enabled`), two scopes:
    //
    //  - APPEND-ONLY tables: row-level DELETE/UPDATE as per-file position
    //    indexes written directly by deleteWhere/update — no copy-on-write
    //    rewrite (TrinoTableOptionUtils surfaces the same CoreOption).
    //  - PRIMARY-KEY tables (Paimon's flagship read-optimized mode): DVs
    //    are BUILT at compaction over the version history
    //    ([[buildDeletionVectors]]) so delete-heavy reads skip the
    //    keep-latest merge for everything at or below the build — see
    //    [[pkDvResolve]]. The mode pins merge-engine=deduplicate (a DV
    //    build resolves keep-latest, not a field fold) and partition ⊆
    //    primary key (a cross-partition move's two-residence resolution
    //    has no per-ordinal split point). sequence.field composes (r15):
    //    builds and hybrid reads race versions on (sequence, ordinal),
    //    and post-build deltas arbitrate against the base's sequence.
    options.get("deletion-vectors").foreach { v =>
      require(v == "true" || v == "false",
        s"deletion-vectors must be true or false, got $v")
      if (v == "true") {
        if (primaryKey.nonEmpty) {
          require(options.getOrElse("merge-engine", "deduplicate") == "deduplicate",
            "deletion-vectors on a primary-key table requires " +
              "merge-engine=deduplicate (a DV build resolves keep-latest " +
              "semantics; field-wise engines fold values instead)")
          // sequence.field composes since r15: builds and hybrid reads
          // order the version race by (sequence, ordinal) like every
          // other resolution path, and post-build deltas arbitrate
          // against the base version's sequence (a late lower-sequence
          // row stays dead across a build)
          require(partitionBy.forall(primaryKey.contains),
            "deletion-vectors on a primary-key table requires partition " +
              "columns inside the primary key (cross-partition upsert has " +
              "no per-ordinal merge-free split point)")
          require(!options.get("bucket").contains("-1"),
            "deletion-vectors on a primary-key table requires a fixed " +
              "bucket count (dynamic-bucket snapshots interleave hash-index " +
              "dirs the merge-free base/delta split cannot order)")
        }
        // OrcPosCol: the write-time position stamp of ORC/AVRO DV data
        // files — reserved on every DV table for uniformity
        Seq(DvFileCol, DvPosCol, OrcPosCol).foreach(c =>
          require(!structType.fieldNames.contains(c),
            s"column name $c is reserved on deletion-vector tables"))
      }
    }
    // Write-time changelog materialization (Paimon's `changelog-producer`,
    // surfaced by the reference through TrinoTableOptionUtils's option
    // mapping): `input` persists each commit's rows kinded as written,
    // `lookup` persists full -U/+U/-D retraction pairs per commit (one
    // before-image lookup paid at WRITE instead of by every consumer),
    // `full-compaction` persists the accumulated diff at each compact().
    options.get("changelog-producer").foreach { v =>
      require(GraftCatalog.ChangelogProducers(v),
        s"changelog-producer must be one of " +
          s"${GraftCatalog.ChangelogProducers.toSeq.sorted.mkString(", ")}, got $v")
      if (v != "none") {
        require(primaryKey.nonEmpty,
          "changelog-producer requires a primary-key table (append-only " +
            "tables changelog as pure +I already — nothing to materialize)")
        // Field-wise engines (partial-update / aggregation / first-row)
        // take the lookup and full-compaction producers — Paimon surfaces
        // ChangelogProducer for ALL PK tables, and these producers exist
        // PRECISELY for patch tables (a patch row has no self-contained
        // image, so the changelog must be materialized from the resolved
        // image). Only `input` stays deduplicate-only: it trusts the
        // writer's rows to BE the changelog, which a patch row is not.
        if (options.getOrElse("merge-engine", "deduplicate") != "deduplicate")
          require(v == "lookup" || v == "full-compaction",
            "changelog-producer=input requires merge-engine=deduplicate " +
              "(a field-wise engine's input row is a PATCH, not the " +
              "changelog image — use the lookup or full-compaction " +
              "producer, which materialize resolved-image pairs)")
      }
    }
    // Bloom-filter file index (Paimon's `file-index.bloom-filter.columns`):
    // per-file membership bitsets for equality/IN lookups on columns no
    // clustering helps. Append-only scope: that's the path [[readWhere]]
    // prunes (PK point lookups already bucket-prune, and MoR resolution
    // must see every delta anyway).
    options.get(BloomIndex.OptionKey).foreach { v =>
      val cols = v.split(',').map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty,
        s"${BloomIndex.OptionKey} must name at least one column")
      cols.foreach { c =>
        val f = structType.fields.find(_.name.equalsIgnoreCase(c))
        require(f.isDefined, s"bloom-filter column $c not in schema")
        require(BloomIndex.indexable(f.get.dataType),
          s"bloom-filter column $c: ${f.get.dataType.simpleString} has no " +
            "canonical bloom domain (integral/date/timestamp/string only)")
        require(!partitionBy.exists(_.equalsIgnoreCase(c)),
          s"bloom-filter column $c is a partition column (partition values " +
            "already prune via path-segment zones)")
      }
      require(primaryKey.isEmpty,
        "bloom-filter index applies to append-only tables (PK tables " +
          "point-look-up via bucket pruning; MoR reads must see every delta)")
    }
    // Sequence groups (Paimon's `fields.<seq-col>.sequence-group`): with
    // partial-update, independent upstream streams own disjoint column
    // GROUPS, each versioned by its own sequence column — a group's
    // fields update (nulls included) only when a row carries a LARGER
    // group-sequence value; rows with a null group sequence leave the
    // group untouched. Fields outside every group keep the engine's
    // plain latest-non-null rule.
    val seqGroups = options.keys.filter(_.endsWith(".sequence-group"))
      .map(_.stripPrefix("fields.").stripSuffix(".sequence-group")).toSeq
    seqGroups.foreach { g =>
      require(options.get("merge-engine").contains("partial-update"),
        s"fields.$g.sequence-group requires merge-engine=partial-update")
      require(structType.fieldNames.contains(g) && !primaryKey.contains(g),
        s"sequence-group column $g unknown or a primary-key field")
      val members = options(s"fields.$g.sequence-group").split(',')
        .map(_.trim).filter(_.nonEmpty)
      require(members.nonEmpty, s"fields.$g.sequence-group names no fields")
      members.foreach { f =>
        require(structType.fieldNames.contains(f) && !primaryKey.contains(f),
          s"sequence-group member $f unknown or a primary-key field")
        require(f != g, s"sequence-group column $g cannot be its own member")
        require(!seqGroups.contains(f),
          s"sequence-group member $f is itself a sequence-group column")
      }
    }
    // a column may belong to at most one group
    val allMembers = seqGroups.flatMap(g =>
      options(s"fields.$g.sequence-group").split(',').map(_.trim).filter(_.nonEmpty))
    require(allMembers.distinct.size == allMembers.size,
      s"columns in multiple sequence-groups: ${allMembers.diff(allMembers.distinct).distinct.mkString(", ")}")
    options.keys.filter(k => k.startsWith("fields.") &&
        !k.endsWith(".sequence-group") && !k.endsWith(".distinct") &&
        !k.endsWith(".nested-key")).foreach { k =>
      require(options.get("merge-engine").contains("aggregation"),
        s"$k requires merge-engine=aggregation")
      val f = k.stripPrefix("fields.").stripSuffix(".aggregate-function")
      require(k == s"fields.$f.aggregate-function" &&
        structType.fieldNames.contains(f) && !primaryKey.contains(f),
        s"bad aggregate-function option $k (unknown or primary-key field)")
      require(FieldAggregates.contains(options(k)),
        s"$k must be one of ${FieldAggregates.mkString(", ")}, got ${options(k)}")
      if (options(k) == "sum" || options(k) == "product") {
        val dt = structType(f).dataType
        require(dt.isInstanceOf[NumericType],
          s"$k: ${options(k)} requires a numeric field, $f is ${dt.simpleString}")
      }
      if (options(k) == "bool_and" || options(k) == "bool_or")
        require(structType(f).dataType == org.apache.spark.sql.types.BooleanType,
          s"$k: ${options(k)} requires a boolean field")
      if (options(k) == "listagg")
        require(structType(f).dataType == org.apache.spark.sql.types.StringType,
          s"$k: listagg requires a string field")
      if (options(k) == "collect")
        require(structType(f).dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType],
          s"$k: collect requires an array field, $f is " +
            structType(f).dataType.simpleString)
      if (options(k) == "merge_map")
        require(structType(f).dataType.isInstanceOf[
            org.apache.spark.sql.types.MapType],
          s"$k: merge_map requires a map field, $f is " +
            structType(f).dataType.simpleString)
      // sketch folds carry SERIALIZED state (roaring bitmap / HLL) per
      // version — the field must be binary
      if (options(k) == "rbm32" || options(k) == "rbm64" ||
          options(k) == "hll_sketch")
        require(structType(f).dataType == org.apache.spark.sql.types.BinaryType,
          s"$k: ${options(k)} requires a binary field (serialized sketch), " +
            s"$f is ${structType(f).dataType.simpleString}")
      if (options(k) == "nested_update") {
        val ok = structType(f).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            _: org.apache.spark.sql.types.StructType, _) => true
          case _ => false
        }
        require(ok, s"$k: nested_update requires an array<row> field, " +
          s"$f is ${structType(f).dataType.simpleString}")
      }
    }
    // Paimon's `<engine>.remove-record-on-delete` (r16): a `-D` row
    // through rowkind.field (or a deleteWhere) REMOVES the key outright
    // — a tombstone path for the field-wise engines, whose fold then
    // re-folds only the versions committed after the delete.
    Seq("aggregation", "partial-update").foreach { eng =>
      options.get(s"$eng.remove-record-on-delete").foreach { v =>
        require(v == "true" || v == "false",
          s"$eng.remove-record-on-delete must be true or false, got $v")
        if (v == "true") {
          require(options.get("merge-engine").contains(eng),
            s"$eng.remove-record-on-delete requires merge-engine=$eng")
          require(!options.get("ignore-delete").contains("true"),
            s"$eng.remove-record-on-delete conflicts with " +
              "ignore-delete=true (one drops deletes, the other applies them)")
        }
      }
    }
    // Paimon's `fields.<f>.nested-key` (nested_update companion): the
    // nested columns that key the per-element upsert
    options.keys.filter(k => k.startsWith("fields.") &&
        k.endsWith(".nested-key")).foreach { k =>
      val f = k.stripPrefix("fields.").stripSuffix(".nested-key")
      require(k == s"fields.$f.nested-key" &&
        options.get(s"fields.$f.aggregate-function").contains("nested_update"),
        s"$k applies only alongside fields.$f.aggregate-function=nested_update")
      val elem = structType(f).dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[StructType]
      options(k).split(',').map(_.trim).filter(_.nonEmpty).foreach { nk =>
        require(elem.fieldNames.contains(nk),
          s"$k: nested column $nk not in ${elem.simpleString}")
      }
    }
    // Paimon's `fields.<f>.distinct` (collect companion): dedup the
    // collected array at fold time.
    options.keys.filter(k => k.startsWith("fields.") &&
        k.endsWith(".distinct")).foreach { k =>
      val f = k.stripPrefix("fields.").stripSuffix(".distinct")
      require(k == s"fields.$f.distinct" &&
        options.get(s"fields.$f.aggregate-function").contains("collect"),
        s"$k applies only alongside fields.$f.aggregate-function=collect")
      require(options(k) == "true" || options(k) == "false",
        s"$k must be true or false, got ${options(k)}")
    }
    fs.mkdirs(tablePath(schema, table))
    val m = mapper.createObjectNode()
    m.put("name", table)
    val parts = m.putArray("partitions")
    partitionBy.foreach(parts.add)
    val pks = m.putArray("primaryKey")
    primaryKey.foreach(pks.add)
    val opts = m.putObject("options")
    options.foreach { case (k, v) => opts.put(k, v) }
    val schemas = m.putArray("schemas")
    val v0 = schemas.addObject()
    v0.put("version", 0)
    val fields = v0.putArray("fields")
    structType.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1)
      fn.put("name", f.name)
      fn.put("type", TypeMapping.fieldTrinoType(f))
      // column comments persist in the manifest schema nodes
      // (TrinoMetadataBase.java:212 carries column.getComment() the same way)
      f.getComment().foreach(fn.put("comment", _))
    }
    m.put("currentSchemaVersion", 0)
    m.put("lastFieldId", structType.fields.length)
    m.putArray("snapshots")
    writeManifest(schema, table, m)
    // Staging lineages carry an explicit creation stamp: sweepStaleStages
    // ages from it, never from dir mtime (a trash dir renamed aside keeps
    // the ORIGINAL table's ancient mtime and would otherwise be sweepable
    // during the promote window).
    if (isStage(table)) stampStage(schema, table)
  }

  private[sources] def stageStampPath(schema: String, table: String): Path =
    new Path(tablePath(schema, table), GraftCatalog.StageStampFile)

  /** Write/refresh a stage (or trash) dir's creation stamp — the clock
    * sweepStaleStages ages it by. */
  private[sources] def stampStage(schema: String, table: String): Unit = {
    val out = fs.create(stageStampPath(schema, table), true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Stamp millis if present/readable; None falls back to dir mtime.
    * Reads to EOF (a single read() may legally return short — a truncated
    * millis string would parse to a tiny timestamp and make a LIVE stage
    * look ancient to sweepStaleStages), and rejects any parsed value below
    * a plausible epoch-millis floor as unreadable. */
  private[sources] def stageStamp(schema: String, table: String): Option[Long] = {
    val p = stageStampPath(schema, table)
    if (!fs.exists(p)) return None
    scala.util.Try(readSmallFile(p, 64).toLong)
      .toOption.filter(_ >= GraftCatalog.MinPlausibleStampMillis)
  }

  def listTables(schema: String): Seq[String] = {
    val p = schemaPath(schema)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(isStage) // in-flight CTAS/RTAS stages are not tables yet
      .filter(t => tableManifestExists(schema, t))
      .toSeq.sorted
  }

  def dropTable(schema: String, table: String): Unit = {
    require(splitBranch(table)._2.isEmpty,
      s"$table is a branch lineage — use deleteBranch (it checks " +
        "cross-lineage references before removing shared history)")
    require(tableManifestExists(schema, table), s"no table $schema.$table")
    fs.delete(tablePath(schema, table), true)
    GraftCatalog.purgeHeadCache(fs.makeQualified(tablePath(schema, table)).toString)
    ()
  }

  def renameTable(schema: String, from: String, to: String): Unit = {
    require(splitBranch(from)._2.isEmpty && !to.contains("$"),
      s"branch lineages cannot be renamed (rename the base table; its " +
        "branches move with it)")
    require(tableManifestExists(schema, from), s"no table $schema.$from")
    require(!fs.exists(tablePath(schema, to)), s"table $schema.$to exists")
    fs.rename(tablePath(schema, from), tablePath(schema, to))
    GraftCatalog.purgeHeadCache(fs.makeQualified(tablePath(schema, from)).toString)
    val m = readManifest(schema, to)
    m.put("name", to)
    writeManifest(schema, to, m)
  }

  // ---- writes ------------------------------------------------------------

  def append(schema: String, table: String, df: DataFrame): Long =
    commit(schema, table, df, keepExisting = true)

  def overwrite(schema: String, table: String, df: DataFrame): Long =
    commit(schema, table, df, keepExisting = false)

  /**
   * Dynamic partition overwrite (Paimon's `dynamic-partition-overwrite`):
   * replace ONLY the identity partitions present in `df`, leaving every
   * other partition untouched — the idempotent-backfill write (re-run a
   * day's job, only that day's partition is replaced). One snapshot:
   * dirs whose live files all belong to replaced partitions are dropped
   * with zero data I/O, dirs mixing replaced and untouched partitions
   * rewrite only their untouched rows, and the new data lands alongside
   * — the same replace-subset mechanics as [[expirePartitions]]. Like
   * any overwrite, no row-kinded retraction exists for the replaced
   * image — pause changelog consumers across it. Append-only partitioned
   * tables only.
   */
  def overwriteDynamic(schema: String, table: String, df: DataFrame): Long = {
    val pcols = partitionColumnsOf(schema, table)
    require(pcols.nonEmpty,
      s"$schema.$table is not partitioned — use overwrite")
    require(primaryKeyOf(schema, table).isEmpty,
      s"$schema.$table has a primary key — upsert is the per-key " +
        "overwrite; dynamic partition overwrite serves append-only tables")
    // distinct partition tuples present in the incoming data — the
    // replace set (delta-sized aggregate, collected: one row per
    // incoming partition, metadata-sized by construction)
    val incoming = df.select(pcols.map(col): _*).distinct().collect()
    // an empty frame names no partitions — nothing to replace, no-op
    // (a FULL overwrite-to-empty is overwrite()'s job, never implicit)
    if (incoming.isEmpty)
      return snapshots(schema, table).lastOption.map(_.id).getOrElse(0L)
    val matchTuple = incoming.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    replacePartitions(schema, table, matchTuple, Some(df))._2
      .getOrElse(throw new IllegalStateException(
        "dynamic overwrite committed nothing")) // unreachable: newData set
  }

  private[sources] def commit(schema: String, table: String, df: DataFrame,
      keepExisting: Boolean, streamBatchId: Option[Long] = None,
      kind: String = "data", deleteDf: Option[DataFrame] = None,
      compaction: Boolean = false,
      dvIndexEntry: Option[(Seq[String], Long)] = None,
      basisVersion: Option[Long] = None,
      // (file, pos) victims PAIRED with a data commit in one snapshot —
      // the append-only UPDATE shape: retract old positions and land the
      // updated images atomically (dir + dir-dv share one ordinal).
      dvDf: Option[DataFrame] = None,
      // Replace-subset commit (minor compaction): the new snapshot
      // inherits the previous file list MINUS these dirs, plus the new
      // dir — older snapshots still reference them (time travel), and
      // expiration reclaims them once unreferenced.
      replacedDirs: Set[String] = Set.empty,
      // Options applied atomically WITH the snapshot in the same manifest
      // CAS — the bucket-rescale path: data written under the new layout
      // and the option that describes it become visible together.
      optionOverrides: Map[String, String] = Map.empty,
      // Per-BUCKET compaction (bucketed PK tables): the new snapshot
      // inherits the previous file list with these buckets marked
      // retired on every inherited entry — the committed dir carries
      // their merged images, other buckets' bytes are untouched, and the
      // serialized delta stays O(1) (one `xbuckets` list, applied at
      // inflate). Older snapshots keep the unexcluded entries (time
      // travel); expiration reclaims retired subdirs.
      excludeBucketsFromPrior: Set[Int] = Set.empty,
      // Aggregation-engine retract batch (r16): the data dir carries the
      // hidden RetractCol flag column; its manifest entry is marked `rk`
      // so reads pull the column through the explicit schema.
      retractDir: Boolean = false,
      // Index-only fold (kind = "idx"): the pre-folded live key→bucket
      // set replaces EVERY prior `.dbidx` delta — the new dir carries
      // only the consolidated index, zero data bytes move, and the
      // manifest's dynIdx node is rebuilt to reference it alone.
      dynIdxFold: Option[(DataFrame, Long)] = None,
      // Explicit pre-built changelog (full-compaction producer): the
      // frame (table columns + _row_kind) pairs with this snapshot as a
      // `-cl` dir covering (the given from-id, this snapshot]. When
      // absent, the input/lookup producers derive one from the staged
      // dirs (see producerChangelog).
      changelogDf: Option[(DataFrame, Long)] = None): Long = {
    val m = readManifest(schema, table)
    // Derived-content commits (DV deletes) pass the manifest version their
    // victims were computed against: if the head advanced in between (a
    // concurrent compact/overwrite may have retired the very files the
    // (file, pos) pairs name), the delete would land referencing dead
    // files and be silently lost — abort instead, matching the
    // stale-rewrite-aborts contract below.
    basisVersion.foreach { b =>
      val now = if (m.has("commitVersion")) m.get("commitVersion").asLong() else 0L
      if (now != b) throw new java.util.ConcurrentModificationException(
        s"$schema.$table: head advanced (manifest v$b -> v$now) since this " +
          "commit's content was derived — re-run against the new head")
    }
    if (kind == "data") {
      val cur = currentSchema(schema, table)
      // a retract batch (aggregation engine) carries the hidden flag
      // column as its last field — everything else must still align
      val expect = if (retractDir) cur.fieldNames :+ RetractCol
        else cur.fieldNames
      require(df.schema.fieldNames.sameElements(expect),
        s"dataframe columns ${df.schema.fieldNames.mkString(",")} != table ${expect.mkString(",")}")
    }
    // Within-batch key resolution (deduplicate engine): all rows of one
    // commit share an ordinal, so duplicate keys INSIDE one batch would
    // tie at read time and resolve by partition order — nondeterministic.
    // Paimon folds a checkpoint's rows by input order; an unordered
    // DataFrame has none, so fold here with a deterministic total rule:
    // largest (sequence.field, remaining row) wins — consistent with the
    // read-side race (null sequence smallest). One batch-sized aggregate;
    // key-unique batches (CDC, MERGE, compaction rewrites — the common
    // case) pass through it unchanged. Skipped when a column type is
    // unorderable (maps): those tables keep the key-unique-batch contract.
    val dedupedDf =
      if (kind == "data" && !compaction && primaryKey(m).nonEmpty &&
          mergeEngine(m) == "deduplicate" &&
          df.schema.fields.forall(f =>
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(f.dataType))) {
        val pkCols = primaryKey(m)
        val seqF = sequenceField(m).toSeq
        val rest = df.schema.fieldNames.toSeq
          .filterNot(c => pkCols.contains(c) || seqF.contains(c))
        val valueCols = seqF ++ rest
        if (valueCols.isEmpty) df.dropDuplicates(pkCols)
        else df.groupBy(pkCols.map(col): _*)
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.struct(valueCols.map(col): _*))
            .as("__best"))
          .select(df.schema.fieldNames.toSeq.map { c =>
            if (pkCols.contains(c)) col(c) else col(s"__best.$c").as(c)
          }: _*)
      } else df
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val lastId = if (snaps.size() == 0) 0L else snaps.get(snaps.size() - 1).get("id").asLong()
    val id = lastId + 1
    // Data is written to a UNIQUE dot-staging dir (invisible to snap-*
    // globs and never another writer's target), then RENAMED to its
    // ordinal dir at land time via an exclusive FileContext rename —
    // an atomic claim that fails if the target exists, so two racing
    // writers can never clobber or nest into each other's dirs.
    val dir = s".staging-${java.util.UUID.randomUUID()}"
    // Bucketed PK tables (Paimon's bucket layout): every commit — data,
    // delete tombstones, compaction rewrites alike — lands rows in
    // `__bucket=k` subdirs by primary-key hash, so a key lives in exactly
    // one bucket across ALL deltas and merge-on-read never crosses
    // buckets (see bucketedResolve). Delete frames carry the PK columns,
    // so the same hash applies.
    val buckets = optionOverrides.get("bucket").map(_.toInt)
      .orElse(bucketCount(m)).filter(_ => primaryKey(m).nonEmpty)
    // Dynamic bucket mode (Paimon's bucket = -1): key→bucket is NOT a
    // modular hash — it comes from the persisted hash index, so frames
    // are routed up front (existing keys to their recorded bucket, new
    // keys filling capacity) and carry an explicit __bucket column; the
    // commit's own assignments land as an immutable `.dbidx` parquet
    // delta inside the staging dir, atomic with the data under the
    // ordinal claim-rename.
    val dynamicBucket = buckets.contains(-1)
    // kind "idx" carries no rows to route — its payload is the folded
    // index passed via dynIdxFold
    val (routedDf, routedDel, dynIdxDelta) =
      if (!dynamicBucket || kind == "idx") (dedupedDf, deleteDf, dynIdxFold)
      else dynamicRoute(schema, table, m, dedupedDf, deleteDf, kind,
        fold = compaction, reset = !keepExisting && !compaction)
    // Full-fold commits — index-only fold, compaction, overwrite reset —
    // record the ENTIRE live key set in their own dir: the manifest's
    // dynIdx node is rebuilt to that one flag (stale flags on surviving
    // dirs would double-count keys) and prior index-only dirs leave the
    // file list (their bytes reclaim on expiration).
    val dynIdxReplace = dynamicBucket &&
      (kind == "idx" || compaction || !keepExisting)
    def write(frame: DataFrame, toDir: String, frameKind: String): Unit = {
      val (toWrite0, bucketPart) =
        if (frameKind == "idx") (frame, Seq.empty) // no rows, no layout
        // DV sidecars are (file, pos) lists with no key columns — they
        // never take the bucket layout (a PK DV build on a bucketed
        // table would otherwise try to hash absent key columns).
        // Changelog dirs stay flat too: they are consumed whole-range,
        // never bucket-routed.
        else if (frameKind == "dv" || frameKind == "cl") (frame, Seq.empty)
        else buckets match {
          case Some(-1) => (frame, Seq(BucketCol)) // pre-routed via the hash index
          case Some(n) =>
            (frame.withColumn(BucketCol, bucketExpr(primaryKey(m), n)), Seq(BucketCol))
          case None => (frame, Seq.empty)
        }
      val parted =
        (if (frameKind == "data") partitionColumns(m) else Seq.empty) ++ bucketPart
      // Cluster the batch by its physical layout keys before a bucketed
      // write: without this, EVERY task writes a file into every
      // (partition, bucket) it holds rows for — tasks × buckets files
      // per commit (a 1000-task batch into a 4096-bucket table would
      // land 4M tiny files). One delta-sized shuffle caps it at ~one
      // file per touched leaf dir, which is also Paimon's per-bucket
      // writer grouping. Plain partitioned tables (no bucket) keep the
      // narrow write — their file count is bounded by tasks × live
      // partitions of the batch, the standard Spark trade.
      val toWrite = if (bucketPart.nonEmpty) toWrite0.repartition(parted.map(col): _*)
        else toWrite0
      // DV sidecar frames stay parquet regardless of the table's data
      // format (position lists, not data)
      val fmt = if (frameKind == "dv") "parquet" else fileFormat(m)
      // ORC/AVRO DV tables: stamp the write-time positional identity
      // into every data file (see [[OrcPosCol]] — neither reader has a
      // `_metadata.row_index`; identity only needs to be stable and
      // unique, and monotonically_increasing_id is partition-prefixed
      // unique within the commit's job). Data files only: tombstones
      // and sidecars are never DV victims.
      val stamped = if (frameKind == "data" && fmt != "parquet" &&
          deletionVectors(m))
        toWrite.withColumn(OrcPosCol,
          org.apache.spark.sql.functions.monotonically_increasing_id())
      else toWrite
      val writer0 = stamped.write.mode("overwrite").format(providerFor(fmt))
      // Paimon's file.compression: per-table codec for data files
      // (engine default — snappy — when unset). DV sidecars keep the
      // default; they are position lists, not data.
      val writer = fileCompression(m).filter(_ => frameKind != "dv")
        .map(c => writer0.option("compression", c)).getOrElse(writer0)
      (if (parted.nonEmpty) writer.partitionBy(parted: _*) else writer)
        .save(new Path(tablePath(schema, table), toDir).toString)
    }
    write(routedDf, dir, kind)
    // a merge commit pairs the data dir with a tombstone dir inside ONE
    // snapshot (same ordinal `$id`): updates+inserts and deletes become
    // visible atomically, never as two observable states
    routedDel.foreach(write(_, s"$dir-del", "delete"))
    // an append-only UPDATE pairs the data dir with a DV dir the same way
    dvDf.foreach(write(_, s"$dir-dv", "dv"))
    // Write-time changelog materialization (changelog-producer): the
    // snapshot pairs a `-cl` dir of row-kinded changelog rows — consumers
    // then read O(changelog files) per batch instead of paying the
    // before-image resolve (see readChangelogFull's file-served path).
    val clProducerMode = changelogProducer(m)
    val clPair: Option[(DataFrame, Option[Long])] =
      changelogDf.map { case (f, from) => (f, Some(from): Option[Long]) }
        .orElse {
          if ((clProducerMode == "input" || clProducerMode == "lookup") &&
              primaryKey(m).nonEmpty && keepExisting && !compaction &&
              (kind == "data" || kind == "delete"))
            producerChangelog(schema, table, m, clProducerMode,
              if (kind == "data") Some(dir) else None,
              if (routedDel.isDefined) Some(s"$dir-del")
              else if (kind == "delete") Some(dir) else None)
              .map((_, None: Option[Long]))
          else None
        }
    clPair.foreach { case (f, _) => write(f, s"$dir-cl", "cl") }
    // The files' write-time schema version — pinned BEFORE any conflict
    // rebase (a concurrent DDL may bump the current version; these bytes
    // are at THIS version and map forward by field id like any other dir).
    val sv = m.get("currentSchemaVersion").asInt()
    // Zone maps: aggregate the new dir's footer stats into the manifest
    // (Paimon manifests carry per-file field stats the same way;
    // TrinoMetadataBase.applyFilter prunes splits with them). Dirs are
    // immutable, so this runs exactly once per dir. The footer reads
    // run in a DISTRIBUTED job (one driver listing, executor-side
    // footers), so a bulk load landing 10⁴–10⁵ files in one snapshot
    // never stalls the commit on sequential driver round-trips; per-FILE
    // zones ride along for file-granular skipping. Data dirs only —
    // tombstone dirs are never zone-pruned (MoR must see every delta).
    // Parquet AND ORC footers both carry min/max/null counts (r14 closed
    // the ORC gap); AVRO files carry none, so their stats are collected
    // from the DATA in the same distributed job shape (r15 — Paimon's
    // writer-side SimpleStatsCollector is format-independent the same
    // way), feeding identical sidecars: avro tables zone-prune and
    // metadata-count like parquet.
    val stats = if (kind == "data")
      FileStats.collectWithFiles(spark, fs,
        new Path(tablePath(schema, table), dir), df.schema, fileFormat(m))
    else None
    // Bloom-filter file index (see [[BloomIndex]]): one distributed job
    // over the dir just written, bitsets sized from the footer row counts
    // the zone collection produced. The sidecar lands INSIDE the staging
    // dir, so the ordinal claim-rename moves data and index atomically;
    // the manifest entry below carries only {token, cols}.
    val bloomEntry: Option[(String, Seq[String])] =
      if (kind == "data" && bloomColsOf(m).nonEmpty)
        stats.flatMap { case (_, fileZones) =>
          BloomIndex.build(spark, fs, new Path(tablePath(schema, table), dir),
            df.schema, bloomColsOf(m),
            fileZones.map { case (r, s) => r -> s.rows },
            provider = providerFor(fileFormat(m)))
            .map(cols => (java.util.UUID.randomUUID().toString, cols))
        }
      else None
    // Hierarchical manifest tier (Paimon's snapshot → manifest-list →
    // manifest-file shape): the per-FILE zone payload — the dominant,
    // O(files × cols) share of commit metadata — lands as an immutable
    // `.zones.json` sidecar INSIDE the staging dir, so the ordinal
    // claim-rename publishes data and zones atomically and the head
    // manifest carries only the small dir-level aggregate plus this
    // token. Commit metadata writes are O(this commit), never O(table);
    // reads load sidecars lazily per dir, cached by token (fresh per
    // build, so an ordinal reused after rollback never serves stale
    // zones).
    val zoneToken: Option[String] = stats.flatMap { case (_, fileZones) =>
      if (fileZones.isEmpty) None
      else Some(writeZoneSidecar(
        new Path(tablePath(schema, table), dir), fileZones))
    }
    // Dynamic-bucket index delta: written AFTER the zone/bloom passes
    // (their recursive file walks must see only data files), INSIDE the
    // staging dir so the claim-rename publishes data and index
    // atomically. Hash-sorted and range-partitioned so point lookups
    // push `__kh = v` into the parquet scan.
    val dynIdxKeys: Option[Long] = dynIdxDelta.map { case (delta, keys) =>
      val parts = math.min(32L, (keys - 1) / 4000000L + 1).toInt
      val sorted = if (parts == 1) delta.coalesce(1).sortWithinPartitions("__kh")
        else delta.repartitionByRange(parts, col("__kh")).sortWithinPartitions("__kh")
      sorted.write.mode("overwrite").parquet(
        new Path(new Path(tablePath(schema, table), dir), DynIdxDir).toString)
      keys
    }
    commitTestHook()
    /** Build the snapshot entry against manifest `mm` and CAS it in. */
    def land(mm: ObjectNode, landId: Long, landDir: String): Unit = {
      val sn2 = mm.get("snapshots").asInstanceOf[ArrayNode]
      val lastTs = if (sn2.size() == 0) 0L
        else sn2.get(sn2.size() - 1).get("timestampMillis").asLong()
      stats.foreach { case (ds, _) =>
        val statsNode =
          if (mm.has("dirStats")) mm.get("dirStats").asInstanceOf[ObjectNode]
          else mm.putObject("dirStats")
        // head carries the dir-level aggregate (the manifest-list's
        // partition-stats analog) + the sidecar token; per-file zones
        // stay in the dir's immutable `.zones.json`
        val dn = statsNode.putObject(landDir)
        FileStats.toJson(dn, ds)
        zoneToken.foreach(dn.put("filesExt", _))
      }
      // a full index fold supersedes prior index-only dirs — they drop
      // from the file list exactly like a minor compaction's victims
      val droppedIdxDirs: Set[String] =
        if (dynIdxReplace && keepExisting && sn2.size() > 0)
          filesOf(sn2.get(sn2.size() - 1))
            .filter(_.kind == "idx").map(_.dir).toSet
        else Set.empty
      val allReplaced = replacedDirs ++ droppedIdxDirs
      val prevFiles: Seq[FileEntry] = {
        val inherited =
          if (keepExisting && sn2.size() > 0)
            filesOf(sn2.get(sn2.size() - 1))
              .filterNot(fe => allReplaced.contains(fe.dir))
          else Seq.empty
        if (excludeBucketsFromPrior.isEmpty) inherited
        else inherited.map(fe => fe.copy(excludeBuckets =
          (fe.excludeBuckets ++ excludeBucketsFromPrior).distinct.sorted))
      }
      // Delta basis for the serialized form: an additive commit's file
      // list is prev ++ added, so the head stores {baseId, added}; a
      // REPLACE-SUBSET commit (minor compaction, partition expiration,
      // dynamic partition overwrite) additionally names the dirs it
      // dropped — {baseId, added, removed} — so writeManifest never
      // re-serializes inherited entries for EITHER shape and every
      // commit's head delta stays O(its own change), never O(table dirs)
      // (see deflateSnapshots/inflateSnapshots).
      val baseId: Option[Long] =
        if (keepExisting && sn2.size() > 0 && prevFiles.nonEmpty)
          Some(sn2.get(sn2.size() - 1).get("id").asLong())
        else None
      if (optionOverrides.nonEmpty) {
        val on = if (mm.has("options")) mm.get("options").asInstanceOf[ObjectNode]
          else mm.putObject("options")
        optionOverrides.foreach { case (k, v) => on.put(k, v) }
      }
      val sn = sn2.addObject()
      sn.put("id", landId)
      sn.put("timestampMillis",
        math.max(System.currentTimeMillis(), lastTs + 1)) // strictly increasing
      // Compaction rewrites bytes, not logical content — the changelog scan
      // skips snapshots carrying this marker (Paimon: compaction produces no
      // changelog entries).
      if (compaction) sn.put("compaction", true)
      // Commit kind for the $snapshots operational view (Paimon's
      // commitKind): what KIND of change this snapshot represents.
      sn.put("commitKind",
        if (compaction) "compact"
        else if (!keepExisting) "overwrite"
        else if (routedDel.isDefined || dvDf.isDefined) "merge"
        else if (kind == "delete" || kind == "dv") "delete"
        else "append")
      // Deletion-vector index: which data files the new DV dir touches and
      // how many positions it deletes — the manifest-side summary that lets
      // reads split clean files (pure vectorized scan) from dirty files
      // (position anti-join) without opening the DV itself, and lets
      // countRows stay metadata-only by subtraction.
      dvIndexEntry.foreach { case (files, rows) =>
        val idx = if (mm.has("dvIndex")) mm.get("dvIndex").asInstanceOf[ObjectNode]
          else mm.putObject("dvIndex")
        val e = idx.putObject(if (dvDf.isDefined) s"$landDir-dv" else landDir)
        e.put("rows", rows)
        val fa = e.putArray("files")
        files.foreach(fa.add)
      }
      // Changelog-producer registration: the `-cl` dir, its write-time
      // schema version, and its coverage link (the snapshot its rows
      // change FROM — the previous head unless the producer passed an
      // explicit range, as full-compaction does).
      clPair.foreach { case (_, explicitFrom) =>
        // the new snapshot is already appended — the previous head sits
        // one element back
        val prevId = if (sn2.size() < 2) 0L
          else sn2.get(sn2.size() - 2).get("id").asLong()
        val cn = if (mm.has("changelog")) mm.get("changelog").asInstanceOf[ObjectNode]
          else mm.putObject("changelog")
        val e = cn.putObject(s"$landDir-cl")
        e.put("id", landId)
        e.put("ver", sv)
        e.put("from", explicitFrom.getOrElse(prevId))
      }
      // Bloom-index pointer: which columns this dir's sidecar indexes,
      // plus a cache token (fresh per build — an ordinal reused after
      // rollback never serves a stale cached index).
      bloomEntry.foreach { case (token, bcols) =>
        val bn = if (mm.has("bloomIdx")) mm.get("bloomIdx").asInstanceOf[ObjectNode]
          else mm.putObject("bloomIdx")
        val e = bn.putObject(landDir)
        e.put("token", token)
        val ca = e.putArray("cols")
        bcols.foreach(ca.add)
      }
      // Dynamic-bucket index pointer: this dir carries a `.dbidx` delta
      // with that many key assignments — readDynamicIndex unions exactly
      // the flagged dirs of the current snapshot, zero FS probes.
      dynIdxKeys.foreach { keys =>
        // full-fold commits rebuild the node: their delta records EVERY
        // live key, so any older flag would double-count
        if (dynIdxReplace) mm.remove("dynIdx")
        val dn = if (mm.has("dynIdx")) mm.get("dynIdx").asInstanceOf[ObjectNode]
          else mm.putObject("dynIdx")
        dn.putObject(landDir).put("keys", keys)
      }
      def addEntry(arr: ArrayNode, fe: FileEntry): Unit = {
        val e = arr.addObject(); e.put("dir", fe.dir); e.put("schemaVersion", fe.schemaVersion)
        if (fe.kind != "data") e.put("kind", fe.kind)
        if (fe.retract) e.put("rk", true)
        if (fe.excludeBuckets.nonEmpty) {
          val xa = e.putArray("xb"); fe.excludeBuckets.foreach(xa.add)
        }
      }
      val fArr = sn.putArray("files")
      val added = FileEntry(landDir, sv, kind, retract = retractDir) +:
        (routedDel.map(_ => FileEntry(s"$landDir-del", sv, "delete")).toSeq ++
          dvDf.map(_ => FileEntry(s"$landDir-dv", sv, "dv")).toSeq)
      (prevFiles ++ added).foreach(addEntry(fArr, _))
      baseId.foreach { b =>
        sn.put("baseId", b)
        val aArr = sn.putArray("added")
        added.foreach(addEntry(aArr, _))
        if (allReplaced.nonEmpty) {
          val rArr = sn.putArray("removed")
          allReplaced.toSeq.sorted.foreach(rArr.add)
        }
        if (excludeBucketsFromPrior.nonEmpty) {
          // O(1) delta for a per-bucket compaction: inflate applies the
          // exclusion to every INHERITED entry instead of re-serializing
          // the whole list with per-entry `xb` fields.
          val xArr = sn.putArray("xbuckets")
          excludeBucketsFromPrior.toSeq.sorted.foreach(xArr.add)
        }
      }
      streamBatchId.foreach(b => mm.put("lastStreamBatchId", b))
      writeManifest(schema, table, mm)
    }
    // Optimistic concurrency (Paimon's commit protocol), two fences:
    //
    //  1. DIR CLAIM — an exclusive rename (fails if the target exists)
    //     moves the staging dir to `snap-<id>`. Losing the claim means a
    //     concurrent writer took that ordinal: re-read the manifest,
    //     target the next one. No writer ever deletes or renames onto
    //     another's dir.
    //  2. MANIFEST CAS — writeManifest detects a concurrent commit
    //     between our manifest read and write.
    //
    // On either conflict, ADDITIVE commits — appends, upserts, CDC merge
    // batches — rebase and retry: the dir moves to the next free ordinal
    // and the snapshot entry is rebuilt on the new head (an upsert
    // rebased later keeps latest-wins semantics: its versions simply
    // carry the later ordinal). Commits whose CONTENT was derived from
    // the old head — overwrite, compaction, row-level deletes — abort
    // with the conflict instead: their bytes are stale against the
    // concurrent commit (Paimon aborts conflicting compactions the same
    // way); the caller re-runs against the new head. An aborted attempt
    // leaves only an unreferenced dir (never a dangling manifest),
    // harmless until [[sweepOrphanDirs]] reclaims it (plain expiration
    // can't: it only deletes dirs that dropped snapshot entries name).
    // dvDf content (file, pos victims) is derived from the basis head —
    // never rebaseable, like standalone DV deletes.
    // Dynamic-bucket commits are never rebaseable: their routing AND the
    // index delta were derived from the head's index — a concurrent
    // commit may have assigned the same new keys to different buckets or
    // consumed the capacity this batch filled, so rebasing would corrupt
    // the key→bucket contract. Single writer per dynamic table, as in
    // Paimon's dynamic-bucket assigner; conflicts abort loudly.
    // A lookup-produced changelog's before images were resolved against
    // THIS head — a rebase would publish stale -U rows, so those commits
    // conflict-abort like other derived-content commits.
    val retryable = keepExisting && kind == "data" && !compaction &&
      dvDf.isEmpty && replacedDirs.isEmpty && !dynamicBucket &&
      !(clPair.isDefined && clProducerMode == "lookup")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(tablePath(schema, table)).toUri,
      spark.sparkContext.hadoopConfiguration)
    // FS CONTRACT: the claim below requires an ATOMIC fail-if-exists
    // rename. HDFS gives this server-side; the per-table JVM lock closes
    // the local filesystem's check-then-rename window (local rename
    // would otherwise nest the source INTO an existing target dir).
    // S3-class object stores do NOT satisfy it (rename is copy+delete,
    // not exclusive) — there the claim must be replaced by a conditional
    // put (If-None-Match) or a lock service, exactly as Paimon ships
    // object-store commit via lock callbacks. Rather than trusting the
    // rename's return value, each staging dir carries a unique
    // dot-prefixed claim marker and a win is accepted only if OUR marker
    // sits at the target root afterwards — on a non-exclusive-rename FS
    // the protocol then fails LOUDLY instead of silently interleaving
    // two writers' dirs.
    val claimToken = java.util.UUID.randomUUID().toString
    def writeClaimMarker(d: String): Unit = {
      val out = fs.create(
        new Path(tablePath(schema, table), s"$d/${GraftCatalog.ClaimMarker}"), true)
      try out.write(claimToken.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    writeClaimMarker(dir)
    if (routedDel.isDefined) writeClaimMarker(s"$dir-del")
    if (dvDf.isDefined) writeClaimMarker(s"$dir-dv")
    if (clPair.isDefined) writeClaimMarker(s"$dir-cl")
    // Reads the whole marker (a single read() may legally return short)
    // and retries transient IO errors, so only a genuine token mismatch —
    // never a short read or a blip — downgrades a successful rename into
    // the loud non-atomic-rename abort below.
    def markerAt(toDir: String): Boolean = {
      val p = new Path(tablePath(schema, table), s"$toDir/${GraftCatalog.ClaimMarker}")
      var attempt = 0
      while (attempt < 3) {
        attempt += 1
        try {
          val in = fs.open(p)
          val bos = new java.io.ByteArrayOutputStream(64)
          try {
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
          return new String(bos.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8) == claimToken
        } catch {
          case scala.util.control.NonFatal(_) if attempt < 3 =>
            Thread.sleep(10L * attempt)
          case scala.util.control.NonFatal(_) => return false
        }
      }
      false
    }
    def claim(fromDir: String, toDir: String): Boolean = {
      val to = fs.makeQualified(new Path(tablePath(schema, table), toDir))
      val renamed = commitLockImpl.publishIfAbsent(fs, fc,
        fs.makeQualified(new Path(tablePath(schema, table), fromDir)), to,
        claimTestHook)
      // Rebase path: `fromDir` was itself a previously WON ordinal claim
      // (not the original staging dir) whose content just moved onward —
      // release its claim so the ordinal is reclaimable. Without this,
      // store-backed locks burn one ordinal per contested round and
      // writers' targets diverge exactly when contention is highest.
      if (renamed && !fromDir.startsWith("."))
        commitLockImpl.release(fs,
          fs.makeQualified(new Path(tablePath(schema, table), fromDir)))
      if (renamed && !markerAt(toDir))
        throw new IllegalStateException(
          s"$schema.$table: rename to $toDir reported success but the " +
            "claim marker is missing at the target — this filesystem's " +
            "rename is not atomic fail-if-exists (object-store " +
            "semantics?). The commit protocol requires an exclusive " +
            "rename; use a conditional-put/lock-based claim on such " +
            "stores. Aborting loudly: the target may interleave a " +
            "concurrent writer's files.")
      renamed
    }
    def versionOf(n: ObjectNode): Long =
      if (n.has("commitVersion")) n.get("commitVersion").asLong() else 0L
    var cur = m
    var curDir = dir // staging at first, then the last claimed ordinal dir
    var curDelDir = s"$dir-del"
    var curDvDir = s"$dir-dv"
    var curClDir = s"$dir-cl"
    var landId = id
    var attempts = 0
    // Additive commits retry to a TIME budget, not a fixed attempt count
    // (Paimon's commit retries until a configurable deadline): under an
    // N-writer storm each round has one winner, so any fixed small bound
    // is a liveness cliff for the slowest writer. The attempt cap is a
    // runaway backstop only. Non-retryable commits throw on their first
    // conflict inside the loop, so the budget never delays an abort.
    val retryDeadline = System.nanoTime() + commitRetryTimeoutMs * 1000000L
    while (attempts < 10000 &&
        (attempts == 0 || System.nanoTime() < retryDeadline)) {
      attempts += 1
      val target = s"snap-$landId"
      var ok = true
      if (curDir != target) {
        ok = claim(curDir, target)
        if (ok) curDir = target
      }
      if (ok && routedDel.isDefined && curDelDir != s"$target-del") {
        ok = claim(curDelDir, s"$target-del")
        if (ok) curDelDir = s"$target-del"
      }
      if (ok && dvDf.isDefined && curDvDir != s"$target-dv") {
        ok = claim(curDvDir, s"$target-dv")
        if (ok) curDvDir = s"$target-dv"
      }
      if (ok && clPair.isDefined && curClDir != s"$target-cl") {
        ok = claim(curClDir, s"$target-cl")
        if (ok) curClDir = s"$target-cl"
      }
      if (ok) {
        try {
          land(cur, landId, target)
          autoMaintain(schema, table, compaction)
          autoExpire(schema, table)
          return landId
        }
        catch { case e: java.util.ConcurrentModificationException =>
          if (!retryable) throw e
        }
      }
      // conflict — the dir claim or the manifest CAS was lost
      val fresh = readManifest(schema, table)
      if (!retryable) {
        if (versionOf(fresh) != versionOf(m))
          throw new java.util.ConcurrentModificationException(
            s"$schema.$table: a concurrent writer committed — this " +
              "commit's content was derived from an older head; re-run")
        throw new IllegalStateException(
          s"$schema.$table: snapshot dir $target exists but is not in " +
            "the manifest — a dead writer's leftover; remove it and re-run")
      }
      cur = fresh
      val fsnaps = cur.get("snapshots").asInstanceOf[ArrayNode]
      val head = if (fsnaps.size() == 0) 0L
        else fsnaps.get(fsnaps.size() - 1).get("id").asLong()
      landId = math.max(head + 1, landId + 1)
      // Jittered exponential backoff before the next round: without it,
      // N writers re-collide immediately and the slowest can lose every
      // round (observed: 8-writer storms starving one writer). Jitter
      // desynchronizes the herd; the cap keeps the common 2-writer case
      // fast.
      val cap = math.min(100L, 2L << math.min(attempts, 5))
      Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
        .nextLong(1, cap + 1))
    }
    throw new IllegalStateException(
      s"$schema.$table: could not land a snapshot after $attempts " +
        s"attempts over ${commitRetryTimeoutMs} ms (last target " +
        s"snap-$landId) — retry under less write contention, raise the " +
        "commit retry budget, or remove dead writers' leftover dirs")
  }

  /**
   * Commit-time auto-expiration (Paimon's `snapshot.num-retained` /
   * `snapshot.time-retained` behavior: every successful commit applies
   * the table's retention policy, so retention is a TABLE CONTRACT, not
   * an external cron). Entirely best-effort AFTER the snapshot landed —
   * a retention failure (including a lost CAS against a concurrent
   * writer, who will retrigger expiration with its own commit) never
   * fails or retries the commit. All pins hold: tags, consumer-unread
   * history, replay bases, the current snapshot.
   */

  /** The atomicity primitive every protocol CAS (snapshot-dir claim,
    * sortCompact range promotion, manifest version publish) goes
    * through. Default: exclusive rename (HDFS/local). Swap in a
    * [[ConditionalPutCommitLock]] for S3-class stores where rename is
    * copy+delete — exclusivity then comes from the store's conditional
    * put, not the filesystem. */
  private[graft] var commitLockImpl: CommitLock = ExclusiveRenameCommitLock

  /** Retry budget for additive commits that lose the manifest CAS
    * (Paimon's commit-retry deadline analog: `commit.retry-timeout`,
    * not a fixed attempt count). Test seam + deployment knob. */
  private[graft] var commitRetryTimeoutMs: Long = 120000L

  /** Test seam: runs after the commit's data write, before the manifest
    * CAS — lets a spec inject a concurrent commit deterministically. */
  private[graft] var commitTestHook: () => Unit = () => ()

  /** Test seam: runs inside the claim's lock, after the exists check and
    * before the rename — the window where a non-exclusive-rename FS lets
    * a concurrent writer's dir appear and the rename silently nests
    * instead of failing. Lets a spec prove the claim-marker check turns
    * that into a loud error. */
  private[graft] var claimTestHook: () => Unit = () => ()

  /** Test seam: runs after a DV delete's (file, pos) victims are derived,
    * before the commit that lands them — the window where a concurrent
    * compact/overwrite retires the very files the victims name. */
  private[graft] var dvVictimsTestHook: () => Unit = () => ()



  // ---- consumers (durable reader offsets, Paimon consumer-id) ------------

  /**
   * Record a named consumer's progress: `nextSnapshotId` is the first
   * snapshot the consumer has NOT yet processed (Paimon's consumer-id
   * mechanism). Both expiration policies treat every snapshot with
   * `id >= nextSnapshotId` of any registered consumer as pinned, so a
   * lagging downstream job can never have unread history expired from
   * under it. Unregister with [[dropConsumer]] when the consumer retires.
   */
  def commitConsumerOffset(schema: String, table: String, consumerId: String,
      nextSnapshotId: Long): Unit = retryManifestUpdate {
    // a streaming consumer commits offsets WHILE ingest commits data, so
    // the manifest CAS races routinely — idempotent rebase-and-retry
    val m = readManifest(schema, table)
    val c = if (m.has("consumers")) m.get("consumers").asInstanceOf[ObjectNode]
      else m.putObject("consumers")
    c.put(consumerId, nextSnapshotId)
    writeManifest(schema, table, m)
  }

  def dropConsumer(schema: String, table: String, consumerId: String): Unit =
    retryManifestUpdate {
      val m = readManifest(schema, table)
      if (m.has("consumers")) {
        m.get("consumers").asInstanceOf[ObjectNode].remove(consumerId)
        writeManifest(schema, table, m)
      }
    }

  private[sources] def validateRetentionOptions(options: Map[String, String]): Unit = {
    options.get("snapshot.num-retained").foreach { v =>
      require(v.toIntOption.exists(_ >= 1),
        s"snapshot.num-retained must be a positive int, got $v")
    }
    options.get("snapshot.time-retained").foreach(
      GraftCatalog.parseDurationMillis) // throws on bad syntax
    Seq("compaction.max-file-dirs", "compaction.min.small-files").foreach(k =>
      options.get(k).foreach { v =>
        require(v.toIntOption.exists(_ >= 2), s"$k must be an int >= 2, got $v")
      })
    options.get("compaction.small-bytes").foreach { v =>
      require(v.toLongOption.exists(_ > 0),
        s"compaction.small-bytes must be a positive long, got $v")
    }
  }

  /** Idempotent manifest read-modify-write with rebase-and-retry: small
    * metadata mutations (consumer offsets, option changes) race data
    * commits routinely and always re-apply cleanly onto the new head. */
  private[sources] def retryManifestUpdate(body: => Unit): Unit = {
    var attempts = 0
    var done = false
    while (!done) {
      try { body; done = true }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 8) throw e
      }
    }
  }

  /** All registered consumers → next unprocessed snapshot id. */
  def consumerOffsets(schema: String, table: String): Map[String, Long] =
    consumerOffsetsFrom(readManifest(schema, table))

  private[sources] def consumerOffsetsFrom(m: ObjectNode): Map[String, Long] = {
    if (!m.has("consumers")) return Map.empty
    val c = m.get("consumers").asInstanceOf[ObjectNode]
    val out = mutable.LinkedHashMap[String, Long]()
    c.fieldNames().forEachRemaining(k => out += k -> c.get(k).asLong())
    out.toMap
  }

  /** One row per consumer: id + next unprocessed snapshot (Paimon's
    * `$consumers` table). */
  def consumersTable(schema: String, table: String): DataFrame = {
    val rows = consumerOffsets(schema, table).toSeq
    spark.createDataFrame(rows).toDF("consumer_id", "next_snapshot_id")
  }


  // ---- reads + time travel ----------------------------------------------

  def snapshots(schema: String, table: String): Seq[SnapshotInfo] = {
    val snaps = readManifest(schema, table).get("snapshots").asInstanceOf[ArrayNode]
    (0 until snaps.size()).map { i =>
      val s = snaps.get(i)
      SnapshotInfo(s.get("id").asLong(), s.get("timestampMillis").asLong())
    }
  }

  /**
   * Read a table at the latest snapshot, a specific snapshot id, or the
   * latest snapshot with timestamp ≤ `asOfMillis`. When neither parameter
   * is given, session-level defaults [[GraftOptions.ScanSnapshotId]] /
   * [[GraftOptions.ScanTimestampMillis]] apply (the session-property flow
   * of TrinoSessionProperties.java:36–37).
   */
  def read(schema: String, table: String, snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame = {
    val m = readManifest(schema, table)
    val chosen = chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
    chosen match {
      case None => emptyFrame(m)
      case Some(s) => resolveFrames(schema, table, m, filesOf(s))
        .getOrElse(emptyFrame(m))
    }
  }

  /** Zone maps of every live dir (dir name → stats); empty map for
    * pre-stats manifests — those dirs are simply never pruned. */
  def dirStats(schema: String, table: String): Map[String, FileStats.DirStats] =
    dirStatsFrom(readManifest(schema, table))

  private[sources] def dirStatsFrom(m: ObjectNode): Map[String, FileStats.DirStats] = {
    if (!m.has("dirStats")) return Map.empty
    val node = m.get("dirStats").asInstanceOf[ObjectNode]
    val out = mutable.LinkedHashMap[String, FileStats.DirStats]()
    node.fieldNames().forEachRemaining { d =>
      val n = node.get(d)
      // entries from ANY other stats format are ignored, not trusted —
      // older writers lack this format's guarantees, newer writers may
      // have changed zone semantics this reader would misinterpret
      if (n.has("v") && n.get("v").asInt() == FileStats.FormatVersion)
        out += d -> FileStats.fromJson(n)
    }
    out.toMap
  }

  /** Per-FILE zones of every live dir (dir → relative file path → stats)
    * — the reference's actual skip unit (Paimon manifests carry per-file
    * field stats). Empty inner maps for entries written before per-file
    * zones existed; those dirs prune at dir granularity only. */
  def fileStats(schema: String, table: String): Map[String, Map[String, FileStats.DirStats]] =
    fileStatsFrom(schema, table, readManifest(schema, table))

  /** Both zone granularities from ONE manifest read — table resolution
    * must not pay two JSON parses per query. */
  def allStats(schema: String, table: String)
      : (Map[String, FileStats.DirStats], Map[String, Map[String, FileStats.DirStats]]) = {
    val m = readManifest(schema, table)
    (dirStatsFrom(m), fileStatsFrom(schema, table, m))
  }

  /**
   * Per-file zones, resolving the hierarchical layout: head entries carry
   * either inline `files` (legacy monolithic manifests — still honored)
   * or a `filesExt` token pointing at the dir's immutable `.zones.json`
   * sidecar. Sidecars are loaded lazily HERE — never at manifest-read
   * time — through a token-keyed process cache (immutable once their dir
   * lands; a reused ordinal after rollback gets a fresh token), with
   * cache misses fetched in bounded parallel so a cold 10⁴-dir table
   * costs O(dirs / 16) planning round-trips, not O(dirs) serial opens.
   * Unreadable sidecars degrade that dir to dir-level pruning (empty
   * inner map) — conservative, never wrong.
   */
  private[sources] def fileStatsFrom(schema: String, table: String,
      m: ObjectNode): Map[String, Map[String, FileStats.DirStats]] = {
    if (!m.has("dirStats")) return Map.empty
    val node = m.get("dirStats").asInstanceOf[ObjectNode]
    val out = mutable.LinkedHashMap[String, Map[String, FileStats.DirStats]]()
    val ext = mutable.ArrayBuffer[(String, String)]() // dir -> sidecar token
    node.fieldNames().forEachRemaining { d =>
      val n = node.get(d)
      if (n.has("v") && n.get("v").asInt() == FileStats.FormatVersion) {
        if (n.has("filesExt")) ext += d -> n.get("filesExt").asText()
        else out += d -> FileStats.filesFromJson(n)
      }
    }
    if (ext.nonEmpty) {
      val cache = GraftCatalog.zoneSidecarCache
      var missing = ext.filterNot(e => cache.containsKey(e._2))
      // between-batch eviction only (same policy as BloomIndex's cache):
      // never evict mid-warm, so the decision pass below always hits
      if (missing.nonEmpty && cache.size + missing.size > GraftCatalog.ZoneSidecarCacheCap) {
        cache.clear()
        missing = ext
      }
      if (missing.size > 1) {
        val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]](missing.size)
        missing.foreach { case (d, t) =>
          tasks.add(() => { loadZoneSidecar(schema, table, d, t); () })
        }
        GraftCatalog.sidecarPool.invokeAll(tasks)
      }
      ext.foreach { case (d, t) => out += d -> loadZoneSidecar(schema, table, d, t) }
    }
    out.toMap
  }

  /** Load one dir's zone sidecar through the token cache. */
  private def loadZoneSidecar(schema: String, table: String, dir: String,
      token: String): Map[String, FileStats.DirStats] =
    GraftCatalog.zoneSidecarCache.computeIfAbsent(token, _ => {
      GraftCatalog.zoneSidecarLoads.incrementAndGet()
      try {
        val p = new Path(dirPath(schema, table, dir),
          GraftCatalog.ZoneSidecar)
        val in = fs.open(p)
        val root = try mapper.readTree(in) finally in.close()
        FileStats.sidecarFromJson(root)
      } catch { case scala.util.control.NonFatal(_) => None }
    }).getOrElse(Map.empty)

  /** Write one dir's per-file zones as its immutable `.zones.json`
    * sidecar; returns the fresh cache token the head manifest records. */
  private[sources] def writeZoneSidecar(dirPath: Path,
      files: Map[String, FileStats.DirStats]): String = {
    val token = java.util.UUID.randomUUID().toString
    val bytes = mapper.writeValueAsBytes(FileStats.sidecarToJson(files))
    val out = fs.create(new Path(dirPath, GraftCatalog.ZoneSidecar), true)
    try out.write(bytes) finally out.close()
    sidecarBytesWritten.addAndGet(bytes.length)
    token
  }

  /** Cumulative commit-metadata write sizes of THIS catalog instance —
    * the O(delta) tripwire counters (analog of
    * [[FileStats.driverFooterReads]]): tests assert head-manifest bytes
    * per commit stay flat as table file count grows, with only the
    * sidecar (O(this commit's files)) scaling. */
  private[graft] val manifestBytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val lastManifestBytes = new java.util.concurrent.atomic.AtomicLong(-1L)
  private[graft] val sidecarBytesWritten = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Can a snapshot's dirs be zone-pruned independently? Append-only
    * current-schema snapshots only: on a MoR-pending PK table, pruning
    * the dir holding a key's LATEST version while an older dir survives
    * would resurrect the old version at merge time. */
  /** Bloom-index pointers of the current manifest — dir -> (token,
    * indexed cols); test/ops visibility. */
  private[graft] def bloomIndexInfo(schema: String,
      table: String): Map[String, (String, Set[String])] =
    bloomIdxFrom(readManifest(schema, table))

  /** Columns the table option asks to bloom-index (lower-cased). */
  private def bloomColsOf(m: ObjectNode): Set[String] =
    m.get("options").asInstanceOf[ObjectNode].path(BloomIndex.OptionKey)
      .asText("").split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSet

  /** Manifest bloom-index pointers: dir -> (cache token, indexed cols). */
  private def bloomIdxFrom(m: ObjectNode): Map[String, (String, Set[String])] = {
    if (!m.has("bloomIdx")) return Map.empty
    val node = m.get("bloomIdx").asInstanceOf[ObjectNode]
    val out = scala.collection.mutable.LinkedHashMap[String, (String, Set[String])]()
    node.fieldNames().forEachRemaining { d =>
      val e = node.get(d)
      val cols = scala.collection.mutable.Set[String]()
      e.get("cols").forEach(c => cols += c.asText())
      out += d -> ((e.get("token").asText(), cols.toSet))
    }
    out.toMap
  }

  /**
   * Refine the zone-kept file selections with the per-file bloom index:
   * a file is dropped only when some conjunctive equality/IN constraint
   * on an indexed column admits NONE of its literals (no false
   * negatives ⇒ provably no matching row). Dirs without an index, or
   * predicates without membership constraints, pass through untouched.
   */
  private def bloomRefine(schema: String, table: String, m: ObjectNode,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      perFile: Map[String, Map[String, FileStats.DirStats]],
      selections: Seq[(FileEntry, Option[Seq[String]])])
      : Seq[(FileEntry, Option[Seq[String]])] = {
    val idx = bloomIdxFrom(m)
    if (idx.isEmpty) return selections
    val constraints = FileStats.eqConstraints(resolved)
    if (constraints.isEmpty) return selections
    selections.map { case sel @ (fe, keptOpt) =>
      idx.get(fe.dir) match {
        case Some((token, cols)) if constraints.exists(c => cols.contains(c._1)) =>
          // Candidate inventory: the zone-kept files, else the manifest's
          // per-file zone keys (written by the same commit that built the
          // index — a dir can't have blooms without per-file zones). Only
          // these candidates' sidecars are ever opened (lazy, per-file).
          val bloomDir = dirPath(schema, table, fe.dir)
          keptOpt.orElse(perFile.get(fe.dir).filter(_.nonEmpty)
              .map(_.keys.toSeq.sorted)) match {
            case None => sel // no file inventory: conservative keep
            case Some(candidates) =>
              val pass = BloomIndex.filterMightMatch(
                fs, bloomDir, token, cols, candidates, constraints)
              if (pass.size == candidates.size) sel else (fe, Some(pass))
          }
        case _ => sel
      }
    }
  }

  private def zonePrunable(m: ObjectNode, entries: Seq[FileEntry]): Boolean = {
    val cur = m.get("currentSchemaVersion").asInt()
    // Deletion-vector entries don't block pruning: DVs only REMOVE rows,
    // so a dir's zones stay a sound superset of its live values — pruning
    // on them can only keep too much, never drop a live row.
    entries.forall(e =>
      (e.kind == "data" && e.schemaVersion == cur) || e.kind == "dv") &&
      primaryKey(m).isEmpty
  }

  /**
   * Read with planning-time zone-map pruning: dirs whose manifest
   * min/max stats prove `condition` unsatisfiable are never listed,
   * opened, or planned — the Spark-native analog of the reference's
   * manifest-stats split skip (TrinoMetadataBase.applyFilter →
   * SnapshotReader.withFilter). On a 100 TB table where commits arrive
   * time-ordered, a date-range query plans O(matching dirs) instead of
   * O(all dirs). Falls back to `read(...).filter` whenever pruning is
   * unsafe (PK merge state, evolved files) or stats are missing —
   * results are identical either way; only the file list shrinks.
   */
  def readWhere(schema: String, table: String,
      condition: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame = {
    val m = readManifest(schema, table)
    val chosen = chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
    val entries = chosen.map(filesOf).getOrElse(Seq.empty)
    val full = read(schema, table, snapshotId, asOfMillis).filter(condition)
    // DV-COVERED PK snapshots (every data dir at/below the newest build,
    // current schema) prune like append-only state: the base holds one
    // live version per key, so a dir/file whose zones refute the
    // predicate holds no matching live row — merge can't resurrect a
    // version from a pruned file (it is either DV'd or THE live one).
    // Post-build deltas make pruning unsound again (a pruned old version
    // could mask a delta race) — those fall back to read().filter.
    val pk0 = primaryKey(m)
    val coveredPk = pk0.nonEmpty && entries.exists(_.kind == "dv") && {
      val bo = entries.filter(_.kind == "dv").map(entryOrdinal).max
      val cur = m.get("currentSchemaVersion").asInt()
      entries.filterNot(_.kind == "dv").forall(fe =>
        fe.kind == "data" && entryOrdinal(fe) <= bo && fe.schemaVersion == cur)
    }
    if (entries.isEmpty || !(zonePrunable(m, entries) || coveredPk)) return full
    // The Column's tree is unresolved (plain name + raw literal); the zone
    // evaluator needs the analyzer's output — typed literals, coercion
    // casts folded in — so pull the resolved predicate off the analyzed
    // filter (driver-side analysis only, no job).
    val resolved = full.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
    if (resolved.isEmpty) return full
    val (dvEntries, dataEntries) = entries.partition(_.kind == "dv")
    val stats = dirStatsFrom(m)
    val kept = dataEntries.filter(fe =>
      stats.get(fe.dir).forall(FileStats.mightMatch(_, resolved.get)))
    // The bucketed covered-PK branch below reads whole kept dirs (its
    // dirs hold __bucket=k subdirs the per-file machinery doesn't
    // resolve) — computing per-file zone/bloom refinement for it would
    // be sidecar I/O thrown away, so that shape stays dir-level.
    val bucketedCovered = coveredPk && bucketCount(m).isDefined
    // Per-FILE refinement inside surviving dirs — the reference's skip
    // unit (Paimon per-file field stats). A large append dir whose files
    // were written range-clustered (or just time-ordered) prunes to the
    // matching files instead of all-or-nothing; dirs without per-file
    // zones (pre-files manifests) keep all their files.
    val perFile = if (bucketedCovered) Map.empty[String, Map[String, FileStats.DirStats]]
      else fileStatsFrom(schema, table, m)
    val zoneSel: Seq[(FileEntry, Option[Seq[String]])] = kept.map { fe =>
      perFile.get(fe.dir).filter(_.nonEmpty) match {
        case Some(fm) =>
          val keptFiles = fm.collect {
            case (rel, z) if FileStats.mightMatch(z, resolved.get) => rel
          }.toSeq.sorted
          if (keptFiles.size < fm.size) (fe, Some(keptFiles)) else (fe, None)
        case None => (fe, None)
      }
    }
    // Bloom pass AFTER zones: membership pruning for the equality/IN
    // literals min/max can't rule out (unclustered point lookups).
    val selections = if (bucketedCovered) zoneSel
      else bloomRefine(schema, table, m, resolved.get, perFile, zoneSel)
    if (kept.size == dataEntries.size && selections.forall(_._2.isEmpty)) return full
    val picked: Seq[(FileEntry, Option[Seq[String]])] = selections.flatMap {
      case (fe, Some(keptFiles)) =>
        if (keptFiles.isEmpty) None // every file in the dir is provably out
        else Some((fe, Some(keptFiles.map(rel =>
          new Path(dirPath(schema, table, fe.dir), rel).toString))))
      case (fe, None) => Some((fe, None))
    }
    // zonePrunable ⇒ append-only (no PK, no tombstones): the frames union
    // without merge resolution, exactly resolveFrames' no-PK arm —
    // including deletion-vector application (pruning a dirty file is
    // sound: its DV rows then match nothing). The covered-PK branch is
    // the same shape with the merge-free DV-applied base.
    if (picked.isEmpty) emptyFrame(m).filter(condition)
    else if (!coveredPk)
      appendUnion(schema, table, m, picked, dvEntries)
        .drop("__ord", "__del").filter(condition)
    else if (bucketCount(m).isEmpty)
      appendUnion(schema, table, m, picked, dvEntries)
        .select(currentFields(m).map(f => col(f.name)): _*).filter(condition)
    else {
      // bucketed covered base: dirs hold __bucket=k subdirs that
      // appendUnion's per-file machinery doesn't resolve — DIR-level
      // pruning only (whole kept dirs, uniform anti-join), which is
      // where the zones' win lives anyway (time-ordered commits)
      unionAllByName(picked.map { case (fe, _) => frameFor(schema, table, m,
          fe, withMeta = true, withBucket = true) })
        .join(dvFrame(schema, table, dvEntries),
          Seq(DvFileCol, DvPosCol), "left_anti")
        .select(currentFields(m).map(f => col(f.name)): _*).filter(condition)
    }
  }

  /**
   * Dynamic-filter join (the Spark-native analog of Trino's
   * DynamicFilter SPI, which the reference connector receives in
   * TrinoSplitManager.java:37 / TrinoPageSourceProvider.java:52 —
   * runtime build-side values prune the probe-side splits): evaluate the
   * SMALL dim side first, turn its distinct join keys into a predicate,
   * and route the fact scan through [[readWhere]] so zone maps drop
   * non-matching dirs AND files before planning — then broadcast-join.
   * On a 100 TB fact table clustered by the join key (ingest order or
   * [[sortCompact]]), a selective dim filter reads O(matching files)
   * instead of the full table; the join applies exact semantics either
   * way, so the derived predicate only ever needs to be a superset.
   *
   * Contract (same as Trino's dynamic filtering, which engages only for
   * broadcast-able builds): `dim` must be small — it is collected
   * (distinct keys, capped at `maxKeys`) and broadcast. Above the cap
   * the filter is abandoned and this degrades to the plain broadcast
   * join (a non-selective filter prunes nothing anyway). Key sets up to
   * `inListMax` prune as per-column IN lists; larger sets degrade to
   * per-column min/max ranges (Trino's large dynamic filters do the
   * same) — still sound, still range-prunable.
   */
  def dynamicFilterJoin(schema: String, table: String, keys: Seq[String],
      dim: DataFrame, dimKeys: Seq[String],
      joinType: String = "inner",
      maxKeys: Int = 100000, inListMax: Int = 1000): DataFrame = {
    require(keys.nonEmpty && keys.size == dimKeys.size,
      s"need matching non-empty key lists, got $keys vs $dimKeys")
    require(joinType == "inner" || joinType == "left_semi",
      s"dynamic filtering needs a fact-preserving-only join (inner or " +
        s"left_semi), got $joinType — an outer fact side would resurrect " +
        "pruned rows as nulls")
    val cond = (f: DataFrame, d: DataFrame) =>
      keys.zip(dimKeys).map { case (k, dk) => f(k) === d(dk) }.reduce(_ && _)
    def join(fact: DataFrame): DataFrame = {
      val d = org.apache.spark.sql.functions.broadcast(dim)
      fact.join(d, cond(fact, d), joinType)
    }
    // ONE pass over the dim side: distinct key tuples, capped — the
    // build-side evaluation Trino does before handing the filter to the
    // split manager. limit(maxKeys + 1) bounds driver memory even when
    // the cap is misjudged.
    val keyRows = dim.select(dimKeys.map(col): _*).distinct()
      .limit(maxKeys + 1).collect()
    if (keyRows.length > maxKeys) return join(read(schema, table))
    // empty build side: inner/semi join is provably empty — no fact scan
    if (keyRows.isEmpty) return join(read(schema, table).filter(lit(false)))
    val pred = keys.zipWithIndex.map { case (k, i) =>
      val vs = keyRows.map(_.get(i)).distinct.filter(_ != null)
      if (vs.isEmpty) lit(false)
      else if (vs.length <= inListMax) col(k).isin(vs.toIndexedSeq: _*)
      else {
        // min/max range per column — conservative superset of the set
        // (collect() returns external types: Long/String/Date/... are
        // all Comparable)
        val sorted = vs.sortWith((a, b) =>
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0)
        col(k) >= lit(sorted.head) && col(k) <= lit(sorted.last)
      }
    }.reduce(_ && _)
    join(readWhere(schema, table, pred))
  }

  /**
   * Metadata-only row count: `count(*)` answered from manifest zone-map
   * row counts — zero files opened, zero executor work (the O(1)
   * planning answer a 100 TB `SELECT count(*)` deserves). Some only when
   * provably exact: every live dir is plain current-schema append data
   * with recorded stats, and the table has no primary key (MoR merge
   * changes the visible count).
   */
  def countRows(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Option[Long] = {
    val m = readManifest(schema, table)
    val chosen = chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
    if (chosen.isEmpty) return Some(0L)
    val entries = filesOf(chosen.get)
    // DV-covered PK snapshot (every data dir at/below the newest build,
    // no tombstone dirs): the live image holds exactly one row per key,
    // so the count is metadata-exact by subtraction — the read-optimized
    // mode answers count(*) with zero I/O, like an append table
    // (positions never double-count: each build derives victims over the
    // DV-applied image). Retired-bucket marks at/below a build don't
    // break this: the build DV'd those rows positionally, and dir stats
    // count them, so the subtraction stays exact.
    if (primaryKey(m).nonEmpty) {
      val dvEs0 = entries.filter(_.kind == "dv")
      if (dvEs0.isEmpty) return None
      val buildOrd = dvEs0.map(entryOrdinal).max
      val others = entries.filterNot(_.kind == "dv")
      if (!others.forall(fe => fe.kind == "data" && entryOrdinal(fe) <= buildOrd))
        return None
      val stats0 = dirStatsFrom(m)
      val counts0 = others.map(fe => stats0.get(fe.dir).map(_.rows))
      val dvIdx0 = dvIndexFrom(m)
      val dvRows0 = dvEs0.map(e => dvIdx0.get(e.dir).map(_._2))
      return if (counts0.exists(_.isEmpty) || dvRows0.exists(_.isEmpty)) None
        else Some(counts0.flatten.sum - dvRows0.flatten.sum)
    }
    if (!zonePrunable(m, entries)) return None
    val (dvEs, dataEs) = entries.partition(_.kind == "dv")
    val stats = dirStatsFrom(m)
    val counts = dataEs.map(fe => stats.get(fe.dir).map(_.rows))
    if (counts.exists(_.isEmpty)) return None
    // Deletion vectors subtract exactly: a position can be deleted only
    // once (deleteWhere evaluates its predicate over the DV-applied
    // image, so an already-deleted row is invisible to later deletes).
    val dvIdx = dvIndexFrom(m)
    val dvRows = dvEs.map(e => dvIdx.get(e.dir).map(_._2))
    if (dvRows.exists(_.isEmpty)) None
    else Some(counts.flatten.sum - dvRows.flatten.sum)
  }

  /**
   * Map one snapshot file entry onto the current schema: every current
   * column (by stable field id; missing → null) plus the snapshot ordinal
   * `__ord` and the tombstone flag `__del` used for merge-on-read.
   */
  private[sources] def frameFor(schema: String, table: String, m: ObjectNode,
      fe: FileEntry, pathOverride: Option[Path] = None,
      fileSubset: Option[Seq[String]] = None,
      withMeta: Boolean = false,
      // Partitioned bucketed layout: read the WHOLE dir (partition
      // discovery resolves `col=value` AND `__bucket=k` segments) and
      // keep the bucket column so the caller can split per-bucket legs.
      withBucket: Boolean = false): DataFrame = {
    val curFields = currentFields(m)
    val allSchemas = schemaVersions(m)
    val writeFieldsAll = allSchemas(fe.schemaVersion)
    // Delete files carry only the primary-key columns (write-time names)
    // — plus the sequence field on `sequence.field` tables, where a
    // tombstone must hold its victim's sequence value to win the version
    // race (a missing column reads as NULL, which sorts smallest).
    val writeFields =
      if (fe.kind == "delete") {
        // cross-partition tables: tombstones also carry their victim's
        // partition columns (the OLD residence) — the merge keys on
        // (pk, partition), so the tombstone must land in the right group
        val keep = primaryKey(m).toSet ++ sequenceField(m) ++
          partitionColumns(m)
        val keepIds = curFields.filter(f => keep.contains(f.name)).map(_.id).toSet
        writeFieldsAll.filter(f => keepIds.contains(f.id))
      } else writeFieldsAll
    // data AND tombstone dirs follow the table's file.format (ORC reads
    // columns by write-time NAME, so the field-id mapping below works
    // identically); DV sidecar dirs alone are parquet-pinned (position
    // lists, not data)
    val fmt = if (fe.kind == "dv") "parquet" else fileFormat(m)
    // ORC/AVRO data files of DV tables carry their row identity as a
    // stored column ([[OrcPosCol]], stamped at write — neither reader
    // has a `_metadata.row_index`); a meta-requesting read pulls it
    // through the explicit schema and surfaces it as [[DvPosCol]] below.
    // DV tables only: a non-DV file never carries the column, and
    // spark-avro refuses schema fields absent from the file (ORC would
    // merely read nulls).
    val orcPos = withMeta && fmt != "parquet" && fe.kind == "data" &&
      deletionVectors(m)
    // Explicit write-time schema: without it, Spark's partition-dir
    // type inference would coerce string partition values that look
    // numeric ("0123" -> 123) and corrupt the round-trip.
    val writeSchema = StructType(writeFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))) ++
      (if (orcPos)
        Seq(StructField(OrcPosCol, org.apache.spark.sql.types.LongType))
      else Seq.empty) ++
      // retract-flagged dirs (aggregation engine) carry the hidden flag
      // column; only flagged dirs read it — spark-avro refuses schema
      // fields absent from the file, and unflagged dirs never wrote it
      (if (fe.retract)
        Seq(StructField(RetractCol, org.apache.spark.sql.types.BooleanType))
      else Seq.empty) ++
      (if (withBucket)
        Seq(StructField(BucketCol, org.apache.spark.sql.types.IntegerType))
      else Seq.empty))
    val base = pathOverride.getOrElse(dirPath(schema, table, fe.dir))
    val raw = fileSubset match {
      // zone-pruned file list: explicit files with basePath so `col=value`
      // partition segments between the dir root and each file still
      // resolve as partition columns of the declared schema
      case Some(files) => spark.read.schema(writeSchema)
        .option("basePath", base.toString).format(providerFor(fmt)).load(files: _*)
      case None => spark.read.schema(writeSchema).format(providerFor(fmt))
        .load(base.toString)
    }
    // Map write-time schema → current schema by field id; struct columns
    // whose SHAPE evolved map member-wise by nested lineage (adaptExpr —
    // a positional cast would mis-wire renamed/added members).
    val byId = writeFields.map(f => f.id -> f).toMap
    val cols = curFields.map { cf =>
      val toDt = TypeMapping.toSparkType(cf.trinoType)
      byId.get(cf.id) match {
        case Some(wf) =>
          val fromDt = TypeMapping.toSparkType(wf.trinoType)
          (fromDt, toDt) match {
            case (f0, t0) if f0 == t0 => col(wf.name).as(cf.name)
            case (_: StructType, _: StructType) =>
              adaptExpr(col(wf.name), fromDt, toDt, curPath = "",
                nestedCurToWrite(m, cf.id, fe.schemaVersion)).as(cf.name)
            case _ => col(wf.name).cast(toDt).as(cf.name)
          }
        case None => lit(null).cast(toDt).as(cf.name)
      }
    }
    // Deletion-vector identity of each row: the file's table-relative
    // path (from the immutable "snap-" dir segment on, so the warehouse
    // can be relocated without invalidating DVs) plus the row's position
    // in that file (`_metadata.row_index` — generated from row-group
    // offsets, stable across reads and pushdown). Both are constant
    // metadata columns, so the scan stays vectorized.
    // The greedy `.*` anchors the capture at the LAST path segment that
    // starts with "snap-": a warehouse path that itself contains a
    // "/snap-…" segment must not shift the capture left, or DV entries
    // would carry warehouse prefixes that never match the table-relative
    // paths the dvIndex and appendUnion compare against.
    val metaCols = if (!withMeta) Seq.empty else Seq(
      org.apache.spark.sql.functions.regexp_extract(
        col("_metadata.file_path"), "^.*/(snap-[^/]+(?:/.+)?)$", 1).as(DvFileCol),
      // parquet: the reader-generated row index (row-group offsets,
      // stable across reads and pushdown). ORC: the stored write-time
      // identity column — same stability contract, different source.
      (if (orcPos) col(OrcPosCol) else col("_metadata.row_index"))
        .as(DvPosCol))
    // ordinal = leading digits of the dir name: "snap-7" and a merge
    // commit's paired "snap-7-del" share ordinal 7 (one atomic snapshot;
    // a key never appears in both dirs, so the tie is unreachable)
    val bucketCols = if (withBucket) Seq(col(BucketCol)) else Seq.empty
    // aggregation-engine frames always carry the retract flag so sibling
    // dirs with and without retract batches union by name; unflagged
    // dirs contribute constant false (their rows are all inserts)
    val rkCols = if (mergeEngine(m) != "aggregation") Seq.empty
      else Seq((if (fe.retract)
        org.apache.spark.sql.functions.coalesce(col(RetractCol), lit(false))
      else lit(false)).as(RetractCol))
    raw.select(cols ++ metaCols ++ bucketCols ++ rkCols ++ Seq(
      lit(dirKey(fe.dir).stripPrefix("snap-").takeWhile(_.isDigit).toLong).as("__ord"),
      lit(fe.kind == "delete").as("__del")): _*)
  }


  /**
   * Union the mapped frames and resolve merge-on-read state per the
   * table's merge engine (Paimon's `merge-engine`, default deduplicate):
   *
   *  - `deduplicate`: latest ordinal wins per key; a winning tombstone
   *    removes the key (the only engine that accepts deletes).
   *  - `first-row`: EARLIEST ordinal wins per key.
   *  - `partial-update`: per field, the latest NON-NULL value wins — a
   *    row upserting (id, NULL, x) patches only its non-null fields.
   *  - `aggregation`: per field, the configured `fields.<f>.
   *    aggregate-function` (sum/min/max/last_non_null) folds versions.
   *
   * Append-only tables have no tombstones — plain union. All engines are
   * one hash shuffle on the key (groupBy aggregation for the field-wise
   * engines — partial map-side combine, no sort; window for the
   * ordinal-wise ones).
   */
  private[sources] def resolveFrames(schema: String, table: String, m: ObjectNode,
      entries: Seq[FileEntry]): Option[DataFrame] = {
    if (entries.isEmpty) return None
    // PK tables carrying deletion vectors (built at compaction) read
    // merge-free below the build ordinal — see pkDvResolve. Checked
    // before the bucketed dispatch: the hybrid read subsumes it.
    if (primaryKey(m).nonEmpty && entries.exists(_.kind == "dv"))
      return pkDvResolve(schema, table, m, entries)
    bucketCount(m) match {
      case Some(n) if primaryKey(m).nonEmpty =>
        return bucketedResolve(schema, table, m, entries, n)
      case _ => ()
    }
    val pk = primaryKey(m)
    if (pk.isEmpty) {
      // Append-only: plain union, minus any deletion-vector positions.
      val (dvEs, dataEs) = entries.partition(_.kind == "dv")
      if (dataEs.isEmpty) return None
      return Some(appendUnion(schema, table, m, dataEs.map((_, None)), dvEs)
        .drop("__ord", "__del"))
    }
    val all = unionAllByName(entries.map(frameFor(schema, table, m, _)))
    val names = currentFields(m).map(_.name)
    def ordinalPick(earliest: Boolean): DataFrame = {
      // first-row keeps pure commit order (sequence.field is validated
      // deduplicate-only at create time)
      val order = if (earliest) Seq(col("__ord").asc) else newestFirst(m)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pk.map(col): _*)
        .orderBy(order: _*)
      all.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && !col("__del"))
        .drop("__ord", "__rn", "__del")
    }
    Some(mergeEngine(m) match {
      case "deduplicate" => ordinalPick(earliest = false)
      case "first-row" => ordinalPick(earliest = true)
      case engine => // partial-update | aggregation
        // tombstone dirs exist on aggregation tables only under
        // remove-record-on-delete (r16) — the fold then re-aggregates
        // each key from the versions after its latest tombstone;
        // retract-flagged dirs flip the fold to its inverting form
        fieldwiseFold(m, all, engine,
          tombstones = entries.exists(_.kind == "delete"),
          retracts = entries.exists(_.retract))
    })
  }

  /** Resolve an arbitrary `__ord`-tagged frame of row versions under the
    * table's merge engine — the ad-hoc analog of [[resolveFrames]] for
    * frames that are not snapshot entries (the write-time lookup
    * producer's image ∪ patch fold). With `tombstones=true` the input
    * may carry `__del`-flagged remove-record-on-delete rows, which the
    * field-wise fold honors (versions at or below a key's latest
    * tombstone are dead) — without the flag the input must be
    * tombstone-free. */
  private[sources] def resolveVersions(m: ObjectNode, all: DataFrame,
      tombstones: Boolean = false): DataFrame = {
    val pk = primaryKey(m)
    val names = currentFields(m).map(_.name)
    mergeEngine(m) match {
      case "deduplicate" | "first-row" =>
        val earliest = mergeEngine(m) == "first-row"
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pk.map(col): _*)
          .orderBy(if (earliest) col("__ord").asc else col("__ord").desc)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).select(names.map(col): _*)
      case engine => fieldwiseFold(m, all, engine, tombstones = tombstones)
    }
  }

  /** Union of `entries`' frames zone-pruned against the pk BOUNDS of a
    * key-bearing frame — one O(keys) min/max agg, then per-file zone
    * admission: a file whose pk zone is disjoint from the keys' range on
    * ANY key column can hold none of them. Sharpest when keys cluster
    * (monotonic ids, time-prefixed keys); entries without per-file zones
    * are kept whole — conservative, never wrong. Shared by the
    * incremental DV rebuild's base scan and the field-wise lookup
    * producer's before-image read. */
  private[sources] def keyBoundPrunedUnion(schema: String, table: String,
      m: ObjectNode, entries: Seq[FileEntry], keyed: DataFrame,
      pk: Seq[String], withMeta: Boolean = false): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    val bounds = keyed.select(pk.flatMap(k => Seq(
      fmin(col(k)).as(s"__mn_$k"), fmax(col(k)).as(s"__mx_$k"))): _*).head()
    val rangePred: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      pk.flatMap { k =>
        val mn = bounds.getAs[Any](s"__mn_$k")
        val mx = bounds.getAs[Any](s"__mx_$k")
        if (mn == null || mx == null) None
        else {
          import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
            GreaterThanOrEqual, LessThanOrEqual, Literal => CLit}
          Some(CAnd(
            GreaterThanOrEqual(UnresolvedAttribute(k), CLit(mn)),
            LessThanOrEqual(UnresolvedAttribute(k), CLit(mx))))
        }
      }.reduceOption(org.apache.spark.sql.catalyst.expressions.And(_, _))
    val perFile = fileStatsFrom(schema, table, m)
    val frames = entries.flatMap { fe =>
      (rangePred, perFile.get(fe.dir).filter(_.nonEmpty)) match {
        case (Some(p), Some(fm)) =>
          val admit = fm.collect {
            case (rel, z) if FileStats.mightMatch(z, p) => rel
          }.toSeq.sorted
          if (admit.isEmpty) None
          else Some(frameFor(schema, table, m, fe,
            fileSubset = Some(admit.map(r =>
              new Path(dirPath(schema, table, fe.dir), r).toString)),
            withMeta = withMeta))
        case _ =>
          Some(frameFor(schema, table, m, fe, withMeta = withMeta))
      }
    }
    if (frames.isEmpty) None else Some(unionAllByName(frames))
  }

  /** Fold an `__ord`-tagged frame of row versions per a FIELD-WISE merge
    * engine (partial-update | aggregation) — one groupBy aggregation
    * over the versions, partial map-side combine, no sort. Shared by
    * [[resolveFrames]] (snapshot reads) and the write-time `lookup`
    * changelog producer (which folds a staged patch batch onto the
    * touched keys' resolved images). */
  private def fieldwiseFold(m: ObjectNode, all0: DataFrame,
      engine: String, tombstones: Boolean = false,
      retracts: Boolean = false): DataFrame = {
    val pk = primaryKey(m)
    val names = currentFields(m).map(_.name)
    // remove-record-on-delete (aggregation, r16): versions at or below a
    // key's latest tombstone ordinal are dead — the key re-aggregates
    // from later versions only, and disappears when none follow. The
    // window shares the groupBy's key partitioning (one exchange).
    val all = if (!tombstones) all0 else {
      val wDel = org.apache.spark.sql.expressions.Window.partitionBy(pk.map(col): _*)
      val dOrd = org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col("__del"), col("__ord"))).over(wDel)
      all0.withColumn("__dord", dOrd)
        .filter(!col("__del") &&
          (col("__dord").isNull || col("__ord") > col("__dord")))
        .drop("__dord")
    }
    // retract inputs present? Gated on the caller's ENTRY-level flag,
    // not just the column (every aggregation frame carries it as
    // constant false) — insert-only histories keep the cheaper
    // comparison-free folds, and collect on unorderable element types
    // (array<map>) keeps working there.
    val hasRk = retracts && all.columns.contains(RetractCol)
    val rkCol = if (hasRk) col(RetractCol) else lit(false)
    /** Latest non-null value of `f` across a key's versions: max over
      * structs ordered by ordinal, built only when `f` is non-null so
      * `max` skips null versions entirely. Deterministic — ordinals are
      * unique per key (one version per commit). */
    def lastNonNull(f: String) =
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col(f).isNotNull,
          org.apache.spark.sql.functions.struct(col("__ord").as("o"), col(f).as("v"))))
        .getField("v")
    val cur = currentFields(m)
    // sequence-group routing (partial-update only): member field →
    // its group's sequence column; the seq column routes to itself
    val groups = if (engine == "partial-update") sequenceGroups(m)
      else Map.empty[String, Seq[String]]
    val fieldGroup: Map[String, String] =
      groups.flatMap { case (g, ms) => ms.map(_ -> g) } ++
        groups.keys.map(g => g -> g)
    /** The group's winner row is the largest (group-seq, ordinal)
      * among rows with a NON-NULL group sequence; take its value for
      * `f` — nulls included (a higher-versioned row may null a
      * member), unlike the groupless latest-non-null rule. */
    def groupPick(g: String, f0: String) =
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.when(col(g).isNotNull,
          org.apache.spark.sql.functions.struct(col(g).as("__s"),
            col("__ord").as("__o"), col(f0).as("__v"))))
        .getField("__v")
    val aggs = cur.filterNot(f => pk.contains(f.name)).map { f =>
      val dt = TypeMapping.toSparkType(f.trinoType)
      import org.apache.spark.sql.functions.{sum => fsum, min => fmin,
        max => fmax, bool_and, bool_or, product, when => fwhen,
        struct => fstruct, collect_list, array_sort, transform,
        array_join}
      // version-ordered struct (ordinal first ⇒ struct comparison /
      // sort IS commit order); built only for non-null values when
      // `nonNullOnly`, so min/max skip null versions entirely
      def ordStruct(f0: String, nonNullOnly: Boolean) = {
        val s0 = fstruct(col("__ord").as("o"), col(f0).as("v"))
        if (nonNullOnly) fwhen(col(f0).isNotNull, s0) else s0
      }
      val e = if (engine == "partial-update")
        fieldGroup.get(f.name) match {
          case Some(g) => groupPick(g, f.name)
          case None => lastNonNull(f.name)
        }
      else fieldAggregate(m, f.name) match {
        // retract inputs subtract (group inverse — exact, and associative
        // over a compacted prefix); insert-only history folds as before
        case "sum" =>
          if (!hasRk) fsum(col(f.name)).cast(dt)
          else fsum(fwhen(rkCol,
              org.apache.spark.sql.functions.negate(col(f.name)))
            .otherwise(col(f.name))).cast(dt)
        case "min" => fmin(col(f.name))
        case "max" => fmax(col(f.name))
        case "bool_and" => bool_and(col(f.name))
        case "bool_or" => bool_or(col(f.name))
        case "product" => product(col(f.name)).cast(dt)
        // non-null values joined in COMMIT ORDER — associative over
        // a compacted prefix (its ordinal precedes later versions)
        case "listagg" => array_join(transform(
          array_sort(collect_list(ordStruct(f.name, nonNullOnly = true))),
          x => x.getField("v")), ",")
        // min_by/max_by on the ordinal: no struct comparison, so the
        // value type may be unorderable (array<map>, map) — and rows
        // whose ordering key is NULL are skipped, which gives
        // first_non_null for free.
        case "first_value" =>
          org.apache.spark.sql.functions.min_by(col(f.name), col("__ord"))
        case "first_non_null" =>
          org.apache.spark.sql.functions.min_by(col(f.name),
            fwhen(col(f.name).isNotNull, col("__ord")))
        case "last_value" =>
          org.apache.spark.sql.functions.max_by(col(f.name), col("__ord"))
        case "last_non_null" => lastNonNull(f.name)
        // Paimon's `collect`: non-null array versions CONCATENATE in
        // commit order (associative over a compacted prefix exactly
        // like listagg); `fields.<f>.distinct=true` dedups the result.
        // All-null history folds to null, as a fresh accumulator would.
        case "collect" =>
          import org.apache.spark.sql.functions.{flatten, array_distinct,
            size => fsize, when => fwhen, aggregate => fagg,
            concat => fconcat, slice, array_position, array, struct => fstruct2}
          // explicit ordinal-only comparator (as in merge_map below):
          // the default struct ordering would demand an ORDERABLE
          // element type, rejecting e.g. collect on array<map<...>>
          val cmp = (l: org.apache.spark.sql.Column,
              r: org.apache.spark.sql.Column) =>
            fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0)
          if (!hasRk) {
            // insert-only history: versions concatenate in commit order
            val versions = array_sort(
              collect_list(ordStruct(f.name, nonNullOnly = true)), cmp)
            val flat = flatten(transform(versions, x => x.getField("v")))
            val merged = if (fieldCollectDistinct(m, f.name))
              array_distinct(flat) else flat
            fwhen(fsize(versions) > 0, merged)
          } else {
            // retract inputs REMOVE one occurrence per element (multiset
            // subtraction — the compacted prefix keeps the full array,
            // so retract-after-compact stays exact); fold in commit
            // order so an element re-inserted after its retraction
            // survives. An unfound element leaves the array unchanged.
            val sorted = array_sort(
              collect_list(fwhen(col(f.name).isNotNull,
                fstruct2(col("__ord").as("o"), col(f.name).as("v"),
                  rkCol.as("r")))), cmp)
            def removeFirst(a: org.apache.spark.sql.Column,
                e: org.apache.spark.sql.Column) = {
              val p = array_position(a, e)
              // tail length = size(a), never Int.MaxValue: Slice adds
              // start + length internally and an int overflow silently
              // yields an empty array
              fwhen(p > 0, fconcat(
                slice(a, lit(1), (p - 1).cast("int")),
                slice(a, (p + 1).cast("int"), fsize(a))))
                .otherwise(a)
            }
            val folded = fagg(sorted, array().cast(dt), (acc, x) =>
              fwhen(x.getField("r"),
                fagg(x.getField("v"), acc, (aa, e) => removeFirst(aa, e)))
              .otherwise(fconcat(acc, x.getField("v"))))
            val merged = if (fieldCollectDistinct(m, f.name))
              array_distinct(folded) else folded
            fwhen(fsize(sorted) > 0, merged)
          }
        // Paimon's `merge_map`: version maps fold entry-wise, a later
        // version's value wins per entry key. Maps are unorderable, so
        // the version sort uses an explicit ordinal comparator and the
        // fold is a lambda aggregate over disjoint-key map_concat.
        case "merge_map" =>
          import org.apache.spark.sql.functions.{aggregate => fagg,
            filter => ffilter, map_filter, map_concat, map_contains_key,
            size => fsize, when => fwhen, map_from_arrays, array,
            expr => _}
          val sorted = array_sort(
            collect_list(fstruct(col("__ord").as("o"), col(f.name).as("v"))),
            (l, r) => fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0))
          val nonNull = ffilter(sorted, x => x.getField("v").isNotNull)
          val emptyMap = map_from_arrays(array(), array()).cast(dt)
          fwhen(fsize(nonNull) > 0,
            fagg(nonNull, emptyMap, (acc, x) => map_concat(
              map_filter(acc, (k, _) =>
                !map_contains_key(x.getField("v"), k)),
              x.getField("v"))))
        // Exact distinct-state sketches: versions hold SERIALIZED
        // roaring bitmaps that fold by OR — associative/commutative,
        // so compacted partials OR with later deltas to the same
        // result. Partial buffers OR map-side (TypedImperativeAggregate),
        // so N versions shuffle as one bitmap per partition.
        case "rbm32" => graft.plans.kernels.rbmOr(col(f.name), bits64 = false)
        case "rbm64" => graft.plans.kernels.rbmOr(col(f.name), bits64 = true)
        // Approximate distinct-state: serialized Apache DataSketches
        // HLL folded with Spark's native union aggregate (codegen'd,
        // merge-associative). allowDifferentLgConfigK: writers may
        // size sketches differently; the union downgrades to the
        // smaller K, exactly Paimon's hll_sketch tolerance.
        case "hll_sketch" =>
          org.apache.spark.sql.functions.hll_union_agg(col(f.name),
            allowDifferentLgConfigK = true)
        // Paimon's `nested_update`: array<row> versions fold in
        // commit order. With `fields.<f>.nested-key` each incoming
        // element REPLACES any accumulated element sharing its key
        // (null-safe equality); without keys versions append. Same
        // lambda-aggregate shape as merge_map — maps/structs may be
        // unorderable, so the version sort uses the ordinal comparator.
        case "nested_update" =>
          import org.apache.spark.sql.functions.{aggregate => fagg,
            filter => ffilter, exists => fexists, concat => fconcat,
            size => fsize, when => fwhen, array}
          val sorted = array_sort(
            collect_list(ordStruct(f.name, nonNullOnly = true)),
            (l, r) => fwhen(l.getField("o") < r.getField("o"), -1)
              .when(l.getField("o") > r.getField("o"), 1).otherwise(0))
          val keys = fieldNestedKeys(m, f.name)
          val empty = array().cast(dt)
          val step: (org.apache.spark.sql.Column,
              org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
            if (keys.isEmpty) (acc, x) => fconcat(acc, x.getField("v"))
            else (acc, x) => fconcat(
              ffilter(acc, e => !fexists(x.getField("v"), n =>
                keys.map(k => n.getField(k) <=> e.getField(k))
                  .reduce(_ && _))),
              x.getField("v"))
          fwhen(fsize(sorted) > 0, fagg(sorted, empty, step))
      }
      e.as(f.name)
    }
    if (aggs.isEmpty) all.select(pk.map(col): _*).distinct()
    else all.groupBy(pk.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(names.map(col): _*)
  }


  /** Ops whose semantics assume latest-version-wins (tombstones,
    * changelogs, in-range merges) are deduplicate-only — same restriction
    * Paimon places on the field-wise merge engines. */
  private[sources] def requireDeduplicate(m: ObjectNode, table: String, op: String): Unit =
    require(mergeEngine(m) == "deduplicate",
      s"$op on $table requires merge-engine=deduplicate, " +
        s"table uses ${mergeEngine(m)}")

  /** Tombstone-landing ops (deleteWhere, mergeCommit): deduplicate as
    * ever, plus the field-wise engines under their
    * `<engine>.remove-record-on-delete=true` option (r16) — the fold
    * re-folds each key from the versions after its latest tombstone,
    * so a whole-row delete is well-defined there too. */
  private[sources] def requireTombstoneCapable(m: ObjectNode, table: String,
      op: String): Unit =
    require(mergeEngine(m) == "deduplicate" ||
      ((mergeEngine(m) == "aggregation" ||
        mergeEngine(m) == "partial-update") && removeRecordOnDelete(m)),
      s"$op on $table requires merge-engine=deduplicate (or a field-wise " +
        s"engine with ${mergeEngine(m)}.remove-record-on-delete=true), " +
        s"table uses ${mergeEngine(m)}")

  /** Changelog/incremental protocols resolve latest-in-range PER PRIMARY
    * KEY; a cross-partition MOVE lands a tombstone and the new image at
    * ONE ordinal, which that resolution would tie arbitrarily — refuse
    * at definition time (consuming a changelog INTO a cross-partition
    * table via applyChangelog remains supported). */
  private[sources] def refuseCrossPartition(m: ObjectNode, table: String, op: String): Unit =
    require(!crossPartition(m),
      s"$op on $table is not supported for cross-partition upsert tables " +
        "(partition not in primary key): a move's tombstone and new image " +
        "share one snapshot ordinal, which per-key in-range resolution " +
        "would tie")

  /**
   * Shuffle-free merge-on-read for bucketed PK tables — the Paimon read
   * model: a key lives in exactly one `__bucket=k` subdir across every
   * delta (the write path hashes each commit the same way), so merge
   * resolution never crosses buckets. Each bucket becomes one
   * single-partition leg — the union of that bucket's delta files,
   * `coalesce(1)` (a narrow dependency, no exchange), then an in-task
   * hash-merge keeping the highest-ordinal version per key and dropping
   * tombstone winners. The whole read is N independent tasks with ZERO
   * exchanges, versus the unbucketed path's full-table shuffle through
   * the keep-latest window. Task memory holds one bucket's keys — the
   * bucket count is the operator's sizing contract, exactly as in Paimon
   * (a 100 TB table with 4096 buckets merges ~25 GB per task of raw
   * input, and only live key versions are retained in the map).
   */
  private[sources] def bucketedResolve(schema: String, table: String, m: ObjectNode,
      entries: Seq[FileEntry], n: Int,
      onlyBuckets: Option[Seq[Int]] = None): Option[DataFrame] = {
    val curFields = currentFields(m)
    val outSchema = StructType(curFields.map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))))
    val pk = primaryKey(m)
    // Enumerate the buckets that actually EXIST in this snapshot's dirs
    // rather than trusting the current `bucket` option: after a
    // rescaleBucket, older snapshots keep their original layout (a
    // different k range) and must resolve under it — the option only
    // describes the CURRENT snapshot. O(dirs) metadata listings.
    val partCols = partitionColumns(m)
    // `__bucket=k` leaves sit directly under a flat dir, or nested below
    // `col=value` partition dirs (data dirs of a partitioned bucketed
    // table; tombstone dirs stay flat — their files CARRY the partition
    // columns as data, since partition ⊆ primary key).
    def bucketsUnder(p: Path, depth: Int): Seq[Int] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith(s"$BucketCol="))
          scala.util.Try(nm.stripPrefix(s"$BucketCol=").toInt).toOption
        else if (depth > 0 && st.isDirectory && nm.contains("="))
          bucketsUnder(st.getPath, depth - 1)
        else Seq.empty
      }
    def depthOf(fe: FileEntry) = if (fe.kind == "data") partCols.length else 0
    // ONE listing per entry dir, shared by bucket enumeration and the
    // per-leg skip decisions below (r18 — the flat layout used to probe
    // fs.exists once per (dir, bucket) and build one discovery-backed
    // frame per probe: O(dirs × buckets) driver listings per resolve,
    // the dominant plan-construction cost of the bucketed family).
    val present: Seq[(FileEntry, Set[Int])] = entries.map { fe =>
      fe -> bucketsUnder(dirPath(schema, table, fe.dir), depthOf(fe)).toSet
    }
    val wanted: Seq[Int] = onlyBuckets.getOrElse {
      val seen = mutable.SortedSet[Int](0 until n: _*)
      present.foreach { case (_, ks) => seen ++= ks }
      seen.toSeq
    }
    // Flat AND partitioned layouts: one discovery-backed frame per entry
    // dir with the bucket column RETAINED (`__bucket=k` — and, on
    // partitioned data dirs, `col=value` — resolve as partition columns
    // of the declared schema); each leg filters its bucket, so partition
    // pruning on __bucket keeps per-leg I/O exact while the dir is
    // LISTED once. Every partition's slice of bucket k merges in ONE leg
    // — sound because partition ⊆ primary key makes cross-partition key
    // spaces disjoint, and the sizing contract (one bucket per task) is
    // unchanged.
    val dirFrames: Seq[(FileEntry, Set[Int], DataFrame)] =
      present.collect { case (fe, ks) if ks.nonEmpty =>
        (fe, ks, frameFor(schema, table, m, fe, withBucket = true))
      }
    val legs = wanted.flatMap { k =>
      // A dir whose entry RETIRES bucket k (per-bucket compaction folded
      // it into a later dir) contributes nothing to k's leg — dir-level
      // skip, zero I/O, exact because the compacted dir carries the
      // resolved image of everything excluded. Dirs without bucket k at
      // all are skipped from the same shared listing.
      val frames = dirFrames.collect {
        case (fe, ks, f) if ks.contains(k) && !fe.excludeBuckets.contains(k) =>
          f.filter(col(BucketCol) === k).drop(BucketCol)
      }
      if (frames.isEmpty) None
      else {
        val all = unionAllByName(frames).coalesce(1)
        val inSchema = all.schema
        // Merge key: pk plus any partition column OUTSIDE it. For the
        // standard layout (partition ⊆ pk) this is exactly pk; for
        // cross-partition tables each (partition, key) residence resolves
        // independently — a move's tombstone kills the old residence
        // while the new partition's row lives, and a partition-pruned
        // read of either side stays correct.
        val mergeKey = pk ++ partCols.filterNot(pk.contains)
        Some(GraftCatalog.mergeBucketInTask(all,
          mergeKey.map(inSchema.fieldIndex).toArray,
          inSchema.fieldIndex("__ord"), inSchema.fieldIndex("__del"),
          curFields.map(f => inSchema.fieldIndex(f.name)).toArray, outSchema,
          sequenceField(m).map(inSchema.fieldIndex).getOrElse(-1)))
      }
    }
    if (legs.isEmpty) None else Some(unionAllByName(legs))
  }

  /** Snapshot selection shared by reads and the SQL catalog: explicit
    * id/timestamp beats session defaults beats latest. */
  /** The snapshot id an explicit/session-level travel request selects —
    * the same resolution [[read]] uses (explicit args win, then the
    * GraftOptions session properties, then latest). None = empty table. */
  def chosenSnapshotId(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Option[Long] = {
    val m = readManifest(schema, table)
    chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
      .map(_.get("id").asLong())
  }

  private[sources] def chooseSnapshot(m: ObjectNode, schema: String, table: String,
      snapshotId: Option[Long], asOfMillis: Option[Long]): Option[JsonNode] = {
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val sessionSnap = spark.conf.getOption(GraftOptions.ScanSnapshotId).map(_.toLong)
    val sessionAsOf = spark.conf.getOption(GraftOptions.ScanTimestampMillis).map(_.toLong)
    val wantId = snapshotId.orElse(sessionSnap)
    val wantTs = asOfMillis.orElse(sessionAsOf)
    val all = (0 until snaps.size()).map(snaps.get)
    (wantId, wantTs) match {
      case (Some(id), _) =>
        val s = all.find(_.get("id").asLong() == id)
        require(s.isDefined, s"no snapshot $id for $schema.$table")
        s
      case (None, Some(ts)) => all.reverse.find(_.get("timestampMillis").asLong() <= ts)
      case _ => all.lastOption
    }
  }

  /** File entries of the selected snapshot (empty before any commit) —
    * the split-source surface the SQL catalog plans scans from. */
  def snapshotFileEntries(schema: String, table: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): Seq[FileEntry] = {
    val m = readManifest(schema, table)
    chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
      .map(filesOf).getOrElse(Seq.empty)
  }

  /** Current schema version number (increments per column DDL). */
  def currentSchemaVersionOf(schema: String, table: String): Int =
    readManifest(schema, table).get("currentSchemaVersion").asInt()

  // ---- manifest plumbing -------------------------------------------------

  /** Partition columns declared at create time (empty for old manifests). */
  def partitionColumnsOf(schema: String, table: String): Seq[String] =
    partitionColumns(readManifest(schema, table))

  /** Primary-key columns declared at create time (empty = append-only). */
  def primaryKeyOf(schema: String, table: String): Seq[String] =
    primaryKey(readManifest(schema, table))

  private[sources] def primaryKey(m: ObjectNode): Seq[String] = m.get("primaryKey") match {
    case arr: ArrayNode => (0 until arr.size()).map(arr.get(_).asText())
    case _ => Seq.empty
  }

  /** Bucket count of a bucketed PK table (the `bucket` table option). */
  def bucketCountOf(schema: String, table: String): Option[Int] =
    bucketCount(readManifest(schema, table))

  private[sources] def bucketCount(m: ObjectNode): Option[Int] = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts != null && opts.has("bucket")) Some(opts.get("bucket").asText().toInt)
    else None
  }

  /** PK-table merge engine (Paimon's `merge-engine` option): how multiple
    * versions of one key resolve at read/compaction. */
  def mergeEngineOf(schema: String, table: String): String =
    mergeEngine(readManifest(schema, table))

  private[sources] def mergeEngine(m: ObjectNode): String = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts != null && opts.has("merge-engine")) opts.get("merge-engine").asText()
    else "deduplicate"
  }

  /** Paimon's `<engine>.remove-record-on-delete`: `-D` rows remove the
    * key outright on a field-wise-engine table (the fold then re-folds
    * only versions committed after the tombstone). Keyed by the table's
    * OWN engine, matching Paimon's per-engine option names. */
  private[sources] def removeRecordOnDelete(m: ObjectNode): Boolean = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    val key = s"${mergeEngine(m)}.remove-record-on-delete"
    opts != null && opts.has(key) && opts.get(key).asText() == "true"
  }

  /** User-declared version-order column (Paimon's `sequence.field`):
    * largest value wins per key, ties fall back to commit ordinal, NULL
    * sorts smallest. None = commit order (the default). */
  def sequenceFieldOf(schema: String, table: String): Option[String] =
    sequenceField(readManifest(schema, table))

  /** Data file format (Paimon's `file.format`): parquet (default), orc, avro. */
  def fileFormatOf(schema: String, table: String): String =
    fileFormat(readManifest(schema, table))

  /** Spark DataSource provider for a table format. The avro source is
    * BUNDLED in spark-sql on this distribution but not service-registered
    * (the short name fails lookup with the "external module" hint), so
    * data I/O addresses its FileFormat class directly; file extensions
    * (globs, listings) still use the short name. */
  private[sources] def providerFor(fmt: String): String =
    if (fmt == "avro") "org.apache.spark.sql.avro.AvroFileFormat" else fmt

  private[sources] def fileFormat(m: ObjectNode): String = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts != null && opts.has("file.format")) opts.get("file.format").asText()
    else "parquet"
  }

  private def fileCompression(m: ObjectNode): Option[String] = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts != null && opts.has("file.compression"))
      Some(opts.get("file.compression").asText())
    else None
  }

  private[sources] def sequenceField(m: ObjectNode): Option[String] = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts != null && opts.has("sequence.field"))
      Some(opts.get("sequence.field").asText())
    else None
  }

  /** Partial-update sequence-group declarations (Paimon's
    * `fields.<seq-col>.sequence-group`): seq column → member fields. */
  private[sources] def sequenceGroups(m: ObjectNode): Map[String, Seq[String]] = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    if (opts == null) return Map.empty
    val out = mutable.LinkedHashMap[String, Seq[String]]()
    opts.fieldNames().forEachRemaining { k =>
      if (k.startsWith("fields.") && k.endsWith(".sequence-group")) {
        val g = k.stripPrefix("fields.").stripSuffix(".sequence-group")
        out += g -> opts.get(k).asText().split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
      }
    }
    out.toMap
  }

  /** Newest-version-first window ordering for per-key resolution: the
    * sequence field (when declared) beats the commit ordinal; NULL
    * sequence sorts smallest, so `desc_nulls_last`. */
  private[sources] def newestFirst(m: ObjectNode): Seq[org.apache.spark.sql.Column] =
    sequenceField(m).map(f => col(f).desc_nulls_last).toSeq :+ col("__ord").desc

  /** Per-field aggregate function of the `aggregation` merge engine
    * (Paimon's `fields.<name>.aggregate-function`); default carries the
    * latest non-null value (`last_non_null`). */
  /** `fields.<f>.distinct = true` (collect only): dedup the folded array. */
  private def fieldCollectDistinct(m: ObjectNode, field: String): Boolean = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    val key = s"fields.$field.distinct"
    opts != null && opts.has(key) && opts.get(key).asText() == "true"
  }

  private def fieldAggregate(m: ObjectNode, field: String): String = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    val key = s"fields.$field.aggregate-function"
    if (opts != null && opts.has(key)) opts.get(key).asText() else "last_non_null"
  }

  /** `fields.<f>.nested-key` (nested_update only): nested columns keying
    * the per-element upsert; empty → plain append semantics. */
  private def fieldNestedKeys(m: ObjectNode, field: String): Seq[String] = {
    val opts = m.get("options").asInstanceOf[ObjectNode]
    val key = s"fields.$field.nested-key"
    if (opts != null && opts.has(key))
      opts.get(key).asText().split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else Seq.empty
  }

  /** The bucket a primary-key tuple hashes to — the same expression on
    * the write path (commit) and any read-side pruning. */
  private[sources] def bucketExpr(pk: Seq[String], n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(pk.map(col): _*), lit(n.toLong)).cast("int")

  /** The bucket a concrete primary-key tuple lands in — evaluated with
    * the write path's own expression over a one-row local relation (a
    * driver-local job over one row), so hash semantics can never drift
    * from [[bucketExpr]]. `values` must follow primary-key column order
    * and are cast to the declared column types before hashing. */
  def bucketFor(schema: String, table: String, values: Seq[Any]): Int = {
    val m = readManifest(schema, table)
    val pk = primaryKey(m)
    val n = bucketCount(m).getOrElse(
      throw new IllegalArgumentException(s"$schema.$table is not bucketed"))
    require(n != -1, s"$schema.$table is a dynamic-bucket table — " +
      "key→bucket is the index's, not a hash: use dynamicBucketFor")
    require(values.length == pk.length, s"expected ${pk.length} pk values")
    val cur = currentFields(m).map(f => f.name -> f.trinoType).toMap
    val row = spark.range(1).select(pk.zip(values).map { case (c, v) =>
      lit(v).cast(TypeMapping.toSparkType(cur(c))).as(c)
    }: _*)
    row.select(bucketExpr(pk, n).as("b")).head().getInt(0)
  }


  /**
   * Read ONE bucket of a bucketed PK table, merge-on-read resolved — the
   * split-level consumer API (a bucket is the unit of parallel work, as
   * in Paimon): point lookups read 1/N of the table via [[bucketFor]],
   * and N independent workers can each process one bucket.
   */
  def readBucket(schema: String, table: String, bucket: Int,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame = {
    val m = readManifest(schema, table)
    val n = bucketCount(m).getOrElse(
      throw new IllegalArgumentException(s"$schema.$table is not bucketed"))
    // dynamic tables (n == -1) have no static range — any existing
    // bucket id resolves, an unassigned one reads empty
    require(bucket >= 0 && (n == -1 || bucket < n),
      s"bucket $bucket out of range [0, $n)")
    val target = StructType(currentFields(m).map(f =>
      StructField(f.name, TypeMapping.toSparkType(f.trinoType))))
    chooseSnapshot(m, schema, table, snapshotId, asOfMillis)
      .flatMap { s =>
        val entries = filesOf(s)
        // live deletion vectors: the hybrid merge-free read restricted
        // to this bucket's legs (r15 — point lookups on a DV table read
        // 1/N of the data, the same economics as the DV-free path)
        if (entries.exists(_.kind == "dv"))
          pkDvResolve(schema, table, m, entries,
            onlyBuckets = Some(Seq(bucket)))
        else bucketedResolve(schema, table, m, entries, n, Some(Seq(bucket)))
      }
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target))
  }

  /**
   * Bucket-co-located PK join of two bucketed PK tables — the
   * storage-partitioned join Paimon's bucket layout exists to enable:
   * when both tables declare the SAME bucket count and hash-compatible
   * primary keys (same column count and Spark types — the bucket is
   * `xxhash64(pk) % n` on both write paths), equal keys land in equal
   * buckets, so the join runs as N independent in-task hash joins with
   * ZERO exchanges. A shuffle join of the same tables would move BOTH
   * full tables across the cluster; this moves nothing — at 100 TB per
   * side the shuffle saved IS the query cost. Each task holds one
   * bucket's right side in memory (the bucket count is the sizing
   * contract, as everywhere in the bucketed layout).
   *
   * Join keys are the primary keys (the hash contract — arbitrary key
   * joins still need a shuffle). `joinType`: `inner` or `left` (outer).
   * Output: left columns ++ right non-key columns; the right table's
   * non-key column names must not collide with the left's.
   */
  def bucketedJoin(schema: String, leftTable: String, rightTable: String,
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left").contains(joinType),
      s"bucketedJoin supports inner/left, got $joinType")
    val n = bucketCountOf(schema, leftTable).getOrElse(
      throw new IllegalArgumentException(s"$schema.$leftTable is not bucketed"))
    val rn = bucketCountOf(schema, rightTable).getOrElse(
      throw new IllegalArgumentException(s"$schema.$rightTable is not bucketed"))
    require(n >= 1 && rn >= 1, "dynamic-bucket tables have no static " +
      "hash contract — co-located join requires fixed bucket counts")
    require(n == rn, s"bucket counts differ: $n vs $rn — co-located join " +
      "requires identical bucketing")
    val lSchema = currentSchema(schema, leftTable)
    val rSchema = currentSchema(schema, rightTable)
    val lPk = primaryKeyOf(schema, leftTable)
    val rPk = primaryKeyOf(schema, rightTable)
    require(lPk.length == rPk.length &&
      lPk.map(lSchema(_).dataType) == rPk.map(rSchema(_).dataType),
      "primary keys are not hash-compatible (column count/types must match)")
    val lVal = lSchema.fields.filterNot(f => lPk.contains(f.name)).toSeq
    val rVal = rSchema.fields.filterNot(f => rPk.contains(f.name)).toSeq
    rVal.foreach(f => require(!lSchema.fieldNames.contains(f.name),
      s"right column ${f.name} collides with a left column"))
    val outSchema = StructType(lSchema.fields.toSeq ++
      rVal.map(_.copy(nullable = true)))
    // Tagged union layout: __side, key..., leftVal..., rightVal... (each
    // side nulls the other's value columns). coalesce(1) over one
    // bucket's two legs is a narrow dependency — the whole join plans
    // with no exchange.
    val names = "__side" +: (lPk.indices.map(i => s"__k$i") ++
      lVal.map(f => s"__l_${f.name}") ++ rVal.map(f => s"__r_${f.name}"))
    // out(i) <- tagged-row position for the left-side part of the output
    val leftOutIdx = lSchema.fields.map { f =>
      val i = lPk.indexOf(f.name)
      if (i >= 0) 1 + i else 1 + lPk.length + lVal.indexWhere(_.name == f.name)
    }
    val rightStart = 1 + lPk.length + lVal.length
    val legs = (0 until n).map { k =>
      val lk = readBucket(schema, leftTable, k)
      val rk = readBucket(schema, rightTable, k)
      val tagged = rk.select(lit(1) +: (rPk.map(col) ++
          lVal.map(f => lit(null).cast(f.dataType)) ++
          rVal.map(f => col(f.name))): _*).toDF(names: _*)
        .unionByName(lk.select(lit(0) +: (lPk.map(col) ++
          lVal.map(f => col(f.name)) ++
          rVal.map(f => lit(null).cast(f.dataType))): _*).toDF(names: _*))
        .coalesce(1)
      GraftCatalog.joinBucketInTask(tagged, lPk.length, leftOutIdx,
        rightStart, rVal.length, joinType == "left", outSchema)
    }
    if (legs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        outSchema)
    else unionAllByName(legs)
  }

  /**
   * Upsert into a primary-key table: the batch is committed as a new
   * snapshot and reads resolve each key to its latest version
   * (merge-on-read, Paimon's PK-table semantics — writes never rewrite
   * existing data; [[compact]] materializes the resolution). The batch
   * itself must be PK-unique.
   */
  def upsert(schema: String, table: String, df: DataFrame): Long = {
    require(primaryKeyOf(schema, table).nonEmpty,
      s"$schema.$table has no primary key — use append")
    // rowkind.field (Paimon): the batch carries its own CDC kinds — `-D`
    // and `-U` rows retract their keys (tombstones, sequence-aware via
    // mergeCommit), everything else upserts, in ONE atomic snapshot.
    // The batch must be key-unique across the two sides (mergeCommit's
    // contract — a key both upserted and retracted in one batch has no
    // defined winner at a shared ordinal).
    val opts = tableOptions(schema, table)
    opts.get("rowkind.field") match {
      case Some(rk) if df.columns.exists(_.equalsIgnoreCase(rk)) =>
        val kind = org.apache.spark.sql.functions.upper(col(rk))
        // A NULL or unknown kind must fail loudly, not vanish: a null
        // predicate excludes the row from BOTH split sides below, so a
        // malformed CDC feed would silently lose data. Paimon errors on
        // an unparsable row kind; validate on the delta-sized batch.
        val known = Seq("+I", "I", "+U", "U", "-U", "-D", "D")
        val bad = df.filter(kind.isNull || !kind.isin(known: _*))
          .limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"$schema.$table: rowkind.field `$rk` carries an unrecognized " +
          s"row kind ${Option(bad.head.getAs[Any](rk)).getOrElse("NULL")} " +
          s"(expected one of ${known.mkString(", ")}); sample row: ${bad.head}")
        val isRetract = kind === "-D" || kind === "D" || kind === "-U"
        // ignore-delete (Paimon): drop retractions instead of
        // tombstoning — the CDC-fed-patch-table mode
        if (opts.get("ignore-delete").contains("true"))
          append(schema, table, df.filter(!isRetract))
        else if (mergeEngineOf(schema, table) == "aggregation") {
          // r16 retraction: `-U` (and `-D` without remove-record-on-
          // delete) rows land as RETRACT inputs the field-wise fold
          // inverts — sum subtracts, collect removes one occurrence per
          // element (see RetractableAggs). With remove-record-on-delete,
          // `-D` rows instead tombstone their keys outright, paired with
          // the data dir under ONE snapshot ordinal.
          val m = readManifest(schema, table)
          val pk = primaryKey(m)
          val rrod = removeRecordOnDelete(m)
          val isDel = kind === "-D" || kind === "D"
          val retracts = if (rrod) df.filter(kind === "-U")
            else df.filter(isRetract)
          val hasRetracts = !retracts.isEmpty
          if (hasRetracts) {
            // refusal matrix: every aggregated field's function must
            // have an exact retraction; the rowkind column itself is
            // carried data (its last_non_null fold keeps the last kind).
            // Checked AT THE WRITE — accepting a retract the read-time
            // fold cannot execute (e.g. collect over an unorderable
            // element type, whose array_position removal would throw)
            // would poison the table with a committed batch.
            val bad = currentFields(m)
              .filterNot(fd => pk.contains(fd.name))
              .filterNot(_.name.equalsIgnoreCase(rk))
              .filterNot(fd => GraftCatalog.retractableField(
                fieldAggregate(m, fd.name),
                TypeMapping.toSparkType(fd.trinoType)))
              .map(_.name)
            require(bad.isEmpty,
              s"$schema.$table: retract rows (-U/-D) arrived but " +
                s"field(s) ${bad.map(c => s"$c=${fieldAggregate(m, c)}")
                  .mkString(", ")} have no exact retraction " +
                s"(only ${RetractableAggs.mkString("/")} retract, and " +
                "collect only over orderable element types — its fold " +
                "removes occurrences via ordering-based equality; " +
                "min/max/first/last/listagg/product/sketches cannot " +
                "resurrect values a compacted prefix discarded — set " +
                "aggregation.remove-record-on-delete=true or ignore-delete=true)")
            require(changelogProducer(m) == "none",
              s"$schema.$table: retract inputs are not composed with a " +
                "write-time changelog-producer yet — consume the table " +
                "state directly or disable the producer")
          }
          val ups = df.filter(!isRetract)
          val data = if (!hasRetracts) ups
            else ups.withColumn(RetractCol, lit(false))
              .unionByName(retracts.withColumn(RetractCol, lit(true)))
          val dels = if (rrod) df.filter(isDel) else df.limit(0)
          if (rrod && !dels.isEmpty) {
            // same one-ordinal disjointness contract as mergeCommit
            require(data.join(dels, pk, "left_semi").isEmpty,
              "a key cannot be both written and deleted in one batch")
            commit(schema, table, data, keepExisting = true,
              deleteDf = Some(dels.select(pk.map(col): _*)),
              retractDir = hasRetracts)
          } else commit(schema, table, data, keepExisting = true,
            retractDir = hasRetracts)
        }
        else if (mergeEngineOf(schema, table) == "partial-update") {
          // partial-update + remove-record-on-delete (r16): `-D` rows
          // tombstone their keys (the fold re-patches from later
          // versions only); `-U` has no retraction on this engine —
          // a patch cannot be un-applied — so it refuses loudly.
          val m = readManifest(schema, table)
          require(removeRecordOnDelete(m),
            s"$schema.$table: rowkind.field on partial-update requires " +
              "partial-update.remove-record-on-delete=true or " +
              "ignore-delete=true")
          val bad = df.filter(kind === "-U").limit(1).collect()
          require(bad.isEmpty,
            s"$schema.$table: partial-update has no retraction for -U " +
              "rows (a patch cannot be un-applied) — send -D (removes " +
              s"the key) or +U (applies the patch); sample row: ${bad.headOption}")
          val ups = df.filter(!isRetract)
          val dels = df.filter(isRetract)
          if (dels.isEmpty) append(schema, table, ups)
          else {
            val pk = primaryKey(m)
            require(ups.join(dels, pk, "left_semi").isEmpty,
              "a key cannot be both written and deleted in one batch")
            commit(schema, table, ups, keepExisting = true,
              deleteDf = Some(dels.select(pk.map(col): _*)))
          }
        }
        else {
          val ups = df.filter(!isRetract)
          // A `-U`/`+U` pair for ONE key in one batch is the canonical
          // Debezium/Flink update shape: under deduplicate semantics the
          // retraction is subsumed by the batch's own newer image, so
          // drop retractions whose key the batch also upserts (mirrors
          // applyChangelog's treatment of `-U`) — they would otherwise
          // trip mergeCommit's key-disjoint contract.
          val pk = primaryKeyOf(schema, table)
          val dels = df.filter(isRetract).join(ups, pk, "left_anti")
          if (dels.isEmpty) append(schema, table, ups)
          else mergeCommit(schema, table, ups, dels)
        }
      case _ => append(schema, table, df)
    }
  }

  /**
   * Atomic MERGE commit on a primary-key table: `upserts` (updated +
   * inserted rows at the current schema) and `deleteKeys` (primary-key
   * tuples to tombstone) become ONE snapshot — a data dir paired with a
   * tombstone dir at the same ordinal — so readers never observe the
   * half-applied state two separate commits would expose. The two sets
   * must be key-disjoint (SQL MERGE guarantees it: each target row takes
   * exactly one action). Returns the snapshot id.
   */
  def mergeCommit(schema: String, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, streamBatchId: Option[Long] = None): Long = {
    val pk = primaryKeyOf(schema, table)
    require(pk.nonEmpty, s"$schema.$table has no primary key — MERGE needs one")
    val m = readManifest(schema, table)
    requireTombstoneCapable(m, s"$schema.$table", "mergeCommit")
    // Both dirs share one ordinal, so an overlapping key would resolve to
    // an arbitrary winner at read time — enforce the contract here (a
    // delta-sized semi join), not just in the SQL command's guard.
    require(upserts.join(deleteKeys, pk, "left_semi").isEmpty,
      "mergeCommit upserts and deleteKeys must be key-disjoint")
    // sequence.field tables: tombstones must carry a sequence value or
    // they lose the version race to the very rows they delete. A batch
    // already carrying the column (CDC `-D` rows) passes it through;
    // otherwise fetch from the current image (delta-sized semi join).
    val delKeys = sequenceField(m) match {
      case Some(sf) if deleteKeys.columns.contains(sf) =>
        deleteKeys.select((pk :+ sf).map(col): _*)
      case Some(sf) =>
        read(schema, table)
          .join(deleteKeys.select(pk.map(col): _*), pk, "left_semi")
          .select((pk :+ sf).map(col): _*)
      case None => deleteKeys.select(pk.map(col): _*)
    }
    commit(schema, table, upserts, keepExisting = true,
      deleteDf = Some(delKeys),
      streamBatchId = streamBatchId)
  }

  /**
   * Apply one changelog batch (rows carrying `_row_kind`, the
   * [[readChangelog]] / [[readChangelogFull]] shape) to a PK table as
   * ONE atomic snapshot: `+I`/`+U` rows upsert, `-D` rows tombstone
   * their keys, `-U` retraction images are IGNORED (a replica needs only
   * the after image; retractions exist for aggregate-maintaining
   * consumers) — the standard CDC sink. Changelog batches are key-unique
   * per kind by construction (latest in-range version per key), which is
   * exactly [[mergeCommit]]'s contract. With `batchId`, replays are
   * skipped via the same manifest bookkeeping as [[appendStreamBatch]] —
   * exactly-once table contents under streaming restart. Returns the
   * snapshot id when committed.
   */
  def applyChangelog(schema: String, table: String, batch: DataFrame,
      batchId: Option[Long] = None): Option[Long] = {
    val pk = primaryKeyOf(schema, table)
    require(pk.nonEmpty, s"$schema.$table has no primary key — changelogs " +
      "apply to PK tables (append-only consumers just append)")
    require(batch.columns.contains(RowKindCol),
      s"changelog batch needs a $RowKindCol column")
    if (batchId.exists(_ <= lastStreamBatchId(schema, table))) return None
    // Paimon's `ignore-delete`: retractions are silently DROPPED and the
    // upserts land as a plain data commit — which also lets field-wise
    // merge engines (partial-update patch feeds) consume changelogs,
    // since no tombstone path is needed.
    if (tableOptions(schema, table).get("ignore-delete").contains("true")) {
      val ups = batch.filter(col(RowKindCol).isin("+I", "+U")).drop(RowKindCol)
      return Some(commit(schema, table, ups, keepExisting = true,
        streamBatchId = batchId))
    }
    val upserts = batch.filter(col(RowKindCol).isin("+I", "+U")).drop(RowKindCol)
    // `-D` rows keep the sequence column when the replica declares one:
    // a stale source tombstone then loses the replica's own version race
    // instead of clobbering newer state — out-of-order CDC convergence.
    val seqCols = sequenceFieldOf(schema, table).filter(batch.columns.contains).toSeq
    val deletes = batch.filter(col(RowKindCol) === "-D")
      .select((pk ++ seqCols).map(col): _*)
    Some(mergeCommit(schema, table, upserts, deletes, streamBatchId = batchId))
  }

  /**
   * End-to-end CDC mirror: follow `srcTable`'s changelog as a stream and
   * apply each micro-batch to `dstTable` atomically — the consumer half
   * of [[streamAppend]], upsert-aware. Exactly-once across restart: the
   * source replays pending snapshot ranges deterministically and
   * [[applyChangelog]] skips committed batchIds.
   */
  def streamChangelogApply(srcSchema: String, srcTable: String,
      dstSchema: String, dstTable: String, checkpointDir: String,
      maxSnapshotsPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readChangelogStream(srcSchema, srcTable,
        maxSnapshotsPerTrigger = maxSnapshotsPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) { applyChangelog(dstSchema, dstTable, batch.toDF(), Some(batchId)); () }
      }
      .start()

  /**
   * Row-level DELETE on a primary-key table (merge-on-read, Paimon-style):
   * commits a tombstone snapshot holding only the primary keys of matching
   * rows — no data file is rewritten. Reads resolve the tombstone as the
   * key's latest version and drop it; [[compact]] materializes the
   * deletion and retires the tombstone file. Returns the snapshot id.
   */
  def deleteWhere(schema: String, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    val m = readManifest(schema, table)
    val pk = primaryKey(m)
    if (pk.isEmpty && deletionVectors(m))
      return deleteWhereDv(schema, table, m, condition)
    require(pk.nonEmpty, s"$schema.$table has no primary key — row-level " +
      "delete needs one (append-only tables: set deletion-vectors=true, " +
      "filter at read, or overwrite)")
    requireTombstoneCapable(m, s"$schema.$table", "deleteWhere")
    // sequence.field: the tombstone carries the victim's CURRENT sequence
    // value — tied sequence, later ordinal, so the delete wins; a later
    // upsert with a HIGHER sequence legitimately resurrects the key.
    // Cross-partition tables: carry the victim's partition columns too
    // (its current residence, straight from the image being filtered).
    val extra = sequenceField(m).toSeq ++
      (if (crossPartition(m)) partitionColumns(m) else Seq.empty)
    val victims = read(schema, table).filter(condition)
      .select((pk ++ extra).map(col): _*)
    commit(schema, table, victims, keepExisting = true, kind = "delete")
  }

  /** Tombstone-commit the given victim KEYS (PK tables; the SQL
    * subquery-DELETE rewrite computes the victims from an analyzed plan
    * and lands them here — same snapshot shape as [[deleteWhere]]). */
  private[graft] def deleteRowsByKey(schema: String, table: String,
      victims: DataFrame): Long = {
    val m = readManifest(schema, table)
    val pk = primaryKey(m)
    require(pk.nonEmpty, s"$schema.$table has no primary key")
    requireTombstoneCapable(m, s"$schema.$table", "deleteWhere")
    // sequence.field tables: fetch each victim's current sequence value
    // (one delta-sized semi join) so the tombstone wins the version race.
    // Cross-partition tables: fetch each victim's current residence the
    // same way (partition values must ride the tombstone).
    val keys = (sequenceField(m),
        if (crossPartition(m)) partitionColumns(m) else Seq.empty) match {
      case (None, Seq()) => victims.select(pk.map(col): _*)
      case (sf, parts) =>
        read(schema, table).join(victims.select(pk.map(col): _*), pk, "left_semi")
          .select((pk ++ sf.toSeq ++ parts).map(col): _*)
    }
    commit(schema, table, keys, keepExisting = true, kind = "delete")
  }


  /**
   * Row-level UPDATE on a primary-key table: reads the current image of
   * matching rows, applies the assignments, and commits them as an
   * ordinary upsert snapshot (merge-on-read — the old versions stay
   * time-travelable). Returns the snapshot id.
   */
  def update(schema: String, table: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val pk = primaryKeyOf(schema, table)
    if (pk.isEmpty && deletionVectors(readManifest(schema, table)))
      return updateWhereDv(schema, table, condition, assignments)
    require(pk.nonEmpty, s"$schema.$table has no primary key — use overwrite")
    val cur = currentSchema(schema, table)
    assignments.keys.foreach { c =>
      require(cur.fieldNames.contains(c), s"unknown column $c")
      // Assigning a PK column would upsert under the NEW key and leave the
      // old row alive — a silent duplicate, not an update.
      require(!pk.contains(c),
        s"cannot update primary-key column $c (delete + insert instead)")
    }
    // ONE select evaluating every assignment against the OLD row — SQL
    // UPDATE semantics. Chained withColumn would feed earlier assignments
    // into later ones (SET a = b, b = a would fail to swap) with
    // map-iteration-order nondeterminism on top.
    val updated = read(schema, table).filter(condition)
      .select(cur.fieldNames.toSeq.map(c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))): _*)
    upsert(schema, table, updated)
  }



  private[sources] def partitionColumns(m: ObjectNode): Seq[String] = m.get("partitions") match {
    case arr: ArrayNode => (0 until arr.size()).map(arr.get(_).asText())
    case _ => Seq.empty
  }

  private[sources] def currentFields(m: ObjectNode): Seq[FieldInfo] =
    schemaVersions(m)(m.get("currentSchemaVersion").asInt())

  private[sources] def schemaVersions(m: ObjectNode): Map[Int, Seq[FieldInfo]] = {
    val schemas = m.get("schemas").asInstanceOf[ArrayNode]
    (0 until schemas.size()).map { i =>
      val s = schemas.get(i)
      val fields = s.get("fields").asInstanceOf[ArrayNode]
      s.get("version").asInt() -> (0 until fields.size()).map { j =>
        val f = fields.get(j)
        FieldInfo(f.get("id").asInt(), f.get("name").asText(), f.get("type").asText(),
          if (f.has("comment")) Some(f.get("comment").asText()) else None)
      }
    }.toMap
  }

  /** Zero-row DataFrame with the table's current schema. */
  private[sources] def emptyFrame(m: ObjectNode): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(currentFields(m).map(f =>
        StructField(f.name, TypeMapping.toSparkType(f.trinoType)))))

  private def entryOf(e: JsonNode): FileEntry =
    FileEntry(e.get("dir").asText(), e.get("schemaVersion").asInt(),
      if (e.has("kind")) e.get("kind").asText() else "data",
      if (e.has("xb")) {
        val xa = e.get("xb").asInstanceOf[ArrayNode]
        (0 until xa.size()).map(xa.get(_).asInt())
      } else Nil,
      retract = e.has("rk") && e.get("rk").asBoolean())

  private[sources] def filesOf(snap: JsonNode): Seq[FileEntry] = {
    val fArr = snap.get("files").asInstanceOf[ArrayNode]
    (0 until fArr.size()).map(i => entryOf(fArr.get(i)))
  }

  /**
   * Entries ADDED by snapshot `all(i)` relative to its immediate
   * predecessor — the per-snapshot delta the changelog scan, the
   * `$snapshots` view, and the rows rate limit all want. Additive
   * commits carry it verbatim in their delta-form `added` field
   * (O(delta), no diff at all); full-form entries (first snapshot,
   * overwrite/compact, entries re-materialized after expiration, legacy
   * manifests) fall back to the positional set difference.
   */
  private[sources] def addedEntries(all: scala.collection.Seq[JsonNode], i: Int): Seq[FileEntry] = {
    val s = all(i)
    val delta = s match {
      case o: ObjectNode if o.has("added") && o.has("baseId") && i > 0 &&
          o.get("baseId").asLong() == all(i - 1).get("id").asLong() =>
        val aArr = o.get("added").asInstanceOf[ArrayNode]
        Some((0 until aArr.size()).map(j => entryOf(aArr.get(j))))
      case _ => None
    }
    delta.getOrElse {
      val prevDirs = if (i == 0) Set.empty[String]
        else filesOf(all(i - 1)).map(_.dir).toSet
      filesOf(s).filterNot(fe => prevDirs.contains(fe.dir))
    }
  }

  /** `manifest-v<N>.json` → N. */
  private[sources] def manifestFileVersion(name: String): Option[Long] =
    if (name.startsWith("manifest-v") && name.endsWith(".json"))
      name.stripPrefix("manifest-v").stripSuffix(".json").toLongOption
    else None

  /**
   * Highest committed manifest file of a table. Manifests are IMMUTABLE
   * versioned files (`manifest-v<N>.json`, Paimon's snapshot-N model):
   * nothing is ever rewritten in place, so readers can never observe a
   * torn or stale-checksum manifest — they list and open the max
   * version. A pre-versioning `manifest.json` is honored as fallback.
   */
  private def currentManifestFile(schema: String, table: String)
      : Option[org.apache.hadoop.fs.FileStatus] = {
    val dir = tablePath(schema, table)
    val listed =
      try fs.listStatus(dir)
      catch { case _: java.io.FileNotFoundException => return None }
    val versioned = listed.flatMap(st =>
      manifestFileVersion(st.getPath.getName).map(v => (st, v)))
    if (versioned.nonEmpty) Some(versioned.maxBy(_._2)._1)
    else {
      val legacy = manifestPath(schema, table)
      try Some(fs.getFileStatus(legacy))
      catch { case _: java.io.FileNotFoundException => None }
    }
  }

  private[sources] def tableManifestExists(schema: String, table: String): Boolean =
    currentManifestFile(schema, table).isDefined

  private def fcFor(p: Path): org.apache.hadoop.fs.FileContext =
    org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(p).toUri, spark.sparkContext.hadoopConfiguration)

  private[sources] def readManifest(schema: String, table: String): ObjectNode = {
    val st = currentManifestFile(schema, table)
    require(st.isDefined, s"no table $schema.$table")
    val p = st.get.getPath
    // Heads are IMMUTABLE versioned files landed by CAS (a version path
    // is written exactly once per table lifetime — rollback/expiration
    // bump the version, never rewrite one), so caching the
    // parsed+inflated node is coherent; freshness comes from the listing
    // in currentManifestFile, which still runs per read. The key carries
    // mtime+length and drop/rename purge the table's prefix, so a
    // DROPPED-then-recreated table (whose numbering restarts at v1 on
    // the same path) can never serve the old table's head. Callers
    // MUTATE the returned node (commit's land, evolveSchema), so the
    // cache hands out deep copies — still cheaper than bytes + parse +
    // inflate, and on an object store it saves the GET entirely.
    val key = s"${fs.makeQualified(p)}#${st.get.getModificationTime}#${st.get.getLen}"
    val cache = GraftCatalog.headCache
    val cached = cache.get(key)
    val m = if (cached != null) cached
    else {
      val in = fcFor(p).open(fs.makeQualified(p))
      val parsed = try mapper.readTree(in).asInstanceOf[ObjectNode] finally in.close()
      inflateSnapshots(parsed)
      GraftCatalog.headCacheLoads.incrementAndGet()
      if (cache.size > GraftCatalog.HeadCacheCap) cache.clear()
      cache.put(key, parsed)
      parsed
    }
    m.deepCopy[ObjectNode]()
  }

  /**
   * Materialize each snapshot's full file list from the head's DELTA
   * form: an additive snapshot serializes as `{baseId, added}` (its base
   * is the immediately preceding snapshot; writeManifest guarantees
   * this by materializing any entry whose base was expired away), so the
   * in-memory shape every reader sees is identical to the legacy full
   * form — `files` arrays all the way — while the serialized head stays
   * O(total dirs). Materialization shares entry NODES with the base
   * (reference appends, no copies), so inflating costs less than the
   * full-form JSON parse it replaces. Both `baseId`/`added` and the
   * materialized `files` stay on the node for the write-side round trip.
   */
  private def inflateSnapshots(m: ObjectNode): Unit = {
    if (!m.has("snapshots")) return
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    var prev: ObjectNode = null
    (0 until snaps.size()).foreach { i =>
      val s = snaps.get(i).asInstanceOf[ObjectNode]
      if (!s.has("files")) {
        require(s.has("baseId") && s.has("added") && prev != null &&
          s.get("baseId").asLong() == prev.get("id").asLong(),
          s"corrupt manifest: snapshot ${s.path("id")} has neither a " +
            "full file list nor a delta resolvable against its " +
            "predecessor")
        val full = mapper.createArrayNode()
        val prevArr = prev.get("files").asInstanceOf[ArrayNode]
        // Per-bucket compaction delta: retire these buckets on every
        // inherited entry. Entries are DEEP-COPIED before mutation —
        // prevArr's nodes are shared with the predecessor's own list.
        val xb: Seq[Int] = if (s.has("xbuckets")) {
          val xArr = s.get("xbuckets").asInstanceOf[ArrayNode]
          (0 until xArr.size()).map(xArr.get(_).asInt())
        } else Nil
        def inherit(e: JsonNode): JsonNode =
          if (xb.isEmpty) e
          else {
            val c = e.deepCopy[JsonNode]().asInstanceOf[ObjectNode]
            val cur = if (c.has("xb")) {
              val xa = c.get("xb").asInstanceOf[ArrayNode]
              (0 until xa.size()).map(xa.get(_).asInt())
            } else Nil
            val merged = (cur ++ xb).distinct.sorted
            val xa = c.putArray("xb"); merged.foreach(xa.add)
            c
          }
        if (s.has("removed")) {
          val rArr = s.get("removed").asInstanceOf[ArrayNode]
          val rm = (0 until rArr.size()).map(rArr.get(_).asText()).toSet
          (0 until prevArr.size()).foreach { j =>
            val e = prevArr.get(j)
            if (!rm.contains(e.get("dir").asText())) full.add(inherit(e))
          }
        } else if (xb.isEmpty) full.addAll(prevArr)
        else (0 until prevArr.size()).foreach(j => full.add(inherit(prevArr.get(j))))
        full.addAll(s.get("added").asInstanceOf[ArrayNode])
        s.set[JsonNode]("files", full)
      }
      prev = s
    }
  }

  /**
   * Serialized-form deflation, the inverse of [[inflateSnapshots]]: for
   * every snapshot whose recorded base IS the immediately preceding
   * serialized snapshot, detach the materialized `files` array (returned
   * for re-attachment after the write — the in-memory node must stay
   * fully materialized for the caller); for a snapshot whose base was
   * dropped (expiration keeping a tag-pinned middle snapshot), strip the
   * stale delta fields and keep the full list. No comparisons, no
   * copies — O(snapshots) pointer work per write.
   */
  private def deflateSnapshots(m: ObjectNode): Seq[(ObjectNode, JsonNode)] = {
    if (!m.has("snapshots")) return Seq.empty
    val snaps = m.get("snapshots").asInstanceOf[ArrayNode]
    val detached = mutable.ArrayBuffer[(ObjectNode, JsonNode)]()
    var prevId = Long.MinValue
    (0 until snaps.size()).foreach { i =>
      val s = snaps.get(i).asInstanceOf[ObjectNode]
      if (s.has("baseId")) {
        if (s.get("baseId").asLong() == prevId && s.has("added"))
          detached += s -> s.remove("files")
        else { s.remove("baseId"); s.remove("added"); s.remove("removed")
          s.remove("xbuckets") }
      }
      prevId = s.get("id").asLong()
    }
    detached.toSeq
  }

  /**
   * Manifest CAS by EXCLUSIVE rename (Paimon's commit protocol): the new
   * manifest is serialized to a unique temp file and renamed — without
   * overwrite — to `manifest-v<basis+1>.json`. If that version already
   * exists, a concurrent writer won: ConcurrentModificationException, the
   * caller re-reads and retries (see `commit`'s rebase loop). Versioned
   * manifests are immutable, so there is no read-torn or lost-update
   * window: the rename either creates the next version or fails. (HDFS
   * and posix give exclusive rename atomically; within one JVM a lock
   * closes the local check-then-rename window; object stores want a
   * conditional PUT here, same contract.) A crash mid-commit leaves at
   * worst an orphan temp file. The last 10 versions are retained for
   * in-flight readers; older ones are deleted best-effort.
   */
  private[sources] def writeManifest(schema: String, table: String, m: ObjectNode): Unit = {
    val dir = tablePath(schema, table)
    val basis = if (m.has("commitVersion")) m.get("commitVersion").asLong() else 0L
    val version = basis + 1
    m.put("commitVersion", version)
    val fc = fcFor(dir)
    val tmp = fs.makeQualified(new Path(dir,
      s".manifest.tmp-${java.util.UUID.randomUUID()}"))
    // serialize the DELTA form (snapshot file lists as {baseId, added},
    // per-file zones as sidecar tokens) and restore the in-memory
    // materialized shape immediately after — see deflateSnapshots
    val detached = deflateSnapshots(m)
    val bytes =
      try mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m)
      finally detached.foreach { case (s, f) => s.set[JsonNode]("files", f) }
    manifestBytesWritten.addAndGet(bytes.length)
    lastManifestBytes.set(bytes.length)
    GraftCatalog.manifestWritesGlobal.incrementAndGet()
    GraftCatalog.manifestBytesGlobal.addAndGet(bytes.length)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(bytes)
    finally out.close()
    val dst = fs.makeQualified(new Path(dir, s"manifest-v$version.json"))
    val won = commitLockImpl.publishIfAbsent(fs, fc, tmp, dst)
    if (!won) {
      try fc.delete(tmp, false) catch { case _: java.io.IOException => () }
      throw new java.util.ConcurrentModificationException(
        s"$schema.$table manifest version $version was committed " +
          "concurrently — re-read and retry")
    }
    // Pre-warm the head cache with the node just landed (its serialized
    // form IS the file content): the committer's next readManifest — and
    // any other catalog instance in this process — skips the parse.
    try {
      val st = fs.getFileStatus(dst)
      if (GraftCatalog.headCache.size > GraftCatalog.HeadCacheCap)
        GraftCatalog.headCache.clear()
      GraftCatalog.headCache.put(
        s"$dst#${st.getModificationTime}#${st.getLen}", m.deepCopy[ObjectNode]())
    } catch { case scala.util.control.NonFatal(_) => () }
    // retention + legacy cleanup, best-effort (failures leave extra
    // immutable files, never a broken table)
    try {
      val legacy = manifestPath(schema, table)
      if (fs.exists(legacy)) fs.delete(legacy, false)
      fs.listStatus(dir).foreach { st =>
        manifestFileVersion(st.getPath.getName).foreach { v =>
          if (v <= version - 10) fs.delete(st.getPath, false)
        }
      }
    } catch { case _: java.io.IOException => () }
  }
}

object GraftCatalog {
  /** Per-table-dir commit lock: closes the local filesystem's
    * check-then-rename window inside one JVM (a real cluster store gives
    * exclusive rename / conditional PUT natively). */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def commitLock(key: String): Object =
    commitLocks.computeIfAbsent(key, _ => new Object)

  /** Shared JSON mapper for manifest-adjacent sidecar files. */
  private[sources] val jsonMapper = new ObjectMapper()

  /** Reserved name prefix for staging lineages (atomic CTAS/RTAS) and
    * moved-aside old images. Hidden from listTables; rejected in user
    * DDL so the staging machinery can never collide with (or sweep) a
    * real table. */
  val StagePrefix = "__stage-"

  /** Durable commit-point marker inside a stage dir: its presence +
    * content (the target name) makes an interrupted swap completable. */
  private[sources] val SwapMarkerFile = ".swap-commit"

  /** Creation stamp inside a stage/trash dir: sweepStaleStages ages from
    * it instead of dir mtime (see promoteStage's rename-aside note). */
  private[sources] val StageStampFile = ".stage-stamp"
  /** 2001-09-09 in epoch millis — any stamp parsing below this is a
    * truncated/garbled read, not a real creation time. */
  private[sources] val MinPlausibleStampMillis = 1000000000000L

  /** Per-attempt-unique stage name: two concurrent RTAS on one table
    * stage independently and the loser fails at promote, never
    * clobbering the winner's in-flight copy. */
  def newStageName(target: String): String =
    StagePrefix + java.util.UUID.randomUUID().toString.substring(0, 8) +
      "-" + target

  /** Dot-prefixed per-commit claim-ownership marker (see commit()'s FS
    * contract note); invisible to parquet discovery like the bloom
    * sidecar dir. */
  private[graft] val ClaimMarker = ".claim"

  /** Dim-image (re)resolutions performed by streamLookupAppend's
    * broadcast route — tests assert quiet-dim batches don't grow it. */
  private[graft] val lookupDimResolves =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Recursive listings the `$files` view had to fall back to (dirs
    * without complete sidecar byte stats) — a tripwire so tests prove a
    * sidecar-complete table answers with ZERO filesystem recursion. */
  private[graft] val filesTableListings =
    new java.util.concurrent.atomic.AtomicLong()

  /** Per-dir zone sidecar file (hierarchical manifest tier): the dir's
    * per-FILE zones, written once into the staging dir so the ordinal
    * claim-rename publishes data and zones atomically. Dot-prefixed —
    * invisible to parquet discovery; deleted with its dir by
    * expiration/rollback/orphan sweep, so retention needs no separate
    * bookkeeping. */
  private[graft] val ZoneSidecar = ".zones.json"

  /** Token-keyed sidecar cache (sidecars are immutable; tokens are fresh
    * per build, so a reused ordinal after rollback can never serve stale
    * zones). Evicted only between warm batches — see fileStatsFrom. */
  private[sources] val ZoneSidecarCacheCap = 4096
  private[sources] val zoneSidecarCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Map[String, FileStats.DirStats]]]()

  /** Sidecar opens at planning time — the cache-effectiveness tripwire
    * (immutable sidecars must be read at most once per process). */
  private[graft] val zoneSidecarLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Parsed-head cache keyed by the immutable `manifest-v<N>.json` path
    * (each version is CAS'd into existence exactly once — content can
    * never change under a cached key). Stores the inflated node; readers
    * receive deep copies. [[headCacheLoads]] counts cold parses. */
  private[sources] val HeadCacheCap = 64
  private[sources] val headCache =
    new java.util.concurrent.ConcurrentHashMap[String, ObjectNode]()
  private[graft] val headCacheLoads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Process-wide commit-protocol counters (across ALL catalog
    * instances — the per-instance `manifestBytesWritten` serves suite
    * tripwires; these serve cost attribution over query closures that
    * build their own catalogs, e.g. graft.WarehouseAttrib). */
  private[graft] val manifestWritesGlobal =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val manifestBytesGlobal =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop every cached head under a (qualified) table-dir prefix —
    * called by dropTable/renameTable so a recreated table whose version
    * numbering restarts on the same paths can never hit the old table's
    * entries (the mtime+length key component already makes that
    * practically impossible; the purge makes it structural). */
  private[sources] def purgeHeadCache(tableDirPrefix: String): Unit = {
    val it = headCache.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(tableDirPrefix)) it.remove()
  }

  /** Bounded driver pool for parallel sidecar loads (latency-bound small
    * files — same rationale as BloomIndex's probe pool). */
  private[sources] lazy val sidecarPool =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      (r: Runnable) => {
        val t = new Thread(r, "zone-sidecar-load")
        t.setDaemon(true)
        t
      })

  /** Physical bucket-partition column of bucketed PK tables (never part
    * of the logical schema — reads select it away). */
  val BucketCol = "__bucket"

  /** Dynamic-bucket hash-index delta subdir inside each data dir (dot
    * prefix: invisible to parquet discovery, atomic under the dir's
    * ordinal claim-rename). */
  private[graft] val DynIdxDir = ".dbidx"

  /** Table-name separator selecting a branch lineage: `t$branch_dev`
    * (Paimon's branch naming convention, same shape as the `$snapshots`
    * metadata-table suffixes). */
  private[graft] val BranchSep = "$branch_"

  /** Subdir of a table holding its branch lineages (dot-prefixed —
    * invisible to parquet discovery and to the snap-* orphan sweep). */
  private[graft] val BranchDirName = ".branch"

  /** Manifest dir-reference prefix marking a BASE-table-relative path —
    * the cross-lineage sharing form (see dirPath). */
  private[graft] val BaseRelMarker = "~/"

  /** Largest batch key set dynamicRoute will hint as a broadcast side
    * (~2M × 16-byte rows ≈ 32 MB serialized — comfortably inside
    * executor broadcast budgets); bigger batches shuffle-join instead. */
  private[sources] val DynBroadcastKeys = 2000000L

  /** Paimon-style duration strings for `snapshot.time-retained`:
    * `<n><unit>`, unit ∈ ms / s / min / h / d (whitespace tolerated). */
  private[sources] def parseDurationMillis(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT)
    val m = "^(\\d+)\\s*(ms|s|min|h|d)$".r.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(
        s"bad duration '$s' (want <n><ms|s|min|h|d>)"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "ms" => n
      case "s" => n * 1000L
      case "min" => n * 60000L
      case "h" => n * 3600000L
      case "d" => n * 86400000L
    }
  }

  /** Structural options baked into the data layout / version-resolution
    * semantics — immutable after create (see [[GraftCatalog.setTableOptions]]). */
  val ImmutableOptions: Set[String] =
    Set("bucket", "merge-engine", "sequence.field", "deletion-vectors",
      "file.format", "changelog-producer")

  /** `changelog-producer` modes (Paimon's ChangelogProducer enum, which
    * the reference surfaces through TrinoTableOptionUtils.java's option
    * mapping): `none` computes changelogs at read; the others persist
    * row-kinded changelog files at write/compaction. */
  val ChangelogProducers: Set[String] =
    Set("none", "input", "lookup", "full-compaction")

  /** PK-table merge engines (Paimon's `merge-engine` table option). */
  val MergeEngines: Set[String] =
    Set("deduplicate", "partial-update", "aggregation", "first-row")

  /** Per-field functions of the `aggregation` merge engine. Every member
    * is ASSOCIATIVE OVER PARTIALS — a compacted row holds the folded
    * value and later versions fold onto it correctly — which is why
    * Paimon's non-associative `count` (a materialized count re-counts as
    * 1) is deliberately absent: rows carrying 1 with `sum` express it. */
  val FieldAggregates: Set[String] =
    Set("sum", "min", "max", "last_non_null", "bool_and", "bool_or",
      "product", "listagg", "first_value", "first_non_null", "last_value",
      "collect", "merge_map", "rbm32", "rbm64", "hll_sketch", "nested_update")

  /** Row-kind column of changelog reads: `+I` append, `+U` upsert,
    * `-D` delete (Flink/Paimon RowKind shorthand). */
  val RowKindCol = "_row_kind"

  /** Deletion-vector storage columns: the deleted row's table-relative
    * file path and its position in that file. Reserved on tables created
    * with `deletion-vectors=true`. */
  val DvFileCol = "__file"
  val DvPosCol = "__pos"

  /** Hidden retract flag of aggregation-engine data files (r16,
    * Paimon's retract-input handling): a batch row marked `-U`/`-D`
    * through `rowkind.field` lands as an ordinary data row with this
    * boolean set, and the field-wise fold INVERTS it — sum subtracts,
    * collect removes one occurrence per element. Only dirs whose
    * manifest entry carries the `rk` flag are read with the column
    * (spark-avro refuses missing fields; parquet/orc would just null),
    * so pre-retraction files never pay for it. */
  val RetractCol = "__rk"

  /** Field functions whose retraction is exact AND associative over a
    * compacted prefix: sum subtracts (group inverse), collect removes
    * one occurrence per element (the compacted array keeps the full
    * multiset). min/max/first/last/listagg/bool/product/sketches REFUSE
    * retraction — a compacted prefix has already discarded the inferior
    * values a retract could resurrect (same refusal matrix as Paimon's
    * FieldAggregator.retract; product additionally divides inexactly). */
  val RetractableAggs: Set[String] = Set("sum", "collect")

  /** Does THIS field retract exactly? [[RetractableAggs]] membership
    * plus the type-level caveat: collect's fold removes occurrences via
    * `array_position`, whose ordering-based equality rejects unorderable
    * element types (map, struct-of-map) at READ time — so a table that
    * accepted such a -U/-D write would throw on every later read.
    * Gate retraction on element orderability at the write and create
    * gates instead (r17; the insert-only collect branch stays available
    * for any element type via its ordinal-only comparator). */
  def retractableField(fn: String,
      dt: org.apache.spark.sql.types.DataType): Boolean = fn match {
    case "sum" => true
    case "collect" => dt match {
      case org.apache.spark.sql.types.ArrayType(et, _) =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(et)
      case _ => false
    }
    case _ => false
  }

  /** Write-time positional identity for ORC and AVRO deletion-vector
    * tables: a hidden long column stamped into every data file at write
    * (Spark 4.1 exposes `_metadata.row_index` only for parquet — only
    * the parquet source overrides `metadataSchemaFields` with it). The
    * DV contract needs a STABLE UNIQUE (file, position) row identity,
    * not the physical row index: `monotonically_increasing_id()`
    * evaluated once at write is unique within the commit's job
    * (partition-id-prefixed), lands in the file bytes, and reads back
    * identically forever. Paimon's row tracking stamps `_ROW_ID` into
    * data files the same way. Invisible to user reads (frameFor maps
    * columns by field id); surfaced as [[DvPosCol]] when a DV path asks
    * for row identity on an ORC/AVRO table. */
  val OrcPosCol = "__gpos"

  /** Union K same-schema frames as ONE N-ary logical Union, analyzed
    * once. `frames.reduce(_ unionByName _)` re-runs the full analyzer on
    * a growing tree at every step — O(K²) driver-side rule work per
    * resolve (r19 rule metering: 564 analyzer batch runs on one bucketed
    * read, ~half the query's driver gap) — while the N-ary form analyzes
    * the final tree once and its already-analyzed children are skipped.
    * Every call site unions frames built by one projection (same field
    * names, same order, same types); the N-ary Union binds by position,
    * so frames whose field lists differ are refused, never re-aligned. */
  private[sources] def unionAllByName(frames: Seq[DataFrame]): DataFrame = {
    require(frames.nonEmpty, "unionAllByName of zero frames")
    if (frames.size == 1) return frames.head
    val names = frames.head.schema.fieldNames.toSeq
    val mismatch = frames.find(_.schema.fieldNames.toSeq != names)
    require(mismatch.isEmpty, "unionAllByName over frames of different " +
      s"field lists: [${names.mkString(", ")}] vs " +
      s"[${mismatch.map(_.schema.fieldNames.mkString(", ")).getOrElse("")}]")
    org.apache.spark.sql.GraftColumnBridge.dataFrame(
      frames.head.sparkSession,
      org.apache.spark.sql.catalyst.plans.logical.Union(
        frames.map(_.queryExecution.analyzed)))
  }

  /** In-task merge of one bucket's delta rows: highest `__ord` wins per
    * primary key — unless `seqIdx >= 0` (a `sequence.field` table), where
    * the sequence value wins first (NULL smallest, ties fall back to the
    * ordinal). A winning tombstone removes the key. Static (object)
    * method so the task closure captures only index arrays — never the
    * catalog instance. */
  private[sources] def mergeBucketInTask(all: DataFrame, pkIdx: Array[Int],
      ordIdx: Int, delIdx: Int, outIdx: Array[Int],
      outSchema: StructType, seqIdx: Int = -1): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    all.mapPartitions { it =>
      def newer(r: Row, prev: Row): Boolean = {
        if (seqIdx >= 0) {
          val a = r.get(seqIdx); val b = prev.get(seqIdx)
          if (a == null && b != null) return false
          if (a != null && b == null) return true
          if (a != null) {
            // one column ⇒ one runtime type, always Comparable
            // (numeric/date/timestamp/string — validated at create)
            val c = a.asInstanceOf[Comparable[Any]].compareTo(b)
            if (c != 0) return c > 0
          }
        }
        prev.getLong(ordIdx) < r.getLong(ordIdx)
      }
      val best = mutable.HashMap.empty[Seq[Any], Row]
      it.foreach { r =>
        val key: Seq[Any] = pkIdx.toIndexedSeq.map(r.get)
        val prev = best.get(key)
        if (prev.isEmpty || newer(r, prev.get)) best(key) = r
      }
      best.valuesIterator.filterNot(_.getBoolean(delIdx))
        .map(r => Row.fromSeq(outIdx.toIndexedSeq.map(r.get)))
    }(Encoders.row(outSchema)).toDF()
  }

  /** In-task hash join of one bucket's tagged union (see bucketedJoin):
    * side-1 (right) rows build the key→values map, side-0 (left) rows
    * probe it. Static so the closure captures only index arrays. */
  private[sources] def joinBucketInTask(tagged: DataFrame, nKeys: Int,
      leftOutIdx: Array[Int], rightStart: Int, nRight: Int,
      leftOuter: Boolean, outSchema: StructType): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    tagged.mapPartitions { it =>
      val build = mutable.HashMap.empty[Seq[Any], mutable.ArrayBuffer[IndexedSeq[Any]]]
      val probe = mutable.ArrayBuffer.empty[Row]
      it.foreach { r =>
        if (r.getInt(0) == 1)
          build.getOrElseUpdate((1 to nKeys).map(r.get),
            mutable.ArrayBuffer.empty) += (rightStart until rightStart + nRight).map(r.get)
        else probe += r
      }
      probe.iterator.flatMap { l =>
        val left = leftOutIdx.toIndexedSeq.map(l.get)
        build.get((1 to nKeys).map(l.get)) match {
          case Some(ms) => ms.iterator.map(rv => Row.fromSeq(left ++ rv))
          case None if leftOuter =>
            Iterator.single(Row.fromSeq(left ++ Seq.fill(nRight)(null)))
          case None => Iterator.empty
        }
      }
    }(Encoders.row(outSchema)).toDF()
  }

  case class FieldInfo(id: Int, name: String, trinoType: String,
      comment: Option[String] = None)
  case class SnapshotInfo(id: Long, timestampMillis: Long)
  /** One snapshot file-list entry; kind is "data" or "delete" (tombstone).
    * `excludeBuckets` (bucketed PK tables only): buckets whose files in
    * this dir are RETIRED as of the owning snapshot — a per-bucket
    * compaction folded them into its own dir, so reads skip them; the
    * bytes stay for older snapshots until expiration reclaims them.
    * `retract` (aggregation engine, r16): this data dir carries the
    * hidden [[GraftCatalog.RetractCol]] flag column — some of its rows
    * are `-U`/`-D` retract inputs the field-wise fold must invert. */
  case class FileEntry(dir: String, schemaVersion: Int, kind: String,
      excludeBuckets: Seq[Int] = Nil, retract: Boolean = false)
}

/**
 * Session-level scan options — the analog of TrinoSessionProperties:
 * `scan_snapshot_id`, `scan_timestamp_millis` (:36–37) and the split
 * sizing knob (`minimum_split_weight`, :38). Split planning itself is
 * Spark's file-source machinery (the TrinoSplitManagerBase analog);
 * [[withSplitTargetBytes]] steers how many splits a scan produces.
 */
object GraftOptions {
  val ScanSnapshotId = "graft.scan.snapshot-id"
  val ScanTimestampMillis = "graft.scan.timestamp-millis"

  def setSnapshot(spark: SparkSession, id: Long): Unit =
    spark.conf.set(ScanSnapshotId, id.toString)

  def setAsOf(spark: SparkSession, millis: Long): Unit =
    spark.conf.set(ScanTimestampMillis, millis.toString)

  def clearScanOptions(spark: SparkSession): Unit = {
    spark.conf.unset(ScanSnapshotId)
    spark.conf.unset(ScanTimestampMillis)
  }

  /** Target bytes per input split (smaller → more, finer-grained splits). */
  def withSplitTargetBytes(spark: SparkSession, bytes: Long): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", bytes.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", math.min(bytes / 4, 4194304).toString)
  }
}
