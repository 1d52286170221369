package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/**
 * Benchmark harness entry point; `run.py` launches it with the generated
 * inputs of one seed and reads back the JSON it writes.
 *
 * Usage: graftbench.Main --workload <mor_read|query_mix>
 *   --data <inputs dir> --work <scratch dir> --seconds <s> --trace <0|1>
 *   --out <result.json> [--corrupt 1]
 *
 * `--corrupt 1` deliberately damages the expected answers (self-test).
 */
object Main {
  val QueryMix: Seq[String] = Seq("q1_agg", "q9_product_profit",
    "q18_large_orders", "scan_filter_compound", "window_ranks",
    "dedup_minhash", "ann_indexed", "text_quality", "text_tfidf")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val traced = a.get("trace").contains("1")
    val corrupt = a.get("corrupt").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val r = new Runner(spark, if (traced) Some(new Tracer(spark)) else None)
    val in = new Inputs(a("data"))
    val wh = s"$work/warehouse"
    val seconds = a("seconds").toDouble
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val outcome = workload match {
      case "mor_read" => new MorRead(r, in, wh, work, corrupt).run(seconds)
      case "query_mix" =>
        val oracle = graft.SparkEntry.oracleSql
        json.writeValue(new java.io.File(s"$work/oracle_sql.json"),
          QueryMix.map(q => q -> oracle(q)).toMap)
        new QueryMix(r, in, work, QueryMix).run(seconds)
      case other => sys.error(s"unknown workload $other")
    }
    json.writeValue(new java.io.File(a("out")), Report(r, outcome, cpus, traced))
    // spans stay in memory during the run and are written once, at exit
    r.tracer.foreach { t =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/spans.jsonl"),
        t.spans.map(s => json.writeValueAsString(s)).asJava)
    }
    spark.stop()
  }

  /** The session `graft.Bench` uses, with scratch space under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Turns the recorded ops into the reported metrics. */
object Report {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val rank = p / 100 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples above it
    * (p50 when there are fewer than twenty samples). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10).getOrElse(50.0)
    (p, percentile(xs, p))
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  val Commits = Set("upsert", "delete", "compact_bucket", "compact")
  val Reads = Set("point_read", "sql_point_read", "scan_agg", "time_travel", "incremental")
  val Kinds: Seq[String] = Seq("point_read", "sql_point_read", "scan_agg", "time_travel",
    "incremental", "upsert", "delete", "compact_bucket", "compact",
    "point_read_compacted") ++ Main.QueryMix.map("operators." + _)

  def apply(r: Runner, o: Outcome, cpus: Int, traced: Boolean): Map[String, Any] = {
    val all = r.ops.toSeq
    val loop = all.filter(_.phase == "loop")
    val ms = loop.map(_.ms)
    val failed = all.count(!_.ok)
    val (tailP, tailMs) = tail(ms)
    def p50(kind: String) = median(all.filter(_.kind == kind).map(_.ms))
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> median(o.setupS),
      "ops_per_s" -> loop.size / (ms.sum / 1e3),
      "op_geomean_ms" -> math.exp(ms.map(math.log).sum / math.max(1, ms.size)))
    // Figures printed beside the gated metrics: the median and the tail
    // (the highest percentile with ten samples beyond it, p50 below twenty
    // samples) over all loop ops, and the per-kind medians.
    val detail = mutable.LinkedHashMap[String, Any](
      "op_p50_ms" -> median(ms), "op_tail_ms" -> tailMs, "op_tail_percentile" -> tailP,
      "loop_ops" -> loop.size, "loop_op_ms" -> loop.map(o => o.kind -> o.ms),
      "error_rate" -> failed.toDouble / math.max(1, all.size),
      "setup_runs_s" -> o.setupS,
      "ops_per_kind" -> all.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "failed_per_kind" -> all.filter(!_.ok).groupBy(_.kind).map { case (k, v) => k -> v.size })
    Kinds.filter(k => all.exists(_.kind == k)).foreach(k => detail(s"${k}_p50_ms") = p50(k))
    o.extra.foreach { case (k, v) => detail(k) = v }
    val layers = if (traced) layerMetrics(r, o, cpus) else Map.empty[String, Double]
    Map("attempted" -> all.size, "failed" -> failed, "e2e" -> e2e,
      "detail" -> detail, "layers" -> layers)
  }

  /** Per-layer metrics of the traced run: every name in BENCHMARK.json's
    * `per_layer`, zero where a layer takes no part in the workload.
    * Commit and compaction figures come from the set-up and epilogue ops;
    * the Catalyst and execution figures from the timed loop. */
  def layerMetrics(r: Runner, o: Outcome, cpus: Int): Map[String, Double] = {
    val all = r.ops.toSeq
    val ops = all.filter(_.phase == "loop")
    val tr = ops.flatMap(_.trace)
    def per(f: OpTrace => Double, sel: Seq[Op] = ops) = mean(sel.flatMap(_.trace).map(f))
    def driverMs(t: OpTrace) = (t.endMs - t.startMs - t.selfMs("jobs")).toDouble
    val reads = ops.filter(o => Reads(o.kind))
    val upserts = all.filter(_.kind == "upsert")
    val compacts = all.filter(_.kind.startsWith("compact"))
    val wallMs = tr.map(t => (t.endMs - t.startMs).toDouble).sum
    val m = mutable.LinkedHashMap[String, Double](
      "sources.read_call_ms" -> per(_.phaseMs("sources.call").toDouble, reads),
      "sources.live_dirs" -> mean(r.liveDirs.toSeq),
      "sources.commit_ms" -> median(upserts.map(_.ms)),
      "sources.commit_driver_ms" -> per(driverMs, upserts),
      "sources.commit_jobs" -> per(_.jobs.toDouble, upserts),
      "sources.commit_tasks" -> per(_.tasks.toDouble, upserts),
      "sources.delete_ms" -> mean(all.filter(_.kind == "delete").map(_.ms)),
      "sources.compact_ms" -> mean(compacts.map(_.ms)),
      "sources.compact_jobs" -> per(_.jobs.toDouble, compacts),
      "sources.metadata_bytes_per_commit" -> o.extra.getOrElse("metadata_bytes_per_commit", 0.0),
      "sources.data_files_per_commit" -> o.extra.getOrElse("data_files_per_commit", 0.0),
      "sources.rows_committed_per_s" -> o.extra.getOrElse("rows_committed_per_s", 0.0),
      "sources.bytes_stored_per_user_byte" -> o.extra.getOrElse("bytes_stored_per_user_byte", 0.0),
      "plans.analysis_ms" -> per(_.phaseMs("catalyst.analysis").toDouble),
      "plans.optimization_ms" -> per(_.phaseMs("catalyst.optimization").toDouble),
      "plans.planning_ms" -> per(_.phaseMs("catalyst.planning").toDouble),
      "plans.rule_runs" -> per(_.ruleRuns.toDouble),
      "plans.rule_ms" -> per(_.ruleNs / 1e6),
      "plans.effective_rule_ratio" ->
        tr.map(_.ruleEffective).sum.toDouble / math.max(1L, tr.map(_.ruleRuns).sum),
      "exec.jobs" -> per(_.jobs.toDouble),
      "exec.stages" -> per(_.stages.toDouble),
      "exec.tasks" -> per(_.tasks.toDouble),
      "exec.task_ms" -> per(_.taskMs.toDouble),
      "exec.driver_gap_ms" -> per(driverMs),
      "exec.occupancy" -> tr.map(_.taskMs).sum / math.max(1.0, wallMs * cpus),
      "exec.shuffle_bytes" -> per(_.shuffleBytes.toDouble),
      "exec.gc_ms" -> per(_.gcMs.toDouble),
      "exec.files_read" -> per(_.filesRead.toDouble),
      "exec.rows_read_per_row_returned" ->
        tr.map(_.rowsRead).sum.toDouble / math.max(1L, ops.map(_.rows).sum),
      "trace.op_geomean_ms" -> math.exp(mean(ops.map(o => math.log(o.ms)))),
      "trace.unattributed_ms" -> per(_.selfMs("unattributed").toDouble),
      "trace.spans" -> r.tracer.map(_.spans.size.toDouble).getOrElse(0.0))
    Kinds.foreach { k =>
      val sel = all.filter(_.kind == k)
      m(s"$k.ms") = median(sel.map(_.ms))
      Seq("graft", "driver", "catalyst", "jobs").foreach { layer =>
        m(s"$k.${layer}_ms") = per(_.selfMs(layer).toDouble, sel)
      }
    }
    m.toMap
  }
}
