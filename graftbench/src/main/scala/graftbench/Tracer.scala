package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary, inside op `op`. */
final case class Span(op: Int, name: String, startMs: Long, endMs: Long)

/** What one op cost each layer. Every number comes from a public surface:
  * the Spark listener, `QueryExecution.tracker`, `RuleExecutor` metrics and
  * the executed plans' scan SQLMetrics. */
final case class OpTrace(startMs: Long, endMs: Long, spans: Seq[Span],
    jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleBytes: Long, ruleRuns: Long, ruleEffective: Long, ruleNs: Long,
    filesRead: Long, rowsRead: Long) {

  /** Splits the op's wall interval into self times, each millisecond going
    * to the innermost layer active then: a running job (`jobs`), else a
    * Catalyst phase (`catalyst`), else the driver side of materialising a
    * result (`driver`: adaptive re-planning, result fetch), else a call into
    * graft (`graft`), else nothing the trace names (`unattributed`). */
  lazy val selfMs: Map[String, Long] = {
    val n = math.max(0L, endMs - startMs).toInt + 1
    val owner = new Array[Byte](n)
    def paint(prefix: String, code: Byte): Unit =
      spans.filter(_.name.startsWith(prefix)).foreach { s =>
        val a = math.max(0L, s.startMs - startMs).toInt
        val b = math.min(n.toLong, s.endMs - startMs).toInt
        var i = a
        while (i < b) { if (owner(i) < code) owner(i) = code; i += 1 }
      }
    paint("sources.", 1); paint("operators.", 1); paint("exec.action", 2)
    paint("catalyst.", 3); paint("exec.job", 4)
    val counts = owner.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    Seq("unattributed", "graft", "driver", "catalyst", "jobs").zipWithIndex
      .map { case (name, code) => name -> counts.getOrElse(code.toByte, 0L) }.toMap
  }

  def phaseMs(name: String): Long =
    spans.filter(_.name == name).map(s => s.endMs - s.startMs).sum
}

/**
 * In-memory tracer for the traced run. Registers a Spark listener and a
 * query-execution listener, lets the harness mark its calls into graft
 * (`sources.call` / `operators.call`) and the materialisation of results
 * (`exec.action`), and at the end of each op drains the listener bus and
 * folds everything seen during the op into an [[OpTrace]].
 */
final class Tracer(spark: SparkSession) {
  private val jobs, stages, tasks, taskMs, gcMs, shuffleBytes = new AtomicLong
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]
  private val executions = new ConcurrentLinkedQueue[QueryExecution]
  private val calls = mutable.ArrayBuffer.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStarts.put(j.jobId, j.time); ()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach(s => jobSpans.add((s.longValue, j.time)))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(t.taskInfo).foreach(i => taskMs.addAndGet(i.duration))
      Option(t.taskMetrics).foreach { m =>
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      ()
    }
  })
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      executions.add(qe); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
      executions.add(qe); ()
    }
  })

  /** Times `body` as a span named `name`. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally calls += Span(-1, name, t0, System.currentTimeMillis())
  }

  private final case class Mark(ms: Long, counters: Seq[Long],
      rules: (Long, Long, Long))

  private def counters = Seq(jobs, stages, tasks, taskMs, gcMs, shuffleBytes).map(_.get)

  private def rules = {
    val m = RuleExecutor.getCurrentMetrics()
    (m.numRuns, m.numEffectiveRuns, m.time)
  }

  def begin(): Any = {
    BenchBus.drain(spark.sparkContext)
    jobSpans.clear(); executions.clear(); calls.clear()
    Mark(System.currentTimeMillis(), counters, rules)
  }

  def end(op: Int, mark: Any): OpTrace = {
    val m = mark.asInstanceOf[Mark]
    val endMs = System.currentTimeMillis()
    val r1 = rules
    BenchBus.drain(spark.sparkContext)
    val c = counters.zip(m.counters).map { case (a, b) => a - b }
    val qes = executions.asScala.toSeq
    val phases = for {
      qe <- qes
      (name, p) <- qe.tracker.phases.toSeq if name != "parsing"
    } yield Span(op, s"catalyst.$name", p.startTimeMs, p.endTimeMs)
    val js = jobSpans.asScala.toSeq.map { case (s, e) => Span(op, "exec.job", s, e) }
    val cs = calls.toSeq.map(_.copy(op = op))
    val all = (Span(op, "op", m.ms, endMs) +: (cs ++ phases ++ js))
      .filter(s => s.endMs >= m.ms && s.startMs <= endMs)
    spans ++= all
    val scans = qes.flatMap(qe => leaves(qe.executedPlan))
    def metric(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    OpTrace(m.ms, endMs, all, c(0), c(1), c(2), c(3), c(4), c(5),
      r1._1 - m.rules._1, r1._2 - m.rules._2, r1._3 - m.rules._3,
      metric("numFiles"), metric("numOutputRows"))
  }

  /** Leaf operators of a physical plan, looking through adaptive plans and
    * query stages; scans carry `numFiles` / `numOutputRows`. */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case l if l.children.isEmpty => Seq(l)
    case other => other.children.flatMap(leaves) ++
      other.subqueries.flatMap(leaves)
  }
}
