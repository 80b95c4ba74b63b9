package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of a traced run, read from Spark's public
  * listener bus (jobs, stages, tasks) and from the query-execution
  * listener (planning phases, executed-plan nodes).
  *
  * Events arrive asynchronously, so each record keeps its own
  * timestamp and [[summary]] keeps only those inside the timed window;
  * [[drain]] waits until every event of the timed window has arrived.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  @volatile private var markerJob = -1
  private val jobDrained = new CountDownLatch(1)
  private val queryDrained = new CountDownLatch(1)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (Option(e.properties).exists(_.getProperty(MarkerProp) != null))
      markerJob = e.jobId
    jobs.add(e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) jobDrained.countDown()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stages.add(t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = e.reason != Success
    if (m == null) tasks.add(TaskRec(i.launchTime, failed))
    else {
      val getting =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead +
        m.shuffleWriteMetrics.recordsWritten + m.outputMetrics.recordsWritten
      tasks.add(TaskRec(i.launchTime, failed,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        inRows = m.inputMetrics.recordsRead, inBytes = m.inputMetrics.bytesRead,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        schedMs = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting),
        useful = records > 0))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    if (qe.logical.toString.contains(MarkerCol)) { queryDrained.countDown(); return }
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
    val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
    queries.add(QueryRec(start, ms("analysis"), ms("optimization"), ms("planning"),
      exchanges = nodes.count {
        case _: ShuffleExchangeLike => true
        case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
        case _ => false
      },
      sorts = nodes.count(_.isInstanceOf[SortExec]),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
      topk = nodes.count(_.nodeName.contains("TopK"))))
  }

  /** Runs a marked query and waits until the listeners have seen it:
    * both listeners deliver in order, so every earlier event is in.
    */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(MarkerProp, "1")
    try spark.range(0, 1, 1, 1).selectExpr(s"id AS $MarkerCol")
      .write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.setLocalProperty(MarkerProp, null)
    jobDrained.await(60, TimeUnit.SECONDS)
    queryDrained.await(60, TimeUnit.SECONDS)
  }

  /** Totals over the timed window `[fromMs, toMs]`; `buildWindows` are
    * the entries' `Q.fn` intervals, which attribute jobs to `build`.
    */
  def summary(fromMs: Long, toMs: Long, buildWindows: Seq[(Long, Long)]): String = {
    def in(t: Long) = t >= fromMs && t <= toMs
    val js = jobs.asScala.map(_.longValue).filter(in).toSeq
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val qs = queries.asScala.filter(q => in(q.startMs)).toSeq
    def mb(f: TaskRec => Long) = Json.num(ts.map(f).sum / 1048576.0)
    def s(ms: Long) = Json.num(ms / 1000.0)
    Json.obj(
      "build.jobs" -> js.count(t => buildWindows.exists { case (a, b) =>
        t >= a && t <= b }).toString,
      "plan.queries" -> qs.size.toString,
      "plan.analysis_s" -> s(qs.map(_.analysisMs).sum),
      "plan.optimizer_s" -> s(qs.map(_.optimizerMs).sum),
      "plan.physical_s" -> s(qs.map(_.physicalMs).sum),
      "plan.exchanges" -> qs.map(_.exchanges).sum.toString,
      "plan.sorts" -> qs.map(_.sorts).sum.toString,
      "plan.broadcasts" -> qs.map(_.broadcasts).sum.toString,
      "plan.topk_nodes" -> qs.map(_.topk).sum.toString,
      "exec.jobs" -> js.size.toString,
      "exec.stages" -> stages.asScala.map(_.longValue).count(in).toString,
      "exec.tasks" -> ts.size.toString,
      "exec.failed_tasks" -> ts.count(_.failed).toString,
      "exec.useful_tasks" -> ts.count(_.useful).toString,
      "exec.task_run_s" -> s(ts.map(_.runMs).sum),
      "exec.task_cpu_s" -> Json.num(ts.map(_.cpuNs).sum / 1e9),
      "exec.task_gc_s" -> s(ts.map(_.gcMs).sum),
      "exec.sched_delay_s" -> s(ts.map(_.schedMs).sum),
      "exec.input_rows" -> ts.map(_.inRows).sum.toString,
      "exec.input_mb" -> mb(_.inBytes),
      "exec.shuffle_read_mb" -> mb(_.shuffleRead),
      "exec.shuffle_write_mb" -> mb(_.shuffleWrite),
      "exec.spill_mb" -> mb(_.spill))
  }
}

object Trace {
  private val MarkerProp = "perfbench.drain"
  private val MarkerCol = "perfbench_drain_marker"

  final case class TaskRec(
      launchMs: Long, failed: Boolean, runMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, inRows: Long = 0, inBytes: Long = 0,
      shuffleRead: Long = 0, shuffleWrite: Long = 0, spill: Long = 0,
      schedMs: Long = 0, useful: Boolean = false)

  final case class QueryRec(
      startMs: Long, analysisMs: Long, optimizerMs: Long, physicalMs: Long,
      exchanges: Int, sorts: Int, broadcasts: Int, topk: Int)

  /** Every node of an executed plan, through the adaptive wrapper,
    * query stages and subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(planNodes)
  }
}

/** Files one entry added or rewrote under the snapshot-store root. */
final case class SnapDiff(pass: Int, files: Int, metaFiles: Int, dataBytes: Long)

object SnapDiff {
  def listing(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }

  def apply(pass: Int, before: Map[String, Long], root: Path): SnapDiff = {
    val created = listing(root).filter { case (f, n) => !before.get(f).contains(n) }
    SnapDiff(pass, created.size,
      created.keys.count(_.contains("/_snapshots/")),
      created.collect { case (f, n) if f.contains("/data/") => n }.sum)
  }

  def totalBytes(root: Path): Long = listing(root).values.sum

  def summary(diffs: Seq[SnapDiff], liveMb: Double, traced: Boolean): String =
    if (!traced) "null"
    else Json.obj(
      "snap.files_written" -> diffs.map(_.files).sum.toString,
      "snap.files_written_min_pass" ->
        diffs.groupBy(_.pass).values.map(_.map(_.files).sum).minOption
          .getOrElse(0).toString,
      "snap.meta_files_written" -> diffs.map(_.metaFiles).sum.toString,
      "snap.data_mb_written" -> Json.num(diffs.map(_.dataBytes).sum / 1048576.0),
      "snap.live_mb" -> Json.num(liveMb))
}

/** Per-row cost of the native expressions in `graft.functions`: each is
  * timed as `SELECT sum(hash(fn(...)))` over cached, replicated fixture
  * rows (median of three), so the scan is out of the reading.
  */
object FnBench {
  private val cases = Seq(
    "vec_dot" -> ("pb_vecs", "vec_dot(v, v)"),
    "vec_l2sq" -> ("pb_vecs", "vec_l2sq(vm, vm)"),
    "lsh_sig4" -> ("pb_vecs", "lsh_sig4(v)"),
    "fold_hash" -> ("pb_docs", "fold_hash(text, 31, 0, 1000000007)"),
    "minhash_sig" -> ("pb_docs", "minhash_sig(wd)"),
    "simhash_sig" -> ("pb_docs", "simhash_sig(ws)"),
    "bigram_stats" -> ("pb_docs", "bigram_stats(ws)"))

  private val rows = 200000L

  def run(spark: SparkSession, fixture: String): Seq[(String, Double)] = {
    graft.functions.GraftFunctions.register(spark)
    def replicated(table: String, select: String, view: String): Long = {
      val n = graft.Tables.load(spark, fixture, table).count()
      val df = spark.sql(s"SELECT $select FROM $table " +
        s"CROSS JOIN range(${(rows + n - 1) / n})").cache()
      df.createOrReplaceTempView(view)
      df.count()
    }
    val counts = Map(
      "pb_vecs" -> replicated("embeddings", "CAST(embedding AS ARRAY<DOUBLE>) AS v, " +
        "transform(embedding, x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm",
        "pb_vecs"),
      "pb_docs" -> replicated("documents", "text, split(text, ' ') AS ws, " +
        "array_distinct(split(text, ' ')) AS wd", "pb_docs"))
    val result = cases.map { case (name, (view, fn)) =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.sql(s"SELECT sum(hash($fn)) FROM $view").collect()
        (System.nanoTime() - t0).toDouble
      }.sorted
      s"fn.$name.ns_per_row" -> times(1) / counts(view)
    }
    spark.catalog.clearCache()
    result
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(ds: Seq[Double]): String = arr(ds.map(num))
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
