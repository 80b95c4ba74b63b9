package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{Q, Registry, Tables}
import graft.ops.Maintenance

/** Runs one benchmark workload in one JVM on one `local[cores]` session.
  *
  * Each registry entry runs under the registry's execution contract:
  * `fn(spark, dir)` → one action into the noop sink →
  * `spark.catalog.clearCache()`. The run has three phases:
  *
  *  1. set-up, `--setups` times: a fresh `java.io.tmpdir`, a new session
  *     and the workload's fixture registration; the last session is kept;
  *  2. the check pass: every entry once, its result written as Parquet
  *     for the oracle comparison (this pass also warms the JVM);
  *  3. `--passes` timed passes, each in its own seeded entry order.
  *
  * With `--trace 1` a [[Trace]] listener is attached and each entry's
  * plan, snapshot-store files and task counters are recorded; without
  * it nothing but wall clocks runs inside the timed region.
  *
  * Everything measured goes to `<out>/result.json`; `run.py` turns it
  * into metrics and checks the Parquet outputs against DuckDB.
  *
  * Usage: perfbench.Harness <out> <fixture> <workload> <seed> <passes>
  *          <setups> <trace 0|1> <cores> <entry,entry,...>
  */
object Harness {

  final case class Timing(
      name: String, pass: Int, wall: Double, build: Double, plan: Double,
      analysis: Double, buildStartMs: Long, buildEndMs: Long,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(outArg, fixture, workload, seedArg, passesArg, setupsArg,
      traceArg, coresArg, entryArg) = args
    val out = Paths.get(outArg).toAbsolutePath
    val seed = seedArg.toLong
    val passes = passesArg.toInt
    val setups = setupsArg.toInt
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val byName = Registry.all.map(q => q.name -> q).toMap
    val entries = entryArg.split(",").toSeq.map { n =>
      byName.getOrElse(n, sys.error(s"unknown registry entry '$n'"))
    }
    val clearsTables = entries.exists(_.name.startsWith("maint_"))
    val trace = if (traced) Some(new Trace) else None

    // ---- 1. set-up ---------------------------------------------------
    var spark: SparkSession = null
    val setupSeconds = (1 to setups).map { k =>
      val tmp = Files.createDirectories(out.resolve(s"tmp/setup-$k"))
      System.setProperty("java.io.tmpdir", tmp.toString)
      val t0 = System.nanoTime()
      spark = session(cores)
      trace.foreach(_.attach(spark))
      Tables.registerAll(spark, fixture)
      val dt = seconds(t0)
      if (k < setups) spark.stop()
      dt
    }

    // ---- 2. check pass -------------------------------------------------
    val t0 = System.nanoTime()
    val checkErrors = order(entries, seed, 0).flatMap { q =>
      val target = out.resolve("check").resolve(q.name).toString
      attempt(spark)(q.fn(spark, fixture).coalesce(1).write
        .mode("overwrite").parquet(target)).map(q.name -> _)
    }.toMap
    val checkPassSeconds = seconds(t0)

    // ---- 3. timed passes -----------------------------------------------
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds()
    val timedStartMs = System.currentTimeMillis()
    val timings = mutable.Buffer.empty[Timing]
    val snapDiffs = mutable.Buffer.empty[SnapDiff]
    val passCpu = mutable.Buffer.empty[Double]
    val passSeconds = (1 to passes).map { p =>
      // The write path starts every pass from empty tables, so each
      // pass pays the same commits. Deleting them is not timed.
      if (clearsTables) deleteTree(Maintenance.root(fixture))
      val pt0 = System.nanoTime()
      val pc0 = os.getProcessCpuTime
      order(entries, seed, p).foreach { q =>
        val before = trace.map(_ => SnapDiff.listing(Maintenance.root(fixture)))
        timings += timeEntry(spark, q, fixture, p, traced)
        before.foreach(b => snapDiffs += SnapDiff(p, b, Maintenance.root(fixture)))
      }
      passCpu += (os.getProcessCpuTime - pc0) / 1e9
      seconds(pt0)
    }
    val timedEndMs = System.currentTimeMillis()
    val gcTimed = gcSeconds() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val liveMb = SnapDiff.totalBytes(Maintenance.root(fixture)) / 1048576.0

    val fnBench = if (traced) FnBench.run(spark, fixture) else Seq.empty
    val traceJson = trace.map { t =>
      t.drain(spark)
      t.summary(timedStartMs, timedEndMs,
        timings.map(x => (x.buildStartMs, x.buildEndMs)).toSeq)
    }

    // The smallest of four readings, each after a full collection:
    // Spark's context cleaner frees shuffle and broadcast state only
    // after a GC has cleared their weak references.
    spark.catalog.clearCache()
    val heapRetainedMb = (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    spark.stop()

    val oracles = entries.flatMap(q => q.oracle.map(q.name -> _))
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "passes" -> passes.toString,
      "entries" -> Json.arr(entries.map(q => Json.str(q.name))),
      "oracle_sql" -> Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }: _*),
      "setup_s" -> Json.nums(setupSeconds),
      "check_pass_s" -> Json.num(checkPassSeconds),
      "check_errors" -> Json.obj(
        checkErrors.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "pass_s" -> Json.nums(passSeconds),
      "pass_cpu_s" -> Json.nums(passCpu.toSeq),
      "gc_s" -> Json.num(gcTimed),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "heap_retained_mb" -> Json.num(heapRetainedMb),
      "timings" -> Json.arr(timings.toSeq.map { t =>
        Json.obj(
          "name" -> Json.str(t.name), "pass" -> t.pass.toString,
          "wall_s" -> Json.num(t.wall), "build_s" -> Json.num(t.build),
          "plan_s" -> Json.num(t.plan), "analysis_s" -> Json.num(t.analysis),
          "error" -> t.error.map(Json.str).getOrElse("null"))
      }),
      "snap" -> SnapDiff.summary(snapDiffs.toSeq, liveMb, traced),
      "trace" -> traceJson.getOrElse("null"),
      "fn" -> Json.obj(fnBench.map { case (k, v) => k -> Json.num(v) }: _*))
    Files.writeString(out.resolve("result.json"), json + "\n")
    sys.exit(0)
  }

  /** The engine session of `graft.Bench`: the same confs, join policy,
    * status-store caps and TopKPerKey rewrite, at `local[cores]`.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.sources.GraftSparkExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopK.register(spark)
    spark.conf.set("spark.graft.topk.rewrite", "true")
    spark
  }

  /** One timed entry: build (`Q.fn`), then the noop-sink action. The
    * traced run also plans the frame explicitly (`plan_s`) between the
    * two, so planning is timed apart from execution, and reads the
    * frame's own analysis time, which the action's query does not redo.
    */
  private def timeEntry(spark: SparkSession, q: Q, fixture: String,
      pass: Int, traced: Boolean): Timing = {
    var build, plan, analysis = 0.0
    var b0, b1 = 0L
    val t0 = System.nanoTime()
    val error = attempt(spark) {
      b0 = System.currentTimeMillis()
      val df = q.fn(spark, fixture)
      b1 = System.currentTimeMillis()
      build = seconds(t0)
      if (traced) {
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        plan = seconds(p0)
        analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs / 1000.0).getOrElse(0.0)
      }
      df.write.format("noop").mode("overwrite").save()
    }
    Timing(q.name, pass, seconds(t0), build, plan, analysis, b0, b1, error)
  }

  /** Runs `body`, then clears the cache; the error message, if any. */
  private def attempt(spark: SparkSession)(body: => Unit): Option[String] = {
    val error =
      try { body; None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    spark.catalog.clearCache()
    error
  }

  /** Pass `p`'s entry order: a shuffle seeded by the workload seed. */
  private def order(entries: Seq[Q], seed: Long, p: Int): Seq[Q] =
    new Random(seed * 1000003L + p).shuffle(entries)

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
