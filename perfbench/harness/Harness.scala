package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: a one-client closed loop over the engine's
  * public entry points (`SparkEntry.queries`, `Tables.warmup`,
  * `Fixtures.prewarm`).
  *
  * Modes (first argument):
  *   - `run`: set up `setupReps` times (layouts cleared first), run one
  *     untimed warm pass, then `passes` counted passes, then further
  *     passes only while fewer than `seconds` have elapsed; every op result
  *     is reduced to (row count, canonical hash). With `trace=1` the
  *     counted passes are four, untraced and traced as U T T U: the
  *     listeners below record jobs, stages, task metrics, planning phases
  *     and streaming progress on the middle two, so the tracing cost is
  *     itself measured.
  *   - `dump`: run each op once, write its result as one parquet file under
  *     `dumpDir/<op>` and record its (rows, hash) — the raw material the
  *     Python side checks against the DuckDB oracle to build the expected
  *     record.
  *
  * Everything is written once, at the end, to the JSON file `out`; the
  * arithmetic over it lives in `perfbench/metrics.py`. */
object Harness {

  /** The engine's scratch root (shared layouts + per-JVM `jvm-<pid>`). */
  private var lake: String = _

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))

  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val args = argv.tail.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val dir = arg(args, "corpus")
    val ops = arg(args, "ops").split(",").toSeq
    val cpus = arg(args, "cpus")
    lake = arg(args, "lake")
    val all = graft.SparkEntry.queries
    ops.foreach(o => require(all.contains(o), s"unknown op $o"))
    val result = mode match {
      case "run" => run(args, dir, ops, cpus, all)
      case "dump" => dump(args, dir, ops, cpus, all)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg(args, "out")),
      Json.write(result))
    SparkSession.getActiveSession.foreach(_.stop())
    // an op abandoned after its timeout may still hold a non-daemon thread
    sys.exit(0)
  }

  private def newSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"$lake/jvm-${ProcessHandle.current().pid()}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Delete the named shared layouts (top-level entries of the scratch
    * root), so the next prewarm builds them cold. */
  private def clearLayouts(names: Seq[String]): Unit =
    names.map(new java.io.File(lake, _)).filter(_.exists)
      .foreach(org.apache.spark.network.util.JavaUtils.deleteRecursively)

  private def nowMs(): Double = System.currentTimeMillis().toDouble

  /** Canonical content hash of an op's result: columns ordered by name,
    * each row hashed with xxhash64, and the row hashes summed — an
    * order-free multiset hash, i.e. the same identity as sorting rows by
    * every column. One aggregate job, so every column is computed (a bare
    * `count()` would let the optimizer prune them). */
  def canonicalHash(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val cols = order.map { i =>
      df.schema(i).dataType match {
        // hash expressions reject maps; their JSON form is deterministic
        case _: MapType => to_json(col(s"c$i"))
        case _ => col(s"c$i")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    (r.getLong(0), s)
  }

  // ---------------------------------------------------------------- dump
  private def dump(args: Map[String, String], dir: String, ops: Seq[String],
      cpus: String, all: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Any] = {
    val spark = newSession(cpus)
    // record which shared layouts the ops touch; Tables.warmup keeps an
    // already-set fs.file.impl
    spark.sparkContext.hadoopConfiguration
      .set("fs.file.impl", classOf[TrackingFileSystem].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
    graft.sources.Tables.warmup(spark)
    graft.Fixtures.prewarm(spark, dir)
    val out = arg(args, "dumpDir")
    val res = ops.map { op =>
      TrackingFileSystem.touched.clear()
      op -> (try {
        val df = all(op)(spark, dir).persist()
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$op")
        val (rows, hash) = canonicalHash(df)
        df.unpersist()
        Map("rows" -> rows, "hash" -> hash, "layouts" -> layoutsTouched())
      } catch {
        case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(300))
      })
    }.toMap
    Map("ops" -> res, "oracles" -> graft.SparkEntry.oracleSql.filter {
      case (k, _) => ops.contains(k) })
  }

  /** Shared layouts (top-level non-`jvm-` entries of the scratch root)
    * among the paths touched since the last clear. */
  private def layoutsTouched(): Seq[String] = {
    val prefix = new java.io.File(lake).getAbsolutePath + "/"
    TrackingFileSystem.touched.asScala.toSeq.flatMap { p =>
      val i = p.indexOf(prefix)
      if (i < 0) None
      else p.substring(i + prefix.length).split("/").headOption
        .filterNot(n => n.startsWith("jvm-") || n.endsWith(".lock") ||
          n.contains(".lock."))
    }.distinct.sorted
  }

  // ----------------------------------------------------------------- run
  /** Always-on byte counter: the numerator of `write_amp`. */
  final class WriteCounter extends SparkListener {
    val output = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        output.addAndGet(m.outputMetrics.bytesWritten)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot(): Map[String, Long] = Map("output" -> output.get,
      "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get)
  }

  /** Traced-run recorder. Spans stay in memory; nothing is written until
    * the run ends. Listener callbacks arrive on Spark's async bus, so each
    * record carries its own event time and is attributed to an op sample
    * by time window afterwards (the loop is closed: one op at a time). */
  final class Tracer extends SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    @volatile var on = false
    val jobs = new ConcurrentLinkedQueue[Map[String, Any]]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val stages = new ConcurrentLinkedQueue[Map[String, Any]]
    val tasks = new ConcurrentLinkedQueue[Map[String, Any]]
    val queries = new ConcurrentLinkedQueue[Map[String, Any]]
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStart.put(e.jobId, (e.time, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
        jobs.add(Map("start" -> t0, "end" -> e.time, "group" -> g))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) {
        val i = e.stageInfo
        stages.add(Map("t" ->
          i.completionTime.getOrElse(System.currentTimeMillis())))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val m = e.taskMetrics
      val base = Map[String, Any]("t" -> e.taskInfo.finishTime,
        "failed" -> (if (e.reason == org.apache.spark.Success) 0 else 1))
      tasks.add(if (m == null) base else base ++ Map(
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "spill" -> m.diskBytesSpilled,
        "peak_mem" -> m.peakExecutionMemory,
        "input" -> m.inputMetrics.bytesRead,
        "output" -> m.outputMetrics.bytesWritten,
        "records_written" -> m.outputMetrics.recordsWritten))
    }

    private def metric(p: SparkPlan, k: String): Long =
      p.metrics.get(k).map(_.value).getOrElse(0L)

    private def record(qe: QueryExecution): Unit = if (on) {
      val phases = qe.tracker.phases
      def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      val t = phases.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) {
        case s: DataSourceScanExec => s
        case s: DataSourceV2ScanExecBase => s
      }
      val writes = collectWithSubqueries(plan) {
        case w: DataWritingCommandExec => w.cmd
      }
      queries.add(Map("t" -> t,
        "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "files_scanned" -> scans.map(metric(_, "numFiles")).sum,
        "rows_scanned" -> scans.map(metric(_, "numOutputRows")).sum,
        "files_written" -> writes.map(_.metrics.get("numFiles")
          .map(_.value).getOrElse(0L)).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    val streamListener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on) {
          val d = e.progress.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap
          // a trigger that found no new data reports no addBatch
          if (d.contains("addBatch")) progress.add(Map(
            "t" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
            "add_batch_ms" -> d("addBatch"),
            "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
            "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
            "trigger_ms" -> d.getOrElse("triggerExecution", 0L)))
        }
    }

    def dumpAll(): Map[String, Any] = Map(
      "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "tasks" -> tasks.asScala.toSeq, "queries" -> queries.asScala.toSeq,
      "streaming" -> progress.asScala.toSeq)
  }

  private def run(args: Map[String, String], dir: String, ops: Seq[String],
      cpus: String, all: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, Any] = {
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val counted = if (trace) 4 else arg(args, "passes").toInt
    val setupReps = arg(args, "setupReps").toInt
    val timeoutSec = arg(args, "timeoutSec").toLong
    val clear = args.getOrElse("clear", "").split(",").filter(_.nonEmpty).toSeq

    // --- set-up, repeated: session + warmup + cold prewarm
    var spark: SparkSession = null
    val setups = (1 to setupReps).map { rep =>
      if (spark != null) spark.stop()
      clearLayouts(clear)
      val t0 = System.nanoTime()
      spark = newSession(cpus)
      val t1 = System.nanoTime()
      graft.sources.Tables.warmup(spark)
      val t2 = System.nanoTime()
      val pw = graft.Fixtures.prewarm(spark, dir)
      val t3 = System.nanoTime()
      require(pw.failures.isEmpty, s"prewarm failed: ${pw.failures}")
      Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
        "prewarm_s" -> (t3 - t2) / 1e9, "builders" -> pw.buildSec.toMap)
    }
    val sc = spark.sparkContext
    val counter = new WriteCounter
    sc.addSparkListener(counter)
    val tracer = new Tracer
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      spark.streams.addListener(tracer.streamListener)
    }

    def newPool() = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
    }
    var pool = newPool()
    val samples = new java.util.ArrayList[Map[String, Any]]
    def runOp(op: String, pass: Int, tagged: Boolean): Map[String, Any] = {
      val fn = all(op)
      val start = nowMs()
      val t0 = System.nanoTime()
      val task = pool.submit(new java.util.concurrent.Callable[(Long, Long, String)] {
        def call(): (Long, Long, String) = {
          if (tagged) sc.setJobGroup(s"$op#$pass", op, interruptOnCancel = true)
          try {
            val df = fn(spark, dir)
            val t1 = System.nanoTime()
            val (rows, hash) = canonicalHash(df)
            (t1, rows, hash)
          } finally if (tagged) sc.clearJobGroup()
        }
      })
      val base = Map[String, Any]("op" -> op, "pass" -> pass, "start" -> start)
      try {
        val (t1, rows, hash) = task.get(timeoutSec, TimeUnit.SECONDS)
        val t2 = System.nanoTime()
        base ++ Map("end" -> nowMs(), "wall_s" -> (t2 - t0) / 1e9,
          "build_s" -> (t1 - t0) / 1e9, "rows" -> rows, "hash" -> hash)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          sc.cancelAllJobs()
          task.cancel(true)
          // the stuck thread is abandoned; later ops get a fresh one
          pool = newPool()
          base ++ Map("end" -> nowMs(), "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "error" -> s"timeout after ${timeoutSec}s")
        case e: java.util.concurrent.ExecutionException =>
          val c = Option(e.getCause).getOrElse(e)
          base ++ Map("end" -> nowMs(), "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "error" -> (c.getClass.getSimpleName + ": " +
              String.valueOf(c.getMessage)).take(300))
      }
    }

    // untimed warm pass: codegen, class loading, per-JVM scratch layouts
    ops.foreach(op => samples.add(runOp(op, 0, tagged = false)))
    org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)

    val rnd = new scala.util.Random(seed)
    val passes = new java.util.ArrayList[Map[String, Any]]
    val t0 = System.nanoTime()
    var pass = 0
    // The number of counted passes is fixed, so the sample count, and with
    // it every percentile's rank, is the same on every commit. Passes past
    // it only fill `seconds`: they are checked but not measured. A traced
    // run orders its counted passes U T T U, so warm-up drift between
    // passes cancels out of the tracing overhead.
    while (pass < counted || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      val traced = trace && (pass == 2 || pass == 3)
      tracer.on = traced
      val w0 = counter.snapshot()
      val p0 = System.nanoTime()
      rnd.shuffle(ops).foreach { op =>
        samples.add(runOp(op, pass, traced) + ("traced" -> traced))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(sc)
      tracer.on = false
      val w1 = counter.snapshot()
      passes.add(Map("pass" -> pass, "wall_s" -> wall, "traced" -> traced,
        "counted" -> (pass <= counted),
        "bytes" -> w1.map { case (k, v) => k -> (v - w0(k)) }))
    }
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
    Map("seed" -> seed, "setups" -> setups, "passes" -> passes.asScala.toSeq,
      "samples" -> samples.asScala.toSeq, "vm_hwm_kb" -> hwm,
      "trace" -> (if (trace) tracer.dumpAll() else Map.empty))
  }
}

/** The engine's local filesystem, recording every path it is asked
  * about: used by `dump` to learn which shared layouts each op reads. */
class TrackingFileSystem extends graft.sources.NioLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    TrackingFileSystem.touched.add(f.toString); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    TrackingFileSystem.touched.add(f.toString); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    TrackingFileSystem.touched.add(f.toString); super.listStatus(f)
  }
}
object TrackingFileSystem {
  val touched: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Minimal JSON writer for the result record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case o: Option[_] => o.map(write).getOrElse("null")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
