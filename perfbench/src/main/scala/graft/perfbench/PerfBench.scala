package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import graft.{Engine, ScaleUp, SparkEntry}
import graft.queries.SourceQueries
import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark: one client runs the ops of a workload
  * back to back on `Engine.session`, the configuration users get.
  *
  * An op is one `SparkEntry.queries` entry, timed as three calls into
  * public functions: building the DataFrame, forcing
  * `queryExecution.executedPlan`, and executing that same QueryExecution.
  * Every execution's rows are fingerprinted against the op's first
  * execution; that first result is written out for the DuckDB oracle
  * check, which runs after the JVM exits.
  *
  * Usage: `PerfBench <family> <seed> <seconds> <trace 0|1> <fixtureDir>
  * <workDir>`. Writes `workDir/result.json`, and
  * with tracing on also `workDir/trace.json`.
  */
object PerfBench {

  /** A workload family: its ops, and how many `graft.ScaleUp` replicas
    * of the fixture it runs on (1: the fixture itself). */
  final case class Family(ops: Seq[String], replicas: Int)

  /** `tpch` exercises the fixed costs of a query (table registration,
    * Catalyst, job and stage scheduling); `curation` the corpus kernels,
    * their shuffles and the persisted LSH artifacts, which its set-up
    * builds and its passes read. `q_ann_ivf_index` is not in `curation`:
    * on its corpus it misses its own recall bar for some seeds (see the
    * README). */
  val families: Map[String, Family] = Map(
    "tpch" -> Family(Seq("q1_pricing_summary", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q13",
      "q_tpch_q18", "q_tpch_q21"), replicas = 1),
    "curation" -> Family(Seq("q_cur_end2end", "q_dedup_minhash", "q_cur_decontaminate", "q_text_winnow",
      "q_dedup_semantic"), replicas = 2))

  /** Untimed passes after the cold one continue while a pass is more
    * than this much faster than the pass before it, up to `MaxWarmPasses`. */
  val WarmTolerance = 0.03
  val MaxWarmPasses = 2

  // ---------------------------------------------------------------- trace

  /** One traced interval; `parent` is -1 for an op span. Times are epoch ms. */
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

  final case class JobRec(id: Int, group: String, start: Long, var end: Long)

  /** Span and counter recorder for the traced passes: a SparkListener for
    * jobs, stages and tasks, and a QueryExecutionListener for Catalyst
    * phases and the `graft_*` observed counters. */
  final class Recorder extends SparkListener with QueryExecutionListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val counts = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)

    private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = JobRec(e.jobId, group.getOrElse(""), e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add("stages", 1)
      if (e.stageInfo.failureReason.isDefined) add("failed_stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val run = m.executorRunTime / 1e3
        add("task_run_s", run)
        add("task_cpu_s", m.executorCpuTime / 1e9)
        add("task_gc_s", m.jvmGCTime / 1e3)
        val overhead = (m.executorDeserializeTime + m.resultSerializationTime) / 1e3
        val gettingResult = if (e.taskInfo.gettingResult) (e.taskInfo.finishTime - e.taskInfo.gettingResultTime) / 1e3 else 0.0
        add("scheduler_delay_s", math.max(0.0, e.taskInfo.duration / 1e3 - run - overhead - gettingResult))
        add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill_b", m.diskBytesSpilled.toDouble)
        add("input_b", m.inputMetrics.bytesRead.toDouble)
        add("records_read", m.inputMetrics.recordsRead.toDouble)
        add("output_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      qe.tracker.phases.foreach { case (phase, s) => add(s"phase_$phase", s.durationMs / 1e3) }
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_"))
          (0 until row.length).foreach { i =>
            row.get(i) match {
              case n: Number => add("graft_dropped", n.doubleValue)
              case _ =>
            }
          }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---------------------------------------------------------------- ops

  /** Outcome of one op execution. Phase boundaries are epoch ms, the
    * latency is the nanosecond wall time of build + plan + execute. */
  final case class OpRun(id: Int, name: String, t0: Long, tBuilt: Long, tPlanned: Long, t1: Long,
      latencyNs: Long, result: Either[Throwable, (StructType, Array[Row])])

  private def runOp(spark: SparkSession, fn: (SparkSession, String) => DataFrame, dir: String,
      id: Int, name: String): OpRun = {
    val sc = spark.sparkContext
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    var tBuilt, tPlanned = -1L
    val result = try {
      sc.setJobGroup(s"pb$id:build", name)
      val df = fn(spark, dir)
      tBuilt = System.currentTimeMillis()
      sc.setJobGroup(s"pb$id:plan", name)
      val qe = df.queryExecution
      qe.executedPlan
      tPlanned = System.currentTimeMillis()
      sc.setJobGroup(s"pb$id:exec", name)
      val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      val schema = qe.analyzed.schema
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      Right((schema, rows.map(r => toRow(r).asInstanceOf[Row])))
    } catch {
      case NonFatal(e) => Left(e)
    } finally sc.clearJobGroup()
    val latencyNs = System.nanoTime() - n0
    val t1 = System.currentTimeMillis()
    // materializedWith leaves checkpoint blocks behind; nothing references
    // them once the op's rows are collected, and letting them pile up over
    // a run would make later passes slower than earlier ones
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // a phase the op did not reach ends where the op ended
    val built = if (tBuilt < 0) t1 else tBuilt
    OpRun(id, name, t0, built, if (tPlanned < 0) t1 else tPlanned, t1, latencyNs, result)
  }

  private def fingerprint(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  // ---------------------------------------------------------------- files and host

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else if (f.isFile) Seq(f) else Nil

  private def readFile(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case NonFatal(_) => "" }

  /** Steal time of the whole host in seconds since boot (/proc/stat). */
  private def stealS(): Double =
    readFile("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }.getOrElse(0.0)

  private def loadavg(): Double =
    readFile("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  private def peakRssMb(): Double =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  // ---------------------------------------------------------------- json

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def jn(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(familyName, seedS, secondsS, traceS, fixtureDir, workDir) = args
    val family = families.getOrElse(familyName, sys.error(s"unknown workload family $familyName"))
    val ops = family.ops
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val nproc = Runtime.getRuntime.availableProcessors()
    val catalog = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    ops.foreach(n => require(catalog.contains(n), s"op $n is not in SparkEntry.queries"))
    val rng = new Random(seed)

    // the input: the fixture, or replicas of it derived by graft.ScaleUp
    // with the seed as its sign seed (it reshapes the replicas' embeddings)
    val inputDir =
      if (family.replicas == 1) fixtureDir
      else {
        val d = s"$workDir/data"
        ScaleUp.main(Array(fixtureDir, d, family.replicas.toString, "10000000", seed.toString))
        d
      }

    // the engine keeps artifacts outside the work directory; run.py
    // removes this one even when the JVM does not get to
    val artifactDir = new File(SourceQueries.cacheDir(inputDir))
    Files.writeString(Paths.get(s"$workDir/artifact_dir"), artifactDir.getPath)
    def wipeArtifacts(): Unit = {
      rmrf(artifactDir)
      require(files(artifactDir).isEmpty, s"artifact directory $artifactDir is not empty")
    }

    val reference = mutable.LinkedHashMap[String, (StructType, Array[Row], Int)]()
    val runsPerOp = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    var failed = 0
    val errors = ArrayBuffer[String]()
    var nextId = 0

    /** Run one op, checking its rows against the op's first result. */
    def check(spark: SparkSession, name: String): OpRun = {
      val r = runOp(spark, catalog(name), inputDir, nextId, name)
      nextId += 1
      runsPerOp(name) += 1
      val ok = r.result match {
        case Left(e) =>
          errors += s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"
          false
        case Right((schema, rows)) =>
          val fp = fingerprint(rows)
          reference.get(name) match {
            case None => reference(name) = (schema, rows, fp); true
            case Some((_, _, ref)) =>
              if (fp != ref) errors += s"$name returned different rows than its first execution"
              fp == ref
          }
      }
      if (!ok) failed += 1
      System.err.println(f"[perfbench] ${r.name} ${r.latencyNs / 1e9}%.3f s${if (ok) "" else " FAILED"}")
      r
    }

    /** One pass over the given ops, in that order. */
    def pass(spark: SparkSession, order: Seq[String]): Seq[OpRun] = order.map(check(spark, _))

    /** An untimed set-up pass in the family's own order, so that the
      * set-up does the same work in the same order whatever the seed (the
      * first executions also steer what the JIT compiles). Returns the
      * pass's wall time in seconds. */
    def passWall(spark: SparkSession): Double = {
      val p0 = System.nanoTime(); val g0 = gcS()
      pass(spark, ops)
      val w = (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] set-up pass $w%.3f s (gc ${gcS() - g0}%.3f s)")
      w
    }

    // --- set-up, timed from JVM start: corpus derivation, session start
    // and a first pass that builds every artifact from an empty artifact
    // directory
    wipeArtifacts()
    val spark = Engine.session(s"local[$nproc]", nproc, "perfbench")
    var lastWall = passWall(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sc = spark.sparkContext
    // untimed passes until the JIT stops speeding passes up
    var warmPasses = 0
    var warming = true
    while (warming && warmPasses < MaxWarmPasses) {
      val w = passWall(spark)
      warmPasses += 1
      warming = w < lastWall * (1 - WarmTolerance)
      lastWall = w
    }

    // --- timed section: as many whole passes as fit in `seconds` at the
    // last warm pass's pace, at least two. The count is fixed before
    // timing starts: pass times still fall, so a count that waited on the
    // timed passes' own noise would move the mean. With tracing on,
    // untraced and traced passes run in ABBA blocks (off, on, on, off), so
    // that the trend falls on both sides alike; the per-layer numbers come
    // from the traced passes only.
    val recorder = new Recorder
    val timed = ArrayBuffer[OpRun]()
    val tracedRuns = ArrayBuffer[OpRun]()
    var wallOff, wallOn = 0.0
    var passesOff, passesOn = 0
    var gcOn, stealOn = 0.0
    val steal0 = stealS()
    val timedPasses =
      if (traced) 4 * math.max(1, (seconds / (4 * lastWall)).toInt)
      else math.max(2, (seconds / lastWall).toInt)
    (0 until timedPasses).foreach { i =>
      val tracing = traced && Set(1, 2).contains(i % 4)
      val g0 = gcS(); val st0 = stealS()
      val p0 = System.nanoTime()
      if (tracing) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val runs = pass(spark, rng.shuffle(ops))
      if (tracing) {
        PerfBenchBus.drain(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      val w = (System.nanoTime() - p0) / 1e9
      if (tracing) {
        wallOn += w; passesOn += 1; tracedRuns ++= runs
        gcOn += gcS() - g0; stealOn += stealS() - st0
      } else {
        wallOff += w; passesOff += 1; timed ++= runs
      }
      System.err.println(f"[perfbench] ${if (tracing) "traced" else "untraced"} pass $w%.3f s (gc ${gcS() - g0}%.3f s)")
    }
    val stealTimed = stealS() - steal0
    val load = loadavg()
    val artifactFiles = files(artifactDir)
    val artifactB = artifactFiles.map(_.length).sum.toDouble
    val inputB = files(new File(inputDir)).filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble

    // --- untimed: reference results for the oracle check
    val outDir = new File(workDir, "out")
    rmrf(outDir)
    reference.foreach { case (name, (schema, rows, _)) =>
      if (oracles.contains(name))
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jobj(reference.keys.filter(oracles.contains).map(n => n -> js(oracles(n)))))

    // --- metrics
    def median(xs: Iterable[Double]): Double = {
      val s = xs.toSeq.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val okTimed = timed.filter(_.result.isRight)
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (okTimed.size / wallOff, "1/s"))

    /** The op and phase a traced job ran for: from the job group the op
      * set, else (a job started from a thread without it) from the op
      * whose phase was running when the job started. */
    def phaseOf(j: JobRec): Option[(Int, String)] =
      "^pb(\\d+):(\\w+)$".r.findFirstMatchIn(j.group).map(m => (m.group(1).toInt, m.group(2)))
        .orElse(tracedRuns.find(r => j.start >= r.t0 && j.start <= r.t1).map { r =>
          (r.id, if (j.start < r.tBuilt) "build" else if (j.start < r.tPlanned) "plan" else "exec")
        })

    val perLayer: Seq[(String, (Double, String))] = if (!traced) Nil else {
      val c = recorder.counts
      val per = math.max(1, passesOn).toDouble
      val jobs = recorder.jobs.values.toSeq
      /** Length of [a, b] covered by the union of the jobs' intervals. */
      def covered(a: Long, b: Long): Long = {
        val iv = jobs.map(j => (math.max(a, j.start), math.min(b, j.end))).filter(x => x._1 < x._2).sortBy(_._1)
        var total, curS, curE = 0L
        var open = false
        iv.foreach { case (s, e) =>
          if (open && s <= curE) curE = math.max(curE, e)
          else { if (open) total += curE - curS; curS = s; curE = e; open = true }
        }
        if (open) total += curE - curS
        total
      }
      val buildMs = tracedRuns.map(r => r.tBuilt - r.t0).sum
      val buildSelfMs = tracedRuns.map(r => (r.tBuilt - r.t0) - covered(r.t0, r.tBuilt)).sum
      val execMs = tracedRuns.map(r => r.t1 - r.tPlanned).sum
      val execGapMs = tracedRuns.map(r => (r.t1 - r.tPlanned) - covered(r.tPlanned, r.t1)).sum
      val jobsIn = (p: String) => jobs.count(j => phaseOf(j).exists(_._2 == p)).toDouble
      val mb = 1024.0 * 1024.0
      val okTraced = tracedRuns.filter(_.result.isRight)
      val latencies = (rs: Seq[OpRun]) => median(rs.map(_.latencyNs / 1e9))
      val e2eRuns = okTraced.filter(_.name == "q_cur_end2end").toSeq
      Seq(
        "queries.build_s" -> (buildMs / 1e3 / per, "s"),
        "queries.build_self_s" -> (buildSelfMs / 1e3 / per, "s"),
        "queries.build_jobs" -> (jobsIn("build") / per, "count"),
        "engine.analysis_s" -> (c("phase_analysis") / per, "s"),
        "engine.optimization_s" -> (c("phase_optimization") / per, "s"),
        "engine.planning_s" -> (c("phase_planning") / per, "s"),
        "exec.s" -> (execMs / 1e3 / per, "s"),
        "exec.job_gap_s" -> (execGapMs / 1e3 / per, "s"),
        "exec.jobs" -> (jobs.size / per, "count"),
        "exec.stages" -> (c("stages") / per, "count"),
        "exec.tasks" -> (c("tasks") / per, "count"),
        "exec.task_run_s" -> (c("task_run_s") / per, "s"),
        "exec.task_cpu_s" -> (c("task_cpu_s") / per, "s"),
        "exec.gc_s" -> (c("task_gc_s") / per, "s"),
        "exec.scheduler_delay_s" -> (c("scheduler_delay_s") / per, "s"),
        "exec.cpu_util" -> (c("task_cpu_s") / (wallOn * nproc), "ratio"),
        "exec.failed_tasks" -> (c("failed_tasks") / per, "count"),
        "shuffle.write_mb" -> (c("shuffle_write_b") / mb / per, "MB"),
        "shuffle.read_mb" -> (c("shuffle_read_b") / mb / per, "MB"),
        "shuffle.fetch_wait_s" -> (c("fetch_wait_s") / per, "s"),
        "shuffle.spill_mb" -> (c("spill_b") / mb / per, "MB"),
        "tables.input_mb" -> (c("input_b") / mb / per, "MB"),
        "tables.records_read" -> (c("records_read") / per, "count"),
        "store.output_mb" -> (c("output_b") / mb / per, "MB"),
        "store.files" -> (artifactFiles.size.toDouble, "count"),
        "store.artifact_mb" -> (artifactB / mb, "MB"),
        "store.mb_per_input_mb" -> (artifactB / inputB, "ratio"),
        "functions.graft_dropped" -> (c("graft_dropped") / per, "count"),
        "ops.latency_p50_s" -> (latencies(okTraced.toSeq), "s"),
        "ops.end2end_s" -> (if (e2eRuns.isEmpty) 0.0 else latencies(e2eRuns), "s"),
        "trace.ops_per_s_on" -> (okTraced.size / wallOn, "1/s"),
        "trace.ops_per_s_off" -> (okTimed.size / wallOff, "1/s"),
        "jvm.peak_rss_mb" -> (peakRssMb(), "MB"),
        "jvm.gc_s" -> (gcOn / per, "s"),
        "host.steal_s" -> (stealOn, "s"),
        "host.loadavg" -> (load, "load"))
    }

    if (traced) {
      val spans = ArrayBuffer[Span]()
      var sid = 0
      def span(parent: Int, op: Int, name: String, s: Long, e: Long): Int = {
        spans += Span(sid, parent, op, name, s, e); sid += 1; sid - 1
      }
      val phaseSpan = mutable.Map[(Int, String), Int]()
      tracedRuns.foreach { r =>
        val o = span(-1, r.id, r.name, r.t0, r.t1)
        phaseSpan((r.id, "build")) = span(o, r.id, "build", r.t0, r.tBuilt)
        phaseSpan((r.id, "plan")) = span(o, r.id, "plan", r.tBuilt, r.tPlanned)
        phaseSpan((r.id, "exec")) = span(o, r.id, "execute", r.tPlanned, r.t1)
      }
      recorder.jobs.values.foreach { j =>
        val owner = phaseOf(j)
        span(owner.flatMap(phaseSpan.get).getOrElse(-1), owner.fold(-1)(_._1), s"job ${j.id}", j.start, j.end)
      }
      val spanJson = spans.map(s => jobj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> js(s.name), "start" -> s.start.toString, "end" -> s.end.toString)))
      Files.writeString(Paths.get(s"$workDir/trace.json"), jobj(Seq(
        "spans" -> spanJson.mkString("[", ",\n", "]"),
        "counts" -> jobj(recorder.counts.map { case (k, v) => k -> jn(v) }),
        "passes" -> passesOn.toString)))
    }

    val metricJson = (e2e ++ perLayer).map { case (k, (v, u)) => k -> jobj(Seq("value" -> jn(v), "unit" -> js(u))) }
    Files.writeString(Paths.get(s"$workDir/result.json"), jobj(Seq(
      "attempted" -> runsPerOp.values.sum.toString,
      "failed" -> failed.toString,
      "runs_per_op" -> jobj(runsPerOp.map { case (k, v) => k -> v.toString }),
      "errors" -> errors.take(20).map(js).mkString("[", ", ", "]"),
      "timed_ops" -> timed.size.toString,
      "passes" -> passesOff.toString,
      "warm_passes" -> warmPasses.toString,
      "input_dir" -> js(inputDir),
      "host_steal_s" -> jn(stealTimed),
      "host_loadavg" -> jn(load),
      "metrics" -> jobj(metricJson))))
    spark.stop()
    rmrf(artifactDir)
  }
}
