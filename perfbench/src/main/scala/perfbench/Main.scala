package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: sets up, runs one workload with one
  * closed-loop client, dumps outputs for checking and writes every
  * metric to `<work>/result.json`.
  *
  * Usage: perfbench.Main <workload> <seed> <trace 0|1> <data dir>
  *   <work dir> <cores> <manifest.tsv>
  *
  * Protocol, the same for every run whatever the time it takes:
  *  - set-up (session start + fixture builds) is done `Setups` times,
  *    every set-up but the last being stopped again; its metrics are
  *    medians;
  *  - one untimed warmup pass follows on the last session, every
  *    operation once;
  *  - then one timed pass, traced with trace 1 and untraced otherwise.
  *    In it every read runs `Reps` times back to back and every commit
  *    once; an operation's time is the median of its executions. Every
  *    execution starts on a collected heap.
  */
object Main {
  val Setups = 5
  val Reps = 5
  val WarmupReps = 1
  val Workloads = Seq("etl_curation", "commitlog_rw")

  final case class Sample(op: String, kind: Kind, seconds: Double)

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedS, traceS, data, work, coresS, manifestPath) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val cores = coresS.toInt
    require(Workloads.contains(workloadName), s"unknown workload $workloadName")

    val assigned = Manifest.check(manifestPath, SparkEntry.queries.keySet)
    val names = assigned.getOrElse(workloadName, Nil).sorted
    val workload: Workload =
      if (workloadName == "commitlog_rw") new CommitLogWorkload(names, seed, work)
      else new QueryWorkload(names, seed)

    val tracer = new Tracer
    val listener = new ExecListener
    val heap = new HeapWatch
    def startSession(): SparkSession = {
      val s = GraftSession.install(GraftSession.builder(s"local[$cores]", cores)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/tmp")
        .getOrCreate())
      s.sparkContext.setLogLevel("ERROR")
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(listener)
      s
    }

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    /** Runs one pass; returns the seconds of every execution (None =
      * failed). A read runs `reps` times back to back, a commit once. */
    def runPass(spark: SparkSession, index: Int, reps: Int,
        record: (Op, Option[DataFrame], Int) => Unit,
        dump: Option[String] = None): Seq[(Op, Option[Double])] = {
      val ctx = new Ctx(spark, data, tracer, dump)
      val execs = workload.pass(index).flatMap(op => Seq.fill(if (op.kind == Read) reps else 1)(op))
      heap.reset()
      val out = execs.zipWithIndex.map { case (op, i) =>
        // every execution starts on a collected heap, untimed, so none
        // pays for garbage left by the one before it or by the
        // benchmark's own work; collections during it are timed
        System.gc()
        val opId = index * 10000 + i
        val t0 = System.nanoTime()
        val result =
          try Right(tracer.operation(opId)(op.run(ctx)))
          catch { case t: Throwable => Left(t) }
        val secs = (System.nanoTime() - t0) / 1e9
        result.left.foreach { t =>
          System.err.println(s"[perfbench] ${op.name} failed: $t")
        }
        if (tracer.enabled) PerfbenchBridge.drainListeners(spark.sparkContext)
        record(op, result.toOption.flatten, opId)
        workload.afterOp(ctx, op)
        (op, if (result.isRight) Some(secs) else None)
      }
      workload.afterPass(ctx)
      out
    }

    // ---- set-up: Setups times, median reported ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    val startS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = startSession()
      val t1 = System.nanoTime()
      workload.prepare(new Ctx(spark, data, tracer))
      val t2 = System.nanoTime()
      startS += (t1 - t0) / 1e9
      setupS += (t2 - t0) / 1e9
      System.err.println(f"[perfbench] set-up $k: ${setupS.last}%.2f s (session ${startS.last}%.2f s)")
    }

    // ---- warmup pass; it also writes the declared queries' first
    // results out for the output checks ----
    val resultsDir = s"$work/results"
    // rows each read returns, for sources.examined_per_row; counted here
    // in every run, untimed, so traced and untraced runs warm up alike
    val outRows = mutable.Map.empty[String, Long]
    val w0 = System.nanoTime()
    val warm = runPass(spark, -1, WarmupReps, (op, df, _) => {
      val dumped = new File(s"$resultsDir/${op.name}")
      df.map(_.count())
        .orElse(Option.when(dumped.isDirectory)(spark.read.parquet(dumped.getPath).count()))
        .foreach(outRows(op.name) = _)
    }, Some(resultsDir))
    val warmupS = (System.nanoTime() - w0) / 1e9
    val warmupHeap = heap.peakMb
    attempted += warm.size
    warm.collect { case (op, None) => failures += op.name }
    System.err.println(f"[perfbench] warmup pass: $warmupS%.2f s")
    PerfbenchBridge.drainListeners(spark.sparkContext)
    listener.harvest()

    // ---- the timed pass ----
    val counters = mutable.ArrayBuffer.empty[Counters]
    val shapes = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var readInRows = 0L
    var readOutRows = 0L
    tracer.enabled = trace
    val cg0 = WholeStageCodegenExec.codeGenTime
    val results = runPass(spark, 0, Reps, (op, df, opId) =>
      if (trace) {
        val c = listener.harvest()
        counters += c
        tracer.attach(opId, c.jobSpans.toSeq)
        df.foreach { d =>
          shapes += Plans.shape(d.queryExecution.executedPlan)
          readInRows += c.inputRows
          readOutRows += outRows.getOrElse(op.name, 0L)
        }
      })
    val codegenNs = WholeStageCodegenExec.codeGenTime - cg0
    tracer.enabled = false
    val peakHeap = heap.peakMb
    attempted += results.size
    val timed = results.collect { case (op, Some(s)) => Sample(op.name, op.kind, s) }
    results.collect { case (op, None) => failures += op.name }
    PerfbenchBridge.drainListeners(spark.sparkContext)
    listener.harvest()
    System.err.println(f"[perfbench] timed pass${if (trace) " (traced)" else ""}: " +
      f"${timed.map(_.seconds).sum}%.2f s, heap up to $peakHeap%.0f MB after a collection")

    // ---- checks, outside the timed region ----
    val checks = workload.checkedQueries
      .filter(n => new File(s"$resultsDir/$n").isDirectory)
    val checkCtx = new Ctx(spark, data, tracer)
    val c0 = System.nanoTime()
    failures ++= workload.extraChecks(checkCtx).map("check:" + _)
    System.err.println(f"[perfbench] checks: ${(System.nanoTime() - c0) / 1e9}%.2f s")

    // ---- metrics ----
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    val passS = timed.groupBy(_.op).values.map(v => median(v.map(_.seconds))).sum
    val reads = timed.filter(_.kind == Read).map(_.seconds)
    val commits = timed.filter(_.kind == Commit).map(_.seconds)

    if (!trace) {
      put("pass_s", passS, "s")
      put("query_p50_s", quantile(reads, 0.5), "s")
      put("query_p90_s", quantile(reads, 0.9), "s")
      put("setup_s", median(setupS.toSeq), "s")
      put("peak_heap_mb", peakHeap, "MB")
    } else {
      val spans = tracer.spans.toSeq
      def inclusive(layer: String): Double =
        spans.filter(_.layer == layer).map(_.dur).sum / 1e9
      val self = tracer.selfTimeByLayer
      def selfOf(prefix: String): Double =
        self.filter(_._1.startsWith(prefix)).values.sum / 1e9
      def sum(f: Counters => Long): Double = counters.map(f).sum.toDouble
      put("session.start_s", median(startS.toSeq), "s")
      put("session.fixture_s", median(setupS.zip(startS).map(p => p._1 - p._2).toSeq), "s")
      put("session.warmup_s", warmupS, "s")
      put("session.warmup_heap_mb", warmupHeap, "MB")
      put("operators.build_s", inclusive("operators.build"), "s")
      put("operators.self_s", selfOf("operators."), "s")
      put("sources.snapshot_s", inclusive("sources.snapshot"), "s")
      put("sources.read_s", inclusive("sources.read"), "s")
      Seq("commit_create", "commit_append", "commit_merge", "commit_update",
        "commit_delete", "compact", "vacuum", "bloom").foreach { v =>
        put(s"sources.${v}_s", inclusive(s"sources.$v"), "s")
      }
      put("sources.self_s", selfOf("sources."), "s")
      put("sources.commit_p50_s", quantile(commits, 0.5), "s")
      put("sources.commit_p90_s", quantile(commits, 0.9), "s")
      val table = workload.metrics(checkCtx)
      CommitLogWorkload.Metrics.foreach { case (k, unit) =>
        put(k, table.getOrElse(k, 0.0), unit)
      }
      put("sources.input_rows", sum(_.inputRows), "count")
      put("sources.input_bytes", sum(_.inputBytes), "bytes")
      put("sources.scan_files", sum(_.scanFiles), "count")
      put("sources.examined_per_row",
        if (readOutRows > 0) readInRows.toDouble / readOutRows else 0.0, "ratio")
      put("plans.plan_s", inclusive("plans.plan"), "s")
      put("plans.self_s", selfOf("plans."), "s")
      put("plans.nodes", shapes.map(_._1).sum.toDouble, "count")
      put("plans.exchanges", shapes.map(_._2).sum.toDouble, "count")
      put("functions.interpreted_ops", shapes.map(_._3).sum.toDouble, "count")
      val taskS = sum(_.taskNs) / 1e9
      // time during which at least one Spark job ran
      val wallS = union(spans.filter(_.layer == "exec.job")) / 1e9
      put("exec.run_s", inclusive("exec.run"), "s")
      put("exec.self_s", selfOf("exec."), "s")
      put("exec.job_s", inclusive("exec.job"), "s")
      put("exec.jobs", sum(_.jobs), "count")
      put("exec.stages", sum(_.stages), "count")
      put("exec.tasks", sum(_.tasks), "count")
      put("exec.task_s", taskS, "s")
      put("exec.cpu_s", sum(_.cpuNs) / 1e9, "s")
      put("exec.gc_s", sum(_.gcNs) / 1e9, "s")
      put("exec.codegen_compile_s", codegenNs / 1e9, "s")
      put("exec.wall_s", wallS, "s")
      put("exec.core_util", if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio")
      put("exec.idle_core_s", math.max(0.0, wallS * cores - taskS), "s")
      put("exec.shuffle_write_bytes", sum(_.shuffleWrite), "bytes")
      put("exec.shuffle_read_bytes", sum(_.shuffleRead), "bytes")
      put("exec.fetch_wait_s", sum(_.fetchWaitNs) / 1e9, "s")
      put("exec.spill_bytes", sum(_.spill), "bytes")
      put("trace.pass_s", passS, "s")
      put("trace.spans", spans.size.toDouble, "count")
      put("run.query_samples", reads.size.toDouble, "count")
      put("run.commit_samples", commits.size.toDouble, "count")
    }

    val oracles = SparkEntry.oracleSql
    val json = new StringBuilder
    json ++= "{\"attempted\":" + attempted + ",\"failed_ops\":"
    json ++= failures.distinct.map(Json.str).mkString("[", ",", "]")
    json ++= ",\"failed\":" + failures.size
    json ++= ",\"checks\":" + checks.map { n =>
      s"""{"name":${Json.str(n)},"dir":${Json.str(s"$resultsDir/$n")},"oracle":${
        oracles.get(n).map(Json.str).getOrElse("null")}}"""
    }.mkString("[", ",", "]")
    json ++= ",\"ops\":" + timed.groupBy(_.op).toSeq.sortBy(_._1).map { case (k, v) =>
      s"${Json.str(k)}:${Json.num(median(v.map(_.seconds)))}"
    }.mkString("{", ",", "}")
    json ++= ",\"metrics\":" + metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}") + "}"
    Files.writeString(Paths.get(s"$work/result.json"), json.toString)
    spark.stop()
  }

  /** Length of the union of the spans' intervals, in ns. */
  def union(spans: Seq[Span]): Long = {
    var total = 0L
    var end = Long.MinValue
    spans.sortBy(_.start).foreach { s =>
      if (s.end > end) {
        total += s.end - math.max(s.start, end)
        end = s.end
      }
    }
    total
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The coverage manifest: every declared query is timed in exactly one
  * workload or excluded with a reason. */
object Manifest {
  /** Returns workload -> assigned queries; fails loudly on any name the
    * manifest does not place, places twice, or does not know. */
  def check(path: String, declared: Set[String]): Map[String, Seq[String]] = {
    val rows = Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t", 3).map(_.trim))
    val errors = mutable.ArrayBuffer.empty[String]
    rows.filter(_.length < 2).foreach(r => errors += s"malformed line: ${r.mkString(" ")}")
    val good = rows.filter(_.length >= 2)
    good.groupBy(_(0)).filter(_._2.size > 1).keys.toSeq.sorted
      .foreach(n => errors += s"listed more than once: $n")
    good.filter(r => !Main.Workloads.contains(r(1)) && r(1) != "excluded")
      .foreach(r => errors += s"${r(0)}: unknown workload ${r(1)}")
    good.filter(r => r(1) == "excluded" && (r.length < 3 || r(2).isEmpty))
      .foreach(r => errors += s"${r(0)}: excluded without a reason")
    val listed = good.map(_(0)).toSet
    (listed -- declared).toSeq.sorted.foreach(n => errors += s"not a declared query: $n")
    (declared -- listed).toSeq.sorted.foreach(n => errors += s"declared but not in the manifest: $n")
    if (errors.nonEmpty) {
      System.err.println("[perfbench] coverage manifest errors:\n  " + errors.mkString("\n  "))
      sys.exit(3)
    }
    good.filter(_(1) != "excluded").groupMap(_(1))(_(0))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
