package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, timestamp_micros}
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftShards, Sources}
import graft.streaming.Correlate

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, runDir: String,
    txnRate: Int)

/** One benchmark call into the program. Times are epoch milliseconds. */
final case class CallRec(id: String, name: String, pass: Int, start: Double, end: Double,
    ok: Boolean, rows: Long, error: String, fs: Map[String, Long]) {
  def ms: Double = end - start
}

/** Everything one traced phase observed. */
final case class Window(start: Double, end: Double, jobs: Seq[JobRec], batches: Seq[BatchRec],
    fs: Map[String, Long], bytesWritten: Long, gcMs: Long, heapPeakMb: Double)

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --run-dir DIR [--txn-rate R]`. The run dir holds the generated inputs in
  * `data/`; the result lands in `result.json` there, and query outputs for
  * the oracle gate in `out/`. */
object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Offered txn_service load, new transactions per second: half the
    * knee rate that `run.py --sweep` measures (perfbench/README.md). */
  val TxnRate = 4

  /** The session conf graft.Bench runs the registry with. */
  val BenchConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> Cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("run-dir"),
      m.get("txn-rate").map(_.toInt).getOrElse(TxnRate))
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().master(s"local[$Cores]").appName(s"perfbench-${o.workload}")
    BenchConf.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", s"${o.runDir}/tmp")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/tmp/warehouse")
    if (o.trace) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (o.trace) {
      // the FileSystem cache is keyed by scheme, not conf: the session's
      // conf creates and caches the counting instance, so every later
      // lookup of file: resolves to it, whatever conf it passes
      val file = new java.net.URI("file:///")
      org.apache.hadoop.fs.FileSystem.get(file, spark.sparkContext.hadoopConfiguration)
      val fs = org.apache.hadoop.fs.FileSystem.get(file, new org.apache.hadoop.conf.Configuration())
      require(fs.isInstanceOf[CountingLocalFileSystem],
        s"file: resolved to ${fs.getClass.getName}, not the counting filesystem")
    }
    spark
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val spark = session(o)
    val result =
      try {
        val b = new Bench(spark, o)
        o.workload match {
          case "analytics" => b.analytics()
          case "ingest" => b.ingest()
          case "txn_service" => b.txnService()
          case "selftest" => SelfTest.run(spark, b)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        b.result()
      } finally spark.stop()
    Files.writeString(Paths.get(o.runDir, "result.json"), Json.write(result))
  }
}

final class Bench(val spark: SparkSession, o: Opts) {
  import Main.Setups

  val rec = new Recorder
  spark.streams.addListener(rec.streamingListener)
  private val rng = new Random(o.seed)
  private val data0 = s"${o.runDir}/data"
  val outDir = s"${o.runDir}/out"
  private val tmp = s"${o.runDir}/tmp"
  private val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val VolatileConf = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id", "spark.local.dir",
    "spark.sql.warehouse.dir", "spark.app.name")

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, Any]
  record("spark_conf") = spark.conf.getAll.filter { case (k, _) => !VolatileConf(k) } +
    ("<master>" -> spark.sparkContext.master)
  private var attempted = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Queries whose outputs were dumped for the DuckDB oracle gate. */
  private val dumped = mutable.LinkedHashMap.empty[String, Long]

  private def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def fail(what: String): Unit = failures += what

  /** Records one self-test outcome; a failed check fails the run. */
  def check(name: String, ok: Boolean, detail: Any): Unit = {
    attempted += 1
    record(s"selftest.$name") = Map("ok" -> ok, "detail" -> String.valueOf(detail))
    if (!ok) fail(s"selftest $name: $detail")
  }

  def result(): Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
    "attempted" -> math.max(attempted, 1L), "failed" -> failures.size.toLong,
    "failures" -> failures.take(50).toSeq,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "dumped" -> dumped, "record" -> record)

  // ---- calls ---------------------------------------------------------------

  /** Times one call into the program; the jobs it starts carry its id. */
  def call(name: String, pass: Int)(f: => Long): CallRec = {
    val id = Clock.nextId("c")
    val sc = spark.sparkContext
    sc.setLocalProperty(CallProp.Key, id)
    val fs0 = FsCounters.snapshot()
    val t0 = Clock.nowMs
    val (ok, rows, err) =
      try { val r = f; (true, r, "") }
      catch { case e: Throwable => (false, -1L, e.toString.take(300)) }
    val t1 = Clock.nowMs
    sc.setLocalProperty(CallProp.Key, null)
    val fs1 = FsCounters.snapshot()
    CallRec(id, name, pass, t0, t1, ok, rows, err, fs1.map { case (k, v) => k -> (v - fs0(k)) })
  }

  private def copyData(k: Int): String = {
    val dst = Paths.get(s"${o.runDir}/data-$k")
    Files.createDirectories(dst)
    Files.list(Paths.get(data0)).iterator.asScala.foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
    dst.toString
  }

  /** Runs `f` and returns its result with the seconds it took. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Live heap after full collections, in MB. Spark's context cleaner
    * frees shuffle and broadcast state only after a collection has cleared
    * their weak references, so collect, let it run, and collect again. */
  private def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Runs the untraced timed phase `body` from a settled heap (Spark's
    * context cleaner has dropped what the warm-up left) and records the
    * GC and JIT time spent inside it. */
  private def timedPhase[A](body: => A): A = {
    for (_ <- 0 until 2) { System.gc(); Thread.sleep(200) }
    val (gc0, jit0) = (gcMs(), jitMs())
    val a = body
    record("timed_gc_ms") = gcMs() - gc0
    record("timed_jit_ms") = jitMs() - jit0
    a
  }

  private def recordSetups(times: Seq[Double]): Unit = {
    metric("setup_s", Stats.median(times), "s")
    record("setup_runs_s") = times
  }

  private def recordTail(prefix: String, xs: Seq[Double], unit: String): Unit = {
    Stats.tail(xs).foreach { case (p, v) =>
      metric(s"${prefix}_tail_$unit", v, unit)
      record(s"${prefix}_tail_percentile") = p
    }
    record(s"${prefix}_samples") = xs.size
  }

  // ---- tracing -------------------------------------------------------------

  /** Runs `body` traced and returns what it saw: the job listener is
    * attached, fs requests are counted and call sites are kept deep (so a
    * job is attributed to the program file that started it) only for the
    * length of `body`. */
  def traced[A](body: => A): (A, Window) = {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    rec.clearJobs()
    sc.addSparkListener(rec.sparkListener)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs()
    val fs0 = FsCounters.snapshot()
    val bw0 = FsCounters.bytesWritten()
    System.setProperty("spark.callstack.depth", "200")
    FsCounters.enabled = true
    val t0 = Clock.nowMs
    val a =
      try body
      finally {
        FsCounters.enabled = false
        System.clearProperty("spark.callstack.depth")
      }
    val t1 = Clock.nowMs
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(rec.sparkListener)
    val fs1 = FsCounters.snapshot()
    val w = Window(t0, t1, rec.jobs, rec.batches.asScala.toSeq.filter(b => b.start >= t0 && b.start <= t1),
      fs1.map { case (k, v) => k -> (v - fs0(k)) }, FsCounters.bytesWritten() - bw0, gcMs() - gc0,
      heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
    (a, w)
  }

  /** Per-layer metrics of one traced phase, the span tree and per-call
    * layer split, written to `trace.json` in the run dir. `units` are the
    * top-level timed intervals (calls, and micro-batches run outside any
    * call) whose non-job time is the driver gap. */
  def summarise(w: Window, calls: Seq[CallRec], passes: Seq[(Int, Double, Double)],
      inputBytes: Double, extra: Map[String, Double], batchesInCalls: Boolean = true): Unit = {
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val jobs = w.jobs
    perLayer("spark.jobs") = jobs.size
    perLayer("spark.stages") = jobs.map(_.stages).sum
    perLayer("spark.tasks") = jobs.map(_.tasks).sum.toDouble
    perLayer("spark.executor_run_s") = jobs.map(_.runMs).sum / 1e3
    perLayer("spark.executor_cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    perLayer("spark.shuffle_bytes") = jobs.map(_.shuffleBytes).sum.toDouble
    perLayer("spark.input_bytes") = jobs.map(_.inputBytes).sum.toDouble

    // spans: workload -> iteration -> call -> micro-batch -> job
    val root = Span("w", "w", o.workload, "workload", None, w.start, w.end)
    val iters = passes.map { case (p, s, e) => Span(s"i$p", s"i$p", s"pass-$p", "iteration", Some("w"), s, e) }
    def iterOf(t: Double) = iters.find(i => t >= i.start && t <= i.end).map(_.spanId).getOrElse("w")
    val callSpans = calls.map(c => Span(c.id, c.id, c.name, "call", Some(iterOf(c.start)), c.start, c.end))
    def callAt(t: Double) = callSpans.find(c => t >= c.start && t <= c.end)
    val batchSpans = w.batches.map { b =>
      val owner = if (batchesInCalls) callAt(b.start) else None
      val sid = s"b-${b.runId.take(8)}-${b.batchId}"
      Span(sid, owner.map(_.traceId).getOrElse(sid), s"${b.name}#${b.batchId}", "batch",
        Some(owner.map(_.spanId).getOrElse(iterOf(b.start))), b.start, b.end)
    }
    val batchByKey = w.batches.zip(batchSpans).map { case (b, s) => (b.queryId, b.batchId) -> s }.toMap
    val jobSpans = jobs.map { j =>
      val batch = for (q <- j.queryId; b <- j.batchId; s <- batchByKey.get((q, b))) yield s
      val owner = batch.orElse(j.callId.flatMap(id => callSpans.find(_.spanId == id)))
      Span(s"j${j.jobId}", owner.map(_.traceId).getOrElse(s"j${j.jobId}"), s"job-${j.jobId}", "job",
        Some(owner.map(_.spanId).getOrElse(iterOf(j.start))), j.start, j.end)
    }
    val spans = Seq(root) ++ iters ++ callSpans ++ batchSpans ++ jobSpans
    val self = Spans.selfTimes(spans)
    val selfByKind = spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.spanId)).sum / 1e3 }

    def jobsUnder(s: Span): Seq[Span] = jobSpans.filter(j => j.traceId == s.traceId)
    val units = callSpans ++ batchSpans.filter(b => !callSpans.exists(_.traceId == b.traceId))
    perLayer("driver.gap_s") = units.map { u =>
      u.dur - Stats.unionLength(jobsUnder(u).map(j => (math.max(j.start, u.start), math.min(j.end, u.end))))
    }.sum / 1e3

    // per call: the layer split, and a check of the span tree against the
    // wall time — the call's self time, its micro-batches' self times and
    // the time under its jobs must add up to the call's duration
    val perCall = callSpans.zip(calls).map { case (s, c) =>
      val batches = batchSpans.filter(_.traceId == s.traceId)
      val split = Spans.layerSplit(s, batches, jobsUnder(s))
      val js = jobs.filter(_.callId.contains(c.id))
      Map("id" -> c.id, "name" -> c.name, "wall_ms" -> c.ms, "ok" -> c.ok, "rows" -> c.rows,
        "jobs" -> js.size, "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
        "fs" -> c.fs, "layer_self_ms" -> split,
        "residual_ms" -> (self(s.spanId) + batches.map(b => self(b.spanId)).sum + split("job") - c.ms))
    }

    perLayer("streaming.batches") = w.batches.size
    for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"))
      perLayer(s"streaming.${k}_ms") = w.batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    perLayer("streaming.state_rows") = (0L +: w.batches.map(_.stateRows)).max.toDouble
    perLayer("streaming.state_bytes") = (0L +: w.batches.map(_.stateBytes)).max.toDouble

    FsCounters.Ops.foreach(op => perLayer(s"fs.$op") = w.fs(op).toDouble)
    perLayer("fs.requests") = w.fs.values.sum.toDouble
    perLayer("fs.bytes_written_per_input_byte") = w.bytesWritten / math.max(inputBytes, 1.0)

    // a job run by the benchmark's own action on a DataFrame the program
    // built has no program frame on its stack: it belongs to the module
    // that defines the call
    val callModule = calls.map(c => c.id -> moduleOfCall(c.name)).toMap
    def moduleOf(j: JobRec) =
      if (j.module != "other") j.module else j.callId.flatMap(callModule.get).flatten.getOrElse("other")
    for (m <- Modules.Files) {
      val js = jobs.filter(moduleOf(_) == m)
      perLayer(s"module.$m.jobs") = js.size
      perLayer(s"module.$m.job_s") = js.map(j => j.end - j.start).sum / 1e3
    }
    perLayer("jvm.gc_s") = w.gcMs / 1e3
    perLayer("jvm.heap_peak_mb") = w.heapPeakMb
    for (k <- Seq("shards.append_ms", "generator.lag_ms", "trace.overhead_pct"))
      perLayer(k) = extra.getOrElse(k, 0.0)

    record("per_layer") = perLayer
    record("self_s_by_kind") = selfByKind
    record("max_call_residual_ms") = (0.0 +: perCall.map(_("residual_ms").asInstanceOf[Double].abs)).max
    val trace = Map("spans" -> spans.map(s => Map("span" -> s.spanId, "trace" -> s.traceId,
      "name" -> s.name, "kind" -> s.kind, "parent" -> s.parent, "start_ms" -> (s.start - w.start),
      "end_ms" -> (s.end - w.start), "self_ms" -> self(s.spanId))),
      "calls" -> perCall, "per_layer" -> perLayer, "self_s_by_kind" -> selfByKind,
      "modules_other_jobs" -> jobs.count(moduleOf(_) == "other"))
    Files.writeString(Paths.get(o.runDir, "trace.json"), Json.write(trace))
  }

  /** The module a call enters: the object that defines the registry
    * entry, or the upsert table for keyed lookups. */
  private def moduleOfCall(name: String): Option[String] =
    if (name == "lookup") Some("Sources")
    else registry.get(name).map(_.fn.getClass.getName.split('.').last.takeWhile(_ != '$'))
      .filter(Modules.Files.contains)

  private def overheadPct(traced: Double, untraced: Double): Double = (traced / untraced - 1) * 100

  // ---- closed-loop passes (analytics, ingest) ------------------------------

  /** Runs whole passes over `ops` in a seeded order, each op once per pass,
    * until `budgetS` seconds have passed; returns the calls and pass spans. */
  private def passes(ops: Seq[String], budgetS: Double, firstPass: Int, maxPasses: Int)(
      run: String => Long): (Seq[CallRec], Seq[(Int, Double, Double)]) = {
    val calls = mutable.ArrayBuffer.empty[CallRec]
    val spans = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val t0 = Clock.nowMs
    var p = firstPass
    while (spans.size < maxPasses && (spans.isEmpty || Clock.nowMs - t0 < budgetS * 1000)) {
      val ps = Clock.nowMs
      rng.shuffle(ops).foreach(n => calls += call(n, p)(run(n)))
      spans += ((p, ps, Clock.nowMs))
      p += 1
    }
    (calls.toSeq, spans.toSeq)
  }

  /** One traced pass, then one untraced pass. The overhead compares the
    * traced pass with the untraced one after it, which the JIT has warmed
    * at least as much, so warming cannot hide tracing cost. Returns every
    * call, the traced pass's calls and span, what the traced pass saw, and
    * the overhead in percent. */
  private def tracedPass(ops: Seq[String])(run: String => Long) = {
    val ((c1, s1), w) = traced(passes(ops, 0, 0, 1)(run))
    val (c2, s2) = passes(ops, 0, 1, 1)(run)
    val (tracedS, after) = (passStats(c1, s1)._2.head, passStats(c2, s2)._2.head)
    record("pass_s") = Map("traced" -> tracedS, "untraced_after" -> after)
    (c1 ++ c2, c1, s1, w, overheadPct(tracedS, after))
  }

  /** Checks every timed call: it must succeed and return the row count the
    * reference call returned. */
  private def checkCalls(calls: Seq[CallRec], expectRows: Map[String, Long]): Unit = {
    attempted += calls.size
    calls.foreach { c =>
      if (!c.ok) fail(s"${c.name} pass ${c.pass}: ${c.error}")
      else if (!expectRows.get(c.name).contains(c.rows))
        fail(s"${c.name} pass ${c.pass}: ${c.rows} rows, reference ${expectRows.get(c.name)}")
    }
  }

  /** Writes one result for the DuckDB oracle gate; its row count comes
    * from the parquet footers, without another Spark job. */
  def dump(name: String, df: DataFrame): Unit = {
    val path = s"$outDir/$name"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    val conf = spark.sparkContext.hadoopConfiguration
    dumped(name) = Files.list(Paths.get(path)).iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toString), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  private def writeOracleSql(names: Seq[String]): Unit = {
    val sql = names.flatMap(n => registry(n).oracle.map(n -> _)).toMap
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), Json.write(sql))
    record("rows_only") = names.filterNot(sql.contains)
  }

  private def passStats(calls: Seq[CallRec], spans: Seq[(Int, Double, Double)]) =
    (calls.map(_.ms), spans.map { case (_, s, e) => (e - s) / 1e3 })

  // ---- analytics -----------------------------------------------------------

  /** Read-only registry queries: relational, dedup, similarity, text,
    * the document pipeline (q21-q24), multimodal and graph (q101, the
    * cheapest graph query), plus the z-store read, the upsert-table keyed
    * read and the IVF, BM25 and IVF-PQ index reads. */
  val AnalyticsQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q42_dedup_minhash_lsh", "q50_knn_brute", "q60_text_tokens",
    "q21_doc_pipeline", "q22_status_events", "q23_correlate", "q24_point_lookup",
    "q70_multimodal_meta", "q101_triangle_count", "q123_zorder_read", "q78_keyed_lookup",
    "q107_ann_index", "q113_bm25_index", "q121_pq_index")
  /** The query whose first call for a data dir builds the z-store (build,
    * append and manifest compaction). The upsert table behind q78 and the
    * IVF, BM25 and IVF-PQ index stores behind q107, q113 and q121 are
    * built by the untimed first pass. */
  val AnalyticsFixtures: Seq[String] = Seq("q123_zorder_read")

  def analytics(): Unit = {
    def q(name: String, d: String): DataFrame = registry(name).fn(spark, d)
    val dirs = (0 until Setups).map(copyData)
    recordSetups(dirs.map(dir => timed(AnalyticsFixtures.foreach(n => q(n, dir).count()))._2))
    val d = dirs.last
    // the untimed first pass builds the other fixtures of the dir the
    // passes read (the index stores, the upsert table) and writes every
    // result for the oracle gate; the timed calls must return the same
    // row counts
    writeOracleSql(AnalyticsQueries)
    val firstCalls = AnalyticsQueries.map(n => n -> timed(dump(n, q(n, d)))._2)
    record("warmup_s") = firstCalls.map(_._2).sum
    record("first_call_s") = firstCalls.toMap
    val warm = dumped.toMap
    val run = (n: String) => q(n, d).count()
    if (!o.trace) {
      val (calls, spans) = timedPhase(passes(AnalyticsQueries, o.seconds, 0, Int.MaxValue)(run))
      metric("retained_heap_mb", retainedHeapMb(), "MB")
      checkCalls(calls, warm)
      val (ms, passS) = passStats(calls, spans)
      // the operation is one pass over the query set: the median query of
      // a heterogeneous set jumps between neighbouring queries
      metric("op_p50_ms", Stats.median(passS) * 1e3, "ms")
      metric("throughput_per_s", calls.size / (calls.map(_.ms).sum / 1e3), "1/s")
      metric("analytics_pass_s", Stats.median(passS), "s")
      metric("query_p50_s", Stats.median(ms) / 1e3, "s")
      recordTail("query", ms.map(_ / 1e3), "s")
      record("passes") = spans.size
      record("per_query_p50_ms") = calls.groupBy(_.name).map { case (k, cs) => k -> Stats.median(cs.map(_.ms)) }
    } else {
      val (all, c1, s1, w, overhead) = tracedPass(AnalyticsQueries)(run)
      checkCalls(all, warm)
      summarise(w, c1, s1, dirBytes(d), Map("trace.overhead_pct" -> overhead))
    }
    record("data_dir") = d
  }

  // ---- ingest --------------------------------------------------------------

  /** Exactly-once streaming ingest loops: the z-store append and the LSH
    * index, both fed by the sharded `documents` stream. */
  val IngestLoops: Seq[String] = Seq("q132_zorder_stream_ingest", "q108_dedup_stream_ingest")

  def ingest(): Unit = {
    val dirs = (0 until Setups).map(copyData)
    recordSetups(dirs.map(d => timed(GraftShards.documentsShards(spark, d))._2))
    val d = dirs.last
    val docRows = graft.Tables.documents(spark, d).count()
    val shardBytes = dirBytes(GraftShards.documentsShards(spark, d))
    val last = mutable.Map.empty[String, DataFrame]
    val run = (n: String) => { val df = registry(n).fn(spark, d); last(n) = df; df.count() }
    val (warm, warmS) = timed(IngestLoops.map(n => n -> run(n)).toMap)
    record("warmup_s") = warmS
    record("input_rows_per_loop") = docRows
    if (!o.trace) {
      val (calls, spans) = timedPhase(passes(IngestLoops, o.seconds, 0, Int.MaxValue)(run))
      metric("retained_heap_mb", retainedHeapMb(), "MB")
      checkCalls(calls, warm)
      val (ms, passS) = passStats(calls, spans)
      val rowsPerS = calls.size * docRows / (calls.map(_.ms).sum / 1e3)
      metric("op_p50_ms", Stats.median(ms), "ms")
      metric("throughput_per_s", rowsPerS, "1/s")
      metric("ingest_rows_per_s", rowsPerS, "1/s")
      metric("ingest_loop_p50_s", Stats.median(ms) / 1e3, "s")
      record("ingest_pass_s") = passS
      record("per_loop_ms") = calls.groupBy(_.name).map { case (k, cs) => k -> cs.map(_.ms) }
    } else {
      val (all, c1, s1, w, overhead) = tracedPass(IngestLoops)(run)
      checkCalls(all, warm)
      summarise(w, c1, s1, shardBytes * IngestLoops.size, Map("trace.overhead_pct" -> overhead))
    }
    writeOracleSql(IngestLoops)
    IngestLoops.foreach(n => dump(n, last(n)))
    record("data_dir") = d
  }

  private def dirBytes(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble

  // ---- txn_service ---------------------------------------------------------

  /** Share of terminal events delivered a second time. */
  val DupShare = 0.1
  val WarmTxns = 8

  /** One status event on the schedule; `commitMs` is set when the
    * micro-batch holding it commits. */
  final class Ev(val txn: String, val status: String, val due: Double, val dup: Boolean) {
    @volatile var commitMs: Double = Double.NaN
    var appendMs: Double = 0.0
    var lagMs: Double = 0.0
  }

  /** The served completions table, reached only through this helper. */
  object Served {
    def lookup(table: String, txn: String): Seq[String] =
      Sources.readTableKeyed(spark, table, Seq("txnId"), Seq(Seq(txn)))
        .select(col("finalStatus")).collect().map(_.getString(0)).toSeq
    def all(table: String): Seq[(String, String)] =
      Sources.readTable(spark, table).select(col("txnId"), col("finalStatus")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** One served stream: the shard dirs, the per-shard event log in append
    * order, and commit tracking from micro-batch progress. */
  final class Stream(val root: String) {
    val dir = s"$root/stream"
    val table = s"$root/table"
    private val log = Array.fill(GraftShards.NumShards)(mutable.ArrayBuffer.empty[Ev])
    private val committed = Array.fill(GraftShards.NumShards)(0)
    val completed = mutable.ArrayBuffer.empty[Ev]

    def shardOf(txn: String): Int = Math.floorMod(txn.hashCode, GraftShards.NumShards)

    def append(e: Ev): Unit = {
      val shard = shardOf(e.txn)
      synchronized { log(shard) += e }
      val micros = (e.due * 1000).toLong
      GraftShards.append(dir, shard,
        Seq(s"""{"txnId":"${e.txn}","status":"${e.status}","ts":$micros}"""))
    }

    def onBatch(b: BatchRec): Unit = synchronized {
      for (s <- 0 until GraftShards.NumShards) {
        val end = b.endOffset.getOrElse(GraftShards.shardDirName(s), 0L).toInt
        while (committed(s) < math.min(end, log(s).size)) {
          val e = log(s)(committed(s))
          e.commitMs = b.end
          if (e.status != "RUNNING" && !e.dup) completed += e
          committed(s) += 1
        }
      }
    }

    def allCommitted: Boolean = synchronized {
      (0 until GraftShards.NumShards).forall(s => committed(s) == log(s).size)
    }

    def events: Seq[Ev] = synchronized(log.flatten.toSeq)

    def completedSnapshot: IndexedSeq[Ev] = synchronized(completed.toIndexedSeq)
  }

  private def waitUntil(limitMs: Double)(cond: => Boolean): Boolean = {
    val deadline = Clock.nowMs + limitMs
    while (!cond && Clock.nowMs < deadline) Thread.sleep(5)
    cond
  }

  private def events(dir: String) = {
    import spark.implicits._
    val schema = StructType.fromDDL("txnId STRING, status STRING, ts BIGINT")
    spark.readStream.format("graft-shards").option("startingPosition", "TRIM_HORIZON").load(dir)
      .select(from_json(col("data"), schema).as("e"))
      .select(col("e.txnId").as("txnId"), col("e.status").as("status"),
        timestamp_micros(col("e.ts")).as("ts"))
      .as[Correlate.StatusEvent]
  }

  /** Builds a stream, starts the service on it and waits until the
    * warm-up transactions are served. */
  private def startService(k: Int): (Stream, org.apache.spark.sql.streaming.StreamingQuery) = {
    val st = new Stream(s"$tmp/txn-$k")
    val now = Clock.nowMs
    for (i <- 0 until WarmTxns; (s, dt) <- Seq("RUNNING" -> 0.0, "SUCCEEDED" -> 1.0))
      st.append(new Ev(f"warm$k-$i%02d", s, now + dt, dup = false))
    rec.onBatch = st.onBatch
    val q = Correlate.serve(events(st.dir), st.table, s"${st.root}/ckpt")
    require(waitUntil(120000)(st.allCommitted), "service did not serve the warm-up transactions")
    (st, q)
  }

  def txnService(): Unit = {
    val setups = mutable.ArrayBuffer.empty[Double]
    var live: (Stream, org.apache.spark.sql.streaming.StreamingQuery) = null
    for (k <- 0 until Setups) {
      val (sq, s) = timed(startService(k))
      setups += s
      if (k < Setups - 1) sq._2.stop() else live = sq
    }
    recordSetups(setups.toSeq)
    val (st, query) = live
    // untimed warm-up lookups: the first keyed read of a session plans cold
    record("warmup_s") = timed((0 until 3).foreach(i => Served.lookup(st.table, f"warm${Setups - 1}-$i%02d")))._2

    // the schedule: txn i starts at i / rate; its terminal follows after a
    // seeded pipeline delay; a seeded share of terminals is sent twice
    val t0 = Clock.nowMs + 200
    val nTxn = o.seconds * o.txnRate
    val schedule = (0 until nTxn).flatMap { i =>
      val txn = f"t${o.seed}%d-$i%05d"
      val start = t0 + i * 1000.0 / o.txnRate
      val end = start + 200 + rng.nextInt(1300)
      val status = if (rng.nextDouble() < 0.8) "SUCCEEDED" else "FAILED"
      val dup = rng.nextDouble() < DupShare
      Seq(new Ev(txn, "RUNNING", start, false), new Ev(txn, status, end, false)) ++
        (if (dup) Seq(new Ev(txn, status, end + 100 + rng.nextInt(400), true)) else Nil)
    }.sortBy(_.due)
    val expected = schedule.filter(e => e.status != "RUNNING" && !e.dup).map(e => e.txn -> e).toMap

    val lookups = mutable.ArrayBuffer.empty[(CallRec, Boolean)]
    val windowEnd = t0 + o.seconds * 1000.0
    val traceFrom = if (o.trace) t0 + o.seconds * 500.0 else Double.PositiveInfinity
    val readerRng = new Random(o.seed + 1)
    val generator = new Thread(() => schedule.foreach { e =>
      val wait = e.due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val a0 = Clock.nowMs
      e.lagMs = a0 - e.due
      st.append(e)
      e.appendMs = Clock.nowMs - a0
    }, "perfbench-generator")
    val reader = new Thread(() => {
      while (Clock.nowMs < windowEnd) {
        val done = st.completedSnapshot
        if (done.isEmpty) Thread.sleep(5)
        else {
          val e = done(readerRng.nextInt(done.size))
          val c = call("lookup", 0)(Served.lookup(st.table, e.txn) match {
            case Seq(s) if s == e.status => 1L
            case other => throw new IllegalStateException(s"${e.txn}: served $other, expected ${e.status}")
          })
          lookups.synchronized(lookups += ((c, c.start >= traceFrom)))
        }
      }
    }, "perfbench-reader")

    def finish(): Unit = {
      reader.join(); generator.join()
      waitUntil(25000)(st.allCommitted)
    }
    generator.start(); reader.start()
    val w: Option[Window] =
      if (!o.trace) { finish(); None }
      else {
        // the traced half starts mid-window: the job listener attaches then
        val wait = traceFrom - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        Some(traced(finish())._2)
      }
    query.stop()
    val heap = retainedHeapMb()

    // correctness: one served completion per txn, with the generator's
    // status, committed within the reference's 20 s limit
    val latency = mutable.ArrayBuffer.empty[(Ev, Double)]
    expected.values.foreach { e =>
      val lat = e.commitMs - e.due
      if (lat.isNaN) fail(s"${e.txn}: terminal never committed")
      else if (lat > Correlate.TimeoutMs) fail(s"${e.txn}: committed after ${lat.round} ms")
      else latency += ((e, lat))
    }
    val served = Served.all(st.table)
    val servedMap = served.toMap
    val want = expected.map { case (t, e) => t -> e.status } ++
      (0 until WarmTxns).map(i => f"warm${Setups - 1}-$i%02d" -> "SUCCEEDED")
    if (served.size != servedMap.size) fail(s"served table has ${served.size - servedMap.size} duplicate txns")
    want.foreach { case (t, s) =>
      if (!servedMap.get(t).contains(s)) fail(s"$t: served ${servedMap.get(t)}, expected $s")
    }
    (servedMap.keySet -- want.keySet).foreach(t => fail(s"$t: served but never sent"))
    lookups.foreach { case (c, _) => if (!c.ok) fail(s"lookup: ${c.error}") }
    attempted += expected.size + lookups.size

    val lat = latency.map(_._2).toSeq
    val lookMs = lookups.map(_._1.ms).toSeq
    val evs = st.events.filter(_.due >= t0)
    val lastCommit = (t0 +: latency.map(_._1.commitMs).toSeq).max
    record("offered_txn_per_s") = o.txnRate
    record("generator_lag_ms_max") = (0.0 +: evs.map(_.lagMs)).max
    record("generator_lag_ms_p50") = if (evs.isEmpty) 0.0 else Stats.median(evs.map(_.lagMs))
    record("lookups") = lookups.size
    // the service's micro-batches in the window: once they take longer
    // than the trigger interval, each starts late and latency grows
    val serviceBatches = rec.batches.asScala.filter(b => b.queryId == query.id.toString && b.start >= t0).toSeq
    record("batch_ms") = serviceBatches.map(_.durations.getOrElse("triggerExecution", 0L))
    record("batch_input_rows") = serviceBatches.map(_.inputRows)
    if (!o.trace) {
      metric("retained_heap_mb", heap, "MB")
      metric("op_p50_ms", Stats.median(lat), "ms")
      // under the fixed schedule the completion rate mostly reads the
      // generator: it only checks that completions keep up with the offered
      // rate, and op_p50_ms is the gate on completion latency
      metric("throughput_per_s", latency.size / ((lastCommit - t0) / 1e3), "1/s")
      metric("txn_complete_p50_ms", Stats.median(lat), "ms")
      recordTail("txn_complete", lat, "ms")
      metric("txn_completed_per_s", latency.size / ((lastCommit - t0) / 1e3), "1/s")
      metric("txn_lookup_p50_ms", Stats.median(lookMs), "ms")
      recordTail("txn_lookup", lookMs, "ms")
    } else {
      val win = w.get
      val (tr, un) = latency.partition(_._1.due >= traceFrom)
      val tracedLookups = lookups.filter(_._2).map(_._1).toSeq
      val traceEvs = evs.filter(_.due >= traceFrom)
      summarise(win, tracedLookups, Seq((0, win.start, win.end)), dirBytes(st.dir),
        Map("shards.append_ms" -> (if (traceEvs.isEmpty) 0.0 else Stats.median(traceEvs.map(_.appendMs))),
          "generator.lag_ms" -> (0.0 +: traceEvs.map(_.lagMs)).max,
          "trace.overhead_pct" -> overheadPct(Stats.median(tr.map(_._2).toSeq), Stats.median(un.map(_._2).toSeq))),
        batchesInCalls = false)
    }
  }
}
