package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.{Readings, TierManager}
import graft.plans.ZoneMapRegistry
import graft.sources.BuffStore
import graft.streaming.Ingest

/** Benchmark harness inside one JVM.
  *
  * Usage: Main <work dir> <cores> <seconds> <trace 0|1> <trace.jsonl> (<spec.json> <result.json>)+
  *
  * Each spec comes from perfbench/gen.py and names the generated inputs, the
  * seeded parameter sets and the seeded query stream of one workload; the
  * specs run one after the other in one session (the measured runs pass one,
  * the class-archive training in build.py passes one per workload). A result
  * file holds the end-to-end metrics (untraced run) or the per-layer metrics
  * (traced run), the attempted and failed operation counts and every
  * mismatch.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(work, cores, seconds, trace, tracePath) = args.take(5)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Run.log("session ready")
    try {
      for (Array(specPath, resultPath) <- args.drop(5).grouped(2)) {
        val run = new Run(spark, Json.read(specPath), seconds.toDouble, trace == "1", work,
          cores.toInt)
        try {
          val result = run.execute()
          run.writeTrace(tracePath)
          Files.write(Paths.get(resultPath), Json.obj(result).getBytes("UTF-8"))
        } finally run.cleanup()
      }
    } finally {
      spark.stop()
      Run.log("stopped")
    }
  }
}

/** Wall-time samples of one operation type. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def add(x: Double): Unit = synchronized(xs += x)
  def values: Seq[Double] = synchronized(xs.toList)
}

object Stat {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (h - lo)
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** One timed query: its kind and wall time; `traced` marks the rounds that
  * recorded child spans.
  */
final case class Op(kind: String, ms: Double, inspectMs: Double, traced: Boolean, failed: Boolean)

/** Every answer the program gave for one distinct call, with its count. */
final case class Slot(call: Call, store: Store, schema: org.apache.spark.sql.types.StructType,
                      got: mutable.Map[Answer, Int])

final class Run(spark: SparkSession, spec: com.fasterxml.jackson.databind.JsonNode,
                seconds: Double, traced: Boolean, work: String, cores: Int) {
  private val workload = spec.get("workload").asText
  private val ingest = workload == "ingest_age"
  private val sizes = spec.get("sizes")
  private val tracer = new Tracer(traced)
  private val collector = new JobCollector(if (ingest) "writer" else "client")
  if (traced) spark.sparkContext.addSparkListener(collector)

  private val params: Map[String, IndexedSeq[Params]] =
    Json.fields(spec.get("params")).map { case (k, v) =>
      k -> Json.elems(v).map(new Params(_)).toIndexedSeq }.toMap
  private val stream: IndexedSeq[Call] = Json.elems(spec.get("stream")).map { n =>
    val kind = n.get(0).asText; val i = n.get(1).asInt
    Call(kind, i, params(kind)(i)) }.toIndexedSeq
  private val kindsPerRound = params.size

  // outcomes
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val answers = mutable.LinkedHashMap.empty[String, Slot]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var setupS = 0.0
  private val landMs = new Samples
  private val ageS = new Samples
  private val batchMs = new Samples
  private var timedStart = 0.0
  private var timedEnd = 0.0

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }
  }

  private def setRole(role: String): Unit = {
    tracer.setRole(role)
    spark.sparkContext.setLocalProperty(JobCollector.RoleKey, role)
  }

  /** Run `f` over `items` on `cores` client threads. */
  private def parallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
    finally pool.shutdown()
  }

  private def timed[T](samples: Samples)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    samples.add((System.nanoTime() - t0) / 1e6)
    r
  }

  // ---------------------------------------------------------------- queries

  /** Build, plan, execute and consume one call; record its answer. */
  private def query(c: Call, st: Store, dataDir: String, detail: Boolean): Unit = {
    tracer.setDetail(detail)
    val key = s"${c.kind}#${c.pidx}#g${st.gen}"
    var failed = false
    val t0 = System.nanoTime()
    var inspectMs = 0.0
    tracer.span("query", "kind" -> c.kind, "key" -> key) {
      try {
        val df = tracer.span("build")(Calls.build(spark, dataDir, st, c))
        val fin = tracer.span("plan") {
          val f = Calls.consumer(c.kind, df)
          f.queryExecution.executedPlan
          f
        }
        val rows = tracer.span("execute")(fin.collect())
        val ans = tracer.span("consume")(Calls.answer(c.kind, rows))
        answers.synchronized {
          val slot = answers.getOrElseUpdate(key, Slot(c, st, df.schema, mutable.Map.empty))
          slot.got(ans) = slot.got.getOrElse(ans, 0) + 1
        }
        if (tracer.detail) {
          val i0 = System.nanoTime()
          tracer.span("inspect")(inspectPlan(c.kind, fin, ans))
          inspectMs = (System.nanoTime() - i0) / 1e6
        }
      } catch {
        case e: Exception =>
          failed = true
          errors.synchronized(errors += s"$key: $e")
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ops.synchronized(ops += Op(c.kind, ms - inspectMs, inspectMs, detail, failed))
  }

  /** Planner phase times, scan shape and the zone-map decision of an executed
    * query, kept on the `inspect` span.
    */
  private def inspectPlan(kind: String, fin: DataFrame, ans: Answer): Unit = {
    val qe = fin.queryExecution
    qe.tracker.phases.foreach { case (phase, s) => tracer.annotate(s"phase_$phase", s.durationMs) }
    val scans = Run.scans(qe.executedPlan)
    tracer.annotate("files_read", scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum)
    tracer.annotate("scans", scans.size)
    tracer.annotate("scan_columns", scans.map(_.requiredSchema.size).sum)
    tracer.annotate("result_rows", Calls.resultRows(ans))
    if (kind == "zonemap_agg") {
      val fromStats = qe.optimizedPlan.collectLeaves().exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.endsWith(".stats"))
          case _ => false
        }
        case _ => false
      }
      tracer.annotate("zonemap_rewrite", if (fromStats) 1 else 0)
    }
  }

  // ------------------------------------------------------------------ setup

  private def age(tm: TierManager, cutoff: java.sql.Timestamp): Unit = {
    tracer.span("compact_quantized")(tm.compactToQuantized(cutoff))
    tracer.span("compact_paa")(tm.compactToPaa(w = 4, targetCr = 0.5))
    tracer.span("compact_paa2")(tm.compactToPaa2(w = 4, targetCr = 0.6))
  }

  /** Land tier0 with its zone map, the BUFF planes and the aging ladder. */
  private def setupBatch(root: String, dataDir: String): Store = {
    val tm = new TierManager(spark, root)
    val cutoff = new java.sql.Timestamp(spec.get("cutoff_us").asLong / 1000)
    tracer.span("land")(timed(landMs)(tm.landTier0(Readings.of(spark, dataDir))))
    val planesDir = s"$root/planes"
    val (base, n) = tracer.span("planes") {
      val t0 = spark.read.parquet(tm.tier0)
      val mm = t0.agg(min(col("value_q")), max(col("value_q"))).first()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val n = BuffStore.planesFor(hi - lo)
      BuffStore.write(BuffStore.planes(t0, lo, n), planesDir)
      (lo, n)
    }
    timed(ageS)(tracer.span("age_cycle") {
      age(tm, cutoff)
      if (tracer.detail) tracer.annotate("bytes_rewritten",
        Seq(tm.tier1, s"${tm.tier1}.stats", tm.tier2, tm.tier3).map(dirBytes).sum)
    })
    new Store(0, tm, Some(planesDir), base, n, cutoff, None, -1L,
      Seq(s"$dataDir/events.parquet"))
  }

  private def storedBytes(st: Store): Long =
    Seq(st.tm.tier0, s"${st.tm.tier0}.stats", st.tm.tier1, s"${st.tm.tier1}.stats",
      st.tm.tier2, st.tm.tier3).map(dirBytes).sum + st.planes.map(dirBytes).getOrElse(0L)

  // ---------------------------------------------------------------- ingest

  /** Streamed ingestion state: source, checkpoint, the streamed tier0 with
    * its per-batch stats and histogram, and the aging generations.
    */
  private final class IngestState(val root: String, val files: IndexedSeq[String]) {
    val src = s"$root/src"
    val ckpt = s"$root/checkpoint"
    val tier0 = s"$root/stream_tier0"
    val stats = s"$root/stream_stats"
    val hist = s"$root/stream_hist"
    var batches = 0             // batch files ingested
    var lastBatchId = -1L       // streaming batch id of the last one
    var gens = 0
    @volatile var published: Store = _
    Files.createDirectories(Paths.get(src))
  }

  private val batchDir = if (ingest) spec.get("batch_dir").asText else ""
  private def batchFile(i: Int): String = f"$batchDir/batch-$i%05d.parquet"
  private val batchRows = if (ingest) sizes.get("batch_rows").asLong else 0L

  /** One AvailableNow trigger over one new batch file. */
  private def ingestBatch(s: IngestState): Unit = timed(batchMs) {
    tracer.span("ingest_batch", "batch" -> s.batches) {
      val name = f"batch-${s.batches}%05d.parquet"
      val staged = Paths.get(s.src, s".$name")
      Files.copy(Paths.get(s.files(s.batches)), staged)
      Files.move(staged, Paths.get(s.src, name), StandardCopyOption.ATOMIC_MOVE)
      val before = dirBytes(s.tier0) + dirBytes(s.stats) + dirBytes(s.hist)
      val q = tracer.span("stream") {
        val q = Ingest.tier0Writer(Ingest.readingsStream(spark, s.src), s.tier0, s.ckpt,
          statsDir = Some(s.stats), histDir = Some(s.hist))
        q.awaitTermination()
        q
      }
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      progress.lastOption.foreach(p => s.lastBatchId = p.batchId)
      s.batches += 1
      if (tracer.detail) {
        def d(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum
        tracer.annotate("micro_batches", progress.length)
        tracer.annotate("add_batch_ms", d("addBatch"))
        tracer.annotate("query_planning_ms", d("queryPlanning"))
        tracer.annotate("wal_commit_ms", d("walCommit"))
        tracer.annotate("trigger_ms", d("triggerExecution"))
        tracer.annotate("bytes_written", dirBytes(s.tier0) + dirBytes(s.stats) + dirBytes(s.hist) - before)
      }
    }
  }

  /** One aging cycle over everything streamed so far, into a new generation
    * directory that readers switch to once it is complete.
    */
  private def ageCycle(s: IngestState): Unit = timed(ageS) {
    val gen = s.gens
    tracer.span("age_cycle", "gen" -> gen) {
      val root = s"${s.root}/gen-$gen"
      val tm = new TierManager(spark, root)
      val w = Window.partitionBy(col("signal_id")).orderBy(col("ts"), col("event_id"))
      val readings = spark.read.parquet(s.tier0).filter(col("batch_id") <= s.lastBatchId)
        .select(col("signal_id"), col("ts"), col("value"), col("value_q"),
          row_number().over(w).cast("long").as("seq_no"))
      tracer.span("land")(timed(landMs)(tm.landTier0(readings)))
      val dayUs = spec.get("day_us").asLong
      val cutoff = new java.sql.Timestamp(
        (spec.get("epoch_us").asLong + math.max(1, s.batches / 2) * dayUs) / 1000)
      age(tm, cutoff)
      if (tracer.detail) tracer.annotate("bytes_rewritten", dirBytes(root))
      s.gens += 1
      s.published = new Store(gen, tm, None, 0L, 0, cutoff, Some(s.hist), s.lastBatchId,
        s.files.take(s.batches))
    }
  }

  private def ingestStored(s: IngestState): Long =
    dirBytes(s.tier0) + dirBytes(s.stats) + dirBytes(s.hist) + storedBytes(s.published)

  // ------------------------------------------------------------------ phases

  private var dataDir = ""
  private var store: Store = _
  private var ingestState: IngestState = _
  /** Set-up, once per run in a fresh process, so it includes the JVM and
    * Spark warm-up a user pays before the first query: lands what the timed
    * phase reads. For ingest_age it streams the first batch and ages it, so
    * the reader has a generation from the first timed moment on.
    */
  private def setup(): Unit = {
    setRole(if (ingest) "writer" else "client")
    val root = s"$work/store"
    val t0 = System.nanoTime()
    tracer.span("setup") {
      if (ingest) {
        ingestState = new IngestState(root, (0 until sizes.get("batches").asInt).map(batchFile))
        ingestBatch(ingestState)
        ageCycle(ingestState)
      } else store = setupBatch(root, spec.get("data_dir").asText)
    }
    setupS = (System.nanoTime() - t0) / 1e9
    dataDir = if (ingest) "" else spec.get("data_dir").asText
  }

  /** One untimed call of each kind on the set-up store, so that the timed
    * loop does not bill class loading and code generation to its first calls.
    */
  private def warmUp(): Unit = {
    parallel(params.keys.toSeq.sorted) { k =>
      query(Call(k, 0, params(k)(0)), store, dataDir, detail = false)
    }
    ops.clear()
  }

  private def roundTraced(i: Int): Boolean = traced && (i / kindsPerRound) % 2 == 0

  private def current: Store = if (ingest) ingestState.published else store

  private def timedPhase(): Unit = {
    val setupBatches = batchMs.values.size
    val setupCycles = ageS.values.size
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    timedStart = tracer.now()
    if (!ingest) {
      var i = 0
      while (System.nanoTime() < deadline) {
        query(stream(i % stream.length), store, dataDir, roundTraced(i))
        i += 1
      }
      queryWindowMs = tracer.now() - timedStart
    } else {
      // closed loop with two clients: the writer ingests and ages, the reader
      // queries the newest complete generation
      val s = ingestState
      @volatile var writerDone = false
      val reader = new Thread(() => {
        setRole("reader")
        val readerStart = tracer.now()
        var i = 0
        while (!writerDone) {
          query(stream(i % stream.length), s.published, dataDir, roundTraced(i))
          i += 1
        }
        queryWindowMs = tracer.now() - readerStart
      })
      reader.start()
      tracer.setDetail(true)
      val k = sizes.get("batches_per_cycle").asInt
      val total = sizes.get("batches").asInt
      try {
        // the set-up cycle and at least two timed ones: three generations
        while ((System.nanoTime() < deadline || s.gens < 3) && s.batches + k <= total) {
          (0 until k).foreach(_ => ingestBatch(s))
          ageCycle(s)
        }
      } finally {
        writerDone = true
        reader.join()
      }
    }
    timedEnd = tracer.now()
    // only timed-phase ingest and aging count toward the ingest metrics
    timedBatches = batchMs.values.drop(setupBatches)
    timedCycles = ageS.values.drop(setupCycles)
  }
  @volatile private var queryWindowMs = 0.0
  private var timedBatches: Seq[Double] = Nil
  private var timedCycles: Seq[Double] = Nil

  // ------------------------------------------------------------------ check

  /** Recompute every distinct call's answer from the raw input; each timed
    * operation whose answer differs counts as failed.
    */
  private def check(): (Int, Seq[String]) = {
    val mismatches = mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    val slots = answers.toSeq
    // every generation's raw files are a prefix of the longest list
    val ref = new Reference(spark, slots.map(_._2.store.rawFiles).maxBy(_.size))
    try parallel(slots) { case (key, Slot(c, st, schema, got)) =>
      val expected = scala.util.Try(ref.answer(c, st, schema))
      val bad = got.filter { case (a, _) => !expected.toOption.flatten.contains(a) }
      if (bad.nonEmpty) mismatches.synchronized {
        failedOps += bad.values.sum
        mismatches += s"$key: got ${bad.keys.mkString(", ")}; expected " +
          expected.map(_.map(_.toString).getOrElse("a different column count")).recover {
            case e => s"error $e" }.get
      }
    } finally ref.release()
    (failedOps, mismatches.toList)
  }

  // ---------------------------------------------------------------- metrics

  private def endToEnd(stored: Long, inputBytes: Long): Map[String, Double] = {
    val qms = ops.map(_.ms).toSeq
    val (pts, batchP50, cycleS) =
      if (ingest)
        (batchRows * timedBatches.size / (timedBatches.sum / 1000.0),
          Stat.median(timedBatches), Stat.median(timedCycles) / 1000.0)
      else {
        // a batch workload lands its whole table as one batch in set-up
        val rows = sizes.get("rows").asDouble
        (rows / (Stat.median(landMs.values) / 1000.0), Stat.median(landMs.values),
          Stat.median(ageS.values) / 1000.0)
      }
    Map(
      "setup_s" -> setupS,
      "query_p50_ms" -> Stat.median(qms),
      "query_p90_ms" -> Stat.q(qms, 0.9),
      "queries_per_s" -> ops.size / (queryWindowMs / 1000.0),
      "ingest_pts_per_s" -> pts,
      "ingest_batch_p50_ms" -> batchP50,
      "age_cycle_s" -> cycleS,
      "stored_bytes_per_input_byte" -> stored.toDouble / inputBytes)
  }

  private def layers(finalStore: Store): Map[String, Double] = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val spans = tracer.spans
    val jobsOf = TraceReport.attribute(spans, collector.all)
    val kids = spans.groupBy(_.parent)
    def child(s: Span, name: String) = kids.getOrElse(s.id, Nil).find(_.name == name)
    def jobs(s: Option[Span]) = s.toSeq.flatMap(x => jobsOf.getOrElse(x.id, Nil))
    val queries = spans.filter(q => q.name == "query" && q.start >= timedStart &&
      kids.getOrElse(q.id, Nil).exists(_.name == "execute"))
    val nq = math.max(1, queries.size).toDouble
    def perQ(f: Span => Double) = queries.map(f).sum / nq
    val execJobs = queries.map(q => child(q, "execute") -> jobs(child(q, "execute")))
    def execSum(f: JobStats => Double) = execJobs.map(_._2.map(f).sum).sum / nq
    val inspects = queries.flatMap(q => child(q, "inspect"))
    def insp(k: String) = inspects.map(_.attrs.getOrElse(k, 0L).toString.toDouble)
    val zm = inspects.flatMap(_.attrs.get("zonemap_rewrite")).map(_.toString.toDouble)
    val resultRows = insp("result_rows").sum
    val inRows = execJobs.map(_._2.map(_.inRows).sum).sum.toDouble

    val batches = spans.filter(b => b.name == "ingest_batch" && b.start >= timedStart)
    def perBatch(k: String) = {
      val mb = batches.map(_.attrs.getOrElse("micro_batches", 0).toString.toDouble).sum
      if (mb == 0) 0.0 else batches.map(_.attrs.getOrElse(k, 0L).toString.toDouble).sum / mb
    }
    // tier work: the timed aging cycles of ingest_age, the set-up ladders otherwise
    val from = if (ingest) timedStart else 0.0
    val cycles = spans.filter(c => c.name == "age_cycle" && c.start >= from)
    val lands = spans.filter(l => l.name == "land" && l.start >= from)
    def tierMs(name: String) = Stat.mean(cycles.flatMap(c => child(c, name)).map(_.ms))
    val recoded = segmentsRecodedRatio(finalStore)

    // kinds that ran in both traced and untraced rounds
    val overhead = {
      val paired = ops.groupBy(_.kind).values.filter(v => v.exists(_.traced) && v.exists(!_.traced))
      val tr = paired.map(v => Stat.median(v.filter(_.traced).map(o => o.ms + o.inspectMs).toSeq)).sum
      val un = paired.map(v => Stat.median(v.filterNot(_.traced).map(_.ms).toSeq)).sum
      if (un > 0) tr / un - 1.0 else 0.0
    }
    val tops = spans.filter(_.parent == -1).map(s => (s.start, s.end))
    val uncovered = (timedEnd - timedStart) - TraceReport.covered(tops, timedStart, timedEnd)

    val kindP50 = Calls.AllKinds.map { k =>
      s"kind.$k.p50_ms" -> Stat.median(ops.filter(_.kind == k).map(_.ms).toSeq) }
    Map(
      "tables.build_ms" -> perQ(q => child(q, "build").map(_.ms).getOrElse(0.0)),
      "tables.build_jobs" -> perQ(q => jobs(child(q, "build")).size.toDouble),
      "plans.analysis_ms" -> Stat.mean(insp("phase_analysis")),
      "plans.optimization_ms" -> Stat.mean(insp("phase_optimization")),
      "plans.planning_ms" -> Stat.mean(insp("phase_planning")),
      "plans.zonemap_rewrites" -> (if (zm.isEmpty) 0.0 else zm.sum / zm.size),
      "operators.exec_ms" -> perQ(q => child(q, "execute").map(_.ms).getOrElse(0.0)),
      "operators.driver_gap_ms" -> execJobs.map { case (e, js) =>
        e.map(x => x.ms - TraceReport.covered(
          js.map(j => (j.start.toDouble, j.end.toDouble)), x.start, x.end)).getOrElse(0.0)
      }.sum / nq,
      "operators.jobs" -> execSum(_ => 1.0),
      "operators.stages" -> execSum(_.stages.toDouble),
      "operators.tasks" -> execSum(_.tasks.toDouble),
      "operators.scheduler_delay_ms" -> execSum(_.schedDelayMs.toDouble),
      "operators.executor_run_ms" -> execSum(_.runMs.toDouble),
      "operators.executor_cpu_ms" -> execSum(_.cpuNs / 1e6),
      "operators.shuffle_read_bytes" -> execSum(_.shuffleRead.toDouble),
      "operators.shuffle_write_bytes" -> execSum(_.shuffleWrite.toDouble),
      "operators.spill_bytes" -> execSum(_.spill.toDouble),
      "operators.task_failures" -> execSum(_.failures.toDouble),
      "operators.result_rows" -> resultRows / nq,
      "sources.input_bytes" -> execSum(_.inBytes.toDouble),
      "sources.input_rows" -> inRows / nq,
      "sources.files_read" -> Stat.mean(insp("files_read")),
      "sources.scan_columns" -> {
        val n = insp("scans").sum
        if (n == 0) 0.0 else insp("scan_columns").sum / n
      },
      "sources.rows_examined_per_row_returned" -> (if (resultRows == 0) 0.0 else inRows / resultRows),
      "streaming.batches" -> batches.map(_.attrs.getOrElse("micro_batches", 0).toString.toDouble).sum,
      "streaming.add_batch_ms" -> perBatch("add_batch_ms"),
      "streaming.query_planning_ms" -> perBatch("query_planning_ms"),
      "streaming.wal_commit_ms" -> perBatch("wal_commit_ms"),
      "streaming.trigger_ms" -> perBatch("trigger_ms"),
      "streaming.bytes_written" -> perBatch("bytes_written"),
      "tiers.land_ms" -> Stat.mean(lands.map(_.ms)),
      "tiers.compact_quantized_ms" -> tierMs("compact_quantized"),
      "tiers.compact_paa_ms" -> tierMs("compact_paa"),
      "tiers.compact_paa2_ms" -> tierMs("compact_paa2"),
      "tiers.bytes_rewritten" -> Stat.mean(
        cycles.map(_.attrs.getOrElse("bytes_rewritten", 0L).toString.toDouble)),
      "tiers.segments_recoded_ratio" -> recoded,
      "tiers.tier0_bytes" -> dirBytes(finalStore.tm.tier0).toDouble,
      "tiers.tier1_bytes" -> dirBytes(finalStore.tm.tier1).toDouble,
      "tiers.tier2_bytes" -> dirBytes(finalStore.tm.tier2).toDouble,
      "tiers.tier3_bytes" -> dirBytes(finalStore.tm.tier3).toDouble,
      "trace.overhead_ratio" -> overhead,
      "trace.uncovered_ms" -> uncovered) ++ kindP50
  }

  /** Share of tier1 segments the CR guard recoded into the PAA tier. */
  private def segmentsRecodedRatio(st: Store): Double = {
    val segs1 = spark.read.parquet(st.tm.tier1)
      .select(col("signal_id"), Readings.segmentId(col("seq_no")).as("seg")).distinct().count()
    val segs2 = spark.read.parquet(st.tm.tier2)
      .select(col("signal_id"), floor(col("chunk") * 4 / Readings.SegmentRows).as("seg"))
      .distinct().count()
    if (segs1 == 0) 0.0 else segs2.toDouble / segs1
  }

  // ------------------------------------------------------------------- run

  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally Run.log(f"$name%s ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def execute(): Map[String, Any] = {
    phase("setup")(setup())
    if (!ingest) phase("warm-up")(warmUp())
    phase("timed")(timedPhase())
    val finalStore = current
    val stored = if (ingest) ingestStored(ingestState) else storedBytes(store)
    val inputBytes =
      if (ingest) ingestState.files.take(ingestState.batches).map(f => Files.size(Paths.get(f))).sum
      else dirBytes(s"$dataDir/events.parquet")
    val metrics =
      if (traced) phase("layers")(layers(finalStore)) else endToEnd(stored, inputBytes)
    val (failedChecks, mismatches) = phase("check")(check())
    val errored = ops.count(_.failed)
    Map(
      "attempted" -> ops.size,
      "failed" -> (failedChecks + errored),
      "mismatches" -> mismatches,
      "errors" -> errors.toList.take(20),
      "metrics" -> metrics,
      "info" -> Map(
        "queries" -> ops.size, "distinct_calls" -> answers.size,
        "timed_s" -> (timedEnd - timedStart) / 1000.0,
        "ingest_batches" -> timedBatches.size, "age_cycles" -> timedCycles.size,
        "generations" -> (if (ingest) ingestState.gens else 1),
        "input_bytes" -> inputBytes, "stored_bytes" -> stored,
        "setup_s" -> setupS))
  }

  def writeTrace(path: String): Unit =
    if (traced) {
      val spans = tracer.spans
      TraceReport.writeJsonl(path, spans, TraceReport.attribute(spans, collector.all))
    }

  /** Leave nothing behind for a later workload: registry, cached data,
    * temporary views and every scratch directory.
    */
  def cleanup(): Unit = {
    ZoneMapRegistry.clear()
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.streams.active.foreach(_.stop())
    deleteTree(s"$work/store")
  }
}

object Run extends AdaptiveSparkPlanHelper {
  /** Progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[bench] $msg%s (JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s)")

  def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }
}
