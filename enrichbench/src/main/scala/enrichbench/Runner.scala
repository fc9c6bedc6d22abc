package enrichbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.llm.MockLlmClient
import graft.ops._
import graft.run.Enricher

/** Outcome of one run of a workload (one batch job, or a crash plus its
  * resume). `layer` holds the per-layer metrics of a traced run. */
final case class Rep(
    errors: Seq[String],
    wallS: Double,
    resumeS: Double,
    rows: Long,
    attempts: Long,
    tokens: Long,
    heapMb: Double,
    layer: Map[String, Double] = Map.empty) {
  def ok: Boolean = errors.isEmpty
}

/** Spark session, work directory and the runs of one workload. */
final class Runner(val work: Path, cores: Int) {
  private var sessionOpt: Option[SparkSession] = None
  def spark: SparkSession = sessionOpt.get
  private var repNo = 0

  def start(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("enrichbench")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Spark's status store keeps a bounded history of jobs, stages and
      // queries; small bounds keep it at a steady size from run to run,
      // so it does not count as heap a run retains
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    sessionOpt = Some(s)
    s
  }

  def stop(): Unit = {
    sessionOpt.foreach(_.stop())
    sessionOpt = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def nextRunId(w: Workload, seed: Long): String = {
    repNo += 1
    s"${w.name}-$seed-$repNo-${System.nanoTime()}"
  }

  /** Client faults for a run; the `drop` broken mode never heals drops. */
  private def faultsOf(w: Workload, broken: Option[String]): Faults =
    broken match {
      case Some("drop") => w.faults.copy(
        dropEvery = if (w.faults.dropEvery > 0) w.faults.dropEvery else 50,
        dropForever = true)
      case _ => w.faults
    }

  // --- one run -----------------------------------------------------------

  /** One run: the enrichment, a collect of the finished table, and the
    * output checks. With `trace`, also the `llm.*`, `run.*` and `spark.*`
    * metrics from the client's call records and the listeners. */
  def run(in: Inputs, trace: Option[Trace], broken: Option[String] = None): Rep = {
    val w = in.w
    val runId = nextRunId(w, in.seed)
    MockLlmClient.seenBatches.clear()
    MockLlmClient.seenPrompts.clear()
    val listeners = trace.map(_ => attach(runId))
    try {
      if (w.durable) runDurable(in, runId, trace, listeners, broken)
      else runInline(in, runId, trace, listeners, broken)
    } finally {
      listeners.foreach(detach)
      // what a run caches and leaves behind must not weigh on the next
      spark.catalog.clearCache()
    }
  }

  private def collectTable(data: DataFrame, w: Workload) =
    if (w.evidence)
      data.select("id", "text", "_evidence_context", "answer").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    else
      data.select("id", "text", "answer").collect()
        .map(r => (r.getLong(0), r.getString(1), null: String, r.getString(2)))

  private def checkTable(in: Inputs,
                         out: Array[(Long, String, String, String)]): Seq[String] = {
    val w = in.w
    val ctx = if (w.evidence) out.map(r => r._1 -> r._3).toMap else Map.empty[Long, String]
    val errs = Check.table(out.map(r => (r._1, r._2, r._4)), w.rows,
      id => w.text(in.seed, id), (id, t) => {
        val base = w.templatePrefix + t
        ctx.get(id) match {
          case Some(c) if c != null && c.nonEmpty =>
            base + "\n\n" + Runner.EvidencePreamble + c
          case _ => base
        }
      })
    if (!w.evidence) errs
    else errs ++ checkRetrieval(in, ctx)
  }

  /** Retrieved claims for a fixed sample of queries against brute force. */
  private def checkRetrieval(in: Inputs, ctx: Map[Long, String]): Seq[String] = {
    val w = in.w
    val texts = in.claimTexts
    val idOf = texts.map(_.swap).toMap
    val brute = new Check.BruteTfIdf(texts)
    val sample = (0 until 64).map(i => Gen.mix(in.seed, i, 99))
      .map(h => java.lang.Long.remainderUnsigned(h, w.rows)).distinct
    sample.flatMap { q =>
      val got = Check.contextTexts(ctx.getOrElse(q, "")).map(t => idOf.getOrElse(t, -1L))
      brute.sameTopK(w.templatePrefix + w.text(in.seed, q), got, w.topK,
        w.minScore).map(e => s"query $q: $e")
    }.take(5)
  }

  /** Collects the table `enrich` returns, checks it (`more` adds checks
    * of the caller's) and lets go of it, so that what stays on the heap
    * afterwards is the engine's. Returns the time the collect ended and
    * the problems found. */
  private def collectAndCheck(in: Inputs, enrich: => DataFrame,
                              more: Array[(Long, String, String, String)] => Seq[String] =
                                _ => Nil): (Long, Seq[String]) = {
    val out = collectTable(enrich, in.w)
    val end = Trace.nowUs()
    (end, checkTable(in, out) ++ more(out))
  }

  private def runInline(in: Inputs, runId: String, trace: Option[Trace],
                        ls: Option[Listeners], broken: Option[String]): Rep = {
    val w = in.w
    val st = RunState.open(runId, record = trace.isDefined)
    try {
      val client = new BenchClient(runId, in.seed, faultsOf(w, broken))
      val heap = HeapMeter.start(spark.sparkContext)
      val t0 = Trace.nowUs()
      val (t1, errs) = collectAndCheck(in, new Enricher(w.spec, client,
        evidenceCorpus = in.claims).enrich(in.table).data)
      val retained = heap.retainedMb()
      trace.foreach(_.add(Span("run", t0, t1, None, runId)))
      val wall = (t1 - t0) / 1e6
      val layer = ls.map(l => traceMetrics(l, trace.get, st, Seq((t0, t1)), w))
        .getOrElse(Map.empty)
      Rep(errs, wall, wall, w.rows, st.attempts.get, st.tokens.get, retained, layer)
    } finally RunState.close(runId)
  }

  private def runDurable(in: Inputs, runId: String, trace: Option[Trace],
                         ls: Option[Listeners], broken: Option[String]): Rep = {
    val w = in.w
    val runDir = work.resolve("runs").resolve(runId)
    val ledger = runDir.resolve("responses")
    ls.foreach(_.actions.ledgerDir = ledger.toString)
    val crashId = runId + "-crash"
    val resumeId = runId + "-resume"
    val crashSt = RunState.open(crashId, record = true)
    val resumeSt = RunState.open(resumeId, record = true)
    val poolId = runDir.toString.replaceAll("[^A-Za-z0-9]", "_")
    try {
      val crashAfter = math.max(1L, (w.expectedCalls * w.crashAt).toLong)
      val crashClient = new BenchClient(crashId, in.seed,
        faultsOf(w, broken).copy(crashAfter = crashAfter))
      val heap = HeapMeter.start(spark.sparkContext)
      val t0 = Trace.nowUs()
      val crashErr: Option[String] =
        try {
          new Enricher(w.spec, crashClient, Some(runDir.toString),
            keyColumn = Some("id")).enrich(in.table)
          Some("crash phase finished without the injected crash")
        } catch {
          case e: Exception =>
            val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            if (chain.exists(_.isInstanceOf[graft.llm.AuthError])) None
            else Some(s"crash phase failed otherwise: $e")
        }
      val t1 = Trace.nowUs()
      // calls still in flight when the job aborted finish before the
      // restart; the call pool of the run dir goes with them
      val deadline = System.nanoTime() + 10000000000L
      while (crashSt.inflight.get > 0 && System.nanoTime() < deadline)
        Thread.sleep(5)
      ClientPool.shutdown(poolId)
      val ledgered: Set[Long] = outsideTrace(ls) {
        // a crash before the first commit leaves no readable ledger
        try spark.read.parquet(ledger.toString).select(RowIndex.ColName)
          .collect().map(_.getLong(0)).toSet
        catch { case _: org.apache.spark.sql.AnalysisException => Set.empty[Long] }
      }

      val client = new BenchClient(resumeId, in.seed, w.faults)
      var rowsLost = 0L
      val t2 = Trace.nowUs()
      val (t3, tableErrs) = collectAndCheck(in, new Enricher(w.spec, client,
        Some(runDir.toString), keyColumn = Some("id")).enrich(in.table).data,
        out => {
          rowsLost = w.rows - out.count(r => r._4 != null &&
            r._4 == Check.md5(w.templatePrefix + w.text(in.seed, r._1)))
          if (rowsLost > 0) Seq(s"$rowsLost rows lost") else Nil
        })
      val retained = heap.retainedMb()
      ClientPool.shutdown(poolId)

      val errs = mutable.ArrayBuffer.empty[String]
      errs ++= crashErr
      errs ++= tableErrs
      val resumeIds = resumeSt.calls.asScala.flatMap(_.ids).toSet
      val reinvoked = resumeIds.count(ledgered)
      if (reinvoked > 0)
        errs += s"resume re-invoked $reinvoked rows already in the ledger"

      val (files, bytes) = diskUsage(ledger)
      trace.foreach { t =>
        t.add(Span("run.crash", t0, t1, None, runId))
        t.add(Span("run.resume", t2, t3, None, runId))
      }
      val layer = ls.map { l =>
        val crashCalls = crashSt.calls.asScala.filter(_.ok)
        traceMetrics(l, trace.get, crashSt, Seq((t0, t1), (t2, t3)), w,
          Seq(resumeSt)) ++
          l.actions.phaseSeconds ++ Map(
            "run.crash_phase_s" -> (t1 - t0) / 1e6,
            "run.ledger_files" -> files.toDouble,
            "run.ledger_bytes" -> bytes.toDouble,
            "run.disk_bytes_per_row" -> bytes.toDouble / w.rows,
            "run.wasted_calls" -> crashCalls.count(c =>
              c.ids.nonEmpty && !ledgered(c.ids.head)).toDouble,
            "run.reinvoked_rows" -> reinvoked.toDouble,
            "run.rows_lost" -> rowsLost.toDouble)
      }.getOrElse(Map.empty)
      Rep(errs.toSeq, (t1 - t0 + t3 - t2) / 1e6, (t3 - t2) / 1e6, w.rows,
        crashSt.attempts.get + resumeSt.attempts.get,
        crashSt.tokens.get + resumeSt.tokens.get, retained, layer)
    } finally {
      RunState.close(crashId)
      RunState.close(resumeId)
      deleteTree(runDir)
    }
  }

  private def diskUsage(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_)).toSeq
      (files.count(_.getFileName.toString.endsWith(".parquet")).toLong,
        files.map(Files.size).sum)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  // --- traced runs ---------------------------------------------------------

  final class Listeners(val group: GroupListener, val actions: ActionLog)

  private def attach(runId: String): Listeners = {
    val l = new Listeners(new GroupListener(runId), new ActionLog)
    spark.sparkContext.addSparkListener(l.group)
    spark.listenerManager.register(l.actions)
    spark.sparkContext.setJobGroup(runId, "traced run")
    l
  }

  /** Runs the benchmark's own Spark work inside a traced run without
    * counting it: outside the job group, with the action log paused. */
  private def outsideTrace[T](ls: Option[Listeners])(f: => T): T = ls match {
    case None => f
    case Some(l) =>
      val sc = spark.sparkContext
      org.apache.spark.BenchBridge.drainListeners(sc)
      l.actions.paused = true
      sc.clearJobGroup()
      try f finally {
        org.apache.spark.BenchBridge.drainListeners(sc)
        l.actions.paused = false
        sc.setJobGroup(l.group.group, "traced run")
      }
  }

  private def detach(l: Listeners): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    spark.sparkContext.removeSparkListener(l.group)
    spark.listenerManager.unregister(l.actions)
  }

  /** `llm.*` and `spark.*` metrics of a traced run over its run spans,
    * plus the span accounting: the run's self time (driver gap), the
    * jobs' self time, and the client calls, against the wall time. */
  private def traceMetrics(l: Listeners, trace: Trace, st: RunState,
                           runSpans: Seq[(Long, Long)], w: Workload,
                           more: Seq[RunState] = Nil): Map[String, Double] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val states = st +: more
    val callSpans = states.flatMap(_.calls.asScala).map(c =>
      Span(if (c.ok) "llm.call" else "llm.call_failed", c.startUs, c.endUs,
        Some("spark.job"), trace.runId))
    val jobSpans = l.group.jobIntervalsUs.map { case (a, b) =>
      Span("spark.job", a, b, Some("run"), trace.runId) }
    (jobSpans ++ callSpans).foreach(trace.add)
    val calls = callSpans.map(c => (c.startUs, c.endUs))
    val jobs = jobSpans.map(j => (j.startUs, j.endUs))
    val wall = runSpans.map(s => s._2 - s._1).sum
    val jobUnion = runSpans.map(s => Trace.coveredUs(s._1, s._2, jobs)).sum
    val callUnion = runSpans.map(s => Trace.coveredUs(s._1, s._2, calls)).sum
    val jobSelf = jobSpans.map(Trace.selfUs(_, callSpans)).sum
    val callSum = calls.map(c => c._2 - c._1).sum
    val sum = (f: RunState => Long) => states.map(f).sum.toDouble
    val secs = (us: Long) => us / 1e6
    val inflight = callSum.toDouble / wall
    val g = l.group
    Map(
      "llm.calls" -> sum(_.attempts.get),
      "llm.failed_attempts" -> sum(_.failedAttempts.get),
      "llm.busy_s" -> secs(callUnion),
      "llm.inflight_mean" -> inflight,
      "llm.saturation" -> inflight / w.concurrency,
      "llm.idle_slot_s" -> secs(w.concurrency * wall - callSum),
      "llm.prompt_bytes_per_row" -> sum(_.promptBytes.get) / w.rows,
      "llm.reply_bytes_per_row" -> sum(_.replyBytes.get) / w.rows,
      "llm.useful_attempt_ratio" ->
        sum(_.itemsAnsweredNew.get) / math.max(1.0, sum(_.itemsSent.get)),
      "llm.duplicate_prompt_share" ->
        sum(_.itemsAnsweredDup.get) / math.max(1.0, sum(_.itemsAnswered.get)),
      "spark.jobs" -> g.jobs.size.toDouble,
      "spark.stages" -> g.stages.get.toDouble,
      "spark.tasks" -> g.tasks.get.toDouble,
      "spark.driver_gap_s" -> secs(wall - jobUnion),
      "spark.job_self_s" -> secs(jobSelf),
      "spark.task_cpu_s" -> g.cpuNs.get / 1e9,
      "spark.gc_s" -> g.gcMs.get / 1e3,
      "spark.cpu_util" -> (g.cpuNs.get / 1e3) / (wall.toDouble * cores),
      "spark.shuffle_write_mb" -> g.shuffleWriteBytes.get / 1048576.0,
      "spark.spill_mb" -> g.spillBytes.get / 1048576.0,
      "spark.peak_exec_mem_mb" -> g.peakExecMem.get / 1048576.0,
      "trace.wall_s" -> secs(wall),
      "trace.accounted_share" ->
        (wall - jobUnion + jobSelf + callUnion).toDouble / wall)
  }

  /** Staged replay: the public stage functions one at a time on the
    * cached inputs, each stage's output materialized before the next, so
    * each span times one layer. */
  def staged(in: Inputs, trace: Trace): Map[String, Double] = {
    val w = in.w
    val runId = nextRunId(w, in.seed) + "-staged"
    val st = RunState.open(runId, record = true)
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def mat(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      cached += p
      p
    }
    val spec = w.spec
    val idx = RowIndex.ColName
    val m = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(f: => DataFrame): DataFrame = {
      val t0 = Trace.nowUs()
      val r = mat(f)
      val t1 = Trace.nowUs()
      trace.add(Span(name, t0, t1, Some("staged"), runId))
      m(name + "_s") = (t1 - t0) / 1e6
      r
    }
    MockLlmClient.seenBatches.clear()
    try {
      val client = new BenchClient(runId, in.seed, w.faults)
      val t0 = Trace.nowUs()
      val indexed = timed("core.row_index")(RowIndex.withRowIndex(in.table, Some("id")))
      /** The rag and verify stages over (`_row_index`, text) queries of
        * an evidence workload: index build, search, attach. */
      def retrieval(queries: DataFrame, claims: DataFrame,
                    ws: graft.core.PipelineSpec): DataFrame = {
        val ev = ws.evidence.get
        val q = queries.withColumn("_ev_query",
          graft.core.TemplateCompiler.compile(ws.prompt.template))
        var index: graft.rag.SparseIndex.SparseIndexFrames = null
        val postings = timed("rag.index_build") {
          index = graft.rag.SparseIndex.build(claims, ev.idCol, ev.textCol)
          mat(index.norms)
          index.postings
        }
        m("rag.postings") = postings.count().toDouble
        timed("rag.search")(graft.rag.SparseIndex.search(index,
          q.select(col(idx), col("_ev_query")), idx, "_ev_query", ev.topK,
          broadcastQueries = false))
        m("rag.scored_pairs") = q.select(col(idx).as("query_id"),
            explode(graft.functions.TextFunctions.tokens(lower(col("_ev_query"))))
              .as("term")).distinct()
          .join(index.postings, "term").select("query_id", "id").distinct()
          .count().toDouble
        timed("verify.attach")(graft.verify.EvidenceRetrieval.attach(q, idx,
          "_ev_query", claims, ev.idCol, ev.textCol, ev.topK, ev.minScore))
          .drop("_ev_query")
      }
      val withCtx = in.claims match {
        case Some(claims) => retrieval(indexed, claims, spec)
        case None => indexed
      }
      val rendered = timed("core.render")(withCtx.withColumn("prompt",
        graft.core.TemplateCompiler.compileFull(spec.prompt,
          evidenceContext = in.claims.map(_ => col("_evidence_context")))))
      val invoked = timed("ops.invoke")(Invoke(rendered.select(col(idx), col("prompt")),
        client, spec.prompt, spec.llm, spec.processing, runId))
      val invokeSpan = trace.spans.filter(_.name == "ops.invoke").last
      m("ops.invoke_self_s") = Trace.selfUs(invokeSpan, st.calls.asScala.map(c =>
        Span("llm.call", c.startUs, c.endUs, Some("ops.invoke"), runId))) / 1e6
      val parsed = timed("ops.parse")(ResponseParser.parse(invoked, spec.output))
      val blanks = parsed.filter(col("answer").isNull).select(idx)
      val nBlank = blanks.count()
      m("ops.autoretry_rows") = nBlank.toDouble
      val healed =
        if (nBlank == 0 || w.autoRetry == 0) parsed
        else {
          val redo = timed("ops.autoretry")(ResponseParser.parse(Invoke(
            rendered.select(col(idx), col("prompt")).join(blanks, Seq(idx), "left_semi"),
            client, spec.prompt, spec.llm, spec.processing, runId), spec.output)
            .select(col(idx), col("answer").as("_redo")))
          parsed.join(redo, Seq(idx), "left")
            .withColumn("answer", coalesce(col("answer"), col("_redo")))
        }
      timed("ops.merge")(ResultMerger.merge(withCtx, healed, spec.output.outputColumns,
        spec.output.mergeStrategy))
      val t1 = Trace.nowUs()
      trace.add(Span("staged", t0, t1, None, runId))
      val stageNames = Seq("core.row_index", "rag.index_build", "rag.search",
        "verify.attach", "core.render", "ops.invoke", "ops.parse",
        "ops.autoretry", "ops.merge")
      m("trace.staged_sum_s") = stageNames.flatMap(n => m.get(n + "_s")).sum
      if (w.retrievalReplay) {
        // outside this workload's pipeline and its staged sum: the rag and
        // verify layers timed on the evidence_enrich inputs
        val ev = new Inputs(spark, Workloads.EvidenceEnrich, in.seed)
        retrieval(RowIndex.withRowIndex(ev.table, Some("id")), ev.claims.get,
          Workloads.EvidenceEnrich.spec)
      }
      m.toMap
    } finally {
      cached.foreach(_.unpersist())
      RunState.close(runId)
    }
  }
}

/** Driver heap the engine keeps after a run: heap in use after a full
  * collection once the run's table is collected, checked and let go,
  * minus the same before the run (the session, the cached inputs).
  * It is read before the run's cached frames are cleared, so what the
  * engine leaves cached counts. Heap in use between collections is not
  * used: it mostly measures how far the collector let the young
  * generation grow, which varied by a fifth or more from run to run. */
final class HeapMeter private (sc: SparkContext, baseBytes: Long) {
  /** Megabytes. */
  def retainedMb(): Double = (HeapMeter.liveBytes(sc) - baseBytes) / 1048576.0
}

object HeapMeter {
  private val memory = ManagementFactory.getMemoryMXBean

  def start(sc: SparkContext): HeapMeter = new HeapMeter(sc, liveBytes(sc))

  /** Heap in use after a full collection, once the listeners have had
    * every event and Spark's cleaner has freed what the collection let
    * go (it does so on a thread of its own, after the collection). */
  private def liveBytes(sc: SparkContext): Long = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    def gc(): Long = { System.gc(); memory.getHeapMemoryUsage.getUsed }
    var last = gc()
    var i = 0
    var settled = false
    while (!settled && i < 10) {
      Thread.sleep(20)
      val now = gc()
      settled = math.abs(now - last) < (256L << 10)
      last = now
      i += 1
    }
    last
  }
}

object Runner {
  /** Preamble the engine puts before appended evidence. */
  val EvidencePreamble: String =
    "Previously validated answers for similar inputs " +
      "(use as reference, not as ground truth):\n"
}
