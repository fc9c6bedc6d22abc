package graft.run

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.llm.LlmClient
import graft.ops._

/** Run metrics (reference: ProcessingStats + CostEstimate,
  * ondine/core/models.py:72-82,143-355). Cost is exact Decimal, computed
  * from per-call records deduplicated by (attempt, call) — idempotent under
  * Spark task retry. Calls, tokens and cost cover the invocation pass (on
  * the durable path, every call in the ledger) plus the auto-retry rounds. */
final case class RunMetrics(
    rows: Long,
    calls: Long,
    tokensIn: Long,
    tokensOut: Long,
    cost: JBigDecimal,
    skippedRows: Long,
    durationMs: Long)

final case class EnrichResult(
    data: DataFrame,
    metrics: RunMetrics,
    quality: QualityReport)

/** The pipeline facade — the Spark re-expression of the reference's
  * `enrich()` / `Pipeline.execute()` lifecycle (ondine/api/enrich.py:45-161,
  * ondine/api/pipeline.py:642-927):
  *
  *   filters → _row_index → [preprocess] → prompt expr →
  *   Invoke (batch + disaggregate fused) → parse → auto-retry →
  *   merge → quality guard
  *
  * Two execution shapes:
  *
  *  - FAST PATH (no runDir, no budget): one narrow pass. Original columns
  *    ride through the Invoke operator, so there is NO merge join, NO
  *    shuffle at all — `_row_index` comes from monotonically_increasing_id
  *    (per-partition unique; resume determinism not needed here). A clean
  *    run is ONE Spark job: the parsed rows (prompt dropped) are written
  *    into a row checkpoint (`localCheckpoint`), and the quality counters,
  *    the auto-retry blank probe and the per-call metrics ride the same
  *    pass as a `Dataset.observe`. The checkpoint cuts the lineage: the
  *    returned frame reads the checkpointed rows, never the provider, and
  *    its blocks are released with the frame instead of staying in the
  *    session's cache.
  *
  *  - DURABLE PATH (runDir set and/or budget capped): driver-chunked loop;
  *    every completed call lands in `runDir/responses` parquet before the
  *    run advances (reference headline: 0 rows lost on kill -9 — SURVEY
  *    §7.4). Resume = LEFT ANTI JOIN input vs ledger; task-retry duplicates
  *    dedupe at read by preferring non-null results then latest attempt.
  *    Budget is enforced between chunks from the exact call ledger.
  */
final class Enricher(
    spec: PipelineSpec,
    client: LlmClient,
    runDir: Option[String] = None,
    keyColumn: Option[String] = None,
    observers: ObserverDispatcher = new ObserverDispatcher,
    /** Evidence corpus for spec.evidence — rows (idCol, textCol). */
    evidenceCorpus: Option[DataFrame] = None) {

  import Enricher.{CallTotals, Retried}
  import RowIndex.ColName

  /** Render the prompt; with evidence configured, first attach
    * `_evidence_context`/`_evidence_count` by distributed top-k retrieval
    * (the rendered base template is the retrieval query) and inject the
    * context block (evidence_retrieval_stage.py:57-113 semantics). */
  private def formatWithEvidence(indexed: DataFrame): DataFrame =
    (spec.evidence, evidenceCorpus) match {
      case (Some(ev), Some(corpus)) =>
        val withQ = indexed.withColumn("_ev_query",
          TemplateCompiler.compile(spec.prompt.template,
            spec.prompt.templateFormat))
        val attached = graft.verify.EvidenceRetrieval.attach(
          withQ, ColName, "_ev_query", corpus, ev.idCol, ev.textCol,
          ev.topK, ev.minScore, ev.sourceCol).drop("_ev_query")
        attached.withColumn("prompt", TemplateCompiler.compileFull(
          spec.prompt, evidenceContext = Some(col("_evidence_context"))))
      case (Some(_), None) => throw new IllegalArgumentException(
        "spec.evidence set but no evidenceCorpus passed to Enricher")
      case _ => indexed.withColumn("prompt",
        TemplateCompiler.compileFull(spec.prompt))
    }

  private val internalCols = Seq("prompt", "result", "error", "skipped",
    "_call_id", "call_rows", "tokens_in", "tokens_out", "cost",
    "latency_ms", "model", "_attempt")

  def enrich(df: DataFrame): EnrichResult = {
    val t0 = System.nanoTime()
    spec.validate()
    val attemptSalt = System.currentTimeMillis()
    // the call pool, limiter and adaptive limiter are keyed on the runId
    // and shut down when this call ends, so an inline run's id must be
    // its own: two runs sharing one would lose their pool to each other
    val runId = runDir.map(_.replaceAll("[^A-Za-z0-9]", "_"))
      .getOrElse("inline_" +
        java.util.UUID.randomUUID().toString.replace("-", ""))

    // 1. load-time equality filters (pushed to the scan by Catalyst)
    val filtered = spec.dataset.filters.foldLeft(df) { case (d, (c, v)) =>
      d.filter(col(c) === lit(v))
    }

    // 2. optional input preprocessing on the template's input columns
    val pre =
      if (!spec.processing.preprocessInput) filtered
      else TemplateCompiler.variables(spec.prompt.template,
        spec.prompt.templateFormat).foldLeft(filtered) {
        (d, c) => d.withColumn(c, Preprocess.clean(col(c),
          spec.processing.maxInputLength))
      }

    val durable = runDir.isDefined || spec.processing.maxBudget.isDefined
    observers.emit(RunStarted(runId, None))
    try {
      val r =
        if (durable) enrichDurable(pre, runId, attemptSalt, t0)
        else enrichInline(pre, runId, attemptSalt, t0)
      observers.emit(RunCompleted(runId, r.metrics, r.quality))
      r
    } catch { case e: Throwable =>
      observers.emit(RunFailed(runId, String.valueOf(e.getMessage)))
      throw e
    } finally {
      // the result is materialized (checkpoint, ledger or cache), so
      // reading it never reaches Invoke again: the run's pool can go
      ClientPool.shutdown(runId)
    }
  }

  // --- fast path --------------------------------------------------------

  private def enrichInline(pre: DataFrame, runId: String,
                           attemptSalt: Long, t0: Long): EnrichResult = {
    val outs = spec.output.outputColumns
    val overlap = pre.columns.toSet.intersect(outs.toSet)
    if (spec.output.mergeStrategy == MergeStrategy.Append)
      require(overlap.isEmpty,
        s"APPEND merge: output columns already exist: ${overlap.mkString(",")}")
    // UPDATE semantics: stash originals, coalesce after parse
    val stashed = if (spec.output.mergeStrategy == MergeStrategy.Update)
      overlap.foldLeft(pre)((d, c) => d.withColumnRenamed(c, s"_old_$c"))
    else pre

    val addedIndex = !stashed.columns.contains(ColName)
    val indexed = keyColumn match {
      case Some(k) => stashed.withColumn(ColName, RowIndex.keyExpr(stashed, k))
      case None if !addedIndex => stashed
      case None => stashed.withColumn(ColName, monotonically_increasing_id())
    }
    val formatted = formatWithEvidence(indexed)
    val invoked = Invoke(formatted, client, spec.prompt, spec.llm,
      spec.processing, runId, attempt = Some(attemptSalt))

    // ONE job materializes the invocation and yields every run metric:
    // quality counters, the auto-retry blank probe and the per-call
    // totals (via the head-row-of-call marker `_row_index == _call_id`)
    // are observed on the rows as they are checkpointed. The prompt is
    // dropped first; nothing downstream reads it.
    val (parsed0, row0) = checkpointObserved(
      ResponseParser.parse(invoked, spec.output).drop("prompt"),
      qualityAggs ++ callAggs)

    // per-call observability on the fast path: same ledger-shaped columns
    // ride the checkpointed frame, so the replay reuses the durable path's
    // contract (deterministic ids from (runId, attempt, callId))
    if (observers.wantsCallGrain) replayCallEvents(runId, parsed0)

    val retried =
      if (spec.processing.autoRetryAttempts > 0 && lng(row0, "_blank") > 0)
        Some(autoRetry(parsed0, formatted, runId))
      else None
    val parsed1 = retried.fold(parsed0)(_.data)
    val update = spec.output.mergeStrategy == MergeStrategy.Update
    val parsed = if (update)
      overlap.foldLeft(parsed1)((d, c) =>
        d.withColumn(c, coalesce(col(c), col(s"_old_$c"))).drop(s"_old_$c"))
    else parsed1
    // quality describes the returned rows: after the retry's merge, and
    // after UPDATE's coalesce with the originals
    val qrow =
      if (update) parsed.agg(qualityAggs.head, qualityAggs.tail: _*).head()
      else retried.fold(row0)(_.quality)

    val data = parsed.drop(internalCols: _*)
    val finalData = if (addedIndex) data.drop(ColName) else data
    assemble(finalData, qrow,
      callTotals(row0) + retried.fold(CallTotals.Zero)(_.calls), t0)
  }

  // --- durable / budgeted path -----------------------------------------

  private def enrichDurable(pre: DataFrame, runId: String,
                            attemptSalt: Long, t0: Long): EnrichResult = {
    val spark = pre.sparkSession
    val budget = new BudgetController(spec.processing.maxBudget)
    val addedIndex = !pre.columns.contains(RowIndex.ColName)
    val indexed0 = RowIndex.withRowIndex(pre, keyColumn)
    // evidence columns attach to the base frame so they survive the merge;
    // WITH evidence the frame embeds a full distributed retrieval join, so
    // persist it - otherwise every chunk's range filter (and the final
    // merge) would re-run the whole top-k search
    val indexed = {
      val f = formatWithEvidence(indexed0)
      if (spec.evidence.isDefined) f.persist(StorageLevel.MEMORY_AND_DISK)
      else f
    }
    val formatted = indexed.select(col(ColName), col("prompt"))

    def invokeRows(rows: DataFrame): DataFrame =
      Invoke(rows, client, spec.prompt, spec.llm, spec.processing, runId,
        attempt = Some(attemptSalt))

    val ledgerDir = runDir.map(_ + "/responses")
    val hConf = spark.sessionState.newHadoopConf()
    // stale chunk stagings from crashed/budget-stopped attempts are pure
    // scratch (every attempt stages its own work set); sweep them so
    // runDir doesn't accrete. Age-gated (default 1 h): concurrent
    // attempts against one runDir are the registry's job to prevent, but
    // if one does overlap, its fresh staging must not be deleted from
    // under its in-flight chunk reads — only stagings old enough to be
    // from a dead attempt go. The staging name embeds the attempt's
    // wall-clock salt, so age needs no extra FS metadata call.
    runDir.foreach { rd =>
      val sweepAgeMs = spark.conf
        .get("graft.enrich.stagingSweepAgeMs", "3600000").toLong
      val cutoff = attemptSalt - sweepAgeMs
      val root = new org.apache.hadoop.fs.Path(rd)
      val fs = root.getFileSystem(hConf)
      if (fs.exists(root))
        fs.listStatus(root).filter { s =>
          s.isDirectory && s.getPath.getName.startsWith("chunks_") &&
            s.getPath.getName.stripPrefix("chunks_").toLongOption
              .forall(_ < cutoff)
        }.foreach(s => fs.delete(s.getPath, true))
    }
    val chunkRows = spec.processing.chunkRows.toLong

    // The ledger is read ONCE, up front: chunks cover disjoint key ranges,
    // so newly-invoked rows can never reappear downstream — the done-set
    // needs no per-chunk refresh. Spend is kept incrementally (prior
    // ledger cost + each chunk's own cost, aggregated from the chunk's
    // cache before it is released), so per-chunk work is O(chunk), not
    // O(ledger) — flat in chunk count.
    val priorLedger = ledgerDir.flatMap(readLedger(spark, _))
    val doneSet = priorLedger.map(
      _.filter(col("result").isNotNull || col("skipped"))
        .select(ColName)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val budgetOn = spec.processing.maxBudget.isDefined
    // the per-chunk/per-ledger counter aggregations exist to feed the
    // budget check and the live-progress observers — an unobserved,
    // unbudgeted run skips them entirely (the resume ledger stats in
    // particular are O(prior ledger) per run)
    val trackStats = budgetOn || observers.nonEmpty
    // prior-attempt counters: spend seeds the budget check, and rows/calls
    // seed the live-progress counters so a RESUMED run reports a monotone
    // fraction of the whole input, not just this attempt's slice
    val (priorCalls, priorCost) = priorLedger match {
      case Some(l) if trackStats =>
        val r = l.dropDuplicates("_attempt", "_call_id")
          .agg(count(lit(1)).as("_c"), sum("cost").as("_s")).head()
        (r.getLong(0), if (r.isNullAt(1)) JBigDecimal.ZERO else r.getDecimal(1))
      case _ => (0L, JBigDecimal.ZERO)
    }
    var spent = priorCost
    var rowsDone =
      if (trackStats) doneSet.map(_.count()).getOrElse(0L) else 0L
    var callsDone = priorCalls

    // Work set = input minus ledger, ONE anti-join up front, then (when a
    // run dir exists) ONE range-partition shuffle staging the remaining
    // rows to parquet keyed by chunk id — the r14 rework of the chunk
    // machinery. The previous shape re-scanned the full input once per
    // chunk (quantile range slice) and re-probed the whole done-set once
    // per chunk (anti-join): both O(n) per chunk, so a fixed-chunk-size
    // run was O(n²/chunkRows) — measured 953 s for a 10M-row/100-chunk
    // fresh run and 518 s for its no-op resume (EnrichLedgerProbe,
    // BENCH_NOTES r14). Staged, each chunk's read is partition-pruned to
    // exactly its own rows, per-chunk cost is O(chunk) and the run is
    // O(n); a fully-covered resume runs ZERO chunks. The staged copy is
    // prompts-only and transient (cleared once the ledger holds the
    // results, and on the next attempt's startup) — at scale one extra
    // prompt write is strictly cheaper than chunks-many input scans.
    // Budget-only durable runs (no runDir) have no shared filesystem to
    // stage on and no ledger to anti-join, so they keep the quantile
    // range slices over the source — their chunks stay memory-resident
    // anyway.
    val missingAll = doneSet match {
      case Some(done) => formatted.join(done, Seq(ColName), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      case None => formatted
    }
    // ONE up-front pass over the work set: the exact remaining count
    // (ledger keys need not be a subset of this input's keys — a caller
    // may enrich a shrunk/grown frame against an old run dir, so
    // nRows - done.count() could under- or over-shoot) FUSED with a fine
    // key-percentile sketch that the quantile-slice path reads its chunk
    // cuts off — previously the count and the approxQuantile were two
    // full passes (r14: one job per durable run saved; the sketch insert
    // is O(1)/row against a count that materializes the persisted
    // anti-join anyway). The sketch grid bounds the chunk count it can
    // cut for; the (rare) finer-chunked run falls back to one exact
    // approxQuantile pass below.
    val sketchGrid = 256
    val aggRow = missingAll.agg(
      count(lit(1)).as("_n"),
      percentile_approx(col(ColName),
        typedLit((1 until sketchGrid).map(_.toDouble / sketchGrid)),
        lit(10000)).as("_sketch")).head()
    val nMissing = aggRow.getLong(0)
    val keySketch: Seq[Long] =
      if (aggRow.isNullAt(1)) Nil else aggRow.getSeq[Long](1)
    // total input rows: only the live-progress observers need it beyond
    // the chunking math (which runs off nMissing) — an unobserved resume
    // skips the extra count pass over the full input entirely
    val nRows =
      if (doneSet.isEmpty) nMissing
      else if (trackStats) formatted.agg(count(lit(1)).as("n")).head().getLong(0)
      else nMissing
    val numChunks =
      if (nMissing == 0) 0
      else math.max(1L, (nMissing + chunkRows - 1) / chunkRows).toInt
    val stagingDir = runDir.map(rd => s"$rd/chunks_$attemptSalt")
    // below ~1M remaining rows the staging round-trip's fixed job costs
    // exceed what it saves (A/B in BENCH_NOTES r14: parity at 1M, 4x win
    // at 10M, ~2x loss at 100k) — small multi-chunk runs keep the
    // quantile slices, which are cheap at that scale (and on a resume
    // slice the PERSISTED anti-join result, never re-probing the ledger)
    val stageMinRows = spark.conf
      .get("graft.enrich.stageChunksMinRows", "1000000").toLong
    val staged = numChunks > 1 && stagingDir.isDefined &&
      nMissing >= stageMinRows
    val chunkSlices: Seq[() => DataFrame] =
      if (numChunks == 0) Nil
      else if (numChunks == 1) Seq(() => missingAll)
      else if (staged) {
        val dir = stagingDir.get
        // stage each chunk as `fanout` consecutive range partitions, not
        // one: a single-file chunk would read back as ONE task (until
        // maxPartitionBytes splits it) and pin the whole chunk to one
        // executor on a cluster. Ascending partition ids over an
        // ascending range partitioning make id/fanout a contiguous chunk
        // assignment, so the read-back arrives already split — no second
        // shuffle per chunk. Fanout is capped so a very-many-chunk run
        // cannot explode the staging write's task count.
        val fanout = math.max(1, math.min(
          spark.sparkContext.defaultParallelism, 65536 / numChunks))
        missingAll
          .repartitionByRange(numChunks * fanout, col(ColName))
          .withColumn("_chunk", (spark_partition_id() / fanout).cast("int"))
          .write.mode("overwrite").partitionBy("_chunk").parquet(dir)
        if (doneSet.isDefined) missingAll.unpersist(blocking = false)
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(hConf)
        // skewed key ranges can leave some of the numChunks partitions
        // empty (no directory); iterate what was actually written, in
        // ascending key order
        fs.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("_chunk="))
          .map(_.getPath.getName)
          .sortBy(_.stripPrefix("_chunk=").toInt).toSeq
          .map(d => () => spark.read.parquet(s"$dir/$d"))
      } else {
        // quantile-slice path (budget-only runs with no filesystem to
        // stage on, and small multi-chunk runs under the staging
        // threshold): cutoffs give ~chunkRows rows per slice for ANY key
        // distribution (keys may be sparse or hashed — a dense stride
        // would iterate ~2^63/chunkRows times); sentinel end-bounds keep
        // the slices a complete partition of the key space even when the
        // sketch is off by a few rows. Cuts come off the up-front fused
        // sketch (zero extra jobs) while the grid can resolve them; a
        // finer-chunked run than the grid pays the one exact
        // approxQuantile pass it always used to.
        val cuts: Seq[Long] =
          if (numChunks <= sketchGrid && keySketch.size == sketchGrid - 1)
            (1 until numChunks)
              .map(i => keySketch(i * sketchGrid / numChunks - 1))
              .toSeq.sorted
          else {
            val probes = (1 until numChunks)
              .map(i => i.toDouble / numChunks).toArray
            missingAll
              .select(col(ColName).cast("double").as("_k"))
              .stat.approxQuantile("_k", probes, 0.001)
              .map(_.toLong).toSeq.sorted
          }
        val los = None +: cuts.map(Option(_))
        val his = cuts.map(Option(_)) :+ None
        los.zip(his).map { case (lo, hi) =>
          () => (lo, hi) match {
            case (None, None)       => missingAll
            case (None, Some(h))    => missingAll.filter(col(ColName) < h)
            case (Some(l), None)    => missingAll.filter(col(ColName) >= l)
            case (Some(l), Some(h)) =>
              missingAll.filter(col(ColName) >= l && col(ColName) < h)
          }
        }
      }

    var chunks = Vector.empty[DataFrame]
    try {
      chunkSlices.zipWithIndex.foreach { case (mkSlice, chunkIdx) =>
        val p = invokeRows(mkSlice()).persist(StorageLevel.MEMORY_AND_DISK)
        ledgerDir.foreach(dir => p.write.mode("append").parquet(dir))
        if (trackStats) {
          // one aggregation per chunk over the persisted frame: row count
          // plus call count/cost via the head-row-of-call marker (all rows
          // of this chunk share one _attempt, so the marker is exact)
          val st = p.agg(count(lit(1)).as("_rows"),
            sum(when(col(ColName) === col("_call_id"), 1L).otherwise(0L))
              .as("_calls"),
            sum(when(col(ColName) === col("_call_id"), col("cost")))
              .as("_cost"))
            .head()
          rowsDone += st.getLong(0)
          callsDone += (if (st.isNullAt(1)) 0L else st.getLong(1))
          if (!st.isNullAt(2)) spent = spent.add(st.getDecimal(2))
        } else if (ledgerDir.isEmpty) {
          p.count() // materialize the chunk before the next slice reuses it
        }
        if (ledgerDir.isDefined) p.unpersist() else chunks :+= p
        if (budgetOn) budget.check(spent)
        observers.emit(ChunkCompleted(runId, chunkIdx.toLong, spent))
        if (trackStats)
          observers.emit(RunProgress(runId, rowsDone, nRows, callsDone, spent))
      }
    } finally {
      // once results are ledgered the staging is scratch — delete it even
      // on a budget stop (the next attempt re-stages its own remainder)
      if (staged) {
        val root = new org.apache.hadoop.fs.Path(stagingDir.get)
        root.getFileSystem(hConf).delete(root, true)
      }
    }
    if (doneSet.isDefined && !staged) missingAll.unpersist(blocking = false)
    doneSet.foreach(_.unpersist())
    val invoked = (ledgerDir.flatMap(readLedger(spark, _)) match {
      case Some(l) => l
      case None =>
        if (chunks.isEmpty) invokeRows(formatted.limit(0))
        else chunks.reduce(_ unionByName _)
    }).persist(StorageLevel.MEMORY_AND_DISK)

    // one record per row: prefer non-null results, then latest attempt —
    // scoped to THIS input's keys (left-semi vs the formatted frame) when
    // a PRIOR ledger existed: a standing ledger may hold keys a shrunk
    // input no longer carries, and quality/row metrics describe the run's
    // input, not ledger history. A fresh run's ledger holds only keys it
    // just invoked from this input, so the scope join would be a no-op —
    // skipped to keep the hot path's exchange count unchanged.
    // max_by(hash aggregate) instead of the former row_number() window:
    // the same one exchange, but a partial-aggregating hash stage in
    // place of a full per-partition SORT of the ledger — duplicates are
    // rare (task retries, resumed attempts), so the map side combines
    // almost nothing and the sort was pure overhead (guide §2.3
    // "aggregate before you shuffle"; r14).
    // a FRESH run's ledger is already unique per key — chunks cover
    // disjoint key ranges and a write job commits exactly one task
    // attempt's files — so the dedup exchange only runs when a PRIOR
    // ledger could have contributed a second attempt for a key (r14:
    // one shuffle + hash-agg removed from every fresh durable run and
    // every first-sight streaming micro-batch).
    val payloadCols = invoked.columns.filterNot(_ == ColName).toSeq
    val perRow =
      if (priorLedger.isEmpty) invoked
      else invoked
        .groupBy(col(ColName))
        .agg(max_by(
          struct(payloadCols.map(col): _*),
          struct(col("result").isNotNull, col("_attempt"))).as("_best"))
        .select(col(ColName) +:
          payloadCols.map(c => col("_best").getField(c).as(c)): _*)
        .join(formatted.select(col(ColName)), Seq(ColName), "left_semi")

    // ONE action for quality + blank probe + call metrics: the two 1-row
    // aggregates (rows over parsed, calls over the deduplicated ledger —
    // the ledger may hold several attempts per call) meet in a crossJoin.
    val parsed0 = ResponseParser.parse(perRow, spec.output)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val callAggFrame = invoked.dropDuplicates("_attempt", "_call_id")
      .agg(count(lit(1)).as("_calls"), sum("tokens_in").as("_tin"),
        sum("tokens_out").as("_tout"), sum("cost").as("_cost"))
    val qFrame = parsed0.agg(qualityAggs.head, qualityAggs.tail: _*)
    val row0 = qFrame.crossJoin(callAggFrame).head()

    // per-call observability: replay the materialized ledger into one
    // LlmCallCompleted per call — the reference's LLMCallEvent grain
    // (unified_litellm_client.py:473-531) at ZERO hot-path cost, gated on
    // an observer actually opting in. A resumed run replays the WHOLE
    // ledger (prior attempts included): exporters derive deterministic
    // ids from (runId, attempt, callId), so re-emission upserts instead
    // of double-counting — and a run whose first attempt crashed before
    // its replay still surfaces every call.
    if (observers.wantsCallGrain) replayCallEvents(runId, invoked)
    // parsed0 (persisted and just materialized by row0) is the only
    // downstream consumer of the ledger rows — release the ledger cache
    // now instead of carrying two copies of the run to the session's end
    invoked.unpersist(blocking = false)

    val retried =
      if (spec.processing.autoRetryAttempts > 0 && lng(row0, "_blank") > 0)
        Some(autoRetry(parsed0, formatted, runId))
      else None

    // merge result columns back into the original table
    val outs = spec.output.outputColumns
    val merged = ResultMerger.merge(indexed.drop("prompt"),
      retried.fold(parsed0)(_.data), outs, spec.output.mergeStrategy)
    val finalData = if (addedIndex) merged.drop(ColName) else merged
    assemble(finalData, retried.fold(row0)(_.quality),
      callTotals(row0) + retried.fold(CallTotals.Zero)(_.calls), t0)
  }

  // --- shared tail ------------------------------------------------------

  /** All output columns null/blank — the auto-retry trigger; counted as
    * `_blank` inside the main aggregation pass so a clean run never pays a
    * separate existence probe. */
  private def allBlankExpr = !col("skipped") &&
    spec.output.outputColumns
      .map(c => col(c).isNull || trim(col(c).cast("string")) === "")
      .reduce(_ && _)

  /** Auto-retry rows whose outputs all came back null/blank (reference:
    * ondine/api/pipeline.py:1741-1879; skipped rows carry the sentinel and
    * are NOT retried). Callers invoke this only when the first pass saw at
    * least one blank row. Each round checkpoints the re-invoked rows (the
    * retry calls' totals observed in the same job) and then the merged
    * frame (its quality counters, the next round's blank probe, observed
    * in that job). */
  private def autoRetry(parsed0: DataFrame, formatted: DataFrame,
                        runId: String): Retried = {
    val outs = spec.output.outputColumns
    val keepCols = parsed0.columns.toSeq.map(col)
    val allBlank = allBlankExpr
    var parsed = parsed0
    var quality: Row = null
    var calls = CallTotals.Zero
    var attempt = 0
    var blanks = 1L
    while (attempt < spec.processing.autoRetryAttempts && blanks > 0) {
      val failedIdx = parsed.filter(allBlank).select(ColName)
      val redo = Invoke(
        formatted.join(failedIdx, Seq(ColName), "left_semi"),
        client, spec.prompt, spec.llm, spec.processing, runId)
      val (redoParsed, redoCalls) = checkpointObserved(
        ResponseParser.parse(redo, spec.output), callAggs)
      calls += callTotals(redoCalls)
      val redoOuts = redoParsed.select((ColName +: outs).map(col): _*)
      val renamed = outs.foldLeft(redoOuts)((d, c) =>
        d.withColumnRenamed(c, s"_r_$c"))
      var joined = parsed.join(renamed, Seq(ColName), "left")
      for (c <- outs)
        joined = joined.withColumn(c,
          when(col(c).isNull || trim(col(c).cast("string")) === "",
            col(s"_r_$c"))
            .otherwise(col(c))).drop(s"_r_$c")
      val (next, q) = checkpointObserved(joined.select(keepCols: _*),
        qualityAggs)
      parsed = next
      quality = q
      blanks = lng(q, "_blank")
      attempt += 1
    }
    Retried(parsed, quality, calls)
  }

  /** Per-call totals, counted once per call through the head-row-of-call
    * marker `_row_index == _call_id` (exact when every row of the frame
    * comes from one invocation). */
  private def callAggs: Seq[Column] = {
    val first = col(ColName) === col("_call_id")
    Seq(
      sum(when(first, 1L).otherwise(0L)).as("_calls"),
      sum(when(first, col("tokens_in"))).as("_tin"),
      sum(when(first, col("tokens_out"))).as("_tout"),
      sum(when(first, col("cost"))).as("_cost"))
  }

  /** Materialize `df` as a local checkpoint in ONE job that also computes
    * `aggs` over its rows, and return both. The
    * observed row is read from the plan's collected metrics as soon as
    * the eager checkpoint returns, on this thread; an `Observation` would
    * have to be awaited, and its future is completed from the listener
    * bus.
    *
    * The checkpoint cuts the lineage. Re-reading the result therefore
    * never calls the provider again. If an executor holding checkpoint
    * blocks is lost, the read fails with an error instead of quietly
    * paying for the calls a second time.
    *
    * The metrics are exact because the checkpoint job ends in one result
    * stage holding Invoke, parse and the observation, and Spark merges a
    * result task's accumulator updates once per partition, whatever task
    * attempts or speculative copies ran. No shuffle may ever sit between
    * Invoke and `observe`: it would move the invocation into a map stage,
    * which a lost shuffle block re-runs, paying calls the observation
    * counts once, or the observation itself, whose accumulator updates a
    * re-run map stage merges again. */
  private def checkpointObserved(df: DataFrame,
                                 aggs: Seq[Column]): (DataFrame, Row) = {
    val observed = df.observe(Enricher.ObservedName, aggs.head, aggs.tail: _*)
    val materialized =
      observed.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)
    val row = observed.queryExecution.observedMetrics.getOrElse(
      Enricher.ObservedName, throw new IllegalStateException(
        "checkpoint job finished without its observed run metrics"))
    (materialized, row)
  }

  /** Quality counters + the auto-retry blank probe as aggregation columns
    * over a parsed frame: row count, skips, validity per output column,
    * and the count of all-blank rows. Shared by both paths so everything
    * comes out of one aggregation action. */
  private def qualityAggs: Seq[org.apache.spark.sql.Column] = {
    val outs = spec.output.outputColumns
    val invalidAny = outs.map(Quality.invalidCell).reduce(_ || _)
    Seq(
      count(lit(1)).as("_total"),
      sum(when(col("skipped"), 1L).otherwise(0L)).as("_skipped"),
      sum(when(invalidAny, 0L).otherwise(1L)).as("_valid"),
      sum(when(allBlankExpr, 1L).otherwise(0L)).as("_blank")) ++
    outs.map(c => sum(when(Quality.invalidCell(c), 1L).otherwise(0L))
      .as(s"_bad_$c"))
  }

  /** Null-safe long by field name (aggregates over an empty frame sum to
    * null). */
  private def lng(r: Row, name: String): Long = {
    val i = r.fieldIndex(name)
    if (r.isNullAt(i)) 0L else r.getLong(i)
  }

  /** Call totals from an aggregate row with fields _calls/_tin/_tout/_cost. */
  private def callTotals(r: Row): CallTotals = {
    val costAt = r.fieldIndex("_cost")
    CallTotals(lng(r, "_calls"), lng(r, "_tin"), lng(r, "_tout"),
      if (r.isNullAt(costAt)) JBigDecimal.ZERO else r.getDecimal(costAt))
  }

  /** Build the result from the quality row (post-retry) and the run's
    * call totals (first pass plus auto-retry rounds). */
  private def assemble(finalData: DataFrame, qrow: Row, calls: CallTotals,
                       t0: Long): EnrichResult = {
    val outs = spec.output.outputColumns
    val totalRows = lng(qrow, "_total")
    val valid = lng(qrow, "_valid")
    val perCol = outs.map(c => c -> lng(qrow, s"_bad_$c")).toMap
    val rate = if (totalRows == 0) 0.0 else valid.toDouble / totalRows
    val q = QualityReport(totalRows, valid, perCol, rate,
      Quality.rating(rate))
    val metrics = RunMetrics(
      rows = totalRows,
      calls = calls.calls,
      tokensIn = calls.tokensIn,
      tokensOut = calls.tokensOut,
      cost = calls.cost,
      skippedRows = lng(qrow, "_skipped"),
      durationMs = (System.nanoTime() - t0) / 1000000L)
    Quality.noOutputGuard(q, metrics.skippedRows,
      metrics.tokensIn + metrics.tokensOut)
    EnrichResult(finalData, metrics, q)
  }

  /** Stream the ledger's head-of-call rows (`_row_index == _call_id`
    * marks exactly one row per call; `skipped` rows never reached the
    * API, so they carry no call) through the driver in (attempt, call)
    * order, one [[LlmCallCompleted]] per call. `toLocalIterator` bounds
    * driver memory at one partition — a million-call ledger replays
    * without ever materializing on the driver. Auto-retry redo calls are
    * not ledgered (existing contract) and so not replayed. */
  private def replayCallEvents(runId: String, ledger: DataFrame): Unit = {
    val heads = ledger
      .filter(col(ColName) === col("_call_id") && !col("skipped"))
      .select(col("_attempt").cast("long"), col("_call_id"), col("model"),
        col("tokens_in"), col("tokens_out"), col("cost"),
        col("latency_ms"), col("call_rows").cast("long"),
        col("result").isNull.as("_failed"))
      .orderBy(col("_attempt"), col("_call_id"))
    val it = heads.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      observers.emit(LlmCallCompleted(runId,
        callId = r.getLong(1),
        attempt = r.getLong(0),
        model = if (r.isNullAt(2)) null else r.getString(2),
        tokensIn = if (r.isNullAt(3)) 0L else r.getLong(3),
        tokensOut = if (r.isNullAt(4)) 0L else r.getLong(4),
        cost = if (r.isNullAt(5)) JBigDecimal.ZERO else r.getDecimal(5),
        latencyMs = if (r.isNullAt(6)) 0.0 else r.getDouble(6),
        callRows = if (r.isNullAt(7)) 0L else r.getLong(7),
        failed = r.getBoolean(8)))
    }
  }

  private def readLedger(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!new java.io.File(dir).exists()) None
    else try Some(spark.read.parquet(dir))
    catch {
      // a crash can leave the dir with only an uncommitted _temporary
      // subdir — no schema to infer means no durable rows yet
      case _: org.apache.spark.sql.AnalysisException => None
    }

}

/** Smart-defaults front door (reference: enrich() one-liner
  * ondine/api/enrich.py:45-161 + QuickPipeline auto-detection
  * ondine/api/quick.py:74-332 — input columns from `{placeholders}`,
  * parser = json iff multi-column).
  */
object Enricher {
  /** Name of the run-metrics observation on a checkpoint job. */
  private val ObservedName = "graft_enrich_metrics"

  /** Provider calls and what they cost, summed over a run. */
  private final case class CallTotals(calls: Long, tokensIn: Long,
                                      tokensOut: Long, cost: JBigDecimal) {
    def +(o: CallTotals): CallTotals = CallTotals(calls + o.calls,
      tokensIn + o.tokensIn, tokensOut + o.tokensOut, cost.add(o.cost))
  }
  private object CallTotals {
    val Zero = CallTotals(0L, 0L, 0L, JBigDecimal.ZERO)
  }

  /** What the auto-retry loop hands back: the merged rows, their quality
    * counters, and the totals of the retry calls it made. */
  private final case class Retried(data: DataFrame, quality: Row,
                                   calls: CallTotals)

  def enrich(df: DataFrame,
             template: String,
             outputColumns: Seq[String],
             client: LlmClient,
             batchSize: Int = 1,
             concurrency: Int = 8,
             maxBudget: Option[BigDecimal] = None,
             runDir: Option[String] = None,
             keyColumn: Option[String] = None): EnrichResult = {
    val inputCols = TemplateCompiler.variables(template)
    val format =
      if (outputColumns.size > 1) ResponseFormat.Json else ResponseFormat.Raw
    val spec = PipelineSpec(
      dataset = DatasetSpec(inputColumns = inputCols),
      prompt = PromptSpec(template, batchSize = batchSize),
      llm = LlmSpec(concurrency = concurrency),
      processing = ProcessingSpec(maxBudget = maxBudget),
      output = OutputSpec(outputColumns, responseFormat = format))
    new Enricher(spec, client, runDir, keyColumn).enrich(df)
  }
}
