package enrichbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[Metric], notes: Seq[String]) {
  def json: String = {
    val ms = metrics.map(m =>
      s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** `scale` and `broken` are for the benchmark's own tests: a workload at a
  * fraction of its size, and a client that drops rows for good. */
final case class Options(workload: String, seed: Long, seconds: Double,
                         trace: Boolean, work: Path, scale: Double = 1.0,
                         broken: Option[String] = None)

/** Entry point:
  * {{{
  *   enrichbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                    [--work <dir>]
  * }}}
  * Prints one JSON result as the last line of standard output. With
  * `--trace 0` the metrics are the end-to-end ones, medians over the runs
  * made in `--seconds`; with `--trace 1`, the per-layer ones. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "setup_s" -> "s", "resume_s" -> "s",
    "calls_per_krow" -> "calls/krow", "tokens_per_row" -> "tokens/row",
    "retained_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.row_index_s" -> "s", "core.render_s" -> "s",
    "ops.invoke_s" -> "s", "ops.invoke_self_s" -> "s", "ops.parse_s" -> "s",
    "ops.autoretry_s" -> "s", "ops.autoretry_rows" -> "count",
    "ops.merge_s" -> "s",
    "llm.calls" -> "count", "llm.failed_attempts" -> "count",
    "llm.busy_s" -> "s", "llm.inflight_mean" -> "calls",
    "llm.saturation" -> "ratio", "llm.idle_slot_s" -> "s",
    "llm.prompt_bytes_per_row" -> "B/row", "llm.reply_bytes_per_row" -> "B/row",
    "llm.useful_attempt_ratio" -> "ratio",
    "llm.duplicate_prompt_share" -> "ratio",
    "run.crash_phase_s" -> "s", "run.workset_s" -> "s",
    "run.ledger_write_s" -> "s", "run.ledger_read_s" -> "s",
    "run.dedup_s" -> "s", "run.merge_s" -> "s", "run.other_s" -> "s",
    "run.ledger_files" -> "count", "run.ledger_bytes" -> "B",
    "run.disk_bytes_per_row" -> "B/row", "run.wasted_calls" -> "count",
    "run.reinvoked_rows" -> "count", "run.rows_lost" -> "count",
    "rag.index_build_s" -> "s", "rag.search_s" -> "s",
    "verify.attach_s" -> "s", "rag.postings" -> "count",
    "rag.scored_pairs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.job_self_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_exec_mem_mb" -> "MB",
    "trace.wall_s" -> "s", "trace.accounted_share" -> "ratio",
    "trace.staged_sum_s" -> "s", "trace.staged_vs_fused" -> "ratio",
    "trace.untraced_rows_per_s" -> "rows/s",
    "trace.traced_rows_per_s" -> "rows/s",
    "trace.overhead_rows_per_s" -> "rows/s")

  /** Untimed runs in the set-up. */
  val WarmUpRuns = 2

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val r = measure(parse(args))
        r.notes.foreach(n => println(s"# $n"))
        println(r.json)
        if (r.correct) 0 else 1
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"enrichbench: ${e.getMessage}"); 2
      }
    System.exit(code)
  }

  def parse(args: Array[String]): Options = {
    val known = Set("workload", "seed", "seconds", "trace", "work")
    val kv = args.grouped(2).map {
      case Array(k, v) if known(k.drop(2)) && k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      work = Paths.get(kv.getOrElse("work", "enrichbench/work")).toAbsolutePath)
  }

  /** JIT compile time so far, summed over the compiler threads. */
  private def jitCompileMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Set up, run the workload for the given seconds, check every run. */
  def measure(o: Options): Result = {
    val w0 = Workloads.byName(o.workload)
    val w = if (o.scale == 1.0) w0 else w0.scaled(o.scale)
    val runner = new Runner(o.work, Runtime.getRuntime.availableProcessors)
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def count(r: Rep): Rep = {
      attempted += 1
      if (!r.ok) {
        failed += 1
        r.errors.foreach(e => notes += s"check failed: $e")
      }
      r
    }
    try {
      // set-up, once per process and so always from a cold JVM: session
      // start, inputs, and untimed (but checked) warm-up runs; after one,
      // the next run was still the slowest of a process
      val t0 = System.nanoTime()
      runner.start()
      val t1 = System.nanoTime()
      val in = new Inputs(runner.spark, w, o.seed)
      val t2 = System.nanoTime()
      val warm = (1 to WarmUpRuns).map { _ =>
        val s = System.nanoTime()
        count(runner.run(in, None, o.broken))
        (System.nanoTime() - s) / 1e9
      }
      val t3 = System.nanoTime()
      val setupS = (t3 - t0) / 1e9
      notes += f"set-up: session ${(t1 - t0) / 1e9}%.3f s, inputs " +
        f"${(t2 - t1) / 1e9}%.3f s, warm-up runs " + warm.map(x => f"$x%.3f").mkString(" ") + " s"

      val end = System.nanoTime() + (o.seconds * 1e9).toLong
      val metrics =
        if (!o.trace) {
          val reps = mutable.ArrayBuffer.empty[Rep]
          val jitMs = mutable.ArrayBuffer.empty[Long]
          do {
            val j0 = jitCompileMs()
            reps += count(runner.run(in, None, o.broken))
            jitMs += jitCompileMs() - j0
          } while (System.nanoTime() < end)
          val good = reps.filter(_.ok).toSeq
          if (good.isEmpty) Nil
          else {
            notes += s"${good.size} runs of ${w.rows} rows; run seconds " +
              good.map(r => f"${r.wallS}%.3f").mkString(" ") +
              "; resume seconds " + good.map(r => f"${r.resumeS}%.3f").mkString(" ") +
              "; JIT compile ms " + jitMs.mkString(" ") +
              "; retained MB " + good.map(r => f"${r.heapMb}%.1f").mkString(" ")
            val vals = Map(
              "rows_per_s" -> median(good.map(r => r.rows / r.wallS)),
              "setup_s" -> setupS,
              "resume_s" -> median(good.map(_.resumeS)),
              "calls_per_krow" -> median(good.map(r => r.attempts * 1000.0 / r.rows)),
              "tokens_per_row" -> median(good.map(r => r.tokens.toDouble / r.rows)),
              "retained_heap_mb" -> median(good.map(_.heapMb)))
            EndToEnd.map { case (n, u) => Metric(n, vals(n), u) }
          }
        } else traced(runner, in, w, o, end, count, notes)
      // a failed check anywhere in the process publishes no metric
      Result(failed == 0, attempted, failed,
        if (failed == 0) metrics else Nil, notes.toSeq)
    } finally runner.stop()
  }

  /** Traced mode: pairs of an untraced and a traced run (the order
    * flipping from pair to pair, so neither side is always the warmer one)
    * until time is up, then one staged replay. Per-layer values are medians over the traced runs;
    * spans go to `<work>/traces/`. */
  private def traced(runner: Runner, in: Inputs, w: Workload, o: Options,
                     end: Long, count: Rep => Rep,
                     notes: mutable.ArrayBuffer[String]): Seq[Metric] = {
    val untraced = mutable.ArrayBuffer.empty[Rep]
    val traced = mutable.ArrayBuffer.empty[Rep]
    val traces = mutable.ArrayBuffer.empty[Trace]
    do {
      val t = new Trace(s"${w.name}-${o.seed}-traced-${traces.size}")
      val pair = Seq(() => untraced += count(runner.run(in, None, o.broken)),
        () => traced += count(runner.run(in, Some(t), o.broken)))
      (if (traces.size % 2 == 0) pair else pair.reverse).foreach(_())
      traces += t
    } while (System.nanoTime() < end)
    val stagedTrace = new Trace(s"${w.name}-${o.seed}-staged")
    val staged = runner.staged(in, stagedTrace)
    val file = o.work.resolve("traces").resolve(s"${w.name}-${o.seed}.jsonl")
    val all = new Trace("all")
    (traces :+ stagedTrace).foreach(_.spans.foreach(all.add))
    all.writeJsonl(file)
    notes += s"spans written to $file"
    if (traced.exists(!_.ok) || untraced.exists(!_.ok)) return Nil

    val keys = traced.flatMap(_.layer.keys).distinct
    val layer = keys.map(k => k -> median(traced.flatMap(_.layer.get(k)).toSeq)).toMap
    val rate = (rs: Seq[Rep]) => median(rs.map(r => r.rows / r.wallS))
    val fused = median(untraced.map(_.wallS).toSeq)
    val vals = layer ++ staged ++ Map(
      "trace.staged_vs_fused" -> staged("trace.staged_sum_s") / fused,
      "trace.untraced_rows_per_s" -> rate(untraced.toSeq),
      "trace.traced_rows_per_s" -> rate(traced.toSeq),
      "trace.overhead_rows_per_s" -> (rate(traced.toSeq) - rate(untraced.toSeq)))

    if (!w.durable)
      notes += "n/a run.*: the fast path keeps no run dir or ledger on this workload; reported as 0"
    if (w.retrievalReplay)
      notes += "rag.*, verify.attach_s: timed by the staged replay on the evidence_enrich " +
        "inputs; this workload's own runs do no retrieval"
    else if (!w.evidence)
      notes += "n/a rag.*, verify.attach_s: no evidence retrieval on this workload; reported as 0"
    if (!staged.contains("ops.autoretry_s"))
      notes += "n/a ops.autoretry_s: no row came back blank, so no auto-retry ran; reported as 0"
    if (!w.durable)
      notes += "ops.merge_s: the fast path merges nothing; the staged replay times ResultMerger.merge anyway"
    else
      notes += "run.ledger_read_s: on a resume the ledger is read inside the workset and dedup actions and counts there"
    notes += f"tracing overhead: ${vals("trace.overhead_rows_per_s")}%.1f rows/s " +
      f"(traced ${vals("trace.traced_rows_per_s")}%.1f vs untraced ${vals("trace.untraced_rows_per_s")}%.1f); " +
      f"staged sum ${staged("trace.staged_sum_s")}%.3f s vs fused $fused%.3f s"
    PerLayer.map { case (n, u) => Metric(n, vals.getOrElse(n, 0.0), u) }
  }
}
