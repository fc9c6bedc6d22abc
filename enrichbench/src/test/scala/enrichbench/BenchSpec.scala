package enrichbench

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private val work = Paths.get("target", "test-work").toAbsolutePath

  private def opts(w: String, trace: Boolean = false,
                   broken: Option[String] = None, scale: Double = 0.02) =
    Options(w, seed = 7, seconds = 0.1, trace = trace, work = work,
      scale = scale, broken = broken)

  test("self time is the span minus the union of its children") {
    val parent = Span("p", 0, 100, None, "r")
    val kids = Seq(Span("a", 10, 30, Some("p"), "r"),
      Span("b", 20, 50, Some("p"), "r"), // overlaps a: counted once
      Span("c", 90, 120, Some("p"), "r"), // reaches past the parent
      Span("d", 60, 60, Some("p"), "r")) // empty
    assert(Trace.selfUs(parent, kids) == 100 - (40 + 10))
    assert(Trace.selfUs(parent, Nil) == 100)
    assert(Trace.unionUs(Seq((5L, 7L), (0L, 3L), (2L, 4L))) == 6)
    assert(Trace.coveredUs(0, 10, Seq((-5L, 2L), (8L, 30L))) == 4)
  }

  test("phase classifier attributes each durable-path action") {
    val ledger = "/w/runs/r1/responses"
    def c(f: String, plan: String) = Phases.classify(f, plan, ledger)
    assert(c("command",
      s"InsertIntoHadoopFsRelationCommand file:$ledger, false, Parquet") ==
      "ledger_write")
    assert(c("command",
      "InsertIntoHadoopFsRelationCommand file:/w/runs/r1/chunks_17, false") ==
      "workset")
    assert(c("head", "BroadcastHashJoin [_row_index#1L], [_row_index#9L], LeftAnti") ==
      "workset")
    assert(c("head", "ObjectHashAggregate(keys=[], functions=[percentile_approx(_row_index)])") ==
      "workset")
    assert(c("head", s"SortAggregate(keys=[_row_index], functions=[max_by(_best)])\n" +
      s"FileScan parquet [_row_index] Location: InMemoryFileIndex(1 paths)[file:$ledger]") ==
      "dedup")
    assert(c("head", s"FileScan parquet Location: InMemoryFileIndex[file:$ledger]") ==
      "ledger_read")
    assert(c("collect", "SortMergeJoin [_row_index], [_row_index], LeftOuter") == "merge")
    assert(c("count", "InMemoryTableScan [id, text]") == "other")
  }

  test("fault injection is keyed on (seed, payload) and per run") {
    val f = Faults(failEvery = 1)
    def firstAttempt(run: String): Boolean = {
      RunState.open(run, record = false)
      try {
        new BenchClient(run, 3, f).invoke("p", None); true
      } catch { case _: graft.llm.NetworkError => false }
      finally RunState.close(run)
    }
    // every payload fails its first attempt in each fresh run
    assert(!firstAttempt("a") && !firstAttempt("b"))
    RunState.open("c", record = true)
    try {
      val c = new BenchClient("c", 3, f)
      intercept[graft.llm.NetworkError](c.invoke("p", None))
      assert(c.invoke("p", None).text == Check.md5("p"))
      assert(RunState.get("c").failedAttempts.get == 1)
    } finally RunState.close("c")
  }

  test("every workload runs and passes its checks at a tiny size") {
    for (w <- Workloads.runnable.map(_.name)) {
      val r = Main.measure(opts(w))
      assert(r.correct, s"$w: ${r.notes.mkString("; ")}")
      assert(r.metrics.map(_.name) == Main.EndToEnd.map(_._1), w)
      assert(r.metrics.forall(m => m.value > 0), s"$w: ${r.metrics}")
    }
  }

  test("the traced run reports every per-layer metric and holds the gates") {
    val r = Main.measure(opts("crash_resume", trace = true))
    assert(r.correct, r.notes.mkString("; "))
    val m = r.metrics.map(x => x.name -> x.value).toMap
    assert(r.metrics.map(_.name) == Main.PerLayer.map(_._1))
    assert(m("run.rows_lost") == 0 && m("run.reinvoked_rows") == 0)
    assert(m("llm.calls") > 0 && m("spark.jobs") > 0 && m("run.ledger_files") > 0)
    assert(m("run.ledger_write_s") > 0 && m("run.workset_s") > 0)
  }

  test("the command line takes only the benchmark's arguments") {
    val base = Array("--workload", "crash_resume", "--seed", "3", "--seconds", "2",
      "--trace", "1")
    val o = Main.parse(base)
    assert(o.workload == "crash_resume" && o.seed == 3 && o.trace)
    assert(o.scale == 1.0 && o.broken.isEmpty)
    // a broken client or a scaled workload is for the tests only
    intercept[IllegalArgumentException](Main.parse(base ++ Array("--broken", "drop")))
    intercept[IllegalArgumentException](Main.parse(base ++ Array("--scale", "0.5")))
    intercept[IllegalArgumentException](Main.parse(base.take(6)))
  }

  test("a client that drops rows makes the run fail and publish no time") {
    val r = Main.measure(opts("enrich_inline", broken = Some("drop")))
    assert(!r.correct && r.failed > 0 && r.metrics.isEmpty)
    assert(r.notes.exists(_.contains("is not the reply")), r.notes)
  }

  test("a crash-phase client whose ledgered rows need re-invoking fails the gate") {
    // large enough that the first chunk commits before the crash
    val r = Main.measure(opts("crash_resume", broken = Some("drop"), scale = 0.5))
    assert(!r.correct && r.metrics.isEmpty)
    assert(r.notes.exists(_.contains("re-invoked")), r.notes)
  }
}
