package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec
import graft.llm.MockLlmClient
import graft.run.Enricher

/** Generated code is reused across runs: nothing run-specific (an attempt
  * salt, a run id) may be inlined into a plan as a literal, or every
  * `enrich` call pays Janino compiles again. Lives under `org.apache.spark`
  * because `CodegenMetrics` is private to Spark. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  test("a second identical fast-path enrich compiles no new code") {
    val texts = (0 until 80).map(i => s"codegen row $i")
    def run(): Unit = {
      val r = Enricher.enrich(texts.toDF("text"), "CG:{text}", Seq("out"),
        new MockLlmClient(), batchSize = 8)
      assert(r.data.collect().length == texts.size)
    }
    run()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val again = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(again == 0, s"second identical run compiled $again new class(es)")
  }
}
