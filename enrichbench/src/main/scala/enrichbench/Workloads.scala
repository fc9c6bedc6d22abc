package enrichbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core._

/** One closed-loop workload: a single batch enrichment job at a time. */
final case class Workload(
    name: String,
    rows: Long,
    batch: Int,
    concurrency: Int = 8,
    faults: Faults = Faults(),
    autoRetry: Int = 0,
    /** Share of rows that repeat an earlier row's text. */
    dupShare: Double = 0.0,
    /** > 0: the durable path, with a run dir and chunks of this many rows. */
    chunkRows: Int = 0,
    /** Share of the expected calls after which the crash phase aborts. */
    crashAt: Double = 0.0,
    /** > 0: evidence retrieval against a corpus of this many claims. */
    claims: Int = 0,
    topK: Int = 3,
    minScore: Double = 0.1,
    /** The traced run also times the rag and verify stages on the
      * `evidence_enrich` inputs (see [[Workloads.all]]). */
    retrievalReplay: Boolean = false) {

  def durable: Boolean = chunkRows > 0
  def evidence: Boolean = claims > 0

  def template: String =
    if (evidence) "Check the claim: {text}" else "Classify the tone of: {text}"
  def templatePrefix: String = template.stripSuffix("{text}")

  def spec: PipelineSpec = PipelineSpec(
    dataset = DatasetSpec(Seq("text")),
    prompt = PromptSpec(template, batchSize = batch),
    llm = LlmSpec(concurrency = concurrency),
    processing = ProcessingSpec(
      chunkRows = if (durable) chunkRows else ProcessingSpec().chunkRows,
      autoRetryAttempts = autoRetry),
    output = OutputSpec(Seq("answer")),
    evidence =
      if (evidence) Some(EvidenceSpec(idCol = "claim_id", textCol = "text",
        topK = topK, minScore = minScore))
      else None)

  /** The same workload at a fraction of its size (tests). */
  def scaled(f: Double): Workload = copy(
    rows = math.max(4L * batch, (rows * f).toLong),
    chunkRows = if (durable) math.max(2 * batch, (chunkRows * f).toInt) else 0,
    claims = if (evidence) math.max(20, (claims * f).toInt) else 0)

  /** Input text of row `id` under `seed`. */
  def text(seed: Long, id: Long): String =
    if (evidence) Gen.query(seed, id)
    else if (dupShare > 0) Gen.pacedText(seed, id, dupShare)
    else Gen.review(seed, id)

  /** Calls a run without faults makes, one per batch. */
  def expectedCalls: Long = (rows + batch - 1) / batch
}

object Workloads {
  val EnrichInline = Workload("enrich_inline", rows = 60000, batch = 50,
    retrievalReplay = true)
  val EnrichPaced = Workload("enrich_paced", rows = 4000, batch = 10,
    faults = Faults(latencyMs = 25, failEvery = 50, dropEvery = 100),
    autoRetry = 1, dupShare = 0.25)
  val CrashResume = Workload("crash_resume", rows = 8000, batch = 50,
    chunkRows = 4000, crashAt = 0.6)
  val EvidenceEnrich = Workload("evidence_enrich", rows = 300, batch = 20,
    claims = 150)

  /** The benchmark's workloads. `enrich_paced` and `evidence_enrich` run
    * by name but are not among them: each run of the benchmark pays 20–30 s
    * of JVM start and set-up, and on a host whose speed drifts from minute
    * to minute two workloads with 25 s of measured runs each fit the
    * benchmark's time budget where three with 12 s spread past their
    * bounds. `enrich_paced` went as its layers (`llm.*`, auto-retry) are
    * also exercised by the other two. A cold run of `evidence_enrich` took
    * 30–45 s and its runs spread by a fifth; the traced run of
    * `enrich_inline` times its rag and verify stages instead. */
  val all: Seq[Workload] = Seq(EnrichInline, CrashResume)

  val runnable: Seq[Workload] = all ++ Seq(EnrichPaced, EvidenceEnrich)

  def byName(n: String): Workload = runnable.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${runnable.map(_.name).mkString(", ")})"))
}

/** A workload's generated inputs, kept in the session as persisted RDDs:
  * the runs clear every cached Dataset between them (see [[Runner.run]]),
  * which leaves these in place. */
final class Inputs(spark: SparkSession, val w: Workload, val seed: Long) {
  private val (table0, claims0) = (
    Inputs.frame(spark, w.rows, "id", Inputs.textOf(w, seed)),
    if (!w.evidence) None
    else Some(Inputs.frame(spark, w.claims.toLong, "claim_id",
      Inputs.claimOf(seed))))
  val table: DataFrame = table0._1
  val claims: Option[DataFrame] = claims0.map(_._1)

  def claimTexts: Seq[(Long, String)] =
    (0L until w.claims.toLong).map(i => (i, Gen.claim(seed, i)))

}

object Inputs {
  private def textOf(w: Workload, seed: Long): Long => String = w.text(seed, _)
  private def claimOf(seed: Long): Long => String = Gen.claim(seed, _)

  /** Rows (idCol, text) for ids `0 until n`, generated by the executors. */
  private def frame(spark: SparkSession, n: Long, idCol: String,
                    text: Long => String): (DataFrame, RDD[Row]) = {
    val rdd = spark.sparkContext
      .range(0L, n, 1L, 2 * spark.sparkContext.defaultParallelism)
      .map(i => Row(i, text(i)))
      .persist(StorageLevel.MEMORY_ONLY)
    rdd.count()
    (spark.createDataFrame(rdd, StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("text", StringType, nullable = false)))), rdd)
  }
}
