package enrichbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.llm._

/** What the benchmark's client injects, all decided from (seed, payload):
  * the same seed injects the same faults in every run. */
final case class Faults(
    /** Fixed sleep per call attempt, in ms. */
    latencyMs: Long = 0L,
    /** A payload whose hash is 0 mod `failEvery` fails its first attempt
      * with a retryable error (0 = never). */
    failEvery: Int = 0,
    /** A batch item whose hash is 0 mod `dropEvery` is left out of the
      * first reply that carries it (0 = never). */
    dropEvery: Int = 0,
    /** Attempts after this many raise a non-retryable error (0 = never). */
    crashAfter: Long = 0L,
    /** Broken client for the benchmark's own tests: dropped items stay
      * dropped on every attempt, so the run cannot heal them. */
    dropForever: Boolean = false)

/** One call attempt as the client saw it. */
final case class CallRecord(startUs: Long, endUs: Long, ids: Array[Long],
                            ok: Boolean)

/** Per-run state of [[BenchClient]]. Client instances are re-serialized
  * into every task closure, so state cannot live on the instance: it lives
  * here, keyed by a run id unique to each run and dropped when the run
  * ends. */
final class RunState(val record: Boolean) {
  val attempts = new AtomicLong
  val failedAttempts = new AtomicLong
  val promptBytes = new AtomicLong
  val replyBytes = new AtomicLong
  val tokens = new AtomicLong
  /** Item counts (recorded runs only): sent over all attempts, answered,
    * and answered with a prompt text this run had not answered before. */
  val itemsSent = new AtomicLong
  val itemsAnsweredNew = new AtomicLong
  val itemsAnswered = new AtomicLong
  val itemsAnsweredDup = new AtomicLong
  val inflight = new AtomicInteger
  val failedPayloads: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val droppedIds: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val answeredPrompts: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  val calls = new ConcurrentLinkedQueue[CallRecord]()
}

object RunState {
  private val states = new ConcurrentHashMap[String, RunState]()
  def open(runId: String, record: Boolean): RunState = {
    val s = new RunState(record)
    require(states.putIfAbsent(runId, s) == null, s"run id reused: $runId")
    s
  }
  def get(runId: String): RunState =
    Option(states.get(runId)).getOrElse(
      throw new IllegalStateException(s"no open run $runId"))
  def close(runId: String): Unit = states.remove(runId)
}

/** The benchmark's provider: the deterministic [[MockLlmClient]] (reply =
  * md5 of each item's prompt) behind seed-keyed latency and fault
  * injection, with per-run accounting for the `llm.*` metrics. */
final class BenchClient(runId: String, seed: Long, faults: Faults)
    extends LlmClient {
  private val inner = new MockLlmClient()
  override def model: String = inner.model

  private def isBatch(p: String) = p.startsWith(BatchCodec.BatchMarker)

  def invoke(prompt: String, systemMessage: Option[String]): LlmResponse = {
    val st = RunState.get(runId)
    val t0 = Trace.nowUs()
    val n = st.attempts.incrementAndGet()
    st.inflight.incrementAndGet()
    val batch = isBatch(prompt)
    // item-level work only where a metric or a fault needs it, so the
    // untraced fast path pays for little more than the mock itself
    val items: Seq[(Long, String)] =
      if (!st.record && faults.dropEvery == 0) Nil
      else if (batch) BatchCodec.decodeItems(prompt)
      else Seq((-1L, prompt))
    if (st.record) {
      st.itemsSent.addAndGet(items.size)
      st.promptBytes.addAndGet(prompt.getBytes(StandardCharsets.UTF_8).length)
    }
    var ok = false
    try {
      if (faults.crashAfter > 0 && n > faults.crashAfter)
        throw new AuthError(s"injected crash at attempt $n")
      if (faults.latencyMs > 0) Thread.sleep(faults.latencyMs)
      if (faults.failEvery > 0) {
        val h = BenchClient.hash(seed, prompt)
        if (Math.floorMod(h, faults.failEvery.toLong) == 0 &&
            st.failedPayloads.add(h))
          throw new NetworkError(s"injected transient failure, attempt $n")
      }
      val resp0 = inner.invoke(prompt, systemMessage)
      val dropped: Set[Long] =
        if (faults.dropEvery == 0 || !batch) Set.empty
        else items.collect {
          case (id, p) if Math.floorMod(BenchClient.hash(seed, s"$id\u0000$p"),
              faults.dropEvery.toLong) == 0 &&
              (st.droppedIds.add(id) || faults.dropForever) => id
        }.toSet
      val resp =
        if (dropped.isEmpty) resp0
        else {
          val text = BatchCodec.encodeResults(
            BatchCodec.decodeResults(resp0.text).filterNot(r => dropped(r._1)))
          resp0.copy(text = text, tokensOut = inner.estimateTokens(text))
        }
      if (st.record) {
        items.foreach { case (id, p) =>
          if (!dropped(id)) {
            st.itemsAnswered.incrementAndGet()
            if (st.answeredPrompts.add(BenchClient.hash(seed, p)))
              st.itemsAnsweredNew.incrementAndGet()
            else st.itemsAnsweredDup.incrementAndGet()
          }
        }
        st.replyBytes.addAndGet(resp.text.getBytes(StandardCharsets.UTF_8).length)
      }
      st.tokens.addAndGet(resp.tokensIn + resp.tokensOut)
      ok = true
      resp
    } finally {
      if (!ok) st.failedAttempts.incrementAndGet()
      st.inflight.decrementAndGet()
      if (st.record)
        st.calls.add(CallRecord(t0, Trace.nowUs(), items.map(_._1).toArray, ok))
    }
  }
}

object BenchClient {
  /** 64-bit hash of (seed, text): the first 8 bytes of md5. */
  def hash(seed: Long, text: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(java.nio.ByteBuffer.allocate(8).putLong(seed).array())
    java.nio.ByteBuffer.wrap(d.digest(text.getBytes(StandardCharsets.UTF_8)))
      .getLong
  }
}
