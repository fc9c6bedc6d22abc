package graft.ops

import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.concurrent.{Await, ExecutionContext, ExecutionContextExecutorService, Future}
import scala.concurrent.duration.Duration
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

import graft.core.{ErrorPolicy, LlmSpec, ProcessingSpec, PromptSpec}
import graft.llm._

/** Per-executor singletons for the Invoke operator: one rate-limit bucket and
  * one bounded call pool per run per JVM. On a cluster each executor holds a
  * bucket with rate = rpm / numExecutors (the reference's per-worker split;
  * its Redis bucket is the exact-global answer — ondine/utils/
  * redis_rate_limiter.py's scope-key design ports directly when needed).
  */
object ClientPool {
  private val log = org.slf4j.LoggerFactory.getLogger(ClientPool.getClass)
  private val limiters = new ConcurrentHashMap[String, GlobalBucket]()
  private val adaptives = new ConcurrentHashMap[String, AdaptiveLimiter]()
  private val pools = new ConcurrentHashMap[String, ExecutionContextExecutorService]()
  private val abandonedCtrs =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** Executor count for the per-worker rpm split of NON-coordinated
    * buckets (worker-local limiter at rate = rpm / executors ≈ the global
    * rate; the coordinated buckets need no split — they ARE the global
    * bucket). local[*] → one JVM → Some(1). On a cluster:
    * `spark.executor.instances` when set; under dynamic allocation (which
    * leaves it unset) the `maxExecutors` bound — dividing by MORE than
    * the live count under-admits, the safe failure direction. A
    * deployment with neither conf returns None: that configuration
    * cannot be split honestly, and [[requireSplit]] REFUSES it for a
    * worker-local bucket instead of silently granting every executor the
    * full rate (aggregate admission × fleet size — the one config where
    * a default multiplies). */
  private[graft] def splitFor(master: String, instances: Option[String],
                            maxExecutors: Option[String]): Option[Int] =
    if (master.startsWith("local")) Some(1)
    else instances.flatMap(_.toIntOption) // parsed independently: a malformed
      .orElse(maxExecutors.flatMap(_.toIntOption)) // instances must not hide
      .map(math.max(1, _)) // a valid maxExecutors bound

  private[ops] def executorSplit: Option[Int] =
    try {
      val conf = org.apache.spark.SparkEnv.get.conf
      splitFor(conf.get("spark.master", "local"),
        conf.getOption("spark.executor.instances"),
        conf.getOption("spark.dynamicAllocation.maxExecutors"))
    } catch { case _: Throwable => Some(1) } // off-Spark: one JVM

  /** Fail fast when an uncoordinated rpm cannot be split honestly. */
  private[graft] def requireSplit(split: Option[Int]): Int =
    split.getOrElse(throw new IllegalArgumentException(
      "uncoordinated rate_limit_rpm needs a knowable executor count to " +
        "split the global rate: set spark.executor.instances or " +
        "spark.dynamicAllocation.maxExecutors, or use a coordinated " +
        "scope (redis://host:port/scope, bucket://host:port/scope, or " +
        "a shared file path) which needs no split"))

  /** Parse `host:port` from a scope URI, failing with the scheme's usage
    * message instead of a raw MatchError/NumberFormatException. */
  private def hostPort(hp: String, usage: String): (String, Int) =
    hp.split(":", 2) match {
      case Array(host, port) if host.nonEmpty && port.nonEmpty &&
          port.forall(_.isDigit) && port.length <= 5 =>
        (host, port.toInt)
      case _ => throw new IllegalArgumentException(usage)
    }

  /** Count of calls abandoned by the Invoke dequeue backstop whose pool
    * threads are still wedged (decremented if a wedged call ever
    * completes). When it reaches the pool size, every pool thread is
    * known-wedged and QUEUED calls can never start — the backstop uses
    * this to resolve them instead of waiting for a heartbeat that will
    * never arm. */
  def abandonedCount(runId: String, size: Int): java.util.concurrent.atomic.AtomicInteger =
    abandonedCtrs.computeIfAbsent(s"$runId:$size",
      _ => new java.util.concurrent.atomic.AtomicInteger(0))

  // Singleton keys fold the CONFIG in alongside the runId: two runs that
  // share a runId (e.g. a reused runDir) but carry different rpm/size no
  // longer silently reuse the first run's mis-sized pool — they get their
  // own. shutdown(runId) sweeps every config variant by prefix.

  /** Per-run bucket, picked by scope:
    *   - `redis://host:port/scope` → [[RedisBucket]] against a Redis
    *     server (exact MULTI-host bucket via atomic server-side Lua;
    *     local-fallback + circuit breaker on outage — the reference's
    *     production shape, redis_rate_limiter.py; scope is typically
    *     "provider:model")
    *   - `bucket://host:port/scope` → [[SocketBucket]] against a
    *     [[TokenBucketServer]] daemon (exact MULTI-host bucket, no Redis
    *     dependency)
    *   - a filesystem path → [[FileCoordinatedBucket]] (exact one-host)
    *   - none → per-executor [[RateLimiter]] (rate = rpm / numExecutors)
    */
  def limiter(runId: String, rpm: Int, burst: Int,
              scopeFile: Option[String] = None,
              splitHint: Option[Int] = None): GlobalBucket =
    limiters.computeIfAbsent(
      s"$runId:$rpm:$burst:${scopeFile.getOrElse("")}:${splitHint.getOrElse(0)}",
      _ => scopeFile match {
        case Some(uri) if uri.startsWith("redis://") =>
          val usage = s"bad redis scope URI (want redis://host:port/scope): $uri"
          uri.stripPrefix("redis://").split("/", 2) match {
            case Array(hp, scope) =>
              val (host, port) = hostPort(hp, usage)
              // outage fallback: worker-local bucket at rpm/executors —
              // the per-worker SPLIT of the shared rate, so an outage
              // degrades to the uncoordinated approximation instead of
              // multiplying the aggregate admission N× (every executor's
              // breaker opens at once). An explicit rate_limit_split hint
              // wins (the user pre-declares the degraded rate); an
              // unknowable count then keeps the legacy full-rate fallback
              // rather than refusing — the user DID configure
              // coordination, and a refusal at breaker-open time would
              // turn a Redis outage into a hard stop — but the degraded
              // rate is now DECLARED at config time, not discovered
              // mid-outage
              val known = splitHint.orElse(executorSplit)
              if (known.isEmpty)
                log.warn("coordinated scope '{}' on a deployment with no " +
                  "knowable executor count: if the bucket server is " +
                  "unreachable, the breaker-open fallback admits the FULL " +
                  "{} rpm PER EXECUTOR (aggregate = rpm x fleet size); " +
                  "set llm.rate_limit_split or spark.executor.instances " +
                  "to pre-declare a safe degraded rate", scope, rpm)
              val split = known.getOrElse(1)
              new RedisBucket(host, port, scope, rpm, burst,
                fallback = Some(new RateLimiter(
                  math.max(1, rpm / split), math.max(1, burst / split))))
            case _ => throw new IllegalArgumentException(usage)
          }
        case Some(uri) if uri.startsWith("bucket://") =>
          val usage = s"bad bucket scope URI (want bucket://host:port/scope): $uri"
          uri.stripPrefix("bucket://").split("/", 2) match {
            case Array(hp, scope) =>
              val (host, port) = hostPort(hp, usage)
              new SocketBucket(host, port, scope, rpm, burst)
            case _ => throw new IllegalArgumentException(usage)
          }
        case Some(f) => new FileCoordinatedBucket(f, rpm, burst)
        case None    =>
          val split = requireSplit(splitHint.orElse(executorSplit))
          new RateLimiter(math.max(1, rpm / split), math.max(1, burst / split))
      })

  def adaptive(runId: String, initial: Int, max: Int): AdaptiveLimiter =
    adaptives.computeIfAbsent(s"$runId:$initial:$max",
      _ => new AdaptiveLimiter(minLimit = 1, maxLimit = max,
        initialLimit = initial))

  def pool(runId: String, size: Int): ExecutionContextExecutorService =
    pools.computeIfAbsent(s"$runId:$size", _ =>
      ExecutionContext.fromExecutorService(
        Executors.newFixedThreadPool(size, r => {
          val t = new Thread(r, s"graft-invoke-$runId")
          t.setDaemon(true)
          t
        })))

  /** Single scheduler arming per-call deadlines (interrupt-based
    * cancellation); shared across runs, never holds work. */
  val deadlines: java.util.concurrent.ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-invoke-deadline")
      t.setDaemon(true)
      t
    })

  def shutdown(runId: String): Unit = {
    import scala.jdk.CollectionConverters._
    val prefix = s"$runId:"
    pools.keySet.asScala.filter(_.startsWith(prefix)).foreach(k =>
      Option(pools.remove(k)).foreach(_.shutdown()))
    limiters.keySet.asScala.filter(_.startsWith(prefix)).foreach { k =>
      // socket/file buckets hold OS resources (a persistent TCP
      // connection to the bucket daemon, a lock file) — close them or a
      // long-lived executor JVM leaks one connection per finished run
      Option(limiters.remove(k)).foreach {
        case c: AutoCloseable =>
          try c.close() catch { case _: Exception => () }
        case _ => ()
      }
    }
    adaptives.keySet.asScala.filter(_.startsWith(prefix)).foreach(adaptives.remove)
    abandonedCtrs.keySet.asScala.filter(_.startsWith(prefix))
      .foreach(abandonedCtrs.remove)
  }
}

/** The one genuinely custom operator (SURVEY §7.3): LLM invocation as a
  * `mapPartitions` stage. A UDF would be 1-row-synchronous, defeating
  * concurrency, rate limiting, retry-after propagation and batch calls
  * (reference: ondine/stages/llm_invocation_stage.py:39-636 +
  * concurrency_controller.py:31-189).
  *
  * Design for scale:
  *  - Batching is PARTITION-LOCAL: rows are grouped into mega-prompts of
  *    `batchSize` inside each partition (`Iterator.grouped`), so forming
  *    batches costs zero shuffle — unlike a groupBy(floor(idx/N)) which
  *    would shuffle every prompt byte. Batch membership stays deterministic
  *    because `_row_index` is deterministic and partitioning is fixed for a
  *    given input (see RowIndex).
  *  - Disaggregation is fused: the mega-prompt reply is decoded in place and
  *    per-row results are emitted from the same partition pass
  *    (reference does this as two stages; fusing keeps the stage narrow).
  *  - Bounded in-flight window per partition + a per-executor thread pool
  *    capped at `concurrency` gives the same admission control as the
  *    reference's semaphore; 429 penalties drain the shared bucket for all
  *    partitions on the executor.
  *
  * Output columns appended to the input row:
  *   result, error, skipped, _call_id, call_rows, tokens_in, tokens_out,
  *   cost (DECIMAL(38,18) — exact, per-call, duplicated across the call's
  *   rows; aggregate with dropDuplicates(_call_id) first), latency_ms,
  *   model, and `_attempt` when an attempt salt is given.
  */
object Invoke {

  val appendedFields: Seq[StructField] = Seq(
    StructField("result", StringType),
    StructField("error", StringType),
    StructField("skipped", BooleanType, nullable = false),
    StructField("_call_id", LongType),
    StructField("call_rows", IntegerType, nullable = false),
    StructField("tokens_in", LongType, nullable = false),
    StructField("tokens_out", LongType, nullable = false),
    StructField("cost", DecimalType(38, 18)),
    StructField("latency_ms", DoubleType, nullable = false),
    // SERVING deployment (router picks / HTTP `model` echo) — the
    // per-deployment cost/latency attribution key (reference tracks a
    // distribution per deployment, router_strategies.py); null on failure
    StructField("model", StringType))

  /** df must contain `_row_index` (long) and `prompt` (string); all other
    * columns pass through untouched. With `attempt` set, every emitted row
    * also carries it as a non-null `_attempt` long. The value travels in
    * the task closure, not as a plan literal, so runs with different salts
    * share their generated code.
    */
  def apply(df: DataFrame, client: LlmClient, prompt: PromptSpec,
            llm: LlmSpec, proc: ProcessingSpec, runId: String,
            attempt: Option[Long] = None): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ appendedFields ++
      attempt.map(_ => StructField("_attempt", LongType, nullable = false)))
    val idxAt = inSchema.fieldIndex(RowIndex.ColName)
    val promptAt = inSchema.fieldIndex("prompt")
    val batchSize = prompt.batchSize
    val system = prompt.systemMessage
    val conc = llm.concurrency
    val rpm = llm.requestsPerMinute
    val maxRetries = llm.maxRetries
    val baseMs = llm.backoffBaseMs
    val capMs = llm.backoffCapMs
    val policy = proc.errorPolicy
    val default = proc.defaultValue
    val timeoutMs = llm.timeoutMs

    val adaptiveOn = llm.adaptiveConcurrency
    val maxConc = llm.maxConcurrency

    val scopeFile = llm.rateLimitScopeFile
    val splitHint = llm.rateLimitSplit
    df.mapPartitions { rows =>
      val limiter = rpm.map(r =>
        ClientPool.limiter(runId, r, math.max(1, r / 10), scopeFile,
          splitHint))
      val adaptive =
        if (adaptiveOn) Some(ClientPool.adaptive(runId, conc, maxConc))
        else None
      // pool sized at the adaptive MAX; the adaptive limiter gates admission
      implicit val ec: ExecutionContext =
        ClientPool.pool(runId, if (adaptiveOn) maxConc else conc)

      val groups: Iterator[Seq[(Long, String, Row)]] =
        rows.map(r => (r.getLong(idxAt), r.getString(promptAt), r))
          .grouped(batchSize).map(_.toSeq)

      /** The fields every row of one call shares, from `_call_id` on,
        * built once per call (`resp` is null for a call that failed). */
      def callFields(callId: Long, callRows: Int,
                     resp: LlmResponse): Array[Any] = {
        val f =
          if (resp == null)
            Array[Any](callId, callRows, 0L, 0L, java.math.BigDecimal.ZERO,
              0.0, null)
          else
            Array[Any](callId, callRows, resp.tokensIn, resp.tokensOut,
              resp.cost, resp.latencyMs, resp.model)
        attempt.fold(f)(a => f :+ a)
      }

      def emit(row: Row, result: String, error: String, skipped: Boolean,
               call: Array[Any]): Row = {
        val n = row.length
        val out = new Array[Any](n + 3 + call.length)
        var i = 0
        while (i < n) { out(i) = row.get(i); i += 1 }
        out(n) = result
        out(n + 1) = error
        out(n + 2) = skipped
        System.arraycopy(call, 0, out, n + 3, call.length)
        new GenericRow(out)
      }

      /** One in-flight call group plus the liveness heartbeat the dequeue
        * backstop reads: `attemptStartNs` is the nanoTime at which the
        * currently-running client attempt began (-1 between attempts —
        * backoff sleeps and limiter waits are bounded/honest and never
        * trip the backstop). */
      final class PendingCall(val group: Seq[(Long, String, Row)]) {
        @volatile var attemptStartNs: Long = -1L
        @volatile var fut: Future[Seq[Row]] = null
        /** Set when the backstop resolved this call through the error
          * policy: a still-queued future must then no-op instead of
          * issuing real provider calls for an already-emitted group. */
        @volatile var abandonedByBackstop: Boolean = false
        /** Once-only release of the adaptive-concurrency permit this call
          * holds. The wedged thread's `finally` never runs, so without
          * this the backstop would leak one adaptive slot per abandoned
          * call — after `initialLimit` wedges no further call could ever
          * pass `acquireBlocking`, the heartbeat would never arm, and the
          * task would hang with the abandoned-counter stuck below the
          * pool size. CAS guards the double-release if a wedged thread
          * eventually does return through its own `finally`. */
        val permitReleased = new java.util.concurrent.atomic.AtomicBoolean(false)
        def releasePermitOnce(adaptive: Option[AdaptiveLimiter]): Unit =
          if (permitReleased.compareAndSet(false, true))
            adaptive.foreach(_.release())
      }

      /** One attempt under the per-call deadline: arm an interrupt at
        * `timeoutMs`, so a hung client (blocking IO, sleep) unwinds as a
        * retryable NetworkError instead of wedging the Spark task forever
        * (reference bounds every call the same way — tenacity timeout).
        * Clients that swallow the interrupt are caught one level up by the
        * dequeue backstop (see `awaitBounded`). */
      def timedInvoke(promptText: String, pending: PendingCall): LlmResponse = {
        if (timeoutMs <= 0) return client.invoke(promptText, system)
        pending.attemptStartNs = System.nanoTime()
        val caller = Thread.currentThread()
        // `done` + lock close the cancel race: without it, a trigger
        // already PAST cancel(false) could interrupt the caller after the
        // finally-block clear, poisoning the next blocking op (backoff
        // sleep, limiter acquire, shuffle write) with a stray interrupt
        val lock = new Object
        var done = false
        val trigger = ClientPool.deadlines.schedule(
          new Runnable {
            def run(): Unit =
              lock.synchronized { if (!done) caller.interrupt() }
          },
          timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        try client.invoke(promptText, system)
        catch {
          case _: InterruptedException =>
            throw new NetworkError(s"call exceeded ${timeoutMs}ms deadline")
        } finally {
          pending.attemptStartNs = -1L
          trigger.cancel(false)
          lock.synchronized { done = true }   // no interrupt can fire past here
          Thread.interrupted() // clear one that raced in before the gate
        }
      }

      /** A failed call's rows under the error policy: SKIP marks them
        * skipped, USE_DEFAULT fills the default, anything else rethrows. */
      def resolveFailed(group: Seq[(Long, String, Row)],
                        e: Throwable): Seq[Row] = {
        val call = callFields(group.head._1, group.size, null)
        policy match {
          case ErrorPolicy.Skip =>
            group.map { case (_, _, row) =>
              emit(row, null, e.getMessage, skipped = true, call)
            }
          case ErrorPolicy.UseDefault =>
            group.map { case (_, _, row) =>
              emit(row, default, e.getMessage, skipped = false, call)
            }
          case _ => throw e // Fail / Retry-exhausted
        }
      }

      def callOne(pending: PendingCall): Seq[Row] = {
        if (pending.abandonedByBackstop) return Seq.empty
        val group = pending.group
        val callId = group.head._1
        val single = group.size == 1 && batchSize == 1
        val promptText =
          if (single) group.head._2
          else BatchCodec.encodeMegaPrompt(BatchCodec.BatchMarker,
            group.map(g => (g._1, g._2)))
        try {
          limiter.foreach(_.acquire())
          adaptive.foreach(_.acquireBlocking())
          // a call abandoned while it waited for a permit (pool-wedged
          // rule) must not issue real provider calls for rows the
          // backstop already emitted
          if (pending.abandonedByBackstop) {
            pending.releasePermitOnce(adaptive)
            return Seq.empty
          }
          val resp =
            try RetryHandler.withRetries(maxRetries, baseMs, capMs, limiter) {
              try timedInvoke(promptText, pending)
              catch { case e: RateLimitError =>
                adaptive.foreach(_.onRateLimit()); throw e
              }
            } finally pending.releasePermitOnce(adaptive)
          adaptive.foreach(_.onSuccess(resp.latencyMs))
          val byId: Map[Long, String] =
            if (single) Map(callId -> resp.text)
            else BatchCodec.decodeResults(resp.text).toMap
          val call = callFields(callId, group.size, resp)
          group.map { case (idx, _, row) =>
            // ids absent from the reply pad to null → parser → null output
            // → auto-retry picks them up (reference:
            // batch_disaggregator_stage.py:158-163)
            emit(row, byId.getOrElse(idx, null), null, skipped = false, call)
          }
        } catch {
          case e: Throwable => resolveFailed(group, e)
        }
      }

      /** Dequeue backstop for clients that swallow the deadline interrupt
        * (native code, catch-all retry loops): timedInvoke normally unwinds
        * every attempt within `timeoutMs`, so an attempt still running at
        * 4x its deadline means the interrupt was ignored. Stop waiting and
        * resolve the group through the error policy — the wedged daemon
        * pool thread is abandoned (its late result, if any, is dropped)
        * instead of wedging the Spark task with it.
        *
        * Waits with NO attempt running (pool queue, limiter acquire,
        * backoff sleep) are honest and never trip the per-attempt rule —
        * EXCEPT when every pool thread is known-wedged: abandoned calls
        * are counted per pool (decremented if one ever completes), and
        * once the count reaches the pool size a queued call can never
        * start, so its heartbeat would never arm and the first backstop
        * shipped here would spin forever. Such calls resolve through the
        * error policy too, and their future is flagged so a later start
        * (a wedged thread finally dying) cannot issue real provider calls
        * for an already-emitted group. timeoutMs <= 0 keeps the old
        * unbounded wait (mock/test clients only; PipelineSpec.validate
        * rejects it). */
      val poolSize = if (adaptiveOn) maxConc else conc
      val abandonedCtr = ClientPool.abandonedCount(runId, poolSize)
      val wedgeBoundNs: Long =
        math.max(4L * timeoutMs, timeoutMs + 1000L) * 1000000L
      def awaitBounded(p: PendingCall): Seq[Row] = {
        if (timeoutMs <= 0) return Await.result(p.fut, Duration.Inf)
        val poll = Duration(math.max(timeoutMs / 4, 50L),
          java.util.concurrent.TimeUnit.MILLISECONDS)
        while (true) {
          try return Await.result(p.fut, poll)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              val st = p.attemptStartNs
              val attemptWedged =
                st >= 0L && System.nanoTime() - st > wedgeBoundNs
              val poolWedged = st < 0L && abandonedCtr.get() >= poolSize
              if (attemptWedged || poolWedged) {
                if (attemptWedged) {
                  abandonedCtr.incrementAndGet()
                  p.fut.onComplete(_ => abandonedCtr.decrementAndGet())(
                    ExecutionContext.parasitic)
                  // free the adaptive slot the wedged thread holds, or
                  // after initialLimit wedges nothing could ever run
                  p.releasePermitOnce(adaptive)
                }
                p.abandonedByBackstop = true
                val err = new NetworkError(
                  if (attemptWedged)
                    s"client ignored the ${timeoutMs}ms deadline interrupt; " +
                      "abandoning the call (dequeue backstop)"
                  else
                    s"all $poolSize pool threads wedged by abandoned " +
                      "calls; resolving queued call (dequeue backstop)")
                return resolveFailed(p.group, err)
              }
          }
        }
        throw new IllegalStateException("unreachable")
      }

      // Pull-based bounded pipeline: at most `conc` calls in flight per
      // partition; results are drained in submission order so output stays
      // deterministic and memory is O(conc * batchSize) rows.
      new Iterator[Row] {
        private val inflight = mutable.Queue.empty[PendingCall]
        private var current: Iterator[Row] = Iterator.empty
        private def fill(): Unit =
          while (groups.hasNext && inflight.size < conc)
            inflight.enqueue {
              val p = new PendingCall(groups.next())
              p.fut = Future(callOne(p))
              p
            }
        fill()
        def hasNext: Boolean = current.hasNext || inflight.nonEmpty
        def next(): Row = {
          if (!current.hasNext) {
            val done = awaitBounded(inflight.dequeue())
            fill()
            current = done.iterator
          }
          current.next()
        }
      }
    }(Encoders.row(outSchema))
  }
}
