package graft

import org.apache.spark.sql.functions._
import graft.llm.MockLlmClient
import graft.run.Enricher

/** Physical-plan assertions — the "would this survive 100x scale-up"
  * checks: filters and projections must reach the parquet scan, small dims
  * must broadcast, and the enrichment fast path must stay shuffle-free.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val p = plan(graft.queries.RelationalQueries.q02FilterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("GreaterThan(l_quantity"), "l_quantity filter not pushed")
    // pruned read schema: only the 4 referenced columns, not all 11
    assert(!p.contains("l_returnflag"), "read schema not pruned")
  }

  test("MIN/MAX/COUNT push down to parquet footers (scan-less aggregates)") {
    // footer-stat aggregates are the cheapest possible 100 TB query: the
    // scan reads row-group metadata, never data pages. V2 source only —
    // parquet must leave the V1 list for the pushdown rule to apply.
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    val prevAgg = spark.conf.getOption("spark.sql.parquet.aggregatePushdown")
    try {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      spark.conf.set("spark.sql.sources.useV1SourceList",
        prevV1.split(",").filterNot(_.trim == "parquet").mkString(","))
      val df = spark.read.parquet(s"$dir/lineitem.parquet")
        .agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"),
          count(lit(1)).as("n"))
      val p = plan(df)
      assert(p.contains("PushedAggregation: [MIN(l_orderkey), " +
        "MAX(l_orderkey), COUNT(*)]"),
        s"footer aggregate not pushed:\n$p")
      // and the pushed answer must equal the unpushed one
      val pushed = df.collect().head
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      val exact = spark.read.parquet(s"$dir/lineitem.parquet")
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
        .collect().head
      assert(pushed.toSeq === exact.toSeq)
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
      prevAgg match {
        case Some(v) => spark.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None => spark.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
    }
  }

  test("dimension joins broadcast (no fact-table shuffle for the dim side)") {
    val p = plan(graft.queries.RelationalQueries.q03SegmentRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("enrichment fast path is shuffle-free") {
    import spark.implicits._
    val df = (0 until 100).map(i => s"t$i").toDF("text")
    val r = Enricher.enrich(df, "P:{text}", Seq("out"),
      new MockLlmClient(), batchSize = 10)
    val p = plan(r.data)
    assert(!p.contains("Exchange"),
      s"fast-path enrichment must not shuffle:\n$p")
  }

  test("clean fast-path enrich runs one Spark job and writes no shuffle") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"plan-one-job-${System.nanoTime()}"
    val marker = group + "-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull
        if (g == group) {
          jobs.add(e.jobId)
          e.stageInfos.foreach(si => stages.add(si.stageId))
        }
        if (g == marker) markerSeen.countDown()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.contains(e.stageInfo.stageId) &&
            e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val df = (0 until 200).map(i => s"j$i").toDF("text")
      sc.setJobGroup(group, "fast-path enrich")
      val r = try Enricher.enrich(df, "J:{text}", Seq("out"),
        new MockLlmClient(), batchSize = 10)
      finally sc.clearJobGroup()
      assert(r.metrics.rows == 200 && r.metrics.calls > 0)
      // the listener bus is ordered: once a later job's start arrives,
      // every event of the enrich's jobs has been delivered
      sc.setJobGroup(marker, "listener barrier")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(markerSeen.await(10, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.size == 1, s"want one job, ran ${jobs.size}")
      assert(stages.size == 1, s"want one stage, planned ${stages.size}")
      assert(shuffleStages.get == 0,
        s"${shuffleStages.get} stage(s) wrote shuffle output")
    } finally sc.removeSparkListener(listener)
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // note: lambda-based array expressions (q30 etc.) are codegen-fallback
    // by design in Spark; the scan->agg pipeline must codegen.
    val df = graft.queries.RelationalQueries.q01PricingSummary(spark, dir)
    df.collect() // finalize THIS df's adaptive plan
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in plan toString
    assert(p.contains("*("), s"expected codegen spans:\n$p")
    assert(p.contains("partial_sum"),
      "expected map-side partial aggregation before the shuffle")
  }

  test("rerank joins broadcast the shortlist; top-k rank pushes down") {
    val p = plan(graft.queries.RagQueries.q64Rerank(spark, dir))
    // every join in the rerank chain must build on the small side —
    // a sort-merge join here would shuffle the corpus per rerank
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rerank must not sort-merge the corpus:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian in rerank")
    // rank<=k evaluates inside WindowGroupLimit (partial top-k before the
    // full window sort), not as a post-window filter over everything
    assert(p.contains("WindowGroupLimit"),
      s"top-k must push into WindowGroupLimit:\n$p")
  }

  test("capped embedding near-dup join moves ids, not vectors") {
    import graft.operators.Similarity
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 13 + d) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    val p = plan(Similarity.embeddingNearDupPairs(vecs, 0.5, 4))
    assert(!p.contains("CartesianProduct"), "bucketed pairs, not all-pairs")
    // no hot buckets in this fixture: the empty-hot anti-join optimizes
    // AWAY entirely (PropagateEmptyRelation) — and capping must never be
    // a count-over-window routing hot buckets through one reducer
    assert(!p.contains("Window"),
      s"capping must not window-partition by bucket:\n$p")
    // with a genuinely hot bucket the cap is a broadcast anti-join
    // (map-side drop) — Skew.dropHotBuckets
    val dup = Array.tabulate(8)(d => (d + 1).toFloat)
    val hotVecs = ((0L until 30L).map(i => (i, dup)) :+
      (100L, dup.map(_ * 2f))).toDF("vec_id", "embedding")
    val hp = plan(Similarity.embeddingNearDupPairs(hotVecs, 0.9, 4,
      maxBucketSize = 10))
    assert(hp.contains("LeftAnti"), s"hot-bucket anti-join cap missing:\n$hp")
    assert(!hp.contains("Window"), "no count-over-window capping")
  }

  test("lsh band-bucket cap is a map-side anti-join, skew-safe under a hot band") {
    import graft.operators.Dedup
    // 40 identical docs: every band value is shared by all 40 — the
    // synthetic hot-band case. With maxBucketSize=10 the hot buckets must
    // drop WITHOUT a window that would serialize them on one reducer.
    val boiler = (0L until 40L).map(i =>
      (i, "common boilerplate header repeated on every page of the site"))
    val df = (boiler ++ Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "the quick brown fox jumps over the sleepy dog again and again")))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, "doc_id", "text",
      numBands = 8, shingleSize = 3, threshold = 0.3, maxBucketSize = 10)
    val p = plan(pairs)
    assert(p.contains("LeftAnti"), s"hot-band anti-join cap missing:\n$p")
    assert(!p.contains("Window"),
      s"band capping must not window-partition by band value:\n$p")
    // functionally: the boilerplate clique's quadratic pairs are gone,
    // the genuine near-dup pair survives via its uncrowded bands
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(got == Seq((100L, 101L)), s"got $got")
  }

  test("IVF probe joins broadcast; the corpus is never cross-joined wide") {
    import graft.operators.Similarity
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 13 + d) % 7 - 3).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs.filter($"vec_id" < 5), vecs, k = 3, numCentroids = 4, nProbe = 2)
    val p = plan(out)
    // the only nested-loop joins are against the broadcast centroid set;
    // candidate selection must be a hash join on cluster, and the wide
    // embedding column must not ride through it
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no corpus cartesian:\n$p")
    // recall sanity: stride centroids + 2/4 probe on a smooth corpus must
    // recover most of the exact top-3
    val exact = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" < 5), vecs, k = 3)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = out.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low; got $approx vs $exact")
  }

  test("range join is an equi-join on buckets, never a nested loop") {
    val p = plan(graft.queries.EventQueries.q56RangeJoin(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join must not nested-loop:\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian")
    assert(p.contains("_rj_bucket"), "bucket key must drive the join")
  }

  test("bucketed tables join without any exchange") {
    import graft.operators.Bucketing
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val facts = (0 until 1000).map(i => (i.toLong % 97, s"f$i"))
      .toDF("k", "payload")
    val dims = (0 until 500).map(i => (i.toLong % 97, i * 2))
      .toDF("k", "score")
    Bucketing.writeBucketed(facts, "bk_facts", s"$dir/facts", "k", 8)
    Bucketing.writeBucketed(dims, "bk_dims", s"$dir/dims", "k", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.table(spark, "bk_facts")
        .join(Bucketing.table(spark, "bk_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it is still correct
      val expect = facts.join(dims, "k").count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("context store batch search probes the index, not all claims") {
    import graft.verify.ContextStore
    val dir = java.nio.file.Files.createTempDirectory("graft_ctx").toString
    val store = new ContextStore(spark, dir)
    store.store(Seq(
      (1L, "solar panels convert sunlight", "Factual", "", 0L),
      (2L, "wind turbines harvest kinetic energy", "Factual", "", 0L),
      (3L, "pasta should boil eleven minutes", "Factual", "", 0L))
      .toDF("claim_id", "text", "claim_type", "source_ref", "support_count"))
    val queries = Seq((10L, "sunlight solar power"), (11L, "boil pasta"))
      .toDF("qid", "qtext")
    val hits = store.searchAll(queries, "qid", "qtext", k = 1)
      .select("query_id", "claim_id").as[(Long, Long)].collect().toMap
    assert(hits(10L) == 1L)
    assert(hits(11L) == 3L)
  }

  test("curation signals and PII scrub are single-stage maps (no shuffle)") {
    for (q <- Seq(
        graft.queries.CurationQueries.q65Repetition(spark, dir),
        graft.queries.CurationQueries.q66PiiScrub(spark, dir),
        graft.queries.CurationQueries.q67GopherFilter(spark, dir))) {
      // the presentation orderBy adds one range exchange; the signal
      // computation itself must not introduce any hash shuffle
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"curation map must not hash-shuffle:\n$p")
    }
  }

  test("decontamination broadcasts eval grams; corpus text never shuffles") {
    val p = plan(graft.queries.CurationQueries.q68Decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"eval side must broadcast:\n$p")
    // the only hash exchanges may carry (doc_id, gram)/count pairs -- the
    // full text column must not appear in any Exchange input schema
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#")),
      s"corpus text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("bloom decontamination prunes map-side before the confirm join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Decontamination.flagContaminatedBloom(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3))
    assert(p.contains("might_contain"),
      s"bloom prefilter missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), "confirm join must broadcast")
  }

  test("line dedup: doc text never shuffles; bloom prunes map-side") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", concat_ws("\n", lit("BANNER"), col("text")))
    val out = graft.operators.Dedup.dropDuplicateLines(docs, "doc_id", "text")
    val p = plan(out)
    // candidate lines are staged (bloom prune + hot semi-join ran inside
    // the checkpoint, so the final plan reads them back as an RDD scan)
    assert(p.contains("Scan ExistingRDD"),
      s"staged candidate set missing:\n$p")
    // the doc text column may only move through the id-keyed recompose
    // join; census/candidate exchanges carry hashes and hot-line strings
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l =>
        !l.contains("text#") || l.contains("hashpartitioning(doc_id")),
      s"doc text crossed a non-recompose shuffle:\n${exchanges.mkString("\n")}")
  }

  test("substring dedup: census shuffles hashes, never window text") {
    val p = plan(graft.queries.TextQueries.q113SubstringDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian in substring dedup:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    // the 50-char window column must be projected away before any shuffle
    assert(exchanges.forall(l => !l.contains("__graft_w#")),
      s"window text crossed a shuffle:\n${exchanges.mkString("\n")}")
    // the doc text column may only move through the id-keyed recompose join
    assert(exchanges.forall(l =>
        !l.contains("text#") || l.contains("hashpartitioning(doc_id")),
      s"doc text crossed a non-recompose shuffle:\n${exchanges.mkString("\n")}")
  }

  test("perplexity buckets: cut values broadcast; no corpus-wide ntile sort") {
    val p = plan(graft.queries.CurationQueries.q115PerplexityBuckets(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"tercile cuts must broadcast-join back:\n$p")
    // the only Window may run over the (group, bits) histogram — the doc
    // id must not appear in any window operator's required ordering
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.forall(l => !l.contains("doc_id#")),
      s"corpus-wide window sort detected:\n${windows.mkString("\n")}")
  }

  test("pca projection at d > 64 is a bare scan: native dot, no explode, no join") {
    // q201's returned frame is the per-row PROJECTION pass (the d = 256
    // Gramian covariance runs eagerly during construction — d > 64
    // dispatches the mapPartitions kernel by the topWithMoments branch,
    // PcaSpec proves the two kernels bit-equal); what a cluster
    // re-executes per row must be ONE scan with the native bounded long
    // dot: no Generate (the retired d-exploded form), no join, no
    // groupBy re-aggregation — the only exchange is the final orderBy
    val p = plan(
      graft.queries.SimilarityQueries.q201PcaProjectD256(spark, dir))
    assert(p.toLowerCase.contains("vecdotlong"),
      s"native long dot missing from the projection plan:\n$p")
    assert(!p.contains("Generate"),
      s"projection must not explode dimensions:\n$p")
    assert(!p.contains("Join"), s"projection must not join:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => l.contains("rangepartitioning") ||
      l.contains("REPARTITION")),
      s"unexpected exchange beyond orderBy/parallelize:\n${exchanges.mkString("\n")}")
  }

  test("dense index query: probed clusters prune list partitions at the scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val ix = java.nio.file.Files.createTempDirectory("graft_dix_plan").toString
    graft.operators.DenseIndex.build(emb, ix, numCentroids = 8)
    val q = graft.operators.DenseIndex.query(
      emb.filter(col("vec_id") < 3), ix, k = 5, nProbe = 2)
    val p = plan(q)
    // the probe set must reach the lists scan as a PARTITION filter
    // (cluster is the partition column), not a post-scan Filter
    assert(p.contains("PartitionFilters: [cluster"),
      s"probe set did not push down as a partition filter:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in index query:\n$p")
  }

  test("semDeDup: no cartesian beyond the broadcast centroid cross") {
    val p = plan(graft.queries.SimilarityQueries.q114SemDeDup(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"cartesian in the semdedup plan:\n$p")
  }

  test("in-doc line scrub is a pure map: zero exchanges") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text", concat_ws("\n", col("text"), lit("x"), lit("x")))
    val p = plan(graft.operators.Dedup.dropRepeatedLinesWithin(docs, "text"))
    assert(!p.contains("Exchange"),
      s"within-doc scrub must not shuffle:\n$p")
  }

  test("int8 top-k: codes quantize before the join, corpus never shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Similarity.int8TopK(
      emb.filter(col("vec_id") < 5), emb, 3))
    // the only float->code work sits in projections below the join; the
    // join itself broadcasts the (tiny) query side, so the corpus side
    // must not hash-shuffle its vectors or codes
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("qc#")),
      s"corpus vectors/codes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("PQ-ADC: codes encode before the join, corpus never shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = graft.operators.Similarity.pqStrideCodebooks(emb, m = 4, k = 8)
    val p = plan(graft.operators.Similarity.pqAdcTopK(
      emb.filter(col("vec_id") < 5), emb, 3, cb))
    // encode + reconstructed-norm lookup are projections below the join;
    // the scan join broadcasts the (tiny) query/ADC-table side, so the
    // corpus must not hash-shuffle its vectors or codes
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("pc#")),
      s"corpus vectors/codes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("IVF-PQ cascade: no cartesian, every join keyed, corpus never shuffles") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = graft.operators.Similarity.pqStrideCodebooks(emb, m = 4, k = 8)
    val p = plan(graft.operators.Similarity.ivfPqRefineTopK(
      emb.filter(col("vec_id") < 5), emb, 3, cb,
      numCentroids = 4, nProbe = 2, refine = 4))
    assert(!p.contains("CartesianProduct"), s"no cartesian in the cascade:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every cascade join must be keyed (cluster/query_id/neighbor_id):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe/shortlist joins must broadcast:\n$p")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("pc#")),
      s"corpus vectors/codes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("IVF-SQ8 cascade: no cartesian, corpus never shuffles, assignment is map-side") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = plan(graft.operators.Similarity.ivfInt8RefineTopK(
      emb.filter(col("vec_id") < 5), emb, 3,
      numCentroids = 4, nProbe = 2, refine = 4))
    // composed plan: centroid assignment is a literal-dot projection (no
    // join at all), candidate selection broadcasts probe pairs + query
    // codes, the re-rank broadcasts the ids-only shortlist — never a
    // queries×corpus cross product anywhere
    assert(!p.contains("CartesianProduct"), s"no cartesian in the cascade:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every cascade join must be keyed (cluster/query_id/neighbor_id):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe/shortlist joins must broadcast:\n$p")
    // the corpus embedding/code columns must never enter a non-broadcast
    // exchange: the only shuffle carries shortlist triples into the window
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(exchanges.forall(l => !l.contains("embedding#") && !l.contains("qc#")),
      s"corpus vectors/codes crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("sparse index build: per-doc stats never shuffle, text never shuffles") {
    // the r12 termPostings shape: term frequency and doc length
    // aggregate IN-ROW (term_counts kernel), so the only corpus-side
    // exchanges left are the vocab-sized df census and the postings
    // join — both keyed on term — plus the norms groupBy(id). The
    // retired build's groupBy(id, term) census and docLen-by-id join
    // must never come back: no exchange may carry the per-doc len (it
    // rides the rows), and document text must never cross a shuffle.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = graft.rag.SparseIndex.build(docs, "doc_id", "text")
    val p = plan(idx.postings)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected the term-keyed census exchange")
    assert(exchanges.forall(l => !l.contains("text#")),
      s"doc text crossed a shuffle:\n${exchanges.mkString("\n")}")
    // every exchange in the POSTINGS build keys on term; an id-keyed
    // exchange means the groupBy(id, term) census or the docLen-by-id
    // join came back
    assert(exchanges.forall(l => !l.contains("id#")),
      s"id-keyed exchange in the postings build:\n${exchanges.mkString("\n")}")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in the postings build:\n$p")
  }

  test("bigram LM: corpus text never crosses an exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.LanguageModel.bigramBits(
      docs, "doc_id", "text"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#")),
      s"doc text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("broadcast LM scoring is a pure map: zero exchanges, no bigram join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.LanguageModel.bigramBitsBroadcast(
      docs, "doc_id", "text", topN = 100))
    // the model build aggregates eagerly at call time; the SCORING plan
    // handed back must be scan -> project(+udf) with no exchange and no
    // join — the no-bigram-keyed-exchange guarantee of the pruned path
    assert(!p.contains("Exchange"),
      s"broadcast LM scoring must not shuffle:\n$p")
    assert(!p.contains("Join"), s"no join in the scoring plan:\n$p")
  }

  test("bigram LM under a hot bigram: AQE splits the skewed scoring-join partition") {
    // the verdict's q103 skew question: a bigram carrying >25% of corpus
    // mass concentrates one reducer of the exploded-bigram scoring join.
    // Proof AQE handles it: force the join to sort-merge (no broadcast),
    // lower the skew thresholds to test scale, and assert the EXECUTED
    // plan contains a skew-split join — plus that the skew-split answer
    // is bit-identical to the broadcast path (which has no such join at
    // all, and is the documented auto-switch for known-skewed corpora).
    // the hot bigram's shuffle partition must exceed the (compressed,
    // MapOutputStatistics-measured) skew threshold while the median
    // stays tiny — hence the aggressive test-scale thresholds and
    // coalescing off (coalesce would otherwise swallow small-partition
    // stats before the skew check sees them)
    val hot = (0 until 600).map(i => (i.toLong, "the cat " * 200))
    val cold = (0 until 600).map(i =>
      ((1000 + i).toLong, s"unique$i word${i * 3} tail${i * 7} end$i"))
    import spark.implicits._
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val skewed = graft.operators.LanguageModel.bigramBits(
        docs, "doc_id", "text")
      val rows = skewed.collect()
      val p = skewed.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected an AQE skew-split join in the executed plan:\n$p")
      // same answer as the shuffle-free broadcast path (every bigram in
      // the head -> spec-proven identical): the skew split changed the
      // schedule, never the result
      val bcast = graft.operators.LanguageModel.bigramBitsBroadcast(
        docs, "doc_id", "text", topN = 1000000)
      assert(rows.map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)))).sortBy(_._1).toSeq ==
        bcast.collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)))).sortBy(_._1).toSeq)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dsir select: cut derivation has no single-partition exchange") {
    // the round-7 residual single-reducer shape: the quantile cut used a
    // global cumulative-sum window over the micro-score histogram (O(N)
    // distinct values through one reducer at scale). Now a bounded radix
    // search — the plan must carry NO SinglePartition exchange anywhere
    // and its windows must hash-partition on the search-instance key.
    val p = plan(graft.queries.CurationQueries.q124DsirSelect(spark, dir))
    assert(p.contains("Window"), s"expected the radix-pass windows:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"dsir cut must not serialize onto one partition:\n$p")
    // text never crosses an exchange (scoring stays a pure map)
    assert(!"Exchange[^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text crossed a shuffle:\n$p")
  }

  test("seeded shuffle: position window partitions by shard, not globally") {
    val p = plan(graft.queries.TextQueries.q117SeededShuffle(spark, dir))
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"epoch shuffle must not serialize onto one partition:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"position window must key on the shard column:\n$p")
  }

  test("packing window partitions by group (no single-partition window)") {
    val docs = (0L until 1000L).map(i => (i, (i % 40 + 10).toInt))
      .toDF("doc_id", "ntok")
    val p = plan(graft.operators.Packing.packBins(
      docs, "doc_id", "ntok", capacity = 512, groups = 8))
    assert(p.contains("Window"), s"expected a window:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must not serialize onto one partition:\n$p")
    assert(p.contains("hashpartitioning(pack_group"),
      s"window must partition by pack_group:\n$p")
  }

  test("slice packing plan: one group window, generator fan-out, no single partition") {
    val docs = (0L until 1000L).map(i => (i, (i % 40 + 10).toInt))
      .toDF("doc_id", "ntok")
    val p = plan(graft.operators.Packing.packSlices(
      docs, "doc_id", "ntok", capacity = 512, groups = 8))
    assert(p.contains("Generate"), s"expected explode(sequence):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"slicing must not serialize onto one partition:\n$p")
    assert(p.contains("hashpartitioning(pack_group"),
      s"window must partition by pack_group:\n$p")
  }

  test("incremental near-dup plan: bloom prune present, no cartesian, no text shuffle") {
    val docs = (0L until 200L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} tok${i % 11} end"))
      .toDF("doc_id", "text")
    val ledger = graft.operators.Dedup
      .minhashSignatures(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", 4, 3)
    val p = plan(graft.operators.Dedup.dropNearSeenBefore(
      docs.filter(col("doc_id") % 10 =!= 0), ledger, "doc_id", "text", 4, 3))
    assert(p.contains("might_contain"),
      s"bloom map-side prune missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
    // document text must never enter an exchange: band triples only
    assert(!"Exchange[^\\n]*text#".r.findFirstIn(p).isDefined,
      s"document text crosses a shuffle:\n$p")
  }

  test("mixture sample is a map-side filter + generator after the census") {
    val df = (0L until 500L).map(i => (i, if (i % 5 == 0) "a" else "b", s"t$i"))
      .toDF("id", "dom", "text")
    val p = plan(graft.operators.Sampling.mixtureSample(
      df, "dom", "id", Seq("a" -> 3L, "b" -> 1L), totalRows = 400))
    // the census runs eagerly at plan-build; the RESULT plan must be
    // scan -> filter -> generate with no exchange at all
    assert(!p.contains("Exchange"),
      s"mixture sampling must not shuffle the corpus:\n$p")
    assert(p.contains("Generate"), s"epoch fan-out generator missing:\n$p")
  }

  test("shard assignment is map-side; the shard write shuffles exactly once") {
    val df = (0L until 500L).map(i => (i, s"t$i")).toDF("id", "text")
    val assign = plan(graft.sources.Shards.withShard(df, "id", 16))
    assert(!assign.contains("Exchange"),
      s"shard id assignment must not shuffle:\n$assign")
    val write = plan(graft.sources.Shards.withShard(df, "id", 16)
      .repartition(16, col("shard")))
    assert("Exchange".r.findAllIn(write).size === 1,
      s"shard write must shuffle exactly once:\n$write")
  }

  test("containment pairs: postings shuffles carry hashes, never text") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = plan(graft.operators.Dedup.containmentPairs(
      docs, "doc_id", "text", shingleSize = 3, threshold = 0.8, maxDf = 8))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(l => !l.contains("text#")),
      s"doc text crossed a shuffle:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("KL drift and Kneser-Ney: censuses shuffle, corpus text never does") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    for (df <- Seq(
      graft.operators.Drift.klDrift(docs, "source", "text"),
      graft.operators.LanguageModel.kneserNeyBits(docs, "doc_id", "text"))) {
      val exchanges = plan(df).linesIterator
        .filter(_.contains("Exchange")).toSeq
      assert(exchanges.forall(l => !l.contains("text#")),
        s"doc text crossed a shuffle:\n${exchanges.mkString("\n")}")
    }
  }

  test("HLL registers: one bounded-key aggregation, map-side combined") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), explode(
        graft.functions.TextFunctions.tokens(lower(col("text")))).as("t"))
    val p = plan(graft.operators.Hll.registers(
      docs, "t", Seq("source"), p = 10))
    // partial aggregation before the exchange = the <= m-rows-per-group
    // shuffle contract (the register build combines map-side)
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"no partial aggregate in:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("text#") && !l.contains(" t#")),
      s"raw items crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("BLEU scoring is a pure map: zero exchanges") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val w = graft.functions.TextFunctions.tokens(lower(col("text")))
    val p = plan(docs.select(col("doc_id"), w.as("cand"), w.as("ref"))
      .select(col("doc_id") +:
        graft.operators.Overlap.bleu2(col("cand"), col("ref")): _*))
    assert(!p.contains("Exchange"), s"BLEU must not shuffle:\n$p")
  }

  test("spearman/ks: per-value cumulations window BY BUCKET, never global") {
    // the aucExact two-level discipline: the only single-partition
    // exchanges allowed are the <=2^16-row bucket-offset windows and
    // 1-row metric aggregates — per-VALUE windows must carry a
    // partition spec (windowspecdefinition(__graft_b, ...))
    val rows = (0 until 500).map(i => ((i % 2).toLong, (i * 37L) % 90000L))
    for (df <- Seq(
        graft.operators.Eval.spearman(rows.toDF("v", "x")
          .withColumnRenamed("v", "y"), "x", "y"),
        graft.operators.Eval.ksTest(rows.toDF("v", "s"), "v", "s"))) {
      val p = plan(df)
      val perValueWindows = p.linesIterator.filter(l =>
        l.contains("windowspecdefinition(__graft_b")).toSeq
      assert(perValueWindows.nonEmpty,
        s"expected bucket-partitioned windows in:\n$p")
    }
  }

  test("ndcg: the ideal re-rank windows partition by QUERY") {
    val rows = (0 until 300).map(i => (s"q${i % 23}", i % 15 + 1, i * 7L))
    val p = plan(graft.operators.Eval.ndcgAt(
      rows.toDF("q", "rank", "g"), "q", "rank", "g", 10))
    assert(!p.contains("Exchange SinglePartition"),
      s"ndcg must never single-partition:\n$p")
    assert(p.contains("windowspecdefinition(q#"),
      s"ideal re-rank must partition by the query column:\n$p")
  }

  test("chi-square: the only joins are the bounded spine and metric frames") {
    val rows = (0 until 400).map(i => (s"t${i % 5}", i % 2L))
    val p = plan(graft.operators.Eval.chiSquare(
      rows.toDF("a", "b"), "a", "b"))
    // the marginal-spine cross and the 1-row totals are broadcast;
    // nothing row-scale may nested-loop
    assert(!p.contains("CartesianProduct"),
      s"chi-square must not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the broadcast spine/metrics crosses:\n$p")
  }

  test("reading one shard partition-prunes the others") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    val df = (0L until 400L).map(i => (i, s"t$i")).toDF("id", "text")
    graft.sources.Shards.writeShards(df, "id", numShards = 8, out)
    val one = graft.sources.Shards.readShards(spark, out)
      .filter(col("shard") === 3)
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      })
    assert(scanned === Seq(1),
      s"shard filter must prune to ONE directory, scanned=$scanned")
  }
}
