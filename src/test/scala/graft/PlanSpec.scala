package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions (SURVEY.md §4.2): the declarative queries must
  * actually get the Catalyst treatment we designed for — filter/column
  * pushdown into the parquet scan, broadcast joins for small dims, and
  * whole-stage codegen on the hot SQL paths. A plan regression here is a
  * 100TB-scale performance bug even when results stay correct. */
class PlanSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Plan AFTER execution — AQE only materializes WholeStageCodegen spans
    * in the final plan (isFinalPlan=true). */
  private def finalPlan(name: String): String = {
    val df = Queries.queries(name)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_pushdown pushes predicates into the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      "shipdate filter must reach the scan")
  }

  test("scans prune to the referenced columns only") {
    val p = plan("q_filter_pushdown")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_comment"),
      s"projection must prune unused columns: $readSchema")
  }

  test("q_join_dims broadcasts the small dimension tables") {
    val p = plan("q_join_dims")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("q_embed_topk broadcasts the probe side") {
    val p = plan("q_embed_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("hot SQL paths are whole-stage codegen'd") {
    // note: higher-order lambda functions (q_dedup_minhash's transform/
    // array_min) are interpreted in Spark — excluded by design
    Seq("q_filter_pushdown", "q_quality_score", "q_dispatch_case").foreach { q =>
      val p = finalPlan(q)
      // Spark prints codegen spans as "*(n) Operator" in plan strings
      assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), s"$q lost codegen:\n${p.take(400)}")
    }
  }

  test("near-dup pair queries avoid cartesian/nested-loop joins") {
    // q_simhash_pairs was a BroadcastNestedLoopJoin in round 1 — O(n²);
    // both near-dup surfaces must stay banded equi-joins at any scale
    Seq("q_simhash_pairs", "q_ngram_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a product join:\n${p.take(600)}")
    }
  }

  test("extract_spans participates in whole-stage codegen (no fallback boundary)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cg_").toString
    spark.createDataset((0L until 50L).map(DocGen.docFor)).toDF()
      .write.mode("overwrite").parquet(tmp)
    val df = plans.GraftFunctions.extractColumnar(spark.read.parquet(tmp))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // round 1 the expression was CodegenFallback → interpreted Project;
    // with doGenCode the Project over the scan must be a codegen span (*(n))
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p.take(600))
  }

  test("extraction has exactly one exchange (the bucket range partitioning)") {
    import spark.implicits._
    val docs = spark.createDataset((0L until 100L).map(DocGen.docFor))
    val p = ExtractJob.transform(docs, 4).queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    // the extractor is a projection, never a per-doc object stage
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"transform plans a typed object stage:\n$p")
    assert(p.contains("extract_spans"), p)
  }

  test("salted aggregation keeps partial aggregates before the shuffle") {
    val p = plan("q_salted_agg")
    // two-phase: HashAggregate (partial) below the exchange
    assert(p.contains("HashAggregate"), p.take(500))
  }

  test("exactDedup collapses dup clusters via partial aggregation, never a window") {
    import spark.implicits._
    // a Window.partitionBy(hash) would buffer a whole dup cluster in ONE
    // task; the agg shape collapses clusters map-side (partial min_by)
    val docs = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
    val p = ops.Dedup.exactDedup(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"exactDedup must not plan a window:\n${p.take(600)}")
    assert(p.contains("min_by") && p.contains("partial"),
      s"expected a partial min_by aggregate:\n${p.take(600)}")
  }

  test("hot-bucket guards count via aggregate+join, never a window") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").where($"doc_id" < 50)
    val sigs = ops.Dedup.minhashSignatures(docs, "text", 8).select($"doc_id", $"sig")
    val pLsh = ops.Dedup.lshCandidatePairs(sigs, "doc_id", 4)
      .queryExecution.executedPlan.toString
    assert(!pLsh.contains("Window"), s"LSH guard plans a window:\n${pLsh.take(600)}")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").where($"vec_id" < 50)
    val pCos = ops.Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.99, nPlanes = 4, dims = 64)
      .queryExecution.executedPlan.toString
    assert(!pCos.contains("Window"), s"cosine guard plans a window:\n${pCos.take(600)}")
  }

  test("IVF assign stage broadcast-joins large codebooks (no plan-literal blowup)") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", $"embedding").where($"vec_id" < 20)
    val cents = ops.Similarity.seedCentroids(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      ops.Similarity.CodebookLiteralMax + 6)
    val df = ops.Similarity.cellRanks(emb, "vec_id", "embedding", cents, 1)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"large-codebook assign must be a broadcast equi-join:\n${p.take(800)}")
  }

  test("BPE tokenization runs as one codegen'd projection over a pruned scan") {
    val p = plan("q_bpe_tokens")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,150)]"), p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "must read only (doc_id, text)")
    assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("PQ encode broadcast-joins the codebook; ADC search has no cartesian on the corpus") {
    // the codebook must reach executors as a broadcast relation keyed by
    // subspace — never a plan literal or a shuffled join
    val p = plan("q_embed_pq")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), "codebook/LUT joins must broadcast:\n" + p.take(1200))
  }

  test("composed cleaning pipeline: LSH stays an equi-join, components never go cartesian") {
    // q_corpus_pipeline itself checkpoints every stage boundary, which
    // truncates lineage — explaining IT would assert nothing (and execute
    // the pipeline). Compose the same stages here WITHOUT checkpoints so
    // the whole multi-stage plan is visible to the assertion.
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val sigs = ops.Dedup.minhashSignatures(docs, "text", 8)
      .select($"doc_id", $"sig")
    val cands = ops.Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4)
    val pairs = ops.Dedup.jaccardVerify(docs, "doc_id", "text", cands, 0.5)
      .select($"id_a", $"id_b")
    val p = ops.Dedup.dedupCorpus(docs, "doc_id", pairs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("lshCandidatePairs materializes the signature relation once (no per-consumer re-derivation)") {
    // the banded relation feeds the guard count AND both self-join sides;
    // without the internal materialization the per-shingle k×md5 signature
    // subtree is re-derived per consumer (r6 before-plans carried SIX
    // copies of it). Compute-once means the salt-0 md5 signature term
    // appears at most once in the executed plan, however it is pinned.
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val sigs = ops.Dedup.minhashSignatures(docs, "text", 8)
      .select($"doc_id", $"sig")
    val salt0 = "md5(cast(concat(0:, "
    val reference = sigs.queryExecution.executedPlan.toString
    assert(reference.contains(salt0), s"probe term missing from the signature plan:\n$reference")
    val pairs = ops.Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4)
    pairs.collect()
    val p = pairs.queryExecution.executedPlan.toString
    val copies = p.sliding(salt0.length).count(_ == salt0)
    assert(copies <= 1, s"signature subtree derived $copies times:\n" + p.take(1200))
  }

  test("lshCandidatePairs pins only (id, sig) of a wide input") {
    // a caller may pass the full minhashSignatures output, text included:
    // every leaf of the candidate plan must be the (id, sig) materialization
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val wide = ops.Dedup.minhashSignatures(docs, "text", 8)
    assert(wide.columns.contains("text"))
    val pairs = ops.Dedup.lshCandidatePairs(wide, "doc_id", bands = 4)
    val leaves = pairs.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty)
    leaves.foreach(l => assert(l.output.map(_.name) == Seq("doc_id", "sig"),
      s"pinned leaf carries ${l.output.map(_.name)}"))
  }

  test("jaccardVerify semi-filters each side to the candidate ids before the word-set projection") {
    // word sets must cost O(candidates), never O(corpus): each doc side is
    // LeftSemi-joined to its pair-id column BEFORE split+distinct runs
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val p = ops.Dedup.jaccardVerify(docs, "doc_id", "text", pairs, 0.5)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      "expected LeftSemi pre-filters on the verify's doc sides:\n" + p.take(1200))
  }

  test("O12 ranged-fetch analog: maxPartitionBytes splits one file into byte-range scan tasks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ranged_").toString + "/p"
    // one ~4MB parquet file (incompressible-ish md5 chains)
    spark.range(200000)
      .select($"id", md5(concat_ws("", $"id", md5($"id".cast("string")))).as("payload"))
      .coalesce(1).write.parquet(dir)
    val conf = "spark.sql.files.maxPartitionBytes"
    val minConf = "spark.sql.files.minPartitionNum"
    val saved = spark.conf.get(conf)
    try {
      // pin the floor: without it Spark still range-splits large files to
      // fill default parallelism (totalBytes / minPartitionNum)
      spark.conf.set(minConf, "1")
      // qetch's HTTPDownloader splits one fragment into max_connections
      // byte ranges; Spark's scan splits one file into FilePartitions of
      // at most maxPartitionBytes — same operator, cluster-wide
      spark.conf.set(conf, (128 * 1024).toString)
      val ranged = spark.read.parquet(dir).rdd.getNumPartitions
      spark.conf.set(conf, (1024L * 1024 * 1024).toString)
      val whole = spark.read.parquet(dir).rdd.getNumPartitions
      assert(ranged > 4, s"expected byte-range splits, got $ranged partitions")
      assert(whole == 1, s"expected one whole-file task, got $whole")
      // identical bytes either way — reassembly-order invariance
      spark.conf.set(conf, (128 * 1024).toString)
      val a = spark.read.parquet(dir).agg(sum(crc32($"payload"))).head().getLong(0)
      spark.conf.set(conf, (1024L * 1024 * 1024).toString)
      val b = spark.read.parquet(dir).agg(sum(crc32($"payload"))).head().getLong(0)
      assert(a == b)
    } finally { spark.conf.set(conf, saved); spark.conf.unset(minConf) }
  }

  test("incremental dedup: every join is an equi-join (no cartesian anywhere in the chain)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    // materialize=false keeps the candidate/verify/anti-join lineage
    // visible (resolveClusters checkpoints its fixpoint rounds regardless,
    // so the star-rewrite joins are asserted by their own OpsSpec/bench,
    // not here)
    val p = ops.Dedup.incrementalDedup(
        docs.where($"doc_id" >= 200), docs.where($"doc_id" < 200),
        "doc_id", "text", materialize = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("decontamination broadcasts the benchmark shingle set (corpus never reshuffles on it)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val p = ops.Cleaning.decontaminate(
        docs.where($"doc_id" % 10 =!= 0), docs.where($"doc_id" % 10 === 0),
        "doc_id", "text", 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("indexed incremental dedup: candidate text resolution broadcasts, no product joins, no corpus signature compute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
    val corpus = base.where($"doc_id" < 40)
    val delta = base.where($"doc_id" >= 40 && $"doc_id" < 60)
    val index = ops.Dedup.buildIndex(corpus, "doc_id", "text").localCheckpoint()
    val admitted = ops.Dedup.incrementalDedupIndexed(delta, corpus, index,
      "doc_id", "text", materialize = false)
    val p = admitted.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    // the candidate-id semi filter reaches the corpus as a broadcast join
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    // (that the corpus is never re-signatured is evidenced structurally —
    // the index is a checkpoint leaf here — and empirically by IncrBench's
    // flat per-increment wall across corpus widths; a plan-string count of
    // signature operators is meaningless under lineage replication)
  }

  test("indexed incremental dedup: the cross-candidate band join broadcasts the batch-bounded delta side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
    val corpus = base.where($"doc_id" < 40)
    // near-dup re-crawls so the across join survives the exact pass
    val delta = base.where($"doc_id" < 5)
      .select(($"doc_id" + 9000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val index = ops.Dedup.buildIndex(corpus, "doc_id", "text").localCheckpoint()
    val p = ops.Dedup.incrementalDedupIndexed(delta, corpus, index,
        "doc_id", "text", materialize = false)
      .queryExecution.executedPlan.toString
    // the band-bucket candidate join must be a BroadcastHashJoin keyed on
    // (band, bandhash) — the corpus index STREAMS while the delta side is
    // the build — never a sort-merge that shuffles the corpus-sized index
    assert("BroadcastHashJoin \\[band".r.findFirstIn(p).isDefined,
      "expected a broadcast band join:\n" +
        p.linesIterator.filter(l => l.contains("Join") && l.contains("band"))
          .mkString("\n"))
    assert(!"SortMergeJoin \\[band".r.findFirstIn(p).isDefined,
      "the band candidate join must not sort-merge the corpus index")
  }

  test("pruneBucket: candidate resolution partition-prunes an id-bucketed corpus; decisions unchanged") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet(s"$dir/documents.parquet").select($"doc_id", $"text")
    val corpus0 = base.where($"doc_id" < 40)
    val bdir = java.nio.file.Files.createTempDirectory("bucketed_corpus").toString
    val bucketOf = (c: org.apache.spark.sql.Column) =>
      pmod(c.cast("bigint"), lit(8)).cast("int")
    corpus0.withColumn("cb", bucketOf($"doc_id"))
      .write.partitionBy("cb").mode("overwrite").parquet(bdir)
    val corpus = spark.read.parquet(bdir)
    // near-dup re-crawls of corpus docs 0..4 → candidates hit ≤5 buckets
    val delta = base.where($"doc_id" >= 40 && $"doc_id" < 60)
      .union(corpus0.where($"doc_id" < 5)
        .select(($"doc_id" + 9000).as("doc_id"), concat($"text", lit(" zz")).as("text")))
    val index = ops.Dedup.buildIndex(corpus, "doc_id", "text").localCheckpoint()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").as[Long].collect().toSet
    val plain = ids(ops.Dedup.incrementalDedupIndexed(
      delta, corpus, index, "doc_id", "text"))
    val pruned = ids(ops.Dedup.incrementalDedupIndexed(
      delta, corpus, index, "doc_id", "text",
      pruneBucket = Some(("cb", bucketOf))))
    assert(pruned == plain, s"pruning changed decisions: $pruned vs $plain")
    // the physical scan of the pruned path carries a cb partition filter
    val p = ops.Dedup.incrementalDedupIndexed(
        delta, corpus, index, "doc_id", "text",
        materialize = false, pruneBucket = Some(("cb", bucketOf)))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cb".r.findFirstIn(p).isDefined,
      "corpus scan must carry a partition filter on the bucket column:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("ivfTopKIndexed: the cells scan carries a cell partition filter and probes fewer partitions than exist") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .where($"vec_id" < 150).select($"vec_id", $"embedding")
    val ixDir = java.nio.file.Files.createTempDirectory("ivf_plan").toString
    ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      nCentroids = 8, lloydIters = 0, path = ixDir)
    val probes = emb.where($"vec_id" < 2)
    val q = ops.Similarity.ivfTopKIndexed(spark, ixDir, probes,
      "vec_id", "embedding", k = 5, nProbe = 2)
    val p = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      "cells scan must carry a partition filter on cell:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // 2 probes × nProbe 2 reach at most 4 of the 8 cell directories —
    // the scan's selected partitions must actually shrink
    val scanned = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.getOrElse("Location", "").contains("ivf_plan") =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.forall(_ <= 4),
      s"probed-cell pruning must select <= 4 of 8 partitions, got $scanned")
  }

  test("semanticNearDupPairs plans a cell equi-join, never a cartesian product") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .where($"vec_id" < 80)
      .select($"vec_id",
        expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      .localCheckpoint()
    val p = ops.Similarity.semanticNearDupPairs(corpus, "vec_id", "qv",
        threshold = 0.99, nCentroids = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("semanticCrossHits: bench side broadcasts after assignment; no product joins") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id",
        expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
    val bench = e.where($"vec_id" < 8).localCheckpoint()
    val corpus = e.where($"vec_id" >= 50).localCheckpoint()
    val p = ops.Similarity.semanticCrossHits(corpus, bench, "vec_id", "qv",
        threshold = 0.99, nCentroids = 4, nProbe = 2)
      .queryExecution.executedPlan.toString
    // the cell match must be a broadcast hash equi-join on the bench side —
    // the corpus side never reshuffles for it — and nothing may plan a
    // product join (the within-cell search is an equi-join by construction)
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("pruneRepeatedLinesByDomain: removal is a (domain, line) equi anti-join, never a window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source".as("domain"), $"text")
    val p = ops.Cleaning.pruneRepeatedLinesByDomain(
        docs, "doc_id", "domain", "text", 8, 5)
      .queryExecution.executedPlan.toString
    // the hot set is per-site and unbounded at web scale, so unlike the
    // global form it is deliberately NOT broadcast-hinted; the removal must
    // still be an equi anti-join (shuffled or AQE-converted), the counting
    // a partial agg, and no stage may buffer a domain in a window
    assert(p.contains("LeftAnti"), p.take(1500))
    assert(!p.contains("WindowExec") && !p.contains("Window "), p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("readingOrderK and the extract->layout adapter plan no product joins; boundary join stays per-doc") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val spans = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 50)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "text")))
    val blocks = ops.Layout.blocksFromSpans(spans, "doc_id", "pos", "text",
      charsPerLine = 40, linesPerCol = 4, colWidth = 200, lineHeight = 20)
    val p = ops.Layout.readingOrderK(blocks, "doc_id", k = 12,
        gapThreshold = 25, minGap = 100)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
  }

  test("repeated-line pruning: hot-line removal is a broadcast anti-join over partial-agg counts") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val p = ops.Cleaning.pruneRepeatedLines(docs, "doc_id", "text", 8, 5)
      .queryExecution.executedPlan.toString
    // the anti-join against the (tiny) hot set must broadcast, and the
    // occurrence count must partial-aggregate (map-side combine), not window
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("WindowExec") && !p.contains("Window "), p.take(1500))
  }

  test("exactSubstringDedup: per-hash state is a partial agg, never a window; no cartesian anywhere") {
    import spark.implicits._
    // the design claim vs the oracle's row_number() formulation: a
    // boilerplate gram repeated 10⁶ times must collapse MAP-SIDE in the
    // (count, min(struct)) aggregate, not ship every occurrence into one
    // task's window buffer
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val p = ops.Dedup.exactSubstringDedup(docs, "doc_id", "text", k = 15)
      .queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"substring dedup must not plan a window:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("partial"), s"expected partial aggregation:\n${p.take(800)}")
  }

  test("lmScore: model sides broadcast, corpus side never shuffles before the per-doc agg") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val model = ops.Lm.trainBigramLm(docs.where($"doc_id" < 50), "text")
    val df = ops.Lm.lmScore(docs, "doc_id", "text", model)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // both fallback joins broadcast the dimension-sized model relation;
    // the only exchange on the corpus lineage is the final doc_id agg
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"model joins must broadcast:\n${p.take(1200)}")
    assert(!p.contains("WindowExec"), p.take(800))
  }

  test("stupidBackoffScore: all n model slices broadcast, no window, corpus explode stays narrow") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val model = ops.Lm.trainStupidBackoff(docs.where($"doc_id" < 50), "text", n = 3)
    val df = ops.Lm.stupidBackoffScore(docs, "doc_id", "text", model, n = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the whole backoff cascade is broadcast left joins over one exploded
    // corpus lineage; the only corpus-side exchange is the per-doc agg
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"model joins must broadcast:\n${p.take(1200)}")
    assert(!p.contains("WindowExec"), p.take(800))
  }

  test("nbScores: feature deltas broadcast-hash-join; labels reach docs by a #labels-row broadcast loop only") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"lang", $"text")
    val model = ops.NaiveBayes.trainNb(docs.where($"doc_id" < 50), "text", "lang")
    val df = ops.NaiveBayes.nbScores(docs, "doc_id", "text", model)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus-scale join (exploded words × seen features) must hash, and
    // the ONLY nested loop is the intended #labels-row label fan-out; the
    // final (doc, label) combine joins two corpus-sized sides and may
    // legitimately shuffle (equi-join) — only a cartesian is forbidden
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"label fan-out should be a broadcast loop of #labels rows:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("WindowExec"), p.take(800))
  }

  test("bm25TopK: query dictionary broadcasts, top-k is TakeOrdered, no cartesian") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val post = ops.Bm25.postings(docs, "doc_id", "text")
    val dict = ops.Bm25.dictionary(post, "doc_id")
    val df = ops.Bm25.bm25TopK(post, dict, "doc_id", Seq("hash", "join"), k = 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps + driver merge:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("bm25TopK wordBuckets: partition-prunes a word-bucketed postings table; scores unchanged") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val post0 = ops.Bm25.postings(docs, "doc_id", "text")
    val bdir = java.nio.file.Files.createTempDirectory("bm25_postings").toString
    post0.withColumn("wb", ops.Bm25.wordBucket($"word", 16))
      .write.partitionBy("wb").mode("overwrite").parquet(bdir)
    val post = spark.read.parquet(bdir)
    val dict = ops.Bm25.dictionary(post, "doc_id").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = rows(ops.Bm25.bm25TopK(post, dict, "doc_id",
      Seq("hash", "join"), k = 10))
    val prunedDf = ops.Bm25.bm25TopK(post, dict, "doc_id",
      Seq("hash", "join"), k = 10, wordBuckets = Some(16))
    assert(rows(prunedDf) == plain, "pruning changed scores")
    val p = prunedDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*wb".r.findFirstIn(p).isDefined,
      "postings scan must carry a partition filter on wb:\n" +
        p.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
  }

  test("temperatureEpochs: rate relation broadcasts, fan-out stays map-side, no product join") {
    import spark.implicits._
    val docs = spark.range(100000)
      .selectExpr("id AS doc_id", "concat('s', id % 37) AS source")
    val df = ops.Sampling.temperatureEpochs(docs, "doc_id", "source", 0.5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus side must meet the stratum-sized bp relation in a
    // broadcast hash join — never a corpus-width sort-merge exchange
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      s"rate join must broadcast, not sort-merge:\n${p.take(800)}")
    // the only product join is the 1-row max broadcast onto the
    // stratum-sized counts — node-sized, never data-scale
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the copy fan-out is a generate over the joined rows, not a shuffle
    assert(p.contains("Generate explode"), p.take(800))
  }

  test("dsirSample: Gumbel-top-k plans TakeOrdered, never a global sort") {
    import spark.implicits._
    val weighted = spark.range(100000)
      .select($"id".as("doc_id"), ($"id" % 1000).cast("bigint").as("weight_q"))
    val df = ops.Sampling.dsirSample(weighted, "doc_id", k = 50)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps + driver merge:\n${p.take(800)}")
    assert(!p.contains("SortExec"),
      s"no global sort may survive beside the top-k:\n${p.take(800)}")
  }

  private def occurrences(plan: String, term: String): Int =
    plan.sliding(term.length).count(_ == term)

  /** Optimized plans of the frames `body` pins with localCheckpoint, in
    * pin order (a lazy pin plans its frame as it is called). */
  private def pinnedPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe.optimizedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSeq
  }

  test("cleanGate carries one redaction in its filter over a texts table") {
    // a filter over the redefined text/w columns was pushed through their
    // projection with the alias inlined at every reference: 87 copies of
    // the redaction's regexp_replace over a plain texts table
    import spark.implicits._
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val p = CorpusPrep.cleanGate(texts).queryExecution.optimizedPlan.toString
    val n = occurrences(p, "regexp_replace(")
    assert(n >= 3 && n <= 6, s"$n copies of regexp_replace:\n${p.take(1500)}")
  }

  test("buildIndex derives each signature once (no filter pushed into the signature projection)") {
    // the banded and short branches each filtered on size(sig); pushed
    // through the signature projection, every predicate inlined its own
    // copy of the shingle builder (19 in the executed plan)
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where($"doc_id" < 40).select($"doc_id", $"text")
    val p = ops.Dedup.buildIndex(docs, "doc_id", "text").queryExecution.executedPlan.toString
    val (shingle, salt0) = ("concat_ws( , ", "md5(cast(concat(0:, ")
    assert(occurrences(p, shingle) == 1, s"shingle builder copies:\n${p.take(1500)}")
    assert(occurrences(p, salt0) == 1, s"salt-0 signature term copies:\n${p.take(1500)}")
  }

  test("the admission front end pins the extracted texts with one extract_spans, parquet or local input") {
    // with one pin over the whole gate chain, its filters were pushed into
    // the extraction projection: 90 copies of extract_spans over parquet,
    // 3 over a repartitioned local Dataset (pushed through the repartition
    // onto the local relation, where the optimizer evaluates on the driver)
    import spark.implicits._
    val docs = (0L until 40L).map(DocGen.docFor)
    val tmp = java.nio.file.Files.createTempDirectory("graft_front_").toString
    spark.createDataset(docs).toDF().write.mode("overwrite").parquet(tmp)
    val inputs = Seq(
      "parquet" -> spark.read.parquet(tmp),
      "local" -> spark.createDataset(docs).repartition(4).toDF())
    val copies = inputs.map { case (kind, raw) =>
      val pins = pinnedPlans { IncrementalCorpus.gateIncrement(raw) }
      kind -> pins.headOption.map(occurrences(_, "extract_spans(")).getOrElse(0)
    }
    assert(copies.forall(_._2 == 1), s"extract_spans in the first pinned frame: $copies")
  }
}
