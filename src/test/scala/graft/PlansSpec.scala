package graft

/** Physical-plan regression tests: the shapes that matter at scale.
  * A correctness-green query whose plan degrades (lost pushdown, a
  * broadcast turning into a sort-merge join, a top-k becoming a global
  * sort) is a silent 100×-at-scale regression — assert the shapes.
  */
class PlansSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Root paths of every file scan in `df`'s physical plan, AQE stages
    * and subqueries included — read from the scan nodes themselves:
    * the plan STRING cuts a scan's Location at 100 characters, so a
    * path check against it would depend on the temp dir's length.
    */
  private def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] =
    scanRoots(df.queryExecution.executedPlan)

  private def scanRoots(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
      }.flatten
  }

  /** `root` is `dir` or lies under it. */
  private def under(dir: String)(root: String): Boolean = {
    val d = new java.io.File(dir).getAbsolutePath
    root == d || root.startsWith(d + "/")
  }

  test("filter_outliers: predicate pushed to the parquet scan, columns pruned") {
    val p = plan("filter_outliers")
    assert(p.contains("PushedFilters: [IsNotNull"), "expected pushed filters")
    // range predicates present in the post-scan filter (the PushedFilters
    // list itself is truncated in toString)
    assert(p.contains("(l_quantity#") && p.contains(">= 5.0"))
    // the FileScan column list (untruncated) must not read unused columns
    assert(!p.contains("l_shipdate"), "projection should prune unused columns")
  }

  test("join_star: all dimension joins broadcast, no sort-merge join") {
    val p = plan("join_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast")
    assert(p.contains("partial_"), "expected partial aggregation (map-side combine)")
  }

  test("limit_recent: top-k via TakeOrderedAndProject, no global sort") {
    val p = plan("limit_recent")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("join_semi / join_anti plan as semi/anti joins, not inner+distinct") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("agg_summary: multi-distinct in a single expand-based pass") {
    val p = plan("agg_summary")
    assert(p.contains("Expand") || p.contains("FILTER"),
      "two countDistinct should share one pass")
  }

  test("dedup_hour: single shuffle on the dedup key, no extra exchange") {
    val p = plan("dedup_hour")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected ≤1 hash exchange, got $exchanges")
  }

  test("latest-per-key rank filter gets partial window-group-limit pushdown") {
    // rn=1 filters plan as Partial WindowGroupLimit BEFORE the shuffle:
    // each map task forwards one candidate per key, not the key's whole
    // history — the property that makes latest-row queries scale
    val p = plan("view_latest_weather")
    assert(p.contains("WindowGroupLimit"), "expected window group limit pushdown")
    assert(p.contains("Partial"), "expected map-side partial top-k")
  }

  test("dedup_embed_cosine_exact_baseline: distributed pair join, no driver-side corpus") {
    val p = plan("dedup_embed_cosine_exact_baseline")
    // the pair space must come from a JOIN Spark can distribute (BNLJ
    // while a side is broadcastable, CartesianProduct beyond) — never
    // from a collected corpus re-parallelized on the driver
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"),
      "expected a distributed non-equi self-join")
    assert(p.contains("dot_product"), "expected the codegen'd kernel")
    assert(!p.contains("MapPartitions"), "no opaque driver-fed stage")
  }

  test("partitioned upsert read prunes to touched partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/t"
    import spark.implicits._
    Seq(("a", 1L, "2023-11-01"), ("b", 2L, "2023-11-02"), ("c", 3L, "2023-11-03"))
      .toDF("k", "v", "date")
      .write.partitionBy("date").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("date")
        .isInCollection(Seq("2023-11-01")))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: ["), "expected partition filters")
    assert(scan.contains("date"), "partition column must drive pruning")
    // the pruned scan must select 1 of the 3 partition directories
    val files = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(files.contains(1), s"expected 1 selected partition, got $files")
  }

  test("vocab top-k avoids a global sort (TakeOrderedAndProject)") {
    assert(plan("text_vocab_topk").contains("TakeOrderedAndProject"))
  }

  test("hash sampling reads only the projected columns") {
    val p = plan("sample_stratified")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "sampling must not scan the text column")
  }

  test("multi-signal dedup's semantic edge is banded: no cartesian, no BNLJ") {
    // the composed dedup routes cosine candidates through sign-LSH
    // banding (equi-joins on band keys) — an all-pairs cartesian here
    // never finishes on a 100-TB corpus
    val semantic = graft.ops.Similarity.lshPairsAuto(
      graft.io.Sources.table(spark, sf, "embeddings"), "vec_id", "embedding",
      nBands = 2, threshold = 0.4)
    val p = semantic.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "semantic edge must not be all-pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), "semantic edge must be an equi-join")
  }

  test("pack_greedy: prefix sum is sharded, no per-group single-partition sort") {
    val p = plan("pack_greedy")
    assert(p.contains("__shard"),
      "running sum must window over (group, shard), not the whole group")
  }

  test("ann_ivf: ids-only centroid assignment, no window over vectors") {
    // ivfTopK is eager and returns a local relation: its plans are the
    // SQL executions the call runs (the model's and the scoring pass)
    val runs = executions(SparkEntry.queries("ann_ivf")(spark, sf))
    val plans = runs.map(_._2.executedPlan.toString)
    // the r2 regression shuffled 64-double vectors through a row_number
    // window Exchange just to pick each vector's nearest centroid —
    // assignment must be a max_by aggregate over (id, cid, cos) rows
    assert(plans.exists(_.contains("max_by")),
      s"assignment must aggregate, not window: ${runs.map(_._1)}")
    val windows = plans.map("\\bWindow\\b".r.findAllIn(_).size).sum
    assert(windows == 0, s"no execution may window over vectors, got $windows")
  }

  test("whole-stage codegen covers the scalar pipeline queries") {
    import org.apache.spark.sql.execution.ExplainMode
    Seq("cat_temp", "quality_score", "round_precision").foreach { q =>
      val codegen = SparkEntry.queries(q)(spark, sf)
        .queryExecution.explainString(ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen"), s"$q fell out of codegen")
    }
  }

  test("redact/quantize/domain-filter are narrow maps: no join, no aggregate exchange") {
    // each must plan as scan → project/filter (+ the final ORDER BY
    // sort exchange) — a join or hash-aggregate appearing here means
    // the operator stopped being a per-row map
    Seq("text_redact_pii", "embed_quantize", "text_domain_filter").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join")
      assert(!p.contains("HashAggregate"), s"$q must not aggregate")
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q: expected only the ORDER BY exchange, got $exchanges")
    }
  }

  test("decontaminate candidates are an equi-join on gram hashes, no cartesian") {
    val p = plan("dedup_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment candidates must come from the gram equi-join")
    assert(p.contains("LeftAnti"), "removal must be an anti join")
  }

  test("repetition ratio aggregates with map-side partials") {
    val p = plan("text_repetition")
    assert(p.contains("partial_"), "expected partial aggregation before the shuffle")
    assert(!p.contains("Join"), "per-doc stats need no join")
  }

  test("sessionize_window runs on the engine's native session operator") {
    val p = plan("sessionize_window")
    assert(p.contains("MergingSessions"),
      "expected the built-in session-window aggregate, not a hand-rolled window")
  }

  test("join_salted: salted equi-join, no cartesian, map-side partials") {
    val p = plan("join_salted")
    assert(p.contains("__salt"), "the join key must carry the salt")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "salting must stay an equi-join")
    assert(p.contains("partial_"), "expected partial aggregation after the join")
  }

  test("join_salted_agg: partial aggregation keyed on (key, salt) rides the join's partitioning") {
    val p = plan("join_salted_agg")
    assert(p.contains("__salt"), "the join key must carry the salt")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "salting must stay an equi-join")
    // the per-(key, salt) partial phase is the point: the hot key's
    // aggregation splits on the join's own partitioning instead of
    // re-fusing onto one reducer (the AQE-declined shape)
    assert("HashAggregate\\(keys=\\[[^\\]]*__salt".r.findFirstIn(p).isDefined,
      "expected a partial aggregate keyed on (key, __salt)")
    assert(p.contains("partial_"), "expected map-side partials")
  }

  test("dedup_incremental: removals are anti joins, candidates an equi-join") {
    val p = plan("dedup_incremental")
    val antis = "LeftAnti".r.findAllIn(p).size
    assert(antis >= 2, s"expected fingerprint + near-dup anti joins, got $antis")
    assert(!p.contains("CartesianProduct"),
      "batch-vs-corpus candidates must come from the gram equi-join")
  }

  test("dedup_incremental_indexed: the corpus relation appears nowhere in the plan") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_plan_corpus").toString
    val batchDir = java.nio.file.Files
      .createTempDirectory("graft_plan_batch").toString
    Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "lorem ipsum dolor sit amet consectetur"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    Seq((1L, "a wholly new document about training data pipelines"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(batchDir)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_plan_index").toString
    graft.ops.DedupIndex.build(spark.read.parquet(corpusDir),
      "doc_id", "text", 3, idxDir, nFiles = 2)
    val df = graft.ops.DedupIndex.dedupBatch(spark,
      spark.read.parquet(batchDir), idxDir, "doc_id", "text", 3, 0.5)
    val p = df.queryExecution.executedPlan.toString
    val roots = scanRoots(df)
    // the whole point of the index: daily dedup scans the batch and the
    // 8-byte-hash index tables, never the corpus text
    assert(roots.exists(under(idxDir)),
      s"expected the index tables in the scan set: $roots")
    assert(roots.exists(under(batchDir)),
      s"expected the batch in the scan set: $roots")
    assert(!roots.exists(under(corpusDir)),
      s"the corpus relation must NOT be scanned by the indexed dedup: $roots")
    // and the removals keep the anti-join/equi-join discipline of the
    // direct form
    assert("LeftAnti".r.findAllIn(p).size >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_ivf_indexed: scoring reads only members/, statically pruned, top-k merged") {
    val embDir = java.nio.file.Files
      .createTempDirectory("graft_plan_emb").toString
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_plan_ann_index").toString
    import spark.implicits._
    (0L until 40L).map(i => (i, Array.tabulate(8)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(embDir)
    graft.ops.AnnIndex.build(spark.read.parquet(embDir),
      "vec_id", "embedding", nCentroids = 4, dir = idxDir)
    // the probe is eager: the probe set, its vectors and the centroid
    // model are bounded driver collects, and its one SQL execution is
    // the scoring pass; the result is a local relation
    val runs = executions {
      graft.ops.AnnIndex.probe(spark, idxDir,
        org.apache.spark.sql.functions.col("vec_id").between(10, 12), k = 3)
    }
    assert(runs.size == 1, s"expected one scoring execution, got ${runs.map(_._1)}")
    val scoring = runs.head._2.executedPlan
    val p = scoring.toString
    val roots = scanRoots(scoring)
    // the point of the persisted index: the probe never re-reads (or
    // re-clusters) the embeddings corpus — only the index tables
    assert(roots.exists(under(idxDir)),
      s"expected the index tables in the scan set: $roots")
    assert(!roots.exists(under(embDir)),
      s"the embeddings corpus must NOT be scanned by the indexed probe: $roots")
    // the scoring query scans members alone, once
    assert(roots == Seq(new java.io.File(s"$idxDir/members").getAbsolutePath),
      s"the scoring query must scan only members/: $roots")
    // candidates are scored by a per-partition top-k per probe, merged
    // on the driver: no probe x candidate join, no exchange, no rank
    // window over the pairs
    assert(!p.contains("Join"), s"the scoring query must not join:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Window"),
      s"the scoring query must be a pruned scan, ranked without a window:\n$p")
    // the candidate fetch is directory-level STATIC partition pruning:
    // the probed-bucket set (bounded by the centroid count) becomes an
    // IN filter on the partition column at plan time — unlike DPP, it
    // can never silently decline into a full members scan
    assert(p.contains("bucket#") &&
        (p.contains(" IN (") || p.contains(" INSET ") || p.contains(" = ")),
      s"expected a static bucket partition filter on members:\n$p")
    // and the pruning really reaches the scan: every members scan (the
    // ones with a bucket partition filter section) prunes beyond
    // isnotnull
    val scanFilters = "PartitionFilters: \\[[^\\]]*bucket[^\\]]*\\]".r
      .findAllIn(p).toSeq
    assert(scanFilters.nonEmpty && scanFilters.forall(f =>
        f.contains("IN") || f.contains("=")),
      s"every members scan must carry a bucket-pruning partition filter:\n$p")
  }

  test("text_bpe_pairs: map-side partial counts, top-k without a global sort") {
    val p = plan("text_bpe_pairs")
    assert(p.contains("partial_count"),
      "pair counting must combine map-side before the exchange")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-k must be per-partition heaps, not a global sort")
  }

  test("agg_kmv_distinct: k-smallest via TakeOrderedAndProject, never a global sort") {
    val p = plan("agg_kmv_distinct")
    assert(p.contains("TakeOrderedAndProject"),
      "the k-minimum selection must be per-partition heaps, not a sort")
    assert(!p.contains("Sort ["), "no global sort anywhere in the sketch")
  }

  test("corpus_mix: derived thresholds broadcast onto the scan, no corpus-sized shuffle join") {
    val p = plan("corpus_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the per-group threshold relation is tiny and must broadcast")
  }

  test("dedup_lines: count exchange keyed by the line hash, not line text") {
    val p = plan("dedup_lines")
    assert(p.contains("hashpartitioning(lh"),
      "the line-frequency shuffle must carry the 60-bit hash key")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_ngram_jaccard: banded candidates, no gram self-join, text never shuffles") {
    val p = plan("dedup_ngram_jaccard")
    // the candidate stage must be the MinHash band equi-join — a join
    // keyed on (band_idx, band_key), never the gram self-join whose
    // volume is ~n²/V on saturated vocabularies
    assert(p.contains("band_key"),
      "the candidate join must key on the MinHash band key")
    val gramSelfJoin =
      """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[gram#\d+L?\], \[gram#\d+L?\], Inner""".r
    assert(gramSelfJoin.findFirstIn(p).isEmpty,
      "the default key must not build candidates from the gram self-join")
    // no join anywhere keys on raw document text, and no cross join
    assert("""Join \[[^\]]*text#""".r.findFirstIn(p).isEmpty,
      "no join may key on document text")
    assert(!p.contains("hashpartitioning(text") &&
      !p.contains("rangepartitioning(text"),
      "document text must never be a shuffle key")
    assert(!p.contains("CartesianProduct"))
  }

  test("dedup_ngram_jaccard_exact: df cap rides gram-hash exchanges, text never shuffles") {
    val p = plan("dedup_ngram_jaccard_exact")
    // the CANDIDATE join specifically (the a×b self-join that builds
    // pairs) must key on the 60-bit gram hash: an INNER join whose
    // both sides key on gram — broadcast at gate scale, hash exchange
    // at corpus scale. Asserting mere BroadcastExchange presence would
    // be satisfied by the hot-set ANTI joins and let a text-keyed
    // candidate join slip through.
    val candJoin =
      """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[gram#\d+L?\], \[gram#\d+L?\], Inner""".r
    assert(p.contains("hashpartitioning(gram") ||
      candJoin.findFirstIn(p).isDefined,
      "the a-b candidate join must key on the 60-bit gram hash")
    // and no join anywhere keys on raw document text
    assert("""Join \[[^\]]*text#""".r.findFirstIn(p).isEmpty,
      "no join may key on document text")
    assert(!p.contains("hashpartitioning(text") &&
      !p.contains("rangepartitioning(text"),
      "document text must never be a shuffle key")
    assert(!p.contains("CartesianProduct"))
  }

  test("cappedGrams df pass: map-side partial aggregate + broadcast anti join, no window") {
    // the r12 skew fix (VERDICT r11 #2): document frequency must be a
    // groupBy(hash).count() — partial-aggregated map-side, so a
    // boilerplate gram in every document sends one row per mapper
    // through the exchange — with the hot set removed by a BROADCAST
    // anti join. A count(*) OVER (PARTITION BY hash) window has no
    // partial aggregation and would pin a df ≈ 10⁸ gram in ONE task.
    // only the RAW gram rows are checkpoint-materialized, so the
    // returned plan still carries the whole df-pass shape: hot-set
    // aggregate, broadcast anti join, sizes aggregate + join
    import spark.implicits._
    val docs = (1L to 50L)
      .map(i => (i, s"alpha beta gamma unique$i token${i * 7} tail${i % 9}"))
      .toDF("doc_id", "text")
    val g = graft.ops.Dedup.cappedGrams(docs, "doc_id", "text", 3, 10)
    val p = g.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "df/sizes must not be window functions")
    assert(p.contains("partial_count") || p.contains("partial_"),
      "df pass must partial-aggregate map-side")
    assert(p.contains("BroadcastExchange"),
      "the hot set must arrive by broadcast, never a shuffled join on the hot hash")
    assert(!p.contains("CartesianProduct"))
    // and the cap semantics survive the new shape: "alpha beta gamma"
    // (df = 50 > 10) is gone, per-doc sizes counted after the cap
    val out = g.collect()
    assert(out.nonEmpty && out.forall(_.getLong(2) == 3L),
      "each doc keeps its 3 sub-cap grams")
  }

  test("jaccardPairs auto: the documents are tokenized once across the decision and edge queries") {
    // the auto decision and the chosen edge read ONE checkpoint of the
    // hashed gram relation; a second tokenize (a prediction re-deriving
    // grams from text) is a full extra corpus scan per evaluation
    import spark.implicits._
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    val docs = (1L to 40L)
      .map(i => (i, s"alpha beta gamma delta epsilon token${i % 3} eta theta"))
      .toDF("doc_id", "text")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3).collect()
      // execution events arrive on the async listener bus
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          !seen.toArray.exists(_.asInstanceOf[(String, QueryExecution)]._1 == "collect"))
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.exists(_._1 == "collect"), "the edge query was not observed")
    val helper = new AdaptiveSparkPlanHelper {}
    val tokenizes = seen.asScala.toSeq.map { case (_, qe) =>
      helper.collectWithSubqueries(qe.executedPlan) {
        case g: GenerateExec
            if g.generator.references.exists(a => a.name == "__toks" || a.name == "text") => g
      }.size
    }.sum
    assert(tokenizes == 1,
      s"expected one text tokenize per evaluation, got $tokenizes across " +
        seen.asScala.map(_._1).mkString(", "))
  }

  test("text_unigram_lm: model join keyed by the token hash, scalar N broadcast") {
    val p = plan("text_unigram_lm")
    assert(p.contains("hashpartitioning(h"),
      "the model join must carry the 60-bit token hash, not token text")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the total-count normalizer must arrive by broadcast, not a collect")
    assert(!p.contains("CartesianProduct"))
  }

  test("text_extract_html / text_chunk_overlap are narrow maps (no join, no aggregate exchange)") {
    for (name <- Seq("text_extract_html", "text_chunk_overlap")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name must not join")
      assert(!p.contains("HashAggregate"), s"$name must not aggregate")
      // only the final ORDER BY may exchange
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name must not hash-shuffle")
    }
  }

  test("embed_centroid_update: max_by assignment, no unbounded pair join") {
    val p = plan("embed_centroid_update")
    assert(p.contains("max_by"), "assignment must aggregate, not window")
    assert(!p.contains("CartesianProduct"))
  }

  test("range-sorted layout: one range exchange + non-global in-file sort") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val shaped = df.repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val p = shaped.queryExecution.executedPlan.toString
    assert(p.contains("Exchange rangepartitioning"), "expected the range shuffle")
    assert(p.contains("Sort [k"), "expected a sort on the key")
    assert(!p.contains("], true, 0"), "the sort must be per-partition, never global")
  }

  test("substring dedup owns no pair space: aggregate df pass, equi-join flag, no window") {
    // ExactSubstr's whole scale story is that duplicated-window
    // detection is an AGGREGATE over window fingerprints (map-side
    // combined — r12 replaced the count-over-hash window, which had
    // no partial aggregation and pinned a hot fingerprint's every
    // occurrence in one task) with the duplicated-set flag returning
    // through an AQE-skew-splittable EQUI-join. A cartesian/BNLJ here
    // means the O(corpus) bound is gone.
    val p = plan("dedup_substring")
    assert(!p.contains("Window"),
      "occurrence counting must be an aggregate, not a window over the hash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the duplicated-set flag must come back by equi-join")
    assert(p.contains("partial_"), "df pass + per-doc rollup must map-side combine")
    // single-execution pin: the window relation feeds two branches
    // (occurrence aggregate + probe join) and is materialized ONCE
    // via localCheckpoint — both branches must read the checkpointed
    // rows, so the tokenize/explode pipeline (a Generate) appears in
    // NEITHER branch of the final plan
    assert(!p.contains("Generate"),
      "tokenize/explode must run once (checkpointed), not once per branch")
    assert(p.contains("ExistingRDD"),
      "both branches must read the checkpointed window relation")
  }

  test("substring prune: coverage join is a narrow equi-join, no cartesian") {
    val p = plan("text_substring_prune")
    assert(!p.contains("CartesianProduct"), "coverage must equi-join on (doc, pos)")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("semdedup: pairwise fenced to clusters — equi-join on the cluster id") {
    // SemDeDup's defining property: the cosine compare never sees the
    // corpus cross join, only within-cluster pairs. A cartesian or
    // BNLJ in this plan is the exact failure the algorithm exists to
    // avoid.
    val p = plan("corpus_semdedup")
    assert(!p.contains("CartesianProduct"), "pair space must be cluster-fenced")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair join must be an equi-join (the n·k centroid assignment is " +
        "checkpointed out of this plan — one pass, shared by all three " +
        "consumers)")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
        || p.contains("SortMergeJoin"),
      "within-cluster pair join must be a hash equi-join")
    // the assignment relation itself (runs once, checkpointed): the
    // max_by aggregate over ids, never a vector-shuffling window
    val asgPlan = {
      import org.apache.spark.sql.functions.col
      val emb = graft.io.Sources.table(spark, sf, "embeddings")
      val all = graft.ops.Similarity.prepared(emb, "vec_id", "embedding")
      graft.ops.Similarity.assignTo(all.select("vec_id", "v"),
          all.limit(4).select(col("vec_id").as("cid"), col("v").as("cv")))
        .queryExecution.executedPlan.toString
    }
    assert(asgPlan.contains("max_by"), "assignment must aggregate, not window")
  }

  test("incremental semdedup: served from the index, cluster-fenced, no assignment") {
    // the whole point of the persisted-index form: no centroid
    // assignment runs at query time (no nested loop anywhere in the
    // plan — the stored assignments are read back), and the pair
    // probe is an equi-join on the bucket partition column
    val p = plan("corpus_semdedup_incremental")
    assert(!p.contains("CartesianProduct"), "pair space must be cluster-fenced")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "no centroid assignment may run at query time — the index serves it")
    assert(p.contains("PartitionFilters: [bucket"),
      "candidate members scan must be statically pruned to the batch's buckets")
  }

  test("join_dpp: the fact scan carries a dynamic partition pruning expression") {
    // the whole row exists to demonstrate this: losing the
    // dynamicpruning subquery silently turns a 5-of-30-partition scan
    // into a full-table scan — at a year of 100 TB, 70x the I/O
    val p = plan("join_dpp")
    assert(p.contains("dynamicpruningexpression"),
      "fact scan must be dynamically pruned by the dim's qualifying days")
    assert(p.contains("BroadcastHashJoin"), "the dim must broadcast")
  }

  test("tpch q3/q5: broadcast join chains, pushed dim filters, top-k not global sort") {
    val p3 = plan("tpch_q3")
    assert(p3.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(!p3.contains("SortMergeJoin"), "q3 dims must broadcast")
    assert(p3.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
        || p3.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer scan")
    val p5 = plan("tpch_q5")
    assert(!p5.contains("CartesianProduct"))
    assert(!p5.contains("SortMergeJoin"), "q5's six-table chain must broadcast")
  }

  test("tpch q4: correlated EXISTS decorrelates to ONE semi join, no per-row subplan") {
    // the class every BI user hits: an EXISTS correlated on the outer
    // row must become a left SEMI join on the order key. A surviving
    // subquery expression (per-outer-row re-execution) or a nested-
    // loop shape is the 100-TB failure: O(|orders|) subplans instead
    // of one shuffle.
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), "EXISTS must decorrelate to a semi join")
    assert(!p.toLowerCase.contains("scalar-subquery") &&
      !p.contains("InSubquery"),
      "no subquery expression may survive into the physical plan")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the semi join must stay an equi-join on the order key")
    assert(p.contains("partial_count"), "the rollup must map-side combine")
  }

  test("tpch q17: correlated scalar subquery decorrelates to one per-key aggregate + join") {
    // the per-group-average-compared-per-row class: the subquery's
    // avg must be computed ONCE per part key (an aggregate relation
    // joined back), never re-executed per probe row.
    val p = plan("tpch_q17")
    assert(!p.toLowerCase.contains("scalar-subquery"),
      "the correlated scalar subquery must be decorrelated, not re-run per row")
    assert(p.contains("partial_sum") || p.contains("partial_avg") ||
      p.contains("partial_"),
      "the per-key average must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the average must join back on the part key equi-join")
  }

  test("sample_per_key: bounded aggregate combines map-side; the picked set broadcasts into the payload join") {
    val p = plan("sample_per_key")
    // the load-bearing skew fact: a partial KSmallest runs BEFORE the
    // exchange, so a hot key ships mappers×k candidates, never its row
    // set (a single-stage plan here would silently restore the window
    // shape's one-task pileup)
    assert(p.contains("partial_ksmallestaggregator"),
      "expected a map-side partial KSmallest aggregate")
    // keys×k picked rows are tiny relative to the fact: the payload
    // join must broadcast them, not sort-merge the events table
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the picked set must broadcast into the payload join")
  }

  test("join_temporal_dim: key equi-join with the validity interval as residual, dim broadcast") {
    val p = plan("join_temporal_dim")
    // the interval must be a residual on a key equi-join — a
    // nested-loop over facts×versions would be the range-join blowup
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval predicate must ride a key equi-join, not a nested loop")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    assert(p.contains("valid_from") && p.contains("valid_to"),
      "the validity interval must appear as a join residual")
  }

  test("text_search_inverted: token IN-list pushed to the posting scan") {
    val p = plan("text_search_inverted")
    // the whole pruning story: the probe reads posting rows, the IN
    // predicate reaches the parquet scan (file/row-group min-max
    // pruning on the range-sorted token layout), and corpus text is
    // never scanned at query time
    assert(p.contains("PushedFilters: [In(token"),
      "expected the probe token IN-list pushed to the posting scan")
    assert(!p.contains("Scan parquet") || !p.toLowerCase.contains("text#"),
      "the search plan must not read corpus text")
  }

  test("ts_resample_ffill: closes combine map-side; the grid join broadcasts") {
    val p = plan("ts_resample_ffill")
    // the hot-key collapse: a partial max_by before the exchange means
    // a zipfian user ships mappers x hours candidate rows, never its
    // observation set
    assert(p.toLowerCase.contains("partial_max_by"),
      "expected a map-side partial max_by for the hourly close")
    // grid x hourly is keys-by-hours sized on both sides — broadcast,
    // not a sort-merge of two shuffles
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "the grid join must broadcast the hourly closes")
  }

  test("compaction rewrite is narrow: Coalesce, not a shuffle Exchange") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_coal").toString
    import spark.implicits._
    (1 to 100).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir).coalesce(2)
    val p = merged.queryExecution.executedPlan.toString
    assert(p.contains("Coalesce"), "expected narrow coalesce")
    assert(!p.contains("Exchange"), "compaction must not shuffle the data it merges")
  }

  /** Names of the SQL executions `body` runs, in order. */
  private def sqlExecutions(body: => Unit): Seq[String] = executions(body).map(_._1)

  /** The SQL executions `body` runs, in order. Executions reach
    * listeners on the async listener bus in order, so a marker query
    * before and after `body` bounds the window exactly.
    */
  private def executions(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add((f, qe))
    }
    def marker(name: String): Unit = {
      spark.range(1).toDF(name).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.toArray.exists(_.asInstanceOf[(String, QueryExecution)]._2
          .analyzed.output.exists(_.name == name))) {
        assert(System.nanoTime() < deadline, s"marker $name never reached the listener")
        Thread.sleep(20)
      }
    }
    spark.listenerManager.register(listener)
    try {
      marker("__window_start")
      body
      marker("__window_end")
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
      .dropWhile(!_._2.analyzed.output.exists(_.name == "__window_start")).drop(1)
      .takeWhile(!_._2.analyzed.output.exists(_.name == "__window_end"))
  }

  private def annIndexFixture(n: Long): (String, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val emb = (0L until n)
      .map(i => (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_ann_q").toString
    (dir, emb)
  }

  test("AnnIndex.probe: one collect runs at most 4 SQL executions") {
    import org.apache.spark.sql.functions.col
    val (dir, emb) = annIndexFixture(80L)
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    val names = sqlExecutions {
      graft.ops.AnnIndex.probe(spark, dir, col("vec_id").between(10, 30), k = 3)
        .collect()
    }
    // probe set, probe vectors, centroids, and the scoring query
    assert(names.size <= 4, s"expected at most 4 SQL executions, got ${names.mkString(", ")}")
  }

  test("AnnIndex.build: at most 6 SQL executions at two Lloyd steps, none an aggregate") {
    val (dir, emb) = annIndexFixture(80L)
    val runs = executions {
      graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    }
    val names = runs.map(_._1)
    info(s"${names.size} SQL executions: ${names.mkString(", ")}")
    assert(names.size <= 6, s"expected at most 6 SQL executions, got ${names.mkString(", ")}")
    // the Lloyd steps and the assignment bucket each vector on its own
    // against the broadcast model and reduce on the driver
    val aggregates = runs.filter(_._2.executedPlan.toString.contains("Aggregate")).map(_._1)
    assert(aggregates.isEmpty, s"no execution may aggregate, got ${aggregates.mkString(", ")}")
  }

  test("AnnIndex.append: a fresh batch runs at most 5 SQL executions") {
    import org.apache.spark.sql.functions.col
    val (dir, emb) = annIndexFixture(80L)
    graft.ops.AnnIndex.build(emb.filter(col("vec_id") < 60), "vec_id", "embedding",
      nCentroids = 4, dir = dir)
    val names = sqlExecutions {
      graft.ops.AnnIndex.append(emb.filter(col("vec_id") >= 60), "vec_id", "embedding", dir)
    }
    assert(names.size <= 5, s"expected at most 5 SQL executions, got ${names.mkString(", ")}")
  }

  test("partitioned upsert: the batch's row_number window runs at most once per merge") {
    import org.apache.spark.sql.catalyst.expressions.RowNumber
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    def rowNumberWindows(body: => Unit): Int = executions(body).map { case (_, qe) =>
      new AdaptiveSparkPlanHelper {}.collectWithSubqueries(qe.executedPlan) {
        case w: WindowExec if w.windowExpression.exists(_.exists(_.isInstanceOf[RowNumber])) => w
      }.size
    }.sum
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_windows").toString + "/t"
    Seq(("a", 1L, 1.0, "2023-11-01"), ("b", 2L, 2.0, "2023-11-02"))
      .toDF("k", "ts", "v", "date")
      .write.partitionBy("date").parquet(dir)
    val keys = Seq("k", "ts")
    // two rows for key (a, 1): the merge must pick one, in one window pass
    val dup = Seq(("a", 1L, 3.0, "2023-11-01"), ("a", 1L, 4.0, "2023-11-01"),
      ("c", 3L, 5.0, "2023-11-03")).toDF("k", "ts", "v", "date")
    val withDup = rowNumberWindows(
      graft.io.Sinks.upsertPartitioned(spark, dup, dir, keys, "date", updatePriority = Seq("v")))
    assert(withDup == 1, s"a batch with a duplicate key ran $withDup row_number windows")
    val unique = Seq(("b", 2L, 6.0, "2023-11-02")).toDF("k", "ts", "v", "date")
    val unique1 = rowNumberWindows(
      graft.io.Sinks.upsertPartitioned(spark, unique, dir, keys, "date"))
    assert(unique1 <= 1, s"a batch with unique keys ran $unique1 row_number windows")
    val got = spark.read.parquet(dir).select("k", "v").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 4.0, "b" -> 6.0, "c" -> 5.0))
  }
}
