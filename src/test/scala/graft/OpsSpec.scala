package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/** Extension-operator semantics on hand-built fixtures. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat today"),   // near dup of 1
    (4L, "completely different words about spark and shuffles here")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per identical text") {
    val out = Dedup.exact(docs, "doc_id", "text").select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 3L, 4L))
  }

  test("exact dedup: min_by's winners past the partial chunk, a spillable sort under the final pass") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // two partitions of 3,000 rows: each holds several partial chunks,
    // and every text recurs in every chunk; one NULL id wins its text,
    // and NULL texts form one group, as groupBy's NULL key does
    val many = spark.range(0, 6000, 1, 2).select(
      when(col("id") =!= 4321L, col("id")).as("doc_id"),
      when(col("id") % 997 =!= 17L, concat(lit("t"), (col("id") * 7919 % 37).cast("string")))
        .as("text"),
      (col("id") % 5).as("aux"))
    val viaMinBy = many
      .groupBy(TextOps.fingerprint(col("text")).as("__fp"))
      .agg(min_by(struct(many.columns.map(col): _*), struct(col("doc_id"))).as("__w"))
      .select(many.columns.map(c => col("__w").getField(c).as(c)): _*)
    val out = Dedup.exact(many, "doc_id", "text")
    val got = out.collect().map(_.toSeq).toSet
    assert(got == viaMinBy.collect().map(_.toSeq).toSet)
    assert(got.size == 38 && got.exists(_.head == null) && got.exists(_(1) == null))
    // the final pass reads its fingerprint partitions through a Sort,
    // which spills: no task holds a whole partition's rows
    val sorts = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
      case s: SortExec if s.sortOrder.headOption.exists(_.child.references.exists(_.name == "__fp")) => s
    }
    assert(sorts.size == 1, out.queryExecution.executedPlan.toString)
  }

  test("ngram jaccard: dup pair = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
        candidates = "gram")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.4 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("banded jaccard: subset of exact relation, jaccard values exact, dup pair found") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
        candidates = "gram")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val banded = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
        candidates = "banded")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every banded pair IS an exact pair with the identical jaccard —
    // banding only filters candidates, the verification is exact
    banded.foreach { case (k, j) =>
      assert(exact.contains(k) && exact(k) == j,
        s"banded pair $k -> $j not in/≠ exact relation") }
    // the exact-dup pair collides in every band — always found
    assert(banded((1L, 2L)) == 1.0)
    // unrelated docs never pass exact verification
    assert(!banded.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("auto lexical edge: saturated corpora band, sparse corpora stay exact") {
    // the decision rule, pinned at the MEASURED gate statistics
    // (predicted candidates from the capped-gram df distribution):
    // every graded scale is deep in the saturated-vocabulary regime,
    // so the default cluster keys run the banded edge there — which is
    // what lets their static oracles state the banded SQL
    assert(Dedup.useBandedEdge(500L, 14941L))     // sf0.001/sf0.01: 29.9/doc
    assert(Dedup.useBandedEdge(5000L, 1265779L))  // sf0.1: 253/doc
    assert(!Dedup.useBandedEdge(500L, 1500L))     // sparse: 3/doc → exact
    // saturated fixture (shared vocabulary): prediction exceeds the
    // budget and the auto edge equals the banded relation
    val sat = (0L until 40L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta token${i % 3} eta theta iota"))
      .toDF("doc_id", "text")
    val nSat = Dedup.predictedGramJoinCandidates(sat, "doc_id", "text", 3)
    assert(Dedup.useBandedEdge(40L, nSat), s"expected saturated, got $nSat")
    val autoSat = Dedup.jaccardPairs(sat, "doc_id", "text", 3, 0.3)
    val bandedSat = Dedup.jaccardPairs(sat, "doc_id", "text", 3, 0.3,
      candidates = "banded")
    assert(autoSat.count() == bandedSat.count() &&
      autoSat.except(bandedSat).count() == 0)
    // sparse fixture (per-doc vocabulary): prediction is O(n) and the
    // auto edge keeps the recall-lossless exact relation
    val sparse = (0L until 40L).map(i =>
      (i, (0 until 10).map(t => s"w${i}x$t").mkString(" ")))
      .toDF("doc_id", "text")
    val nSparse = Dedup.predictedGramJoinCandidates(sparse, "doc_id", "text", 3)
    assert(!Dedup.useBandedEdge(40L, nSparse), s"expected sparse, got $nSparse")
    val autoSparse = Dedup.jaccardPairs(sparse, "doc_id", "text", 3, 0.3)
    val exactSparse = Dedup.jaccardPairs(sparse, "doc_id", "text", 3, 0.3,
      candidates = "gram")
    assert(autoSparse.count() == exactSparse.count() &&
      autoSparse.except(exactSparse).count() == 0)
  }

  test("autoBandBits: band-key bits track log₂ n with an 8-bit floor") {
    // the floor: every gate scale stays at the measured-near-linear
    // 8-bit keys (and thus at the fixed 16-plane oracle mirror)
    assert(Similarity.autoBandBits(1L) == 8)
    assert(Similarity.autoBandBits(500L) == 8)    // sf0.01 gate
    assert(Similarity.autoBandBits(5000L) == 8)   // sf0.1 bench
    assert(Similarity.autoBandBits(20000L) == 8)  // sf1 probe
    assert(Similarity.autoBandBits(1L << 15) == 8)
    // past the floor: bits = ⌈log₂ n⌉ − 7, so expected bucket
    // population n / 2^bits never exceeds the 2^7 per-vector
    // per-band candidate budget — the SCALING.md §3 rule
    assert(Similarity.autoBandBits((1L << 15) + 1) == 9)
    assert(Similarity.autoBandBits(1L << 20) == 13)
    assert(Similarity.autoBandBits(1L << 30) == 23)
    (10 to 40).foreach { e =>
      val bits = Similarity.autoBandBits(1L << e)
      assert((1L << e).toDouble / (1L << bits) <= 128.0,
        s"candidate budget exceeded at n=2^$e: bits=$bits")
    }
    // at gate scale the auto call IS the explicit 2×8-bit call —
    // same candidates, same re-ranked pairs
    val emb = (0L until 50L)
      .map(i => (i, Array.tabulate(64)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.lshPairsAuto(emb, "vec_id", "embedding",
        nBands = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = Similarity.lshPairs(emb, "vec_id", "embedding",
        nPlanes = 16, nBands = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit && auto.nonEmpty)
  }

  test("df cap: boilerplate-gram corpus yields O(n) candidates, not O(n²)") {
    // every doc carries the same boilerplate trigram plus unique content —
    // the 100-TB scale-killer shape ("terms of service" in 10⁸ docs)
    val n = 100
    val boiler = (0 until n).map(i =>
      (i.toLong, s"terms of service u${i}a u${i}b u${i}c u${i}d"))
      .toDF("doc_id", "text")
    def candidateRows(maxDf: Int): Long = {
      val g = Dedup.cappedGrams(boiler, "doc_id", "text", 3, maxDf)
        .select("doc_id", "gram")
      g.toDF("a", "gram").join(g.toDF("b", "gram"), "gram")
        .filter(col("a") < col("b")).count()
    }
    // uncapped: the shared trigram alone contributes C(n,2) join rows
    assert(candidateRows(Int.MaxValue) >= n.toLong * (n - 1) / 2)
    // capped: the boilerplate gram never enters candidate generation,
    // and the unique remainder produces zero pairs — O(n) total work
    assert(candidateRows(50) == 0L)
    assert(Dedup.jaccardPairs(boiler, "doc_id", "text", 3, 0.05,
      candidates = "gram", maxDf = 50).count() == 0L)
  }

  test("df pass skew: one gram in every doc stays map-side bounded, no single-task pileup") {
    // the VERDICT-r11 straggler shape: a boilerplate gram present in
    // EVERY document. Under the old count-over-hash window, every one
    // of its occurrences shuffled into ONE task before the df filter
    // could drop it; the r12 groupBy shape partial-aggregates
    // map-side, so no task's shuffle read may approach the hot gram's
    // full df. Measured with real task metrics, not plan text.
    val nDocs = 2048
    val boiler = (0 until nDocs).map(i =>
      (i.toLong, s"terms of service u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text").repartition(32)
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxRead.getAndUpdate(c => math.max(c, m.shuffleReadMetrics.recordsRead))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE's small-data partition COALESCING funnels the whole (tiny)
    // test exchange into one task — benign, but it would masquerade as
    // pileup in the metric. Disable it here so per-task reads reflect
    // the KEY distribution, which is what this test measures; at
    // corpus scale partitions are above the advisory size and AQE
    // never coalesces them into one.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    // 32 shuffle partitions (the suite default is 4, where even a
    // BALANCED 8k-row exchange reads ~2k rows per task and the
    // hot-key signature is indistinguishable from fair sharing)
    val partKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.get(partKey)
    spark.conf.set(partKey, "32")
    try {
      val out = Dedup.cappedGrams(boiler, "doc_id", "text", 3, 100)
      assert(out.count() == nDocs * 3L,
        "each doc keeps its three unique trigrams after the cap")
      // metrics arrive on the async listener bus — settle
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1L
      while (System.nanoTime() < deadline && maxRead.get() != last) {
        last = maxRead.get(); Thread.sleep(200)
      }
    } finally {
      spark.conf.set(coalesceKey, prevCoalesce)
      spark.conf.set(partKey, prevParts)
      spark.sparkContext.removeSparkListener(listener)
    }
    // 2048 docs × 4 trigrams ≈ 8k gram rows over 32 shuffle partitions:
    // balanced tasks read a few hundred rows. The window shape forced
    // ≥ nDocs (every boilerplate occurrence) into one task — assert we
    // stay well under that signature.
    assert(maxRead.get() < nDocs / 2,
      s"max task shuffle-read ${maxRead.get()} rows — hot-key pileup " +
        s"(window-shape signature is ≥ $nDocs; balanced is ~${8 * nDocs / 32})")
    assert(maxRead.get() > 0, "expected the listener to observe shuffle reads")
  }

  test("df cap: jaccard is computed over the capped gram sets") {
    val d = Seq(
      (1L, "b1 b2 b3 p q r s"),
      (2L, "b1 b2 b3 p q r t"),
      (3L, "b1 b2 b3 z y x w")
    ).toDF("doc_id", "text")
    // uncapped: the boilerplate trigram (df 3) links all three docs
    val raw = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.05,
        candidates = "gram", maxDf = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(raw.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // maxDf=2 drops exactly [b1 b2 b3]; docs 1-2 keep 4 grams each with
    // 3 shared → J = 3/(4+4-3) = 0.6, and doc 3 pairs with nothing
    val capped = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.05,
        candidates = "gram", maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((1L, 2L)))
    assert(math.abs(capped((1L, 2L)) - 0.6) < 1e-12)
  }

  test("df cap between relations: hot grams come from the corpus side") {
    val corpus = Seq(
      (10L, "b1 b2 b3 one two three four"),
      (11L, "b1 b2 b3 five six seven eight"),
      (12L, "b1 b2 b3 nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "b1 b2 b3 totally unrelated fresh words"),  // shares only boilerplate
      (2L, "b1 b2 b3 one two three five")              // real overlap with 10
    ).toDF("doc_id", "text")
    def kept(maxDf: Int) = Dedup.incremental(batch, corpus, "doc_id", "text",
        3, 0.05, candidates = "gram", maxDf = maxDf)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // [b1 b2 b3] has df 3 in the corpus (hot at maxDf = 2) but only 2
    // in the batch: a batch doc sharing only that boilerplate survives,
    // while doc 2's real overlap with 10 (J = 3/5 over the capped sets)
    // still drops it
    assert(kept(2) == Seq(1L),
      "a batch doc sharing only corpus boilerplate must not pair")
    // uncapped, the shared boilerplate alone pairs doc 1 (J = 1/9)
    assert(kept(Int.MaxValue) == Seq.empty)
  }

  test("minhash LSH finds the exact-dup pair with estimate 1.0") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("simhash: identical docs hamming 0; near-dups close") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 30)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).forall(_ > 0))
  }

  test("cosine top-k ranks the parallel vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f)),   // parallel to 0 → cos 1
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (3L, Array(1.0f, 1.0f, 0.0f))    // cos ~0.707
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(emb, "vec_id", "embedding", $"vec_id" === 0, 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(math.abs(top(0).getAs[Double]("cos") - 1.0) < 1e-12)
    assert(top(1).getAs[Long]("neighbor_id") == 3L)
  }

  test("cosineTopK refuses an over-broad probe predicate before collecting") {
    val emb = (0L until 50L).map(i => (i, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    // probes are collected to the driver: a corpus-sized predicate must
    // fail loudly (same contract as ivfTopK), not OOM-degrade
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineTopK(emb, "vec_id", "embedding", lit(true), 2,
        maxProbes = 10L)
    }
    assert(e.getMessage.contains("50 probes"))
    // at or under the bound it runs
    assert(Similarity.cosineTopK(emb, "vec_id", "embedding",
      $"vec_id" < 10, 2, maxProbes = 10L).count() == 20)
  }

  test("cosine pairs: parallel pair found, orthogonal filtered") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(3.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L)))
    // the exact-baseline cartesian is fenced: a corpus past the cap is
    // refused loudly with the scale path named, never silently n²
    val e = intercept[IllegalArgumentException](
      Similarity.cosinePairs(emb, "vec_id", "embedding", 0.9,
        maxExactCorpus = 2L))
    assert(e.getMessage.contains("lshPairs"))
  }

  test("bpe train: greedy left-to-right merges, later rounds see merged tokens") {
    // "a a a" must merge ONCE per round-1 rewrite ((a a) a — greedy
    // from the left), and round 2's top pair must involve the merged
    // token — the property that distinguishes iterative training from
    // k independent pair counts
    val docs = Seq(
      (1L, "a a a b"), (2L, "a a b"), (3L, "a a b")
    ).toDF("doc_id", "text")
    val m = graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: "a a" appears 4 times (doc 1 contributes 2 overlapping
    // pair POSITIONS but only 1 merge later; the count is positional)
    assert(m(0) == ((1L, "a", "a", 4L)), s"round 1 was ${m(0)}")
    // round 1 rewrite: doc1 -> "a+a a b" (greedy: first two merge,
    // third survives), docs 2/3 -> "a+a b". Round 2 pairs: (a+a, b) x2,
    // (a+a, a) x1, (a, b) x1 -> top = (a+a, b)
    assert(m(1) == ((2L, "a+a", "b", 2L)), s"round 2 was ${m(1)}")
  }

  test("bpe apply: encode with learned merges reconstructs the normalized text") {
    val docs = Seq(
      (1L, "a a a b"), (2L, "A a b "), (3L, "a a b c"), (4L, "x")
    ).toDF("doc_id", "text")
    val merges = graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", rounds = 3)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = graft.ops.Corpus.bpeApply(docs, "doc_id", "text", merges)
    // greedy semantics: doc1 "a a a b" -> round1 (a,a): "a+a a b";
    // if (a+a,b) ranks next it does NOT touch doc1's "a b" tail
    val byId = enc.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Seq[String]]("toks")).toMap
    assert(byId(1L).head == "a+a", s"doc1 was ${byId(1L)}")
    // the reconstruction property: encoded tokens joined by ' ' with
    // the sep unfolded equal the normalized input — encode never
    // drops, duplicates, or reorders a token
    val recon = enc.select(col("doc_id"),
        replace(concat_ws(" ", col("toks")), lit("+"), lit(" ")).as("r"))
      .join(docs.select(col("doc_id"), lower(trim(col("text"))).as("t")), "doc_id")
      .filter(col("r") =!= col("t")).count()
    assert(recon == 0, "encode must reconstruct the normalized text")
    // counts are consistent: every merge removes exactly one token
    enc.select(col("n_raw") - col("n_enc"), size(col("toks")) === col("n_enc"))
      .collect().foreach { r =>
        assert(r.getLong(0) >= 0 && r.getBoolean(1))
      }
  }

  test("bpe train: k=50 rounds run without plan-depth blowup") {
    // the per-round nested-replace lineage is truncated every 4 rounds
    // (localCheckpoint) — at tokenizer-scale round counts the plan must
    // stay bounded; this would hang/StackOverflow without truncation
    val docs = Seq.tabulate(20)(i => (i.toLong, s"w${i % 3} w${i % 5} w${i % 3} e$i"))
      .toDF("doc_id", "text")
    val m = graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", rounds = 50)
    // tiny vocab exhausts before 50 rounds — the loop must stop on its
    // own and still return every elected merge
    val n = m.count()
    assert(n >= 3 && n <= 50, s"got $n merges")
  }

  test("bpe incremental train: merge table identical to the iterative trainer") {
    // the pair-table trainer maintains counts from per-doc deltas; any
    // delta-accounting slip (chained merges, overlapping occurrences,
    // a pair going to zero) diverges the ELECTION order — so equality
    // of the full (round, l, r, n) table over a vocab-rich corpus with
    // chained/overlapping pair structure is the whole contract
    val docs = (Seq.tabulate(30)(i =>
        (i.toLong, s"w${i % 3} w${i % 5} w${i % 3} w${i % 7} e$i")) ++
      Seq((100L, "a a a a b"), (101L, "a  a b"), (102L, "b a a b")))
      .toDF("doc_id", "text")
    val it = graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", rounds = 12)
      .orderBy("round").collect().map(_.toSeq).toSeq
    val inc = graft.ops.Corpus
      .bpeTrainIncremental(docs, "doc_id", "text", rounds = 12,
        checkpointEvery = 3)
      .orderBy("round").collect().map(_.toSeq).toSeq
    assert(it.nonEmpty && it == inc,
      s"iterative:\n${it.mkString("\n")}\nincremental:\n${inc.mkString("\n")}")
  }

  test("bpe incremental train: k=500 rounds complete with bounded per-round cost") {
    // the tokenizer-scale bound VERDICT r10 #5 asks for: 500 merge
    // rounds must complete with O(1) plan depth per round (corpus and
    // pair table are both re-checkpointed each step) and without the
    // iterative trainer's per-round full recount. Every round merges
    // ALL occurrences of the elected pair, so the corpus must carry
    // enough mergeable positions: 200 docs x 50 quadratically-striped
    // tokens over a 251-word vocab keeps pair counts low (~flat
    // occurrence histogram) and 500 elections never exhaust. The wall
    // bound is generous — the assertion is completion + exact round
    // count; the cost CURVE vs the iterative trainer is measured in
    // SCALING.md (round 11 addendum).
    val docs = Seq.tabulate(200)(i => (i.toLong,
      Seq.tabulate(50)(j => s"w${(i * 17 + j * j * 3 + j) % 251}")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val n = graft.ops.Corpus
      .bpeTrainIncremental(docs, "doc_id", "text", rounds = 500).count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n == 500L, s"expected 500 merges, got $n")
    assert(secs < 240, f"k=500 took $secs%.1f s — per-round cost regressed")
  }

  test("bpe whitespace: doubled spaces tokenize identically in train and apply") {
    // docs 1/2 differ only by a doubled space; every BPE path collapses
    // whitespace BEFORE tokenizing, so they must train and encode
    // byte-identically (pre-fix, apply kept the empty token and the
    // doubled-space doc refused the (a,b) merge that training saw)
    val docs = Seq(
      (1L, "a b a b c"), (2L, "a  b a b c"), (3L, "a b x")
    ).toDF("doc_id", "text")
    val m = graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", rounds = 2)
      .orderBy("round").collect()
    assert(m(0).getString(1) == "a" && m(0).getString(2) == "b" &&
      m(0).getLong(3) == 5L, // both twins contribute 2 (a,b) positions
      s"round 1 was ${m.head}")
    val enc = graft.ops.Corpus.bpeApply(docs, "doc_id", "text",
        m.map(r => (r.getString(1), r.getString(2))).toSeq)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getSeq[String](r.fieldIndex("toks")).toList,
          r.getAs[Long]("n_raw"))).toMap
    assert(enc(1L) == enc(2L),
      s"twins diverged: ${enc(1L)} vs ${enc(2L)}")
    // round 2 elects (a+b, a+b) — the twins' tokens chain-merge fully
    assert(enc(1L)._1 == List("a+b+a+b", "c") && enc(1L)._2 == 5L,
      s"doc1 was ${enc(1L)}")
  }

  test("text ops: counts, quality, fingerprint equality") {
    val out = docs.select(
      TextOps.tokenCount($"text").as("n"),
      TextOps.fingerprint($"text").as("fp"),
      TextOps.qualityScore($"text", Seq("the", "a")).as("q")).collect()
    assert(out(0).getAs[Long]("n") == 10)
    assert(out(0).getAs[Long]("fp") == out(1).getAs[Long]("fp")) // dup texts
    assert(out(0).getAs[Long]("fp") != out(3).getAs[Long]("fp"))
    assert(out.forall(r => r.getAs[Double]("q") >= 0 && r.getAs[Double]("q") <= 100))
  }

  test("hash sampling is deterministic, a subset, and rate-proportional") {
    import graft.ops.Corpus
    val ids = (1L to 2000L).toDF("doc_id")
    val s1 = Corpus.hashSample(ids, "doc_id", lit(10)).as[Long].collect().sorted
    val s2 = Corpus.hashSample(ids, "doc_id", lit(10)).as[Long].collect().sorted
    assert(s1.toSeq == s2.toSeq) // reproducible
    assert(math.abs(s1.length - 200) < 60, s"rate off: ${s1.length}")
    val s30 = Corpus.hashSample(ids, "doc_id", lit(30)).as[Long].collect()
    assert(s1.toSet.subsetOf(s30.toSet)) // rates nest: 10% ⊂ 30%
  }

  test("vocab top-k ranks the most frequent token first, ties by token") {
    val top = graft.ops.Corpus.vocabTopK(docs, "text", 3).collect()
    assert(top(0).getString(0) == "the") // 2 per dup'd doc
    assert(top(0).getLong(1) > top(2).getLong(1) ||
      top(1).getString(0) < top(2).getString(0))
  }

  test("greedy packing bins by starting token offset per group") {
    import graft.ops.Corpus
    val d = Seq(
      (1L, "a", "w " * 9 + "w"),   // 10 tokens, starts at 0   → bin 0
      (2L, "a", "w " * 9 + "w"),   // starts at 10             → bin 0
      (3L, "a", "w " * 9 + "w"),   // starts at 20             → bin 1
      (4L, "b", "w w")             // other group              → bin 0
    ).toDF("doc_id", "grp", "text")
    val bins = Corpus.packGreedy(d, "doc_id", "text", "grp", budgetTokens = 16)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(bins(("a", 0L)) == ((2L, 20L)))
    assert(bins(("a", 1L)) == ((1L, 10L)))
    assert(bins(("b", 0L)) == ((1L, 2L)))
  }

  test("packGreedy rejects non-integral id columns loudly") {
    import graft.ops.Corpus
    // a string id would cast its shard to NULL (inner join silently
    // empties the result) or shard in lexicographic order while the
    // window sorts numerically — must fail fast instead
    val d = Seq(("a1", "g", "w w")).toDF("doc_id", "grp", "text")
    val e = intercept[IllegalArgumentException] {
      Corpus.packGreedy(d, "doc_id", "text", "grp", budgetTokens = 16)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("keepRepresentatives drops near-dup cluster members, keeps the min id") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.3,
        candidates = "gram")
      .select("doc_a", "doc_b")
    val kept = Dedup.keepRepresentatives(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L)) // {1,2,3} collapse to 1; 4 untouched
  }

  test("connected components: pointer jumping converges on a deep chain") {
    // a 1000-node path has diameter 999: plain min-propagation would
    // need 999 rounds; propagate + double jump multiplies reach per
    // round, so convergence must land well under the log2 bound (~11
    // rounds) the single-jump variant needed
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (comp, rounds) =
      ops.Components.connectedComponentsWithRounds(chain, "doc_a", "doc_b")
    assert(rounds <= 9, s"double pointer jump should converge in <=9 rounds, took $rounds")
    assert(comp.count() == 1000)
    assert(comp.select(countDistinct($"component")).as[Long].head() == 1L)
    assert(comp.select(min($"component"), max($"component"))
      .as[(Long, Long)].head() == ((0L, 0L)))
  }

  test("stripStats: a checkpoint inherits its child's size estimate, the rewrap makes it depth-invariant") {
    // localCheckpoint truncates lineage but CARRIES the child plan's
    // estimated sizeInBytes — so a loop re-checkpointing its own
    // output compounds the estimate round over round (the docs-ladder
    // dedup_multi_signal ≥480 s planning hangs: ten-million-digit
    // BigInteger products inside the size-only stats visitor by round
    // ~9). Pin both halves: the inherited estimate GROWS with the
    // join depth of the producing plan, and stripStats resets it to a
    // leaf default that does not.
    def sizeOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val a = spark.range(4).toDF("x")
    val shallow = a.crossJoin(a.select($"x".as("y"))).localCheckpoint(true)
    val deep = a.crossJoin(a.select($"x".as("y")))
      .crossJoin(a.select($"x".as("z")))
      .crossJoin(a.select($"x".as("w"))).localCheckpoint(true)
    assert(sizeOf(deep) > sizeOf(shallow),
      "expected the checkpoint to inherit depth-dependent estimates " +
        "(if this starts failing, Spark fixed it upstream and stripStats can go)")
    val s1 = sizeOf(ops.Components.stripStats(shallow))
    val s2 = sizeOf(ops.Components.stripStats(deep))
    assert(s1 == s2,
      s"stripped estimates must not depend on producer plan depth: $s1 vs $s2")
  }

  test("connected components: separate clusters keep separate min labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val comp = ops.Components.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("redactPii scrubs emails, IPs and long digit runs; counts are per-class") {
    val d = Seq(
      (1L, "mail a.b+c@ex-1.org then 192.168.0.1 card 4111111111111111 ok"),
      (2L, "no pii here, just 1234 and v2.0 and a.b")
    ).toDF("doc_id", "text")
    val (ne, ni, nn) = TextOps.piiCounts($"text")
    val out = d.select($"doc_id", ne.as("ne"), ni.as("ni"), nn.as("nn"),
      TextOps.redactPii($"text").as("red")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("red") ==
      "mail <EMAIL> then <IP> card <NUM> ok")
    assert(out(1L).getAs[Long]("ne") == 1 && out(1L).getAs[Long]("ni") == 1 &&
      out(1L).getAs[Long]("nn") == 1)
    assert(out(2L).getAs[String]("red") ==
      "no pii here, just 1234 and v2.0 and a.b") // untouched
    assert(out(2L).getAs[Long]("ne") == 0 && out(2L).getAs[Long]("ni") == 0 &&
      out(2L).getAs[Long]("nn") == 0)
  }

  test("containment catches a short benchmark doc inside a long page; decontaminate removes it") {
    val corpus = Seq(
      (1L, "intro words here the capital of france is paris end of page extra"),
      (2L, "totally unrelated content about spark shuffles and partitions"),
      (3L, "the capital of france is paris")  // exact leak of the benchmark
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the capital of france is paris")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, bench, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 1 embeds the benchmark verbatim → containment 1.0 even though
    // Jaccard vs the long page would be far below threshold
    assert(pairs((1L, 100L)) == 1.0)
    assert(pairs((3L, 100L)) == 1.0)
    assert(!pairs.contains((2L, 100L)))
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", 3, 0.8)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L))
  }

  test("rarest-gram containment probe is lossless vs the all-grams join on a boilerplate corpus") {
    import graft.functions.Parity
    // boilerplate-heavy corpus: every doc shares the same 12-token
    // header (the regime where probing on COMMON grams would explode),
    // distinct bodies, two planted verbatim leaks (containment 1.0)
    // and one paraphrase under the threshold
    val header = "terms of service apply to all content on this site always"
    val corpus = ((1 to 40).map(i =>
      (i.toLong, s"$header unique body $i piece number ${i * 7} tail")) ++ Seq(
      (101L, s"$header the quick brown fox jumps over the lazy dog today"),
      (102L, "prefix words the quick brown fox jumps over the lazy dog"),
      (103L, "the quick brown fox leaps over the lazy dog entirely"))).toDF("doc_id", "text")
    val bench = Seq((500L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    // brute-force reference: the unbounded all-grams join
    def grams(df: org.apache.spark.sql.DataFrame, out: String) =
      Dedup.gramTable(df, "doc_id", "text", 3)
        .select(col("doc_id").as(out), Parity.md5_60(col("gram")).as("g"))
    val cg = grams(corpus, "cid"); val bg = grams(bench, "bid")
    val nb = bg.count().toDouble
    val ref = cg.join(bg, "g").groupBy("cid", "bid").count()
      .filter(col("count").cast("double") / nb >= 0.8)
      .select("cid").as[Long].collect().sorted.toSeq
    val got = Dedup.containmentPairs(corpus, bench, "doc_id", "text", 3, 0.8)
      .select("corpus_id").as[Long].collect().sorted.toSeq
    assert(got == ref, s"probe-bounded containment diverged: $got vs $ref")
    assert(got.contains(101L) && got.contains(102L) && !got.contains(103L))
  }

  test("domain blocklist filter drops docs with blocked hosts only") {
    import graft.ops.Corpus
    val d = Seq(
      (1L, "read https://bad.example.com/x and more"),
      (2L, "read https://ok.example.org/y and http://also.fine.net z"),
      (3L, "no urls at all")
    ).toDF("doc_id", "text")
    val kept = Corpus.filterByDomainBlocklist(d, "text", Seq("bad.example.com"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L))
    assert(TextOps.domains($"text") != null) // host extraction is group 1
    val hosts = d.filter($"doc_id" === 2L)
      .select(TextOps.domains($"text")).as[Seq[String]].head()
    assert(hosts == Seq("ok.example.org", "also.fine.net"))
  }

  test("repetitionRatio flags the boilerplate doc") {
    import graft.ops.Corpus
    val d = Seq(
      (1L, "buy now buy now buy now buy now"),  // "buy now"/"now buy" dominate
      (2L, "all these words appear only once here"),
      (3L, "x")                                 // <2 tokens → no row
    ).toDF("doc_id", "text")
    val r = Corpus.repetitionRatio(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(!r.contains(3L))
    assert(r(1L)._1 == 7L && r(1L)._2 == 4L) // 7 bigrams, "buy now" ×4
    assert(r(1L)._3 > 0.5 && r(2L)._3 < 0.2)
    assert(r(2L)._2 == 1L)
  }

  test("tokenLenHistogram buckets by n_tok div width") {
    import graft.ops.Corpus
    val d = Seq((1L, "a b c"), (2L, "a b c d"), (3L, ("w " * 17).trim))
      .toDF("doc_id", "text") // 3, 4, 17 tokens; width 4 → buckets 0,1,4
    val h = Corpus.tokenLenHistogram(d, "text", 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(h == Map(0L -> ((1L, 3L)), 1L -> ((1L, 4L)), 4L -> ((1L, 17L))))
  }

  test("quantizeInt8: bounded reconstruction error, exact extremes, zero vector") {
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector → all-zero q
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2))).toMap
    val (s0, q0) = rows(0L)
    assert(s0 == 1.0)
    assert(q0 == Seq(64L, -127L, 32L, 0L)) // floor(±x*127+0.5)
    val orig = Seq(0.5, -1.0, 0.25, 0.0)
    q0.zip(orig).foreach { case (q, v) =>
      assert(math.abs(q * s0 / 127.0 - v) <= s0 / 254.0 + 1e-12)
    }
    val (s1, q1) = rows(1L)
    assert(s1 == 0.0 && q1 == Seq(0L, 0L, 0L, 0L))
  }

  test("multimodal: payloads are real PNGs and decode round-trips pixels") {
    val sized = docs.withColumn("n_chars", length($"text"))
    val media = Multimodal.toImageTable(sized, "doc_id", "n_chars")
    assert(media.schema("payload").dataType.typeName == "binary")
    // the payload really is a PNG file: magic bytes 89 50 4E 47
    val payload = media.filter($"doc_id" === 1L)
      .select("payload").as[Array[Byte]].head()
    assert((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte &&
      payload(2) == 'N'.toByte && payload(3) == 'G'.toByte)
    // and an independent JVM-side decode agrees with the operator
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    val feats = Multimodal.decodeImages(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).width == img.getWidth)
    assert(feats(1L).height == img.getHeight)
    // constant-gray fill: decoded pixel sum has the closed form
    val nChars = "the quick brown fox jumps over the lazy dog today".length
    val (w, h, g) = (8 + (1 % 9), 8 + (nChars % 7), 1 % 256)
    assert(feats(1L).width == w && feats(1L).height == h)
    assert(feats(1L).px_sum == w.toLong * h * 3 * g)
  }

  test("multimodal: resize re-encodes real PNGs at the target size") {
    val sized = docs.withColumn("n_chars", length($"text"))
    val media = Multimodal.toImageTable(sized, "doc_id", "n_chars")
    val resized = Multimodal.resizeImages(media, targetW = 5, targetH = 3)
    // the resized payload is itself a real PNG file
    val payload = resized.filter($"doc_id" === 1L)
      .select("payload").as[Array[Byte]].head()
    assert((payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte)
    // every thumbnail: target dims, constant fill exactly preserved by
    // nearest-neighbor → px_sum = 5*3*3*gray
    Multimodal.decodeImages(spark, resized).collect().foreach { f =>
      assert(f.width == 5 && f.height == 3)
      assert(f.px_sum == 5L * 3 * 3 * (f.doc_id % 256))
    }
    intercept[IllegalArgumentException](Multimodal.resizeImages(media, 0, 3))
  }

  test("multimodal: one decode handles mixed PNG/JPEG payloads") {
    val sized = docs.withColumn("n_chars", length($"text"))
    val media = Multimodal.toImageTableMixed(sized, "doc_id", "n_chars")
    // odd ids really are JPEG containers (SOI marker FF D8), even PNG
    val byId = media.select("doc_id", "kind", "payload")
      .as[(Long, String, Array[Byte])].collect().map(t => t._1 -> t).toMap
    assert(byId(2L)._2 == "image/png" && (byId(2L)._3(0) & 0xff) == 0x89)
    assert(byId(1L)._2 == "image/jpeg" && (byId(1L)._3(0) & 0xff) == 0xff &&
      (byId(1L)._3(1) & 0xff) == 0xd8)
    val feats = Multimodal.decodeImages(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    sized.select($"doc_id", $"n_chars").as[(Long, Int)].collect().foreach {
      case (id, n) =>
        val (w, h, g) = (8 + (id % 9).toInt, 8 + (n % 7), (id % 256).toInt)
        val f = feats(id)
        // dimensions are codec-exact for any format
        assert(f.width == w && f.height == h)
        assert(f.kind == (if (id % 2 == 0) "image/png" else "image/jpeg"))
        val exact = w.toLong * h * 3 * g
        if (id % 2 == 0) assert(f.px_sum == exact) // PNG: lossless
        else // JPEG of a constant image is DC-only: off by ≤3/channel
          assert(math.abs(f.px_sum - exact) <= w.toLong * h * 3 * 3,
            s"doc $id: jpeg px_sum ${f.px_sum} too far from $exact")
    }
  }

  test("normalizeUrl canonicalizes scheme/case/www/query/fragment/slash variants") {
    val urls = Seq(
      "https://WWW.Example.COM/Path/",
      "http://example.com/path?utm=x",
      "example.com/path#section",
      "https://example.com/path",
      "https://other.org/") // distinct target
    val out = urls.toDF("u")
      .select(TextOps.normalizeUrl($"u")).as[String].collect().toSeq
    assert(out.take(4).toSet == Set("example.com/path"))
    assert(out(4) == "other.org")
  }

  test("incremental dedup: in-batch dups, exact corpus hits and near-dups all drop") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark and shuffles here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),  // exact corpus dup
      (11L, "the quick brown fox jumps over the lazy cat today"),  // near-dup of corpus 1
      (12L, "an entirely novel document with fresh unseen content"),
      (13L, "an entirely novel document with fresh unseen content"), // in-batch dup of 12
      (14L, "short unrelated text")
    ).toDF("doc_id", "text")
    def kept(b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame,
             threshold: Double) =
      Dedup.incremental(b, c, "doc_id", "text", 3, threshold, candidates = "gram")
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(batch, corpus, 0.5) == Seq(12L, 14L))
    // 11 drops on the near-dup stage alone (0.5 ≤ J(11, 1) < 1): at
    // threshold 1.0 it survives, while 10 still drops (fingerprint and
    // J(10, 1) = 1.0)
    assert(kept(batch, corpus, 1.0) == Seq(11L, 12L, 14L))
    // directional: only the batch side is filtered — the corpus deduped
    // against the batch loses just its exact dup of 10
    assert(kept(corpus, batch, 0.5) == Seq(2L))
  }

  test("banded incremental dedup: exact/fingerprint stages identical, banded near-dups drop") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about spark and shuffles here")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),  // exact corpus dup
      (11L, "the quick brown fox jumps over the lazy dog yesterday"), // near-dup of corpus 1
      (12L, "an entirely novel document with fresh unseen content"),
      (13L, "an entirely novel document with fresh unseen content"), // in-batch dup of 12
      (14L, "short unrelated text")
    ).toDF("doc_id", "text")
    def kept(b: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame,
             threshold: Double) =
      Dedup.incremental(b, c, "doc_id", "text", 3, threshold, candidates = "banded")
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(batch, corpus, 0.5) == Seq(12L, 14L))
    // 11 drops on its band estimate alone (0.5 ≤ est < 1.0): at
    // threshold 1.0 it survives
    assert(kept(batch, corpus, 1.0) == Seq(11L, 12L, 14L))
    // directional: the corpus deduped against the batch loses just its
    // exact dup of 10
    assert(kept(corpus, batch, 0.5) == Seq(2L))
    // a batch doc whose gram SET equals a corpus doc's (different text,
    // so no fingerprint hit) estimates exactly 1.0: it drops even at
    // threshold 1.0
    val sameGrams = Seq((20L, "x y z x y z x y z")).toDF("doc_id", "text")
    val rep = Seq((30L, "x y z x y z")).toDF("doc_id", "text")
    assert(kept(sameGrams, rep, 1.0).isEmpty)
  }

  test("tfidf: rare term outranks common term; stopword-like terms sink") {
    val docs = Seq(
      (1L, "alpha beta beta"),
      (2L, "alpha gamma gamma"),
      (3L, "alpha delta")
    ).toDF("doc_id", "text")
    val top = graft.ops.Corpus.tfidfTopK(docs, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // per doc the doc-unique term (df=1) wins over alpha (df=3)
    assert(top(1L)._1 == "beta" && top(2L)._1 == "gamma" && top(3L)._1 == "delta")
    // exact value: tf 2/3 · idf 3/1 = 2.0 for beta in doc 1
    assert(top(1L)._2 == (2.0 / 3.0) * 3.0)
  }

  test("split assignment: disjoint, exhaustive, repartition-stable, seed re-deals") {
    import graft.ops.Corpus
    val ids = (1L to 2000L).map(Tuple1(_)).toDF("doc_id")
    val cuts = Seq(("train", 90), ("val", 95), ("test", 100))
    val s1 = Corpus.assignSplits(ids, "doc_id", "seed-0", cuts)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exhaustive (every row labeled) and only the three labels appear
    assert(s1.size == 2000 && s1.values.toSet == Set("train", "val", "test"))
    // ratios near the cuts (hash-uniformity tolerance)
    val train = s1.values.count(_ == "train")
    assert(train > 1700 && train < 1900, s"train=$train of 2000")
    // a different partitioning yields the identical assignment
    val s2 = Corpus.assignSplits(ids.repartition(7), "doc_id", "seed-0", cuts)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    // a new seed re-deals membership
    val s3 = Corpus.assignSplits(ids, "doc_id", "seed-1", cuts)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 != s3)
    // a NULL id deterministically lands in the LAST split — the same
    // rule a SQL CASE's ELSE applies, so both engines agree
    val withNull = spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id")
    assert(Corpus.assignSplits(withNull, "doc_id", "seed-0", cuts)
      .select("split").collect()(0).getString(0) == "test")
    // malformed cuts are refused
    intercept[IllegalArgumentException](
      Corpus.assignSplits(ids, "doc_id", "s", Seq(("train", 90))))
    intercept[IllegalArgumentException](
      Corpus.assignSplits(ids, "doc_id", "s", Seq(("a", 95), ("b", 90), ("c", 100))))
  }

  test("bigram pair counts: exact counts, deterministic tie-break") {
    val docs = Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text")
    val top = graft.ops.Corpus.bigramPairsTopK(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // d1 pairs: (a,b),(b,a),(a,b); d2: (a,b) → (a,b)=3, (b,a)=1
    assert(top.toSeq == Seq(("a", "b", 3L), ("b", "a", 1L)))
  }

  test("persisted IVF index probe matches the direct ivfTopK exactly") {
    val emb = (0L until 60L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_idx").toString
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    val direct = Similarity.ivfTopK(emb, "vec_id", "embedding",
      nCentroids = 4, col("vec_id").between(20, 24), k = 3)
    val indexed = graft.ops.AnnIndex.probe(spark, dir,
      col("vec_id").between(20, 24), k = 3)
    assert(direct.count() == indexed.count())
    assert(indexed.except(direct).count() == 0 &&
      direct.except(indexed).count() == 0,
      "index probe must reproduce the direct computation bit for bit")
    intercept[IllegalArgumentException](
      graft.ops.AnnIndex.probe(spark, dir, lit(true), k = 3, maxProbes = 5)
        .count())
    // seeding takes the lowest-id vectors present — an arbitrary id
    // space builds fine (no dense 0..k-1 requirement) ...
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000L)
    val shiftedDir = java.nio.file.Files
      .createTempDirectory("ann_idx_shift").toString
    graft.ops.AnnIndex.build(shifted, "vec_id", "embedding",
      nCentroids = 4, dir = shiftedDir)
    assert(graft.ops.AnnIndex.probe(spark, shiftedDir,
      col("vec_id").between(1020, 1024), k = 3).count() > 0)
    // ... but a corpus SMALLER than nCentroids is a config error —
    // refused loudly instead of a silently-tiny model
    intercept[IllegalArgumentException](
      graft.ops.AnnIndex.build(emb.filter(col("vec_id") < 3), "vec_id",
        "embedding", nCentroids = 4, dir = java.nio.file.Files
          .createTempDirectory("ann_idx_bad").toString))
    // ties: every vector appears three times (ids i, i+40, i+80), so
    // cosines tie and vec_id decides the rank; k = 4 cuts inside a tied
    // triple. The index's members scan spans several partitions, so
    // the per-partition top-k sets must merge to the direct ranking
    val tied = (0L until 120L)
      .map(i => (i, Array.tabulate(6)(d => math.sin((i % 40) * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding").repartition(8)
    val tiedDir = java.nio.file.Files.createTempDirectory("ann_idx_tied").toString
    graft.ops.AnnIndex.build(tied, "vec_id", "embedding", nCentroids = 4, dir = tiedDir)
    graft.ops.AnnIndex.buildPq(spark, tiedDir, m = 2, ksub = 16, dims = 6)
    assert(spark.read.parquet(s"$tiedDir/members").rdd.getNumPartitions > 1,
      "the tie check needs a members scan over several partitions")
    val spread = pmod(col("vec_id"), lit(7)) === 0
    val tiedDirect = Similarity.ivfTopK(tied, "vec_id", "embedding",
      nCentroids = 4, spread, k = 4)
    val tiedIndexed = graft.ops.AnnIndex.probe(spark, tiedDir, spread, k = 4)
    assert(tiedIndexed.count() == tiedDirect.count() && tiedDirect.count() > 0)
    assert(tiedIndexed.except(tiedDirect).count() == 0 &&
      tiedDirect.except(tiedIndexed).count() == 0,
      "tied cosines must rank by vec_id exactly as the direct window does")
    val tiedPqDirect = Similarity.ivfPqTopK(tied, "vec_id", "embedding",
      nCentroids = 4, spread, k = 4, m = 2, ksub = 16, dims = 6)
    val tiedPq = graft.ops.AnnIndex.probePq(spark, tiedDir, spread, k = 4,
      m = 2, ksub = 16)
    assert(tiedPq.count() == tiedPqDirect.count())
    assert(tiedPq.except(tiedPqDirect).count() == 0 &&
      tiedPqDirect.except(tiedPq).count() == 0,
      "tied ADC scores must rank by neighbor_id exactly as ivfPqTopK does")
  }

  test("ivfadc: all-buckets probe equals pqTopK exactly; nprobe bounds candidate buckets") {
    val emb = (0L until 60L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val probe = col("vec_id").between(20, 24)
    // with EVERY bucket probed the IVF restriction is a no-op, so the
    // composed ADC ranking must reproduce pqTopK bit for bit — pins
    // that composing never perturbs the scoring half
    val allBuckets = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        nCentroids = 4, probe, k = 3, m = 2, ksub = 16, dims = 6, nprobe = 4)
      .select("q_id", "neighbor_id", "adc_dot", "rank")
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", probe, k = 3,
      m = 2, ksub = 16, dims = 6)
    assert(allBuckets.count() == pq.count())
    assert(allBuckets.except(pq).count() == 0 && pq.except(allBuckets).count() == 0,
      "all-buckets ivfadc must equal pqTopK exactly")
    // with nprobe = 1 every probe's candidates come from exactly one
    // bucket — the IVF restriction is real
    val one = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probe, k = 3, m = 2, ksub = 16, dims = 6, nprobe = 1)
    val bucketsPerProbe = one.groupBy("q_id")
      .agg(countDistinct(col("bucket")).as("nb"))
      .agg(max(col("nb"))).head().getLong(0)
    assert(bucketsPerProbe == 1L, "nprobe=1 must restrict to one bucket per probe")
  }

  test("indexed IVFADC: probePq from stored codes matches the direct ivfPqTopK exactly") {
    val emb = (0L until 60L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_pq").toString
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    graft.ops.AnnIndex.buildPq(spark, dir, m = 2, ksub = 16, dims = 6)
    val direct = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      nCentroids = 4, col("vec_id").between(20, 24), k = 3,
      m = 2, ksub = 16, dims = 6)
    val indexed = graft.ops.AnnIndex.probePq(spark, dir,
      col("vec_id").between(20, 24), k = 3, m = 2, ksub = 16)
    assert(direct.count() == indexed.count())
    assert(indexed.except(direct).count() == 0 &&
      direct.except(indexed).count() == 0,
      "stored-codes probe must reproduce the direct IVFADC bit for bit")
    // a sidecar-less index refuses the codes probe loudly
    val bare = java.nio.file.Files.createTempDirectory("ann_idx_nopq").toString
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = bare)
    intercept[Exception](graft.ops.AnnIndex.probePq(spark, bare,
      col("vec_id").between(20, 24), k = 3, m = 2, ksub = 16).count())
    // a probe m that MERELY divides dims (m=1 here, codes built m=2)
    // would pass every shape check and silently mis-score — the
    // persisted (m, ksub) meta must refuse it loudly instead
    val eM = intercept[IllegalArgumentException](
      graft.ops.AnnIndex.probePq(spark, dir,
        col("vec_id").between(20, 24), k = 3, m = 1, ksub = 16).count())
    assert(eM.getMessage.contains("encoded with"))
    // ensurePq with conflicting parameters refuses rather than serving
    // the differently-encoded sidecar
    val eE = intercept[IllegalArgumentException](
      graft.ops.AnnIndex.ensurePq(spark, dir, m = 3, ksub = 16, dims = 6))
    assert(eE.getMessage.contains("already encoded"))
    // matching parameters remain an idempotent no-op
    graft.ops.AnnIndex.ensurePq(spark, dir, m = 2, ksub = 16, dims = 6)
  }

  test("ivfPqRerankTopK: a shortlist covering every candidate equals ivfTopK exactly") {
    val emb = (0L until 60L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val model = Similarity.trainedCentroids(emb, "vec_id", "embedding", 4, 2)
    val probe = col("vec_id").between(20, 24)
    // a shortlist of 60 holds every candidate a probe has in its nprobe
    // buckets (at most the 59 other vectors), so the exact re-rank of
    // the shortlist is ivfTopK's exact ranking of the same candidates
    val exact = Similarity.ivfTopK(emb, "vec_id", "embedding",
        nCentroids = 4, probe, k = 3, model = model)
      .select("q_id", "neighbor_id", "cos", "rank")
    val rerank = Similarity.ivfPqRerankTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probe, k = 3, shortlist = 60, m = 2, ksub = 16,
      dims = 6, model = model)
    assert(exact.count() == 15 && rerank.count() == 15)
    assert(rerank.except(exact).count() == 0 && exact.except(rerank).count() == 0,
      "a covering shortlist's re-rank must equal ivfTopK bit for bit")
    val e = intercept[IllegalArgumentException](Similarity.ivfPqRerankTopK(emb,
      "vec_id", "embedding", nCentroids = 4, probe, k = 3, shortlist = 2,
      m = 2, ksub = 16, dims = 6, model = model))
    assert(e.getMessage.contains("shortlist (2) must cover the requested top-k (3)"),
      e.getMessage)
  }

  test("ANN top-k entry points: output column names, types and nullability") {
    import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
    val emb = (0L until 60L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val intEmb = emb.withColumn("vec_id", col("vec_id").cast("int"))
    val probe = col("vec_id").between(20, 24)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_schema").toString
    graft.ops.AnnIndex.build(intEmb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    graft.ops.AnnIndex.buildPq(spark, dir, m = 2, ksub = 16, dims = 6)
    def cols(df: org.apache.spark.sql.DataFrame): Seq[(String, DataType, Boolean)] =
      df.schema.map(f => (f.name, f.dataType, f.nullable))
    def ranked(id: DataType, key: Boolean, score: String,
               nullable: Set[String] = Set.empty): Seq[(String, DataType, Boolean)] =
      (Seq("q_id" -> id, "neighbor_id" -> id) ++ (if (key) Seq("bucket" -> LongType) else Nil) ++
        Seq(score -> DoubleType, "rank" -> LongType)).map { case (n, t) => (n, t, nullable(n)) }
    val L = LongType
    assert(cols(Similarity.cosineTopK(emb, "vec_id", "embedding", probe, 3)) ==
      ranked(L, key = false, "cos"))
    // ivfTopK and the index probe keep the corpus id's type
    for ((e, t) <- Seq(emb -> LongType, intEmb -> IntegerType))
      assert(cols(Similarity.ivfTopK(e, "vec_id", "embedding", 4, probe, 3)) ==
        ranked(t, key = true, "cos", Set("bucket", "cos")))
    assert(cols(Similarity.ivfTopK(emb.withColumn("vec_id",
        when(col("vec_id") >= 0, col("vec_id"))), "vec_id", "embedding", 4, probe, 3)) ==
      ranked(L, key = true, "cos", Set("q_id", "neighbor_id", "bucket", "cos")))
    assert(cols(graft.ops.AnnIndex.probe(spark, dir, probe, 3)) ==
      ranked(IntegerType, key = true, "cos"))
    assert(cols(Similarity.pqTopK(emb, "vec_id", "embedding", probe, 3,
      m = 2, ksub = 16, dims = 6)) == ranked(L, key = false, "adc_dot"))
    for (e <- Seq(emb, intEmb)) {
      assert(cols(Similarity.ivfPqTopK(e, "vec_id", "embedding", 4, probe, 3,
        m = 2, ksub = 16, dims = 6)) == ranked(L, key = true, "adc_dot"))
      assert(cols(Similarity.ivfPqResidualTopK(e, "vec_id", "embedding", 4, probe, 3,
        m = 2, ksub = 16, dims = 6)) == ranked(L, key = true, "adc_dot"))
      assert(cols(Similarity.ivfPqRerankTopK(e, "vec_id", "embedding", 4, probe, 3,
        m = 2, ksub = 16, dims = 6)) == ranked(L, key = false, "cos", Set("cos")))
    }
    assert(cols(graft.ops.AnnIndex.probePq(spark, dir, probe, 3, m = 2, ksub = 16)) ==
      ranked(L, key = true, "adc_dot"))
  }

  test("AnnIndex.append: no rebuild, only appended buckets written, probe exact") {
    val mk = (r: Range) => r
      .map(i => (i.toLong, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val full = mk(0 until 60)
    val base = full.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val batch = full.filter(pmod(col("vec_id"), lit(10)) === 9)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_app").toString
    graft.ops.AnnIndex.build(base, "vec_id", "embedding", nCentroids = 4, dir = dir)

    def bucketFiles(): Map[String, Set[String]] =
      new java.io.File(s"$dir/members").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    val before = bucketFiles()

    graft.ops.AnnIndex.append(batch, "vec_id", "embedding", dir)

    // every pre-existing file survives untouched; new files appear only
    // in buckets the batch actually landed in
    val after = bucketFiles()
    val appendedBuckets = spark.read.parquet(s"$dir/assignments")
      .join(batch.select("vec_id"), "vec_id")
      .select("bucket").distinct().collect().map("bucket=" + _.getLong(0)).toSet
    before.foreach { case (b, files) =>
      assert(files.subsetOf(after(b)), s"$b lost files in append")
      if (!appendedBuckets.contains(b))
        assert(after(b) == files, s"untouched bucket $b was written")
    }
    appendedBuckets.foreach(b =>
      assert(after(b).size > before.getOrElse(b, Set.empty).size,
        s"appended bucket $b gained no files"))

    // probing the appended index is byte-identical to the direct
    // computation over the COMBINED corpus with the model TRAINED ON
    // THE BASE — appended vectors serve from the stored centroids
    // (probe ids include appended vectors: 29 % 10 = 9 came in via
    // append)
    val direct = Similarity.ivfTopK(full, "vec_id", "embedding",
      nCentroids = 4, col("vec_id").between(25, 30), k = 3,
      trainOn = base)
    val probed = graft.ops.AnnIndex.probe(spark, dir,
      col("vec_id").between(25, 30), k = 3)
    assert(direct.count() == probed.count())
    assert(probed.except(direct).count() == 0 &&
      direct.except(probed).count() == 0,
      "append-then-probe must equal a from-scratch full-corpus result")

    // relayout: assignments range-disjoint again, fragmented bucket
    // partitions compacted, probe unchanged
    graft.ops.AnnIndex.relayout(spark, dir)
    val ranges = graft.ops.Layout.fileRanges(spark, s"$dir/assignments", "vec_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, maxA), (minB, _)) =>
        assert(maxA < minB, s"overlapping vec_id ranges after relayout: $maxA >= $minB")
      case _ =>
    }
    val afterRelayout = bucketFiles()
    appendedBuckets.foreach(b => assert(afterRelayout(b).size == 1,
      s"appended bucket $b not compacted to one file"))
    val probed2 = graft.ops.AnnIndex.probe(spark, dir,
      col("vec_id").between(25, 30), k = 3)
    assert(probed2.except(direct).count() == 0 &&
      direct.except(probed2).count() == 0,
      "relayout must not change probe results")

    // a retried batch whose previous append COMPLETED is an idempotent
    // no-op: no duplicate rows, no file changes, probe unchanged
    val filesBefore = bucketFiles()
    graft.ops.AnnIndex.append(batch, "vec_id", "embedding", dir)
    assert(bucketFiles() == filesBefore,
      "a completed-retry append must write nothing")
    // a batch MIXING new and indexed ids is neither fresh nor a retry
    val mixed = mk(55 until 65)   // 55-59 indexed, 60-64 new
    intercept[IllegalArgumentException](
      graft.ops.AnnIndex.append(mixed, "vec_id", "embedding", dir))
    // duplicate ids WITHIN a batch collapse in the assignment aggregate
    // but fan back out in the members join — duplicate member rows and
    // skewed retry counts; refused up front
    val dup = mk(70 until 75).unionByName(mk(70 until 71))
    val e = intercept[IllegalArgumentException](
      graft.ops.AnnIndex.append(dup, "vec_id", "embedding", dir))
    assert(e.getMessage.contains("duplicate"))
  }

  test("AnnIndex.build refuses a NULL or repeated vec_id before writing members/") {
    val rows = (0 until 40).map(i =>
      (Option(i.toLong), Array.tabulate(6)(d => math.sin(i * 1.9 + d).toFloat)))
    val withNull = rows.updated(17, (None, rows(17)._2)).toDF("vec_id", "embedding")
    val withRepeat = (rows :+ ((Some(7L), rows(30)._2))).toDF("vec_id", "embedding")
    for ((emb, what) <- Seq(withNull -> "NULL vec_id", withRepeat -> "vec_id 7 occurs")) {
      val dir = java.nio.file.Files.createTempDirectory("ann_idx_ids").toString
      val e = intercept[IllegalArgumentException](
        graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir))
      assert(e.getMessage.startsWith("AnnIndex.build:") && e.getMessage.contains(what),
        e.getMessage)
      assert(!new java.io.File(s"$dir/members").exists(), s"$what: members/ was written")
    }
  }

  test("AnnIndex.append buckets equal assignTo's: ties, zero and NaN vectors, -0.0") {
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_parity").toString
    val base = (0 until 12).map(i =>
      (i.toLong, Array(math.sin(i).toFloat, math.cos(i).toFloat))).toDF("vec_id", "embedding")
    graft.ops.AnnIndex.build(base, "vec_id", "embedding", nCentroids = 3, dir = dir)
    // a model with exact ties: cids 1 and 3 point the same way, and
    // (3, 3) is as close to (1, 0) as to (0, 1); rows out of cid order
    val model = Seq((3L, Array(2.0, 0.0)), (2L, Array(0.0, 1.0)), (1L, Array(1.0, 0.0)),
        (0L, Array(-1.0, -1.0)))
      .toDF("cid", "cv").withColumn("cnrm", Similarity.norm(col("cv")))
    model.write.mode("overwrite").parquet(s"$dir/centroids")
    val batch = Seq(
      (100L, Array(1.0f, 0.0f)),      // tie between cids 1 and 3
      (101L, Array(0.0f, 0.0f)),      // zero vector: every cosine is NaN
      (102L, Array(-0.0f, 1.0f)),
      (103L, Array(0.5f, -0.0f)),
      (104L, Array(3.0f, 3.0f)),      // tie between cids 1, 2 and 3
      (105L, Array(Float.NaN, 1.0f)), // NaN component
      (106L, Array(-0.0f, -0.0f)),
      (107L, Array(-2.0f, -2.1f))
    ).toDF("vec_id", "embedding")
    graft.ops.AnnIndex.append(batch, "vec_id", "embedding", dir)
    val appended = spark.read.parquet(s"$dir/assignments")
      .filter(col("vec_id") >= 100).as[(Long, Long)].collect().toMap
    val direct = Similarity.assignTo(
        Similarity.prepared(batch, "vec_id", "embedding").select("vec_id", "v"), model)
      .as[(Long, Long)].collect().toMap
    assert(appended == direct)
    assert(appended.size == 8 && appended(100L) == 1L && appended(101L) == 0L)
  }

  test("AnnIndex.append resumes a crash between the two index writes") {
    val mk = (r: Range) => r
      .map(i => (i.toLong, Array.tabulate(6)(d => math.sin(i * 1.9 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val base = mk(0 until 40)
    val batch = mk(40 until 50)
    val dir = java.nio.file.Files.createTempDirectory("ann_idx_resume").toString
    graft.ops.AnnIndex.build(base, "vec_id", "embedding", nCentroids = 4, dir = dir)
    // simulate the crash window: assignments committed, members not —
    // write ONLY the assignment rows the real append would have written
    val cent = spark.read.parquet(s"$dir/centroids").select("cid", "cv")
    graft.functions.GraftFunctions.register(spark)
    val asg = graft.ops.Similarity.prepared(batch, "vec_id", "embedding")
      .select("vec_id", "v").crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"),
        graft.functions.GraftFunctions.cosineSim(col("v"), col("cv")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), negate(col("cid")))).as("bucket"))
    asg.write.mode("append").parquet(s"$dir/assignments")
    // the retry resumes: members get exactly the missing rows, and the
    // probe equals a from-scratch build over the combined corpus
    graft.ops.AnnIndex.append(batch, "vec_id", "embedding", dir)
    val direct = Similarity.ivfTopK(base.unionByName(batch), "vec_id",
      "embedding", nCentroids = 4, col("vec_id").between(38, 42), k = 3,
      trainOn = base)
    val probed = graft.ops.AnnIndex.probe(spark, dir,
      col("vec_id").between(38, 42), k = 3)
    assert(probed.except(direct).count() == 0 &&
      direct.except(probed).count() == 0,
      "a resumed append must converge to the complete index")
  }

  test("unigram LM score: exact rational of corpus counts, prose beats garble") {
    val docs = Seq(
      (1L, "a a b"),   // counts: a=2, b=1, c=1; N=4
      (2L, "c")
    ).toDF("doc_id", "text")
    val scores = graft.ops.Corpus.unigramLmScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 1: 3 tokens, Σ count = 2+2+1 = 5 → 5/(3·4)
    assert(scores(1L) == ((3L, 5.0 / 12.0)))
    // doc 2: the rare-token doc scores exactly 1/N
    assert(scores(2L) == ((1L, 1.0 / 4.0)))
    // common-word prose outranks the rare-word doc
    assert(scores(1L)._2 > scores(2L)._2)
  }

  test("quantized cosine tracks exact cosine and is 1.0 for parallel vectors") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val emb = Seq(
      (0L, Array(0.5f, 0.25f, -0.75f)),
      (1L, Array(1.0f, 0.5f, -1.5f)),   // parallel to 0 → cos 1
      (2L, Array(0.3f, -0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select($"vec_id".as("k"), $"q")
    val pairs = q.toDF("a", "qa").crossJoin(q.toDF("b", "qb")).filter($"a" < $"b")
      .select($"a", $"b", GraftFunctions.quantizedCosine($"qa", $"qb").as("qcos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // parallel vectors quantize identically (scale cancels) → cos 1
    // up to the last ulp of sqrt(n)·sqrt(n)
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    // quantized cosine within O(1/127)-ish of the exact double cosine
    def exact(x: Array[Float], y: Array[Float]): Double = {
      val (xd, yd) = (x.map(_.toDouble), y.map(_.toDouble))
      val dot = xd.zip(yd).map { case (p, r) => p * r }.sum
      dot / (math.sqrt(xd.map(v => v * v).sum) * math.sqrt(yd.map(v => v * v).sum))
    }
    val e02 = exact(Array(0.5f, 0.25f, -0.75f), Array(0.3f, -0.9f, 0.1f))
    assert(math.abs(pairs((0L, 2L)) - e02) < 0.02,
      s"quantized ${pairs((0L, 2L))} vs exact $e02")
  }

  test("centroid update: quantized per-bucket means are exact") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),   // centroid 0
      (1L, Array(0.0f, 1.0f)),   // centroid 1
      (2L, Array(2.0f, 0.0f)),   // → bucket 0, q = (127, 0)
      (3L, Array(0.0f, 3.0f))    // → bucket 1, q = (0, 127)
    ).toDF("vec_id", "embedding")
    val rows = Similarity.centroidUpdate(emb, "vec_id", "embedding", nCentroids = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // bucket 0 holds vecs 0 and 2, both quantizing to (127, 0)
    assert(rows((0L, 0)) == ((2L, 254L, 127.0)))
    assert(rows((0L, 1)) == ((2L, 0L, 0.0)))
    // bucket 1 holds vecs 1 and 3, both quantizing to (0, 127)
    assert(rows((1L, 0)) == ((2L, 0L, 0.0)))
    assert(rows((1L, 1)) == ((2L, 254L, 127.0)))
  }

  test("multimodal: payloads are real WAV files and decode round-trips samples") {
    val sized = docs.withColumn("n_chars", length($"text"))
    val media = Multimodal.toAudioTable(sized, "doc_id", "n_chars")
    // the payload really is a WAV container: RIFF....WAVE magic
    val payload = media.filter($"doc_id" === 1L)
      .select("payload").as[Array[Byte]].head()
    assert(new String(payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(payload.slice(8, 12), "US-ASCII") == "WAVE")
    val feats = Multimodal.decodeAudio(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    sized.select($"doc_id", $"n_chars").as[(Long, Int)].collect().foreach {
      case (id, nc) =>
        val n = 100 + (nc % 200)
        val expSum = (0 until n).map(i =>
          math.floorMod(id * 31 + i * 7L, 2001L) - 1000L).sum
        val f = feats(id)
        assert(f.sample_rate == 8000 && f.n_samples == n.toLong)
        assert(f.amp_sum == expSum, s"doc $id: decoded amplitude sum drifted")
    }
  }

  test("saltedJoin equals the plain join and spreads the hot key across partitions") {
    import graft.ops.Skew
    // 10k fact rows, ~90% on one hot key; dim has one row per key
    val left = (1 to 10000)
      .map(i => (if (i % 10 == 0) s"k${i % 7}" else "hot", i.toLong))
      .toDF("k", "v")
    val right = (Seq("hot") ++ (0 to 6).map(i => s"k$i")).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "w")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    // force a shuffle join and disable AQE's skew splitting — the spec
    // pins the operator's OWN spread, not AQE's rescue of the bad plan.
    // Reducer count ≥ bucket count, else hash collisions re-collapse
    // several salts into one reducer and hide the spread being pinned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val salted = Skew.saltedJoin(left.repartition(8), right, Seq("k"), buckets = 8)
      val plain = left.join(right, Seq("k"))
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "w").as[(String, Long, Long)].collect().sorted.toSeq
      val plainRows = norm(plain)
      assert(norm(salted) == plainRows) // exact: same multiset of rows
      val hot = plainRows.count(_._1 == "hot")
      def partSizes(df: org.apache.spark.sql.DataFrame) =
        df.select("k").rdd.mapPartitions(it => Iterator.single(it.size)).collect()
      // unsalted: every hot row lands in ONE reducer partition
      assert(partSizes(plain).max >= hot)
      // salted: no partition holds even half of the hot key's rows
      assert(partSizes(salted).max < hot / 2,
        s"salted max partition ${partSizes(salted).max} vs hot-key volume $hot")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  test("saltedJoinSkewed equals the plain join and replicates only hot keys") {
    import graft.ops.Skew
    // 1000 rows on "hot", ≤20 on each cold key; dim has 8 rows
    val left = (1 to 1140)
      .map(i => (if (i <= 1000) "hot" else s"k${i % 7}", i.toLong))
      .toDF("k", "v")
    val right = (Seq("hot") ++ (0 to 6).map(i => s"k$i")).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "w")
    val out = Skew.saltedJoinSkewed(left.repartition(8), right, Seq("k"),
      hotThreshold = 100L, buckets = 8)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").as[(String, Long, Long)].collect().sorted.toSeq
    assert(norm(out) == norm(left.join(right, Seq("k"))))
    // degenerate thresholds stay exact: nothing hot (pure salt-0 path)
    // and everything hot (pure salted path)
    val none = Skew.saltedJoinSkewed(left, right, Seq("k"),
      hotThreshold = Long.MaxValue, buckets = 8)
    assert(norm(none) == norm(left.join(right, Seq("k"))))
    val all = Skew.saltedJoinSkewed(left.repartition(4), right, Seq("k"),
      hotThreshold = 0L, buckets = 4)
    assert(norm(all) == norm(left.join(right, Seq("k"))))
  }

  test("PQ ADC: codebook members score exactly, others approximately, ranks sane") {
    import graft.ops.Similarity
    // dims=4, m=2 subspaces of 2, ksub=2 codebooks from vec 0/1
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)),   // == vec 0 → encodes to its cells
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)),   // near vec 0
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f))    // near vec 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(emb, "vec_id", "embedding",
        col("vec_id") === 0, k = 4, m = 2, ksub = 2, dims = 4)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    // vec 2 encodes to exactly vec 0's cells → ADC dot == true dot == 2.0
    assert(out(2L)._1 == 2.0)
    // vec 3 quantizes to vec 0's cells too → ADC sees the CENTROID dot
    assert(out(3L)._1 == 2.0)
    // vec 4 quantizes to vec 1's cells → ADC dot == dot(q, vec1) == 0.0
    assert(out(4L)._1 == 0.0)
    // ranking: the two vec-0-cell neighbors outrank the vec-1-cell one,
    // ties broken by id
    assert(out(2L)._2 < out(3L)._2 && out(3L)._2 < out(4L)._2)
    // probe guard trips on an oversized probe set
    intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, "vec_id", "embedding", lit(true), k = 2,
        m = 2, ksub = 2, dims = 4, maxProbes = 2)
    }
  }

  test("chunkOverlap: window arithmetic, tail absorption, overlap content") {
    import graft.ops.Corpus
    def doc(n: Int) = (n.toLong, (1 to n).map(i => s"w$i").mkString(" "))
    val docs = Seq(doc(10), doc(56), doc(57)).toDF("doc_id", "text")
    val out = Corpus.chunkOverlap(docs, "doc_id", "text", chunkTokens = 32, stepTokens = 24)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    // short doc: one chunk, whole text
    assert(out((10L, 0)) == ((1 to 10).map(i => s"w$i").mkString(" "), 10L))
    // 56 tokens: chunks [1..32] and [25..56] — boundary-exact division
    assert(out((56L, 0))._2 == 32L && out((56L, 1))._2 == 32L)
    assert(out((56L, 1))._1.startsWith("w25 ") && out((56L, 1))._1.endsWith(" w56"))
    assert(!out.contains((56L, 2)))
    // 57 tokens: a third chunk absorbs the 9-token tail [49..57]
    assert(out((57L, 2)) == (((49 to 57).map(i => s"w$i").mkString(" "), 9L)))
    // consecutive chunks overlap by chunk − step = 8 tokens
    val c0 = out((56L, 0))._1.split(" ").toSeq
    val c1 = out((56L, 1))._1.split(" ").toSeq
    assert(c0.takeRight(8) == c1.take(8))
  }

  test("mixSample hits the target composition on skewed input, reproducibly") {
    import graft.ops.Corpus
    // heavily skewed input: 2000 "web", 200 "books"; recipe wants 50/50
    // of a 20% budget → 220 docs from each group
    val docs = ((1 to 2000).map(i => (i.toLong, "web")) ++
        (2001 to 2200).map(i => (i.toLong, "books")))
      .toDF("doc_id", "grp")
    val w = Seq("web" -> 0.5, "books" -> 0.5)
    val out = Corpus.mixSample(docs, "doc_id", "grp", w, budgetFrac = 0.2, seed = "s0")
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // books: rate caps at 1.0 → all 200 kept exactly
    assert(byGrp("books") == 200L)
    // web: rate 220/2000 = 11% → ~220 docs, hash-sampling noise only
    assert(math.abs(byGrp("web") - 220L) < 60, s"web kept ${byGrp("web")}")
    // deterministic: same seed replays under any partitioning; new seed re-deals
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(out) == ids(
      Corpus.mixSample(docs.repartition(13), "doc_id", "grp", w, 0.2, "s0")))
    assert(ids(out) != ids(Corpus.mixSample(docs, "doc_id", "grp", w, 0.2, "s1")))
    // a group absent from the recipe is excluded entirely
    val extra = docs.unionByName(Seq((9999L, "junk")).toDF("doc_id", "grp"))
    assert(Corpus.mixSample(extra, "doc_id", "grp", w, 0.2, "s0")
      .filter($"grp" === "junk").count() == 0)
  }

  test("KMV sketch estimates cardinality within sketch error, flags underpopulation") {
    import graft.ops.Sketch
    val n = 20000
    val df = (1 to n).map(i => s"user_$i").toDF("u")
    val row = Sketch.kmvDistinct(df, $"u", k = 64).head()
    assert(row.getAs[Long]("k_actual") == 64L)
    val est = row.getAs[Double]("est_distinct")
    // KMV relative error ~1/sqrt(k) = 12.5%; allow 4 sigma
    assert(math.abs(est - n) / n < 0.5, s"estimate $est vs $n")
    // fewer distinct values than k: k_actual says the estimate is moot
    val tiny = Sketch.kmvDistinct(Seq("a", "b", "a").toDF("u"), $"u", k = 64).head()
    assert(tiny.getAs[Long]("k_actual") == 2L)
  }

  test("HTML extraction strips blocks and tags, decodes entities in the pinned order") {
    import graft.ops.TextOps
    val rows = Seq(
      // script/style bodies vanish wholly; tags become spaces; entities decode
      (1L, """<html><head><style>p{x:1}</style><script src="a">if (1 < 2) {}</script></head>
             |<body><h1>Title</h1><p>alpha &amp; beta</p></body></html>""".stripMargin.replace("\n", "")),
      // escaped markup stays TEXT: &lt;b&gt; decodes after tag strip
      (2L, "<p>use &lt;b&gt; for bold</p>"),
      // &amp;lt; decodes to the literal string "&lt;", never to "<"
      (3L, "<p>write &amp;lt; to escape</p>"),
      // whitespace collapse + trim
      (4L, "  <div>  a   b  </div>  ")
    ).toDF("doc_id", "html")
    val out = rows.select($"doc_id", TextOps.extractHtml($"html").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "Title alpha & beta")
    assert(out(2L) == "use <b> for bold")
    assert(out(3L) == "write &lt; to escape")
    assert(out(4L) == "a b")
  }

  test("line dedup removes ≥k-doc boilerplate and rebuilds docs in order") {
    import graft.ops.Dedup
    // chunk=2 lines; "cookie banner" appears in 3 docs → boilerplate at k=3
    val docs = Seq(
      (1L, "cookie banner alpha beta gamma delta"),
      (2L, "cookie banner epsilon zeta"),
      (3L, "pad unique start cookie banner"),
      (4L, "cookie banner") // fully boilerplate → survives as empty text
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", chunk = 2, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 2L, "alpha beta gamma delta")))
    assert(out(2L) == ((2L, 1L, "epsilon zeta")))
    // doc 3's "cookie banner" words straddle a chunk boundary → its
    // lines are ("pad unique", "start cookie", "banner"), none of them
    // boilerplate: the operator is exact-line dedup, not substring
    // search, so everything is kept
    assert(out(3L) == ((3L, 3L, "pad unique start cookie banner")))
    assert(out(4L) == ((1L, 0L, ""))) // row kept, text emptied
    assert(out.size == 4)
  }

  test("substring dup stats: exact dups fully covered, near-dup partially, short docs absent") {
    // docs 1/2: exact dups, 10 tokens → 3 windows of 8, every window
    // occurs twice → ratio 1.0. doc 3 differs only at token 8 ("cat"),
    // so window 0 (tokens 0-7) matches docs 1/2 but windows 1-2 don't
    // → ratio 1/3. doc 4: 8 unique tokens → 1 window, no repeat →
    // ratio 0. doc 5: 7 tokens < windowLen → no windows, no row.
    val sdocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different words about spark and shuffles here"),
      (5L, "too short to have any window")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupStats(sdocs, "doc_id", "text", windowLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 3L, 1.0)))
    assert(out(3L) == ((3L, 1L, 1.0 / 3.0)))
    assert(out(4L) == ((1L, 0L, 0.0)))
    assert(!out.contains(5L) && out.size == 4)
  }

  test("substring prune drops covered spans, keeps the rest in order, empties full dups") {
    // same fixture as the stats test: docs 1/2 are fully covered →
    // emptied but their rows survive (the dedupLines contract); doc
    // 3's only duplicated window covers tokens 0-7, so "cat today"
    // survives in order; doc 4 is untouched; doc 5 (< windowLen) has
    // no windows at all → fully kept.
    val sdocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different words about spark and shuffles here"),
      (5L, "too short to have any window")
    ).toDF("doc_id", "text")
    val out = Dedup.substringPrune(sdocs, "doc_id", "text", windowLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 0L, "")))
    assert(out(2L) == ((10L, 0L, "")))
    assert(out(3L) == ((10L, 2L, "cat today")))
    assert(out(4L) == ((8L, 8L, "completely different words about spark and shuffles here")))
    assert(out(5L) == ((6L, 6L, "too short to have any window")))
    assert(out.size == 5)
  }

  test("funnel: greedy first-match, per-hop window, strict ordering") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    // u1: full funnel inside the windows → 3.
    // u2: clicks BEFORE its first view (order violated) → 1.
    // u3: click lands beyond the window after its FIRST view → 1 —
    //     greedy semantics pin to the first view, not the closest.
    // u4: view→click converts, purchase before the click → 2.
    val ev = Seq(
      (1L, "view", ts(0)), (1L, "click", ts(10)), (1L, "purchase", ts(20)),
      (2L, "click", ts(0)), (2L, "view", ts(10)), (2L, "purchase", ts(20)),
      (3L, "view", ts(0)), (3L, "click", ts(200)),
      (4L, "purchase", ts(0)), (4L, "view", ts(5)), (4L, "click", ts(10))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.ops.Funnel.windowed(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = 3600)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("decontaminateBatch against a prebuilt gram relation equals decontaminate") {
    // 2 contains bench doc 1 verbatim (containment 1.0 → dropped);
    // 3 shares only part of it (< 0.8 → kept); 4 unrelated (kept);
    // 1 IS the bench doc (contains itself → dropped)
    val corpus = Seq(
      (1L, "what is the capital of france"),
      (2L, "someone asked what is the capital of france yesterday evening"),
      (3L, "the capital city has many museums and parks"),
      (4L, "completely unrelated text about spark shuffles")
    ).toDF("doc_id", "text")
    val bench = corpus.filter($"doc_id" === 1L)
    val direct = Dedup.decontaminate(corpus, bench, "doc_id", "text", 3, 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val bg = Dedup.benchGrams(bench, "doc_id", "text", 3).localCheckpoint(true)
    val batched = Dedup.decontaminateBatch(corpus, bg, "doc_id", "text", 3, 0.8)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(direct == Seq(3L, 4L))
    assert(batched == direct,
      "prebuilt-relation path must equal the direct two-relation path")
  }

  test("semDedup drops only lower-id near-dups INSIDE a cluster, never across") {
    import org.apache.spark.sql.functions.col
    // two orthogonal clusters; 2 ≈ 1 and 5 ≈ 4 (cos ≈ 1, dropped);
    // 3 and 6 sit at cos 0.8 from their cluster mates (< 0.9, kept).
    // 3 and 6 are ALSO cos 0.96 near-dups of EACH OTHER — but they
    // land in different clusters, so SemDeDup (by design) never
    // compares them: the cluster fence trades that recall for the
    // Σ|cluster|² bound.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.8f, 0.6f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.01f, 0.999f)),
      (6L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val model = Seq((10L, Array(1.0, 0.0)), (20L, Array(0.0, 1.0)))
      .toDF("cid", "cv")
    val out = Similarity.semDedup(emb, "vec_id", "embedding", model, 0.9)
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 10L), (3L, 10L), (4L, 20L), (6L, 20L)))
  }

  // Builds an index over `corpus`, then runs every candidate stage on
  // the live form and on the index probe: the two must emit the same
  // survivors, and "auto" must price `autoEdge` on both paths and route
  // to exactly that stage's result.
  private def assertLiveMatchesIndex(name: String,
      batch: org.apache.spark.sql.DataFrame, corpus: org.apache.spark.sql.DataFrame,
      autoEdge: String): Unit = {
    import graft.ops.{Dedup, DedupIndex}
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    def edgeBanded(attr: String): Boolean =
      graft.BenchAttribution.snapshot.toMap.apply(s"$attr.edge_banded") == 1.0
    val dir = java.nio.file.Files.createTempDirectory(s"dedup_idx_$name").toString
    DedupIndex.build(corpus, "doc_id", "text", 3, dir, nFiles = 2)
    for (c <- Seq("auto", "gram", "banded")) {
      val live = ids(Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5,
        candidates = c))
      if (c == "auto")
        assert(edgeBanded("dedup.incremental") == (autoEdge == "banded"),
          s"$name: live auto must price the $autoEdge edge")
      val indexed = ids(DedupIndex.dedupBatch(spark, batch, dir, "doc_id", "text",
        3, 0.5, candidates = c))
      if (c == "auto")
        assert(edgeBanded("dedup_index") == (autoEdge == "banded"),
          s"$name: index auto must price the $autoEdge edge")
      assert(indexed == live, s"$name/$c: index probe diverged from the live form")
      if (c == "auto")
        assert(live == ids(Dedup.incremental(batch, corpus, "doc_id", "text", 3,
          0.5, candidates = autoEdge)), s"$name: auto must route to $autoEdge")
    }
  }

  test("indexed incremental dedup is byte-identical to the direct form") {
    import graft.ops.Dedup
    // sparse vocabulary: auto prices the exact join as affordable
    // (predicted candidates ≪ 8/doc) and selects it
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "lorem ipsum dolor sit amet consectetur"),
      (12L, "completely different corpus text about spark engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "The Quick Brown Fox jumps over the lazy dog"), // exact dup of 10 (normalized)
      (2L, "the quick brown fox jumps over the lazy cat"), // near dup of 10 (J = 0.75)
      (3L, "a wholly new document about training data pipelines"),
      (4L, "a wholly new document about training data pipelines"), // in-batch exact dup of 3
      (5L, "short text") // < 3 tokens: no grams, survives
    ).toDF("doc_id", "text")
    assertLiveMatchesIndex("sparse", batch, corpus, autoEdge = "gram")
    assert(Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5,
      candidates = "gram").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(3L, 5L))
  }

  test("auto candidate stage flips to banded on a gram-saturated corpus, matching incrementalAuto") {
    // fixed 6-word vocabulary: every doc shares grams with most others,
    // so predicted candidates blow past the 8/doc budget — the regime
    // the r16 docs ladder measured going quadratic on the exact join.
    // The live auto form (Dedup.incremental, candidates = "auto") and
    // the index auto probe must both route to the banded stage.
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    def doc(i: Int): String =
      (0 until 8).map(j => words((i * 7 + j * 5) % 6)).mkString(" ") + s" uid$i"
    val corpus = (100 until 160).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    val batch = (0 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    assertLiveMatchesIndex("saturated", batch, corpus, autoEdge = "banded")
  }

  test("the auto-edge statistic is the capped df dot product, live and indexed") {
    import graft.ops.{Dedup, DedupIndex}
    // left: two docs sharing the gram "a b c" (df_l = 2); right: three
    // docs with it (df_r = 3) → 6, plus "x y z" 1×1 → 7 total
    val left = Seq((1L, "a b c q w"), (2L, "a b c r t"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val right = Seq((10L, "a b c"), (11L, "a b c k"), (12L, "m a b c"),
        (13L, "x y z"))
      .toDF("doc_id", "text")
    // the live decision runs when incremental is called (3 batch docs)
    def live(maxDf: Int): Long = {
      Dedup.incremental(left, right, "doc_id", "text", 3, 0.5, maxDf = maxDf)
      math.round(graft.BenchAttribution.snapshot.toMap
        .apply("dedup.incremental.batch_cand_per_doc") * 3)
    }
    def indexed(maxDf: Int): Long = {
      val dir = java.nio.file.Files.createTempDirectory("dedup_idx_dot").toString
      DedupIndex.build(right, "doc_id", "text", 3, dir, nFiles = 2, maxDf = maxDf)
      DedupIndex.predictedIndexJoinCandidates(spark, left, dir, "doc_id", "text", 3)
    }
    assert(live(Dedup.DefaultMaxDf) == 2L * 3L + 1L)
    assert(indexed(Dedup.DefaultMaxDf) == 2L * 3L + 1L)
    // the corpus-side df cap removes a boilerplate gram entirely
    assert(live(2) == 1L)
    assert(indexed(2) == 1L)
  }

  test("auto-edge observations count each input row exactly once (VERDICT r19 #8)") {
    import graft.ops.{Dedup, DedupIndex}
    import org.apache.spark.sql.Observation
    // The auto-edge decisions fold the doc/batch count into the gram
    // checkpoint job as an observed metric. That is valid ONLY while
    // (a) an action runs over the observed plan before obs.get (else
    // it hangs the driver) and (b) the observed subtree is evaluated
    // exactly once within it — a refactor that self-joins or
    // re-consumes the un-materialized side would double-count
    // silently, flip useBandedEdge at a different corpus size, and
    // change emitted pairs at scale while staying green at the gate.
    // Pinned here against a direct count on a saturated fixture whose
    // gram relation is many rows wide per doc (the tempting self-join
    // shape), through each merged entry point.
    val docs = (0L until 30L).map(i =>
      (i, s"alpha beta gamma delta epsilon zeta token${i % 3} eta"))
      .toDF("doc_id", "text")
    val obs1 = new Observation()
    Dedup.jaccardPairs(docs.observe(obs1, count(lit(1)).as("n")),
      "doc_id", "text", 3, 0.3).count()
    assert(obs1.get("n") == 30L,
      "self-join auto decision must count each doc exactly once")
    val obs1b = new Observation()
    Dedup.predictedGramJoinCandidates(
      docs.observe(obs1b, count(lit(1)).as("n")), "doc_id", "text", 3)
    assert(obs1b.get("n") == 30L,
      "self-join prediction must count each doc exactly once")
    // the batch-vs-corpus kernel, on the index and on live text
    val batch = (0L until 10L).map(i =>
      (i, s"alpha beta gamma delta token$i")).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_obs_idx").toString
    DedupIndex.build(docs, "doc_id", "text", 3, idxDir, nFiles = 2)
    val obs2 = new Observation()
    DedupIndex.dedupBatch(spark, batch.observe(obs2, count(lit(1)).as("n")),
      idxDir, "doc_id", "text", 3, 0.5).count()
    assert(obs2.get("n") == 10L,
      "index auto decision must count each batch row exactly once")
    val obs3 = new Observation()
    DedupIndex.predictedIndexJoinCandidates(spark,
      batch.observe(obs3, count(lit(1)).as("n")), idxDir,
      "doc_id", "text", 3)
    assert(obs3.get("n") == 10L,
      "index prediction must count each batch row exactly once")
    val obs4 = new Observation()
    Dedup.incremental(batch.observe(obs4, count(lit(1)).as("n")), docs,
      "doc_id", "text", 3, 0.5).count()
    assert(obs4.get("n") == 10L,
      "live auto decision must count each batch row exactly once")
    // and the identity of the decision INPUT, not just the route: the
    // statistic the live kernel folds from its gram checkpoint equals
    // the standalone index prediction over the same corpus
    val perDoc = graft.BenchAttribution.snapshot.toMap
      .apply("dedup.incremental.batch_cand_per_doc")
    val expected = DedupIndex.predictedIndexJoinCandidates(spark, batch, idxDir,
      "doc_id", "text", 3)
    assert(math.round(perDoc * 10L) == expected,
      s"folded statistic ${perDoc * 10L} must equal standalone $expected")
  }

  test("index append keeps the next day's dedup equal to a full recompute") {
    import graft.ops.{Dedup, DedupIndex}
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "lorem ipsum dolor sit amet consectetur")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (1L, "a wholly new document about training data pipelines"),
      (2L, "the quick brown fox jumps over the lazy dog") // exact dup, dropped
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "a wholly new document about training data pipelines"), // exact dup of day-1 survivor
      (21L, "another fresh doc entirely unlike anything else"),
      (22L, "lorem ipsum dolor sit amet consectetur additions") // near dup of 11 (J = 0.8)
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_app").toString
    DedupIndex.build(corpus, "doc_id", "text", 3, dir, nFiles = 2)
    val day1 = DedupIndex.dedupBatch(spark, batch1, dir, "doc_id", "text", 3, 0.5)
      .localCheckpoint(true)
    DedupIndex.append(day1, "doc_id", "text", 3, dir)
    val day2 = DedupIndex.dedupBatch(spark, batch2, dir, "doc_id", "text", 3, 0.5)
    // recompute-from-scratch reference: corpus grown by day 1's survivors
    val grown = corpus.unionByName(day1)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(day2) == Seq(21L))
    assert(ids(day2) == ids(Dedup.incremental(batch2, grown, "doc_id", "text", 3, 0.5)))

    // relayout restores the range-disjoint gram files the appends
    // degraded, without changing any answer (reads only the index)
    DedupIndex.relayout(spark, dir, nFiles = 2)
    val ranges = graft.ops.Layout.fileRanges(spark, s"$dir/grams", "gram")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, maxA), (minB, _)) =>
        assert(maxA < minB, s"overlapping gram ranges after relayout: $maxA >= $minB")
      case _ =>
    }
    assert(ids(DedupIndex.dedupBatch(spark, batch2, dir, "doc_id", "text", 3, 0.5))
      == Seq(21L), "relayout must not change dedup answers")
    // append wrote the day-1 survivors' SIGNATURES too: the banded
    // probe against the grown index equals the live banded form
    // against the grown corpus (pins sigs/ append + relayout survival)
    assert(ids(DedupIndex.dedupBatch(spark, batch2, dir, "doc_id", "text",
        3, 0.5, candidates = "banded"))
      == ids(Dedup.incremental(batch2, grown, "doc_id", "text", 3, 0.5,
        candidates = "banded")))
  }

  test("bloom sidecar: probed dedup byte-identical, no false negatives, refreshed by append") {
    import graft.ops.{DedupIndex, RuntimeFilter}
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "lorem ipsum dolor sit amet consectetur")
    ).toDF("doc_id", "text")
    val batch1 = Seq(
      (1L, "a wholly new document about training data pipelines"),
      (2L, "the quick brown fox jumps over the lazy dog") // exact corpus dup
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      (20L, "a wholly new document about training data pipelines"), // dup of day-1 survivor
      (21L, "another fresh doc entirely unlike anything else")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_bloom").toString
    DedupIndex.build(corpus, "doc_id", "text", 3, dir, nFiles = 2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq

    // the sidecar exists from build and the probed path changes nothing
    val plain = DedupIndex.dedupBatch(spark, batch1, dir, "doc_id", "text", 3, 0.5)
    val probed = DedupIndex.dedupBatch(spark, batch1, dir, "doc_id", "text", 3, 0.5,
      useBloom = true)
    assert(ids(probed) == ids(plain) && ids(probed) == Seq(1L))

    // no false negatives ever: EVERY fingerprint in fps/ probes true
    def falseNegatives(): Long = {
      val bloomRow = spark.read.parquet(s"$dir/bloom")
      val nBits = bloomRow.select("nbits").head().getInt(0)
      spark.read.parquet(s"$dir/fps").withColumnRenamed("fp", "__fp")
        .crossJoin(broadcast(bloomRow.select("bloom")))
        .filter(!RuntimeFilter.bloomProbe("__fp", nBits))
        .count()
    }
    assert(falseNegatives() == 0L)

    // append refreshes the sidecar from the grown fps: day-2's dup of a
    // day-1 survivor must probe TRUE (a stale sidecar would still be
    // caught by the exact join, but then day-2 equality would not be
    // exercising the refreshed filter at all)
    val day1 = probed.localCheckpoint(true)
    DedupIndex.append(day1, "doc_id", "text", 3, dir)
    assert(falseNegatives() == 0L, "appended fingerprints missing from the refreshed sidecar")
    assert(ids(DedupIndex.dedupBatch(spark, batch2, dir, "doc_id", "text", 3, 0.5,
      useBloom = true)) == Seq(21L))

    // appends OR their batch's bits into the sidecar; only a key count
    // past the size step re-sizes it (a rebuild from fps/). After every
    // append the sidecar is, bit for bit, the filter a rebuild from
    // fps/ at its nbits would write, and nbits is the size step of the
    // fps/ row count
    def sidecar(): (Map[Int, Long], Int, Long) = {
      val r = spark.read.parquet(s"$dir/bloom").head()
      (r.getMap[Int, Long](r.fieldIndex("bloom")).toMap, r.getAs[Int]("nbits"),
        r.getAs[Long]("nkeys"))
    }
    val words = Seq("ka", "ro", "vel", "mi", "tor", "an", "su", "del", "bri", "on")
    def batchOf(lo: Int, n: Int) = (lo until lo + n).map(i => (i.toLong,
      s"fresh ${words(i % 10)} ${words(i / 10 % 10)} ${words(i / 100 % 10)} number $i"))
      .toDF("doc_id", "text")
    val steps = Seq(batch2, batchOf(100, 70), batchOf(300, 3)).map { b =>
      val before = sidecar()
      val plain = ids(DedupIndex.dedupBatch(spark, b, dir, "doc_id", "text", 3, 0.5))
      val survivors = DedupIndex.dedupBatch(spark, b, dir, "doc_id", "text", 3, 0.5,
        useBloom = true).localCheckpoint(true)
      assert(ids(survivors) == plain, "the probed path must keep the plain path's rows")
      DedupIndex.append(survivors, "doc_id", "text", 3, dir)
      val (bits, nBits, nKeys) = sidecar()
      val fps = spark.read.parquet(s"$dir/fps")
      assert(nKeys == fps.count())
      assert(nBits == DedupIndex.bloomSizeBits(nKeys))
      assert(bits == RuntimeFilter.bloomBits(fps, "fp", nBits).head()
        .getMap[Int, Long](0).toMap, s"merged sidecar differs from a rebuild at $nBits bits")
      assert(falseNegatives() == 0L)
      (before._2, nBits, before._3 < nKeys)
    }
    // one append crossed the 64-key step (1024 → 2048 bits), the others
    // grew the key count within a step and kept nbits
    assert(steps.map { case (b, a, _) => (b, a) } ==
      Seq((1024, 1024), (1024, 2048), (2048, 2048)) && steps.forall(_._3),
      s"expected one re-size among the appends, got $steps")
  }

  test("bloom sidecar: a crash at any filesystem call of an append leaves old or new") {
    import graft.ops.{DedupIndex, RuntimeFilter}
    import org.apache.commons.io.FileUtils
    spark.sparkContext.hadoopConfiguration
      .set("fs.monkey.impl", classOf[MonkeyFileSystem].getName)
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "lorem ipsum dolor sit amet consectetur")
    ).toDF("doc_id", "text")
    val batch = (0 until 6).map(i => (i.toLong, s"a new document number $i about pipelines"))
      .toDF("doc_id", "text").localCheckpoint(true)
    val next = (6 until 9).map(i => (i.toLong, s"one more text, number $i, unlike the rest"))
      .toDF("doc_id", "text").localCheckpoint(true)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    val root = java.nio.file.Files.createTempDirectory("dedup_idx_bloom_crash")
    val pristine = root.resolve("pristine").toFile
    DedupIndex.build(corpus, "doc_id", "text", 3, pristine.toString, nFiles = 2)
    def sidecar(dir: String): (Map[Int, Long], Int, Long) = {
      graft.ops.Layout.restoreIfCrashed(spark, s"$dir/bloom")
      val r = spark.read.parquet(s"$dir/bloom").head()
      (r.getMap[Int, Long](r.fieldIndex("bloom")).toMap, r.getAs[Int]("nbits"),
        r.getAs[Long]("nkeys"))
    }
    def fresh(name: String): String = {
      val d = root.resolve(name).toFile
      FileUtils.copyDirectory(pristine, d)
      s"monkey://$d"
    }
    val old = sidecar(pristine.toString)
    val whole = fresh("whole")
    MonkeyFileSystem.resetCount()
    DedupIndex.append(batch, "doc_id", "text", 3, whole)
    val nCalls = MonkeyFileSystem.disarm()
    val updated = sidecar(whole)
    assert(updated != old)
    (1L to nCalls).foreach { k =>
      val dir = fresh(s"kill$k")
      MonkeyFileSystem.arm(k)
      try DedupIndex.append(batch, "doc_id", "text", 3, dir)
      catch { case t: Throwable if MonkeyFileSystem.killed(t) => }
      finally MonkeyFileSystem.disarm()
      val after = sidecar(dir)
      assert(after == old || after == updated,
        s"a crash at call $k of $nCalls left a sidecar that is neither the old nor the new one")
      // a crash after the fps/ write leaves the sidecar behind fps/:
      // the probed dedup must not trust it, and the next append must
      // bring it back to a rebuild from fps/
      assert(ids(DedupIndex.dedupBatch(spark, batch, dir, "doc_id", "text", 3, 0.5,
          useBloom = true)) == ids(DedupIndex.dedupBatch(spark, batch, dir, "doc_id", "text",
          3, 0.5)), s"after a crash at call $k the probed dedup differs from the plain one")
      DedupIndex.append(next, "doc_id", "text", 3, dir)
      val (bits, nBits, nKeys) = sidecar(dir)
      val fps = spark.read.parquet(s"$dir/fps")
      assert(nKeys == fps.count() && nBits == DedupIndex.bloomSizeBits(nKeys),
        s"after a crash at call $k and another append: nkeys $nKeys, nbits $nBits")
      assert(bits == RuntimeFilter.bloomBits(fps, "fp", nBits).head().getMap[Int, Long](0).toMap,
        s"after a crash at call $k and another append the sidecar differs from a rebuild")
      assert(fps.withColumnRenamed("fp", "__fp")
        .crossJoin(broadcast(spark.read.parquet(s"$dir/bloom").select("bloom")))
        .filter(!RuntimeFilter.bloomProbe("__fp", nBits)).isEmpty)
    }
  }

  test("samplePerKey: bounded per key, equals the window form, partitioning-invariant, seed re-deals") {
    import graft.ops.{Corpus, Layout}
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map(i => (i.toLong % 7, i.toLong)).toDF("k", "id")
    def picks(d: org.apache.spark.sql.DataFrame, seed: String) =
      Corpus.samplePerKey(d, "k", "id", seed, 3)
        .select("k", "id").as[(Long, Long)].collect().toSet
    val base = picks(df, "s0")
    // equals the row_number-window definition
    val w = Window.partitionBy(col("k"))
      .orderBy(Layout.shuffleKey("s0", col("id")), col("id"))
    val windowed = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select("k", "id")
      .as[(Long, Long)].collect().toSet
    assert(base == windowed)
    // bounded at k per key, every key present
    assert(base.groupBy(_._1).forall(_._2.size == 3) && base.size == 21)
    // partitioning-invariant (the aggregate's merge order must not matter)
    assert(picks(df.repartition(13), "s0") == base)
    // a new seed re-deals
    assert(picks(df, "s1") != base)
  }

  test("samplePerKey states its integral-key contract loudly") {
    import graft.ops.Corpus
    // a NULL id — or a non-numeric string key, which CASTs to null —
    // used to surface as an opaque executor-side encoder error; the
    // contract is now a plan-time refusal naming the columns
    val nullId = Seq((Some(1L), Some(10L)), (Some(2L), None))
      .toDF("k", "id")
    val e1 = intercept[IllegalArgumentException](
      Corpus.samplePerKey(nullId, "k", "id", "s", 2))
    assert(e1.getMessage.contains("non-null and integral"))
    val strKey = Seq(("web", 1L), ("books", 2L)).toDF("k", "id")
    val e2 = intercept[IllegalArgumentException](
      Corpus.samplePerKey(strKey, "k", "id", "s", 2))
    assert(e2.getMessage.contains("non-null and integral"))
    // numeric strings CAST cleanly and remain accepted
    val numStr = Seq(("1", 1L), ("1", 2L), ("2", 3L)).toDF("k", "id")
    assert(Corpus.samplePerKey(numStr, "k", "id", "s", 5).count() == 3)
  }

  test("salted operators refuse non-positive bucket counts loudly") {
    import graft.ops.Skew
    val left = Seq(("a", 1L)).toDF("k", "v")
    val right = Seq(("a", 2L)).toDF("k", "w")
    // buckets = 0 would be `% 0` at runtime and sequence(0, -1)
    // replicas; negative buckets silently under-replicate — both are
    // plan-construction errors, caught before any job runs
    intercept[IllegalArgumentException](Skew.saltedJoin(left, right, Seq("k"), buckets = 0))
    intercept[IllegalArgumentException](Skew.saltedJoinSkewed(left, right, Seq("k"), 1L, buckets = -4))
    intercept[IllegalArgumentException](Skew.saltedCountSum(left, Seq("k"), "v", buckets = 0))
  }

  test("quantized cosine of an all-zero vector is 0.0, not NaN (eval and codegen)") {
    import graft.functions.{GraftFunctions, QuantizedCosine}
    GraftFunctions.register(spark)
    val q = Seq(
      (0L, Array(0L, 0L, 0L)),     // zero vector — no direction
      (1L, Array(5L, -3L, 127L))
    ).toDF("vec_id", "q")
    val rows = q.toDF("a", "qa").crossJoin(q.toDF("b", "qb"))
      .select($"a", $"b", GraftFunctions.quantizedCosine($"qa", $"qb").as("qcos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows((0L, 1L)) == 0.0 && rows((1L, 0L)) == 0.0)
    assert(rows((0L, 0L)) == 0.0) // even zero-vs-zero is pinned
    assert(math.abs(rows((1L, 1L)) - 1.0) < 1e-12) // sqrt(n)·sqrt(n) last ulp
    // interpreted eval path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val zero = Literal.create(ArrayData.toArrayData(Array(0L, 0L)), ArrayType(LongType))
    val some = Literal.create(ArrayData.toArrayData(Array(3L, 4L)), ArrayType(LongType))
    assert(QuantizedCosine(zero, some).eval(null) == 0.0)
  }

  test("maybeRebalance: healthy index untouched; degraded layout rebuilt from members only") {
    import graft.ops.AnnIndex
    val emb = (0L until 80L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_rebal").toString
    AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    // a freshly trained index is healthy: the rule must not touch it
    assert(AnnIndex.maybeRebalance(spark, dir).isEmpty)
    val untouched = spark.read.parquet(s"$dir/centroids").count()
    assert(untouched == 4L)
    // doctor the ASSIGNMENTS into a pathological layout (77 vectors
    // in bucket 0, one each in buckets 1-3 → occupancies [1,1,1,77],
    // median 1, spread 77 ≫ 8): the rule must fire and rebuild FROM
    // MEMBERS (it never reads the corpus, and the doctored
    // assignments only feed the before-measurement)
    val bad = emb.select(col("vec_id"),
      when(col("vec_id") < 3L, col("vec_id") + 1L).otherwise(lit(0L))
        .as("bucket"))
    graft.ops.Layout.rewriteInPlace(spark, s"$dir/assignments") { tmp =>
      graft.ops.Layout.writeRangeSorted(bad, tmp, nFiles = 2, keyCol = "vec_id")
    }
    val before = AnnIndex.bucketSpreadOf(spark, dir)
    assert(graft.ops.Similarity.needsRebalance(before._4), s"doctored: $before")
    val Some((b, a)) = AnnIndex.maybeRebalance(spark, dir)
    assert(b == before)
    assert(!graft.ops.Similarity.needsRebalance(a._4),
      s"rebuilt layout must be healthy: $a")
    // nlist re-sized by the rule (floor 16 at 80 vectors), and the
    // rebuilt index still serves: every member is present exactly once
    assert(a._1 == 16)
    assert(spark.read.parquet(s"$dir/centroids").count() == 16L)
    val asg = spark.read.parquet(s"$dir/assignments")
    assert(asg.count() == 80L &&
      asg.select("vec_id").distinct().count() == 80L)
    assert(spark.read.parquet(s"$dir/members").count() == 80L)
  }

  test("maybeRebalance crash windows: old index intact or new complete, never a mixed model") {
    import graft.ops.AnnIndex
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val emb = (0L until 80L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    def doctor(dir: String): Unit = {
      // 77 vectors in bucket 0, spread 77 >> 8 — forces the rebuild
      val bad = emb.select(col("vec_id"),
        when(col("vec_id") < 3L, col("vec_id") + 1L).otherwise(lit(0L))
          .as("bucket"))
      graft.ops.Layout.rewriteInPlace(spark, s"$dir/assignments") { tmp =>
        graft.ops.Layout.writeRangeSorted(bad, tmp, nFiles = 2, keyCol = "vec_id")
      }
    }
    def probeAll(dir: String): Seq[(Long, Long, Double)] =
      AnnIndex.probe(spark, dir, col("vec_id") < 4L, k = 2)
        .select("q_id", "neighbor_id", "cos")
        .as[(Long, Long, Double)].collect().toSeq.sorted

    // WINDOW A — crash mid-staging: the temp sibling holds a partial
    // rebuild (here: a centroids-only write, the exact post-centroids
    // state of the old in-place overwrite), the live index is
    // UNTOUCHED. Probes serve the old index bit-identically; the next
    // rebuild sweeps the partial staging.
    val dirA = java.nio.file.Files.createTempDirectory("ann_crashA").toString
    AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dirA)
    val beforeA = probeAll(dirA)
    val rootA = new Path(dirA)
    val tmpA = new Path(rootA.getParent, s".${rootA.getName}.graft-relayout-tmp")
    fs.mkdirs(new Path(tmpA, "centroids"))
    fs.create(new Path(tmpA, "centroids/part-junk.parquet"), true).close()
    assert(probeAll(dirA) == beforeA, "partial staging must be invisible")
    assert(spark.read.parquet(s"$dirA/centroids").count() == 4L,
      "live model untouched by the stranded staging")
    doctor(dirA)
    val Some((bA, aA)) = AnnIndex.maybeRebalance(spark, dirA)
    assert(bA._4 > 8 && !graft.ops.Similarity.needsRebalance(aA._4))
    assert(!fs.exists(tmpA), "rebuild must sweep the stranded staging")
    assert(spark.read.parquet(s"$dirA/members").count() == 80L)

    // WINDOW B — crash between the two swap renames: the index root is
    // ABSENT with the old index intact in the trash sibling. EVERY
    // entry point self-heals via the recovery preamble and serves the
    // old index bit-identically — never a mixed model, never a lost
    // vector store.
    val dirB = java.nio.file.Files.createTempDirectory("ann_crashB").toString
    AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dirB)
    val beforeB = probeAll(dirB)
    val rootB = new Path(dirB)
    val trashB = new Path(rootB.getParent, s".${rootB.getName}.graft-relayout-old")
    require(fs.rename(rootB, trashB))
    assert(!fs.exists(rootB) && fs.exists(trashB), "simulated crash state")
    assert(probeAll(dirB) == beforeB, "probe must restore and serve the old index")
    assert(fs.exists(rootB) && !fs.exists(trashB), "recovery completed the rename")
    assert(spark.read.parquet(s"$dirB/centroids").count() == 4L &&
      spark.read.parquet(s"$dirB/members").count() == 80L,
      "restored index is the complete OLD index — model and members agree")
  }

  test("maybeRebalance preamble: a crash-stranded members partition is restored BEFORE the rebuild reads") {
    import graft.ops.AnnIndex
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val emb = (0L until 80L)
      .map(i => (i, Array.tabulate(6)(d => math.sin(i * 2.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ann_strand").toString
    AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    // strand the largest members partition exactly as a crashed
    // compaction would: partition dir renamed to its trash sibling
    val parts = fs.listStatus(new Path(s"$dir/members"))
      .filter(_.getPath.getName.startsWith("bucket="))
    val victim = parts.head.getPath
    val strandedRows = spark.read.parquet(victim.toString).count()
    assert(strandedRows > 0)
    require(fs.rename(victim,
      new Path(victim.getParent, s".${victim.getName}.graft-compact-old")))
    // without the preamble the rebuild would read 80 - strandedRows
    // members and bake the loss into the new index permanently
    val bad = emb.select(col("vec_id"),
      when(col("vec_id") < 3L, col("vec_id") + 1L).otherwise(lit(0L))
        .as("bucket"))
    graft.ops.Layout.rewriteInPlace(spark, s"$dir/assignments") { tmp =>
      graft.ops.Layout.writeRangeSorted(bad, tmp, nFiles = 2, keyCol = "vec_id")
    }
    val Some((_, after)) = AnnIndex.maybeRebalance(spark, dir)
    assert(!graft.ops.Similarity.needsRebalance(after._4))
    val m = spark.read.parquet(s"$dir/members")
    assert(m.count() == 80L &&
      m.select("vec_id").distinct().count() == 80L,
      "rebuilt index must contain every vector exactly once — the " +
        "stranded partition was restored before the members read")
  }

  test("IVF skew rule: bucketSpread statistic, nlistFor sizing, training balances the clustered corpus") {
    import graft.ops.Similarity
    // the statistic itself on a hand-stated assignment: buckets of
    // size 8 / 2 / 2 / 1 → median 2, max 8, spread 4.0
    val asg = ((1L to 8L).map((_, 0L)) ++ Seq((9L, 1L), (10L, 1L),
      (11L, 2L), (12L, 2L), (13L, 3L))).toDF("vec_id", "bucket")
    val (nb, mx, med, ratio) = Similarity.bucketSpread(asg)
    assert((nb, mx, med) == (4, 8L, 2L) && math.abs(ratio - 4.0) < 1e-12)
    assert(!Similarity.needsRebalance(4.0) && Similarity.needsRebalance(8.5))
    // sizing rule: sqrt(n) clamped to [16, 65536]
    assert(Similarity.nlistFor(100) == 16)        // floor
    assert(Similarity.nlistFor(1000000) == 1000)  // sqrt
    assert(Similarity.nlistFor(Long.MaxValue) == 65536) // ceiling
    // on the clustered corpus (ANN's pathological input), 2 Lloyd
    // steps must leave bucket occupancy within the rebalance bound —
    // the measured claim behind SCALING.md's ANN-skew entry
    val emb = graft.queries.ExtensionQueries.clusteredEmb(spark, sf)
    val trained = Similarity.bucketSpread(
      Similarity.ivfAssignTrained(emb, "vec_id", "embedding", 16, steps = 2))
    assert(!Similarity.needsRebalance(trained._4),
      s"trained clustered-corpus spread must be <= ${Similarity.MaxBucketSpread}: $trained")
  }

  private def builtTextIndex(): String = {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "beta alpha beta"),     // has alpha+beta, phrase "alpha beta" at pos 2
      (3L, "alpha delta beta"),    // alpha AND beta but never adjacent
      (4L, "gamma gamma gamma"),
      (5L, "ALPHA Beta")           // normalization: matches phrase too
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tix").toString
    graft.ops.TextIndex.build(corpus, "doc_id", "text", dir, nFiles = 4)
    dir
  }

  test("inverted index: AND search is membership, phrase search is adjacency") {
    val dir = builtTextIndex()
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").as[Long].collect().sorted.toSeq
    // AND: every doc holding both tokens anywhere
    assert(ids(graft.ops.TextIndex.searchAll(spark, dir, Seq("alpha", "beta")))
      == Seq(1L, 2L, 3L, 5L))
    // phrase: doc 3 has both tokens but never consecutive — excluded
    assert(ids(graft.ops.TextIndex.searchPhrase(spark, dir, Seq("alpha", "beta")))
      == Seq(1L, 2L, 5L))
    // single-token phrase == single-token AND
    assert(ids(graft.ops.TextIndex.searchPhrase(spark, dir, Seq("gamma")))
      == Seq(1L, 4L))
    // repeated token in the phrase: needs two CONSECUTIVE occurrences
    assert(ids(graft.ops.TextIndex.searchPhrase(spark, dir, Seq("beta", "beta")))
      == Nil)
    assert(ids(graft.ops.TextIndex.searchPhrase(spark, dir, Seq("gamma", "gamma")))
      == Seq(4L))
    // unknown token: empty, not an error; empty probe refused
    assert(ids(graft.ops.TextIndex.searchAll(spark, dir, Seq("zeta"))).isEmpty)
    intercept[IllegalArgumentException](
      graft.ops.TextIndex.searchAll(spark, dir, Nil))
  }

  test("text-index append crash windows: pre-marker rolls back, post-marker rolls forward") {
    import graft.ops.TextIndex
    val dir = builtTextIndex()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(root.getParent,
      s".${root.getName}.graft-append-tmp")
    val txn = new org.apache.hadoop.fs.Path(root.getParent,
      s".${root.getName}.graft-append-txn")
    def search(t: String): Seq[Long] = TextIndex
      .searchAll(spark, dir, Seq(t))
      .select("doc_id").as[Long].collect().sorted.toSeq
    def stageBatch(): Seq[String] = {
      // exactly what append stages for docs 6 and 7, split over TWO
      // files so a partial post-marker landing is representable
      Seq((6L, "omega beta"), (7L, "omega alpha")).toDF("doc_id", "text")
        .select($"doc_id",
          posexplode(graft.ops.TextOps.tokens(
            graft.ops.TextOps.normalized($"text"))))
        .select($"col".as("token"), $"doc_id",
          ($"pos" + 1).cast("long").as("pos"))
        .repartition(2, $"doc_id")
        .write.mode("overwrite").parquet(tmp.toString)
      fs.listStatus(tmp)
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(_.getPath.getName).sorted.toSeq
    }
    // window 1 — crash BEFORE the marker: a READER must leave the
    // stage alone — it is invisible to reads anyway, and a live
    // append's pre-commit stage is indistinguishable from a crashed
    // one, so a read path deleting it could yank the stage out from
    // under an in-flight writer (ADVICE r15). Markerless-stage
    // cleanup belongs to the WRITER preamble, which holds the
    // single-writer role.
    stageBatch()
    assert(search("omega").isEmpty, "pre-marker stage must not be visible")
    assert(fs.exists(tmp), "a reader must NOT delete a markerless stage")
    assert(graft.ops.TextIndex.recoverAppend(spark, dir))
    assert(!fs.exists(tmp), "the writer preamble discards a pre-marker stage")
    // window 2 — crash AFTER the marker with PARTIAL landing: one file
    // renamed in, one still staged. This is exactly the state the old
    // doc_id-presence heuristic misread as a completed retry (every
    // batch doc already had ≥1 posting row) — the marker protocol
    // rolls the remaining file forward instead.
    val staged = stageBatch()
    assert(staged.size == 2, s"need 2 staged files, got $staged")
    val out = fs.create(new org.apache.hadoop.fs.Path(txn.toString + ".tmp"), true)
    out.write(staged.mkString("\n").getBytes("UTF-8")); out.close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(txn.toString + ".tmp"), txn))
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp, staged.head),
      new org.apache.hadoop.fs.Path(root, staged.head)))
    assert(search("omega") == Seq(6L, 7L),
      "post-marker crash must roll forward to the COMPLETE batch")
    assert(!fs.exists(txn))
    // the reader renames out every marker-named data file but leaves
    // the stage DIRECTORY (only _SUCCESS/.crc leftovers remain): a
    // recursive tmp delete from a reader could race a NEW append's
    // live stage. The next writer preamble sweeps it.
    if (fs.exists(tmp)) {
      val dataLeft = fs.listStatus(tmp).filter(s => s.isFile &&
        staged.contains(s.getPath.getName))
      assert(dataLeft.isEmpty, "no marker-named data file may stay staged")
    }
    assert(graft.ops.TextIndex.recoverAppend(spark, dir) || !fs.exists(tmp))
    assert(!fs.exists(tmp), "writer preamble sweeps the drained stage")
    // the landed batch now reads as a completed retry: idempotent no-op
    TextIndex.append(Seq((6L, "omega beta"), (7L, "omega alpha"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    assert(search("omega") == Seq(6L, 7L), "retry must not double-count")
    // and a real append through the new protocol lands atomically
    TextIndex.append(Seq((8L, "omega zeta")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(search("omega") == Seq(6L, 7L, 8L))
    assert(search("zeta") == Seq(8L))
    assert(!fs.exists(txn) && !fs.exists(tmp), "append must clean up")
  }

  test("stableIds: contiguous, order-correct, partitioning-invariant, dup-refusing") {
    val df = Seq(("b", 2), ("a", 1), ("c", 3), ("a", 2)).toDF("k", "n")
    def ids(d: org.apache.spark.sql.DataFrame): Seq[(Long, String, Int)] =
      graft.ops.Corpus.stableIds(d, Seq("k", "n"))
        .select($"stable_id", $"k", $"n")
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    val expected = Seq((0L, "a", 1), (1L, "a", 2), (2L, "b", 2), (3L, "c", 3))
    assert(ids(df) == expected)
    // partitioning invariance: the ids are a pure function of the order
    assert(ids(df.repartition(7)) == expected)
    // non-unique order key: refused, not silently partition-dependent
    val dup = Seq(("a", 1), ("a", 1)).toDF("k", "n")
    val e = intercept[IllegalArgumentException](
      graft.ops.Corpus.stableIds(dup, Seq("k", "n")))
    assert(e.getMessage.contains("unique"))
  }

  test("resample+ffill: hourly grid, deterministic close, marked imputation") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      // key "a": two obs in hour 00 (close = later ts), gap at 01-02,
      // obs at 03 — grid 00..03, 01 and 02 carried from 00
      ("a", ts("2024-01-01 00:10:00"), 1L, 10.0),
      ("a", ts("2024-01-01 00:50:00"), 2L, 20.0),
      ("a", ts("2024-01-01 03:05:00"), 3L, 30.0),
      // key "b": tie on ts inside the hour — higher id wins
      ("b", ts("2024-01-01 05:00:00"), 10L, 1.0),
      ("b", ts("2024-01-01 05:00:00"), 11L, 2.0)
    ).toDF("k", "ts", "id", "v")
    val out = graft.ops.Resample
      .resampleHourlyFfill(obs, "k", "ts", "id", "v")
      .orderBy("k", "slot")
      .select($"k", $"slot".cast("string"), $"value", $"filled")
      .as[(String, String, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      ("a", "2024-01-01 00:00:00", 20.0, false), // in-hour close: later ts
      ("a", "2024-01-01 01:00:00", 20.0, true),  // carried + marked
      ("a", "2024-01-01 02:00:00", 20.0, true),
      ("a", "2024-01-01 03:00:00", 30.0, false),
      ("b", "2024-01-01 05:00:00", 2.0, false)   // ts tie: higher id wins
    ))
  }

  test("nearest as-of join: direction choice, backward ties, tolerance, no-match null") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L), // back@9:59 fwd@10:02 → back
      ("a", ts("2024-01-01 10:01:30"), 2L), // back 90s, fwd 30s → fwd
      ("a", ts("2024-01-01 10:00:30"), 3L), // exact tie 30s/30s... back@9:59=91.., recompute below
      ("b", ts("2024-01-01 00:00:00"), 4L), // only a later mark → fwd
      ("c", ts("2024-01-01 00:00:00"), 5L)  // no marks → null
    ).toDF("k", "lt", "id")
    val right = Seq(
      ("a", ts("2024-01-01 09:59:00"), 1.0),
      ("a", ts("2024-01-01 10:02:00"), 2.0),
      ("b", ts("2024-01-01 00:10:00"), 3.0)
    ).toDF("k", "rt", "v")
    def run(tol: Option[Long]) = graft.ops.AsOf
      .joinAsOfNearest(left, right, Seq("k"), "lt", "rt", "v", tol)
      .select($"id", $"v").as[(Long, Option[Double])]
      .collect().toMap
    val got = run(None)
    assert(got(1L) == Some(1.0), "closer backward mark wins")
    assert(got(2L) == Some(2.0), "closer forward mark wins")
    // id 3 at 10:00:30: back 90 s, fwd 90 s — exact tie goes BACKWARD
    assert(got(3L) == Some(1.0), "exact tie must take the backward mark")
    assert(got(4L) == Some(3.0), "forward-only history still matches")
    assert(got(5L).isEmpty, "keys with no marks stay null")
    // 60-second tolerance: every |Δ| above it nulls out
    val tight = run(Some(60L))
    assert(tight(1L) == Some(1.0) && tight(2L) == Some(2.0))
    assert(tight(3L).isEmpty, "tolerance must null a 90 s nearest match")
  }

  test("resample treats null-valued observations as absent") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      ("a", ts("2024-01-01 00:10:00"), 1L, Some(10.0)),
      ("a", ts("2024-01-01 01:20:00"), 2L, None), // null obs: a GAP
      ("a", ts("2024-01-01 02:30:00"), 3L, Some(30.0))
    ).toDF("k", "ts", "id", "v")
    val out = graft.ops.Resample
      .resampleHourlyFfill(obs, "k", "ts", "id", "v")
      .select($"slot".cast("string"), $"value", $"filled")
      .as[(String, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("2024-01-01 00:00:00", 10.0, false),
      ("2024-01-01 01:00:00", 10.0, true), // null obs hour reads as imputed
      ("2024-01-01 02:00:00", 30.0, false)))
  }

  test("inverted index append: identical search semantics, duplicate batches refused") {
    val base = Seq((1L, "alpha beta gamma"), (3L, "alpha delta beta"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "beta alpha beta"), (5L, "ALPHA Beta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_tix_app").toString
    graft.ops.TextIndex.build(base, "doc_id", "text", dir, nFiles = 4)
    graft.ops.TextIndex.append(batch, "doc_id", "text", dir)
    def phrase(): Seq[Long] = graft.ops.TextIndex
      .searchPhrase(spark, dir, Seq("alpha", "beta"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // appended docs search exactly as built ones (cf. the one-shot
    // fixture: 3 has the tokens non-adjacent)
    assert(phrase() == Seq(1L, 2L, 5L))
    // full-batch retry: idempotent no-op (no double-counted postings)
    graft.ops.TextIndex.append(batch, "doc_id", "text", dir)
    assert(phrase() == Seq(1L, 2L, 5L))
    assert(spark.read.parquet(dir).filter($"doc_id" === 2L).count() == 3,
      "a retried append must not duplicate postings")
    // partial overlap: neither fresh nor retry — refused
    val mixed = Seq((5L, "ALPHA Beta"), (9L, "gamma")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      graft.ops.TextIndex.append(mixed, "doc_id", "text", dir))
    assert(e.getMessage.contains("already"))
    // relayout restores range-disjoint files without changing results
    graft.ops.TextIndex.relayout(spark, dir, nFiles = 4)
    assert(phrase() == Seq(1L, 2L, 5L))
  }

  // --- auto-edge decision pins (VERDICT r17 #4) -------------------
  // The registry's static oracles for dedup_incremental/_indexed/
  // _bloom, stream_dedup_indexed, dedup_ngram_jaccard and the cluster
  // family's lexical edge all state the BANDED construction, while
  // the implementations auto-select per run from corpus statistics.
  // The contract differs per branch (exact Jaccard vs MinHash
  // estimate), so a corpus regeneration or new sf rung that flips the
  // decision to EXACT would make impl and oracle silently diverge,
  // surfacing only as an unexplained correctness-gate hash mismatch
  // far from the cause. These pins make the flip fail HERE, named:
  // if one trips, either regenerate the corpus or re-state the
  // affected oracles for the exact branch.

  private def gradedSfs: Seq[String] =
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1") ++
      // local sf1 probe corpus, when generated (tools/gen_sf1.py)
      Seq("/tmp/sf1").filter(d =>
        new java.io.File(s"$d/documents.parquet").exists)

  test("auto-edge decision lands BANDED at every graded sf " +
      "(dedup_incremental* + cluster-family oracles state that branch)") {
    gradedSfs.foreach { dir =>
      val docs = graft.io.Sources.table(spark, dir, "documents")
        .select("doc_id", "text")
      // the incremental rows' batch/corpus split (batch = doc_id%5==0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      // the auto decision runs when incremental is called, before any
      // action on its result
      Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5)
      val snap = graft.BenchAttribution.snapshot.toMap
      assert(snap("dedup.incremental.edge_banded") == 1.0,
        s"$dir: dedup_incremental auto edge flipped to EXACT " +
          s"(${snap("dedup.incremental.batch_cand_per_doc")} cand/doc vs budget " +
          s"${Dedup.DefaultCandBudgetPerDoc}) — re-state the oracles")
      // the cluster family / dedup_ngram_jaccard self-join decision
      val nDocs = docs.count()
      val candS = Dedup.predictedGramJoinCandidates(
        docs, "doc_id", "text", 3)
      assert(Dedup.useBandedEdge(nDocs, candS),
        s"$dir: cluster-family auto edge flipped to EXACT " +
          s"(${candS / math.max(nDocs, 1L)} cand/doc vs budget " +
          s"${Dedup.DefaultCandBudgetPerDoc}) — re-state the oracles")
    }
  }

  test("index-priced auto decision lands BANDED at sf0.001 and sf0.01 " +
      "(stream_dedup_indexed / dedup_incremental_indexed's branch)") {
    // same statistic priced off the PERSISTED index (DedupIndex
    // .dedupBatch's auto path) — the shape the indexed/bloom rows and
    // the streaming key run through. sf0.1 omitted: the between()
    // pin above covers its statistic and an index build per spec run
    // at 60k docs is test-budget, not coverage.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val docs = graft.io.Sources.table(spark, dir, "documents")
        .select("doc_id", "text", "n_chars")
      // the stream row's template: index over the standing corpus
      val idx = graft.ops.DedupIndex.ensureBuilt(spark, dir + "#streamtpl",
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", 3)
      // micro-batch A (doc_id%10==0) — the first batch the stream prices
      val batchA = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val cand = graft.ops.DedupIndex.predictedIndexJoinCandidates(
        spark, batchA, idx, "doc_id", "text", 3)
      assert(Dedup.useBandedEdge(batchA.count(), cand),
        s"$dir: index-priced edge flipped to EXACT " +
          s"(${cand / math.max(batchA.count(), 1L)} cand/doc) — " +
          "stream_dedup_indexed's oracle states the banded branch")
    }
  }

  test("inverted index files hold disjoint token ranges (probe prunes by min/max)") {
    val dir = builtTextIndex()
    // per-file token ranges must not overlap — the property that turns
    // a probe's IN predicate into file/row-group pruning
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("token").as("lo"), max("token").as("hi"))
      .select("lo", "hi").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: $hi1 > $lo2")
      case _ =>
    }
  }
}
