package graft

import org.apache.spark.sql.SparkSession

/** Dev loop for perf work on individual registered queries: warms up,
  * then times 3 steady-state iterations of each named query at sf0.1;
  * `explain:<name>` prints the formatted physical plan instead.
  *
  * {{{ sbt "runMain graft.Scratch dedup_minhash explain:dedup_minhash" }}}
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.filter(_.startsWith("explain:")).foreach { a =>
      val n = a.stripPrefix("explain:")
      println(s"=== $n ===")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    // operator-subplan explain for plan-evidence dumps (plans/r{N}):
    // the registry rows for these operators return checkpointed or
    // loop-truncated results, so explain:<registry name> shows a
    // Scan ExistingRDD stub — these cases explain the operator's OWN
    // composed plan instead (the plan the timed row actually executes
    // per evaluation / per micro-batch).
    args.filter(_.startsWith("opplan:")).foreach { a =>
      import org.apache.spark.sql.functions._
      val n = a.stripPrefix("opplan:")
      val docs = graft.io.Sources.table(spark, dir, "documents")
      println(s"=== opplan:$n ===")
      n match {
        // dedup_cluster_banded's edge relation (the row's dominant cost;
        // Components consumes it through its own checkpointed loop)
        case "banded_jaccard" =>
          graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
            candidates = "banded").explain("formatted")
        // the per-micro-batch probe of stream_dedup_indexed /
        // dedup_incremental_indexed (same dedupBatch plan; the stream
        // row wraps it in foreachBatch)
        case "dedup_batch" =>
          val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
          val idx = graft.ops.DedupIndex.ensureBuilt(spark, dir,
            docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "text", 3)
          graft.ops.DedupIndex.dedupBatch(spark, batch, idx,
            "doc_id", "text", 3, 0.5).explain("formatted")
        // view_daily_summary_incremental's fold stage: the plan that
        // merges the persisted state with the new day's partials (the
        // final summary scan is state-sized either way)
        case "ivm_fold" =>
          import graft.analytics.Incremental
          val li = graft.io.Sources.table(spark, dir, "lineitem")
          val (isNew, isHistory) = Incremental.daySplit(li)
          graft.io.TempScope.perCall("ivm_plan") { scope =>
            Incremental.lineitemSummaryState(li.filter(isHistory))
              .write.mode("overwrite").parquet(scope.path("v1"))
            Incremental.mergeStates(
                spark.read.parquet(scope.path("v1")),
                Incremental.lineitemSummaryState(li.filter(isNew)))
              .explain("formatted")
          }
        case other => println(s"[scratch] unknown opplan: $other")
      }
    }
    // dedup_decontaminate stage decomposition (VERDICT r19 #7): times
    // the containmentPairs stages separately at the current sf dir —
    // bench-gram build, corpus df pass, probe selection, candidate
    // join, verify — with candidate/hit counts, so a ladder-rung
    // regression names a stage.
    args.filter(_ == "dcprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      import graft.ops.Dedup
      import graft.functions.Parity
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scratch] dcprobe $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      val docs = graft.io.Sources.table(spark, dir, "documents")
      val corpus = docs
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      val n = 3; val threshold = 0.8
      (1 to 2).foreach { it =>
        println(s"[scratch] dcprobe --- iter $it ---")
        val bg = t("bench_grams")(
          Dedup.benchGrams(bench, "doc_id", "text", n).localCheckpoint(true))
        println(s"[scratch] dcprobe n_bench_gram_rows=${bg.count()}")
        def cg = Dedup.gramTable(corpus, "doc_id", "text", n)
          .select(col("doc_id").as("corpus_id"),
            Parity.md5_60(col("gram")).as("gram"))
        val dfByGram = t("df_pass")(
          cg.join(broadcast(bg.select("gram").distinct()), Seq("gram"), "left_semi")
            .groupBy("gram").agg(count(lit(1)).as("__df")).localCheckpoint(true))
        val probes = t("probe_select")(
          bg.join(dfByGram, Seq("gram"), "left")
            .na.fill(0L, Seq("__df"))
            .withColumn("__rk", row_number().over(
              Window.partitionBy(col("bench_id"))
                .orderBy(col("__df"), col("gram"))))
            .filter(col("__rk") <=
              floor(col("nb").cast("double") * lit(1.0 - threshold)) + lit(2))
            .select("bench_id", "gram").localCheckpoint(true))
        println(s"[scratch] dcprobe n_probe_rows=${probes.count()}")
        val candPairs = t("cand_join")(
          cg.join(broadcast(probes), "gram")
            .select("corpus_id", "bench_id").distinct().localCheckpoint(true))
        println(s"[scratch] dcprobe n_cand_pairs=${candPairs.count()}, " +
          s"n_cand_docs=${candPairs.select("corpus_id").distinct().count()}")
        val full = t("full_containmentPairs")(
          Dedup.containmentPairs(corpus, bench, "doc_id", "text", n, threshold)
            .localCheckpoint(true))
        println(s"[scratch] dcprobe n_hits=${full.count()}")
      }
    }
    // dedup_cluster_banded decomposition (VERDICT r19 #9): times the
    // banded edge's stages separately — signature+band candidates,
    // capped-set build, exact verify — and the components loop, so the
    // row's cost is attributable to a named stage.
    args.filter(_ == "cbprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      import graft.ops.Dedup
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scratch] cbprobe $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      (1 to 3).foreach { it =>
        println(s"[scratch] cbprobe --- iter $it ---")
        val docs = graft.io.Sources.table(spark, dir, "documents")
        val grams = t("grams_ckpt")(
          Dedup.hashedGramTable(docs, "doc_id", "text", 3).localCheckpoint())
        val sigs = Dedup.minhashSignaturesOfHashedGrams(grams, 32)
        val bands = t("bands_build")(
          Dedup.bandsOfSigs(sigs.select(col("doc_id"),
            array((0 until 32).map(i => col(s"s$i")): _*).as("sig")),
            "doc_id").drop("__sig_doc_id"))
        val cand = t("cand_distinct")(
          bands.toDF("doc_a", "band_idx", "band_key")
            .join(bands.toDF("doc_b", "band_idx", "band_key"),
              Seq("band_idx", "band_key"))
            .filter(col("doc_a") < col("doc_b"))
            .select("doc_a", "doc_b").distinct().localCheckpoint(true))
        println(s"[scratch] cbprobe n_cand=${cand.count()}")
        val sets = t("sets_build")(
          Dedup.cappedGramRows(docs, "doc_id", "text", 3, Dedup.DefaultMaxDf)
            .groupBy("doc_id")
            .agg(collect_set(col("gram")).as("gs"), count(lit(1)).as("ng"))
            .localCheckpoint(true))
        val edge = t("edge_full")(
          Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
              candidates = "banded")
            .select("doc_a", "doc_b").localCheckpoint(true))
        println(s"[scratch] cbprobe n_edges=${edge.count()}")
        t("components")(
          graft.ops.Components.connectedComponents(edge, "doc_a", "doc_b")
            .count())
      }
    }
    // dedup_multi_signal decomposition probe: times the lexical edge,
    // the semantic edge, their union's components, and the full row
    // separately, printing edge counts — attribution for a ladder-rung
    // blowup must name the stage, not the row
    args.filter(_ == "msprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scratch] msprobe $label ${(System.nanoTime() - t0) / 1e9}%.1f s")
        r
      }
      val docs = graft.io.Sources.table(spark, dir, "documents")
      val emb = graft.io.Sources.table(spark, dir, "embeddings")
      val nLex = t("lexicalEdgeAuto(jaccardPairs auto 0.6)") {
        graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
          .select("doc_a", "doc_b").localCheckpoint(true).count()
      }
      println(s"[scratch] msprobe lexical_edges=$nLex")
      val sem = t("lshPairsAuto(cos 0.4) build+count") {
        graft.ops.Similarity.lshPairsAuto(emb, "vec_id", "embedding",
            nBands = 2, threshold = 0.4)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
          .localCheckpoint(true)
      }
      println(s"[scratch] msprobe semantic_edges=${sem.count()}")
      val lex = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
        .select("doc_a", "doc_b").localCheckpoint(true)
      val (compDf, rounds) = t("components(union)") {
        graft.ops.Components.connectedComponentsWithRounds(
          lex.unionByName(sem), "doc_a", "doc_b", maxIters = 60)
      }
      println(s"[scratch] msprobe components rows=${compDf.count()} rounds=$rounds")
    }
    // decontamination scaling probe: times Dedup.decontaminate with a
    // FIXED-SIZE bench (the production shape — an external eval set
    // does not grow with the corpus) vs the registry's %97 bench
    // (which does). The per-bench-item cost of the rarest-gram probe
    // is linear in the corpus; the registry row's total tracks
    // |bench| × |corpus| only because the gate bench grows with n.
    args.filter(_ == "decontamprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      val docs = graft.io.Sources.table(spark, dir, "documents")
      def timeIt(label: String, bench: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val n = graft.ops.Dedup.decontaminate(docs, bench, "doc_id", "text",
          3, 0.8).count()
        println(f"[scratch] decontamprobe $label kept=$n " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      // fixed bench: the sf1-rung bench (doc_id < 50000, %97) at every
      // rung — 516 items regardless of corpus size
      timeIt("fixed_bench",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0 &&
          col("doc_id") < 50000))
      timeIt("growing_bench",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0))
    }
    // BPE trainer cost-curve probe (SCALING.md): bpe:<iter|fast>:<k>
    // times one full training run at k rounds over the sf documents
    args.filter(_.startsWith("bpe:")).foreach { a =>
      val parts = a.split(":")
      val (trainer, k) = (parts(1), parts(2))
      val ce = if (parts.length > 3) parts(3).toInt else 1
      val docs = graft.io.Sources.table(spark, dir, "documents")
      val t0 = System.nanoTime()
      val m =
        if (trainer == "fast")
          graft.ops.Corpus.bpeTrainIncremental(docs, "doc_id", "text", k.toInt,
            checkpointEvery = ce)
        else graft.ops.Corpus.bpeTrain(docs, "doc_id", "text", k.toInt)
      val n = m.count()
      println(f"[scratch] bpe:$trainer k=$k merges=$n " +
        f"${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // join_bucketed cost split (VERDICT r12 #7): the registry row
    // exists to demonstrate the zero-exchange bucketed join, but its
    // wall time is write-dominated — this probe times the two
    // bucketed table writes and the join separately so a bench drift
    // can be attributed before diagnosing a plan regression
    args.filter(_ == "bktprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      (1 to 3).foreach { it =>
        graft.io.TempScope.perCall("bkt") { scope =>
          val liT = scope.name("li_probe")
          val ordT = scope.name("ord_probe")
          val t0 = System.nanoTime()
          graft.io.Sources.table(spark, dir, "lineitem")
            .select("l_orderkey", "l_quantity")
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", scope.path(liT)).saveAsTable(liT)
          graft.io.Sources.table(spark, dir, "orders")
            .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", scope.path(ordT)).saveAsTable(ordT)
          val tw = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          spark.table(liT).hint("merge")
            .join(spark.table(ordT).hint("merge"), "l_orderkey")
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n_items"))
            .count()
          val tj = (System.nanoTime() - t1) / 1e9
          println(f"[scratch] bktprobe iter$it write=$tw%.3f s join=$tj%.3f s")
        }
      }
    }
    // IVF bucket-occupancy spread probe (VERDICT r12 #8): hot buckets
    // are ANN's skew analogue. Measures max/median member count per
    // bucket on the CLUSTERED corpus (the pathological input — real
    // embedding corpora are clustered, that is why IVF works) for the
    // seed assignment (steps=0) vs the trained model (steps=2), at
    // the registry's nlist=16 and at the sizing rule's nlistFor(n).
    args.filter(_ == "annprobe").foreach { _ =>
      import graft.ops.Similarity
      val emb = graft.queries.ExtensionQueries.clusteredEmb(spark, dir)
      val n = emb.count()
      for ((steps, label) <- Seq((0, "seed"), (1, "lloyd1"), (2, "trained"));
           k <- Seq(16, Similarity.nlistFor(n)).distinct) {
        val asg = Similarity.ivfAssignTrained(emb, "vec_id", "embedding",
          nCentroids = k, steps = steps)
        val (nb, mx, med, ratio) = Similarity.bucketSpread(asg)
        println(f"""{"probe":"annprobe","corpus":"clustered","n":$n,""" +
          f""""nlist":$k,"model":"$label","buckets":$nb,"max_occ":$mx,""" +
          f""""median_occ":$med,"max_over_median":$ratio%.2f,""" +
          f""""needs_rebalance":${Similarity.needsRebalance(ratio)}}""")
      }
    }
    // Same spread probe over the RAW embeddings table (no clustered
    // mixture transform) — for corpora whose embeddings are ALREADY
    // hostile, e.g. gen_skew.py's hot-cluster mixture (55% of vectors
    // in one tight cluster). Reports seed vs trained occupancy at the
    // registry nlist and the √n rule, the numbers the skew artifact
    // records for the ANN family.
    args.filter(_ == "annprobe_raw").foreach { _ =>
      import graft.ops.Similarity
      val emb = graft.io.Sources.table(spark, dir, "embeddings")
      val n = emb.count()
      for ((steps, label) <- Seq((0, "seed"), (1, "lloyd1"), (2, "trained"));
           k <- Seq(16, Similarity.nlistFor(n)).distinct) {
        val asg = Similarity.ivfAssignTrained(emb, "vec_id", "embedding",
          nCentroids = k, steps = steps)
        val (nb, mx, med, ratio) = Similarity.bucketSpread(asg)
        println(f"""{"probe":"annprobe_raw","corpus":"$dir","n":$n,""" +
          f""""nlist":$k,"model":"$label","buckets":$nb,"max_occ":$mx,""" +
          f""""median_occ":$med,"max_over_median":$ratio%.2f,""" +
          f""""needs_rebalance":${Similarity.needsRebalance(ratio)}}""")
      }
    }
    // pipeline_pretrain stage-cost split: times each curation stage
    // cumulatively so composition overhead is attributable
    args.filter(_ == "ppprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      import graft.ops.{Dedup, TextOps}
      val stops = Seq("the", "a")
      def t[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[scratch] ppprobe $label ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      (1 to 3).foreach { it =>
        println(s"[scratch] ppprobe --- iter $it ---")
        val docs = graft.io.Sources.table(spark, dir, "documents")
        val lf = docs.filter(TextOps.langId(col("text"), stops).isin("en", "mixed"))
        val qf = lf.filter(TextOps.qualityScore(col("text"), stops) >= 75.0)
        t("qf.count")(qf.count())
        val dd = Dedup.exact(qf, "doc_id", "text")
        t("dd.count")(dd.count())
        t("prune.raw.count")(
          Dedup.substringPrune(docs, "doc_id", "text", windowLen = 8).count())
        t("prune.dd.count")(
          Dedup.substringPrune(dd, "doc_id", "text", windowLen = 8).count())
        val ddc = t("dd.ckpt")(dd.localCheckpoint())
        t("prune.ddckpt.count")(
          Dedup.substringPrune(ddc, "doc_id", "text", windowLen = 8).count())
        val pr = t("prune.ckpt")(
          Dedup.substringPrune(dd, "doc_id", "text", windowLen = 8)
            .localCheckpoint())
        val bg = t("benchGrams")(Dedup.benchGrams(
          docs.filter(pmod(col("doc_id"), lit(97)) === 0), "doc_id", "text", 3))
        t("decon.final")(
          Dedup.decontaminateBatch(pr, bg, "doc_id", "text_pruned", 3, 0.8)
            .select("doc_id", "n_kept", "text_pruned").orderBy("doc_id").count())
      }
    }
    // sf1 full-mode tail decomposition (VERDICT r15 #1): splits the
    // two 20 s full-mode rows into their stage costs so the slope is
    // attributable — materialization (terminal sort of wide rows) vs
    // operator (JSON parse count / prune branch costs). Each variant
    // is executed with the Bench full-plan discipline (toRdd.count),
    // warmup + min of 2.
    args.filter(_ == "tailprobe").foreach { _ =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.DataFrame
      import graft.functions.Parity
      def time(label: String)(mk: => DataFrame): Unit = {
        mk.queryExecution.toRdd.count() // warm
        val times = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          mk.queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[scratch] tailprobe $label ${times.min}%.3f s")
      }
      // --- src_json_parse ------------------------------------------
      val events = graft.io.Sources.table(spark, dir, "events")
      val js = concat(
        lit("""{"main":{"temp":"""), col("value").cast("string"),
        lit(""","humidity":"""),
        (Parity.floorLong(col("value")) % 101).cast("string"),
        lit("""},"name":"u"""), col("user_id").cast("string"), lit("\"}"))
      val schema = StructType(Seq(
        StructField("main", StructType(Seq(
          StructField("temp", DoubleType), StructField("humidity", IntegerType)))),
        StructField("name", StringType)))
      val parsed = from_json(js, schema)
      def jsonProj: DataFrame = events.select(
        col("event_id"),
        parsed.getField("main").getField("temp").as("temp"),
        parsed.getField("main").getField("humidity").as("humidity"),
        parsed.getField("name").as("name"))
      time("json.scan_concat")(events.select(col("event_id"), js.as("js")))
      time("json.proj_noorder")(jsonProj)
      time("json.full_with_sort")(jsonProj.orderBy("event_id"))
      // single-pass: a generator (inline) is a projection-collapse
      // barrier, so from_json evaluates ONCE per row regardless of
      // how many fields are consumed downstream
      def jsonSinglePass: DataFrame = events
        .select(col("event_id"), inline(array(struct(parsed.as("p")))))
        .select(col("event_id"),
          col("p.main.temp").as("temp"),
          col("p.main.humidity").as("humidity"),
          col("p.name").as("name"))
      time("json.singlepass_noorder")(jsonSinglePass)
      time("json.singlepass_with_sort")(jsonSinglePass.orderBy("event_id"))
      // pruning-off control: with json expression optimization
      // disabled the three getFields share ONE unpruned from_json,
      // which codegen subexpression-elimination then merges
      val jsonOptKey = "spark.sql.optimizer.enableJsonExpressionOptimization"
      val jsonOptPrior = spark.conf.getOption(jsonOptKey)
      try {
        spark.conf.set(jsonOptKey, "false")
        time("json.proj_noorder_noprune")(jsonProj)
      } finally jsonOptPrior match {
        case Some(v) => spark.conf.set(jsonOptKey, v)
        case None    => spark.conf.unset(jsonOptKey)
      }
      // --- text_substring_prune ------------------------------------
      import graft.ops.{Dedup, TextOps}
      val docs = graft.io.Sources.table(spark, dir, "documents")
      time("prune.tokenize_only")(docs.select(col("doc_id"),
        TextOps.tokens(TextOps.normalized(col("text"))).as("__toks")))
      time("prune.noorder")(
        Dedup.substringPrune(docs, "doc_id", "text", windowLen = 8))
      time("prune.full_with_sort")(
        Dedup.substringPrune(docs, "doc_id", "text", windowLen = 8)
          .orderBy("doc_id"))
      time("prune.drop_text_with_sort")(
        Dedup.substringPrune(docs, "doc_id", "text", windowLen = 8)
          .drop("text_pruned").orderBy("doc_id"))
      time("prune.stats_only")(
        Dedup.substringDupStats(docs, "doc_id", "text", windowLen = 8))
    }
    // full:<name> — the Bench full-plan discipline (toRdd.count()):
    // count() lets Catalyst prune output-only columns and with them
    // whole aggregates; this mode executes the query's OWN physical
    // plan, the number the sf1 full-mode series reports
    val fulls = args.filter(_.startsWith("full:")).map(_.stripPrefix("full:"))
    fulls.foreach { n =>
      SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
    }
    (1 to 3).foreach { it =>
      fulls.foreach { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
        println(f"[scratch] full:$n iter$it ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    val names = args.filterNot(a =>
      a.startsWith("explain:") || a.startsWith("bpe:") || a.startsWith("full:") ||
      a.startsWith("opplan:") ||
      a == "bktprobe" || a == "tailprobe" || a == "msprobe" ||
      a == "cbprobe" || a == "dcprobe" ||
      a == "decontamprobe" ||
      a == "annprobe" || a == "annprobe_raw" || a == "ppprobe")
    names.foreach { n => SparkEntry.queries(n)(spark, dir).count() }
    (1 to 3).foreach { it =>
      names.foreach { n =>
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        println(f"[scratch] $n iter$it ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
