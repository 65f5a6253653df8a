package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch-bounded typed passes equal the SQL forms they stand in
  * for: each pair writes into, or probes, the same index tables, so
  * their values must agree bit for bit.
  */
class BatchPassSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Vocab = Seq("ka", "ro", "vel", "mi")

  /** 60 texts over a 4-word vocabulary, so grams recur across docs;
    * docs 0, 2, .., 18 copy doc 20 + i with its last word changed, so
    * band keys collide. Ids as `idType`, one NULL id.
    */
  private def docs(idType: String): DataFrame = {
    val rnd = new scala.util.Random(11)
    val texts = (0 until 60).map(_ =>
      Seq.fill(8 + rnd.nextInt(8))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    texts.indices.map { i =>
      (if (i == 13) None else Some(i.toLong),
        if (i < 20 && i % 2 == 0) texts(20 + i) + " zo" else texts(i))
    }.toDF("doc_id", "text").withColumn("doc_id", col("doc_id").cast(idType))
  }

  test("localSignatures equals sigArrays(minhashSignaturesOfHashedGrams): int and long ids, hot grams") {
    Seq("int", "bigint").foreach { idType =>
      val grams = Dedup.hashedGramTable(docs(idType), "doc_id", "text", 3).localCheckpoint(true)
      // the grams in more than 5 docs are hot: kept counts drop them
      val hot = grams.groupBy("gram").count().filter(col("count") > 5).select("gram")
        .as[Long].collect().sorted
      assert(hot.nonEmpty, "the fixture must have hot grams")
      val got = Dedup.localSignatures(grams, hot)
      val sigs = Dedup.sigArrays(Dedup.minhashSignaturesOfHashedGrams(grams, DedupIndex.SigK))
        .collect().map(r => r.get(0) -> r.getSeq[Long](1)).toMap
      val kept = grams.filter(!col("gram").isin(hot.toSeq: _*)).groupBy("doc_id").count()
        .collect().map(r => r.get(0) -> r.getLong(1)).toMap
      assert(got.keySet == sigs.keySet && got.keySet.contains(null), s"$idType ids")
      got.foreach { case (id, (sig, nKept)) =>
        assert(sig.toSeq == sigs(id), s"$idType id $id: signature")
        assert(nKept == kept.getOrElse(id, 0L), s"$idType id $id: kept gram count")
      }
    }
  }

  test("bandedHits equals the left ids of bandedPairsFromBands over bandsOfSigs") {
    val all = docs("bigint").filter(col("doc_id").isNotNull)
    def sigsOf(d: DataFrame) = Dedup.hashedGramTable(d, "doc_id", "text", 3).localCheckpoint(true)
    val batchGrams = sigsOf(all.filter(col("doc_id") < 20))
    val corpus = Dedup.sigArrays(Dedup.minhashSignaturesOfHashedGrams(
      sigsOf(all.filter(col("doc_id") >= 20)), DedupIndex.SigK)).localCheckpoint(true)
    Seq(0.3, 0.5, 0.8).foreach { t =>
      val got = Dedup.bandedHits(Dedup.localSignatures(batchGrams), corpus, t)
      val want = Dedup.bandedPairsFromBands(
          Dedup.bandsOfSigs(Dedup.sigArrays(
            Dedup.minhashSignaturesOfHashedGrams(batchGrams, DedupIndex.SigK)), "left_id"),
          Dedup.bandsOfSigs(corpus, "right_id"), t)
        .select("left_id").distinct().as[Long].collect().toSet[Any]
      assert(got == want, s"threshold $t")
      if (t == 0.3) assert(want.nonEmpty, "the fixture must have band hits")
    }
  }

  test("bloomWords equals bloomBits' word map, NULL key included") {
    val keys = Seq[java.lang.Long](1L, -7L, Long.MaxValue, 0L, null, 123456789012L)
    Seq(1024, 4096).foreach { nBits =>
      val want = RuntimeFilter.bloomBits(keys.map(k => Option(k).map(_.longValue)).toDF("k"),
        "k", nBits).head().getMap[Int, Long](0).toMap
      assert(RuntimeFilter.bloomWords(keys, nBits) == want, s"$nBits bits")
    }
  }

  test("predicted index join candidates past the broadcast bound: the distributed form") {
    // HotBroadcastMaxRows + 1 batch gram rows take the shuffle-join
    // branch. Gram g = id % 2,000,000 over ids 0..4,000,000 occurs in 2
    // batch rows, 3 for g = 0; the corpus holds grams 0, 1 (twice), 5
    // and one the batch lacks
    val n = Dedup.HotBroadcastMaxRows + 1
    val batchGrams = spark.range(0, n).select((col("id") % 1000).as("doc_id"),
      (col("id") % 2000000L).as("gram"))
    val corpus = Seq(0L, 1L, 1L, 5L, 3000000L).toDF("gram")
    assert(DedupIndex.predictedIndexJoinCandidatesOfGrams(batchGrams, n, corpus) ==
      3L + 2L + 2L + 2L)
    // and below the bound, the driver-side form on the same shape
    val small = spark.range(0, 41).select((col("id") % 7).as("doc_id"),
      (col("id") % 20L).as("gram")).localCheckpoint(true)
    assert(DedupIndex.predictedIndexJoinCandidatesOfGrams(small, 41L,
      Seq(0L, 1L, 1L, 5L, 30L).toDF("gram")) == 3L + 2L + 2L + 2L)
  }

  /** The SQL trainer `Similarity.trainModel` replaced, kept as its
    * reference: the seed is the nCentroids lowest-id vectors, and each
    * Lloyd step joins the int8 codes to the assignTo aggregate,
    * posexplodes them and averages per (bucket, dim) in two group-bys.
    */
  private def sqlModel(emb: DataFrame, nCentroids: Int, steps: Int): Array[(Long, Array[Double])] = {
    val all = Similarity.prepared(emb, "vec_id", "embedding").select("vec_id", "v")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding").select("vec_id", "q")
    var cent = all.orderBy(col("vec_id").asc).limit(nCentroids)
      .as[(Long, Array[Double])].collect()
    for (_ <- 1 to steps) {
      cent = q.join(Similarity.assignTo(all, cent.toIndexedSeq.toDF("cid", "cv")), "vec_id")
        .select(col("bucket").as("cid"), posexplode(col("q")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .select(col("cid"), col("dim"),
          (col("s").cast("double") / col("cnt").cast("double")).as("c"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          d => d.getField("c")).as("cv"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    }
    cent
  }

  /** 40 four-dim vectors with ids `10 * i` as `idType`: ids 0 and 10
    * share a vector (tied centroids, so the second one's bucket empties
    * at the first step), and the rows at positions `special` are a zero
    * vector, a vector with a NaN, a NULL vector and a vector with a NULL
    * element. The last is never a seed: the SQL trainer's seed collect
    * refuses a NULL element.
    */
  private def annRows(idType: String, special: Seq[Int]): DataFrame = {
    val vecs = (0 until 40).map { i =>
      val j = if (i == 1) 0 else i
      Seq.tabulate(4)(d => Option(math.sin(j * 1.7 + d * 0.9).toFloat))
    }.toArray
    val Seq(zero, nan, nul, hole) = special
    vecs(zero) = Seq.fill(4)(Some(0.0f))
    vecs(nan) = vecs(nan).updated(2, Some(Float.NaN))
    vecs(nul) = null
    vecs(hole) = vecs(hole).updated(1, None)
    vecs.indices.map(i => (10L * i, vecs(i))).toDF("vec_id", "embedding")
      .withColumn("vec_id", col("vec_id").cast(idType))
  }

  private def bits(m: Array[(Long, Array[Double])]): Seq[(Long, Seq[Long])] =
    m.toSeq.map { case (c, v) =>
      (c, Option(v).map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)).orNull) }

  test("trainModel equals the SQL Lloyd trainer bit for bit: ids, ties, special vectors, empty buckets") {
    for (idType <- Seq("int", "bigint"); special <- Seq(Seq(20, 21, 22, 23), Seq(2, 3, 4, 25))) {
      val emb = annRows(idType, special)
      for (steps <- 0 to 2) {
        val got = Similarity.trainModel(emb, "vec_id", "embedding", 6, steps, "test")
        val want = sqlModel(emb, 6, steps)
        assert(bits(got) == bits(want), s"$idType ids, special rows $special, $steps steps")
        if (steps == 1) assert(got.length < 6, "the tied centroid's bucket must empty")
      }
    }
  }

  test("AnnIndex.build's assignments equal assignTo over the stored centroids") {
    for (special <- Seq(Seq(20, 21, 22, 23), Seq(2, 3, 4, 25)); steps <- Seq(0, 2)) {
      val emb = annRows("int", special)
      val dir = java.nio.file.Files.createTempDirectory("ann_build_asg").toString
      AnnIndex.build(emb, "vec_id", "embedding", 6, dir, trainSteps = steps)
      val written = spark.read.parquet(s"$dir/assignments").as[(Int, Long)].collect().sorted
      val want = Similarity.assignTo(
          Similarity.prepared(emb, "vec_id", "embedding").select("vec_id", "v"),
          spark.read.parquet(s"$dir/centroids"))
        .as[(Int, Long)].collect().sorted
      assert(written.toSeq == want.toSeq, s"special rows $special, $steps steps")
    }
  }

  test("append and the banded edge refuse more than BatchMaxRows rows, before any write") {
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_bound").toString
    DedupIndex.build(docs("bigint").filter(col("doc_id").isNotNull), "doc_id", "text", 3,
      dir, nFiles = 2)
    def rows(t: String) = Layout.footerRowCount(spark, s"$dir/$t")
    val before = Seq("fps", "grams", "sigs").map(rows)
    val big = spark.range(0, DedupIndex.BatchMaxRows + 1)
      .select(col("id").as("doc_id"), concat(lit("ka ro vel "), col("id").cast("string")).as("text"))
    val e = intercept[IllegalArgumentException](DedupIndex.append(big, "doc_id", "text", 3, dir))
    assert(e.getMessage.contains(s"${DedupIndex.BatchMaxRows + 1} survivor rows"), e.getMessage)
    assert(Seq("fps", "grams", "sigs").map(rows) == before, "a refused append wrote rows")
    val e2 = intercept[IllegalArgumentException](DedupIndex.dedupBatch(spark, big, dir,
      "doc_id", "text", 3, 0.5, candidates = "banded").count())
    assert(e2.getMessage.contains(s"${DedupIndex.BatchMaxRows + 1} batch rows"), e2.getMessage)
  }
}
