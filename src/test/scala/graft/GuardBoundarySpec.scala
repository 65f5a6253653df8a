package graft

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Boundary pins for the bounded-collect contracts (VERDICT r15 #8):
  * the `maxProbes` / `maxExactCorpus` requires are the driver-OOM
  * firewall in front of every collect-and-broadcast in the ANN family,
  * so each guarded entry point is exercised AT the boundary (must
  * pass) and ONE PAST it (must refuse, naming itself) — an
  * off-by-one that silently admitted corpus-sized probe sets would
  * otherwise only surface as a production OOM.
  */
class GuardBoundarySpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val nProbes =
    emb.filter(col("vec_id") < 10).count() // = 10 on the shipped corpus
  private val probe = col("vec_id") < 10

  private def refuses(tag: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.contains(tag), s"message should name $tag: ${e.getMessage}")
    assert(e.getMessage.contains("probe") || e.getMessage.contains("n²") ||
      e.getMessage.contains("O(n"), e.getMessage)
  }

  /** A probe guard one past its bound refuses naming its own entry
    * point, and the shared `limit`-based guard still reports the exact
    * count.
    */
  private def refusesOnePast(tag: String)(f: => Any): Unit = {
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage.stripPrefix("requirement failed: ").startsWith(
      s"$tag: probePred selected $nProbes probes (> ${nProbes - 1})"), e.getMessage)
  }

  test("cosineTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.cosineTopK(emb, "vec_id", "embedding", probe, k = 3,
      maxProbes = nProbes).count() > 0)
    refusesOnePast("cosineTopK")(Similarity.cosineTopK(emb, "vec_id", "embedding",
      probe, k = 3, maxProbes = nProbes - 1).count())
  }

  test("ivfTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.ivfTopK(emb, "vec_id", "embedding", nCentroids = 4,
      probePred = probe, k = 3, maxProbes = nProbes).count() > 0)
    refusesOnePast("ivfTopK")(Similarity.ivfTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probePred = probe, k = 3,
      maxProbes = nProbes - 1).count())
  }

  test("pqTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.pqTopK(emb, "vec_id", "embedding", probe, k = 3,
      m = 8, ksub = 16, maxProbes = nProbes).count() > 0)
    refusesOnePast("pqTopK")(Similarity.pqTopK(emb, "vec_id", "embedding", probe,
      k = 3, m = 8, ksub = 16, maxProbes = nProbes - 1).count())
  }

  test("ivfPqTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.ivfPqTopK(emb, "vec_id", "embedding", nCentroids = 4,
      probePred = probe, k = 3, m = 8, ksub = 16,
      maxProbes = nProbes).count() > 0)
    refusesOnePast("ivfPqTopK")(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probePred = probe, k = 3, m = 8, ksub = 16,
      maxProbes = nProbes - 1).count())
  }

  test("ivfPqResidualTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probePred = probe, k = 3, m = 8, ksub = 16,
      maxProbes = nProbes).count() > 0)
    refusesOnePast("ivfPqResidualTopK")(Similarity.ivfPqResidualTopK(emb, "vec_id",
      "embedding", nCentroids = 4, probePred = probe, k = 3, m = 8,
      ksub = 16, maxProbes = nProbes - 1).count())
  }

  test("ivfPqRerankTopK admits maxProbes and refuses maxProbes+1 probes") {
    assert(Similarity.ivfPqRerankTopK(emb, "vec_id", "embedding",
      nCentroids = 4, probePred = probe, k = 3, m = 8, ksub = 16,
      maxProbes = nProbes).count() > 0)
    refusesOnePast("ivfPqRerankTopK")(Similarity.ivfPqRerankTopK(emb, "vec_id",
      "embedding", nCentroids = 4, probePred = probe, k = 3, m = 8,
      ksub = 16, maxProbes = nProbes - 1).count())
  }

  /** One persisted index (with its PQ sidecar) over the shipped corpus. */
  private lazy val annIndex: String = {
    val dir = java.nio.file.Files.createTempDirectory("guard_ann_idx").toString
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = dir)
    graft.ops.AnnIndex.buildPq(spark, dir, m = 8, ksub = 16, dims = 64)
    dir
  }

  // the indexed probes collect the probe set with limit(maxProbes + 1):
  // the bound itself must pass, one past it must refuse, and the
  // refusal must report the exact count, not the limit's
  test("AnnIndex.probe admits maxProbes and refuses maxProbes+1 probes") {
    assert(graft.ops.AnnIndex.probe(spark, annIndex, probe, k = 3,
      maxProbes = nProbes).count() > 0)
    refuses("probe")(graft.ops.AnnIndex.probe(spark, annIndex, probe, k = 3,
      maxProbes = nProbes - 1).count())
    val e = intercept[IllegalArgumentException](graft.ops.AnnIndex.probe(
      spark, annIndex, lit(true), k = 3, maxProbes = nProbes).count())
    assert(e.getMessage.contains(s"selected ${emb.count()} probes (> $nProbes)"),
      e.getMessage)
  }

  test("AnnIndex.probePq admits maxProbes and refuses maxProbes+1 probes") {
    assert(graft.ops.AnnIndex.probePq(spark, annIndex, probe, k = 3,
      maxProbes = nProbes, m = 8, ksub = 16).count() > 0)
    refuses("probePq")(graft.ops.AnnIndex.probePq(spark, annIndex, probe,
      k = 3, maxProbes = nProbes - 1, m = 8, ksub = 16).count())
    val e = intercept[IllegalArgumentException](graft.ops.AnnIndex.probePq(
      spark, annIndex, lit(true), k = 3, maxProbes = nProbes, m = 8,
      ksub = 16).count())
    assert(e.getMessage.contains(s"selected ${emb.count()} probes (> $nProbes)"),
      e.getMessage)
  }

  test("cosinePairs admits the corpus at the cap and refuses one below") {
    val n = emb.count()
    // at the boundary: n <= maxExactCorpus passes
    assert(Similarity.cosinePairs(emb, "vec_id", "embedding",
      threshold = 0.99, maxExactCorpus = n).count() >= 0)
    refuses("cosinePairs")(Similarity.cosinePairs(emb, "vec_id", "embedding",
      threshold = 0.99, maxExactCorpus = n - 1).count())
  }
}
