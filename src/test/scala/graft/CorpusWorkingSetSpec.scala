package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions.col

import graft.ops.{AnnIndex, DedupIndex}

/** The generated-class working set of one corpus batch
  * ([[GeneratedClasses]]): dedup against a standing [[DedupIndex]],
  * append the survivors to it and to an [[AnnIndex]], then probe the
  * batch's vectors — the four calls of the benchmark's `corpus_dedup`
  * op, made the same way. The corpus draws from a 20-word vocabulary,
  * so the auto candidate stage takes the banded edge, as it does on
  * the benchmark's corpus.
  */
class CorpusWorkingSetSpec extends SparkSpec with GeneratedClasses {

  private val Vocab = Seq("ka", "ro", "vel", "mi", "tor", "an", "su", "del", "bri", "on",
    "lu", "mar", "ne", "ost", "pa", "ril", "sen", "ta", "ur", "zo")
  private val NCorpus = 300
  private val BatchSize = 40
  private val Dims = 16

  private def text(rnd: scala.util.Random): String =
    Seq.fill(10 + rnd.nextInt(40))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  private def vec(rnd: scala.util.Random): Array[Float] =
    Array.fill(Dims)(rnd.nextGaussian().toFloat)

  /** Writes the corpus and three batches as parquet under `root`; each
    * batch copies two corpus texts exactly and near-copies four (one
    * token replaced). Returns the batches' (dir, lo, hi).
    */
  private def fixtures(root: Path): Seq[(String, Long, Long)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (0 until NCorpus).map(i => (i.toLong, text(rnd), vec(rnd)))
    corpus.toDF("doc_id", "text", "embedding")
      .write.parquet(root.resolve("corpus").toString)
    (0 until 3).map { b =>
      val lo = NCorpus + b * BatchSize
      val docs = (0 until BatchSize).map { j =>
        val src = corpus(rnd.nextInt(NCorpus))._2
        val t =
          if (j < 2) src
          else if (j < 6) {
            val toks = src.split(" ")
            toks(rnd.nextInt(toks.length)) = "dup"
            toks.mkString(" ")
          } else text(rnd)
        ((lo + j).toLong, t, vec(rnd))
      }
      val dir = root.resolve(s"batch$b").toString
      docs.toDF("doc_id", "text", "embedding").write.parquet(dir)
      (dir, lo.toLong, (lo + BatchSize - 1).toLong)
    }
  }

  private def build(root: Path): Unit = {
    val corpus = spark.read.parquet(root.resolve("corpus").toString)
    DedupIndex.build(corpus.select("doc_id", "text"), "doc_id", "text", 3,
      root.resolve("dedup").toString, nFiles = 4)
    AnnIndex.build(corpus.select("doc_id", "embedding"), "doc_id", "embedding",
      8, root.resolve("ann").toString)
  }

  /** One corpus op on batch `i`: the four calls, as the benchmark makes them. */
  private def op(root: Path, batches: Seq[(String, Long, Long)], i: Int): Unit = {
    val (dir, lo, hi) = batches(i)
    val dedup = root.resolve("dedup").toString
    val ann = root.resolve("ann").toString
    val batch = spark.read.parquet(dir)
    val accepted = root.resolve(s"accepted/batch$i").toString
    DedupIndex.dedupBatch(spark, batch.select("doc_id", "text"), dedup,
      "doc_id", "text", 3, 0.5).write.parquet(accepted)
    val acc = spark.read.parquet(accepted)
    DedupIndex.append(acc, "doc_id", "text", 3, dedup)
    AnnIndex.append(batch.join(acc.select("doc_id"), "doc_id"), "doc_id", "embedding", ann)
    val hits = AnnIndex.probe(spark, ann, col("vec_id").between(lo, hi), k = 5).collect()
    assert(hits.nonEmpty)
    assert(BenchAttribution.snapshot.toMap.get("dedup_index.edge_banded").contains(1.0),
      "the fixture must take the banded candidate edge")
  }

  private def setUp(tag: String): (Path, Seq[(String, Long, Long)]) = {
    val root = Files.createTempDirectory(tag)
    val batches = fixtures(root)
    build(root)
    op(root, batches, 0)
    (root, batches)
  }

  // 83 measured with driver-side training and assignment; the
  // aggregate-based Lloyd steps and assignment compiled 112
  test("one corpus set-up compiles at most 90 classes from an emptied cache") {
    val root = Files.createTempDirectory("graft_corpus_setup")
    fixtures(root)
    clearCodegenCache()
    val n = compiles(build(root))
    info(s"one corpus set-up compiled $n classes from an emptied cache")
    assert(n <= 90, s"one corpus set-up compiled $n classes from an emptied cache")
  }

  test("one corpus op compiles at most 83 generated classes from an empty cache") {
    val (root, batches) = setUp("graft_corpus_ws")
    clearCodegenCache()
    val n = compiles(op(root, batches, 1))
    info(s"one corpus op compiled $n classes from an empty cache")
    assert(n <= 83, s"one corpus op compiled $n classes from an empty cache")
  }

  /** The probe's own predicate (`vec_id BETWEEN lo AND hi`) is compiled
    * into its assignment scan, so one source per batch is new; no
    * other source may carry a per-batch value.
    */
  test("a second corpus op compiles at most one source the first one did not") {
    val (root, batches) = setUp("graft_corpus_ws2")
    val first = compiledSources { clearCodegenCache(); op(root, batches, 1) }
    val second = compiledSources(op(root, batches, 2))
    val fresh = second.toSet -- first
    info(s"${first.size} compiles in the first op, ${second.size} in the second, " +
      s"${fresh.size} of them with a new source")
    assert(fresh.size <= 1, s"${fresh.size} classes of the second op have a new source:\n" +
      heads(fresh))
  }
}
