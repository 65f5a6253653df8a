package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.Layout

/** Range-sorted layout: disjoint per-file key ranges, and a selective
  * predicate actually reads rows from one file only.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("writeRangeSorted yields disjoint per-file ranges and prunes reads") {
    val out = Files.createTempDirectory("layout_range").toString
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      // scramble the input so the range shuffle has real work to do
      .repartition(7)
    Layout.writeRangeSorted(df, out, nFiles = 8, keyCol = "k")

    val ranges = Layout.fileRanges(spark, out, "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ranges.length == 8)
    assert(ranges.map(_._4).sum == 10000)
    // disjointness: sorted by min, each file's max < the next file's min
    val sorted = ranges.sortBy(_._2)
    sorted.sliding(2).foreach {
      case Array((_, _, maxA, _), (_, minB, _, _)) =>
        assert(maxA < minB, s"overlapping file ranges: $maxA >= $minB")
      case _ =>
    }
    // a point lookup touches exactly ONE file's rows; a short range at
    // most two (a sampled boundary may fall inside it)
    val point = spark.read.parquet(out).filter($"k" === 4000)
      .select(input_file_name()).distinct().count()
    assert(point == 1L, s"expected 1 file to serve the point lookup, got $point")
    val short = spark.read.parquet(out)
      .filter($"k" >= 4000 && $"k" <= 4050)
      .select(input_file_name()).distinct().count()
    assert(short <= 2L, s"expected <=2 files to serve a 50-key range, got $short")
    // and the rewrite is content-lossless
    assert(spark.read.parquet(out).select("k").as[Long].collect().sorted.toSeq
      == (1L to 10000L))
  }

  test("writeZOrdered: Morton interleave, disjoint zkey files, 2-D box locality") {
    // known-value interleave: a=5 (101₂) on even bits, b=3 (011₂) on
    // odd bits → 11011₂ = 27
    assert(Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zKey(col("a"), col("b"), bits = 3)).head.getLong(0) == 27L)

    val df = (for { a <- 0 until 100; b <- 0 until 100 } yield (a, b, a * 100 + b))
      .toDF("a", "b", "id").repartition(7)
    val out = Files.createTempDirectory("layout_z").toString
    Layout.writeZOrdered(df, out, nFiles = 8, colA = "a", colB = "b", bits = 7,
      assertFits = true)

    // lossless
    assert(spark.read.parquet(out).select("id").distinct().count() == 10000)
    // disjoint per-file zkey ranges (same invariant as the range sort)
    val ranges = Layout.fileRanges(spark, out, "zkey")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ranges.length == 8 && ranges.map(_._3).sum == 10000)
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, maxA, _), (minB, _, _)) =>
        assert(maxA < minB, s"overlapping zkey ranges: $maxA >= $minB")
      case _ =>
    }
    // 2-D locality: a z-aligned 8×8 box is ONE contiguous zkey run of
    // 64 values, so its 64 rows live in at most two files — a layout
    // sorted on `a` alone would leave the `b` constraint unpruned
    val boxFiles = spark.read.parquet(out)
      .filter($"a" >= 40 && $"a" <= 47 && $"b" >= 40 && $"b" <= 47)
      .select(input_file_name()).distinct().count()
    assert(boxFiles <= 2L, s"expected <=2 files for an aligned 8x8 box, got $boxFiles")

    // key must stay in a signed long
    intercept[IllegalArgumentException](Layout.zKey(col("a"), col("b"), bits = 32))

    // a domain outgrowing 2^bits aliases keys: assertFits refuses
    // loudly instead of letting the 2-D clustering claim silently rot
    val big = Seq((200000L, 1L, 1)).toDF("a", "b", "id")
    val out2 = Files.createTempDirectory("layout_z_overflow").toString
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      big, out2, nFiles = 1, colA = "a", colB = "b", bits = 16,
      assertFits = true))
    // negative values alias onto large keys via two's-complement low
    // bits even when max fits — also refused
    val neg = Seq((-1L, 1L, 1)).toDF("a", "b", "id")
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      neg, Files.createTempDirectory("layout_z_neg").toString,
      nFiles = 1, colA = "a", colB = "b", bits = 16, assertFits = true))
    // an empty input has nothing to alias: the guard passes through
    val empty = Seq.empty[(Long, Long, Int)].toDF("a", "b", "id")
    Layout.writeZOrdered(empty,
      Files.createTempDirectory("layout_z_empty").toString,
      nFiles = 1, colA = "a", colB = "b", bits = 16, assertFits = true)
    // non-numeric (or all-NULL) columns on a NON-empty input would make
    // every zkey NULL — refused, not mistaken for the empty case
    val strings = Seq(("x", "y", 1)).toDF("a", "b", "id")
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      strings, Files.createTempDirectory("layout_z_null").toString,
      nFiles = 1, colA = "a", colB = "b", bits = 16, assertFits = true))
    // ONE all-NULL column with the other in range: least/greatest skip
    // NULLs, so a fused aggregate would pass on the healthy column's
    // range while every zkey is still NULL — the per-column guard
    // refuses it
    val oneNull = Seq((1L, 1), (2L, 2)).toDF("a", "id")
      .withColumn("b", lit(null).cast("long"))
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      oneNull, Files.createTempDirectory("layout_z_onenull").toString,
      nFiles = 1, colA = "a", colB = "b", bits = 16, assertFits = true))
    // PARTIAL nulls: those rows' zkeys would be NULL and silently fall
    // out of the clustering — refused, not averaged away
    val partial = Seq((Some(1L), Some(2L), 1), (Some(3L), None, 2))
      .toDF("a", "b", "id")
    intercept[IllegalArgumentException](Layout.writeZOrdered(
      partial, Files.createTempDirectory("layout_z_partial").toString,
      nFiles = 1, colA = "a", colB = "b", bits = 16, assertFits = true))
  }

  test("writeShuffled: reproducible global order, disjoint files, seed re-deals") {
    val df = (1L to 5000L).map(i => (i, s"doc_$i")).toDF("id", "payload")
      .repartition(7)
    def ordered(out: String): Seq[Long] =
      spark.read.parquet(out).orderBy("shuffle_key", "id")
        .select("id").as[Long].collect().toSeq
    val out1 = Files.createTempDirectory("shuffle1").toString
    val out2 = Files.createTempDirectory("shuffle2").toString
    val out3 = Files.createTempDirectory("shuffle3").toString
    Layout.writeShuffled(df, out1, nFiles = 8, seed = "epoch-0", idCol = "id")
    // a differently-partitioned input, same seed → the SAME global order
    Layout.writeShuffled(df.repartition(3), out2, nFiles = 8, seed = "epoch-0", idCol = "id")
    Layout.writeShuffled(df, out3, nFiles = 8, seed = "epoch-1", idCol = "id")
    val o1 = ordered(out1)
    assert(o1 == ordered(out2), "same seed must replay the identical order")
    assert(o1 != ordered(out3), "a new seed must re-deal the order")
    assert(o1.sorted == (1L to 5000L), "the shuffle is a permutation, lossless")
    assert(o1 != (1L to 5000L), "and it actually shuffles")
    // files hold DISJOINT shuffle-key ranges: sequential file reads see
    // the global order
    val ranges = Layout.fileRanges(spark, out1, "shuffle_key")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ranges.length == 8 && ranges.map(_._3).sum == 5000)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, maxA, _), (minB, _, _)) =>
        assert(maxA < minB, s"overlapping shuffle-key ranges: $maxA >= $minB")
      case _ =>
    }
  }

  test("zonemap-pruned read equals the plain scan and plans only matching files") {
    val data = Files.createTempDirectory("zm_data").toString
    val zm = Files.createTempDirectory("zm_idx").toString
    val df = (1 to 10000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(5)
    Layout.writeRangeSorted(df, data, nFiles = 8, keyCol = "k")
    Layout.writeZonemap(spark, data, "k", zm)

    val pruned = Layout.readPruned(spark, data, zm, "k", lit(4000L), lit(4050L))
    // content identical to the plain filtered scan
    val expect = spark.read.parquet(data)
      .filter($"k" >= 4000 && $"k" <= 4050)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pruned.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expect)
    assert(expect.size == 51)
    // the PLAN holds only the matching files — the pruning happened
    // before the scan, not inside it (a sampled range boundary may put
    // the 50-key interval across two files, never more)
    val planned = pruned.inputFiles.length
    assert(planned <= 2, s"expected <=2 planned files, got $planned")
    assert(spark.read.parquet(data).inputFiles.length == 8)

    // an interval past the key domain prunes everything: empty result,
    // schema intact, nothing planned
    val none = Layout.readPruned(spark, data, zm, "k", lit(20000L), lit(30000L))
    assert(none.count() == 0)
    assert(none.columns.toSeq == spark.read.parquet(data).columns.toSeq)
  }

  test("readTable: the footer schema equals spark.read.parquet's for every index table") {
    def parity(dir: String, tables: Seq[String]): Unit = tables.foreach { t =>
      val p = s"$dir/$t"
      assert(Layout.readTable(spark, p).schema == spark.read.parquet(p).schema,
        s"$t: ${Layout.readTable(spark, p).schema.treeString} vs " +
          spark.read.parquet(p).schema.treeString)
      assert(Layout.readTable(spark, p).count() == spark.read.parquet(p).count(), t)
    }
    val dedupTables = Seq("fps", "grams", "hot", "sigs", "bloom")
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "lorem ipsum dolor sit amet consectetur adipiscing",
      "the quick brown fox jumps over the lazy cat")
    // INT and BIGINT doc ids: the id type must come back as written
    for ((ids, tag) <- Seq(texts.indices.map(i => (i + 1, texts(i))).toDF("doc_id", "text") -> "int",
        texts.indices.map(i => (i + 1L, texts(i))).toDF("doc_id", "text") -> "bigint")) {
      val dir = Files.createTempDirectory(s"layout_read_dedup_$tag").toString
      graft.ops.DedupIndex.build(ids, "doc_id", "text", 3, dir, nFiles = 2)
      parity(dir, dedupTables)
    }
    val emb = (0L until 40L).map(i => (i, Array.tabulate(8)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val ann = Files.createTempDirectory("layout_read_ann").toString
    graft.ops.AnnIndex.build(emb, "vec_id", "embedding", nCentroids = 4, dir = ann)
    graft.ops.AnnIndex.buildPq(spark, ann, m = 2, ksub = 16, dims = 8)
    // members and codes carry the inferred `bucket` partition column
    parity(ann, Seq("assignments", "centroids", "members", "codes", "pqseed"))
    assert(Layout.readTable(spark, s"$ann/members").columns.last == "bucket")
  }

  test("readTable: a dir without a data file behaves exactly as spark.read.parquet") {
    val empty = Files.createTempDirectory("layout_read_empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val missing = empty.resolve("absent").toString
    for (p <- Seq(empty.toString, missing)) {
      val plain = intercept[Exception](spark.read.parquet(p))
      val footer = intercept[Exception](Layout.readTable(spark, p))
      assert(footer.getClass == plain.getClass && footer.getMessage == plain.getMessage,
        s"$p: ${footer.getMessage} vs ${plain.getMessage}")
    }
  }
}
