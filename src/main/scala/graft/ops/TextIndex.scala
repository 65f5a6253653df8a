package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional inverted index — the serving shape of "find
  * every document containing these tokens / this phrase" over a
  * standing corpus. At 100 TB the alternative is a full corpus scan
  * with a LIKE per query; the index pays one tokenize+explode at build
  * time and every later search reads ONLY the probed tokens' posting
  * rows:
  *
  *   - `postings` — (token: string, doc_id, pos) one row per token
  *     OCCURRENCE, positions 1-based, laid out range-sorted by token
  *     ([[Layout.writeRangeSorted]]): files hold disjoint token
  *     ranges, so a probe's `token IN (...)` predicate prunes whole
  *     files and row groups by min/max stats and the scan is
  *     posting-list-sized, never corpus-sized.
  *
  * Tokenization is the repo's canonical unit —
  * [[TextOps.normalized]] (lower + trim) then [[TextOps.tokens]]
  * (whitespace split) — so search semantics match the text family's
  * other operators and the DuckDB oracles exactly.
  *
  * Search never touches corpus text: AND-search is a distinct-count
  * over the probed posting lists; phrase search joins each phrase
  * token's postings on the anchored start position (doc_id,
  * pos − offset) — per-token work is that token's posting list, and
  * the joins are equi-joins AQE can split if one token is hot.
  */
object TextIndex {

  /** Tokenize the corpus and lay the postings out range-sorted by
    * token (overwrite). Empty tokens (from repeated separators) are
    * dropped; positions are 1-based so the DuckDB twin
    * (generate_subscripts) states identical values.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
            dir: String, nFiles: Int = 32): Unit = {
    val postings = corpus
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(TextOps.normalized(col(textCol)))))
      .filter(length(col("col")) > 0)
      .select(col("col").as("token"), col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"))
    Layout.writeRangeSorted(postings, dir, nFiles, keyCol = "token")
  }

  /** Documents containing ALL of `tokens` (conjunctive membership):
    * one pruned scan of the probed posting lists, distinct (token,
    * doc) pairs, then a doc-level count filter. Output: doc_id.
    */
  def searchAll(spark: SparkSession, dir: String,
                tokens: Seq[String]): DataFrame = {
    require(tokens.nonEmpty, "searchAll: at least one probe token")
    rollForwardCommitted(spark, dir)
    val toks = tokens.map(_.toLowerCase.trim).distinct
    spark.read.parquet(dir)
      .filter(col("token").isInCollection(toks))
      .select("token", "doc_id").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") === toks.size)
      .select("doc_id")
  }

  /** Documents containing the exact consecutive token sequence
    * `phrase`: each phrase position's postings are anchored to the
    * would-be phrase START (pos − offset) and the anchors equi-joined —
    * a doc matches iff some start position survives every join.
    * Repeated tokens in the phrase fall out naturally (the same
    * posting list joins at two offsets). Output: doc_id.
    */
  def searchPhrase(spark: SparkSession, dir: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "searchPhrase: at least one token")
    rollForwardCommitted(spark, dir)
    val toks = phrase.map(_.toLowerCase.trim)
    val idx = spark.read.parquet(dir)
      .filter(col("token").isInCollection(toks.distinct))
    toks.zipWithIndex.map { case (t, i) =>
      idx.filter(col("token") === t)
        .select(col("doc_id"), (col("pos") - i).as("__start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "__start")))
      .select("doc_id").distinct()
  }

  /** Append a new batch of documents' postings WITHOUT a rebuild — the
    * daily-ingest path (the [[DedupIndex.append]] /
    * [[AnnIndex.append]] incremental-state-beats-recompute contract
    * for the search side; without it every day of new documents
    * forces a full corpus re-tokenize + rewrite):
    *
    *  - the batch is tokenized with EXACTLY the build-time unit, so an
    *    appended document searches identically to a rebuilt one;
    *  - appended files are each internally token-sorted but overlap
    *    the original range partitioning — probe pruning degrades from
    *    file-disjoint to per-file min/max until the next [[build]] or
    *    [[relayout]] (the established degrade-then-re-layout
    *    contract);
    *  - RETRY: a doc_id already present in the index is refused
    *    unless the WHOLE batch is present (then the append is an
    *    idempotent no-op retry) — a partial overlap is neither a
    *    fresh batch nor a retry, and appending it would double-count
    *    postings in every later search. The membership probe is a
    *    column-pruned scan of doc_id semi-joined to the (bounded)
    *    batch id set.
    *  - CRASH SAFETY: the batch's postings are fully staged to a
    *    hidden temp sibling, a txn marker naming the staged files is
    *    committed (write-then-rename — the commit point), and only
    *    then are the files renamed into the index one by one. A crash
    *    before the marker discards the stage (index byte-identical, a
    *    retry is a fresh batch — the discard is WRITER-only,
    *    [[recoverAppend]]); after it, every entry point — searches
    *    included, via the reader-safe [[rollForwardCommitted]] —
    *    rolls the remaining renames forward. The earlier design
    *    (`mode("append")` +
    *    inferring a retry from doc_id presence) had a silent hole: a
    *    crash that left PARTIAL task output visible, with every batch
    *    doc holding at least one posting row, read as a completed
    *    retry and the index stayed missing postings forever.
    */
  def append(batch: DataFrame, idCol: String, textCol: String,
             dir: String): Unit = {
    val spark = batch.sparkSession
    Layout.restoreIfCrashed(spark, dir)
    recoverAppend(spark, dir)
    val ids = batch.select(col(idCol).cast("long").as("doc_id"))
      .distinct().localCheckpoint(true)
    val nBatch = ids.count()
    // membership probe shaped for an index-sized table: the postings
    // scan reads ONE column and is filtered map-side by the
    // (bounded-broadcast) batch id set BEFORE any exchange — the
    // distinct that remains shuffles at most the batch's own ids, not
    // the index (a global distinct over all postings would be an
    // index-wide shuffle on every daily append)
    val nPresent = spark.read.parquet(dir).select("doc_id")
      .join(Dedup.boundedBroadcast(ids), Seq("doc_id"), "left_semi")
      .distinct().count()
    if (nPresent == nBatch && nBatch > 0) return // completed retry
    require(nPresent == 0,
      s"TextIndex.append: $nPresent of $nBatch batch doc_ids are already " +
        "indexed — a mix of new and indexed docs is neither a fresh batch " +
        "nor a retry; split the batch or rebuild the index")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = appendTmp(root)
    fs.delete(tmp, true)
    batch
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(TextOps.normalized(col(textCol)))))
      .filter(length(col("col")) > 0)
      .select(col("col").as("token"), col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"))
      .sortWithinPartitions("token")
      .write.mode("overwrite").parquet(tmp.toString)
    // part-file names carry a per-job UUID, so staged names cannot
    // collide with files already in the index
    val staged = fs.listStatus(tmp)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    // commit point: the marker names every staged data file
    val txn = appendTxn(root)
    val txnTmp = new org.apache.hadoop.fs.Path(txn.toString + ".tmp")
    val out = fs.create(txnTmp, true)
    try out.write(staged.mkString("\n").getBytes("UTF-8")) finally out.close()
    require(fs.rename(txnTmp, txn),
      s"TextIndex.append: txn marker commit $txnTmp -> $txn failed")
    staged.foreach { n =>
      val d = new org.apache.hadoop.fs.Path(root, n)
      // tolerant of a READER having rolled this committed marker
      // forward concurrently ([[rollForwardCommitted]]): a rename
      // that fails because the file already landed is success
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp, n), d))
        require(fs.exists(d),
          s"TextIndex.append: staged file $n failed to land in $dir")
    }
    fs.delete(txn, false) // best-effort: a racing reader may have won
    fs.delete(tmp, true)
  }

  private def appendTmp(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root.getParent,
      s".${root.getName}.graft-append-tmp")
  private def appendTxn(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root.getParent,
      s".${root.getName}.graft-append-txn")

  /** Reader-side recovery: roll a COMMITTED append forward — every
    * staged file the marker names still sitting in the temp sibling is
    * renamed in (files already landed are left alone; rename is
    * atomic, a name is in exactly one place). This is all a READER is
    * allowed to do. A markerless stage is left untouched: it is
    * invisible to reads anyway, and — the hole this split closes — a
    * reader cannot distinguish a crashed pre-commit stage from a LIVE
    * append that has not reached its commit point yet, so a reader
    * deleting it could yank the stage out from under the writer (or,
    * on a non-atomic store, race the writer's own listStatus into
    * committing a partial file list). Markerless-stage cleanup is
    * reserved for the write entry points ([[recoverAppend]]), which
    * hold the single-writer role.
    *
    * Tolerant of racing the writer's (or another reader's) own
    * roll-forward of the same commit: a rename that fails because the
    * file already landed is success, and the marker delete is
    * best-effort. Returns true if any state was repaired.
    */
  def rollForwardCommitted(spark: SparkSession, dir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = appendTmp(root); val txn = appendTxn(root)
    if (!fs.exists(txn)) return false
    val in = fs.open(txn)
    val names = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toVector finally in.close()
    names.foreach { n =>
      val s = new org.apache.hadoop.fs.Path(tmp, n)
      val d = new org.apache.hadoop.fs.Path(root, n)
      if (fs.exists(s) && !fs.rename(s, d))
        require(fs.exists(d),
          s"TextIndex.rollForwardCommitted: roll-forward of $n failed")
    }
    fs.delete(txn, false) // best-effort: a racing recoverer may have won
    true
  }

  /** WRITER-side recovery preamble for [[append]]'s staged-rename
    * protocol — run by the entry points that hold the single-writer
    * role (append, relayout): first land any committed-but-unfinished
    * append ([[rollForwardCommitted]]), then discard a stage without
    * a marker — under the single-writer contract a markerless stage
    * here can only be a pre-commit crash (no other append can be
    * live), so deleting it leaves the index byte-identical and a
    * retry is a fresh batch. Returns true if any state was repaired.
    */
  def recoverAppend(spark: SparkSession, dir: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = appendTmp(root)
    if (rollForwardCommitted(spark, dir)) {
      fs.delete(tmp, true)
      true
    } else if (fs.exists(tmp)) {
      fs.delete(tmp, true) // pre-commit crash: discard, index untouched
      true
    } else false
  }

  /** Restore the range-disjoint token layout after a run of
    * [[append]]s — the periodic maintenance the append contract
    * defers to. Staged + swapped ([[Layout.rewriteInPlace]]); search
    * results are unchanged by construction (same rows, better files).
    */
  def relayout(spark: SparkSession, dir: String, nFiles: Int = 32): Unit = {
    Layout.restoreIfCrashed(spark, dir)
    // land any committed-but-unfinished append BEFORE the rewrite: a
    // marker left pointing at staged files across a relayout would
    // re-land stale postings over the fresh layout later
    recoverAppend(spark, dir)
    Layout.rewriteInPlace(spark, dir) { tmp =>
      Layout.writeRangeSorted(spark.read.parquet(dir), tmp, nFiles,
        keyCol = "token")
    }
  }

  /** One built index per (application, cache key) — the
    * [[AnnIndex.ensureBuilt]] memoization: registry rows pay the
    * tokenize+layout once and probe thereafter.
    */
  def ensureBuilt(spark: SparkSession, cacheKey: String,
                  corpus: => DataFrame, idCol: String,
                  textCol: String): String =
    graft.io.TempScope.perApp(spark, cacheKey, "text_index") { dir =>
      build(corpus, idCol, textCol, dir)
    }

  /** [[ensureBuilt]] for the build → daily-append → relayout
    * lifecycle: the memoized state is an index BUILT on `base` with
    * `batch` [[append]]ed and the layout restored — the registry's
    * text_search_incremental row probes it.
    */
  def ensureBuiltAppended(spark: SparkSession, cacheKey: String,
                          base: => DataFrame, batch: => DataFrame,
                          idCol: String, textCol: String): String =
    graft.io.TempScope.perApp(spark, cacheKey, "text_index_app") { dir =>
      build(base, idCol, textCol, dir)
      append(batch, idCol, textCol, dir)
      relayout(spark, dir)
    }
}
