package graft.ops

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Physical-layout operators — the write-side half of scan pruning.
  *
  * At 100 TB the fastest scan is the one that never happens: a table
  * laid out so each file covers a DISJOINT key range (repartitionByRange)
  * with rows sorted inside each file (sortWithinPartitions) lets a
  * point or range predicate skip whole files and, within the one file
  * that matches, whole parquet row groups via min/max statistics. This
  * is the single-key special case of Z-ordering, and the layout pass a
  * corpus runs once so every later query prunes for free.
  */
object Layout {

  /** Rewrite `df` to `path` as `nFiles` range-partitioned files sorted
    * by `keyCol` within each file. One range shuffle — the same cost
    * class as any repartition — paid once at layout time.
    *
    * repartitionByRange samples the key distribution for boundaries,
    * so file SIZES are approximately balanced even under key skew;
    * boundaries are data-dependent, which is fine because consumers
    * rely only on the disjointness invariant, never on where the cuts
    * land.
    */
  def writeRangeSorted(df: DataFrame, path: String, nFiles: Int,
                       keyCol: String): Unit =
    df.repartitionByRange(nFiles, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  /** Rewrite a directory IN PLACE with the compaction durability
    * discipline: the new contents are fully written to a hidden temp
    * sibling (the `write` callback receives the temp path and may read
    * the still-untouched target), then swapped in with two metadata
    * renames (target → trash, temp → target) before the trash is
    * deleted — the original bytes exist on disk at every instant. A
    * crash between the two renames leaves the target absent with the
    * original intact in the trash sibling; the next [[rewriteInPlace]]
    * on the same path restores it before doing anything else. (An
    * eager checkpoint would NOT give this: checkpoint blocks live on
    * executors — lineage truncation is not durability, per
    * [[Compaction.compactPartitioned]]'s contract.)
    *
    * The trash sibling is RETAINED after the swap (the next rewrite on
    * the same path sweeps it) and a [[graft.io.Manifest]] version is
    * committed after completion: snapshot readers pinned to the
    * pre-rewrite manifest resolve the original files — live, then in
    * trash — at every instant of the rewrite.
    *
    * `commitManifest = false` skips the manifest version (the swap
    * discipline alone): for a MULTI-TABLE root like an ANN index
    * (centroids + assignments + members under one dir) a root-level
    * manifest cannot be committed — `Manifest.commit` reads the root
    * as one parquet table to type partition columns, and a
    * mixed-schema root has no such reading. The rename protocol and
    * [[restoreIfCrashed]] recovery are unchanged.
    */
  def rewriteInPlace(spark: SparkSession, path: String,
                     commitManifest: Boolean = true)
                    (write: String => Unit): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.graft-relayout-tmp")
    val trash = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.graft-relayout-old")
    restoreIfCrashed(spark, path)
    fs.delete(tmp, true); fs.delete(trash, true)
    write(tmp.toString)
    require(fs.rename(target, trash), s"rewriteInPlace: $target -> $trash failed")
    require(fs.rename(tmp, target), s"rewriteInPlace: $tmp -> $target failed")
    // the version history rode into the trash with the old root — move
    // it back over the fresh rewrite before committing the new version
    // (readers resolving inside this window fall back to the trash
    // copy, Manifest.versions' relayout-trash fallback)
    val oldMd = new org.apache.hadoop.fs.Path(trash, graft.io.Manifest.DirName)
    if (fs.exists(oldMd))
      require(fs.rename(oldMd,
        new org.apache.hadoop.fs.Path(target, graft.io.Manifest.DirName)),
        s"rewriteInPlace: manifest history restore failed for $target")
    if (commitManifest) graft.io.Manifest.commit(spark, path)
  }

  /** Restore a directory stranded by a crash between
    * [[rewriteInPlace]]'s two renames (target absent, original intact
    * in the trash sibling). EVERY code path that branches on the
    * target's existence must call this first — an existence check that
    * skips recovery would mistake the crashed state for "no table yet"
    * and a fresh write would then orphan (or a later rewriteInPlace
    * delete) the stranded original. Returns true if a restore
    * happened.
    */
  def restoreIfCrashed(spark: SparkSession, path: String): Boolean = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.graft-relayout-old")
    if (!fs.exists(target) && fs.exists(trash)) {
      require(fs.rename(trash, target),
        s"rewriteInPlace: crash recovery $trash -> $target failed")
      true
    } else false
  }

  /** `spark.read.parquet(path)` without the schema-inference job. Spark
    * writes each file's relation schema into its footer under
    * `ParquetReadSupport.SPARK_METADATA_KEY`, and inference (schema
    * merging off) returns exactly that schema from one file — but runs
    * a Spark job to read it. Here the driver reads one data file's
    * footer (the files Spark's file index would list: no `_`/`.` names
    * but `k=v` dirs) and reads with that schema; partition columns are
    * still discovered from the directory names. Without a data file
    * whose footer carries the key (an empty or missing dir, another
    * writer) this IS `spark.read.parquet`, schema or error. Assumes the
    * table's files share one schema, as every index table's do.
    */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    Try(fs.getFileStatus(new Path(path))).toOption
      .flatMap(dataFiles(fs, _).nextOption())
      .flatMap(f => Try(DataType.fromJson(ParquetFileReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY))).toOption)
      .collect { case schema: StructType => spark.read.schema(schema).parquet(path) }
      .getOrElse(spark.read.parquet(path))
  }

  /** The data files under `s` in name order, as Spark's file index
    * lists them: no `_`/`.` names but `k=v` dirs.
    */
  private def dataFiles(fs: FileSystem, s: FileStatus): Iterator[FileStatus] =
    if (s.isFile) Iterator(s)
    else fs.listStatus(s.getPath).filter { c =>
      val n = c.getPath.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }.sortBy(_.getPath.getName).iterator.flatMap(dataFiles(fs, _))

  /** The row count of the parquet table under `path`, summed from its
    * data files' footers (the files [[readTable]] would read): metadata
    * only, no Spark job. 0 for a missing dir.
    */
  private[ops] def footerRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    Try(fs.getFileStatus(new Path(path))).toOption.iterator.flatMap(dataFiles(fs, _))
      .map(f => ParquetFileReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.stream()
        .mapToLong(_.getRowCount).sum())
      .sum
  }

  /** `f` over `df`'s rows as its plan produces them, run as one SQL
    * execution of `df` (listed and reported to query-execution
    * listeners like any action) — for typed passes whose result is
    * reduced on the driver. The rows are the plan's internal rows: no
    * conversion to external rows, so no deserializer class is
    * generated for the pass, and a row's values must be read before
    * the iterator advances.
    */
  private[ops] def withRows[T](df: DataFrame)(f: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("withRows"))(f(qe.toRdd))
  }

  /** A bounded relation's rows on the driver, as its plan returns them
    * (copies of the internal rows; no deserializer class generated).
    */
  private[ops] def collectRows(df: DataFrame): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect()

  /** Deterministic seeded key for a reproducible global shuffle:
    * the 60-bit digest of `seed:id`. Changing the seed re-deals the
    * whole order; the same seed replays it bit-identically on any
    * cluster size or partitioning (the digest depends on values only).
    */
  def shuffleKey(seed: String, id: Column): Column =
    graft.functions.Parity.md5_60(concat_ws(":", lit(seed), id.cast("string")))

  /** Deterministic corpus shuffle — the write-side twin of
    * [[writeRangeSorted]], keyed by [[shuffleKey]] instead of a data
    * column: every training run needs a reproducible global document
    * order (shuffled data, fixed seed), and materializing it as
    * range-partitioned-by-key, sorted-within-file parquet gives
    * sequential readers the exact global order `ORDER BY shuffle_key`
    * states, with files holding disjoint key ranges (file N's rows all
    * precede file N+1's). One range exchange, same cost class as any
    * repartition, paid once per epoch order.
    *
    * The key column is kept in the output: consumers verify/resume by
    * it, and the oracle can state the order it induces.
    */
  def writeShuffled(df: DataFrame, path: String, nFiles: Int,
                    seed: String, idCol: String): Unit =
    df.withColumn("shuffle_key", shuffleKey(seed, col(idCol)))
      .repartitionByRange(nFiles, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      .write.mode("overwrite").parquet(path)

  /** Morton (Z-order) key: the low `bits` bits of `a` and `b`
    * interleaved (a on even positions, b on odd), so rows close in
    * BOTH dimensions get close keys. Built from shiftright /
    * bitwise-and / shiftleft sums only — codegen'd, and stated
    * identically in DuckDB SQL by [[zKeySql]] so the oracle computes
    * the same key. Callers must ensure both columns are NON-NEGATIVE
    * and fit in `bits` bits (`2*bits ≤ 62` keeps the key in a signed
    * long); higher bits are ignored, which only loosens clustering,
    * never correctness — both engines truncate identically.
    */
  def zKey(a: Column, b: Column, bits: Int): Column = {
    require(bits > 0 && 2 * bits <= 62, s"bits must be in [1,31], got $bits")
    (0 until bits).map { j =>
      shiftleft(shiftright(a.cast("long"), j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(b.cast("long"), j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)
  }

  /** DuckDB text of [[zKey]] — same interleave, same bit count. */
  def zKeySql(a: String, b: String, bits: Int): String =
    (0 until bits).map { j =>
      s"(((CAST($a AS BIGINT) >> $j) & 1) << ${2 * j}) + " +
        s"(((CAST($b AS BIGINT) >> $j) & 1) << ${2 * j + 1})"
    }.mkString(" + ")

  /** Z-ordered layout: the two-dimensional generalization of
    * [[writeRangeSorted]]. Range-partitioning + sorting by the Morton
    * key gives every file a DISJOINT zkey range, and because the key
    * interleaves both columns, a predicate on EITHER dimension — or a
    * box on both — maps to a small set of zkey intervals, so file and
    * row-group min/max statistics prune in two dimensions from one
    * layout pass. Same single-shuffle cost class as the range sort;
    * the zkey column is kept so consumers and the oracle can state
    * the induced order.
    */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
                    colA: String, colB: String, bits: Int,
                    assertFits: Boolean = false): Unit = {
    require(!df.columns.contains("zkey"),
      "input already has a 'zkey' column — rename it before Z-ordering")
    // zKey truncates bits ≥ `bits` silently: content-lossless, but the
    // 2-D box-pruning claim quietly degrades once the column domain
    // outgrows 2^bits. assertFits trades one extra 2-column aggregate
    // scan for a loud refusal — use it in tests and anywhere the
    // domain isn't known a priori; size `bits` from the domain
    // otherwise.
    if (assertFits) {
      // per-COLUMN null accounting, not a fused least/greatest: Spark's
      // least/greatest skip NULLs, so with one all-NULL column the
      // fused aggregate passes on the other column's range while every
      // zkey is still NULL (zKey of a NULL input) — the exact silent
      // degradation this guard exists to refuse. count(cast) also
      // catches PARTIAL nulls / non-castable values: any row whose
      // either column casts to NULL gets a NULL zkey and silently
      // falls out of the clustering.
      val r = df.agg(
        count(lit(1)).as("n"),
        count(col(colA).cast("long")).as("na"),
        count(col(colB).cast("long")).as("nb"),
        min(col(colA).cast("long")).as("mna"),
        min(col(colB).cast("long")).as("mnb"),
        max(col(colA).cast("long")).as("mxa"),
        max(col(colB).cast("long")).as("mxb"))
        .head()
      val n = r.getLong(0)
      // empty input: nothing can alias, nothing to refuse
      if (n > 0L) {
        require(r.getLong(1) == n && r.getLong(2) == n,
          s"writeZOrdered: $colA has ${n - r.getLong(1)} and $colB has " +
            s"${n - r.getLong(2)} NULL/non-castable values of $n rows — " +
            "those rows' zkeys would be NULL and silently fall out of " +
            "the 2-D clustering")
        val mn = math.min(r.getLong(3), r.getLong(4))
        val mx = math.max(r.getLong(5), r.getLong(6))
        // zKey requires NON-NEGATIVE inputs: a negative value's two's-
        // complement low bits alias a large positive key, the exact
        // silent degradation this guard exists to make loud
        require(mn >= 0,
          s"writeZOrdered: min($colA,$colB)=$mn is negative — " +
            "zKey truncation aliases negative values onto large keys")
        require(mx < (1L << bits),
          s"writeZOrdered: max($colA,$colB)=$mx needs more than " +
            s"$bits bits — keys would alias and 2-D clustering would " +
            "silently degrade")
      }
    }
    writeRangeSorted(df.withColumn("zkey", zKey(col(colA), col(colB), bits)),
      path, nFiles, keyCol = "zkey")
  }

  /** Per-file (min, max, rows) of `keyCol` under `path` — the
    * verification relation for the disjointness invariant (computed
    * distributed, grouped by input_file_name).
    */
  def fileRanges(spark: SparkSession, path: String,
                 keyCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("key_min"), max(col(keyCol)).as("key_max"),
        count(lit(1)).as("n_rows"))

  /** Persist [[fileRanges]] as a zone map — the file-skipping index
    * that lets a reader prune a table WITHOUT planning a scan over it.
    * Parquet footers already carry min/max, but at 100 TB "check every
    * footer" is itself a million-file listing + footer-fetch storm on
    * the driver; a zone map is one tiny table (a few dozen bytes per
    * data file) read in one request. Rewrite it whenever the layout
    * changes ([[writeRangeSorted]] / [[writeZOrdered]] / compaction) —
    * it is derived state, cheap to rebuild from one stats pass.
    */
  def writeZonemap(spark: SparkSession, tablePath: String, keyCol: String,
                   zonemapPath: String): Unit =
    fileRanges(spark, tablePath, keyCol)
      .coalesce(1).write.mode("overwrite").parquet(zonemapPath)

  /** Read only the rows of `tablePath` with `keyCol` in [lo, hi],
    * consulting the zone map FIRST so files whose [key_min, key_max]
    * misses the interval are never opened — the scan plans over the
    * matching file subset only. The residual filter still runs (zone
    * granularity is the file; row groups and pages prune via parquet
    * stats inside the surviving files), so the result is exactly the
    * plain filtered scan, byte for byte.
    *
    * The matching file list is collected on the driver — bounded by
    * the zone map's row count (= file count), the same list the scan
    * planner would otherwise hold in memory anyway; at a million files
    * it is a few tens of MB, and the zone-map filter cuts it to the
    * matching subset before collect for any selective interval.
    */
  def readPruned(spark: SparkSession, tablePath: String,
                 zonemapPath: String, keyCol: String,
                 lo: Column, hi: Column): DataFrame = {
    val files = spark.read.parquet(zonemapPath)
      .filter(col("key_min") <= hi && col("key_max") >= lo)
      .select("file")
      .collect().map(_.getString(0))
    val residual = col(keyCol) >= lo && col(keyCol) <= hi
    if (files.isEmpty)
      // schema from the footer of one file; no data read
      spark.read.parquet(tablePath).filter(residual).limit(0)
    else
      spark.read.parquet(files.toIndexedSeq: _*).filter(residual)
  }
}
