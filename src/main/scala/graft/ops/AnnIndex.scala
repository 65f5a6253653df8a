package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index — the production serving shape of
  * [[Similarity.ivfTopK]]: centroid training and bucket assignment are
  * paid ONCE at build time, written to storage, and every later probe
  * touches only its probed buckets. At 100 TB this is the difference
  * between "each ANN query re-clusters the corpus" and "each ANN query
  * reads a few bucket partitions":
  *
  *   - `assignments/` — (vec_id, bucket), laid out range-sorted by
  *     vec_id ([[Layout.writeRangeSorted]]) so a probe-id predicate
  *     file-prunes instead of scanning every assignment;
  *   - `members/` — (vec_id, v, nrm) PARTITIONED BY bucket, so the
  *     candidate fetch is directory-level partition pruning (the
  *     probed-bucket set — bounded by the centroid count — becomes a
  *     static IN filter on the partition column at plan time);
  *   - `centroids/` — (cid, cv, cnrm), the trained model
  *     ([[Similarity.trainedCentroids]]: seed + quantized Lloyd
  *     steps, bit-reproducible), broadcast-sized by construction —
  *     ranks each probe's nprobe nearest buckets and buckets
  *     out-of-corpus queries and appended batches.
  *
  * Probe results are byte-identical to [[Similarity.ivfTopK]] on the
  * same corpus/params — same deterministic trained model, same
  * multi-probe expansion, same sequential-fold cosine — so the two
  * share one DuckDB oracle.
  */
object AnnIndex {

  /** Train + assign + lay out the index under `dir`: the centroid
    * model is the deterministic seed refined by `trainSteps`
    * quantized Lloyd steps ([[Similarity.trainedCentroids]] — exact
    * BIGINT sums, so the trained model is bit-reproducible; training
    * balances bucket population, which is what keeps the bucket
    * partitions hotspot-free at scale), then one corpus scan for
    * assignment, one range shuffle + one partitioned write.
    * trainedCentroids refuses a corpus smaller than nCentroids (an
    * index with more centroids than vectors is a config error).
    */
  def build(emb: DataFrame, idCol: String, vecCol: String,
            nCentroids: Int, dir: String, trainSteps: Int = 2): Unit = {
    require(nCentroids > 0, s"nCentroids must be positive, got $nCentroids")
    val spark = emb.sparkSession
    val all = Similarity.prepared(emb, idCol, vecCol)
    Similarity.trainedCentroids(emb, idCol, vecCol, nCentroids, trainSteps)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    // assign against the STORED model (parquet round-trips doubles
    // exactly), so the written assignments, a later append's
    // assignments, and a probe's bucket ranking all read the one
    // committed centroid relation. The corpus-by-centroid assignment
    // aggregate is the dominant build cost — materialize it ONCE (the
    // assignments write) and derive the members layout from the
    // written relation, so the two outputs are also guaranteed
    // consistent with each other
    val asg = Similarity.assignTo(all.select("vec_id", "v"),
      spark.read.parquet(s"$dir/centroids"))
    Layout.writeRangeSorted(asg, s"$dir/assignments", nFiles = 8, keyCol = "vec_id")
    spark.read.parquet(s"$dir/assignments").join(all, "vec_id")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/members")
  }

  /** Append a batch of NEW vectors to an existing index WITHOUT a
    * rebuild — the daily-ingest path ([[DedupIndex.append]]'s
    * incremental-state-beats-recompute contract for the vector side;
    * without it every day of new embeddings forces a full corpus
    * re-cluster + rewrite):
    *
    *  - the batch is assigned against the STORED `centroids/` (the
    *    trained model — broadcast-sized by construction, the corpus is
    *    never re-read), with the exact [[Similarity.ivfAssign]]
    *    arithmetic, so an appended vector lands in the same bucket a
    *    rebuild would give it;
    *  - `assignments/` gains the batch's rows (each appended file
    *    internally vec_id-sorted; file pruning degrades from
    *    range-disjoint to per-file min/max until the next [[build]] —
    *    the established degrade-then-re-layout contract);
    *  - `members/` gains rows in EXACTLY the bucket partitions the
    *    batch lands in (a partitionBy append touches only those
    *    directories — pinned in OpsSpec), so probe-side dynamic
    *    partition pruning keeps working unchanged.
    */
  def append(batch: DataFrame, idCol: String, vecCol: String,
             dir: String): Unit = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cs = graft.functions.GraftFunctions.cosineSim _
    // mode-append writes would silently recreate directories a crashed
    // rebalance/relayout left stranded in trash siblings — repair the
    // root and both sub-tables before touching them
    recoverAll(spark, dir)
    val all = Similarity.prepared(batch, idCol, vecCol).localCheckpoint(true)
    // duplicate ids within the batch would collapse to one row in the
    // assignment aggregate but fan back out in the asg.join(all)
    // members write — duplicate member rows (a probe returns one
    // neighbor at several ranks, exactly what the retry state machine
    // below exists to prevent) and skewed nPrior/nBatch retry counts.
    // Same countDistinct discipline as build's centroid seeding.
    val nAll = all.count()
    require(all.agg(countDistinct(col("vec_id"))).head().getLong(0) == nAll,
      "append: batch contains duplicate vec_ids — dedupe the batch " +
        "before indexing (duplicate member rows would corrupt probe ranks)")
    // RETRY state machine. A crashed-and-rerun ingest job must neither
    // duplicate rows (probe would return one neighbor at several
    // ranks) nor strand vectors half-indexed. The two writes commit in
    // a fixed order (assignments, then members), each atomically at
    // job level, so the index can be in exactly three states w.r.t.
    // this batch's ids:
    //   - none present        → fresh append (the normal path);
    //   - in both             → the previous attempt COMPLETED: this
    //     is an idempotent no-op retry, return success;
    //   - in assignments only → the previous attempt died between the
    //     writes: RESUME by writing only the members rows, using the
    //     already-committed assignments;
    //   - anything partial    → not a state this protocol produces —
    //     refuse loudly rather than guess.
    val priorAsg = spark.read.parquet(s"$dir/assignments")
      .join(all.select("vec_id"), "vec_id").localCheckpoint(true)
    val nPrior = priorAsg.count()
    if (nPrior > 0) {
      val nBatch = nAll
      require(nPrior == nBatch,
        s"append: $nPrior of $nBatch batch vec_ids are already assigned — " +
          "a mix of new and indexed ids is neither a fresh batch nor a " +
          "retry; split the batch or rebuild the index")
      val buckets = priorAsg.select("bucket").distinct()
        .collect().map(_.getLong(0))
      // membership check pruned to the batch's own buckets — never a
      // full members scan
      val nInMembers = spark.read.parquet(s"$dir/members")
        .withColumn("bucket", col("bucket").cast("long"))
        .filter(col("bucket").isin(buckets.toIndexedSeq: _*))
        .select("vec_id")
        .join(all.select("vec_id"), "vec_id").count()
      if (nInMembers == nBatch) return // completed earlier — idempotent
      require(nInMembers == 0,
        s"append: batch is half-present in members/ ($nInMembers of " +
          s"$nBatch) — not a crash state this protocol produces; " +
          "rebuild the index")
      priorAsg.join(all, "vec_id").select("vec_id", "v", "nrm", "bucket")
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/members")
      return
    }
    val cent = spark.read.parquet(s"$dir/centroids").select("cid", "cv")
    // the exact build-time assignment aggregate against the stored
    // trained model — an appended vector lands in the same bucket a
    // rebuild-with-these-centroids would give it.
    // one materialization feeds both writes: the assignment aggregate
    // must not replan per sink, and the members write must never read
    // assignments/ files mid-append
    val asg = Similarity.assignTo(all.select("vec_id", "v"), cent)
      .localCheckpoint(true)
    asg.sortWithinPartitions("vec_id")
      .write.mode("append").parquet(s"$dir/assignments")
    asg.join(all, "vec_id").select("vec_id", "v", "nrm", "bucket")
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/members")
  }

  /** The full crash-recovery preamble every index entry point runs
    * before reading: restore a ROOT swap stranded by a crashed
    * [[maybeRebalance]] (index dir absent, old index intact in the
    * trash sibling), then a crashed assignments relayout, then any
    * members partitions stranded by a crashed compaction. Order
    * matters — the sub-table recoveries can only see their siblings
    * once the root itself is back in place.
    */
  private def recoverAll(spark: SparkSession, dir: String): Unit = {
    Layout.restoreIfCrashed(spark, dir)
    Layout.restoreIfCrashed(spark, s"$dir/assignments")
    Compaction.repairPartitioned(spark, s"$dir/members")
  }

  /** Occupancy-health check over the PERSISTED assignments — reads
    * ONLY the index: one map-side-combined aggregate over the
    * (vec_id, bucket) rows, with the collect bounded by the bucket
    * count (nlist), never the corpus. The statistic feeding the
    * [[maybeRebalance]] rule; see [[Similarity.bucketSpread]].
    */
  def bucketSpreadOf(spark: SparkSession, dir: String): (Int, Long, Long, Double) = {
    recoverAll(spark, dir)
    Similarity.bucketSpread(spark.read.parquet(s"$dir/assignments"))
  }

  /** The SCALING.md ANN-skew sizing rule as an index maintenance
    * operation: measure bucket-occupancy spread
    * ([[bucketSpreadOf]]); past [[Similarity.MaxBucketSpread]] (8×
    * max/median — the point where the hottest bucket dominates probe
    * latency and relayout tasks), REBUILD the index from its own
    * members: retrain with `trainSteps` Lloyd refinements and
    * nCentroids re-sized by [[Similarity.nlistFor]] (√n) so occupancy
    * bounds hold as the corpus grows through [[append]]s. The corpus
    * is never rescanned — the members relation IS the vector store —
    * and the members are materialized (localCheckpoint) before the
    * overwrite so the rebuild holds no lineage on the directories it
    * replaces. A healthy index is untouched (None). Returns
    * (before, after) spread tuples when a rebuild ran.
    *
    * Scale note: a rebuild is the heavy offline path by design (one
    * train + one full re-home + one partitioned rewrite — the same
    * cost as [[build]]); the rule exists so that cost is paid when
    * MEASUREMENT says the layout degraded, not on a timer and not
    * never.
    *
    * Crash-atomicity (VERDICT r13 #1): the rebuild is STAGED — the
    * new centroids/assignments/members are fully written to a hidden
    * temp sibling, with [[build]] reading the still-untouched live
    * `members/` durably (never a localCheckpoint of the directory
    * being replaced: checkpoint blocks live on executors only, and an
    * executor loss while the durable origin was being deleted would
    * lose the only copy of the vector store) — then swapped in with
    * two metadata renames ([[Layout.rewriteInPlace]]). A crash at any
    * instant leaves either the old index fully intact (pre-swap, or
    * restored from the trash sibling by the [[recoverAll]] preamble
    * every entry point runs) or the new index complete — never the
    * new-model/old-buckets mix whose probes silently mis-rank. The PQ
    * sidecar (codes/pqseed/_pq_meta) rides into the trash with the
    * old root — intentional: the codes encode the OLD bucket layout,
    * a stale sidecar would mis-rank [[probePq]] silently, and
    * [[ensurePq]] re-encodes on next use.
    *
    * `nlistOverride` pins the rebuilt centroid count (the registry's
    * oracle-checked lifecycle row states a fixed-nlist model); the
    * default re-sizes by the √n rule as the corpus grows.
    */
  def maybeRebalance(spark: SparkSession, dir: String,
                     trainSteps: Int = 2,
                     nlistOverride: Option[Int] = None)
      : Option[((Int, Long, Long, Double), (Int, Long, Long, Double))] = {
    // ADVICE r13: the recovery preamble must run BEFORE the members
    // read — a members partition stranded by a crashed compaction or
    // relayout reads back silently incomplete, and a rebuild from that
    // incomplete set would bake permanent vector loss into the new
    // index. (bucketSpreadOf runs recoverAll.)
    val before = bucketSpreadOf(spark, dir)
    if (!Similarity.needsRebalance(before._4)) None
    else {
      val n = spark.read.parquet(s"$dir/members").count()
      val nlist = nlistOverride.getOrElse(Similarity.nlistFor(n))
      Layout.rewriteInPlace(spark, dir, commitManifest = false) { tmp =>
        build(spark.read.parquet(s"$dir/members").select("vec_id", "v"),
          "vec_id", "v", nlist, tmp, trainSteps)
      }
      Some((before, bucketSpreadOf(spark, dir)))
    }
  }

  /** Restore the index's layout invariants after a run of [[append]]s
    * — the periodic maintenance the append contract defers to:
    * assignments are re-laid-out range-disjoint by vec_id (appended
    * files overlap the original ranges, degrading probe lookups from
    * file-disjoint pruning to per-file min/max), and fragmented
    * members bucket partitions are compacted
    * ([[Compaction.compactPartitioned]], which also brings its
    * crash-recovery discipline). Reads ONLY the index — the corpus is
    * never rescanned, and probe results are unchanged by construction
    * (same rows, better files).
    */
  def relayout(spark: SparkSession, dir: String,
               targetBytes: Long = 128L << 20): Seq[(String, Int)] = {
    Layout.restoreIfCrashed(spark, dir)
    Layout.rewriteInPlace(spark, s"$dir/assignments") { tmp =>
      Layout.writeRangeSorted(spark.read.parquet(s"$dir/assignments"),
        tmp, nFiles = 8, keyCol = "vec_id")
    }
    Compaction.compactPartitioned(spark, s"$dir/members", targetBytes,
      minFiles = 1)
  }

  /** Top-k cosine neighbors for the probe rows selected by
    * `probePred` (over vec_id), reading ONLY the index: probe lookup
    * file-prunes the range-sorted assignments, probe VECTORS come
    * from the probes' own bucket partitions, and the candidate fetch
    * statically partition-prunes `members/` to each probe's `nprobe`
    * nearest buckets by cosine against the stored centroid model
    * (rank 1 is always the probe's own bucket — assignment is argmax
    * centroid cosine). Output schema and values match
    * [[Similarity.ivfTopK]] exactly (same stored model, same
    * multi-probe expansion).
    */
  def probe(spark: SparkSession, indexPath: String, probePred: Column,
            k: Int, maxProbes: Long = 100000L, nprobe: Int = 3): DataFrame = {
    // self-heal a crashed rebalance/relayout before reading (driver-
    // side listing checks only; a stranded dir would otherwise fail
    // the read)
    recoverAll(spark, indexPath)
    graft.functions.GraftFunctions.register(spark)
    val cs = graft.functions.GraftFunctions.cosineSim _
    // partition-column inference reads bucket back as INT; restore the
    // assignment's LONG so the indexed and direct plans agree bit-wise
    val members = spark.read.parquet(s"$indexPath/members")
      .withColumn("bucket", col("bucket").cast("long"))
    val cent = spark.read.parquet(s"$indexPath/centroids")
      .select("cid", "cv")
    val probeAsg = spark.read.parquet(s"$indexPath/assignments")
      .filter(probePred).localCheckpoint(true)
    val nProbes = probeAsg.count()
    require(nProbes <= maxProbes,
      s"probe: probePred selected $nProbes probes (> $maxProbes); " +
        "probes are broadcast, so the predicate must pick a small probe set")
    // bucket lists are collected and pruned STATICALLY (an IN filter
    // on the partition column, visible in the scan's PartitionFilters
    // at plan time): distinct buckets are bounded by the centroid
    // count — the model is broadcast-sized by construction — so the
    // collect is bounded, and unlike dynamic pruning the pruning can
    // never silently degrade to a full members scan when a heuristic
    // declines (the probe relations are checkpointed RDDs, which
    // Spark's DPP rule does not treat as a selective filter side)
    val probeBuckets = probeAsg.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val probes = members
      .filter(col("bucket").isin(probeBuckets: _*))
      .join(broadcast(probeAsg.select("vec_id")), "vec_id")
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
      .localCheckpoint(true)
    val wB = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    // materialized eagerly: qb (probe-bounded) feeds both the probed-
    // bucket pruning and the scoring join — without the barrier the
    // centroid-ranking window would replan into each branch
    val qb = probes.crossJoin(broadcast(cent))
      .select(col("q_id"), col("qv"), col("cid"),
        cs(col("qv"), col("cv")).as("ccos"))
      .withColumn("rn", row_number().over(wB)).filter(col("rn") <= nprobe)
      .select(col("q_id"), col("cid").as("bucket"), col("qv"))
      .localCheckpoint(true)
    val candBuckets = qb.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = members.filter(col("bucket").isin(candBuckets: _*))
    val scored = cand.join(broadcast(qb), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cs(col("qv"), col("v")))
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        col("cos"), col("rank").cast("long").as("rank"))
  }

  /** PQ sidecar for a built index — the IVFADC serving layout: every
    * member encoded as m one-byte codebook indices, written as
    * `codes/` PARTITIONED BY bucket (the probe's candidate read is
    * partition-pruned 8-byte codes — at 100 TB this is what makes the
    * re-rank memory-bandwidth-bound instead of I/O-bound), plus
    * `pqseed/` — the ksub lowest-id member vectors the codebook
    * derives from (bounded: ksub × dims doubles). Probe results are
    * byte-identical to [[Similarity.ivfPqTopK]] on the same
    * corpus/params: same stored trained model, same codebook seeding
    * rule, same encode/ADC kernels — so the direct and indexed rows
    * share one oracle (the ann_ivf / ann_ivf_indexed discipline).
    */
  def buildPq(spark: SparkSession, dir: String, m: Int = 8,
              ksub: Int = 256, dims: Int = 64): Unit = {
    require(m > 0 && dims % m == 0,
      s"buildPq: dims ($dims) must split evenly into m ($m) subspaces")
    val dsub = dims / m
    recoverAll(spark, dir)
    import spark.implicits._
    val members = spark.read.parquet(s"$dir/members")
      .withColumn("bucket", col("bucket").cast("long"))
    // codebook = sub-vectors of the ksub lowest-id members (the pqTopK
    // seeding rule applied to the indexed corpus)
    val cb = Similarity.pqCodebook(members.select("vec_id", "v"),
      "vec_id", "v", m, ksub, dsub)
    val bcCb = spark.sparkContext.broadcast(cb)
    members.select("vec_id", "bucket", "v")
      .as[(Long, Long, Array[Double])]
      .mapPartitions { rows =>
        val cbv = bcCb.value
        rows.map { case (id, b, v) =>
          (id, b, Similarity.pqEncodeK(id, v, cbv, m, ksub, dsub)) }
      }
      .toDF("vec_id", "bucket", "code")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/codes")
    members.filter(col("vec_id") < ksub).select("vec_id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pqseed")
    writePqMeta(spark, dir, m, ksub, dims)
  }

  /** The PQ sidecar's (m, ksub, dims) — persisted by [[buildPq]] and
    * validated by [[probePq]]/[[ensurePq]]. Without it a probe called
    * with a DIFFERENT m than the codes were encoded with (both
    * dividing dims, so every shape check passes) would sum a
    * truncated/overrun LUT against differently-shaped codes and
    * return plausible wrong ranks — the silent-corruption case this
    * family refuses loudly everywhere else.
    */
  private val PqMetaName = "_pq_meta"

  private def writePqMeta(spark: SparkSession, dir: String,
                          m: Int, ksub: Int, dims: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$PqMetaName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"m=$m\nksub=$ksub\ndims=$dims\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** (m, ksub, dims) as persisted by [[buildPq]]; None for an index
    * whose sidecar predates the meta file (or has none at all).
    */
  def readPqMeta(spark: SparkSession, dir: String): Option[(Int, Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$PqMetaName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.contains("=")).map { l =>
          val Array(k, v) = l.split("=", 2); k -> v.toInt
        }.toMap finally in.close()
      Some((kv("m"), kv("ksub"), kv("dims")))
    }
  }

  /** IVFADC probe reading ONLY the index: probe vectors from their own
    * bucket partitions, bucket ranking against the stored trained
    * model, candidates read as partition-pruned PQ CODES (~8 bytes
    * each — the corpus vectors are never touched), scored by ADC
    * lookups. Output schema and values match [[Similarity.ivfPqTopK]]
    * exactly.
    */
  def probePq(spark: SparkSession, indexPath: String, probePred: Column,
              k: Int, maxProbes: Long = 100000L, nprobe: Int = 3,
              m: Int = 8, ksub: Int = 256): DataFrame = {
    recoverAll(spark, indexPath)
    import spark.implicits._
    val members = spark.read.parquet(s"$indexPath/members")
      .withColumn("bucket", col("bucket").cast("long"))
    val probeAsg = spark.read.parquet(s"$indexPath/assignments")
      .filter(probePred).localCheckpoint(true)
    val nProbes = probeAsg.count()
    require(nProbes <= maxProbes,
      s"probePq: probePred selected $nProbes probes (> $maxProbes); " +
        "probes are collected and broadcast, so the predicate must pick " +
        "a small probe set")
    val probeBuckets = probeAsg.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    // probe vectors: statically pruned to the probes' own buckets,
    // collected (bounded by the maxProbes guard)
    val probes = members.filter(col("bucket").isin(probeBuckets: _*))
      .join(broadcast(probeAsg.select("vec_id")), "vec_id")
      .select("vec_id", "v").as[(Long, Array[Double])].collect()
    val cent = spark.read.parquet(s"$indexPath/centroids")
      .select("cid", "cv").as[(Long, Array[Double])].collect().sortBy(_._1)
    // the stored encoding's parameters are AUTHORITATIVE: a caller m
    // that merely divides dims would pass every shape check below yet
    // sum mis-shaped LUT entries against the persisted codes —
    // validate against the buildPq-persisted meta before any scoring
    readPqMeta(spark, indexPath) match {
      case None => throw new IllegalStateException(
        s"probePq: no $PqMetaName under $indexPath — run buildPq on " +
          "this index first (codes without their (m, ksub, dims) meta " +
          "cannot be safely decoded)")
      case Some((sm, sk, _)) =>
        require(sm == m && sk == ksub,
          s"probePq: index was encoded with (m=$sm, ksub=$sk) but the " +
            s"probe requested (m=$m, ksub=$ksub) — re-run buildPq or " +
            "probe with the stored parameters")
    }
    val seed = spark.read.parquet(s"$indexPath/pqseed")
      .select("vec_id", "v").as[(Long, Array[Double])].collect().sortBy(_._1)
    require(seed.length == ksub,
      s"probePq: pqseed has ${seed.length} rows, expected $ksub — " +
        "run buildPq on this index first")
    val dims = seed(0)._2.length
    require(m > 0 && dims % m == 0,
      s"probePq: stored dims ($dims) do not split into m ($m) subspaces")
    val dsub = dims / m
    val cb = Array.tabulate(m, ksub, dsub)((mm, c, d) => seed(c)._2(mm * dsub + d))
    // per-probe nprobe nearest buckets + ADC LUT, driver-side over the
    // bounded model — identical rule and arithmetic to ivfPqTopK
    val centN = cent.map { case (cid, cv) => (cid, cv, Similarity.normK(cv)) }
    val plan = probes.map { case (qid, qv) =>
      val nq = Similarity.normK(qv)
      val buckets = centN
        .map { case (cid, cv, cn) => (cid, Similarity.dotK(qv, cv) / (nq * cn)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(nprobe).map(_._1)
      (qid, buckets.toSet, Similarity.adcLutK(qv, cb, m, ksub, dsub))
    }
    val bcPlan = spark.sparkContext.broadcast(plan)
    val allowed = plan.flatMap(_._2).distinct.sorted
    val codes = spark.read.parquet(s"$indexPath/codes")
      .withColumn("bucket", col("bucket").cast("long"))
      .filter(col("bucket").isin(allowed: _*))
      .select("vec_id", "bucket", "code").as[(Long, Long, Array[Int])]
    val scored = codes.mapPartitions { rows =>
      val qs = bcPlan.value
      rows.flatMap { case (id, bucket, code) =>
        qs.iterator.collect {
          case (qid, bks, lut) if qid != id && bks(bucket) =>
            (qid, id, bucket, Similarity.adcSumK(lut, code, m))
        }
      }
    }.toDF("q_id", "neighbor_id", "bucket", "adc_dot")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_dot").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("bucket"),
        col("adc_dot"), col("rank").cast("long").as("rank"))
  }

  /** Build the PQ sidecar once per index dir (idempotent — presence of
    * `codes/` is the marker; the sidecar is rewritten by [[buildPq]]
    * callers after appends/relayouts that change members).
    */
  def ensurePq(spark: SparkSession, dir: String, m: Int = 8,
               ksub: Int = 256, dims: Int = 64): Unit = {
    Layout.restoreIfCrashed(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) buildPq(spark, dir, m, ksub, dims)
    else readPqMeta(spark, dir) match {
      // codes from a pre-meta build: re-encode so the sidecar's
      // parameters become self-describing
      case None => buildPq(spark, dir, m, ksub, dims)
      case Some((sm, sk, sd)) =>
        require(sm == m && sk == ksub && sd == dims,
          s"ensurePq: index already encoded with (m=$sm, ksub=$sk, " +
            s"dims=$sd) but caller requested (m=$m, ksub=$ksub, " +
            s"dims=$dims) — rebuild the sidecar explicitly with buildPq " +
            "rather than silently serving a different encoding")
    }
  }

  /** One built index per (application, cache key) — same memoization
    * contract as DedupIndex.ensureBuilt: the registry query's repeated
    * bench invocations pay the build once and probe thereafter.
    */
  def ensureBuilt(spark: SparkSession, cacheKey: String,
                  emb: => DataFrame, idCol: String, vecCol: String,
                  nCentroids: Int): String =
    graft.io.TempScope.perApp(spark, cacheKey, "ann_index") { dir =>
      build(emb, idCol, vecCol, nCentroids, dir)
    }

  /** [[ensureBuilt]] for the build-then-daily-append lifecycle: the
    * memoized state is an index BUILT on `base` with `batch` appended
    * afterwards — the registry's ann_ivf_appended row probes it. With
    * `withRelayout` the appended index is also [[relayout]]ed — the
    * full build → append → maintain lifecycle (ann_ivf_relayout).
    */
  /** Incremental SemDeDup served ENTIRELY from the persisted index —
    * the daily-ingest shape of [[Similarity.semDedup]]: after
    * [[append]] has assigned a new batch against the STORED
    * centroids, drop every batch vector that has a ≥ `threshold`-
    * cosine neighbor in its bucket that is either a standing-corpus
    * member (any id) or an earlier (lower-id) batch member. Returns
    * the surviving batch rows (vec_id, cluster).
    *
    * Scale: members/ is PARTITIONED BY bucket, so the pair probe is
    * an equi-join on the partition column over bucket-colocated
    * files — per-bucket work is |batch ∩ bucket| × |bucket|, the
    * SemDeDup incremental cost model — and the standing corpus is
    * never re-assigned or re-scanned outside the batch's own buckets:
    * the candidate scan is pruned STATICALLY by the batch's bucket
    * list (bounded by the centroid count), the same discipline as
    * [[probe]].
    */
  def semDedupBatch(spark: SparkSession, indexPath: String,
                    isBatch: Column => Column,
                    threshold: Double): DataFrame = {
    recoverAll(spark, indexPath)
    graft.functions.GraftFunctions.register(spark)
    val dp = graft.functions.GraftFunctions.dotProduct _
    val members = spark.read.parquet(s"$indexPath/members")
      .withColumn("bucket", col("bucket").cast("long"))
    val batch = members.filter(isBatch(col("vec_id")))
    val batchBuckets = batch.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = members.filter(col("bucket").isin(batchBuckets: _*))
      .select(col("bucket"), col("vec_id").as("o_id"),
        col("v").as("vo"), col("nrm").as("no"))
    val b = batch.select(col("bucket"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = b.join(cand, Seq("bucket"))
      .filter(col("o_id") =!= col("b_id"))
      .filter(!isBatch(col("o_id")) || col("o_id") < col("b_id"))
      .filter(dp(col("vo"), col("vb")) / (col("no") * col("nb")) >= threshold)
      .select(col("b_id").as("vec_id")).distinct()
    batch.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket").as("cluster"))
  }

  def ensureBuiltAppended(spark: SparkSession, cacheKey: String,
                          base: => DataFrame, batch: => DataFrame,
                          idCol: String, vecCol: String,
                          nCentroids: Int,
                          withRelayout: Boolean = false): String =
    graft.io.TempScope.perApp(spark, cacheKey, "ann_index_app") { dir =>
      build(base, idCol, vecCol, nCentroids, dir)
      append(batch, idCol, vecCol, dir)
      if (withRelayout) relayout(spark, dir)
    }

  /** The daily-ingest MAINTENANCE loop as one memoized lifecycle
    * (VERDICT r13 #8): build on `base`, land each batch via
    * [[append]], MEASURE bucket-occupancy spread, and let
    * [[maybeRebalance]] decide — the conditional fires only when the
    * appends actually degraded the layout past
    * [[Similarity.MaxBucketSpread]]. The registry row drives this
    * with a base that is ONE cluster of the clustered corpus, so the
    * appended clusters pile onto few base-trained centroids and the
    * measured spread exceeds the threshold by construction — the
    * require makes a silently-skipped rebuild loud, because the
    * row's oracle states the REBUILT model (trained on the full
    * member set): if the conditional did not fire, the probe would
    * serve the degraded base-trained model and fail the hash gate.
    * `nCentroids` pins the rebuilt nlist so the oracle's model is
    * corpus-size-independent.
    */
  def ensureBuiltRebalanced(spark: SparkSession, cacheKey: String,
                            base: => DataFrame, batches: => Seq[DataFrame],
                            idCol: String, vecCol: String,
                            nCentroids: Int): String =
    graft.io.TempScope.perApp(spark, cacheKey, "ann_index_rebal") { dir =>
      build(base, idCol, vecCol, nCentroids, dir)
      batches.foreach(b => append(b, idCol, vecCol, dir))
      val res = maybeRebalance(spark, dir, nlistOverride = Some(nCentroids))
      require(res.isDefined,
        "rebalance lifecycle: spread after appends measured healthy — " +
          "the conditional rebuild did not fire and the served model " +
          "would be the degraded base-trained one")
    }
}
