package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Similarity search over an embedding column (Array[Float]).
  *
  * Numeric parity: every fold is a sequential left fold over doubles
  * (cast from float, exact), starting at 0.0 — bit-identical to the
  * DuckDB oracle's list_reduce. Floats are never multiplied as floats.
  *
  * Top-k entry points are eager: one guarded probe-set collect, a
  * driver-side plan and one [[ProbeTopK]] scoring pass; each returns a
  * local relation of at most k × probes rows.
  *
  * Scale path: brute-force top-k is the correctness baseline (probe
  * set × corpus, the corpus streamed once); random-hyperplane LSH
  * bounds the pair space for corpus-vs-corpus near-dup search — the
  * candidate join is an equi-join on (band, signature), so the shuffle
  * is (rows × bands), never O(n²).
  */
object Similarity {

  /** Array[Float] column → Array[Double] (exact widening). */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Sequential-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))

  /** Embedding table → (vec_id, v: array<double>, nrm: double). */
  def prepared(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Compiled sequential-fold kernels — identical accumulation order
    * to [[dot]]/[[norm]] (and the oracle's list_reduce), so results are
    * bit-identical, but ~100× faster than interpreted HOF evaluation.
    */
  private[ops] def dotK(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private[ops] def normK(a: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * a(i); i += 1 }
    math.sqrt(acc)
  }

  /** `cosine_sim` ([[graft.functions.CosineSimilarity]]) on the JVM: one
    * sequential pass over dot, |a|² and |b|², then dot / (√|a|²·√|b|²)
    * — bit-identical to the SQL function and to dotK / (normK·normK).
    */
  private[ops] def cosK(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (cosA, idA) against (cosB, idB) under ORDER BY cos DESC, id ASC
    * as Spark sorts doubles (NaN above every number, -0.0 equal to
    * 0.0): negative when A comes first.
    */
  private[ops] def rankCompare(cosA: Double, idA: Long,
                               cosB: Double, idB: Long): Int = {
    val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
      .compareDoubles(cosB, cosA)
    if (c != 0) c else java.lang.Long.compare(idA, idB)
  }

  /** A probe's `nprobe` nearest centroids (cid, cv), best first under
    * (ccos DESC, cid ASC), computed on the driver over the bounded
    * model: the bucket ranking of every IVF path. With `nprobe` 1 it
    * is [[assignTo]]'s `max_by(cid, struct(ccos, -cid))` for one vector
    * (NaN ranks first, -0.0 equals 0.0, ties to the lowest cid), and
    * like `cosine_sim` it refuses vectors of another length.
    */
  private[ops] def nearestBuckets(qv: Array[Double],
                                  cent: Array[(Long, Array[Double])],
                                  nprobe: Int): Array[Long] =
    cent.map { case (cid, cv) =>
      if (cv.length != qv.length) throw new IllegalArgumentException(
        s"cosine_sim: vector lengths differ: ${qv.length} vs ${cv.length}")
      (cosK(qv, cv), cid)
    }.sortWith { case ((ca, ia), (cb, ib)) => rankCompare(ca, ia, cb, ib) < 0 }
      .take(nprobe).map(_._2)

  /** Typed corpus: (vec_id, double vector). */
  private def typed(emb: DataFrame, idCol: String, vecCol: String) = {
    import emb.sparkSession.implicits._
    emb.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .as[(Long, Array[Double])]
  }

  /** Brute-force cosine top-k: the probe set is collected and
    * broadcast, and the corpus streams once through the compiled
    * scoring kernel into [[ProbeTopK.topK]], without shuffling. EAGER:
    * a local relation (q_id, neighbor_id, cos, rank), ≤ k × probes rows.
    *
    * The probe set must be SMALL — it is collected to the driver and
    * broadcast — so an over-broad `probePred` is refused loudly
    * (same contract as [[ivfTopK]]): a corpus-sized predicate here
    * would OOM the driver instead of degrading.
    */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 probePred: Column, k: Int,
                 maxProbes: Long = 100000L): DataFrame = {
    val probes = probeVectors(typedRows(emb.filter(probePred), idCol, vecCol),
      maxProbes, "cosineTopK")
    val nq = probes.map(p => normK(p._2))
    val top = ProbeTopK.topK(oneKey(emb, idCol, vecCol), probes, k)(
      (_, _, r) => { val v = r.getArray(2).toDoubleArray(); (v, normK(v)) })(
      (i, _, c) => dotK(probes(i)._2, c._1) / (nq(i) * c._2))
    ProbeTopK.relation(emb.sparkSession, top, LongType, None, "cos")
  }

  /** The guarded probe rows (vec_id: long, v), searching [[oneKey]]'s key. */
  private def probeVectors(selected: DataFrame, maxProbes: Long, caller: String,
                           why: String = ProbeTopK.Collected): Array[ProbeTopK.Probe] =
    ProbeTopK.probeSet(selected, maxProbes, caller, why)
      .map(r => (r.getLong(0), r.getArray(1).toDoubleArray(), Array(0L)))

  /** (vec_id: long, v: array<double>) of `emb`. */
  private def typedRows(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long"), asDouble(col(vecCol)))

  /** Full-corpus [[ProbeTopK]] rows: every row under the one key 0. */
  private def oneKey(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long"), lit(0L), asDouble(col(vecCol)))

  /** All-pairs cosine near-duplicates above a threshold — the exact
    * BASELINE, declared as a self-join on `vec_a < vec_b` scored by the
    * codegen'd [[graft.functions.CosineSimilarity]] expression. No
    * driver-side state: Spark plans a BroadcastNestedLoopJoin while one
    * side fits the broadcast threshold and a distributed
    * CartesianProduct (partition-pair tasks) beyond it, so the
    * inherently O(n²) compare work spreads across executors at any
    * scale — but it IS O(n²) (measured 60× wall at 10× data,
    * SCALING.md §1): for sub-quadratic near-dup search at corpus
    * scale, use [[lshPairs]] (banded candidates + the same exact
    * re-rank — 2.6 s where this takes 38 s at 2×10⁴ vectors).
    *
    * The quadratic blowup is therefore FENCED, not merely documented:
    * a corpus beyond `maxExactCorpus` rows is refused loudly with the
    * scale path named, so nobody reaches a cartesian by default. Raise
    * the cap explicitly to run the baseline on a bigger corpus — the
    * override is the documented "yes, I want n² compares" switch.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double,
                  maxExactCorpus: Long = 100000L): DataFrame = {
    val n = emb.count()
    require(n <= maxExactCorpus,
      s"cosinePairs: corpus has $n vectors (> $maxExactCorpus) — this is " +
        "the exact all-pairs baseline (O(n²) compares; ~60x wall at 10x " +
        "data, SCALING.md §1). Use lshPairs for sub-quadratic near-dup " +
        "search, or pass maxExactCorpus explicitly to insist on the " +
        "exact baseline")
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val dp = graft.functions.GraftFunctions.dotProduct _
    // norms precomputed per ROW (2n·d flops), so the quadratic pair
    // stage pays one dot product per pair instead of three; identical
    // accumulation order → bit-identical cosines to the oracle's
    // dot/(nrm_a·nrm_b)
    def side(id: String, v: String, n: String): DataFrame = {
      val vec = asDouble(col(vecCol)).as(v)
      emb.select(col(idCol).cast("long").as(id), vec)
        .withColumn(n, sqrt(dp(col(v), col(v))))
    }
    side("vec_a", "va", "na")
      .join(side("vec_b", "vb", "nb"), col("vec_a") < col("vec_b"))
      .withColumn("cos", dp(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): semantic
    * deduplication via embedding clustering — assign every vector to
    * its nearest centroid of a TRAINED model ([[trainedCentroids]]),
    * then inside each cluster drop any vector that has a LOWER-id
    * neighbor above the cosine `threshold` (keep-lowest-id, the dedup
    * family's convention). Returns the survivors (vec_id, cluster).
    *
    * Scale: this is the algorithm's own answer to the O(n²) cosine
    * pair space — the pairwise compare runs only INSIDE clusters
    * (an equi-join on the cluster id, never a cross join), so total
    * compare work is Σ|cluster|², bounded by choosing nClusters
    * proportional to the corpus (the paper runs k = 50 000 on LAION;
    * here the model is the shared 16-centroid gate-scale model).
    * Assignment is the map-side broadcast aggregate of [[assignTo]];
    * the drop set is ids only; survivors come from one left_anti on
    * vec_id. Skew bound = the largest cluster, which is exactly what
    * Lloyd training balances ([[trainedCentroids]]).
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               model: DataFrame, threshold: Double): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val dp = graft.functions.GraftFunctions.dotProduct _
    val all = prepared(emb, idCol, vecCol)
    // the (vec_id, bucket) assignment is consumed by BOTH pair sides
    // and the survivor anti-join; Spark reuses no exchange across the
    // renamed branches, so an inline relation re-runs the n·k
    // broadcast assignment (and the corpus scan under it) three
    // times. Checkpointing pins ONE assignment pass; the relation is
    // ids-only (16 B/row — the same narrow artifact AnnIndex
    // persists as the index), never the vectors.
    val asg = assignTo(all.select("vec_id", "v"), model).localCheckpoint(true)
    val wb = all.join(asg, "vec_id")
    def side(suf: String) = wb.select(col("bucket"),
      col("vec_id").as("vec_" + suf), col("v").as("v" + suf),
      col("nrm").as("n" + suf))
    val dropped = side("a").join(side("b"), "bucket")
      .filter(col("vec_a") < col("vec_b"))
      .filter(dp(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    wb.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket").as("cluster"))
  }

  /** Deterministic IVF seed assignment: every vector → the nearest
    * (by cosine, ties to the lowest id) of the `nCentroids` LOWEST-ID
    * vectors (any id space — no dense 0..k-1 requirement). An
    * ids-only aggregate: every (vector, centroid) pair is scored
    * map-side against the broadcast centroids, projected down
    * to (vec_id, cid, ccos) BEFORE aggregating, and the winner picked
    * with max_by over (ccos, -cid) — identical to a (ccos DESC, cid
    * ASC) row_number but with map-side partial aggregation and a
    * narrow (long, long, double) exchange. (The r2 window variant
    * shuffled the full 64-double vector through the Exchange + sort.)
    * Returns (vec_id, bucket).
    */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int): DataFrame = {
    val all = prepared(emb, idCol, vecCol).select("vec_id", "v")
    val cent = all.orderBy(col("vec_id").asc).limit(nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    assignTo(all, cent)
  }

  /** Nearest-centroid assignment of a (vec_id, v) relation against an
    * arbitrary broadcast-sized centroid relation (cid, cv) — the
    * shared aggregate under [[ivfAssign]] (seed centroids),
    * [[trainedCentroids]]' refinement loop, and
    * [[AnnIndex]]'s stored-model assignment: every (vector, centroid)
    * pair is scored map-side against the broadcast centroids,
    * projected to (vec_id, cid, ccos) BEFORE aggregating, and the
    * winner picked with max_by over (ccos, -cid) — identical to a
    * (ccos DESC, cid ASC) row_number but with map-side partial
    * aggregation and a narrow (long, long, double) exchange.
    * Returns (vec_id, bucket).
    */
  def assignTo(all: DataFrame, cent: DataFrame): DataFrame = {
    val spark = all.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cs = graft.functions.GraftFunctions.cosineSim _
    all.crossJoin(broadcast(cent.select("cid", "cv")))
      .select(col("vec_id"), col("cid"),
        cs(col("v"), col("cv")).as("ccos"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("ccos"), negate(col("cid"))))
        .as("bucket"))
  }

  /** IVF centroids after `steps` quantized Lloyd refinements of the
    * deterministic seed (the nCentroids lowest-id vectors) — the
    * trained model [[ivfTopK]] and [[AnnIndex.build]] bucket with, as
    * a (cid, cv, cnrm) relation over [[trainModel]]'s driver-side
    * model. Each step reassigns the corpus to the current centroids
    * (the [[assignTo]] bucket of every vector) and recomputes every
    * centroid as the PER-DIMENSION MEAN OF ITS MEMBERS' int8-QUANTIZED
    * values ([[quantizeInt8]]): the sums are exact BIGINTs — no float
    * accumulation-order drift between engines or partitionings — and
    * the mean is one exact IEEE division, so the whole training run
    * is bit-reproducible and each step mirrors as one oracle CTE
    * pair. Cosine against a centroid is scale-free per side, so the
    * quantized-space mean serves directly as the centroid vector.
    *
    * A centroid whose bucket empties drops out of the model (its
    * vectors re-home deterministically next assignment) — same
    * behavior both engines. Cost: one seed collect and one corpus
    * pass per step, each reduced on the driver — the one-time build
    * work an IVF index amortizes over every later probe.
    *
    * Ids must be unique: a repeated id is outside the contract (the
    * oracle assigns per id, the passes per row). A NULL id is refused.
    */
  def trainedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                       nCentroids: Int, steps: Int): DataFrame =
    modelRelation(emb.sparkSession,
      trainModel(emb, idCol, vecCol, nCentroids, steps, "trainedCentroids"))

  /** A driver-side model as the (cid, cv, cnrm) relation. */
  private[ops] def modelRelation(spark: SparkSession,
                                 model: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    model.toIndexedSeq.toDF("cid", "cv").withColumn("cnrm", norm(col("cv")))
  }

  /** [[trainedCentroids]]' model on the driver, (cid, cv) in cid order.
    * The seed is one bounded collect (the nCentroids lowest ids, NULLs
    * first, so a NULL id anywhere is refused here, naming `caller`).
    * Each Lloyd step is ONE typed pass over the projection
    * (vec_id, v, q), q being [[quantizeInt8]]'s expression: a row goes
    * to its [[bucketOf]] against the broadcast centroids, and each
    * partition adds exact Long sums and counts per (bucket, dim) —
    * nCentroids × dims of each — which the driver merges before one
    * `s / cnt` division per dim. A NULL element of q counts but adds
    * nothing, as SQL's count(1) and sum do; a NULL vector adds nothing.
    * A NULL element of v scores as 0.0, as `cosine_sim` reads it, so a
    * seed vector with one, or a dim that every member of a bucket
    * leaves NULL (a NULL mean in SQL), trains as 0.0.
    */
  private[ops] def trainModel(emb: DataFrame, idCol: String, vecCol: String,
                              nCentroids: Int, steps: Int,
                              caller: String): Array[(Long, Array[Double])] = {
    val all = prepared(emb, idCol, vecCol)
    val seed = Layout.collectRows(all.orderBy(col("vec_id").asc).limit(nCentroids)
        .select(col("vec_id").cast("long"), col("v")))
    if (seed.exists(_.isNullAt(0))) throw new IllegalArgumentException(
      s"$caller: the corpus has a NULL vec_id — every vector needs an id")
    require(seed.length == nCentroids,
      s"$caller: corpus has only ${seed.length} vectors " +
        s"(< $nCentroids centroids)")
    var cent = seed.map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getArray(1).toDoubleArray()))
    val rows = all.select(col("v"), int8Of(col("v"), scale_of(col("v"))).as("q"))
    for (_ <- 1 to steps if cent.nonEmpty) {
      val bc = emb.sparkSession.sparkContext.broadcast(cent)
      val sums = Layout.withRows(rows)(_.mapPartitions { it =>
        val model = bc.value
        val slot = model.map(_._1).zipWithIndex.toMap
        val acc = new LloydSums(model.length)
        it.filter(!_.isNullAt(1)).foreach { r =>
          val v = if (r.isNullAt(0)) null else r.getArray(0).toDoubleArray()
          acc.add(slot(bucketOf(v, model)), r.getArray(1))
        }
        Iterator(acc)
      }.fold(new LloydSums(cent.length))(_ merge _))
      cent = cent.indices.filter(sums.cnt(_).nonEmpty).map { i =>
        val (s, n) = (sums.sum(i), sums.cnt(i))
        (cent(i)._1, Array.tabulate(n.length)(d => s(d).toDouble / n(d).toDouble))
      }.toArray
    }
    cent
  }

  /** Per (bucket slot, dim) exact sums and member counts of int8 codes. */
  private final class LloydSums(k: Int) extends Serializable {
    val sum: Array[Array[Long]] = Array.fill(k)(Array.emptyLongArray)
    val cnt: Array[Array[Long]] = Array.fill(k)(Array.emptyLongArray)

    private def widen(i: Int, n: Int): Unit = if (cnt(i).length < n) {
      sum(i) = java.util.Arrays.copyOf(sum(i), n)
      cnt(i) = java.util.Arrays.copyOf(cnt(i), n)
    }

    def add(i: Int, q: org.apache.spark.sql.catalyst.util.ArrayData): Unit = {
      widen(i, q.numElements())
      var d = 0
      while (d < q.numElements()) {
        if (!q.isNullAt(d)) sum(i)(d) += q.getLong(d)
        cnt(i)(d) += 1; d += 1
      }
    }

    def merge(o: LloydSums): LloydSums = {
      for (i <- 0 until k) {
        widen(i, o.cnt(i).length)
        for (d <- o.cnt(i).indices) { sum(i)(d) += o.sum(i)(d); cnt(i)(d) += o.cnt(i)(d) }
      }
      this
    }
  }

  /** The bucket of one vector: [[nearestBuckets]]`(v, cent, 1)` over the
    * centroids with a vector, else the lowest cid — [[assignTo]]'s
    * `max_by(cid, struct(ccos, -cid))` for one row, where a NULL
    * cosine (a NULL vector on either side) ranks below every number.
    * The assignment of index builds, appends and Lloyd steps.
    */
  private[ops] def bucketOf(v: Array[Double], cent: Array[(Long, Array[Double])]): Long = {
    val scored = if (v == null) Array.empty[(Long, Array[Double])] else cent.filter(_._2 != null)
    if (scored.isEmpty) cent.map(_._1).min else nearestBuckets(v, scored, 1).head
  }

  /** [[ivfAssign]] with `steps` Lloyd refinements of the seed
    * centroids first ([[trainedCentroids]]). steps = 0 is exactly
    * [[ivfAssign]]. Returns (vec_id, bucket).
    */
  def ivfAssignTrained(emb: DataFrame, idCol: String, vecCol: String,
                       nCentroids: Int, steps: Int): DataFrame =
    assignTo(prepared(emb, idCol, vecCol).select("vec_id", "v"),
      trainedCentroids(emb, idCol, vecCol, nCentroids, steps))

  /** IVF ANN with a TRAINED model and MULTI-PROBE search: centroids
    * are the seed refined by `trainSteps` quantized Lloyd steps
    * ([[trainedCentroids]] — training balances bucket population,
    * which at scale is what keeps probe cost predictable and bucket
    * partitions hotspot-free), and each probe searches its
    * `nprobe` NEAREST buckets by centroid cosine instead of only its
    * own — the standard IVF recall lever (measured on this corpus:
    * single-probe recall@5 DROPS under training, 0.78 → 0.70,
    * because balanced buckets split neighborhoods; nprobe=3 over the
    * trained model measures 0.88 while still scoring < n/5 of the
    * corpus per query). Per-probe work stays bounded:
    * nprobe × n/nCentroids candidates.
    *
    * `trainOn` (defaults to the corpus itself) trains the model on a
    * SUBSET — the serving shape where an index built on yesterday's
    * corpus buckets today's appends ([[AnnIndex.append]] assigns new
    * vectors against the stored centroids; a probe over the appended
    * index equals this function with trainOn = the build-time corpus).
    *
    * CONTRACT for `probePred`: it is evaluated against the ids-only
    * assignment relation, so it may reference ONLY `vec_id` and
    * `bucket` (not the vector column), and it must select a SMALL
    * probe set — probes are collected and broadcast (that is what
    * bounds per-probe work to nprobe buckets), so a predicate matching
    * a large fraction of the corpus belongs in [[cosineTopK]] instead.
    * Enforced by the family's probe guard ([[ProbeTopK.probeSet]]).
    *
    * EAGER: buckets are ranked on the driver ([[nearestBuckets]]) and
    * the probed buckets scored in one [[ProbeTopK.topK]] pass; a local
    * relation (q_id, neighbor_id, bucket, cos, rank), ≤ k × probes rows.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              nCentroids: Int, probePred: Column, k: Int,
              maxProbes: Long = 100000L, trainSteps: Int = 2,
              nprobe: Int = 3, trainOn: DataFrame = null,
              model: DataFrame = null): DataFrame = {
    val plan = ivfPlan(emb, idCol, vecCol, nCentroids, probePred, maxProbes,
      trainSteps, nprobe, trainOn, model, "ivfTopK", "probes are broadcast, so " +
        "the predicate must pick a small probe set — use cosineTopK for " +
        "corpus-scale scoring", onAssignment = true)
    val top = ProbeTopK.byCosine(plan.candidates, plan.probes, k)
    // nullable as the ranked join's were: ids and cos as the corpus's
    // ids and vectors, the assignment's bucket
    val in = prepared(emb, idCol, vecCol).schema
    ProbeTopK.relation(emb.sparkSession, top, in("vec_id").dataType, Some("bucket"), "cos",
      Set("bucket") ++ Set("q_id", "neighbor_id").filter(_ => in("vec_id").nullable) ++
        Set("cos").filter(_ => in("v").nullable))
  }

  /** The IVF paths' driver-side plan: the trained model (cid, cv),
    * collected (bounded: nCentroids × dims); the probes with their
    * `nprobe` nearest buckets; and the probed buckets' candidates
    * (vec_id, bucket, v), the [[assignTo]] assignment under a plan-time
    * bucket IN filter (directory pruning at scale, never a full scan).
    */
  private final case class IvfPlan(cent: Array[(Long, Array[Double])],
                                   probes: Array[ProbeTopK.Probe], candidates: DataFrame)

  /** [[IvfPlan]] for `emb`. `model` short-circuits training (the serving
    * shape: no trainSteps corpus scans per call); otherwise the model is
    * trained on `trainOn` (default the corpus). `probePred` selects from
    * the assignment (`onAssignment`, [[ivfTopK]]'s contract) or `emb`.
    */
  private def ivfPlan(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, probePred: Column, maxProbes: Long,
                      trainSteps: Int, nprobe: Int, trainOn: DataFrame,
                      model: DataFrame, caller: String, why: String,
                      onAssignment: Boolean): IvfPlan = {
    val spark = emb.sparkSession
    import spark.implicits._
    val all = prepared(emb, idCol, vecCol).select("vec_id", "v")
    val cent = Option(model).map(_.select("cid", "cv").as[(Long, Array[Double])]
        .collect().sortBy(_._1))
      .getOrElse(trainModel(Option(trainOn).getOrElse(emb),
        idCol, vecCol, nCentroids, trainSteps, caller))
    val asg = assignTo(all, cent.toIndexedSeq.toDF("cid", "cv"))
    val probes = probeVectors(
      if (onAssignment) asg.filter(probePred).select("vec_id").join(all, "vec_id")
        .select(col("vec_id").cast("long"), col("v"))
      else typedRows(emb.filter(probePred), idCol, vecCol), maxProbes, caller, why)
      .map(p => p.copy(_3 = nearestBuckets(p._2, cent, nprobe)))
    val buckets = probes.flatMap(_._3).distinct.sorted
    IvfPlan(cent, probes, all.join(asg.filter(col("bucket").isin(buckets.toIndexedSeq: _*)), "vec_id")
      .select(col("vec_id").cast("long"), col("bucket"), col("v")))
  }

  /** Deterministic ±1 random-hyperplane weights (seed-fixed, mirrored
    * verbatim into the oracle SQL as list literals).
    */
  def hyperplanes(nPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dims).map { d =>
        val h = md.digest(s"$j:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0 else -1.0
      }
    }
  }

  /** Sign-LSH banded candidate id pairs (vec_a < vec_b, distinct) —
    * the shared candidate generator for the exact and quantized
    * re-rank paths. Signature bits via the compiled kernel (same fold
    * order as the Column dot, so the sign decisions match the oracle
    * bit-for-bit); candidates carry only ids through the band join +
    * distinct — vectors are re-attached by the caller (don't shuffle
    * arrays twice).
    */
  private def lshCandidates(emb: DataFrame, idCol: String, vecCol: String,
                            nPlanes: Int, nBands: Int, dims: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = hyperplanes(nPlanes, dims).map(_.toArray).toArray
    val perBand = nPlanes / nBands
    val bcPlanes = spark.sparkContext.broadcast(planes)
    val bands = typed(emb, idCol, vecCol).mapPartitions { rows =>
      val ws = bcPlanes.value
      rows.flatMap { case (id, v) =>
        require(v.length == ws(0).length,
          s"lshPairs: vector $id has ${v.length} dims, hyperplanes expect ${ws(0).length}")
        val bits = ws.map(w => if (dotK(v, w) > 0) 1L else 0L)
        (0 until nBands).iterator.map { b =>
          val key = (0 until perBand).map(i => bits(b * perBand + i) << i).sum
          (id, b, key)
        }
      }
    }.toDF("vec_id", "band_idx", "band_key")
      // materialized once: the candidate join's sides are renamed
      // copies of this subplan and Spark reuses no exchange across
      // renamed self-join branches — unchckpointed, the corpus scan +
      // plane-projection kernel ran twice per evaluation. Fixed-width
      // (long, int, long) rows, nBands per vector — linear at scale.
      .localCheckpoint(true)
    bands.toDF("vec_a", "band_idx", "band_key")
      .join(bands.toDF("vec_b", "band_idx", "band_key"), Seq("band_idx", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
  }

  /** Sign-LSH signature bits and banded candidate pairs re-ranked by
    * exact cosine. nPlanes bits split into nBands bands.
    *
    * SIZING RULE (measured in SCALING.md): candidate volume per band
    * is Σ_buckets C(pop, 2) with pop ≈ n / 2^(nPlanes/nBands), so
    * band-key BITS must track log₂ n — a 4-bit band key (16 buckets)
    * is a small-corpus recall tune that turns ~quadratic by 2×10⁴
    * vectors (20.6× wall at 10× data), while 8-bit keys hold
    * near-linear on the same corpus. Recover recall by raising
    * nPlanes and nBands together, never by coarsening the key.
    */
  /** Band-key bits sized for the corpus — the SCALING.md §3 rule as
    * code instead of scaladoc: expected bucket population is
    * n / 2^bits, so holding the per-vector-per-band candidate budget
    * at 2^budgetBits needs bits ≥ ⌈log₂ n⌉ − budgetBits. The floor
    * keeps small corpora at the measured-near-linear 8-bit setting
    * (coarser keys are a recall tune, never a scale tune — recover
    * recall by raising nPlanes and nBands together).
    */
  def autoBandBits(n: Long, budgetBits: Int = 7, minBits: Int = 8): Int = {
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
    math.max(minBits, ceilLog2 - budgetBits)
  }

  /** [[lshPairs]] with the band-key width DERIVED from the corpus
    * count via [[autoBandBits]] — the scale-safe default: a caller
    * reaching for banded near-dup pairs gets buckets that track
    * log₂ n instead of a fixed tune that turns quadratic past ~10⁴
    * vectors (measured 20.6× wall at 10× data for 4-bit keys,
    * SCALING.md §3). Costs one count() of the corpus — noise next to
    * the band join it right-sizes. nPlanes = nBands × bits, so the
    * hyperplane set grows with the corpus too (deterministic by
    * (plane, dim) — a prefix of the larger set equals the smaller).
    */
  def lshPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                   nBands: Int = 2, threshold: Double = 0.35,
                   dims: Int = 64, budgetBits: Int = 7): DataFrame = {
    val bits = autoBandBits(emb.count(), budgetBits)
    lshPairs(emb, idCol, vecCol, nPlanes = nBands * bits, nBands = nBands,
      threshold = threshold, dims = dims)
  }

  def lshPairs(emb: DataFrame, idCol: String, vecCol: String,
               nPlanes: Int = 16, nBands: Int = 4,
               threshold: Double = 0.35, dims: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    val all = prepared(emb, idCol, vecCol)
    val cand = lshCandidates(emb, idCol, vecCol, nPlanes, nBands, dims)
    // exact re-rank through the native codegen'd cosine expression
    // (same sequential accumulation → same bits as dot/nrm would give)
    graft.functions.GraftFunctions.register(spark)
    val a = all.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = all.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    cand.join(a, "vec_a").join(b, "vec_b")
      .withColumn("cos",
        graft.functions.GraftFunctions.cosineSim(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** [[lshPairs]] with the re-rank in int8-QUANTIZED space: the same
    * banded candidates, scored by the codegen'd quantized_cosine over
    * exact integer sums — scale factors cancel in cosine, so no
    * dequantization, and the vectors crossing the candidate joins are
    * 8× smaller than the double working form. At corpus scale the
    * re-rank is memory-bandwidth-bound, which makes this the
    * production scoring path; the double-space [[lshPairs]] is the
    * precision baseline (quantized cosines differ from exact ones by
    * O(1/127) per component, bounded in the spec).
    */
  def lshPairsQuantized(emb: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int = 16, nBands: Int = 4,
                        threshold: Double = 0.35, dims: Int = 64): DataFrame = {
    val spark = emb.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val cand = lshCandidates(emb, idCol, vecCol, nPlanes, nBands, dims)
    val q = quantizeInt8(emb, idCol, vecCol).select("vec_id", "q")
    cand.join(q.toDF("vec_a", "qa"), "vec_a")
      .join(q.toDF("vec_b", "qb"), "vec_b")
      .withColumn("qcos",
        graft.functions.GraftFunctions.quantizedCosine(col("qa"), col("qb")))
      .filter(col("qcos") >= threshold)
      .select("vec_a", "vec_b", "qcos")
  }

  /** Product-quantization ANN (IVF-ADC's scoring half): vectors are
    * ENCODED as m sub-space codebook indices (here 8 subspaces × 256
    * centroids = 8 one-byte codes = 8 bytes per vector, 32× smaller
    * than the float32 form and 64× smaller than the double working
    * form), and probes
    * score codes through a per-probe lookup table — the classic ADC
    * (asymmetric distance computation): score(q, x) = Σ_m
    * lut_q[m][code_m(x)] where lut_q[m][c] = ⟨q_m, codebook_m[c]⟩.
    * The corpus-side read per candidate is 8 BYTES — at 100 TB the
    * re-rank is memory-bandwidth-bound, which is exactly what PQ
    * buys; brute-force/LSH/IVF/int8 remain the other points on the
    * accuracy-bandwidth curve, measured by ann_recall's method.
    *
    * Determinism/parity: codebooks are the sub-vectors of the ksub
    * lowest-id vectors (same seeding rule as ivfAssign); encoding is
    * argmin L2 with ties to the lowest centroid id, every distance a
    * fixed i-ascending fold; the ADC sum is m-ascending over per-m
    * dots — the DuckDB oracle states the identical grouping
    * (per-subspace dots reduced over an m-ORDERED list), so scores
    * are bit-identical. Probe-set size is guarded like cosineTopK.
    *
    * ksub defaults to 256 (a full byte per subspace): the ann_recall
    * row measured ksub=16 at 0.26 recall@5 — near-useless for
    * retrieval on this corpus — while 256 codewords in the same
    * 8-byte budget measure 0.56. Encoding cost scales with ksub but
    * is the one-time index-build pass; the per-query ADC lookup is
    * unchanged.
    *
    * EAGER: one [[ProbeTopK.topK]] pass encodes and scores the corpus;
    * a local relation (q_id, neighbor_id, adc_dot, rank), ≤ k × probes.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             probePred: Column, k: Int, m: Int = 8, ksub: Int = 256,
             dims: Int = 64, maxProbes: Long = 100000L): DataFrame = {
    require(m > 0 && dims % m == 0,
      s"pqTopK: dims ($dims) must split evenly into m ($m) subspaces")
    val dsub = dims / m
    val cb = pqCodebook(emb, idCol, vecCol, m, ksub, dsub)
    val probes = probeVectors(typedRows(emb.filter(probePred), idCol, vecCol),
      maxProbes, "pqTopK")
    val luts = probes.map(p => adcLutK(p._2, cb, m, ksub, dsub))
    val top = ProbeTopK.topK(oneKey(emb, idCol, vecCol), probes, k)(
      (id, _, r) => pqEncodeK(id, r.getArray(2).toDoubleArray(), cb, m, ksub, dsub))(
      (i, _, code) => adcSumK(luts(i), code, m))
    ProbeTopK.relation(emb.sparkSession, top, LongType, None, "adc_dot")
  }

  /** PQ codebook: per subspace, the sub-vectors of the ksub lowest-id
    * vectors (same seeding rule as ivfAssign) — shape (m, ksub, dsub),
    * collected to the driver (bounded: ksub × dims doubles) and
    * broadcast by callers; `encoded` maps a seed to what codes quantize.
    */
  private[ops] def pqCodebook(emb: DataFrame, idCol: String, vecCol: String,
                         m: Int, ksub: Int, dsub: Int, what: String = "pq",
                         encoded: Array[Double] => Array[Double] = identity)
      : Array[Array[Array[Double]]] = {
    val cbRows = typed(emb.filter(col(idCol) < ksub), idCol, vecCol)
      .collect().sortBy(_._1)
    require(cbRows.length == ksub,
      s"$what codebook seeding needs vec ids 0..${ksub - 1} present")
    val seed = cbRows.map(r => encoded(r._2))
    Array.tabulate(m, ksub, dsub)((mm, c, d) => seed(c)(mm * dsub + d))
  }

  /** Per-vector PQ encode kernel: argmin-L2 codebook index per
    * subspace, strict < keeping the LOWEST centroid id on exact ties —
    * mirrors the oracle's (d2 ASC, cid ASC) row_number.
    */
  private[ops] def pqEncodeK(id: Long, v: Array[Double],
                        cbv: Array[Array[Array[Double]]],
                        m: Int, ksub: Int, dsub: Int): Array[Int] = {
    require(v.length == m * dsub,
      s"pq encode: vector $id has ${v.length} dims, expected ${m * dsub}")
    Array.tabulate(m) { mm =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v(mm * dsub + i) - cbv(mm)(c)(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      best
    }
  }

  /** ADC lookup table for one probe: lut(m)(c) = ⟨q_m, codebook_m[c]⟩,
    * i-ascending — identical arithmetic to the oracle's per-m dot.
    */
  private[ops] def adcLutK(qv: Array[Double], cbv: Array[Array[Array[Double]]],
                      m: Int, ksub: Int, dsub: Int): Array[Array[Double]] =
    Array.tabulate(m, ksub) { (mm, c) =>
      var acc = 0.0
      var i = 0
      while (i < dsub) { acc += qv(mm * dsub + i) * cbv(mm)(c)(i); i += 1 }
      acc
    }

  /** m-ascending ADC sum — the oracle's list(pd ORDER BY m) reduce. */
  private[ops] def adcSumK(lut: Array[Array[Double]], code: Array[Int],
                      m: Int): Double = {
    var acc = 0.0
    var mm = 0
    while (mm < m) { acc += lut(mm)(code(mm)); mm += 1 }
    acc
  }

  /** IVFADC — the standard production ANN composition: candidates come
    * from the TRAINED IVF model's `nprobe` nearest buckets per probe
    * (the [[ivfTopK]] bucketing), and are scored by PQ ADC lookups
    * (the [[pqTopK]] scoring) instead of exact cosine. This is the
    * shape a 100-TB serving index actually runs: per-candidate corpus
    * I/O is the 8-byte PQ code (+ its bucket id), and only
    * nprobe × n/nCentroids candidates per probe are touched at all —
    * IVF bounds WHICH rows are read, PQ bounds HOW MANY BYTES each
    * read costs. Recall is bounded above by pq (ADC over the whole
    * corpus — same scoring, no candidate loss) and below by how much
    * the bucket restriction cuts: measured in ann_recall, 0.54 vs
    * pq's 0.56 — bucket pruning cost 1 hit in 50 while scoring ~1/5
    * of the corpus per probe (ivf's exact-cosine 0.88 shows the
    * remaining gap is quantization, not candidates).
    *
    * Bucket ranking happens driver-side over the collected model (the
    * same (ccos DESC, cid ASC) rule as ivfTopK — the model is bounded
    * by construction, probes by the maxProbes guard), so the
    * candidate restriction reaches the scan as a static bucket IN
    * filter. Candidates are encoded on the fly here (encode cost =
    * probed buckets only, so cheaper than a full-corpus pass this op
    * would otherwise pay per query); [[AnnIndex]]-style serving
    * precomputes codes at build time — the ADC arithmetic is
    * identical either way. EAGER: a local relation (q_id, neighbor_id,
    * bucket, adc_dot, rank), ≤ k × probes rows.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                nCentroids: Int, probePred: Column, k: Int,
                m: Int = 8, ksub: Int = 256, dims: Int = 64,
                maxProbes: Long = 100000L, trainSteps: Int = 2,
                nprobe: Int = 3, trainOn: DataFrame = null,
                model: DataFrame = null): DataFrame =
    ProbeTopK.relation(emb.sparkSession, ivfAdcTopK(emb, idCol, vecCol, nCentroids,
      probePred, k, m, ksub, dims, maxProbes, trainSteps, nprobe, trainOn, model,
      "ivfPqTopK", residual = false)._2, LongType, Some("bucket"), "adc_dot")

  /** IVFADC with RESIDUAL encoding — the form the IVFADC literature
    * actually ships (Jégou et al. 2011), and the fix for the failure
    * ann_recall_clustered measured: on clustered corpora the
    * inter-neighbor inner-product gaps WITHIN a bucket fall below the
    * raw-vector codebook's quantization error, and raw-vector ADC
    * recall collapses (0.16 on the clustered probe corpus vs 1.00 for
    * exact-cosine IVF). Encoding the RESIDUAL r = v − centroid(v)
    * spends the whole codebook on within-bucket structure:
    *
    *   ⟨q, v⟩ = ⟨q, c_b⟩ + ⟨q, r⟩  ≈  ⟨q, c_b⟩ + Σ_m lut_q[m][code_m(r)]
    *
    * — the per-(probe, bucket) constant ⟨q, c_b⟩ is exact (nprobe × 1
    * doubles), only the residual is quantized. Same candidate
    * restriction, I/O shape (8-byte codes), and determinism
    * discipline as [[ivfPqTopK]]; the codebook seeds from the
    * residuals of the ksub lowest-id vectors (under their trained
    * buckets), mirroring [[pqCodebook]]'s rule so the oracle can
    * state it. EAGER, like [[ivfPqTopK]]: a local relation (q_id,
    * neighbor_id, bucket, adc_dot, rank), ≤ k × probes rows, adc_dot
    * the constant-plus-residual estimate of ⟨q, v⟩.
    */
  def ivfPqResidualTopK(emb: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int, probePred: Column, k: Int,
                        m: Int = 8, ksub: Int = 256, dims: Int = 64,
                        maxProbes: Long = 100000L, trainSteps: Int = 2,
                        nprobe: Int = 3, model: DataFrame = null): DataFrame =
    ProbeTopK.relation(emb.sparkSession, ivfAdcTopK(emb, idCol, vecCol, nCentroids,
      probePred, k, m, ksub, dims, maxProbes, trainSteps, nprobe, null, model,
      "ivfPqResidualTopK", residual = true)._2, LongType, Some("bucket"), "adc_dot")

  /** The IVFADC ranking [[ivfPqTopK]], [[ivfPqResidualTopK]] and
    * [[ivfPqRerankTopK]] share: an [[IvfPlan]], one ADC LUT per probe,
    * candidates encoded on the fly. `residual` differs only in codebook
    * seed (residuals), encode input (v − c_b) and score offset ⟨q, c_b⟩.
    */
  private def ivfAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
                         nCentroids: Int, probePred: Column, k: Int, m: Int,
                         ksub: Int, dims: Int, maxProbes: Long, trainSteps: Int,
                         nprobe: Int, trainOn: DataFrame, model: DataFrame,
                         caller: String, residual: Boolean)
      : (IvfPlan, Map[Long, Seq[ProbeTopK.Cand]]) = {
    require(m > 0 && dims % m == 0,
      s"$caller: dims ($dims) must split evenly into m ($m) subspaces")
    val dsub = dims / m
    val plan = ivfPlan(emb, idCol, vecCol, nCentroids, probePred, maxProbes,
      trainSteps, nprobe, trainOn, model, caller, ProbeTopK.Collected, onAssignment = false)
    val cm = if (residual) plan.cent.toMap else Map.empty[Long, Array[Double]]
    def minus(v: Array[Double], c: Array[Double]) = Array.tabulate(v.length)(i => v(i) - c(i))
    // a residual seed's bucket: nearestBuckets(v, cent, 1) is assignTo's
    val cb = if (!residual) pqCodebook(emb, idCol, vecCol, m, ksub, dsub)
      else pqCodebook(emb, idCol, vecCol, m, ksub, dsub, "residual",
        v => minus(v, cm(nearestBuckets(v, plan.cent, 1).head)))
    val luts = plan.probes.map(p => adcLutK(p._2, cb, m, ksub, dsub))
    val top = ProbeTopK.topK(plan.candidates, plan.probes, k) { (id, b, r) =>
      val v = r.getArray(2).toDoubleArray()
      pqEncodeK(id, if (residual) minus(v, cm(b)) else v, cb, m, ksub, dsub)
    } { (i, b, code) =>
      // the exact ⟨q, c_b⟩ of the residual form
      if (residual) dotK(plan.probes(i)._2, cm(b)) + adcSumK(luts(i), code, m)
      else adcSumK(luts(i), code, m)
    }
    (plan, top)
  }

  /** IVFADC SHORTLIST + exact re-rank — the two-tier serving shape
    * production ANN systems actually run, and the measured answer to
    * what ann_recall_clustered exposed: within tight clusters the
    * candidates' true score gaps (~1e-3 of vector scale on the
    * clustered probe corpus) fall below ANY 8-16-byte code's
    * quantization error, so single-stage ADC ranking is noise there
    * no matter the codebook (raw 0.16, residual 0.14, residual m=16
    * 0.14) — but ADC is still an excellent SHORTLIST: re-ranking its
    * top-`shortlist` by exact cosine recovers 0.86 at R=50 on the
    * clustered corpus and 0.88 on the uniform one (= the IVF
    * candidate-restriction ceiling).
    *
    * I/O shape per probe: nprobe·(n/nCentroids) 8-byte code reads
    * (tier 1, the ADC scan) + `shortlist` full-vector fetches by id
    * (tier 2, the re-rank) — the two-tier memory hierarchy that lets
    * a 100 TB index keep full vectors in cold storage and codes hot.
    * EAGER: both tiers are [[ProbeTopK.topK]] passes, the second keyed
    * by each probe's shortlisted ids; a local relation (q_id,
    * neighbor_id, cos, rank), ≤ k × probes rows, cos EXACT.
    */
  def ivfPqRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, probePred: Column, k: Int,
                      shortlist: Int = 50, m: Int = 8, ksub: Int = 256,
                      dims: Int = 64, maxProbes: Long = 100000L,
                      trainSteps: Int = 2, nprobe: Int = 3,
                      model: DataFrame = null): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must cover the requested top-k ($k)")
    val (plan, sl) = ivfAdcTopK(emb, idCol, vecCol, nCentroids, probePred,
      shortlist, m, ksub, dims, maxProbes, trainSteps, nprobe, null, model,
      "ivfPqRerankTopK", residual = true)
    val ids = sl.valuesIterator.flatMap(_.map(_._2)).toSeq.distinct.sorted
    val rows = prepared(emb, idCol, vecCol).select(col("vec_id").cast("long").as("vec_id"), col("v"))
      .filter(col("vec_id").isin(ids: _*)).select(col("vec_id"), col("vec_id"), col("v"))
    val top = ProbeTopK.byCosine(rows, plan.probes.collect {
      case (q, qv, _) if sl.contains(q) => (q, qv, sl(q).map(_._2).toArray) }, k)
    ProbeTopK.relation(emb.sparkSession, top, LongType, None, "cos",
      Set("cos").filter(_ => rows.schema("v").nullable))
  }

  /** Recall@k of the approximate ANN paths against the exact
    * brute-force baseline — the TUNING SIGNAL that justifies (or
    * indicts) the banding/centroid parameters: nPlanes/nBands and
    * nCentroids are otherwise asserted correct without ever being
    * measured. For each probe, the exact top-k ([[cosineTopK]]) is the
    * ground truth; IVF's top-k and LSH's threshold-filtered candidate
    * ranking are scored by how many of those they recover. Returns one
    * row per method: (method, n_hits, n_exact, recall) with recall an
    * exact IEEE division of two integer counts — hash-stable across
    * engines.
    *
    * Scale: the metric costs one brute-force pass over the PROBE SET
    * (small by the cosineTopK contract), never the corpus — the same
    * way production ANN recall is measured on a sampled query log.
    */
  def recallAtK(emb: DataFrame, idCol: String, vecCol: String,
                probePred: Column, k: Int, nCentroids: Int,
                nPlanes: Int, nBands: Int, threshold: Double,
                dims: Int = 64, model: DataFrame = null,
                pqM: Int = 8): DataFrame = {
    // the exact baseline is the JOIN SIDE of every method row plus the
    // n_exact denominator — 7 consumers — and a local relation: its
    // brute-force pass runs once, when cosineTopK is called
    val exact = cosineTopK(emb, idCol, vecCol, probePred, k)
      .select(col("q_id"), col("neighbor_id"))
    val pairs = lshPairs(emb, idCol, vecCol, nPlanes, nBands, threshold, dims)
    // LSH emits undirected prefiltered pairs — direct them both ways,
    // keep the probe side, rank within each probe by the exact cosine
    // the re-rank already computed. Exact neighbors whose cosine is
    // below the LSH threshold are unreachable by construction: that
    // loss is precisely what the metric must include.
    val directed = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"), col("cos"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"), col("cos")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // the pair relation's id column is always "vec_id"; restrict it by
    // semi-joining the probe ids derived from the CALLER's relation, so
    // probePred stays written against idCol like every other branch
    val probeIds = emb.filter(probePred)
      .select(col(idCol).cast("long").as("vec_id"))
    val lsh = directed.join(broadcast(probeIds), "vec_id")
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .withColumnRenamed("vec_id", "q_id")
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    def row(method: String, approx: DataFrame): DataFrame =
      approx.select(col("q_id"), col("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(nExact)
        .select(lit(method).as("method"), col("n_hits"), col("n_exact"),
          (col("n_hits").cast("double") / col("n_exact").cast("double"))
            .as("recall"))
    row("ivf", ivfTopK(emb, idCol, vecCol, nCentroids, probePred, k, model = model))
      .unionByName(row("ivfadc", ivfPqTopK(emb, idCol, vecCol, nCentroids,
        probePred, k, m = pqM, dims = dims, model = model)))
      .unionByName(row("ivfadc_res", ivfPqResidualTopK(emb, idCol, vecCol,
        nCentroids, probePred, k, m = pqM, dims = dims, model = model)))
      .unionByName(row("ivfadc_rerank", ivfPqRerankTopK(emb, idCol, vecCol,
        nCentroids, probePred, k, shortlist = 50, m = pqM, dims = dims, model = model)))
      .unionByName(row("lsh", lsh))
      .unionByName(row("pq", pqTopK(emb, idCol, vecCol, probePred, k, m = pqM, dims = dims)))
  }

  /** Symmetric int8 quantization per vector — the storage/compute
    * compression step before shipping embeddings to an ANN index
    * (4× smaller than float32, 8× smaller than the double working
    * form). scale = max|v_i|; q_i = floor((v_i/scale)·127 + 0.5),
    * giving q ∈ [−127, 127] with exact 0 ↔ 0. A zero vector (scale 0)
    * quantizes to all zeros rather than dividing by zero.
    *
    * Returns (vec_id, scale, q: array<bigint>) — a pure Column
    * transform, one narrow map over the corpus. Arithmetic order
    * ((v/s)·127, floor(x+0.5)) is pinned so the DuckDB oracle states
    * the identical expression; reconstruction error is bounded by
    * scale/254 per dimension (asserted in the spec, not the oracle).
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
        asDouble(col(vecCol)).as("__v"))
      .withColumn("scale", scale_of(col("__v")))
      .withColumn("q", int8Of(col("__v"), col("scale")))
      .select("vec_id", "scale", "q")

  /** [[quantizeInt8]]'s codes of the double vector `v` at `scale`. */
  private def int8Of(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => floor(x / scale * 127.0 + 0.5).cast("long")))

  /** max|v_i| of a double-array column (0.0 for empty). */
  private def scale_of(v: Column): Column =
    aggregate(transform(v, x => abs(x)), lit(0.0), (acc, x) => greatest(acc, x))

  /** One Lloyd (k-means) centroid-update step in int8-quantized space —
    * the periodic centroid refresh an IVF index runs as its corpus
    * grows. Assignment is [[ivfAssign]] (deterministic); the new
    * centroid coordinate per (bucket, dimension) is the MEAN OF THE
    * QUANTIZED values: per-dimension sums are exact BIGINTs (no
    * float accumulation-order drift between engines or partitionings),
    * and the final mean is a single exact IEEE division. The shuffle
    * carries (bucket, dim, partial count/sum) with map-side combine;
    * output is nCentroids × dims rows regardless of corpus size.
    * Returns (bucket, dim, n, s, centroid_q).
    */
  def centroidUpdate(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int): DataFrame = {
    val asg = ivfAssign(emb, idCol, vecCol, nCentroids)
    val q = quantizeInt8(emb, idCol, vecCol).select("vec_id", "q")
    q.join(asg, "vec_id")
      .select(col("bucket"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy("bucket", "dim")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .withColumn("centroid_q",
        col("s").cast("double") / col("n").cast("double"))
  }

  // ---- IVF skew instrumentation + sizing rule (VERDICT r12 #8) -----

  /** Bucket-occupancy spread of an IVF assignment — ANN's skew
    * statistic, the analogue of the dedup family's per-task
    * shuffle-read spread: a hot bucket is a hot key (every probe
    * routed to it scans its whole member list, and the bucket's
    * partition is the straggler). One map-side-combined aggregate
    * over (vec_id, bucket); the collect is bounded by the bucket
    * COUNT (= nlist), never the corpus.
    * Returns (nBuckets, maxOcc, medianOcc, maxOverMedian).
    *
    * Caveat: with very few buckets the median degenerates toward the
    * max (at 2 buckets they coincide and the ratio is blind to any
    * imbalance) — the statistic is meaningful at the [[nlistFor]]
    * floor of 16 buckets and above, which every real index satisfies.
    */
  def bucketSpread(assign: DataFrame): (Int, Long, Long, Double) = {
    val occ = assign.groupBy("bucket").agg(count(lit(1)).as("n"))
      .select(col("n").cast("long")).collect().map(_.getLong(0)).sorted
    if (occ.isEmpty) (0, 0L, 0L, Double.NaN)
    else {
      val mx = occ.last; val med = occ(occ.length / 2)
      (occ.length, mx, med,
        if (med > 0) mx.toDouble / med else Double.NaN)
    }
  }

  /** Spread above which an IVF layout needs rebalancing (SCALING.md
    * §ANN-skew): past ~8× max/median the hottest bucket dominates
    * probe latency (nprobe buckets per probe ⇒ one 8×-sized bucket
    * ≈ the whole rest of the probe set) and its partition dominates
    * relayout tasks. The remedies, in preference order: another
    * Lloyd step (training balances occupancy — measured on the
    * clustered corpus, seed assignment is the pathological case),
    * then scaling nlist with the corpus ([[nlistFor]]) so mean
    * occupancy stays bounded as n grows.
    */
  val MaxBucketSpread: Double = 8.0
  def needsRebalance(maxOverMedian: Double): Boolean =
    !maxOverMedian.isNaN && maxOverMedian > MaxBucketSpread

  /** nlist sizing rule: k = √n (clamped to [16, 65536]) holds probe
    * cost (nprobe · n/k members scored) and centroid-scan cost (k
    * centroids ranked per probe) at the same √n growth — the
    * standard IVF balance point; a FIXED k turns probe cost linear
    * in n once n ≫ k². The gate corpora sit at the 16 floor
    * (n ≤ 20k ⇒ √n ≤ 141 but the trained-model rows pin 16 for
    * oracle stability); a 10⁹-vector shard sizes to k ≈ 31623.
    */
  def nlistFor(n: Long): Int =
    math.min(65536L, math.max(16L, math.round(math.sqrt(n.toDouble)))).toInt
}
