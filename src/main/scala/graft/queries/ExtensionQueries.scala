package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.Parity
import graft.io.Sources.table
import graft.ops.{Corpus, Dedup, Multimodal, Similarity, TextOps}

/** LLM-training-data-pipeline operators (beyond the reference surface;
  * see the build brief + SURVEY.md §7.5): text analysis, JSON prop
  * extraction, exact/near dedup (Jaccard, MinHash+LSH, SimHash,
  * embedding cosine), ANN search, multimodal plumbing.
  *
  * The MinHash/SimHash/LSH oracle SQL is GENERATED from the same
  * deterministic coefficients the Spark operators use, so both engines
  * evaluate the identical hash family.
  */
object ExtensionQueries {

  private val md5_60Sql = (x: String) =>
    s"('0x' || substring(md5($x),1,15))::BIGINT"

  /** Distinct word-trigram CTE over documents (mirrors Dedup.gramTable). */
  private val gramsCte =
    """tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
      |grams AS (SELECT DISTINCT doc_id, g FROM tok,
      |  UNNEST(list_transform(range(1, greatest(len(t)-2,0)+1),
      |                        i -> array_to_string(t[i:i+2], ' '))) AS u(g))""".stripMargin

  /** [[gramsCte]] plus the document-frequency cap (mirrors
    * Dedup.cappedGrams: grams in more than DefaultMaxDf docs are
    * boilerplate and removed from every doc's gram set before sizes
    * and candidate generation — the 100-TB fan-out guard).
    */
  private val cappedGramsCte =
    s"""$gramsCte,
       |cgrams AS (SELECT doc_id, g FROM (
       |  SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM grams)
       |  WHERE df <= ${graft.ops.Dedup.DefaultMaxDf})""".stripMargin

  /** Normalized embeddings CTE: double vectors + norms (sequential
    * folds — same accumulation order as the Spark side). */
  private val embCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin

  /** CLUSTERED embeddings CTE (VERDICT r11 #6): the shipped
    * embeddings are near-uniform on the sphere (exact top-5 cosines
    * ~0.33), so recall numbers measured on them do not transfer to
    * real corpora, whose embeddings cluster. This derives a
    * deterministic mixture IN-QUERY from the same table — cluster
    * c = vec_id % 8, center[c][d] = ((c*37 + d*11) % 19 - 9) / 9,
    * v' = 0.25*v + center[c] — so both engines compute the identical
    * clustered corpus with integer arithmetic, one exact power-of-two
    * scale, and one IEEE division per element (bit-identical, no new
    * data files, works at every sf).
    */
  private val embClusteredCte =
    """e0 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v0 FROM embeddings),
      |e AS (SELECT vec_id,
      |  list_transform(range(1, len(v0) + 1), i ->
      |    v0[CAST(i AS INTEGER)] * 0.25::DOUBLE +
      |    CAST(((vec_id % 8) * 37 + (CAST(i AS BIGINT) - 1) * 11) % 19 - 9 AS DOUBLE) / 9.0::DOUBLE) AS v
      |  FROM e0),
      |n AS (SELECT vec_id, v,
      |  sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin

  /** DuckDB's NATIVE inner product over the DOUBLE-cast lists —
    * bit-identical to the engine side's sequential double
    * accumulation (verified empirically against the Spark dump at
    * sf0.01 before the r11 swap), and ~1000× the
    * list_reduce/list_transform lambda it replaced (2×10⁸64-d pairs:
    * ~13 s vs the r8-measured > 40 min kill) — the swap is what made
    * the exact-cosine baseline oracle feasible at sf1.
    */
  private def dotSql(a: String, b: String) =
    s"list_inner_product($a, $b)"

  private val stopSql =
    "len(list_filter(string_split(text,' '), w -> w IN ('the','a')))"
  private val ntokSql = "len(string_split(text,' '))"

  /** IVF centroid count for the ann_ivf family — 16 trained buckets
    * measured the best recall/pruning point on this corpus
    * (recall@5 0.88 at ~n/5 candidates per query with nprobe=3). */
  private val NCENT_IVF = 16

  /** The trained-IVF model as oracle CTEs, mirroring
    * [[Similarity.trainedCentroids]] (2 quantized Lloyd steps)
    * followed by the full-corpus assignment: `t` is the TRAINING
    * subset (the serving index may be built on yesterday's corpus —
    * ann_ivf_appended trains on the 90% base), `centv` the final
    * (cid, cv, cnrm) model, `asg` every vector's bucket under it.
    * Per-(bucket,dim) sums are exact BIGINTs and the mean one IEEE
    * division, so the trained model is bit-identical across engines.
    */
  private def ivfTrainedCtes(trainWhere: String): String = {
    def asgStep(name: String, src: String, centRel: String) =
      s"""$name AS (SELECT vec_id, bucket FROM (
         |  SELECT a.vec_id, c.cid AS bucket, row_number() OVER (
         |    PARTITION BY a.vec_id
         |    ORDER BY ${dotSql("a.v", "c.cv")} / (a.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM $src a CROSS JOIN $centRel c) WHERE rn = 1)""".stripMargin
    def lloydStep(mName: String, cName: String, asgRel: String) =
      s"""$mName AS (SELECT a.bucket, CAST(r.i AS INTEGER) - 1 AS dim,
         |    qd.qv[CAST(r.i AS INTEGER)] AS x
         |  FROM qd JOIN $asgRel a USING (vec_id),
         |    UNNEST(range(1, len(qd.qv) + 1)) AS r(i)),
         |$cName AS (SELECT cid, cv,
         |    sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cnrm
         |  FROM (SELECT bucket AS cid,
         |      list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY dim) AS cv
         |    FROM (SELECT bucket, dim, SUM(x) AS s, COUNT(*) AS cnt
         |      FROM $mName GROUP BY 1, 2) GROUP BY bucket))""".stripMargin
    s"""t AS (SELECT vec_id, v, nrm FROM n WHERE $trainWhere),
       |cent0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM t
       |  WHERE vec_id IN (SELECT vec_id FROM t ORDER BY vec_id LIMIT $NCENT_IVF)),
       |scl AS (SELECT vec_id,
       |    list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) AS scale
       |  FROM t),
       |qd AS (SELECT t.vec_id,
       |    CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0::BIGINT)
       |         ELSE list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
       |    END AS qv
       |  FROM t JOIN scl ON t.vec_id = scl.vec_id),
       |${asgStep("asg0", "t", "cent0")},
       |${lloydStep("m1", "c1", "asg0")},
       |${asgStep("asg1", "t", "c1")},
       |${lloydStep("m2", "centv", "asg1")},
       |${asgStep("asg", "n", "centv")}""".stripMargin
  }

  /** Shared oracle body for the ann_ivf family — trained model +
    * multi-probe (each probe searches its 3 nearest buckets by
    * centroid cosine; rank 1 is its own bucket). The persisted index
    * must be byte-identical to the direct computation, so ann_ivf and
    * ann_ivf_indexed state the same SQL; appended/relayout state it
    * with the 90% training subset, and ann_ivf_rebalanced states it
    * over the CLUSTERED corpus with the full member set as the
    * training subset (the rebuilt model).
    */
  private def annIvfSql(trainWhere: String): String =
    annIvfSqlOn(embCte, trainWhere)

  private def annIvfSqlOn(emb: String, trainWhere: String): String =
    s"""WITH $emb,
       |${ivfTrainedCtes(trainWhere)},
       |qb AS (SELECT q_id, bucket FROM (
       |  SELECT p.vec_id AS q_id, c.cid AS bucket, row_number() OVER (
       |    PARTITION BY p.vec_id
       |    ORDER BY ${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n p CROSS JOIN centv c
       |  WHERE p.vec_id BETWEEN 100 AND 109) WHERE rn <= 3),
       |scored AS (SELECT qb.q_id, m.vec_id AS neighbor_id,
       |    ma.bucket AS bucket,
       |    ${dotSql("p.v", "m.v")} / (p.nrm * m.nrm) AS cos
       |  FROM qb JOIN n p ON p.vec_id = qb.q_id
       |  JOIN asg ma ON ma.bucket = qb.bucket
       |  JOIN n m ON m.vec_id = ma.vec_id
       |  WHERE m.vec_id <> qb.q_id)
       |SELECT q_id, neighbor_id, bucket, cos, rank FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ---- generated MinHash SQL (coefficients shared with Dedup) ----
  private val K = graft.ops.DedupIndex.SigK
  private val BandSize = graft.ops.DedupIndex.SigBandSize
  private val coeffs = Dedup.hashCoeffs(K)
  private[queries] val minhashSigSql: String = {
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h + $b) % ${Dedup.P}) AS s$i"
    }.mkString(",\n    ")
    s"""gh AS (SELECT doc_id, ${md5_60Sql("g")} % ${Dedup.P} AS h FROM grams),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM gh GROUP BY doc_id)""".stripMargin
  }
  private[queries] val minhashBandsSql: String = {
    val bands = (0 until K / BandSize).map { bIdx =>
      val key = (bIdx * BandSize until (bIdx + 1) * BandSize)
        .map(i => s"s$i").mkString("::VARCHAR || ',' || ")
      s"SELECT doc_id, $bIdx AS band_idx, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"bands AS (\n  $bands)"
  }
  private[queries] val minhashEstSql: String =
    "CAST(" + (0 until K).map(i =>
      s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ") +
      s" AS DOUBLE) / $K"

  // ---- generated SimHash SQL (60 bits, tf-weighted votes) ----
  private val simhashCsSql: String = (0 until 60).map { j =>
    s"SUM(CASE WHEN (h & ${1L << j}) <> 0 THEN 1 ELSE -1 END) AS c$j"
  }.mkString(",\n    ")
  private val simhashFpSql: String = (0 until 60).map { j =>
    s"CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END"
  }.mkString(" + ")

  // ---- generated sign-LSH SQL (hyperplanes shared with Similarity) ----
  private val NPLANES = 16
  private val NBANDS = 2
  private val planes = Similarity.hyperplanes(NPLANES, 64)
  private val lshBitsSql: String = planes.zipWithIndex.map { case (w, j) =>
    val lst = w.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"CASE WHEN list_reduce(list_transform(range(1,65), i -> v[i] * ($lst)[i]), (x,y) -> x+y) > 0 THEN 1 ELSE 0 END AS bit$j"
  }.mkString(",\n    ")
  private def lshBandsSqlFor(nBands: Int): String = {
    val perBand = NPLANES / nBands
    (0 until nBands).map { bIdx =>
      val key = (0 until perBand).map(i =>
        s"bit${bIdx * perBand + i} * ${1L << i}").mkString(" + ")
      s"SELECT vec_id, $bIdx AS band_idx, $key AS band_key FROM bits"
    }.mkString("\n  UNION ALL ")
  }
  private val lshBandsSql: String = lshBandsSqlFor(NBANDS)

  // ---- generated HTML-extraction SQL (patterns shared with TextOps) ----
  private def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
  /** The extraction pipeline as one DuckDB expression over a column
    * named `html` — generated from the SAME pattern/entity constants
    * the Spark expression folds, so the two engines can never drift.
    * DuckDB needs the explicit 'g' option where Java replaces all
    * matches by default.
    */
  private val htmlExtractSql: String = {
    val noBlocks = s"regexp_replace(regexp_replace(html, ${sqlLit(TextOps.ScriptRe)}, ' ', 'g'), ${sqlLit(TextOps.StyleRe)}, ' ', 'g')"
    val noTags = s"regexp_replace($noBlocks, ${sqlLit(TextOps.TagRe)}, ' ', 'g')"
    val decoded = TextOps.HtmlEntities.foldLeft(noTags) { case (c, (e, r)) =>
      s"regexp_replace($c, ${sqlLit(e)}, ${sqlLit(r)}, 'g')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }
  /** The HTML wrapper both engines build around each document —
    * script + style blocks, nested tags, and every entity in the
    * decode table, so the extraction exercises all its stages.
    */
  private val htmlPrefix = "<html><head><style>p {color: red}</style>" +
    "<script type=\"text/javascript\">var x = 1 &amp;&amp; 2;</script>" +
    "</head><body><h1>Doc "
  private val htmlMid = "</h1><p>"
  private val htmlSuffix =
    " &amp; more &lt;markup&gt;&nbsp;&quot;here&quot;</p><br/></body></html>"

  /** The cluster family's trigram Jaccard ≥ 0.6 lexical edge
    * (dedup_cluster, dedup_near_corpus, dedup_multi_signal) with the
    * given [[Dedup.jaccardPairs]] candidate stage: "auto" is the
    * family's DEFAULT — on the gate corpora it lands on BANDED at every
    * graded scale (28–253 predicted candidates/doc vs the 8/doc budget;
    * the fixed 31-word vocabulary saturates immediately), so the static
    * oracles state the banded edge — and "gram" the recall-lossless
    * baseline of the _exact/_recall_tune rows. One eager
    * localCheckpoint per (application, sf dir, stage) materializes the
    * (doc_a, doc_b) edge list once: a pair relation IS a pipeline
    * artifact, written once and consumed by clustering, representative
    * election, and reporting alike. Keyed like DedupIndex's cache so a
    * new application rebuilds.
    */
  private val pairCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.DataFrame]()
  private def lexicalEdge(s: org.apache.spark.sql.SparkSession, dir: String,
                          candidates: String): org.apache.spark.sql.DataFrame =
    pairCache.computeIfAbsent((s.sparkContext.applicationId, dir, candidates), _ =>
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text", 3, 0.6,
          candidates)
        .select("doc_a", "doc_b").localCheckpoint(true))

  /** The daily-ingest split of the incremental dedup rows: (batch =
    * doc_id % 5 == 0, standing corpus = the rest).
    */
  private def dailySplit(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = table(s, dir, "documents")
    val inBatch = pmod(col("doc_id"), lit(5)) === 0
    (docs.filter(inBatch), docs.filter(!inBatch))
  }

  /** Banded-edge CTE block shared by the cluster family's oracles
    * (dedup_cluster, dedup_cluster_banded, dedup_near_corpus):
    * MinHash-banded candidates verified by exact df-capped Jaccard —
    * the SQL mirror of [[Dedup.jaccardPairs]]' "banded" edge. Ends with
    * `jac(da, db)`, the ≥ 0.6 edge relation.
    */
  private lazy val bandedJacCtes: String =
    s"""$minhashSigSql,
       |$minhashBandsSql,
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  WHERE a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM cgrams GROUP BY 1),
       |inter AS (SELECT c.da, c.db, COUNT(*) AS ni
       |  FROM cand c JOIN cgrams a ON a.doc_id = c.da
       |  JOIN cgrams b ON b.doc_id = c.db AND b.g = a.g
       |  GROUP BY 1, 2),
       |jac AS (SELECT da, db
       |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
       |  WHERE CAST(ni AS DOUBLE) / CAST(sa.nn + sb.nn - ni AS DOUBLE) >= 0.6::DOUBLE)""".stripMargin

  /** Transitive-closure + component CTEs over `jac`, shared by every
    * cluster-family oracle; ends with `comp(node, component)`.
    */
  private val closureCtes: String =
    """und AS (SELECT da AS u, db AS v FROM jac UNION SELECT db, da FROM jac),
      |reach AS (
      |  SELECT u, v FROM und
      |  UNION
      |  SELECT r.u, d.v FROM reach r JOIN und d ON r.v = d.u),
      |comp AS (SELECT u AS node, least(u, min(v)) AS component
      |  FROM reach GROUP BY u)""".stripMargin

  /** The banded daily-ingest dedup oracle (batch = doc_id % 5 == 0,
    * corpus = the rest): in-batch exact winners, fingerprint anti
    * join vs corpus text, batch-vs-corpus near-dup candidates from
    * the MinHash band equi-join with membership by MinHash estimate
    * ≥ 0.5. Shared by dedup_incremental (whose auto rule lands on
    * BANDED at every graded scale — the fixed-vocab gate corpora
    * saturate gram space immediately, same adjudication as
    * dedup_cluster's static oracle), dedup_incremental_banded (the
    * explicit form), and the indexed/bloom rows (byte-identical
    * through the persisted sigs/ relation).
    */
  private lazy val incrementalBandedSql: String =
    s"""WITH $gramsCte,
       |$minhashSigSql,
       |$minhashBandsSql,
       |cand AS (SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
       |hits AS (SELECT DISTINCT bid FROM cand
       |  JOIN sig sa ON sa.doc_id = bid JOIN sig sb ON sb.doc_id = cid
       |  WHERE $minhashEstSql >= 0.5),
       |b1 AS (SELECT doc_id, n_chars, text FROM (
       |    SELECT doc_id, n_chars, text, row_number() OVER (
       |      PARTITION BY ${md5_60Sql("lower(trim(text))")} ORDER BY doc_id) AS rn
       |    FROM documents WHERE doc_id % 5 = 0) WHERE rn = 1),
       |b2 AS (SELECT doc_id, n_chars FROM b1
       |  WHERE ${md5_60Sql("lower(trim(text))")} NOT IN (
       |    SELECT ${md5_60Sql("lower(trim(text))")}
       |    FROM documents WHERE doc_id % 5 <> 0))
       |SELECT doc_id, n_chars FROM b2
       |WHERE doc_id NOT IN (SELECT bid FROM hits)
       |ORDER BY doc_id""".stripMargin

  /** Shared oracle for the ann_ivf_pq family — trained model +
    * multi-probe bucketing + PQ encode + ADC scoring, parameterized
    * by the subspace count m (dsub = 64/m): ann_ivf_pq and
    * ann_ivf_pq_indexed state it at m=8 (the persisted-codes probe
    * must be byte-identical to the direct computation, so both state
    * the same SQL), ann_ivf_pq_m16 at m=16.
    */
  private def annIvfPqSqlFor(m: Int): String = {
    val dsub = 64 / m
    s"""WITH $embCte,
       |${ivfTrainedCtes("TRUE")},
       |qb AS (SELECT q_id, bucket FROM (
       |  SELECT p.vec_id AS q_id, c.cid AS bucket, row_number() OVER (
       |    PARTITION BY p.vec_id
       |    ORDER BY ${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n p CROSS JOIN centv c
       |  WHERE p.vec_id BETWEEN 100 AND 109) WHERE rn <= 3),
       |sub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    v[CAST(r.m*$dsub+1 AS INTEGER):CAST(r.m*$dsub+$dsub AS INTEGER)] AS sv
       |  FROM e, UNNEST(range(0, $m)) AS r(m)),
       |cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 256),
       |dist AS (SELECT s.vec_id, s.m, c.cid,
       |    list_reduce(list_transform(range(1, ${dsub + 1}),
       |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
       |  FROM sub s JOIN cb c USING (m)),
       |codes AS (SELECT vec_id, m, cid FROM (
       |  SELECT vec_id, m, cid, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
       |  FROM dist) WHERE rn = 1),
       |md AS (SELECT qb.q_id, c.vec_id AS neighbor_id, ma.bucket, c.m,
       |    list_reduce(list_transform(range(1, ${dsub + 1}),
       |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
       |  FROM qb JOIN asg ma ON ma.bucket = qb.bucket
       |  JOIN codes c ON c.vec_id = ma.vec_id
       |  JOIN cb b ON b.m = c.m AND b.cid = c.cid
       |  JOIN sub q ON q.m = c.m AND q.vec_id = qb.q_id
       |  WHERE c.vec_id <> qb.q_id),
       |scored AS (SELECT q_id, neighbor_id, bucket,
       |    list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc_dot
       |  FROM md GROUP BY q_id, neighbor_id, bucket)
       |SELECT q_id, neighbor_id, bucket, adc_dot, rank FROM (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc_dot DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin
  }
  private lazy val annIvfPqSql: String = annIvfPqSqlFor(8)

  /** Oracle for ann_ivf_pq_residual — IVFADC with RESIDUAL encoding
    * (Jegou et al. 2011's actual form): codes quantize r = v −
    * centroid(v), scores are the exact per-(probe, bucket) constant
    * ⟨q, c_b⟩ plus the residual ADC sum. The residual codebook seeds
    * from the residuals of the 256 lowest-id vectors under their
    * trained buckets — the same seeding rule as the raw-vector family,
    * stated over the residual relation.
    */
  private lazy val annIvfPqResidualSql: String =
    s"""WITH $embCte,
       |${ivfTrainedCtes("TRUE")},
       |qb AS (SELECT q_id, bucket FROM (
       |  SELECT p.vec_id AS q_id, c.cid AS bucket, row_number() OVER (
       |    PARTITION BY p.vec_id
       |    ORDER BY ${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n p CROSS JOIN centv c
       |  WHERE p.vec_id BETWEEN 100 AND 109) WHERE rn <= 3),
       |res AS (SELECT n.vec_id,
       |    list_transform(range(1, 65),
       |      i -> n.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS rv
       |  FROM n JOIN asg a USING (vec_id) JOIN centv c ON c.cid = a.bucket),
       |rsub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    rv[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
       |  FROM res, UNNEST(range(0, 8)) AS r(m)),
       |rcb AS (SELECT m, vec_id AS cid, sv AS cv FROM rsub WHERE vec_id < 256),
       |rdist AS (SELECT s.vec_id, s.m, c.cid,
       |    list_reduce(list_transform(range(1, 9),
       |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
       |  FROM rsub s JOIN rcb c USING (m)),
       |rcodes AS (SELECT vec_id, m, cid FROM (
       |  SELECT vec_id, m, cid, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
       |  FROM rdist) WHERE rn = 1),
       |qsv AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    v[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
       |  FROM e, UNNEST(range(0, 8)) AS r(m)
       |  WHERE vec_id BETWEEN 100 AND 109),
       |qc AS (SELECT qb.q_id, qb.bucket, ${dotSql("p.v", "c.cv")} AS qdotc
       |  FROM qb JOIN n p ON p.vec_id = qb.q_id
       |  JOIN centv c ON c.cid = qb.bucket),
       |md AS (SELECT qb.q_id, c.vec_id AS neighbor_id, ma.bucket, c.m,
       |    list_reduce(list_transform(range(1, 9),
       |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
       |  FROM qb JOIN asg ma ON ma.bucket = qb.bucket
       |  JOIN rcodes c ON c.vec_id = ma.vec_id
       |  JOIN rcb b ON b.m = c.m AND b.cid = c.cid
       |  JOIN qsv q ON q.m = c.m AND q.vec_id = qb.q_id
       |  WHERE c.vec_id <> qb.q_id),
       |scored AS (SELECT md.q_id, md.neighbor_id, md.bucket,
       |    MAX(qc.qdotc) + list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc_dot
       |  FROM md JOIN qc ON qc.q_id = md.q_id AND qc.bucket = md.bucket
       |  GROUP BY md.q_id, md.neighbor_id, md.bucket)
       |SELECT q_id, neighbor_id, bucket, adc_dot, rank FROM (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc_dot DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Oracle for ann_ivf_pq_rerank — the residual-ADC SHORTLIST
    * (top 50 by adc_dot) re-ranked by EXACT cosine, top 3 kept. The
    * shortlist CTEs are the ann_ivf_pq_residual chain verbatim; the
    * re-rank states the same dot/(nrm*nrm) cosine as every exact
    * path.
    */
  private lazy val annIvfPqRerankSql: String =
    s"""WITH $embCte,
       |${ivfTrainedCtes("TRUE")},
       |qb AS (SELECT q_id, bucket FROM (
       |  SELECT p.vec_id AS q_id, c.cid AS bucket, row_number() OVER (
       |    PARTITION BY p.vec_id
       |    ORDER BY ${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) DESC, c.cid) AS rn
       |  FROM n p CROSS JOIN centv c
       |  WHERE p.vec_id BETWEEN 100 AND 109) WHERE rn <= 3),
       |res AS (SELECT n.vec_id,
       |    list_transform(range(1, 65),
       |      i -> n.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS rv
       |  FROM n JOIN asg a USING (vec_id) JOIN centv c ON c.cid = a.bucket),
       |rsub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    rv[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
       |  FROM res, UNNEST(range(0, 8)) AS r(m)),
       |rcb AS (SELECT m, vec_id AS cid, sv AS cv FROM rsub WHERE vec_id < 256),
       |rdist AS (SELECT s.vec_id, s.m, c.cid,
       |    list_reduce(list_transform(range(1, 9),
       |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
       |  FROM rsub s JOIN rcb c USING (m)),
       |rcodes AS (SELECT vec_id, m, cid FROM (
       |  SELECT vec_id, m, cid, row_number() OVER (
       |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
       |  FROM rdist) WHERE rn = 1),
       |qsv AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
       |    v[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
       |  FROM e, UNNEST(range(0, 8)) AS r(m)
       |  WHERE vec_id BETWEEN 100 AND 109),
       |qc AS (SELECT qb.q_id, qb.bucket, ${dotSql("p.v", "c.cv")} AS qdotc
       |  FROM qb JOIN n p ON p.vec_id = qb.q_id
       |  JOIN centv c ON c.cid = qb.bucket),
       |md AS (SELECT qb.q_id, c.vec_id AS neighbor_id, ma.bucket, c.m,
       |    list_reduce(list_transform(range(1, 9),
       |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
       |  FROM qb JOIN asg ma ON ma.bucket = qb.bucket
       |  JOIN rcodes c ON c.vec_id = ma.vec_id
       |  JOIN rcb b ON b.m = c.m AND b.cid = c.cid
       |  JOIN qsv q ON q.m = c.m AND q.vec_id = qb.q_id
       |  WHERE c.vec_id <> qb.q_id),
       |short AS (SELECT q_id, neighbor_id FROM (
       |  SELECT q_id, neighbor_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY adc_dot DESC, neighbor_id) AS rank
       |  FROM (SELECT md.q_id, md.neighbor_id, md.bucket,
       |      MAX(qc.qdotc) + list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc_dot
       |    FROM md JOIN qc ON qc.q_id = md.q_id AND qc.bucket = md.bucket
       |    GROUP BY md.q_id, md.neighbor_id, md.bucket)) WHERE rank <= 50)
       |SELECT q_id, neighbor_id, cos, rank FROM (
       |  SELECT s.q_id, s.neighbor_id,
       |    ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC,
       |        s.neighbor_id) AS rank
       |  FROM short s JOIN n a ON a.vec_id = s.q_id
       |  JOIN n b ON b.vec_id = s.neighbor_id) WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** The trained IVF model shared by ann_ivf / ann_ivf_pq /
    * ann_recall — one (application, sf dir) trains ONCE
    * ([[Similarity.trainedCentroids]], 16 centroids × 2 quantized
    * Lloyd steps) and every consumer probes against the cached
    * relation, exactly as a serving deployment trains an index model
    * once and reuses it per query (the persisted-index twins already
    * do this through the index's stored centroids/). Keyed like the
    * pair cache so a new application retrains.
    */
  /** Spark side of [[embClusteredCte]]: the identical deterministic
    * mixture transform over the shipped embeddings — 0-based element
    * index here vs DuckDB's 1-based (i - 1). Elements are double;
    * every downstream op casts-to-double idempotently.
    */
  private[graft] def clusteredEmb(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    table(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), (x, i) =>
        x.cast("double") * lit(0.25) +
          ((((col("vec_id") % 8) * 37 + i * 11) % 19) - 9).cast("double")
            / lit(9.0)).as("embedding"))

  private val modelCacheClustered =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.DataFrame]()
  private def ivfModelClustered(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    modelCacheClustered.computeIfAbsent((s.sparkContext.applicationId, dir), _ =>
      Similarity.trainedCentroids(clusteredEmb(s, dir),
        "vec_id", "embedding", NCENT_IVF, steps = 2).localCheckpoint(true))

  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.DataFrame]()
  private def ivfModel(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame =
    modelCache.computeIfAbsent((s.sparkContext.applicationId, dir), _ =>
      Similarity.trainedCentroids(table(s, dir, "embeddings"),
        "vec_id", "embedding", NCENT_IVF, steps = 2).localCheckpoint(true))

  /** The 3-round BPE ENCODE oracle block shared by text_bpe_apply and
    * pack_tokenized: t0 = whitespace-normal corpus, each (pc_i, m_i)
    * pair elects round i's merge over the current rewrite, each t_i
    * applies it with the space-doubled literal rewrite (byte-identical
    * greedy semantics to the trainer). Ends at `t3 (doc_id, txt)`,
    * the fully-encoded corpus.
    */
  private lazy val bpeApplyCtes: String = {
    def pairCtes(i: Int, src: String) =
      s"""tok$i AS (SELECT string_split(txt, ' ') AS ts FROM $src),
         |pc$i AS (SELECT ts[CAST(u.i AS INTEGER)] AS l_tok,
         |    ts[CAST(u.i + 1 AS INTEGER)] AS r_tok, COUNT(*) AS n_pairs
         |  FROM tok$i, UNNEST(range(1, greatest(len(ts)-1,0)+1)) AS u(i)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT l_tok, r_tok, n_pairs FROM pc$i
         |  ORDER BY n_pairs DESC, l_tok, r_tok LIMIT 1)""".stripMargin
    def mergeCte(i: Int, src: String) =
      s"""t$i AS (SELECT doc_id, trim(regexp_replace(replace(
         |    ' ' || replace(txt, ' ', '  ') || ' ',
         |    ' ' || m$i.l_tok || '  ' || m$i.r_tok || ' ',
         |    ' ' || m$i.l_tok || '+' || m$i.r_tok || ' '),
         |    ' +', ' ', 'g')) AS txt
         |  FROM $src CROSS JOIN m$i)""".stripMargin
    s"""t0 AS (SELECT doc_id,
       |    regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS txt
       |  FROM documents),
       |${pairCtes(1, "t0")},
       |${mergeCte(1, "t0")},
       |${pairCtes(2, "t1")},
       |${mergeCte(2, "t1")},
       |${pairCtes(3, "t2")},
       |${mergeCte(3, "t2")}""".stripMargin
  }

  /** The 3-round BPE merge table shared by text_bpe_apply and
    * pack_tokenized — trained ONCE per (application, corpus), like
    * [[ivfModel]]: the tokenizer is pipeline metadata, not a
    * per-query cost. Fails loudly if the corpus exhausts before 3
    * merges (both consumers' oracles unroll exactly 3 CTEs — an
    * empty m3 would CROSS-JOIN their working relations to zero
    * rows, a confusing full-table mismatch).
    */
  private val bpeMergesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[(String, String)]]()
  private def bpeMerges3(s: org.apache.spark.sql.SparkSession,
                         dir: String): Seq[(String, String)] =
    bpeMergesCache.computeIfAbsent((s.sparkContext.applicationId, dir), _ => {
      val m = graft.ops.Corpus.bpeTrain(table(s, dir, "documents"),
          "doc_id", "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      require(m.size == 3,
        s"bpeMerges3: corpus exhausted after ${m.size} merge round(s); " +
          "the 3-round oracles do not apply")
      m
    })

  /** Band count for the DEFAULT multi-signal semantic edge: 2 bands
    * whose key width is derived from the corpus count
    * ([[Similarity.autoBandBits]] — 8-bit floor, growing with
    * log₂ n). At every gate scale the derived width is the 8-bit
    * floor, so 2 bands × 8 bits = the 16 fixed oracle hyperplanes.
    */
  private val NBANDS_AUTO = 2

  /** Bands for the RECALL-TUNED composed dedup: more, narrower bands
    * (4×4 bits vs the default's 2×8) trade candidate volume for
    * recall. SCALE LABEL (SCALING.md §3): 4-bit band keys are a
    * small-corpus recall tune — 16 buckets per band make candidates
    * ~n²/512, 20.6× wall at 10× data; the auto-banded default sizes
    * key bits with log₂ n instead.
    */
  private val NBANDS_MS = 4

  /** The multi-signal dedup oracle, parameterized by the semantic
    * edge's band count (the hyperplanes are fixed — nBands only
    * decides how the 16 bits split into band keys). Shared by
    * dedup_multi_signal (auto-banded default — 2×8 bits at gate
    * scales) and dedup_multi_signal_recall_tune (4×4-bit small-corpus
    * recall tune).
    */
  /** Min-label connected components as a BOUNDED unroll (no RECURSIVE
    * CTE): per round each node keeps its label, hooks every
    * neighbor's label, and jumps to its current label's label —
    * pointer-jumping, so covered diameter roughly doubles per round.
    * 16 rounds reach ~2^16 — sized by the r11 sf1 probe, where the
    * 8-bit-band semantic edge over 20k unclustered vectors chains
    * components past diameter 32 and a 5-round unroll failed the
    * compare with an off-by-one-hop label. Replaces the recursive
    * closure the r8 sf1 probe measured at > 48 min / > 30 GB — the
    * fixpoint materialized full (u, reachable-v) REACHABILITY,
    * quadratic per cluster, where label propagation carries one label
    * per node per round. Compare-safe by construction: an unconverged
    * label is strictly greater than the true component min, so it can
    * only FAIL the hash compare against Spark's exact pointer-jumping
    * components, never falsely pass.
    */
  private def unrolledComponentsCtes(rounds: Int): String = {
    // every l_i is referenced 3x by l_{i+1}: MATERIALIZED is
    // load-bearing — inlined, the unroll re-plans the whole upstream
    // pipeline 3^rounds times (observed as DuckDB exhausting file
    // handles re-opening the parquet scans)
    val l0 = """l0 AS MATERIALIZED (SELECT u, LEAST(u, MIN(v)) AS lab
               |  FROM und GROUP BY u)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT x.u, MIN(x.lab) AS lab FROM (
         |    SELECT l.u, l.lab FROM l${i - 1} l
         |    UNION ALL
         |    SELECT e.u, l.lab FROM und e JOIN l${i - 1} l ON l.u = e.v
         |    UNION ALL
         |    SELECT a.u, b.lab FROM l${i - 1} a JOIN l${i - 1} b ON b.u = a.lab
         |  ) x GROUP BY x.u)""".stripMargin
    }
    (l0 +: steps).mkString(",\n")
  }

  private def multiSignalSql(nBands: Int,
                             bandedLexical: Boolean = false): String = {
    // the lexical edge's CTE block, ending with jac(da, db): the
    // MinHash-banded + exact-verify relation (what the auto rule
    // selects on the gate corpora — mirrors dedup_cluster's oracle)
    // or the exact gram equi-join (the recall-lossless small-corpus
    // branch the _recall_tune twin keeps)
    val lexicalCtes =
      if (bandedLexical) bandedJacCtes
      else
        s"""sizes AS (SELECT doc_id, COUNT(*) AS n FROM cgrams GROUP BY 1),
           |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
           |  FROM cgrams a JOIN cgrams b USING (g)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
           |jac AS (SELECT da, db
           |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
           |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6::DOUBLE)""".stripMargin
    s"""WITH $cappedGramsCte,
       |$lexicalCtes,
       |$embCte,
       |bits AS (SELECT vec_id, v, nrm,
       |    $lshBitsSql
       |  FROM n),
       |lbands AS (
       |  ${lshBandsSqlFor(nBands)}),
       |candc AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM lbands a JOIN lbands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  WHERE a.vec_id < b.vec_id),
       |cose AS (SELECT ia AS da, ib AS db
       |  FROM candc JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib
       |  WHERE ${dotSql("na.v", "nb.v")} / (na.nrm * nb.nrm) >= 0.4::DOUBLE),
       |allp AS (SELECT da, db FROM jac UNION SELECT da, db FROM cose),
       |und AS MATERIALIZED (
       |  SELECT da AS u, db AS v FROM allp UNION SELECT db, da FROM allp),
       |${unrolledComponentsCtes(16)}
       |SELECT u AS node, lab AS component
       |FROM l16 ORDER BY node""".stripMargin
  }

  /** The corpus_mix recipe: target language composition, shared with
    * the generated oracle CASE so both engines derive identical rates.
    */
  private val mixWeights = Seq(
    "en" -> 0.4, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.1)

  /** The full recall@5 oracle (exact / ivf / ivfadc / lsh / pq
    * paths), parameterized on the embeddings CTE so the SAME
    * measurement runs on the raw corpus (ann_recall) and on the
    * deterministic clustered corpus (ann_recall_clustered).
    */
  private def annRecallSql(emb: String): String =
    s"""WITH $emb,
         |bits AS (SELECT vec_id, v, nrm,
         |    $lshBitsSql
         |  FROM n),
         |bands AS (
         |  ${lshBandsSqlFor(4)}),
         |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.vec_id < b.vec_id),
         |exact AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, row_number() OVER (
         |      PARTITION BY q.vec_id
         |      ORDER BY ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rank
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         |  WHERE rank <= 5),
         |${ivfTrainedCtes("TRUE")},
         |qbr AS (SELECT q_id, bucket FROM (
         |  SELECT p.vec_id AS q_id, c.cid AS bucket, row_number() OVER (
         |    PARTITION BY p.vec_id
         |    ORDER BY ${dotSql("p.v", "c.cv")} / (p.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n p CROSS JOIN centv c WHERE p.vec_id < 10) WHERE rn <= 3),
         |ivf AS (SELECT q_id, neighbor_id FROM (
         |  SELECT qbr.q_id, m.vec_id AS neighbor_id, row_number() OVER (
         |      PARTITION BY qbr.q_id
         |      ORDER BY ${dotSql("p.v", "m.v")} / (p.nrm * m.nrm) DESC, m.vec_id) AS rank
         |  FROM qbr JOIN n p ON p.vec_id = qbr.q_id
         |  JOIN asg ma ON ma.bucket = qbr.bucket
         |  JOIN n m ON m.vec_id = ma.vec_id
         |  WHERE m.vec_id <> qbr.q_id) WHERE rank <= 5),
         |lshdir AS (
         |  SELECT ia AS q_id, ib AS neighbor_id FROM cand WHERE ia < 10
         |  UNION ALL
         |  SELECT ib, ia FROM cand WHERE ib < 10),
         |lshs AS (SELECT q_id, neighbor_id FROM (
         |  SELECT d.q_id, d.neighbor_id, row_number() OVER (
         |      PARTITION BY d.q_id
         |      ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC, d.neighbor_id) AS rank
         |  FROM lshdir d JOIN n a ON a.vec_id = d.q_id
         |  JOIN n b ON b.vec_id = d.neighbor_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.25::DOUBLE)
         |  WHERE rank <= 5),
         |sub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
         |    v[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
         |  FROM e, UNNEST(range(0, 8)) AS r(m)),
         |cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 256),
         |dist AS (SELECT s.vec_id, s.m, c.cid,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
         |  FROM sub s JOIN cb c USING (m)),
         |codes AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
         |  FROM dist) WHERE rn = 1),
         |mdx AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.m,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
         |  FROM codes c JOIN cb b ON b.m = c.m AND b.cid = c.cid
         |  JOIN sub q ON q.m = c.m AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |pqs AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q_id, neighbor_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc DESC, neighbor_id) AS rank
         |  FROM (SELECT q_id, neighbor_id,
         |      list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc
         |    FROM mdx GROUP BY q_id, neighbor_id)) WHERE rank <= 5),
         |mdi AS (SELECT qbr.q_id, c.vec_id AS neighbor_id, c.m,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
         |  FROM qbr JOIN asg ma ON ma.bucket = qbr.bucket
         |  JOIN codes c ON c.vec_id = ma.vec_id
         |  JOIN cb b ON b.m = c.m AND b.cid = c.cid
         |  JOIN sub q ON q.m = c.m AND q.vec_id = qbr.q_id
         |  WHERE c.vec_id <> qbr.q_id),
         |ivfadcs AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q_id, neighbor_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc DESC, neighbor_id) AS rank
         |  FROM (SELECT q_id, neighbor_id,
         |      list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc
         |    FROM mdi GROUP BY q_id, neighbor_id)) WHERE rank <= 5),
         |rres AS (SELECT n.vec_id,
         |    list_transform(range(1, 65),
         |      i -> n.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS rv
         |  FROM n JOIN asg a USING (vec_id) JOIN centv c ON c.cid = a.bucket),
         |rrsub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
         |    rv[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
         |  FROM rres, UNNEST(range(0, 8)) AS r(m)),
         |rrcb AS (SELECT m, vec_id AS cid, sv AS cv FROM rrsub WHERE vec_id < 256),
         |rrdist AS (SELECT s.vec_id, s.m, c.cid,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
         |  FROM rrsub s JOIN rrcb c USING (m)),
         |rrcodes AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
         |  FROM rrdist) WHERE rn = 1),
         |rqc AS (SELECT qbr.q_id, qbr.bucket, ${dotSql("p.v", "c.cv")} AS qdotc
         |  FROM qbr JOIN n p ON p.vec_id = qbr.q_id
         |  JOIN centv c ON c.cid = qbr.bucket),
         |rmdi AS (SELECT qbr.q_id, c.vec_id AS neighbor_id, qbr.bucket, c.m,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
         |  FROM qbr JOIN asg ma ON ma.bucket = qbr.bucket
         |  JOIN rrcodes c ON c.vec_id = ma.vec_id
         |  JOIN rrcb b ON b.m = c.m AND b.cid = c.cid
         |  JOIN sub q ON q.m = c.m AND q.vec_id = qbr.q_id
         |  WHERE c.vec_id <> qbr.q_id),
         |ivfadcrs AS (SELECT q_id, neighbor_id FROM (
         |  SELECT q_id, neighbor_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc DESC, neighbor_id) AS rank
         |  FROM (SELECT m2.q_id, m2.neighbor_id,
         |      MAX(rqc.qdotc) + list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc
         |    FROM rmdi m2 JOIN rqc ON rqc.q_id = m2.q_id AND rqc.bucket = m2.bucket
         |    GROUP BY m2.q_id, m2.neighbor_id, m2.bucket)) WHERE rank <= 5),
         |ivfadcrr AS (SELECT q_id, neighbor_id FROM (
         |  SELECT s.q_id, s.neighbor_id, row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) DESC,
         |        s.neighbor_id) AS rk
         |  FROM (SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id, row_number() OVER (
         |        PARTITION BY q_id ORDER BY adc DESC, neighbor_id) AS rank
         |    FROM (SELECT m2.q_id, m2.neighbor_id,
         |        MAX(rqc.qdotc) + list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc
         |      FROM rmdi m2 JOIN rqc ON rqc.q_id = m2.q_id AND rqc.bucket = m2.bucket
         |      GROUP BY m2.q_id, m2.neighbor_id, m2.bucket)) WHERE rank <= 50) s
         |  JOIN n a ON a.vec_id = s.q_id
         |  JOIN n b ON b.vec_id = s.neighbor_id) WHERE rk <= 5),
         |ne AS (SELECT COUNT(*) AS n_exact FROM exact)
         |SELECT method, n_hits, n_exact,
         |  CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
         |FROM (
         |  SELECT 'ivf' AS method,
         |    (SELECT COUNT(*) FROM ivf JOIN exact USING (q_id, neighbor_id)) AS n_hits
         |  UNION ALL
         |  SELECT 'ivfadc',
         |    (SELECT COUNT(*) FROM ivfadcs JOIN exact USING (q_id, neighbor_id))
         |  UNION ALL
         |  SELECT 'ivfadc_rerank',
         |    (SELECT COUNT(*) FROM ivfadcrr JOIN exact USING (q_id, neighbor_id))
         |  UNION ALL
         |  SELECT 'ivfadc_res',
         |    (SELECT COUNT(*) FROM ivfadcrs JOIN exact USING (q_id, neighbor_id))
         |  UNION ALL
         |  SELECT 'lsh',
         |    (SELECT COUNT(*) FROM lshs JOIN exact USING (q_id, neighbor_id))
         |  UNION ALL
         |  SELECT 'pq',
         |    (SELECT COUNT(*) FROM pqs JOIN exact USING (q_id, neighbor_id)))
         |CROSS JOIN ne
         |ORDER BY method""".stripMargin


  val all: Seq[Q] = Seq(

    /** Token counting: whitespace + BPE-ish regex token counts. */
    Q("text_token_count",
      """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_ws,
        |  len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_re
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws"),
        TextOps.regexTokenCount(col("text")).as("n_re"))
        .orderBy("doc_id")
    },

    /** Quality scoring: length/stopword/token-shape penalties. */
    Q("text_quality",
      s"""WITH s AS (SELECT doc_id, $ntokSql::BIGINT AS n_tok,
         |    $stopSql::BIGINT AS n_stop, length(text)::BIGINT AS n_chars FROM documents)
         |SELECT doc_id, n_tok,
         |  CAST(n_chars - (n_tok - 1) AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_token_len,
         |  CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
         |  least(greatest(100.0
         |    - CASE WHEN n_tok < 40 THEN 20.0 ELSE 0.0 END
         |    - CASE WHEN CAST(n_stop AS DOUBLE)/CAST(n_tok AS DOUBLE) > 0.25 THEN 15.0 ELSE 0.0 END
         |    - CASE WHEN CAST(n_chars - (n_tok-1) AS DOUBLE)/CAST(n_tok AS DOUBLE) < 4.0 THEN 10.0 ELSE 0.0 END
         |    - CASE WHEN n_chars < 200 THEN 5.0 ELSE 0.0 END, 0.0), 100.0) AS quality
         |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val stops = Seq("the", "a")
      table(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.avgTokenLength(col("text")).as("avg_token_len"),
        (TextOps.stopwordCount(col("text"), stops).cast("double") /
          TextOps.tokenCount(col("text")).cast("double")).as("stop_ratio"),
        TextOps.qualityScore(col("text"), stops).as("quality"))
        .orderBy("doc_id")
    },

    /** Language-ID heuristic: English-marker stopword density. */
    Q("text_lang_id",
      s"""SELECT doc_id, lang,
         |  CASE WHEN r >= 0.12::DOUBLE THEN 'en'
         |       WHEN r >= 0.06::DOUBLE THEN 'mixed' ELSE 'unk' END AS predicted
         |FROM (SELECT doc_id, lang,
         |  CAST($stopSql AS DOUBLE) / CAST($ntokSql AS DOUBLE) AS r
         |  FROM documents) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextOps.langId(col("text"), Seq("the", "a")).as("predicted"))
        .orderBy("doc_id")
    },

    /** Document fingerprinting: 60-bit digest + collision histogram. */
    Q("text_fingerprint",
      s"""SELECT ${md5_60Sql("lower(trim(text))")} AS fp, COUNT(*) AS n,
         |  min(doc_id) AS first_doc
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
      table(s, dir, "documents")
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy("fp")
    },

    /** Deterministic stratified hash sampling: reproducible per-language
      * rates (en downsampled, the rest upsampled) as a pure function of
      * the doc id — re-derivable on any engine at any parallelism,
      * unlike seed-based df.sample. */
    Q("sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${md5_60Sql("CAST(doc_id AS VARCHAR)")} % 100 <
         |  CASE WHEN lang = 'en' THEN 10 ELSE 30 END
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Corpus.stratifiedHashSample(table(s, dir, "documents"), "doc_id",
          when(col("lang") === "en", 10).otherwise(30))
        .select("doc_id", "lang").orderBy("doc_id")
    },

    /** sample_per_key — bounded deterministic per-key sampling
      * (Corpus.samplePerKey): each user's contribution capped at 3
      * events chosen by smallest seeded hash — the per-source cap a
      * training corpus needs (hashSample's RATE can't bound a hot
      * key's absolute contribution). The bounded KSmallestAggregator
      * merges map-side, so the zipfian hot user ships mappers×k
      * candidates through the exchange, never its full row set; the
      * oracle states the same sample as the row_number window the
      * aggregate replaces. */
    Q("sample_per_key",
      """WITH h AS (SELECT user_id, event_id, value,
        |    ('0x' || substring(md5('sample-0:' || CAST(event_id AS VARCHAR)),1,15))::BIGINT AS hk
        |  FROM events),
        |r AS (SELECT user_id, event_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY hk, event_id) AS rn FROM h)
        |SELECT user_id, event_id, value FROM r WHERE rn <= 3
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val events = table(s, dir, "events")
      val picked = Corpus.samplePerKey(
        events.select("user_id", "event_id"), "user_id", "event_id",
        seed = "sample-0", k = 3)
      picked.join(events.select("user_id", "event_id", "value"),
          Seq("user_id", "event_id"))
        .select("user_id", "event_id", "value")
        .orderBy("user_id", "event_id")
    },

    /** Top-k corpus vocabulary (ties broken lexicographically);
      * plans as TakeOrderedAndProject — no global sort. */
    Q("text_vocab_topk",
      """SELECT token, COUNT(*) AS n FROM documents,
        |  UNNEST(string_split(lower(trim(text)), ' ')) AS u(token)
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin) { (s, dir) =>
      Corpus.vocabTopK(table(s, dir, "documents"), "text", 50)
    },

    /** text_collocations — adjacent-pair collocation mining scored by
      * LIFT (Corpus.collocations): p(xy)/(p(x)p(y)) as
      * (c_xy·N)/(c_x·c_y), the multi-word-expression / tokenizer-merge
      * statistic. Lift rather than PMI by design — a log's last bits
      * differ across libm implementations, while a division of two
      * exact integer products is IEEE-identical in both engines, so
      * the statistic stays hash-comparable. One tokenize pass feeds
      * bigram and unigram counts (map-side combinable); the scoring
      * joins broadcast the vocabulary-sized unigram totals. */
    Q("text_collocations",
      """WITH t AS (SELECT string_split(lower(trim(text)), ' ') AS l
        |  FROM documents),
        |uni AS (SELECT u.tok AS tok, count(*) AS c
        |  FROM t, UNNEST(l) AS u(tok) WHERE u.tok <> '' GROUP BY 1),
        |tot AS (SELECT sum(c) AS n FROM uni),
        |bi AS (SELECT l[i] AS x, l[i+1] AS y, count(*) AS c_xy
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) g
        |  WHERE l[i] <> '' AND l[i+1] <> ''
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT bi.x, bi.y, bi.c_xy,
        |  CAST(bi.c_xy * tot.n AS DOUBLE) / CAST(ux.c * uy.c AS DOUBLE) AS lift
        |FROM bi CROSS JOIN tot
        |JOIN uni ux ON ux.tok = bi.x
        |JOIN uni uy ON uy.tok = bi.y
        |ORDER BY lift DESC, bi.x, bi.y LIMIT 30""".stripMargin) { (s, dir) =>
      graft.ops.Corpus.collocations(
        table(s, dir, "documents"), "text", minCount = 5L, k = 30)
    },

    /** text_search_inverted — conjunctive token search served from the
      * PERSISTED positional inverted index (ops/TextIndex: postings
      * range-sorted by token, so the probe's IN predicate prunes files
      * and row groups; the scan is posting-list-sized, never
      * corpus-sized). The oracle states the corpus-scan semantics
      * (membership in the tokenized text) — the index must reproduce
      * it exactly. Build is memoized per corpus; probes thereafter
      * never touch corpus text. */
    Q("text_search_inverted",
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS l
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE list_contains(l, 'data') AND list_contains(l, 'table')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val idx = graft.ops.TextIndex.ensureBuilt(s, dir + "#textidx",
        table(s, dir, "documents"), "doc_id", "text")
      graft.ops.TextIndex.searchAll(s, idx, Seq("data", "table"))
        .orderBy("doc_id")
    },

    /** text_search_phrase — exact consecutive-token phrase search from
      * the same positional index: each phrase offset's postings anchor
      * to the would-be start position and equi-join — a doc matches
      * iff one start survives every join. The oracle re-derives
      * positions with generate_subscripts (1-based, same unit as the
      * index) and joins adjacency — phrase ⊂ AND: tokens present but
      * non-adjacent must NOT match, which is what separates this row
      * from text_search_inverted. */
    Q("text_search_phrase",
      """WITH toks AS (
        |  SELECT d.doc_id, u.tok, u.pos
        |  FROM documents d,
        |  LATERAL (SELECT unnest(string_split(lower(trim(d.text)), ' ')) AS tok,
        |           generate_subscripts(string_split(lower(trim(d.text)), ' '), 1) AS pos) u)
        |SELECT DISTINCT a.doc_id AS doc_id FROM toks a
        |JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.tok = 'table' AND b.tok = 'hash'
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      val idx = graft.ops.TextIndex.ensureBuilt(s, dir + "#textidx",
        table(s, dir, "documents"), "doc_id", "text")
      graft.ops.TextIndex.searchPhrase(s, idx, Seq("table", "hash"))
        .orderBy("doc_id")
    },

    /** text_search_incremental — the index's daily-ingest lifecycle:
      * build on 80% of the corpus, APPEND the remaining docs' postings
      * (no rebuild, no re-tokenize of the standing corpus; duplicate
      * doc_ids refused, full-batch retry an idempotent no-op — pinned
      * in OpsSpec), relayout to restore range-disjoint files, then the
      * SAME conjunctive search as text_search_inverted — which is the
      * shared oracle: an appended document must search identically to
      * a rebuilt one, so the lifecycle row and the one-shot row state
      * the same corpus-scan SQL (the ann_ivf / ann_ivf_appended
      * discipline). */
    Q("text_search_incremental",
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS l
        |  FROM documents)
        |SELECT doc_id FROM t
        |WHERE list_contains(l, 'data') AND list_contains(l, 'table')
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val idx = graft.ops.TextIndex.ensureBuiltAppended(s, dir + "#textidxapp",
        table(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
        table(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
      graft.ops.TextIndex.searchAll(s, idx, Seq("data", "table"))
        .orderBy("doc_id")
    },

    /** PII redaction: emails → <EMAIL>, IPv4 → <IP>, long digit runs →
      * <NUM>, counted per class on the raw text. The corpus text
      * carries no PII, so each doc is deterministically augmented with
      * synthetic PII derived from its id — both engines build the same
      * augmented string and must scrub it identically. */
    Q("text_redact_pii",
      """WITH a AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example.com or 10.0.'
        |      || (doc_id % 256) || '.7 card 4111111111111111' AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(aug, '\d{9,}'))::BIGINT AS n_longnums,
        |  regexp_replace(regexp_replace(regexp_replace(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d{9,}', '<NUM>', 'g') AS red
        |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val aug = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or 10.0."), pmod(col("doc_id"), lit(256)),
        lit(".7 card 4111111111111111"))
      val base = table(s, dir, "documents").select(col("doc_id"), aug.as("aug"))
      val (ne, ni, nn) = TextOps.piiCounts(col("aug"))
      base.select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
          nn.as("n_longnums"), TextOps.redactPii(col("aug")).as("red"))
        .orderBy("doc_id")
    },

    /** Token-length histogram: corpus composition by `n_tok div 16`
      * bucket — output is bounded by max doc length, not corpus size. */
    Q("text_len_hist",
      """WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents)
        |SELECT n_tok // 16 AS bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      Corpus.tokenLenHistogram(table(s, dir, "documents"), "text", 16)
        .orderBy("bucket")
    },

    /** Decontamination: the corpus minus every doc CONTAINING a
      * benchmark doc at >= 0.8 trigram containment (|∩|/|bench grams|
      * — asymmetric, so a short eval question verbatim inside a long
      * page is caught even though its Jaccard is ~0). Benchmark here =
      * the doc_id % 97 == 0 subset standing in for an external eval
      * set. Candidates are bounded per bench item by its k RAREST
      * (corpus-df-ranked) grams with k = ⌊(1−t)·n_b⌋+2 — LOSSLESSLY
      * (a doc at containment ≥ t misses ≤ k−2 bench grams, so it
      * must contain one of any k-subset; proof and the r16 5.0×-for-3×
      * measurement that motivated it at [[Dedup.containmentPairs]]) —
      * so the oracle states the plain all-grams relation while the
      * engine never builds the corpus-df-shaped join. Removal is an
      * ids-only anti join. */
    Q("dedup_decontaminate",
      s"""WITH RECURSIVE $gramsCte,
         |bsz AS (SELECT doc_id AS bid, COUNT(*) AS nb FROM grams
         |  WHERE doc_id % 97 = 0 GROUP BY 1),
         |pairs AS (SELECT c.doc_id AS cid, b.doc_id AS bid, COUNT(*) AS ni
         |  FROM grams c JOIN grams b ON c.g = b.g
         |  WHERE b.doc_id % 97 = 0 GROUP BY 1, 2),
         |hits AS (SELECT DISTINCT cid FROM pairs JOIN bsz USING (bid)
         |  WHERE CAST(ni AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.8::DOUBLE)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT cid FROM hits)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
      Dedup.decontaminate(docs, bench, "doc_id", "text", 3, 0.8)
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** Domain-blocklist source filter: docs are deterministically
      * augmented with a URL whose host depends on doc_id, then docs
      * whose host is blocklisted are dropped — survivors have
      * doc_id % 7 outside {0, 3}. Membership is a pure codegen'd
      * arrays_overlap, no join. */
    Q("text_domain_filter",
      """WITH a AS (SELECT doc_id, n_chars,
        |    text || ' see https://site' || (doc_id % 7) || '.example.com/page ok' AS aug
        |  FROM documents)
        |SELECT doc_id, n_chars FROM a
        |WHERE NOT list_has_any(
        |  regexp_extract_all(aug, 'https?://([A-Za-z0-9.-]+)', 1),
        |  ['site0.example.com', 'site3.example.com'])
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val aug = concat(col("text"), lit(" see https://site"),
        pmod(col("doc_id"), lit(7)), lit(".example.com/page ok"))
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), aug.as("aug"))
      Corpus.filterByDomainBlocklist(d, "aug",
          Seq("site0.example.com", "site3.example.com"))
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** dedup_url — URL-level dedup, the first (cheapest) dedup stage
      * of a web corpus: docs get a deterministic messy URL (scheme,
      * mixed case, www, query, fragment all varying with doc_id), the
      * canonical form (TextOps.normalizeUrl) becomes the dedup key,
      * min doc_id wins. The shuffle carries the canonical URL string —
      * tiny next to documents — and the winner is row_number-pinned. */
    Q("dedup_url",
      """WITH a AS (SELECT doc_id, n_chars,
        |    'https://WWW.Site' || (doc_id % 50) || '.Example.COM/path' ||
        |      (doc_id % 10) || '/?utm=x#frag' AS raw
        |  FROM documents),
        |u AS (SELECT doc_id, n_chars,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(lower(raw), '^https?://', ''),
        |      '#.*$', ''), '\?.*$', ''), '^www\.', ''), '/$', '') AS url
        |  FROM a)
        |SELECT doc_id, n_chars, url FROM (
        |  SELECT doc_id, n_chars, url, row_number() OVER (
        |    PARTITION BY url ORDER BY doc_id) AS rn FROM u)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val raw = concat(lit("https://WWW.Site"), pmod(col("doc_id"), lit(50)),
        lit(".Example.COM/path"), pmod(col("doc_id"), lit(10)),
        lit("/?utm=x#frag"))
      val w = Window.partitionBy(col("url")).orderBy(col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextOps.normalizeUrl(raw).as("url"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .orderBy("doc_id")
    },

    /** Bigram repetition ratio: max bigram frequency / total bigrams
      * per doc — the boilerplate/spam signal length and stopword
      * heuristics miss. */
    Q("text_repetition",
      """WITH tok AS (SELECT doc_id,
        |    string_split(lower(trim(text)), ' ') AS t FROM documents),
        |bg AS (SELECT doc_id, g FROM tok,
        |  UNNEST(list_transform(range(1, greatest(len(t)-1,0)+1),
        |                        i -> array_to_string(t[i:i+1], ' '))) AS u(g)),
        |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |  CAST(MAX(c) AS BIGINT) AS max_rep,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Corpus.repetitionRatio(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    /** Symmetric int8 embedding quantization: per-vector scale =
      * max|v|, q = floor(v/scale*127 + 0.5); verified through the
      * quantized sum and L1 mass (any per-dim divergence shifts L1). */
    Q("embed_quantize",
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings),
        |s AS (SELECT vec_id, vd,
        |    list_reduce(list_transform(vd, x -> abs(x)),
        |                (a, b) -> greatest(a, b)) AS scale FROM v),
        |q AS (SELECT vec_id, scale,
        |    CASE WHEN scale = 0.0 THEN list_transform(vd, x -> 0::BIGINT)
        |         ELSE list_transform(vd,
        |           x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT)) END AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  list_reduce(qv, (a, b) -> a + b) AS q_sum,
        |  list_reduce(list_transform(qv, x -> abs(x)), (a, b) -> a + b) AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val q = Similarity.quantizeInt8(table(s, dir, "embeddings"),
        "vec_id", "embedding")
      q.select(col("vec_id"), col("scale"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(transform(col("q"), x => abs(x)), lit(0L),
            (a, x) => a + x).as("q_l1"))
        .orderBy("vec_id")
    },

    /** Greedy sequence packing: per-language concatenate-and-chop into
      * 2048-token context bins via one running-sum window. */
    Q("pack_greedy",
      """WITH t AS (SELECT doc_id, lang,
        |    len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
        |c AS (SELECT doc_id, lang, n_tok, SUM(n_tok) OVER (
        |    PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin) { (s, dir) =>
      Corpus.packGreedy(table(s, dir, "documents"), "doc_id", "text",
          "lang", budgetTokens = 2048)
        .orderBy("lang", "bin")
    },

    /** pack_tokenized — sequence packing by ENCODED token counts: the
      * context-window budget a trainer actually spends is tokenizer
      * tokens, not whitespace tokens, so the bins here consume
      * bpeApply's n_enc under the shared 3-round merge table
      * ([[bpeMerges3]] — trained once per corpus). Same sharded
      * two-pass prefix sum as pack_greedy; only the count source
      * changes (Corpus.packGreedyCounts). */
    Q("pack_tokenized",
      s"""WITH $bpeApplyCtes,
         |t AS (SELECT d.doc_id, d.lang,
         |    CAST(len(string_split(t3.txt, ' ')) AS BIGINT) AS n_tok
         |  FROM t3 JOIN documents d USING (doc_id)),
         |c AS (SELECT doc_id, lang, n_tok, SUM(n_tok) OVER (
         |    PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
         |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok
         |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val enc = graft.ops.Corpus.bpeApply(docs, "doc_id", "text",
          bpeMerges3(s, dir))
        .join(docs.select("doc_id", "lang"), "doc_id")
      Corpus.packGreedyCounts(enc, "doc_id", "lang", "n_enc",
          budgetTokens = 2048)
        .orderBy("lang", "bin")
    },

    /** JSON property extraction over events.props. */
    Q("json_extract_props",
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS k_bucket,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy((get_json_object(col("props"), "$.k").cast("int") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n"), Parity.dsum(col("value")).as("sum_value"))
        .orderBy("k_bucket")
    },

    /** Exact dedup on the 60-bit text fingerprint, keep-lowest-id. */
    Q("dedup_exact",
      s"""SELECT doc_id, n_chars FROM (
         |  SELECT doc_id, n_chars, row_number() OVER (
         |    PARTITION BY ${md5_60Sql("lower(trim(text))")} ORDER BY doc_id) AS rn
         |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** Trigram-Jaccard near-dup pairs (threshold 0.6) — the
      * SCALE-SAFE default construction, per the repo rule that the
      * obvious key carries the construction that survives 100 TB
      * (same discipline as dedup_cluster / dedup_incremental /
      * dedup_multi_signal): MinHash-banded candidates (equi-join on
      * band keys — volume governed by the banding S-curve, never by
      * how many docs share SOME gram) verified by EXACT df-capped
      * Jaccard computed on candidates only (codegen'd array intersect
      * of the two docs' gram-hash sets). The jaccard VALUES are exact;
      * the only approximation is banding recall (a true pair that
      * collides in no band is missed — tunable with k/bandSize). The
      * recall-lossless exact gram self-join — inherently ~n²/V on
      * vocabulary-saturated corpora (measured 25.8× wall at 10× data,
      * SCALING.md §3) — lives on under the explicit
      * [[dedup_ngram_jaccard_exact]] suffix. */
    Q("dedup_ngram_jaccard",
      s"""WITH $cappedGramsCte,
         |$minhashSigSql,
         |$minhashBandsSql,
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM cgrams GROUP BY 1),
         |inter AS (SELECT c.da, c.db, COUNT(*) AS ni
         |  FROM cand c JOIN cgrams a ON a.doc_id = c.da
         |  JOIN cgrams b ON b.doc_id = c.db AND b.g = a.g
         |  GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(ni AS DOUBLE) / CAST(sa.nn + sb.nn - ni AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE CAST(ni AS DOUBLE) / CAST(sa.nn + sb.nn - ni AS DOUBLE) >= 0.6::DOUBLE
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text", 3, 0.6,
          candidates = "banded")
        .orderBy("doc_a", "doc_b")
    },

    /** Exact trigram-Jaccard near-dup pairs (threshold 0.6) — the
      * RECALL-LOSSLESS baseline, explicitly suffixed because its
      * candidate stage is the gram self-join: ~n²/|gram-space| on
      * vocabulary-saturated corpora (every doc pair shares SOME gram,
      * so candidates approach all-pairs — the shape that timed out
      * dedup_multi_signal at 3× docs in the r16 ladder; the df cap
      * cannot help when no single gram is hot but ALL are warm).
      * Reach for it only when the corpus vocabulary grows with the
      * data (a few candidates/doc after the df cap) or when measuring
      * the banded default's recall. */
    Q("dedup_ngram_jaccard_exact",
      s"""WITH $cappedGramsCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM cgrams GROUP BY 1),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM cgrams a JOIN cgrams b USING (g)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6::DOUBLE
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text", 3, 0.6,
          candidates = "gram")
        .orderBy("doc_a", "doc_b")
    },

    /** dedup_ngram_recall — banded-vs-exact pair recall as a
      * REGISTERED, oracle-checked measurement (VERDICT r18 #8): the
      * banding S-curve claim behind the [[dedup_ngram_jaccard]]
      * default carries a number the same way ann_recall does for the
      * ANN paths, instead of an argument. Both pair relations already
      * exist as registry keys; this row computes them in ONE pass
      * (union → per-pair groupBy, each side's pipeline evaluated
      * once) and reduces to four hash-stable values: exact pair
      * count, banded pair count, their intersection, and recall =
      * hit/exact (one exact IEEE division of small integers; 1.0 by
      * convention on an exact-pair-free corpus). Banded verification
      * re-computes exact Jaccard over the SAME df-capped gram sets,
      * so banded ⊆ exact (precision 1 by construction) — the join is
      * still computed, because that containment is exactly the kind
      * of claim a bug would silently break. Contains the exact gram
      * self-join, so it inherits the [[dedup_ngram_jaccard_exact]]
      * quadratic contract: a measurement row for graded scales, not
      * a 100 TB default (the ladder runs the two keys it measures,
      * not this row). */
    Q("dedup_ngram_recall",
      s"""WITH $cappedGramsCte,
         |$minhashSigSql,
         |$minhashBandsSql,
         |sizes AS (SELECT doc_id, COUNT(*) AS nn FROM cgrams GROUP BY 1),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id < b.doc_id),
         |binter AS (SELECT c.da, c.db, COUNT(*) AS ni
         |  FROM cand c JOIN cgrams a ON a.doc_id = c.da
         |  JOIN cgrams b ON b.doc_id = c.db AND b.g = a.g
         |  GROUP BY 1, 2),
         |bpairs AS (SELECT da, db FROM binter
         |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE CAST(ni AS DOUBLE) / CAST(sa.nn + sb.nn - ni AS DOUBLE) >= 0.6::DOUBLE),
         |einter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS ni
         |  FROM cgrams a JOIN cgrams b USING (g)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |epairs AS (SELECT da, db FROM einter
         |  JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE CAST(ni AS DOUBLE) / CAST(sa.nn + sb.nn - ni AS DOUBLE) >= 0.6::DOUBLE),
         |tagged AS (SELECT da, db, 1 AS src FROM epairs
         |  UNION ALL SELECT da, db, 2 AS src FROM bpairs),
         |pp AS (SELECT da, db, SUM(src) AS sv FROM tagged GROUP BY 1, 2),
         |m AS (SELECT
         |    COUNT(CASE WHEN sv IN (1, 3) THEN 1 END) AS n_exact_pairs,
         |    COUNT(CASE WHEN sv IN (2, 3) THEN 1 END) AS n_banded_pairs,
         |    COUNT(CASE WHEN sv = 3 THEN 1 END) AS n_hit_pairs FROM pp)
         |SELECT n_exact_pairs, n_banded_pairs, n_hit_pairs,
         |  CASE WHEN n_exact_pairs = 0 THEN 1.0::DOUBLE
         |    ELSE CAST(n_hit_pairs AS DOUBLE) / CAST(n_exact_pairs AS DOUBLE)
         |  END AS recall
         |FROM m""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      val exactP = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
          candidates = "gram")
        .select(col("doc_a"), col("doc_b"), lit(1L).as("src"))
      val bandP = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.6,
          candidates = "banded")
        .select(col("doc_a"), col("doc_b"), lit(2L).as("src"))
      exactP.unionByName(bandP)
        .groupBy("doc_a", "doc_b").agg(sum(col("src")).as("sv"))
        .agg(
          count(when(col("sv") === 1 || col("sv") === 3, 1)).as("n_exact_pairs"),
          count(when(col("sv") === 2 || col("sv") === 3, 1)).as("n_banded_pairs"),
          count(when(col("sv") === 3, 1)).as("n_hit_pairs"))
        .select(col("n_exact_pairs"), col("n_banded_pairs"), col("n_hit_pairs"),
          when(col("n_exact_pairs") === 0, lit(1.0))
            .otherwise(col("n_hit_pairs").cast("double") /
              col("n_exact_pairs").cast("double")).as("recall"))
    },

    /** MinHash+LSH near-dup pairs: 32 hashes, 8 bands × 4 rows,
      * banded candidate join, estimate ≥ 0.5. */
    Q("dedup_minhash",
      s"""WITH $gramsCte,
         |$minhashSigSql,
         |$minhashBandsSql,
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.doc_id < b.doc_id)
         |SELECT da AS doc_a, db AS doc_b, $minhashEstSql AS est_jaccard
         |FROM cand JOIN sig sa ON sa.doc_id = da JOIN sig sb ON sb.doc_id = db
         |WHERE $minhashEstSql >= 0.5 ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      Dedup.minhashLshPairs(table(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b")
    },

    /** SimHash near-dup pairs: 60-bit fingerprints, 4×15-bit chunk
      * banding, hamming ≤ 3. */
    Q("dedup_simhash",
      s"""WITH toks AS (SELECT doc_id, u.tok FROM
         |    (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         |    UNNEST(t) AS u(tok)),
         |th AS (SELECT doc_id, ${md5_60Sql("tok")} AS h FROM toks),
         |cs AS (SELECT doc_id,
         |    $simhashCsSql
         |  FROM th GROUP BY doc_id),
         |fp AS (SELECT doc_id, ($simhashFpSql)::BIGINT AS simhash FROM cs),
         |chunks AS (
         |  SELECT doc_id, simhash, 0 AS chunk_idx, (simhash >> 0) % 32768 AS chunk_val FROM fp
         |  UNION ALL SELECT doc_id, simhash, 1, (simhash >> 15) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 2, (simhash >> 30) % 32768 FROM fp
         |  UNION ALL SELECT doc_id, simhash, 3, (simhash >> 45) % 32768 FROM fp),
         |cand AS (SELECT DISTINCT a.doc_id AS da, a.simhash AS sa,
         |    b.doc_id AS db, b.simhash AS sb
         |  FROM chunks a JOIN chunks b
         |    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
         |  WHERE a.doc_id < b.doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      Dedup.simhashPairs(table(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    /** Embedding-cosine near-dup pairs — the EXACT ALL-PAIRS baseline
      * (≥ 0.4), suffixed so nobody reaches the O(n²) relation by
      * default: the scale path is ann_lsh / Similarity.lshPairs
      * (banded candidates + the same exact re-rank), and
      * Similarity.cosinePairs refuses corpora beyond its explicit cap
      * (the override is the deliberate "yes, n² compares" switch). */
    Q("dedup_embed_cosine_exact_baseline",
      s"""WITH $embCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4::DOUBLE
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      Similarity.cosinePairs(table(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("vec_a", "vec_b")
    },

    /** corpus_semdedup — SemDeDup (Abbas et al. 2023): assign every
      * embedding to its nearest trained-IVF centroid (the shared
      * 16-centroid model — one training per corpus, [[ivfModel]]) and
      * drop any vector with a lower-id ≥ 0.4-cosine neighbor INSIDE
      * its cluster; survivors (vec_id, cluster). The pairwise compare
      * is fenced to clusters by construction — an equi-join on the
      * cluster id, Σ|cluster|² work, never the corpus cross join the
      * suffixed exact baseline demonstrates. */
    Q("corpus_semdedup",
      s"""WITH $embCte,
         |${ivfTrainedCtes("TRUE")},
         |wb AS (SELECT n.vec_id, n.v, n.nrm, a.bucket FROM n JOIN asg a USING (vec_id)),
         |drp AS (SELECT DISTINCT b.vec_id FROM wb a JOIN wb b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4::DOUBLE)
         |SELECT vec_id, bucket AS cluster FROM wb
         |WHERE vec_id NOT IN (SELECT vec_id FROM drp) ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.semDedup(table(s, dir, "embeddings"), "vec_id", "embedding",
          model = ivfModel(s, dir), threshold = 0.4)
        .orderBy("vec_id")
    },

    /** corpus_semdedup_incremental — the daily-ingest SemDeDup shape,
      * served ENTIRELY from the persisted ANN index (the SAME
      * "#appended" index ann_ivf_appended probes — one build per
      * corpus serves both families): the batch (vec_id % 10 = 9) was
      * assigned against the stored base-trained centroids at append
      * time; a batch vector is dropped when its bucket holds a ≥ 0.4
      * neighbor that is standing-corpus (any id) or an earlier
      * (lower-id) batch row. The standing corpus is never
      * re-assigned or re-scanned outside the batch's buckets. */
    Q("corpus_semdedup_incremental",
      s"""WITH $embCte,
         |${ivfTrainedCtes("vec_id % 10 <> 9")},
         |wb AS (SELECT n.vec_id, n.v, n.nrm, a.bucket FROM n JOIN asg a USING (vec_id)),
         |b AS (SELECT * FROM wb WHERE vec_id % 10 = 9),
         |drp AS (SELECT DISTINCT b.vec_id FROM b JOIN wb o
         |  ON o.bucket = b.bucket AND o.vec_id <> b.vec_id
         |    AND (o.vec_id % 10 <> 9 OR o.vec_id < b.vec_id)
         |  WHERE ${dotSql("o.v", "b.v")} / (o.nrm * b.nrm) >= 0.4::DOUBLE)
         |SELECT vec_id, bucket AS cluster FROM b
         |WHERE vec_id NOT IN (SELECT vec_id FROM drp) ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val idx = graft.ops.AnnIndex.ensureBuiltAppended(s, dir + "#appended",
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 9),
        emb.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding", nCentroids = NCENT_IVF)
      graft.ops.AnnIndex.semDedupBatch(s, idx,
          id => pmod(id, lit(10)) === 9, threshold = 0.4)
        .orderBy("vec_id")
    },

    /** Brute-force cosine top-k: probe set (vec_id < 10) vs corpus. */
    Q("ann_topk_bruteforce",
      s"""WITH $embCte,
         |scored AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         |    ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10)
         |SELECT q_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      Similarity.cosineTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("q_id", "rank")
    },

    /** Sign-LSH bucketed ANN: 16 hyperplane bits, 2 bands × 8 bits,
      * candidates re-ranked by exact cosine ≥ 0.35. */
    Q("ann_lsh",
      s"""WITH $embCte,
         |bits AS (SELECT vec_id, v, nrm,
         |    $lshBitsSql
         |  FROM n),
         |bands AS (
         |  $lshBandsSql),
         |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.vec_id < b.vec_id)
         |SELECT ia AS vec_a, ib AS vec_b,
         |  ${dotSql("na.v", "nb.v")} / (na.nrm * nb.nrm) AS cos
         |FROM cand JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib
         |WHERE ${dotSql("na.v", "nb.v")} / (na.nrm * nb.nrm) >= 0.35::DOUBLE
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      Similarity.lshPairs(table(s, dir, "embeddings"), "vec_id", "embedding",
          nPlanes = NPLANES, nBands = NBANDS, threshold = 0.35)
        .orderBy("vec_a", "vec_b")
    },

    /** ann_pq — product-quantization ANN with ADC scoring
      * (Similarity.pqTopK): 8 subspaces × 256 centroids = 8 one-byte
      * codes per corpus vector through the re-rank (the
      * memory-bandwidth point of the accuracy curve; ksub was 16
      * until ann_recall measured that encoding at 0.26 recall@5 —
      * 256 codewords in the same 8-byte budget measure 0.56).
      * Codebooks are the sub-vectors of the 256 lowest-id vectors;
      * the oracle re-derives encoding (argmin L2, ties to lowest
      * centroid) and the ADC sum (per-subspace dots reduced over an
      * m-ordered list — the exact grouping the kernel uses) so scores
      * are bit-identical. */
    Q("ann_pq",
      s"""WITH $embCte,
         |sub AS (SELECT vec_id, CAST(r.m AS INTEGER) AS m,
         |    v[CAST(r.m*8+1 AS INTEGER):CAST(r.m*8+8 AS INTEGER)] AS sv
         |  FROM e, UNNEST(range(0, 8)) AS r(m)),
         |cb AS (SELECT m, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < 256),
         |dist AS (SELECT s.vec_id, s.m, c.cid,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> (s.sv[i]-c.cv[i])*(s.sv[i]-c.cv[i])), (a,b) -> a+b) AS d2
         |  FROM sub s JOIN cb c USING (m)),
         |codes AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid, row_number() OVER (
         |      PARTITION BY vec_id, m ORDER BY d2 ASC, cid) AS rn
         |  FROM dist) WHERE rn = 1),
         |md AS (SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id, c.m,
         |    list_reduce(list_transform(range(1, 9),
         |      i -> q.sv[i]*b.cv[i]), (a,b) -> a+b) AS pd
         |  FROM codes c JOIN cb b ON b.m = c.m AND b.cid = c.cid
         |  JOIN sub q ON q.m = c.m AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |scored AS (SELECT q_id, neighbor_id,
         |    list_reduce(list(pd ORDER BY m), (a,b) -> a+b) AS adc_dot
         |  FROM md GROUP BY q_id, neighbor_id)
         |SELECT q_id, neighbor_id, adc_dot, rank FROM (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY q_id ORDER BY adc_dot DESC, neighbor_id) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
      Similarity.pqTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5)
        .orderBy("q_id", "rank")
    },

    /** ann_recall — recall@5 of the approximate paths against the
      * exact brute-force baseline, as a registered (oracle-checked)
      * query: the banding/centroid parameters stop being justified by
      * assertion and start being measured. Counts are integers, recall
      * is one exact IEEE division — hash-stable.
      *
      * The metric already earned its keep once: ann_lsh's NEAR-DUP
      * banding (2 bands × 8 bits, τ=0.35) measured recall 0.0 here —
      * on this near-uniform synthetic corpus the exact top-5 cosines
      * sit around 0.33, below the dedup threshold and far below the
      * collision angle 8-bit bands catch. The LSH row therefore
      * measures the RETRIEVAL tuning (4 bands × 4 bits, τ=0.25 →
      * recall 0.56 while still pruning ~77% of all pairs); ann_lsh
      * keeps its high-precision dedup setting, which is the right
      * tool for its job, just not for top-k retrieval. */
    Q("ann_recall",
      annRecallSql(embCte)) { (s, dir) =>
      Similarity.recallAtK(table(s, dir, "embeddings"), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nCentroids = NCENT_IVF,
          nPlanes = NPLANES, nBands = 4, threshold = 0.25,
          model = ivfModel(s, dir))
        .orderBy("method")
    },

    /** ann_recall_clustered — the SAME recall@5 measurement over the
      * deterministic CLUSTERED corpus ([[embClusteredCte]]): the raw
      * synthetic embeddings are near-uniform (top-5 cosines ~0.33),
      * so their recall numbers do not transfer to real corpora, whose
      * embeddings cluster; this row re-measures every path (ivf /
      * ivfadc / lsh / pq vs the exact baseline) on a
      * mixture-of-8-centers corpus derived in-query — committed
      * alongside the uniform row so tuning claims carry both
      * regimes. The IVF model retrains on the clustered vectors (the
      * oracle's trained-Lloyd CTEs do the same over the swapped
      * embeddings CTE). */
    Q("ann_recall_clustered",
      annRecallSql(embClusteredCte)) { (s, dir) =>
      Similarity.recallAtK(clusteredEmb(s, dir), "vec_id", "embedding",
          col("vec_id") < 10, k = 5, nCentroids = NCENT_IVF,
          nPlanes = NPLANES, nBands = 4, threshold = 0.25,
          model = ivfModelClustered(s, dir))
        .orderBy("method")
    },

    /** src_json_parse (reference: src/ingest.py:152-169): nested JSON
      * constructed identically in both engines, then flattened — Spark
      * via from_json + struct field access, DuckDB via json_extract.
      *
      * Single-pass parse: naive `parsed.getField(x)` per output column
      * lets OptimizeJsonExprs prune the schema PER FIELD, splitting
      * the shared from_json into three schema-distinct copies that
      * codegen CSE can no longer merge — three Jackson parses per row
      * (measured 6.9 s vs 3.7 s at sf1, Scratch tailprobe r16; the
      * fields span the whole schema, so pruning saves nothing here).
      * The `inline(array(struct(...)))` generator is a projection-
      * collapse barrier: the parse lands in the generate stage ONCE
      * and the field reads address the generated struct. Full-plan
      * sf1: 20.4 s → ~11.5 s. */
    Q("src_json_parse",
      """WITH j AS (SELECT event_id,
        |  '{"main":{"temp":' || CAST(value AS VARCHAR) || ',"humidity":' ||
        |  CAST(CAST(floor(value) AS BIGINT) % 101 AS VARCHAR) || '},"name":"u' ||
        |  CAST(user_id AS VARCHAR) || '"}' AS js FROM events)
        |SELECT event_id,
        |  CAST(json_extract_string(js, '$.main.temp') AS DOUBLE) AS temp,
        |  CAST(json_extract_string(js, '$.main.humidity') AS INTEGER) AS humidity,
        |  json_extract_string(js, '$.name') AS name
        |FROM j ORDER BY event_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types._
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
      table(s, dir, "events")
        .select(col("event_id"), inline(array(struct(parsed.as("p")))))
        .select(
          col("event_id"),
          col("p.main.temp").as("temp"),
          col("p.main.humidity").as("humidity"),
          col("p.name").as("name"))
        .orderBy("event_id")
    },

    /** IVF ANN, trained + multi-probe: 16 centroids refined by 2
      * quantized Lloyd steps (exact-BIGINT training — bit-identical
      * across engines), each probe searching its 3 nearest buckets by
      * centroid cosine, exact cosine rank within them. Training
      * balances buckets (hotspot-free partitions at scale);
      * multi-probe is the recall lever — single-probe recall@5 DROPS
      * under training (0.78 → 0.70, balanced buckets split
      * neighborhoods), nprobe=3 over the trained model measures 0.88
      * (ann_recall) at ~n/5 scored candidates per query. */
    Q("ann_ivf", annIvfSql("TRUE")) { (s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = NCENT_IVF, col("vec_id").between(100, 109), k = 3,
          model = ivfModel(s, dir))
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_indexed — the PERSISTED-INDEX form of ann_ivf
      * (ops/AnnIndex): centroids + range-sorted assignments +
      * bucket-partitioned members written once; the probe reads ONLY
      * the index — probe lookup file-prunes the assignments, the
      * candidate fetch partition-prunes members to probed buckets.
      * Byte-identical to ann_ivf (shared oracle); PlansSpec pins that
      * the embeddings corpus relation appears nowhere in the probe
      * plan. */
    Q("ann_ivf_indexed", annIvfSql("TRUE")) { (s, dir) =>
      val idx = graft.ops.AnnIndex.ensureBuilt(s, dir,
        table(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = NCENT_IVF)
      graft.ops.AnnIndex.probe(s, idx, col("vec_id").between(100, 109), k = 3)
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_appended — the daily-ingest lifecycle of the persisted
      * IVF index (AnnIndex.append): the index is BUILT on 90% of the
      * corpus (vec_id % 10 ≠ 9), then the remaining 10% arrives as a
      * batch appended WITHOUT a rebuild — assigned against the stored
      * centroids, assignments appended, members appended into exactly
      * the touched bucket partitions (pinned in OpsSpec). Probing the
      * appended index equals the direct computation with the model
      * TRAINED ON THE BASE (the oracle's training subset is the 90% —
      * an appended index legitimately serves from yesterday's
      * centroids), including probe ids that came in via the append
      * (109 % 10 = 9). */
    Q("ann_ivf_appended", annIvfSql("vec_id % 10 <> 9")) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val idx = graft.ops.AnnIndex.ensureBuiltAppended(s, dir + "#appended",
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 9),
        emb.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding", nCentroids = NCENT_IVF)
      graft.ops.AnnIndex.probe(s, idx, col("vec_id").between(100, 109), k = 3)
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_relayout — the index's full maintenance lifecycle:
      * build on 90%, append the rest (AnnIndex.append), then RELAYOUT
      * (assignments re-range-sorted via the crash-safe in-place
      * rewrite, fragmented members buckets compacted). Probe results
      * must be byte-identical to ann_ivf_appended throughout —
      * maintenance changes files, never answers (disjointness +
      * compaction pinned in OpsSpec). */
    Q("ann_ivf_relayout", annIvfSql("vec_id % 10 <> 9")) { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val idx = graft.ops.AnnIndex.ensureBuiltAppended(s, dir + "#relayout",
        emb.filter(pmod(col("vec_id"), lit(10)) =!= 9),
        emb.filter(pmod(col("vec_id"), lit(10)) === 9),
        "vec_id", "embedding", nCentroids = NCENT_IVF, withRelayout = true)
      graft.ops.AnnIndex.probe(s, idx, col("vec_id").between(100, 109), k = 3)
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_rebalanced — the maintenance loop that CLOSES the
      * index lifecycle (build → appends → measure → conditional
      * rebuild → probe), on the clustered corpus where appends
      * genuinely degrade the layout: the index is built on ONE
      * cluster (vec_id % 8 = 0 — all 16 centroids land inside that
      * cluster's region), then the other seven clusters arrive as two
      * appended batches and pile onto whichever base centroids happen
      * to face them — measured bucket spread far past the 8×
      * threshold (~180× at sf0.01). AnnIndex.maybeRebalance fires the
      * CONDITIONAL rebuild: retrain on the full member set (staged
      * through the crash-atomic root swap — the old index is intact
      * on disk at every instant), re-home, rewrite. The oracle states
      * the REBUILT model — trained on the whole clustered corpus — so
      * a silently-skipped rebuild would serve the degraded
      * one-cluster model and fail the hash gate: the row verifies the
      * conditional fired, the rebuild read a complete member set, and
      * the swap left a consistent model. nlist is pinned at 16
      * (nlistOverride) so the oracle's model is corpus-size-
      * independent; the √n re-sizing rule is pinned in OpsSpec. */
    Q("ann_ivf_rebalanced", annIvfSqlOn(embClusteredCte, "TRUE")) { (s, dir) =>
      val emb = clusteredEmb(s, dir)
      val idx = graft.ops.AnnIndex.ensureBuiltRebalanced(s, dir + "#rebalanced",
        emb.filter(pmod(col("vec_id"), lit(8)) === 0),
        Seq(emb.filter(pmod(col("vec_id"), lit(8)).between(1, 3)),
          emb.filter(pmod(col("vec_id"), lit(8)) >= 4)),
        "vec_id", "embedding", nCentroids = NCENT_IVF)
      graft.ops.AnnIndex.probe(s, idx, col("vec_id").between(100, 109), k = 3)
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_pq — IVFADC, the composed production ANN shape
      * (Similarity.ivfPqTopK): candidates from the trained IVF
      * model's 3 nearest buckets per probe (same model + multi-probe
      * expansion as ann_ivf), scored by PQ ADC lookups instead of
      * exact cosine — IVF bounds WHICH rows are touched
      * (nprobe × n/nCentroids per probe), PQ bounds the BYTES each
      * touch costs (~8 per candidate). Measured in ann_recall's
      * ivfadc row: 0.54 vs full-corpus-ADC pq's 0.56 — the bucket
      * restriction cost 1 hit in 50 while scoring ~1/5 of the corpus
      * per probe (quantization, not candidate loss, is the gap to
      * ivf's exact-cosine 0.88). The oracle composes the
      * trained-model CTEs with the PQ encode/ADC CTEs; scores are
      * bit-identical. */
    Q("ann_ivf_pq", annIvfPqSql) { (s, dir) =>
      Similarity.ivfPqTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = NCENT_IVF, col("vec_id").between(100, 109), k = 3,
          model = ivfModel(s, dir))
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_pq_indexed — IVFADC served entirely from the persisted
      * index (AnnIndex.buildPq/probePq): members are PQ-encoded once
      * into `codes/` partitioned by bucket, and the probe reads
      * bucket-pruned 8-byte codes — never the corpus vectors — with
      * the ADC plan (bucket ranking + LUTs) built from the stored
      * trained model and codebook seed. Byte-identical to ann_ivf_pq
      * (shared oracle) — the ann_ivf / ann_ivf_indexed pairing
      * discipline applied to the composed path. */
    Q("ann_ivf_pq_indexed", annIvfPqSql) { (s, dir) =>
      val idx = graft.ops.AnnIndex.ensureBuilt(s, dir,
        table(s, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = NCENT_IVF)
      graft.ops.AnnIndex.ensurePq(s, idx)
      graft.ops.AnnIndex.probePq(s, idx, col("vec_id").between(100, 109), k = 3)
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_pq_rerank — the TWO-TIER serving shape: the residual
      * ADC ranking as a 50-deep SHORTLIST, re-ranked by exact cosine
      * ([[graft.ops.Similarity.ivfPqRerankTopK]]). What the clustered
      * recall grade showed single-stage ADC cannot do (rank within
      * tight clusters: 0.14-0.16 recall for every code variant), the
      * re-rank recovers to the IVF candidate ceiling (0.86/0.88) at
      * the cost of 50 full-vector fetches per probe — codes stay the
      * hot tier, vectors the cold one. */
    Q("ann_ivf_pq_rerank", annIvfPqRerankSql) { (s, dir) =>
      Similarity.ivfPqRerankTopK(table(s, dir, "embeddings"),
          "vec_id", "embedding",
          nCentroids = NCENT_IVF, col("vec_id").between(100, 109), k = 3,
          model = ivfModel(s, dir))
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_pq_residual — IVFADC with RESIDUAL encoding, the
      * literature's actual form and the answer to the failure
      * ann_recall_clustered measured (raw-vector ADC recall 0.16 on
      * the clustered corpus): codes quantize v − centroid(v), the
      * exact ⟨q, centroid⟩ rides as a per-(probe, bucket) constant,
      * and the codebook spends all 256 entries on WITHIN-bucket
      * structure ([[graft.ops.Similarity.ivfPqResidualTopK]]). Same
      * candidate restriction and 8-byte corpus I/O as ann_ivf_pq. */
    Q("ann_ivf_pq_residual", annIvfPqResidualSql) { (s, dir) =>
      Similarity.ivfPqResidualTopK(table(s, dir, "embeddings"),
          "vec_id", "embedding",
          nCentroids = NCENT_IVF, col("vec_id").between(100, 109), k = 3,
          model = ivfModel(s, dir))
        .orderBy("q_id", "rank")
    },

    /** ann_ivf_pq_m16 — IVFADC at 16 subspaces (16 one-byte codes =
      * 16 B/vector, still 16× smaller than the float32 form): the
      * MEASURED better point on the recall/bandwidth curve for this
      * corpus — recall@5 ivfadc 0.54 → 0.70 at the gate scale (0.40 →
      * 0.52 at sf0.1) for 2× the per-candidate bytes; m=32 reaches
      * 0.78 but at 32 B/vector exceeds the ≤16 B budget, and the
      * remaining gap to ivf's exact-cosine 0.88 stays quantization,
      * not candidate loss (pq m=16 full-corpus ADC = 0.78). Same
      * trained model, same seeding rule, dsub = 4. */
    Q("ann_ivf_pq_m16", annIvfPqSqlFor(16)) { (s, dir) =>
      Similarity.ivfPqTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = NCENT_IVF, col("vec_id").between(100, 109), k = 3,
          m = 16, model = ivfModel(s, dir))
        .orderBy("q_id", "rank")
    },

    /** sessionize — gap-based sessions (30 min) per user: lag flags
      * session starts, a running sum numbers them, then a per-session
      * rollup. One shuffle on the key (graft.ops.Sessionize). */
    Q("sessionize",
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s2 AS (SELECT user_id, ts, CAST(SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM s)
        |SELECT user_id, session_seq, COUNT(*) AS n_events,
        |  epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 AS duration_s
        |FROM s2 GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin) { (s, dir) =>
      graft.ops.Sessionize.sessionStats(table(s, dir, "events"),
          "user_id", "ts", gapSeconds = 1800)
        .orderBy("user_id", "session_seq")
    },

    /** sessionize_window — the same gap sessions through Spark's
      * NATIVE session_window aggregate (the built-in the hand-rolled
      * lag/running-sum form predates): one aggregation, engine-managed
      * window merging, and the same operator works under Structured
      * Streaming with watermark-driven state eviction. Semantics pin:
      * an event exactly `gap` after the session's last event starts a
      * NEW session (window end is exclusive), hence the >= in the
      * oracle's lag condition. */
    Q("sessionize_window",
      """WITH s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s2 AS (SELECT user_id, ts, CAST(SUM(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seq
        |  FROM s)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        |  COUNT(*) AS n_events
        |FROM s2 GROUP BY user_id, seq
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      table(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    /** dedup_cluster — connected components over the Jaccard ≥ 0.6
      * near-dup graph (iterative min-label propagation; DuckDB
      * verifies with a recursive CTE transitive closure). Turns pair
      * matches into dedup groups. The LEXICAL EDGE is auto-selected
      * from corpus statistics ([[Dedup.jaccardPairs]] "auto" — exact
      * gram join only while its predicted candidate volume is O(n);
      * the gate corpora's saturated 31-word vocabulary puts the rule
      * on the BANDED edge at every graded scale, which the static
      * oracle mirrors; dedup_cluster_exact keeps the recall-lossless
      * exact edge as the explicitly-suffixed baseline). */
    Q("dedup_cluster",
      s"""WITH RECURSIVE $cappedGramsCte,
         |$bandedJacCtes,
         |$closureCtes
         |SELECT node, component FROM comp ORDER BY node""".stripMargin) { (s, dir) =>
      graft.ops.Components.connectedComponents(
          lexicalEdge(s, dir, "auto"), "doc_a", "doc_b")
        .orderBy("node")
    },

    /** dedup_cluster_exact — the SAME clustering over the exact
      * df-capped gram-join pair relation: recall-lossless (no banding
      * miss) but inherently ~n²/V on a vocabulary-saturated corpus
      * (measured 25.8× wall at 10× data, SCALING.md §2) — the
      * explicitly-suffixed baseline the auto default falls back to
      * only when corpus stats show the pair space is sparse. */
    Q("dedup_cluster_exact",
      s"""WITH RECURSIVE $cappedGramsCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM cgrams GROUP BY 1),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
         |  FROM cgrams a JOIN cgrams b USING (g)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jac AS (SELECT da, db
         |  FROM inter JOIN sizes sa ON sa.doc_id = da JOIN sizes sb ON sb.doc_id = db
         |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6::DOUBLE),
         |$closureCtes
         |SELECT node, component FROM comp ORDER BY node""".stripMargin) { (s, dir) =>
      graft.ops.Components.connectedComponents(
          lexicalEdge(s, dir, "gram"), "doc_a", "doc_b")
        .orderBy("node")
    },

    /** dedup_cluster_banded — the SAME clustering with the lexical
      * edge built the scale-safe way for vocabulary-saturated corpora:
      * MinHash-banded candidates (equi-join on band keys — volume
      * governed by the banding S-curve, not by how many docs share
      * SOME gram) verified by EXACT df-capped Jaccard ≥ 0.6 computed
      * on candidates only (codegen'd array intersect of the two docs'
      * gram-hash sets — O(|A|+|B|) per pair). dedup_cluster's exact
      * gram-join relation is inherently ~n²/V when the vocabulary is
      * bounded (measured 25.8× at 10× data, SCALING.md §3); this edge
      * trades banding recall (a pair colliding in no band is missed)
      * for candidates that stay proportional to true near-dups. */
    Q("dedup_cluster_banded",
      s"""WITH RECURSIVE $cappedGramsCte,
         |$bandedJacCtes,
         |$closureCtes
         |SELECT node, component FROM comp ORDER BY node""".stripMargin) { (s, dir) =>
      graft.ops.Components.connectedComponents(
          Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text", 3, 0.6,
              candidates = "banded")
            .select("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .orderBy("node")
    },

    /** dedup_multi_signal — near-dup clustering over the UNION of two
      * independent signals on the same id space: lexical (trigram
      * Jaccard ≥ 0.6) OR semantic (sign-LSH banded candidates
      * re-ranked by exact cosine ≥ 0.4). Components over the merged
      * edge set catch paraphrase clusters that either signal alone
      * splits — the production shape of corpus dedup. BOTH edges are
      * scale-governed: the semantic edge's band-key width is derived
      * from the corpus count ([[Similarity.autoBandBits]]: bits =
      * max(8, ⌈log₂ n⌉ − 7) — SCALING.md §3's sizing rule as code),
      * so bucket population stays bounded as the corpus grows; the
      * lexical edge is the cluster family's AUTO-SELECTED relation
      * ([[lexicalEdge]] / [[Dedup.jaccardPairs]] "auto" — exact gram
      * join while predicted candidates stay O(n), MinHash-banded
      * exact-verify once gram space saturates). The r16 docs ladder
      * measured exactly why the lexical edge cannot stay on the raw
      * gram join: this key TIMED OUT (≥480 s, ≥92× for 3× data) at
      * the 3× docs rung while the sibling keys on the auto edge
      * stayed ≤2.8× — the fixed-vocab corpus saturates gram space and
      * the exact relation goes ~n²/V. At the gate scales the auto
      * rule lands on BANDED (28–253 predicted candidates/doc vs the
      * 8/doc budget), which the static oracle mirrors; the sign-LSH
      * rule lands on the 8-bit floor × NBANDS_AUTO bands = 16 planes.
      * The recall-lossless exact lexical edge lives on in the
      * explicitly-suffixed _recall_tune twin. */
    Q("dedup_multi_signal",
      multiSignalSql(NBANDS_AUTO, bandedLexical = true)) { (s, dir) =>
      val lexical = lexicalEdge(s, dir, "auto")
      val semantic = Similarity.lshPairsAuto(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          nBands = NBANDS_AUTO, threshold = 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      graft.ops.Components.connectedComponents(
          lexical.unionByName(semantic), "doc_a", "doc_b")
        .orderBy("node")
    },

    /** dedup_multi_signal_recall_tune — the SAME composed dedup with
      * BOTH edges tuned for small-corpus RECALL instead of scale: the
      * semantic edge at 4 bands × 4-bit keys finds more cos ≥ 0.4
      * paraphrase pairs (a candidate only has to agree on 4
      * consecutive bits) at 16 buckets per band — candidates ~n²/512,
      * measured 20.6× wall at 10× data (SCALING.md §3) — and the
      * lexical edge keeps the recall-lossless EXACT gram-join
      * relation (no banding miss; ~n²/V on vocabulary-saturated
      * corpora — the relation that timed dedup_multi_signal out at 3×
      * docs before r17 moved the default to the auto edge). Explicitly
      * suffixed so the obvious key carries the scale-safe defaults
      * and reaching for this one is a deliberate small-corpus choice. */
    Q("dedup_multi_signal_recall_tune", multiSignalSql(NBANDS_MS)) { (s, dir) =>
      val lexical = lexicalEdge(s, dir, "gram")
      val semantic = Similarity.lshPairs(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          nPlanes = NPLANES, nBands = NBANDS_MS, threshold = 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      graft.ops.Components.connectedComponents(
          lexical.unionByName(semantic), "doc_a", "doc_b")
        .orderBy("node")
    },

    /** dedup_near_corpus — the end product of the near-dup pipeline:
      * the corpus with every Jaccard ≥ 0.6 cluster collapsed to its
      * minimum-id representative (pairs → components → anti join).
      * Consumes the family's shared AUTO-SELECTED lexical edge
      * ([[lexicalEdge]] — banded on the gate corpora, mirrored by
      * the static oracle). Local wall time is dominated by the pair
      * generation plus the components loop's per-round driver
      * actions, not data volume: every exchange carries ids or gram
      * hashes, the anti join is ids-only, and the loop's shuffles are
      * sized to the (tiny) pair graph — the plan scales with corpus
      * bytes, the local floor is fixed job latency. */
    Q("dedup_near_corpus",
      s"""WITH RECURSIVE $cappedGramsCte,
         |$bandedJacCtes,
         |$closureCtes
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = table(s, dir, "documents")
      Dedup.keepRepresentatives(docs, "doc_id", lexicalEdge(s, dir, "auto"),
          "doc_a", "doc_b")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** Frame sampling over binary payloads: 64-byte frames, every 4th
      * kept (ASCII corpus → byte offsets == char offsets, so the
      * oracle can state it over text). */
    Q("mm_frame_sample",
      """SELECT doc_id, frame_idx::INTEGER AS frame_idx,
        |  length(substring(text, frame_idx::INTEGER * 64 + 1, 64))::INTEGER AS frame_bytes,
        |  md5(substring(text, frame_idx::INTEGER * 64 + 1, 64)) AS frame_md5
        |FROM documents,
        |  UNNEST(range(0, greatest(CAST(ceil(length(text) / 64.0::DOUBLE) AS INTEGER), 1))) AS r(frame_idx)
        |WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      val media = Multimodal.toMediaTable(table(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .orderBy("doc_id", "frame_idx")
    },

    /** REAL image decode: each doc renders to an actual PNG (executor-
      * side ImageIO encode, dims + gray level deterministic in
      * (doc_id, n_chars)), then decodeImages parses the PNG container
      * and pixels back. The constant-gray fill gives the decoded pixel
      * sum the closed form w*h*3*gray, which is what lets a SQL engine
      * with no codec state the oracle — the Spark side still round-
      * trips real image bytes. */
    Q("mm_decode",
      """SELECT doc_id,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(8 + n_chars % 7 AS INTEGER) AS height,
        |  CAST((8 + doc_id % 9) * (8 + n_chars % 7) * 3 * (doc_id % 256) AS BIGINT) AS px_sum
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.toImageTable(table(s, dir, "documents"), "doc_id", "n_chars")
      Multimodal.decodeImages(s, media).toDF()
        .select("doc_id", "width", "height", "px_sum")
        .orderBy("doc_id")
    },

    /** mm_phash_dedup — LAION-style image dedup on DECODED pixels:
      * real 8×8 gradient PNGs encoded AND decoded through the codec
      * on executors, perceptually fingerprinted with a 60-bit
      * average-hash (Multimodal.ahashImages — hashing decoded pixels
      * is what catches re-encoded duplicates a byte-hash misses),
      * then grouped by hash exactly like text_fingerprint. The
      * gradient's id-mod-32 class structure plants exact perceptual
      * duplicates; the oracle states the pixels and the p·64 > Σp
      * threshold in closed form, no codec needed. */
    Q("mm_phash_dedup",
      """WITH px AS (SELECT d.doc_id, y.j AS py, x.i AS px_x,
        |    (x.i * 31 + y.j * 17 + (d.doc_id % 32) * 11) % 256 AS p
        |  FROM documents d, UNNEST(range(0, 8)) AS x(i), UNNEST(range(0, 8)) AS y(j)),
        |s AS (SELECT doc_id, SUM(p) AS tot FROM px GROUP BY 1),
        |h AS (SELECT px.doc_id,
        |    CAST(SUM(CASE WHEN px.p * 64 > s.tot AND (px.py * 8 + px.px_x) < 60
        |      THEN (CAST(1 AS BIGINT) << CAST(px.py * 8 + px.px_x AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS ahash
        |  FROM px JOIN s USING (doc_id) GROUP BY 1)
        |SELECT ahash, COUNT(*) AS n, MIN(doc_id) AS first_doc
        |FROM h GROUP BY 1 ORDER BY ahash""".stripMargin) { (s, dir) =>
      val media = Multimodal.toImageTableGradient(table(s, dir, "documents"), "doc_id")
      Multimodal.ahashImages(s, media)
        .groupBy("ahash")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy("ahash")
    },

    /** Format-agnostic decode: even doc_ids render as PNG, odd as
      * JPEG, and ONE decodeImages call handles both — proving the
      * decode stage is container sniffing, not a PNG-only parser.
      * JPEG is lossy, so the oracle pins the codec-exact outputs
      * (kind, dimensions); the near-exact JPEG pixel sums are
      * tolerance-checked in OpsSpec. */
    Q("mm_decode_mixed",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS kind,
        |  CAST(8 + doc_id % 9 AS INTEGER) AS width,
        |  CAST(8 + n_chars % 7 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.toImageTableMixed(table(s, dir, "documents"), "doc_id", "n_chars")
      Multimodal.decodeImages(s, media).toDF()
        .select("doc_id", "kind", "width", "height")
        .orderBy("doc_id")
    },

    /** mm_resize — decode → nearest-neighbor thumbnail → re-encode →
      * decode again (Multimodal.resizeImages): the dimension-normalize
      * step before any vision encoder, proven end-to-end because the
      * resized payloads are REAL PNGs the second decode parses. The
      * constant-fill inputs keep their gray level under nearest-
      * neighbor, so the oracle states the resized pixel sum in closed
      * form — no codec in DuckDB needed. */
    Q("mm_resize",
      """SELECT doc_id,
        |  CAST(4 AS INTEGER) AS width,
        |  CAST(4 AS INTEGER) AS height,
        |  CAST(4 * 4 * 3 * (doc_id % 256) AS BIGINT) AS px_sum
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.toImageTable(table(s, dir, "documents"), "doc_id", "n_chars")
      Multimodal.decodeImages(s, Multimodal.resizeImages(media, 4, 4)).toDF()
        .select("doc_id", "width", "height", "px_sum")
        .orderBy("doc_id")
    },

    /** ann_lsh_quantized — the LSH re-rank in int8-quantized space:
      * same banded candidates as ann_lsh, scored by the codegen'd
      * quantized_cosine (exact BIGINT sums; scale factors cancel in
      * cosine so there is no dequantization). The production scoring
      * path at corpus scale — vectors crossing the candidate joins are
      * 8× smaller than the double working form. */
    Q("ann_lsh_quantized",
      s"""WITH $embCte,
         |bits AS (SELECT vec_id, v, nrm,
         |    $lshBitsSql
         |  FROM n),
         |bands AS (
         |  $lshBandsSql),
         |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  WHERE a.vec_id < b.vec_id),
         |sc AS (SELECT vec_id, v,
         |    list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) AS scale
         |  FROM e),
         |qd AS (SELECT vec_id,
         |    CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0::BIGINT)
         |         ELSE list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
         |    END AS qv
         |  FROM sc),
         |scored AS (SELECT ia AS vec_a, ib AS vec_b,
         |    CASE WHEN list_reduce(list_transform(qa.qv, x -> x*x), (x,y) -> x+y) = 0
         |           OR list_reduce(list_transform(qb.qv, x -> x*x), (x,y) -> x+y) = 0
         |         THEN 0.0
         |         ELSE CAST(list_reduce(list_transform(range(1, 65),
         |        i -> qa.qv[i] * qb.qv[i]), (x,y) -> x+y) AS DOUBLE) /
         |    (sqrt(CAST(list_reduce(list_transform(qa.qv, x -> x*x), (x,y) -> x+y) AS DOUBLE)) *
         |     sqrt(CAST(list_reduce(list_transform(qb.qv, x -> x*x), (x,y) -> x+y) AS DOUBLE)))
         |    END AS qcos
         |  FROM cand JOIN qd qa ON qa.vec_id = ia JOIN qd qb ON qb.vec_id = ib)
         |SELECT vec_a, vec_b, qcos FROM scored
         |WHERE qcos >= 0.35::DOUBLE
         |ORDER BY vec_a, vec_b""".stripMargin) { (s, dir) =>
      Similarity.lshPairsQuantized(table(s, dir, "embeddings"), "vec_id", "embedding",
          nPlanes = NPLANES, nBands = NBANDS, threshold = 0.35)
        .orderBy("vec_a", "vec_b")
    },

    /** mm_audio_decode — REAL audio container round trip through the
      * JDK codec (javax.sound): each doc renders to deterministic
      * 16-bit mono PCM in a genuine WAV file, decodeAudio parses the
      * container back (format, frame count, signed amplitude sum).
      * The closed-form sample pattern is what lets a SQL engine with
      * no codec state the oracle — the Spark side still round-trips
      * real audio bytes, same contract as mm_decode for images. */
    Q("mm_audio_decode",
      """WITH d AS (SELECT doc_id, 100 + n_chars % 200 AS n FROM documents),
        |s AS (SELECT d.doc_id, ((d.doc_id * 31 + r.i * 7) % 2001 - 1000) AS amp
        |  FROM d, UNNEST(range(0, d.n)) AS r(i))
        |SELECT doc_id, 8000 AS sample_rate,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(amp) AS BIGINT) AS amp_sum
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.toAudioTable(table(s, dir, "documents"), "doc_id", "n_chars")
      Multimodal.decodeAudio(s, media).toDF().orderBy("doc_id")
    },

    /** dedup_incremental — daily-ingest dedup against a standing
      * corpus (batch = doc_id % 5 == 0, corpus = the rest): in-batch
      * exact winners, fingerprint anti join vs corpus text, near-dup
      * anti join with the candidate stage AUTO-SELECTED from corpus
      * statistics ([[Dedup.incremental]] "auto" — exact two-sided gram
      * Jaccard while predicted Σ df_b·df_c candidates stay O(|batch|),
      * MinHash-banded once gram space saturates, the same decision
      * rule as the cluster family's [[lexicalEdge]]). The r16
      * docs ladder measured why the raw gram join cannot be the
      * default: 7.2× cost for 3× data on the fixed-vocab corpus. On
      * the gate corpora the rule lands on BANDED at every graded
      * scale, which the shared static oracle mirrors; the
      * recall-lossless exact relation keeps the explicit _exact
      * suffix below. The corpus never self-joins either way — per-day
      * cost scales with the batch, which is what makes daily dedup of
      * a 100-TB corpus affordable at all. */
    Q("dedup_incremental", incrementalBandedSql) { (s, dir) =>
      val (batch, corpus) = dailySplit(s, dir)
      Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5)
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** dedup_incremental_exact — the recall-lossless baseline:
      * batch-vs-corpus candidates from the exact capped-gram
      * equi-join, membership by exact Jaccard ≥ 0.5. Explicitly
      * suffixed (the repo convention: the obvious key carries the
      * scale-safe default) because this relation is O(Σ df_b·df_c) —
      * linear only while the corpus keeps growing gram diversity,
      * 7.2× for 3× data on the r16 docs ladder once the fixed-vocab
      * corpus saturated gram space. Reaching for it is a deliberate
      * choice for corpora whose vocabulary grows with the data
      * (Heaps' law holds), where it costs the same as banded and
      * misses nothing. */
    Q("dedup_incremental_exact",
      s"""WITH $gramsCte,
         |bg AS (SELECT doc_id, g FROM grams WHERE doc_id % 5 = 0),
         |cg AS (SELECT doc_id, g FROM grams WHERE doc_id % 5 <> 0),
         |b1 AS (SELECT doc_id, n_chars, text FROM (
         |    SELECT doc_id, n_chars, text, row_number() OVER (
         |      PARTITION BY ${md5_60Sql("lower(trim(text))")} ORDER BY doc_id) AS rn
         |    FROM documents WHERE doc_id % 5 = 0) WHERE rn = 1),
         |b2 AS (SELECT doc_id, n_chars FROM b1
         |  WHERE ${md5_60Sql("lower(trim(text))")} NOT IN (
         |    SELECT ${md5_60Sql("lower(trim(text))")}
         |    FROM documents WHERE doc_id % 5 <> 0)),
         |hot AS (SELECT g FROM cg GROUP BY g HAVING COUNT(*) > ${Dedup.DefaultMaxDf}),
         |bgc AS (SELECT doc_id, g FROM bg WHERE g NOT IN (SELECT g FROM hot)),
         |cgc AS (SELECT doc_id, g FROM cg WHERE g NOT IN (SELECT g FROM hot)),
         |szb AS (SELECT doc_id, COUNT(*) AS n FROM bgc GROUP BY 1),
         |szc AS (SELECT doc_id, COUNT(*) AS n FROM cgc GROUP BY 1),
         |inter AS (SELECT b.doc_id AS bid, c.doc_id AS cid, COUNT(*) AS ni
         |  FROM bgc b JOIN cgc c USING (g) GROUP BY 1, 2),
         |hits AS (SELECT DISTINCT bid FROM inter
         |  JOIN szb ON szb.doc_id = bid JOIN szc ON szc.doc_id = cid
         |  WHERE CAST(ni AS DOUBLE) / CAST(szb.n + szc.n - ni AS DOUBLE) >= 0.5::DOUBLE)
         |SELECT doc_id, n_chars FROM b2
         |WHERE doc_id NOT IN (SELECT bid FROM hits)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val (batch, corpus) = dailySplit(s, dir)
      Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5,
          candidates = "gram")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** dedup_incremental_banded — the SCALE-SAFE twin of
      * dedup_incremental (Dedup.incremental "banded"): same
      * exact-winner and fingerprint stages, but batch-vs-corpus
      * near-dup candidates come from a MinHash band equi-join instead
      * of shared raw grams. The exact twin's gram candidates are
      * O(n²/|gram space|) — the r16 docs ladder measured its cost
      * growing 8.5× for 3× data once the synthetic corpus' fixed
      * vocabulary saturated gram space (avg df grows with n under the
      * maxDf cap); band candidates collide on signature equality, so
      * their volume tracks true near-dup pairs. Membership is by
      * MinHash estimate ≥ 0.5 (own contract, like dedup_minhash) —
      * the shared incrementalBandedSql oracle, which the default key's
      * auto rule also lands on at every graded scale. Kept as the
      * explicit pinned-construction form next to the auto default,
      * mirroring dedup_cluster_banded vs dedup_cluster. */
    Q("dedup_incremental_banded", incrementalBandedSql) { (s, dir) =>
      val (batch, corpus) = dailySplit(s, dir)
      Dedup.incremental(batch, corpus, "doc_id", "text", 3, 0.5,
          candidates = "banded")
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** dedup_incremental_indexed — the same daily-ingest dedup run
      * against the PERSISTED corpus index (DedupIndex: fingerprint
      * set, range-laid-out gram table, MinHash signature table, built
      * once per session and reused across invocations): byte-identical
      * output to dedup_incremental — same oracle — but the per-batch
      * plan scans only the batch and the fixed-width index tables;
      * corpus TEXT is never re-read or re-tokenized. The candidate
      * stage auto-selects per batch with the SAME [[Dedup
      * .useBandedEdge]] rule, priced off the index's df statistics
      * (one pass over the range-pruned gram table behind a broadcast
      * of the batch's per-gram counts); on the gate corpora it lands
      * on BANDED — probing the persisted `sigs/` relation — which the
      * shared oracle mirrors. This is what converts dedup_incremental's
      * per-day full-corpus rescan into an index probe, the shape that
      * survives a 100-TB standing corpus (plan pinned in PlansSpec:
      * no corpus relation in the physical plan). */
    Q("dedup_incremental_indexed", incrementalBandedSql) { (s, dir) =>
      val (batch, corpus) = dailySplit(s, dir)
      val idx = graft.ops.DedupIndex.ensureBuilt(s, dir, corpus, "doc_id", "text", 3)
      graft.ops.DedupIndex.dedupBatch(s, batch, idx, "doc_id", "text", 3, 0.5)
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** dedup_incremental_bloom — the indexed daily dedup with BOTH
      * Bloom filters in the membership anti join: a query-time filter
      * keyed by the batch winners' fingerprints prunes the
      * CORPUS-SIZED fps scan to ~|batch| might-match rows (the
      * at-scale win — billions of standing fingerprints stop
      * shuffling; survivors broadcast), and the PERSISTED sidecar
      * (DedupIndex `bloom/`, rebuilt from the durable fps table after
      * every mutation) routes definitely-new winners around the join
      * entirely. No false negatives on either side and every positive
      * is verified exactly, so the output — and the oracle — is
      * byte-identical to dedup_incremental_indexed. The 16 MB cap and
      * graceful-degradation contract are at DedupIndex.bloomSizeBits;
      * the measured gate-scale overhead vs crossover is in SCALING.md. */
    Q("dedup_incremental_bloom", incrementalBandedSql) { (s, dir) =>
      val (batch, corpus) = dailySplit(s, dir)
      val idx = graft.ops.DedupIndex.ensureBuilt(s, dir, corpus, "doc_id", "text", 3)
      graft.ops.DedupIndex.dedupBatch(s, batch, idx, "doc_id", "text", 3, 0.5,
          useBloom = true)
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    /** corpus_mix — target-composition mixture sampling
      * (Corpus.mixSample): per-language keep rates DERIVED from the
      * actual counts so the output hits the recipe (en 40 / de 20 /
      * es 15 / fr 15 / zh 10 at half the corpus) regardless of input
      * skew; applied as deterministic hash sampling. The data-mixture
      * step of corpus assembly. */
    Q("corpus_mix", {
      val caseSql = mixWeights
        .map { case (g, w) => s"WHEN '$g' THEN CAST($w AS DOUBLE)" }
        .mkString(" ")
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |t AS (SELECT COUNT(*) AS nn FROM documents),
         |r AS (SELECT lang, CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
         |    CASE lang $caseSql ELSE CAST(0.0 AS DOUBLE) END
         |      * CAST(nn AS DOUBLE) * CAST(0.5 AS DOUBLE) / CAST(n AS DOUBLE))
         |    * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS thresh
         |  FROM c CROSS JOIN t)
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d JOIN r USING (lang)
         |WHERE ('0x' || substring(md5('mix-0:' || CAST(d.doc_id AS VARCHAR)),1,15))::BIGINT
         |  % 1000000 < r.thresh
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      Corpus.mixSample(table(s, dir, "documents"), "doc_id", "lang",
          mixWeights, budgetFrac = 0.5, seed = "mix-0")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },

    /** text_chunk_overlap — sliding-window chunking
      * (Corpus.chunkOverlap): 32-token chunks every 24 tokens
      * (8-token overlap), the context-window prep of
      * retrieval/embedding pipelines; final chunk absorbs the tail. */
    Q("text_chunk_overlap",
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |nn AS (SELECT doc_id, t, len(t) AS n FROM tok),
        |ch AS (SELECT doc_id, CAST(r.i AS INTEGER) AS chunk_idx,
        |    array_to_string(t[CAST(r.i*24+1 AS INTEGER):CAST(r.i*24+32 AS INTEGER)], ' ') AS chunk
        |  FROM nn, UNNEST(range(0,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE CAST(ceil(CAST(n - 32 AS DOUBLE) / 24.0) AS BIGINT) + 1 END)) AS r(i))
        |SELECT doc_id, chunk_idx, chunk,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      Corpus.chunkOverlap(table(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, stepTokens = 24)
        .orderBy("doc_id", "chunk_idx")
    },

    /** text_extract_html — raw HTML → text (script/style removal, tag
      * strip, entity decode, whitespace collapse): the step upstream
      * of every text operator in a web pipeline. Each doc is wrapped
      * in an HTML shell built identically in both engines; the
      * extraction expression is generated from the same constants the
      * Spark Column folds. */
    Q("text_extract_html",
      s"""WITH h AS (SELECT doc_id,
         |    ${sqlLit(htmlPrefix)} || CAST(doc_id AS VARCHAR) || ${sqlLit(htmlMid)}
         |      || text || ${sqlLit(htmlSuffix)} AS html
         |  FROM documents),
         |x AS (SELECT doc_id, $htmlExtractSql AS text_clean FROM h)
         |SELECT doc_id, text_clean,
         |  CAST(length(text_clean) AS BIGINT) AS n_chars_clean
         |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val html = concat(lit(htmlPrefix), col("doc_id").cast("string"),
        lit(htmlMid), col("text"), lit(htmlSuffix))
      table(s, dir, "documents")
        .select(col("doc_id"), TextOps.extractHtml(html).as("text_clean"))
        .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
        .orderBy("doc_id")
    },

    /** dedup_lines — C4/Gopher-style LINE-level dedup, the
      * sub-document granularity whole-doc dedup misses: a "line"
      * (3-token window — the corpus has no newlines) occurring in ≥ 5
      * distinct documents is boilerplate and removed everywhere; docs
      * are rebuilt from surviving lines in order. The count exchange
      * carries 60-bit line hashes, never line text. */
    Q("dedup_lines",
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |lines AS (SELECT doc_id, CAST(r.i AS INTEGER) AS pos,
        |    array_to_string(t[CAST(r.i*3+1 AS INTEGER):CAST(r.i*3+3 AS INTEGER)], ' ') AS line
        |  FROM tok, UNNEST(range(0, CAST(ceil(len(t)/3.0) AS BIGINT))) AS r(i)),
        |c AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY 1)
        |SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN c.nd < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN c.nd < 5 THEN l.line END, ' ' ORDER BY l.pos), '') AS text_clean
        |FROM lines l JOIN c USING (line)
        |GROUP BY l.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.dedupLines(table(s, dir, "documents"), "doc_id", "text",
          chunk = 3, k = 5)
        .orderBy("doc_id")
    },

    /** dedup_substring — ExactSubstr coverage stats (Lee et al. 2022):
      * per-doc fraction of 8-token windows whose fingerprint repeats
      * anywhere in the corpus (cross-doc or intra-doc). One row per
      * token through the fingerprint window — O(corpus), no pair
      * join; see [[graft.ops.Dedup.substringDupStats]]. */
    Q("dedup_substring",
      s"""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         |wins AS (SELECT doc_id, ${md5_60Sql("array_to_string(t[i:i+7], ' ')")} AS wh
         |  FROM tok, UNNEST(range(1, greatest(len(t)-7,0)+1)) AS r(i)),
         |occ AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS occ FROM wins)
         |SELECT doc_id, COUNT(*) AS n_windows,
         |  CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
         |  CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(COUNT(*) AS DOUBLE) AS dup_ratio
         |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.substringDupStats(table(s, dir, "documents"), "doc_id", "text",
          windowLen = 8)
        .orderBy("doc_id")
    },

    /** text_substring_prune — the span-REMOVAL form of ExactSubstr
      * dedup (the operation Lee et al. actually apply): every token
      * covered by a duplicated 8-token window is dropped and the doc
      * rebuilt from the survivors in order; a fully-duplicated doc
      * keeps its row with text_pruned = ''. */
    Q("text_substring_prune",
      s"""WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
         |wins AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
         |    ${md5_60Sql("array_to_string(t[i:i+7], ' ')")} AS wh
         |  FROM tok, UNNEST(range(1, greatest(len(t)-7,0)+1)) AS r(i)),
         |occ AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY wh) AS occ FROM wins),
         |cov AS (SELECT DISTINCT doc_id, CAST(u.c AS INTEGER) AS tp
         |  FROM occ, UNNEST(range(pos, pos + 8)) AS u(c) WHERE occ >= 2),
         |tokp AS (SELECT doc_id, CAST(r.i - 1 AS INTEGER) AS tp,
         |    t[CAST(r.i AS INTEGER)] AS tok
         |  FROM tok, UNNEST(range(1, len(t) + 1)) AS r(i)),
         |keepj AS (SELECT p.doc_id, p.tp, p.tok, c.tp IS NULL AS keep
         |  FROM tokp p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.tp = p.tp)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  COALESCE(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY tp), '') AS text_pruned
         |FROM keepj GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.substringPrune(table(s, dir, "documents"), "doc_id", "text",
          windowLen = 8)
        .orderBy("doc_id")
    },

    /** text_tfidf — per-doc top-3 TF-IDF terms with a log-free idf
      * (N/df): every arithmetic step is one IEEE op on integer-derived
      * doubles, so scores are bit-identical across engines (ln() can
      * differ in the last ulp between libms). */
    Q("text_tfidf",
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split(lower(trim(text)), ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM tf GROUP BY 1),
        |dfx AS (SELECT token, COUNT(*) AS df FROM (
        |    SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.token,
        |    (CAST(cnt AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
        |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
        |  FROM tf JOIN dl USING (doc_id) JOIN dfx USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, tfidf FROM (
        |  SELECT doc_id, token, tfidf, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn FROM scored)
        |WHERE rn <= 3 ORDER BY doc_id, token""".stripMargin) { (s, dir) =>
      Corpus.tfidfTopK(table(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "token")
    },

    /** corpus_split — deterministic train/val/test assignment
      * (Corpus.assignSplits): membership is a pure function of
      * (seed, doc_id), so the split is disjoint, exhaustive, and
      * re-derivable on any partitioning or engine — the property a
      * 100-TB corpus snapshot needs so eval rows can NEVER leak into
      * train across re-runs. The oracle recomputes the identical
      * hash-threshold rule. */
    Q("corpus_split",
      s"""SELECT doc_id,
         |  CASE WHEN ${md5_60Sql("'graft-split-0:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'train'
         |       WHEN ${md5_60Sql("'graft-split-0:' || CAST(doc_id AS VARCHAR)")} % 100 < 95 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Corpus.assignSplits(table(s, dir, "documents")
          .select("doc_id"), "doc_id", "graft-split-0",
          Seq(("train", 90), ("val", 95), ("test", 100)))
        .orderBy("doc_id")
    },

    /** text_bpe_pairs — most frequent adjacent token pairs across the
      * corpus (Corpus.bigramPairsTopK): one merge step of BPE
      * training. Per-doc window pairing (partitions bounded by doc
      * length), map-side-combined pair counts, top-k without a global
      * sort. */
    Q("text_bpe_pairs",
      """WITH tok AS (SELECT doc_id,
        |    string_split(lower(trim(text)), ' ') AS ts FROM documents),
        |pairs AS (SELECT ts[i] AS l_tok, ts[i+1] AS r_tok FROM tok,
        |  UNNEST(range(1, greatest(len(ts)-1,0)+1)) AS u(i))
        |SELECT l_tok, r_tok, COUNT(*) AS n_pairs FROM pairs
        |GROUP BY l_tok, r_tok
        |ORDER BY n_pairs DESC, l_tok, r_tok LIMIT 20""".stripMargin) { (s, dir) =>
      graft.ops.Corpus.bigramPairsTopK(table(s, dir, "documents"),
          "doc_id", "text", k = 20)
        .orderBy(col("n_pairs").desc, col("l_tok").asc, col("r_tok").asc)
    },

    /** text_bpe_train — k=3 ITERATIVE BPE merge rounds
      * (Corpus.bpeTrain): per round, a distributed adjacent-pair
      * count elects the top pair (count DESC, then lexicographic — a
      * 1-row driver collect), and the corpus is rewritten with that
      * pair merged greedily left-to-right before the next round
      * counts pairs over merged tokens. Exchanges carry token pair
      * strings through one map-side-combined aggregate per round;
      * the corpus never leaves the executors. The oracle unrolls the
      * same three rounds, with the merge stated as the identical
      * space-doubled literal replace (greedy left-to-right in both
      * engines by construction). */
    Q("text_bpe_train", {
      def pairCtes(i: Int, src: String) =
        s"""tok$i AS (SELECT string_split(txt, ' ') AS ts FROM $src),
           |pc$i AS (SELECT ts[CAST(u.i AS INTEGER)] AS l_tok,
           |    ts[CAST(u.i + 1 AS INTEGER)] AS r_tok, COUNT(*) AS n_pairs
           |  FROM tok$i, UNNEST(range(1, greatest(len(ts)-1,0)+1)) AS u(i)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT l_tok, r_tok, n_pairs FROM pc$i
           |  ORDER BY n_pairs DESC, l_tok, r_tok LIMIT 1)""".stripMargin
      def mergeCte(i: Int, src: String) =
        s"""t$i AS (SELECT trim(regexp_replace(replace(
           |    ' ' || replace(txt, ' ', '  ') || ' ',
           |    ' ' || m$i.l_tok || '  ' || m$i.r_tok || ' ',
           |    ' ' || m$i.l_tok || '+' || m$i.r_tok || ' '),
           |    ' +', ' ', 'g')) AS txt
           |  FROM $src CROSS JOIN m$i)""".stripMargin
      s"""WITH t0 AS (SELECT regexp_replace(lower(trim(text)), ' +', ' ', 'g')
         |    AS txt FROM documents),
         |${pairCtes(1, "t0")},
         |${mergeCte(1, "t0")},
         |${pairCtes(2, "t1")},
         |${mergeCte(2, "t1")},
         |${pairCtes(3, "t2")}
         |SELECT round, l_tok, r_tok, n_pairs FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, * FROM m1
         |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM m2
         |  UNION ALL SELECT CAST(3 AS BIGINT), * FROM m3)
         |ORDER BY round""".stripMargin
    }) { (s, dir) =>
      graft.ops.Corpus.bpeTrain(table(s, dir, "documents"),
          "doc_id", "text", rounds = 3)
        .orderBy("round")
    },

    /** text_bpe_train_fast — the SAME 3 merge rounds via the
      * pair-table incremental trainer (Corpus.bpeTrainIncremental):
      * corpus tokenized once, pair counts maintained from per-doc
      * deltas instead of a per-round full recount — the k=50 000
      * training shape. Same oracle as text_bpe_train: the merge
      * tables are identical by construction (pinned in OpsSpec). */
    Q("text_bpe_train_fast", {
      def pairCtes(i: Int, src: String) =
        s"""tok$i AS (SELECT string_split(txt, ' ') AS ts FROM $src),
           |pc$i AS (SELECT ts[CAST(u.i AS INTEGER)] AS l_tok,
           |    ts[CAST(u.i + 1 AS INTEGER)] AS r_tok, COUNT(*) AS n_pairs
           |  FROM tok$i, UNNEST(range(1, greatest(len(ts)-1,0)+1)) AS u(i)
           |  GROUP BY 1, 2),
           |m$i AS (SELECT l_tok, r_tok, n_pairs FROM pc$i
           |  ORDER BY n_pairs DESC, l_tok, r_tok LIMIT 1)""".stripMargin
      def mergeCte(i: Int, src: String) =
        s"""t$i AS (SELECT trim(regexp_replace(replace(
           |    ' ' || replace(txt, ' ', '  ') || ' ',
           |    ' ' || m$i.l_tok || '  ' || m$i.r_tok || ' ',
           |    ' ' || m$i.l_tok || '+' || m$i.r_tok || ' '),
           |    ' +', ' ', 'g')) AS txt
           |  FROM $src CROSS JOIN m$i)""".stripMargin
      s"""WITH t0 AS (SELECT regexp_replace(lower(trim(text)), ' +', ' ', 'g')
         |    AS txt FROM documents),
         |${pairCtes(1, "t0")},
         |${mergeCte(1, "t0")},
         |${pairCtes(2, "t1")},
         |${mergeCte(2, "t1")},
         |${pairCtes(3, "t2")}
         |SELECT round, l_tok, r_tok, n_pairs FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, * FROM m1
         |  UNION ALL SELECT CAST(2 AS BIGINT), * FROM m2
         |  UNION ALL SELECT CAST(3 AS BIGINT), * FROM m3)
         |ORDER BY round""".stripMargin
    }) { (s, dir) =>
      graft.ops.Corpus.bpeTrainIncremental(table(s, dir, "documents"),
          "doc_id", "text", rounds = 3)
        .orderBy("round")
    },

    /** text_bpe_apply — ENCODE the corpus with the learned merge table
      * (Corpus.bpeApply): train's k=3 merges are collected (model
      * metadata, k rows) and applied in rank order in ONE distributed
      * pass — broadcast merge list, per-doc greedy left-to-right array
      * merging, zero driver round trips over the corpus. The oracle
      * replays the same three merges as the train oracle's literal
      * rewrites (byte-identical greedy semantics) and counts tokens
      * before/after. */
    Q("text_bpe_apply",
      s"""WITH $bpeApplyCtes
         |SELECT t0.doc_id,
         |  CAST(len(string_split(t0.txt, ' ')) AS BIGINT) AS n_raw,
         |  CAST(len(string_split(t3.txt, ' ')) AS BIGINT) AS n_enc
         |FROM t0 JOIN t3 USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the 3-round table comes from the shared per-corpus cache
      // ([[bpeMerges3]]), which also owns the exhausted-corpus guard
      graft.ops.Corpus.bpeApply(table(s, dir, "documents"),
          "doc_id", "text", bpeMerges3(s, dir))
        .select("doc_id", "n_raw", "n_enc").orderBy("doc_id")
    },

    /** text_unigram_lm — model-based quality scoring
      * (Corpus.unigramLmScores): each doc's mean corpus relative token
      * frequency, the log-free unigram stand-in for a KenLM perplexity
      * filter. Exact across engines because the score is one IEEE
      * division of two BIGINT products of corpus counts; the model
      * join carries 60-bit token hashes, never text. */
    Q("text_unigram_lm",
      s"""WITH tok AS (SELECT doc_id, ${md5_60Sql("t")} AS h FROM (
         |    SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS t
         |    FROM documents)),
         |model AS (SELECT h, COUNT(*) AS cnt FROM tok GROUP BY h),
         |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM model),
         |doc AS (SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(cnt) AS BIGINT) AS s
         |  FROM tok JOIN model USING (h) GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(s AS DOUBLE) /
         |    (CAST(n_tokens AS DOUBLE) * CAST((SELECT n_total FROM tot) AS DOUBLE))
         |    AS lm_score
         |FROM doc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Corpus.unigramLmScores(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    /** embed_centroid_update — one k-means (Lloyd) centroid refresh in
      * int8-quantized space: per-(bucket, dim) sums are exact BIGINTs,
      * so no float accumulation-order drift anywhere; the mean is one
      * exact IEEE division. Output bounded by nCentroids × dims. */
    Q("embed_centroid_update",
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 8),
         |asg AS (SELECT vec_id, bucket FROM (
         |  SELECT a.vec_id, c.cid AS bucket, row_number() OVER (
         |    PARTITION BY a.vec_id
         |    ORDER BY ${dotSql("a.v", "c.cv")} / (a.nrm * c.cnrm) DESC, c.cid) AS rn
         |  FROM n a CROSS JOIN cent c) WHERE rn = 1),
         |sc AS (SELECT vec_id, v,
         |    list_reduce(list_transform(v, x -> abs(x)), (a,b) -> greatest(a,b)) AS scale
         |  FROM e),
         |qd AS (SELECT vec_id,
         |    CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0::BIGINT)
         |         ELSE list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
         |    END AS qv
         |  FROM sc),
         |expl AS (SELECT a.bucket, CAST(r.i - 1 AS INTEGER) AS dim,
         |    qd.qv[CAST(r.i AS INTEGER)] AS x
         |  FROM qd JOIN asg a USING (vec_id),
         |    UNNEST(range(1, len(qd.qv) + 1)) AS r(i))
         |SELECT bucket, dim, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x) AS BIGINT) AS s,
         |  CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid_q
         |FROM expl GROUP BY 1, 2 ORDER BY bucket, dim""".stripMargin) { (s, dir) =>
      Similarity.centroidUpdate(table(s, dir, "embeddings"), "vec_id", "embedding",
          nCentroids = 8)
        .orderBy("bucket", "dim")
    })
}
