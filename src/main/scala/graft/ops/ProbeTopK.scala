package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The ANN family's one ranking path. Every top-k entry point
  * ([[Similarity.cosineTopK]], the IVF/PQ forms, [[AnnIndex.probe]],
  * [[AnnIndex.probePq]]) collects its probe set under [[probeSet]],
  * plans each [[Probe]] on the driver and ranks with [[topK]]; only the
  * scorer differs. A probe is (q_id, vector, the keys it searches: its
  * `nprobe` buckets, the one key of a full-corpus path, or its
  * shortlisted ids); rows are (vec_id: long, key: long, payload...).
  */
private[ops] object ProbeTopK {

  type Probe = (Long, Array[Double], Array[Long])

  /** (score, vec_id, key) kept for one probe. */
  type Cand = (Double, Long, Long)

  val Collected = "probes are collected and broadcast, so the predicate must pick a small probe set"

  /** The probe set's rows on the driver: at most `maxProbes + 1` rows
    * are read; only a refused set is counted, so the refusal names its
    * exact size and the caller.
    */
  def probeSet(selected: DataFrame, maxProbes: Long, caller: String,
               why: String): Array[InternalRow] = {
    val rows = Layout.collectRows(
      selected.limit(math.min(maxProbes, Int.MaxValue - 1L).toInt + 1))
    require(rows.length <= maxProbes,
      s"$caller: probePred selected ${selected.count()} probes (> $maxProbes); $why")
    rows
  }

  /** Each probe's k best candidates under (score DESC, vec_id ASC), best
    * first, by q_id, from one pass over `rows` (one SQL execution). A
    * row is decoded once (`payload`) and scored (`score(probe index,
    * key, payload)`) against every probe that searches its key except
    * the one with its own id; each partition keeps a bounded top-k per
    * probe (the global top-k is in the union of these), merged on the
    * driver as they arrive, so the driver holds at most 2 × k × probes.
    */
  def topK[P](rows: DataFrame, probes: Array[Probe], k: Int)
             (payload: (Long, Long, InternalRow) => P)
             (score: (Int, Long, P) => Double): Map[Long, Seq[Cand]] = {
    val bc = rows.sparkSession.sparkContext.broadcast((probes, payload, score))
    def merge(a: Map[Long, Seq[Cand]], b: Map[Long, Seq[Cand]]): Map[Long, Seq[Cand]] =
      b.foldLeft(a) { case (m, (q, cs)) =>
        m.updated(q, (m.getOrElse(q, Nil) ++ cs)
          .sortWith((x, y) => Similarity.rankCompare(x._1, x._2, y._1, y._2) < 0).take(k))
      }
    Layout.withRows(rows)(_.mapPartitions { it =>
      val (ps, decode, scoreOf) = bc.value
      val byKey = ps.indices.flatMap(i => ps(i)._3.map(_ -> i)).groupMap(_._1)(_._2)
      // heap head = the kept candidate that ranks last
      val worstFirst: java.util.Comparator[Cand] =
        (a, b) => Similarity.rankCompare(b._1, b._2, a._1, a._2)
      val heaps = Array.fill(ps.length)(new java.util.PriorityQueue[Cand](worstFirst))
      it.foreach { r =>
        val id = r.getLong(0)
        val key = r.getLong(1)
        byKey.get(key).foreach { is =>
          val p = decode(id, key, r)
          is.foreach { i =>
            if (ps(i)._1 != id) {
              val cand = (scoreOf(i, key, p), id, key)
              val h = heaps(i)
              if (h.size < k) h.add(cand)
              else if (k > 0 && worstFirst.compare(cand, h.peek) > 0) {
                h.poll(); h.add(cand)
              }
            }
          }
        }
      }
      import scala.jdk.CollectionConverters._
      Iterator(heaps.iterator.zip(ps.iterator).collect {
        case (h, (qid, _, _)) if !h.isEmpty => qid -> h.asScala.toSeq
      }.toMap)
    }.fold(Map.empty)(merge))
  }

  /** [[topK]] by [[Similarity.cosK]] of each probe's vector against the
    * row's `v` (third column).
    */
  def byCosine(rows: DataFrame, probes: Array[Probe], k: Int): Map[Long, Seq[Cand]] =
    topK(rows, probes, k)((_, _, r) => r.getArray(2).toDoubleArray())(
      (i, _, v) => Similarity.cosK(probes(i)._2, v))

  /** The ranked local relation (q_id, neighbor_id, [keyCol], scoreCol,
    * rank), by q_id then rank, ids cast to `idType`; columns outside
    * `nullable` are non-null.
    */
  def relation(spark: SparkSession, top: Map[Long, Seq[Cand]], idType: DataType,
               keyCol: Option[String], scoreCol: String,
               nullable: Set[String] = Set.empty): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = top.toSeq.sortBy(_._1).flatMap { case (q, cs) =>
      cs.zipWithIndex.map { case ((s, id, key), r) =>
        Row.fromSeq(Seq[Any](q, id) ++ keyCol.map(_ => key) ++ Seq[Any](s, r + 1L))
      }
    }
    val fields = Seq("q_id" -> "long", "neighbor_id" -> "long") ++
      keyCol.map(_ -> "long") ++ Seq(scoreCol -> "double", "rank" -> "long")
    // the id casts fold into the local relation at optimization time
    spark.createDataFrame(rows.asJava, fields.foldLeft(new StructType()) {
        case (st, (name, t)) => st.add(name, t, nullable = nullable(name)) })
      .select(Seq(col("q_id").cast(idType).as("q_id"),
        col("neighbor_id").cast(idType).as("neighbor_id")) ++
        keyCol.map(col) ++ Seq(col(scoreCol), col("rank")): _*)
  }
}
