package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative Bloom-filter runtime pruning — the 100-TB join pattern
  * where the build side is too large to broadcast-JOIN row-for-row but
  * its KEY SET compresses into a few KB of bits: build the filter with
  * one partial-aggregating pass over the keys, broadcast the single
  * resulting row, and drop non-matching fact rows AT THE SCAN, before
  * the join's exchange ever materializes them. False positives are
  * harmless (the exact join that follows re-checks); false negatives
  * are impossible (every key set its own bits), so the composed result
  * is byte-identical to the plain join and the DuckDB oracle can state
  * it as one.
  *
  * Everything is Catalyst expressions — xxhash64 / pmod / shiftleft /
  * bit_or / element_at — so the build is a map-side-combined aggregate
  * (the exchange carries at most nBits/64 (word, bits) rows) and the
  * probe is a codegen'd narrow filter; no driver-side collect, no UDF,
  * no sketch object to serialize ([[bloomWords]], the same bits for
  * keys held in one task or on the driver, is the one exception). This is the
  * hand-rolled form of the engine-injected runtime filter
  * (spark.sql.optimizer.runtime.bloomFilter.*), usable where the
  * injection heuristics don't fire and portable to a pre-computed,
  * persisted filter.
  */
object RuntimeFilter {

  /** The i-th bit position of `key`: pmod(xxhash64(i, key), nBits).
    * Seeding by hash index gives nHashes independent functions from
    * the one 64-bit family. Built with the Column API, never by
    * splicing the column name into SQL text — a key column needing
    * backtick quoting (dots, spaces, reserved words) works unchanged.
    */
  private def posCol(i: Int, key: Column, nBits: Int): Column =
    pmod(xxhash64(lit(i), key), lit(nBits))

  /** One-row relation `bloom: MAP<INT, BIGINT>` — word index → 64-bit
    * word — over the distinct bit positions of `dim`'s `keyCol`.
    * Sparse words are simply absent (probe coalesces to 0). The agg
    * tree is: explode nHashes positions per key → partial bit_or per
    * word (map-side combine) → map_from_entries. The exchange carries
    * ≤ nBits/64 rows regardless of dim's size.
    */
  def bloomBits(dim: DataFrame, keyCol: String, nBits: Int = 1024,
                nHashes: Int = 3): DataFrame = {
    require(nBits > 0 && nBits % 64 == 0, s"nBits must be a positive multiple of 64, got $nBits")
    require(nHashes > 0, s"nHashes must be positive, got $nHashes")
    val positions = (0 until nHashes).map(i => posCol(i, col(keyCol), nBits))
    // pos ≥ 0 by pmod, so word = pos >> 6 and bit = pos & 63 equal the
    // DIV/% forms exactly
    dim.select(explode(array(positions: _*)).as("pos"))
      .select(shiftright(col("pos"), 6).cast("int").as("word"),
        call_function("shiftleft", lit(1L),
          col("pos").bitwiseAND(lit(63L)).cast("int")).as("bitval"))
      .groupBy("word").agg(expr("bit_or(bitval)").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("bloom"))
  }

  /** [[bloomBits]]' word → bits map over BIGINT keys streamed through
    * one JVM (a batch's on the driver, or one partition's in a task),
    * computed with Spark's own hash (seed-42 XXH64 over (i, key), the
    * `xxhash64(i, key)` of [[posCol]]; a NULL key hashes i alone), so
    * the bits are identical to [[bloomBits]]' and [[bloomProbe]] finds
    * every key — without an aggregate query to plan and compile. The
    * map holds at most nBits/64 words whatever the key count; ORing two
    * maps unions their key sets.
    */
  private[ops] def bloomWords(keys: IterableOnce[java.lang.Long], nBits: Int,
                              nHashes: Int = 3): Map[Int, Long] = {
    require(nBits > 0 && nBits % 64 == 0, s"nBits must be a positive multiple of 64, got $nBits")
    require(nHashes > 0, s"nHashes must be positive, got $nHashes")
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val words = scala.collection.mutable.LongMap.empty[Long]
    for (key <- keys.iterator; i <- 0 until nHashes) {
      val seed = XXH64.hashInt(i, 42L)
      val h = if (key == null) seed else XXH64.hashLong(key, seed)
      // pmod(h, nBits) exactly as Spark's Pmod computes it on longs
      val m = h % nBits
      val pos = if (m < 0) (m + nBits) % nBits else m
      words(pos >> 6) = words.getOrElse(pos >> 6, 0L) | (1L << (pos & 63))
    }
    words.iterator.map { case (w, bits) => w.toInt -> bits }.toMap
  }

  /** Membership probe: every one of the key's nHashes bits must be set
    * in the broadcast `bloom` map. Codegen-friendly (hash / element_at
    * / shiftright / bitwise-and), evaluated at the scan.
    */
  def bloomProbe(keyCol: String, nBits: Int = 1024, nHashes: Int = 3): Column =
    (0 until nHashes).map { i =>
      val pos = posCol(i, col(keyCol), nBits)
      val word = coalesce(
        element_at(col("bloom"), shiftright(pos, 6).cast("int")), lit(0L))
      // the two pos occurrences are the same Column subtree — whole-
      // stage codegen's subexpression elimination computes it once
      call_function("shiftright", word,
        pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)

  /** `fact` reduced to rows whose `factKey` might appear in `dim`'s
    * `dimKey` set — a superset of the exact semi-join (no false
    * negatives), pruned before any exchange. Compose with the exact
    * join downstream for byte-identical-to-plain-join results.
    */
  def bloomPruned(fact: DataFrame, factKey: String,
                  dim: DataFrame, dimKey: String,
                  nBits: Int = 1024, nHashes: Int = 3): DataFrame = {
    require(!fact.columns.contains("bloom"),
      "fact already has a 'bloom' column — rename it before pruning")
    val bits = bloomBits(dim.select(dimKey), dimKey, nBits, nHashes)
    fact.crossJoin(broadcast(bits))
      .filter(bloomProbe(factKey, nBits, nHashes))
      .drop("bloom")
  }
}
