package graft

/** Contract smoke: every registered query plans and executes on the
  * smallest corpus, and SQL-expressible ops carry an oracle.
  */
class RegistrySpec extends SparkSpec {

  test("registry names are unique and oracle coverage is complete") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    // every registered query carries an oracle — agg_approx's sketch
    // values are engine-specific, so ITS oracle gates the error-bound
    // booleans the row emits instead of the raw sketch values
    val oracleLess = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(oracleLess.isEmpty, oracleLess)
  }

  test("README states the registry size") {
    val readme = new java.io.File("README.md")
    assert(readme.exists(), s"README.md not found from ${new java.io.File(".").getAbsolutePath}")
    val src = scala.io.Source.fromFile(readme, "UTF-8")
    val stated = try """(\d+) operator queries""".r.findFirstMatchIn(src.mkString)
      .map(_.group(1).toInt) finally src.close()
    assert(stated.contains(SparkEntry.queries.size),
      s"README says $stated operator queries, the registry has ${SparkEntry.queries.size}")
  }

  test("approx aggregates report in-bound sketches per group") {
    val rows = SparkEntry.queries("agg_approx")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"${r.getString(0)}: HLL out of bound")
      assert(r.getBoolean(3), s"${r.getString(0)}: approx median out of bound")
    }
  }

  test("every query executes on sf0.001 and the expected ones are non-empty") {
    // ops whose correct result may legitimately be empty at tiny scale
    val mayBeEmpty = Set("ann_lsh", "dedup_embed_cosine_exact_baseline", "dedup_simhash",
      "dedup_minhash", "dedup_ngram_jaccard", "dedup_ngram_jaccard_exact",
      "join_anti",
      "set_intersect", "set_except")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, name)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
