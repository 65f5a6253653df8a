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

  test("a second pass over every scratch-owning key leaves no temp dir, catalog name or conf behind") {
    // the IoQueries keys that write a per-call temp dir
    val ioScratch = Seq("sink_csv", "sink_json", "sink_parquet", "sink_orc",
      "sink_avro", "sink_avro_evolve", "sink_append_evolve",
      "sink_overwrite_dynamic", "sink_metrics", "sink_history", "ddl_create",
      "join_bucketed", "src_csv", "src_config_json", "src_http_json",
      "compact_files", "layout_range_sort", "compact_partitioned",
      "layout_zorder", "scan_zonemap_pruned", "sink_scd2", "corpus_shuffle")
    val keys = SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted ++
      ioScratch :+ "view_daily_summary_incremental"
    assert(keys.count(_.startsWith("stream_")) == 9)
    def pass(): Unit = keys.foreach(k => SparkEntry.queries(k)(spark, sf).count())
    // a per-run dir in forked test runs (build.sbt), so only this
    // JVM's scratch is listed
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def snapshot() = (
      // hidden `.graft_*` siblings too: an in-place rewrite keeps its
      // trash beside the root it rewrote
      tmp.list().filter(_.stripPrefix(".").startsWith("graft_")).toSet,
      spark.catalog.listTables().collect().map(_.name).toSet,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass"))
    // pass one builds the application-lifetime memos (the stream
    // template index); pass two must add nothing
    pass()
    val before = snapshot()
    pass()
    val after = snapshot()
    assert(after._1 -- before._1 == Set.empty, "temp dirs left behind")
    assert(after._2 -- before._2 == Set.empty, "catalog names left behind")
    assert(after == before)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
