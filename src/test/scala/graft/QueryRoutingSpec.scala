package graft

/** `SparkEntry.queries` runs a query over a small input on one reused,
  * interpreted clone of the caller's session, and a query over a large
  * input on the caller's session ([[GraftSession.forInput]]). */
class QueryRoutingSpec extends SparkSpec {
  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.1"
  private val codegen = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  /** perfbench's `query-small` mix, then the 7 queries that lose to
    * codegen at sf0.1. */
  private val names = Seq(
    "q1_authors_leaderboard", "q7_star_join_revenue", "q109_pagerank",
    "q36_dedup_simhash", "q110_setsim_join", "q178_array_functions",
    "q264_bpe_pack_sequences", "q389_weighted_sample", "q396_ktruss",
    "q416_kn_discount_sweep", "q430_cdc_chunks", "q96_stream_dedup",
    "q120_cdc_apply", "q161_jsonl_rejects", "q175_header_detail_recon",
    "q189_containment_join", "q215_supplier_risk", "q256_xml_rejects",
    "q391_bigram_lm")

  private def requireDir(dir: String): Unit =
    assume(new java.io.File(dir).isDirectory, s"driver testdata absent at $dir")

  test("a small input gives the caller's digests and leaves its codegen conf as it was") {
    requireDir(small)
    val conf = codegen.map(spark.conf.getOption)
    val fns = SparkEntry.registry.map(q => q.name -> q.fn).toMap
    names.foreach { name =>
      spark.catalog.clearCache()
      val routed = SparkEntry.queries(name)(spark, small)
      assert(routed.sparkSession ne spark, name)
      val got = ResultDigest.of(routed)
      spark.catalog.clearCache()
      assert(got == ResultDigest.of(fns(name)(spark, small)), name)
    }
    spark.catalog.clearCache()
    assert(codegen.map(spark.conf.getOption) == conf)
  }

  test("calls share one interpreted clone until the caller's conf changes") {
    requireDir(small)
    val q1 = SparkEntry.queries("q1_authors_leaderboard")
    val a = q1(spark, small).sparkSession
    val b = SparkEntry.queries("q7_star_join_revenue")(spark, small).sparkSession
    assert((a ne spark) && (a eq b))
    assert(codegen.map(a.conf.get) == Seq("false", "NO_CODEGEN"))
    val key = "graft.test.routing"
    val value = java.util.UUID.randomUUID().toString
    spark.conf.set(key, value)
    try {
      val c = q1(spark, small).sparkSession
      assert((c ne a) && (c ne spark))
      assert(c.conf.get(key) == value)
      assert(codegen.map(c.conf.get) == Seq("false", "NO_CODEGEN"))
    } finally spark.conf.unset(key)
  }

  test("a large input, or a dir that does not exist, keeps the caller's session") {
    assert(GraftSession.forInput(spark, s"target/tmp/absent-${java.util.UUID.randomUUID()}") eq spark)
    requireDir(large)
    assert(GraftSession.inputBytes(spark, large) >= GraftSession.SmallInputBytes)
    assert(SparkEntry.queries("q1_authors_leaderboard")(spark, large).sparkSession eq spark)
  }
}
