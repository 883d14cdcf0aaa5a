package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-stress gate: every 100-TB claim in SCALE.md is a plan
  * argument plus a plan-shape assertion; this main MEASURES the claims on
  * synthesized corpora up to ~10× sf0.1 and records per-query scaling
  * exponents, plus the three tier constants validated at their boundaries
  * (BandBucketCap=100, Fuzzy.DriverClosureMaxEdges=2M, SemDeDup's
  * 200-member scan cap).
  *
  * Usage: ScaleStress <sfDir> <workDir> [outJson]
  *
  * Corpus synthesis (testdata is read-only — generated under workDir):
  * multiplier K unions K deterministic copies of sf0.1's documents and
  * embeddings. Copy k ≥ 1 offsets ids by k·10⁷ (even, so q97's odd/even
  * archive split is preserved) and MUTATES content — a copy-salt token
  * spliced into the text every 5 words, a per-(id, k, slot) hash
  * perturbation added to each embedding component — so cross-copy rows are
  * NOT near-duplicates of each other: duplicate-pair density stays roughly
  * constant with K, and measured growth reflects the ENGINE's scaling, not
  * a deliberately K²-densified pair structure. (The planted-hot-key runs
  * below probe the densified regime separately, where the caps must hold.)
  * Copy 0 is byte-identical content re-written through the same writer, so
  * every multiplier reads the same physical layout. All other tables are
  * symlinked from sfDir so any registry query runs unchanged.
  *
  * Exponent: least-squares slope of ln(t) on ln(K) over the multiplier
  * grid — ~1 linear, ~2 quadratic. Single-rep timings on a multi-tenant
  * box are noisy (NOTES.md: 3× swings); the grid spread and the recorded
  * loadavg make a spike visible rather than silently fit.
  */
object ScaleStress {

  /** Round-12 extension (VERDICT r11 #2): the graph kernels (wedge join,
    * iterative rank/label joins, incremental CC), the PPJoin prefix join,
    * and the heaviest streaming-maintenance fold — measured on corpora
    * whose ORDERS+LINEITEM are now scaled too (K disjoint copies of the
    * co-purchase graph: constant density, so exponents measure the
    * engine, not a densified pair structure — same discipline as the
    * per-token document salting). q128's BFS expands from one seed, so
    * only one copy's component is ever touched: its near-flat exponent
    * is the expected signature, recorded deliberately. */
  val MeasuredR12: Seq[String] = Seq(
    "q106_triangle_count", "q109_pagerank", "q110_setsim_join",
    "q128_bfs_hops", "q277_hits", "q292_k_core", "q354_lpa_communities",
    "q382_personalized_pagerank", "q383_cc_incremental",
    "q259_stream_full_maintenance")

  /** Round-13 graph kernels: the incremental tri-support fold (q395 —
    * delta-grain probes must scale with |Δ|, not archive size), the
    * k-truss peel (q396 — K disjoint graph copies peel in the same
    * number of rounds as one, so growth measures per-round cost), Luby
    * MIS (q405 — whole-graph symmetry breaking, round count is a local
    * property so K copies converge together), and pivot betweenness
    * (q401 — the top-5 GLOBAL pivots all land in one copy under
    * tie-by-id, so only that copy's component is walked: the q128
    * single-seed signature, expected near-flat and recorded
    * deliberately). */
  val MeasuredR13: Seq[String] = Seq(
    "q395_tri_support_incremental", "q396_ktruss", "q405_luby_mis",
    "q401_betweenness")

  /** Round-14 grid rows (VERDICT r13 #3): weighted PageRank (q403 —
    * q109's iteration economics with the weight riding the edge list),
    * edge betweenness (q404 — q401's pass + one edge-grain fold; shares
    * q401's single-copy pivot signature: the top-5 GLOBAL pivots land in
    * one copy, expected near-flat, recorded deliberately), the
    * component-grain incremental 3-core (q407 — the (u+v)%5 delta
    * touches components in EVERY copy, so touched work grows with K;
    * the gate is that growth stays ~linear, the pass-through is free),
    * and iterated-Luby coloring (q410 — K disjoint copies converge
    * together per q405's argument, iterated). */
  val MeasuredR14: Seq[String] = Seq(
    "q403_weighted_pagerank", "q404_edge_betweenness",
    "q407_core3_incremental", "q410_luby_coloring", "q414_ann_ivf_hier")

  /** Round-15 grid rows: the chained-schedule component fold (q417 —
    * same touched-growth signature as q407), the Lloyd-trained
    * hierarchical IVF (q418 — q414's economics plus one broadcast-argmax
    * training pass, expected ~q414's exponent), and Borůvka (q420 — K
    * disjoint graph copies run the same round count as one, so growth
    * measures per-round edge-join cost). */
  val MeasuredR15: Seq[String] = Seq(
    "q417_core_incremental", "q418_ann_ivf_lloyd", "q420_boruvka_msf",
    "q421_msf_incremental")

  /** The 15 heaviest data-plane pipelines (the dedup and ANN families the
    * 100-TB story leans on; VERDICT r10's stress list) plus the round-12
    * graph/prefix-join/streaming extension. */
  val Measured: Seq[String] = Seq(
    "q34_dedup_exact", "q35_dedup_minhash_lsh", "q37_dedup_ngram_jaccard",
    "q47_dedup_clusters", "q62_dedup_keep_best", "q65_simhash_hamming",
    "q82_dedup_ensemble", "q97_dedup_incremental", "q74_semantic_neardup",
    "q39_ann_topk", "q40_ann_lsh", "q48_ann_ivf", "q236_pq_ann",
    "q239_ivfpq_ann", "q66_kmeans_iter") ++ MeasuredR12 ++ MeasuredR13 ++
    MeasuredR14 ++ MeasuredR15

  /** Round-13 extension (VERDICT r12 #2): the two near-linear pair
    * emitters — q82 (0.90 on the 1×/3×/10× fit) and q65 (0.83) — get a
    * 30× point: both are output-growing (they EMIT the duplicate pairs,
    * and pair count grows with the corpus even at constant density), so
    * a short ln-ln fit can hide a super-linear bend that only shows past
    * 10×. The 30× row either confirms the sub-linear trend holds or
    * forces an emission cap. */
  /** Round-14 (VERDICT r13 #3): q48_ann_ivf joins the 30× tail — it
    * measured 0.91 on the 1/3/10 fit in r13, the new near-linear top,
    * and like the pair emitters its candidate volume grows with the
    * corpus (per-probe posting lists lengthen with K at a fixed nlist),
    * so the short fit could hide a bend past 10×. */
  val LongTail: Seq[String] = Seq("q65_simhash_hamming",
    "q82_dedup_ensemble", "q48_ann_ivf")

  private val IdOffset = 10000000L

  private val LinkedTables = Seq("region", "nation", "customer", "supplier",
    "part", "events")

  /** K mutated copies of documents: ids offset per copy, copy ≥ 1 texts
    * salted on EVERY token (a copy-specific prefix) so cross-copy shingle
    * sets are disjoint — measured: a weaker every-5-words splice left
    * 4-token runs intact and cross-copy candidate pairs grew 79× at 10×
    * (pair DENSITY, not engine cost); per-token salting keeps pair counts
    * linear in K so the exponents measure the engine. */
  private def scaledDocuments(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.crossJoin(spark.range(k).select(col("id").cast("int").as("copy")))
      .select(
        (col("doc_id") + col("copy").cast("long") * IdOffset).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("z"), col("copy"), lit("q$1"))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** K mutated copies of embeddings: per-(vec_id, copy, slot) hash
    * perturbation (±0.25 scale — big enough that cross-copy cosines fall
    * out of every near-dup threshold) — realistic density, no artificial
    * K-fold clusters. */
  private def scaledEmbeddings(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.crossJoin(spark.range(k).select(col("id").cast("int").as("copy")))
      .select(
        (col("vec_id") + col("copy").cast("long") * IdOffset).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .otherwise(expr(
            """transform(embedding, (x, i) ->
              |  CAST(x + CAST(pmod(hash(vec_id, copy, i), 1000) - 500 AS FLOAT)
              |           / 2000.0 AS FLOAT))""".stripMargin))
          .as("embedding"),
        col("label"))
  }

  /** K disjoint copies of the order→part incidence (copy k offsets every
    * key by k·10⁷): the co-purchase graph, the bipartite HITS graph, and
    * the support-2 edge set all replicate at CONSTANT density — K× nodes,
    * K× edges, identical degree distribution — so graph-kernel exponents
    * measure per-edge engine cost, not graph densification. */
  private def scaledOrders(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    val off = col("copy").cast("long") * IdOffset
    o.crossJoin(spark.range(k).select(col("id").cast("int").as("copy")))
      .select(o.columns.map {
        case "o_orderkey" => (col("o_orderkey") + off).as("o_orderkey")
        case "o_custkey" => (col("o_custkey") + off).as("o_custkey")
        case c => col(c)
      }: _*)
  }

  private def scaledLineitem(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val off = col("copy").cast("long") * IdOffset
    l.crossJoin(spark.range(k).select(col("id").cast("int").as("copy")))
      .select(l.columns.map {
        case "l_orderkey" => (col("l_orderkey") + off).as("l_orderkey")
        case "l_partkey" => (col("l_partkey") + off).as("l_partkey")
        case c => col(c)
      }: _*)
  }

  private def linkTables(sfDir: String, dir: String): Unit =
    LinkedTables.foreach { t =>
      val link = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(sfDir, s"$t.parquet"))
    }

  private def buildCorpus(spark: SparkSession, sfDir: String, dir: String,
      k: Int): Unit = {
    if (Files.exists(Paths.get(dir, "_done"))) return
    Files.createDirectories(Paths.get(dir))
    scaledDocuments(spark, sfDir, k)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    scaledEmbeddings(spark, sfDir, k)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    scaledOrders(spark, sfDir, k)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    scaledLineitem(spark, sfDir, k)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    linkTables(sfDir, dir)
    Files.writeString(Paths.get(dir, "_done"), "ok")
  }

  /** Wedge-skew corpus (Boundary 4): the 10× graph plus ONE planted hot
    * part co-purchased with 2500 distinct partner parts, each pairing
    * recurring in 2 orders (so every planted edge clears the support-2
    * floor). The hot node's degree (2500) is ~180× the clean maximum; a
    * u-centered wedge join would generate C(2500,2) ≈ 3.1M extra wedges
    * through it, but the (deg,id) ORIENTATION sends every planted edge
    * partner→hot (partners have degree 1), so the hot node's OUT-degree
    * stays 0 and the planted star adds ~zero wedges — q106's runtime on
    * this corpus must stay comparable to the clean 10× run. Documents,
    * embeddings and orders reuse the 10× corpus (the probe's query reads
    * lineitem only). */
  private def buildHotGraphCorpus(spark: SparkSession, sfDir: String,
      dir: String, tenXDir: String): Unit = {
    if (Files.exists(Paths.get(dir, "_done"))) return
    Files.createDirectories(Paths.get(dir))
    val hotPart = 300L * IdOffset
    val orderBase = 310L * IdOffset
    val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // Planted rows reuse one template row's non-key columns, so the
    // written schema matches byte-for-byte.
    val template = broadcast(l.limit(1).drop("l_orderkey", "l_partkey"))
    val planted = spark.range(2500L)
      .select(col("id").as("i"),
        explode(expr("array(0L, 1L)")).as("rep"))
      .select(explode(expr(
        s"""array(
           |  named_struct('l_orderkey', $orderBase + 2 * i + rep,
           |               'l_partkey', CAST($hotPart AS LONG)),
           |  named_struct('l_orderkey', $orderBase + 2 * i + rep,
           |               'l_partkey', $hotPart + 1 + i))""".stripMargin))
        .as("kv"))
      .select(col("kv.l_orderkey"), col("kv.l_partkey"))
      .crossJoin(template)
    scaledLineitem(spark, sfDir, 10)
      .unionByName(planted.select(l.columns.map(col): _*))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    for (t <- Seq("documents", "embeddings", "orders")) {
      val link = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(tenXDir, s"$t.parquet"))
    }
    linkTables(sfDir, dir)
    Files.writeString(Paths.get(dir, "_done"), "ok")
  }

  /** Prefix-bucket-density corpus (Boundary 5): the 10× documents plus
    * 3000 docs sharing ONE hot 13-token phrase, each padded with 48
    * doc-unique tokens — pairwise Jaccard ≈ 0.09, far below q110's 0.8,
    * so the correct OUTPUT is zero planted pairs. A naive shared-shingle
    * join would still generate ~3000²/2 candidate pairs through the hot
    * phrase's shingles; PPJoin's rarest-first prefix keeps frequent
    * shingles OUT of every prefix (each planted doc's prefix is its
    * doc-unique rarest shingles), so candidate volume — and q110's
    * runtime — must stay comparable to the clean 10× run. */
  private def buildHotPhraseCorpus(spark: SparkSession, sfDir: String,
      dir: String, tenXDir: String): Unit = {
    if (Files.exists(Paths.get(dir, "_done"))) return
    Files.createDirectories(Paths.get(dir))
    val phrase = "the exact boilerplate license header every crawler " +
      "keeps refinding in forked repositories verbatim"
    val planted = spark.range(3000L).select(
      (col("id") + 320L * IdOffset).as("doc_id"),
      expr(s"""concat_ws(' ',
              |  concat_ws(' ', transform(sequence(0, 23),
              |    j -> concat('hp', id, 'a', j))),
              |  '$phrase',
              |  concat_ws(' ', transform(sequence(0, 23),
              |    j -> concat('hp', id, 'b', j))))""".stripMargin).as("text"),
      lit("en").as("lang"), lit("hotphrase").as("source"))
      .withColumn("n_chars", length(col("text")))
    spark.read.parquet(s"$tenXDir/documents.parquet").unionByName(planted)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    for (t <- Seq("embeddings", "orders", "lineitem")) {
      val link = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(tenXDir, s"$t.parquet"))
    }
    linkTables(sfDir, dir)
    Files.writeString(Paths.get(dir, "_done"), "ok")
  }

  /** Hot-key corpus: the 10× corpus plus ONE text planted 5000× and ONE
    * embedding planted 2000× (tiny per-plant float jitter so vectors are
    * near-identical, not bit-equal). This is the densified regime the
    * caps exist for: without BandBucketCap the planted text alone yields
    * ~12.5M candidate pairs; without SemDeDup's scan cap the planted
    * cluster alone costs 2000²/2 comparisons. */
  private def buildHotCorpus(spark: SparkSession, sfDir: String, dir: String,
      baseK: Int): Unit = {
    if (Files.exists(Paths.get(dir, "_done"))) return
    Files.createDirectories(Paths.get(dir))
    val hotDocs = spark.range(5000).select(
      (col("id") + 100L * IdOffset).as("doc_id"),
      lit("the same viral boilerplate paragraph repeated verbatim across " +
        "the crawl is exactly the hot bucket the band cap bounds at read " +
        "time so candidate volume stays linear in the bucket cap not " +
        "quadratic in the bucket size").as("text"),
      lit("en").as("lang"), lit("hot").as("source"))
      .withColumn("n_chars", length(col("text")))
    scaledDocuments(spark, sfDir, baseK).unionByName(hotDocs)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val hotEmb = spark.range(2000).select(
      (col("id") + 100L * IdOffset).as("vec_id"),
      expr(s"""transform(sequence(0, 63), i ->
              |  CAST(CASE WHEN i = 0 THEN 1.0 ELSE 0.001 END
              |       + CAST(pmod(hash(id + ${100L * IdOffset}, i), 100) AS FLOAT)
              |         / 1000000.0 AS FLOAT))""".stripMargin).as("embedding"),
      lit(0).as("label"))
    scaledEmbeddings(spark, sfDir, baseK).unionByName(hotEmb)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    linkTables(sfDir, dir)
    Files.writeString(Paths.get(dir, "_done"), "ok")
  }

  /** Embedding-only corpus for the IVF cap-regime probe (Boundary 7):
    * embeddings scaled K×, every other table symlinked from the 10×
    * corpus — q48 reads ONLY embeddings, so this isolates the index
    * regimes without paying a 100× document/lineitem build. */
  private def buildEmbCorpus(spark: SparkSession, sfDir: String,
      dir: String, tenXDir: String, k: Int): Unit = {
    if (Files.exists(Paths.get(dir, "_done"))) return
    Files.createDirectories(Paths.get(dir))
    scaledEmbeddings(spark, sfDir, k)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (t <- Seq("documents", "orders", "lineitem")) {
      val link = Paths.get(dir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(tenXDir, s"$t.parquet"))
    }
    linkTables(sfDir, dir)
    Files.writeString(Paths.get(dir, "_done"), "ok")
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def runNoop(spark: SparkSession, name: String, dir: String): Double = {
    val fn = SparkEntry.queries(name)
    val t = time(fn(spark, dir).write.format("noop").mode("overwrite").save())
    spark.catalog.clearCache()
    t
  }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
      .take(3).mkString("[", ",", "]")
    catch { case _: Throwable => "null" }

  /** ln-ln least-squares slope over (k, t) samples. */
  def exponent(samples: Seq[(Int, Double)]): Double = {
    val pts = samples.map { case (k, t) => (math.log(k.toDouble), math.log(t)) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  private def f3(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleStress <sfDir> <workDir> [outJson]")
    val sfDir = args(0)
    val workDir = args(1)
    val outJson = if (args.length > 2) args(2) else "BENCH_scale.json"
    val mults = Seq(1, 3, 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    (mults :+ 30).foreach(k =>
      buildCorpus(spark, sfDir, s"$workDir/corpus_${k}x", k))
    buildHotCorpus(spark, sfDir, s"$workDir/corpus_hot", 10)
    buildHotGraphCorpus(spark, sfDir, s"$workDir/corpus_hotgraph",
      s"$workDir/corpus_10x")
    buildHotPhraseCorpus(spark, sfDir, s"$workDir/corpus_hotphrase",
      s"$workDir/corpus_10x")
    System.err.println(s"[scale] corpora ready under $workDir load=${loadAvg()}")

    // Warmup: one pass of every measured query at 1× (codegen + scheduler
    // + any lazy registration), not recorded.
    Measured.foreach(n => runNoop(spark, n, s"$workDir/corpus_1x"))

    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    val loads = scala.collection.mutable.ArrayBuffer.empty[String]
    mults.foreach { k =>
      loads += loadAvg()
      Measured.foreach { n =>
        val t = runNoop(spark, n, s"$workDir/corpus_${k}x")
        times.getOrElseUpdate(n, scala.collection.mutable.LinkedHashMap.empty) += k -> t
        System.err.println(s"[scale] $n ${k}x ${f3(t)}s")
      }
    }

    // Long-tail grid: the two pair emitters at 30× (their exponents are
    // then a 4-point fit — 1/3/10/30).
    LongTail.foreach { n =>
      val t = runNoop(spark, n, s"$workDir/corpus_30x")
      times(n) += 30 -> t
      System.err.println(s"[scale] $n 30x ${f3(t)}s")
    }

    // ---- Boundary 1: BandBucketCap=100 (Dedup.scala). The hot corpus
    // plants one 5000-strong exact-duplicate text: uncapped, its band
    // buckets alone contribute ~5000²/2 ≈ 12.5M candidate pairs. The cap
    // drops hot buckets at read, so q35 must return a SANE pair count and
    // a runtime comparable to the clean 10× run.
    val hotDir = s"$workDir/corpus_hot"
    val tLsh10 = times("q35_dedup_minhash_lsh")(10)
    val lshHotPairs = SparkEntry.queries("q35_dedup_minhash_lsh")(spark, hotDir)
    val tLshHot = time { lshHotPairs.write.format("noop").mode("overwrite").save() }
    val nLshHot = SparkEntry.queries("q35_dedup_minhash_lsh")(spark, hotDir).count()
    spark.catalog.clearCache()

    // ---- Boundary 2: SemDeDup 200-member scan cap (Similarity.scala).
    // The hot corpus plants a 2000-member near-identical embedding
    // cluster; the per-cluster scan cap bounds the intra-cluster
    // comparison count, so q74 on the hot corpus must not go quadratic.
    val tSem10 = times("q74_semantic_neardup")(10)
    val tSemHot = runNoop(spark, "q74_semantic_neardup", hotDir)

    // ---- Boundary 3: Fuzzy.DriverClosureMaxEdges=2M. The same 2M-edge
    // graph (400k 5-node stars + one 10k chain threaded through) through
    // BOTH tiers — driver union-find at its ceiling vs the distributed
    // min-label CC — label-identical and both timed.
    val edges2m = spark.range(2000000L).select(
      when(col("id") < 10000L, col("id") * 5L)
        .otherwise((col("id") - (col("id") % 5L)) + 5000000L).as("doc_a"),
      when(col("id") < 10000L, (col("id") + 1L) * 5L)
        .otherwise(col("id") + 5000000L).as("doc_b"))
      .persist()
    val nE = edges2m.count()
    def ccHash(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(expr("hash(doc_id, cluster_id)")
        .cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var driverRes: (Long, Long) = null
    val tDriver = time {
      driverRes = ccHash(graft.ops.Fuzzy.resolveClusters(spark, edges2m,
        driverMaxEdges = graft.ops.Fuzzy.DriverClosureMaxEdges))
    }
    var distRes: (Long, Long) = null
    val tDist = time {
      distRes = ccHash(graft.ops.Fuzzy.resolveClusters(spark, edges2m,
        driverMaxEdges = 0L))
    }
    edges2m.unpersist()
    spark.catalog.clearCache()
    require(driverRes == distRes,
      s"CC tiers disagree at the 2M boundary: $driverRes vs $distRes")

    // ---- Boundary 4: wedge skew (q106). One planted degree-2500 hub
    // (~180× the clean max degree): the (deg,id) orientation must keep
    // the wedge join linear — runtime comparable to the clean 10× run,
    // where a u-centered wedge join would pay ~3.1M extra wedges.
    val tTri10 = times("q106_triangle_count")(10)
    val tTriHot = runNoop(spark, "q106_triangle_count",
      s"$workDir/corpus_hotgraph")

    // ---- Boundary 6 (round 13): MIS under skew (q405). The planted
    // degree-2500 hub sits in every undecided neighborhood at round 1:
    // either it wins immediately (its 2500 neighbors all retire with it)
    // or one neighbor beats it (and the hub retires next round) — Luby's
    // round count is a LOCAL property, so the hub cannot stretch the
    // schedule. Runtime must stay comparable to the clean 10× run.
    val tMis10 = times("q405_luby_mis")(10)
    val tMisHot = runNoop(spark, "q405_luby_mis", s"$workDir/corpus_hotgraph")

    // ---- Boundary 7 (round 14): the IVF assignment regime. Flat q48
    // assigns every vector against ALL k = min(N/64, 4096) centroids —
    // N·k work, quadratic while k grows (the 30× grid row's 1.25 local
    // slope measures exactly this window; k = 937 there) and linear
    // with a 4096× constant once the cap engages at N = 262k vectors.
    // The production path is q414's TWO-LEVEL assignment (N×~2√k): it
    // must stay near-linear ACROSS the same window where flat bends.
    // Measured on embedding-only corpora (100×/200× of sf0.1's 2k
    // vectors — 200k/400k, k = 3125/4096, so the pair straddles the
    // cap) — flat q48 is deliberately NOT run here: at 400k×4096
    // centroid dots it would cost ~15 min to demonstrate a constant the
    // analysis already pins; its bend is on record in the 30× grid row.
    val emb100 = s"$workDir/corpus_emb100"
    val emb200 = s"$workDir/corpus_emb200"
    buildEmbCorpus(spark, sfDir, emb100, s"$workDir/corpus_10x", 100)
    buildEmbCorpus(spark, sfDir, emb200, s"$workDir/corpus_10x", 200)
    val tHier100 = runNoop(spark, "q414_ann_ivf_hier", emb100)
    val tHier200 = runNoop(spark, "q414_ann_ivf_hier", emb200)
    val hierSlope = math.log(tHier200 / tHier100) / math.log(2.0)
    // The Lloyd-TRAINED variant must keep the same cost law (training
    // adds one broadcast argmax + a (centroid, dim) mean — both linear).
    val tLloyd100 = runNoop(spark, "q418_ann_ivf_lloyd", emb100)
    val tLloyd200 = runNoop(spark, "q418_ann_ivf_lloyd", emb200)
    val lloydSlope = math.log(tLloyd200 / tLloyd100) / math.log(2.0)

    // ---- Boundary 8 (round 15): TOUCHED-FRACTION sweep of the
    // component-grain fold. The touched-only-scan claim is row-count
    // asserted in Round14Spec/Round15Spec; this sweeps it in TIME on the
    // 10× graph: deltas built from whole components covering ~1%/10%/50%
    // of the graph (selected by a deterministic label hash), stored
    // index built UNTIMED, then the fold timed — fold cost must TRACK
    // the touched fraction while the from-scratch rebuild pays the full
    // graph every time.
    val tfDir = s"$workDir/corpus_10x"
    val tfE0 = graft.ops.Graph.supportedEdges(spark, tfDir).localCheckpoint()
    val tfLabsFull = graft.ops.Fuzzy.resolveClusters(spark,
      tfE0.select(col("u").as("doc_a"), col("v").as("doc_b")))
      .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
      .persist()
    val tfEdgeLab = tfE0.join(
      tfLabsFull.select(col("n").as("u"), col("lab")), Seq("u"))
      .persist()
    tfEdgeLab.count()
    val tfTotalEdges = tfE0.count()
    val touchedSweep = Seq(1, 10, 50).map { p =>
      val delta = tfEdgeLab.filter(pmod(hash(col("lab")), lit(100)) < p)
        .select(col("u"), col("v")).localCheckpoint()
      val day1 = tfEdgeLab.filter(pmod(hash(col("lab")), lit(100)) >= p)
        .select(col("u"), col("v")).localCheckpoint()
      val deltaEdges = delta.count()
      // The persisted index (yesterday's tables) — built untimed.
      val labels = graft.ops.Fuzzy.resolveClusters(spark,
        day1.select(col("u").as("doc_a"), col("v").as("doc_b")))
        .select(col("doc_id").as("n"), col("cluster_id").as("lab"))
        .localCheckpoint()
      val stored = graft.ops.Round14.core3Members(spark, day1)
        .localCheckpoint()
      val tFold = time {
        graft.ops.Round14.core3ComponentFold(spark, labels, stored,
          day1, delta)._1
          .write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      System.err.println(s"[scale] fold touched=$p% " +
        s"(${deltaEdges}/$tfTotalEdges edges) ${f3(tFold)}s")
      (p, deltaEdges, tFold)
    }
    val tScratch = time {
      graft.ops.Round14.core3Members(spark, tfE0)
        .write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
    tfEdgeLab.unpersist()
    tfLabsFull.unpersist()
    System.err.println(s"[scale] from-scratch 3-core ${f3(tScratch)}s")

    // ---- Boundary 5: prefix-bucket density (q110). One hot 13-token
    // phrase shared by 3000 otherwise-distinct (J≈0.09) docs: the
    // rarest-first prefix must keep the hot shingles out of every
    // prefix — candidate volume and runtime comparable to clean 10×,
    // and the planted pairs must NOT appear in the output (J < 0.8).
    val tSet10 = times("q110_setsim_join")(10)
    val hotPhraseDir = s"$workDir/corpus_hotphrase"
    val tSetHot = runNoop(spark, "q110_setsim_join", hotPhraseDir)
    val plantedPairs = SparkEntry.queries("q110_setsim_join")(spark, hotPhraseDir)
      .filter(col("doc_a") >= 320L * IdOffset).count()
    spark.catalog.clearCache()
    require(plantedPairs == 0L,
      s"hot-phrase plant unexpectedly produced $plantedPairs J>=0.8 pairs")

    val qJson = times.map { case (n, byK) =>
      val exp = exponent(byK.toSeq)
      val ks = byK.map { case (k, t) => s""""${k}x":${f3(t)}""" }.mkString(",")
      s""""$n":{$ks,"exponent":${f3(exp)}}"""
    }.mkString("{", ",", "}")
    val bJson =
      s"""{"band_bucket_cap":{"clean_10x_sec":${f3(tLsh10)},"hot_10x_sec":${f3(tLshHot)},"hot_pairs":$nLshHot,"planted_dup_docs":5000},
         |"semdedup_scan_cap":{"clean_10x_sec":${f3(tSem10)},"hot_10x_sec":${f3(tSemHot)},"planted_cluster":2000},
         |"driver_closure_2m_edges":{"edges":$nE,"driver_tier_sec":${f3(tDriver)},"distributed_tier_sec":${f3(tDist)},"labels_equal":true,"nodes_labeled":${driverRes._1}},
         |"wedge_skew_orientation":{"clean_10x_sec":${f3(tTri10)},"hot_10x_sec":${f3(tTriHot)},"planted_hub_degree":2500},
         |"prefix_bucket_density":{"clean_10x_sec":${f3(tSet10)},"hot_10x_sec":${f3(tSetHot)},"planted_phrase_docs":3000,"planted_pairs_emitted":$plantedPairs},
         |"mis_skew":{"clean_10x_sec":${f3(tMis10)},"hot_10x_sec":${f3(tMisHot)},"planted_hub_degree":2500},
         |"ivf_assignment_regime":{"hier_emb_100x_sec":${f3(tHier100)},"hier_emb_200x_sec":${f3(tHier200)},"hier_local_slope":${f3(hierSlope)},"lloyd_emb_100x_sec":${f3(tLloyd100)},"lloyd_emb_200x_sec":${f3(tLloyd200)},"lloyd_local_slope":${f3(lloydSlope)},"flat_cap_nlist":4096,"flat_cap_engages_at_vectors":262144,"flat_bend_on_record":"q48 30x grid row"},
         |"component_fold_touched_fraction":{${touchedSweep.map { case (p, de, t) => s""""p${p}_sec":${f3(t)},"p${p}_delta_edges":$de""" }.mkString(",")},"total_edges":$tfTotalEdges,"scratch_sec":${f3(tScratch)}}}"""
        .stripMargin.replace("\n", "")
    val out =
      s"""{"sf":"$sfDir","cpus":"$cpus","mults":${mults.mkString("[", ",", "]")},"load":${loads.mkString("[", ",", "]")},"queries":$qJson,"boundaries":$bJson}"""
    Files.writeString(Paths.get(outJson), out)
    println(out)
    spark.stop()
  }
}
