package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Deduplication operators over the `documents` table: exact hash, MinHash
  * + LSH banding, SimHash, n-gram Jaccard verification, and dedup
  * clustering (connected components over the LSH candidate graph).
  *
  * Scale design (the point of these at 100 TB):
  *  - exact dedup is a single hash-shuffle on a 32-byte digest, never on the
  *    full text;
  *  - MinHash hashes each shingle ONCE (md5 → 48-bit integer) and derives
  *    all 16 signature slots with arithmetic permutations from a universal
  *    hash family ((a·h + b) mod p) — 1 digest + 16 multiply-adds per
  *    shingle instead of 16 digests; shuffle volume is O(docs × 16 × 8B);
  *  - candidate pairs come only from band-bucket self-joins (classic LSH),
  *    never an all-pairs cross join, and band buckets are size-capped
  *    (`BandBucketCap`) so one viral boilerplate document repeated 10⁵×
  *    cannot go quadratic — an over-cap bucket is dropped, its members are
  *    still found through their other 3 bands or via exact dedup (q34);
  *  - Jaccard verification runs ONLY on the LSH candidate pairs (a
  *    broadcast-able pair list), never on a raw shingle self-join whose hot
  *    keys (common 3-grams) would emit k² rows;
  *  - connected components materializes each iteration, frees the previous
  *    one, folds the convergence test into the same pass, and cuts lineage
  *    with a localCheckpoint every few iterations.
  *
  * All hash primitives are md5 hex strings (identical in Spark and DuckDB);
  * integer arithmetic on the first 12 hex digits (< 2^48, so products with
  * 30-bit multipliers stay < 2^63 in both engines) is engine-portable by
  * construction.
  */
object Dedup {

  /** Shared shingling (word 3-grams), Spark SQL / DuckDB SQL renderings. */
  private[ops] val sparkShingles =
    "transform(sequence(1, greatest(size(ws) - 2, 1)), i -> concat_ws(' ', slice(ws, i, 3)))"
  private[ops] val duckShingles =
    "list_transform(generate_series(1, greatest(len(ws) - 2, 1)), i -> array_to_string(ws[i:i+2], ' '))"

  /** One row per (doc_id, shingle), both renderings — the explode every
    * shingle consumer starts from. */
  /** Shingle explode of any documents-shaped frame. explode_OUTER on
    * purpose: plain explode triggers InferFiltersFromGenerate, whose
    * size()>0 filter is pushed down with the shingle transform INLINED —
    * the array gets computed up to 3× per row (~20% of the scan step,
    * measured; see q243's O(n²) variant of the same pathology). The
    * rule skips outer generators, and after the text guard the shingle
    * array is provably non-null and non-empty (greatest(…, 1)), so the
    * outer variant is row-identical. The null-text guard also matches
    * the oracle: DuckDB's unnest emits nothing for a NULL list. */
  private[ops] def shingleRowsOf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode_outer(expr(sparkShingles)).as("sh"))

  private[ops] def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.sharded(s, dir, "documents"))
  private[ops] val duckShingleRows: String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |shl AS (SELECT doc_id, unnest($duckShingles) AS sh FROM w)""".stripMargin

  /** Exact dedup: group by content digest; keeper = min doc_id (reference
    * U3 first-writer-wins shape, src/database.ts:141-211). */
  val q34ExactDedup: Q = Q(
    "q34_dedup_exact",
    """SELECT md5(lower(text)) AS h, count(*) AS n_docs, min(doc_id) AS keeper
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy(md5(lower(col("text"))).as("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .orderBy(col("h"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH machinery shared by q35 (pairs), q37 (verify), q47
  // (clustering).
  // ---------------------------------------------------------------------

  /** Largest 32-bit prime — the universal-hash modulus (see PortableHash). */
  private val P = PortableHash.P

  /** MinHash permutation constants (a_j ∈ [1, 2^30), b_j ∈ [0, 2^31)):
    * h_j = (a_j·h + b_j) mod P with h < P < 2^32 keeps every product below
    * 2^62 — no 64-bit overflow in either engine. Fixed seed ⇒ the same
    * constants are embedded in the Spark plan and the DuckDB oracle. */
  private val (permA, permB) = {
    val rnd = new scala.util.Random(20260812)
    val a = Array.fill(16)(1L + rnd.nextInt((1 << 30) - 1))
    val b = Array.fill(16)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** Band buckets larger than this are dropped before the self-join: an
    * over-cap bucket contributes O(cap²) candidate pairs at most, bounding
    * worst-case skew (a doc duplicated 10⁵× would otherwise emit 10¹⁰ pairs
    * from one reducer). Members of a dropped bucket are still paired via
    * their other bands (4 independent chances) or exact dedup. */
  private val BandBucketCap = 100

  /** First 12 hex digits of a digest column → integer in [0, P) —
    * delegated to the shared engine-portable helper. */
  private def hexHeadToLong(m: String, posFn: String): String =
    PortableHash.hexHeadToLong(m, posFn)

  /** Shared DuckDB CTE chain producing the LSH candidate pairs (used by the
    * q35 oracle, the q37 verification oracle, and as the edge set of the
    * q47 clustering oracle). Mirrors the Spark plan step for step. */
  /** As [[duckLshPairCtes]] with a WHERE clause on the documents scan —
    * the deletion gate (q269) renders the pair set of the corpus MINUS
    * the forgotten ids; banding is per-doc, so filtered-corpus pairs
    * equal pairs among the remaining docs' bands. */
  private[graft] def duckLshPairCtesWhere(where: String): String =
    duckLshPairCtesFrom(s"documents $where")

  /** As [[duckLshPairCtes]] over an arbitrary source relation (a prior
    * CTE) — q281 runs the generator over its audit corpus. */
  private[graft] def duckLshPairCtesFrom(src: String): String = {
    val sigCols = (0 until 16)
      .map(j => s"min((h * ${permA(j)} + ${permB(j)}) % $P) AS s$j")
      .mkString(",\n       |               ")
    val bandExprs = (0 until 4).map { b =>
      val parts = (0 until 4).map(r => s"CAST(s${b * 4 + r} AS VARCHAR)")
      s"concat_ws('|', '$b', ${parts.mkString(", ")})"
    }.mkString(",\n       |             ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       |shl AS (SELECT doc_id, unnest($duckShingles) AS sh FROM w),
       |hh AS (SELECT doc_id, ${hexHeadToLong("m", "strpos")} AS h
       |       FROM (SELECT doc_id, md5(sh) AS m FROM shl)),
       |sig AS (SELECT doc_id,
       |               $sigCols
       |        FROM hh GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |          unnest([$bandExprs]) AS bh
       |          FROM sig),
       |capped AS (SELECT doc_id, bh FROM
       |             (SELECT doc_id, bh, count(*) OVER (PARTITION BY bh) AS bsz
       |              FROM bands)
       |           WHERE bsz <= $BandBucketCap),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
       |          FROM capped a JOIN capped c
       |            ON a.bh = c.bh AND a.doc_id < c.doc_id)""".stripMargin
  }

  private[graft] val duckLshPairCtes: String = duckLshPairCtesWhere("")

  /** LSH candidate near-duplicate pairs — the shared generator consumed by
    * q35 (as output), q37 (as the verification scope), and q47 (as the
    * cluster edge set).
    *
    * Spark plan: explode shingles once, hash each ONCE (md5 → 48-bit int),
    * then ONE hash-aggregate computes all 16 permuted mins (map-side
    * partial min ⇒ shuffle carries ≤16 longs per doc per partition).
    * Computing signatures as nested array lambdas per row is a trap:
    * CollapseProject inlines the token/shingle arrays into every lambda,
    * recomputing them per (band × permutation) — O(b×p) blowup measured at
    * >30 s for 500 docs. The explode+agg shape is also the 100 TB shape:
    * linear in total shingles, one shuffle on doc_id, one on the band key.
    *
    * The (doc_id, band-key) table is persisted before the self-join: it is
    * tiny (n_docs × 4 short strings) while its lineage is the whole shingle
    * scan + 16-way min-aggregate — without this both join sides recompute
    * that lineage. At cluster scale this is the materialized signature
    * table every LSH pipeline keeps.
    */
  /** The ONE band-key self-join every pair generator ends in — factored
    * so pair semantics (tie direction, distinct) cannot drift between
    * the q35/q37/q47 path, the stored-index read path, and the q281
    * audit path. */
  private def bandPairJoin(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("c"),
        col("a.bh") === col("c.bh") && col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"))
      .distinct()

  private[ops] def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    bandPairJoin(cappedBands(s, dir))

  /** The same production pair generator (bands → hot-bucket cap →
    * band-key self-join) over an arbitrary documents-shaped frame —
    * q281 audits the generator on its probe-augmented corpus. */
  private[ops] def lshCandidatePairsOf(docs: DataFrame): DataFrame =
    bandPairJoin(dropHotBuckets(bandsOf(docs).persist(MEMORY_AND_DISK)))

  /** MinHash(16) signatures → 4 band keys per document, for any
    * documents-shaped frame (`doc_id`, `text`). This is the LSH BAND INDEX
    * a production pipeline persists between runs — [[incrementalPairs]]
    * joins a day's batch against the stored index, and the batch's own
    * bands are appended to it for the next day. */
  def bandsOf(docs: DataFrame): DataFrame = {
    // §2.5 unsplittable-input fix at the one site every band consumer
    // funnels through: a streaming micro-batch arrives as ONE staged
    // parquet file (one scan partition), so the signature pass below
    // (shingle explode + per-shingle md5 + 16 min-aggregates — the
    // expensive step of every LSH pipeline here) ran single-threaded
    // per trigger in q99/q244/q247/q259/q279. Tables.shard is a no-op
    // whenever the input already has ≥ default-parallelism partitions
    // (every batch caller passes Tables.sharded frames; any real
    // cluster-scale scan), so no exchange is added where the input is
    // already wide.
    val sh = shingleRowsOf(Tables.shard(docs))
      .withColumn("m", md5(col("sh")))
      .withColumn("h", expr(hexHeadToLong("m", "instr")))
    val sigCols = (0 until 16).map(j =>
      min((col("h") * permA(j) + permB(j)) % P).as(s"s$j"))
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until 4).map { b =>
      concat_ws("|",
        lit(b.toString) +: (0 until 4).map(r => col(s"s${b * 4 + r}").cast("string")): _*)
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
  }

  /** Drop every band row in an over-cap bucket. Over-cap buckets are
    * ≤ |bands|/cap rows — a provably tiny, always broadcastable list — so
    * the cap is a broadcast ANTI-join instead of a count-over-window, which
    * would sort-shuffle the whole band table. The count aggregate combines
    * map-side; bands shuffle only for the pair joins downstream. */
  private def dropHotBuckets(bands: DataFrame): DataFrame = {
    val hot = bands.groupBy(col("bh"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > BandBucketCap)
      .select(col("bh"))
    bands.join(broadcast(hot), Seq("bh"), "left_anti")
  }

  /** The size-capped (doc_id, band-key) table the pair generators join —
    * at cluster scale this is the materialized LSH signature/band index
    * every dedup pipeline keeps between runs. */
  private[ops] def cappedBands(s: SparkSession, dir: String): DataFrame =
    dropHotBuckets(
      bandsOf(Tables.sharded(s, dir, "documents")).persist(MEMORY_AND_DISK))

  /** Production incremental-dedup entry point: candidate near-dup pairs
    * touching a day's NEW batch, given the STORED band index of the
    * already-deduped archive. Only the new batch's bands probe the index,
    * so candidate volume is ∝ |batch| × bucket size and the archive is
    * never re-paired against itself (the O(archive²) band work a full
    * re-run would pay daily). The hot-bucket cap is recomputed over
    * archive+batch so a bucket pushed over the cap BY the batch is
    * dropped on both sides. Output rows carry `both_new` — the routing
    * flag a keeper policy needs (new-vs-archive: the archive doc wins).
    *
    * The union (minus dropped buckets) is also tomorrow's band index:
    * append `bandsOf(newDocs)` to the store after the run. */
  def incrementalPairs(archiveBands: DataFrame, newDocs: DataFrame): DataFrame =
    incrementalPairsFromBands(archiveBands, bandsOf(newDocs))

  /** As [[incrementalPairs]], but from an already-computed band table —
    * the day-run path hands the SAME band frame to the pair join and the
    * index append, so the minhash signature pass (shingle explode + md5 +
    * 16 min-aggregates, the expensive step) runs once per batch, not
    * twice. */
  def incrementalPairsFromBands(archiveBands: DataFrame,
      newBands: DataFrame): DataFrame =
    pairsWithCache(archiveBands, newBands)._1

  /** The pair plan plus the persisted band-union handle, so the day-run
    * path can release the cache once its eager checkpoint has consumed
    * it — without this, a long-running stream leaks one dead cache entry
    * per trigger. */
  private def pairsWithCache(archiveBands: DataFrame,
      newBands: DataFrame): (DataFrame, DataFrame) = {
    // Persist into ITS OWN val: Dataset.unpersist(cascade=false) only
    // drops the cache entry whose plan sameResults the dataset it is
    // called on — returning the anti-join built ON TOP of the persisted
    // union (as a first draft did) makes the later unpersist a no-op
    // and the per-trigger leak silently survives.
    val union = archiveBands.withColumn("is_new", lit(false))
      .unionByName(newBands.withColumn("is_new", lit(true)))
      .persist(MEMORY_AND_DISK)
    val all = dropHotBuckets(union)
    val pairs = all.filter(col("is_new")).as("n")
      .join(all.as("c"),
        col("n.bh") === col("c.bh") && col("n.doc_id") =!= col("c.doc_id"))
      .select(
        least(col("n.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("doc_b"),
        (col("n.is_new") && col("c.is_new")).as("both_new"))
      .distinct()
    (pairs, union)
  }

  /** One DAY of the production incremental pipeline against a PERSISTED
    * band index at `indexDir`: pair the batch against the stored archive
    * bands, materialize the pairs, then fold the batch's own bands INTO the
    * store — a pure append of new immutable files (no rewrite, no merge) —
    * so day N+1 joins against day N's union. Daily cost is
    * O(|batch| × bucket size) and the store grows by O(|batch|); nothing is
    * ever proportional to archive². The pairs are pinned with an EAGER
    * localCheckpoint before the index write: a mere persist would not
    * survive it — writing to a path re-lists and RE-CACHES every cached
    * plan that reads it (CacheManager.recacheByPath), so a persisted
    * pre-write snapshot silently grows to include the batch's own bands
    * and every within-batch pair doubles with a both_new=false variant.
    * The checkpointed plan is a LogicalRDD with no path dependency —
    * immune. The batch's bands publish IDEMPOTENTLY under
    * `batch=<batchId>` (foreachBatch is at-least-once): a replayed batch
    * overwrites its own subdir instead of appending a duplicate band
    * generation, which would inflate hot-bucket counts toward the cap. */
  /** The append-only half of [[incrementalDayRun]]: publish the batch's
    * bands under `batch=<id>` without materializing the day's pair
    * table. For consumers that only need the STORE built (q269 builds a
    * two-batch index purely to exercise deletion), the full day run
    * eagerly localCheckpoints a pair table that is immediately
    * discarded — two band self-joins of pure waste (optimization r15).
    * Store state is byte-identical to what the full day run leaves. */
  def appendDayBands(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long): Unit =
    appendDayBandsFrom(spark, indexDir, bandsOf(newDocs), batchId)

  /** As [[appendDayBands]] from an already-computed band frame — so a
    * caller staging one corpus into several batches shares ONE
    * signature pass (see [[incrementalDayRunFromBands]]). */
  def appendDayBandsFrom(spark: SparkSession, indexDir: String,
      bands: DataFrame, batchId: Long): Unit = {
    val root = bandIndexRoot(spark, indexDir)
    bands.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")
  }

  /** As [[incrementalDayRun]], but the day's pairs land DIRECTLY in
    * `pairsDest` (one pass: the pair join's output sink is the parquet
    * write) and the returned frame is the parquet read-back. The eager
    * localCheckpoint existed to pin the pairs before the index append
    * re-lists the store; a parquet write pins them just as hard, and a
    * caller that was going to write the pairs anyway (q247/q259 publish
    * per-batch pair files) was paying checkpoint-materialize + re-read +
    * re-write — two passes over the pair table per trigger where one
    * write suffices (guide §1.2: remove passes first). */
  def incrementalDayRunTo(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long, pairsDest: String): DataFrame = {
    val root = bandIndexRoot(spark, indexDir)
    val (pairsLazy, cachedUnion, newBands) =
      dayRunPairsPlan(spark, root, newDocs, batchId)
    pairsLazy.write.mode("overwrite").parquet(pairsDest)
    cachedUnion.unpersist()
    newBands.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")
    newBands.unpersist()
    spark.read.parquet(pairsDest)
  }

  /** Shared front half of the two day-run variants: archive resolution
    * (explicit path list — see the codegen note below), the batch's
    * band table (persisted: pair join + index append both read it), and
    * the lazy pair plan with its cache handle. */
  private def dayRunPairsPlan(spark: SparkSession, root: String,
      newDocs: DataFrame, batchId: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    val archive = archiveBands(spark, root, batchId)
    // ONE signature pass per batch: the band table feeds both the pair
    // join and the index append (persisted — two consumers).
    val newBands = bandsOf(newDocs).persist(MEMORY_AND_DISK)
    val (pairsLazy, cachedUnion) = pairsWithCache(archive, newBands)
    (pairsLazy, cachedUnion, newBands)
  }

  /** The stored archive at `root`, excluding `batch=<batchId>`. */
  private def archiveBands(spark: SparkSession, root: String,
      batchId: Long): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Exclude the batch's OWN subdir: on a replay it already exists from
    // the crashed attempt, and an archive containing the batch itself
    // would re-emit every within-batch pair with a spurious
    // both_new=false variant. The exclusion is an EXPLICIT path list,
    // not a `filter(batch =!= batchId)` over the root: the literal batch
    // id baked into that filter gave every trigger a unique whole-stage
    // codegen source for the fused scan stage, forcing a Janino
    // recompile per trigger (measured ~0.4-0.7 s of the ~1.2 s warm
    // per-trigger pair job at sf0.1); path-pruned scans keep the
    // generated code identical across triggers, so the codegen cache
    // hits from trigger 2 on. Row set is identical by construction.
    val archiveDirs =
      if (fs.exists(path))
        fs.listStatus(path).filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(n => n.startsWith("batch=") && n != s"batch=$batchId")
          .toSeq
      else Seq.empty[String]
    if (archiveDirs.nonEmpty)
      spark.read.option("basePath", root)
        .parquet(archiveDirs.map(d => s"$root/$d"): _*)
        .select(col("doc_id"), col("bh"))
    else spark.range(0).select(col("id").as("doc_id"), lit("").as("bh"))
  }

  /** As [[incrementalDayRun]] but from an ALREADY-COMPUTED band frame —
    * the store-writing sibling of [[incrementalPairsFromBands]]. Bands
    * are per-doc, so a caller staging one corpus into several batches
    * (q233's two parity days) can run the signature pass ONCE over the
    * whole corpus and hand each day its slice, instead of paying the
    * shingle-explode + md5 + 16-min pass per day (VERDICT r15 item 6).
    * `newBands` should be (a filter of) a persisted frame; the store
    * publish and pair semantics are byte-identical to the from-docs
    * path. */
  def incrementalDayRunFromBands(spark: SparkSession, indexDir: String,
      newBands: DataFrame, batchId: Long): DataFrame = {
    val root = bandIndexRoot(spark, indexDir)
    val archive = archiveBands(spark, root, batchId)
    val (pairsLazy, cachedUnion) = pairsWithCache(archive, newBands)
    val pairs = pairsLazy.localCheckpoint()
    cachedUnion.unpersist()
    newBands.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")
    pairs
  }

  def incrementalDayRun(spark: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long): DataFrame = {
    val root = bandIndexRoot(spark, indexDir)
    val (pairsLazy, cachedUnion, newBands) =
      dayRunPairsPlan(spark, root, newDocs, batchId)
    val pairs = pairsLazy.localCheckpoint()
    // The eager checkpoint is the cache's last consumer — release both
    // handles so a per-trigger loop doesn't accumulate dead entries.
    cachedUnion.unpersist()
    newBands.write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")
    newBands.unpersist()
    pairs
  }

  /** Generation pointer prefix for compacted band indexes — the shared
    * [[GenStore]] promote-by-one-rename protocol, `_ivfgen-`'s twin. */
  private val BandGenPrefix = "_bandgen-"

  /** Resolve the committed generation root of a persisted band index:
    * `indexDir/gen=<maxSeq>` once a compaction has been promoted, the
    * index root before that. READERS resolve through this, so a
    * compaction mid-publish is invisible to reads; the daily append
    * resolves here too but runs in the same single-writer loop as the
    * compaction (q99's foreachBatch) — see [[GenStore]]'s writer
    * contract. */
  private[graft] def bandIndexRoot(spark: SparkSession, indexDir: String): String =
    GenStore.currentRoot(spark, indexDir, BandGenPrefix)

  /** CHECKED precondition for the incremental≡from-scratch label
    * equality (q233/q244): incremental pairs equal the full-corpus pair
    * set only while no band bucket crosses the hot cap MID-STREAM — a
    * bucket under cap after batch b (so its pairs were emitted) but over
    * cap on the full corpus (so the from-scratch oracle drops the bucket
    * entirely) makes the two answers diverge silently. The stored index
    * keeps every band row with its batch id, so the check is one
    * bucket-partitioned cumulative count: flag any bucket whose running
    * count sat in [2, cap] at some batch boundary while its final count
    * exceeds the cap. Generalizes q233's two-batch aggregate to any
    * number of micro-batches; a violating data drop fails loudly here
    * instead of hash-mismatching at the gate.
    *
    * CALLER CONTRACT under compaction: folding batches into `batch=-1`
    * coarsens the boundaries this check can see (a crossing BETWEEN two
    * folded batches becomes invisible), so a loop that compacts must run
    * the check BEFORE any trigger's fold plus once at stream end. Only
    * fold triggers need it — between folds the boundaries are intact, so
    * the next pre-fold (or final) check still sees every boundary since
    * the last fold at batch granularity; gating on [[pendingFold]] keeps
    * the cost O(folds × index), not O(triggers × index) (q247 does
    * exactly this). */
  /** One batch listing → the fold decision [[compactBandIndex]] will
    * make over it. [[pendingFold]] and the compaction itself both go
    * through THIS, so the q247 pre-fold cap-cross precondition check can
    * never disagree with the compaction on when a fold happens (the
    * predicate used to live as two copies — a drift hazard). `recent` =
    * the replay-window tail (the consolidated `batch=-1` partition never
    * counts as recent); `old` = everything that would fold; a fold is
    * pending unless `old` is empty or already just the consolidated
    * partition (idempotence). */
  private[graft] final case class FoldPlan(recent: Seq[Long], old: Seq[Long]) {
    def shouldFold: Boolean = old.nonEmpty && old != Seq(-1L)
  }

  private[graft] def foldPlanOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, keepRecent: Int): FoldPlan = {
    val batches = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
    val recent = batches.takeRight(keepRecent).filter(_ >= 0)
    FoldPlan(recent, batches.filterNot(recent.contains))
  }

  /** Would [[compactBandIndex]] fold anything right now? — the gate a
    * compacting loop uses to run [[assertNoMidStreamCapCross]] only on
    * triggers where boundaries are about to coarsen (one cheap listing,
    * no Spark job). */
  private[graft] def pendingFold(s: SparkSession, indexDir: String,
      keepRecent: Int): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(bandIndexRoot(s, indexDir))
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(root) && foldPlanOf(fs, root, keepRecent).shouldFold
  }

  private[graft] def assertNoMidStreamCapCross(s: SparkSession,
      indexDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val perBatch = s.read.parquet(bandIndexRoot(s, indexDir))
      .groupBy(col("bh"), col("batch"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("bh")).orderBy(col("batch"))
    val crossed = perBatch
      .select(col("bh"),
        sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("cum"),
        sum(col("c")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("full_c"))
      .filter(col("cum") >= 2 && col("cum") <= BandBucketCap &&
        col("full_c") > BandBucketCap)
      .limit(1).count()
    require(crossed == 0L,
      "incremental-dedup precondition violated: a band bucket crossed " +
        "the hot cap mid-stream; incremental labels would diverge from " +
        "the full-corpus closure")
  }

  /** Compact the persisted band index — the file-count maintenance a
    * year of daily `batch=<id>` appends needs (365 dirs × shuffle-width
    * files is the classic listing/footer/scheduling pressure at 100 TB).
    * All batches EXCEPT the `keepRecent` most recent fold into one
    * consolidated `batch=-1` partition (coalesced to `targetFiles`);
    * recent batches are copied verbatim so the at-least-once replay
    * contract survives: only the tail of the stream can ever be
    * replayed, and a replayed batch id must still find its OWN subdir
    * excluded from the archive — ids folded into `batch=-1` are by
    * construction past the replay window. Content is untouched (same
    * (doc_id, bh) rows, `both_new`/hot-bucket semantics identical —
    * spec-checked by pair equality against an uncompacted twin); only
    * the physical layout changes. The new generation publishes under
    * `gen=<seq>/` and is promoted by ONE atomic `_bandgen-<seq>` rename
    * with a single-writer check; the superseded generation is GC'd after
    * the commit, and a crash before the rename leaves only an
    * unreferenced dir the next compaction pre-cleans. */
  /** `batch=` dirs at the store ROOT — the superseded root-layout
    * artifacts preClean/promote must GC once a generation pointer
    * exists. One definition for BOTH band-store maintenance paths
    * (compaction and deletion) so their GC sets can never drift. */
  private def bandRootBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(base).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq

  def compactBandIndex(spark: SparkSession, indexDir: String,
      keepRecent: Int = 2, targetFiles: Int = 8): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(indexDir)
    val fs = GenStore.fsOf(spark, indexDir)
    require(fs.exists(base), s"compactBandIndex: no index at $indexDir")
    def rootBatchDirs(): Seq[String] = bandRootBatchDirs(fs, base)
    // The whole maintenance pass — preClean through promote — runs under
    // the writer lease: a concurrent compaction fails at acquire instead
    // of deleting this run's staged generation mid-interleave.
    GenStore.withLease(fs, base) { lease =>
      val curSeq = GenStore.currentSeq(fs, base, BandGenPrefix)
      // Reclaim crashed-run leftovers (stale tmp pointers, unreferenced gen
      // dirs, superseded root batch dirs) before listing the live state.
      GenStore.preClean(fs, base, BandGenPrefix, curSeq, rootBatchDirs())
      val root = if (curSeq == 0L) indexDir else s"$indexDir/gen=$curSeq"
      val plan = foldPlanOf(fs, new Path(root), keepRecent)
      import plan.{old, recent}
      // Idempotent: nothing older than the replay window but the already-
      // consolidated partition → a second compact run touches nothing.
      if (plan.shouldFold) {
        val genSeq = curSeq + 1
        val genDir = s"$indexDir/gen=$genSeq"
        spark.read.option("basePath", root)
          .parquet(old.map(k => s"$root/batch=$k"): _*)
          .select(col("doc_id"), col("bh"))
          .coalesce(math.max(1, targetFiles))
          .write.mode("overwrite").parquet(s"$genDir/batch=-1")
        // Recent batches are copied VERBATIM by contract — so copy the
        // FILES, not a decode→encode Spark job per batch (each was a
        // full read+rewrite with job-scheduling and commit overhead,
        // paid on every in-loop fold in q247/q259). Same bytes, same
        // rows; at 100 TB a file-level copy is strictly cheaper than
        // re-encoding the replay window's parquet. A crash mid-copy
        // leaves an unreferenced gen dir for preClean, exactly as the
        // Spark write did.
        recent.foreach { k =>
          val srcDir = new Path(s"$root/batch=$k")
          val dstDir = new Path(s"$genDir/batch=$k")
          fs.mkdirs(dstDir)
          fs.listStatus(srcDir).filter(_.isFile)
            .map(_.getPath).filterNot(p => p.getName.startsWith(".") ||
              p.getName.startsWith("_"))
            .foreach { f =>
              org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
                new Path(dstDir, f.getName), false, true,
                spark.sparkContext.hadoopConfiguration)
            }
        }
        GenStore.promote(fs, base, BandGenPrefix, genSeq, curSeq,
          rootBatchDirs(), Some(lease))
      }
    }
  }

  /** Right-to-be-forgotten purge of the persisted band index: every
    * stored band row of a deleted doc_id is removed, published as a NEW
    * generation (per-batch subdirs preserved — the replay contract
    * survives the purge) and promoted by one atomic pointer rename
    * under the heartbeat-renewed writer lease. The purge is one
    * anti-join per stored batch partition — UNHINTED, so Catalyst
    * broadcasts a small GDPR batch (the common case, under the
    * auto-broadcast threshold) and degrades to a shuffled anti-join for
    * a deletion list too big to replicate, instead of collecting an
    * arbitrary-size list to the driver on a forced hint. A crash
    * mid-purge leaves an unreferenced gen dir for the next
    * maintenance pass's preClean; readers resolve the pointer and never
    * see a half-purged index. */
  def forgetDocs(spark: SparkSession, indexDir: String,
      deleted: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(indexDir)
    val fs = GenStore.fsOf(spark, indexDir)
    require(fs.exists(base), s"forgetDocs: no index at $indexDir")
    def rootBatchDirs(): Seq[String] = bandRootBatchDirs(fs, base)
    GenStore.withLease(fs, base) { lease =>
      val curSeq = GenStore.currentSeq(fs, base, BandGenPrefix)
      GenStore.preClean(fs, base, BandGenPrefix, curSeq, rootBatchDirs())
      val root = if (curSeq == 0L) indexDir else s"$indexDir/gen=$curSeq"
      val batches = fs.listStatus(new Path(root)).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq
      val genSeq = curSeq + 1
      val genDir = s"$indexDir/gen=$genSeq"
      batches.foreach { k =>
        spark.read.parquet(s"$root/$k")
          .select(col("doc_id"), col("bh"))
          .join(deleted.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$genDir/$k")
      }
      GenStore.promote(fs, base, BandGenPrefix, genSeq, curSeq,
        rootBatchDirs(), Some(lease))
    }
  }

  /** Full candidate pair set answered FROM the stored band index (reads
    * through the generation pointer): the post-purge/post-compaction
    * read path — hot-bucket caps recomputed over the stored rows, so a
    * bucket that fell under cap when members were forgotten contributes
    * its pairs again, exactly as a from-scratch run over the remaining
    * corpus would. */
  private[graft] def pairsFromStoredBands(s: SparkSession,
      indexDir: String): DataFrame = {
    val bands = s.read.parquet(bandIndexRoot(s, indexDir))
      .select(col("doc_id"), col("bh"))
      .persist(MEMORY_AND_DISK)
    bandPairJoin(dropHotBuckets(bands))
  }

  /** q269: the DELETION day-2 gate — build the incremental dedup store
    * (two parity batches through [[incrementalDayRun]]), then FORGET a
    * deterministic deletion set (doc_id % 37 = 0, a GDPR-request
    * stand-in) via [[forgetDocs]], and re-derive the duplicate-cluster
    * labels from the purged store. The oracle is the from-scratch
    * closure over the corpus MINUS the deleted docs: equality proves
    * (a) the purge removed every trace of the deleted ids from the
    * maintained state (also asserted directly — the purged index must
    * contain zero deleted rows), and (b) the surviving pairs/labels are
    * exactly what a rebuild without those docs would produce — deletion
    * is a GENERATION, not a rebuild. Bands are per-doc, so purging rows
    * commutes with banding; only the hot-bucket caps shift, and they
    * are recomputed at read (a bucket that fell under cap when members
    * were forgotten re-emits its pairs, matching the rebuild). */
  val q269ForgetDocs: Q = Q(
    "q269_forget_docs",
    s"""WITH RECURSIVE ${duckLshPairCtesWhere("WHERE doc_id % 37 <> 0")},
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val work = java.nio.file.Files.createTempDirectory("graft-q269-")
    org.apache.commons.io.FileUtils.forceDeleteOnExit(work.toFile)
    val idx = work.resolve("bandidx").toString
    val docs = Tables.sharded(s, dir, "documents")
    // Append-only store build: the full day run would eagerly checkpoint
    // a pair table this gate never reads (see appendDayBands). ONE
    // signature pass for both parity batches (bands are per-doc — the
    // q233 sharing, VERDICT r15 item 6).
    val allBands = bandsOf(docs).persist(MEMORY_AND_DISK)
    appendDayBandsFrom(s, idx, allBands.filter(col("doc_id") % 2 === 0), 0L)
    appendDayBandsFrom(s, idx, allBands.filter(col("doc_id") % 2 === 1), 1L)
    allBands.unpersist()
    val deleted = docs.filter(col("doc_id") % 37 === 0).select(col("doc_id"))
    forgetDocs(s, idx, deleted)
    // No trace of a forgotten id may remain in the live generation.
    val leftover = s.read.parquet(bandIndexRoot(s, idx))
      .join(broadcast(deleted), Seq("doc_id"), "left_semi").limit(1).count()
    require(leftover == 0L,
      s"q269: purged index still contains forgotten doc_ids")
    graft.ops.Fuzzy.resolveClusters(s, pairsFromStoredBands(s, idx))
      .orderBy(col("doc_id"))
  }

  /** MinHash(16) + LSH(4 bands × 4 rows): candidate near-duplicate pairs =
    * docs sharing any (size-capped) band key. */
  val q35MinHashLsh: Q = Q(
    "q35_dedup_minhash_lsh",
    s"""WITH $duckLshPairCtes
       |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    lshCandidatePairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** q281: LSH S-CURVE audit — the measurement that justifies the (b=4,
    * r=4) banding choice every LSH consumer in this file inherits: for
    * candidate-pair recall, theory says a pair with shingle-set Jaccard
    * s collides in ≥1 band with probability 1 − (1 − s⁴)⁴; this gate
    * bins an all-pairs SAMPLE (doc_id % 10 = 0 — recall audits sample,
    * the q84 precedent; the universe is sample pairs sharing ≥ 1
    * shingle) by exact Jaccard decile and compares the production pair
    * generator's empirical catch rate per bin against the analytic
    * curve. Reading the output IS the banding decision: bins past the
    * τ ≈ 0.55 inflection must catch ~everything, low bins must stay
    * near zero (they are the verify stage's cost).
    *
    * The corpus's own pairs are bimodal (near-0 or near-1 Jaccard), so
    * the audit PLANTS mid-curve probes — for every sample doc, a
    * derived doc holding its first ⌈n/2⌉ words (doc_id + 10⁹; the
    * q93/q69 planted-fixture discipline). Each (doc, half-doc) pair
    * sits near s ≈ ½ — exactly the inflection region where the (4,4)
    * curve gives ~23% collision and a banding decision actually
    * changes. The generator runs over the probe-augmented corpus with
    * the production topology unchanged (bands → hot-bucket cap →
    * band-key self-join).
    *
    * Determinism: exact Jaccard is integer (shared-distinct-shingle
    * counts); bins are integer cross-multiplication; the analytic curve
    * is ONE IEEE division (s = inter/union) followed by MULTIPLICATIONS
    * ONLY (s²·s² and (1−s⁴)²·(1−s⁴)² — no pow(), whose last ulp
    * diverges across libms), rounded to ppm per pair before the integer
    * mean. Empirical membership tests the REAL generator — full-corpus
    * bands, hot-bucket caps included — restricted to sample endpoints.
    *
    * Scale shape: the sample's all-pairs Jaccard is one shingle
    * equi-join bounded by sample² (the audit dial); the generator side
    * reuses the production band machinery unchanged. */
  val q281LshScurve: Q = Q(
    "q281_lsh_scurve",
    s"""WITH aud AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL
       |  SELECT doc_id + 1000000000,
       |         array_to_string(
       |           (string_split(text, ' '))[1:(len(string_split(text, ' ')) + 1) // 2],
       |           ' ')
       |  FROM documents WHERE doc_id % 10 = 0),
       |${duckLshPairCtesFrom("aud")},
       |sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aud),
       |sshl AS (SELECT DISTINCT doc_id, sh FROM
       |           (SELECT doc_id, unnest($duckShingles) AS sh FROM sw)),
       |ssz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sshl
       |        GROUP BY 1),
       |six AS (SELECT a.doc_id AS da, b.doc_id AS db,
       |               CAST(count(*) AS BIGINT) AS inter
       |        FROM sshl a JOIN sshl b
       |          ON a.sh = b.sh AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |sj AS (SELECT da, db, inter, sa.n + sb.n - inter AS uni
       |       FROM six JOIN ssz sa ON sa.doc_id = six.da
       |                 JOIN ssz sb ON sb.doc_id = six.db),
       |cat AS (SELECT sj.inter, sj.uni, p.doc_a IS NOT NULL AS caught,
       |               CAST(sj.inter AS DOUBLE) / sj.uni AS s
       |        FROM sj LEFT JOIN pairs p
       |          ON p.doc_a = sj.da AND p.doc_b = sj.db),
       |pp AS (SELECT least((10 * inter) // uni, 9) AS bin, caught,
       |              CAST(round((1 - (1 - (s * s) * (s * s))
       |                              * (1 - (s * s) * (s * s))
       |                              * ((1 - (s * s) * (s * s))
       |                                 * (1 - (s * s) * (s * s))))
       |                         * 1000000) AS BIGINT) AS expected_ppm
       |       FROM cat)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(count(*) FILTER (WHERE caught) AS BIGINT) AS n_caught,
       |       1000000 * CAST(count(*) FILTER (WHERE caught) AS BIGINT)
       |         // count(*) AS catch_ppm,
       |       CAST(sum(expected_ppm) AS BIGINT) // count(*)
       |         AS mean_expected_ppm
       |FROM pp GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val sample = Tables(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    // Probe ids live at doc_id + 10^9; a real id in that range would
    // silently merge with a probe under one key and corrupt the audit in
    // a way BOTH engines agree on (the gate could not catch it) - fail
    // loudly instead.
    val maxId = sample.agg(max(col("doc_id"))).head.getLong(0)
    require(maxId < 1000000000L,
      s"q281: corpus doc_ids reach $maxId - probe ids (+1e9) would collide; raise the probe offset")
    val probes = sample.select(
      (col("doc_id") + 1000000000L).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, " +
        "(size(split(text, ' ')) + 1) div 2), ' ')").as("text"))
    val aud = sample.unionByName(probes)
    val sshl = shingleRowsOf(aud).distinct()
    val ssz = sshl.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val six = sshl.as("a").join(sshl.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val sj = six
      .join(ssz.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(ssz.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .select(col("da"), col("db"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
    val cat = sj.join(lshCandidatePairsOf(aud),
        col("doc_a") === col("da") && col("doc_b") === col("db"), "left")
      .select(col("inter"), col("uni"), col("doc_a").isNotNull.as("caught"),
        (col("inter").cast("double") / col("uni")).as("s"))
    // s⁴ and (1−s⁴)⁴ by explicit squaring — multiplications only, no
    // pow(): identical last-ulp in both engines.
    val pp = cat.select(
      least(expr("(10 * inter) div uni"), lit(9L)).as("bin"),
      col("caught"),
      expr("""CAST(round((1 - (1 - (s * s) * (s * s))
             |                * (1 - (s * s) * (s * s))
             |                * ((1 - (s * s) * (s * s))
             |                   * (1 - (s * s) * (s * s))))
             |           * 1000000) AS BIGINT)""".stripMargin)
        .as("expected_ppm"))
    pp.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        count_if(col("caught")).as("n_caught"),
        expr("(1000000 * count_if(caught)) div count(1)").as("catch_ppm"),
        expr("sum(expected_ppm) div count(1)").as("mean_expected_ppm"))
      .orderBy(col("bin"))
  }

  /** Connected components by iterative min-label propagation:
    * label(u) ← min(label(u), min over neighbors' labels), to fixpoint
    * (≤ graph diameter iterations, capped). This is the Spark-native HOW
    * for dedup clustering — at 100 TB the same loop with the large-star/
    * small-star transform keeps per-iteration shuffles linear; near-dup
    * graphs are bounded-degree so a handful of iterations converges.
    *
    * Iteration hygiene (the part external load amplifies): the new label
    * table is persisted and ONE action both materializes it and returns the
    * convergence count (`count_if(chg)` folded into the same pass — no
    * separate join+count job); the previous iteration's cache is freed
    * immediately after; every 5th iteration a localCheckpoint cuts the
    * growing lineage so analysis cost stays constant (the ≤4 checkpoint
    * snapshots a 20-iteration run can leave behind are label-table-sized,
    * i.e. tiny, and freed with the executors).
    */
  def connectedComponents(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.persist(MEMORY_AND_DISK)
    val fwd = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = fwd.unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
    var prev = edges.select(col("u")).distinct()
      .withColumn("label", col("u"))
      .persist(MEMORY_AND_DISK)
    var labels: DataFrame = prev
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 20) {
      iter += 1
      val nbr = edges
        .join(labels.select(col("u").as("v"), col("label").as("nlabel")), "v")
        .groupBy(col("u")).agg(min(col("nlabel")).as("nmin"))
      val upd = labels.join(nbr, Seq("u"), "left")
        .select(col("u"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("chg"))
        .persist(MEMORY_AND_DISK)
      changed = upd.agg(count_if(col("chg"))).first().getLong(0)
      prev.unpersist()
      if (iter % 5 == 0 && changed > 0) {
        labels = upd.select(col("u"), col("label")).localCheckpoint()
        upd.unpersist()
        prev = labels
      } else {
        labels = upd.select(col("u"), col("label"))
        prev = upd
      }
    }
    if (changed > 0) {
      // Diameter exceeded the round cap (a deep chain): the labels are NOT
      // a fixpoint. Fall back to the O(log²n)-round star transform rather
      // than returning silently wrong clusters. `pairs` stays persisted —
      // the star pass re-persists the same plan, which resolves to the
      // already-materialized cache instead of re-running the whole LSH
      // candidate lineage — and the star pass's own cleanup releases it.
      prev.unpersist()
      connectedComponentsStar(pairs)
    } else {
      pairs.unpersist()
      labels.select(col("u").as("doc_id"), col("label").as("cluster_id"))
    }
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014,
    * "Connected Components in MapReduce and Beyond") — the deep-chain
    * fallback the min-label loop documents: converges in O(log²n) rounds
    * on ANY graph shape, where min-label propagation needs one round per
    * unit of diameter (a 1000-node path: ~7 rounds here vs 999 there).
    * Near-dup graphs are usually shallow, so q47 runs the simpler loop,
    * which falls back to this transform when 20 rounds do not converge.
    *
    * large-star: every node strictly larger than u re-points to the min of
    * u's closed neighborhood; small-star: every smaller neighbor (and u)
    * re-points to that min. Both are one groupBy + one equi-join per
    * round — all shuffles linear in |E|, no per-node state beyond the
    * edge list. At the fixpoint the edge set is a star forest rooted at
    * each component's min node. */
  def connectedComponentsStar(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.persist(MEMORY_AND_DISK)
    val nodes = pairs.select(col("doc_a").as("u"))
      .unionByName(pairs.select(col("doc_b").as("u"))).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var edges = pairs
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    var stable = false
    var iter = 0
    while (!stable && iter < 50) {
      iter += 1
      // Each round references `edges` four times per star transform, so
      // lineage would grow ~16× per round: cut it EVERY round (the edge
      // list is the small derived table here, not the corpus).
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // Fixpoint test: identical edge SETS (same size, no novel edges).
      stable = next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges.unpersist()
      edges = next
    }
    // O(log²n) convergence makes 50 rounds unreachable for any real graph;
    // if it ever trips, fail loudly — labels off a non-fixpoint edge set
    // would be silently wrong (the exact failure mode this variant exists
    // to prevent in the min-label loop).
    require(stable, s"connectedComponentsStar did not converge in $iter rounds")
    val parent = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
    val out = nodes.join(parent, Seq("u"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("label"), col("u")).as("cluster_id"))
    pairs.unpersist()
    out
  }

  /** Dedup clustering: connected components over the shared LSH candidate
    * pairs — cluster id = min doc_id in the component (the dedup "keeper").
    * The oracle computes the same fixpoint with a recursive CTE (transitive
    * closure + min over reachable ids) — Spark lacks recursive SQL, so the
    * iterative DataFrame loop is the idiomatic equivalent. */
  val q47DedupClusters: Q = Q(
    "q47_dedup_clusters",
    s"""WITH RECURSIVE $duckLshPairCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin) { (s, dir) =>
    connectedComponents(lshCandidatePairs(s, dir)).orderBy(col("doc_id"))
  }

  /** q233: INCREMENTAL dedup clustering — the label-maintenance stage the
    * incremental candidate pipeline (q97/q99) feeds: day 2's labels are
    * recomputed from the STORED day-1 labels plus only the new day's
    * pairs, never by re-walking the archive's full edge set. The stored
    * label table IS a star forest (every member points at its component's
    * min id, diameter ≤ 2), so CC over star-edges ∪ new-pairs
    * re-converges in O(1) label-propagation rounds and its cost is
    * O(|labeled docs| + |day-2 pairs|) — at 100 TB this is the difference
    * between a nightly label refresh and a full-graph recluster. Star
    * compression preserves connectivity exactly (u ~ v in the archive ⟺
    * both point at the same min), so the oracle is the FULL-corpus
    * closure, q47's rendering verbatim — gate equality proves the
    * incremental update equals the from-scratch answer. */
  val q233DedupIncrementalCluster: Q = Q(
    "q233_dedup_incremental_cluster",
    s"""WITH RECURSIVE $duckLshPairCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       |SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.sharded(s, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft-q233-")
    val idx = tmp.resolve("idx") // must not pre-exist: day 1 has no archive
    // ONE signature pass for both days (VERDICT r15 item 6): bands are
    // per-doc, so bandsOf(evens) ∪ bandsOf(odds) ≡ bandsOf(all) split by
    // parity — the two day runs previously each paid the shingle-explode
    // + md5 + 16-min aggregate over their half, i.e. two half-corpus
    // passes with two full sets of fixed stage costs. The full band
    // table is persisted once; each day gets its filter.
    val allBands = bandsOf(docs).persist(MEMORY_AND_DISK)
    val p1 = incrementalDayRunFromBands(s, idx.toString,
      allBands.filter(col("doc_id") % 2 === 0), 0L)
    // Both closures route through the GUARDED tier selector (the q179
    // discipline): near-dup pair graphs are small after LSH blocking, so
    // the measured edge count — not authorship — picks driver union-find
    // vs the distributed min-label CC; labels are identical either way.
    val labels1 = Fuzzy.resolveClusters(s, p1.select(col("doc_a"), col("doc_b")))
      .localCheckpoint()
    p1.unpersist()
    val p2 = incrementalDayRunFromBands(s, idx.toString,
      allBands.filter(col("doc_id") % 2 === 1), 1L)
    allBands.unpersist()
    org.apache.commons.io.FileUtils.forceDeleteOnExit(tmp.toFile)
    // CHECKED precondition (the q97-family equality assumption made
    // loud): see [[assertNoMidStreamCapCross]] — a bucket under cap at
    // day 1 but over it on the full corpus had its day-1 pairs emitted
    // where the full-corpus oracle drops the bucket entirely.
    assertNoMidStreamCapCross(s, idx.toString)
    // The archive re-enters as its star forest: one (min, member) edge
    // per labeled doc. Self-edges drop; the min member stays reachable
    // through its members' edges (components have >= 2 members).
    val star = labels1.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("doc_a"), col("doc_id").as("doc_b"))
    Fuzzy.resolveClusters(s,
        star.unionByName(p2.select(col("doc_a"), col("doc_b"))))
      .orderBy(col("doc_id"))
  }

  /** q62: dedup representative selection — the pipeline stage after
    * clustering: each near-duplicate cluster keeps ONE document, the rest
    * are dropped. Keeper policy here is "longest text wins" (a common
    * heuristic: boilerplate-stripped variants are shorter), ties broken by
    * min doc_id. The argmax is `max_by` over a (n_chars, -doc_id) struct —
    * it collapses map-side in partial aggregation, so no per-cluster sort
    * or window touches the (potentially huge) membership lists; the oracle
    * renders the same argmax as a rank-1 window.
    *
    * Plan: clusters come from the shared connected-components fixpoint;
    * the documents join adds only (doc_id, n_chars) — the text column is
    * pruned at the scan. */
  val q62DedupKeepBest: Q = Q(
    "q62_dedup_keep_best",
    s"""WITH RECURSIVE $duckLshPairCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT u, v FROM edges
       |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |lbl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id
       |        FROM reach GROUP BY u),
       |rk AS (SELECT cluster_id, doc_id, n_chars,
       |              row_number() OVER (PARTITION BY cluster_id
       |                ORDER BY n_chars DESC, doc_id) AS rk
       |       FROM lbl JOIN documents USING (doc_id))
       |SELECT cluster_id, count(*) AS n_docs,
       |       max(CASE WHEN rk = 1 THEN doc_id END) AS keeper_doc,
       |       max(CASE WHEN rk = 1 THEN n_chars END) AS keeper_chars
       |FROM rk GROUP BY cluster_id ORDER BY cluster_id""".stripMargin) { (s, dir) =>
    // Tiered closure (the q179 discipline, as q233/q269 already do): LSH
    // pair graphs are tiny after blocking, so the guarded selector runs
    // the driver union-find below the 2M-edge boundary instead of paying
    // 10-20 label-propagation rounds' fixed job overhead; labels are
    // component-min either way (FuzzyGraphSpec asserts tier equality).
    val labels = Fuzzy.resolveClusters(s, lshCandidatePairs(s, dir))
    labels
      .join(Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("keeper_doc"),
        max(col("n_chars")).as("keeper_chars"))
      .orderBy(col("cluster_id"))
  }

  // ---------------------------------------------------------------------
  // SimHash machinery shared by q36 (fingerprints) and q65 (hamming pairs).
  // ---------------------------------------------------------------------

  private val hexDigits = "0123456789abcdef"

  /** DuckDB CTE chain ending in `fp(doc_id, simhash)` — the 32-bit
    * fingerprint as a '0'/'1' string, identical to the Spark rendering. */
  private[ops] val duckSimhashCtes: String = {
    def duckBit(i: Int) =
      s"CASE WHEN 2 * len(list_filter(hs, h -> (strpos('$hexDigits', substring(h, $i, 1)) - 1) % 2 = 1)) > len(hs) THEN '1' ELSE '0' END"
    val duckFp = (1 to 32).map(duckBit).mkString(" || ")
    s"""th AS (SELECT doc_id,
       |         list_transform(string_split(text, ' '), w -> md5(w)) AS hs
       |       FROM documents),
       |fp AS (SELECT doc_id, $duckFp AS simhash FROM th)""".stripMargin
  }

  /** Per-doc parity counters (n, c1..c32), Spark side. Explode tokens, hash
    * each ONCE, then one hash-aggregate computes the 32 parity counters
    * (count_if over substrings of the materialized digest — cheap per-row
    * work, partial aggregation before the doc_id shuffle). Same
    * blowup-avoidance rationale as q35: per-row nested array lambdas would
    * recompute the token-hash array once per bit. Shared by q36 (string
    * fingerprint) and q65 (integer fingerprint). */
  private def simhashCounts(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.sharded(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
    val aggs = count(lit(1)).as("n") +: (1 to 32).map(i =>
      count_if(expr(s"(instr('$hexDigits', substring(h, $i, 1)) - 1) % 2 = 1"))
        .as(s"c$i"))
    words.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  private[ops] def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    val bits = (1 to 32).map(i =>
      when(col(s"c$i") * 2 > col("n"), lit("1")).otherwise(lit("0")))
    simhashCounts(s, dir).select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** The same 32 bits packed into one BIGINT (bit i-1 set iff majority
    * parity at digit i — bit 0 = digit 1, so the integer is the string
    * fingerprint read right-to-left). Pairwise work on integers beats the
    * 32-char string: the join key is 8 bytes and hamming distance is a
    * single codegen'd `bit_count(a ^ b)` instead of a 32-element HOF with
    * two substrings per element. */
  private[ops] def simhashFingerprintInts(s: SparkSession, dir: String): DataFrame = {
    val fp = (1 to 32).map(i =>
      when(col(s"c$i") * 2 > col("n"), lit(1L << (i - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
    simhashCounts(s, dir).select(col("doc_id"), fp.as("fp"))
  }

  /** DuckDB CTE chain ending in `fpi(doc_id, fp)` — the same 32 bits packed
    * into one BIGINT (bit i-1 = majority parity of hex digit i). */
  private[ops] val duckSimhashIntCtes: String = {
    def duckBitNum(i: Int) =
      s"CASE WHEN 2 * len(list_filter(hs, h -> (strpos('$hexDigits', substring(h, $i, 1)) - 1) % 2 = 1)) > len(hs) THEN CAST(${1L << (i - 1)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    val duckFp = (1 to 32).map(duckBitNum).mkString(" + ")
    s"""th AS (SELECT doc_id,
       |         list_transform(string_split(text, ' '), w -> md5(w)) AS hs
       |       FROM documents),
       |fpi AS (SELECT doc_id, $duckFp AS fp FROM th)""".stripMargin
  }

  /** SimHash(32): per-token md5, bit i = sign of Σ(±1) over tokens by the
    * parity of hex digit i. Equal fingerprints ⇒ near-duplicate cluster. */
  val q36SimHash: Q = Q(
    "q36_dedup_simhash",
    s"""WITH $duckSimhashCtes
       |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin) { (s, dir) =>
    simhashFingerprints(s, dir).orderBy(col("doc_id"))
  }

  /** q65: near-duplicate pairs by SimHash hamming distance ≤ 3, found via
    * the pigeonhole block trick (the classic simhash index, Manku et al.
    * WWW'07 shape): split the 32-bit fingerprint into 4 blocks of 8 — any
    * pair within hamming distance 3 differs in at most 3 blocks, so it
    * MUST agree exactly on at least one block. Candidates = equi-join on
    * (block index, block bits); the exact hamming distance then filters
    * same-block near-misses. Below the bucket cap, recall is exact
    * (pigeonhole, not probabilistic — unlike MinHash banding).
    *
    * Scale shape: identical to q35's band join — fingerprints are one
    * short row per doc, the self-join is on a 10-char key, and hot blocks
    * (e.g. the all-zeros block that sparse-ish fingerprints share) are
    * size-capped with the same broadcast anti-join. The cap trades recall
    * for worst-case skew, same as q35: a distance-3 pair is guaranteed only
    * ONE agreeing block, so if that one block's bucket is hot the pair is
    * lost (closer pairs have ≥2 agreeing blocks and more fallbacks).
    *
    * Everything pairwise runs on the packed BIGINT fingerprint: the block
    * key is `(fp >> 8b) & 255` (8 bytes instead of a 10-char string) and
    * hamming distance is one codegen'd `bit_count(fp_a ^ fp_b)` — the
    * 32-char string + 32-element substring HOF this replaced made q65 the
    * most expensive query in the suite (~9 s warm at sf0.1; the candidate
    * volume is millions of rows because same-corpus simhashes cluster).
    * The distance filter runs BEFORE the pair distinct, so the distinct
    * sees only the ≤3-distance survivors. */
  /** DuckDB CTE chain ending in `spairs(doc_a, doc_b, hamming)` — the
    * distinct simhash pairs at hamming ≤ 3 (shared by q65 and q82). */
  private[ops] val duckSimhashPairCtes: String =
    s"""$duckSimhashIntCtes,
       |blk AS (SELECT doc_id, fp, b, (fp >> (8 * CAST(b AS INT))) & 255 AS bits
       |        FROM fpi, range(0, 4) t(b)),
       |keep AS (SELECT doc_id, fp, b, bits FROM
       |           (SELECT *, count(*) OVER (PARTITION BY b, bits) AS bsz FROM blk)
       |         WHERE bsz <= $BandBucketCap),
       |cand AS (SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |                CAST(bit_count(xor(a.fp, c.fp)) AS BIGINT) AS hamming
       |         FROM keep a JOIN keep c
       |           ON a.b = c.b AND a.bits = c.bits AND a.doc_id < c.doc_id),
       |spairs AS (SELECT DISTINCT doc_a, doc_b, hamming FROM cand
       |           WHERE hamming <= 3)""".stripMargin

  /** Spark side of `spairs`: distinct (doc_a, doc_b, hamming ≤ 3) pairs
    * via the pigeonhole block join (shared by q65 and q82). */
  private[ops] def simhashHammingPairs(s: SparkSession, dir: String): DataFrame = {
    val fp = simhashFingerprintInts(s, dir).persist(MEMORY_AND_DISK)
    val blk = fp
      .select(col("doc_id"), col("fp"), explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bits", expr("shiftright(fp, cast(8 * b as int)) & 255"))
    val hot = blk.groupBy(col("b"), col("bits"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > BandBucketCap)
      .select(col("b"), col("bits"))
    val keep = blk.join(broadcast(hot), Seq("b", "bits"), "left_anti")
    keep.as("a").join(keep.as("c"),
        col("a.b") === col("c.b") && col("a.bits") === col("c.bits") &&
          col("a.doc_id") < col("c.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("c.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ c.fp)").cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  val q65SimhashHamming: Q = Q(
    "q65_simhash_hamming",
    s"""WITH $duckSimhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM spairs ORDER BY doc_a, doc_b""".stripMargin) {
    (s, dir) =>
      simhashHammingPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
  }

  /** q82: ensemble agreement audit between the two near-dup candidate
    * generators — MinHash-LSH pairs (q35) vs SimHash hamming ≤ 3 pairs
    * (q65). A production dedup pipeline runs one of these and wants to
    * know what the other would have added: pairs found by both are
    * high-confidence dups; one-sided pairs quantify each method's blind
    * spot (MinHash sees shingle-set overlap, SimHash sees token-frequency
    * profiles — they genuinely disagree at the margin).
    *
    * Scale shape: both generators are the already-bucketed, size-capped
    * linear pipelines; the audit itself is a full-outer join of two SMALL
    * pair lists on the pair key, then one tiny aggregate — the pair lists
    * are the bottleneck-free part of both pipelines. */
  val q82DedupEnsemble: Q = Q(
    "q82_dedup_ensemble",
    s"""WITH $duckLshPairCtes,
       |$duckSimhashPairCtes
       |SELECT CASE WHEN p.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
       |            WHEN p.doc_a IS NOT NULL THEN 'minhash_only'
       |            ELSE 'simhash_only' END AS found_by,
       |       count(*) AS n_pairs,
       |       min(coalesce(p.doc_a, s.doc_a)) AS min_doc_a
       |FROM pairs p FULL JOIN spairs s
       |  ON p.doc_a = s.doc_a AND p.doc_b = s.doc_b
       |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val mp = lshCandidatePairs(s, dir)
    val sp = simhashHammingPairs(s, dir).select(col("doc_a"), col("doc_b"))
    mp.as("m").join(sp.as("s"),
        col("m.doc_a") === col("s.doc_a") && col("m.doc_b") === col("s.doc_b"),
        "full_outer")
      .select(
        when(col("m.doc_a").isNotNull && col("s.doc_a").isNotNull, "both")
          .when(col("m.doc_a").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("found_by"),
        coalesce(col("m.doc_a"), col("s.doc_a")).as("da"))
      .groupBy(col("found_by"))
      .agg(count(lit(1)).as("n_pairs"), min(col("da")).as("min_doc_a"))
      .orderBy(col("found_by"))
  }

  /** n-gram Jaccard VERIFICATION of the LSH candidate pairs: exact
    * |A∩B| / |A∪B| over distinct word 3-gram sets for each candidate pair;
    * report pairs ≥ 0.5. This is the standard two-stage near-dup pipeline
    * (LSH recall stage → exact verify stage).
    *
    * Scale shape: the pair list is small (LSH output), so verification is
    * two hash joins keyed on the UNIQUE doc_id — no raw shingle self-join,
    * whose hot keys (a 3-gram appearing in k docs) would emit k² rows.
    * Shingle sets are collected only for docs that appear in a candidate
    * pair (semi-join prune BEFORE collect_set), then intersected per pair
    * with codegen'd `array_intersect`. */
  val q37NgramJaccard: Q = Q(
    "q37_dedup_ngram_jaccard",
    s"""WITH $duckLshPairCtes,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shl),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN dsh a ON a.doc_id = p.doc_a
       |          JOIN dsh b ON b.doc_id = p.doc_b AND b.sh = a.sh
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 4) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val pairs = lshCandidatePairs(s, dir).persist(MEMORY_AND_DISK)
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // Distinct shingle sets ONLY for candidate docs (broadcast semi-join
    // prune runs before the heavy collect_set).
    val docSets = shingleRows(s, dir)
      .join(broadcast(ids), "doc_id")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("shs"))
      .withColumn("n_sh", size(col("shs")))
    val joined = pairs
      .join(docSets.select(col("doc_id").as("doc_a"),
        col("shs").as("shs_a"), col("n_sh").as("n_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"),
        col("shs").as("shs_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
    val jac = col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter"))
    joined
      .filter(jac >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q67: benchmark decontamination — the training-data stage that removes
    * documents overlapping a held-out evaluation set (eval answers leaking
    * into training data corrupt benchmarks). The "benchmark" here is the
    * shingle set of docs 0-4 (a stand-in for an external eval corpus); each
    * candidate doc reports what fraction of its distinct 3-gram shingles
    * appear in the benchmark, and is flagged at ≥ 0.5 overlap.
    *
    * Scale shape: the benchmark shingle set is small by construction (eval
    * sets are thousands of docs, not billions) → broadcast; the candidate
    * side is one explode + an inner-join count, linear in corpus shingles.
    * The per-doc distinct happens in the same aggregate pass (count
    * distinct sh per doc) — no collect_set of full shingle lists. */
  val q67Decontaminate: Q = Q(
    "q67_decontaminate",
    s"""WITH $duckShingleRows,
       |bench AS (SELECT DISTINCT sh FROM shl WHERE doc_id < 5),
       |cand AS (SELECT DISTINCT doc_id, sh FROM shl WHERE doc_id >= 5),
       |tot AS (SELECT doc_id, count(*) AS n_sh FROM cand GROUP BY doc_id),
       |hit AS (SELECT doc_id, count(*) AS n_hit
       |        FROM cand JOIN bench USING (sh) GROUP BY doc_id)
       |SELECT doc_id, n_sh, n_hit,
       |       round(CAST(n_hit AS DOUBLE) / n_sh, 4) AS overlap,
       |       CAST(n_hit AS DOUBLE) / n_sh >= 0.5 AS contaminated
       |FROM tot JOIN hit USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val shl = shingleRows(s, dir)
    val bench = shl.filter(col("doc_id") < 5).select(col("sh")).distinct()
    val cand = shl.filter(col("doc_id") >= 5).distinct()
    val tot = cand.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hit = cand.join(broadcast(bench), "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, "doc_id")
      .select(col("doc_id"), col("n_sh"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_sh"), 4).as("overlap"),
        (col("n_hit").cast("double") / col("n_sh") >= 0.5).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q68: repetition detection (the Gopher/MassiveText quality rule family):
    * fraction of a document's 3-gram shingles that are duplicates of another
    * shingle in the SAME document, plus the hottest shingle's count.
    * High within-doc repetition (boilerplate, keyword stuffing, decoding
    * loops) is the classic low-quality signal; the Gopher threshold shape is
    * `dup_frac > 0.2`.
    *
    * Scale shape: one explode → (doc, shingle) count aggregate → per-doc
    * rollup, all map-side combining; nothing leaves the doc's own keyspace,
    * so the op is embarrassingly parallel at any corpus size. */
  val q68Repetition: Q = Q(
    "q68_repetition",
    s"""WITH $duckShingleRows,
       |cnt AS (SELECT doc_id, sh, count(*) AS c FROM shl GROUP BY 1, 2)
       |SELECT doc_id,
       |       CAST(sum(c) AS BIGINT) AS n_sh,
       |       count(*) AS d_sh,
       |       round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 4) AS dup_frac,
       |       max(c) AS max_cnt,
       |       CAST(sum(c) - count(*) AS DOUBLE) / sum(c) > 0.2 AS repetitive
       |FROM cnt WHERE doc_id < 50 GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    shingleRows(s, dir)
      .filter(col("doc_id") < 50)
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_sh"),
        count(lit(1)).as("d_sh"),
        round((sum(col("c")) - count(lit(1))).cast("double") / sum(col("c")), 4)
          .as("dup_frac"),
        max(col("c")).as("max_cnt"),
        ((sum(col("c")) - count(lit(1))).cast("double") / sum(col("c")) > 0.2)
          .as("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** q97: INCREMENTAL dedup — the daily-batch shape at 100 TB. The corpus
    * splits into an archive (even doc_id — already deduped, its band
    * index stored from previous runs) and a new batch (odd doc_id): only
    * the new batch joins against the full index, so candidate volume is
    * ∝ |new batch| × bucket sizes and the archive is NEVER re-paired
    * against itself (O(archive²) band work a full q35 re-run would pay
    * daily). The same bucket cap guards a hot archive bucket from
    * exploding the new batch's join. Output marks which pairs are
    * new-vs-new vs new-vs-archive — the routing a downstream keeper
    * policy needs (new-vs-archive: the archive doc usually wins).
    *
    * The oracle restricts the full pair set to pairs touching the new
    * batch — equivalent by construction, independent of the Spark join
    * mechanics (the new×all join + canonicalize + distinct). */
  val q97DedupIncremental: Q = Q(
    "q97_dedup_incremental",
    s"""WITH $duckLshPairCtes
       |SELECT doc_a, doc_b,
       |       (doc_a % 2 = 1 AND doc_b % 2 = 1) AS both_new
       |FROM pairs
       |WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val docs = Tables.sharded(s, dir, "documents")
    incrementalPairs(
      archiveBands = bandsOf(docs.filter(col("doc_id") % 2 === 0)),
      newDocs = docs.filter(col("doc_id") % 2 === 1))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q104: decontamination through a BLOOM-FILTER prefilter — the shape
    * q67 takes when the benchmark shingle set is too large to broadcast
    * exactly (a full eval-suite union at 100 TB: billions of shingles,
    * tens of GB as an exact set — but a FIXED-SIZE sketch at any
    * cardinality). Build side: `bloom_filter_agg` (Spark's own
    * `BloomFilterAggregate`, the `InjectRuntimeFilter` machinery surfaced
    * as a function) folds bench shingles into a bloom via map-side
    * partial sketches — one fixed-size binary reaches the driver, exactly
    * like Spark's runtime filter. Probe side: `bloom_might_contain`
    * against the sketch embedded as a literal drops non-members BEFORE
    * the shuffle, so the exact semi-join that follows shuffles only the
    * (rare) sketch hits, not the whole corpus's shingles. False positives
    * are eliminated by that exact join, so the result is EXACT — the
    * oracle is the plain relational rendering with no bloom anywhere.
    *
    * Sizing: 2^20 bits for ≤ 2^16 items ⇒ m/n ≥ 16, fp ≈ 5e-4 — the
    * prefilter passes ~0.05% of clean shingles. At 100 TB both literals
    * scale with the BENCH set (fixed), never with the corpus. */
  val q104BloomDecontaminate: Q = Q(
    "q104_bloom_decontaminate",
    s"""WITH $duckShingleRows,
       |bench AS (SELECT DISTINCT sh FROM shl WHERE doc_id % 10 = 0),
       |cand AS (SELECT DISTINCT doc_id, sh FROM shl WHERE doc_id % 10 <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_sh FROM cand GROUP BY doc_id),
       |hit AS (SELECT doc_id, count(*) AS n_hit
       |        FROM cand JOIN bench USING (sh) GROUP BY doc_id)
       |SELECT t.doc_id, t.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
       |       COALESCE(h.n_hit, 0) > 0 AS contaminated
       |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val shl = shingleRows(s, dir)
    val bench = shl.filter(col("doc_id") % 10 === 0).select(col("sh")).distinct()
      .persist(MEMORY_AND_DISK) // bloom build (action) + the exact join
    val cand = shl.filter(col("doc_id") % 10 =!= 0)
    // Distributed sketch build; only the fixed-size bloom binary is
    // collected (the same driver-sized object Spark's runtime filter
    // collects), then re-enters the plan as a literal → evaluated
    // map-side, straight after the explode, BEFORE any exchange.
    val bloom = bench
      .agg(expr("bloom_filter_agg(xxhash64(sh), 65536L, 1048576L)").as("bf"))
      .head.getAs[Array[Byte]]("bf")
    // Denominator: distinct shingles per doc — partial-aggregated count
    // distinct, the one full-width shuffle the SEMANTICS require.
    val tot = cand.groupBy(col("doc_id"))
      .agg(count_distinct(col("sh")).as("n_sh"))
    // Numerator: bloom prefilter first, so only sketch hits (true matches
    // + ~5e-4 false positives) reach the distinct + exact join shuffles.
    // An EMPTY bench aggregates to a null sketch → nothing can match.
    val pre = (if (bloom == null) cand.limit(0)
      else cand.filter(
        call_function("bloom_might_contain", lit(bloom), xxhash64(col("sh")))))
      .distinct()
    val hit = pre.join(bench, "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** q121: duplicated-SPAN detection — substring-level dedup (the signal
    * behind "dedup at the 50-token-span grain, not the document grain":
    * boilerplate headers, license blocks, and templated passages repeat
    * across otherwise-distinct documents and document-level MinHash never
    * sees them). Every 8-token window of every document becomes a
    * positional shingle; a span is duplicated if its shingle digest occurs
    * more than once in the corpus (cross-document or self-repetition —
    * both are training-data repetition). Output is the per-document span
    * profile: total spans, duplicated spans, duplicated fraction — the
    * feature a span-level cleaner thresholds on.
    *
    * Scale shape: the explode is the dominant cost and is embarrassingly
    * parallel (no shuffle); only 16-byte digests shuffle, never text —
    * first into a map-side-combining count per digest, then one
    * digest-keyed join back (AQE re-uses the aggregation's partitioning).
    * At 100 TB the digest-count table is also the input you'd feed a
    * suffix-style span REMOVER: it already names every repeated span. */
  val q121DupSpans: Q = Q(
    "q121_dup_spans",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |idx AS (
      |  SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
      |  FROM toks WHERE len(t) >= 8),
      |sh AS (
      |  SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h FROM idx),
      |g AS (SELECT h, count(*) AS gcnt FROM sh GROUP BY h)
      |SELECT s.doc_id, count(*) AS spans,
      |       count(*) FILTER (WHERE g.gcnt > 1) AS dup_spans,
      |       round(CAST(count(*) FILTER (WHERE g.gcnt > 1) AS DOUBLE)
      |             / CAST(count(*) AS DOUBLE), 4) AS dup_frac
      |FROM sh s JOIN g USING (h)
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    spanProfile(Tables(s, dir, "documents"), 8).orderBy(col("doc_id"))
  }

  /** The q121 core over any (doc_id, text) frame with a configurable
    * span width (≥ 1 token). */
  private[ops] def spanProfile(docs: DataFrame, width: Int): DataFrame = {
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= width)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(t) - ${width - 1})," +
          s" i -> md5(array_join(slice(t, i, $width), ' ')))")).as("h"))
      .persist(MEMORY_AND_DISK)
    val g = sh.groupBy(col("h")).agg(count(lit(1)).as("gcnt"))
    sh.join(g, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("spans"),
        count_if(col("gcnt") > 1).as("dup_spans"),
        round(count_if(col("gcnt") > 1).cast("double")
          / count(lit(1)).cast("double"), 4).as("dup_frac"))
  }

  /** q154: per-FIELD survivorship (golden-record merge) — q62 keeps one
    * whole ROW per cluster; master-data merging picks each field by its
    * OWN rule across the duplicate records: name ← the longest (ties to
    * the lexicographically larger via a zero-padded length|name key —
    * a bare string length would compare "9" > "10"), account balance ←
    * from the LATEST source that has one (recency rule), segment ← from
    * the EARLIEST source that has one (trust rule). Dirty duplicates are
    * synthesized deterministically from customer (src 0 = full record;
    * src 1, even keys = truncated name + null balance; src 2, %3 keys =
    * suffixed name + shifted balance + null segment), so both engines
    * derive identical input and every rule's FILTER path is exercised.
    * All picks are max_by/min_by over a unique ordering key (src) with
    * non-null FILTERs — no engine-specific null-ordering luck.
    *
    * Scale: one shuffle on the merge key; each rule is a single
    * aggregate, map-side combined. The rule set extends per column
    * without new passes. */
  val q154Survivorship: Q = Q(
    "q154_survivorship",
    """WITH recs AS (
      |  SELECT c_custkey AS k, 0 AS src, c_name AS name,
      |         c_acctbal AS bal, c_mktsegment AS seg
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 1, substr(c_name, 1, 5), NULL, c_mktsegment
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT c_custkey, 2, c_name || '-dup', c_acctbal + 10, NULL
      |  FROM customer WHERE c_custkey % 3 = 0)
      |SELECT k, count(*) AS n_sources,
      |       max_by(name, lpad(CAST(length(name) AS VARCHAR), 4, '0') || '|' || name)
      |         AS name,
      |       max_by(bal, src) FILTER (WHERE bal IS NOT NULL) AS bal,
      |       min_by(seg, src) FILTER (WHERE seg IS NOT NULL) AS seg
      |FROM recs GROUP BY k ORDER BY k""".stripMargin) { (s, dir) =>
    val c = Tables(s, dir, "customer")
    def rec(df: org.apache.spark.sql.DataFrame, src: Int,
        name: org.apache.spark.sql.Column, bal: org.apache.spark.sql.Column,
        seg: org.apache.spark.sql.Column) =
      df.select(col("c_custkey").as("k"), lit(src).as("src"), name.as("name"),
        bal.as("bal"), seg.as("seg"))
    val recs = rec(c, 0, col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .unionByName(rec(c.filter(col("c_custkey") % 2 === 0), 1,
        substring(col("c_name"), 1, 5), lit(null).cast("double"),
        col("c_mktsegment")))
      .unionByName(rec(c.filter(col("c_custkey") % 3 === 0), 2,
        concat(col("c_name"), lit("-dup")), col("c_acctbal") + 10,
        lit(null).cast("string")))
    recs.groupBy(col("k"))
      .agg(count(lit(1)).as("n_sources"),
        max_by(col("name"),
          concat(lpad(length(col("name")).cast("string"), 4, "0"),
            lit("|"), col("name"))).as("name"),
        expr("max_by(bal, src) FILTER (WHERE bal IS NOT NULL)").as("bal"),
        expr("min_by(seg, src) FILTER (WHERE seg IS NOT NULL)").as("seg"))
      .orderBy(col("k"))
  }

  /** q248: CONTAINMENT-direction near-dup detection — asymmetric overlap
    * C(A→B) = |A∩B|/|A|, the measure that catches snippet-in-page and
    * quote-farm duplication symmetric Jaccard structurally misses: a
    * 50-shingle snippet fully embedded in a 5000-shingle page has
    * C(A→B) = 1.0 but J ≈ 0.01, far under any Jaccard gate. Candidates
    * are the same LSH band pairs (a contained doc shares its shingles,
    * so it shares band keys); verification reuses q37's two-hash-join
    * intersection count and reports BOTH directions plus the engulfing
    * verdict (which side is ≥ 80% inside the other). In a curation
    * pipeline the contained side is the drop candidate and the container
    * survives — the opposite of q62's length-keeper policy, which is why
    * the direction label matters. */
  val q248ContainmentDedup: Q = Q(
    "q248_containment_dedup",
    s"""WITH $duckLshPairCtes,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shl),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id),
       |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |          FROM pairs p
       |          JOIN dsh a ON a.doc_id = p.doc_a
       |          JOIN dsh b ON b.doc_id = p.doc_b AND b.sh = a.sh
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
       |       round(CAST(n_inter AS DOUBLE) / ca.n_sh, 4) AS cont_a,
       |       round(CAST(n_inter AS DOUBLE) / cb.n_sh, 4) AS cont_b,
       |       CASE WHEN 5 * n_inter >= 4 * ca.n_sh
       |              AND 5 * n_inter >= 4 * cb.n_sh THEN 'mutual'
       |            WHEN 5 * n_inter >= 4 * ca.n_sh THEN 'a_in_b'
       |            ELSE 'b_in_a' END AS engulfed
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = doc_a
       |JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE 5 * n_inter >= 4 * least(ca.n_sh, cb.n_sh)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    val pairs = lshCandidatePairs(s, dir).persist(MEMORY_AND_DISK)
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val docSets = shingleRows(s, dir)
      .join(broadcast(ids), "doc_id")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("shs"))
      .withColumn("n_sh", size(col("shs")).cast("long"))
    // The 0.8 containment gate as integer cross-multiplication (the q110
    // discipline — no float in a decision).
    pairs
      .join(docSets.select(col("doc_id").as("doc_a"),
        col("shs").as("shs_a"), col("n_sh").as("n_a")), "doc_a")
      .join(docSets.select(col("doc_id").as("doc_b"),
        col("shs").as("shs_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .filter(lit(5) * col("n_inter") >= lit(4) * least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_a"), col("n_b"),
        round(col("n_inter").cast("double") / col("n_a"), 4).as("cont_a"),
        round(col("n_inter").cast("double") / col("n_b"), 4).as("cont_b"),
        when(lit(5) * col("n_inter") >= lit(4) * col("n_a") &&
          lit(5) * col("n_inter") >= lit(4) * col("n_b"), "mutual")
          .when(lit(5) * col("n_inter") >= lit(4) * col("n_a"), "a_in_b")
          .otherwise("b_in_a").as("engulfed"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val all: Seq[Q] =
    Seq(q34ExactDedup, q35MinHashLsh, q36SimHash, q37NgramJaccard,
      q47DedupClusters, q62DedupKeepBest, q65SimhashHamming, q82DedupEnsemble,
      q67Decontaminate, q68Repetition, q97DedupIncremental,
      q104BloomDecontaminate, q121DupSpans, q154Survivorship,
      q233DedupIncrementalCluster, q248ContainmentDedup, q269ForgetDocs,
      q281LshScurve)
}
