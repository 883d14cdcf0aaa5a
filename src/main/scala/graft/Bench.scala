package graft

/** Benchmark entry: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (the driver's record).
  *
  * Methodology:
  *  - noop sink (Spark 4 built-in): runs the FULL plan — a bare count()
  *    lets Catalyst prune unreferenced projections, under-measuring
  *    projection-heavy queries (fingerprints, quality scores).
  *  - best-of-N passes (default 2): the machine is multi-tenant and load
  *    spikes from outside this JVM inflate single-shot timings up to 50×
  *    (BENCH_r02: q43 835 s vs 0.74 s in r01 for identical code). Each pass
  *    runs the sorted query list, so the two samples of one query are
  *    minutes apart — a sustained external spike cannot hit both. The
  *    per-query minimum is the standard noise-robust estimator; pass totals
  *    are also reported so one-shot (cold) cost stays visible.
  *  - passes after the first re-time only queries whose best time exceeds
  *    RERUN_THRESHOLD (5 s): a sub-5 s pass-1 number was not meaningfully
  *    spiked, so skipping it bounds total bench wall-clock near one pass on
  *    an idle machine, while a loaded pass 1 (many queries > 5 s) still
  *    gets the full spaced retry.
  *  - the cache is cleared between passes, so every pass pays its own
  *    persist()s and later passes differ from pass 1 only by JVM warmth.
  *  - regression gate: the prior `bench_full.json` (same SF only) is read
  *    BEFORE this run overwrites it, and any query whose new best exceeds
  *    3× its prior best AND a 0.5 s noise floor is flagged in a
  *    `regressions` map in both the stdout record and the artifact — so a
  *    round-over-round delta is attributable per query in one read instead
  *    of reverse-engineered from two totals (the r7 failure mode).
  */
object Bench {

  /** PINNED cross-round VM-calibration set (round-14 VERDICT item: the
    * r13 "this VM is 1.5–1.9× slower on identical code" diagnosis had
    * to be re-derived by hand — make it mechanical). Five queries whose
    * CODE is frozen from r14 on (two relational, three graph/join
    * heavies); their best-of-run total is reported as a `calibration`
    * block next to the suite total, so a round-over-round comparison
    * divides out machine speed: normalized suite total = total_best ×
    * (prior calibration_total / this calibration_total). Any edit to
    * one of these five queries must retire and re-pin the set — note it
    * in NOTES.md. */
  val CalibrationSet: Seq[String] = Seq(
    "q1_authors_leaderboard", "q7_star_join_revenue",
    "q106_triangle_count", "q109_pagerank", "q110_setsim_join")

  /** Pure compare for the regression gate (unit-tested in BenchDiffSpec):
    * flags queries whose new best — NORMALIZED by the cross-round
    * calibration ratio `calRatio` = prior_calibration_total /
    * this_calibration_total, so a uniformly slower (or faster) VM can
    * neither manufacture fake regressions nor mask real ones — exceeds
    * `ratio`× the prior best and the `floor`. The floor absorbs
    * scheduler jitter on sub-second queries; the ratio absorbs
    * multi-tenant noise beyond what calibration divides out (NOTES.md
    * records 3× machine-load swings on this box; a real plan regression
    * is bigger). calRatio = 1.0 (raw compare) when either record lacks a
    * usable calibration block. Returns name → (prior, now_raw,
    * now_normalized). */
  def regressions(
      prior: Map[String, Double],
      now: Map[String, Double],
      ratio: Double = 3.0,
      floor: Double = 0.5,
      calRatio: Double = 1.0): Map[String, (Double, Double, Double)] =
    now.flatMap { case (name, t) =>
      val tn = t * calRatio
      prior.get(name) match {
        case Some(p) if tn > floor && tn > p * ratio =>
          Some(name -> (p, t, tn))
        case _ => None
      }
    }

  /** Read the prior record's (sf, per-query best, calibration total) from
    * bench_full.json. Jackson (on Spark's classpath) so the parse is
    * robust to formatting; any failure — absent file, corrupt JSON —
    * degrades to None (a bench run must never fail because the previous
    * artifact is unreadable). The calibration total is None where the
    * record predates the block or recorded it null (errored calibration
    * run) — the gate then falls back to the raw compare. */
  def readPrior(path: java.nio.file.Path)
      : Option[(String, Map[String, Double], Option[Double])] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(path))
      val sf = root.get("sf").asText()
      val qs = root.get("queries")
      val it = qs.fields()
      val m = scala.collection.mutable.Map.empty[String, Double]
      while (it.hasNext) { val e = it.next(); m(e.getKey) = e.getValue.asDouble() }
      val cal = Option(root.get("calibration"))
        .filterNot(_.isNull).flatMap(c => Option(c.get("total")))
        .filterNot(_.isNull).map(_.asDouble()).filter(_ > 0.0)
      Some((sf, m.toMap, cal))
    } catch { case _: Throwable => None }

  /** Locale-pinned 3-decimal format: the artifact is load-bearing INPUT
    * for the next run's regression gate, and default-locale `f"%.3f"`
    * emits a comma decimal separator on e.g. a de_DE JVM — invalid JSON
    * that silently disables the gate forever (readPrior → None). */
  private def f3(t: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(t))

  /** Machine load at a pass boundary (`/proc/loadavg` 1/5/15-min fields)
    * — recorded per pass so every future cross-round comparison is
    * self-describing about multi-tenant noise. "null" where unreadable. */
  private def loadAvgJson(): String =
    try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).mkString("[", ",", "]")
    } catch { case _: Throwable => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.local(cpus)
    // JVM/scheduler/codegen warmup so the first measured query isn't
    // charged for cluster bring-up (standard bench hygiene).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val rerunThreshold =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RERUN_THRESHOLD", "5.0").toDouble
    // Prior record read BEFORE the passes (the artifact is only
    // rewritten at the end, so the regression gate below sees the same
    // map): a LOADED pass 1 inflates sub-threshold queries 2-4×, and the
    // old rule then froze that single loaded sample as the query's best
    // (r15: a dozen phantom "regressions" under 5 s). Additions-only
    // fix (VERDICT r15 item 7): later passes ALSO re-time any query
    // whose standing best exceeds 2× its prior-record best, regardless
    // of the 5 s floor.
    val priorEarly: Map[String, Double] = readPrior(
      java.nio.file.Paths.get("bench_full.json"))
      .filter(_._1 == sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      .map(_._2).getOrElse(Map.empty)
    def inflatedVsPrior(name: String, t: Double): Boolean =
      priorEarly.get(name).exists(pb => t > 2.0 * pb)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // A renamed/retired calibration query must fail LOUDLY: a silently
    // 4/5-query calibration total would poison every future cross-round
    // normalization that divides by it.
    val missingCal = CalibrationSet.filterNot(SparkEntry.queries.contains)
    require(missingCal.isEmpty,
      s"calibration queries missing from the registry: " +
        s"${missingCal.mkString(", ")} — re-pin Bench.CalibrationSet " +
        "and record the retirement in NOTES.md")
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errored = scala.collection.mutable.LinkedHashSet.empty[String]
    val rerunCounts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    val passTotals = (1 to reps).map { pass =>
      var reruns = 0
      passLoads += loadAvgJson()
      val passTimes = names.map { case (name, fn) =>
        // A fast FAILURE must not exempt a query from retry (its
        // time-to-throw is not a valid timing), so errored queries always
        // re-run in later passes regardless of the threshold.
        if (pass > 1 && best(name) <= rerunThreshold && !errored(name) &&
            !inflatedVsPrior(name, best(name))) {
          // Carry the standing best forward so pass totals stay comparable
          // side by side even though sub-threshold queries are not re-run.
          best(name)
        } else {
          reruns += 1
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case _: Throwable => errored += name; false }
          if (ok) errored -= name
          val dt = (System.nanoTime() - t0) / 1e9
          best(name) = best.get(name).fold(dt)(math.min(_, dt))
          dt
        }
      }
      rerunCounts += reruns
      // Free every persist() the pass left behind so passes are independent
      // and cache doesn't accumulate across 50+ queries.
      spark.catalog.clearCache()
      passTimes.sum
    }
    // Regression gate vs the prior artifact (same SF only — a record taken
    // at a different scale factor is not a baseline for this run).
    val artifact = java.nio.file.Paths.get("bench_full.json")
    val prior = readPrior(artifact).filter(_._1 == sfDir)
    // Calibration block: the pinned set's per-query bests + total, from
    // the same best-of-passes record (no extra runs — the set is a fixed
    // SLICE of the suite, which is exactly what makes it comparable).
    // An ERRORED calibration run must not poison the total (its recorded
    // time is time-to-throw, not a timing — round-14 ADVICE): the block
    // degrades to null with a reason, and normalization below falls back
    // to the raw compare for this round.
    val calQ = CalibrationSet
    val calErrored = calQ.filter(errored)
    val calTotal: Option[Double] =
      if (calErrored.isEmpty) Some(calQ.map(best).sum) else None
    val calibration = calTotal match {
      case Some(t) =>
        val calPerQ = calQ.map(n => s"\"$n\":${f3(best(n))}")
          .mkString("{", ",", "}")
        s"""{"queries":$calPerQ,"total":${f3(t)}}"""
      case None =>
        System.err.println("[bench] calibration unusable: errored " +
          s"calibration queries: ${calErrored.mkString(", ")}")
        s"""{"total":null,"reason":"errored: ${calErrored.mkString(",")}"}"""
    }
    // Cross-round VM normalization for the per-query gate (VERDICT r14
    // #5): normalized now = now × (prior_cal / this_cal). 1.0 — the raw
    // compare — when either side's calibration block is unusable.
    val calRatio: Double = (for {
      p <- prior; pc <- p._3; tc <- calTotal
    } yield pc / tc).getOrElse(1.0)
    // Confirmation pass: a flagged query whose best is a SINGLE sample
    // (sub-threshold, so the later passes never re-timed it) may be one
    // unlucky scheduling window, not a regression — re-time each flagged
    // query once and keep the min, so only reproducible slowdowns reach
    // the report (the gate's job is separating code from machine noise).
    prior.map(p => regressions(p._2, best.toMap, calRatio = calRatio))
      .getOrElse(Map.empty)
      .keys.toSeq.sorted.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val dt = (System.nanoTime() - t0) / 1e9
            best(name) = math.min(best(name), dt)
          } catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
      }
    val regr = prior
      .map(p => regressions(p._2, best.toMap, calRatio = calRatio))
      .getOrElse(Map.empty)
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (best.nonEmpty) best.values.sum else 0.0
    val passes = passTotals.map(f3).mkString("[", ",", "]")
    val loads = passLoads.mkString("[", ",", "]")
    val reruns = rerunCounts.mkString("[", ",", "]")
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    val priorTotal = prior.map(_._2.values.sum)
    // Each flagged entry carries the raw AND calibration-normalized now,
    // and the ratio the gate actually fired on (now_norm / prev).
    val regrJson = regr.toSeq.sortBy(-_._2._3).map { case (n, (p, t, tn)) =>
      s"""\"$n\":{\"prev\":$p,\"now\":$t,\"now_norm\":${f3(tn)},\"ratio\":${tn / p}}"""
    }.mkString("{", ",", "}")
    val prevTotalJson = priorTotal.map(f3).getOrElse("null")
    val calRatioJson = f3(calRatio)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","reps":$reps,"pass_totals":$passes,"load":$loads,"pass_reruns":$reruns,"errors":$errs,"prev_total":$prevTotalJson,"cal_ratio":$calRatioJson,"regressions":$regrJson,"calibration":$calibration}""")
    // The driver's one-line record truncates past ~100 queries, losing the
    // per-query tail; persist the full distribution as a repo artifact so
    // the whole record stays auditable after every bench run.
    val full = s"""{"sf":"$sfDir","cpus":"$cpus","reps":$reps,"total_best":$total,"pass_totals":$passes,"load":$loads,"pass_reruns":$reruns,"errors":$errs,"prev_total":$prevTotalJson,"cal_ratio":$calRatioJson,"regressions":$regrJson,"calibration":$calibration,"queries":$qs}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"), full.getBytes("UTF-8"))
    catch { case _: Throwable => () } // an unwritable CWD must not fail the bench
    spark.stop()
  }
}
