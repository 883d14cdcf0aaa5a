package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec with Matchers {

  import spark.implicits._

  /** (user, epochSec, id) → DataFrame with a real timestamp column. */
  private def evDf(rows: Seq[(Int, Long, Long)]) =
    rows.toDF("user_id", "sec", "id")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .select("user_id", "ts", "id")

  test("backward as-of: latest right ts <= left ts per key; inclusive ties; null when none") {
    val left = evDf(Seq((1, 100L, 1L), (1, 200L, 2L), (1, 50L, 3L), (2, 100L, 4L), (3, 100L, 5L)))
    val right = evDf(Seq((1, 80L, 10L), (1, 100L, 11L), (1, 150L, 12L), (2, 300L, 13L)))
    val out = AsOf.joinBackward(left, right, Seq("user_id"), "ts", "ts")
      .select(col("id"), unix_timestamp(col("ts_r")).as("r_sec"), col("id_r"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    out shouldBe Map(
      1L -> 100L, // tie: right at ts=100 matches inclusively
      2L -> 150L,
      3L -> -1L,  // earliest left row precedes all rights
      4L -> -1L,  // right exists but only later
      5L -> -1L)  // key absent on right
  }

  test("matches the composed union+window rendering on random data across partitions") {
    val rnd = new scala.util.Random(42)
    val left = evDf(Seq.tabulate(500)(i => (rnd.nextInt(20), rnd.nextInt(10000).toLong, i.toLong)))
    val right = evDf(Seq.tabulate(800)(i => (rnd.nextInt(25), rnd.nextInt(10000).toLong, 10000L + i)))
    val custom = AsOf.joinBackward(left, right, Seq("user_id"), "ts", "ts")
      .select(col("id"), unix_timestamp(col("ts_r")).as("asof_sec"))
    // Composed reference (q24's shape): union + last-value carry-forward.
    import org.apache.spark.sql.expressions.Window
    val l2 = left.withColumn("is_left", lit(1))
    val r2 = right.withColumn("is_left", lit(0))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_left"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val composed = l2.unionByName(r2)
      .withColumn("asof_ts", last(when(col("is_left") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_left") === 1)
      .select(col("id"), unix_timestamp(col("asof_ts")).as("asof_sec"))
    custom.count() shouldBe 500
    custom.exceptAll(composed).count() shouldBe 0
    composed.exceptAll(custom).count() shouldBe 0
  }

  test("plans as AsOfJoinExec and pushes left-only filters below the join") {
    val left = evDf(Seq((1, 100L, 1L), (2, 200L, 2L)))
    val right = evDf(Seq((1, 90L, 10L)))
    val joined = AsOf.joinBackward(left, right, Seq("user_id"), "ts", "ts")
      .filter(col("id") > 1)
    // nodeName strips the Exec suffix in plan strings — collect by class.
    val hasExec = joined.queryExecution.executedPlan.exists {
      case _: AsOfJoinExec => true
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.exists { case _: AsOfJoinExec => true; case _ => false }
      case _ => false
    }
    hasExec shouldBe true
    // PushFilterThroughAsOfJoin: no Filter may remain above the AsOfJoin
    // node in the optimized plan.
    val opt = joined.queryExecution.optimizedPlan
    var aboveJoin = true
    var filterAbove = false
    opt.foreach {
      case _: AsOfJoin => aboveJoin = false
      case _: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        if (aboveJoin) filterAbove = true
      case _ => ()
    }
    filterAbove shouldBe false
    joined.select(col("id")).collect().map(_.getLong(0)) shouldBe Array(2L)
  }

  test("null keys and null times never match, on either side") {
    // DuckDB ASOF / SQL equi-join semantics: NULL never equals NULL and a
    // NULL time is never "<=" anything. RowOrdering's natural ordering would
    // happily compare NULL==NULL, so the exec must skip these explicitly.
    val left = Seq(
      (Option(1), Option(100L), 1L), // normal match
      (Option.empty[Int], Option(100L), 2L), // null key → unmatched
      (Option(1), Option.empty[Long], 3L), // null time → unmatched
      (Option(2), Option(100L), 4L)) // only right candidate has null time
      .toDF("user_id", "sec", "id")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .select("user_id", "ts", "id")
    val right = Seq(
      (Option.empty[Int], Option(50L), 10L), // null key: never a candidate
      (Option(1), Option.empty[Long], 11L), // null time: never a candidate
      (Option(1), Option(90L), 12L),
      (Option(2), Option.empty[Long], 13L)) // sole key-2 row, null time
      .toDF("user_id", "sec", "id")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .select("user_id", "ts", "id")
    val out = AsOf.joinBackward(left, right, Seq("user_id"), "ts", "ts")
      .select(col("id"), col("id_r"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    out shouldBe Map(1L -> 12L, 2L -> -1L, 3L -> -1L, 4L -> -1L)
  }

  test("fails fast on time-type mismatch, key-type mismatch, ambiguous name") {
    val left = evDf(Seq((1, 100L, 1L)))
    val longTimeRight = evDf(Seq((1, 90L, 2L)))
      .withColumn("ts", unix_timestamp(col("ts"))) // bigint vs timestamp
    val e1 = intercept[IllegalArgumentException] {
      AsOf.joinBackward(left, longTimeRight, Seq("user_id"), "ts", "ts")
    }
    e1.getMessage should include("time type mismatch")
    val strKeyRight = evDf(Seq((1, 90L, 2L)))
      .withColumn("user_id", col("user_id").cast("string"))
    val e2 = intercept[IllegalArgumentException] {
      AsOf.joinBackward(left, strKeyRight, Seq("user_id"), "ts", "ts")
    }
    e2.getMessage should include("key type mismatch")
    // Case-insensitive resolution (session default) sees two matches.
    // (withColumn would case-insensitively REPLACE user_id; select keeps both.)
    val dupLeft = left.select(col("*"), col("user_id").as("USER_ID"))
    val e3 = intercept[IllegalArgumentException] {
      AsOf.joinBackward(dupLeft, evDf(Seq((1, 90L, 2L))), Seq("user_id"), "ts", "ts")
    }
    e3.getMessage should include("ambiguous")
  }

  test("bucketed-by-key sources plan the as-of join with zero shuffle exchanges") {
    // The 100 TB claim in AsOfJoin's scaladoc: children are required
    // hash-clustered on keys, so EnsureRequirements ELIDES both exchanges
    // when the sources are bucketed by the key — the join becomes a local
    // per-bucket merge.
    spark.sql("DROP TABLE IF EXISTS graft_asof_left")
    spark.sql("DROP TABLE IF EXISTS graft_asof_right")
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq("graft_asof_left", "graft_asof_right").foreach { t =>
      val p = wh.resolve(t)
      if (java.nio.file.Files.exists(p))
        scala.sys.process.Process(Seq("rm", "-rf", p.toString)).!
    }
    val rnd = new scala.util.Random(7)
    val leftRows = Seq.tabulate(300)(i => (rnd.nextInt(10), rnd.nextInt(5000).toLong, i.toLong))
    val rightRows = Seq.tabulate(300)(i => (rnd.nextInt(10), rnd.nextInt(5000).toLong, 1000L + i))
    evDf(leftRows).write.bucketBy(4, "user_id").sortBy("user_id", "ts")
      .saveAsTable("graft_asof_left")
    evDf(rightRows).write.bucketBy(4, "user_id").sortBy("user_id", "ts")
      .saveAsTable("graft_asof_right")
    val bucketed = AsOf.joinBackward(
      spark.table("graft_asof_left"), spark.table("graft_asof_right"),
      Seq("user_id"), "ts", "ts")
    bucketed.count() shouldBe 300
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected shuffle-free bucketed as-of join, got:\n$plan")
    // and the result matches the unbucketed rendering bit-for-bit
    val baseline = AsOf.joinBackward(
      evDf(leftRows), evDf(rightRows), Seq("user_id"), "ts", "ts")
    bucketed.select(col("id"), col("id_r"))
      .exceptAll(baseline.select(col("id"), col("id_r"))).count() shouldBe 0
  }

  test("self-join on the same source dataframe disambiguates attributes") {
    val ev = evDf(Seq((1, 100L, 1L), (1, 90L, 2L), (1, 95L, 3L)))
    val out = AsOf.joinBackward(
        ev.filter(col("id") === 1), ev.filter(col("id") =!= 1),
        Seq("user_id"), "ts", "ts")
      .select(col("id"), col("id_r"))
      .collect()
    out.length shouldBe 1
    out.head.getLong(1) shouldBe 3L // ts=95 beats ts=90
  }
}
