package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.EventStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DoubleType, StringType}

/** [[Tables]] reads every table with a schema Spark inferred once, so
  * building a query runs no schema-inference job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def requireTestdata(): Unit =
    assume(new java.io.File(sf).isDirectory, s"driver testdata absent at $sf")

  private def tmp(tag: String): Path = Paths.get("target", "tmp",
    s"tables-$tag-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath

  /** `body`'s result and the Spark jobs it starts, counted once the
    * listener bus drains. */
  private def jobs[T](body: => T): (T, Int) = {
    GraftShim.drainListeners(spark)
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = body
      GraftShim.drainListeners(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("every table reads with the schema and rows of an inferred read") {
    requireTestdata()
    Tables.all.foreach { t =>
      val pinned = Tables(spark, sf, t)
      val raw = spark.read.parquet(s"$sf/$t.parquet")
      val inferred = if (t == "events") Tables.normalizeTs(raw) else raw
      assert(pinned.schema == inferred.schema, t)
      assert(ResultDigest.of(pinned) == ResultDigest.of(inferred), t)
    }
  }

  test("a second build of every table runs no Spark job") {
    requireTestdata()
    Tables.all.foreach(Tables(spark, sf, _))
    assert(jobs(Tables.all.foreach(Tables(spark, sf, _)))._2 == 0)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = tmp("rewrite").toString
    Seq((1L, 1.5)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(jobs(Tables(spark, dir, "orders"))._2 == 1)
    assert(jobs(Tables(spark, dir, "orders"))._2 == 0)
    assert(Tables(spark, dir, "orders").schema("o_totalprice").dataType == DoubleType)
    Seq((2L, "x")).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val again = Tables(spark, dir, "orders")
    assert(again.schema("o_totalprice").dataType == StringType)
    assert(rowStrings(again) == Seq("[2,x]"))
  }

  test("the events stream over a staged copy runs no job at build") {
    requireTestdata()
    val root = tmp("staged")
    val in = Files.createDirectories(root.resolve("events.parquet"))
    Files.copy(Paths.get(sf, "events.parquet"), in.resolve("part-0.parquet"))
    val stored = Tables.stored(spark, sf, "events")
    val (ev, n) = jobs(EventStream.events(spark, root.toString, stored))
    assert(n == 0)
    assert(ev.isStreaming)
    assert(ev.schema == Tables(spark, sf, "events").schema)
  }
}
