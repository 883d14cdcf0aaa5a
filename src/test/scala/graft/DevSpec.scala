package graft

import java.nio.file.{Files, Path, Paths}

/** `graft.Dev` driven through `Dev.run` on the shared session. */
class DevSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val q1 = "q1_authors_leaderboard"
  private val q7 = "q7_star_join_revenue"

  private def outDir(tag: String): Path = Paths.get("target", "tmp",
    s"dev-$tag-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath

  private def stdout(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private def requireTestdata(): Unit =
    assume(new java.io.File(sf).isDirectory, s"driver testdata absent at $sf")

  test("plans writes a non-empty formatted plan per named query") {
    requireTestdata()
    val out = outDir("plans")
    Dev.run(spark, Seq("plans", sf, out.toString, q1))
    assert(Files.readString(out.resolve(s"$q1.txt")).nonEmpty)
  }

  test("time with one rep prints one line per named query, with jobs > 0") {
    requireTestdata()
    val lines = stdout(Dev.run(spark, Seq("time", sf, "1", q1, q7)))
      .filter(_.startsWith("[profile]"))
    assert(lines.map(_.split("\\s+")(1)) == Seq(q1, q7), lines)
    lines.foreach { l =>
      def field(name: String) = s"$name=\\s*(-?\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt)
      assert(field("jobs").exists(_ > 0), l)
      assert(field("classes").exists(_ >= 0), l)
    }
  }

  test("an unknown name is refused before any query runs") {
    requireTestdata()
    val out = outDir("unknown")
    val lines = stdout {
      intercept[IllegalArgumentException](
        Dev.run(spark, Seq("time", sf, "1", q1, "q0_no_such_query")))
      intercept[IllegalArgumentException](
        Dev.run(spark, Seq("plans", sf, out.toString, q1, "q0_no_such_query")))
    }
    assert(!lines.exists(_.startsWith("[profile]")), lines)
    assert(!Files.exists(out))
  }

  test("the shared session is still usable afterwards") {
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(10).count() == 10)
  }
}
