package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** The contract of [[StreamGate.foldStream]] that every fold gate relies
  * on: one step per staged file, batch ids 0..n-1 in staging order, and
  * the staged input gone once the run returns. */
class FoldStreamSpec extends SparkSpec {

  test("foldStream steps once per staged file, in staging order, then drops the input") {
    val work = Files.createTempDirectory("fold-stream-spec-")
    try {
      // Distinct, recognisable content per batch: batch i holds 10i..10i+2.
      val batches = (0 until 4).map(i => spark.range(10L * i, 10L * i + 3).toDF("v"))
      val in = StreamGate.stageOrderedBatches(work, batches)
      val calls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
      StreamGate.foldStream(spark, work, batches.head.schema, in) { (_, batch, id) =>
        calls.add((id, batch.collect().map(_.getLong(0)).sorted.toSeq))
      }
      import scala.jdk.CollectionConverters._
      val seen = calls.asScala.toSeq
      assert(seen.map(_._1) == (0L until 4L))
      assert(seen.map(_._2) == (0 until 4).map(i => (10L * i until 10L * i + 3).toSeq))
      assert(!Files.exists(work.resolve("in")), "staged input survived the run")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
  }
}
