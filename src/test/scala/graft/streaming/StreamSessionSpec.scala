package graft.streaming

import graft.{NoForkLocalFileSystem, PlanProbe, ResultDigest, SparkEntry, SparkSpec}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.graftshim.GraftShim

/** A stream gate's child session is a clone of the session the gate runs
  * on: at a small input it keeps the interpreted clone's codegen-off conf,
  * so a repeated run compiles (almost) nothing, and it writes its
  * checkpoint, state and sink files through [[NoForkLocalFileSystem]]. */
class StreamSessionSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val q96 = "q96_stream_dedup"

  /** Classes compiled by one run of q96 through `SparkEntry.queries`
    * (build and digest), and the streaming plans the plan probe saw. */
  private def run(): (Long, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    spark.catalog.clearCache()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    PlanProbe.start((label, plan) => if (label.startsWith("stream/")) plans.add(plan))
    try ResultDigest.of(SparkEntry.queries(q96)(spark, sf))
    finally PlanProbe.stop()
    import scala.jdk.CollectionConverters._
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, plans.asScala.toSeq)
  }

  test("q96 at a small input streams interpreted and recompiles at most one class") {
    assume(new java.io.File(sf).isDirectory, s"driver testdata absent at $sf")
    run()
    val (classes, plans) = run()
    assert(classes <= 1, s"second run compiled $classes classes")
    assert(plans.nonEmpty, "no streaming plan captured")
    assert(!plans.exists(_.collectWithSubqueries { case w: WholeStageCodegenExec => w }.nonEmpty),
      "the stream session generated whole-stage code")
  }

  test("the stream session writes through the fork-free local file system") {
    def localFs(s: SparkSession) =
      new Path("file:///").getFileSystem(s.sessionState.newHadoopConf())
    val caller = GraftShim.cloneSession(spark)
    caller.conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    caller.conf.set("fs.file.impl.disable.cache", "true")
    assert(localFs(caller).getClass == classOf[LocalFileSystem])
    assert(localFs(StreamGate.streamSession(caller)).isInstanceOf[NoForkLocalFileSystem])
  }
}
