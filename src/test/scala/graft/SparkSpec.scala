package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate ⇒ one JVM-wide
  * session), built with the production conf. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
    SparkSpec.installDrainHook(s)
    s
  }

  /** Rows of a DataFrame as a sorted Seq of simple tuples via toString —
    * order-insensitive structural compare for small expected sets. */
  def rowStrings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq
}

object SparkSpec {
  private val drainHookInstalled = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Deterministic shutdown (VERDICT r15 item 3): the driver's test run
    * intermittently died red when an ASYNC broadcast-exchange future
    * (SQLExecution.withThreadLocalCaptured) submitted a map stage while
    * the JVM's shutdown hook was already stopping the SparkContext — the
    * task lands in a Terminated executor pool, the dispatcher thread's
    * uncaught exception flips the forked JVM's exit code, and `sbt test`
    * reports failure with every suite green. Fix: a Hadoop shutdown hook
    * at priority 60 — Spark registers its own stop hook with Hadoop's
    * manager at priority 30, and Hadoop runs hooks in DESCENDING
    * priority in one thread — so before Spark begins stopping, all
    * active jobs are cancelled and the scheduler is drained. Installed
    * once, at shared-session creation. */
  private def installDrainHook(s: SparkSession): Unit =
    if (drainHookInstalled.compareAndSet(false, true)) {
      org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
        new Runnable {
          override def run(): Unit = try {
            val sc = s.sparkContext
            if (!sc.isStopped) {
              sc.cancelAllJobs()
              val deadline = System.currentTimeMillis() + 10000
              while (sc.statusTracker.getActiveJobIds().nonEmpty &&
                  System.currentTimeMillis() < deadline)
                Thread.sleep(50)
            }
          } catch { case _: Throwable => () }
        }, 60)
    }
}
