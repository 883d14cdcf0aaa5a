package graft.git

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests (SURVEY §5 #2): aggregation laws that make the reference's
  * iterated-upsert semantics reproducible as one global re-aggregation.
  * (ScalaCheck driven directly — the scalatest bridge artifact isn't in the
  * allowed dependency set.)
  */
/** Top-level so Spark can derive an Encoder (inner classes can't). */
final case class PropCommit(repo: String, sha: String, email: String, name: String, epoch: Long)

class GitAggPropertySpec extends SparkSpec {
  import spark.implicits._

  private type C = PropCommit
  private val C = PropCommit

  private def passes(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private val genCommit: Gen[C] = for {
    repo <- Gen.oneOf("r1", "r2")
    sha <- Gen.listOfN(8, Gen.hexChar).map(_.mkString)
    email <- Gen.oneOf("a@x", "b@x", "c@x")
    name <- Gen.oneOf("A", "B", "C", "D")
    epoch <- Gen.choose(1600000000L, 1700000000L)
  } yield C(repo, sha, email, name, epoch)

  private val genCommits: Gen[List[C]] =
    Gen.choose(1, 25).flatMap(n => Gen.listOfN(n, genCommit))

  private def df(cs: Seq[C]): DataFrame =
    cs.toDF("repo_name", "sha", "author_email", "author_name", "epoch")
      .withColumn("committed_at", timestamp_seconds(col("epoch")))
      .drop("epoch")

  private def authorTuples(d: DataFrame): Set[(String, String, Long, Timestamp, Timestamp)] =
    GitAgg.authors(d).collect().map(r => (
      r.getAs[String]("email"), r.getAs[String]("name"),
      r.getAs[Long]("total_commits"),
      r.getAs[Timestamp]("first_commit_at"),
      r.getAs[Timestamp]("last_commit_at"))).toSet

  test("A1 is invariant under input order and partitioning") {
    passes(Prop.forAll(genCommits) { cs =>
      val base = authorTuples(df(cs))
      val shuffled = authorTuples(df(scala.util.Random.shuffle(cs)).repartition(7))
      base == shuffled
    }, 8)
  }

  test("U2: global re-aggregation ≡ iterated per-repo upsert merge") {
    passes(Prop.forAll(genCommits) { cs =>
      val global = GitAgg.authors(df(cs)).collect().map { r =>
        r.getAs[String]("email") -> ((r.getAs[Long]("total_commits"),
          r.getAs[Timestamp]("first_commit_at"), r.getAs[Timestamp]("last_commit_at")))
      }.toMap

      // iterate repos like the reference's sequential loop + SQLite upsert:
      // total += new, first = MIN, last = MAX (src/database.ts:109-117)
      val merged = scala.collection.mutable.Map[String, (Long, Timestamp, Timestamp)]()
      cs.groupBy(_.repo).toSeq.sortBy(_._1).foreach { case (_, repoCs) =>
        GitAgg.authors(df(repoCs)).collect().foreach { r =>
          val e = r.getAs[String]("email")
          val t = r.getAs[Long]("total_commits")
          val f = r.getAs[Timestamp]("first_commit_at")
          val l = r.getAs[Timestamp]("last_commit_at")
          merged.get(e) match {
            case None => merged(e) = (t, f, l)
            case Some((t0, f0, l0)) =>
              merged(e) = (t0 + t, if (f.before(f0)) f else f0, if (l.after(l0)) l else l0)
          }
        }
      }
      global == merged.toMap
    }, 6)
  }

  test("U2: addAuthors ≡ mergeAuthors of the stored table and authors(commits)") {
    def rows(d: DataFrame) = d.collect().map(_.toString).toSet
    passes(Prop.forAll(genCommits, genCommits) { (stored, run) =>
      val existing = GitAgg.authors(df(stored))
      rows(GitAgg.addAuthors(existing, df(run))) ==
        rows(GitAgg.mergeAuthors(existing, GitAgg.authors(df(run))))
    }, 6)
  }

  test("A2 totals are invariant under partitioning") {
    passes(Prop.forAll(genCommits) { cs =>
      val d = df(cs)
        .withColumn("additions", lit(1L)).withColumn("deletions", lit(2L))
        .withColumn("files_changed", lit(1L)).withColumn("is_merge", lit(false))
      val a = GitAgg.summaryStats(d).collect()(0)
      val b = GitAgg.summaryStats(d.repartition(5)).collect()(0)
      a.toString == b.toString
    }, 4)
  }
}
