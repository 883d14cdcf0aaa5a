package graft.git

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.sys.process._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Source operators S1–S7 (SURVEY §2.1): the git-subprocess boundary.
  *
  * Design (SURVEY §4): extraction lives *outside* the query engine as a
  * `Seq[RepoInfo] → DataFrame(raw text)` boundary, exactly as the reference
  * treats it. Each repo's log is fetched by one `git` subprocess running on
  * whichever executor owns that repo's partition — one partition per repo is
  * the natural split (mapPartitions over a repo list; at cluster scale the
  * repo paths would be a shared filesystem or a pre-extracted text dataset).
  * Everything after the subprocess is the declarative GitParse/GitAgg plan.
  */
object GitCli {

  private val logFormat =
    "COMMIT_START%n%H%n%ae%n%an%n%ct%n%P%n%s%nCOMMIT_MSG_END"
  private val tagFormat =
    "%(refname:short)|%(objecttype)|%(objectname)|%(taggername)|%(taggeremail)|%(taggerdate:unix)|%(subject)|%(contents:body)"

  private def run(cwd: String, cmd: String*): Option[String] =
    Try(Process(cmd, new java.io.File(cwd)).!!(ProcessLogger(_ => ()))).toOption

  // ---- S3: branch probe (src/git-parser.ts:57-70) -------------------------
  def currentBranch(repoPath: String): Option[String] =
    run(repoPath, "git", "rev-parse", "--abbrev-ref", "HEAD").map(_.trim)
      .filter(_.nonEmpty)

  // ---- S5: author-existence probe (main.ts:30-77) — LIMIT-1 gate ----------
  def hasCommitsByAuthor(repoPath: String, authorPattern: String): Boolean =
    currentBranch(repoPath).exists { branch =>
      run(repoPath, "git", "log", branch, "--author", authorPattern,
        "--format=%H", "-n", "1").exists(_.trim.nonEmpty)
    }

  /** The commit sha `rev` names in the repo, if it names one. */
  def revParse(repoPath: String, rev: String): Option[String] =
    run(repoPath, "git", "rev-parse", "--verify", "-q", s"$rev^{commit}")
      .map(_.trim).filter(_.nonEmpty)

  /** Whether commit `ancestor` is reachable from commit `tip`. */
  def isAncestor(repoPath: String, ancestor: String, tip: String): Boolean =
    run(repoPath, "git", "merge-base", "--is-ancestor", ancestor, tip).isDefined

  /** RepoInfo for a path: name from the last path segment (P12) + S3. */
  def repoInfo(repoPath: String): Option[RepoInfo] =
    currentBranch(repoPath).map { b =>
      RepoInfo(Paths.get(repoPath).getFileName.toString, repoPath, b)
    }

  /** `scan` run once per repo, one slice per repo: parallelize splits the
    * list itself, so no round-robin exchange (and no extra Spark job under
    * AQE) is needed to spread the repos over the tasks. The result is
    * coalesced to that same slice count, which moves no data but declares
    * a one-repo extraction a single partition, so the keyed dedups and
    * aggregations after it plan no exchange either.
    *
    * These scans read EXTERNAL state (the repos on disk), which a logical
    * plan cannot see. Each call builds a fresh RDD, and a plan over an RDD
    * only matches a plan over the same RDD instance, so a cached earlier
    * extraction is never served for a re-run after the repos changed
    * (GitCliSpec: two builds in one session see the new commit).
    *
    * With `onDriver` the scans run once, on the driver, as the Dataset is
    * built, and the tasks read their output: every action over it sees
    * the same rows without re-running a scan or caching them. For scans
    * whose output is small (a day-2 log range). */
  private def perRepo[R: ClassTag, T: Encoder: ClassTag](spark: SparkSession,
      repos: Seq[R], onDriver: Boolean = false)(scan: R => Seq[T]): Dataset[T] = {
    val n = math.max(repos.size, 1)
    val sc = spark.sparkContext
    spark.createDataset(
      if (onDriver) sc.parallelize(repos.map(scan), n).flatMap(identity)
      else sc.parallelize(repos, n).flatMap(scan))
      .coalesce(n)
  }

  // ---- S1: git-log scan → raw text DataFrame ------------------------------
  /** One row per repo: (repo_name, branch, raw log text). Runs the
    * subprocess on the executor that owns the repo's partition. */
  def rawLogs(spark: SparkSession, repos: Seq[RepoInfo]): DataFrame =
    rawLogsOf(spark, repos.map(r => r -> r.branch))

  /** [[rawLogs]] of one revision range per repo (`<tip>` for the whole
    * history, `<from>..<tip>` for the commits since `from`), read on the
    * driver when `onDriver` (see [[perRepo]]). A `git log` that fails
    * reads as no rows, as a branch with no commits does, unless `strict`:
    * then it fails the scan, so a failed read of a range known to name
    * commits cannot pass for an empty one. */
  private[git] def rawLogsOf(spark: SparkSession, revs: Seq[(RepoInfo, String)],
      onDriver: Boolean = false, strict: Boolean = false): DataFrame = {
    import spark.implicits._
    perRepo(spark, revs, onDriver) { case (r, rev) =>
      val raw = run(r.path, "git", "log", rev, s"--pretty=format:$logFormat", "--numstat")
      if (strict && raw.isEmpty)
        throw new IllegalStateException(s"git log $rev failed in ${r.path}")
      raw.map(raw => (r.name, r.branch, raw)).toSeq
    }.toDF("repo_name", "branch", "raw")
  }

  // ---- S2: git-tags scan (src/git-parser.ts:277-300) ----------------------
  def rawTags(spark: SparkSession, repos: Seq[RepoInfo]): DataFrame = {
    import spark.implicits._
    perRepo(spark, repos)(r => tagRefs(r.path).map(raw => (r.name, raw)).toSeq)
      .toDF("repo_name", "raw")
  }

  /** One repo's `for-each-ref refs/tags` output, as [[rawTags]] reads
    * it; None when the read fails. */
  private[git] def tagRefs(repoPath: String): Option[String] =
    run(repoPath, "git", "for-each-ref", "refs/tags", s"--format=$tagFormat")

  /** [[rawTags]] of outputs already read: (repo name, raw) pairs. */
  private[git] def rawTagsOf(spark: SparkSession, read: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    perRepo(spark, read)(Seq(_)).toDF("repo_name", "raw")
  }

  // ---- S4: file-list scan (src/git-parser.ts:214-222) ---------------------
  def lsFiles(spark: SparkSession, repos: Seq[RepoInfo]): DataFrame = {
    import spark.implicits._
    perRepo(spark, repos) { r =>
      run(r.path, "git", "ls-files").toSeq
        .flatMap(_.split("\n")).filter(_.nonEmpty)
        .map(f => (r.name, f))
    }.toDF("repo_name", "file_path")
  }

  // ---- S7: repo-discovery scan (main.ts:154-215) --------------------------
  private val skipDirs =
    Set("node_modules", "venv", ".venv", "dist", "build", "target")

  /** Recursive walk, depth ≤ 3, stop descending at the first `.git`, skip
    * hidden dirs and the reference's skip-list; permission errors ignored. */
  def discoverRepos(root: String, maxDepth: Int = 3): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    def walk(dir: Path, depth: Int): Unit = {
      if (depth > maxDepth) return
      if (Files.isDirectory(dir.resolve(".git"))) { out += dir.toString; return }
      val children = Try(Files.list(dir).iterator.asScala.toList).getOrElse(Nil)
      children.filter(Files.isDirectory(_)).foreach { c =>
        val name = c.getFileName.toString
        if (!name.startsWith(".") && !skipDirs.contains(name)) walk(c, depth + 1)
      }
    }
    walk(Paths.get(root), 0)
    out.toSeq
  }

  // ---- J1 + J4: ignore-filter and dedup of the repo list (main.ts:277-296)
  def applyIgnore(paths: Seq[String], ignore: Seq[String]): Seq[String] = {
    val norm = (s: String) => s.replaceAll("/+$", "")
    val ignored = ignore.map(norm).toSet
    paths.map(norm).distinct.filterNot(ignored.contains)
  }
}
