package graft.git

import java.nio.file.{Files, Paths}
import scala.sys.process._

import graft.SparkSpec
import org.scalatest.BeforeAndAfterAll

/** Golden end-to-end test (SURVEY §5 #4): build a deterministic real git repo
  * and run the full extraction pipeline over it. */
class GitCliSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Paths.get("target", "tmp", "golden").toAbsolutePath
  private val repo = root.resolve("goldenrepo")

  private def git(args: String*): Unit = {
    val env = Seq(
      "GIT_AUTHOR_DATE" -> "1700000000 +0000",
      "GIT_COMMITTER_DATE" -> "1700000000 +0000",
      "GIT_AUTHOR_NAME" -> "Alice", "GIT_AUTHOR_EMAIL" -> "alice@example.com",
      "GIT_COMMITTER_NAME" -> "Alice", "GIT_COMMITTER_EMAIL" -> "alice@example.com")
    val p = Process(Seq("git") ++ args, repo.toFile, env: _*)
    assert(p.! == 0, s"git ${args.mkString(" ")} failed")
  }

  private def write(rel: String, content: String): Unit = {
    val p = repo.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (Files.exists(root))
      Process(Seq("rm", "-rf", root.toString)).!
    Files.createDirectories(repo)
    git("init", "-q", "-b", "main")
    git("config", "user.email", "alice@example.com")
    git("config", "user.name", "Alice")
    write("src/a.scala", "object A\nval x = 1\n")
    write("b.py", "print('hi')\n")
    git("add", ".")
    git("commit", "-q", "-m", "initial commit")
    write("src/a.scala", "object A\nval x = 2\nval y = 3\n")
    write("src/d.scala", "object D\n")
    git("add", ".")
    git("commit", "-q", "-m", "edit a.scala, add d.scala")
    // rename inside a common prefix so numstat emits the braced
    // `src/{a.scala => c.scala}` form the P4 rewrite targets
    git("mv", "src/a.scala", "src/c.scala")
    git("commit", "-q", "-m", "rename a to c")
    git("tag", "v-light")
    git("tag", "-a", "v-ann", "-m", "annotated tag message")
  }

  test("S3 branch probe + S5 author gate") {
    assert(GitCli.currentBranch(repo.toString).contains("main"))
    assert(GitCli.hasCommitsByAuthor(repo.toString, "Alice"))
    assert(!GitCli.hasCommitsByAuthor(repo.toString, "Nobody"))
  }

  test("S7 discovery finds the repo and stops at .git") {
    val found = GitCli.discoverRepos(root.toString)
    assert(found == Seq(repo.toString))
  }

  test("E1 end-to-end: commits, file_changes, authors, tags, repos") {
    val r = Pipeline.build(spark, Seq(repo.toString))
    val commits = r.commits.collect()
    assert(commits.length == 3)
    assert(commits.forall(_.getAs[String]("repo_name") == "goldenrepo"))
    assert(commits.forall(!_.getAs[Boolean]("is_merge")))

    val fc = r.fileChanges.collect()
    // initial: src/a.scala + b.py; edit: src/a.scala + src/d.scala; rename: 1
    assert(fc.length == 5)
    assert(fc.exists(x => x.getAs[String]("file_path") == "src/c.scala"))
    assert(!fc.exists(_.getAs[String]("file_path").contains("=>")))

    val authors = r.authors.collect()
    assert(authors.length == 1)
    assert(authors(0).getAs[Long]("total_commits") == 3L)

    val tags = r.tags.orderBy(org.apache.spark.sql.functions.col("tag_name")).collect()
    assert(tags.length == 2)
    assert(tags(0).getAs[String]("tag_name") == "v-ann")
    assert(tags(0).getAs[Boolean]("is_annotated"))
    assert(tags(0).getAs[String]("message") == "annotated tag message")
    assert(!tags(1).getAs[Boolean]("is_annotated"))

    val repos = r.repos.collect()
    assert(repos.length == 1)
    assert(repos(0).getAs[String]("language") == "Scala") // 2 .scala vs 1 .py
    assert(repos(0).getAs[Long]("total_commits") == 3L)
  }

  test("a second build in one session re-extracts: a commit added in " +
    "between is seen") {
    val fresh = root.resolve("freshrepo")
    def gitIn(args: String*): Unit = {
      val env = Seq("GIT_AUTHOR_DATE" -> "1700000000 +0000",
        "GIT_COMMITTER_DATE" -> "1700000000 +0000",
        "GIT_AUTHOR_NAME" -> "Alice", "GIT_AUTHOR_EMAIL" -> "alice@example.com",
        "GIT_COMMITTER_NAME" -> "Alice", "GIT_COMMITTER_EMAIL" -> "alice@example.com")
      assert(Process(Seq("git") ++ args, fresh.toFile, env: _*).! == 0)
    }
    def commit(file: String): Unit = {
      Files.writeString(fresh.resolve(file), s"$file\n")
      gitIn("add", ".")
      gitIn("commit", "-q", "-m", s"add $file")
    }
    Files.createDirectories(fresh)
    gitIn("init", "-q", "-b", "main")
    commit("one.py")
    // The first result stays cached while the second build runs: a plan
    // match against it would serve the stale extraction.
    val first = Pipeline.build(spark, Seq(fresh.toString))
    assert(first.commits.count() == 1)
    commit("two.py")
    val second = Pipeline.build(spark, Seq(fresh.toString))
    assert(second.commits.count() == 2)
    Seq(first, second).foreach(_.release())
  }
}
