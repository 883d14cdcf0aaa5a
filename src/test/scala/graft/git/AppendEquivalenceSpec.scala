package graft.git

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.{Main, SparkSpec}

/** A day-2 append (`Main.runAppend`) against a model that knows nothing
  * of heads, stats or bounded extraction: a fold, over the runs, of the
  * reference's merge functions applied to a full [[Pipeline.build]] of
  * each run's repo state. After every append all five tables of the
  * committed snapshot must equal the model on every column, order
  * aside, and the report the append printed must equal a scan report of
  * the committed `commits` table byte for byte. Which extraction path a
  * repo took shows in its commits partition: a bounded append keeps the
  * stored files and adds to them, a full merge replaces them all. */
class AppendEquivalenceSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Paths.get("target", "tmp",
    s"appendeq-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath

  override def beforeAll(): Unit = {
    super.beforeAll()
    Files.createDirectories(root)
  }

  override def afterAll(): Unit = {
    Process(Seq("rm", "-rf", root.toString)).!
    super.afterAll()
  }

  private var clock = 1700000000L

  /** A git repo whose commits get strictly increasing dates. */
  private final class Repo(name: String) {
    val dir: Path = root.resolve(name)
    Files.createDirectories(dir)
    git("init", "-q", "-b", "main")

    def git(args: String*): String = git(("Alice", "alice@example.com"), args: _*)

    def git(who: (String, String), args: String*): String = {
      clock += 60
      val env = Seq("GIT_AUTHOR_DATE" -> s"$clock +0000", "GIT_COMMITTER_DATE" -> s"$clock +0000",
        "GIT_AUTHOR_NAME" -> who._1, "GIT_AUTHOR_EMAIL" -> who._2,
        "GIT_COMMITTER_NAME" -> who._1, "GIT_COMMITTER_EMAIL" -> who._2)
      Process(Seq("git") ++ args, dir.toFile, env: _*).!!
    }

    def write(rel: String, content: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }

    /** Writes `files` and commits them (and any staged change) as `who`. */
    def commit(msg: String, who: (String, String) = ("Alice", "alice@example.com"))(
        files: (String, String)*): String = {
      files.foreach { case (f, c) => write(f, c) }
      git("add", "-A")
      git(who, "commit", "-q", "--allow-empty", "-m", msg)
      head
    }

    def head: String = git("rev-parse", "HEAD").trim
    def path: String = dir.toString
  }

  private val bob = ("Bob", "bob@example.com")
  private val mallory = ("Mallory", "not-an-email")

  /** The model: the reference's merge functions folded over full builds. */
  private final class Model {
    private var tables = Map.empty[String, DataFrame]
    private val merges = Map[String, (DataFrame, DataFrame) => DataFrame](
      "commits" -> (GitAgg.upsertLatest(_, _, Seq("repo_name", "sha"))),
      "authors" -> GitAgg.mergeAuthors,
      "file_changes" -> (GitAgg.upsertKeepFirst(_, _, Seq("repo_name", "sha", "file_path"))),
      "tags" -> (GitAgg.upsertLatest(_, _, Seq("repo_name", "tag_name"))),
      "repos" -> (GitAgg.upsertLatest(_, _, Seq("name"))))

    def run(paths: Seq[String]): Unit = {
      val b = Pipeline.build(spark, paths)
      val in = Map("commits" -> b.commits, "authors" -> b.authors,
        "file_changes" -> b.fileChanges, "tags" -> b.tags, "repos" -> b.repos)
      tables = in.map { case (t, df) =>
        val next = tables.get(t).fold(df)(merges(t)(_, df))
        t -> spark.createDataFrame(next.collect().toSeq.asJava, next.schema)
      }
      b.release()
    }

    def apply(t: String): DataFrame = tables(t)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** The committed entries of the store at `out` under `prefix`. */
  private def entries(out: String, prefix: String): Set[String] =
    if (!Files.exists(Paths.get(out))) Set.empty
    else {
      val s = Files.list(Paths.get(out))
      val m = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("_store-manifest-"))
        .toList finally s.close()
      Files.readAllLines(m.head).asScala.filter(_.startsWith(prefix)).toSet
    }

  /** The committed files of `repo`'s commits partition. */
  private def commitFiles(out: String, repo: String): Set[String] =
    entries(out, s"commits/repo_name=${escapePathName(repo)}/")

  /** Every file under `dir`, relative, with its content. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
      Paths.get(dir).relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  /** One `Main.runAppend` of `repos` into `out`, the model advanced to the
    * same repo states, and every check of the class doc. Returns, per
    * repo, whether its stored commits files were kept (the bounded path). */
  private def append(out: String, model: Model, repos: Repo*): Map[String, Boolean] =
    appendWith(out, model, repos)(run => run)

  /** [[append]] with its `Main.runAppend` call run through `around`. */
  private def appendWith(out: String, model: Model, repos: Seq[Repo])(
      around: (=> Unit) => Unit): Map[String, Boolean] = {
    val paths = repos.map(_.path)
    val names = repos.map(_.dir.getFileName.toString)
    val before = names.map(n => n -> commitFiles(out, n)).toMap
    val printed = new java.io.ByteArrayOutputStream()
    around(Console.withOut(printed)(Main.runAppend(spark, paths, out, None)))
    model.run(paths)
    Pipeline.StoreTables.foreach { t =>
      val got = Pipeline.readSnapshot(spark, out, t)
      assert(got.columns.sorted.toSeq == model(t).columns.sorted.toSeq, t)
      assert(rows(got) == rows(model(t)), s"$t differs from the model")
    }
    val scan = Pipeline.summaryReport(Pipeline.readSnapshot(spark, out, "commits"))
    assert(printed.toString("UTF-8") == scan + "\n")
    Pipeline.headerReport(spark, out).foreach(h => assert(h == scan))
    names.map(n => n -> (before(n).nonEmpty && before(n).subsetOf(commitFiles(out, n)))).toMap
  }

  test("linear appends over merges, renames, binaries, both tag kinds and " +
    "rejects take the bounded path and equal the model") {
    val r = new Repo("linear")
    val out = root.resolve("out_linear").toString
    val model = new Model
    r.commit("first")("src/a.py" -> "a\n", "docs/read me.md" -> "hello\n")
    r.git("tag", "-a", "v1", "-m", "first release")
    assert(append(out, model, r) == Map("linear" -> false))

    // A rename, a binary file, a reject and a lightweight tag.
    r.git("mv", "src/a.py", "src/b.py")
    r.commit("rename")("src/b.py" -> "a\nb\n")
    Files.write(r.dir.resolve("logo.bin"), Array[Byte](0, 1, 2, 0, 3))
    r.commit("binary", bob)()
    r.commit("bad author", mallory)("src/m.py" -> "m\n")
    r.git("tag", "v2-light")
    assert(append(out, model, r) == Map("linear" -> true))
    assert(Pipeline.readSnapshot(spark, out, "rejects").count() == 1)

    // A merge commit from a side branch, then a clean append: the rejects
    // hold only what the run extracted.
    r.git("checkout", "-q", "-b", "side")
    r.commit("side work", bob)("lib/s.go" -> "package s\n")
    r.git("checkout", "-q", "main")
    r.commit("main work")("src/c.rs" -> "fn main() {}\n")
    r.git("merge", "-q", "--no-ff", "side", "-m", "merge side")
    r.git("tag", "-a", "v3", "-m", "third")
    assert(append(out, model, r) == Map("linear" -> true))
    assert(Pipeline.readSnapshot(spark, out, "rejects").count() == 0)
    assert(Pipeline.headerReport(spark, out).nonEmpty, "the header does not cover the store")
  }

  test("an append with no new commits and a new tag writes no commit files") {
    val r = new Repo("notag")
    val out = root.resolve("out_notag").toString
    val model = new Model
    r.commit("first")("a.py" -> "a\n")
    append(out, model, r)
    val before = commitFiles(out, "notag")
    r.git("tag", "-a", "v9", "-m", "late tag")
    assert(append(out, model, r) == Map("notag" -> true))
    assert(commitFiles(out, "notag") == before)
    assert(Pipeline.readSnapshot(spark, out, "tags").count() == 1)
  }

  test("a force-push falls back to the full path until the store is exact again") {
    val r = new Repo("forced")
    val out = root.resolve("out_forced").toString
    val model = new Model
    val c1 = r.commit("one")("a.py" -> "1\n")
    r.commit("two")("a.py" -> "2\n")
    r.commit("three", bob)("b.py" -> "3\n")
    append(out, model, r)
    r.git("reset", "-q", "--hard", c1)
    r.commit("two again")("a.py" -> "2b\n")
    assert(append(out, model, r) == Map("forced" -> false))
    // The old commits are still stored, so the head is not exact.
    r.commit("four")("c.py" -> "4\n")
    assert(append(out, model, r) == Map("forced" -> false))
  }

  test("a branch switch falls back and the branch column follows") {
    val r = new Repo("switch")
    val out = root.resolve("out_switch").toString
    val model = new Model
    r.commit("one")("a.py" -> "1\n")
    append(out, model, r)
    r.git("checkout", "-q", "-b", "feature")
    r.commit("feature work")("f.py" -> "f\n")
    assert(append(out, model, r) == Map("switch" -> false))
    assert(Pipeline.readSnapshot(spark, out, "commits").select("branch").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("feature"))
    r.commit("more feature work")("g.py" -> "g\n")
    assert(append(out, model, r) == Map("switch" -> true))
  }

  test("a rewrite, then a merge that brings the old commits back, appends " +
    "no duplicate key") {
    val r = new Repo("rewrite")
    val out = root.resolve("out_rewrite").toString
    val model = new Model
    val c1 = r.commit("one")("a.py" -> "1\n")
    r.commit("two")("x.py" -> "2\n")
    val c3 = r.commit("three")("b.py" -> "3\n")
    append(out, model, r)
    r.git("reset", "-q", "--hard", c1)
    r.commit("two rewritten")("y.py" -> "2r\n")
    assert(append(out, model, r) == Map("rewrite" -> false))
    // The store now holds commits unreachable from its head; the merge
    // makes them reachable again, so `<head>..<tip>` would list them anew.
    r.git("merge", "-q", "--no-ff", c3, "-m", "bring three back")
    assert(append(out, model, r) == Map("rewrite" -> false))
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == 5)
    r.commit("five")("e.py" -> "5\n")
    assert(append(out, model, r) == Map("rewrite" -> true))
  }

  test("a two-repo run with one bounded and one full repo") {
    val x = new Repo("twoX")
    val y = new Repo("twoY")
    val out = root.resolve("out_two").toString
    val model = new Model
    x.commit("x one")("x.py" -> "1\n")
    y.commit("y one", bob)("y.py" -> "1\n")
    append(out, model, x)
    x.commit("x two", bob)("x2.py" -> "2\n")
    y.commit("y two")("y2.py" -> "2\n")
    assert(append(out, model, x, y) == Map("twoX" -> true, "twoY" -> false))
    x.commit("x three")("x3.py" -> "3\n")
    y.commit("y three")("y3.py" -> "3\n")
    assert(append(out, model, x, y) == Map("twoX" -> true, "twoY" -> true))
  }

  test("a manifest with no header takes the full path and a scan report") {
    val r = new Repo("headerless")
    val out = root.resolve("out_headerless").toString
    val model = new Model
    r.commit("one")("a.py" -> "1\n")
    append(out, model, r)
    val s = Files.list(Paths.get(out))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("_store-header-"))
      .foreach(Files.delete) finally s.close()
    assert(Pipeline.headerReport(spark, out).isEmpty)
    r.commit("two")("b.py" -> "2\n")
    assert(append(out, model, r) == Map("headerless" -> false))
    r.commit("three")("c.py" -> "3\n")
    assert(append(out, model, r) == Map("headerless" -> true))
  }

  test("a partition is folded into one file once it passes the fold bound") {
    val r = new Repo("folded")
    val out = root.resolve("out_folded").toString
    val model = new Model
    r.commit("one")("a.py" -> "1\n")
    append(out, model, r)
    val counts = (2 to 10).map { i =>
      r.commit(s"commit $i")(s"f$i.py" -> s"$i\n")
      append(out, model, r)
      commitFiles(out, "folded").size
    }
    assert(counts.max <= 8, counts)
    assert(counts.contains(1), s"never folded: $counts")
  }

  test("an append with unchanged refs keeps the tags entries; a moved, a deleted " +
    "or a re-messaged tag merges") {
    val r = new Repo("tagdigest")
    val out = root.resolve("out_tagdigest").toString
    val model = new Model
    val c1 = r.commit("one")("a.py" -> "1\n")
    r.git("tag", "-a", "v1", "-m", "first release")
    r.commit("two")("b.py" -> "2\n")
    r.git("tag", "v2-light")
    append(out, model, r)
    val tagsDir = Paths.get(out, "tags").toString
    /** Appends, then tells whether the run merged the tags partition. */
    def merged(): Boolean = {
      val (before, files) = (entries(out, "tags/"), tree(tagsDir))
      append(out, model, r)
      val kept = entries(out, "tags/") == before
      if (kept) assert(tree(tagsDir) == files, "an unmerged run wrote tags files")
      !kept
    }
    // New commits, then none, with the same refs.
    r.commit("three", bob)("c.py" -> "3\n")
    assert(!merged())
    assert(!merged())
    r.git("tag", "-f", "v2-light", r.head)
    assert(merged(), "a moved tag")
    assert(!merged())
    r.git("tag", "-d", "v2-light")
    assert(merged(), "a deleted tag")
    r.git("tag", "-f", "-a", "v1", "-m", "first release, edited", c1)
    assert(merged(), "an edited annotated-tag message")
    assert(Pipeline.readSnapshot(spark, out, "tags").filter(col("tag_name") === "v1")
      .select("message").collect().map(_.getString(0)).toSeq == Seq("first release, edited"))
    assert(!merged())
  }

  test("two paths with one name record no tags digest and always merge their tags") {
    val x = new Repo("dupX/dup")
    val y = new Repo("dupY/dup")
    val out = root.resolve("out_dup").toString
    val model = new Model
    x.commit("x one")("x.py" -> "1\n")
    x.git("tag", "vx")
    y.commit("y one", bob)("y.py" -> "1\n")
    y.git("tag", "vy")
    append(out, model, x, y)
    val header = {
      val s = Files.list(Paths.get(out))
      val h = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("_store-header-"))
        .toList.max finally s.close()
      Files.readAllLines(h).asScala
    }
    assert(!header.exists(_.startsWith("tags ")), header)
    val before = entries(out, "tags/")
    append(out, model, x, y)
    assert(entries(out, "tags/") != before)
  }

  test("a repo dir name with a space and an `=` reads back from the header") {
    val r = new Repo("two words=x")
    val out = root.resolve("out_spaced").toString
    val model = new Model
    r.commit("one")("a.py" -> "1\n")
    r.git("tag", "v1")
    append(out, model, r)
    r.commit("two")("b.py" -> "2\n")
    assert(append(out, model, r) == Map("two words=x" -> true))
  }

  test("a bounded git log that fails fails the append and leaves the store as it was") {
    val r = new Repo("lostblob")
    val out = root.resolve("out_lostblob").toString
    val model = new Model
    r.commit("one")("a.py" -> "1\n")
    append(out, model, r)
    r.commit("two")("b.py" -> "two\n")
    // The new commit's blob goes missing: its tip still resolves and
    // descends from the stored head, but `git log --numstat` fails.
    val blob = r.git("rev-parse", "HEAD:b.py").trim
    val loose = r.dir.resolve(".git").resolve("objects").resolve(blob.take(2)).resolve(blob.drop(2))
    Files.delete(loose)
    val before = tree(out)
    intercept[IllegalStateException](Main.runAppend(spark, Seq(r.path), out, None))
    assert(tree(out) == before, "a failed append changed the store")
    r.git("hash-object", "-w", "b.py")
    assert(append(out, model, r) == Map("lostblob" -> true))
  }

  /** Drops every class in Spark's JVM-wide generated-class cache
    * (`CodeGenerator.cache` is private), so a compile count that follows
    * is what the code generates, whatever the cache held before. */
  private def dropGeneratedClasses(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    val c = cache.invoke(gen)
    c.getClass.getMethod("invalidateAll").invoke(c)
  }

  test("a bounded append generates at most 2 classes and leaves the caller's " +
    "codegen conf as it was") {
    val r = new Repo("interpreted")
    val out = root.resolve("out_interpreted").toString
    val model = new Model
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val conf = keys.map(spark.conf.getOption)
    r.commit("one")("a.py" -> "1\n")
    r.git("tag", "v1")
    append(out, model, r)
    r.commit("two")("b.py" -> "2\n")
    assert(append(out, model, r) == Map("interpreted" -> true), "warm-up")
    r.commit("three", bob)("c.py" -> "3\n", "b.py" -> "2\n2\n")
    r.git("tag", "v2")
    dropGeneratedClasses()
    def compiled(): Long = {
      var compiles = -1L
      assert(appendWith(out, model, Seq(r)) { run =>
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        run
        compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      } == Map("interpreted" -> true))
      compiles
    }
    val first = compiled()
    assert(first <= 2, s"$first classes compiled")
    // The interpreted clone is reused, and with it its class loader.
    r.commit("four")("d.py" -> "4\n")
    val next = compiled()
    assert(next == 0, s"$next classes compiled by the next bounded append")
    assert(keys.map(spark.conf.getOption) == conf)
  }
}
