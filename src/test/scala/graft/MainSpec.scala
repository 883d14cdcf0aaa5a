package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import org.scalatest.BeforeAndAfterAll

/** E2 end-to-end through the CLI surface: config JSON → discovery → ignore
  * filter → full ETL → parquet tables on disk. */
class MainSpec extends SparkSpec with BeforeAndAfterAll {

  // Unique per JVM: two concurrent sbt invocations (e.g. a full `sbt test`
  // alongside a targeted `testOnly`) must not share the store fixtures —
  // one's staged-dir cleanup would delete the other's in-flight write.
  private val root = Paths.get("target", "tmp",
    s"mainfix-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath
  private val repoA = root.resolve("scan/repoA")
  private val repoB = root.resolve("scan/repoB")

  private def git(cwd: java.nio.file.Path, args: String*): Unit = {
    val env = Seq(
      "GIT_AUTHOR_DATE" -> "1700000000 +0000", "GIT_COMMITTER_DATE" -> "1700000000 +0000",
      "GIT_AUTHOR_NAME" -> "Alice", "GIT_AUTHOR_EMAIL" -> "alice@example.com",
      "GIT_COMMITTER_NAME" -> "Alice", "GIT_COMMITTER_EMAIL" -> "alice@example.com")
    assert(Process(Seq("git") ++ args, cwd.toFile, env: _*).! == 0)
  }

  private def mkRepo(p: java.nio.file.Path, file: String): Unit = {
    Files.createDirectories(p)
    git(p, "init", "-q", "-b", "main")
    Files.writeString(p.resolve(file), "content\n")
    git(p, "add", ".")
    git(p, "commit", "-q", "-m", s"add $file")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (Files.exists(root)) Process(Seq("rm", "-rf", root.toString)).!
    mkRepo(repoA, "a.py")
    mkRepo(repoB, "b.scala")
  }

  test("config load + discovery + ignore + ETL writes all five tables") {
    val cfg = root.resolve("repos.json")
    Files.writeString(cfg,
      s"""{"paths": ["${root.resolve("scan")}"], "ignore": ["$repoB/"]}""")
    val repos = Main.resolveRepos(Main.loadConfig(cfg.toString))
    assert(repos == Seq(repoA.toString)) // repoB ignored (trailing slash normalized)

    val out = root.resolve("out").toString
    Main.run(spark, repos, out, authorGate = None)
    Seq("commits", "authors", "file_changes", "tags", "repos", "rejects").foreach { t =>
      val df = spark.read.parquet(s"$out/$t")
      assert(df.columns.nonEmpty, t)
    }
    assert(spark.read.parquet(s"$out/commits").count() == 1)
    assert(spark.read.parquet(s"$out/rejects").count() == 0) // all valid
    assert(spark.read.parquet(s"$out/repos").collect()(0).getAs[String]("name") == "repoA")
  }

  test("cross-run incremental upsert: run 2 overwrites keyed rows, authors accumulate (U1/U2)") {
    val inc = root.resolve("out_inc").toString
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    assert(spark.read.parquet(s"$inc/commits").count() == 1)
    val alice1 = spark.read.parquet(s"$inc/authors")
      .filter(col("email") === "alice@example.com").collect()(0)
    assert(alice1.getAs[Long]("total_commits") == 1)

    // second run: the history is now 2 commits, Alice's plus a new one by
    // Bob (the run reads only Bob's; the increment it adds to authors still
    // counts both)
    val env = Seq(
      "GIT_AUTHOR_DATE" -> "1700000100 +0000", "GIT_COMMITTER_DATE" -> "1700000100 +0000",
      "GIT_AUTHOR_NAME" -> "Bob", "GIT_AUTHOR_EMAIL" -> "bob@example.com",
      "GIT_COMMITTER_NAME" -> "Bob", "GIT_COMMITTER_EMAIL" -> "bob@example.com")
    Files.writeString(repoA.resolve("c.py"), "more\n")
    assert(Process(Seq("git", "add", "."), repoA.toFile, env: _*).! == 0)
    assert(Process(Seq("git", "commit", "-q", "-m", "add c.py"), repoA.toFile, env: _*).! == 0)
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)

    // commits: same sha upserted (not duplicated), new sha inserted
    assert(spark.read.parquet(s"$inc/commits").count() == 2)
    // authors: reference semantics — every run re-adds its counts
    // (database.ts:109-117), so Alice = 1 (run1) + 1 (run2) = 2, Bob = 1
    val byEmail = spark.read.parquet(s"$inc/authors")
      .collect().map(r => r.getAs[String]("email") -> r.getAs[Long]("total_commits")).toMap
    assert(byEmail == Map("alice@example.com" -> 2L, "bob@example.com" -> 1L))
    // file_changes INSERT OR IGNORE: 1 per (sha, path) — 2 total
    assert(spark.read.parquet(s"$inc/file_changes").count() == 2)
    // repos ON CONFLICT DO UPDATE: still one row, total_commits refreshed
    val repo = spark.read.parquet(s"$inc/repos").collect()(0)
    assert(repo.getAs[Long]("total_commits") == 2)
  }

  test("JDBC sink option writes and re-reads all tables (S8 variant)") {
    val db = root.resolve("derby_out").toString
    val url = s"jdbc:derby:$db;create=true"
    _root_.graft.git.Pipeline.etlJdbc(spark, Seq(repoA.toString), url)
    val commits = spark.read.jdbc(url, "commits", new java.util.Properties())
    assert(commits.count() == 2) // both repoA commits from the prior test
    assert(spark.read.jdbc(url, "authors", new java.util.Properties())
      .columns.contains("total_commits"))
  }

  test("partitioned incremental publish: re-running repo A leaves repo B untouched") {
    val inc = root.resolve("out_part").toString
    // Run 1: both repos → every table gains one partition dir per repo.
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString, repoB.toString), inc)
    assert(Files.isDirectory(Paths.get(inc, "commits", "repo_name=repoA")))
    assert(Files.isDirectory(Paths.get(inc, "commits", "repo_name=repoB")))

    // Snapshot repo B's physical files (path, size, mtime) in the
    // repo-partitioned tables.
    def listing(table: String, part: String): Seq[(String, Long, Long)] = {
      val d = Paths.get(inc, table, part)
      Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toSeq.sortBy(_._1)
    }
    val before = Seq("commits", "file_changes").map(t => listing(t, "repo_name=repoB")) :+
      listing("repos", "name=repoB")

    // Run 2: only repo A. Repo B's partitions must not be read, rewritten,
    // or re-listed — their files stay byte-for-byte (and mtime) identical.
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    val after = Seq("commits", "file_changes").map(t => listing(t, "repo_name=repoB")) :+
      listing("repos", "name=repoB")
    assert(after === before, "repo B partition files changed on a repo-A-only run")

    // Content equals a fresh one-shot build of the current repo states
    // (authors excepted: reference semantics re-add counts every run).
    val full = root.resolve("out_part_full").toString
    _root_.graft.git.Pipeline.etlAppend(
      spark, Seq(repoA.toString, repoB.toString), full)
    for (t <- Seq("commits", "file_changes", "tags", "repos")) {
      val got = spark.read.parquet(s"$inc/$t")
      val want = spark.read.parquet(s"$full/$t")
      assert(got.columns.sorted === want.columns.sorted, t)
      val cols = got.columns.sorted.map(col)
      assert(got.select(cols: _*).collect().map(_.toString).sorted ===
        want.select(cols: _*).collect().map(_.toString).sorted, t)
    }
    // No leftover staging/retired junk anywhere.
    assert(!Files.list(Paths.get(inc)).toArray.map(_.toString)
      .exists(n => n.contains("__staged") || n.contains("retired")))
  }

  test("flat-layout store migrates without losing untouched repos") {
    // Simulate a store written by the pre-partitioned etlAppend: both
    // repos' commits as flat root-level parquet.
    val inc = root.resolve("out_migrate").toString
    val both = _root_.graft.git.Pipeline.build(
      spark, Seq(repoA.toString, repoB.toString))
    both.commits.write.mode("overwrite").parquet(s"$inc/commits")
    both.release()
    val before = spark.read.parquet(s"$inc/commits").count()

    // A repo-A-only incremental run must carry repo B's rows into the
    // partitioned layout, not drop them with the flat files.
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    assert(Files.isDirectory(Paths.get(inc, "commits", "repo_name=repoB")))
    val commits = spark.read.parquet(s"$inc/commits")
    assert(commits.count() == before)
    assert(commits.filter(col("repo_name") === "repoB").count() == 1)
  }

  test("crashed partition swap is rolled back on the next run") {
    // Self-sufficient store (no dependence on other tests' outputs).
    val inc = root.resolve("out_crash").toString
    _root_.graft.git.Pipeline.etlAppend(
      spark, Seq(repoA.toString, repoB.toString), inc)
    val commitsDir = Paths.get(inc, "commits")
    val live = commitsDir.resolve("repo_name=repoB")
    // Simulate a crash between retire and promote: the partition dir was
    // renamed aside and the promote never happened.
    val retired = commitsDir.resolve(
      s".retired-${java.util.UUID.randomUUID()}--repo_name=repoB")
    Files.move(live, retired)
    assert(!Files.exists(live))
    // The next run (repo A only) recovers repo B's partition first.
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    assert(Files.isDirectory(live), "retired partition was not rolled back")
    assert(spark.read.parquet(s"$inc/commits")
      .filter(col("repo_name") === "repoB").count() == 1)
  }

  test("compaction coalesces partition files without changing content") {
    val inc = root.resolve("out_compact").toString
    _root_.graft.git.Pipeline.etlAppend(
      spark, Seq(repoA.toString, repoB.toString), inc)
    val partDir = Paths.get(inc, "commits", "repo_name=repoA")
    def ls(dir: java.nio.file.Path): Seq[String] = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSeq
      finally s.close()
    }
    def dataFiles() = ls(partDir).filter(_.endsWith(".parquet")).sorted
    // Plant extra small files (as accumulated incremental runs would) by
    // splitting the partition into many files (via the driver — Spark
    // refuses to overwrite a path it is reading).
    val src = spark.read.parquet(partDir.toString)
    val (rows, schema) = (src.collect().toSeq, src.schema)
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
      .repartition(4).write.mode("overwrite").parquet(partDir.toString)
    assert(dataFiles().size > 1)
    // The out-of-band rewrite bypassed the manifest — drop the manifests so
    // the store presents as a pre-manifest layout and compact() must
    // synthesize its baseline from the directory listing.
    ls(Paths.get(inc)).filter(_.startsWith("_store-manifest-"))
      .foreach(n => Files.delete(Paths.get(inc, n)))
    val before = spark.read.parquet(s"$inc/commits")
      .collect().map(_.toString).sorted

    _root_.graft.git.Pipeline.compact(spark, inc, "commits")
    assert(dataFiles().size == 1, s"expected 1 file, got ${dataFiles()}")
    val after = spark.read.parquet(s"$inc/commits")
      .collect().map(_.toString).sorted
    assert(after === before)
    // No staging/retired leftovers.
    assert(!ls(Paths.get(inc, "commits"))
      .exists(n => n.contains("compact-staged") || n.contains("retired")))
    // Idempotence: a second compact must not rewrite anything.
    val mtime = Files.getLastModifiedTime(
      partDir.resolve(dataFiles().head)).toMillis
    _root_.graft.git.Pipeline.compact(spark, inc, "commits")
    assert(Files.getLastModifiedTime(
      partDir.resolve(dataFiles().head)).toMillis == mtime,
      "second compact rewrote an already-compact partition")
  }

  test("manifest snapshot isolation: committed snapshot survives mid-publish junk") {
    val inc = root.resolve("out_manifest").toString
    val P = _root_.graft.git.Pipeline
    P.etlAppend(spark, Seq(repoA.toString, repoB.toString), inc)
    val commitsDir = Paths.get(inc, "commits")
    def snap() = P.readSnapshot(spark, inc, "commits")
      .collect().map(_.toString).sorted.toSeq
    val before = snap()
    assert(before.nonEmpty)
    // At rest the raw directory read and the manifest snapshot agree
    // exactly (the replaced generation is dropped at commit time).
    assert(spark.read.parquet(s"$inc/commits")
      .collect().map(_.toString).sorted.toSeq === before)
    // Simulate a publish that crashed after moving its files in but BEFORE
    // its manifest commit: an alien data file appears in a live partition
    // dir. A manifest reader must not even open it (it isn't parquet).
    val alien = commitsDir.resolve("repo_name=repoA")
      .resolve(s"part-${java.util.UUID.randomUUID()}-junk.snappy.parquet")
    Files.write(alien, Array[Byte](1, 2, 3))
    assert(snap() === before, "mid-publish junk leaked into the snapshot")
    // The next publish deletes everything the committed manifest doesn't
    // reference, then publishes normally (same repo ⇒ same rows after the
    // keyed upsert).
    P.etlAppend(spark, Seq(repoA.toString), inc)
    assert(!Files.exists(alien), "crashed-publish junk survived recovery")
    assert(snap() === before)
    // Exactly one manifest is retained after the commit.
    val manifests = {
      val s = Files.list(Paths.get(inc))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .count(_.startsWith("_store-manifest-"))
      finally s.close()
    }
    assert(manifests == 1, s"expected 1 manifest, found $manifests")
  }

  test("--append CLI mode: successive runs accumulate into the manifest store") {
    val out = root.resolve("out_cli_append").toString
    _root_.graft.Main.runAppend(spark, Seq(repoA.toString), out, None)
    _root_.graft.Main.runAppend(spark, Seq(repoB.toString), out, None)
    val commits = _root_.graft.git.Pipeline.readSnapshot(spark, out, "commits")
    assert(commits.select("repo_name").distinct().count() == 2,
      "second --append run did not accumulate")
  }

  test("manifest protocol: orphan tmp and stale manifests are recovered") {
    val inc = root.resolve("out_manifest2").toString
    val P = _root_.graft.git.Pipeline
    P.etlAppend(spark, Seq(repoA.toString, repoB.toString), inc) // seq 1 (0: baseline)
    P.etlAppend(spark, Seq(repoA.toString), inc) // seq 2
    val storeDir = Paths.get(inc)
    def ls() = {
      val s = Files.list(storeDir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSeq
      finally s.close()
    }
    def snap() = P.readSnapshot(spark, inc, "commits")
      .collect().map(_.toString).sorted.toSeq
    val before = snap()
    // Crash mid-manifest-write: an orphan dot-tmp (never committed).
    Files.write(storeDir.resolve(".store-manifest-tmp-deadbeef"),
      "commits/garbage/not-a-file.parquet\n".getBytes("UTF-8"))
    // Crash between commit and prune: a STALE lower-seq manifest lingers
    // (content even references a missing file — readers must never open it).
    Files.write(storeDir.resolve("_store-manifest-000000000"),
      "commits/repo_name=repoA/long-gone.parquet\n".getBytes("UTF-8"))
    assert(snap() === before, "reader did not resolve the highest manifest")
    P.etlAppend(spark, Seq(repoA.toString), inc) // recovers + commits seq 3
    val names = ls()
    assert(!names.exists(_.startsWith(".store-manifest-tmp-")), "orphan tmp survived")
    assert(names.count(_.startsWith("_store-manifest-")) == 1,
      s"stale manifests survived: ${names.filter(_.startsWith("_store-manifest-"))}")
    assert(snap() === before)
  }

  test("crashed compaction swap is rolled back and re-compacted") {
    // Self-sufficient store (no dependence on other tests' outputs).
    val inc = root.resolve("out_crash3").toString
    _root_.graft.git.Pipeline.etlAppend(
      spark, Seq(repoA.toString, repoB.toString), inc)
    val commitsDir = Paths.get(inc, "commits")
    val live = commitsDir.resolve("repo_name=repoB")
    val before = spark.read.parquet(s"$inc/commits")
      .filter(col("repo_name") === "repoB").count()
    // Crash between compact's retire and promote: the live partition was
    // renamed aside, the compacted staging is half-written.
    Files.move(live, commitsDir.resolve(
      s".retired-${java.util.UUID.randomUUID()}--repo_name=repoB"))
    Files.createDirectories(commitsDir.resolve(".compact-staged-repo_name=repoB"))
    _root_.graft.git.Pipeline.compact(spark, inc, "commits")
    assert(Files.isDirectory(live), "retired partition was not rolled back")
    assert(spark.read.parquet(s"$inc/commits")
      .filter(col("repo_name") === "repoB").count() == before)
    // Staging junk is gone.
    val leftovers = {
      val s = Files.list(commitsDir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSeq
      finally s.close()
    }
    assert(!leftovers.exists(n => n.contains("compact-staged") || n.contains("retired")))
  }

  test("crashed whole-table swap (authors) is rolled back on the next run") {
    val inc = root.resolve("out_crash2").toString
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    val alice = spark.read.parquet(s"$inc/authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    // Simulate a crash between retire and promote: authors renamed aside,
    // staged never promoted.
    val f = Paths.get(inc)
    Files.move(f.resolve("authors"),
      f.resolve(s".authors.__retired-${java.util.UUID.randomUUID()}"))
    assert(!Files.exists(f.resolve("authors")))
    // The next run must restore the cumulative table BEFORE merging —
    // otherwise the accumulated counts silently reset to one run's worth.
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(repoA.toString), inc)
    val after = spark.read.parquet(s"$inc/authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    assert(after == alice * 2,
      s"expected cumulative $alice*2 (reference re-add semantics), got $after")
  }

  test("bucketed-layout sink: fact join runs with zero shuffle exchanges") {
    val prefix = "graft_git_test"
    val tables = Seq("commits", "file_changes", "authors", "tags", "repos")
      .map(t => s"${prefix}_$t")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val wh = Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    tables.foreach { t =>
      val p = wh.resolve(t)
      if (Files.exists(p)) Process(Seq("rm", "-rf", p.toString)).!
    }
    _root_.graft.git.Pipeline.etlBucketed(
      spark, Seq(repoA.toString, repoB.toString), prefix)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val c = spark.table(s"${prefix}_commits")
      val f = spark.table(s"${prefix}_file_changes")
      val joined = f.join(c, Seq("repo_name", "sha"))
      assert(joined.count() == f.count())
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("author gate skips repos without matching commits (S5)") {
    val out2 = root.resolve("out2").toString
    intercept[IllegalArgumentException] {
      Main.run(spark, Nil, out2, None)
    }
    // gate that matches nothing → Pipeline sees zero repos post-filter
    val r = _root_.graft.git.Pipeline.build(spark, Seq(repoA.toString), Some("NobodySuchAuthor"))
    assert(r.commits.count() == 0)
  }

  test("a repo with no commits reports zero counts and no date range, " +
    "through run and runAppend") {
    val empty = root.resolve("empty/repoEmpty")
    Files.createDirectories(empty)
    git(empty, "init", "-q", "-b", "main")
    val want = Seq("Summary", "  Commits:        0", "  Additions:      0",
      "  Deletions:      0", "  Files changed:  0", "  Merge commits:  0",
      "  Unique authors: 0").mkString("", "\n", "\n")
    Seq[(String, (SparkSession, Seq[String], String, Option[String]) => Unit)](
      "out_empty_run" -> Main.run, "out_empty_append" -> Main.runAppend).foreach {
      case (out, main) =>
        val printed = new java.io.ByteArrayOutputStream()
        Console.withOut(printed)(main(spark, Seq(empty.toString), root.resolve(out).toString, None))
        assert(printed.toString("UTF-8") == want, out)
    }
  }

  /** The root manifest's entries of the store at `out`. */
  private def manifestEntries(out: String): Seq[String] = {
    val s = Files.list(Paths.get(out))
    val m = try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("_store-manifest-")).toSeq
    finally s.close()
    assert(m.size == 1, s"expected one root manifest, found $m")
    Files.readAllLines(m.head).asScala.filter(_.nonEmpty).toSeq
  }

  test("rejects hold exactly the run's invalid commits; a clean run empties them") {
    val bad = root.resolve("rejects/repoBad")
    mkRepo(bad, "ok.py")
    // A commit whose author e-mail Validate rejects.
    Files.writeString(bad.resolve("bad.py"), "content\n")
    val env = Seq("GIT_AUTHOR_DATE" -> "1700000100 +0000",
      "GIT_COMMITTER_DATE" -> "1700000100 +0000",
      "GIT_AUTHOR_NAME" -> "Mallory", "GIT_AUTHOR_EMAIL" -> "not-an-email",
      "GIT_COMMITTER_NAME" -> "Mallory", "GIT_COMMITTER_EMAIL" -> "not-an-email")
    assert(Process(Seq("git", "add", "."), bad.toFile, env: _*).! == 0)
    assert(Process(Seq("git", "commit", "-q", "-m", "bad"), bad.toFile, env: _*).! == 0)
    val badSha = Process(Seq("git", "rev-parse", "HEAD"), bad.toFile).!!.trim
    val clean = root.resolve("rejects/repoClean")
    mkRepo(clean, "c.py")

    val out = root.resolve("out_rejects").toString
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(bad.toString), out)
    assert(spark.read.parquet(s"$out/rejects").collect()
      .map(_.getAs[String]("sha")).toSeq == Seq(badSha))
    _root_.graft.git.Pipeline.etlAppend(spark, Seq(clean.toString), out)
    assert(spark.read.parquet(s"$out/rejects").count() == 0)
  }

  test("an append of repo A keeps every file of repo B's partitions and " +
    "repo A's unchanged tags") {
    val P = _root_.graft.git.Pipeline
    val a = root.resolve("touched/repoTA")
    val b = root.resolve("touched/repoTB")
    Seq(a -> "a.py", b -> "b.py").foreach { case (p, f) =>
      mkRepo(p, f)
      git(p, "tag", "-a", "v1", "-m", "first")
    }
    val out = root.resolve("out_touched").toString
    P.etlAppend(spark, Seq(a.toString, b.toString), out)
    val partsOfB = Seq("commits/repo_name=repoTB/", "file_changes/repo_name=repoTB/",
      "tags/repo_name=repoTB/", "repos/name=repoTB/")
    def entriesOfB() = manifestEntries(out).filter(e => partsOfB.exists(e.startsWith))
    val before = entriesOfB()
    assert(partsOfB.forall(p => before.exists(_.startsWith(p))), before)
    def tagsOfA() = P.readSnapshot(spark, out, "tags")
      .filter(col("repo_name") === "repoTA").collect().map(_.toString).sorted.toSeq
    val tagsBefore = tagsOfA()
    assert(tagsBefore.size == 1)

    // A new commit on A, no new tag.
    Files.writeString(a.resolve("a2.py"), "more\n")
    git(a, "add", ".")
    git(a, "commit", "-q", "-m", "add a2.py")
    P.etlAppend(spark, Seq(a.toString), out)
    assert(entriesOfB() == before, "repo B's manifest entries changed")
    assert(tagsOfA() == tagsBefore)
    assert(P.readSnapshot(spark, out, "commits")
      .filter(col("repo_name") === "repoTA").count() == 2)
  }

  test("full etl over an appended store replaces it; a following --append " +
    "merges into the result") {
    val P = _root_.graft.git.Pipeline
    val out = root.resolve("out_etl_over_append").toString
    val full = root.resolve("out_etl_over_append_full").toString
    val both = Seq(repoA.toString, repoB.toString)
    Main.runAppend(spark, Seq(repoA.toString), out, None)
    Main.run(spark, both, out, None)
    Main.run(spark, both, full, None)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    val tables = Seq("commits", "authors", "file_changes", "tags", "repos")
    tables.foreach { t =>
      assert(rows(P.readSnapshot(spark, out, t)) ==
        rows(spark.read.parquet(s"$full/$t")), s"$t after the full run")
    }

    // The next --append baselines the full run's output and merges into it:
    // keyed tables are unchanged (same history), authors add repo A's run.
    Main.runAppend(spark, Seq(repoA.toString), out, None)
    tables.filter(_ != "authors").foreach { t =>
      assert(rows(P.readSnapshot(spark, out, t)) ==
        rows(spark.read.parquet(s"$full/$t")), s"$t after the append")
    }
    def totals(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getAs[String]("email") -> r.getAs[Long]("total_commits")).toMap
    val before = totals(spark.read.parquet(s"$full/authors"))
    val runA = spark.read.parquet(s"$full/commits").filter(col("repo_name") === "repoA")
      .groupBy("author_email").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(runA.nonEmpty)
    assert(totals(P.readSnapshot(spark, out, "authors")) ==
      before.map { case (e, n) => e -> (n + runA.getOrElse(e, 0L)) })
  }
}
