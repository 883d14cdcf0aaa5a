package graft.git

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** U6 cross-table atomicity: the root store manifest is the ONE commit
  * point for an [[Pipeline.etlAppend]] run across all five tables
  * (transactions.ts:43-56 — one transaction per repo covers all five
  * loads). Driven through the `etlAppendStaged` step seam: a hook that
  * throws is a process kill at that instant; a hook that reads is a
  * concurrent snapshot reader — the same step-serialized interleave
  * discipline GenStoreSpec applies to the generation store.
  */
class StoreManifestSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = Paths.get("target", "tmp",
    s"storemanifest-${java.util.UUID.randomUUID().toString.take(8)}").toAbsolutePath
  private val repoA = root.resolve("repoA")

  private def git(cwd: java.nio.file.Path, epoch: Long, args: String*): Unit = {
    val env = Seq(
      "GIT_AUTHOR_DATE" -> s"$epoch +0000", "GIT_COMMITTER_DATE" -> s"$epoch +0000",
      "GIT_AUTHOR_NAME" -> "Alice", "GIT_AUTHOR_EMAIL" -> "alice@example.com",
      "GIT_COMMITTER_NAME" -> "Alice", "GIT_COMMITTER_EMAIL" -> "alice@example.com")
    assert(Process(Seq("git") ++ args, cwd.toFile, env: _*).! == 0)
  }

  private def addCommit(file: String, epoch: Long): Unit = {
    Files.writeString(repoA.resolve(file), s"content of $file\n")
    git(repoA, epoch, "add", ".")
    git(repoA, epoch, "commit", "-q", "-m", s"add $file")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (Files.exists(root)) Process(Seq("rm", "-rf", root.toString)).!
    Files.createDirectories(repoA)
    git(repoA, 1700000000L, "init", "-q", "-b", "main")
    addCommit("a.py", 1700000000L)
    git(repoA, 1700000000L, "tag", "-a", "v1", "-m", "first")
  }

  private val tables = Seq("commits", "authors", "file_changes", "tags", "repos")

  /** One comparable fingerprint per table via the store-level reader. */
  private def observe(out: String): Map[String, Seq[String]] =
    tables.map(t => t ->
      Pipeline.readSnapshot(spark, out, t).collect().map(_.toString).sorted.toSeq).toMap

  private def names(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  /** The entries of the store's one root manifest (root-relative paths). */
  private def named(out: String): Set[String] = {
    val ms = names(Paths.get(out)).filter(_.startsWith("_store-manifest-"))
    assert(ms.size == 1, s"expected exactly one root manifest, found $ms")
    Files.readAllLines(Paths.get(out, ms.head)).asScala.filter(_.nonEmpty).toSet
  }

  /** Every data file under a table dir (root-relative), and the names of
    * any `_manifest-*` files under it. */
  private def onDisk(out: String, table: String): (Set[String], Seq[String]) = {
    val s = Files.walk(Paths.get(out, table))
    val files = try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    val names = files.map(_.getFileName.toString)
    (files.zip(names).collect { case (p, n) if n.endsWith(".parquet") &&
      !n.startsWith(".") => Paths.get(out).relativize(p).toString }.toSet,
      names.filter(_.startsWith("_manifest-")))
  }

  /** A killed run's files exist under `table` but the manifest doesn't name them. */
  private def assertUnnamed(out: String, table: String): Unit =
    assert((onDisk(out, table)._1 -- named(out)).nonEmpty,
      s"the killed run left no files under $table")

  /** At rest: no per-table manifest, one root manifest, and it names
    * exactly the data files under the five table dirs. */
  private def assertAtRest(out: String): Unit = {
    val disk = tables.map(onDisk(out, _))
    assert(disk.flatMap(_._2).isEmpty, s"per-table manifests: ${disk.flatMap(_._2)}")
    assert(disk.flatMap(_._1).toSet == named(out))
  }

  test("kill between commits and file_changes publish leaves the previous " +
    "generation visible cross-table; rerun converges") {
    val out = root.resolve("out_kill").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val old = observe(out)
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == 1)

    addCommit("b.py", 1700000100L)
    // Run 2 dies right after the commits publish — before file_changes.
    val boom = intercept[RuntimeException] {
      Pipeline.etlAppendStaged(spark, Seq(repoA.toString), out, None, {
        case "after:commits" => throw new RuntimeException("kill")
        case _ => ()
      })
    }
    assert(boom.getMessage == "kill")

    // The commits publish DID move its files in (the crash landed
    // mid-sequence, not before it), but the manifest does not name them…
    assertUnnamed(out, "commits")
    // …so the store snapshot still resolves every table at the previous
    // generation: no commits-without-their-file_changes state is visible.
    assert(observe(out) == old)

    // Recovery is a rerun: keyed upserts converge and the store flips.
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val now = observe(out)
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == 2)
    assert(Pipeline.readSnapshot(spark, out, "file_changes").count() == 2)
    // Authors re-add per run (database.ts:109-117): 1 + 2 (crashed run's
    // authors publish never happened — its generation was never committed
    // to the store, and the rerun's merge baseline is the last COMMITTED
    // authors table) … the crashed run died before authors published, so
    // exactly two runs' counts are in: 1 (run 1) + 2 (rerun) = 3.
    val alice = Pipeline.readSnapshot(spark, out, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
    assert(alice.getAs[Long]("total_commits") == 3)
    assert(now("commits") != old("commits"))
  }

  test("interleaved reader sees exactly the old or the new store " +
    "generation, never a cross-table mix") {
    val out = root.resolve("out_interleave").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val old = observe(out)

    addCommit("c.py", 1700000200L)
    git(repoA, 1700000200L, "tag", "-a", "v2", "-m", "second")

    val seen = scala.collection.mutable.ListBuffer[(String, Map[String, Seq[String]])]()
    Pipeline.etlAppendStaged(spark, Seq(repoA.toString), out, None,
      step => seen += step -> observe(out))
    val now = observe(out)
    assert(now != old)

    assert(seen.map(_._1).toSeq == Seq("after:commits",
      "after:authors", "after:file_changes", "after:tags", "after:repos",
      "before:flip", "after:flip"))
    seen.foreach { case (step, obs) =>
      val expected = if (step == "after:flip") now else old
      assert(obs == expected,
        s"reader at '$step' saw a state that is neither all-old nor all-new " +
          s"(or the wrong side of the flip)")
    }
  }

  test("kill AFTER the authors publish (non-idempotent additive merge): " +
    "the rerun's entry rollback discards the aborted counts — no double-count") {
    val out = root.resolve("out_kill_authors").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val old = observe(out)
    val run1Commits = Pipeline.readSnapshot(spark, out, "commits").count()

    addCommit("d.py", 1700000300L)
    val nCommits = run1Commits + 1
    // Run 2 dies right after the AUTHORS publish: its moved-in authors
    // files carry run1 + aborted-run2 counts (mergeAuthors ADDS), but the
    // store manifest never flipped. A rerun that baselined on those files
    // would double-count the aborted run — the reference's single SQLite
    // transaction (transactions.ts:43-56) rolls that increment back.
    val boom = intercept[RuntimeException] {
      Pipeline.etlAppendStaged(spark, Seq(repoA.toString), out, None, {
        case "after:authors" => throw new RuntimeException("kill")
        case _ => ()
      })
    }
    assert(boom.getMessage == "kill")
    // The aborted authors merge DID move its files in (the crash landed
    // after the authors publish) — the hazard is real, not vacuous…
    assertUnnamed(out, "authors")
    // …but the manifest does not name them: the snapshot is still all-old.
    assert(observe(out) == old)

    // Rerun: it merges against the committed manifest and deletes the
    // aborted authors files as junk, so exactly two committed runs' counts are in —
    // run1 (run1Commits) + rerun (nCommits), NOT + the aborted run too.
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val alice = Pipeline.readSnapshot(spark, out, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    assert(alice == run1Commits + nCommits,
      s"expected ${run1Commits + nCommits} (committed runs only), got " +
        s"$alice — the aborted run's additive merge leaked into the rerun")
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == nCommits)
  }

  test("two concurrent writers: the second is rejected at lease acquire " +
    "before touching state; one winner, no mixed generation; retry converges") {
    val out = root.resolve("out_race").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val old = observe(out)
    val run1Commits = Pipeline.readSnapshot(spark, out, "commits").count()

    addCommit("e.py", 1700000400L)
    val nCommits = run1Commits + 1
    // Writer A runs on its own thread and parks mid-publish (after the
    // commits table, before authors) — the maximally dangerous instant
    // for a second writer: A's moved-in files are not yet named by the
    // manifest, so a concurrent writer's junk cleanup would delete them
    // out from under A's coming flip.
    val parked = new java.util.concurrent.SynchronousQueue[String]()
    val release = new java.util.concurrent.SynchronousQueue[String]()
    @volatile var aFailed: Throwable = null
    val a = new Thread(() => {
      try Pipeline.etlAppendStaged(spark, Seq(repoA.toString), out, None, {
        case "after:commits" => parked.put("parked"); release.take(); ()
        case _ => ()
      }) catch { case t: Throwable => aFailed = t }
    }, "writer-A")
    a.start()
    assert(parked.take() == "parked")

    // Writer B: rejected AT ACQUIRE — a loud IllegalStateException naming
    // the holder, before B has staged, rolled back, or merged anything.
    val ex = intercept[IllegalStateException] {
      Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    }
    assert(ex.getMessage.contains("held by"))
    // A full etl is a writer too: it would delete the root manifest and
    // overwrite the table dirs A is about to commit.
    val exFull = intercept[IllegalStateException] {
      Pipeline.etl(spark, Seq(repoA.toString), out)
    }
    assert(exFull.getMessage.contains("held by"))
    // B's rejections changed nothing: the store still resolves all-old
    // (A hasn't flipped) and A's in-flight files are untouched.
    assert(observe(out) == old)

    release.put("go")
    a.join(180000)
    assert(!a.isAlive, "writer A did not finish")
    assert(aFailed == null, s"writer A failed: $aFailed")
    // Exactly one winner: A's generation is live and cross-table
    // consistent (commits and file_changes agree on the new commit).
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == nCommits)
    assert(Pipeline.readSnapshot(spark, out, "file_changes").count() == nCommits)

    // The loser's RETRY (the documented recovery: rerun after the winner)
    // converges on top of A's generation — authors gain exactly one more
    // run's worth, nothing double-counts, commits stay keyed-deduped.
    val aliceAfterA = Pipeline.readSnapshot(spark, out, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val aliceAfterB = Pipeline.readSnapshot(spark, out, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    assert(aliceAfterB == aliceAfterA + nCommits)
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == nCommits)
  }

  test("lease takeover mid-run: the stalled writer is refused AT THE FLIP " +
    "(ownership re-check) — no mixed generation commits; rerun converges") {
    val out = root.resolve("out_takeover").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    val old = observe(out)
    val run1Commits = Pipeline.readSnapshot(spark, out, "commits").count()

    addCommit("f.py", 1700000500L)
    val nCommits = run1Commits + 1
    val fs = graft.ops.GenStore.fsOf(spark, out)
    val leasePath = new org.apache.hadoop.fs.Path(out,
      graft.ops.GenStore.LeaseName)
    // Simulate a TTL takeover landing while this run is mid-publish: a
    // thief replaces the lease just before the flip. The flip's ownership
    // re-check must refuse BEFORE the store-manifest rename — all five
    // tables' files are moved in but the cross-table generation must NOT
    // flip over the takeover.
    val boom = intercept[IllegalStateException] {
      Pipeline.etlAppendStaged(spark, Seq(repoA.toString), out, None, {
        case "before:flip" =>
          val outs = fs.create(leasePath, true)
          try outs.write(
            s"thief\n${System.currentTimeMillis()}".getBytes("UTF-8"))
          finally outs.close()
        case _ => ()
      })
    }
    assert(boom.getMessage.contains("thief"))
    // Nothing flipped: the store still resolves all-old, every table.
    assert(observe(out) == old)

    // The thief "releases" (crash/TTL-expiry equivalent for the test);
    // the stalled writer's RERUN deletes its own aborted files as junk
    // and converges — authors count exactly the committed runs.
    fs.delete(leasePath, false)
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    assert(Pipeline.readSnapshot(spark, out, "commits").count() == nCommits)
    val alice = Pipeline.readSnapshot(spark, out, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
      .getAs[Long]("total_commits")
    assert(alice == run1Commits + nCommits,
      s"expected ${run1Commits + nCommits}, got $alice — the refused run's " +
        "publishes leaked into the rerun's merge")
  }

  test("a kill at every pre-flip step leaves the committed snapshot; one " +
    "rerun equals an uninterrupted run") {
    val repo = root.resolve("repoK")
    def commitK(file: String, epoch: Long): Unit = {
      Files.writeString(repo.resolve(file), s"content of $file\n")
      git(repo, epoch, "add", ".")
      git(repo, epoch, "commit", "-q", "-m", s"add $file")
    }
    Files.createDirectories(repo)
    git(repo, 1700001000L, "init", "-q", "-b", "main")
    commitK("k1.py", 1700001000L)
    val steps = Seq("after:commits", "after:authors", "after:file_changes",
      "after:tags", "after:repos", "before:flip")
    val ref = root.resolve("out_every_ref").toString
    val outs = steps.map(st => st -> root.resolve(
      s"out_every_${st.replace(':', '_')}").toString)
    (ref +: outs.map(_._2)).foreach(Pipeline.etlAppend(spark, Seq(repo.toString), _))
    val old = observe(ref)

    commitK("k2.py", 1700001100L)
    Pipeline.etlAppend(spark, Seq(repo.toString), ref)
    val want = observe(ref)
    assert(want != old)
    // Authors count exactly the committed runs: 1 (run 1) + 2 (run 2).
    val alice = Pipeline.readSnapshot(spark, ref, "authors")
      .filter(col("email") === "alice@example.com").collect()(0)
    assert(alice.getAs[Long]("total_commits") == 3)

    outs.foreach { case (st, out) =>
      val boom = intercept[RuntimeException] {
        Pipeline.etlAppendStaged(spark, Seq(repo.toString), out, None,
          s => if (s == st) throw new RuntimeException("kill"))
      }
      assert(boom.getMessage == "kill")
      assert(observe(out) == old, s"kill at '$st': the uncommitted run is visible")
      Pipeline.etlAppend(spark, Seq(repo.toString), out)
      assert(observe(out) == want, s"kill at '$st': the rerun differs from " +
        "an uninterrupted run")
      assertAtRest(out)
    }
  }

  test("a failing merge fails the run only after every merge finished: no " +
    "merge thread survives, nothing commits; the rerun converges") {
    val repo = root.resolve("repoC")
    def commitC(file: String, epoch: Long): Unit = {
      Files.writeString(repo.resolve(file), s"content of $file\n")
      git(repo, epoch, "add", ".")
      git(repo, epoch, "commit", "-q", "-m", s"add $file")
    }
    Files.createDirectories(repo)
    git(repo, 1700002000L, "init", "-q", "-b", "main")
    commitC("c1.py", 1700002000L)
    git(repo, 1700002000L, "tag", "-a", "c-v1", "-m", "first")
    val out = root.resolve("out_contain").toString
    val ref = root.resolve("out_contain_ref").toString
    Seq(out, ref).foreach(Pipeline.etlAppend(spark, Seq(repo.toString), _))
    val old = observe(out)
    val manifest = names(Paths.get(out)).filter(_.startsWith("_store-manifest-"))
    val manifestText = Files.readAllLines(Paths.get(out, manifest.head))

    commitC("c2.py", 1700002100L)
    // A new tag, so the tags merge has work too (unchanged refs skip it).
    git(repo, 1700002100L, "tag", "c-v2")
    // One committed authors file turns to garbage: the authors merge fails,
    // the other four merges run to completion and move their files in.
    val victim = Paths.get(out, named(out).find(_.startsWith("authors/")).get)
    val kept = Files.readAllBytes(victim)
    Files.write(victim, "not parquet".getBytes("UTF-8"))
    intercept[Exception] {
      Pipeline.etlAppend(spark, Seq(repo.toString), out)
    }
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith(Pipeline.MergeThreadPrefix) && t.isAlive)
    assert(alive.isEmpty, s"merge threads outlived the run: $alive")
    tables.filter(_ != "authors").foreach(assertUnnamed(out, _))
    assert(names(Paths.get(out)).filter(_.startsWith("_store-manifest-")) == manifest)
    assert(Files.readAllLines(Paths.get(out, manifest.head)) == manifestText)
    tables.filter(_ != "authors").foreach { t =>
      assert(Pipeline.readSnapshot(spark, out, t).collect().map(_.toString)
        .sorted.toSeq == old(t), s"$t changed by the failed run")
    }

    Files.write(victim, kept)
    Pipeline.etlAppend(spark, Seq(repo.toString), out)
    Pipeline.etlAppend(spark, Seq(repo.toString), ref)
    assert(observe(out) == observe(ref), "the rerun differs from an " +
      "uninterrupted run")
    assertAtRest(out)
  }

  test("compaction reaps junk in every partition dir, including dirs the " +
    "manifest does not name") {
    val out = root.resolve("out_ghost").toString
    Pipeline.etlAppend(spark, Seq(repoA.toString), out)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq
    val snap = rows(Pipeline.readSnapshot(spark, out, "commits"))
    // A publish that died before its commit, having moved a valid data file
    // (the table's own schema) into a partition dir no manifest names.
    val src = root.resolve("ghost_src").toString
    Pipeline.readSnapshot(spark, out, "commits").drop("repo_name").coalesce(1)
      .write.parquet(src)
    val part = names(Paths.get(src)).find(n => n.endsWith(".parquet") &&
      !n.startsWith(".")).get
    val ghostDir = Paths.get(out, "commits", "repo_name=ghost")
    Files.createDirectories(ghostDir)
    val ghost = Files.move(Paths.get(src, part), ghostDir.resolve(part))
    assert(rows(spark.read.parquet(s"$out/commits")) != snap,
      "the planted file should be visible to a raw directory read")

    Pipeline.compact(spark, out, "commits")
    assert(!Files.exists(ghost), "compaction left the unnamed file")
    assert(rows(spark.read.parquet(s"$out/commits")) ==
      rows(Pipeline.readSnapshot(spark, out, "commits")))
    assert(rows(Pipeline.readSnapshot(spark, out, "commits")) == snap)
    assertAtRest(out)
  }
}
