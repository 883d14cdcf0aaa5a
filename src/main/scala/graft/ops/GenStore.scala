package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The shared generation-pointer protocol behind the maintained index
  * stores (IVF `_ivfgen-`, band index `_bandgen-`): generations live in
  * `gen=<seq>/` dirs and the highest `<prefix><seq>` pointer file names
  * the live one; a store with no pointer is its own generation 0 at the
  * root. Promotion is ONE atomic pointer rename; readers resolve the
  * pointer first, so staging, crashes mid-publish, and the promote
  * itself are invisible to them. The git store's root manifest
  * (`graft.git.Pipeline`) commits through the same [[commit]] sequence
  * under the same [[withLease]] lease.
  *
  * Writer contract: maintenance (retrain/compaction) and appends are
  * SINGLE-WRITER — the daily loop runs them in sequence (q99/q234's
  * foreachBatch does exactly that). The contract is ENFORCED by the
  * [[withLease]] writer lease (create-fail-if-exists `_maintenance
  * .lease` with epoch-TTL takeover of crashed holders): a second
  * maintenance run fails loudly at acquire, before preClean can touch
  * shared state; the promote-time `require` remains as a backstop. An
  * append racing a maintenance run is still the caller's bug, not a
  * protocol state this store can repair.
  *
  * Crash windows, all reclaimed by [[preClean]] on the NEXT maintenance
  * run: a death before the pointer rename leaves a `.{tmp}` pointer file
  * and an unreferenced `gen=<seq>` dir; a death between the rename and
  * the superseded-generation delete leaves the replaced generation's
  * data (root artifacts or the prior gen dir) behind. */
private[graft] object GenStore {

  def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The highest committed `<prefix><seq>` file under `base`, with its seq. */
  def latest(fs: FileSystem, base: Path, prefix: String): Option[(Long, Path)] =
    if (!fs.exists(base)) None
    else fs.listStatus(base).map(_.getPath).filter(_.getName.startsWith(prefix))
      .map(p => p.getName.stripPrefix(prefix).toLong -> p).maxByOption(_._1)

  /** Highest committed pointer seq, 0 when the root layout is live. */
  def currentSeq(fs: FileSystem, base: Path, prefix: String): Long =
    latest(fs, base, prefix).fold(0L)(_._1)

  /** Dot-tmp staging prefix of a pointer prefix (`_ivfgen-` → `.ivfgen-tmp-`). */
  private def tmpPrefix(prefix: String): String =
    "." + prefix.stripPrefix("_").stripSuffix("-") + "-tmp-"

  /** The live generation's root dir (the index root for generation 0). */
  def currentRoot(spark: SparkSession, indexDir: String, prefix: String): String = {
    val base = new Path(indexDir)
    val seq = currentSeq(fsOf(spark, indexDir), base, prefix)
    if (seq == 0L) indexDir else s"$indexDir/gen=$seq"
  }

  /** Reclaim everything a crashed maintenance run can leave: stale
    * dot-tmp pointer files, `gen=` dirs the committed pointer doesn't
    * reference, and — once a pointer exists — the superseded root-layout
    * artifacts. Run at the START of every maintenance pass. */
  def preClean(fs: FileSystem, base: Path, prefix: String, curSeq: Long,
      rootArtifacts: Seq[String]): Unit = {
    if (!fs.exists(base)) return
    fs.listStatus(base).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(tmpPrefix(prefix)) || n.startsWith(".lease-takeover-") ||
        n.startsWith(".lease-release-"))
        fs.delete(p, false)
      else if (n.startsWith("gen=") &&
        n.stripPrefix("gen=").toLongOption.exists(_ != curSeq))
        fs.delete(p, true)
    }
    if (curSeq > 0L)
      rootArtifacts.foreach(a => fs.delete(new Path(base, a), true))
  }

  /** Maintenance writer-lease file, living next to the pointer files. */
  val LeaseName = "_maintenance.lease"

  private def readLease(fs: FileSystem, lease: Path): (String, Long) =
    try {
      val in = fs.open(lease)
      val txt = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toString("UTF-8")
      } finally in.close()
      val lines = txt.split("\n", 2)
      (lines(0), lines(1).trim.toLong)
    } catch {
      // Unreadable/partial lease (holder died mid-write, or it vanished
      // between the failed create and this read): treat as abandoned.
      case _: Throwable => ("<unreadable>", 0L)
    }

  /** Effective lease epoch: the LATER of the epoch recorded in the file
    * content (written once at create) and the file's modification time
    * (re-stamped by every heartbeat via `setTimes` — an atomic metadata
    * update, so renewal NEVER rewrites the file content and a concurrent
    * reader can never observe a truncated lease). A file that cannot be
    * statted contributes only the content epoch; a file that cannot be
    * READ but can be statted still reads as live through its mtime —
    * which also closes the create-then-write window at acquire (an empty
    * just-created lease has mtime ≈ now, so it is never mistaken for a
    * stale one). */
  private def leaseEpoch(fs: FileSystem, lease: Path, contentEpoch: Long): Long =
    try math.max(contentEpoch, fs.getFileStatus(lease).getModificationTime)
    catch { case _: Throwable => contentEpoch }

  /** Acquire the maintenance writer lease, making the single-writer
    * contract ENFORCED rather than documented: the realistic day-2
    * failure is two cron maintenance runs overlapping, which without a
    * lease can interleave preClean/stage/promote and delete each other's
    * staged generation before the promote-time `require` ever fires.
    *
    * Acquisition is `create(overwrite = false)` — atomic
    * create-fail-if-exists on HDFS (and object stores with conditional
    * create; on RawLocalFileSystem it is check-then-create, which still
    * catches every non-pathological overlap). A lease whose EFFECTIVE
    * epoch ([[leaseEpoch]]: content epoch ∨ heartbeat-stamped mtime) is
    * older than `ttlMs` belongs to a CRASHED holder (a clean failure
    * releases in its finally; a live long run renews its mtime) and is
    * taken over; a live lease held by someone else fails loudly at
    * acquire — before any state is touched. */
  def acquireLease(fs: FileSystem, base: Path, owner: String,
      ttlMs: Long = 30L * 60 * 1000): Unit = {
    val lease = new Path(base, LeaseName)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(s"$owner\n${System.currentTimeMillis()}".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    val (heldBy, contentEpoch) = readLease(fs, lease)
    val epoch = leaseEpoch(fs, lease, contentEpoch)
    if (System.currentTimeMillis() - epoch <= ttlMs)
      throw new IllegalStateException(
        s"maintenance lease at $lease is held by '$heldBy' — a concurrent " +
          "maintenance run is active; this run refuses to start (single-" +
          "writer contract). Stale leases are taken over after the TTL.")
    // Takeover must be single-winner even when two runs observe the SAME
    // stale lease: claim it by RENAME (atomic on HDFS) to a unique name —
    // the loser's rename fails because the source is gone. A plain
    // delete-then-create would let the second runner delete the first
    // runner's FRESH lease and both would proceed.
    val claimed = new Path(base,
      s".lease-takeover-${java.util.UUID.randomUUID()}")
    val won =
      try fs.rename(lease, claimed)
      catch { case _: java.io.IOException => false }
    if (!won) {
      // Not necessarily a lost takeover: the holder may have simply
      // RELEASED between our failed create and the read (readLease maps
      // absence to epoch 0, which reads as "stale"). One clean create
      // retry settles it — a free lease is acquired, a recreated one
      // reports its live holder.
      if (tryCreate()) return
      val (h2, _) = readLease(fs, lease)
      throw new IllegalStateException(
        s"maintenance lease at $lease: lost the stale-takeover race to " +
          s"'$h2'; this run refuses to start.")
    }
    fs.delete(claimed, false)
    if (!tryCreate())
      throw new IllegalStateException(
        s"maintenance lease at $lease: lost the stale-takeover race to " +
          "another writer; this run refuses to start.")
  }

  /** Release the lease; requires this owner still holds it. The check
    * and the removal are ONE atomic step — the same rename-claim used in
    * takeover: rename the lease to a unique name (atomic on HDFS), THEN
    * inspect what was claimed. If it is this owner's lease, the release
    * is done (drop the claim file). If a TTL takeover landed first, the
    * rename yanked the NEW holder's fresh lease — restore it by renaming
    * back and fail loudly, because this run exceeded the TTL and its
    * writes may have interleaved with the takeover's; the operator must
    * reconcile, not trust both runs' "success". (The previous
    * exists→read→delete shape had a window where exactly that takeover
    * could land between the owner check and the delete, silently
    * deleting the new holder's lease — the multi-writer door the lease
    * exists to close.) */
  def releaseLease(fs: FileSystem, base: Path, owner: String): Unit = {
    val lease = new Path(base, LeaseName)
    val claim = new Path(base,
      s".lease-release-${java.util.UUID.randomUUID()}")
    val renamed =
      try fs.rename(lease, claim)
      catch { case _: java.io.IOException => false }
    if (!renamed)
      throw new IllegalStateException(
        s"maintenance lease at $lease vanished — this run exceeded the " +
          "TTL and was taken over (the takeover already completed); its " +
          "own writes may have interleaved with the takeover's")
    // Mirror checkOwned's transient-IO retry: a single hiccup reading the
    // just-claimed lease must not restore it and abort a run that
    // legitimately holds it (that leaves the store lease-blocked until
    // TTL for no real takeover). The claim is OUR unique rename target,
    // so re-reading it races nothing.
    var (heldBy, _) = readLease(fs, claim)
    if (heldBy == "<unreadable>") {
      Thread.sleep(100)
      heldBy = readLease(fs, claim)._1
    }
    if (heldBy == owner) { fs.delete(claim, false); return }
    // We just claimed someone ELSE's fresh lease (takeover mid-run):
    // put it back before failing. If the restore rename loses (a third
    // writer created yet another lease in the gap), drop the claim —
    // the yanked holder's own release will then fail loudly too.
    val restored =
      try fs.rename(claim, lease)
      catch { case _: java.io.IOException => false }
    if (!restored) fs.delete(claim, false)
    throw new IllegalStateException(
      s"maintenance lease at $lease now held by '$heldBy', not '$owner' — " +
        "lease was taken over mid-run (run exceeded the TTL?); " +
        (if (restored) "the new holder's lease was restored"
         else "the new holder's lease could NOT be restored (a third " +
           "writer raced the restore) — its release will fail loudly"))
  }

  /** Live handle to a held lease: the heartbeat renews through it and
    * [[commit]] re-checks ownership through it immediately before the
    * pointer rename. Constructed by [[withLease]] (or directly by tests
    * that step-serialize the interleave). */
  final class Lease private[ops] (fs: FileSystem, base: Path,
      val owner: String) {
    private val leasePath = new Path(base, LeaseName)
    /** Set once a renew/check observes another holder: the run was taken
      * over (it stalled past the TTL); renewal stops so the takeover is
      * never clobbered, and the eventual release fails loudly. */
    @volatile private[graft] var lostOwnership: Boolean = false

    /** Re-stamp the lease epoch iff still this owner's — called every
      * ttl/3 by the heartbeat so a long-running body never LOOKS crashed
      * to a would-be takeover. The stamp is `setTimes` (mtime), an
      * ATOMIC metadata update: on mutable filesystems (local, HDFS) the
      * lease file's CONTENT is never rewritten, so a concurrent acquire
      * can never read a truncated/empty lease and mistake a live holder
      * for a stale one. Some FileSystem implementations (object stores —
      * Hadoop's base `setTimes` is an empty default) silently no-op the
      * mtime update; the stamp is VERIFIED by re-statting, and where it
      * didn't land the renewal falls back to rewriting the content epoch
      * — safe there because object-store overwrite is atomic
      * whole-object replacement, not a truncate-then-write (readers see
      * the old or the new object, never a prefix). A transient
      * unreadable read skips the beat WITHOUT latching lostOwnership
      * (the next beat retries; the lease only goes stale after ~3
      * consecutive failures × ttl/3) — only a successfully-read
      * DIFFERENT owner means this run was actually taken over. */
    private[graft] def renew(): Unit = synchronized {
      if (lostOwnership) return
      readLease(fs, leasePath) match {
        case (`owner`, _) =>
          try {
            val now = System.currentTimeMillis()
            fs.setTimes(leasePath, now, -1)
            // Allow a minute of store-side timestamp granularity; a
            // beat-old mtime means setTimes was a no-op on this FS.
            val landed =
              try fs.getFileStatus(leasePath).getModificationTime >= now - 60000
              catch { case _: java.io.IOException => true }
            if (!landed) {
              val out = fs.create(leasePath, true)
              try out.write(s"$owner\n$now".getBytes("UTF-8"))
              finally out.close()
            }
          } catch { case _: java.io.IOException => () }
        case ("<unreadable>", _) => () // transient — skip this beat
        case _ => lostOwnership = true
      }
    }

    /** Assert this owner still holds the lease — [[commit]] calls this
      * immediately before the pointer rename, so a takeover-then-
      * interleave is rejected BEFORE the destructive step rather than
      * detected after at release. A transiently unreadable lease is
      * re-read once before failing: the gate must fail SAFE (refuse the
      * rename) on persistent unreadability, but one IO hiccup must not
      * spuriously abort a multi-hour run at its final step. */
    private[graft] def checkOwned(context: String): Unit = synchronized {
      var (heldBy, _) = readLease(fs, leasePath)
      if (heldBy == "<unreadable>") {
        Thread.sleep(100)
        heldBy = readLease(fs, leasePath)._1
      }
      if (heldBy != owner) {
        lostOwnership = true
        throw new IllegalStateException(
          s"$context: maintenance lease now held by '$heldBy', not " +
            s"'$owner' — this run stalled past the TTL and was taken " +
            "over; refusing to promote over the takeover's state")
      }
    }
  }

  /** Heartbeat period as a fraction of the TTL: renew every ttl/3, so
    * the lease goes TTL-stale only after ~3 consecutive missed beats. */
  private def heartbeatIntervalMs(ttlMs: Long): Long = math.max(1L, ttlMs / 3)

  /** Run `body` under the writer lease (acquire → body → release in
    * finally — a thrown body still frees the lease; only a killed JVM
    * leaves it for TTL takeover). While the body runs, a driver-side
    * daemon thread renews the lease epoch every ttl/3, so a maintenance
    * run LONGER than the TTL (big compaction, slow retrain) is never
    * mistaken for a crashed holder — takeover now requires the heartbeat
    * itself to be dead (killed JVM) for a full TTL, which is exactly the
    * abandoned-property case it exists for. The body receives the
    * [[Lease]] handle to thread into [[commit]] for the pre-rename
    * ownership re-check. A release failure (lease taken over mid-run)
    * propagates when the body succeeded, but must not MASK the body's
    * own exception when it didn't. */
  def withLease[T](fs: FileSystem, base: Path, ttlMs: Long = 30L * 60 * 1000)(
      body: Lease => T): T = {
    val owner = java.util.UUID.randomUUID().toString
    acquireLease(fs, base, owner, ttlMs)
    val lease = new Lease(fs, base, owner)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      val interval = heartbeatIntervalMs(ttlMs)
      while (!stop.get()) {
        try Thread.sleep(interval)
        catch { case _: InterruptedException => () }
        // Never let one throwing beat kill the heartbeat thread — a
        // dead heartbeat silently re-opens the slow-run takeover.
        if (!stop.get())
          try lease.renew()
          catch { case _: Throwable => () }
      }
    }, s"graft-lease-heartbeat-$owner")
    hb.setDaemon(true)
    hb.start()
    var failed: Throwable = null
    try body(lease)
    catch { case t: Throwable => failed = t; throw t }
    finally {
      stop.set(true)
      hb.interrupt()
      hb.join(5000)
      // Release under the Lease monitor: if the join timed out because a
      // renew is stalled INSIDE its synchronized block (hung fs call),
      // this waits for it to finish rather than racing it. On the
      // object-store fallback path renew DOES rewrite the lease content,
      // and a stalled rewrite completing after the release would
      // re-materialize the lease and block the next writer for a full
      // TTL; on the common mtime-only path the monitor merely orders a
      // metadata stamp before the release. (A truly hung fs call would
      // hang releaseLease's own fs ops on the same store anyway — the
      // wait adds no new failure mode.) New renews cannot start (stop is
      // set before the join).
      try lease.synchronized { releaseLease(fs, base, owner) }
      catch {
        case t: Throwable =>
          if (failed == null) throw t
          else failed.addSuppressed(t)
      }
    }
  }

  /** The commit point every maintained store shares: stage `content`
    * under a dot-tmp name (junk if orphaned), re-check lease ownership
    * (a run that stalled past the TTL and was taken over is refused
    * BEFORE the destructive step), refuse a destination that already
    * exists (another writer committed this seq; a local-FS rename would
    * overwrite it silently), promote by one atomic rename, then prune the
    * superseded lower-seq files. `name` is `prefix` followed by the seq
    * in the store's own format. */
  def commit(fs: FileSystem, base: Path, prefix: String, name: String,
      content: String, lease: Option[Lease]): Unit = {
    val tmp = new Path(base, s"${tmpPrefix(prefix)}${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(base, name)
    lease.foreach(_.checkOwned(s"commit of $name"))
    require(!fs.exists(dest), s"concurrent publish detected: $dest exists")
    require(fs.rename(tmp, dest), s"commit failed at $dest")
    val seq = name.stripPrefix(prefix).toLong
    fs.listStatus(base).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.stripPrefix(prefix).toLong < seq)
      .foreach(fs.delete(_, false))
  }

  /** Commit `gen=<genSeq>` as the live generation through [[commit]],
    * then drop the replaced generation's data. The caller has fully
    * written `gen=<genSeq>/` beforehand and passes its [[Lease]] (every
    * maintenance path does) for the pre-rename ownership re-check. */
  def promote(fs: FileSystem, base: Path, prefix: String, genSeq: Long,
      curSeq: Long, rootArtifacts: Seq[String],
      lease: Option[Lease] = None): Unit = {
    commit(fs, base, prefix, s"$prefix$genSeq", s"gen=$genSeq", lease)
    if (curSeq == 0L) rootArtifacts.foreach(a => fs.delete(new Path(base, a), true))
    else fs.delete(new Path(base, s"gen=$curSeq"), true)
  }
}
