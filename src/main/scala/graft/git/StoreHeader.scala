package graft.git

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The head of one repo as the store last extracted it: its branch, the
  * tip sha the run read, and whether the repo's `commits` partition holds
  * exactly the valid commits reachable from that tip (`exact`). A
  * day-2 append extracts only `<sha>..<tip>` while the branch is the same,
  * `exact` holds and `sha` is an ancestor of the new tip. */
private[git] final case class RepoHead(branch: String, sha: String, exact: Boolean)

/** Summary stats of one `commits` partition: what [[Pipeline.summaryReport]]
  * and the `repos` row need, so neither has to scan the partition.
  * `minAt`/`maxAt` are `committed_at` in epoch microseconds. */
final case class PartStats(rows: Long, additions: Long, deletions: Long,
    filesChanged: Long, merges: Long, minAt: Long, maxAt: Long) {
  def +(o: PartStats): PartStats = PartStats(rows + o.rows, additions + o.additions,
    deletions + o.deletions, filesChanged + o.filesChanged, merges + o.merges,
    math.min(minAt, o.minAt), math.max(maxAt, o.maxAt))
}

private[git] object PartStats {
  val zero: PartStats = PartStats(0, 0, 0, 0, 0, Long.MaxValue, Long.MinValue)

  /** One commit row's contribution. */
  final case class In(repo: String, additions: Long, deletions: Long,
      filesChanged: Long, isMerge: Boolean, at: Long)

  /** Per-partition stats of the commit rows it sees, keyed by repo name
    * (rows with a null name are skipped): an aggregate for
    * `Dataset.observe`, so the stats ride on a write that runs anyway
    * instead of a job of their own. */
  private object ByRepo extends Aggregator[In, Map[String, PartStats], Map[String, PartStats]] {
    def zero: Map[String, PartStats] = Map.empty
    def reduce(b: Map[String, PartStats], c: In): Map[String, PartStats] =
      if (c.repo == null) b
      else b.updated(c.repo, b.getOrElse(c.repo, PartStats.zero) + PartStats(1, c.additions,
        c.deletions, c.filesChanged, if (c.isMerge) 1 else 0, c.at, c.at))
    def merge(a: Map[String, PartStats], b: Map[String, PartStats]): Map[String, PartStats] =
      b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.get(k).fold(v)(_ + v)) }
    def finish(b: Map[String, PartStats]): Map[String, PartStats] = b
    private val enc: Encoder[Map[String, PartStats]] = ExpressionEncoder[Map[String, PartStats]]()
    def bufferEncoder: Encoder[Map[String, PartStats]] = enc
    def outputEncoder: Encoder[Map[String, PartStats]] = enc
  }

  private val byRepoFn = udaf(ByRepo, Encoders.product[In])

  /** [[ByRepo]] over a `commits`-shaped frame, keyed by `repo`. */
  def byRepo(repo: Column): Column =
    byRepoFn(repo,
      coalesce(col("additions"), lit(0L)), coalesce(col("deletions"), lit(0L)),
      coalesce(col("files_changed"), lit(0L)), coalesce(col("is_merge"), lit(false)),
      coalesce(unix_micros(col("committed_at")), lit(0L)))

  /** The value [[byRepo]] observed, back from `Observation.get`'s Row form. */
  def fromObserved(v: Any): Map[String, PartStats] = v match {
    case m: scala.collection.Map[_, _] => m.iterator.map {
      case (k: String, r: org.apache.spark.sql.Row) => k -> PartStats(r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      case e => throw new IllegalStateException(s"unexpected observed stats entry $e")
    }.toMap
    case null => Map.empty
    case other => throw new IllegalStateException(s"unexpected observed stats $other")
  }
}

/** What a store snapshot holds besides its file list: the head of each
  * repo it extracted, the stats of each `commits` partition, the
  * `authors` row count and, per repo, the SHA-256 (hex) of the
  * `for-each-ref refs/tags` output its `tags` partition was last merged
  * from. Heads, stats and tag digests are keyed by repo name.
  *
  * Rendered as one line per item, fields separated by single spaces, repo
  * names escaped as partition dir names, with spaces escaped too
  * (`%20`), so a name is one field:
  * {{{
  *   head <repo> <branch> <sha> <exact>
  *   stats <repo> <rows> <additions> <deletions> <files> <merges> <minAt> <maxAt>
  *   tags <repo> <sha256-hex>
  *   authors <rows>
  * }}}
  * An absent or empty header is [[StoreHeader.empty]]: no heads, no
  * stats, no tag digests. */
private[git] final case class StoreHeader(heads: Map[String, RepoHead],
    stats: Map[String, PartStats], authors: Option[Long],
    tags: Map[String, String]) {

  /** This header without the heads, stats and tag digests of `repos`: for
    * a writer that rewrites their partitions without producing new ones. */
  def without(repos: Iterable[String]): StoreHeader =
    copy(heads = heads -- repos, stats = stats -- repos, tags = tags -- repos)

  private def esc(repo: String): String = escapePathName(repo).replace(" ", "%20")

  def render: String = {
    val hs = heads.toSeq.sortBy(_._1).map { case (r, h) =>
      s"head ${esc(r)} ${h.branch} ${h.sha} ${h.exact}" }
    val ss = stats.toSeq.sortBy(_._1).map { case (r, s) =>
      s"stats ${esc(r)} ${s.rows} ${s.additions} ${s.deletions} " +
        s"${s.filesChanged} ${s.merges} ${s.minAt} ${s.maxAt}" }
    val ts = tags.toSeq.sortBy(_._1).map { case (r, d) => s"tags ${esc(r)} $d" }
    (hs ++ ss ++ ts ++ authors.map(n => s"authors $n")).map(_ + "\n").mkString
  }
}

private[git] object StoreHeader {
  val empty: StoreHeader = StoreHeader(Map.empty, Map.empty, None, Map.empty)

  /** The digest a `tags` line records for one `for-each-ref` output. */
  def tagsDigest(raw: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def parse(lines: Seq[String]): StoreHeader =
    lines.map(_.split(' ').toList).foldLeft(empty) {
      case (h, "head" :: r :: branch :: sha :: exact :: Nil) =>
        h.copy(heads = h.heads + (unescapePathName(r) -> RepoHead(branch, sha, exact.toBoolean)))
      case (h, "stats" :: r :: n) if n.size == 7 =>
        val v = n.map(_.toLong)
        h.copy(stats = h.stats + (unescapePathName(r) ->
          PartStats(v(0), v(1), v(2), v(3), v(4), v(5), v(6))))
      case (h, "tags" :: r :: d :: Nil) => h.copy(tags = h.tags + (unescapePathName(r) -> d))
      case (h, "authors" :: n :: Nil) => h.copy(authors = Some(n.toLong))
      case (_, l) => throw new IllegalStateException(s"malformed store header line: ${l.mkString(" ")}")
    }
}
