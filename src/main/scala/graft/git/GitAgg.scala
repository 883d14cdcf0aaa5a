package graft.git

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators A1–A5 and upsert/load semantics U1–U5
  * (SURVEY §2.4 / §2.6), re-expressed as order-insensitive re-aggregation —
  * the reference's iterated SQLite upserts are associative (MIN/MAX/+), so a
  * single global groupBy is semantically identical when processing from
  * scratch, and it is the shape that scales (partial agg → shuffle on the
  * natural key → final agg).
  */
object GitAgg {

  /** A1 + U2: author aggregation keyed by email
    * (src/transforms.ts:11-39, src/database.ts:109-117).
    *
    * Ordering quirk (SURVEY §2.4): the reference's comment says "keep latest
    * name" but its iteration order makes the *oldest* commit's name survive.
    * We implement actual behavior — min_by over (committed_at, sha) — with a
    * deterministic sha tie-break (SURVEY §7.5 #1). */
  def authors(commits: DataFrame): DataFrame =
    commits
      .groupBy(col("author_email").as("email"))
      .agg(
        min_by(col("author_name"), struct(col("committed_at"), col("sha"))).as("name"),
        count(lit(1)).as("total_commits"),
        min(col("committed_at")).as("first_commit_at"),
        max(col("committed_at")).as("last_commit_at"))

  /** A2: global summary stats (src/transforms.ts:41-62). */
  def summaryStats(commits: DataFrame): DataFrame =
    commits.agg(
      count(lit(1)).as("total_commits"),
      sum(col("additions")).as("total_additions"),
      sum(col("deletions")).as("total_deletions"),
      sum(col("files_changed")).as("total_files_changed"),
      count_if(col("is_merge")).as("merge_commits"),
      countDistinct(col("author_email")).as("unique_authors"),
      GitParse.dateOnly(min(col("committed_at"))).as("date_from"),
      GitParse.dateOnly(max(col("committed_at"))).as("date_to"))

  /** A3 + J3: repo language = argmax of the mapped-extension histogram over
    * `git ls-files` output (src/git-parser.ts:210-268). The reference's
    * strict-`>` tie-break depends on object iteration order; we make it
    * deterministic: count desc, then extension asc (SURVEY §7.5 #2).
    * Input: (repo_name, file_path). Output: (repo_name, language). */
  def repoLanguage(files: DataFrame): DataFrame = {
    val langMap = typedLit(LanguageMap.byExtension)
    val w = Window.partitionBy(col("repo_name"))
      .orderBy(col("n").desc, col("ext"))
    files
      .withColumn("ext", GitParse.fileExtension(col("file_path")))
      .withColumn("language", element_at(langMap, col("ext")))
      .filter(col("language").isNotNull) // unmapped dropped (":233-263")
      .groupBy(col("repo_name"), col("ext"), col("language"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("repo_name"), col("language"))
  }

  /** A5 + U5: per-repo metadata (src/database.ts:77-95) — newest commit via
    * max(committed_at) instead of array head order. */
  def repoMeta(commits: DataFrame): DataFrame =
    commits
      .groupBy(col("repo_name").as("name"))
      .agg(
        max(col("committed_at")).as("last_commit_at"),
        count(lit(1)).as("total_commits"))
      .withColumn("is_archived", lit(false)) // fixed 0 (src/database.ts:87)

  /** U1: commits upsert key (repo_name, sha), last-writer-wins. From-scratch
    * single pass ⇒ keyed dedup; with an explicit ingest-order column use
    * [[latestByKey]] instead. */
  def dedupCommits(commits: DataFrame): DataFrame =
    commits.dropDuplicates("repo_name", "sha")

  /** U3: file_changes insert-or-ignore key (repo, sha, path): FIRST
    * occurrence within the commit wins (duplicates legitimately occur after
    * P4 rename resolution — SURVEY §2.6 U3). Deterministic via the `ord`
    * position column from [[GitParse.explodeFileChanges]]. */
  def dedupFileChanges(fileChanges: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("repo_name"), col("sha"), col("file_path"))
      .orderBy(col("ord"))
    fileChanges
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "ord")
  }

  /** U4: tags upsert key (repo_name, tag_name). */
  def dedupTags(tags: DataFrame): DataFrame =
    tags.dropDuplicates("repo_name", "tag_name")

  /** U1 general form: last-writer-wins by explicit ingest order over an
    * arbitrary key — row_number over (key ORDER BY ord DESC). */
  def latestByKey(df: DataFrame, key: Seq[String], ord: String): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col(ord).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ---- Cross-run upsert semantics (U1/U3–U5 across successive runs) -------
  // The reference appends every run into the same SQLite file; each load is a
  // keyed upsert against the cumulative table (src/database.ts). `existing`
  // is the previously-written table, `incoming` the new run's output. One
  // shuffle on the natural key either way — the shape that scales.

  /** ON CONFLICT DO UPDATE (commits :21-36, tags, repos :85-95): the new
    * run's row replaces the stored one wholesale. */
  def upsertLatest(existing: DataFrame, incoming: DataFrame,
      key: Seq[String]): DataFrame =
    latestByKey(
      existing.withColumn("__run", lit(0))
        .unionByName(incoming.withColumn("__run", lit(1))),
      key, "__run").drop("__run")

  /** INSERT OR IGNORE (file_changes :145-151): the stored row wins. */
  def upsertKeepFirst(existing: DataFrame, incoming: DataFrame,
      key: Seq[String]): DataFrame =
    latestByKey(
      existing.withColumn("__run", lit(1))
        .unionByName(incoming.withColumn("__run", lit(0))),
      key, "__run").drop("__run")

  /** U2 cross-run author accumulation (src/database.ts:109-117): the new
    * run's name wins (`name = excluded.name`), dates MIN/MAX-merge, and
    * `total_commits` ADDS — so re-running over the same history double-counts,
    * which is the reference's actual observable behavior (every run re-parses
    * the full log and re-adds its counts). Preserved, not "fixed". */
  def mergeAuthors(existing: DataFrame, incoming: DataFrame): DataFrame =
    existing.withColumn("__run", lit(0))
      .unionByName(incoming.withColumn("__run", lit(1)))
      .groupBy(col("email"))
      .agg(
        max_by(col("name"), col("__run")).as("name"),
        sum(col("total_commits")).as("total_commits"),
        min(col("first_commit_at")).as("first_commit_at"),
        max(col("last_commit_at")).as("last_commit_at"))

  /** `mergeAuthors(existing, authors(commits))` as ONE aggregation (one
    * shuffle where the composition takes two): the stored author rows and
    * the commit rows group by email together. Only a commit row carries a
    * (committed_at, sha) ordering, and min_by skips null orderings, so an
    * email with commits takes its oldest commit's name, as [[authors]]
    * does, and any other keeps its stored name. */
  def addAuthors(existing: DataFrame, commits: DataFrame): DataFrame = {
    val ord = struct(col("committed_at"), col("sha"))
    existing
      .select(col("email"), col("name"), col("total_commits"), col("first_commit_at"),
        col("last_commit_at"), lit(null).cast(commits.select(ord).schema.head.dataType).as("__ord"))
      .unionByName(commits.select(col("author_email").as("email"),
        col("author_name").as("name"), lit(1L).as("total_commits"),
        col("committed_at").as("first_commit_at"), col("committed_at").as("last_commit_at"),
        ord.as("__ord")))
      .groupBy(col("email"))
      .agg(
        coalesce(min_by(col("name"), col("__ord")),
          max(when(col("__ord").isNull, col("name")))).as("name"),
        sum(col("total_commits")).as("total_commits"),
        min(col("first_commit_at")).as("first_commit_at"),
        max(col("last_commit_at")).as("last_commit_at"))
  }
}

/** J3: the reference's 18-entry extension → language map
  * (src/git-parser.ts:233-252), broadcast as a literal map column. */
object LanguageMap {
  val byExtension: Map[String, String] = Map(
    "ts" -> "TypeScript", "js" -> "JavaScript", "tsx" -> "TypeScript",
    "jsx" -> "JavaScript", "py" -> "Python", "go" -> "Go", "rs" -> "Rust",
    "java" -> "Java", "c" -> "C", "cpp" -> "C++", "cs" -> "C#",
    "rb" -> "Ruby", "php" -> "PHP", "swift" -> "Swift", "kt" -> "Kotlin",
    "scala" -> "Scala", "sh" -> "Shell", "nix" -> "Nix")
}
