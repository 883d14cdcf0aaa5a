package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.git.{GitCli, Pipeline}

/** E1/E2 CLI entry (reference main.ts:311-382): ETL one repo path, or a
  * config JSON with {repositories, paths, ignore} (S6, repositories.example
  * .json shape), into parquet tables.
  *
  *   runMain graft.Main /path/to/repo out/
  *   runMain graft.Main --config repositories.json out/
  */
object Main {

  final case class Config(repositories: Seq[String], paths: Seq[String], ignore: Seq[String])

  /** S6: control-plane JSON (Jackson ships with Spark — no extra dep). */
  def loadConfig(path: String): Config = {
    val root = new ObjectMapper().readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def arr(k: String): Seq[String] =
      Option(root.get(k)).map(n => (0 until n.size).map(i => n.get(i).asText())).getOrElse(Nil)
    Config(arr("repositories"), arr("paths"), arr("ignore"))
  }

  /** E2: explicit repos + discovered repos, deduped, minus ignores (J1/J4). */
  def resolveRepos(cfg: Config): Seq[String] = {
    val discovered = cfg.paths.flatMap(GitCli.discoverRepos(_))
    GitCli.applyIgnore(cfg.repositories ++ discovered, cfg.ignore)
  }

  def run(spark: SparkSession, repos: Seq[String], outDir: String,
      authorGate: Option[String]): Unit = {
    require(repos.nonEmpty, "no repositories to process")
    val r = Pipeline.etl(spark, repos, outDir, authorGate)
    println(Pipeline.summaryReport(
      Pipeline.readSnapshot(r.commits.sparkSession, outDir, "commits")))
  }

  /** Files a store partition may hold before compaction folds it into
    * one: a day-2 append adds one file per partition, so a partition is
    * folded about once every this many appends instead of on every one. */
  private val FoldBound = 8

  /** Incremental mode — the reference's actual cross-run behavior (every
    * invocation upserts into the same store, main.ts:328-355): merge this
    * run into the partitioned store, fold partitions past [[FoldBound]]
    * files, report over the cumulative snapshot (from the store header
    * when it covers every partition). */
  def runAppend(spark: SparkSession, repos: Seq[String], outDir: String,
      authorGate: Option[String]): Unit = {
    require(repos.nonEmpty, "no repositories to process")
    Pipeline.etlAppend(spark, repos, outDir, authorGate)
    Seq("commits", "file_changes", "tags", "repos")
      .foreach(Pipeline.compact(spark, outDir, _, FoldBound))
    println(Pipeline.storeReport(spark, outDir))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    try args.toList match {
      case "--config" :: cfgPath :: outDir :: Nil =>
        run(spark, resolveRepos(loadConfig(cfgPath)), outDir, None)
      case "--append" :: "--config" :: cfgPath :: outDir :: Nil =>
        runAppend(spark, resolveRepos(loadConfig(cfgPath)), outDir, None)
      case "--append" :: repoPath :: outDir :: Nil =>
        runAppend(spark, Seq(repoPath), outDir, None)
      case repoPath :: outDir :: Nil =>
        run(spark, Seq(repoPath), outDir, None)
      case _ =>
        System.err.println(
          "usage: graft.Main [--append] (<repoPath> | --config <json>) <outDir>")
        sys.exit(2)
    } finally spark.stop()
  }
}
