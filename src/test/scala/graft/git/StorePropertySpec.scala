package graft.git

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Randomized crash-matrix harness for the manifest store: seeded sequences
  * of publishes, junk injections (the states a crashed publish can leave),
  * and compactions, with the snapshot checked against an in-memory model
  * after EVERY step. The deterministic MainSpec cases cover the crash
  * states we anticipated; this covers the interleavings we didn't. */
class StorePropertySpec extends SparkSpec {
  import spark.implicits._

  test("partition values needing path escaping publish and prune correctly") {
    val dir = Files.createTempDirectory("graft-storeesc-").toAbsolutePath.toString
    def rows(t: Seq[(String, Long, Long)]) = t.toDF("part", "k", "v")
    // Values Spark must escape in partition dir names: space, colon, percent.
    Pipeline.publishPartitioned(spark, dir, "t", "part",
      rows(Seq(("has space", 1L, 10L), ("col:on", 1L, 20L), ("pct%25", 1L, 30L))))(
      GitAgg.upsertLatest(_, _, Seq("part", "k")))
    // Second publish touches ONLY the spaced partition: the manifest prune
    // must resolve its escaped dir name and leave the others untouched.
    Pipeline.publishPartitioned(spark, dir, "t", "part",
      rows(Seq(("has space", 1L, 11L))))(
      GitAgg.upsertLatest(_, _, Seq("part", "k")))
    val got = Pipeline.readSnapshot(spark, dir, "t")
      .collect().map(r => (r.getAs[String]("part"), r.getAs[Long]("v"))).toSet
    assert(got == Set(("has space", 11L), ("col:on", 20L), ("pct%25", 30L)))
  }

  test("randomized publish/crash/compact sequences preserve the snapshot") {
    val partCol = "part"
    val parts = Vector("a", "b", "c", "d")
    // Two tables share the one store manifest: every commit of either must
    // carry the other's entries forward.
    val tables = Vector("t1", "t2")
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-storeprop-$seed-")
        .toAbsolutePath.toString
      val root = Paths.get(dir)
      var model = tables.map(_ -> Map.empty[(String, Long), Long]).toMap

      def rows(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
        df.collect().map(r => ((r.getAs[String](partCol), r.getAs[Long]("k")),
          r.getAs[Long]("v"))).toMap

      def verify(step: String): Unit = tables.foreach { table =>
        if (!Files.isDirectory(root.resolve(table))) {
          assert(model(table).isEmpty,
            s"seed=$seed $step $table: store missing but model nonempty")
        } else {
          val got = rows(Pipeline.readSnapshot(spark, dir, table))
          assert(got == model(table),
            s"seed=$seed $step $table: snapshot diverged from model")
        }
      }

      (1 to 16).foreach { step =>
        val table = tables(rnd.nextInt(tables.size))
        val store = root.resolve(table)
        rnd.nextInt(4) match {
          case 0 | 1 =>
            // Publish: 1-2 random partitions, unique keys within the batch,
            // last-writer-wins against the store (upsertLatest semantics).
            val touched = rnd.shuffle(parts).take(1 + rnd.nextInt(2))
            val batch = touched.flatMap { p =>
              rnd.shuffle((0L to 4L).toVector).take(1 + rnd.nextInt(3))
                .map(k => (p, k, rnd.nextLong()))
            }
            Pipeline.publishPartitioned(spark, dir, table, partCol,
              batch.toDF(partCol, "k", "v"))(
              GitAgg.upsertLatest(_, _, Seq(partCol, "k")))
            batch.foreach { case (p, k, v) =>
              model += table -> (model(table) + ((p, k) -> v)) }
          case 2 if Files.isDirectory(store) =>
            // Crash injection: the junk a publish dying mid-flight leaves.
            rnd.nextInt(3) match {
              case 0 => // orphan manifest tmp
                Files.write(root.resolve(s".store-manifest-tmp-$step"),
                  s"$table/ghost/not-a-file.parquet\n".getBytes("UTF-8"))
              case 1 => // moved-in but never-committed data file
                val pd = store.resolve(s"$partCol=${parts(rnd.nextInt(parts.size))}")
                Files.createDirectories(pd)
                Files.write(pd.resolve(s"part-junk-$step.snappy.parquet"),
                  Array[Byte](9, 9, 9))
              case 2 => // stale manifest from a crash between commit and prune
                val seqs = {
                  val s = Files.list(root)
                  try s.toArray.map(_.asInstanceOf[java.nio.file.Path]
                    .getFileName.toString)
                    .filter(_.startsWith("_store-manifest-"))
                    .map(_.stripPrefix("_store-manifest-").toLong)
                  finally s.close()
                }
                if (seqs.nonEmpty && seqs.max >= 1)
                  Files.write(root.resolve("_store-manifest-000000000"),
                    s"$table/$partCol=zzz/ghost-$step.parquet\n".getBytes("UTF-8"))
            }
          case _ =>
            Pipeline.compact(spark, dir, table)
        }
        verify(s"step $step ($table)")
      }
      // Final full compact: all junk reaped, so a raw directory read of
      // each table equals the model too.
      tables.foreach(Pipeline.compact(spark, dir, _))
      verify("final compact")
      tables.filter(t => Files.isDirectory(root.resolve(t))).foreach { t =>
        assert(rows(spark.read.parquet(s"$dir/$t")) == model(t),
          s"seed=$seed $t: raw directory read differs after the final compact")
      }
    }
  }
}
