package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = {
    import spark.implicits._
    Seq((1L, "a", 0.1 + 0.2, Seq(1.5, 2.5)), (2L, "b", 3.0, Seq()), (3L, null, -1.25, Seq(0.0)))
      .toDF("id", "s", "x", "xs")
  }

  test("row order, partitioning and column order do not change the digest") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.orderBy(col("id").desc)) == d)
    assert(Digest.of(frame.repartition(3)) == d)
    assert(Digest.of(frame.select("xs", "x", "s", "id")) == d)
  }

  test("a last-bit floating-point difference does not change the digest") {
    val nudged = frame.withColumn("x", col("x") + 1e-15)
    assert(Digest.of(nudged) == Digest.of(frame))
  }

  test("a changed value, a lost row or a duplicated row does") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("s", lit("z"))) != d)
    assert(Digest.of(frame.filter(col("id") < 3)) != d)
    assert(Digest.of(frame.union(frame.filter(col("id") === 1))) != d)
  }

  test("duplicate column names are hashed positionally") {
    val j = frame.as("l").join(frame.as("r"), "id").select(col("l.s"), col("r.s"))
    assert(Digest.of(j).startsWith("3:"))
  }
}
