package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  private def frame() = spark.range(0, 200).select(
    col("id"),
    (col("id") / 7.0).as("d"),
    when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s|"), col("id"))).as("s"),
    array(col("id"), col("id") * 2).as("arr"),
    map(lit("k"), col("id")).as("m"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"),
    (col("id") / 3).cast("decimal(10,2)").as("dec"))

  test("the digest ignores row order and partitioning") {
    val base = Digest.of(frame())
    assert(base.rows == 200)
    assert(Digest.of(frame().orderBy(col("id").desc)) == base)
    assert(Digest.of(frame().repartition(7)) == base)
    assert(Digest.of(frame().coalesce(1)) == base)
  }

  test("a changed, dropped or duplicated row changes the digest") {
    val base = Digest.of(frame())
    assert(Digest.of(frame().withColumn("id",
      when(col("id") === 42, lit(43L)).otherwise(col("id")))) != base)
    assert(Digest.of(frame().filter(col("id") =!= 42)) != base)
    assert(Digest.of(frame().union(frame().filter(col("id") === 42))) != base)
  }

  test("cells are length-prefixed, so separators cannot alias rows") {
    assert(Digest.canon(org.apache.spark.sql.Row("a|b", "c")) !=
      Digest.canon(org.apache.spark.sql.Row("a", "b|c")))
  }
}
