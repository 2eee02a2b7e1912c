package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** graft_vecsum: element-wise integer-vector SUM aggregate. Pinned
  * against the declarative posexplode → per-dim SUM → ordered
  * re-collect form it replaced in the Lloyd centroid updates, plus the
  * null, all-null and length-mismatch laws.
  */
class VecSumAggSpec extends SparkSpec {
  import spark.implicits._

  /** The declarative reference: one row per (key, dim), a per-dim SUM,
    * then the sums re-collected in dim order. */
  private def explodeSum(df: DataFrame, key: Column, v: Column): DataFrame =
    df.select(key.as("k"), posexplode(v).as(Seq("pos", "x")))
      .groupBy(col("k"), col("pos")).agg(sum(col("x")).as("s"))
      .groupBy(col("k"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        e => e.getField("s")).as("cv"))

  private def vecSum(df: DataFrame, key: Column, v: Column): DataFrame =
    df.groupBy(key.as("k"))
      .agg(call_function("graft_vecsum", v).as("cv"))

  private def byKey(df: DataFrame): Map[Any, Seq[Long]] =
    df.collect().map(r =>
      r.get(0) -> Option(r.getSeq[Long](1)).map(_.toSeq).orNull).toMap

  test("bit-identical to the per-dim SUM form on the quantized corpus") {
    // spread over 8 partitions so partial buffers merge across the
    // shuffle (the serialize/deserialize path), not just in one task
    val q = graft.operators.Similarity.quantizedLabeled(spark, sf001)
      .repartition(8)
    val native = byKey(vecSum(q, col("label"), col("v")))
    val reference = byKey(explodeSum(q, col("label"), col("v")))
    assert(native.size > 1, "fixture must hold several labels")
    assert(native === reference)
  }

  test("null rows are skipped") {
    val df = Seq((1, Some(Seq(1L, 2L))), (1, None), (1, Some(Seq(10L, 20L))),
      (2, None), (2, Some(Seq(-5L, 7L)))).toDF("g", "v").repartition(3)
    val native = byKey(vecSum(df, col("g"), col("v")))
    assert(native === Map(1 -> Seq(11L, 22L), 2 -> Seq(-5L, 7L)))
    assert(native === byKey(explodeSum(df, col("g"), col("v"))))
  }

  test("an all-null group returns NULL") {
    val df = Seq((1, Some(Seq(3L))), (2, Option.empty[Seq[Long]]),
      (2, Option.empty[Seq[Long]])).toDF("g", "v").repartition(3)
    val native = byKey(vecSum(df, col("g"), col("v")))
    assert(native === Map(1 -> Seq(3L), 2 -> null))
  }

  test("mismatched vector lengths raise the length error") {
    // one partition: both rows reach the same buffer through update
    val df = Seq((1, Seq(1L, 2L)), (1, Seq(1L, 2L, 3L))).toDF("g", "v")
      .coalesce(1)
    val e = intercept[Exception](vecSum(df, col("g"), col("v")).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("graft_vecsum: vector length")),
      s"expected the length error, got: $e")
  }
}
