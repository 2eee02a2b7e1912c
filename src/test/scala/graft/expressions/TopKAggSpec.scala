package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_topk: bounded-heap top-k aggregate. Correctness against the
  * window form on adversarial data, partial-merge (shuffle) path,
  * ties via struct ordering, nulls, k overrun, and the plan promise
  * (no Window; a partial/final aggregate pair).
  */
class TopKAggSpec extends SparkSpec {
  import spark.implicits._

  test("SQL + API agree with the ROW_NUMBER window form") {
    // 200 rows, 7 groups, scores with deliberate collisions so the
    // tiebreak carries; spread over 8 partitions to force the
    // partial-merge + serialize/deserialize path through the shuffle
    val df = (1 to 200).map(i => (i % 7, (i * 37) % 50, i.toLong))
      .toDF("g", "score", "id").repartition(8)
    df.createOrReplaceTempView("topk_in")
    val native = spark.sql(
      """SELECT g, t.score AS score, -t.neg_id AS id
        |FROM (SELECT g, graft_topk(struct(score, -id AS neg_id), 5) AS top
        |      FROM topk_in GROUP BY g)
        |LATERAL VIEW explode(top) AS t""".stripMargin)
      .as[(Int, Int, Long)].collect().toSet
    val window = spark.sql(
      """SELECT g, score, id FROM (
        |  SELECT g, score, id, ROW_NUMBER() OVER (PARTITION BY g
        |    ORDER BY score DESC, id ASC) AS rk FROM topk_in)
        |WHERE rk <= 5""".stripMargin)
      .as[(Int, Int, Long)].collect().toSet
    assert(native === window)
  }

  test("descending order, short groups, nulls skipped") {
    val out = Seq((1, Some(3)), (1, Some(9)), (1, None), (2, Some(4)))
      .toDF("g", "v").repartition(3)
      .groupBy("g").agg(call_function("graft_topk", col("v"), lit(5)).as("top"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(out(1) === Seq(9, 3), "descending, null skipped, short group")
    assert(out(2) === Seq(4))
  }

  test("largest1 over an all-null group is NULL under ANSI mode (max law)") {
    // graft_topk skips nulls, so an all-null group leaves an empty
    // heap; reading slot 0 must yield NULL, not an ANSI index error
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val df = Seq((1, Some(3)), (1, Some(9)), (1, None),
      (2, Option.empty[Int]), (2, Option.empty[Int])).toDF("g", "v")
      .repartition(3)
    val out = df.groupBy("g")
      .agg(graft.operators.BestAgg.largest1(col("v")).as("b"),
        max(col("v")).as("m"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    assert(out(1) === ((9, 9)))
    assert(out(2) === ((null, null)))
  }

  test("arity and k validation are analysis-time errors") {
    intercept[Exception](spark.sql("SELECT graft_topk(1) FROM range(1)"))
    intercept[Exception](
      spark.sql("SELECT graft_topk(id, 0) FROM range(1)").collect())
    intercept[Exception](
      spark.sql("SELECT graft_topk(id, id) FROM range(1)").collect())
  }

  test("plan: no Window; partial + final aggregate pair on the heap") {
    val p = graft.operators.Analytics.topKNative.build(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"native top-k must not plan a window:\n$p")
    val aggLines = p.linesIterator
      .filter(l => l.contains("Aggregate") && l.contains("graft_topk")).size
    assert(aggLines >= 2,
      s"expected partial+final graft_topk aggregate pair:\n$p")
  }

  test("registered op equals the window twin on the corpus") {
    val twin = graft.operators.Analytics.topKPerGroup.build(spark, sf001)
      .select($"p_brand", $"p_partkey", $"revenue_cents")
      .collect().map(_.toString).sorted
    val native = graft.operators.Analytics.topKNative.build(spark, sf001)
      .select($"p_brand", $"p_partkey", $"revenue_cents")
      .collect().map(_.toString).sorted
    assert(native.sameElements(twin))
  }
}
