package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class StringRollingHashSpec extends SparkSpec {
  import spark.implicits._

  /** Built-in higher-order-function form of
    * [[graft.functions.TextAnalysis.fingerprint]] — the equivalence
    * baseline the native expression is property-tested against. */
  private def fingerprintHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * 31 + x) % 1000000007L)

  test("graft_fingerprint registered, callable from SQL and API, known values") {
    assert(spark.catalog.functionExists("graft_fingerprint"))
    val r = spark.sql(
      """SELECT graft_fingerprint('') AS empty,
        |       graft_fingerprint('a') AS a,
        |       graft_fingerprint('ab') AS ab,
        |       graft_fingerprint(CAST(NULL AS STRING)) AS n""".stripMargin)
      .collect().head
    assert(r.getLong(0) === 0L)
    assert(r.getLong(1) === 97L)            // 'a'
    assert(r.getLong(2) === 97L * 31 + 98L) // 'a'*31 + 'b'
    assert(r.isNullAt(3))
  }

  test("matches the built-in fold on ascii, unicode, and supplementary-plane text") {
    val samples = Seq("", "a", "hello world", "The quick brown fox!?",
      "é", "über café", "中文 mixed ascii", "𝄞 clef", "\ttabs\nand lines ",
      "x" * 5000)
    val df = samples.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
    val native = df.select($"id", call_function("graft_fingerprint", $"s").as("fp"))
      .as[(Int, Long)].collect().toMap
    val hof = df.select($"id", fingerprintHof($"s").as("fp"))
      .as[(Int, Long)].collect().toMap
    assert(native === hof)
  }

  test("matches the built-in fold on the whole documents corpus") {
    val d = graft.Tables.documents(spark, sf001)
    val native = d.select($"doc_id", call_function("graft_fingerprint", $"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    val hof = d.select($"doc_id", fingerprintHof($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(native === hof)
  }
}
