package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The learned quality scorer's laws: the trained gate must be a real
  * classifier (non-degenerate, close to its teacher), the persisted
  * model must equal a fresh training run, and the capstone wiring must
  * be the plain conjunction it claims. */
class QualityModelSpec extends SparkSpec {

  // ---- reference: the relational epoch fold the trainer replaced
  // (shuffle joins and aggregates per epoch, every sum an ANSI SQL
  // SUM) — the same law as the oracle's CTE chain ----
  private def refTrainWeights(dir: String): DataFrame = {
    val stats = QualityModel.docStats(spark, dir)
    val feat = QualityModel.features(spark, dir, stats).localCheckpoint()
    val lab = QualityModel.labels(stats).localCheckpoint()
    val nDocs = lab.count()
    var w = lab.join(feat, Seq("doc_id"))
      .groupBy(col("bucket"))
      .agg(expr(s"(${QualityModel.QualityScale} * sum(y * x)) div $nDocs")
        .as("w"))
      .localCheckpoint()
    for (t <- 2 to QualityModel.QualityEpochs) {
      val step = QualityModel.QualityScale / t
      val margins = feat.join(broadcast(w), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("w")).as("margin"))
      val miss = lab.join(margins, Seq("doc_id"), "left")
        .filter(col("y") * coalesce(col("margin"), lit(0L)) <= 0)
        .select(col("doc_id"), col("y"))
      val nm = miss.agg(greatest(count(lit(1)), lit(1L)).as("nm"))
      val upd = miss.join(feat, Seq("doc_id")).crossJoin(broadcast(nm))
        .groupBy(col("bucket"))
        .agg(expr(s"($step * sum(y * x)) div min(nm)").as("du"))
      w = w.join(upd, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("du"), lit(0L)))
            .as("w"))
        .localCheckpoint()
    }
    w.filter(col("w") =!= 0)
  }

  private def weights(df: DataFrame): Seq[(Long, Long)] = {
    import spark.implicits._
    df.select(col("bucket"), col("w")).as[(Long, Long)].collect().sorted
      .toSeq
  }

  test("trainer == the relational epoch fold, bit for bit (sf0.001, sf0.01)") {
    for (dir <- Seq(sf001, sf001.stripSuffix("sf0.001") + "sf0.01")) {
      val got = weights(QualityModel.trainWeights(spark, dir))
      assert(got.nonEmpty, dir)
      assert(got === weights(refTrainWeights(dir)), dir)
    }
  }

  test("trainer == the relational fold on empty, whitespace-only and " +
    "NULL-text documents") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-qm-").toString
    try {
      val base = graft.Tables.documents(spark, sf001).orderBy("doc_id")
        .limit(80)
      val odd = Seq((9000001L, Some("")), (9000002L, Some("  \t\n ")),
        (9000003L, None), (9000004L, None), (9000005L, Some("\u000B")))
        .toDF("doc_id", "text")
      base.unionByName(odd, allowMissingColumns = true)
        .write.parquet(s"$dir/documents.parquet")
      val got = weights(QualityModel.trainWeights(spark, dir))
      assert(got.nonEmpty)
      assert(got === weights(refTrainWeights(dir)))
    } finally graft.operators.SinkOps.deleteDir(spark, dir)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("overflow raises ArithmeticException instead of wrapping " +
    "(fold and driver update)") {
    val dims = QualityModel.QualityDim + 3
    def row(y: Long, x0: Long) = {
      val x = new Array[Long](dims); x(0) = x0; (y, x)
    }
    // the fold: two misclassified docs whose y·x sum passes Long.MaxValue
    val big = spark.sparkContext.parallelize(
      Seq(row(1L, Long.MaxValue - 1), row(1L, 2L)), 2)
    val e1 = intercept[Exception] {
      QualityModel.epochFold(big, new Array[Long](dims))
    }
    assert(causes(e1).exists(_.isInstanceOf[ArithmeticException]), e1)
    // the driver update: the sum fits, the step times the sum does not
    val half = spark.sparkContext.parallelize(
      Seq(row(1L, Long.MaxValue / 2)), 1)
    assert(QualityModel.epochFold(half, new Array[Long](dims))(0) ===
      Long.MaxValue / 2)
    intercept[ArithmeticException](QualityModel.trainDense(half))
  }

  test("trained gate is non-degenerate and agrees with the heuristic " +
    "teacher on >= 85% of documents") {
    import spark.implicits._
    val scored = QualityModel.qualityScore.build(spark, sf001)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val n = scored.size
    val kept = scored.values.count(identity)
    assert(n > 0)
    assert(kept > 0 && kept < n,
      s"degenerate scorer: kept $kept of $n")
    // the teacher: P25 token gate AND integer repetition rule — exactly
    // the label law the trainer optimizes
    val d = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
          .cast("long").as("n_tokens"))
    val p25 = d.agg(expr("percentile(n_tokens, 0.25)")).head().getDouble(0)
    val nW = size(split(lower(trim(col("text"))), "[ \\t\\n\\x0B\\f\\r]+"))
    val n3 = greatest(nW - 2, lit(0)).cast("long")
    val nd3 = when(nW >= 3,
      size(graft.functions.TextAnalysis.wordShingles(col("text"), 3))
        .cast("long")).otherwise(0L)
    val teacher = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"),
        graft.functions.TextAnalysis.bpeishTokenCount(col("text"))
          .cast("long").as("n_tokens"),
        n3.as("n3"), nd3.as("nd3"))
      .select(col("doc_id"),
        (col("n_tokens") >= p25 && (col("n3") === 0L ||
          expr("(100 * (n3 - nd3)) div n3") <= QualityModel.RepPctMax))
          .as("y"))
      .as[(Long, Boolean)].collect().toMap
    val agree = teacher.count { case (id, y) => scored(id) == y }
    assert(agree.toDouble / n >= 0.85,
      s"teacher agreement ${agree.toDouble / n} < 0.85 ($agree/$n)")
  }

  test("persisted model == a fresh training run (store parity), and " +
    "weights are nonzero only") {
    import spark.implicits._
    val persisted = QualityModel.standingModel(spark, sf001)
      .as[(Long, Long)].collect().sorted.toSeq
    val fresh = QualityModel.trainWeights(spark, sf001)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(persisted.nonEmpty)
    assert(persisted === fresh)
    assert(persisted.forall(_._2 != 0))
    // the stat features actually trained: bias + token-count weights
    val buckets = persisted.map(_._1).toSet
    assert(buckets.contains(-2L),
      "token-count feature has zero weight — the teacher's main " +
        "signal was not learned")
  }

  test("row-local streaming scorer == the batch scorer, row for row " +
    "(the per-token fold equals the per-bucket group-by exactly)") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"margin", $"keep")
        .as[(Long, Long, Boolean)].collect().sorted.toSeq
    val stream = rows(StreamingOps.streamQuality.build(spark, sf001))
    val batch = rows(QualityModel.qualityScore.build(spark, sf001))
    assert(stream.nonEmpty)
    assert(stream === batch)
    // the headline claim is a PLAN property, not a row property: the
    // arrival-time scorer must hold no state store (the sibling
    // stateless legs gate this in EventStreamSpec — same gate here so
    // a future group-by on the stream side fails loudly)
    val active = spark.streams.active.filter(_.name != null)
      .find(_.name.startsWith("q_stream_quality_mem"))
    assert(active.nonEmpty, "live quality-score query not found")
    assert(active.get.lastProgress.stateOperators.isEmpty,
      s"expected zero stateful operators: ${active.get.lastProgress.json}")
  }

  test("scored capstone is the conjunction of the heuristic gate and " +
    "the learned gate, row for row") {
    import spark.implicits._
    val out = QualityModel.cleanCorpusScored.build(spark, sf001)
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._4 == (r._2 && r._3)))
    // the learned gate changes something relative to the heuristic
    // alone — otherwise the stage is dead weight on this corpus
    assert(out.exists(r => r._2 != r._3),
      "learned gate identical to heuristic gate on every doc")
  }
}
