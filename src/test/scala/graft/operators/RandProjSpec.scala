package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** [[Similarity.randProj]] — the signed Johnson–Lindenstrauss
  * projection. Pins (1) cell-level exactness against an in-test
  * replay of the sign hash, (2) the JL concentration the op's 100 TB
  * claim rests on: squared norms and pairwise squared distances land
  * near k·(the int8 originals) with bounded tails — the property the
  * xorshift round in the sign hash was added for (the raw LCG's
  * correlated signs measured ratio tails at 6×; see RandProjExpr.sign),
  * and (3) the map-only shape: zero exchanges before the output. */
class RandProjSpec extends SparkSpec {
  import spark.implicits._

  private val K = Similarity.RandProjDim

  /** The exact sign hash of RandProjExpr.sign, replayed in test code. */
  private def sign(i: Long, j: Long): Long = {
    val h1 = (i * 2654435761L + j * 1103515245L + 12345L) % 2147483648L
    val h2 = h1 ^ (h1 >> 13)
    if (((h2 * 1274126177L) % 2147483648L >> 16) % 2 == 0) 1L else -1L
  }

  /** The ±1 sign of [[graft.expressions.RandProjExpr.sign]] as a
    * built-in Column expression (the hash law the oracle SQL spells). */
  private def rpSign(i: Column, j: Column): Column = {
    val h1 = (i.cast("long") * 2654435761L + j.cast("long") * 1103515245L
      + 12345L) % 2147483648L
    val h2 = h1.bitwiseXOR(shiftright(h1, 13))
    when(shiftright((h2 * 1274126177L) % 2147483648L, 16) % 2 === 0, 1L)
      .otherwise(-1L)
  }

  /** The built-in HOF form of the projection — the parity reference
    * for the native expression (fold ≡ native element-wise, including
    * null elements: a null cell quantizes to 0 — the `coalesce` below —
    * exactly as the native expression's `isNullAt` branch contributes
    * 0).
    *
    * Evaluation shape is load-bearing: a `transform(dims, j =>
    * aggregate(qv …))` form references `qv`/`scale` once each, so
    * CollapseProject INLINES them into the lambda bodies — `qv`
    * recomputes per output dim and `scale` per element, O(d²·k)
    * interpreted evals per row (measured 22 s at sf0.1, vs 3.1 s for
    * this single-fold form, vs 0.1 s native). The fold pins ONE scale
    * eval per row via `array_repeat` and accumulates all k output dims
    * in ONE pass over the zipped (q, i) pairs. */
  private def randProjFold(emb: Column): Column = {
    val dims = sequence(lit(0), lit(K - 1))
    val qv = zip_with(emb,
      array_repeat(Similarity.int8Scale(emb), size(emb)),
      (x, s) => coalesce(round(x.cast("double") * s).cast("long"), lit(0L)))
    aggregate(
      zip_with(qv, sequence(lit(0), size(emb) - 1),
        (q, i) => struct(q.as("q"), i.as("i"))),
      transform(dims, _ => lit(0L)),
      (acc, t) => zip_with(acc, dims,
        (a, j) => a + t.getField("q") * rpSign(t.getField("i"), j)))
  }

  test("hand vector: unit basis vector projects to 127 times the sign row") {
    val e = Seq((1L, Array(1f) ++ Array.fill(63)(0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randProjVectors(e)
      .select($"pv").head().getSeq[Long](0)
    val want = (0 until K).map(j => 127L * sign(0L, j.toLong))
    assert(got === want)
  }

  test("JL concentration: norms and pairwise distances within measured tails") {
    val pv = Similarity.randProjVectors(
      graft.Tables.embeddings(spark, sf001))
    val qv = graft.Tables.embeddings(spark, sf001)
      .withColumn("qv", Similarity.int8Vector(
        $"embedding", Similarity.int8Scale($"embedding")))
      .select($"vec_id", $"qv")
    def sq(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0L), (a, x) => a + x * x)
    val ratios = qv.join(pv, "vec_id")
      .select(($"vec_id" % 97).as("lot"),
        (sq($"pv").cast("double") / (lit(K) * sq($"qv"))).as("r"))
    val n = ratios.agg(avg($"r"), min($"r"), max($"r")).head()
    assert(n.getDouble(0) > 0.85 && n.getDouble(0) < 1.15,
      s"mean norm ratio ${n.getDouble(0)} outside [0.85, 1.15]")
    assert(n.getDouble(1) > 0.1 && n.getDouble(2) < 3.0,
      s"norm-ratio tail [${n.getDouble(1)}, ${n.getDouble(2)}] beyond " +
        "the measured JL envelope — sign hash regressed?")
    // pairwise distances on a deterministic pair sample (adjacent ids):
    // JL on the difference vectors, which the projection is linear over
    val a = qv.join(pv, "vec_id").select($"vec_id", $"qv", $"pv")
    val b = a.select(($"vec_id" - 1).as("vec_id"),
      $"qv".as("qv2"), $"pv".as("pv2"))
    val d = a.join(b, "vec_id").select(
      (sq(zip_with($"pv", $"pv2", (x, y) => x - y)).cast("double") /
        (lit(K) * sq(zip_with($"qv", $"qv2", (x, y) => x - y)))).as("r"))
    val m = d.agg(avg($"r"), min($"r"), max($"r")).head()
    assert(m.getDouble(0) > 0.85 && m.getDouble(0) < 1.15,
      s"mean distance ratio ${m.getDouble(0)} outside [0.85, 1.15]")
    assert(m.getDouble(1) > 0.05 && m.getDouble(2) < 3.5,
      s"distance-ratio tail [${m.getDouble(1)}, ${m.getDouble(2)}]")
  }

  test("projection is map-only: zero exchanges in the plan") {
    val p = Similarity.randProj.build(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"),
      s"rand_proj must ride the scan with no shuffle:\n$p")
  }

  test("native expression equals the HOF fold element-wise on the corpus") {
    val e = graft.Tables.embeddings(spark, sf001)
    assert(spark.catalog.functionExists("graft_randproj"),
      "extensions not installed in test session")
    val native = e.select($"vec_id",
      call_function("graft_randproj", $"embedding", lit(K)).as("pv"))
    val fold = e.select($"vec_id",
      randProjFold($"embedding").as("pv"))
    val diff = native.as("n").join(fold.as("f"), "vec_id")
      .filter(expr("n.pv != f.pv")).count()
    assert(diff === 0L, s"$diff vectors diverge between native and fold")
    // edge vectors: empty, all-zero, negative-dominant, tie-rounding
    val edges = Seq(
      (1L, Array.empty[Float]),
      (2L, Array.fill(64)(0f)),
      (3L, Array.fill(64)(-2.5f)),
      (4L, Array.tabulate(64)(i => (i - 32).toFloat / 12.8f)))
      .toDF("vec_id", "embedding")
    val en = edges.select($"vec_id",
      call_function("graft_randproj", $"embedding", lit(K)).as("pv"))
    val ef = edges.select($"vec_id",
      randProjFold($"embedding").as("pv"))
    val ed = en.as("n").join(ef.as("f"), "vec_id")
      .filter(expr("n.pv != f.pv")).count()
    assert(ed === 0L, "edge vectors diverge between native and fold")
  }

  test("native projection runs inside whole-stage codegen") {
    val p = Similarity.randProj.build(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(p.contains("graft_randproj"),
      s"expected the native expression in the plan:\n$p")
    // codegen spans print as "*(n)" in the simple plan string
    assert(p.contains("*("),
      s"expected a codegen span over the projection:\n$p")
    // exactly one projection eval per row: InferFiltersFromGenerate
    // must not re-evaluate the kernel inside a pushed-down guard
    assert("graft_randproj".r.findAllIn(p).size === 1,
      s"kernel must be evaluated once per row, not re-derived in a filter:\n$p")
  }
}
