package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness (PERF round-11, verdict task #7): the 10M-vector IMI
  * soak — one decade past the 1M soak — plus the HOT-CELL skew stress.
  *
  * What it measures:
  *  1. the occupancy law and candidate-volume exponent at 10M
  *     (k1 = ⌈√(N/occ)⌉ = 1000 per half at N = 10M, occ = 10);
  *  2. skew immunity of the CELL AGGREGATION layer: with one vector
  *     duplicated ×10⁵ (every copy lands in the same probed cells, so
  *     one cell holds ~10⁵ members) the occupancy group-by and the
  *     candidate-volume count must run in ~uniform time — they are
  *     algebraic aggregates, so map-side partial combine collapses the
  *     hot key to one row per task before the shuffle (the same
  *     argument `Spans` makes for a 10⁹-duplicated window; this is the
  *     measured row behind it).
  *
  * Two scale accommodations, both production-faithful:
  *  - the codebook trains on a capped SAMPLE (first [[TrainCap]]
  *    vectors — the FAISS practice: coarse quantizers train on a
  *    representative sample, assignment covers the corpus); the full
  *    10M-vector train is pure compute at the same answer shape and
  *    was measured extrapolating to hours on this box;
  *  - candidate volume is counted COMBINATORIALLY — Σ over probed
  *    cells of m·(m−1)/2 — never materialized: the 1M soak's distinct
  *    pair set was already 1.22B rows, and a decade up it would blow
  *    the disk budget. The 1M base run measured multiplicity next to
  *    r10's distinct row (1317 vs 1224 per vector = 1.076× — the
  *    multi-cell pair multiplicity), so the exponent read off the
  *    multiplicity metric is calibrated.
  *
  * The hot leg reuses the uniform run's codebook (a duplicate flood
  * arrives against the standing quantizer — the production shape) so
  * both measurements share one training pass.
  *
  * Usage:
  *   SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.ImiTenMSoak 10000000"
  */
object ImiTenMSoak {
  val TrainCap = 1000000
  val HotCopies = 100000

  def main(args: Array[String]): Unit = {
    val nVecs = args.lift(0).map(_.toInt).getOrElse(10000000)
    val occ = args.lift(1).map(_.toInt).getOrElse(10)
    // the per-(vec, half) top-nprobe heaps are tiny but NUMEROUS
    // (~300k groups per partition at 10M): the object-hash aggregate's
    // default sort-based fallback threshold (128 keys) would sort the
    // whole N·k1 scored stream — the terabyte spill this soak exists
    // to catch. Since round 12 the raised threshold is the ENGINE's
    // standing session knob (graft.EngineConf), not a soak-only conf.
    val spark = graft.EngineConf.tuned(SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Imi
    import graft.operators.Similarity.{inorm2, quantize}

    val dim = 64
    def genQuantized(n: Int): DataFrame =
      spark.range(n.toLong).select(col("id").as("vec_id"),
        (col("id") % 10).as("label"),
        transform(sequence(lit(0), lit(dim - 1)), j =>
          ((pmod(xxhash64(col("id") * dim + j), lit(1000000L))
            .cast("double") / 1e6) - 0.5).cast("float")).as("embedding"))
        .select(col("vec_id"), col("label"),
          quantize(col("embedding")).as("v"))
        .withColumn("n2", inorm2(col("v")))
        .filter(col("n2") > 0)

    val e = genQuantized(nVecs).localCheckpoint()
    val k1 = math.ceil(math.sqrt(nVecs.toDouble / occ)).toInt
    val np = Imi.NProbeHalf
    val trainN = math.min(nVecs, TrainCap)
    println(s"[soak10m] N=$nVecs k1=$k1 nprobe=$np occ_target=$occ " +
      s"trainSample=$trainN")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak10m] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    val cb = timed(s"train codebook (sample $trainN, 1 Lloyd)") {
      Imi.codebook(Imi.halves(e.filter(col("vec_id") < trainN.toLong)),
        k1, Imi.LloydSteps).localCheckpoint()
    }

    def measure(tag: String, cells: DataFrame): Unit = {
      val nc = cells.count()
      println(s"[soak10m] [$tag] probed-cell rows = $nc")
      // each aggregate timed twice: the first pass can pay block-
      // manager reads for a just-checkpointed 160M-row frame; the WARM
      // second pass is the aggregation-skew number the hot-vs-uniform
      // comparison needs
      def occOnce() =
        cells.filter(col("r0") === 1 && col("r1") === 1)
          .groupBy(col("cell")).agg(count(lit(1)).as("m"))
          .agg(avg(col("m")).as("avg"),
            expr("percentile(m, 0.99)").as("p99"),
            max(col("m")).as("mx"), count(lit(1)).as("cells")).collect()(0)
      val occRow = timed(s"[$tag] top-1 occupancy group-by (cold)") {
        occOnce()
      }
      timed(s"[$tag] top-1 occupancy group-by (warm)")(occOnce())
      println(f"[soak10m] [$tag] top-1 occupancy avg=${occRow.getDouble(0)}%.1f " +
        f"p99=${occRow.getDouble(1)}%.0f max=${occRow.getLong(2)} over " +
        f"${occRow.getLong(3)} live cells")
      def candOnce() =
        cells.groupBy(col("cell")).agg(count(lit(1)).as("m"))
          .agg(sum(expr("(m * (m - 1)) div 2")).as("s")).collect()(0)
          .getLong(0)
      val candMult = timed(s"[$tag] candidate volume (cold)")(candOnce())
      timed(s"[$tag] candidate volume (warm)")(candOnce())
      println(s"[soak10m] [$tag] candidate multiplicity = $candMult " +
        f"(per vector = ${candMult.toDouble / nc * np * np}%.1f)")
      // no release here: the hot leg UNIONS the uniform cells frame —
      // unpersisting it mid-run was the round's one self-inflicted
      // "checkpoint block not found"; the JVM exit reclaims everything
    }

    val cellsU = timed("assign (probed cells, uniform)") {
      Imi.cellsWithCodebook(e, cb, np)
        .select(col("vec_id"), col("cell"), col("r0"), col("r1"))
        .localCheckpoint()
    }
    measure("uniform", cellsU)

    // hot leg: one vector duplicated HotCopies times under fresh ids,
    // against the SAME standing codebook. A duplicate's assignment is
    // BY DEFINITION its original's (identical vector → identical
    // scores → identical tie-breaks), so the hot corpus' cells are
    // EXACTLY uniform-cells ∪ (vector 0's probed cells × HotCopies
    // fresh ids) — the flood costs one 1-vector assignment, and the
    // skew lands where it matters: in the cell aggregates.
    val dupCells = Imi.cellsWithCodebook(e.filter(col("vec_id") === 0), cb, np)
      .select(col("cell"), col("r0"), col("r1"))
    val cellsHot = cellsU.unionByName(
      spark.range(HotCopies.toLong)
        .select((col("id") + nVecs.toLong).as("vec_id"))
        .crossJoin(broadcast(dupCells))
        .select(col("vec_id"), col("cell"), col("r0"), col("r1")))
      .localCheckpoint()
    measure("hot", cellsHot)

    spark.stop()
  }
}
