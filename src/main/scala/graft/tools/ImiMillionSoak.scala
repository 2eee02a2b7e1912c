package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness (not part of the engine surface): the 1M-vector IMI
  * soak — extends the r8 candidate-linearity measurement one decade
  * past 200k and measures what the compaction-threshold argument
  * actually trades at scale:
  *
  *  1. OCCUPANCY LAW: with k1 = ⌈√(N/occ)⌉ the mean members per top-1
  *     cell should stay ≈ occ across decades (the law the registered
  *     geometry's scaladoc claims at 100 TB);
  *  2. CANDIDATE LINEARITY: probed-cell volume = N·nprobe² exactly and
  *     co-cell candidate pairs grow ~linearly in N (log-log exponent
  *     ≈ 1 per decade step);
  *  3. RECALL DRIFT of the merge path: at a 25% delta fraction, the
  *     frozen-codebook index (trained on the 75% standing slice,
  *     everything assigned against it — compactUnion's merge branch)
  *     vs the retrain-on-union index, both probed for a sample of
  *     delta queries against the exact top-1 (brute force over the
  *     corpus) — the number that says where the 25% threshold should
  *     sit as N grows.
  *
  * Vectors are DISTRIBUTED-generated unit gaussians (hash-seeded,
  * deterministic per vec_id — no driver-side 1M-row Seq), matching the
  * measured structure of the driver testdata (E[cos] ≈ 0, sd ≈ 1/8).
  *
  * `runMain graft.tools.ImiMillionSoak [nVecs] [nQueries] [occ]`
  */
object ImiMillionSoak {
  def main(args: Array[String]): Unit = {
    val nVecs = args.lift(0).map(_.toInt).getOrElse(1000000)
    val nQueries = args.lift(1).map(_.toInt).getOrElse(300)
    val occ = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Imi
    import graft.operators.Similarity.{cosine, idot, inorm2, quantize}

    val dim = 64
    // deterministic distributed unit vectors: coordinate j of vector i
    // mixes xxhash64(i*64+j) into (-0.5, 0.5), then quantize() maps to
    // the engine's integer grid exactly like the parquet path would
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
    println(s"[soak1m] N=$nVecs k1=$k1 nprobe=$np occ_target=$occ")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[soak1m] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      r
    }

    // --- retrain-on-union index (the full-train reference) ---
    val cbAll = timed("train codebook (union)") {
      Imi.codebook(Imi.halves(e), k1, Imi.LloydSteps)
        .localCheckpoint()
    }
    val cellsAll = timed("assign all vs union codebook") {
      Imi.cellsWithCodebook(e, cbAll, np)
        .select(col("vec_id"), col("cell"), col("r0"), col("r1"))
        .localCheckpoint()
    }
    val nCells = cellsAll.count()
    println(s"[soak1m] probed-cell rows = $nCells (want N*np^2 = " +
      s"${nVecs.toLong * np * np})")

    // occupancy of the top-1 assignment
    val occRow = cellsAll.filter(col("r0") === 1 && col("r1") === 1)
      .groupBy(col("cell")).agg(count(lit(1)).as("m"))
      .agg(avg(col("m")).as("avg"), expr("percentile(m, 0.99)").as("p99"),
        count(lit(1)).as("cells")).collect()(0)
    println(f"[soak1m] top-1 occupancy avg=${occRow.getDouble(0)}%.1f " +
      f"p99=${occRow.getDouble(1)}%.0f over ${occRow.getLong(2)} live cells")

    // candidate volume (ids only, count-only — the --candonly shape)
    val cand = timed("co-cell candidate count") {
      val c = cellsAll.select(col("cell"), col("vec_id"))
      c.alias("a").join(c.alias("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("s"), col("b.vec_id").as("d"))
        .distinct().count()
    }
    println(s"[soak1m] candidates = $cand (per vector ≈ " +
      f"${cand.toDouble / nVecs}%.1f)")

    // --- merge-path index: codebook frozen on the 75% standing slice ---
    val deltaMod = 4
    val standing = e.filter(col("vec_id") % deltaMod =!= 0)
    val cbStand = timed("train codebook (standing 75%)") {
      Imi.codebook(Imi.halves(standing), k1, Imi.LloydSteps)
        .localCheckpoint()
    }
    val cellsMerge = timed("assign all vs standing codebook") {
      Imi.cellsWithCodebook(e, cbStand, np)
        .select(col("vec_id"), col("cell"))
        .localCheckpoint()
    }

    // --- recall@1 of delta queries through each index ---
    // ground truth: exact top-1 over the whole corpus (excluding self)
    val queries = e.filter(col("vec_id") % deltaMod === 0)
      .filter(col("vec_id") < nQueries.toLong * deltaMod)
      .select(col("vec_id").as("q"), col("v").as("qv"),
        col("n2").as("qn"))
      .localCheckpoint()
    val nq = queries.count()
    val truth = timed(s"exact top-1 for $nq queries") {
      queries.crossJoin(e.select(col("vec_id").as("t"), col("v").as("tv"),
          col("n2").as("tn")))
        .filter(col("q") =!= col("t"))
        .select(col("q"), col("t"),
          cosine(idot(col("qv"), col("tv")), col("qn"), col("tn"))
            .as("cos"))
        .groupBy(col("q"))
        .agg(max(struct(col("cos"), negate(col("t")).as("nt"))).as("b"))
        .select(col("q"), negate(col("b.nt")).cast("long").as("nn"))
        .localCheckpoint()
    }
    def recall(cells: DataFrame, label: String): Unit = {
      val qc = cells.join(queries.select(col("q")),
        cells("vec_id") === col("q")).select(col("q"), col("cell"))
      val hits = qc.alias("qq").join(cells.alias("cc"),
          col("qq.cell") === col("cc.cell") &&
            col("qq.q") =!= col("cc.vec_id"))
        .select(col("qq.q").as("q"), col("cc.vec_id").as("c"))
        .distinct()
        .join(truth, Seq("q"))
        .filter(col("c") === col("nn"))
        .select(col("q")).distinct().count()
      println(f"[soak1m] recall@1 $label%-18s ${hits.toDouble / nq}%.3f " +
        s"($hits/$nq)")
    }
    timed("recall (retrain-on-union)") {
      recall(cellsAll.select(col("vec_id"), col("cell")), "retrain")
    }
    timed("recall (frozen merge path)") {
      recall(cellsMerge, "merge@25%delta")
    }
    spark.stop()
  }
}
