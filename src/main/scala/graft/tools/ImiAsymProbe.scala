package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Imi, Similarity}

/** Dev harness (not part of the engine surface): measure the
  * ASYMMETRIC IMI probe — index side = each vector ONCE in its home
  * cell (r0 = r1 = 1), query side = the nprobe² probed cells — against
  * the registered SYMMETRIC probed×probed form: candidate volume and
  * rank-1 / near-dup recall, at one or more scale dirs. The asymmetric
  * form is the published IMI search shape (the index stores a vector
  * once; only the query fans out), so if recall holds it cuts the
  * candidate constant ~nprobe²× and the index size nprobe²×.
  *
  * `runMain graft.tools.ImiAsymProbe <sfDir> [<sfDir> ...]`
  */
object ImiAsymProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    for (dir <- dirs; depth <- Seq(1, 2, 3)) {
      val e = Similarity.quantizedLabeled(spark, dir).cache()
      val cells = Imi.trainedCanopy(spark, dir).cache()
      val home = cells.filter($"r0" <= depth && $"r1" <= depth)
      println(s"[imiasym] === dir=$dir indexDepth=$depth ===")

      val nVec = e.count()
      val symPairs = cells.select($"cell", $"vec_id").alias("a")
        .join(cells.select($"cell", $"vec_id").alias("b"), "cell")
        .filter($"a.vec_id" =!= $"b.vec_id").count()
      val asymPairs = cells.select($"cell", $"vec_id").alias("a")
        .join(home.select($"cell", $"vec_id").alias("b"), "cell")
        .filter($"a.vec_id" =!= $"b.vec_id").count()

      // rank-1 recall of the asymmetric probe vs the exact NN
      val pa = cells.select($"cell", $"vec_id".as("src"),
        $"v".as("vs"), $"n2".as("ns"))
      val pb = home.select($"cell", $"vec_id".as("dst"),
        $"v".as("vd"), $"n2".as("nd"))
      val got = pa.join(pb, Seq("cell")).filter($"src" =!= $"dst")
        .select($"src", $"dst",
          Similarity.cosine(Similarity.idot($"vs", $"vd"),
            $"ns", $"nd").as("cos"))
        .groupBy($"src")
        .agg(max(struct($"cos", negate($"dst").as("nd"))).as("best"))
        .select($"src".as("vec_id"), negate($"best.nd").as("got_nn"))
      val x = e.select($"vec_id".as("src"), $"v".as("vs"), $"n2".as("ns"))
      val y = e.select($"vec_id".as("dst"), $"v".as("vd"), $"n2".as("nd"))
      val truth = x.join(y, $"src" =!= $"dst")
        .select($"src", $"dst",
          Similarity.cosine(Similarity.idot($"vs", $"vd"),
            $"ns", $"nd").as("cos"))
        .groupBy($"src")
        .agg(max(struct($"cos", negate($"dst").as("nd"))).as("best"))
        .select($"src".as("vec_id"), negate($"best.nd").as("true_nn"))
      val joined = truth.join(got, Seq("vec_id"), "left").cache()
      val n = joined.count()
      val hit = joined.filter($"got_nn" === $"true_nn").count()

      // near-dup pair recall: bidirectional asymmetric candidates
      // (probes(a) ∩ home(b) or probes(b) ∩ home(a)), canonical a < b
      val qa = cells.select($"cell", $"label", $"vec_id".as("qa"),
        $"v".as("va"), $"n2".as("na"))
      val hb = home.select($"cell", $"label", $"vec_id".as("hb"),
        $"v".as("vb"), $"n2".as("nb"))
      val annPairs = qa.join(hb, Seq("cell", "label"))
        .filter($"qa" =!= $"hb")
        .select($"label",
          least($"qa", $"hb").as("id_a"), greatest($"qa", $"hb").as("id_b"),
          Similarity.cosine(Similarity.idot($"va", $"vb"),
            $"na", $"nb").as("cos"))
        .distinct()
        .filter($"cos" >= 0.35)
        .cache()
      val exact = Similarity.embedNearDup.build(spark, dir).cache()
      val annN = annPairs.count()
      val exactN = exact.count()
      val falsePos = annPairs
        .join(exact, Seq("label", "id_a", "id_b"), "left_anti").count()

      println(f"[imiasym] dir=$dir nVec=$nVec%d " +
        f"symPairs=$symPairs%d asymPairs=$asymPairs%d " +
        f"(ratio ${symPairs.toDouble / math.max(asymPairs, 1)}%.1f x)")
      println(f"[imiasym] rank1 recall asym=${hit.toDouble / n}%.3f " +
        f"(hit=$hit n=$n)")
      println(f"[imiasym] neardup recall asym=" +
        f"${annN.toDouble / math.max(exactN, 1)}%.3f " +
        f"($annN%d/$exactN%d falsePos=$falsePos%d)")
      e.unpersist(); cells.unpersist(); joined.unpersist()
      annPairs.unpersist(); exact.unpersist()
    }
    spark.stop()
  }
}
