package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Imi, Similarity}

/** Dev harness (not part of the engine surface): split the trained
  * kNN tail's cost — canopy scan, co-cell row volume (the pair-scoring
  * multiplicity), distinct pair volume, and the full tail — to locate
  * where `q_knn_graph_trained`'s wall-clock goes.
  * `runMain graft.tools.ImiTailProbe <sfDir>`
  */
object ImiTailProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[imitail] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  -> $r")
      r
    }
    val cells = Imi.trainedCanopy(spark, dir)
    t("canopy rows")(cells.count())
    t("canopy rows (warm)")(cells.count())
    val pa = cells.select(col("cell"), col("vec_id").as("src"))
    val pb = cells.select(col("cell"), col("vec_id").as("dst"))
    t("co-cell rows (ids only)")(
      pa.join(pb, Seq("cell")).filter(col("src") =!= col("dst")).count())
    t("distinct pairs (ids only)")(
      pa.join(pb, Seq("cell")).filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct().count())
    val va = cells.select(col("cell"), col("vec_id").as("src"),
      col("v").as("vs"), col("n2").as("ns"))
    val vb = cells.select(col("cell"), col("vec_id").as("dst"),
      col("v").as("vd"), col("n2").as("nd"))
    t("co-cell rows (vectors ride)")(
      va.join(vb, Seq("cell")).filter(col("src") =!= col("dst")).count())
    t("scored co-cell rows")(
      va.join(vb, Seq("cell")).filter(col("src") =!= col("dst"))
        .select(col("cell"), col("src"), col("dst"),
          Similarity.cosine(Similarity.idot(col("vs"), col("vd")),
            col("ns"), col("nd")).as("cos"))
        .filter(col("cos") > -2.0).count())
    t("full knn tail (via op)")(
      Imi.knnGraphTrained.build(spark, dir).count())

    // ROW-LOCAL variant: group members per cell ONCE (one shuffle of
    // |cells| member rows, vectors moved once), compute each member's
    // per-cell top-k inside the grouped row via HOFs, then the same
    // global skinny merge.
    val k = 5
    t("rowlocal knn tail") {
      val ms = cells
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("vec_id"), col("v"), col("n2")))
          .as("ms"))
      val perCell = ms.select(col("cell"), explode(transform(col("ms"),
        s => struct(s.getField("vec_id").as("src"),
          slice(array_sort(transform(
            filter(col("ms"),
              m => m.getField("vec_id") =!= s.getField("vec_id")),
            m => {
              val c = Similarity.cosine(
                Similarity.idot(s.getField("v"), m.getField("v")),
                s.getField("n2"), m.getField("n2"))
              struct(negate(c).as("ncos"),
                m.getField("vec_id").as("nn_id"))
            })), 1, k).as("t")))).as("e"))
        .select(col("e.src").as("src"), col("e.t").as("t"))
      perCell.groupBy(col("src"))
        .agg(slice(array_distinct(array_sort(flatten(collect_list(col("t"))))),
          1, k).as("top"))
        .select(col("src").as("vec_id"), posexplode(col("top")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.nn_id").as("nn_id"), negate(col("col.ncos")).as("cos"))
        .count()
    }
    spark.stop()
  }
}
