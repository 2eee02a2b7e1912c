package graft.tools


/** Dev profiler: is q_ngram_jaccard's cost the repeated shingle explode
  * (recomputed per consumer stage) or the candidate join itself? Times
  * the registered op as-is against a variant whose shingle rows are
  * persisted once. */
object ProfileJaccard {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Verify.buildSession("32")
    def timed[T](tag: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[profile] $tag%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // warm
    graft.operators.Dedup.ngramJaccard.build(spark, "/root/testdata/sf0.001").count()
    for (r <- 1 to 2)
      timed(s"q_ngram_jaccard as-is r$r") {
        graft.operators.Dedup.ngramJaccard.build(spark, dir).count()
      }
    spark.stop()
  }
}
