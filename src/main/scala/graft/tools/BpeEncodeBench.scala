package graft.tools

import org.apache.spark.sql.functions._

/** Dev harness (not part of the engine surface): measure the fixpoint
  * BPE ENCODE path at production merge depth — the PERF row for the
  * round-9 encoder rewrite (plan is O(1) in merge count, so the same
  * code must run at 256+ merges; the old per-merge foldLeft could
  * not).
  *
  * Flow: read an open-vocab corpus (generate with
  * [[GenOpenVocabCorpus]] first), train `merges` merges with the
  * exact batched trainer, then time `encodeStatsFrom` end-to-end
  * (min of `reps`) and report corpus tokens/sec. Also times bare
  * PLANNING at 8 vs 4096 merges to show analysis cost is flat.
  *
  * `runMain graft.tools.BpeEncodeBench [<dir> [merges reps]]`
  */
object BpeEncodeBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_bpe_open")
    val merges = args.lift(1).map(_.toInt).getOrElse(256)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Verify.buildSession("32")
    import graft.operators.Bpe

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val nDocs = docs.count()

    var t0 = System.nanoTime()
    var rounds = 0
    val table = Bpe.trainBatched(docs, merges, batch = 32,
      onRound = (r, _) => rounds = r).localCheckpoint()
    val nLearned = table.count()
    println(f"[encbench] trained $nLearned merges in $rounds rounds, " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    def encodeOnce(m: org.apache.spark.sql.DataFrame,
        bucketed: Boolean): (Double, Long) = {
      val t = System.nanoTime()
      val row = Bpe.encodeStatsFrom(docs, m, bucketed)
        .agg(sum(col("n_tokens"))).collect()(0)
      ((System.nanoTime() - t) / 1e9, row.getLong(0))
    }
    def report(label: String, m: org.apache.spark.sql.DataFrame,
        bucketed: Boolean): Unit = {
      val runs = (1 to reps).map(_ => encodeOnce(m, bucketed))
      val best = runs.map(_._1).min
      val toks = runs.head._2
      println(f"[encbench] $label%-28s best ${best}%6.2f s = " +
        f"${toks / best / 1e6}%.2f M tokens/s ($toks%d tokens)")
    }
    report(s"flat map, depth $nLearned", table, bucketed = false)
    report(s"bucketed, depth $nLearned", table, bucketed = true)

    // lookup-miss crossover at production depth: synthetic tables whose
    // keys never match, so every probe pays the full miss cost — the
    // dominant term (most adjacent pairs are not in any merge table).
    // Measured on a 1k-doc subset: the flat map's miss cost is linear
    // in depth, so a full-corpus flat-32k run would take minutes — the
    // subset shows the crossover without running the pathology to
    // completion.
    import spark.implicits._
    val sub = docs.limit(1000).localCheckpoint()
    def encodeSub(m: org.apache.spark.sql.DataFrame,
        bucketed: Boolean, label: String): Unit = {
      val t = System.nanoTime()
      Bpe.encodeStatsFrom(sub, m, bucketed)
        .agg(sum(col("n_tokens"))).collect()
      println(f"[encbench] $label%-28s ${(System.nanoTime() - t) / 1e9}%6.2f s (1k-doc subset)")
    }
    // (flat at 32k would run ~15 min on the subset — the 4096 point
    // plus the linear-in-depth miss law already locates the pathology)
    for (n <- Seq(4096)) {
      val m = (1 to n).map(i => (i, s"l$i", s"r$i", 1L))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
        .localCheckpoint()
      encodeSub(m, bucketed = false, s"flat map, synth depth $n")
      encodeSub(m, bucketed = true, s"bucketed, synth depth $n")
    }
    // bucketed alone at production depth — stays flat
    val m32 = (1 to 32768).map(i => (i, s"l$i", s"r$i", 1L))
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      .localCheckpoint()
    encodeSub(m32, bucketed = true, "bucketed, synth depth 32768")

    // inventory probe at production depth: flat string map vs the
    // bucketed map — the symbol→id resolution stage of the token
    // emitter. Shape matters: the broadcast one-row map is COPIED into
    // every joined output row, so a 1-probe-per-row frame measures the
    // copy, not the probe; real consumers probe a whole symbol ARRAY
    // per row (per type in batch, per document in the stream), so the
    // bench amortizes the copy over 64 probes/row. Keys carry a shared
    // subword-ish prefix (real inventories share prefixes heavily) and
    // ~half the probes miss.
    {
      import graft.operators.Bpe
      for (n <- Seq(4096, 32768)) {
        val probes = spark.range(3125) // 3125 rows × 64 keys = 200k probes
          .select(transform(sequence(lit(0L), lit(63L)), j =>
            concat(lit("subword_tok_"),
              pmod(col("id") * 64 + j, lit(2L * n)) + 1)).as("ks"))
          .localCheckpoint()
        val invDf = (1 to n).map(i => (s"subword_tok_$i", i.toLong))
          .toDF("sym", "id").localCheckpoint()
        def probeOnce(bucketed: Boolean): Double = {
          val t = System.nanoTime()
          val ids =
            if (bucketed)
              probes.crossJoin(broadcast(Bpe.inventoryMapBucketed(invDf)))
                .select(aggregate(col("ks"), lit(0L), (acc, k) =>
                  acc + Bpe.bucketedSymId(col("imap"), k)).as("s"))
            else
              probes.crossJoin(broadcast(invDf.agg(map_from_entries(
                  collect_list(struct(col("sym"), col("id")))).as("imap"))))
                .select(aggregate(col("ks"), lit(0L), (acc, k) =>
                  acc + coalesce(element_at(col("imap"), k), lit(0L)))
                  .as("s"))
          ids.agg(sum(col("s"))).collect()
          (System.nanoTime() - t) / 1e9
        }
        for (b <- Seq(false, true)) {
          val best = (1 to reps).map(_ => probeOnce(b)).min
          val label =
            if (b) s"bucketed inv, $n syms" else s"flat inv, $n syms"
          println(f"[encbench] $label%-28s best ${best}%6.2f s " +
            "(200k probes, 64/row)")
        }
      }
    }

    // planning cost vs merge depth — must be flat (the O(1)-plan gate)
    def planMs(n: Int): Double = {
      val m = (1 to n).map(i => (i, s"l$i", s"r$i", 1L))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
      val t = System.nanoTime()
      Bpe.encodeStatsFrom(docs.limit(1), m).queryExecution.executedPlan
      (System.nanoTime() - t) / 1e6
    }
    println(f"[encbench] plan analysis: 8 merges ${planMs(8)}%.0f ms, " +
      f"4096 merges ${planMs(4096)}%.0f ms")
    spark.stop()
  }
}
