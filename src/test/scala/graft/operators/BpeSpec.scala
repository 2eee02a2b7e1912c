package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Bpe]] — distributed BPE induction/encode. The DuckDB oracle
  * proves the distributed fold against an independent relational
  * formulation (lead/lag run-parity); what it cannot pin is agreement
  * with the PUBLISHED algorithm's sequential scan — that reference
  * implementation lives here, plus the greedy-run edge cases and the
  * artifact/plan properties. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- plain-Scala reference (the published sequential scan form,
  // deliberately NOT the engine's fold or the oracle's parity form) ----
  private def mergeScan(syms: Vector[String], a: String, b: String)
      : Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  // the published ENCODE loop (subword-nmt): repeatedly merge the
  // lowest-RANK adjacent pair present in the table, greedily
  // left-to-right, until no adjacent pair is in the table — the
  // rank-priority fixpoint the engine's encodeFixpoint expression and
  // the oracle's recursive CTE both implement
  private def encodeFixRef(w: String, rank: Map[(String, String), Int])
      : Vector[String] = {
    var syms = w.map(_.toString).toVector :+ Bpe.Marker
    var done = false
    while (!done) {
      val prs = syms.zip(syms.tail).flatMap(rank.get)
      if (prs.isEmpty) done = true
      else {
        val br = prs.min
        val (a, b) = rank.find(_._2 == br).get._1
        syms = mergeScan(syms, a, b)
      }
    }
    syms
  }

  private def rankOf(merges: Seq[(String, String)])
      : Map[(String, String), Int] =
    merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap

  private def refTrain(freqs: Map[String, Long], n: Int)
      : Seq[(Int, String, String, Long)] = {
    var vocab = freqs.keys
      .map(w => w -> (w.map(_.toString).toVector :+ Bpe.Marker)).toMap
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + freqs(w)
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((x, y), cnt) => (-cnt, x, y) }
        out += ((r, a, b, c))
        vocab = vocab.map { case (w, s) => w -> mergeScan(s, a, b) }
        r += 1
      }
    }
    out.result()
  }

  // runs ("aaa"/"aaaa"), count ties, and nested merges ("low" family)
  private val fixtureFreqs = Map(
    "aaa" -> 5L, "aaaa" -> 3L, "banana" -> 4L, "bandana" -> 2L,
    "low" -> 7L, "lower" -> 3L, "lowest" -> 2L, "newer" -> 6L,
    "wider" -> 3L)

  private def fixtureDocs = {
    val text = fixtureFreqs.toSeq.sortBy(_._1)
      .flatMap { case (w, f) => Seq.fill(f.toInt)(w) }.mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
  }

  test("induction matches the published sequential algorithm, 12 rounds") {
    val got = Bpe.train(fixtureDocs, 12).orderBy("merge_rank").collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
    val want = refTrain(fixtureFreqs, 12)
    assert(want.length === 12, "fixture exhausts before 12 rounds")
    assert(got === want)
  }

  test("batched induction == sequential greedy at every batch size " +
    "(the strict-cutoff prefix rule is exact, not approximate)") {
    val want = refTrain(fixtureFreqs, 25) // runs to pair-space exhaustion
    for (batch <- Seq(1, 2, 4, 8, 32)) {
      val got = Bpe.trainBatched(fixtureDocs, 25, batch)
        .orderBy("merge_rank").collect()
        .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
      assert(got === want, s"batch=$batch diverged from sequential greedy")
    }
  }

  test("batched induction == the plain-Scala reference on real data (sf0.001)") {
    // word frequencies of the standing slice, counted in plain Scala
    // with the token law's Java regex
    val re = java.util.regex.Pattern.compile(Bpe.TokenRe)
    val freqs = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod =!= 0)
      .select($"text").as[String].collect().filter(_ != null)
      .flatMap { t =>
        val m = re.matcher(t)
        Iterator.continually(m).takeWhile(_.find()).map(_.group()).toSeq
      }
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val want = refTrain(freqs, Bpe.NumMerges)
    assert(want.length === Bpe.NumMerges)
    val docs = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod =!= 0)
    assert(mergeKey(Bpe.trainBatched(docs, Bpe.NumMerges, batch = 8)) === want)
    // the exact loop's final vocab: every word segmented by the
    // reference merges applied in rank order
    val (m, v) = Bpe.trainWithVocab(docs, Bpe.NumMerges)
    assert(mergeKey(m) === want)
    val gotVocab = v.select($"w", $"freq", $"syms")
      .as[(String, Long, Seq[String])].collect()
      .map { case (w, f, syms) => (w, (f, syms.toVector)) }.toMap
    SessionCache.releaseFrame(v)
    val wantVocab = freqs.map { case (w, f) =>
      w -> (f, want.foldLeft(w.map(_.toString).toVector :+ Bpe.Marker) {
        case (syms, (_, a, b, _)) => mergeScan(syms, a, b) })
    }
    assert(gotVocab === wantVocab)
  }

  // full-batch (approximate) law: the same one-hop domination rule in
  // plain Scala — deliberately NOT the engine's fold or the oracle's
  // anti-join form
  private def refTrainParallel(freqs: Map[String, Long], rounds: Int,
      k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = freqs.keys
      .map(w => w -> (w.map(_.toString).toVector :+ Bpe.Marker)).toMap
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var done = 0
    var r = 0
    var stop = false
    while (r < rounds && !stop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, syms) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + freqs(w)
      if (counts.isEmpty) stop = true
      else {
        val ranked = counts.toSeq
          .sortBy { case ((x, y), c) => (-c, x, y) }.take(k)
          .map { case ((x, y), c) => (x, y, c) }
        val accepted = ranked.zipWithIndex.collect {
          case ((a, b, c), i) if !ranked.take(i).exists { case (x, y, _) =>
            x == a || x == b || y == a || y == b } => (a, b, c)
        }
        // structural invariant the simultaneity argument rests on:
        // accepted pairs are pairwise symbol-disjoint
        val used = accepted.flatMap { case (a, b, _) => Seq(a, b) }
        assert(used.distinct.size ==
          accepted.map { case (a, b, _) => Set(a, b).size }.sum,
          s"round ${r + 1} accepted pairs share a symbol: $accepted")
        accepted.zipWithIndex.foreach { case ((a, b, c), j) =>
          out += ((done + j + 1, a, b, c)) }
        for ((a, b, _) <- accepted)
          vocab = vocab.map { case (w, s) => w -> mergeScan(s, a, b) }
        done += accepted.size
        r += 1
      }
    }
    out.result()
  }

  private def mergeKey(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("merge_rank").collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq

  test("full-batch induction matches the plain-Scala domination law " +
    "at several geometries") {
    for ((rounds, k) <- Seq((3, 4), (4, 8), (6, 3)))
      assert(mergeKey(Bpe.trainFullBatch(fixtureDocs, rounds, k)) ===
        refTrainParallel(fixtureFreqs, rounds, k), s"rounds=$rounds k=$k")
  }

  test("full-batch at k=1 degenerates to exact sequential greedy") {
    assert(mergeKey(Bpe.trainFullBatch(fixtureDocs, 12, 1)) ===
      refTrain(fixtureFreqs, 12))
  }

  test("full-batch approximation stays close to greedy on the fixture " +
    "(merge-set overlap measured, not assumed)") {
    val par = refTrainParallel(fixtureFreqs, 6, 8)
    val seq = refTrain(fixtureFreqs, par.length)
    val overlap = par.map(m => (m._2, m._3)).toSet
      .intersect(seq.map(m => (m._2, m._3)).toSet).size
    info(s"merge-set overlap vs greedy at depth ${par.length}: " +
      s"$overlap/${par.length}")
    assert(overlap > 0)
  }

  test("registered full-batch op emits consecutively ranked rows at sf0.001") {
    val rows = Bpe.bpeMergesParallel.build(spark, sf001)
      .orderBy("merge_rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Int]("merge_rank")).toSeq ===
      (1 to rows.length))
    assert(rows.map(_.getAs[Long]("pair_count")).forall(_ > 0))
  }

  test("greedy run semantics: (a,a) merges aaa -> [aa,a,_], aaaa -> [aa,aa,_]") {
    val got = Seq("aaa", "aaaa").toDF("w")
      .withColumn("syms", Bpe.initSyms(col("w")))
      .withColumn("m", Bpe.mergePair(col("syms"), lit("a"), lit("a")))
      .select($"w", $"m").as[(String, Seq[String])].collect().toMap
    assert(got("aaa") === Seq("aa", "a", Bpe.Marker))
    assert(got("aaaa") === Seq("aa", "aa", Bpe.Marker))
  }

  test("pair-space exhaustion stops the loop instead of emptying the vocab") {
    val docs = Seq((0L, "ab")).toDF("doc_id", "text")
    val got = Bpe.train(docs, 10).orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    // [a,b,_]: tie (a,b)/(b,_) breaks to (a,b); then (ab,_); then done
    assert(got.toSeq === Seq(("a", "b"), ("ab", Bpe.Marker)))
  }

  test("registered induction emits NumMerges ranked rows at sf0.001") {
    val rows = Bpe.bpeMerges.build(spark, sf001).orderBy("merge_rank")
      .collect()
    assert(rows.length === Bpe.NumMerges)
    assert(rows.map(_.getAs[Int]("merge_rank")).toSeq ===
      (1 to Bpe.NumMerges))
    val counts = rows.map(_.getAs[Long]("pair_count"))
    assert(counts.forall(_ > 0))
  }

  test("vocab inventory conserves mass: marker symbols cover every word") {
    val v = Bpe.bpeVocab.build(spark, sf001).collect()
      .map(r => r.getAs[String]("sym") -> r.getAs[Long]("n_occ")).toMap
    val nWords = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod =!= 0)
      .select(explode(regexp_extract_all($"text",
        lit(Bpe.TokenRe), lit(0))))
      .count()
    // the marker only ever merges as a SUFFIX (nothing follows it), so
    // exactly one marker-bearing symbol terminates each word occurrence
    val markerMass = v.filter(_._1.endsWith(Bpe.Marker)).map(_._2).sum
    assert(markerMass === nWords,
      s"marker mass $markerMass != standing word occurrences $nWords")
    assert(v.keys.exists(s => s.length > 1 && !s.endsWith(Bpe.Marker)),
      "expected at least one learned non-marker subword")
  }

  test("encode token counts agree with the reference fixpoint encode " +
    "per document") {
    val merges = Bpe.bpeMerges.build(spark, sf001)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    val rank = rankOf(merges.toSeq)
    val enc = Bpe.bpeEncode.build(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("n_tokens"))).toMap
    assert(enc.nonEmpty)
    val delta = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    delta.foreach { case (id, t) =>
      val ws = Bpe.TokenRe.r.findAllIn(t).toSeq
      if (ws.isEmpty) assert(!enc.contains(id))
      else {
        val tok = ws.distinct.map { w =>
          w -> encodeFixRef(w, rank).length.toLong
        }.toMap
        assert(enc(id) === ((ws.length.toLong,
          ws.map(_.length.toLong).sum, ws.map(tok).sum)),
          s"doc $id encode mismatch")
      }
    }
  }

  test("token-id sequences: the ids_fp witness reproduces the " +
    "reference scan's id stream in document order") {
    val merges = Bpe.bpeMerges.build(spark, sf001)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
    val inv = Bpe.bpeVocab.build(spark, sf001)
      .select($"sym").as[String].collect()
      .distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1).toLong }.toMap
    val got = Bpe.bpeTokens.build(spark, sf001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.nonEmpty)
    val rank = rankOf(merges.toSeq)
    val delta = graft.Tables.documents(spark, sf001)
      .filter($"doc_id" % Dedup.IncrementalDeltaMod === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    delta.foreach { case (id, t) =>
      val ws = Bpe.TokenRe.r.findAllIn(t).toSeq
      if (ws.isEmpty) assert(!got.contains(id))
      else {
        val symsOf = ws.distinct.map { w =>
          w -> encodeFixRef(w, rank)
        }.toMap
        val ids = ws.flatMap(w => symsOf(w).map(s => inv.getOrElse(s, 0L)))
        val fp = ids.foldLeft(0L)((a, x) => (a * 31 + x) % 1000000007L)
        assert(got(id) ===
          ((ids.length.toLong, ids.count(_ == 0L).toLong, fp)),
          s"doc $id token-id stream mismatch")
      }
    }
  }

  test("fertility telemetry reconciles against the per-doc encode " +
    "output, every word is at least one token") {
    val enc = Bpe.bpeEncode.build(spark, sf001)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val langOf = graft.Tables.documents(spark, sf001)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val want = enc.toSeq.groupBy { case (id, _) => langOf(id) }
      .map { case (lang, rs) =>
        val (w, c, t) = rs.map(_._2).reduce((a, b) =>
          (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        lang -> ((rs.size.toLong, w, t,
          1000L * t / w, 1000L * c / t))
      }
    val got = Bpe.bpeFertility.build(spark, sf001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // every word carries >= 1 token, so fertility can't dip under 1000
    got.values.foreach { case (_, _, _, fert, _) =>
      assert(fert >= 1000L, "fertility below one token per word")
    }
  }

  test("argmax plans per-partition top-1 over a partial aggregate") {
    val vocab = Bpe.wordFreqs(fixtureDocs)
      .withColumn("syms", Bpe.initSyms(col("w")))
    val p = Bpe.pairCounts(vocab)
      .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
      .queryExecution.executedPlan.toString()
    assert(p.contains("TakeOrderedAndProject"),
      s"argmax must plan TakeOrderedAndProject:\n$p")
    assert(p.contains("partial_sum"),
      s"pair counting must partial-aggregate map-side:\n$p")
  }

  test("encode plans a broadcast join of the type table") {
    val p = Bpe.bpeEncode.build(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"type table must broadcast:\n$p")
  }

  test("fixpoint law: a later merge's output can resurrect an " +
    "earlier-ranked pair and the encoder honors rank priority " +
    "(a rank-order 1..N sweep would differ)") {
    // rank 1 = (c, ab) is applicable only AFTER rank 2 = (a, b)
    // creates "ab": the published encode loop revisits it; applying
    // merge 1 then merge 2 once each never would
    val merges = Seq((1, "c", "ab", 1L), (2, "a", "b", 1L))
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    val got = Seq("cab").toDF("w")
      .crossJoin(broadcast(Bpe.mergeRankMap(merges)))
      .select(Bpe.encodeFixpoint(Bpe.initSyms($"w"), $"mrank").as("s"))
      .as[Seq[String]].head()
    assert(got === Seq("cab", Bpe.Marker))
    assert(got === encodeFixRef("cab",
      Map(("c", "ab") -> 1, ("a", "b") -> 2)))
    // the old per-rank sweep leaves [c, ab, _] — pinned as DIFFERENT
    val sweep = Seq("cab").toDF("w")
      .select(Bpe.mergePair(Bpe.mergePair(Bpe.initSyms($"w"),
        lit("c"), lit("ab")), lit("a"), lit("b")).as("s"))
      .as[Seq[String]].head()
    assert(sweep === Seq("c", "ab", Bpe.Marker))
  }

  test("widened surface: digits, punctuation and case are first-class " +
    "symbols — training and encode match the plain-Scala reference " +
    "on a mixed corpus") {
    val docsSeq = Seq(
      (0L, "Call 911! Call 911 now... ABC abc 3.14"),
      (1L, "x2 + y2 = z2; 911! (abc) [ABC] #tag abc ABC"),
      (2L, "aaa aaaa 12 12 12 !!! . . ."))
    val docs = docsSeq.toDF("doc_id", "text")
    val freqs = docsSeq.flatMap(d => Bpe.TokenRe.r.findAllIn(d._2))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    assert(freqs.keySet.exists(_.matches("[0-9]+")), "fixture needs digits")
    assert(freqs.keySet.exists(_.matches("[^a-zA-Z0-9\\s]")),
      "fixture needs punctuation")
    assert(freqs.keySet.contains("ABC") && freqs.keySet.contains("abc"),
      "fixture needs case distinction")
    val want = refTrain(freqs, 24)
    assert(mergeKey(Bpe.train(docs, 24)) === want,
      "training diverged on the widened surface")
    val mergesDf = want
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    val rank = want.map(m => (m._2, m._3) -> m._1).toMap
    val got = Bpe.encodeStatsFrom(docs, mergesDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    docsSeq.foreach { case (id, t) =>
      val ws = Bpe.TokenRe.r.findAllIn(t).toSeq
      val tok = ws.distinct
        .map(w => w -> encodeFixRef(w, rank).length.toLong).toMap
      assert(got(id) === ((ws.length.toLong,
        ws.map(_.length.toLong).sum, ws.map(tok).sum)),
        s"doc $id encode mismatch on the mixed corpus")
    }
  }

  test("encode plan size is O(1) in merge count — a production-depth " +
    "merge table analyzes the SAME plan (the r8 scale-killer gate)") {
    val docs = Seq((0L, "abc 123 x.y")).toDF("doc_id", "text")
    def mergesDf(n: Int) =
      (1 to n).map(i => (i, s"l$i", s"r$i", 1L))
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    def nodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case p => p }.size
    // normalize expr-ids and lambda-variable counters (global,
    // monotonically increasing) — the SHAPE is what must not grow
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.treeString.replaceAll("[0-9]+", "")
    val base = Bpe.encodeStatsFrom(docs, mergesDf(8))
    for (n <- Seq(256, 4096)) {
      val big = Bpe.encodeStatsFrom(docs, mergesDf(n))
      assert(nodes(big) === nodes(base),
        s"physical plan node count grew at $n merges")
      assert(shape(big) === shape(base),
        s"analyzed expression tree grew at $n merges")
    }
  }

  test("256-merge open-vocab tokenizer: the fixpoint encoder matches " +
    "the plain-Scala reference at production depth") {
    val rnd = new java.util.Random(7)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 600) {
      val len = 3 + rnd.nextInt(8)
      seen += Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    val vocab = seen.toVector
    val cum = vocab.indices.map(i => 1.0 / (i + 1))
      .scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): String = {
      val x = rnd.nextDouble() * total
      vocab(cum.indexWhere(_ >= x))
    }
    val docsSeq = (0 until 120).map { id =>
      (id.toLong, Seq.fill(40 + rnd.nextInt(40))(draw()).mkString(" "))
    }
    val docs = docsSeq.toDF("doc_id", "text")
    val freqs = docsSeq.flatMap(d => Bpe.TokenRe.r.findAllIn(d._2))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val want = refTrain(freqs, 256)
    assert(want.length === 256,
      "open-vocab fixture exhausted before 256 merges")
    val mergesDf = want
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    val rank = want.map(m => (m._2, m._3) -> m._1).toMap
    val got = Bpe.encodeStatsFrom(docs, mergesDf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    docsSeq.foreach { case (id, t) =>
      val ws = Bpe.TokenRe.r.findAllIn(t).toSeq
      val tok = ws.distinct
        .map(w => w -> encodeFixRef(w, rank).length.toLong).toMap
      assert(got(id) === ((ws.length.toLong,
        ws.map(_.length.toLong).sum, ws.map(tok).sum)),
        s"doc $id encode mismatch at 256 merges")
    }
  }

  test("bucketed rank-map lookup == flat map (same law, " +
    "production-depth data structure)") {
    val docsSeq = Seq(
      (0L, "Call 911! Call 911 now... ABC abc 3.14"),
      (1L, "aaa aaaa low lower lowest newer wider 12 12 !!!"))
    val docs = docsSeq.toDF("doc_id", "text")
    val freqs = docsSeq.flatMap(d => Bpe.TokenRe.r.findAllIn(d._2))
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val mergesDf = refTrain(freqs, 20)
      .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    def key(bucketed: Boolean) =
      Bpe.encodeStatsFrom(docs, mergesDf, bucketed).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    assert(key(bucketed = true) === key(bucketed = false))
    // and against the 256-deep open-vocab table via type segments
    val docWords = docs.select($"doc_id",
      explode(regexp_extract_all($"text", lit(Bpe.TokenRe), lit(0)))
        .as("w"))
    def segs(bucketed: Boolean) =
      Bpe.typeSegments(docWords, mergesDf, bucketed)
        .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    assert(segs(bucketed = true) === segs(bucketed = false))
  }

  test("bucketed inventory-map probe == flat map lookup, hits AND " +
    "misses (unk = 0), at a 4096-symbol synthetic inventory") {
    // inventory: syms s1..s4096 with ids 1..4096; probes: every 97th
    // symbol (hits across all buckets) plus misses that share buckets
    val inv = (1 to 4096).map(i => (s"s$i", i.toLong)).toDF("sym", "id")
    val probes = ((1 to 4096 by 97).map(i => s"s$i") ++
      Seq("zz", "s0", "s4097", "")).toDF("k")
    val flat = inv.agg(map_from_entries(
      collect_list(struct($"sym", $"id"))).as("fmap"))
    val got = probes
      .crossJoin(broadcast(Bpe.inventoryMapBucketed(inv)))
      .crossJoin(broadcast(flat))
      .select($"k", Bpe.bucketedSymId($"imap", $"k").as("b"),
        coalesce(element_at($"fmap", $"k"), lit(0L)).as("f"))
      .collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"probe ${r.getString(0)}: bucketed ${r.getLong(1)} != " +
        s"flat ${r.getLong(2)}"))
    assert(got.count(_.getLong(1) === 0L) === 4,
      "exactly the four out-of-inventory probes map to unk")
  }

  test("per-class fertility reconciles with the encode totals " +
    "(the letter-only driver corpus collapses to one class)") {
    val rows = Bpe.bpeFertilityClass.build(spark, sf001).collect()
    assert(rows.map(_.getAs[String]("tok_class")).toSet === Set("letter"),
      "driver testdata is letter-only; mixed classes belong to the " +
        "mixed-corpus spec")
    val enc = Bpe.bpeEncode.build(spark, sf001).collect()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum ===
      enc.map(_.getAs[Long]("n_tokens")).sum)
    assert(rows.map(_.getAs[Long]("n_words")).sum ===
      enc.map(_.getAs[Long]("n_words")).sum)
    rows.foreach { r =>
      assert(r.getAs[Long]("fert_permille") ===
        1000L * r.getAs[Long]("n_tokens") / r.getAs[Long]("n_words"))
    }
  }
}
