package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.{TxCommit, TxStore}

/** The repo benchmark's JVM side: one workload over a corpus that
  * run.py generated, timed from outside the engine through its public
  * functions. Writes every raw timing, span and output path to
  * `<work>/raw.json`; run.py turns them into metrics and checks the
  * outputs against the DuckDB oracles.
  *
  * Usage: BenchMain --workload W --corpus DIR --work DIR --seconds S
  *                  --trace 0|1 --cpus N
  */
object BenchMain {

  final case class Args(workload: String, corpus: String, work: String,
      seconds: Double, trace: Boolean, cpus: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--corpus"), get("--work"),
      get("--seconds").toDouble, get("--trace") == "1",
      get("--cpus").toInt)
  }

  /** Wall clock in epoch ms with sub-ms resolution (monotonic within
    * the run; task launch/finish times from Spark are epoch ms). */
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6
  def msOf(ns: Long): Double = wall0 + (ns - nano0) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val trace = new Trace(args.trace)
    val spark = graft.EngineConf.tuned(SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listeners = new Trace.Listeners(spark, trace)
    val out = new Raw
    out.put("workload", args.workload)
    out.put("trace", args.trace)
    out.put("cpus", args.cpus)
    out.put("spark_version", spark.version)
    out.put("java_version", System.getProperty("java.version"))
    out.put("scala_version", scala.util.Properties.versionNumberString)
    out.put("driver_max_heap_mb",
      Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    out.put("jvm_start_ms", jvmStartMs)
    val run = new Run(spark, args, trace, listeners, out)
    try {
      args.workload match {
        case "nightly_chain" => run.nightlyChain()
        case "curation_batch" => run.curationBatch()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (args.trace) run.kernels()
      out.put("spans", trace.spans.map(run.spanJson))
      out.put("vm_hwm_kb", vmHwmKb())
      out.put("ok", true)
    } finally {
      out.write(Paths.get(args.work, "raw.json"))
      graft.streaming.EventStream.stopLiveQueries(spark)
      spark.stop()
    }
  }

  /** Peak resident set of this process (VmHWM), in kB. */
  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** Minimal JSON writer for the raw artifact. */
  final class Raw {
    private val fields = ArrayBuffer.empty[(String, Any)]
    def put(k: String, v: Any): Unit = fields.synchronized {
      fields += (k -> v)
    }
    def write(p: Path): Unit =
      Files.writeString(p, Raw.render(fields.toList.toMap))
  }

  object Raw {
    def render(v: Any): String = v match {
      case null => "null"
      case s: String => graft.Verify.jsonEscape(s)
      case b: Boolean => b.toString
      case d: Double =>
        if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => render(f.toDouble)
      case n: Int => n.toString
      case n: Long => n.toString
      case m: Map[_, _] => m.map { case (k, x) =>
          s"${graft.Verify.jsonEscape(k.toString)}:${render(x)}"
        }.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
      case p: Product => render(p.productIterator.toList)
      case x => graft.Verify.jsonEscape(x.toString)
    }
  }
}

/** One process's run of one workload. */
final class Run(spark: SparkSession, args: BenchMain.Args, trace: Trace,
    listeners: Trace.Listeners, out: BenchMain.Raw) {
  import BenchMain.{msOf, nowMs}

  private val sc = spark.sparkContext
  private val work = args.work
  private val main = s"${args.corpus}/main"

  private def span[T](name: String)(body: => T): T =
    trace.span(sc, name)(body)

  /** Registered op outputs kept for the oracle check: name → parquet
    * dir holding what the op's public reader returned. */
  private val outputs = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0L

  /** Run one registered op, counting it; a thrown op counts as failed
    * and the workload carries on. */
  private def attempt(name: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failures += name
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
    }
  }

  /** Corpus registration: every table's footer read once, so the set-up
    * phase pays the listing and schema work the first op would. */
  private def register(dir: String): Unit =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => spark.read.parquet(f.getPath).schema)

  private var setupDone = false
  private def endSetup(): Unit = if (!setupDone) {
    setupDone = true
    out.put("setup_end_ms", nowMs())
  }

  private val passes = ArrayBuffer.empty[Map[String, Any]]

  /** One timed pass over `rows` input rows; the listeners count only
    * inside passes. */
  private def pass(rows: Long)(body: => Unit): Unit = {
    listeners.setActive(true)
    val t0 = nowMs()
    span("pass")(body)
    val t1 = nowMs()
    listeners.drain()
    listeners.setActive(false)
    passes += Map("start_ms" -> t0, "end_ms" -> t1, "rows" -> rows)
  }

  private def finish(extra: Map[String, Any] = Map.empty): Unit = {
    out.put("passes", passes.toList)
    out.put("outputs", outputs.toMap)
    out.put("oracles", outputs.keys.flatMap(n =>
      opsByName.get(n).flatMap(_.oracle).map(n -> _)).toMap)
    out.put("attempted", attempted)
    out.put("failed_ops", failures.toList)
    val infos = sc.getRDDStorageInfo
    out.put("cache_mem_bytes", infos.map(_.memSize).sum)
    out.put("cache_disk_bytes", infos.map(_.diskSize).sum)
    out.put("plan_ms", listeners.plans.planMs.get)
    out.put("microbatches", listeners.streams.batches.get)
    out.put("empty_microbatches", listeners.streams.empty.get)
    out.put("unattributed", countersJson(countersOf(0L)))
    out.put("task_intervals", listeners.tasks.taskIntervals.synchronized(
      listeners.tasks.taskIntervals.toList))
    extra.foreach { case (k, v) => out.put(k, v) }
  }

  private lazy val opsByName: Map[String, Op] =
    graft.SparkEntry.ops.map(o => o.name -> o).toMap

  private def countersJson(c: Trace.Counters): Map[String, Any] =
    Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
      "shuffle_read" -> c.shuffleRead, "shuffle_write" -> c.shuffleWrite,
      "spill" -> c.spill, "input_bytes" -> c.inputBytes,
      "output_bytes" -> c.outputBytes)

  private def countersOf(id: Long): Trace.Counters =
    Option(listeners.tasks.perSpan.get(id)).getOrElse(new Trace.Counters)

  def spanJson(s: Trace.Span): Map[String, Any] =
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> msOf(s.startNs), "end_ms" -> msOf(s.endNs)) ++
      countersJson(countersOf(s.id))

  /** Keep `df` (an op's result as its public reader returns it) for the
    * oracle check; outside the timed region. */
  private def keep(name: String, df: DataFrame): Unit = {
    val p = s"$work/check/$name"
    df.write.mode("overwrite").parquet(p)
    outputs(name) = p
  }

  private def timeUp(t0: Double): Boolean =
    nowMs() - t0 >= args.seconds * 1000.0

  // ---------------------------------------------------------------- chain

  /** The reference's nightly cron product as one chain of registered
    * ops, each stage committed as one transaction. */
  private val chainStages: Seq[(String, Seq[Op])] = Seq(
    "import" -> Seq(IngestOps.csvRoundtrip),
    "normalize" -> Seq(Normalize.snapshotNormalize, Normalize.antiJoin),
    "best_of_day" -> Seq(Pricing.bestOfDay),
    "rollup" -> Seq(Rollup.rollup),
    "revalue" -> Seq(Revalue.revalueUsers, Revalue.unionTagged),
    "feed" -> Seq(Feeds.feedExport))

  /** One chain pass into the transactional store at `root`: per stage,
    * stage every op's output under one transaction and commit it. */
  private def chainPass(dir: String, root: String): Unit =
    chainStages.foreach { case (stage, ops) =>
      attempt(stage)(span(s"chain.$stage") {
        val txn = TxCommit.begin(spark, root)
        val staged = ops.flatMap(op =>
          TxStore.stageFull(txn, op.name, op.build(spark, dir)))
        val ok = span("sources.commit") {
          TxCommit.commit(spark, txn, TxCommit.latest(spark, root) ++ staged)
        }
        require(ok, s"lost the commit race at $root")
      })
    }

  def nightlyChain(): Unit = {
    register(main)
    val rows = spark.read.parquet(s"$main/lineitem.parquet").count()
    endSetup()
    val t0 = nowMs()
    var k = 0
    while (k == 0 || !timeUp(t0)) {
      val root = s"$work/tx/pass-$k"
      pass(rows)(chainPass(main, root))
      k += 1
    }
    // correctness, outside the timed region: re-read every committed
    // output of the last pass through the manifest
    val root = s"$work/tx/pass-${k - 1}"
    for ((stage, ops) <- chainStages if !failures.contains(stage); op <- ops)
      keep(op.name, TxCommit.read(spark, root, op.name))
    finish(Map("input_rows" -> rows, "store_dirs" -> Seq(main)))
  }

  // ------------------------------------------------------------- curation

  /** The shared index functions behind the session caches and persisted
    * stores that the curation and stream ops reuse. */
  private def indexFns(dir: String): Seq[(String, () => Unit)] = Seq(
    "minhash" -> (() => { Dedup.minhashIndex(spark, dir); () }),
    "quality_model" -> (() => { QualityModel.standingModel(spark, dir); () }),
    "bpe_merges" -> (() => { Bpe.standingMerges(spark, dir); () }),
    "imi_canopy" -> (() => { Imi.trainedCanopy(spark, dir).count(); () }))

  private def buildIndexes(dir: String): Unit =
    indexFns(dir).foreach { case (n, f) =>
      val layer = if (n == "imi_canopy") "vector.build" else "cache.build"
      span(layer)(span(s"cache.build.$n")(f()))
    }

  private def hitIndexes(dir: String): Unit =
    indexFns(dir).foreach { case (n, f) => span(s"cache.hit.$n")(f()) }

  /** Curation ops in pipeline order with the layer span each runs in. */
  private val curationOps: Seq[(String, Op)] = Seq(
    "dedup.lsh" -> Dedup.dedupExact,
    "dedup.lsh" -> Dedup.minhashLsh,
    "dedup.cluster" -> GraphOps.dupClusters,
    "dedup.cluster" -> GraphOps.clusterRep,
    "text.quality" -> QualityModel.qualityScore,
    "text.decontam" -> Curation.decontaminate,
    "text.quality" -> Curation.cleanCorpus,
    "text.bpe" -> Bpe.bpeEncode,
    "curation.pack" -> Curation.packSequences,
    "curation.pack" -> Curation.shardManifest,
    "vector.probe" -> Imi.semdedupTrained,
    "vector.probe" -> Imi.knnGraphTrained)

  /** Stream legs over the same corpus: each registered op's first call
    * starts its query and drains the corpus through it into its sink. */
  private val streamOps: Seq[(String, Op)] = Seq(
    "quality" -> StreamingOps.streamQuality,
    "bpe_encode" -> StreamingOps.streamBpeEncode,
    "bm25" -> StreamingOps.streamBm25,
    "tx" -> StreamingOps.streamTx)

  private def curationPass(dir: String, sink: String): Unit = {
    def run(op: Op): Unit = attempt(op.name) {
      op.build(spark, dir).write.mode("overwrite").parquet(s"$sink/${op.name}")
    }
    buildIndexes(dir)
    curationOps.foreach { case (layer, op) => span(layer)(span(op.name)(run(op))) }
    streamOps.foreach { case (runner, op) => span(s"stream.drain.$runner")(run(op)) }
    graft.streaming.EventStream.stopLiveQueries(spark)
    hitIndexes(dir)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def curationBatch(): Unit = {
    register(main)
    val docs = spark.read.parquet(s"$main/documents.parquet").count()
    endSetup()
    val t0 = nowMs()
    var k = 0
    while (k == 0 || !timeUp(t0)) {
      // each pass starts cold: a fresh copy of the corpus has its own
      // cache scopes and persisted-store roots (both keyed by dir)
      val dir = s"$work/pass-$k"
      copyTree(Paths.get(main), Paths.get(dir))
      pass(docs)(curationPass(dir, s"$work/sink-$k"))
      k += 1
    }
    (curationOps ++ streamOps).foreach { case (_, op) =>
      if (!failures.contains(op.name))
        outputs(op.name) = s"$work/sink-${k - 1}/${op.name}"
    }
    finish(Map("input_rows" -> docs,
      "store_dirs" -> Seq(s"$work/pass-${k - 1}")))
  }

  // -------------------------------------------------------------- kernels

  /** The native expressions, each a SQL select through its registered
    * function over a generated frame: median ns per row of three runs,
    * with the input bytes per row. */
  def kernels(): Unit = {
    import org.apache.spark.sql.functions._
    val n = 2000000L
    val nv = 100000L
    spark.range(n).select(col("id"), (col("id") % 5000).as("g"),
        xxhash64(col("id")).as("v"),
        concat(lit("doc "), col("id").cast("string"), lit(" text body "),
          (col("id") * 7919 % 100003).cast("string")).as("s"))
      .localCheckpoint().createOrReplaceTempView("pb_rows")
    spark.range(nv).select(col("id"), (col("id") % 100).as("g"),
        expr("transform(sequence(1, 64), i -> xxhash64(id, i) % 1000)").as("a"),
        expr("transform(sequence(1, 64), i -> xxhash64(id + 1, i) % 1000)").as("b"))
      .localCheckpoint().createOrReplaceTempView("pb_vecs")
    val cases = Seq(
      ("topk", n, 8.0 + 8.0,
        "SELECT g, graft_topk(struct(v, id), 1) AS t FROM pb_rows GROUP BY g"),
      ("dot", nv, 2 * 64 * 8.0,
        "SELECT graft_dot(a, b) AS d FROM pb_vecs"),
      ("vecsum", nv, 64 * 8.0,
        "SELECT g, graft_vecsum(a) AS s FROM pb_vecs GROUP BY g"),
      ("fingerprint", n, spark.table("pb_rows")
        .agg(avg(length(col("s")))).head.getDouble(0),
        "SELECT graft_fingerprint(s) AS f FROM pb_rows"))
    val res = cases.map { case (k, rows, bytes, sql) =>
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        span(s"kernel.$k")(spark.sql(sql).write.format("noop")
          .mode("overwrite").save())
        (System.nanoTime() - t0).toDouble
      }.sorted
      k -> Map("ns_row" -> times(1) / rows, "bytes_row" -> bytes)
    }.toMap
    out.put("kernels", res)
  }
}
