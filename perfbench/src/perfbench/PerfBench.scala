package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynth
import graft.pipeline.Pipeline
import graft.resolve.Resolution

/** Times one build that `graft.pipeline.Main` ships — `Pipeline.run` into a
  * fresh flat catalog — in this JVM at `local[cores]`, and checks its output.
  *
  *   perfbench.PerfBench --workload W --seed N --trace 0|1 --work DIR --cores N
  *
  * Prints one JSON line: the output check, the catalog's table digests, the
  * build's sample and, when traced, the per-layer metrics. `perfbench/run.py`
  * runs one JVM per repetition and aggregates. Exits 4 when the build emits
  * a stage the layer map does not cover.
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, trace: Boolean, work: Path, cores: Int)

  /** Pages of the `full_build` corpus. Each untraced repetition is a cold
    * JVM, and at this size its build is mostly per-stage fixed cost and JVM
    * warm-up rather than work that grows with the pages (warm on 4 cores:
    * 200 pages 20.5 s, 2,000 pages 19–21 s, 4,000 pages 23 s); a corpus
    * large enough for the data to dominate would not fit the run budget.
    */
  val FullPages = 2000

  /** Corpus of a workload: `full_build` has Main's default shape (clusters
    * = pages/10); `entity_dense` half the pages over 8 clusters a page, a
    * long tail of about 7 distinct entities a page.
    */
  def corpusOf(workload: String, seed: Long): CorpusSynth.Config = workload match {
    case "full_build" =>
      CorpusSynth.Config(seed = seed, nPages = FullPages, nClusters = FullPages / 10)
    case "entity_dense" =>
      CorpusSynth.Config(seed = seed, nPages = FullPages / 2, nClusters = FullPages * 4)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Map.empty)
    val spark = session(o)
    val sessionS = Host.uptimeSeconds()
    try println(run(spark, o, sessionS))
    catch {
      case e: Layers.Uncovered =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        spark.stop()
        sys.exit(4)
    } finally spark.stop()
  }

  /** Main's session confs; only the scratch locations are the benchmark's. */
  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "5000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def run(spark: SparkSession, o: Opts, sessionS: Double): String = {
    val corpus = corpusOf(o.workload, o.seed)
    val cfg = Pipeline.Config(corpus = corpus, outDir = o.work.resolve("catalog").toString,
      runId = "timed")
    // An untraced build is the first of its JVM, as each run of Main is.
    // A traced build is the second: set-up first builds the same corpus
    // into a scratch catalog, so the stage spans run as warm as the layer
    // calls they are compared with.
    val t0 = System.nanoTime()
    val warmup = if (o.trace) Some(Sample.time(Pipeline.run(spark,
      cfg.copy(outDir = o.work.resolve("warmup").toString, runId = "warmup")))._2) else None
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9

    val log = if (o.trace) Some(JobLog.install(spark)) else None
    val (res, sample) = JobLog.inGroup(spark, "build")(Sample.time(Pipeline.run(spark, cfg)))
    Layers.requireCovered(res.stages.map(_.stage))

    // the two checks run side by side: each is a few small jobs
    val c0 = System.nanoTime()
    val qf = Future(Checks.quality(res.catalog, corpus))
    val digests = Checks.digests(res.catalog)
    val q = Await.result(qf, Duration.Inf)
    if (!q.passes) System.err.println(s"[perfbench] output check failed: $q")
    val triples = res.stages.find(_.stage == "resolved_triples").get.rows
    System.err.println(f"[perfbench] set-up $setupS%.1f s, build ${sample.wallS}%.1f s, " +
      f"checks ${(System.nanoTime() - c0) / 1e9}%.1f s")
    val layers = for (l <- log; w <- warmup) yield traced(spark, cfg, res, sample, w, l)

    val values = Seq("setup_s" -> setupS, "wall_s" -> sample.wallS, "cpu_s" -> sample.cpuS,
      "peak_mem_mb" -> sample.peakMemMb, "gc_s" -> sample.gcS, "steal_s" -> sample.stealS,
      "triples" -> triples.toDouble, "triple_precision" -> q.triplePrecision,
      "triple_recall" -> q.tripleRecall, "link_precision" -> q.linkPrecision,
      "link_recall" -> q.linkRecall)
    val digest = digests.toSeq.sorted.map { case (t, d) => s"$t=$d" }.mkString(";")
    s"""{"ok":${q.passes},"digest":"$digest","sample":${Json.obj(values)},""" +
      s""""layers":${Json.obj(layers.getOrElse(Nil))}}"""
  }

  /** Per-layer metrics of the traced repetition: its stage spans from the
    * catalog's lineage rows, then each layer's public functions called on
    * the output catalog's input tables.
    */
  private def traced(spark: SparkSession, cfg: Pipeline.Config, res: Pipeline.Result,
      sample: Sample, warmup: Sample, log: JobLog): Seq[(String, Double)] = {
    val cat = res.catalog
    final case class Span(table: String, startMs: Long, endMs: Long) {
      def wallS: Double = (endMs - startMs) / 1e3
    }
    val spans = cat.lineage().where(col("run_id") === cfg.runId).collect().toSeq.map { r =>
      val end = r.getAs[java.sql.Timestamp]("finished_at").getTime
      Span(r.getAs[String]("stage"), end - r.getAs[Long]("wall_ms"), end)
    }
    val buildJobs = JobLog.groupJobs(spark, log, "build")
    val m = mutable.LinkedHashMap.empty[String, Double]
    for (t <- Layers.StageTables) {
      val ss = spans.filter(_.table == t)
      m(s"stage.$t.wall_s") = ss.map(_.wallS).sum
      m(s"stage.$t.jobs") = ss.map(s => buildJobs.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs)).sum.toDouble
    }

    final case class Cost(wallS: Double, cpuS: Double, jobs: Seq[JobLog#Job])
    def timed(group: String)(op: => Unit): Cost = {
      val c0 = Host.cpuSeconds()
      val t0 = System.nanoTime()
      JobLog.inGroup(spark, group)(op)
      val wall = (System.nanoTime() - t0) / 1e9
      Cost(wall, Host.cpuSeconds() - c0, JobLog.groupJobs(spark, log, group))
    }

    // each layer's public calls on the catalog's input tables, after two
    // builds have warmed their code: the traced pass, then an untraced pass
    // for the tracing overhead (a third build per traced run, to time the
    // build both ways, would not fit the run budget)
    val nEntities = cat.read("embeddings").count()
    // the geometry `Pipeline` derives for a flat catalog's entity count
    val er = Resolution.scaledParams(cfg.er, nEntities)
    def newCalls = new Layers.Calls(cat, cfg, er)
    def untracedPass(): Double = {
      spark.sparkContext.removeSparkListener(log)
      try newCalls.all.map { c =>
        val t0 = System.nanoTime()
        c.run()
        (System.nanoTime() - t0) / 1e9
      }.sum
      finally spark.sparkContext.addSparkListener(log)
    }
    val calls = newCalls
    val cost = calls.all.map(c => c.name -> timed(s"layer:${c.name}")(c.run())).toMap
    for (layer <- Layers.Timed) {
      val cs = calls.all.filter(_.layer == layer).map(c => cost(c.name))
      val st = JobLog.stats(spark, log, cs.flatMap(_.jobs))
      m(s"$layer.wall_s") = cs.map(_.wallS).sum
      m(s"$layer.cpu_s") = cs.map(_.cpuS).sum
      m(s"$layer.jobs") = st.jobs.toDouble
      m(s"$layer.shuffle_mb") = st.shuffleMb
      m(s"$layer.spill_mb") = st.spillMb
      m(s"$layer.skew") = st.skew
    }
    // the generator inside the pages stage
    val corpusCost = timed("layer:corpus")(Layers.sink(CorpusSynth.pages(spark, cfg.corpus).toDF()))
    m("corpus.wall_s") = corpusCost.wallS

    // everything else the build did — Catalog writes and lineage, inside
    // the stage spans and between them — is the pipeline layer's
    val layerCosts = cost.values.toSeq :+ corpusCost
    val written = cat.fileMetrics().where(col("run_id") === cfg.runId)
      .agg(coalesce(sum(col("bytes")), lit(0L))).collect()(0).getLong(0)
    m("pipeline.wall_s") = sample.wallS - layerCosts.map(_.wallS).sum
    m("pipeline.cpu_s") = sample.cpuS - layerCosts.map(_.cpuS).sum
    m("pipeline.jobs") = (buildJobs.size - layerCosts.map(_.jobs.size).sum).toDouble
    m("pipeline.written_mb") = written / 1048576.0

    // ER sub-layers over the whole embeddings table; blocking is counted
    // from outside the program
    val emb = cat.read("embeddings")
    var blocking: Layers.Blocking = null
    val blockingCost = timed("sub:blocking") { blocking = Layers.blocking(emb, er) }
    val ccCost = timed("sub:cc") {
      Layers.sink(Resolution.connectedComponents(cat.read("entities").select("entity_id"),
        cat.read("candidate_pairs")))
    }
    m("resolve.blocking_s") = blockingCost.wallS
    m("resolve.scoring_s") = cost("Resolution.candidatePairs").wallS - blockingCost.wallS
    m("resolve.cc_s") = ccCost.wallS
    m("resolve.blocked_pairs") = blocking.pairs.toDouble
    m("resolve.pair_yield") =
      if (blocking.pairs > 0) Layers.keptPairs(cat.read("candidate_pairs")).toDouble / blocking.pairs else 0.0
    m("resolve.buckets_pruned") = blocking.bucketsPruned.toDouble
    m("resolve.map_side") = if (Layers.mapSide(spark, er, nEntities)) 1.0 else 0.0
    m("resolve.params_capped") = if (Layers.paramsCapped(cfg.er, nEntities)) 1.0 else 0.0

    m("community.louvain_s") = cost("Louvain.run").wallS
    m("community.summarize_s") = cost("Summarize.describeAll").wallS
    m("community.levels") = calls.louvain.levels.size.toDouble

    m("jvm.gc_s") = sample.gcS
    m("jvm.steal_s") = sample.stealS
    m("jvm.peak_mem_mb") = sample.peakMemMb
    m("jvm.warmup_s") = warmup.wallS - sample.wallS
    m("trace.unaccounted_s") = sample.wallS - spans.map(_.wallS).sum
    m("trace.overhead_ratio") = cost.values.map(_.wallS).sum / untracedPass()
    m.toSeq
  }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Opts = args match {
    case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
    case Nil =>
      def need(k: String) = acc.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
      val workload = need("workload")
      corpusOf(workload, 0L)
      Opts(workload, need("seed").toLong, need("trace") == "1",
        Paths.get(need("work")).toAbsolutePath, need("cores").toInt)
    case other => throw new IllegalArgumentException(s"unrecognized arguments: ${other.mkString(" ")}")
  }
}

/** Just enough JSON for flat objects of numbers. */
object Json {
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    java.lang.Double.toString(d)
  }
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
}
