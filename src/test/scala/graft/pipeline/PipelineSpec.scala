package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Encoders, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.corpus.CorpusSynth
import graft.model.{FileMetricsRow, LineageRow}
import graft.operators.GraphAssembly

/** End-to-end golden-corpus gate (FIXTURES.md §2, BASELINE.md targets):
  * triple P/R ≥ 0.95 and entity-link P/R ≥ 0.95 against planted truth,
  * byte-identical text per url, resume-from-lineage, determinism.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(tag: String) =
    Files.createTempDirectory(s"graft-$tag").toString

  private val corpusCfg = CorpusSynth.Config(seed = 42L, nPages = 120, nClusters = 15)

  private lazy val result: Pipeline.Result = {
    val cfg = Pipeline.Config(
      corpus = corpusCfg,
      er = graft.resolve.Resolution.Params(dim = 512),
      outDir = tmpDir("pipe"), runId = "t1")
    Pipeline.run(spark, cfg)
  }

  test("pipeline runs end-to-end and emits resolved triples") {
    val n = result.resolvedTriples.count()
    assert(n > 0)
  }

  test("triple P/R vs golden ≥ 0.95") {
    import spark.implicits._
    val got = result.resolvedTriples.toDF()
      .where($"pred" =!= GraphAssembly.CoOccurrencePred)
      .select("subj", "pred", "obj").distinct()
    val goldenAll = CorpusSynth.goldenTriplesAll(spark, corpusCfg)
      .select($"subj_canonical".as("subj"), $"pred", $"obj_canonical".as("obj")).distinct()

    val gotN = got.count().toDouble
    val goldN = goldenAll.count().toDouble
    val hit = got.join(goldenAll, Seq("subj", "pred", "obj"), "left_semi").count().toDouble
    val precision = hit / gotN
    val recall = hit / goldN
    info(f"triples: got=$gotN%.0f golden=$goldN%.0f hit=$hit%.0f P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("entity-link P/R vs golden ≥ 0.95") {
    import spark.implicits._
    val res = result.catalog.read("resolves_to")
    // predicted same-cluster pairs: all (a<b) sharing a canonical id
    val a = res.select($"entity_id".as("entity_id_a"), $"canonical_id")
    val b = res.select($"entity_id".as("entity_id_b"), $"canonical_id")
    val predicted = a.join(b, "canonical_id")
      .where($"entity_id_a" < $"entity_id_b")
      .select("entity_id_a", "entity_id_b").distinct()

    // golden pairs restricted to entities that actually appear in the corpus
    val present = res.select($"entity_id").distinct()
    val golden = CorpusSynth.goldenLinks(spark, corpusCfg).toDF()
      .join(present.withColumnRenamed("entity_id", "entity_id_a"), Seq("entity_id_a"), "left_semi")
      .join(present.withColumnRenamed("entity_id", "entity_id_b"), Seq("entity_id_b"), "left_semi")

    val predN = predicted.count().toDouble
    val goldN = golden.count().toDouble
    val hit = predicted.join(golden, Seq("entity_id_a", "entity_id_b"), "left_semi").count().toDouble
    val precision = hit / predN
    val recall = hit / goldN
    info(f"links: pred=$predN%.0f golden=$goldN%.0f hit=$hit%.0f P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("per-row invariant: stored text is byte-identical to html extraction") {
    import spark.implicits._
    val pages = result.catalog.read("pages")
    val mismatches = pages.as[graft.model.Page]
      .filter(p => !CorpusSynth.roundTrip(p))
      .count()
    assert(mismatches == 0)
  }

  test("resume skips completed stages") {
    val out = tmpDir("resume")
    val cfg = Pipeline.Config(corpus = CorpusSynth.Config(nPages = 30, nClusters = 6),
      er = graft.resolve.Resolution.Params(dim = 256),
      outDir = out, runId = "r1")
    val first = Pipeline.run(spark, cfg)
    assert(first.stages.forall(!_.skipped))
    val second = Pipeline.run(spark, cfg.copy(runId = "r2", resume = true))
    assert(second.stages.forall(_.skipped), s"stages re-ran: ${second.stages.filter(!_.skipped)}")
    // changed config invalidates downstream stages
    val third = Pipeline.run(spark,
      cfg.copy(runId = "r3", resume = true, corpus = cfg.corpus.copy(nPages = 31)))
    assert(third.stages.forall(!_.skipped))
  }

  test("pipeline output is deterministic across runs") {
    import spark.implicits._
    val cfg1 = Pipeline.Config(corpus = CorpusSynth.Config(nPages = 40, nClusters = 8),
      er = graft.resolve.Resolution.Params(dim = 256),
      outDir = tmpDir("det1"), runId = "d1")
    val cfg2 = cfg1.copy(outDir = tmpDir("det2"), runId = "d2")
    val t1 = Pipeline.run(spark, cfg1).resolvedTriples
    val t2 = Pipeline.run(spark, cfg2).resolvedTriples
    assert(t1.exceptAll(t2).isEmpty && t2.exceptAll(t1).isEmpty)
  }

  test("lineage records every stage with rows and wall time") {
    val lin = result.catalog.lineage()
    val stages = lin.select("stage").distinct().count()
    assert(stages >= 12)
    assert(lin.where(col("rows_out") < 0).count() == 0)
  }

  test("per-partition file metrics cover every stage and reconcile with lineage row counts") {
    val fm = result.catalog.fileMetrics()
    val lin = result.catalog.lineage()
    val linStages = lin.select("stage").distinct().collect().map(_.getString(0)).toSet
    val fmStages = fm.select("stage").distinct().collect().map(_.getString(0)).toSet
    // every committed stage table has at least one per-file metrics row
    assert(linStages.subsetOf(fmStages), s"stages missing file metrics: ${linStages -- fmStages}")
    // bytes come from the FS listing — every file was found there
    assert(fm.where(col("bytes") <= 0).count() == 0)
    // for plain-count stages, per-file rows sum to the stage's lineage count
    // ("extracted" observes non-empty extractions, so it is excluded)
    val sums = fm.groupBy("stage").agg(sum("rows").as("file_rows"))
    val joined = lin.join(sums, "stage")
      .where(col("stage").isin("pages", "chunks", "triples", "mentions"))
      .where(col("rows_out") =!= col("file_rows"))
    assert(joined.count() == 0, "per-file row sums disagree with lineage rows_out")
  }

  test("lineage and file-metrics tables keep their row classes' schemas") {
    def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)
    val cat = result.catalog
    for ((read, dir, rowSchema) <- Seq(
        (cat.lineage(), "_lineage", Encoders.product[LineageRow].schema),
        (cat.fileMetrics(), "_lineage_files", Encoders.product[FileMetricsRow].schema))) {
      assert(shape(read.schema) == shape(rowSchema))
      // the schema the driver-written files carry themselves
      assert(shape(spark.read.parquet(s"${cat.root}/$dir").schema) == shape(rowSchema), dir)
    }
  }

  test("stage bookkeeping runs no Spark job") {
    val cat = new Catalog(tmpDir("nojobs"), spark)
    cat.writeCounted("t", spark.range(100).toDF(), Some(3))
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bookkeeping", "appendLineage + appendFileMetrics")
      try {
        cat.appendLineage(LineageRow("r", "t", "fp", 100L, 1L, new Timestamp(System.currentTimeMillis())))
        cat.appendFileMetrics("r", "t")
      } finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later job is seen, every
      // job the bookkeeping could have started has been seen too
      sc.setJobGroup("sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"), "listener never saw the sentinel job")
      assert(!groups.contains("bookkeeping"), s"bookkeeping started Spark jobs: $groups")
    } finally sc.removeSparkListener(listener)
    assert(cat.lineage().count() == 1)
    val fm = cat.fileMetrics()
    assert(fm.count() == 3)
    assert(fm.agg(sum("rows")).collect()(0).getLong(0) == 100L)
  }

  test("a lineage dir mixing a Spark-written INT96 file with driver-written files reads as one table and resumes") {
    import spark.implicits._
    val out = tmpDir("mixed")
    val cfg = Pipeline.Config(corpus = CorpusSynth.Config(nPages = 30, nClusters = 6),
      er = graft.resolve.Resolution.Params(dim = 256),
      outDir = out, runId = "m1")
    val cat = Pipeline.run(spark, cfg).catalog
    val rows = cat.lineage().as[LineageRow].collect().toSeq
    assert(rows.size == 15)

    // an older catalog: its first stages' rows in one Spark-written file
    // (INT96 timestamps), the later ones appended by the driver
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$out/_lineage")
    dir.getFileSystem(conf).delete(dir, true)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "INT96")
    try rows.take(5).toDS().coalesce(1).write.mode(SaveMode.Append).parquet(dir.toString)
    finally prevTs.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
    rows.drop(5).foreach(cat.appendLineage)

    val tsTypes = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter(st => st.getPath.getName.endsWith(".parquet") && !st.getPath.getName.startsWith("."))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("finished_at")).asPrimitiveType.getPrimitiveTypeName.name
        } finally r.close()
      }
    assert(tsTypes.sorted == ("INT96" +: Seq.fill(10)("INT64")).sorted, tsTypes)
    assert(cat.lineage().as[LineageRow].collect().toSet == rows.toSet)

    val resumed = Pipeline.run(spark, cfg.copy(runId = "m2", resume = true))
    assert(resumed.stages.forall(_.skipped), s"stages re-ran: ${resumed.stages.filter(!_.skipped)}")
  }

  test("incremental pass rebuilds community embeddings a crash left stale") {
    val union = CorpusSynth.Config(seed = 7L, nPages = 60, nClusters = 10)
    val cfg = Pipeline.Config(corpus = union.copy(nPages = 40),
      er = graft.resolve.Resolution.Params(dim = 256),
      outDir = tmpDir("stale"), runId = "base")
    Pipeline.run(spark, cfg)
    val conf = spark.sparkContext.hadoopConfiguration
    val live = new Path(s"${cfg.outDir}/community_embeddings")
    val fs = live.getFileSystem(conf)
    val saved = new Path(tmpDir("stale-emb"), "community_embeddings")
    assert(FileUtil.copy(fs, live, fs, saved, false, conf))
    def snapshot(): Set[String] =
      new Catalog(cfg.outDir, spark).read("community_embeddings").collect().map(_.toString).toSet

    val batch = CorpusSynth.pagesRange(spark, union, 40, 60)
    Pipeline.runIncremental(spark, cfg.copy(runId = "d1"), batch)
    val fresh = snapshot()
    // the crash: incr_communities committed the new communities and their
    // digest sidecar, incr_community_embeddings never ran
    fs.delete(live, true)
    assert(FileUtil.copy(fs, saved, fs, live, false, conf))
    assert(snapshot() != fresh, "the batch must change the community embeddings")

    Pipeline.runIncremental(spark, cfg.copy(runId = "d2"), batch)
    assert(snapshot() == fresh, "stale community embeddings survived the next incremental pass")
  }

  test("incremental run over a new crawl batch == full run over the union corpus") {
    val nBase = 200
    val nAll = 280
    val union = CorpusSynth.Config(seed = 42L, nPages = nAll, nClusters = 24)

    // ground truth: one full run over the union corpus
    val fullCfg = Pipeline.Config(corpus = union,
      er = graft.resolve.Resolution.Params(dim = 512),
      outDir = tmpDir("incr-full"), runId = "full")
    val full = Pipeline.run(spark, fullCfg)

    // base run over the first nBase pages in the O(delta) bucketed layout,
    // then one incremental batch with the remaining pages
    val baseCfg = fullCfg.copy(corpus = union.copy(nPages = nBase),
      outDir = tmpDir("incr-base"), runId = "base",
      incrementalLayout = true, erBuckets = 16)
    Pipeline.run(spark, baseCfg)
    val newBatch = CorpusSynth.pagesRange(spark, union, nBase, nAll)
    val incr = Pipeline.runIncremental(spark, baseCfg.copy(runId = "delta"), newBatch)

    // the expensive stages touched ONLY the delta
    def rowsOf(stage: String): Long = incr.stages.find(_.stage == stage).get.rows
    val fullChunks = full.catalog.read("chunks").count()
    assert(rowsOf("incr_extracted") == rowsOf("incr_chunks"),
      "extraction ran exactly once per delta chunk")
    assert(rowsOf("incr_chunks") < fullChunks / 2,
      s"delta chunk count ${rowsOf("incr_chunks")} must be a strict fraction of $fullChunks")
    assert(rowsOf("incr_pages") == (nAll - nBase).toLong)

    // every standing table is IDENTICAL to the full union run
    def assertSame(table: String, cols: Seq[String] = Nil): Unit = {
      val a0 = full.catalog.read(table)
      val sel = if (cols.nonEmpty) cols else a0.columns.toSeq
      val a = a0.select(sel.map(col): _*)
      val b = incr.catalog.read(table).select(sel.map(col): _*)
      assert(a.count() == b.count(), s"$table row count differs")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$table content differs")
    }
    Seq("chunks", "entities", "entity_types", "embeddings", "chunk_embeddings",
      "mentions", "triples", "candidate_pairs", "resolves_to", "resolved_triples",
      "type_relationships", "communities", "in_community", "has_parent",
      "modularity").foreach(t => assertSame(t))
    assertSame("pages", Seq("url", "text", "lang"))

    // re-running the same batch is a no-op at the dirty gate — and (r5) the
    // communities stage proves its inputs unchanged via the digest sidecar
    // and SKIPS the rebuild: the standing parquet files must be untouched
    // (an exact dirty-subset Louvain is unsound — ΔQ depends on global m —
    // so skip-on-proof is the only correct incremental form)
    def commFiles(): Map[String, Long] = {
      val dir = new java.io.File(s"${baseCfg.outDir}/communities")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val commBefore = commFiles()
    assert(incr.catalog.readSidecar("communities", "_graft_community_inputs").isDefined)
    val again = Pipeline.runIncremental(spark, baseCfg.copy(runId = "delta2"), newBatch)
    assert(again.stages.find(_.stage == "incr_pages").get.rows == 0L)
    assert(commFiles() == commBefore,
      "communities were rebuilt despite a bit-identical input fingerprint")
    assertSame("resolved_triples")
    assertSame("communities")

    // the blocking index pins its geometry (r4 adaptive blocking): the
    // sidecar records (bands, bits, seed, dim) — at this sub-floor corpus
    // the derived params equal the defaults, and incremental runs read the
    // sidecar back instead of re-deriving from the grown corpus
    assert(incr.catalog.readSidecar("lsh_sigs", "_graft_er_params")
      .contains(Seq("20", "12", "42", "512")))
  }
}
