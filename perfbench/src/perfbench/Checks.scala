package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.CorpusSynth
import graft.operators.GraphAssembly
import graft.pipeline.Catalog

/** Output checks on a built catalog. Nothing here is timed. */
object Checks {

  /** The BASELINE gate: every precision and recall must reach this. */
  val MinQuality = 0.95

  final case class Quality(triplePrecision: Double, tripleRecall: Double,
      linkPrecision: Double, linkRecall: Double) {
    def values: Seq[Double] = Seq(triplePrecision, tripleRecall, linkPrecision, linkRecall)
    def passes: Boolean = values.forall(_ >= MinQuality)
  }

  /** Triple and entity-link precision/recall against the corpus's planted
    * truth over the catalog's `resolved_triples`, `resolves_to` and
    * `entities` tables, as `SparkEntry.kgEval` defines them, with one
    * difference: a cluster's planted canonical id is the longest of its
    * aliases the corpus writes (kgEval already restricts planted links to
    * the aliases present). A resolver can only pick among aliases the pages
    * hold; on a corpus that writes every alias, as kgEval's does, both
    * agree.
    */
  def quality(cat: Catalog, corpus: CorpusSynth.Config): Quality = {
    val spark = cat.spark
    import spark.implicits._
    val canon = spark.range(corpus.nClusters).flatMap { c =>
        val cl = CorpusSynth.cluster(corpus, c.toInt)
        cl.aliasIds.map(a => (cl.canonicalId, a))
      }.toDF("canonical", "alias")
      .join(writtenAliases(spark, corpus), "alias")
      .groupBy("canonical")
      .agg(max_by(col("alias"), struct(length(col("alias")), col("alias"))).as("seen"))
    def seen(c: String) = canon.select(col("canonical").as(c), col("seen").as(s"${c}_seen"))
    val golden = CorpusSynth.goldenTriples(spark, corpus)
      .select(col("subj_canonical").as("subj"), col("pred"), col("obj_canonical").as("obj"))
      .join(seen("subj"), Seq("subj"), "left").join(seen("obj"), Seq("obj"), "left")
      .select(coalesce(col("subj_seen"), col("subj")).as("subj"), col("pred"),
        coalesce(col("obj_seen"), col("obj")).as("obj"))
    val emitted = cat.read("resolved_triples")
      .where(col("pred") =!= GraphAssembly.CoOccurrencePred)
      .select("subj", "pred", "obj")
    val (tp, nEmit, nGold) = overlap(emitted, golden, Seq("subj", "pred", "obj"))

    val res = cat.read("resolves_to")
    val links = res.as("a").join(res.as("b"), col("a.canonical_id") === col("b.canonical_id"))
      .where(col("a.entity_id") < col("b.entity_id"))
      .select(col("a.entity_id").as("a"), col("b.entity_id").as("b"))
    val present = cat.read("entities").select(col("entity_id").as("alias")).distinct()
    val goldLinks = CorpusSynth.goldenLinks(spark, corpus).toDF("a", "b")
      .join(present.withColumnRenamed("alias", "a"), "a")
      .join(present.withColumnRenamed("alias", "b"), "b")
    val (ltp, nLinks, nGoldL) = overlap(links, goldLinks, Seq("a", "b"))

    def ratio(n: Long, d: Long): Double = if (d > 0) n.toDouble / d else 0.0
    Quality(ratio(tp, nEmit), ratio(tp, nGold), ratio(ltp, nLinks), ratio(ltp, nGoldL))
  }

  /** Alias ids the corpus's pages write. A page holds one definition line
    * per alias it uses, so re-rendering every page and matching the
    * definition lines of the clusters its planted facts name finds them.
    */
  private def writtenAliases(spark: SparkSession, corpus: CorpusSynth.Config): DataFrame = {
    import spark.implicits._
    val clusterOf = (0 until corpus.nClusters)
      .map(c => CorpusSynth.cluster(corpus, c).canonicalId -> c).toMap
    spark.range(corpus.nPages).flatMap { i =>
      val t = CorpusSynth.renderPage(corpus, i)
      val lines = t.page.text.split("\n").toSet
      (t.triples ++ t.noisyTriples).flatMap(g => Seq(g.subj_canonical, g.obj_canonical)).distinct
        .flatMap { id =>
          val cl = CorpusSynth.cluster(corpus, clusterOf(id))
          cl.aliases.indices.filter(k => lines(s"${cl.aliases(k)} is ${cl.definition(k)}."))
            .map(cl.aliasIds)
        }
    }.toDF("alias").distinct()
  }

  /** (|a ∩ b|, |a|, |b|) over distinct rows, in one job. */
  private def overlap(a: DataFrame, b: DataFrame, key: Seq[String]): (Long, Long, Long) = {
    val r = a.distinct().withColumn("in_a", lit(true))
      .join(b.distinct().withColumn("in_b", lit(true)), key, "full_outer")
      .agg(count(when(col("in_a") && col("in_b"), lit(1))), count(col("in_a")), count(col("in_b")))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Tables a build leaves behind; two builds of the same corpus must agree
    * on every one.
    */
  val DigestTables: Seq[String] = Seq(
    "pages", "chunks", "entities", "entity_types", "embeddings", "chunk_embeddings",
    "mentions", "triples", "candidate_pairs", "resolves_to", "resolved_triples",
    "type_relationships", "communities", "in_community", "has_parent", "modularity")

  /** Order-independent content digest per table, in one job: row count
    * and the decimal sum of a 64-bit hash over every column.
    */
  def digests(cat: Catalog): Map[String, String] = {
    val hashes = DigestTables.map { t =>
      val df = cat.read(t)
      df.select(lit(t).as("t"),
        xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
    }
    val found = hashes.reduce(_ unionByName _).groupBy("t")
      .agg(count(lit(1)), sum(col("h")).cast("string"))
      .collect().map(r => r.getString(0) -> s"${r.getLong(1)}:${r.getString(2)}").toMap
    DigestTables.map(t => t -> found.getOrElse(t, "0:0")).toMap
  }
}
