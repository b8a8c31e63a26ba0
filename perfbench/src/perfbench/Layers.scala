package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.community.{Louvain, Summarize}
import graft.extract.{Embeddings, RuleExtractor}
import graft.model.{Chunk, Entity, ExtractedGraphDoc, Page, ResolvesTo, Triple}
import graft.operators.{GraphAssembly, Lift}
import graft.pipeline.{Catalog, Pipeline}
import graft.resolve.Resolution

/** The program's packages as benchmark layers, and the public calls that
  * time each one on a built catalog's own input tables.
  */
object Layers {

  /** Layers timed by direct calls; `corpus` and `pipeline` are derived. */
  val Timed: Seq[String] = Seq("chunk", "extract", "operators", "resolve", "community")

  /** Stage table → the layer whose functions do the stage's work. */
  val StageLayer: Map[String, String] = Map(
    "pages" -> "corpus",
    "chunks" -> "chunk",
    "extracted" -> "extract",
    "chunk_embeddings" -> "extract",
    "community_embeddings" -> "extract",
    "entities" -> "operators",
    "entity_types" -> "operators",
    "mentions" -> "operators",
    "triples" -> "operators",
    "resolved_triples" -> "operators",
    "type_relationships" -> "operators",
    "embeddings" -> "resolve",
    "candidate_pairs" -> "resolve",
    "resolves_to" -> "resolve",
    "communities" -> "community")

  /** Stage tables of a flat `Pipeline.run`, in order. */
  val StageTables: Seq[String] = Seq(
    "pages", "chunks", "extracted", "entities", "entity_types", "mentions", "triples",
    "embeddings", "chunk_embeddings", "candidate_pairs", "resolves_to",
    "resolved_triples", "type_relationships", "communities", "community_embeddings")

  /** Fails when a build emitted a stage the layer map does not cover. */
  def requireCovered(stages: Seq[String]): Unit = {
    val unknown = stages.filterNot(StageLayer.contains)
    if (unknown.nonEmpty) throw new Uncovered(s"stages outside the layer map: ${unknown.mkString(", ")}")
  }

  /** Forces a frame through Spark's no-op sink. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class Call(layer: String, name: String, run: () => Unit)

  /** Every layer call on one catalog's input tables; the Louvain call
    * keeps its result for the summaries call after it.
    */
  final class Calls(cat: Catalog, cfg: Pipeline.Config, er: Resolution.Params) {
    private val spark = cat.spark
    import spark.implicits._
    private def docs = GraphAssembly.docs(cat.read("pages").as[Page])
    private def chunks = cat.read("chunks")
    private def ext = cat.read("extracted").as[ExtractedGraphDoc]
    var louvain: Louvain.Result = _

    val all: Seq[Call] = Seq(
      Call("chunk", "GraphAssembly.chunks",
        () => sink(GraphAssembly.chunks(docs, Pipeline.chunkerFor(cfg)).toDF())),
      Call("extract", "GraphAssembly.extractAll",
        () => sink(GraphAssembly.extractAll(chunks.as[Chunk], new RuleExtractor).toDF())),
      Call("extract", "Embeddings.embedText(chunks)",
        () => sink(Embeddings.embedText(chunks, "chunk_id", "text", er.dim))),
      Call("extract", "Embeddings.embedText(communities)",
        () => sink(Embeddings.embedText(cat.read("communities").na.fill("", Seq("description")),
          "community_id", "description", er.dim))),
      Call("operators", "GraphAssembly.entities", () => sink(GraphAssembly.entities(ext).toDF())),
      Call("operators", "GraphAssembly.entityTypes", () => sink(GraphAssembly.entityTypes(ext))),
      Call("operators", "GraphAssembly.mentions", () => sink(GraphAssembly.mentions(ext).toDF())),
      Call("operators", "GraphAssembly.triples", () => sink(GraphAssembly.triples(ext).toDF())),
      Call("operators", "Lift.resolvedTriples",
        () => sink(Lift.resolvedTriples(cat.read("triples").as[Triple],
          cat.read("resolves_to").as[ResolvesTo]).toDF())),
      Call("operators", "Lift.typeRelationships",
        () => sink(Lift.typeRelationships(cat.read("triples").as[Triple], cat.read("entity_types")).toDF())),
      Call("resolve", "Resolution.embedEntities",
        () => sink(Resolution.embedEntities(cat.read("entities").as[Entity], er))),
      Call("resolve", "Resolution.candidatePairs",
        () => sink(Resolution.candidatePairs(cat.read("embeddings"), er))),
      Call("resolve", "Resolution.resolvesTo",
        () => sink(Resolution.resolvesTo(cat.read("entities").as[Entity],
          cat.read("candidate_pairs")).toDF())),
      Call("community", "Louvain.run", () => louvain = runLouvain(cat)),
      Call("community", "Summarize.describeAll",
        () => sink(Summarize.describeAll(louvain.levels, cat.read("entities"), cat.read("resolves_to")))))
  }

  /** Louvain over the catalog's resolved graph, every level forced. */
  private def runLouvain(cat: Catalog): Louvain.Result = {
    val res = cat.read("resolves_to")
    val louv = Louvain.run(cat.read("resolved_triples"),
      allEntities = Some(res.select(col("canonical_id")).distinct()))
    louv.levels.foreach { l => sink(l.membership.toDF()); sink(l.linksTo) }
    louv
  }

  /** ER blocking counted from outside, with the public signing function
    * and the program's own flood cap: pairs attempted (every same-bucket
    * pair of an unpruned bucket, as the scorer visits them) and buckets
    * pruned by `maxBucket`.
    */
  final case class Blocking(pairs: Long, bucketsPruned: Long)

  def blocking(embeddings: DataFrame, p: Resolution.Params): Blocking = {
    val n = col("n")
    val r = Resolution.signatures(embeddings, p)
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(when(n <= p.maxBucket, n * (n - 1) / 2)), lit(0L)).cast("long"),
        count(when(n > p.maxBucket, lit(1))))
      .collect()(0)
    Blocking(r.getLong(0), r.getLong(1))
  }

  /** Distinct unordered pairs the scorer kept. */
  def keptPairs(pairs: DataFrame): Long =
    pairs.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .distinct().count()

  /** Whether `Resolution.scaledParams` clipped the derived geometry at its
    * bits or bands cap for this many entities.
    */
  def paramsCapped(er: Resolution.Params, nEntities: Long): Boolean =
    Resolution.scaledParams(er, nEntities) !=
      Resolution.scaledParams(er, nEntities, maxBits = 62, maxBands = Int.MaxValue)

  /** Whether `candidatePairs` scores map-side: the embeddings table fits
    * the broadcast bound (session conf, else the params default).
    */
  def mapSide(spark: SparkSession, er: Resolution.Params, nEntities: Long): Boolean = {
    val bytes = spark.conf.getOption("spark.graft.er.maxBroadcastBytes")
      .map(_.trim.toLong).getOrElse(er.maxBroadcastBytes)
    nEntities <= bytes / (er.dim.toLong * 4L)
  }

  /** Thrown when a build emits a stage the layer map does not cover. */
  final class Uncovered(msg: String) extends RuntimeException(msg)
}
