package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.WikidataPipeline
import graft.sources.{Sinks, TeiCatalog}
import Main.Op

/** A workload: the reads its set-up makes and the operations one pass
  * runs. The query list is frozen: later changes are compared on exactly
  * these operations. `warehouseProbe`: the traced run also times one
  * `Warehouses.prebuild`, after its passes. */
final case class Workload(name: String, queries: Seq[String], catalogue: Boolean = false,
    warehouseProbe: Boolean = false) {

  /** Set-up reads: every input the workload touches, counted once.
    * Returns the inputs later passes reuse (the catalogue's entity and
    * attribute tables, held like a deployment holds its catalogue). */
  def warmInputs(spark: SparkSession, dir: String): Map[String, DataFrame] =
    if (catalogue) {
      val inputs = Seq("entities", "attributes")
        .map(t => t -> spark.read.parquet(s"$dir/$t.parquet")).toMap
      inputs.values.foreach(_.count())
      TeiCatalog.readCatalogues(spark, s"$dir/catalogues").count()
      inputs
    } else {
      Workloads.tables.foreach(t => graft.sources.Tables.table(spark, dir, t).count())
      Map.empty
    }

  /** The operations of one pass, in order. */
  def ops(spark: SparkSession, dir: String, out: String, inputs: Map[String, DataFrame]): Seq[Op] =
    if (catalogue) catalogueOps(spark, s"$dir/catalogues", out, inputs)
    else queries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      Op(q, () => fn(spark, dir), df => { df.queryExecution.toRdd.count(); () })
    }

  /** The paper's pipeline as in the README quick start: itemToId ->
    * enrich -> refInjectXml, each output forced by its Sinks write, no
    * persist (so each write recomputes the match it depends on). */
  private def catalogueOps(spark: SparkSession, cat: String, out: String,
      inputs: Map[String, DataFrame]): Seq[Op] = {
    var matched: DataFrame = null
    Seq(
      Op("nametable", () => { matched = WikidataPipeline.itemToId(spark, cat, inputs("entities")); matched },
        df => Sinks.writeTsv(df, s"$out/pipeline/nametable")),
      Op("enrichment", () => WikidataPipeline.enrich(matched, inputs("attributes")),
        df => Sinks.writeEnrichmentDoc(df, "wikidata_id", s"$out/pipeline/enrichments")),
      Op("rewrite", () => WikidataPipeline.refInjectXml(TeiCatalog.readCatalogues(spark, cat), matched),
        df => Sinks.writeText(df, "xml_ref", s"$out/pipeline/tei")))
  }
}

object Workloads {
  val tables = Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
    "region", "documents", "embeddings", "events")

  /** Sub-second queries sampled across the Relational, Stats, Events,
    * reference-pipeline and training-data families: bound by per-query
    * overhead (build, schema inference, AQE stage jobs). Operators backed
    * by a suite warehouse are left out (see perfbench/README.md). */
  val shortQueries: Seq[String] = Seq(
    "q_pivot", "q_exists", // Relational
    "hill_tail", "ols_by_group", // Stats
    "events_heatmap", "interval_merge", // Events
    "year_extract", "name_normalize", "occupation_extract", "tei_extract", // reference pipeline
    "epoch_mix", "dedup_exact") // training data

  val all: Seq[Workload] = Seq(
    Workload("short_queries", shortQueries, warehouseProbe = true),
    Workload("catalogue_enrich", Nil, catalogue = true))

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload $n"))
}
