package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Similarity, TextDedup, TrainPrep}
import graft.sources.Fixtures
import graft.tables.Tables

/** The call sequences the seed generates. The program only sees the calls;
  * the seed never changes how many calls of each kind a run makes. */
object Workloads {
  val names: Seq[String] = Seq("legis_analyst", "corpus_curate", "index_lifecycle")

  /** The reference's three pipelines plus short relational and event
    * queries: planning, per-job overhead and JSON/binaryFile/PDF decode. */
  val legisQueries: Seq[String] = Seq(
    "q_bill_search", "q_legislator_counts", "q_latest_people",
    "q_fulltext_search", "q_budget_bills_pdf", "q_budget_semi_join",
    "q_decode_payloads", "q_chaptered_texts", "q_texts_per_session",
    "q_appropriations", "q1_pricing_summary", "q3_shipping_priority",
    "q5_region_volume", "q_events_window", "q_retention_cohorts", "q_funnel")

  /** Training-corpus curation: native kernels, corpus-scale exchanges,
    * sorts and windows, and the session memo builds (`q_curate_v2` builds
    * the near-duplicate memo, `q_winnow_fingerprints` the winnow prints).
    * Four queries of the full curation list (`q_curate_v4`, `q_curate_v7`,
    * `q_lm_perplexity`, `q_dsir_weights`) are left out: in a fresh process
    * they took 25 s of a 61 s pass, and every run must fit one time
    * budget. */
  val corpusQueries: Seq[String] = Seq(
    "q_dedup_minhash", "q_simhash_pairs", "q_lang_id", "q_quality_score",
    "q_pii_redact", "q_curate_v2", "q_token_bpe", "q_bpe_encode",
    "q_seq_pack", "q_cdc_chunks", "q_winnow_fingerprints",
    "q_tfidf_top_terms")

  def queriesOf(workload: String): Seq[String] = workload match {
    case "legis_analyst" => legisQueries
    case "corpus_curate" => corpusQueries
    case _ => Nil
  }

  /** `passes` seeded permutations of the query list, back to back: every
    * query runs exactly `passes` times, in an order only the seed sets. */
  def querySequence(queries: Seq[String], passes: Int, seed: Long): Seq[String] = {
    val rng = new Random(seed)
    (1 to passes).flatMap(_ => rng.shuffle(queries))
  }

  /** The tables and fixture scans each query reads, materialised in the
    * traced run's `sources.scan` span. */
  def inputs(spark: SparkSession, dir: String, query: String): Seq[DataFrame] = {
    def t(names: String*) = names.map(Tables.load(spark, dir, _))
    query match {
      case "q_bill_search" => Seq(Fixtures.billsJson(spark))
      case "q_legislator_counts" => Seq(Fixtures.people(spark), Fixtures.bills(spark))
      case "q_latest_people" => Seq(Fixtures.people(spark))
      case "q_fulltext_search" => Seq(graft.operators.FullText.corpusFromBinary(spark))
      case "q_budget_bills_pdf" => Seq(Fixtures.sbudPdfBinary(spark))
      case "q_budget_semi_join" => Seq(Fixtures.sbud(spark), Fixtures.bills(spark))
      case "q_decode_payloads" => Seq(Fixtures.docPayloads(spark))
      case "q_chaptered_texts" | "q_texts_per_session" => Seq(Fixtures.bills(spark))
      case "q_appropriations" => Seq(Fixtures.billTexts(spark))
      case "q1_pricing_summary" => t("lineitem")
      case "q3_shipping_priority" => t("lineitem", "orders", "customer")
      case "q5_region_volume" =>
        t("lineitem", "orders", "customer", "supplier", "nation", "region")
      case "q_events_window" | "q_retention_cohorts" | "q_funnel" => t("events")
      case _ => t("documents")
    }
  }

  /** The input files a workload reads: read once while setting up, so no
    * timed call pays first-read I/O. */
  def inputFiles(dir: String, workload: String): Seq[java.nio.file.Path] = {
    def tree(root: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
      finally s.close()
    }
    val tables = mainTable(workload) +: (workload match {
      case "legis_analyst" =>
        Seq("orders", "customer", "supplier", "nation", "region", "events")
      case _ => Seq("embeddings")
    })
    tables.map(t => java.nio.file.Paths.get(s"$dir/$t.parquet")) ++
      (if (workload == "legis_analyst") tree(Fixtures.root) else Nil)
  }

  /** The table one warm-up scan reads through Spark while setting up. */
  def mainTable(workload: String): String =
    if (workload == "legis_analyst") "lineitem" else "documents"

  def query(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)
}

/** One landed-index family as a store: its write, append, delete, probe
  * and (where the family has one) compaction calls. */
final case class Family(
    name: String,
    ids: String,
    build: (DataFrame, String) => Unit,
    append: (DataFrame, String) => Unit,
    delete: (DataFrame, String) => Unit,
    probe: (DataFrame, String) => DataFrame,
    compact: Option[String => Unit])

object Families {
  def all(spark: SparkSession): Seq[Family] = Seq(
    Family("dedup", "doc_id",
      (docs, p) => TextDedup.writeDedupIndex(docs, p),
      (docs, p) => TextDedup.appendDedupIndex(spark, p, docs),
      (docs, p) => TextDedup.deleteDedupIndex(spark, p, docs.select(col("doc_id"))),
      (docs, p) => TextDedup.dedupProbeIndex(spark, p, docs),
      Some(p => TextDedup.compactDedupIndex(spark, p))),
    Family("ivfpq", "vec_id",
      (emb, p) => Similarity.writeIvfPqIndex(emb, p),
      (emb, p) => Similarity.appendIvfPqIndex(spark, p, emb),
      (emb, p) => Similarity.deleteIvfPqIndex(spark, p, emb.select(col("vec_id"))),
      (emb, p) => Similarity.ivfPqProbeIndex(spark, p, asQueries(emb), k = 3, nprobe = 2),
      None),
    Family("cdc", "doc_id",
      (docs, p) => TrainPrep.writeCdcIndex(docs, p),
      (docs, p) => TrainPrep.appendCdcIndex(spark, p, docs),
      (docs, p) => TrainPrep.deleteCdcIndex(spark, p, docs),
      (docs, p) => cdcAdmit(spark, docs, p),
      Some(p => TrainPrep.compactCdcIndex(spark, p))))

  /** Embedding rows as probe queries. */
  def asQueries(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("query_id"), col("embedding").as("q"))

  /** The CDC index's probe: the chunks of `docs` that the landed
    * boilerplate index does not ban. */
  def cdcAdmit(spark: SparkSession, docs: DataFrame, path: String): DataFrame =
    TrainPrep.cdcChunks(docs)
      .join(TrainPrep.cdcIndexBoilerplate(spark, path).select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("fp"))
}

/** The seeded plan of one `index_lifecycle` run. Every seed gives the same
  * number of operations of each type and the same slice sizes; the seed
  * picks which ids are in the standing slice, which are appended, deleted
  * and probed, and the order of the interleaved operations. */
final case class IndexPlan(
    standing: Map[String, Set[Long]],
    appends: Map[String, Seq[Set[Long]]],
    deletes: Map[String, Seq[Set[Long]]],
    probes: Map[String, Seq[Set[Long]]],
    ops: Seq[(String, String, Int)],
    serveBatches: Seq[Set[Long]])

object IndexPlan {
  val StandingShare = 0.9
  val Appends = 3
  val Deletes = 3
  val Probes = 3
  val DeleteShare = 0.02
  val ProbeShare = 0.05
  val AppendShare = 0.03
  val ServeBatches = 3
  val ServeQueries = 25

  /** `idsByFamily` maps each family to its sorted row ids. */
  def apply(idsByFamily: Map[String, Seq[Long]], seed: Long): IndexPlan = {
    val rng = new Random(seed)
    val fams = idsByFamily.keys.toSeq.sorted
    val perFamily = fams.map { f =>
      val ids = idsByFamily(f)
      val shuffled = rng.shuffle(ids)
      val nStanding = (ids.size * StandingShare).toInt
      val standing = shuffled.take(nStanding)
      val pool = shuffled.drop(nStanding)
      val appendSize = (ids.size * AppendShare).toInt
      val appends = (0 until Appends).map(i => pool.slice(i * appendSize, (i + 1) * appendSize).toSet)
      // deletes come from the standing slice only: an id is deleted at
      // most once and never re-appended, the landed indexes' contract
      val deleteSize = (ids.size * DeleteShare).toInt
      val delPool = rng.shuffle(standing)
      val deletes = (0 until Deletes).map(i => delPool.slice(i * deleteSize, (i + 1) * deleteSize).toSet)
      val probeSize = (ids.size * ProbeShare).toInt
      val probes = (0 until Probes).map(_ => rng.shuffle(ids).take(probeSize).toSet)
      f -> (standing.toSet, appends, deletes, probes)
    }.toMap
    val ops = rng.shuffle(fams.flatMap { f =>
      (0 until Appends).map(i => (f, "append", i)) ++
        (0 until Deletes).map(i => (f, "delete", i)) ++
        (0 until Probes).map(i => (f, "probe", i))
    })
    val vecs = rng.shuffle(idsByFamily("ivfpq"))
    val serve = (0 until ServeBatches).map(i => vecs.slice(i * ServeQueries, (i + 1) * ServeQueries).toSet)
    IndexPlan(perFamily.view.mapValues(_._1).toMap, perFamily.view.mapValues(_._2).toMap,
      perFamily.view.mapValues(_._3).toMap, perFamily.view.mapValues(_._4).toMap, ops, serve)
  }
}
