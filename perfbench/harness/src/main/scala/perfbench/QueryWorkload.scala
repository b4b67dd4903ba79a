package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._

/** A closed loop of one client running engine queries
  * (`SparkEntry.queries`) back to back in whole passes over a fixed op
  * list, each pass in a seeded order. The first pass runs cold, as an
  * analyst's first queries in a fresh session do. Every op
  * saves its result as parquet, the way an analyst keeps a result:
  * final sorts and projections are timed, and the last saved result of
  * each query is what the `tools/check.py` comparison checks against
  * the query's DuckDB oracle after the run. */
final class QueryWorkload(name: String, data: String, work: String, seed: Long)
    extends Workload {
  import QueryWorkload._

  private val ops: Seq[String] = name match {
    case "esper_interactive" => EsperOps
    case "corpus_dedup_4x" => CorpusOps
  }

  private def tables: Seq[String] =
    graft.sources.Tables.all.filter(t => Files.exists(Paths.get(data, s"$t.parquet")))

  override def setup(spark: SparkSession, round: Int): Unit = {
    Q.tune(spark)
    tables.foreach(t => graft.sources.Tables.load(spark, data, t).createOrReplaceTempView(t))
    // warm-up: touch every table once (footer reads, first scan codegen)
    tables.foreach(t => spark.table(t).count())
  }

  /** Drop what an op cached or checkpointed, so no op bills the next. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.util.Checkpoints.sweep(spark)
  }

  /** One op: build the query's DataFrame, then save the result. */
  private def op(spark: SparkSession, rec: Recorder, n: String): Unit = {
    val out = Paths.get(work, "verify", n).toString
    rec.run(n, moduleOf(n), 0)(SparkEntry.queries(n)(spark, data)) { df =>
      df.write.mode("overwrite").parquet(out)
      0L
    }
    cleanup(spark)
  }

  /** The oracle SQL of each query, for the check after the run. */
  override def prepare(spark: SparkSession): Unit = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Files.createDirectories(Paths.get(work, "verify"))
    Files.writeString(Paths.get(work, "verify", "oracle_sql.json"), Json.write(oracle))
  }

  /** As many whole passes as fit before the deadline, at least one:
    * every query weighs the same in every run. */
  override def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Unit = {
    val rnd = new scala.util.Random(seed + 1)
    var pass = 0L
    do {
      val t0 = System.nanoTime()
      rnd.shuffle(ops).foreach(op(spark, rec, _))
      pass = System.nanoTime() - t0
    } while (System.nanoTime() + pass <= deadlineNs)
  }
}

object QueryWorkload {
  /** Query module of each engine query, by the map that defines it. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "RelationalQueries" -> RelationalQueries.queries,
    "IntervalQueries" -> IntervalQueries.queries,
    "EsperTvQueries" -> EsperTvQueries.queries,
    "EsperCatalogQueries" -> EsperCatalogQueries.queries,
    "ExtraQueries" -> ExtraQueries.queries,
    "TextQueries" -> TextQueries.queries,
    "SimilarityQueries" -> SimilarityQueries.queries)

  def moduleOf(q: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(q) => m }.getOrElse("other")

  /** The analyst surface: the batch queries of the five analyst
    * modules, minus the ones that serve from a persisted index. */
  val surface: Seq[String] = modules.take(5).flatMap { case (_, qs) =>
    qs.keys.toSeq.filterNot(Q.layoutIdxBacked).sorted }

  /** Fixed, evenly spaced sample of the surface (module order, then
    * name order), so every module is represented in proportion and
    * every run times the same queries. */
  val EsperSize = 10
  val EsperSample: Seq[String] =
    (0 until EsperSize).map(i => surface(((i + 0.5) * surface.size / EsperSize).toInt))

  /** Corpus ops: two consumers of TextOps.jaccardPairs (t38 also
    * clusters with Dedup.connectedComponents), a dedup control that
    * bypasses it (MinHash) and semantic dedup (Similarity). They stand
    * in for the corpus_dedup_4x workload, which does not fit the
    * benchmark's time budget. */
  val CorpusSample: Seq[String] = Seq(
    "t03_shingle_jaccard", "t38_cluster_keep", "t04_minhash_lsh", "v10_semdedup")
  val EsperOps: Seq[String] = EsperSample ++ CorpusSample

  /** The nine consumers of TextOps.jaccardPairs, three dedup controls
    * that bypass it, and four in-process similarity ops. */
  val JaccardConsumers: Seq[String] = Seq(
    "t03_shingle_jaccard", "t14_corpus_pipeline", "t15_dedup_components",
    "t31_align_pairs", "t33_word_retime", "t37_containment_pairs",
    "t38_cluster_keep", "t42_triangles", "t60_lsh_recall")
  val CorpusOps: Seq[String] = JaccardConsumers ++ Seq(
    "t01_exact_dedup", "t04_minhash_lsh", "t05_simhash",
    "v10_semdedup", "v12_kmeans_clusters", "v22_mmr_rerank", "v24_jl_project")
}
