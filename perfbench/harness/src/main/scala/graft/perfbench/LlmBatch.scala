package graft.perfbench

import graft.SparkEntry
import graft.operators.{PerfbenchAccess, Similarity, TextOps}
import org.apache.spark.sql.SparkSession

/** `llm_batch`: one client runs a fixed list of declared faces, each once,
  * in a fixed order, and pays for its full output (the correctness dump's
  * single-file parquet write, not a `count()` that lets Catalyst prune
  * columns). After one session warm-up on a scratch table, set-up builds
  * the fixtures the faces read, each prebuild timed on its own; it is
  * repeated over fresh copies of the corpus so every repetition builds
  * cold. The faces run against the last copy, so their own memos are cold
  * too.
  */
object LlmBatch {
  val faces: Seq[String] = Seq(
    "dedup_exact", "dedup_lsh_candidates", "dedup_jaccard_verified", "dedup_simhash_pairs",
    "dedup_containment", "dedup_repeated_spans", "dedup_exact_jaccard_join_collapsed",
    "dedup_semantic",
    "knn_brute_force", "ann_ivf_index_search", "ann_ivfpq_batch_search", "ann_ivf_filtered_search",
    "text_bm25_ranking", "text_bpe_tokens", "text_quality_budget_cutoff", "text_packed_export",
    "pipeline_clean_export", "mm_decode_features",
    "q1_pricing_summary", "q9_product_profit", "events_user_sessions", "events_heavy_hitters")

  val prebuilds: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "centroids" -> ((s, d) => PerfbenchAccess.centroids(s, d)),
    "ivf_index" -> ((s, d) => Similarity.ivfIndexFor(s, d)),
    "bpe_merges" -> ((s, d) => TextOps.corpusBpeMerges(s, d)))

  /** Session and JIT warm-up on a scratch table (Bench's warm-up shape). */
  private def warmup(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    s.range(1000000).selectExpr("sum(id)").head()
    s.range(10000).selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS v")
      .write.parquet(dir)
    val t = s.read.parquet(dir)
    t.where(col("id") > 100).groupBy("s").agg(sum("v")).count()
  }

  def run(ctx: Ctx): Unit = {
    val (s, rec, trace) = (ctx.spark, ctx.rec, ctx.tracer)
    trace("operators", "warmup")(warmup(s, s"${ctx.work}/llm-warm"))
    var corpus = ""
    (0 until Ctx.setups).foreach { r =>
      val t0 = System.nanoTime()
      corpus = Ctx.copyDir(ctx.data, s"${ctx.work}/llm-corpus-$r")
      prebuilds.foreach { case (name, build) =>
        val p0 = System.nanoTime()
        trace("operators", s"prebuild.$name")(build(s, corpus))
        rec.sample(s"setup.${name}_s", (System.nanoTime() - p0) / 1e9)
      }
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }

    val out = s"${ctx.out}/faces"
    val before = ctx.probe.snapshot()
    faces.zipWithIndex.foreach { case (face, i) =>
      rec.attempt()
      val jobs0 = ctx.probe.snapshot()("jobs")
      val t0 = System.nanoTime()
      try trace("operators", face, i.toLong) {
        SparkEntry.queries(face)(s, corpus).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$face")
      } catch {
        case e: Throwable => rec.fail(s"llm_batch $face threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val ms = (System.nanoTime() - t0) / 1e6
      rec.sample("face_ms", ms)
      rec.set(s"face.${face}_s", ms / 1e3)
      rec.set(s"face.${face}_jobs", ctx.probe.snapshot()("jobs") - jobs0)
    }
    ctx.layerDiff(before)
  }
}
