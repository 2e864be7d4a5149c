package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.reco.{RatingSynth, Recommender}

/** Recommendation surface registered as driver queries. These are the
  * non-SQL-expressible ops (SURVEY §5.2): no DuckDB oracle — the
  * driver records rows-only checks; the quantitative invariants
  * (seeded RMSE bound, top-k shape, cold-start drop, id round-trip)
  * live in the scalatest suite.
  */
object RecoOps {

  /** Memoized trained ALS pipeline per (session, dir) — the
    * train/serve split every other repeated kernel already reports
    * (the round-8 accounting rule): q61's bench row used to price
    * synth + StringIndexer×2 + ALS fit + holdout RMSE into every
    * invocation of what is semantically a SERVING query
    * (the subset top-k kernel + back-map). The model is a session
    * artifact — in production it is trained once and served many
    * times — so training runs as the named build:als_model step and
    * the q61 row is deterministically serving-only. Seeded fit, so
    * the memoized model is the exact model the inline fit produced;
    * RecoSpec's invariants train directly and are unaffected.
    * Cleared by releaseCaches() (checkpointed/cached lineage frees on
    * GC).
    */
  private val modelMemo = new graft.KeyedMemo[
    (org.apache.spark.sql.SparkSession, String),
    org.apache.spark.ml.PipelineModel]

  private[graft] def alsModel(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.ml.PipelineModel =
    modelMemo.getOrBuild((s, d)) {
      val ratings = RatingSynth.synthRatings(s, d)
        .select(col("userId").cast("string").as("userId"),
          col("itemId").cast("string").as("itemId"), col("rating"))
      Recommender.trainModel(ratings)
    }

  /** Explicit bench/session setup for the memoized ALS model. */
  def warmAlsModel(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    alsModel(s, d); ()
  }

  def releaseCaches(): Unit = modelMemo.clear()

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q60_synth_ratings",
      "F6 seeded rating synthesis (imb_rating.py:99–127): distributed weighted-choice stars. rand(42) is Spark-specific, so no cross-engine oracle.",
      (s, d) => RatingSynth.synthRatings(s, d)
        .groupBy(col("rating"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("rating")),
      None),

    GraftQuery(
      "q61_als_recommend",
      "M1–M6+U1 end-to-end: synth ratings → StringIndexer×2 + ALS pipeline (trained once per session via the build:als_model memo — the train/serve accounting split) → top-5 per user for the first 2000 indexed users: their factors broadcast over one pass of the item factors (MLlib's sgemv on MLlib's item blocks, so scores are MLlib's bit for bit; exact ties to the higher item index, as in MLlib's final list), per-partition heaps merged on the driver (TopK.pass), ids mapped back through the indexers' labels. Float factorization is seeded but not bit-stable across engines — rows-only check; invariants in scalatest.",
      (s, d) =>
        Recommender.recommendAll(alsModel(s, d), 5, userLimit = Some(2000))
          .select(col("userId"), col("itemId"), col("rank")),
      None),

    GraftQuery(
      "q138_quality_classifier",
      "Learned quality filter (the GPT-3/CCNet classifier pass): hashed-bag-of-words logistic regression distilled from the shared q107 funnelVerdict teacher, md5-deterministic 80/20 split, held-out per-source score table + global AUC. HashingTF is a stateless per-row map (no vocabulary build — the hashing trick is why this runs at crawl scale), LBFGS gradients aggregate map-side, the 32k-dim coefficient vector broadcasts, scoring is map-only. LBFGS float sums aren't bit-stable across engines — rows-only; invariants (AUC floor, probability bounds, split disjointness, source coverage) in QualityClassifierSpec.",
      (s, d) => graft.reco.QualityClassifier.run(s, d),
      None)
  )
}
