package graft.reco

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, StringIndexerModel}
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import graft.ext.TopK

/** ALS collaborative-filtering core: the reference's Recommender
  * (utils/recommender.py:64–197) rebuilt M1–M6 with one deliberate
  * change — the per-row Python UDFs that map indexed ids back to
  * originals (recommender.py:164–174, SURVEY §2.10 U1) are replaced
  * by the indexers' own labels: `IndexToString` on the all-users
  * batch path, a `labelsArray` lookup on the driver for a served user
  * subset.
  *
  * Scale posture: ALS itself is MLlib's blocked factorization
  * (distributed normal-equation solves per user/item block). The
  * all-users top-k stays MLlib's blocked crossJoin; a bounded user
  * subset is served by one pass over the item factors with a driver
  * merge (`recommendAll`).
  */
object Recommender {

  /** Defaults mirror the reference grid (recommender.py:106–110) but
    * stay overridable: rank 200 / iter 40 is overparameterized for
    * fixtures (SURVEY §7 risks), so tests use small values.
    */
  final case class Config(
      rank: Int = 8,
      maxIter: Int = 5,
      regParam: Float = 0.1f,
      seed: Long = 42L,
      numFolds: Int = 3)

  /** The reference's exact training point (recommender.py:106–123):
    * rank 200, maxIter 40, regParam 0.4, 3-fold CV. Heavily
    * overparameterized for the synthetic fixtures (RecoSpec trains it
    * on sf0.001 in-suite; the recorded RMSE lives in BASELINE.md) but
    * runs in the default test-session memory — rank-200 factor blocks
    * on fixture-sized user/item sets are megabytes, not gigabytes. At
    * production scale the memory driver is (users+items)·rank·4 bytes
    * across executors, all executor-side: no driver-memory bump needed
    * beyond Spark defaults until recommendForAllUsers collects.
    *
    * REQUIREMENT at maxIter ≳ 20: `sc.setCheckpointDir(...)` must be
    * set (SparkSpec/GraftEngine callers do) — ALS truncates its factor
    * lineage by checkpointing every 10 iterations, and without a dir
    * the 40-iter lineage overflows the task-deserialization stack.
    */
  val referenceConfig: Config =
    Config(rank = 200, maxIter = 40, regParam = 0.4f, seed = 42L, numFolds = 3)

  /** M1+M3: StringIndexer×2 + ALS pipeline (recommender.py:70–82). */
  def pipeline(cfg: Config): Pipeline = {
    val userIdx = new StringIndexer().setInputCol("userId")
      .setOutputCol("userIndexed").setHandleInvalid("skip")
    val itemIdx = new StringIndexer().setInputCol("itemId")
      .setOutputCol("itemIndexed").setHandleInvalid("skip")
    val als = new ALS()
      .setUserCol("userIndexed").setItemCol("itemIndexed").setRatingCol("rating")
      .setRank(cfg.rank).setMaxIter(cfg.maxIter).setRegParam(cfg.regParam)
      .setNonnegative(true).setImplicitPrefs(false)
      .setColdStartStrategy("drop").setSeed(cfg.seed)
    new Pipeline().setStages(Array(userIdx, itemIdx, als))
  }

  /** M5+A6: RMSE of a fitted model on a holdout (recommender.py:139–141). */
  def rmse(model: PipelineModel, test: DataFrame): Double = {
    val eval = new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
    eval.evaluate(model.transform(test))
  }

  /** Plain fit on an 80/20 split (recommender.py:104): returns
    * (model, rmse). Ratings schema: userId/itemId string, rating float.
    */
  def train(ratings: DataFrame, cfg: Config = Config()): (PipelineModel, Double) = {
    // Cache the (possibly expensive) ratings lineage: the two indexer
    // fits, the ALS fit, and the holdout scoring each traverse it.
    val cached = ratings.cache()
    try {
      val Array(train, test) = cached.randomSplit(Array(0.8, 0.2), cfg.seed)
      val model = pipeline(cfg).fit(train)
      (model, rmse(model, test))
    } finally cached.unpersist()
  }

  /** `train` without the holdout RMSE job — for serving callers that
    * only keep the model (the session memo, trainAndRecommend): the
    * tuple form scored the 20% holdout on every build and both callers
    * threw the number away (guide §1.2: don't compute what you
    * discard). IDENTICAL model: same cache, same seeded split (the fit
    * still trains on the 80% side), same pipeline fit.
    */
  def trainModel(ratings: DataFrame, cfg: Config = Config()): PipelineModel = {
    val cached = ratings.cache()
    try {
      val Array(train, _) = cached.randomSplit(Array(0.8, 0.2), cfg.seed)
      pipeline(cfg).fit(train)
    } finally cached.unpersist()
  }

  /** M4: 3-fold CrossValidator over the reference's single grid point
    * (recommender.py:112–127). Returns the best model.
    */
  def trainCV(ratings: DataFrame, cfg: Config = Config()): PipelineModel = {
    val eval = new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
    val cv = new CrossValidator()
      .setEstimator(pipeline(cfg))
      .setEvaluator(eval)
      .setEstimatorParamMaps(new ParamGridBuilder().build())
      .setNumFolds(cfg.numFolds)
      .setSeed(cfg.seed)
    cv.fit(ratings).bestModel.asInstanceOf[PipelineModel]
  }

  /** M6 + U1: top-k per user, mapped back to original ids through the
    * indexers' labels (no UDFs — recommender.py:145–174 rebuilt).
    * Output: userId, itemId, rank (1-based), predicted float.
    *
    * Scale contract: `userLimit = None` scores every user, a
    * corpus-scale user side, so it stays on MLlib's
    * `recommendForAllUsers` (a blocked users×items crossJoin with the
    * top-k kept on the executors) and `IndexToString` back-maps.
    * `userLimit = Some(n)` serves the users indexed below n, a
    * query-scale side: their factors are collected and broadcast, one
    * `TopK.pass` over `itemFactors` keeps a bounded top-k per user in
    * each partition, and the driver merges those and maps indices back
    * through `labelsArray` — two Spark jobs, and a local frame out.
    *
    * The pass scores with the routine `ALSModel.recommendForAll`
    * calls (JavaBLAS `sgemv`) on MLlib's own item blocks (each
    * partition in `blockSize` rows, in order), so every `predicted`
    * equals MLlib's bit for bit, and ranks as MLlib's final
    * `collect_top_k(struct(rating, item))` does: score descending,
    * exact float ties to the higher item index. MLlib first cuts each
    * item block to k with Guava's `greatestOf`, which compares scores
    * only; on RecoSpec's forced-tie model its cut keeps the same items
    * as this rule at every k.
    */
  def recommendAll(model: PipelineModel, k: Int,
      userLimit: Option[Int] = None): DataFrame = {
    val userIdx = model.stages(0).asInstanceOf[StringIndexerModel]
    val itemIdx = model.stages(1).asInstanceOf[StringIndexerModel]
    val als = model.stages(2).asInstanceOf[ALSModel]
    userLimit match {
      case Some(n) =>
        recommendSubset(als, k, n, userIdx.labelsArray(0), itemIdx.labelsArray(0))
      case None =>
        val recs = als.recommendForAllUsers(k)
          .select(col("userIndexed"),
            posexplode(col("recommendations")).as(Seq("pos", "rec")))
          .select(col("userIndexed").cast("double"),
            col("rec.itemIndexed").cast("double").as("itemIndexed"),
            (col("pos") + 1).as("rank"),
            col("rec.rating").as("predicted"))
        val backUser = new IndexToString().setInputCol("userIndexed")
          .setOutputCol("userId").setLabels(userIdx.labelsArray(0))
        val backItem = new IndexToString().setInputCol("itemIndexed")
          .setOutputCol("itemId").setLabels(itemIdx.labelsArray(0))
        backItem.transform(backUser.transform(recs))
          .select(col("userId"), col("itemId"), col("rank"), col("predicted"))
    }
  }

  /** (score, item index) in the order MLlib's `recommendForAll` gives
    * its final list, `collect_top_k(struct(rating, item))`: score
    * descending in Spark's float order (NaN above every number, −0.0 =
    * 0.0), ties to the higher item index.
    */
  private val Best: Ordering[(Float, Int)] = (a, b) => {
    val c = SQLOrderingUtil.compareFloats(b._1, a._1)
    if (c != 0) c else Integer.compare(b._2, a._2)
  }

  /** `recommendAll`'s `userLimit = Some(n)` kernel. */
  private def recommendSubset(als: ALSModel, k: Int, n: Int,
      userLabels: Array[String], itemLabels: Array[String]): DataFrame = {
    val spark = als.itemFactors.sparkSession
    import spark.implicits._
    val users = als.userFactors.filter(col("id") < n)
      .as[(Int, Array[Float])].collect()
    val rank = als.rank
    val blockSize = als.getBlockSize
    val tops = TopK.pass(als.itemFactors.as[(Int, Array[Float])].rdd,
        users.flatMap(_._2), users.length, k, Best) { (srcMat, rows, tops) =>
      val blas = dev.ludovic.netlib.blas.JavaBLAS.getInstance
      // ALSModel.blockify: the partition in blockSize-row blocks
      rows.grouped(blockSize).foreach { block =>
        val dstIds = block.map(_._1).toArray
        val dstMat = block.flatMap(_._2).toArray
        val m = dstIds.length
        val scores = new Array[Float](m)
        var i = 0
        while (i < tops.length) {
          blas.sgemv("T", rank, m, 1f, dstMat, 0, rank, srcMat, i * rank, 1,
            0f, scores, 0, 1)
          val top = tops(i)
          var j = 0
          while (j < m) {
            if (top.size < k || SQLOrderingUtil.compareFloats(scores(j), top.worst._1) >= 0)
              top.offer((scores(j), dstIds(j)))
            j += 1
          }
          i += 1
        }
      }
    }
    val rows = users.indices.sortBy(users(_)._1).flatMap { i =>
      tops(i).zipWithIndex.map { case ((score, item), r) =>
        Row(userLabels(users(i)._1), itemLabels(item), r + 1, score)
      }
    }
    spark.createDataFrame(rows.asJava, RecSchema)
  }

  private val RecSchema = StructType(Seq(
    StructField("userId", StringType),
    StructField("itemId", StringType),
    StructField("rank", IntegerType, nullable = false),
    StructField("predicted", FloatType)))
}
