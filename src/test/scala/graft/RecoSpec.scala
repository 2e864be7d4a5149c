package graft

import java.nio.file.Files
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.functions._
import graft.reco.{RatingSynth, Recommender}

/** ALS core invariants (SURVEY §5.2: non-SQL ops get scalatest, not a
  * DuckDB oracle): seeded RMSE bound, top-k shape/order, nonnegative
  * factors, id round-trip through IndexToString, model persistence.
  */
class RecoSpec extends SparkSpec {

  private lazy val ratings = RatingSynth.synthRatings(spark, sfDir)
    .select(col("userId").cast("string").as("userId"),
      col("itemId").cast("string").as("itemId"), col("rating"))

  private lazy val (model, rmseVal) = Recommender.train(ratings)

  test("seeded holdout RMSE is below threshold (recommender.py:139–141 twin)") {
    assert(rmseVal > 0.0 && rmseVal < 1.5, s"rmse=$rmseVal")
  }

  test("recommendForAllUsers: <=k recs per user, ranks 1..k, ordered by predicted") {
    val recs = Recommender.recommendAll(model, 5).cache()
    val byUser = recs.groupBy("userId").agg(count(lit(1)).as("n")).collect()
    assert(byUser.forall(_.getAs[Long]("n") <= 5))
    val badOrder = recs.groupBy("userId")
      .agg(min(when(col("rank") === 1, col("predicted"))).as("p1"),
        max(when(col("rank") > 1, col("predicted"))).as("prest"))
      .filter(col("prest") > col("p1")).count()
    assert(badOrder === 0)
  }

  test("nonnegative factorization yields nonnegative predictions") {
    val recs = Recommender.recommendAll(model, 5)
    assert(recs.filter(col("predicted") < 0).count() === 0)
  }

  test("IndexToString round-trips original ids (U1, no UDFs)") {
    val recs = Recommender.recommendAll(model, 5)
    val users = ratings.select("userId").distinct()
      .collect().map(_.getString(0)).toSet
    val items = ratings.select("itemId").distinct()
      .collect().map(_.getString(0)).toSet
    val recUsers = recs.select("userId").distinct()
      .collect().map(_.getString(0)).toSet
    val recItems = recs.select("itemId").distinct()
      .collect().map(_.getString(0)).toSet
    assert(recUsers.subsetOf(users))
    assert(recItems.subsetOf(items))
  }

  test("cold-start rows are dropped, not NaN (coldStartStrategy=drop)") {
    val scored = model.transform(
      ratings.limit(20).withColumn("userId", lit("no-such-user")))
    // handleInvalid=skip drops unknown ids before ALS sees them
    assert(scored.filter(col("prediction").isNaN).count() === 0)
  }

  test("model persistence round-trip (S8, recommender.py:136/44)") {
    val dir = Files.createTempDirectory("graft-als").toString + "/model"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = Recommender.recommendAll(model, 3).orderBy("userId", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val b = Recommender.recommendAll(loaded, 3).orderBy("userId", "rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(a.toSeq === b.toSeq)
  }

  test("reference hyperparameters train without OOM and beat the ratings stddev") {
    // recommender.py:106–123's exact point: rank 200 / maxIter 40 /
    // reg 0.4, 3-fold CV. The RMSE here is the recorded BASELINE.md run.
    val Array(tr, te) = ratings.randomSplit(Array(0.8, 0.2), 42L)
    val best = Recommender.trainCV(tr, Recommender.referenceConfig)
    val r = Recommender.rmse(best, te)
    info(f"reference-config holdout RMSE = $r%.4f")
    // predicting the global mean would score ~the rating stddev (~1.0
    // on the tier synthesis); the factorization must do better
    assert(r > 0.0 && r < 1.1, s"rmse=$r")
  }

  test("3-fold CrossValidator returns a usable best model (M4)") {
    val cfg = Recommender.Config(rank = 4, maxIter = 3, numFolds = 3)
    val best = Recommender.trainCV(ratings, cfg)
    val recs = Recommender.recommendAll(best, 3)
    assert(recs.count() > 0)
  }

  /** (userId, itemId, rank, raw bits of predicted), sorted. */
  private def recRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getString(1), r.getInt(2),
      java.lang.Float.floatToRawIntBits(r.getFloat(3))))
    .toSeq.sorted

  /** The reference: MLlib's all-users top-k, restricted to the users
    * indexed below n.
    */
  private def mllibSubset(m: PipelineModel, k: Int, n: Int) = {
    val served = m.stages(0).asInstanceOf[StringIndexerModel]
      .labelsArray(0).take(n).toSet
    recRows(Recommender.recommendAll(m, k)).filter(r => served(r._1))
  }

  test("userLimit serves MLlib's all-users top-k of the users below n, scores bit for bit") {
    val users = model.stages(0).asInstanceOf[StringIndexerModel].labelsArray(0).length
    val items = model.stages(1).asInstanceOf[StringIndexerModel].labelsArray(0).length
    for (k <- Seq(5, items + 3); n <- Seq(0, users / 3, users + 10)) {
      val served = recRows(Recommender.recommendAll(model, k, userLimit = Some(n)))
      assert(served === mllibSubset(model, k, n), s"k=$k n=$n")
      assert(served.size === math.min(n, users) * math.min(k, items), s"k=$k n=$n")
    }
  }

  test("userLimit ranks exact score ties as MLlib's all-users top-k does") {
    // items i4 and i5 get the same rating from every user, so ALS
    // solves the same normal equations for both: equal factors, and an
    // exact score tie for every user
    val rs = for (u <- 0 until 12; i <- 0 until 6)
      yield (s"u$u", s"i$i", (1 + (u * 7 + (if (i == 5) 4 else i) * 3) % 5).toFloat)
    val tied = Recommender.pipeline(Recommender.Config(rank = 3, maxIter = 4))
      .fit(spark.createDataFrame(rs).toDF("userId", "itemId", "rating"))
    val itemLabels = tied.stages(1).asInstanceOf[StringIndexerModel].labelsArray(0)
    val factors = tied.stages(2).asInstanceOf[ALSModel].itemFactors.collect()
      .map(r => itemLabels(r.getInt(0)) -> r.getSeq[Float](1)).toMap
    assert(factors("i4") === factors("i5"), "the fixture must force an exact tie")
    // the tie ranks the higher item index first, in adjacent ranks
    val higher = Seq("i4", "i5").maxBy(itemLabels.indexOf(_))
    val full = recRows(Recommender.recommendAll(tied, 6, userLimit = Some(100)))
    full.groupBy(_._1).foreach { case (u, recs) =>
      val byItem = recs.map(r => r._2 -> r).toMap
      val (a, b) = (byItem(higher), byItem(Seq("i4", "i5").filterNot(_ == higher).head))
      assert(a._4 === b._4, s"$u: no tie")
      assert(a._3 + 1 === b._3, s"$u: ${recs.sortBy(_._3)}")
    }
    // every cut, ties included, is MLlib's rows bit for bit
    (1 to 5).foreach { k =>
      assert(recRows(Recommender.recommendAll(tied, k, userLimit = Some(100))) ===
        mllibSubset(tied, k, 100), s"k=$k")
    }
  }

  test("q61 serves from a built model in at most 3 Spark jobs, the same on every rep") {
    val q61 = Registry.byName("q61_als_recommend").fn
    try {
      queries.RecoOps.warmAlsModel(spark, sfDir)
      val jobs = (1 to 3).map(_ => jobsOf(q61(spark, sfDir).collect())._2)
      info(s"jobs per rep: $jobs")
      assert(jobs.forall(_ <= 3), s"jobs per rep: $jobs")
      assert(jobs.distinct.size === 1, s"jobs per rep: $jobs")
    } finally queries.RecoOps.releaseCaches()
  }
}
