package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.fit.{SlopeConfig, SlopeEstimator}

/** Dataset parity kit: the reference's five bundled datasets (R/data.R),
  * extracted from its rda files into the text formats its own ingestion
  * started from (data-raw/datasets.R) and loaded through the engine's
  * readers — so reference examples run on the REAL data, not synthetics.
  * The end-to-end fits here are the engine's analogue of the reference's
  * vignette usage: fit each family on its bundled dataset and get a
  * sane, signal-bearing path.
  */
class DatasetsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "src/test/resources/datasets"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("graft-datasets-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("all five datasets load with the reference's exact shapes and columns") {
    val heart = Datasets.heart(spark, dir)
    assert(heart.count() == 270 && heart.columns.length == 19) // 18 + y
    val bodyfat = Datasets.bodyfat(spark, dir)
    assert(bodyfat.count() == 252 &&
      bodyfat.columns.toSeq == "siri" +: Datasets.bodyfatFeatures)
    val abalone = Datasets.abalone(spark, dir)
    assert(abalone.count() == 211 &&
      abalone.columns.toSeq == "rings" +: Datasets.abaloneFeatures)
    val wine = Datasets.wine(spark, dir)
    assert(wine.count() == 178 &&
      wine.columns.toSeq == "class" +: Datasets.wineFeatures)
    val student = Datasets.student(spark, dir)
    assert(student.count() == 382 &&
      student.columns.toSeq ==
        Seq("math", "portugese") ++ Datasets.studentFeatures)
  }

  test("heart fits end-to-end: binomial path on the real 270x18 design") {
    // scoring a 15-step path must compile: with the codegen fallback off,
    // a generated class past the JVM's 64 KB method limit fails the case
    // instead of silently running the stage interpreted
    val fallback = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try {
      val df = Datasets.heart(spark, dir)
      val model = SlopeEstimator.fit(df, Datasets.heartFeatures, "y",
        SlopeConfig(family = "binomial", nSigma = 15))
      assert(model.classNames.sameElements(Array("absence", "presence")))
      // heart disease vs these predictors is a well-conditioned logistic
      // problem: the least-penalized step must rank strongly (lit. AUC ~0.9)
      val auc = model.score(df, Datasets.heartFeatures, "y", "auc")
      assert(auc.last > 0.85, s"heart AUC ${auc.last}")
      val mis = model.score(df, Datasets.heartFeatures, "y", "misclass")
      val nullRate = 120.0 / 270.0 // 120 presence, 150 absence
      assert(mis.last < nullRate, s"misclass ${mis.last} vs null $nullRate")
    } finally prior match {
      case Some(v) => spark.conf.set(fallback, v)
      case None => spark.conf.unset(fallback)
    }
  }

  test("bodyfat fits end-to-end: gaussian path explains Siri body fat") {
    val df = Datasets.bodyfat(spark, dir)
    val model = SlopeEstimator.fit(df, Datasets.bodyfatFeatures, "siri",
      SlopeConfig(nSigma = 15))
    // abdomen/weight dominate body-fat prediction; deviance ratio (R²)
    // well above 0.6 by the end of the path
    assert(model.fit.devianceRatios.last > 0.6,
      s"bodyfat R² ${model.fit.devianceRatios.last}")
  }

  test("abalone fits end-to-end: poisson path on ring counts") {
    val df = Datasets.abalone(spark, dir)
    val model = SlopeEstimator.fit(df, Datasets.abaloneFeatures, "rings",
      SlopeConfig(family = "poisson", nSigma = 10))
    val dr = model.fit.devianceRatios
    assert(dr.last > 0.2 && dr.last <= 1.0, s"abalone deviance ratio ${dr.last}")
    assert(dr.zip(dr.tail).forall { case (a, b) => b >= a - 1e-9 },
      "deviance ratio must not decrease along the path")
  }

  test("wine fits end-to-end: multinomial path separates the three cultivars") {
    val df = Datasets.wine(spark, dir)
    val model = SlopeEstimator.fit(df, Datasets.wineFeatures, "class",
      SlopeConfig(family = "multinomial", nSigma = 12))
    assert(model.classNames.sameElements(Array("A", "B", "C")))
    // wine is nearly linearly separable — misclass under 10% when fit
    val mis = model.score(df, Datasets.wineFeatures, "class", "misclass")
    assert(mis.last < 0.10, s"wine misclass ${mis.last}")
  }
}
