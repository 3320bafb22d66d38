package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Classifier

/** Distilled quality classifier: training dynamics, score semantics,
  * and calibration-sweep consistency — the properties the DuckDB
  * differential (which replays the identical arithmetic) can't judge,
  * like "did the model actually learn anything".
  */
class ClassifierSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-classifier-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val scored =
    Classifier.qQualityClassifier(spark, dir).cache()

  // shared-JVM hygiene: SamplingSpec's cache-hygiene test asserts no
  // plain persist outlives its owning suite
  override def afterAll(): Unit = {
    scored.unpersist()
    super.afterAll()
  }

  test("student beats the majority class against the teacher labels") {
    val n = scored.count().toDouble
    val correct = scored.filter(col("pred") === col("y")).count().toDouble
    val pos = scored.filter(col("y") === 1).count().toDouble
    val majority = math.max(pos, n - pos) / n
    val acc = correct / n
    // swept at 0.95 on this fixture; 0.90 leaves headroom for fixture
    // regeneration without letting a degenerate always-one-class model
    // (majority ≈ 0.6) slip through
    assert(acc >= 0.90, s"accuracy $acc")
    assert(acc > majority, s"accuracy $acc vs majority $majority")
  }

  test("learned weights: positive bias, non-positive violation weights") {
    val w = Classifier.train(
      Classifier.features(Tables.documents(spark, dir)))
    assert(w.forall(x => !x.isNaN && !x.isInfinite))
    // compliant docs sit at the all-zero violation point: the bias must
    // put that point firmly on the keep side of the 0.5 boundary
    assert(w(0) > 0.5, s"bias ${w(0)}")
    // violations can only push toward drop
    (1 until Classifier.NumFeatures).foreach(j =>
      assert(w(j) <= 0.0, s"w$j = ${w(j)}"))
  }

  test("scores are probabilities and pred is the 0.5 threshold") {
    assert(scored.filter(col("score") < 0 || col("score") > 1).count() == 0)
    assert(scored.filter(
      (col("score") >= 0.5) =!= (col("pred") === 1)).count() == 0)
  }

  test("calibration sweep is a valid confusion family over thresholds") {
    val cal = Classifier.qClassifierCalibration(spark, dir).collect()
    assert(cal.length == 9)
    val n = scored.count()
    // every row partitions the corpus
    cal.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == n)
    }
    // predicted positives shrink monotonically as the threshold rises
    val predPos = cal.map(r => r.getLong(1) + r.getLong(2)).toSeq
    assert(predPos == predPos.sorted.reverse, predPos.toString)
    // the tau=0.5 row must agree with the classifier's own pred column
    val at05 = cal.find(r => math.abs(r.getDouble(0) - 0.5) < 1e-9).get
    val predOnes = scored.filter(col("pred") === 1).count()
    assert(at05.getLong(1) + at05.getLong(2) == predOnes)
  }

  test("served scoring under the frozen artifact equals in-plan training") {
    val served = Classifier.qClassifierServed(spark, dir)
    val inPlan = Classifier.qQualityClassifier(spark, dir)
    assert(served.collect().toSeq == inPlan.collect().toSeq)
  }

  test("weighted sample admits at the score rate in expectation") {
    val w = Classifier.qQualityWeightedSample(spark, dir).collect()
    w.foreach { r =>
      val (score, u, kept) = (r.getDouble(1), r.getDouble(2), r.getInt(3))
      assert(u >= 0.0 && u < 1.0)
      assert((u < score) === (kept == 1))
    }
    // law of large numbers at corpus size: admitted fraction tracks the
    // mean score (hash draws are uniform; 500 draws → ~±3σ ≈ 0.07)
    val meanScore = w.map(_.getDouble(1)).sum / w.length
    val keptFrac = w.count(_.getInt(3) == 1).toDouble / w.length
    assert(math.abs(keptFrac - meanScore) < 0.08,
      s"kept $keptFrac vs mean score $meanScore")
  }

  test("empty corpus trains to zero weights and scores no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val w = Classifier.train(Classifier.features(empty))
    assert(w.forall(_ == 0.0))
    assert(Classifier.scoreCorpus(empty).count() == 0)
  }

  test("training leaves the session's conf alone: a join planned on " +
    "another thread meanwhile keeps adaptive execution") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val confBefore = spark.conf.getAll
    val feats = Classifier.features(graft.Tables.documents(spark, dir))
    @volatile var training = true
    @volatile var w: Array[Double] = null
    val trainer = new Thread(() =>
      try w = Classifier.train(feats) finally training = false)
    // plan joins until training ends: every plan must be adaptive
    var plans, plainPlans = 0
    trainer.start()
    while (training) {
      val j = spark.range(100).join(spark.range(100), "id")
      if (!j.queryExecution.executedPlan
          .isInstanceOf[AdaptiveSparkPlanExec]) plainPlans += 1
      plans += 1
    }
    trainer.join()
    assert(w != null && plans > 0)
    assert(plainPlans === 0,
      s"$plainPlans of $plans joins planned during training lost AQE")
    assert(spark.conf.getAll === confBefore)
  }
}
