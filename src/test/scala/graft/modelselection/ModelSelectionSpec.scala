package graft.modelselection

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.linear.LinearRegression
import graft.metrics.Metrics
import graft.preprocessing.StandardScaler

class ModelSelectionSpec extends SparkSpec {

  lazy val orders = Tables.orders(spark, sfDir).cache()

  test("withRowIndex: dense unique 0..n-1") {
    val idx = Splits.withRowIndex(orders.repartition(7))
    val n = orders.count()
    val row = idx.agg(min("row_index"), max("row_index"),
      countDistinct("row_index")).head()
    assert(row.getLong(0) == 0L && row.getLong(1) == n - 1 && row.getLong(2) == n)
  }

  test("trainTestSplit: disjoint, complete, ~right sizes") {
    val (tr, te) = Splits.trainTestSplit(orders, testSize = 0.25, seed = 1)
    val (nTr, nTe, n) = (tr.count(), te.count(), orders.count())
    assert(nTr + nTe == n)
    assert(math.abs(nTe.toDouble / n - 0.25) < 0.05)
  }

  test("kfold: k disjoint complete folds, test sizes differ by <= 1") {
    val folds = Splits.kfold(orders.repartition(5), 4)
    val sizes = folds.map(_._2.count())
    assert(sizes.sum == orders.count())
    assert(sizes.max - sizes.min <= 1)
    folds.foreach { case (tr, te) => assert(tr.count() + te.count() == orders.count()) }
  }

  test("shuffleSplit produces n distinct splits") {
    val splits = Splits.shuffleSplit(orders, nSplits = 3, testSize = 0.2, seed = 7)
    assert(splits.size == 3)
    val counts = splits.map(_._2.count())
    assert(counts.forall(c => c > 0 && c < orders.count()))
  }

  test("GridSearchCV picks the best-regularized model and dedups identical candidates") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500 + lit(3.0))
    val search = new GridSearchCV[graft.linear.LinearRegressionModel](
      params => new LinearRegression(Seq("x"), "y",
        c = params("c").asInstanceOf[Double]),
      Map("c" -> Seq(1e6, 1e-6, 1e6)), // duplicate candidate on purpose
      (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 3, parallelism = 2)
    val res = search.fit(df)
    // y is exactly linear in x -> huge C (no regularization) must win
    assert(res.bestParams("c") == 1e6)
    assert(res.bestScore ~== (1.0, 1e-6))
    assert(res.cvResults.map(_.rank).min == 1)
  }

  test("PipelineGridSearchCV shares prefix fits across candidates") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500)
    val search = new PipelineGridSearchCV[graft.linear.LinearRegressionModel](
      stages = PipelineGridSearchCV.linear("scale" -> (p => new StandardScaler(Seq("x"),
        withMean = p("with_mean").asInstanceOf[Boolean]))),
      finalStage = "lr" -> (p => new LinearRegression(Seq("x"), "y",
        c = p("c").asInstanceOf[Double])),
      paramGrid = Map(
        "scale__with_mean" -> Seq(true, false),
        "lr__c" -> Seq(1e6, 1.0, 1e-4)),
      scorer = (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 2)
    val res = search.fit(df)
    // 6 candidates × 2 folds, but only 2 distinct scaler configs × 2 folds
    assert(search.lastFitCount == 4,
      s"prefix sharing broken: ${search.lastFitCount} stage fits")
    assert(res.bestScore > 0.99)
  }

  test("Passthrough stage: grid can search with/without a pipeline step") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500)
    val search = new PipelineGridSearchCV[graft.linear.LinearRegressionModel](
      stages = PipelineGridSearchCV.linear("scale" -> (p =>
        if (p("on").asInstanceOf[Boolean]) new StandardScaler(Seq("x"))
        else graft.compose.Passthrough)),
      finalStage = "lr" -> (_ => new LinearRegression(Seq("x"), "y")),
      paramGrid = Map("scale__on" -> Seq(true, false)),
      scorer = (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 2)
    val res = search.fit(df)
    // y is linear in x either way -> both candidates near-perfect, and
    // the passthrough branch really fit nothing but still scored
    assert(res.cvResults.forall(_.meanScore > 0.99))
    assert(search.lastFitCount == 4) // 2 configs x 2 folds, deduped
    // identity semantics
    val pt = graft.compose.Passthrough.fit(df).transform(df)
    assert(pt.schema == df.schema && pt.count() == df.count())
  }

  test("union branches dedup fits across candidates (_do_featureunion)") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500)
    val branchCols = Seq("std" -> Seq("x"), "mm" -> Seq("x"))
    val search = new PipelineGridSearchCV[graft.linear.LinearRegressionModel](
      stages = Seq(SearchStage.Union("u",
        d => graft.compose.FeatureUnion.prepare(d, branchCols),
        Seq(
          // fixed-param branch: must fit once per fold, shared by all 4 candidates
          "std" -> (_ => new StandardScaler(Seq("std__x"))),
          // varying branch: once per (param value, fold)
          "mm" -> (p => new StandardScaler(Seq("mm__x"),
            withMean = p("with_mean").asInstanceOf[Boolean]))))),
      finalStage = "lr" -> (p => new LinearRegression(Seq("std__x", "mm__x"), "y",
        c = p("c").asInstanceOf[Double])),
      paramGrid = Map(
        "u__mm__with_mean" -> Seq(true, false),
        "lr__c" -> Seq(1e6, 1.0)),
      scorer = (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 2)
    val res = search.fit(df)
    // 4 candidates × 2 folds × 2 branches = 16 naive fits; shared:
    // std 1×2 folds + mm 2 configs×2 folds = 6
    assert(search.lastFitCount == 6,
      s"union branch dedup broken: ${search.lastFitCount} branch fits")
    assert(res.bestScore > 0.99)
  }

  test("FeatureUnion: fan-out fit on same input, weighted hstack columns") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val fu = new graft.compose.FeatureUnion(
      Seq(
        ("std", Seq("x"), cs => new StandardScaler(cs)),
        ("mm", Seq("x"), cs => new graft.preprocessing.MinMaxScaler(cs))),
      weights = Map("mm" -> 2.0))
    val out = fu.fit(df).transform(df).orderBy("x")
      .select("x", "std__x", "mm__x").as[(Double, Double, Double)].collect()
    // source column untouched; branches transform their own copies
    assert(out.map(_._1).toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    // std: mean 2.5, std_pop sqrt(1.25); mm: (x-1)/3 then *2
    assert(out.head._2 ~== (-1.5 / math.sqrt(1.25), 1e-9))
    assert(out.map(_._3).toSeq == Seq(0.0, 2.0 / 3, 4.0 / 3, 2.0))
    // learned state is small immutable per-branch models → ModelIO works
    val path = java.nio.file.Files.createTempDirectory("graftio").toString + "/fu.bin"
    graft.core.ModelIO.save(spark, fu.fit(df), path)
    val loaded = graft.core.ModelIO
      .load[graft.compose.FeatureUnionModel](spark, path)
    val out2 = loaded.transform(df).orderBy("x")
      .select("mm__x").as[Double].collect().toSeq
    assert(out2 == out.map(_._3).toSeq)
  }

  test("kfoldShuffled: balanced md5-permuted folds, salt redraws, partition-invariant") {
    val f1 = Splits.withShuffledFold(orders, 4, "o_orderkey")
      .select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sizes = f1.values.groupBy(identity).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1 && sizes.sum == orders.count())
    // deterministic across partitionings (md5 order, no RNG)
    val f2 = Splits.withShuffledFold(orders.repartition(11), 4, "o_orderkey")
      .select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(f1 == f2)
    // not the contiguous assignment (it IS shuffled)...
    val plain = Splits.withFold(orders.orderBy("o_orderkey"), 4)
      .select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(f1 != plain)
    // ...and a salt draws a different balanced permutation
    val salted = Splits.withShuffledFold(orders, 4, "o_orderkey", salt = "v2")
      .select("o_orderkey", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(salted != f1)
  }

  test("hashSample: deterministic, partition-invariant, disjoint+exhaustive complement") {
    val ids = orders.select("o_orderkey")
    val take = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.getLong(0)).toSet
    val s1 = take(Splits.hashSample(ids, "o_orderkey", 0.3))
    val s2 = take(Splits.hashSample(ids.repartition(13), "o_orderkey", 0.3))
    assert(s1 == s2, "membership must not depend on partitioning")
    val c1 = take(Splits.hashSampleComplement(ids, "o_orderkey", 0.3))
    assert((s1 & c1).isEmpty && (s1 | c1) == take(ids))
    // roughly the requested rate
    assert(math.abs(s1.size.toDouble / ids.count() - 0.3) < 0.05)
    // salting draws a different (still deterministic) sample
    val salted = take(Splits.hashSample(ids, "o_orderkey", 0.3, salt = "v2"))
    assert(salted != s1)
    // nested rates: a 10% sample is a subset of the 30% sample (same salt)
    val s10 = take(Splits.hashSample(ids, "o_orderkey", 0.1))
    assert(s10.subsetOf(s1))
  }

  test("stratifiedHashSample: per-group cuts, partition-invariant, group nesting") {
    import spark.implicits._
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "g")
    val take = (df: org.apache.spark.sql.DataFrame) =>
      df.select("id").collect().map(_.getLong(0)).toSet
    val fr = Map("a" -> 0.6, "b" -> 0.2)
    val s1 = take(Splits.stratifiedHashSample(rows, "id", "g", fr))
    val s2 = take(Splits.stratifiedHashSample(rows.repartition(7), "id", "g", fr))
    assert(s1 == s2, "membership must not depend on partitioning")
    // group-restricted membership equals the flat hashSample at that rate
    val aOnly = rows.filter($"g" === "a")
    assert(take(Splits.stratifiedHashSample(rows, "id", "g", fr)
      .filter($"g" === "a")) == take(Splits.hashSample(aOnly, "id", 0.6)))
    // default fraction drops unlisted groups entirely
    val onlyA = Splits.stratifiedHashSample(rows, "id", "g", Map("a" -> 1.0))
    assert(onlyA.select("g").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
    assert(onlyA.count() == 200)
  }

  test("mixtureRates closed form + mixtureSample hits the budgeted mixture") {
    import spark.implicits._
    // group a: 100 rows x 100 units; group b: 100 rows x 20 units
    val rows = ((0L until 100L).map(i => (i, "a", 100L)) ++
      (100L until 200L).map(i => (i, "b", 20L))).toDF("id", "g", "units")
    val rates = Splits.mixtureRates(rows, "g", "units",
      Map("a" -> 0.5, "b" -> 0.5), unitBudget = 4000)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    // a: min(1, 0.5*4000/10000) = 0.2; b: min(1, 0.5*4000/2000) = 1.0
    assert(rates("a") == ((100L, 10000L, 0.2)))
    assert(rates("b") == ((100L, 2000L, 1.0)))
    val ratesDf = Splits.mixtureRates(rows, "g", "units",
      Map("a" -> 0.5, "b" -> 0.5), unitBudget = 4000)
    val kept = Splits.mixtureSample(rows, "id", "g", ratesDf)
    // rate-1 group keeps every row; rate-0.2 group keeps ~20
    assert(kept.filter($"g" === "b").count() == 100)
    val aKept = kept.filter($"g" === "a").count()
    assert(aKept > 5 && aKept < 40, s"expected ~20 of 100, got $aKept")
    // deterministic under repartition
    val kept2 = Splits.mixtureSample(rows.repartition(11), "id", "g", ratesDf)
    assert(kept.select("id").collect().map(_.getLong(0)).toSet ==
      kept2.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("kfoldPairwiseCached slices K[ix_(train,train)] and K[ix_(test,train)]") {
    import spark.implicits._
    // 5x5 kernel K(i,j) = 10i + j; folds over n=5, k=2: fold0=[0,3), fold1=[3,5)
    val kernel = (for (i <- 0 until 5; j <- 0 until 5)
      yield (i.toLong, j.toLong, (10 * i + j).toDouble))
      .toDF("row_idx", "col_idx", "kv")
    val (slices, cleanup) = Splits.kfoldPairwiseCached(kernel, 5, 2)
    try {
      def setOf(df: org.apache.spark.sql.DataFrame) =
        df.select("row_idx", "col_idx").as[(Long, Long)].collect().toSet
      // fold 0: train = {3,4} -> train slice 2x2, test slice rows {0,1,2} x cols {3,4}
      assert(setOf(slices(0)._1) == (for (i <- 3 to 4; j <- 3 to 4) yield (i.toLong, j.toLong)).toSet)
      assert(setOf(slices(0)._2) == (for (i <- 0 to 2; j <- 3 to 4) yield (i.toLong, j.toLong)).toSet)
      // fold 1: train = {0,1,2}
      assert(setOf(slices(1)._1) == (for (i <- 0 to 2; j <- 0 to 2) yield (i.toLong, j.toLong)).toSet)
      assert(setOf(slices(1)._2) == (for (i <- 3 to 4; j <- 0 to 2) yield (i.toLong, j.toLong)).toSet)
      // values ride along unchanged
      val v = slices(0)._2.filter(col("row_idx") === 1 && col("col_idx") === 4)
        .select("kv").as[Double].head()
      assert(v == 14.0)
    } finally cleanup()
  }

  test("ParamGrid.expand is the full cartesian product in stable order") {
    val g = ParamGrid.expand(Map("a" -> Seq(1, 2), "b" -> Seq("x", "y")))
    assert(g.size == 4 && g.distinct.size == 4)
  }

  test("stratifiedSample roughly preserves label balance") {
    val s = Splits.stratifiedSample(orders, "o_orderstatus", 0.5, seed = 3)
    val orig = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val samp = s.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    orig.foreach { case (k, n) =>
      assert(math.abs(samp(k).toDouble / n - 0.5) < 0.15) }
  }

  // ---- cv_results_ fidelity (mirrors the vendored sklearn suite's
  // semantics: test_model_selection_sklearn.py) ----

  private def olsSearch(grids: Seq[Map[String, Seq[Any]]] = Nil,
      grid: Map[String, Seq[Any]] = Map("c" -> Seq(1e6, 1.0)),
      scorers: Map[String, (graft.linear.LinearRegressionModel,
        org.apache.spark.sql.DataFrame) => Double] = Map.empty,
      errorScore: Option[Double] = None,
      refitMetric: String = "score") = {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500 + lit(3.0))
    val search = new GridSearchCV[graft.linear.LinearRegressionModel](
      params => {
        if (params.get("boom").contains(true)) throw new RuntimeException("boom")
        new LinearRegression(Seq("x"), "y", c = params("c").asInstanceOf[Double])
      },
      grid,
      (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 3, parallelism = 2, refit = false, scorers = scorers,
      refitMetric = refitMetric, errorScore = errorScore, paramGrids = grids)
    (search.fit(df), df)
  }

  test("cv_results: split scores, mean, population std per candidate") {
    val (res, _) = olsSearch()
    res.cvResults.foreach { r =>
      assert(r.splitScores.length == 3)
      val mean = r.splitScores.sum / 3
      assert(r.meanScore ~== (mean, 1e-12))
      val std = math.sqrt(r.splitScores.map(s => (s - mean) * (s - mean)).sum / 3)
      assert(r.stdScore ~== (std, 1e-12))
    }
  }

  test("cv_results: rankdata min-method ties") {
    // duplicate candidate -> identical means -> both get rank 1, next gets 3
    val (res, _) = olsSearch(grid = Map("c" -> Seq(1e6, 1e6, 1e-6)))
    val byC = res.cvResults.groupBy(_.params("c"))
    val dupRanks = byC(1e6).map(_.rank)
    assert(dupRanks == Seq(1, 1))
    assert(byC(1e-6).head.rank == 3)
  }

  test("cv_results: multimetric scoring blocks + refit metric selection") {
    val scorers = Map[String, (graft.linear.LinearRegressionModel,
        org.apache.spark.sql.DataFrame) => Double](
      "r2" -> ((m, t) => Metrics.r2Score(m.transform(t), "y", "prediction")),
      "neg_mse" -> ((m, t) => -Metrics.meanSquaredError(m.transform(t), "y", "prediction")))
    val (res, _) = olsSearch(scorers = scorers, refitMetric = "neg_mse")
    res.cvResults.foreach { r =>
      assert(r.metrics.keySet == Set("r2", "neg_mse"))
      assert(r.metrics("neg_mse").mean == r.meanScore) // primary = refit metric
      assert(r.metrics("r2").splitScores.length == 3)
    }
    // ranks computed per metric independently
    assert(res.cvResults.map(_.metrics("r2").rank).min == 1)
    assert(res.cvResults.map(_.metrics("neg_mse").rank).min == 1)
  }

  test("error_score=value records constant scores for a failing candidate") {
    val (res, _) = olsSearch(
      grids = Seq(Map("c" -> Seq(1e6)), Map("c" -> Seq(1.0), "boom" -> Seq(true))),
      errorScore = Some(-999.0))
    val failing = res.cvResults.find(_.params.contains("boom")).get
    assert(failing.splitScores.toSeq == Seq(-999.0, -999.0, -999.0))
    assert(failing.rank == 2)
    assert(res.bestParams("c") == 1e6)
  }

  test("error_score=None (raise) propagates the failure") {
    intercept[RuntimeException] {
      olsSearch(grids = Seq(Map("c" -> Seq(1e6)),
        Map("c" -> Seq(1.0), "boom" -> Seq(true))))
    }
  }

  test("cv_results DataFrame: masked param_* columns for multi-grid search") {
    val (res, _) = olsSearch(
      grids = Seq(Map("c" -> Seq(1e6)), Map("c" -> Seq(1.0), "boom" -> Seq(true))),
      errorScore = Some(0.0))
    val cvdf = res.cvResultsDf(spark)
    val cols = cvdf.columns.toSet
    assert(Set("param_boom", "param_c", "mean_test_score", "std_test_score",
      "rank_test_score", "split0_test_score", "split2_test_score",
      "mean_fit_time", "mean_score_time").subsetOf(cols))
    val rows = cvdf.collect()
    // the candidate from the first grid has no "boom" param -> null mask
    assert(rows.exists(r => r.isNullAt(r.fieldIndex("param_boom"))))
    assert(rows.exists(r => r.getAs[String]("param_boom") == "true"))
  }

  test("cv_results: fit/score timing recorded for successful fits") {
    val (res, _) = olsSearch()
    assert(res.cvResults.forall(_.meanFitTime > 0))
    assert(res.cvResults.forall(_.meanScoreTime > 0))
  }

  test("checkCv coercion and computeNSplits") {
    assert(CV.checkCv(null) == KFoldCV(5))
    assert(CV.checkCv(4) == KFoldCV(4))
    assert(CV.checkCv(ShuffleSplitCV(7, 0.2)) == ShuffleSplitCV(7, 0.2))
    assert(CV.computeNSplits(3) == 3)
    intercept[IllegalArgumentException] { CV.checkCv(1) }
    intercept[IllegalArgumentException] { CV.checkCv("nope") }
  }

  test("CVStrategy.split produces the declared number of splits") {
    assert(KFoldCV(3).split(orders).size == 3)
    assert(ShuffleSplitCV(2, 0.2).split(orders).size == 2)
    assert(StratifiedKFoldCV(3, "o_orderstatus", "o_orderkey")
      .split(orders).size == 3)
  }

  test("stratifiedKFold: folds partition the data and balance every class") {
    val folded = Splits.withStratifiedFold(orders, 4, "o_orderstatus", "o_orderkey")
    assert(folded.count() == orders.count())
    val sizes = folded.groupBy("fold", "o_orderstatus").count().collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(2))).toMap
    sizes.foreach { case (_, ns) =>
      assert(ns.length == 4)
      assert(ns.max - ns.min <= 1) // per-class balance like sklearn
    }
  }

  test("kfoldCached: folds usable after cleanup (recompute, not crash)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (folds, cleanup) = Splits.kfoldCached(orders.repartition(5), 3)
    assert(folds.map(_._2.count()).sum == orders.count())
    cleanup()
    // the fold cache and the row index's persisted source both released
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
    assert(folds.head._1.count() + folds.head._2.count() == orders.count())
  }

  test("expandMulti concatenates grids preserving per-grid key sets") {
    val cands = ParamGrid.expandMulti(Seq(
      Map("a" -> Seq(1, 2)), Map("b" -> Seq("x"), "a" -> Seq(3))))
    assert(cands.size == 3)
    assert(cands.count(_.contains("b")) == 1)
  }

  test("refit=true trains best_model on the FULL data") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500 + lit(3.0))
    val search = new GridSearchCV[graft.linear.LinearRegressionModel](
      params => new LinearRegression(Seq("x"), "y",
        c = params("c").asInstanceOf[Double]),
      Map("c" -> Seq(1e6, 1e-6)),
      (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      cv = 3, parallelism = 2, refit = true)
    val res = search.fit(df)
    // exact linear law -> refit model recovers slope 2 and intercept 3
    assert(res.bestModel.coef(0) ~== (2.0, 1e-6))
    assert(res.bestModel.intercept ~== (3.0, 1e-4))
  }

  test("RandomizedSearchCV dedups repeated sampled candidates via the memo") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500)
    var fits = 0
    val search = new RandomizedSearchCV[graft.linear.LinearRegressionModel](
      params => { fits.synchronized { fits += 1 }
        new LinearRegression(Seq("x"), "y", c = params("c").asInstanceOf[Double]) },
      Map("c" -> Seq(1e6, 1.0)), // 2 distinct values, 8 draws -> dups certain
      (m, test) => Metrics.r2Score(m.transform(test), "y", "prediction"),
      nIter = 8, cv = 2, parallelism = 2, seed = 5)
    search.fit(df)
    // distinct (candidate, fold) fits  <=  2 values x 2 folds, + 1 refit
    assert(fits <= 5, s"memo failed: $fits estimator constructions that fit")
  }

  test("search works over a StratifiedKFoldCV strategy end-to-end") {
    val df = orders.withColumn("x", col("o_totalprice") / 1000)
      .withColumn("y", col("o_totalprice") / 500 + lit(1.0))
    val folds = StratifiedKFoldCV(3, "o_orderstatus", "o_orderkey").split(df)
    val scores = folds.map { case (tr, te) =>
      val m = new LinearRegression(Seq("x"), "y").fit(tr)
      Metrics.r2Score(m.transform(te), "y", "prediction")
    }
    assert(scores.forall(_ > 0.999999))
  }

  test("withGroupFold: groups never straddle folds; assignment stable under growth") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, i % 37)).toDF("id", "grp")
    val folded = Splits.withGroupFold(df, "grp", k = 4)
    val perGroup = folded.groupBy("grp")
      .agg(org.apache.spark.sql.functions.countDistinct("fold").as("nf"))
      .collect()
    assert(perGroup.forall(_.getAs[Long]("nf") == 1L))
    val folds = folded.select("fold").distinct().collect().map(_.getInt(0)).toSet
    assert(folds.subsetOf((0 until 4).toSet) && folds.size > 1)
    // stability: a subset corpus assigns every surviving group identically
    val sub = Splits.withGroupFold(df.filter($"id" < 50), "grp", k = 4)
      .select("grp", "fold").distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = folded.select("grp", "fold").distinct().collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sub.forall { case (g, f) => full(g) == f })
  }

  test("purgedKFoldReport: counts partition the corpus per fold") {
    import spark.implicits._
    import java.sql.Timestamp
    val n = 103; val k = 4; val emb = 7L
    val rows = (0 until n).map(i =>
      (new Timestamp(1700000000000L + i * 1000L), i.toLong))
    val df = rows.toDF("ts", "event_id")
    val got = Splits.purgedKFoldReport(df, "ts", Seq("ts", "event_id"),
        k, emb).orderBy("fold").collect()
    assert(got.length == k)
    assert(got.map(_.getLong(1)).sum == n) // test blocks partition
    // interior folds purge 2*emb; edge folds only one side
    assert(got.head.getLong(3) == emb && got.last.getLong(3) == emb)
    got.drop(1).dropRight(1).foreach(r => assert(r.getLong(3) == 2 * emb))
    // per fold: test + train + purged == n
    got.foreach(r => assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == n))
    // time blocks are contiguous and ordered
    val spans = got.map(r => (r.getLong(4), r.getLong(5)))
    spans.zip(spans.tail).foreach { case ((_, e1), (s2, _)) => assert(e1 < s2) }
  }

  test("purgedKFoldReport: oversized embargo clamps to the available rows") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = (0 until 10).map(i =>
      (new Timestamp(1700000000000L + i * 1000L), i.toLong))
    val got = Splits.purgedKFoldReport(rows.toDF("ts", "event_id"), "ts",
        Seq("ts", "event_id"), 2, 100L).orderBy("fold").collect()
    // everything outside the test block is purged, train is empty
    got.foreach { r =>
      assert(r.getLong(2) == 0L)
      assert(r.getLong(1) + r.getLong(3) == 10L)
    }
  }
}
