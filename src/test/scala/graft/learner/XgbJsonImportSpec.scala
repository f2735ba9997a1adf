package graft.learner

import graft.SparkTestBase
import graft.api.GraftBoost
import graft.data.DMatrixSpec
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/**
 * xgboost-JSON model IMPORT (`GraftModel.fromXgbJson`) — the inverse of
 * the export and the reference's arriving-user path: `predict(model,
 * data)` takes an existing `xgb.Booster` (main.py:1810), so stock-
 * trained artifacts must load and score identically here.
 *
 * Covers: bit-exact export→import round-trips (thresholds invert via
 * nextDown∘nextUp, leaf values verbatim), stock STRICT-< routing on a
 * hand-written JSON (probe exactly at split_condition goes right),
 * stock class-major tree ordering (permuted tree_info blocks reorder to
 * this engine's round-robin), dart weight_drop folding, exact-SHAP
 * local accuracy on imported cover stats, and the fail-fast battery
 * (gblinear, categorical split_type, unknown objective, vector leaves,
 * continued training on bin-less imported trees).
 */
class XgbJsonImportSpec extends SparkTestBase {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private def trainModel(objective: String, numClass: Int = 0,
      rounds: Int = 4, depth: Int = 4, npt: Int = 1): GraftModel = {
    val rng = new scala.util.Random(417)
    val rows = (1 to 400).map { _ =>
      val a = rng.nextDouble(); val b = rng.nextDouble()
      val y = objective match {
        case "multi:softprob" =>
          if (a > 0.6) 2.0 else if (b > 0.5) 1.0 else 0.0
        case "binary:logistic" => if (3 * a + b > 2) 1.0 else 0.0
        case _ => 3 * a + 2 * a * b
      }
      (a, b, y)
    }
    val df = rows.toDF("a", "b", "y").repartition(3)
    GraftBoost.train(df, DMatrixSpec("y"),
      TrainParams(objective = objective, numClass = numClass,
        numRounds = rounds, maxDepth = depth, numParallelTree = npt,
        seed = 29)).model
  }

  private def probes(m: GraftModel): Seq[Array[Float]] = {
    val rng = new scala.util.Random(5)
    (1 to 40).map(_ => Array(rng.nextFloat(), rng.nextFloat())) ++
      // exact threshold hits exercise the <= / strict-< inversion
      m.trees.flatMap(t => (0 until t.numNodes)
        .filter(t.feature(_) >= 0).take(3)
        .map(i => Array(
          if (t.feature(i) == 0) t.threshold(i) else 0.5f,
          if (t.feature(i) == 1) t.threshold(i) else 0.5f))) :+
      Array(Float.NaN, 0.5f) :+ Array(0.5f, Float.NaN)
  }

  private def assertSameScores(a: GraftModel, b: GraftModel): Unit = {
    assert(b.trees.length === a.trees.length)
    assert(b.numFeatures === a.numFeatures)
    assert(b.objective === a.objective)
    for (x <- probes(a)) {
      val ma = a.margins(x); val mb = b.margins(x)
      assert(ma.toSeq === mb.toSeq, s"margins diverge on ${x.toSeq}")
    }
  }

  test("regression model round-trips export -> import bit-for-bit " +
      "(thresholds nextDown(nextUp(t)) == t, leaf values verbatim)") {
    val m = trainModel("reg:squarederror")
    val im = GraftModel.fromXgbJson(m.toXgbJson)
    for ((t, it) <- m.trees.zip(im.trees); i <- 0 until t.numNodes) {
      assert(it.feature(i) === t.feature(i))
      if (t.feature(i) >= 0)
        assert(java.lang.Float.floatToIntBits(it.threshold(i)) ===
          java.lang.Float.floatToIntBits(t.threshold(i)),
          s"threshold at node $i")
      else
        assert(it.value(i) === t.value(i), s"leaf value at node $i")
      // stats ride through: cover feeds exact TreeSHAP on imports
      assert(it.hasStats && it.cover(i) === t.cover(i))
    }
    assertSameScores(m, im)
    assert(im.baseScore === m.baseScore)
  }

  test("multi-class + parallel-tree model round-trips and keeps " +
      "class routing (tree_info blocks)") {
    val m = trainModel("multi:softprob", numClass = 3, rounds = 3,
      depth = 3, npt = 2)
    val im = GraftModel.fromXgbJson(m.toXgbJson)
    assert(im.numParallelTree === 2)
    assert(im.treesPerRound === m.treesPerRound)
    assertSameScores(m, im)
  }

  test("stock class-major tree order (all class-0 trees first within " +
      "an iteration) imports to identical predictions") {
    val m = trainModel("multi:softprob", numClass = 3, rounds = 2,
      depth = 3, npt = 2)
    val root = mapper.readTree(m.toXgbJson).asInstanceOf[ObjectNode]
    val gb = root.get("learner").get("gradient_booster").get("model")
      .asInstanceOf[ObjectNode]
    val trees = gb.get("trees").asInstanceOf[ArrayNode]
    val info = gb.get("tree_info").asInstanceOf[ArrayNode]
    val indptr = gb.get("iteration_indptr").asInstanceOf[ArrayNode]
    val n = trees.size(); val k = 3
    // permute each iteration block from round-robin [0,1,2,0,1,2] to
    // xgboost's class-major [0,0,1,1,2,2]
    val newTrees = mapper.createArrayNode()
    val newInfo = mapper.createArrayNode()
    for (b <- 0 until indptr.size() - 1) {
      val from = indptr.get(b).asInt(); val until = indptr.get(b + 1).asInt()
      for (cls <- 0 until k; t <- from until until
           if info.get(t).asInt() == cls) {
        newTrees.add(trees.get(t)); newInfo.add(cls)
      }
    }
    assert(newTrees.size() === n)
    gb.set("trees", newTrees); gb.set("tree_info", newInfo)
    val im = GraftModel.fromXgbJson(mapper.writeValueAsString(root))
    assertSameScores(m, im)
  }

  /** Minimal hand-written stock schema: one depth-1 tree splitting
    * feature 0 at condition 0.5, left leaf 1.5, right leaf -2.5. */
  private def handJson(booster: String = "gbtree",
      weightDrop: String = "", splitType: Int = 0,
      objective: String = "reg:squarederror",
      leafVector: Int = 1): String = {
    val tree =
      s"""{"base_weights":[0.0,1.5,-2.5],"categories":[],
         |"categories_nodes":[],"categories_segments":[],
         |"categories_sizes":[],"default_left":[1,0,0],"id":0,
         |"left_children":[1,-1,-1],"right_children":[2,-1,-1],
         |"loss_changes":[10.0,0.0,0.0],"parents":[2147483647,0,0],
         |"split_conditions":[0.5,1.5,-2.5],"split_indices":[0,0,0],
         |"split_type":[$splitType,0,0],"sum_hessian":[20.0,12.0,8.0],
         |"tree_param":{"num_deleted":"0","num_feature":"2",
         |"num_nodes":"3","size_leaf_vector":"$leafVector"}}"""
        .stripMargin.replaceAll("\n", "")
    val gbtreeModel =
      s"""{"gbtree_model_param":{"num_trees":"1","num_parallel_tree":"1"},
         |"iteration_indptr":[0,1],"tree_info":[0],"trees":[$tree]}"""
        .stripMargin.replaceAll("\n", "")
    val gboosterJson =
      if (booster == "dart")
        s"""{"name":"dart","weight_drop":$weightDrop,
           |"gbtree":{"name":"gbtree","model":$gbtreeModel}}"""
          .stripMargin.replaceAll("\n", "")
      else s"""{"name":"$booster","model":$gbtreeModel}"""
    s"""{"learner":{"attributes":{},"feature_names":[],
       |"feature_types":[],"gradient_booster":$gboosterJson,
       |"learner_model_param":{"base_score":"1E0","boost_from_average":"1",
       |"num_class":"0","num_feature":"2","num_target":"1"},
       |"objective":{"name":"$objective",
       |"reg_loss_param":{"scale_pos_weight":"1"}}},"version":[2,0,0]}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("hand-written stock JSON scores with strict-< routing: a probe " +
      "exactly at split_condition goes RIGHT") {
    val im = GraftModel.fromXgbJson(handJson())
    assert(im.numFeatures === 2)
    assert(im.baseScore === 1.0)
    // x < 0.5 goes left (leaf 1.5); x == 0.5 is NOT < 0.5, goes right
    assert(im.margins(Array(0.4f, 0f)).head === 1f + 1.5f)
    assert(im.margins(Array(0.5f, 0f)).head === 1f - 2.5f)
    assert(im.margins(Array(0.6f, 0f)).head === 1f - 2.5f)
    // NaN takes default_left = 1 -> left
    assert(im.margins(Array(Float.NaN, 0f)).head === 1f + 1.5f)
  }

  test("dart JSON folds weight_drop into stored values") {
    val im = GraftModel.fromXgbJson(
      handJson(booster = "dart", weightDrop = "[0.25]"))
    assert(im.margins(Array(0.4f, 0f)).head === 1f + 0.25f * 1.5f)
    assert(im.margins(Array(0.9f, 0f)).head === 1f + 0.25f * -2.5f)
  }

  test("reg:logistic aliases to binary:logistic") {
    val im = GraftModel.fromXgbJson(handJson(objective = "reg:logistic"))
    assert(im.objective === "binary:logistic")
  }

  test("exact TreeSHAP local accuracy holds on an imported model " +
      "(cover stats ride the import)") {
    val m = trainModel("reg:squarederror", rounds = 3, depth = 3)
    val im = GraftModel.fromXgbJson(m.toXgbJson)
    val rng = new scala.util.Random(7)
    val df = (1 to 50).map(_ =>
      (rng.nextDouble(), rng.nextDouble(), 0.0)).toDF("a", "b", "y")
    val contribs = GraftBoost.predictContrib(im, df, DMatrixSpec("y"))
      .select("contribs").collect()
    val feats = df.select("a", "b").collect()
    for ((cRow, fRow) <- contribs.zip(feats)) {
      val c = cRow.getSeq[Float](0)
      val x = Array(fRow.getDouble(0).toFloat, fRow.getDouble(1).toFloat)
      assert(math.abs(c.map(_.toDouble).sum - im.margins(x).head) < 1e-3)
    }
  }

  test("fail-fasts: gblinear, categorical split_type, vector leaves, " +
      "unknown objective, truncated tree_info") {
    val e1 = intercept[IllegalArgumentException] {
      GraftModel.fromXgbJson(handJson(booster = "gblinear"))
    }
    assert(e1.getMessage.contains("gblinear"))
    val e2 = intercept[IllegalArgumentException] {
      GraftModel.fromXgbJson(handJson(splitType = 1))
    }
    assert(e2.getMessage.contains("categorical"))
    val e3 = intercept[IllegalArgumentException] {
      GraftModel.fromXgbJson(handJson(leafVector = 2))
    }
    assert(e3.getMessage.contains("vector leaves"))
    val e4 = intercept[IllegalArgumentException] {
      GraftModel.fromXgbJson(handJson(objective = "reg:squaredlogerror"))
    }
    assert(e4.getMessage.contains("reg:squaredlogerror"))
    // structurally malformed JSON fails with a diagnosable message,
    // not an NPE (review r9)
    val e5 = intercept[IllegalArgumentException] {
      GraftModel.fromXgbJson("""{"learner":{}}""")
    }
    assert(e5.getMessage.contains("gradient_booster"))
    val e6 = intercept[IllegalArgumentException] {
      graft.api.GraftLinear.fromXgbJson("""{"learner":{}}""")
    }
    assert(e6.getMessage.contains("gradient_booster"))
  }

  test("continued training from an imported model fails fast " +
      "(no bin-space thresholds -> inference-only)") {
    val m = trainModel("reg:squarederror", rounds = 2, depth = 2)
    val im = GraftModel.fromXgbJson(m.toXgbJson)
    val rng = new scala.util.Random(3)
    val df = (1 to 100).map(_ =>
      (rng.nextDouble(), rng.nextDouble(), rng.nextDouble()))
      .toDF("a", "b", "y")
    val e = intercept[IllegalArgumentException] {
      GraftBoost.train(df, DMatrixSpec("y"),
        TrainParams(numRounds = 1, maxDepth = 2, seed = 1),
        initModel = Some(im))
    }
    assert(e.getMessage.contains("inference-only"))
  }

  test("xgbFeatureNames parses recorded names (empty when unnamed) " +
      "so callers can order scoring columns by model index") {
    val m = trainModel("reg:squarederror", rounds = 2, depth = 2)
    // r11: training on a DataFrame records the resolved column names
    // and the export emits them (reference surface matrix.py:797-798)
    assert(m.featureNames === Seq("a", "b"))
    assert(GraftModel.xgbFeatureNames(m.toXgbJson) === Seq("a", "b"))
    // an unnamed model (hand-assembled / pre-r11) emits empty lists
    val bare = m.withFeatureNames(Nil)
    assert(GraftModel.xgbFeatureNames(bare.toXgbJson) === Nil)
    // stock models trained on other named frames carry their names
    val named = bare.toXgbJson.replaceFirst(
      """"feature_names":\[\]""",
      """"feature_names":["price","qty"]""")
    assert(GraftModel.xgbFeatureNames(named) === Seq("price", "qty"))
  }

  test("feature names with quotes/backslashes/control chars emit " +
      "valid JSON that round-trips (r11 — a legal Spark column name " +
      "may contain any of them)") {
    val m = trainModel("reg:squarederror", rounds = 1, depth = 2)
      .withFeatureNames(Seq("a\nb", "c\"\\d\te"))
    val json = m.toXgbJson
    // Jackson must parse the file the sink wrote, names intact
    assert(mapper.readTree(json) != null)
    assert(GraftModel.fromXgbJson(json).featureNames ===
      Seq("a\nb", "c\"\\d\te"))
  }

  test("feature names round-trip export -> import and parquet " +
      "save -> load; types emit one 'float' per named feature") {
    val m = trainModel("binary:logistic", rounds = 2, depth = 2)
    assert(m.featureNames === Seq("a", "b"))
    val root = mapper.readTree(m.toXgbJson)
    val types = root.get("learner").get("feature_types")
    assert(types.size() === 2 &&
      (0 until 2).forall(types.get(_).asText() == "float"))
    val im = GraftModel.fromXgbJson(m.toXgbJson)
    assert(im.featureNames === Seq("a", "b"),
      "import must re-attach recorded names")
    // parquet model sink carries them too
    val dir = tempDir("fnames")
    m.save(spark, dir.toString)
    assert(GraftModel.load(spark, dir.toString).featureNames ===
      Seq("a", "b"))
  }

  test("file round-trip: saveXgbJson -> loadXgbJson") {
    val m = trainModel("binary:logistic", rounds = 3, depth = 3)
    val dir = tempDir("xgbimp")
    val path = dir.resolve("m.json").toString
    m.saveXgbJson(path)
    val im = GraftModel.loadXgbJson(path)
    assertSameScores(m, im)
  }
}
