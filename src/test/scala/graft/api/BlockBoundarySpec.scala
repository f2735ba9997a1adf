package graft.api

import graft.SparkTestBase
import graft.data.DMatrixSpec
import graft.learner.{Binner, Objectives, TrainParams}

/**
 * Multi-block packing correctness. Every RepresentationGoldenSpec
 * fingerprint trains on ≤ 400 rows — a single TrainBlock per
 * partition — so an off-by-one at the block BOUNDARY (row capacity
 * 262,144 at narrow widths) would pass all 13 pins. This spec drives
 * toBinned past the capacity with one partition and checks the packed
 * columns against the prepared rows element-for-element, plus the
 * ranking keepGroups contract (a qid run straddling the capacity
 * extends the block instead of splitting the group), and the
 * multi-target blocks: 3 labels per row at margin width 1 (one label
 * per run, as multi-label DART trains) and 3 (a multi-label or
 * vector-leaf run over 3 single-output targets).
 */
class BlockBoundarySpec extends SparkTestBase {
  import spark.implicits._

  private val cap = graft.learner.TrainBlock.capacity(1, 1)

  test("toBinned splits exactly at capacity and round-trips every " +
      "column across the boundary") {
    val n = cap + 1357
    val obj = Objectives.resolve(TrainParams())
    val rows = (0 until n).map(i => (i.toDouble % 97, (i % 7).toDouble))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1)).toDF("a", "y")
    val spec = DMatrixSpec("y")
    val prepared = GraftBoost.prepare(df, spec, obj, numWorkers = 0)
    val bins = Binner.fit(prepared.map(_.features), n, 256, seed = 1)
    val blocks = GraftBoost.toBinned(prepared, bins, obj, baseScore = 0.5)
      .collect()
    assert(blocks.map(_.n.toLong).sum === n.toLong)
    assert(blocks.length === 2, "one partition over capacity must pack " +
      s"into exactly 2 blocks, got ${blocks.length}")
    assert(blocks(0).n === cap)
    assert(blocks(1).n === n - cap)
    // column round-trip in original row order across the boundary
    val labels = blocks.flatMap(b => b.labels.take(b.n))
    val init = obj.initMargin(0.5)
    (0 until n).foreach { i =>
      assert(labels(i) === (i % 7).toFloat, s"label at row $i")
    }
    blocks.foreach { b =>
      assert(b.qids === null, "no qid column => null-qids fast path")
      assert(b.uppers === null, "no bounds => null-uppers fast path")
      (0 until b.n).foreach { i =>
        assert(b.margins(i) === init)
      }
    }
    // bin bytes: re-bin a probe of rows spanning the boundary and
    // compare against the packed bytes at the same offsets
    val probe = Seq(0, cap - 1, cap, n - 1)
    val prep = prepared.collect()
    probe.foreach { i =>
      val expect = bins.binRow(prep(i).features)
      val (b, off) = if (i < cap) (blocks(0), i) else (blocks(1), i - cap)
      assert(b.bins(off * b.nf) === expect(0), s"bin byte at row $i")
    }
  }

  test("multi-target blocks (3 labels) split at capacity and round-trip " +
      "every label and margin at margin widths 1 and 3") {
    val nl = 3
    val obj = Objectives.resolve(TrainParams())
    val widths = Seq(1, 3)
    val n = widths.map(k => graft.learner.TrainBlock.capacity(1, k)).max +
      1357
    def label(i: Int, j: Int): Float = (i % (7 - 2 * j)).toFloat
    // every 13th row has no base margin and starts at the init margin
    def margin(i: Int): Float =
      if (i % 13 == 0) obj.initMargin(0.5) else (i % 11) * 0.25f
    val rows = (0 until n).map(i => (i.toDouble % 97, label(i, 0).toDouble,
      label(i, 1).toDouble, label(i, 2).toDouble,
      if (i % 13 == 0) None else Some(margin(i).toDouble)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1))
      .toDF("a", "y0", "y1", "y2", "bm")
    val spec = DMatrixSpec(labelCol = Seq("y0", "y1", "y2"),
      baseMarginCol = Some("bm"))
    val prepared = GraftBoost.prepare(df, spec, obj, numWorkers = 0)
    val bins = Binner.fit(prepared.map(_.features), n, 256, seed = 1)
    for (k <- widths) {
      val cap = graft.learner.TrainBlock.capacity(bins.numFeatures, k)
      val blocks = GraftBoost.toBinned(prepared, bins, obj,
        baseScore = 0.5, k = k).collect()
      assert(blocks.map(_.n).toSeq === Seq(cap, n - cap),
        s"k = $k block sizes")
      val labels = blocks.flatMap(b => b.labels.take(b.n * nl))
      val margins = blocks.flatMap(b => b.margins.take(b.n * k))
      assert(blocks.forall(b => b.k == k &&
        b.labels.length == b.n * nl && b.margins.length == b.n * k))
      (0 until n).foreach { i =>
        (0 until nl).foreach { j =>
          assert(labels(i * nl + j) === label(i, j),
            s"k = $k label $j, row $i")
        }
        (0 until k).foreach { c =>
          assert(margins(i * k + c) === margin(i),
            s"k = $k margin $c, row $i")
        }
      }
      // each target's label column, read per block at stride L the
      // way a multi-target run reads label j: labels(i·L + j)
      (0 until nl).foreach { j =>
        val col = blocks.flatMap(b =>
          Array.tabulate(b.n)(i => b.labels(i * nl + j)))
        assert(col.length === n)
        (0 until n).foreach(i =>
          assert(col(i) === label(i, j), s"k = $k target label $j, row $i"))
      }
    }
  }

  test("keepGroups extends a block past capacity until the qid run " +
      "ends (ranking blocks never split a group)") {
    val groupSize = 1000
    val n = cap + 3 * groupSize // boundary falls inside a group
    val obj = Objectives.resolve(TrainParams(objective = "rank:ndcg"))
    val rows = (0 until n).map(i =>
      ((i / groupSize).toLong, i.toDouble % 53, (i % 4).toDouble))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1)).toDF("qid", "a", "rel")
    val spec = DMatrixSpec(labelCol = Seq("rel"), qidCol = Some("qid"))
    val prepared = GraftBoost.prepare(df, spec, obj, numWorkers = 1)
    val bins = Binner.fit(prepared.map(_.features), n, 256, seed = 1)
    val blocks = GraftBoost.toBinned(prepared, bins, obj, baseScore = 0.5)
      .collect()
    assert(blocks.map(_.n.toLong).sum === n.toLong)
    // capacity lands mid-group: the first block must run to the end of
    // that group (cap rounded UP to the next multiple of groupSize)
    val expectedFirst = ((cap + groupSize - 1) / groupSize) * groupSize
    assert(blocks(0).n === expectedFirst,
      s"block 0 must extend to the qid-run end: ${blocks(0).n}")
    // no qid appears in two blocks
    val perBlockQids = blocks.toSeq.map(b =>
      (0 until b.n).map(i => b.qid(i)).toSet)
    perBlockQids.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0).intersect(w(1)).isEmpty,
        "a qid group straddles a block boundary")
    }
    // row order preserved: qids are globally nondecreasing
    val allQids = blocks.flatMap(b => (0 until b.n).map(b.qid))
    assert(allQids.sameElements(allQids.sorted))
  }
}
