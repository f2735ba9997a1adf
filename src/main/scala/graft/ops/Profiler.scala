package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Dataset profiling with EXACT distributed quantiles — the feature
 * audit a training pipeline runs before binning/clipping decisions
 * (the reference delegates sketch-based quantization to xgboost's
 * core, `matrix.py` quantile DMatrix path; a profile is how those
 * bin edges get sanity-checked against ground truth).
 *
 * Exactness without a global sort: values are fixed-point integers
 * (`floor(v·2²⁰+0.5)`), and each requested rank is found by iterative
 * RANGE NARROWING — per iteration ONE scan counts values into ≤ 2¹⁶
 * buckets per open rank, the driver walks the (bounded, collected)
 * bucket histogram to locate the rank's bucket, and the range shrinks
 * 2¹⁶-fold. log₆₅₅₃₆(range) ≈ 2–3 iterations for any real column; all
 * columns and all ranks share each scan. No per-group value collection
 * (Spark's exact `percentile` holds a group's values in one executor —
 * a non-starter at 100 TB), no approximation (`approx_percentile`
 * cannot hash-match an oracle), no full-sort shuffle.
 */
object Profiler {

  /** One column's exact profile, all in fixed-point integer units. */
  final case class ColumnProfile(name: String, n: Long, nulls: Long,
      minQ: Long, maxQ: Long, sumQ: Long, quantilesQ: Map[Int, Long])

  /** Largest |fixed-point| value the narrowing/co-moment arithmetic
    * tolerates: with |q| < 2⁶² both `hi − lo` and `v − lo` stay inside
    * Long. ±Infinity saturates the non-ANSI cast to ±Long.MaxValue and
    * would wrap those subtractions — a silent-corruption path in an
    * exactness tool, so out-of-range columns FAIL instead. */
  private[ops] val MaxAbsQ = 1L << 62

  /** The shared fixed-point projection (`floor(v·2²⁰+0.5)` as long).
    * NaN is nulled out FIRST: the non-ANSI cast turns `floor(NaN·s)`
    * into 0, which would silently count a NaN row as the legitimate
    * value 0 in every statistic — instead NaN joins null as "missing",
    * the only reading a data-quality audit can defend. */
  private[graft] def quantize(c: String): org.apache.spark.sql.Column = {
    val d = col(c).cast("double")
    when(isnan(d), lit(null))
      .otherwise(floor(d * 1048576.0 + 0.5).cast("long"))
  }

  /** The shared PSI bin assignment: how many edges the quantized value
    * exceeds (strict-greater — ties stick to the lower bin, the
    * [[profile]] lower-quantile convention). One expression shape for
    * the batch counts AND the streaming monitor, so the two can never
    * disagree on a boundary value. */
  private[graft] def binExpr(q: org.apache.spark.sql.Column,
      edges: Seq[Long]): org.apache.spark.sql.Column =
    edges.map(e => when(q > e, 1).otherwise(0)).reduce(_ + _)

  /** One Laplace-smoothed PSI term — the shared float tail of
    * [[driftPsi]] and the streaming monitor's replay: the same
    * two-operand double sequence on both engines, rounded to 6
    * decimals. `bTot`/`cTot` already include the `bins·0.5`
    * smoothing mass. */
  private[graft] def psiTerm(nb: Long, nc: Long, bTot: Double,
      cTot: Double): Double = {
    val pb = (nb + 0.5) / bTot
    val pc = (nc + 0.5) / cTot
    BigDecimal((pc - pb) * math.log(pc / pb))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /**
   * The frozen bin edges a PSI monitor carries: the base snapshot's
   * exact quantiles at `bins` equal ranks (the [[driftPsi]] edges,
   * bins−1 fixed-point longs). Computed once at train/deploy time,
   * then broadcast to a [[graft.streaming.StreamPipeline.driftStream]]
   * monitor or compared against any later batch — KBs of state, one
   * profile pass over the base.
   */
  def psiEdges(base: DataFrame, colName: String, bins: Int): Seq[Long] = {
    require(bins >= 2 && 100 % bins == 0,
      s"psiEdges: bins must divide 100 (integer-exact quantile " +
        s"ranks), got $bins")
    val pcts = (1 until bins).map(i => 100 * i / bins)
    val row = profile(base, Seq(colName), pcts).head()
    pcts.map(p => row.getAs[Long](s"p${p}_q"))
  }

  /**
   * Quantile-bucket feature transform (X67) — the modeling face of the
   * audit machinery: bin a numeric column into the buckets carved by
   * FROZEN train-side edges ([[psiEdges]]), the leakage-safe
   * discretization step (equal-frequency binning / "decile features").
   * Edges come from the TRAINING snapshot and apply unchanged to any
   * later frame — serve-time data cannot leak into its own bin
   * boundaries, and the bucket of a row never shifts when the corpus
   * grows. Assignment is [[binExpr]] — the strict-greater integer
   * comparison the PSI audit and the streaming drift monitor use, one
   * shape everywhere. NaN and null land in a NULL bucket (the
   * [[quantize]] missing rule), never a fake bin 0.
   *
   * Pure codegen projection: no shuffle, no UDF — a 100 TB frame
   * buckets in the scan.
   */
  def bucketize(df: DataFrame, colName: String, edges: Seq[Long],
      outCol: String = ""): DataFrame = {
    require(edges.nonEmpty, "bucketize: empty edge list")
    require(edges == edges.sorted,
      s"bucketize: edges must be ascending: $edges")
    val out = if (outCol.isEmpty) s"${colName}_bucket" else outCol
    val q = quantize(colName)
    df.withColumn(out,
      when(q.isNotNull, binExpr(q, edges).cast("long")))
  }

  private def requireFiniteRange(c: String, mn: Long, mx: Long): Unit =
    require(mn > -MaxAbsQ && mx < MaxAbsQ,
      s"profile: column $c has fixed-point values outside ±2^62 " +
        s"(min=$mn max=$mx) — ±Infinity or |v| beyond ~4.4e12 cannot " +
        "be profiled exactly at the 2^20 scale")

  private final case class St(key: (Int, Int), ci: Int, lo: Long,
      hi: Long, rank: Long)

  /**
   * Exact profile of numeric `cols`: non-null count, nulls, integer
   * min/max/sum, and the exact `percents` quantiles (lower quantile:
   * the value at 1-indexed rank `(n−1)·pct/100 + 1` of the ascending
   * non-null values — pure integer rank arithmetic). Scans: one
   * aggregate pass + 2–3 shared narrowing passes TOTAL (not per
   * column/rank).
   */
  def profile(df: DataFrame, cols: Seq[String], percents: Seq[Int])
      : DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    val qdf = df.select(cols.map(c => quantize(c).as(s"__q_$c")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try profileQ(qdf, cols, percents)
    finally qdf.unpersist(blocking = false)
  }

  /** [[profile]] over an ALREADY-quantized (and caller-pinned) frame
    * with `__q_<col>` long columns — split out so driftPsiMulti can
    * share ONE cached projection between the quantile passes and its
    * own bin counts instead of pinning the base side twice. */
  private[graft] def profileQ(qdf: DataFrame, cols: Seq[String],
      percents: Seq[Int]): DataFrame = {
    val spark = qdf.sparkSession
    require(percents.forall(p => p >= 0 && p <= 100),
      s"profile: percents must be 0..100, got $percents")
    locally {
      // pass 1: every column's count/min/max/sum in ONE aggregate
      // sum in decimal(38,0): a saturated ±Infinity (ANSI's double→long
      // cast saturates, it does not fail) or a legitimately huge column
      // would overflow a long sum mid-pass — range-check FIRST on the
      // decimal-safe aggregate, then convert back
      val aggExprs = count(lit(1)).as("total") +:
        cols.zipWithIndex.flatMap { case (c, i) =>
          val q = col(s"__q_$c")
          Seq(count(q).as(s"n_$i"), min(q).as(s"mn_$i"),
            max(q).as(s"mx_$i"),
            sum(q.cast("decimal(38,0)")).as(s"sm_$i"))
        }
      val a = qdf.agg(aggExprs.head, aggExprs.tail: _*).head()
      val total = a.getAs[Long]("total")
      val base = cols.indices.map { i =>
        val n = a.getAs[Long](s"n_$i")
        require(n > 0, s"profile: column ${cols(i)} is entirely null")
        val mn = a.getAs[Long](s"mn_$i")
        val mx = a.getAs[Long](s"mx_$i")
        requireFiniteRange(cols(i), mn, mx)
        val sm = BigDecimal(a.getAs[java.math.BigDecimal](s"sm_$i"))
        require(sm.isValidLong,
          s"profile: column ${cols(i)} sum $sm overflows the long " +
            "fixed-point accumulator")
        (n, mn, mx, sm.toLongExact)
      }
      // iterative narrowing: state (ci, pct) → open range + local rank
      var states = (for {
        ci <- cols.indices; pct <- percents
      } yield {
        val (n, mn, mx, _) = base(ci)
        St((ci, pct), ci, mn, mx, (n - 1) * pct.toLong / 100L + 1L)
      }).toList
      val resolved = scala.collection.mutable.Map[(Int, Int), Long]()
      // Deliberately NO repartition here: with the dense-array seqOp
      // below a full pass over the cached projection costs ~0.1 s/10⁶
      // rows even single-task, while a repartition shuffle of the Row
      // projection measured ~10× that (row serialization dominates —
      // probed r21). At real scale the scan arrives in many partitions
      // anyway; counts are order-free sums, partitioning-invariant.
      // toRdd, not .rdd (r22): .rdd deserializes every cached
      // InternalRow into an external Row on EVERY pass — pure per-row
      // allocation the histogram never needed. The InternalRow is read
      // (two primitive fields) and never retained, so Spark's row reuse
      // is safe; values are identical, only the boxing is gone.
      val rdd = qdf.queryExecution.toRdd
      while (states.nonEmpty) {
        val st = states.toArray
        // Adaptive bucket budget (guide §1.2 "per-task work"): a fixed
        // 2¹⁶ grid needs 3 passes once a range exceeds 2³², which the
        // price-scale fixed-point columns (~10¹¹) always do. Splitting
        // a 4M-entry per-task budget across the OPEN states gives each
        // ≥ 2¹⁸ buckets — any range up to per² (≥ 2³⁶, and 2⁴⁰ by the
        // time the narrow states resolve) finishes in 2 passes. Worst
        // case stays ≤ log_per(range) passes; per-task histogram
        // memory is ≤ 32 MB by the budget.
        val per = math.max(1 << 16, (1 << 22) / st.length)
        val widths = st.map(s => math.max(1L, (s.hi - s.lo) / per + 1L))
        val nBuckets = st.indices.map(k =>
          ((st(k).hi - st(k).lo) / widths(k) + 1L).toInt).toArray
        // dense flat histogram, merged as ONE primitive long array —
        // the Trainer's histogram-merge shape. The old sparse
        // (state, bucket) → count emission + reduceByKey + collect
        // boxed ~10⁶ tuples per pass and dominated the whole profile
        // (probed r21: 2–3 s/pass collect vs ~0.1 s scan); a flat
        // long[] merges and collects in one unboxed hop. Volume is
        // bounded by the 4M-entry (32 MB) budget; single-stage
        // aggregate while the driver-merge volume is small, tree-merge
        // past 64 MB so the driver never holds P × histogram at once.
        val offsets = nBuckets.scanLeft(0)(_ + _)
        val histSize = offsets.last
        val bc = spark.sparkContext.broadcast((st, widths, offsets))
        val seqOp = (acc: Array[Long],
            row: org.apache.spark.sql.catalyst.InternalRow) => {
          val (ss, ws, off) = bc.value
          var k = 0
          while (k < ss.length) {
            val s = ss(k)
            if (!row.isNullAt(s.ci)) {
              val v = row.getLong(s.ci)
              if (v >= s.lo && v <= s.hi)
                acc(off(k) + ((v - s.lo) / ws(k)).toInt) += 1L
            }
            k += 1
          }
          acc
        }
        val combOp = (a: Array[Long], b: Array[Long]) => {
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        }
        val mergeBytes = histSize.toLong * 8L * rdd.getNumPartitions
        val hist =
          if (mergeBytes < (64L << 20))
            rdd.aggregate(new Array[Long](histSize))(seqOp, combOp)
          else rdd.treeAggregate(new Array[Long](histSize))(
            seqOp, combOp, depth = 2)
        bc.destroy()
        states = st.zipWithIndex.flatMap { case (s, k) =>
          var rank = s.rank
          var b = -1L
          var i = offsets(k)
          val end = offsets(k + 1)
          while (b < 0 && i < end) {
            val c = hist(i)
            if (rank <= c && c > 0) b = i - offsets(k)
            else { rank -= c; i += 1 }
          }
          if (b < 0) throw new IllegalStateException(
            s"profile: rank ${s.rank} not found in [${s.lo},${s.hi}] " +
              s"for ${cols(s.ci)} — input changed between passes?")
          val w = widths(k)
          if (w == 1L) { resolved(s.key) = s.lo + b; None }
          else Some(St(s.key, s.ci, s.lo + b * w,
            math.min(s.hi, s.lo + b * w + w - 1L), rank))
        }.toList
      }
      val schema = StructType(
        Seq(StructField("col_name", StringType, nullable = false),
          StructField("n", LongType, nullable = false),
          StructField("nulls", LongType, nullable = false),
          StructField("min_q", LongType, nullable = false),
          StructField("max_q", LongType, nullable = false),
          StructField("sum_q", LongType, nullable = false)) ++
          percents.map(p =>
            StructField(s"p${p}_q", LongType, nullable = false)))
      val rows = cols.zipWithIndex.map { case (c, ci) =>
        val (n, mn, mx, sm) = base(ci)
        Row.fromSeq(Seq(c, n, total - n, mn, mx, sm) ++
          percents.map(p => resolved((ci, p))))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }
  }

  /**
   * Population-stability-index drift detection between two corpus
   * snapshots — the distribution monitor a refreshed training set runs
   * against its predecessor before a retrain. Bin edges are the BASE
   * side's EXACT quantiles (the [[profile]] rank machinery, integer
   * percents), bin assignment is pure integer comparison on the
   * fixed-point values, and both sides' bin counts are exact — so
   * everything except the final smoothed (p−q)·ln(p/q) terms is
   * integer-deterministic and SQL-replayable.
   *
   * Scans: the base-side quantile passes (2–3, shared) + one count
   * aggregate per side. Laplace smoothing (+0.5 per bin) keeps empty
   * bins finite.
   *
   * @return one row per bin: (bin, base_n, cur_n, psi_term), bins
   *         0..bins-1; Σ psi_term is the PSI (< 0.1 ≈ stable,
   *         > 0.25 ≈ drifted, the standard reading)
   */
  def driftPsi(base: DataFrame, current: DataFrame, colName: String,
      bins: Int): DataFrame =
    driftPsiMulti(base, current, Seq(colName), bins).drop("col_name")

  /**
   * Whole-schema PSI audit — [[driftPsi]] over EVERY listed column in
   * one set of passes instead of a per-column rerun: the [[profile]]
   * machinery already batches all columns' quantile edges into the
   * same 2–3 shared scans, and the bin counts for all columns × bins
   * fold into ONE flat aggregate per side (cols·bins integer counters
   * — no explode, no shuffle, no per-column scan). Total scans for a
   * k-column audit: the 2–3 shared quantile passes + 1 per side —
   * identical to the single-column cost.
   *
   * @return one row per (col_name, bin), bins 0..bins-1; Σ psi_term
   *         within a column is that column's PSI
   */
  def driftPsiMulti(base: DataFrame, current: DataFrame,
      cols: Seq[String], bins: Int): DataFrame = {
    val spark = base.sparkSession
    require(cols.nonEmpty, "driftPsiMulti: no columns")
    require(cols.distinct == cols, s"driftPsiMulti: duplicate columns " +
      s"in $cols")
    require(bins >= 2 && 100 % bins == 0,
      s"driftPsi: bins must divide 100 (integer-exact quantile ranks), " +
        s"got $bins")
    val pcts = (1 until bins).map(i => 100 * i / bins)
    // The base side is scanned by the quantile passes AND by its own
    // bin count — persist ONE quantized projection shared by both
    // (profileQ reads it directly), so a nondeterministic or
    // concurrently-changing lineage cannot yield bin edges
    // inconsistent with the bin counts, and nothing is cached twice.
    // `current` is scanned exactly once; no pin needed.
    val bQ = base.select(cols.map(c => quantize(c).as(s"__q_$c")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val prof = profileQ(bQ, cols, pcts).collect()
      val edgesByCol = prof.map(r => r.getAs[String]("col_name") ->
        pcts.map(p => r.getAs[Long](s"p${p}_q"))).toMap
      // bin = how many edges the value exceeds (ties stick to the lower
      // bin, matching the rank definition's lower-quantile convention);
      // NaN quantizes to null (see quantize) and is excluded like null
      def binCounts(proj: DataFrame): Map[(String, Int), Long] = {
        val aggExprs = cols.flatMap { c =>
          val q = col(s"__q_$c")
          val binCol = binExpr(q, edgesByCol(c))
          (0 until bins).map(b =>
            sum(when(q.isNotNull && binCol === b, 1L).otherwise(0L))
              .as(s"n_${c}__$b")) ++
            Seq(min(q).as(s"mn_$c"), max(q).as(s"mx_$c"))
        }
        val r = proj.agg(aggExprs.head, aggExprs.tail: _*).head()
        cols.foreach { c =>
          if (!r.isNullAt(r.fieldIndex(s"mn_$c")))
            requireFiniteRange(c, r.getAs[Long](s"mn_$c"),
              r.getAs[Long](s"mx_$c"))
        }
        (for { c <- cols; b <- 0 until bins }
          yield (c, b) -> r.getAs[Long](s"n_${c}__$b")).toMap
      }
      val bN = binCounts(bQ)
      val cN = binCounts(
        current.select(cols.map(c => quantize(c).as(s"__q_$c")): _*))
      val rows = cols.flatMap { c =>
        val bTot = (0 until bins).map(b => bN((c, b))).sum.toDouble +
          bins * 0.5
        val cTot = (0 until bins).map(b => cN((c, b))).sum.toDouble +
          bins * 0.5
        (0 until bins).map { b =>
          val nb = bN((c, b))
          val nc = cN((c, b))
          Row(c, b.toLong, nb, nc, psiTerm(nb, nc, bTot, cTot))
        }
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("col_name", StringType, nullable = false),
          StructField("bin", LongType, nullable = false),
          StructField("base_n", LongType, nullable = false),
          StructField("cur_n", LongType, nullable = false),
          StructField("psi_term", DoubleType, nullable = false))))
    } finally bQ.unpersist(blocking = false)
  }

  /**
   * Exact-sum Pearson correlation matrix over numeric columns — the
   * feature-redundancy audit run before training. ONE aggregate pass
   * computes every pair's co-moments as EXACT decimal sums of
   * fixed-point integers (a long·long product at price scale is ~1e22
   * — past Long, inside decimal(38); Spark's decimal sum is exact, as
   * is DuckDB's HUGEINT on the oracle side), with pairwise-complete
   * null handling (each pair's marginal sums count only rows where
   * BOTH sides are present). Only the final normalization touches
   * floating point, in the same expression shape on both engines:
   * num / (√d1 · √d2), rounded at 6 decimals.
   *
   * @return (col_a, col_b, n, corr) for each unordered pair, col_a <
   *         col_b in the given column order
   */
  def correlations(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    require(cols.size >= 2, s"correlations: need >= 2 columns, got $cols")
    val qdf = df.select(cols.map(c => quantize(c).as(s"__q_$c")): _*)
    val pairs = (for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (i, j)).toArray
    // ONE narrow pass accumulating every pair's co-moments as EXACT
    // signed 128-bit integers (two longs + Math.multiplyHigh) — the
    // r21 rewrite of the old decimal(38) Catalyst aggregate, which
    // allocated a BigDecimal per term and measured ~4 µs/row; the
    // two-long adds are allocation-free and bit-identical (an int128
    // holds any |v| ≤ 2^43-ish column's co-moments past 10^12 rows —
    // the same envelope as the oracle's HUGEINT and the old decimal
    // path, enforced by the ±range guard below).
    // layout per pair: [n, sa.hi, sa.lo, sb.hi, sb.lo, sab.hi, sab.lo,
    //                   saa.hi, saa.lo, sbb.hi, sbb.lo]
    val P = 11
    val nc = cols.length
    val np = pairs.length
    val bcPairs = spark.sparkContext.broadcast(pairs)
    val seqOp = (acc: Array[Long], row: Row) => {
      // acc = [pair blocks ×P | per-col min | per-col max]
      val ps = bcPairs.value
      var p = 0
      while (p < ps.length) {
        val (i, j) = ps(p)
        if (!row.isNullAt(i) && !row.isNullAt(j)) {
          val a = row.getLong(i)
          val b = row.getLong(j)
          val o = p * P
          acc(o) += 1L
          // add128(acc, at, hi, lo): two's-complement carry propagation
          def add128(at: Int, hi: Long, lo: Long): Unit = {
            val nl = acc(at + 1) + lo
            acc(at) += hi +
              (if (java.lang.Long.compareUnsigned(nl, acc(at + 1)) < 0)
                1L else 0L)
            acc(at + 1) = nl
          }
          add128(o + 1, if (a < 0) -1L else 0L, a)
          add128(o + 3, if (b < 0) -1L else 0L, b)
          add128(o + 5, Math.multiplyHigh(a, b), a * b)
          add128(o + 7, Math.multiplyHigh(a, a), a * a)
          add128(o + 9, Math.multiplyHigh(b, b), b * b)
        }
        p += 1
      }
      var c = 0
      val base = ps.length * P
      while (c < nc) {
        if (!row.isNullAt(c)) {
          val v = row.getLong(c)
          if (v < acc(base + 2 * c)) acc(base + 2 * c) = v
          if (v > acc(base + 2 * c + 1)) acc(base + 2 * c + 1) = v
        }
        c += 1
      }
      acc
    }
    val combOp = (x: Array[Long], y: Array[Long]) => {
      var p = 0
      while (p < np) {
        val o = p * P
        x(o) += y(o)
        var f = 1
        while (f < P) {
          val nl = x(o + f + 1) + y(o + f + 1)
          x(o + f) += y(o + f) +
            (if (java.lang.Long.compareUnsigned(nl, x(o + f + 1)) < 0)
              1L else 0L)
          x(o + f + 1) = nl
          f += 2
        }
        p += 1
      }
      val base = np * P
      var c = 0
      while (c < nc) {
        x(base + 2 * c) = math.min(x(base + 2 * c), y(base + 2 * c))
        x(base + 2 * c + 1) =
          math.max(x(base + 2 * c + 1), y(base + 2 * c + 1))
        c += 1
      }
      x
    }
    val zero = new Array[Long](np * P + 2 * nc)
    cols.indices.foreach { c =>
      zero(np * P + 2 * c) = Long.MaxValue
      zero(np * P + 2 * c + 1) = Long.MinValue
    }
    val acc = qdf.rdd.treeAggregate(zero)(seqOp, combOp, depth = 2)
    bcPairs.destroy()
    cols.indices.foreach { i =>
      val mn = acc(np * P + 2 * i)
      val mx = acc(np * P + 2 * i + 1)
      // an entirely-null column leaves the sentinels — nothing to check
      if (mn != Long.MaxValue)
        require(mn > -MaxAbsQ && mx < MaxAbsQ,
          s"correlations: column ${cols(i)} has fixed-point values " +
            s"outside ±2^62 (min=$mn max=$mx) — ±Infinity or |v| " +
            "beyond ~4.4e12 would corrupt the exact co-moment sums")
    }
    def big128(hi: Long, lo: Long): BigDecimal = BigDecimal(
      (BigInt(hi) << 64) + BigInt(java.lang.Long.toUnsignedString(lo)))
    val out = pairs.zipWithIndex.map { case (_, p) =>
      val o = p * P
      val n = BigDecimal(acc(o))
      val sa = big128(acc(o + 1), acc(o + 2))
      val sb = big128(acc(o + 3), acc(o + 4))
      val num = n * big128(acc(o + 5), acc(o + 6)) - sa * sb
      val d1 = n * big128(acc(o + 7), acc(o + 8)) - sa * sa
      val d2 = n * big128(acc(o + 9), acc(o + 10)) - sb * sb
      val corr =
        if (n == 0 || d1.signum <= 0 || d2.signum <= 0) 0.0
        else BigDecimal(num.toDouble /
          (math.sqrt(d1.toDouble) * math.sqrt(d2.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (i, j) = pairs(p)
      Row(cols(i), cols(j), n.toLong, corr)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      StructType(Seq(
        StructField("col_a", StringType, nullable = false),
        StructField("col_b", StringType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("corr", DoubleType, nullable = false))))
  }

  /**
   * Per-group rank normalization (X69) — score calibration before
   * corpus mixing: a quality threshold tuned on one source is
   * meaningless on another (their score distributions differ), so
   * normalize each row's score to its mid-rank percentile WITHIN its
   * group and "keep the top 30% of every source" becomes one global
   * `pct >= 0.7` predicate.
   *
   * Exactness: scores quantize by the shared [[quantize]] rule
   * (NaN/null → null pct, never a fake rank); `pct` is the mid-rank
   * CDF (2·below + ties) / (2·n) — a single division of exact BIGINTs,
   * so the result is bit-identical across partitionings and in the
   * DuckDB replay. Singleton groups land on 0.5.
   *
   * Scale shape: ONE map-side-combinable (group, q) count aggregate —
   * the corpus never sorts — then the cumulative-below window runs on
   * the DISTINCT (group, q) rows only (≪ corpus; bounded by the
   * quantization lattice, not the row count), and the per-row pct
   * attaches via a broadcast join of that distinct-value CDF table.
   * A 100 TB corpus with a [0,1]-ish quality score has ≤ ~2²⁰ distinct
   * quantized values per group, KBs–MBs of CDF — broadcastable by
   * construction. Unbounded-cardinality scores (raw byte lengths at
   * full range) should be pre-binned or scaled first; the broadcast
   * fails loudly, not silently, if that advice is ignored.
   *
   * @return (id, group, score_q, pct) — `pct` ∈ (0,1], null for
   *         null/NaN scores; `score_q` the quantized score (audit aid)
   */
  def rankNormalize(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col(idCol).cast("long").as("id"),
      col(groupCol).cast("string").as("group"),
      quantize(scoreCol).as("score_q"))
    val cnts = rows.filter(col("score_q").isNotNull)
      .groupBy("group", "score_q").agg(count(lit(1)).as("cnt"))
    val below = coalesce(
      sum("cnt").over(Window.partitionBy("group").orderBy("score_q")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    val total = sum("cnt").over(Window.partitionBy("group"))
    val cdf = cnts.withColumn("pct",
      round((col("cnt") + lit(2L) * below).cast("double")
        / (lit(2L) * total).cast("double"), 6))
      .select(col("group"), col("score_q"), col("pct"))
    rows.join(broadcast(cdf), Seq("group", "score_q"), "left")
      .select(col("id"), col("group"), col("score_q"), col("pct"))
  }

  /**
   * Referential-integrity audit (X85) — the join-key health check a
   * pipeline runs before TRUSTING a join: how many fact rows carry a
   * null foreign key, how many reference a key absent from the
   * dimension (orphans — rows an inner join silently drops), and how
   * many dimension keys the fact table never touches (unreferenced —
   * dead weight a broadcast would still ship). Silent inner-join row
   * loss is the classic wrong-denominator bug in training-data
   * counts; this makes it a number.
   *
   * Scale shape: ONE distinct-key projection per side (map-side
   * combinable aggregates — the fact table collapses to its key
   * cardinality before any join), then a full outer join of the two
   * KEY SETS (≪ rows) with counted match flags. No fact-row joins,
   * no driver state; exact BIGINTs.
   *
   * @return one row: (n_fact, n_fact_null_fk, n_fact_orphan,
   *         n_fk_distinct, n_pk_distinct, n_pk_unreferenced)
   */
  def integrityAudit(fact: DataFrame, fkCol: String, dim: DataFrame,
      pkCol: String): DataFrame = {
    val fk = fact.groupBy(col(fkCol).cast("long").as("k"))
      .agg(count(lit(1)).as("cnt"))
    val pk = dim.select(col(pkCol).cast("long").as("k"))
      .distinct().withColumn("__pk", lit(1L))
    val j = fk.join(pk, Seq("k"), "full_outer")
    j.agg(
      sum(when(col("cnt").isNotNull, col("cnt")).otherwise(0L))
        .as("n_fact"),
      sum(when(col("k").isNull, col("cnt")).otherwise(0L))
        .as("n_fact_null_fk"),
      sum(when(col("k").isNotNull && col("__pk").isNull, col("cnt"))
        .otherwise(0L)).as("n_fact_orphan"),
      count(when(col("cnt").isNotNull && col("k").isNotNull, lit(1)))
        .as("n_fk_distinct"),
      count(col("__pk")).as("n_pk_distinct"),
      count(when(col("__pk").isNotNull && col("cnt").isNull, lit(1)))
        .as("n_pk_unreferenced"))
  }

  /**
   * Per-group PSI drift (X87) — the mixture designer's drift monitor:
   * [[driftPsi]] computed independently WITHIN each group (source,
   * segment), because a stable corpus-wide distribution can hide one
   * source drifting badly against another drifting back. Edges are
   * each group's own base-side equal-frequency quantiles (the
   * [[groupClipEdges]] distinct-value-CDF machinery — the corpus
   * never sorts), bins the shared strict-greater convention, the psi
   * term the exact [[psiTerm]] smoothing shape ((n+0.5)/(N+bins/2)).
   *
   * Semantics: null/NaN values are excluded on both sides (the
   * [[quantize]] rule); groups with NO base-side values (including
   * current-only groups) are dropped — PSI against an empty base is
   * undefined, and a silent 0 would hide exactly the novelty the
   * audit exists to catch (pair with [[integrityAudit]]-style set
   * comparison if group churn itself is the question).
   *
   * Scale shape: one (group, q) count aggregate on the base (map-side
   * combinable, distinct-value-lattice-bounded), edges from a window
   * over that TINY table, then each side pays one scan into a
   * BROADCAST edge join + a (group, bin) count aggregate with
   * |G|·bins keys; the psi arithmetic runs on the |G|·bins lattice.
   *
   * @return (group, bin, base_n, cur_n, psi_term); Σ psi_term within
   *         a group is that group's PSI
   */
  def driftPsiByGroup(base: DataFrame, current: DataFrame,
      groupCol: String, valueCol: String, bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2 && 100 % bins == 0,
      s"driftPsiByGroup: bins must divide 100, got $bins")
    val pcts = (1 until bins).map(i => 100 * i / bins)
    def proj(df: DataFrame) = df.select(
        col(groupCol).cast("string").as("group"),
        quantize(valueCol).as("q"))
      .filter(col("q").isNotNull)
    val b = proj(base)
    val c = proj(current)
    val cnts = b.groupBy("group", "q").agg(count(lit(1)).as("cnt"))
    val cum = sum("cnt").over(Window.partitionBy("group").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val withCum = cnts.withColumn("__cum", cum)
      .withColumn("__n", sum("cnt").over(Window.partitionBy("group")))
    val edgeAggs = pcts.map(p => min(when(col("__cum") >=
        expr(s"((__n - 1L) * $p) div 100L + 1L"), col("q")))
      .as(s"__e$p"))
    val edges = withCum.groupBy("group")
      .agg(edgeAggs.head, edgeAggs.tail: _*)
    val binOf = pcts.map(p =>
      when(col(s"__e$p") < col("q"), 1L).otherwise(0L)).reduce(_ + _)
    def binCounts(side: DataFrame, out: String) =
      side.join(broadcast(edges), "group")
        .withColumn("__bin", binOf)
        .groupBy("group", "__bin").agg(count(lit(1)).as(out))
    val lattice = edges.select(col("group"),
      explode(sequence(lit(0L), lit((bins - 1).toLong))).as("__bin"))
    val joined = lattice
      .join(binCounts(b, "base_n"), Seq("group", "__bin"), "left")
      .join(binCounts(c, "cur_n"), Seq("group", "__bin"), "left")
      .select(col("group"), col("__bin").as("bin"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val wg = Window.partitionBy("group")
    val pb = (col("base_n") + lit(0.5)) /
      (sum("base_n").over(wg).cast("double") + lit(bins * 0.5))
    val pc = (col("cur_n") + lit(0.5)) /
      (sum("cur_n").over(wg).cast("double") + lit(bins * 0.5))
    joined
      .withColumn("psi_term", round((pc - pb) * log(pc / pb), 6))
      .select("group", "bin", "base_n", "cur_n", "psi_term")
  }

  /**
   * Score-calibration table (X86) — the reliability diagram's exact
   * backing table: scores bucket by FROZEN equal-frequency edges
   * ([[psiEdges]] / [[bucketize]], the leakage-safe X67 discipline —
   * compute edges on the validation snapshot, apply to any later
   * scoring run), and each bucket reports its exact fixed-point mean
   * score and mean label. "Does a 0.9 score mean 90%" is the
   * question answered before thresholding any model output; a
   * well-calibrated score tracks the diagonal, and per-bucket counts
   * expose where the tails are too thin to trust.
   *
   * Exactness: scores and labels quantize by the [[quantize]] rule
   * (NaN/null rows land in a NULL bucket and report their own row —
   * visible, never silently dropped); per-bucket sums are exact
   * decimal(38,0) BIGINT-ranged; the two means are single divisions
   * of exact integers (IEEE-deterministic), rounded to 6.
   *
   * Scale shape: bucket assignment is the [[bucketize]] codegen
   * projection (no shuffle); then ONE map-side-combinable aggregate
   * with ≤ bins+1 output rows. A 100 TB scoring run calibrates in a
   * scan.
   *
   * @return (bucket, n, n_labeled, score_mean, label_mean) sorted by
   *         bucket, null bucket (missing score) last by convention
   */
  def calibrationTable(df: DataFrame, scoreCol: String,
      labelCol: String, edges: Seq[Long]): DataFrame = {
    val b = bucketize(df, scoreCol, edges, outCol = "bucket")
    val sq = quantize(scoreCol)
    val yq = quantize(labelCol)
    b.groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        count(yq).as("n_labeled"),
        round(sum(sq.cast("decimal(38,0)")).cast("double")
          / (count(sq) * lit(1048576.0)), 6).as("score_mean"),
        round(sum(yq.cast("decimal(38,0)")).cast("double")
          / (count(yq) * lit(1048576.0)), 6).as("label_mean"))
  }

  /**
   * Per-group rank-quantile clip edges (X78, the freeze half) — for
   * each group, the exact quantized values at the `loPct`/`hiPct`
   * integer ranks (rank = (n−1)·p div 100 + 1 over the group's
   * non-null ascending order — the [[psiEdges]]/prof_bucketize rank
   * convention, per group). Compute ONCE on the training snapshot,
   * persist, and apply to any later frame via [[winsorize]]: the
   * leakage-safe discipline of [[bucketize]], per group — serve-time
   * data never moves its own clip boundaries.
   *
   * Scale shape: the [[rankNormalize]] machinery — one map-side-
   * combinable (group, q) count aggregate (the corpus never sorts),
   * a cumulative window over the DISTINCT quantized values only
   * (lattice-bounded, ≪ corpus), and one tiny per-group aggregate:
   * the rank-r value is min{q : cum(q) ≥ r}, a single `min(when…)`.
   *
   * @return (group, lo_q, hi_q) — null edges only for all-missing
   *         groups
   */
  def groupClipEdges(df: DataFrame, groupCol: String, valueCol: String,
      loPct: Int, hiPct: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      s"groupClipEdges: need 0 <= lo < hi <= 100, got $loPct/$hiPct")
    val cnts = df.select(col(groupCol).cast("string").as("group"),
        quantize(valueCol).as("score_q"))
      .filter(col("score_q").isNotNull)
      .groupBy("group", "score_q").agg(count(lit(1)).as("cnt"))
    val cum = sum("cnt").over(Window.partitionBy("group")
      .orderBy("score_q")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val n = sum("cnt").over(Window.partitionBy("group"))
    val rLo = expr(s"((__n - 1L) * $loPct) div 100L + 1L")
    val rHi = expr(s"((__n - 1L) * $hiPct) div 100L + 1L")
    cnts.withColumn("__cum", cum).withColumn("__n", n)
      .groupBy("group")
      .agg(min(when(col("__cum") >= rLo, col("score_q"))).as("lo_q"),
        min(when(col("__cum") >= rHi, col("score_q"))).as("hi_q"))
  }

  /**
   * Per-group winsorization (X78, the apply half) — clip a value
   * column to FROZEN per-group [lo_q, hi_q] edges (from
   * [[groupClipEdges]], typically computed on the training snapshot):
   * the outlier-taming transform run before feature scaling, per
   * source/segment because a tail that is noise in one group is
   * signal in another. Exact integer clip on the quantized lattice;
   * NaN/null values stay null (the [[quantize]] missing rule — a
   * clipped fake 0 would be a lie); rows of groups absent from the
   * edge table pass through unclipped with null edges (new serve-time
   * groups fail VISIBLY in the output, not silently mid-plan).
   *
   * Scale shape: one BROADCAST join of the |groups|-row edge table +
   * a codegen projection — the corpus never shuffles; a 100 TB frame
   * clips in the scan.
   *
   * @return (id, group, score_q, lo_q, hi_q, clipped_q, is_clipped)
   */
  def winsorize(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String, edges: DataFrame): DataFrame = {
    val need = Set("group", "lo_q", "hi_q")
    require(need.subsetOf(edges.columns.toSet),
      s"winsorize: edge table needs columns $need, " +
        s"got ${edges.columns.mkString(", ")}")
    val rows = df.select(col(idCol).cast("long").as("id"),
      col(groupCol).cast("string").as("group"),
      quantize(valueCol).as("score_q"))
    val clipped = when(col("score_q").isNull, lit(null))
      .when(col("lo_q").isNull, col("score_q"))
      .otherwise(least(greatest(col("score_q"), col("lo_q")),
        col("hi_q")))
    rows.join(broadcast(edges.select("group", "lo_q", "hi_q")),
        Seq("group"), "left")
      .withColumn("clipped_q", clipped)
      .withColumn("is_clipped",
        col("clipped_q").isNotNull &&
          col("clipped_q") =!= col("score_q"))
      .select("id", "group", "score_q", "lo_q", "hi_q", "clipped_q",
        "is_clipped")
  }
}
