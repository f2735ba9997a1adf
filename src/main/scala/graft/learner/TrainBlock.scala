package graft.learner

/**
 * Columnar block of binned training rows — the r12 cached training
 * representation. The r11 per-row `(TrainInstance, Array[Float])`
 * tuples cost ~490 B/row of JVM object headers + boxing at 4 features
 * (measured, BENCHLARGE.md §3) against a ~25 B logical payload; a
 * block amortizes every header over ~10⁵ rows, so the cached footprint
 * approaches the raw data size and rows-per-executor at 100 TB rises
 * accordingly. The reference gets the same effect from xgboost's C++
 * DMatrix pages living outside the Python heap.
 *
 * Layout: row-major packed primitives. Row `i`'s bins occupy
 * `bins(i*nf until (i+1)*nf)`; its `k` margins occupy
 * `margins(i*k until (i+1)*k)`. `labels` holds L labels per row at
 * `labels(i*L until (i+1)*L)`: one for single-label training, every
 * label column for a multi-label or vector-leaf run, whose [[Targets]]
 * read label j of a row at `labels(i*L + j)` and own c margin slots
 * each (k = T·c; a vector-leaf run has c = 1). `qids`/`uppers` are
 * null when every row is qid-0 / uncensored (upper == label), so the
 * common non-ranking, non-survival case pays 9 bytes/row at 4 features
 * + 4k margin bytes.
 *
 * The per-round margin advance ([[Trainer]] applyTrees) replaces ONLY
 * `margins`; `bins`/`labels`/`weights`/`qids`/`uppers` are shared by
 * reference with the previous round's cached block, so under
 * deserialized storage levels consecutive margin generations share the
 * static columns instead of duplicating them.
 *
 * Blocks never split a qid group when built with `keepGroups` (ranking
 * objectives), so group-walking consumers stay block-local.
 */
final class TrainBlock(
    val n: Int,
    val nf: Int,
    val k: Int,
    val bins: Array[Byte],
    val labels: Array[Float],
    val weights: Array[Float],
    val qids: Array[Long],
    val uppers: Array[Float],
    val margins: Array[Float]) extends Serializable {

  @inline def qid(i: Int): Long = if (qids == null) 0L else qids(i)

  /** Survival upper bound; label doubles as the lower bound, so a null
    * column means "uncensored point label" (upper == label). */
  @inline def upper(i: Int): Float =
    if (uppers == null) labels(i) else uppers(i)

  /** Same static columns, new margin generation. */
  def withMargins(m: Array[Float]): TrainBlock =
    new TrainBlock(n, nf, k, bins, labels, weights, qids, uppers, m)
}

object TrainBlock {
  /** Rows per block: bounded so one block's bins stay ≤ 8 MB and its
    * margins ≤ 16 MB however wide the feature/output shape — small
    * enough to stream block-at-a-time under serialized storage, big
    * enough that per-block overhead is noise. Never below 1024 rows
    * (degenerate blocks would reintroduce per-object overhead on very
    * wide tables, where the 8 MB bins bound is the one that gives). */
  def capacity(nf: Int, k: Int): Int =
    math.max(1024, math.min(1 << 18,
      math.min((8 << 20) / math.max(nf, 1), (4 << 20) / math.max(k, 1))))
}

/**
 * One boosting round's gradients for a [[TrainBlock]]: `gh` is the
 * interleaved per-row `[g0,h0,g1,h1,…]` (stride 2k), `salts` the
 * per-row deterministic subsample randoms. `bins` is the SAME array
 * object as the source block's — the gradient pass adds 8k+4 bytes/row,
 * never a second copy of the bins.
 */
final class GradBlock(
    val n: Int,
    val nf: Int,
    val k: Int,
    val bins: Array[Byte],
    val gh: Array[Float],
    val salts: Array[Int]) extends Serializable
