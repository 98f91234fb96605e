package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.codec.Codecs

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and sign-bit LSH /
  * IVF bucketed variants (single- and multi-probe) as the scale path.
  * Vector math is done with higher-order functions (zip_with/aggregate)
  * in double precision — sequential left-to-right folds, so results are
  * bit-deterministic and oracle-reproducible. No UDFs.
  */
object Similarity {

  /** Double-precision view of a float vector. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** dot(a,b): the native codegen'd [[graft.functions.VectorDot]] —
    * the same left-to-right fold (bit-identical, oracle-unchanged) as
    * the composed `aggregate(zip_with(...))` form, fused into one loop
    * inside whole-stage codegen instead of interpreted per-element
    * lambda dispatch. [[dotComposed]] keeps the HOF twin for the
    * equivalence spec. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorDot.vecDot(a, b)

  /** The built-ins-only twin of [[dot]] (interpreted HOFs). */
  def dotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Division guarded for ANSI mode (Spark 4 default), where x/0
    * RAISES instead of returning NaN — one zero-norm vector would
    * otherwise kill a corpus-wide scan. The only reachable zero-
    * denominator case is a zero vector, whose dot product is also 0,
    * so NaN is exactly what the oracle's (IEEE) 0/0 produces; NaN then
    * sorts greatest in both engines, keeping ranks aligned. */
  private def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0.0d, num / den).otherwise(lit(Double.NaN))

  def cosine(a: Column, b: Column): Column =
    safeDiv(dot(a, b), norm(a) * norm(b))

  /** Precompute per-vector norms once — at scale this is the cheap side
    * of the join and avoids recomputing norms per candidate pair. */
  def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("v", asDouble(col("embedding")))
      .withColumn("nrm", norm(col("v")))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))

  /** Shared ranking tail of every ANN variant: score joined
    * (query, candidate) rows by cosine and rank with the ONE tie-break
    * rule (cos desc, vec_id) all variants share, so their outputs stay
    * directly comparable. Expects columns q_id/qv/qn on the query side
    * and vec_id/v/nrm on the candidate side. */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("cos", safeDiv(dot(col("qv"), col("v")), col("qn") * col("nrm")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))

  /** Single-cell variant: broadcast the query side, restrict candidates
    * to the query's cell (`cellCols` empty = exact search). */
  private def topK(queries: DataFrame, cands: DataFrame,
      cellCols: Seq[String], k: Int): DataFrame = {
    val cond = cellCols
      .map(c => col(s"q_$c") === col(c))
      .foldLeft(col("q_id") =!= col("vec_id"))(_ && _)
    rankTopK(broadcast(queries).join(cands, cond), k)
  }

  private def asQueries(vecs: DataFrame, queryPred: Column, cellCols: Seq[String]): DataFrame =
    vecs.filter(queryPred).select(
      Seq(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")) ++
        cellCols.map(c => col(c).as(s"q_$c")): _*)

  /** Exact brute-force top-k cosine neighbors for a (small) query set.
    * The query side is broadcast; candidates stream by, so the work is
    * one pass over the corpus per batch of queries — the right baseline
    * shape even at 100 TB (queries × corpus scan, no shuffle of the
    * corpus). */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val vecs = withNorm(emb)
    topK(asQueries(vecs, queryPred, Nil), vecs.filter(!queryPred), Nil, k)
  }

  /** Metadata-filtered exact ANN: candidates are restricted to a
    * keep-list of vec_ids (e.g. "only English documents") via a
    * left-semi join BEFORE scoring, so the filter prunes the corpus
    * scan side — the practical "filtered vector search" shape: at
    * 100 TB the keep-list is a pushed-down predicate or a broadcast
    * semi-join, and the scored candidate set shrinks accordingly.
    * Queries are NOT filtered; rank rules identical to brute-force. */
  def filteredTopK(emb: DataFrame, queryPred: Column, keep: DataFrame, k: Int): DataFrame = {
    val vecs = withNorm(emb)
    val cands = vecs.filter(!queryPred).join(keep, Seq("vec_id"), "left_semi")
    topK(asQueries(vecs, queryPred, Nil), cands, Nil, k)
  }

  /** One 32-bit word of the full sign-bit binary code: word `w`
    * packs dimensions 32w+1..32w+32 (1-based) into bits 0..31 of a
    * long. Two words cover a 64-dim vector without ever touching a
    * BIGINT sign bit, so the oracle's `1::BIGINT << i` shifts are
    * always well-defined — the reason the code is NOT one 64-bit
    * word. */
  def binaryCodeWord(v: Column, word: Int): Column =
    (0 until 32).map { i =>
      when(element_at(v, word * 32 + i + 1) > 0.0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Binary-code ANN with exact rerank (the SimHash/ITQ serving
    * shape): every vector compresses to a 64-bit sign code (two
    * 32-bit words); candidate generation scores XOR+popcount Hamming
    * distance — 2 codegen'd `bit_count` calls per pair instead of a
    * 64-mult dot product — keeps the `nCand` Hamming-nearest per
    * query (WindowGroupLimit prunes map-side), and only that pruned
    * frame joins the wide vectors back for the exact cosine top-k.
    * At 100 TB the first pass streams 16 bytes/row against a
    * broadcast query-code table and the expensive float arrays touch
    * only nCand×|queries| rows; rank/tie rules are [[rankTopK]]'s, so
    * recall@k vs s_ann_brute is directly measurable. */
  def hammingTopK(emb: DataFrame, queryPred: Column, k: Int, nCand: Int): DataFrame = {
    val vecs = withNorm(emb)
      .withColumn("c0", binaryCodeWord(col("v"), 0))
      .withColumn("c1", binaryCodeWord(col("v"), 1))
    val store = vecs.filter(!queryPred)
    val q = vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        col("c0").as("qc0"), col("c1").as("qc1"))
    val cand = broadcast(q.select(col("q_id"), col("qc0"), col("qc1")))
      .join(store.select(col("vec_id"), col("c0"), col("c1")),
        col("q_id") =!= col("vec_id"))
      .withColumn("hd", expr("bit_count(qc0 ^ c0) + bit_count(qc1 ^ c1)"))
      .withColumn("hrnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hd"), col("vec_id"))))
      .filter(col("hrnk") <= nCand)
      .select(col("q_id"), col("vec_id"))
    rankTopK(
      cand.join(store.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))), "q_id"), k)
  }

  /** One 32-bit word of the DIFFERENCE-sign extension code: bit i of
    * word `w` is sign(v[d] − v[(d+off) mod 64]) for d = 32w+i
    * (0-based) — the axis-PAIR hyperplane e_d − e_{d+off}, as
    * deterministic and oracle-reproducible as the axis-aligned sign
    * bits but carrying information the plain signs cannot (relative
    * magnitude between coordinates), which is what lifts Hamming
    * recall without touching the candidate budget. Same two-word
    * packing discipline as [[binaryCodeWord]] (no BIGINT sign bit). */
  def diffCodeWord(v: Column, word: Int, off: Int): Column =
    (0 until 32).map { i =>
      val d = word * 32 + i
      when(element_at(v, d + 1) > element_at(v, (d + off) % 64 + 1),
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[hammingTopK]] graduated to a 128-BIT code: the two sign words
    * plus two difference-sign words (offset 7 — any fixed offset
    * coprime to 64 pairs every coordinate once). Candidate pass
    * streams 32 bytes/row (4 XOR+popcount per pair); rank/tie rules
    * identical to brute-force, so recall@3 is directly comparable to
    * the 64-bit dial on the same candidate budget. */
  def hammingTopKWide(emb: DataFrame, queryPred: Column, k: Int, nCand: Int): DataFrame = {
    val code = Seq(
      "c0" -> binaryCodeWord(col("v"), 0), "c1" -> binaryCodeWord(col("v"), 1),
      "c2" -> diffCodeWord(col("v"), 0, 7), "c3" -> diffCodeWord(col("v"), 1, 7))
    val vecs = code.foldLeft(withNorm(emb)) { case (df, (n, c)) => df.withColumn(n, c) }
    val store = vecs.filter(!queryPred)
    val q = vecs.filter(queryPred)
      .select(col("vec_id").as("q_id") +: col("v").as("qv") +: col("nrm").as("qn") +:
        code.map { case (n, _) => col(n).as(s"q$n") }: _*)
    val cand = broadcast(q.select(col("q_id") +: code.map(c => col(s"q${c._1}")): _*))
      .join(store.select(col("vec_id") +: code.map(c => col(c._1)): _*),
        col("q_id") =!= col("vec_id"))
      .withColumn("hd", expr(code.map { case (n, _) => s"bit_count(q$n ^ $n)" }
        .mkString(" + ")))
      .withColumn("hrnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("hd"), col("vec_id"))))
      .filter(col("hrnk") <= nCand)
      .select(col("q_id"), col("vec_id"))
    rankTopK(
      cand.join(store.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
        .join(broadcast(q.select(col("q_id"), col("qv"), col("qn"))), "q_id"), k)
  }

  /** Sign-bit LSH bucket id from the first `nBits` dimensions
    * (axis-aligned random-hyperplane LSH; deterministic and
    * oracle-reproducible). Bucket join turns the quadratic candidate
    * term into per-bucket quadratic — the standard ANN scale path. */
  def lshBucket(v: Column, nBits: Int): Column =
    (0 until nBits).map { i =>
      when(element_at(v, i + 1) > 0.0d, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: neighbors are only sought within the query's LSH
    * bucket. Recall < 1 by design; rank/tie rules identical to
    * brute-force so the two variants are directly comparable. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int, nBits: Int): DataFrame = {
    val vecs = withNorm(emb).withColumn("bucket", lshBucket(col("v"), nBits))
    topK(asQueries(vecs, queryPred, Seq("bucket")),
      vecs.filter(!queryPred), Seq("bucket"), k)
  }

  /** Multi-probe LSH: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (one sign bit flipped) — nBits+1
    * probes total, the standard recall lever for sign-bit LSH. Only
    * the (tiny, broadcast) query side fans out; every candidate still
    * lives in exactly one bucket, so no pair is scored twice and no
    * distinct step is needed. */
  def lshTopKMulti(emb: DataFrame, queryPred: Column, k: Int, nBits: Int): DataFrame = {
    val vecs = withNorm(emb).withColumn("bucket", lshBucket(col("v"), nBits))
    val probes = array((col("bucket") +: (0 until nBits).map(i =>
      col("bucket").bitwiseXOR(lit(1L << i)))): _*)
    val q = vecs.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probes).as("q_bucket"))
    rankTopK(broadcast(q).join(vecs.filter(!queryPred),
      col("q_bucket") === col("bucket") && col("q_id") =!= col("vec_id")), k)
  }

  /** The IVF codebook as ONE broadcastable row: the k vectors with the
    * smallest portableHash(vec_id) (ties by vec_id) — a deterministic,
    * oracle-reproducible sample whose size is INDEPENDENT of corpus
    * size, collected into a c_id-sorted struct array. k-means would
    * refine the same shape without changing any consumer. Cached: both
    * the assignment and the multi-probe query side consume it. */
  private def centroidArray(emb: DataFrame, k: Int): DataFrame =
    graft.ops.PlanCache.cached(s"ivf-cents-$k", emb) {
      withNorm(emb)
        .orderBy(Codecs.portableHash(col("vec_id")), col("vec_id"))
        .limit(k)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
        .agg(sort_array(collect_list(struct(col("c_id"), col("cv"), col("cn")))).as("cents"))
    }

  /** argmax-cosine (cell, cosine) over the centroid array: an ordered
    * fold in increasing c_id, replacing only on STRICTLY greater
    * cosine — i.e. max cosine with smallest c_id on ties, identical to
    * the oracle's `row_number() ORDER BY ccos DESC, c_id` rule. */
  private def bestCellStruct(cents: Column, v: Column, nrm: Column): Column =
    aggregate(cents,
      struct(lit(-1L).as("c_id"), lit(-2.0d).as("cos")),
      (acc, c) => {
        val ccos = safeDiv(dot(v, c.getField("cv")), nrm * c.getField("cn"))
        when(ccos > acc.getField("cos"),
          struct(c.getField("c_id").as("c_id"), ccos.as("cos")))
          .otherwise(acc)
      })

  private def bestCell(cents: Column, v: Column, nrm: Column): Column =
    bestCellStruct(cents, v, nrm).getField("c_id")

  /** The query's `np` nearest cells (cos desc, c_id asc), for
    * multi-probe: score every centroid, sort by (-cos, c_id), slice. */
  private def probeCells(cents: Column, v: Column, nrm: Column, np: Int): Column =
    transform(
      slice(sort_array(transform(cents, c => struct(
        (-safeDiv(dot(v, c.getField("cv")), nrm * c.getField("cn"))).as("neg_cos"),
        c.getField("c_id").as("c_id")))), 1, np),
      s => s.getField("c_id"))

  /** IVF (inverted-file) assignment: every vector is mapped to its
    * nearest of k fixed centroids. The centroid array is ONE broadcast
    * row and the argmax is a per-row fold, so assignment is a NARROW
    * map over the corpus — O(N·k) work, no shuffle, no window. (The
    * round-1 form sampled every `centroidEvery`-th vector, making
    * #centroids ∝ N and assignment O(N²) — fatal at 100× data.)
    * Persisted via PlanCache: both sides of every IVF search join
    * consume it. */
  def ivfAssign(emb: DataFrame, k: Int): DataFrame =
    graft.ops.PlanCache.cached(s"ivf-k$k", emb) {
      ivfAssignCodebook(emb, centroidArray(emb, k))
    }

  /** Assignment against an explicit one-row codebook (`cents` array
    * column) — the narrow argmax map shared by the hash-sample and
    * k-means codebooks. Also emits `cell_cos`, the cosine to the
    * chosen centroid (the spherical k-means objective term). */
  def ivfAssignCodebook(emb: DataFrame, centsRow: DataFrame): DataFrame =
    withNorm(emb)
      .crossJoin(broadcast(centsRow))
      .withColumn("best", bestCellStruct(col("cents"), col("v"), col("nrm")))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        col("best").getField("c_id").as("cell"),
        col("best").getField("cos").as("cell_cos"))

  /** Fixed-point scale for k-means means: dimension values are rounded
    * to micro-units and summed as LONGS, which is exact and therefore
    * independent of partitioning and summation order — the property
    * that makes the refined codebook bit-identical across engines
    * (a plain avg() of doubles is order-dependent partial sums). */
  val KmeansScale = 1000000.0d

  /** Lloyd-refined (spherical k-means) codebook: `iters` rounds of
    * assign → per-cell element-wise mean. Each round is one narrow
    * assignment pass plus a k-row aggregate, so refinement cost is
    * iters × O(N·k) — the codebook stays ONE broadcast row and every
    * consumer (assignment, search, multi-probe) is unchanged.
    * Means are computed in [[KmeansScale]] fixed point (exact long
    * sums → one double division sequence), so the codebook is fully
    * deterministic and the refined search is oracle-checkable. Cells
    * that lose every member drop out, so the codebook can only
    * shrink, never contain dead centroids. */
  def kmeansCodebook(emb: DataFrame, k: Int, dims: Int, iters: Int): DataFrame = {
    var cents = centroidArray(emb, k)
    for (_ <- 0 until iters) {
      // ONE imperative fixed-point sum instead of `dims` declarative
      // sum() columns: identical longs (VectorSumFixedSpec pins it),
      // but the HashAggregate stays narrow — at dims=64 the wide form's
      // Janino compile was ~90% of this query's cold wall time
      val means = ivfAssignCodebook(emb, cents)
        .groupBy("cell")
        .agg(graft.functions.VectorSumFixed.vecSumFixed(col("v"), dims, KmeansScale).as("sums"),
          count(lit(1)).as("cnt"))
        .select(col("cell"),
          transform(col("sums"), s => s.cast("double") / KmeansScale / col("cnt")).as("cv"))
      cents = means
        .select(col("cell").as("c_id"), col("cv"), norm(col("cv")).as("cn"))
        .agg(sort_array(collect_list(struct(col("c_id"), col("cv"), col("cn")))).as("cents"))
    }
    cents
  }

  /** The composed (wide declarative) twin of the fixed-point mean in
    * [[kmeansCodebook]] — kept for the bit-equivalence spec only. */
  private[graft] def kmeansCodebookComposed(emb: DataFrame, k: Int, dims: Int,
      iters: Int): DataFrame = {
    var cents = centroidArray(emb, k)
    for (_ <- 0 until iters) {
      val meanExprs = (1 to dims).map { i =>
        sum(round(element_at(col("v"), i) * KmeansScale).cast("long"))
          .cast("double") / KmeansScale / count(lit(1))
      }
      val means = ivfAssignCodebook(emb, cents)
        .groupBy("cell")
        .agg(array(meanExprs: _*).as("cv"))
      cents = means
        .select(col("cell").as("c_id"), col("cv"), norm(col("cv")).as("cn"))
        .agg(sort_array(collect_list(struct(col("c_id"), col("cv"), col("cn")))).as("cents"))
    }
    cents
  }

  /** Radius (range) search: every candidate within cosine ≥ minCos of
    * each query — the set-retrieval twin of top-k (dedup thresholds,
    * "everything this similar" audits). Same broadcast-queries × one
    * corpus scan shape as [[bruteForceTopK]], but with NO per-query
    * window: the threshold is a row-local filter, so the plan is a
    * pure codegen'd map over the scan — at 100 TB there is no rank
    * shuffle at all, and the output is the only thing that moves. */
  def rangeSearch(emb: DataFrame, queryPred: Column, minCos: Double): DataFrame = {
    val vecs = withNorm(emb)
    broadcast(asQueries(vecs, queryPred, Nil))
      .join(vecs.filter(!queryPred), col("q_id") =!= col("vec_id"))
      .withColumn("cos", safeDiv(dot(col("qv"), col("v")), col("qn") * col("nrm")))
      .filter(col("cos") >= minCos)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos"))
  }

  /** The store codebook as a LITERAL expression — one bounded k-row
    * collect at wiring time (k ≪ N, the same bound as the broadcast
    * row). For probe sides where the cell must be a pure row-local
    * expression: the streaming micro-batch plan, which re-executes
    * joins every batch but folds a literal for free. */
  def codebookLiteral(store: DataFrame, kCells: Int): Column = {
    val rows = centroidArray(store, kCells)
      .select(explode(col("cents")).as("c"))
      .select(col("c.c_id"), col("c.cv"), col("c.cn"))
      .collect()
    array(rows.map { r =>
      struct(lit(r.getLong(0)).as("c_id"),
        typedLit(r.getSeq[Double](1)).as("cv"),
        lit(r.getDouble(2)).as("cn"))
    }: _*)
  }

  /** Cell assignment as a plain expression over a codebook column
    * (array of (c_id, cv, cn) structs) — the row-local argmax fold
    * behind [[ivfAssignCodebook]], exposed for probe sides that carry
    * the codebook as a literal. */
  def cellOf(cents: Column, v: Column, nrm: Column): Column =
    bestCell(cents, v, nrm)

  /** ANN serving shape: EXTERNAL queries (q_id, embedding) against a
    * persisted store — unlike the self-search variants, the query
    * vectors are not corpus members, which is how a trained-model
    * retrieval endpoint actually consumes the index. Codebook and
    * assignment both derive from the store alone; queries are
    * broadcast, assigned to their cell by the same argmax fold, and
    * scored only against cell-mates. One store scan per query batch,
    * no store shuffle. [[graft.streaming.Pipeline.annStream]] is the
    * streaming twin over the same cached store frames. */
  def ivfSearchStore(queries: DataFrame, store: DataFrame, k: Int,
      kCells: Int): DataFrame = {
    val assigned = ivfAssign(store, kCells)
    val q = queries
      .select(col("q_id"), asDouble(col("embedding")).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .crossJoin(broadcast(centroidArray(store, kCells)))
      .withColumn("q_cell", bestCell(col("cents"), col("qv"), col("qn")))
      .select(col("q_id"), col("qv"), col("qn"), col("q_cell"))
    rankTopK(broadcast(q).join(assigned, col("q_cell") === col("cell")), k)
  }

  /** Per-label embedding centroid — the class-prototype aggregate a
    * labeled corpus feeds into nearest-centroid classification or
    * per-class drift monitoring. Means are computed through the same
    * exact fixed-point sum as the k-means codebook
    * ([[graft.functions.VectorSumFixed]]): micro-unit longs are order-
    * and partition-independent, so the resulting doubles are
    * bit-deterministic and a DuckDB oracle can reproduce the ARRAY
    * column exactly — a plain double sum would vary with partial-agg
    * order. One partial-agg shuffle of dims longs per label. */
  def labelCentroids(emb: DataFrame, dims: Int): DataFrame =
    withNorm(emb)
      .groupBy("label")
      .agg(graft.functions.VectorSumFixed.vecSumFixed(col("v"), dims, KmeansScale).as("sums"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"),
        transform(col("sums"), s => s.cast("double") / KmeansScale / col("n_vecs")).as("centroid"),
        col("n_vecs"))

  /** Embedding-space outlier detection: each vector's cosine to its
    * own label centroid, standardized within the label; rows at
    * z ≤ −zThresh are flagged. This is the embedding-side data-cleaning
    * step (mislabeled / off-distribution examples sit far from their
    * class prototype) that complements the text-side quality filters.
    *
    * Determinism: the centroid comes from [[labelCentroids]]'s exact
    * fixed-point sums, each per-row cosine is a sequential fold
    * (bit-identical cross-engine), and the per-label mean/stddev are
    * computed over cosines ROUNDED to 4 decimals so the only
    * cross-engine drift left is partial-agg summation order at ~1e-15
    * — far inside the final rounding.
    *
    * Scale shape: one corpus scan to score (centroids ride as a
    * broadcast of one row per label), one narrow partial-agg shuffle
    * of 3 doubles per label for the stats, stats broadcast back. No
    * window, no pairwise term. */
  def labelOutliers(emb: DataFrame, dims: Int, zThresh: Double): DataFrame = {
    val cents = labelCentroids(emb, dims)
      .select(col("label"), col("centroid"))
      .withColumn("cn", norm(col("centroid")))
    val scored = graft.ops.PlanCache.cached(s"label-outlier-cos-$dims", emb) {
      withNorm(emb).join(broadcast(cents), "label")
        .withColumn("cos",
          round(safeDiv(dot(col("v"), col("centroid")), col("nrm") * col("cn")), 4))
        .select(col("vec_id"), col("label"), col("cos"))
    }
    val stats = scored.groupBy("label")
      .agg(avg(col("cos")).as("mu"), stddev_pop(col("cos")).as("sigma"))
    // safeDiv: a degenerate label (singleton, or every cosine rounding
    // equal) has sigma exactly 0 — ANSI double division would raise
    // where the oracle's NaN simply fails the comparison and drops the
    // row. The gate compares the ROUNDED z so summation-order drift in
    // mu/sigma can't flip a knife-edge row between engines.
    scored.join(broadcast(stats), "label")
      .withColumn("z", round(safeDiv(col("cos") - col("mu"), col("sigma")), 4))
      .filter(col("z") <= -zThresh)
      .select(col("vec_id"), col("label"), col("cos"), col("z"))
  }

  /** Nearest-centroid classification report: every vector is assigned
    * the label of its most-cosine-similar centroid (tie → smaller
    * label) and scored against its true label — the standard
    * embedding-quality / cluster-coherence diagnostic over a labeled
    * corpus. NO rank window: the per-vector argmax is a partial-agg
    * `max(struct(cos, -label))` (lexicographic struct order gives the
    * tie rule), so the plan is one scored scan against a k-row
    * centroid broadcast plus two narrow aggregations — the same shape
    * at any corpus size. */
  def centroidClassify(emb: DataFrame, dims: Int): DataFrame = {
    val cents = labelCentroids(emb, dims)
      .select(col("label").as("c_label"), col("centroid"))
      .withColumn("cn", norm(col("centroid")))
    val best = withNorm(emb).crossJoin(broadcast(cents))
      .withColumn("cos", safeDiv(dot(col("v"), col("centroid")), col("nrm") * col("cn")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("c_label")).as("neg"))).as("b"))
      .select(col("vec_id"), col("label"), (-col("b.neg")).as("pred"))
    best.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", round(col("n_correct").cast("double") / col("n_vecs"), 4))
  }

  /** Full confusion matrix of [[centroidClassify]]: (true label,
    * predicted label, count), with diagonal rows carrying per-class
    * recall (n / row total) and precision (n / column total) in exact
    * e4 — the class-level error breakdown an accuracy scalar hides.
    * Same classification rule as centroidClassify (max cos, tie →
    * smaller label), so the two rows never disagree. The marginal
    * windows run over the k×k confusion frame — label-vocabulary-
    * bounded, never data-sized. */
  def centroidConfusion(emb: DataFrame, dims: Int): DataFrame = {
    val cents = labelCentroids(emb, dims)
      .select(col("label").as("c_label"), col("centroid"))
      .withColumn("cn", norm(col("centroid")))
    val best = withNorm(emb).crossJoin(broadcast(cents))
      .withColumn("cos", safeDiv(dot(col("v"), col("centroid")), col("nrm") * col("cn")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(struct(col("cos"), (-col("c_label")).as("neg"))).as("b"))
      .select(col("label"), (-col("b.neg")).as("pred"))
    best.groupBy("label", "pred").agg(count(lit(1)).as("n"))
      .withColumn("n_true", sum(col("n")).over(Window.partitionBy("label")))
      .withColumn("n_pred", sum(col("n")).over(Window.partitionBy("pred")))
      .select(col("label"), col("pred"), col("n"),
        expr("CASE WHEN label = pred THEN n * 10000 div n_true END").as("recall_e4"),
        expr("CASE WHEN label = pred THEN n * 10000 div n_pred END").as("precision_e4"))
  }

  /** Pairwise label-centroid cosine (k·(k−1)/2 rows) — the inter-class
    * confusion/affinity matrix: which classes sit close in embedding
    * space. Both sides are the k-row centroid frame, so the join is a
    * broadcast over constant-size inputs regardless of corpus size. */
  def labelAffinity(emb: DataFrame, dims: Int): DataFrame = {
    val cents = labelCentroids(emb, dims)
      .select(col("label"), col("centroid"))
      .withColumn("cn", norm(col("centroid")))
    val a = cents.select(col("label").as("label_a"), col("centroid").as("ca"),
      col("cn").as("na"))
    val b = cents.select(col("label").as("label_b"), col("centroid").as("cb"),
      col("cn").as("nb"))
    a.join(broadcast(b), col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        round(safeDiv(dot(col("ca"), col("cb")), col("na") * col("nb")), 4).as("cos"))
  }

  /** IVF top-k over the k-means-refined codebook (deterministic
    * fixed-point means — see [[kmeansCodebook]]). */
  def ivfTopKKmeans(emb: DataFrame, queryPred: Column, k: Int,
      kCentroids: Int, dims: Int, iters: Int): DataFrame = {
    val assigned = graft.ops.PlanCache.cached(s"ivf-km-$kCentroids-$dims-$iters", emb) {
      ivfAssignCodebook(emb, kmeansCodebook(emb, kCentroids, dims, iters))
    }
    topK(asQueries(assigned, queryPred, Seq("cell")),
      assigned.filter(!queryPred), Seq("cell"), k)
  }

  /** IVF top-k: neighbors sought within the query's centroid cell only
    * (nprobe=1; recall < 1 by design, rank rules identical to the
    * exact baseline for comparability). */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, kCentroids: Int): DataFrame = {
    val assigned = ivfAssign(emb, kCentroids)
    topK(asQueries(assigned, queryPred, Seq("cell")),
      assigned.filter(!queryPred), Seq("cell"), k)
  }

  /** Multi-probe IVF: each query searches its `nprobe` nearest cells
    * instead of one. Probe fan-out is on the broadcast query side
    * only; every candidate belongs to exactly one cell, so no pair is
    * scored twice. Recall rises toward brute-force as nprobe → k. */
  def ivfTopKMulti(emb: DataFrame, queryPred: Column, k: Int,
      kCentroids: Int, nprobe: Int): DataFrame = {
    val assigned = ivfAssign(emb, kCentroids)
    val q = assigned.filter(queryPred)
      .crossJoin(broadcast(centroidArray(emb, kCentroids)))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probeCells(col("cents"), col("v"), col("nrm"), nprobe)).as("q_cell"))
    rankTopK(broadcast(q).join(assigned.filter(!queryPred),
      col("q_cell") === col("cell") && col("q_id") =!= col("vec_id")), k)
  }

  /** Product-quantization seed row: the k hash-sample vectors (same
    * deterministic sample rule as the IVF codebook), c_id-sorted, as
    * ONE broadcast array — codeword c of subspace s is seed c's
    * dims [s·sub+1, (s+1)·sub]. */
  private def pqSeeds(emb: DataFrame, k: Int): DataFrame =
    graft.ops.PlanCache.cached(s"pq-seeds-$k", emb) {
      withNorm(emb)
        .orderBy(Codecs.portableHash(col("vec_id")), col("vec_id"))
        .limit(k)
        .select(col("vec_id").as("c_id"), col("v"))
        .agg(sort_array(collect_list(struct(col("c_id"), col("v")))).as("ss"))
        .select(transform(col("ss"), s => s.getField("v")).as("seeds"))
    }

  /** PQ encode: each vector becomes `m` codes — per subspace, the
    * argmin-L2 codeword (ordered fold, strict-less, so ties keep the
    * smallest code — the oracle's `ORDER BY d, code` rule). At 100 TB
    * this is the embedding-store compression layer: m bytes per vector
    * instead of dims floats; scoring below reconstructs from codes, so
    * swapping in a real ADC lookup table changes no semantics. */
  private def pqCodes(m: Int, sub: Int, kCodes: Int): Column =
    graft.functions.PqEncode.pqEncode(col("v"), col("seeds"), m, sub, kCodes)

  /** The built-ins-only twin of [[pqCodes]] (nested HOFs, interpreted
    * per row × codeword × element — CodegenFallback). Kept for the
    * equivalence spec, exactly like [[dotComposed]] twins [[dot]]. */
  private[graft] def pqCodesComposed(m: Int, sub: Int, kCodes: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), s => {
      val subV = slice(col("v"), s * sub + 1, lit(sub))
      // init = code 0 (not a sentinel): a degenerate vector whose
      // distances are all NaN/inf keeps the FIRST codeword — exactly
      // what the oracle's NaN/inf-last `ORDER BY d, code` picks — and
      // reconstruction can never index out of the codebook
      aggregate(sequence(lit(0), lit(kCodes - 1)),
        struct(lit(0).as("c"), lit(Double.MaxValue).as("d")),
        (acc, c) => {
          val cw = slice(element_at(col("seeds"), c + 1), s * sub + 1, lit(sub))
          // fused L2 kernel (same fold order as the zip_with form)
          val d = graft.functions.VectorL2Sq.vecL2Sq(subV, cw)
          when(d < acc.getField("d"), struct(c.cast("int").as("c"), d.as("d")))
            .otherwise(acc)
        },
        acc => acc.getField("c"))
    })

  /** Reconstruction from PQ codes: concatenate the chosen codewords. */
  private def pqRecon(m: Int, sub: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), s =>
      slice(element_at(col("seeds"), element_at(col("codes"), s + 1) + 1),
        s * sub + 1, lit(sub))))

  /** (vec_id, recon) for every vector — the decoded form of the PQ
    * store; exposed for specs (a seed vector must reconstruct to
    * itself exactly: all its subspace distances are 0). */
  def pqReconstruct(emb: DataFrame, kCodes: Int, m: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must divide evenly into $m subspaces")
    val sub = dims / m
    // PlanCached: the corpus encode is the expensive half of every PQ
    // query, and s_ann_pq + s_ann_pq_rerank (which encodes once for the
    // shortlist scan) would otherwise each rebuild it. At 100 TB this
    // frame IS the PQ store — codes are written once, queries only read.
    graft.ops.PlanCache.cached(s"pq-recon-$kCodes-$m-$dims", emb) {
      withNorm(emb)
        .crossJoin(broadcast(pqSeeds(emb, kCodes)))
        .withColumn("codes", pqCodes(m, sub, kCodes))
        .withColumn("recon", pqRecon(m, sub))
        .select(col("vec_id"), col("v"), col("nrm"), col("codes"), col("recon"))
    }
  }

  /** PQ ANN: queries stay exact, candidates are scored against their
    * PQ reconstruction (asymmetric scoring) — the memory-bounded
    * corpus side of a 100 TB ANN store. Rank rules identical to every
    * other variant. */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int,
      kCodes: Int, m: Int, dims: Int): DataFrame = {
    // candidates expose their reconstruction under the standard
    // (v, nrm) names so the ONE shared ranking tail applies; the query
    // side stays exact and never touches the codebook
    val cands = pqReconstruct(emb, kCodes, m, dims).filter(!queryPred)
      .select(col("vec_id"), col("recon").as("v"), norm(col("recon")).as("nrm"))
    val q = withNorm(emb).filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    rankTopK(broadcast(q).join(cands, col("q_id") =!= col("vec_id")), k)
  }

  /** IVFPQ — the composed production ANN layout (FAISS's default): the
    * IVF assignment restricts candidates to the query's cell, and the
    * survivors are scored in the compressed (PQ-reconstruction)
    * domain. At 100 TB this is the memory-bounded index proper: the
    * corpus is touched through cell-pruned m-byte codes — IO ∝
    * cell size, bytes ∝ m per vector. Built entirely from the two
    * PlanCached frames ([[ivfAssign]], [[pqReconstruct]]) a pipeline
    * running IVF and PQ already owns, so composing them adds one
    * doc-keyed join and nothing else. Rank rules identical to every
    * other variant. */
  def ivfPqTopK(emb: DataFrame, queryPred: Column, k: Int,
      kCentroids: Int, kCodes: Int, m: Int, dims: Int): DataFrame = {
    val assigned = ivfAssign(emb, kCentroids)
    val cands = pqReconstruct(emb, kCodes, m, dims)
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
      .filter(!queryPred)
      .select(col("vec_id"), col("recon").as("v"), norm(col("recon")).as("nrm"), col("cell"))
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("q_cell"))
    rankTopK(broadcast(q).join(cands,
      col("q_cell") === col("cell") && col("q_id") =!= col("vec_id")), k)
  }

  /** Two-stage PQ search — the standard production ANN layout: the PQ
    * scan (compressed codes, approximate distances) produces a
    * per-query SHORTLIST of `shortlist` candidates, then ONLY those
    * rows are re-scored against their exact vectors and re-ranked to
    * the final k. At 100 TB the corpus is touched once through its
    * m-byte codes; exact vectors are fetched for shortlist×queries
    * rows — the recall/IO knob is `shortlist`, not corpus size. Rank
    * rules identical to every other variant. */
  def pqRerankTopK(emb: DataFrame, queryPred: Column, k: Int, shortlist: Int,
      kCodes: Int, m: Int, dims: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must cover the final k ($k)")
    val short = pqTopK(emb, queryPred, shortlist, kCodes, m, dims)
      .select(col("q_id"), col("neighbor_id"))
    val q = withNorm(emb).filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val exact = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
    rankTopK(
      short.join(broadcast(q), "q_id")
        .join(exact, col("neighbor_id") === col("vec_id"))
        .drop("neighbor_id"),
      k)
  }

  /** Scalar (int8) quantization of the embedding store — the other
    * classic compression dial beside PQ: each vector becomes dims
    * int8 codes plus ONE per-vector scale (mx/127, mx = max |xᵢ|), a
    * 4× cut vs float32 with no codebook to train. Cosine is
    * scale-invariant, so the per-vector scale cancels and the only
    * fidelity loss is the 8-bit rounding — much finer-grained than a
    * k-codeword PQ cell, at 8× the bytes of m=8 PQ codes. The
    * dequantized view is kept alongside the codes so the shared
    * ranking tail (and the oracle) score the EXACT same doubles the
    * int codes represent. PlanCached: this frame is the quantized
    * store — written once, queries only read. */
  def sq8Quantize(emb: DataFrame): DataFrame =
    graft.ops.PlanCache.cached("sq8", emb) {
      withNorm(emb)
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .withColumn("q8", transform(col("v"),
          x => when(col("mx") =!= 0.0d, round(x * 127.0d / col("mx")))
            .otherwise(0.0d).cast("int")))
        .withColumn("dq", transform(col("q8"),
          c => c.cast("double") * col("mx") / lit(127.0d)))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("mx"), col("q8"), col("dq"))
    }

  /** SQ8 ANN: queries stay exact, candidates are scored against their
    * dequantized int8 form (asymmetric scoring, like [[pqTopK]]). At
    * 100 TB the corpus side streams dims bytes + 8 per vector; rank
    * rules identical to every other variant. */
  def sq8TopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val cands = sq8Quantize(emb).filter(!queryPred)
      .select(col("vec_id"), col("dq").as("v"), norm(col("dq")).as("nrm"))
    val q = withNorm(emb).filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    rankTopK(broadcast(q).join(cands, col("q_id") =!= col("vec_id")), k)
  }

  /** Semantic near-dup candidate pairs (the SemDeDup shape): the corpus
    * is clustered by the fixed-k IVF assignment, and ONLY cluster-mates
    * are compared — per-cell quadratic instead of corpus-quadratic,
    * with the cell count a constant. Reuses the cached [[ivfAssign]]
    * frame, so a pipeline that already does IVF search pays nothing
    * extra for clustering. Pairs with cosine ≥ minCos are emitted;
    * feeding them to [[graft.ext.Dedup.nearDupComponents]] yields one
    * keeper per semantic-duplicate group. */
  def semanticPairs(emb: DataFrame, kCentroids: Int, minCos: Double): DataFrame = {
    val a = ivfAssign(emb, kCentroids)
    a.as("a").join(a.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", safeDiv(dot(col("a.v"), col("b.v")), col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 3).as("cos"))
  }

  /** Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos ≥ τ),
    * bucketed by [[lshBucket]] so only bucket-mates are ever compared —
    * the per-bucket quadratic term replaces the corpus-quadratic one
    * (recall bounded by the bucket split; lower nBits trades speed for
    * recall). */
  def nearDupPairs(emb: DataFrame, minCos: Double, nBits: Int = 8): DataFrame = {
    val vecs = withNorm(emb).withColumn("bucket", lshBucket(col("v"), nBits))
    vecs.as("a").join(vecs.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", safeDiv(dot(col("a.v"), col("b.v")), col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= minCos)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(col("cos"), 3).as("cos"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-ranking — the
    * RAG-serving step after retrieval: from the query's top-`candK`
    * cosine candidates, greedily pick `k` maximizing
    * λ·rel(d) − (1−λ)·max_{s∈chosen} sim(d, s), ties to the smaller
    * vec_id. Redundant near-duplicate hits fall out; coverage wins.
    *
    * Scale shape: the DISTRIBUTED work is the candidate search (one
    * scan, broadcast query, TakeOrdered top-candK — the s_ann_brute
    * shape); the greedy tail runs on the collected candK×(d+1) frame
    * — bounded by construction, the codebookLiteral account (eager at
    * construction, like the ridge fit; BASELINE.md). Every float op
    * (dot folds, the norm-product division, λ arithmetic) mirrors the
    * oracle's expression order, so the recursive-CTE greedy replay
    * picks identical ids. */
  def mmrRerank(emb: DataFrame, qId: Long, candK: Int, k: Int,
      lam: Double, oneMinusLam: Double): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val dv = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = dv.filter(col("vec_id") === qId)
      .select(col("v").as("qv"), sqrt(dot(col("v"), col("v"))).as("qn"))
    val cand = dv.filter(col("vec_id") =!= qId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("qv"), col("v")) / (col("qn") * sqrt(dot(col("v"), col("v")))))
          .as("rel"),
        col("v"))
      .orderBy(col("rel").desc, col("vec_id")).limit(candK)
      .as[(Long, Double, Seq[Double])].collect()
    def ddot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val sim = Array.tabulate(cand.length, cand.length) { (i, j) =>
      ddot(cand(i)._3, cand(j)._3) /
        (math.sqrt(ddot(cand(i)._3, cand(i)._3)) *
          math.sqrt(ddot(cand(j)._3, cand(j)._3)))
    }
    val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = (1 to k).map { rank =>
      val best = cand.indices.filterNot(sel.contains).minBy { i =>
        val maxSim = if (sel.isEmpty) 0.0 else sel.map(j => sim(i)(j)).max
        (-(lam * cand(i)._2 - oneMinusLam * maxSim), cand(i)._1)
      }
      val maxSim = if (sel.isEmpty) 0.0 else sel.map(j => sim(best)(j)).max
      val score = lam * cand(best)._2 - oneMinusLam * maxSim
      sel += best
      (rank, cand(best)._1,
        java.math.BigDecimal.valueOf(score)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    out.toDF("rank", "vec_id", "mmr_score")
  }
}
