package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over plain DataFrames — the Pregel-style
  * complement of [[graft.ext.Dedup.nearDupComponents]]' label
  * propagation, for graphs where the answer is a per-vertex score
  * rather than a component id.
  */
object Graph {

  /** The plain vertex list of an edge frame, materialized once per
    * (session, edge plan) via [[PlanCache.checkpointed]] — kCorePeel,
    * bfsHops, bfsHopsPerSeed and minPlus all start from it, and
    * before the registry share each rebuilt the same distinct per
    * query. */
  private def vertsOf(edges: DataFrame): DataFrame =
    PlanCache.checkpointed("graph-verts", edges) {
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node")))
        .distinct()
        .repartition(col("node"))
    }

  /** The unit-augmented edge list (real edges delta=1 plus one
    * delta=0 self edge per vertex) behind the single-reference
    * iterates: kCorePeel reads delta as the is-real marker, bfsHops /
    * bfsHopsPerSeed as the hop increment — same values, one shared
    * materialization per (session, edge plan). */
  private def unitAugEdges(edges: DataFrame): DataFrame =
    PlanCache.checkpointed("graph-aug-unit", edges) {
      edges.select(col("src"), col("dst"), lit(1L).as("delta"))
        .union(vertsOf(edges).select(col("node").as("src"),
          col("node").as("dst"), lit(0L).as("delta")))
        .repartition(col("src"))
    }

  /** PageRank's two static frames, registry-shared per (session, edge
    * plan) — see the discipline note in [[pageRankFixed]]. The
    * pre-repartition's role (r9 measurement, BASELINE.md): under AQE
    * a checkpoint scan reports UNKNOWN partitioning, so the PLANNER
    * never reuses it — what keeps the edge side exchange-free per
    * step is that the rank frame is vertex-sized and AQE broadcasts
    * it. But the repartition still pays for the PHYSICAL layout of
    * the materialized RDD: without it the checkpoint inherits the
    * (few, skewed) join-output partitions and every per-step map
    * stage runs under-parallel — measured 3.7 → 6.6 s warm at sf0.1
    * when removed. For graphs whose vertex frame outgrows broadcast,
    * stage the edge list as a bucketed table instead (the PlanCache
    * scale note). */
  private def prStatics(edges: DataFrame): (DataFrame, DataFrame) = {
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = PlanCache.checkpointed("graph-pr-edges", edges) {
      edges.join(outw, "src")
        .select(col("src"), col("dst"), col("w").cast("long").as("w"),
          col("wout").cast("long").as("wout"))
        .repartition(col("src"))
    }
    val verts0 = PlanCache.checkpointed("graph-pr-verts", edges) {
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
        // dangling-mass guard: a sink vertex would silently leak rank
        // mass every step; refuse it loudly at vertex-build time
        .join(outw.select(col("src").as("node"), lit(true).as("_has_out")),
          Seq("node"), "left")
        .filter(assert_true(col("_has_out").isNotNull,
          lit("pageRankFixed: vertex with no out-edges (dangling mass " +
            "would leak; symmetrize the edge list or add self-loops)")).isNull)
        .select(col("node"))
    }
    (e, verts0)
  }

  /** Materialize every registry-shared static frame for `edges` — the
    * graph family's staging-table build, callable from a bench
    * prepare step so per-query timings measure ITERATES, not staging
    * (the purchase_edges attribution rule, extended to the derived
    * frames the round-12 registry share introduced). */
  def stageStatics(edges: DataFrame): Unit = {
    vertsOf(edges)
    unitAugEdges(edges)
    prStatics(edges)
    ()
  }

  /** Weighted PageRank in EXACT fixed-point arithmetic, bounded
    * iterations (Brin & Page 1998, the power-iteration form).
    *
    * Everything is long arithmetic so the result is order-,
    * partition- and engine-independent: rank starts at `scale` per
    * vertex; each step every vertex receives
    * `sum((p_src * w) div wout_src)` over its in-edges and is
    * re-ranked `teleport + (dampNum * contrib) div dampDen` with
    * `teleport = (scale * (dampDen - dampNum)) div dampDen`. Integral
    * `div` on non-negative longs is identical in Spark (truncate) and
    * DuckDB (`//`, floor), which is what lets a recursive-CTE oracle
    * replay the identical iteration.
    *
    * Distributed shape: each iteration is ONE join of the rank frame
    * against the (checkpointed, degree-annotated) edge list keyed on
    * vertex id plus one partial-agg'd sum keyed on the destination —
    * both shuffles are id-hash uniform, nothing is ever collected.
    * Iteration count is fixed (a handful of power steps ranks a
    * dependency/purchase graph; convergence testing would add a
    * count() job per step for no semantic gain — the fixpoint is not
    * the contract, the bounded iterate is). The edge and vertex
    * frames ARE localCheckpoint'ed (each is referenced every
    * iteration — uncheckpointed they would recompute per reference),
    * but the rank chain deliberately is NOT: unlike
    * [[graft.ext.Dedup.nearDupComponents]]' open-ended sweep loop
    * with mid-loop count() actions, this loop is a bounded unroll
    * with a single terminal action, so the `iters`-stage plan runs as
    * ONE job — per-step checkpoints measured 6.65 s vs ~2 s at
    * sf0.1/local[32] purely from `iters` serial job barriers. Set
    * `checkpointEvery` > 0 for iteration counts large enough that
    * plan size itself becomes the problem (~dozens); the r13 cadence
    * probe (docs/SCALE.md, round 13) measured checkpointEvery=2 at
    * 2.60 s vs 1.94 s for the single deep job at 5 steps — the
    * intermediate materialization is a pure loss until plan size
    * dominates.
    *
    * Overflow budget (documented, not guarded — column arithmetic has
    * no addExact): total mass stays ~|V|·scale under the damped
    * update, so `p · w` needs |V|·scale·w_max ≲ 2^63 — at
    * scale=10^6 that is ~10^9 vertices with hub weights ~10^4. Lower
    * `scale` for larger graphs.
    *
    * Vertices with no out-edges would leak their mass (the simplified
    * PageRank has no dangling-mass redistribution term), so the
    * vertex build REFUSES them loudly: a sink vertex (appears as dst,
    * never as src) fails the evaluation with a clear message instead
    * of silently deflating every rank. On a symmetric edge list — the
    * intended use — there are none; asymmetric graphs are fine as
    * long as every vertex has at least one out-edge (e.g. a directed
    * cycle). The check is one vertex-sized left join inside the
    * once-materialized verts frame — no extra job, no per-step cost.
    *
    * Personalization: `seeds` restricts both the initial mass and the
    * teleport to the given vertex set (Haveliwala 2002 topic-
    * sensitive PageRank) — rank then measures weighted proximity TO
    * the seeds. `None` (default) is classic uniform PageRank. The
    * seed frame is vertex-set-sized metadata joined once into the
    * vertex table, not re-derived per step.
    *
    * Input: edges (src: String, dst: String, w: Long).
    * Returns (node, pr_fx: Long) after `iters` steps. */
  def pageRankFixed(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointEvery: Int = 0, seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen, s"damping $dampNum/$dampDen not in (0,1)")
    val teleport = (scale * (dampDen - dampNum)) / dampDen
    val (e, verts0) = prStatics(edges)
    val verts = (seeds match {
      case Some(sd) => verts0.join(
          sd.select(col("node")).distinct().withColumn("s", lit(true)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(false)).as("seed"))
      case None => verts0.withColumn("seed", lit(true))
    }).repartition(col("node")).localCheckpoint()
    var pr = verts.withColumn("p", when(col("seed"), lit(scale)).otherwise(lit(0L)))
      .select(col("node"), col("p"))
    for (i <- 1 to iters) {
      val contrib = e.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("(p * w) div wout")).as("c"))
      pr = verts.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (when(col("seed"), lit(teleport)).otherwise(lit(0L)) +
            expr(s"($dampNum * coalesce(c, 0L)) div $dampDen")).as("p"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        pr = pr.localCheckpoint()
    }
    pr.select(col("node"), col("p").as("pr_fx"))
  }

  /** Bounded k-core peeling (Seidman 1983 coreness, the Batagelj–
    * Zaveršnik peel expressed as a synchronous bounded iterate):
    * each round simultaneously removes every vertex whose degree
    * among the still-alive vertices is below `k`; `rounds` rounds of
    * that cascade. The bounded unroll IS the contract (the a_ewma /
    * pageRankFixed convention) — both engines replay the same rounds,
    * so the result is engine-independent even when the cascade has
    * not yet reached its fixpoint.
    *
    * Single-reference iterate: a naive step needs the previous state
    * twice (once to weight each edge by its source's aliveness, once
    * to carry the destination's own aliveness forward) — in Spark
    * that doubles the unrolled plan per round, and a recursive-CTE
    * oracle cannot express it at all (the recursive table may be
    * referenced only once). Instead the static edge list is augmented
    * with one zero-marked SELF-edge per vertex, so ONE join + ONE
    * dst-keyed aggregate per round sees both: real edges contribute
    * the source's aliveness to the degree sum, the self edge carries
    * the vertex's own (aliveness, peel round) through the aggregate.
    * Plan stays linear in `rounds`, runs as one job, and the DuckDB
    * oracle replays it verbatim.
    *
    * Distributed shape: the augmented edge list is materialized once
    * (checkpoint); each round's join moves only the vertex-sized
    * state frame (AQE broadcast — see pageRankFixed's note on why
    * pre-partitioning is not what saves the exchange) plus one
    * partial-agg'd dst-keyed groupBy — the pageRankFixed shuffle
    * budget.
    *
    * Input: symmetric edges (src, dst, w) — w ignored, degree = edge
    * count. Returns (node, in_core: 1/0 long, peeled_round: long,
    * 0 = survived all rounds). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    // delta doubles as the is-real marker here (1 = real edge,
    // 0 = the self edge) — the shared [[unitAugEdges]] frame
    val verts = vertsOf(edges)
    val e2 = unitAugEdges(edges)
    var st = verts.select(col("node"), lit(1L).as("alive"), lit(0L).as("peeled"))
    for (t <- 1 to rounds) {
      st = e2.join(st.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(when(col("delta") === 1L, col("alive")).otherwise(0L)).as("deg"),
          max(when(col("delta") === 0L, col("alive"))).as("ca"),
          max(when(col("delta") === 0L, col("peeled"))).as("cp"))
        .select(col("node"),
          when(col("ca") === 1L && col("deg") >= k, 1L).otherwise(0L).as("alive"),
          when(col("ca") === 1L && col("deg") < k, lit(t.toLong))
            .otherwise(col("cp")).as("peeled"))
    }
    st.select(col("node"), col("alive").as("in_core"), col("peeled").as("peeled_round"))
  }

  /** Multi-source BFS hop distance from a seed vertex set, bounded
    * depth — the reachability-shell analytic (which entities sit how
    * many trades away from a seed population). Same single-reference
    * iterate as [[kCorePeel]]: real edges carry `dist + 1`, the
    * zero-marked self edge carries `dist + 0`, one join + one
    * dst-keyed MIN per round. NULL is "unreached": NULL + 1 = NULL
    * and MIN ignores NULLs identically in Spark and DuckDB, so no
    * sentinel arithmetic is needed and the recursive-CTE oracle
    * replays the iterate as written. After `depth` rounds dist(v) is
    * the true hop distance for every v within `depth` hops, NULL
    * beyond — the bounded unroll is the contract.
    *
    * Input: symmetric edges (src, dst, *), seeds (node). Returns
    * (node, dist: nullable long). */
  def bfsHops(edges: DataFrame, seeds: DataFrame, depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val verts = vertsOf(edges)
    val e2 = unitAugEdges(edges)
    var st = verts
      .join(seeds.select(col("node")).distinct().withColumn("s", lit(true)),
        Seq("node"), "left")
      .select(col("node"),
        when(col("s"), lit(0L)).otherwise(lit(null).cast("long")).as("dist"))
    for (_ <- 1 to depth) {
      st = e2.join(st.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("dist") + col("delta")).as("dist"))
    }
    st
  }

  /** Per-seed bounded BFS labels — the landmark generalization of
    * [[bfsHops]]: every (seed, node) pair within `depth` hops carries
    * its exact hop distance, so landmark statistics (harmonic
    * centrality, eccentricity-within-ball) read off one frame. Same
    * single-reference iterate with the zero-delta self edge, one join
    * + one (seed, dst)-keyed MIN per round; state is keyed
    * (seed, node) and grows with |seeds| × ball size, so seeds are
    * LANDMARKS by contract — a handful of probe vertices, gated by
    * `maxSeeds` (loud failure; sample landmarks past it, the JS
    * pair-gate convention). Unreached pairs are simply absent (no
    * NULL padding — [[bfsHops]]' vertex frame is the contract there,
    * the reached ball is the contract here).
    *
    * Input: symmetric edges (src, dst, *), seeds (node). Returns
    * (seed, node, dist). */
  def bfsHopsPerSeed(edges: DataFrame, seeds: DataFrame, depth: Int,
      maxSeeds: Long = 64L): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val sd = seeds.select(col("node")).distinct()
    val nSeeds = sd.count()
    require(nSeeds <= maxSeeds,
      s"bfsHopsPerSeed: $nSeeds seeds exceeds maxSeeds=$maxSeeds — " +
        "landmark-BFS state is |seeds| x ball; sample landmarks instead")
    val e2 = unitAugEdges(edges)
    var st = sd.select(col("node").as("seed"), col("node"), lit(0L).as("dist"))
    for (_ <- 1 to depth) {
      st = e2.join(st.withColumnRenamed("node", "src"), "src")
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(min(col("dist") + col("delta")).as("dist"))
    }
    st
  }

  /** Bounded min-plus (Bellman–Ford) relaxation: cheapest-path cost
    * from a seed set under a per-edge long cost, `rounds` relaxation
    * rounds — [[bfsHops]] is the special case cost ≡ 1. Same
    * single-reference iterate (real edges carry `cost + edge`, the
    * zero-cost self edge carries the current label), same NULL-is-
    * unreached contract, same recursive-CTE oracle shape. After
    * `rounds` rounds the label is exact for every vertex whose
    * cheapest path uses ≤ `rounds` edges — the bounded unroll is the
    * contract.
    *
    * Overflow: costs are caller-provided non-negative longs; a path
    * sums ≤ `rounds` of them, so keep max-cost ≲ 2^62/rounds.
    *
    * Input: symmetric edges (src, dst, cost: Long), seeds (node).
    * Returns (node, cost: nullable long). */
  def minPlus(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val verts = vertsOf(edges)
    val e2 = PlanCache.checkpointed("graph-aug-cost", edges) {
      edges.select(col("src"), col("dst"), col("cost").cast("long").as("delta"))
        .union(verts.select(col("node").as("src"), col("node").as("dst"),
          lit(0L).as("delta")))
        .repartition(col("src"))
    }
    var st = verts
      .join(seeds.select(col("node")).distinct().withColumn("s", lit(true)),
        Seq("node"), "left")
      .select(col("node"),
        when(col("s"), lit(0L)).otherwise(lit(null).cast("long")).as("cost"))
    for (_ <- 1 to rounds) {
      st = e2.join(st.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(min(col("cost") + col("delta")).as("cost"))
    }
    st
  }

  /** Common-neighbor link prediction over a bipartite incidence list
    * (the "customers who bought the same parts" co-occurrence graph):
    * for every left-vertex pair sharing ≥ `minCommon` right
    * neighbors, the shared count and the Jaccard of their
    * neighborhoods in e4 fixed point. The declared `maxDf` cap is the
    * scale contract (the DfCap convention from the gram-join family):
    * a right vertex shared by d left vertices generates d·(d−1)/2
    * candidate rows, so hub neighbors — a boilerplate part every
    * customer bought — are EXCLUDED up front by the caller's cap
    * rather than discovered as a skewed-key explosion at 100 TB.
    * Everything shuffles on (v) then (a, b); degrees join back on the
    * left-vertex key; nothing is collected.
    *
    * Input: incidence (u, v) — u the scored side, v the shared-
    * neighbor side. Returns (u_a, u_b, n_common, jaccard_e4) with
    * u_a < u_b. */
  def commonNeighborPairs(inc: DataFrame, maxDf: Long, minCommon: Long): DataFrame = {
    require(maxDf >= 2 && minCommon >= 1,
      s"need maxDf>=2, minCommon>=1; got maxDf=$maxDf minCommon=$minCommon")
    // The distinct incidence list is referenced four times (df filter,
    // both self-join sides, degrees) — localCheckpoint runs the
    // scan + distinct ONCE instead of four times. The downstream
    // v-keyed exchanges remain in either variant: under AQE both a
    // checkpoint scan and a cached plan report unknown partitioning,
    // so pre-partitioning by v cannot be reused — and the measured
    // PlanCache alternative (persist + columnar decode per reference)
    // was 8× slower cold at sf0.001 (recorded in BASELINE.md). The
    // exchanges that remain move only the distinct-reduced incidence
    // list, keyed on v (bounded fan-out by the df cap) and u.
    val uv = inc.select(col("u"), col("v")).distinct().localCheckpoint()
    val kept = uv.join(
      uv.groupBy("v").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDf)
        .select("v"),
      "v")
    val pairs = kept.select(col("v"), col("u").as("u_a"))
      .join(kept.select(col("v"), col("u").as("u_b")), "v")
      .filter(col("u_a") < col("u_b"))
      .groupBy(col("u_a"), col("u_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    // Jaccard over the FULL (uncapped) neighborhoods: the cap bounds
    // candidate generation, not the similarity definition
    val deg = uv.groupBy(col("u")).agg(count(lit(1)).as("d"))
    pairs
      .join(deg.select(col("u").as("u_a"), col("d").as("da")), "u_a")
      .join(deg.select(col("u").as("u_b"), col("d").as("db")), "u_b")
      .select(col("u_a"), col("u_b"), col("n_common"),
        expr("(n_common * 10000L) div (da + db - n_common)").as("jaccard_e4"))
  }

  /** Exact triangle count by degree-ordered edge orientation (the
    * node-iterator of Schank & Wagner 2005 / the MapReduce form of
    * Suri & Vassilvitskii 2011): orient every undirected edge from
    * its lower (degree, id) endpoint to the higher, generate wedges
    * at each edge's SOURCE, and close them against the canonical edge
    * set. Orientation is what makes this scale-safe: every wedge is
    * generated at its lowest-degree vertex, so the per-vertex wedge
    * fan-out is bounded by the graph's degeneracy (≈ max out-degree
    * after orientation, √m worst case) instead of the square of a
    * hub's degree — the difference between a boilerplate-document hub
    * exploding quadratically and costing its out-degree choose 2.
    * Three shuffles total (degree agg, wedge self-join, closing
    * join), all keyed on vertex/edge ids.
    *
    * Input: undirected pairs (doc_a < doc_b). Returns one row
    * (n_edges, n_triangles). */
  def triangleCount(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v"))
    val wedges = oriented.select(col("u"), col("v").as("v1"))
      .join(oriented.select(col("u"), col("v").as("v2")), "u")
      .filter(col("v1") < col("v2"))
      .select(col("v1").as("a"), col("v2").as("b"))
    val tri = wedges.join(e, Seq("a", "b")).agg(count(lit(1)).as("n_triangles"))
    e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(tri))
  }

  /** Local clustering coefficient per vertex — [[triangleCount]]'s
    * degree-ordered wedge enumeration kept per-triangle instead of
    * folded to a scalar: each closed wedge (u, v1, v2) is one
    * triangle found exactly once (at its unique orientation apex, the
    * vertex with two out-edges in the degree-ordered DAG), so
    * exploding its three corners and counting per vertex gives the
    * exact incident-triangle count, and
    * cc = 2·tri / (d·(d−1)) follows in e4 fixed point via the shared
    * truncating division (mirrored by the oracle's id-oriented
    * enumeration — a different apex per triangle, the same one-row-
    * per-triangle multiset after the corner explode). Same
    * degeneracy-bounded wedge fan-out and the same three keyed
    * shuffles as the count, plus one corner agg; nothing is
    * collected. Vertices of degree 1 have no defined coefficient and
    * are excluded (the d·(d−1) denominator is zero).
    *
    * Input: undirected pairs (doc_a < doc_b).
    * Returns (node, degree, n_tri, cc_e4). */
  def localClustering(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        col("b")).otherwise(col("a")).as("v"))
    val wedges = oriented.select(col("u"), col("v").as("v1"))
      .join(oriented.select(col("u"), col("v").as("v2")), "u")
      .filter(col("v1") < col("v2"))
    val corners = wedges
      .join(e, wedges("v1") === e("a") && wedges("v2") === e("b"))
      .select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("degree") >= 2)
      .join(corners, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("(coalesce(n_tri, 0L) * 20000L) div (degree * (degree - 1))")
          .as("cc_e4"))
  }

  /** Newman modularity (Newman & Girvan 2004, eq. 5) of a vertex
    * partition over a SYMMETRIZED weighted edge list, per community,
    * in e6 fixed point: q_c = (intra_c·10⁶) div M −
    * ((k_c·10⁶ div M)²) div 10⁶ with M = Σw over directed edges,
    * intra_c the within-community directed weight and k_c the
    * community's total strength. Both divisions truncate on
    * non-negative longs, so an oracle replays them bit-for-bit; the
    * nested-quotient form keeps every intermediate ≤ max(k_c·10⁶,
    * 10¹²) — k_c < 9.2·10¹² before overflow, against k_c² · 10⁶
    * overflowing already at k_c ≈ 3·10⁶ in the naive form. Σ q_e6
    * over the output is the partition's Q (−0.5 ≤ Q ≤ 1).
    *
    * Shape: two vertex-keyed joins of the edge frame against the
    * community map, one community-keyed partial agg, one 1-row total
    * broadcast — no window, nothing collected.
    *
    * Input: edges (src, dst, w) symmetrized, communities
    * (node, community). Returns (community, n_nodes, intra_w, k_w,
    * q_e6). */
  def modularity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
    val mw = e.agg(sum(col("w")).as("m_w"))
    val lab = e
      .join(communities.select(col("node").as("src"), col("community").as("c_src")), "src")
      .join(communities.select(col("node").as("dst"), col("community").as("c_dst")), "dst")
    val byC = lab.groupBy(col("c_src").as("community"))
      .agg(sum(col("w")).as("k_w"),
        sum(when(col("c_src") === col("c_dst"), col("w")).otherwise(lit(0L)))
          .as("intra_w"))
    byC.join(communities.groupBy("community").agg(count(lit(1)).as("n_nodes")),
        "community")
      .crossJoin(broadcast(mw))
      .select(col("community"), col("n_nodes"), col("intra_w"), col("k_w"),
        expr("""(intra_w * 1000000L) div m_w
          - ((k_w * 1000000L) div m_w) * ((k_w * 1000000L) div m_w) div 1000000L""")
          .as("q_e6"))
  }

  /** Synchronous label-propagation communities over a weighted edge
    * list — the last graph closer: every vertex starts as its own
    * label and, each round, adopts the label with the greatest
    * incident weight among its neighbors, ties to the SMALLEST label
    * (the argmin of (−weight, label) — fully deterministic, so the
    * bounded replay is the contract exactly like the PageRank
    * iterate; LPA's usual run-to-oscillation nondeterminism is
    * designed out, not papered over).
    *
    * Scale shape per round: one edges⋈labels equi-join on src (the
    * static edge frame is repartitioned by the join key once and
    * localCheckpoint'ed, the pageRankFixed discipline) + two keyed
    * partial aggs ((dst, label) weight sums, then the per-dst
    * struct-min argmax). The bounded unroll is ONE job. */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // registry-shared, so the eager checkpoint runs once per edge frame
    val e = PlanCache.checkpointed("graph-lpa-edges", edges) {
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .repartition(col("src"))
    }
    var labels = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      labels = e.join(labels, e("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(sum(col("w")).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("m"))
        .select(col("dst").as("node"), col("m.l").as("label"))
    }
    labels.select(col("node"), col("label").as("community"))
  }
}
