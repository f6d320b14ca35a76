package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Relational graph analytics: co-occurrence edge extraction and triangle
  * counting, expressed as plain joins so Catalyst owns the distribution.
  * Complements [[Dedup.nearDupComponents]] (connected components) on the
  * graph side of the engine.
  *
  * Scale posture (100 TB): the edge list is oriented (src < dst), so each
  * undirected edge exists once and every triangle is enumerated exactly
  * once as (a<b<c) — no post-hoc dedup of 6 permutations. Triangle
  * counting is the standard two-join plan: wedges = E ⋈ E on the shared
  * middle vertex, closed by a semi-check against E. Cost is
  * Σ deg(v)² for the wedge build — the support threshold in
  * [[coOccurrenceEdges]] is the knob that keeps hub degrees (and the
  * wedge blow-up) bounded; production graphs additionally orient by
  * degree (compact-forward) which this representation permits without a
  * plan change.
  */
object Graphs {

  /** Undirected co-occurrence edges: items sharing a group, oriented
    * src < dst, keeping edges seen in at least `minSupport` groups. One
    * self-join co-partitioned on the group key + one edge rollup. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    val items = df.select(col(groupCol).as("_g"), col(itemCol).as("_i"))
      .distinct()
    val a = items.alias("a")
    val b = items.alias("b")
    a.join(b, col("a._g") === col("b._g") && col("a._i") < col("b._i"))
      .groupBy(col("a._i").as("src"), col("b._i").as("dst"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
  }

  /** PageRank over an oriented undirected edge list (src < dst), run for
    * a FIXED number of iterations so the result is a deterministic
    * function of the graph (no convergence test → no data-dependent
    * iteration count → oracle-reproducible). Vertices are the edge
    * endpoints; the graph is symmetrized internally, so out-degree =
    * degree and there are no dangling nodes by construction.
    *
    * Scale posture: each iteration is one co-partitioned join of the
    * static (degree-annotated, cached) adjacency list with the current
    * rank frame on the vertex key + one hash agg on the destination —
    * the standard relational PageRank step. The adjacency is hash-
    * partitioned once and reused every iteration; ranks are tiny
    * (1 row/vertex). Lineage is truncated with an eager
    * `localCheckpoint` every `checkpointEvery` iterations (same policy
    * as [[Dedup.nearDupComponents]]): without it each round nests the
    * whole prior plan, and a 30+-iteration run pays quadratic
    * re-analysis time and risks planner stack overflow. At the default
    * cadence a 3-iteration run (q103) never checkpoints — its plan and
    * timing are unchanged.
    *
    * Rank is rounded to 9 only at the end; cross-engine float-sum
    * reorder noise is ~1e-16 per iteration and propagates linearly, far
    * below the rounding grain. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    // the symmetrized edge list is the fan-in point: deg, the adjacency,
    // N, and the initial ranks all derive from it — cache it so the
    // (possibly expensive) upstream edge build runs ONCE, not once per
    // consuming subtree (caller-visible lifecycle: harness clearCache,
    // same convention as the LSH caches)
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // static per-iteration join input: (src, dst, deg(src))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").cache()
    val n = deg.agg(count(lit(1)).cast("double").as("n"))
    var ranks = deg.crossJoin(broadcast(n))
      .select(col("src").as("vertex"), (lit(1.0) / col("n")).as("pr"))
    for (i <- 1 to iters) {
      ranks = adj
        .join(ranks, adj("src") === ranks("vertex"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("_in"))
        .crossJoin(broadcast(n))
        .select(col("dst").as("vertex"),
          (lit(1.0 - damping) / col("n") + lit(damping) * col("_in")).as("pr"))
      // truncate lineage: materialize the tiny rank frame and restart
      // the plan from its blocks (eager, replication-backed — no HDFS
      // dir needed). Skipped on the final iteration: the caller's
      // terminal select is about to execute the plan anyway.
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("vertex"), round(col("pr"), 9).as("pagerank"))
  }

  /** PageRank CONVERGENCE audit: the per-iteration L1 movement
    * Σ_v |pr_t(v) − pr_{t−1}(v)| of [[pageRank]]'s trajectory — the
    * diagnostic that says how many iterations the graph actually
    * needs before the ranking stabilizes (budgeting iterations blind
    * is the usual PageRank cost sin at scale). Same iteration body as
    * [[pageRank]]; each delta joins two consecutive |V|-row rank
    * frames on the 9-dp pr grid (the q103 comparison grid), so the
    * audit is deterministic wherever q103 itself is. Returns `iters`
    * rows: (iter, l1_delta_r). */
  def pageRankConvergence(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").cache()
    // the vertex count is ONE bounded scalar — collect it once instead
    // of re-broadcasting a 1-row aggregate subtree inside every
    // iteration's checkpoint job (iters fewer broadcast builds; the
    // driver-local divisions are the identical IEEE ops the per-row
    // expressions evaluated)
    val nV = deg.agg(count(lit(1)).cast("double")).first().getDouble(0)
    var ranks = deg
      .select(col("src").as("vertex"), lit(1.0 / nV).as("pr"))
      .localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to iters) {
      val next = adj
        .join(ranks, adj("src") === ranks("vertex"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("_in"))
        .select(col("dst").as("vertex"),
          (lit((1.0 - damping) / nV) + lit(damping) * col("_in"))
            .as("pr"))
        .localCheckpoint()
      // the per-iteration L1 row reads two CHECKPOINTED rank frames, so
      // it needs no checkpoint of its own: the final union executes all
      // `iters` tiny joins in one job instead of one eager job each
      out += next.select(col("vertex"), round(col("pr"), 9).as("_p1"))
        .join(ranks.select(col("vertex"), round(col("pr"), 9).as("_p0")),
          Seq("vertex"))
        .agg(sum(t12(abs(col("_p1") - col("_p0")))).cast("double")
          .as("_d"))
        .select(lit(i).as("iter"), round(col("_d"), 9).as("l1_delta_r"))
      ranks = next
    }
    out.reduce(_ unionByName _)
  }

  /** Association rules (market-basket mining) over (group, item) pairs:
    * for every co-occurring item pair with support ≥ `minSupport`, both
    * directed rules a→b with confidence = supp(a,b)/supp(a) and
    * lift = N·supp(a,b)/(supp(a)·supp(b)). The pair join is the same
    * grouped self-join as [[coOccurrenceEdges]] (quadratic only within
    * a group); supports are two hash-aggs; the rule table is tiny after
    * the support threshold, so the final top-k is a TakeOrdered. */
  def associationRules(df: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long, topK: Int): DataFrame = {
    val items = df.select(col(groupCol).as("_g"), col(itemCol).as("_i"))
      .distinct()
    val n = items.agg(countDistinct(col("_g")).cast("double").as("_n"))
    val supp = items.groupBy(col("_i")).agg(count(lit(1)).as("_s"))
    val pairs = coOccurrenceEdges(df, groupCol, itemCol, minSupport)
    val rules = pairs
      .select(col("src").as("antecedent"), col("dst").as("consequent"),
        col("support").as("pair_support"))
      .union(pairs.select(col("dst"), col("src"), col("support")))
    rules
      .join(supp.select(col("_i").as("antecedent"), col("_s").as("_sa")),
        "antecedent")
      .join(supp.select(col("_i").as("consequent"), col("_s").as("_sc")),
        "consequent")
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("pair_support"),
        round(col("pair_support") / col("_sa"), 6).as("confidence_r"),
        round(col("_n") * col("pair_support") / (col("_sa") * col("_sc")),
          6).as("lift_r"))
      .orderBy(col("lift_r").desc, col("antecedent"), col("consequent"))
      .limit(topK)
  }

  /** Synchronous label propagation (community detection) over an
    * oriented undirected edge list (src < dst), run for a FIXED number
    * of iterations (same determinism contract as [[pageRank]]): every
    * vertex starts labeled with its own id, and each round adopts the
    * MODE of its neighbors' labels (ties → smallest label, so the
    * update is a pure function of the graph). Densely connected groups
    * converge onto one label — the cheap first-cut community structure
    * a curation pipeline uses to diversify or cap correlated sources.
    *
    * Scale shape per iteration: one co-partitioned join of the cached
    * symmetrized adjacency with the current (vertex, label) frame, one
    * (dst, label) count agg, one WindowGroupLimit argmax — all keyed on
    * the vertex, nothing quadratic. Labels are 1 row/vertex; lineage is
    * truncated every `checkpointEvery` iterations exactly as in
    * [[pageRank]]. */
  def labelPropagation(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    var labels = sym.select(col("src").as("vertex")).distinct()
      .select(col("vertex"), col("vertex").as("label"))
    for (i <- 1 to iters) {
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("_c").desc, col("label").asc)
      labels = sym
        .join(labels, sym("src") === labels("vertex"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("dst").as("vertex"), col("label"))
      if (i % checkpointEvery == 0 && i < iters)
        labels = labels.localCheckpoint()
    }
    labels
  }

  /** Bounded k-hop reachability (multi-source BFS) over an oriented
    * undirected edge list: for every vertex, the number of vertices
    * within ≤ k hops, self included — the neighborhood-size feature a
    * graph-aware curation pass uses (e.g. cap documents whose citation
    * ball explodes, or weight by local density).
    *
    * Frontier-as-relation BFS: the reach set is a (origin, v) pair
    * frame; each round joins ONLY the newest shell (pairs first seen
    * last round) with the cached symmetrized adjacency, then an
    * anti-join against the ball keeps the genuinely new pairs — the
    * textbook frontier optimization. Joining the whole ball instead
    * (the first cut) re-expands every interior vertex every round:
    * on the dense co-occurrence graph the round-3 input drops from
    * |2-ball| to |2-shell| pairs (measured 10.4 s → see BASELINE.md).
    * Monotone and disjoint by construction, so k rounds give exactly
    * the ≤k-hop closure — the oracle unrolls the same closure as
    * DISTINCT-union CTEs. The small shell is localCheckpoint'd every
    * round; the ball every `checkpointEvery` rounds as in [[pageRank]].
    *
    * Scale shape: the pair frame is Σ_v |ball_k(v)| rows — linear in
    * vertices for bounded-degree graphs at small k, but QUADRATIC on a
    * small-world graph whose k-ball reaches everything. k is a cost
    * knob, not a convenience: keep it ≤ the graph's mixing depth, and
    * keep hub degrees bounded upstream (the [[coOccurrenceEdges]]
    * support threshold — same valve the triangle plan relies on). */
  def kHopReach(edges: DataFrame, k: Int,
      checkpointEvery: Int = 5): DataFrame = {
    require(k >= 0, "k must be >= 0")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    var reach = sym.select(col("src").as("origin")).distinct()
      .select(col("origin"), col("origin").as("v"))
    var frontier = reach
    for (i <- 1 to k) {
      val expanded = frontier
        .join(sym, frontier("v") === sym("src"))
        .select(col("origin"), col("dst").as("v"))
        .distinct()
      // the new shell: expansion minus everything already reached —
      // disjoint from reach, so the union below needs no re-distinct.
      // The shell is consumed three times (union, next join, next
      // anti-join): cache, don't eagerly checkpoint — at small k the
      // bounded lineage is cheaper than a per-round materialization
      // barrier, and the reach checkpoint below still truncates it.
      frontier = expanded.join(reach, Seq("origin", "v"), "left_anti")
        .cache()
      reach = reach.union(frontier)
      if (i % checkpointEvery == 0 && i < k)
        reach = reach.localCheckpoint()
    }
    reach.groupBy(col("origin").as("vertex"))
      .agg(count(lit(1)).as("n_reach"))
  }

  /** Per-vertex triangle counts over an oriented edge list (src < dst).
    * Returns (vertex, n_triangles) for vertices in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("b2"), col("dst").as("c"))
    val e3 = edges.select(col("src").as("a3"), col("dst").as("c3"))
    // wedges a<b<c with edges (a,b),(b,c); closed iff (a,c) is an edge
    val triangles = e1
      .join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"), "left_semi")
      .select(col("a"), col("b"), col("c"))
    triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Degree histogram + degree assortativity of an oriented undirected
    * edge list: the two numbers that summarize a graph's shape before
    * any iterative algorithm is budgeted — a heavy-tailed histogram
    * says "expect hot vertices in every join", and assortativity's sign
    * says whether hubs interconnect (r > 0: the hot keys CONCENTRATE —
    * salt them) or fan out to leaves (r < 0).
    *
    * r is the Pearson correlation of (deg u, deg v) over the
    * symmetrized edge list; by symmetry Σx = Σy and Σx² = Σy², so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — every moment an exact
    * integer from one agg over the degree-annotated edges, the ratio
    * one shared parenthesization. Shape: two joins of the edge list
    * against the |V|-row degree frame (the same co-partitioned pattern
    * as pageRank's adjacency annotation), one moment agg, and the
    * |distinct degrees|-row histogram with the scalar broadcast back. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg")).cache()
    val hist = deg.groupBy(col("deg").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val pairs = sym
      .join(deg.select(col("src").as("_u"), col("deg").as("_du")),
        col("src") === col("_u"))
      .join(deg.select(col("src").as("_v"), col("deg").as("_dv")),
        col("dst") === col("_v"))
    val m = pairs.agg(count(lit(1)).cast("double").as("_m"),
      sum(col("_du")).cast("double").as("_sx"),
      sum(col("_du") * col("_dv")).cast("double").as("_sxy"),
      sum(col("_du") * col("_du")).cast("double").as("_sxx"))
    hist.crossJoin(broadcast(m))
      .select(col("degree"), col("n_nodes"),
        when(col("_m") * col("_sxx") - col("_sx") * col("_sx") > 0,
          round((col("_m") * col("_sxy") - col("_sx") * col("_sx"))
            / (col("_m") * col("_sxx") - col("_sx") * col("_sx")), 6))
          .as("assort_r"))
  }

  /** Local clustering coefficient per vertex,
    * C(v) = 2·T(v) / (deg(v)·(deg(v)−1)), plus the graph-level
    * transitivity 3T/W and the average clustering — the "is this graph
    * clique-y or tree-y" diagnostic that decides whether
    * triangle-heavy ops (community detection, dedup components) will
    * produce few large blocks or many small ones.
    *
    * Exactness: T(v) and deg(v) are integers ([[triangleCounts]] +
    * one degree agg), each C(v) is one double division rounded to 6,
    * the average sums those ROUNDED values as DECIMAL(18,6)
    * (order-independent), and transitivity is ΣT(v)/W with
    * W = Σ deg·(deg−1)/2 in integer arithmetic (each triangle appears
    * 3× in ΣT(v), cancelling 3T/W's factor). Shape: the wedge join is
    * the only superlinear step and is bounded by the edge support
    * threshold upstream; everything else is |V|-row frames. */
  def localClustering(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("deg"))
    val base = deg
      .join(triangleCounts(edges), Seq("vertex"), "left")
      .withColumn("n_tri", coalesce(col("n_triangles"), lit(0L)))
      .drop("n_triangles")
      .withColumn("c_r",
        when(col("deg") >= 2, round(lit(2.0) * col("n_tri")
          / (col("deg") * (col("deg") - 1)), 6)))
    val g = base.agg(
      sum(col("n_tri")).as("_t3"),
      sum(expr("(deg * (deg - 1)) div 2")).as("_w"),
      sum(col("c_r").cast("decimal(18,6)")).cast("double").as("_cs"),
      sum(when(col("c_r").isNotNull, 1L).otherwise(0L)).as("_cn"))
    base.crossJoin(broadcast(g))
      .select(col("vertex"), col("deg"), col("n_tri"), col("c_r"),
        when(col("_w") > 0, round(col("_t3") / col("_w"), 6))
          .as("transitivity_r"),
        when(col("_cn") > 0, round(col("_cs") / col("_cn"), 6))
          .as("avg_clustering_r"))
  }

  /** HITS hubs & authorities (Kleinberg '99) over a DIRECTED edge list,
    * run a fixed number of UNNORMALIZED iterations with exact integer
    * arithmetic (DECIMAL(38,0) sums), normalizing by the maximum only
    * once at the end: per-iteration normalization is the textbook
    * presentation but turns every score into an order-sensitive float
    * sum; deferring it keeps all intermediate scores exact integers —
    * the result is the SAME ranking (normalization is a per-iteration
    * scalar) and bit-identical across engines. Magnitudes grow like
    * (σ_max)^iters, which DECIMAL(38,0) absorbs for the small iteration
    * counts fixed-point HITS uses; at extreme scale, normalize every
    * few iterations and accept the documented float-drift-below-
    * rounding-grain argument pageRank makes.
    *
    * Shape: each half-step is one co-partitioned join of the static
    * cached edge list with the |V|-row score frame + one hash agg —
    * identical posture to [[pageRank]]. */
  def hits(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(checkpointEvery >= 1)
    val e = edges.select(col("src"), col("dst")).distinct().cache()
    // r15: the a-step joins on src (exchange-free off the bucketed
    // layout), but every h-step re-exchanged the FULL edge list by dst
    // — iters times. One dst-partitioned cached copy pays that exchange
    // once; each later h-step joins exchange-free on the edge side
    // (guide §2.1 — an exchange whose input never changes belongs
    // outside the loop). Values unchanged: repartition moves rows only.
    val eDst = e.repartition(col("dst")).cache()
    // h₀ ≡ 1 for EVERY src of e, so iteration 1's join of e against h₀
    // is an identity on e and a₁ = Σ_src 1 = count per dst — the first
    // half-step needs no join and no distinct-src frame (r15: one
    // join + one exchange fewer; values unchanged — sum of ones IS the
    // count, kept in the same DECIMAL(38,0) accumulator type)
    var a = eDst.groupBy(col("dst"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("s"))
      .select(col("dst").as("v"), col("s"))
    var h = eDst.join(a, eDst("dst") === a("v"))
      .groupBy(col("src")).agg(sum(col("s")).as("s"))
      .select(col("src").as("v"), col("s"))
    for (i <- 2 to iters) {
      a = e.join(h, e("src") === h("v"))
        .groupBy(col("dst")).agg(sum(col("s")).as("s"))
        .select(col("dst").as("v"), col("s"))
      h = eDst.join(a, eDst("dst") === a("v"))
        .groupBy(col("src")).agg(sum(col("s")).as("s"))
        .select(col("src").as("v"), col("s"))
      if (i % checkpointEvery == 0 && i < iters) {
        a = a.localCheckpoint(); h = h.localCheckpoint()
      }
    }
    // each final frame is consumed twice (its max + the output row set)
    // and they share the same join-chain lineage — cache both so the
    // chain executes once per side, not once per consumer
    def normalized(df: DataFrame, side: String) = {
      val scored = df.cache()
      val mx = scored.agg(max(col("s")).as("_m"))
      scored.crossJoin(broadcast(mx))
        .select(lit(side).as("side"), col("v"),
          round(col("s").cast("double") / col("_m").cast("double"), 6)
            .as("score_r"))
    }
    normalized(a, "auth").unionByName(normalized(h, "hub"))
  }

  /** k-core decomposition by FIXED-ROUND peeling: repeatedly drop
    * vertices whose degree in the surviving subgraph is < k; what
    * remains after enough rounds is the k-core — the standard "dense
    * part" extraction that bounds triangle/clique work and identifies
    * the hub region a sampling or salting strategy must treat
    * specially. The round count is FIXED (not run-to-fixpoint) so the
    * result is a deterministic function of (graph, k, rounds) and the
    * oracle can unroll the same rounds; if `rounds` ≥ the peel depth
    * the output IS the exact k-core (the spec asserts fixpoint on the
    * test graphs by checking rounds and rounds+1 agree).
    *
    * Shape per round: one |live-edges| hash-agg for degrees + two
    * semi-joins of the edge list against the ≤|V|-row surviving-vertex
    * frame, all co-partitioned on the vertex key — the exact posture of
    * [[pageRank]]'s iteration step. The live edge list only shrinks, so
    * each round costs less than the last; lineage is truncated with the
    * same `localCheckpoint` policy as the other loops. Returns
    * (vertex, core_deg) for survivors, core_deg their degree inside the
    * core. */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int = 1): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "need at least one peel round")
    require(checkpointEvery >= 1)
    var live = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .cache()
    for (i <- 1 to rounds) {
      val keep = live.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
        .where(col("_deg") >= k)
        .select(col("src").as("_v"))
      live = live
        .join(keep, live("src") === keep("_v"), "left_semi")
        .join(keep, live("dst") === keep("_v"), "left_semi")
      // EVERY round by default: `keep` is referenced twice per round
      // (both semi-joins), so an untruncated lineage re-executes all
      // prior rounds a multiplicative number of times — measured 16.2 s
      // → ~3 s at sf0.1 for the 4-round 3-core once each round's
      // (shrinking) live set is materialized. The live frame is edge-
      // bounded, so the per-round materialization is the cheap side of
      // the trade at any scale.
      if (i % checkpointEvery == 0 && i < rounds)
        live = live.localCheckpoint()
    }
    live.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("core_deg"))
      .where(col("core_deg") >= k)
  }

  /** Adamic–Adar link prediction over an oriented undirected edge list:
    * for every NON-adjacent pair (u, v) sharing ≥ `minCommon` neighbors,
    * the common-neighbor count and the Adamic–Adar score
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — the classic "which edges are
    * missing" signal (friend suggestion, related-item backfill, graph
    * densification QA). Any shared neighbor w has u and v as neighbors,
    * so deg(w) ≥ 2 and ln(deg w) > 0 — no division guard needed.
    *
    * Shape: the wedge self-join of the symmetrized edge list on the
    * MIDDLE vertex (a.dst < b.dst orients each candidate pair once) —
    * the same Σ deg(w)² cost envelope as [[triangleCounts]], bounded by
    * the upstream support threshold — then one broadcast-size join to
    * annotate deg(w), a left-anti against the existing edges, and one
    * hash-agg on the candidate pair. Cross-engine float determinism:
    * each 1/ln(deg) term is rounded to 9 dp and summed as
    * DECIMAL(18,9) — order-independent by construction — with one final
    * 6-dp rounding. */
  def adamicAdar(edges: DataFrame, minCommon: Long): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    val deg = sym.groupBy(col("src").as("_w"))
      .agg(count(lit(1)).as("_deg"))
    // wedges centered on w: (w,u) x (w,v) with u < v
    val a = sym.select(col("src").as("_w"), col("dst").as("u"))
    val b = sym.select(col("src").as("_wb"), col("dst").as("v"))
    val wedges = a.join(b, col("_w") === col("_wb") && col("u") < col("v"))
      .join(deg, "_w")
      .select(col("u"), col("v"),
        round(lit(1.0) / log(col("_deg").cast("double")), 9)
          .cast("decimal(18,9)").as("_aa"))
    // anti-join against the SYMMETRIZED list: wedge pairs are emitted
    // u < v, so an edge stored in either orientation must suppress them
    // — anti-joining only the stored orientation would let a (b,a)-
    // stored edge's pair (a,b) leak through as a predicted link.
    wedges
      .join(sym.select(col("src").as("u"), col("dst").as("v")),
        Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("_aa")).cast("double"), 6).as("aa_score_r"))
      .where(col("common_neighbors") >= minCommon)
  }

  /** Newman modularity of a community assignment:
    * Q = Σ_c (e_c/m − (d_c/2m)²) over an ORIENTED undirected edge list
    * (each edge once) — the standard "are these communities denser
    * than chance" score that turns [[labelPropagation]]'s labels into
    * a quality number (Newman & Girvan '04). Emits one row per
    * community (size, intra-edges, degree mass, 6-dp contribution)
    * plus the global Q as an order-independent 12-dp DECIMAL sum.
    *
    * Shape: two broadcast-size joins of the edge list against the
    * |V|-row assignment, one hash-agg to the |communities| grain,
    * exact integer counts throughout; the Q reduction runs on the tiny
    * community frame. */
  def modularity(edges: DataFrame,
      communities: DataFrame): DataFrame = {
    val asg = communities.select(col("vertex"), col("label"))
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("_deg"))
    val dMass = deg.join(asg, "vertex")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("_deg")).as("d_c"))
    val intra = edges
      .join(asg.select(col("vertex").as("src"),
        col("label").as("_la")), "src")
      .join(asg.select(col("vertex").as("dst"),
        col("label").as("_lb")), "dst")
      .where(col("_la") === col("_lb"))
      .groupBy(col("_la").as("label"))
      .agg(count(lit(1)).as("e_c"))
    val m = edges.agg(count(lit(1)).as("_m"))
    // localCheckpoint: two consumers (the global-Q agg and the output
    // projection); |communities| is GRAPH-shaped, not spec-shaped —
    // label propagation can emit O(V) communities, so the global sum
    // must be a distributed agg re-entering by broadcast, never an
    // unpartitioned window funneling the community table into one task
    val perC = dMass.join(intra, Seq("label"), "left")
      .withColumn("e_c", coalesce(col("e_c"), lit(0L)))
      .crossJoin(broadcast(m))
      .localCheckpoint()
    val contrib = col("e_c").cast("double") / col("_m") -
      (col("d_c").cast("double") / (lit(2.0) * col("_m"))) *
        (col("d_c").cast("double") / (lit(2.0) * col("_m")))
    val q = perC.agg(sum(t12(contrib))
      .as("_q"))
    perC.crossJoin(broadcast(q))
      .select(col("label"), col("n_vertices"), col("e_c"), col("d_c"),
        round(contrib, 6).as("contrib_r"),
        round(col("_q").cast("double"), 6).as("modularity_r"))
  }

  /** Item–item cosine similarity from (group, item) co-occurrence —
    * the classic collaborative-filtering item similarity (Sarwar et
    * al., WWW'01, binarized): sim(i, j) = co(i,j) / (√deg(i)·√deg(j)),
    * where deg counts the groups containing the item and co the groups
    * containing both. Normalization is what [[coOccurrenceEdges]]'
    * raw support lacks: it stops ubiquitous items from dominating
    * every pair. Pairs oriented src < dst, support-thresholded.
    *
    * Shape: the pair join is [[coOccurrenceEdges]]' within-group
    * self-join (quadratic only inside a group, bounded by the support
    * valve); degrees are one hash-agg broadcast onto the thresholded
    * pair table. Cosine divides exact integers in one shared
    * parenthesization, 6-dp rounded. */
  def itemCosine(df: DataFrame, groupCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    val items = df.select(col(groupCol).as("_g"), col(itemCol).as("_i"))
      .distinct()
    val deg = items.groupBy(col("_i")).agg(count(lit(1)).as("_deg"))
    coOccurrenceEdges(df, groupCol, itemCol, minSupport)
      .join(broadcast(deg.select(col("_i").as("src"),
        col("_deg").as("_da"))), "src")
      .join(broadcast(deg.select(col("_i").as("dst"),
        col("_deg").as("_db"))), "dst")
      .select(col("src"), col("dst"), col("support"),
        round(col("support").cast("double") /
          nullif(sqrt(col("_da").cast("double"))
            * sqrt(col("_db").cast("double")), lit(0.0)), 6)
          .as("cos_r"))
  }

  /** Personalized PageRank from a seed set (random walk with restart —
    * Haveliwala, WWW'02): r₀ = uniform over seeds, then
    * r_{k+1}(v) = (1−d)·restart(v) + d·Σ_{u→v} r_k(u)/deg(u),
    * where restart mass goes ONLY to seeds. The "expand from these
    * known-good/known-bad items" primitive: seed-biased relevance for
    * related-item retrieval, label propagation from a trusted set, or
    * spam-neighborhood scoring — where global [[pageRank]] answers
    * importance, PPR answers importance RELATIVE TO the seeds.
    *
    * Scale posture: identical per-iteration shape to [[pageRank]] (one
    * equi-join rank×adjacency + a hash-agg on dst), but the rank
    * frontier stays SPARSE — only vertices reached within k hops of
    * the seeds carry rows, so early iterations touch a fraction of the
    * graph rather than all of it; unreached vertices are implicitly 0
    * and appear in no shuffle. `seeds` must be a (vertex) frame small
    * enough to broadcast (it seeds a restart VECTOR — thousands, not
    * corpus-scale); its count is read once up front to set the uniform
    * restart mass. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 10): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg, "src").cache()
    val nSeeds = seeds.count()
    require(nSeeds >= 1, "need at least one seed")
    val restart = seeds.select(col(seeds.columns.head).as("vertex"))
      .distinct()
      .withColumn("_restart", lit(1.0 / nSeeds)).cache()
    var ranks = restart.select(col("vertex"), col("_restart").as("pr"))
    for (i <- 1 to iters) {
      val in = adj
        .join(ranks, adj("src") === ranks("vertex"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("_in"))
        .select(col("dst").as("vertex"), col("_in"))
      ranks = in.join(broadcast(restart), Seq("vertex"), "full_outer")
        .select(col("vertex"),
          (lit(1.0 - damping) * coalesce(col("_restart"), lit(0.0))
            + lit(damping) * coalesce(col("_in"), lit(0.0))).as("pr"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("vertex"), round(col("pr"), 9).as("ppr"))
  }

  /** Landmark harmonic centrality (Eppstein & Wang SODA '01 sampling
    * form of closeness; harmonic per Boldi & Vigna "Axioms for
    * centrality" 2014 — the variant that handles disconnection without
    * infinite distances): BFS from a DETERMINISTIC set of `landmarks`
    * seed vertices (the s smallest md5-hash60 vertex ids — reproducible
    * across engines/retries, no RNG), distances capped at `maxHops`,
    * then per vertex H(v) = Σ_{l reached, d>0} 1/d(l,v) with each term
    * 9-dp-rounded and DECIMAL-summed so the float total is
    * order-independent.
    *
    * This is the 100 TB form of closeness: exact all-pairs BFS is
    * O(V·E) and dead on arrival, but s landmark BFS runs are s frontier
    * propagations — each round one co-partitioned join of the frontier
    * with the cached adjacency plus an anti-join against the reached
    * set (the [[kHopReach]] shell optimization with a distance label).
    * State is (landmark, vertex, d) for REACHED pairs only: s·|ball|
    * rows, linear in vertices for bounded-degree graphs at small
    * maxHops. Per-round localCheckpoint truncates lineage (the q224
    * k-core lesson). */
  def landmarkHarmonic(edges: DataFrame, landmarks: Int, maxHops: Int,
      checkpointEvery: Int = 5): DataFrame =
    landmarkDistances(edges, landmarks, maxHops, checkpointEvery)
      .where(col("d") > 0)
      .groupBy(col("v").as("vertex"))
      .agg(count(lit(1)).as("n_landmarks"),
        round(sum(round(lit(1.0) / col("d"), 9).cast("decimal(18,9)"))
          .cast("double"), 6).as("harmonic_r"))

  /** The shared landmark-BFS core of [[landmarkHarmonic]] and the
    * distance-distribution audit (q283): exact shortest distances
    * (l, v, d ≤ maxHops) from the deterministic seed set to every
    * reached vertex. The (landmark, vertex) distance SAMPLE is the
    * scalable estimator of the pairwise-distance distribution /
    * effective diameter (the HyperANF readout, Boldi-Rosa-Vigna WWW'11
    * — here by explicit landmark BFS instead of HLL counters, trading
    * a factor s in work for exact per-pair distances). */
  def landmarkDistances(edges: DataFrame, landmarks: Int, maxHops: Int,
      checkpointEvery: Int = 5): DataFrame = {
    require(landmarks >= 1, "landmarks must be >= 1")
    require(maxHops >= 1, "maxHops must be >= 1")
    // r15: the BFS expand joins on sym.src EVERY hop — partition the
    // static symmetric edge list by src once (guide §2.1: a loop-
    // invariant exchange belongs outside the loop); each hop then
    // exchanges only the (landmark, vertex) frontier. Values unchanged:
    // repartition moves rows only.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .cache()
    // deterministic seed set: s smallest (hash60(v), v) — an unbiased
    // uniform draw that every engine reproduces; TakeOrdered, no sort
    val seeds = sym.select(col("src").as("l")).distinct()
      .orderBy(TextOps.hash60(col("l").cast("string")), col("l"))
      .limit(landmarks)
    var reach = seeds.select(col("l"), col("l").as("v"),
      lit(0).as("d")).cache()
    var frontier = reach
    for (i <- 1 to maxHops) {
      val expanded = frontier
        .join(sym, frontier("v") === sym("src"))
        .select(col("l"), col("dst").as("v"))
        .distinct()
      // new shell = expansion minus already-reached: BFS monotonicity
      // makes `i` the exact shortest distance for every shell member
      frontier = expanded.join(reach, Seq("l", "v"), "left_anti")
        .select(col("l"), col("v"), lit(i).as("d"))
        .cache()
      reach = reach.union(frontier)
      if (i % checkpointEvery == 0 && i < maxHops)
        reach = reach.localCheckpoint()
    }
    reach
  }

  /** Per-edge triangle support over an oriented (src < dst) edge list:
    * each triangle a<b<c (one oriented wedge join + a closure semi
    * join — the [[triangleCounts]] enumeration) credits its three
    * edges once. Edges in no triangle get no row. */
  private def trussSupport(live: DataFrame): DataFrame = {
    val e1 = live.select(col("src").as("a"), col("dst").as("b"))
    val e2 = live.select(col("src").as("b"), col("dst").as("c"))
    val tri = e1.join(e2, Seq("b"))
      .join(live.select(col("src").as("a"), col("dst").as("c")),
        Seq("a", "c"), "left_semi")
    tri.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(tri.select(col("b").as("src"), col("c").as("dst")))
      .unionAll(tri.select(col("a").as("src"), col("c").as("dst")))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("support"))
  }

  /** k-truss (Cohen 2008): the maximal subgraph where every edge sits
    * in ≥ k−2 triangles OF THE SUBGRAPH — the edge-grained cohesion
    * notion between a triangle count (one-shot) and a clique
    * (intractable); [[kCore]]'s vertex-peel with triangles as the
    * survival currency. Peeling an edge can strip its neighbors'
    * support, so the op iterates: recount support, drop light edges,
    * repeat — run for a FIXED `rounds` (the kCore determinism
    * contract; a spec asserts the registered round count reaches the
    * fixpoint on the real fixture). Returns the surviving edges with
    * their final in-truss support.
    *
    * Shape: each round is one oriented wedge join + closure semi join
    * + hash-agg on the (shrinking) live set; live is localCheckpointed
    * per round (the kCore multi-consumer lesson — it feeds the wedge
    * join THREE times, and an untruncated lineage re-executes all
    * prior rounds multiplicatively). Rounds needed = the peel-cascade
    * depth, a graph property independent of data volume. */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, "truss is defined for k >= 3")
    require(rounds >= 1, "need at least one peel round")
    var live = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // r15: trussSupport emits one row per DISTINCT live edge (its
      // final rollup groups by (src, dst), same orientation as live),
      // so for k ≥ 3 the support-filtered rows ARE the next live set —
      // the former live⋉keep semi-join was an identity (guide §2.1:
      // one exchanged join of the edge set per round, removed).
      live = trussSupport(live)
        .where(col("support") >= k - 2)
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    // LEFT join: at a fixpoint every survivor has support ≥ k−2 ≥ 1,
    // but a mid-cascade snapshot (rounds below the peel depth) can
    // hold edges whose last triangle just dissolved — report them
    // with support 0 rather than silently dropping them
    live.join(trussSupport(live), Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Rich-club coefficient at each degree threshold k: φ(k) =
    * 2·E_{>k} / (N_{>k}·(N_{>k}−1)) where N_{>k} counts vertices of
    * degree > k and E_{>k} the edges BETWEEN them (Zhou & Mondragón
    * 2004) — φ(k) → 1 means the hubs form a near-clique (one
    * congestion core every hub-routed workload funnels through),
    * φ(k) ≈ density means hubs connect mostly outward. The structural
    * sibling of [[degreeAssortativity]]: r says whether hubs PREFER
    * hubs, φ(k) says how much of the hub-hub capacity actually exists.
    *
    * Shape: degrees from one hash-agg of the symmetrized edges; each
    * edge is annotated with min(deg_src, deg_dst) by two broadcast-
    * class joins against the degree table; then BOTH sides collapse to
    * bounded histograms (nodes by degree, edges by min-degree) and
    * every threshold is answered from the histogram × |ks| spec cross
    * join — per-k work never rescans edges, so the k-sweep is free at
    * any graph size. Returns per k: k, n_nodes, n_edges, phi_r
    * (null when N_{>k} < 2). */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "need at least one threshold")
    val s = edges.sparkSession
    import s.implicits._
    // distinct first (the kCore/kTruss convention): duplicate edge rows
    // would inflate every degree and edge histogram
    val uniq = edges.select(col("src"), col("dst")).distinct()
    val sym = uniq.unionByName(uniq.select(col("dst").as("src"),
      col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("_v"))
      .agg(count(lit(1)).as("_deg"))
    val e = uniq
      .join(deg.select(col("_v").as("src"), col("_deg").as("_du")),
        Seq("src"))
      .join(deg.select(col("_v").as("dst"), col("_deg").as("_dv")),
        Seq("dst"))
      .select(least(col("_du"), col("_dv")).as("_mindeg"))
    val nodeHist = deg.groupBy(col("_deg")).agg(count(lit(1)).as("_nv"))
    val edgeHist = e.groupBy(col("_mindeg")).agg(count(lit(1)).as("_ne"))
    val spec = ks.toDF("k")
    val nGt = broadcast(spec).crossJoin(nodeHist).groupBy(col("k"))
      .agg(sum(when(col("_deg") > col("k"), col("_nv"))
        .otherwise(0L)).as("n_nodes"))
    val eGt = broadcast(spec).crossJoin(edgeHist).groupBy(col("k"))
      .agg(sum(when(col("_mindeg") > col("k"), col("_ne"))
        .otherwise(0L)).as("n_edges"))
    nGt.join(eGt, Seq("k"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        round(when(col("n_nodes") >= 2,
          lit(2.0) * col("n_edges").cast("double")
            / (col("n_nodes").cast("double")
              * (col("n_nodes").cast("double") - 1))), 6).as("phi_r"))
  }

  /** Persist an oriented edge list as a BUCKETED (by `src`), SORTED
    * (src, dst) parquet table and return it — the layout every graph
    * query in this engine wants at 100 TB: a dozen queries (triangles,
    * k-truss, rich-club, assortativity, k-core) pay the same
    * co-occurrence edge BUILD per run, but a production graph is built
    * once and re-read; bucketing makes every src-keyed self-join and
    * degree agg exchange-free on the edge side (PlanSpec pins the
    * zero-Exchange bucketed join).
    *
    * Build-if-absent per catalog: the table name should encode its
    * source (the caller derives it from the sf dir), so different
    * scales never alias. The in-memory catalog forgets tables across
    * JVMs while the warehouse directory persists — a stale directory
    * with no catalog entry is removed and rebuilt (deterministic
    * rebuild beats silently reading an unregistered path, which would
    * drop the bucketing metadata and with it the exchange-free plan).
    * `repartition(buckets, src)` before the write gives ONE file per
    * bucket, the layout Spark's SMJ needs to also elide the per-bucket
    * Sort. */
  def bucketedEdgeTable(spark: org.apache.spark.sql.SparkSession,
      edges: DataFrame, table: String, buckets: Int = 8,
      freshSince: Long = 0L): DataFrame =
    bucketedLayout(spark, edges, table, buckets, "src",
      Seq("src", "dst"), freshSince)

  /** Generic build-if-absent persisted bucketed+sorted table (the
    * [[bucketedEdgeTable]] mechanics, parameterized on key/sort
    * columns so the MinHash-signature and shingle layouts can reuse
    * it). LOCAL-FILESYSTEM-ONLY staleness/orphan handling: the manual
    * rebuild path (stale-directory delete + orphaned-directory sweep)
    * only runs when the warehouse URI is schemeless or `file:` — for
    * any other scheme (hdfs/s3a/...) the table is managed purely
    * through the catalog (`DROP TABLE` lets the filesystem connector
    * remove data), never by a raw path delete that could hit a
    * directory this session does not own. At production the staleness
    * key should be a content fingerprint, not mtime (documented). */
  def bucketedLayout(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, table: String, buckets: Int, keyCol: String,
      sortCols: Seq[String], freshSince: Long = 0L): DataFrame = {
    val whUri = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir").replace(" ", "%20"))
    val localWh = whUri.getScheme == null || whUri.getScheme == "file"
    val dir = new java.io.File(
      (if (whUri.getScheme == null) whUri.getPath
       else new java.io.File(whUri).getPath) + "/" + table.toLowerCase)
    // staleness guard: a fixture regeneration at the same path must not
    // serve a pre-regeneration table — rebuild when the persisted
    // layout predates the source (callers pass the source file mtime)
    if (spark.catalog.tableExists(table) && freshSince > 0L &&
        localWh && dir.exists() && dir.lastModified() < freshSince)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!spark.catalog.tableExists(table)) {
      // the in-memory catalog forgets tables across JVMs while the
      // warehouse directory persists — remove the orphaned directory
      // and rebuild deterministically (reading an unregistered path
      // would drop the bucketing metadata and the exchange-free plan).
      // Guarded to the local-file warehouse this sandbox uses.
      if (localWh && dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(dir)
      }
      rows.repartition(buckets, col(keyCol))
        .write.bucketBy(buckets, keyCol)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .format("parquet").saveAsTable(table)
    }
    spark.table(table)
  }

  /** Per-vertex triangle counts via the COMPACT-FORWARD wedge build:
    * wedges (a,b),(a,c) with b < c come from a SELF-JOIN ON `src` —
    * the join both sides of which are exchange-free when `edges` is a
    * [[bucketedEdgeTable]] — closed by a left-semi probe of (b,c)
    * against the edge list (the bucketed side again reads without a
    * shuffle; only the derived wedge frame moves). Same result as
    * [[triangleCounts]] (each triangle a<b<c found exactly once, via
    * its two a-anchored edges), different join orientation: the
    * classic shape joins on dst=src, which cannot reuse a src-bucketed
    * layout on both sides. */
  def triangleCountsForward(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("a2"), col("dst").as("c"))
    val e3 = edges.select(col("src").as("b3"), col("dst").as("c3"))
    e1.join(e2, col("a") === col("a2") && col("b") < col("c"))
      .join(e3, col("b") === col("b3") && col("c") === col("c3"),
        "left_semi")
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-EDGE triangle support from the same exchange-free forward
    * wedge join as [[triangleCountsForward]]: each triangle a<b<c is
    * found exactly once and credits all three of its edges — so the
    * count per (src, dst) is the edge's FULL triangle participation
    * (the k-truss support), not just its forward-anchored share. The
    * second consumer of the persisted [[bucketedEdgeTable]] layout:
    * both wedge sides and the closing semi-probe read the bucketed
    * table with no Exchange; only the derived wedge frame shuffles
    * for the final edge-grain agg. */
  def edgeSupportForward(edges: DataFrame): DataFrame = {
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("a2"), col("dst").as("c"))
    val e3 = edges.select(col("src").as("b3"), col("dst").as("c3"))
    e1.join(e2, col("a") === col("a2") && col("b") < col("c"))
      .join(e3, col("b") === col("b3") && col("c") === col("c3"),
        "left_semi")
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("a").as("src"), col("c").as("dst")),
        struct(col("b").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("support"))
  }

  /** Newman's CATEGORICAL attribute assortativity on an undirected
    * edge list: with the mixing matrix e_ij (share of symmetrized
    * edge ends joining class i to class j),
    *   r = (Σᵢ e_ii − Σᵢ aᵢ²) / (1 − Σᵢ aᵢ²)
    * — do edges prefer SAME-attribute endpoints beyond what the class
    * sizes force? The attribute sibling of [[degreeAssortativity]].
    * Kept as exact integers via r = (T·diag − Σrow²)/(T² − Σrow²)
    * over raw cell counts (T = 2·|E|). Returns one row: n_edges,
    * n_classes, diag_share_r, assort_r (null when one class owns
    * every end).
    *
    * Shape: distinct + symmetrize, two attr joins (the node table is
    * broadcast-class), one hash-agg to the ≤classes² mixing grid —
    * reads the persisted bucketed edge table exchange-free on the
    * edge side. */
  def attributeAssortativity(edges: DataFrame, nodes: DataFrame,
      idCol: String, attrCol: String): DataFrame = {
    val uniq = edges.select(col("src"), col("dst")).distinct()
    val sym = uniq.unionByName(uniq.select(col("dst").as("src"),
      col("src").as("dst")))
    val attr = nodes.select(col(idCol), col(attrCol))
    val e = sym
      .join(broadcast(attr.select(col(idCol).as("src"),
        col(attrCol).as("_ai"))), Seq("src"))
      .join(broadcast(attr.select(col(idCol).as("dst"),
        col(attrCol).as("_aj"))), Seq("dst"))
    val cells = e.groupBy(col("_ai"), col("_aj"))
      .agg(count(lit(1)).as("_c"))
    val rows = cells.groupBy(col("_ai")).agg(sum(col("_c")).as("_r"))
      .agg(sum(col("_r")).as("_t"), count(lit(1)).as("n_classes"),
        sum(col("_r") * col("_r")).as("_r2"))
    val diag = cells.agg(
      sum(when(col("_ai") === col("_aj"), col("_c")).otherwise(0L))
        .as("_diag"))
    rows.crossJoin(broadcast(diag))
      .select((col("_t") / 2).cast("long").as("n_edges"),
        col("n_classes"),
        round(col("_diag").cast("double") / col("_t").cast("double"),
          6).as("diag_share_r"),
        round(when(col("_t") * col("_t") - col("_r2") > 0,
          (col("_t") * col("_diag") - col("_r2")).cast("double")
            / (col("_t") * col("_t") - col("_r2")).cast("double")),
          6).as("assort_r"))
  }

  /** Small-world sigma (Humphries & Gurney 2008):
    * sigma = (C/C_rand)/(L/L_rand) with C = the measured average
    * local clustering ([[localClustering]]), L = the mean sampled
    * shortest-path length ([[landmarkDistances]] -- the scalable
    * estimator), and the Erdos-Renyi baselines C_rand = 2m/(n(n-1)),
    * L_rand = ln(n)/ln(2m/n). sigma >> 1 = small-world (clique-y AND
    * short) -- the one-number capstone over the clustering/path
    * families that says whether this co-occurrence graph behaves like
    * a social network or a grid. All inputs are exact integers or the
    * ops' pinned 6-dp outputs; the closed form is one shared
    * expression. Returns one row: n_vertices, n_edges, c_avg_r,
    * l_mean_r, sigma_r. */
  def smallWorldSigma(edges: DataFrame, landmarks: Int, maxHops: Int)
      : DataFrame = {
    val cAvg = localClustering(edges)
      .agg(max(col("avg_clustering_r")).as("c_avg_r")) // constant col
    val nm = edges
      .select(explode(array(col("src"), col("dst"))).as("_v"))
      .agg(countDistinct(col("_v")).as("n_vertices"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
    val ld = landmarkDistances(edges, landmarks, maxHops)
      .where(col("d") > 0)
      .agg(count(lit(1)).as("_np"), sum(col("d")).as("_sd"))
    val nD = col("n_vertices").cast("double")
    val mD = col("n_edges").cast("double")
    val crand = lit(2.0) * mD / (nD * (nD - lit(1.0)))
    val lmean = col("_sd").cast("double") / col("_np").cast("double")
    val lrand = log(nD) / log(lit(2.0) * mD / nD)
    broadcast(nm).crossJoin(broadcast(cAvg)).crossJoin(broadcast(ld))
      .select(col("n_vertices"), col("n_edges"), col("c_avg_r"),
        round(lmean, 6).as("l_mean_r"),
        round((col("c_avg_r") / crand) / (lmean / lrand), 6)
          .as("sigma_r"))
  }
}
