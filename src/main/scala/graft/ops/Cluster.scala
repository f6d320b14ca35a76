package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 clustering-structure batch: grid-density clustering (the
  * DBSCAN shape that scales — density on a bounded cell grid, then
  * connected components over adjacent dense cells) and the
  * Calinski–Harabasz cluster-validity index.
  *
  * Scale shape: the data-sized stage is ONE hash agg to the cell /
  * label grid; everything after runs on the bounded grid. Components
  * reuse [[Dedup.nearDupComponents]] (union-find, distributed
  * fixpoint fallback). */
object Cluster {


  /** DBSCAN-lite on two embedding dims: cells of side `h`, dense =
    * ≥ `minPts` points, clusters = connected components of
    * 8-adjacent dense cells. Cell ids are (cx+500)·100000 + (cy+500)
    * (callers keep |coord/h| < 500). Returns one row per cluster
    * ordered by label: (cluster_label, n_cells, n_points). */
  def gridDensityClusters(points: DataFrame, xCol: String, yCol: String,
      h: Double, minPts: Long): DataFrame =
    gridDensityCells(points, xCol, yCol, h, minPts)
      .groupBy(col("_lab").as("cluster_label"))
      .agg(count(lit(1)).as("n_cells"), sum(col("_n")).as("n_points"))
      .orderBy(col("cluster_label"))

  /** The [[gridDensityClusters]] trunk exposed at the CELL grain:
    * dense cells (_cx, _cy, _n, _cell, _lab) with their component
    * label — so consumers (e.g. the ARI audit) can re-join points to
    * their cluster without rebuilding the components. */
  def gridDensityCells(points: DataFrame, xCol: String, yCol: String,
      h: Double, minPts: Long): DataFrame = {
    require(h > 0 && minPts >= 1)
    val s = points.sparkSession
    val cells = points.select(
        floor(col(xCol).cast("double") / h).cast("long").as("_cx"),
        floor(col(yCol).cast("double") / h).cast("long").as("_cy"))
      .groupBy(col("_cx"), col("_cy")).agg(count(lit(1)).as("_n"))
    val dense = cells.where(col("_n") >= minPts)
      .withColumn("_cell",
        (col("_cx") + 500L) * 100000L + (col("_cy") + 500L))
      .localCheckpoint()
    import s.implicits._
    val offs = (for (dx <- -1 to 1; dy <- -1 to 1
      if dx != 0 || dy != 0) yield (dx.toLong, dy.toLong))
      .toDF("_dx", "_dy")
    val nb = dense.crossJoin(broadcast(offs))
      .select((col("_cx") + col("_dx")).as("_cx"),
        (col("_cy") + col("_dy")).as("_cy"),
        col("_cell").as("_cellA"))
    val pairs = nb.join(dense.select(col("_cx"), col("_cy"),
        col("_cell").as("_cellB")), Seq("_cx", "_cy"))
      .where(col("_cellA") < col("_cellB"))
      .select(col("_cellA").as("doc_a"), col("_cellB").as("doc_b"))
    val comps = Dedup.nearDupComponents(pairs)
    // singleton dense cells (no dense neighbor) label themselves
    dense.join(comps.withColumnRenamed("node", "_cell"),
        Seq("_cell"), "left")
      .select(col("_cx"), col("_cy"), col("_cell"), col("_n"),
        coalesce(col("label"), col("_cell")).as("_lab"))
  }

  /** Calinski–Harabasz index on two dims with given integer labels:
    * CH = (B/(k−1)) / (W/(n−k)) with W the pooled within-cluster and
    * B the between-cluster sum of squares, both from one pass of
    * 12-dp-gridded per-label moment sums (coordinates are O(1)
    * embedding values). Returns one row:
    * (n, k_clusters, w_r, b_r, ch_r). */
  def calinskiHarabasz(points: DataFrame, labelCol: String,
      xCol: String, yCol: String): DataFrame = {
    val g = points.select(col(labelCol).as("_l"),
      col(xCol).cast("double").as("_x"),
      col(yCol).cast("double").as("_y"))
    val per = g.groupBy(col("_l")).agg(count(lit(1)).as("_n"),
      sum(t12(col("_x"))).cast("double").as("_sx"),
      sum(t12(col("_y"))).cast("double").as("_sy"),
      sum(t12(col("_x") * col("_x"))).cast("double").as("_sxx"),
      sum(t12(col("_y") * col("_y"))).cast("double").as("_syy"))
    val tot = per.agg(sum(col("_n")).cast("double").as("_nn"),
      count(lit(1)).cast("double").as("_k"),
      sum(t12(col("_sx"))).cast("double").as("_tx"),
      sum(t12(col("_sy"))).cast("double").as("_ty"))
    val nD = col("_n").cast("double")
    val w = per.agg(
      sum(t12((col("_sxx") - col("_sx") * col("_sx") / nD)
        + (col("_syy") - col("_sy") * col("_sy") / nD)))
        .cast("double").as("_w"))
    val b = per.crossJoin(broadcast(tot))
      .agg(sum(t12(nD
        * ((col("_sx") / nD - col("_tx") / col("_nn"))
          * (col("_sx") / nD - col("_tx") / col("_nn"))
        + (col("_sy") / nD - col("_ty") / col("_nn"))
          * (col("_sy") / nD - col("_ty") / col("_nn")))))
        .cast("double").as("_b"),
        first(col("_nn")).as("_nn"), first(col("_k")).as("_k"))
    b.crossJoin(broadcast(w)).select(
      col("_nn").cast("long").as("n"),
      col("_k").cast("long").as("k_clusters"),
      round(col("_w"), 6).as("w_r"), round(col("_b"), 6).as("b_r"),
      round((col("_b") / nullif(col("_k") - lit(1.0), lit(0.0)))
        / nullif(col("_w") / nullif(col("_nn") - col("_k"), lit(0.0)),
          lit(0.0)), 6).as("ch_r"))
  }
  /** Full Lloyd k-means on two dims: `iters` fixed iterations from
    * the k seeds with the smallest md5(id) (deterministic, replayable),
    * centroids pivoted to ONE broadcast row so each iteration is a
    * codegen'd per-row argmin + ONE bounded hash agg — no per-point
    * shuffle, the only scalable Lloyd shape. Centroids re-round to the
    * 12-dp grid each step (the fixed-step oracle discipline). Returns
    * one row per iteration: (iter, inertia_r, n1..nk sizes). */
  def lloyd2d(points: DataFrame, idCol: String, xCol: String,
      yCol: String, k: Int, iters: Int): DataFrame = {
    require(k >= 2 && k <= 8 && iters >= 1)
    val g = points.select(col(idCol).as("_id"),
        col(xCol).cast("double").as("_x"),
        col(yCol).cast("double").as("_y"))
      .localCheckpoint()
    // seeds: k smallest md5(id); rank within the k-row frame by a
    // tiny self-join (no window)
    val sd = g.select(col("_id"), col("_x"), col("_y"),
        TextOps.hash60(col("_id").cast("string")).as("_h"))
      .orderBy(col("_h").asc, col("_id").asc).limit(k)
      .localCheckpoint()
    val rk = sd.as("a").join(sd.as("b"),
        col("a._h") > col("b._h")
          || (col("a._h") === col("b._h")
            && col("a._id") > col("b._id")), "left")
      .groupBy(col("a._id").as("_sid"), col("a._x").as("_sx"),
        col("a._y").as("_sy"))
      .agg((count(col("b._id")) + 1).cast("int").as("_rk"))
    def pivot(cent: DataFrame): DataFrame = {
      val cols = (1 to k).flatMap(i => Seq(
        max(when(col("_rk") === i, round(col("_sx"), 12)))
          .as(s"_cx$i"),
        max(when(col("_rk") === i, round(col("_sy"), 12)))
          .as(s"_cy$i")))
      cent.groupBy().agg(cols.head, cols.tail: _*)
    }
    def dist(i: Int) = ((col("_x") - col(s"_cx$i"))
      * (col("_x") - col(s"_cx$i"))
      + (col("_y") - col(s"_cy$i")) * (col("_y") - col(s"_cy$i")))
    def argmin: Column = {
      // lowest index wins ties (<= against all later centroids)
      (1 until k).foldRight(lit(k)) { (i, rest) =>
        when((i + 1 to k).map(j => dist(i) <= dist(j))
          .reduce(_ && _), lit(i)).otherwise(rest)
      }
    }
    var cent = pivot(rk).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (it <- 1 to iters) {
      val assigned = g.crossJoin(broadcast(cent))
        .withColumn("_a", argmin)
        .withColumn("_d", least((1 to k).map(dist): _*))
      val stats = assigned.groupBy(col("_a"))
        .agg(count(lit(1)).as("_n"),
          sum(t12(col("_x"))).cast("double").as("_zx"),
          sum(t12(col("_y"))).cast("double").as("_zy"),
          sum(t12(col("_d"))).cast("double").as("_in"))
        .localCheckpoint()
      val iterCols = Seq(round(sum(t12(col("_in"))).cast("double"), 6)
        .as("inertia_r")) ++
        (1 to k).map(i => sum(when(col("_a") === i, col("_n"))
          .otherwise(0L)).as(s"n$i"))
      val iterRow = stats.agg(lit(it).as("iter"), iterCols: _*)
      out += iterRow.localCheckpoint()
      // empty-cluster guard: a cluster that captured no points keeps
      // its previous centroid (NULL pivots would poison the argmin
      // CASE differently across engines)
      val fresh = pivot(stats.select(col("_a").as("_rk"),
        (col("_zx") / col("_n").cast("double")).as("_sx"),
        (col("_zy") / col("_n").cast("double")).as("_sy")))
      val prev = cent.select(
        cent.columns.toSeq.map(c => col(c).as(c + "_p")): _*)
      cent = fresh.crossJoin(broadcast(prev))
        .select((1 to k).flatMap(i => Seq(
          coalesce(col(s"_cx$i"), col(s"_cx${i}_p")).as(s"_cx$i"),
          coalesce(col(s"_cy$i"), col(s"_cy${i}_p")).as(s"_cy$i"))): _*)
        .localCheckpoint()
    }
    out.reduce(_ unionByName _).orderBy("iter")
  }

  /** Elbow curve: inertia after ONE assignment pass for every
    * k ∈ 2..kMax against the NESTED md5-seed prefixes (top-2 seeds ⊂
    * top-3 ⊂ … ⊂ top-kMax, so the whole curve costs ONE data pass —
    * kMax−1 conditional least() aggregates over the same broadcast
    * centroid row). Returns one row per k: (k, inertia_r). */
  def elbowCurve(points: DataFrame, idCol: String, xCol: String,
      yCol: String, kMax: Int): DataFrame = {
    require(kMax >= 2 && kMax <= 8)
    val g = points.select(col(idCol).as("_id"),
      col(xCol).cast("double").as("_x"),
      col(yCol).cast("double").as("_y"))
    val sd = g.select(col("_id"), col("_x"), col("_y"),
        TextOps.hash60(col("_id").cast("string")).as("_h"))
      .orderBy(col("_h").asc, col("_id").asc).limit(kMax)
      .localCheckpoint()
    val rk = sd.as("a").join(sd.as("b"),
        col("a._h") > col("b._h")
          || (col("a._h") === col("b._h")
            && col("a._id") > col("b._id")), "left")
      .groupBy(col("a._id").as("_sid"), col("a._x").as("_sx"),
        col("a._y").as("_sy"))
      .agg((count(col("b._id")) + 1).cast("int").as("_rk"))
    val centCols = (1 to kMax).flatMap(i => Seq(
      max(when(col("_rk") === i, round(col("_sx"), 12)))
        .as(s"_cx$i"),
      max(when(col("_rk") === i, round(col("_sy"), 12)))
        .as(s"_cy$i")))
    val cent = rk.groupBy().agg(centCols.head, centCols.tail: _*)
    def dist(i: Int) = ((col("_x") - col(s"_cx$i"))
      * (col("_x") - col(s"_cx$i"))
      + (col("_y") - col(s"_cy$i")) * (col("_y") - col(s"_cy$i")))
    val inCols = (2 to kMax).map(kk =>
      sum(t12(least((1 to kk).map(dist): _*))).cast("double")
        .as(s"_in$kk"))
    val agg = g.crossJoin(broadcast(cent))
      .agg(inCols.head, inCols.tail: _*)
    val s = points.sparkSession
    import s.implicits._
    val spine = (2 to kMax).map(kk => Tuple1(kk)).toDF("k")
    val in = (3 to kMax).foldLeft(
      when(col("k") === 2, col("_in2"))) { (acc, kk) =>
      acc.when(col("k") === kk, col(s"_in$kk"))
    }
    spine.crossJoin(broadcast(agg))
      .select(col("k"), round(in, 6).as("inertia_r"))
      .orderBy("k")
  }

  /** Adjusted Rand index between two labelings from their bounded
    * contingency grid: ARI = (Σij C(nij,2) − E)/(M − E) with
    * E = Σi C(ai,2)·Σj C(bj,2)/C(n,2), M the mean of the marginal
    * pair sums — exact DECIMAL(38,0) arithmetic until the final
    * division. One row: (n, ari_r). */
  def adjustedRand(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    def c2(c: Column) = (c.cast("decimal(38,0)")
      * (c - lit(1)).cast("decimal(38,0)")) / lit(2).cast("decimal(38,0)")
    val cell = pairs.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_n")).localCheckpoint()
    val sij = cell.agg(sum(c2(col("_n"))).cast("double").as("_sij"),
      sum(col("_n")).as("_nn"))
    val sa = cell.groupBy(col("_a")).agg(sum(col("_n")).as("_na"))
      .agg(sum(c2(col("_na"))).cast("double").as("_sa"))
    val sb = cell.groupBy(col("_b")).agg(sum(col("_n")).as("_nb"))
      .agg(sum(c2(col("_nb"))).cast("double").as("_sb"))
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .select(col("_nn").as("n"),
        round((col("_sij") - col("_sa") * col("_sb")
          / (col("_nn").cast("double")
            * (col("_nn").cast("double") - lit(1.0)) / lit(2.0)))
          / nullif((col("_sa") + col("_sb")) / lit(2.0)
            - col("_sa") * col("_sb")
            / (col("_nn").cast("double")
              * (col("_nn").cast("double") - lit(1.0)) / lit(2.0)),
            lit(0.0)), 6).as("ari_r"))
  }

  /** Hopkins clustering-tendency statistic: m md5-chosen real probes
    * vs m md5-uniform synthetic points in the observed bounding box;
    * w = NN distance (real probe → other real points), u = NN distance
    * (synthetic → real points); H = Σu/(Σu+Σw) → 0.5 uniform, → 1
    * clustered. The NN pass is probes × corpus with a map-side
    * combinable min — linear. One row: (m, h_r). */
  def hopkins(points: DataFrame, idCol: String, xCol: String,
      yCol: String, m: Int): DataFrame = {
    require(m >= 2)
    val g = points.select(col(idCol).as("_id"),
        col(xCol).cast("double").as("_x"),
        col(yCol).cast("double").as("_y"))
      .localCheckpoint()
    val box = g.agg(min(col("_x")).as("_x0"), max(col("_x")).as("_x1"),
      min(col("_y")).as("_y0"), max(col("_y")).as("_y1"))
    val probes = g.select(col("_id"), col("_x"), col("_y"),
        TextOps.hash60(col("_id").cast("string")).as("_h"))
      .orderBy(col("_h").asc, col("_id").asc).limit(m)
      .select(col("_id").as("_pid"), col("_x").as("_px"),
        col("_y").as("_py")).localCheckpoint()
    val s = points.sparkSession
    val ids = s.range(1, m + 1L).select(col("id").as("_pid"))
    val synth = ids.crossJoin(broadcast(box)).select(col("_pid"),
      (col("_x0") + (TextOps.hash60(concat(lit("hx"),
        col("_pid").cast("string"))).cast("double")
        / lit(math.pow(2.0, 60))) * (col("_x1") - col("_x0")))
        .as("_px"),
      (col("_y0") + (TextOps.hash60(concat(lit("hy"),
        col("_pid").cast("string"))).cast("double")
        / lit(math.pow(2.0, 60))) * (col("_y1") - col("_y0")))
        .as("_py"))
    def nn(pr: DataFrame, excludeSelf: Boolean): DataFrame = {
      val j = broadcast(pr).crossJoin(g)
      val filtered = if (excludeSelf) j.where(col("_id") =!= col("_pid"))
        else j
      filtered.groupBy(col("_pid"))
        .agg(min(sqrt((col("_x") - col("_px"))
          * (col("_x") - col("_px"))
          + (col("_y") - col("_py")) * (col("_y") - col("_py"))))
          .as("_d"))
    }
    val w = nn(probes, excludeSelf = true)
      .agg(sum(t12(col("_d"))).cast("double").as("_w"))
    val u = nn(synth, excludeSelf = false)
      .agg(sum(t12(col("_d"))).cast("double").as("_u"))
    w.crossJoin(broadcast(u)).select(lit(m.toLong).as("m"),
      round(col("_u") / nullif(col("_u") + col("_w"), lit(0.0)), 6)
        .as("h_r"))
  }
}
