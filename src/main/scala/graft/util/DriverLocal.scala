package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one bounded-collect valve for driver-local recursions.
  *
  * Several operators run their bounded-state recursion on the driver
  * (the MLlib posture: collect the small reduced frame, iterate
  * locally) instead of paying a per-step join + checkpoint chain. The
  * collected frame is bounded by a catalog or a dimension, never by the
  * corpus — but that is a contract on the caller's input, so every such
  * collect goes through [[collect]]: it reads the valve's cap and runs
  * `limit(cap + 1).collect()`. An over-cap frame costs one extra row,
  * never a driver OOM. The caller decides what over-cap means: take its
  * distributed fallback, or raise ([[collectOrFail]]).
  *
  * The valves (keys and defaults are unchanged conf surface):
  *
  * | key                                          | default | site                                                   | over cap  |
  * |----------------------------------------------|---------|--------------------------------------------------------|-----------|
  * | `spark.graft.driverLocal.markovTransCap`     | 1 << 12 | `Markov.removalAttribution` / `absorptionProfile`      | fallback  |
  * | `spark.graft.driverLocal.textrankEdgeCap`    | 1 << 20 | `TextOps.textRank`                                     | fallback  |
  * | `spark.graft.driverLocal.snGrainCap`         | 1 << 13 | `Profile.snScale`                                      | fallback  |
  * | `spark.graft.similarity.maxLiteralCentroids` | 65536   | `Similarity.assignCells`                               | fallback  |
  * | `spark.graft.driverLocal.itemCap`            | 1 << 20 | `Choice.bradleyTerry`                                  | fail      |
  * | `spark.graft.driverLocal.momentCap`          | 1 << 22 | `Similarity` eigen family (`topEigen`, `topTwoEigen`…) | fail      |
  * | `spark.graft.driverLocal.gridCap`            | 1 << 20 | `Contingency.ipfRaking`                                | fail      |
  *
  * What bounds each frame, and why the default is where it is:
  *  - markovTransCap: the |S|² journey-transition frame (S = event-type
  *    universe); the replay does O(iters·|S|³) decimal ops, so 4096
  *    rows (a 64-state universe) keeps that in the low millions.
  *  - textrankEdgeCap: the co-occurrence graph is vocab-bounded, but
  *    vocab grows with data — hence a fallback, not a failure.
  *  - snGrainCap: the driver does O(n² log n) comparisons over the
  *    grain, so the cap bounds CPU as well as memory (2¹³ rows → 67M
  *    comparisons; a calendar-day grain is ~2.5k at any corpus size).
  *  - maxLiteralCentroids: the centroid list becomes a plan constant
  *    (~16 MB of floats at dim 64); above it, the broadcast-crossJoin
  *    assignment runs.
  *  - itemCap: the MM recursion works on the items² duel matrix, which
  *    must stay catalog-bounded.
  *  - momentCap: the d² Gramian (embedding dimension, never rows) —
  *    2048² headroom.
  *  - gridCap: the |X|·|Y| contingency grid.
  *
  * The count-probe valves collect nothing and do not go through here:
  * `spark.graft.dedup.unionFindMaxEdges` (1 << 20, `Dedup`
  * union-find components), `spark.graft.profile.histQuantileMaxDistinct`
  * (4194304, `Profile` histogram quantiles) and
  * `spark.graft.similarity.broadcastMaxQueries` (1000000,
  * `Similarity.cosineTopK`, fails). */
object DriverLocal {

  /** A cap read from `key`, `default` when the key is unset. */
  final case class Valve(key: String, default: Int) {
    def cap(spark: SparkSession): Int =
      spark.conf.get(key, default.toString).toInt
  }

  val MarkovTrans = Valve("spark.graft.driverLocal.markovTransCap", 1 << 12)
  val TextrankEdges = Valve("spark.graft.driverLocal.textrankEdgeCap", 1 << 20)
  val SnGrain = Valve("spark.graft.driverLocal.snGrainCap", 1 << 13)
  val Centroids = Valve("spark.graft.similarity.maxLiteralCentroids", 65536)
  val Items = Valve("spark.graft.driverLocal.itemCap", 1 << 20)
  val Moment = Valve("spark.graft.driverLocal.momentCap", 1 << 22)
  val Grid = Valve("spark.graft.driverLocal.gridCap", 1 << 20)

  /** The rows of `df` if it has at most the valve's cap of them; None
    * (over cap) otherwise. At most cap + 1 rows reach the driver. */
  def collect(df: DataFrame, valve: Valve): Option[Array[Row]] = {
    val cap = valve.cap(df.sparkSession)
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** [[collect]] for a recursion with no distributed twin: over the cap
    * it raises instead of collecting the frame. `what` names the frame
    * in the error. */
  def collectOrFail(df: DataFrame, valve: Valve, what: String): Array[Row] =
    collect(df, valve).getOrElse(throw new IllegalArgumentException(
      s"$what has more than ${valve.cap(df.sparkSession)} rows " +
        s"(${valve.key}) — the recursion is driver-local, so its input " +
        "must stay bounded (not data-sized)"))
}
