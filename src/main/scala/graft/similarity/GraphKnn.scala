package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VecOps

/** Graph-based nearest-neighbor search — the HNSW-class member of the
  * index family, in its deterministic single-layer form (a navigable
  * small-world graph searched by beam expansion). Where IVF answers a
  * query by scanning whole probed cells, the graph answers it by WALKING:
  * start at an entry node, repeatedly score the neighbors of the current
  * best candidates, keep the best `beam`. Per query the work is
  * O(rounds · beam · degree) distance evaluations — independent of cell
  * occupancy, which is the whole point of graph ANN at serving time.
  *
  * Everything is exactly replayable, unlike production HNSW (whose level
  * assignment is randomized): edges are the top-M co-cell neighbors under
  * the integer SQ8 distance with id tie-breaks, the entry seeds are
  * deterministic caller-chosen nodes of the query's coarse cell (the
  * engine seeds the cell's min- and max-id node — id-space diversity
  * inside the connected component), and each beam round is a
  * deterministic (dist, id) top-B — so an out-of-engine replay recomputes
  * the entire traversal bit-for-bit.
  *
  * Scale shape: the graph BUILD generates candidate pairs by cell
  * equi-join (the dedup bucketing discipline — never corpus×corpus;
  * per-cell volume is controlled by nlist sizing and the hot-cell split
  * maintenance of the IVF family), edge selection is a per-src window
  * over co-cell candidates, and each search round is two hash equi-joins
  * (beam→graph on src, expansion→codes on vec_id) against broadcast
  * queries. The graph persists like any posting table; `rounds` is fixed
  * and small, so the search plan is a bounded unrolled chain.
  */
object GraphKnn {

  /** Top-`m` co-cell neighbors per node under SQ8 L2 (id tie-break):
    * (src, dst, dist). `assigned` carries (vec_id, cell, code).
    *
    * Candidate pairs come from [[graft.operators.SkewJoin.boundedSelfPairs]]
    * on the cell key — the same bounded enumeration the dedup family uses —
    * not a raw cell self-join: a raw equi-join puts a cell of n rows into
    * ONE task and forms n² pairs there (a hot cell — exactly what IVF cell
    * skew produces — blows up a single task AQE cannot split), while the
    * tiled form caps per-task pair volume at ~hotCellThreshold². Each
    * unordered pair is scored once and emitted in both orientations, then
    * a per-src window keeps the m nearest. Output is identical to the raw
    * join's (same candidate set, same integer distances, same (dist, dst)
    * tie-break) — only the task shape changes.
    *
    * `keys` is the candidate-grouping key set — `cell` for the plain
    * navigable graph; a filtered subindex passes `(cell, label)` so each
    * label's subgraph is navigable on its own (the label-aware edge
    * selection filtered graph ANN needs: with top-m edges chosen label-
    * blind, a 10-label corpus leaves <1 allowed neighbor per list and an
    * allowed-only walk starves).
    */
  def coCellGraph(assigned: DataFrame, m: Int,
                  hotCellThreshold: Int = 4096,
                  keys: Seq[String] = Seq("cell")): DataFrame = {
    val pairs = graft.operators.SkewJoin.boundedSelfPairs(
      assigned.select(keys.map(col) ++ Seq(col("vec_id"), col("code")): _*),
      keys, col("vec_id"), col("code"), hotCellThreshold)
    val w = Window.partitionBy("src").orderBy(col("dist"), col("dst"))
    // both orientations of each scored pair via explode — one pass over
    // the pair stream, no second execution of the pair-enumeration DAG
    pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"),
          VecOps.sq8DistL2(col("pay_a"), col("pay_b")).as("dist")),
        struct(col("id_b").as("src"), col("id_a").as("dst"),
          VecOps.sq8DistL2(col("pay_a"), col("pay_b")).as("dist")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dist").as("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
      .select("src", "dst", "dist")
  }

  /** The beam rounds alone: from each search unit's entry nodes, `rounds`
    * rounds of expand-the-beam's-neighbors / rescore / keep-top-`beam`,
    * returning the full SEEN set (query_id, node, dist). The unit key
    * `query_id` is opaque — a multi-probe caller packs (query, probe
    * cell) into it so each probed cell walks with its OWN beam (the
    * probed subgraphs are disconnected; a shared beam starves both —
    * measured 650-800‰ vs ~1000‰), then merges and ranks the seen sets
    * itself. `queries` carries (query_id, q_code), `entries`
    * (query_id, node), `codes` (vec_id, code). Exact integers,
    * deterministic.
    */
  def beamSeen(graph: DataFrame, codes: DataFrame, queries: DataFrame,
               entries: DataFrame, beam: Int, rounds: Int): DataFrame = {
    val q = broadcast(queries.select(col("query_id"), col("q_code")))
    def score(cand: DataFrame): DataFrame =
      cand.join(codes, cand("node") === codes("vec_id"))
        .join(q, Seq("query_id"))
        .select(col("query_id"), col("node"),
          VecOps.sq8DistL2(col("q_code"), col("code")).as("dist"))
    beamRounds(graph, score, entries, beam, rounds)
  }

  private def beamRounds(graph: DataFrame, score: DataFrame => DataFrame,
                         entries: DataFrame, beam: Int, rounds: Int): DataFrame = {
    val bw = Window.partitionBy("query_id").orderBy(col("dist"), col("node"))
    // the seen set is re-read twice per round (union + beam), so each
    // round is materialized by an eager localCheckpoint — frames are
    // ≤ queries · (1 + rounds·beam·degree) rows, bounded by
    // construction. Checkpointing (r20; replaces the r16 persist chain)
    // additionally TRUNCATES the plan each round: the persist chain left
    // every round's logical plan nested inside the next one's — the
    // final frame's plan ran to tens of thousands of nodes (24k lines at
    // sf0.001, plans/r20) and driver-side analysis of that tree per
    // action dominated the serve (r20's per-job timeline, the view
    // `perfbench/run.py --trace 1` gives today: more time between jobs
    // than in them). With a LogicalRDD leaf per round the plan
    // stays shallow and the per-round barrier pays for itself — the r16
    // measurement that rejected per-round materialization used count()
    // WITH persist (extra action, still-deep plans), not checkpoint.
    // Superseded round frames release their blocks as soon as the next
    // round is materialized (ADVICE r18's releaseCheckpoint); the FINAL
    // round's frame is registered under the caller's job group
    // (CachePool.pinCheckpoint) so the harness's group release drops it
    // too instead of parking it until RDD GC.
    var seen = graft.CachePool.pinCheckpoint(score(entries))
    (1 to rounds).foreach { _ =>
      val frontier = seen.withColumn("rnk", row_number().over(bw))
        .filter(col("rnk") <= beam).select("query_id", "node")
      val expanded = frontier.join(graph, frontier("node") === graph("src"))
        .select(col("query_id"), col("dst").as("node"))
      val next = graft.CachePool.pinCheckpoint(
        seen.unionByName(score(expanded))
          .groupBy("query_id", "node").agg(min("dist").as("dist")))
      graft.CachePool.releaseCheckpoint(seen)
      seen = next
    }
    seen
  }

  /** Beam search over a prebuilt neighbor graph: [[beamSeen]]'s rounds,
    * then the final top-`k` over every node seen (excluding the query
    * itself). Output: (query_id, rnk, neighbor_id, dist) — exact
    * integers, deterministic.
    */
  def beamSearch(graph: DataFrame, codes: DataFrame, queries: DataFrame,
                 entries: DataFrame, k: Int, beam: Int, rounds: Int): DataFrame =
    seenTopK(beamSeen(graph, codes, queries, entries, beam, rounds), k)

  private def seenTopK(seen: DataFrame, k: Int): DataFrame = {
    val bw = Window.partitionBy("query_id").orderBy(col("dist"), col("node"))
    seen
      .filter(col("node") =!= col("query_id"))
      .withColumn("rnk", row_number().over(bw))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("node").as("neighbor_id"), col("dist"))
      .orderBy("query_id", "rnk")
  }
}
