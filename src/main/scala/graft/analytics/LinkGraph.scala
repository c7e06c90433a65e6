package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality — the host-ranking signal web-corpus curation
  * pipelines derive from the crawl's hyperlink structure (Common Crawl
  * publishes exactly this as its host-level ranking; quality-quota and
  * seed-selection stages consume it alongside the content-side scores).
  *
  * PageRank here is computed in INTEGER fixed point so every value is
  * exact and an external engine replays the whole computation
  * bit-for-bit: ranks live in units of `scale⁻¹` (default 10⁻⁶), each
  * round distributes `rank div out_weight` units along every out-edge
  * (integer division — deterministic, order-independent), and damping is
  * the integer map `r' = ((den−num)·scale) div den + (num·Σcontrib) div
  * den`. All quantities are non-negative, so Spark's truncating `div`
  * and floor-division replays (DuckDB `//`) agree on every cell. The
  * usual float formulation would make the per-vertex sums
  * order-dependent and unreplayable.
  *
  * Scale shape (the 100 TB contract): the weighted edge list is built
  * with ONE shuffle (groupBy src,dst), repartitioned by `src` and
  * persisted — every iteration's quotient join then reuses that
  * partitioning, so a round shuffles only the rank frame (|V| rows of
  * two longs), never the edges. Per-round lineage is truncated exactly
  * like [[graft.dedup.DedupClusters]] (localCheckpoint by default, a
  * reliable `checkpointDir` for fault tolerance on long jobs); round
  * count is a fixed small constant, not data-dependent. Dangling
  * vertices (no out-edges) receive rank but redistribute nothing — the
  * documented contract (mass is NOT renormalized; rankings, which is
  * what quotas consume, are unaffected).
  */
object LinkGraph {

  /** (id, rank) after `iters` integer power-iteration rounds over the raw
    * link list `links` (columns `src`, `dst`; parallel edges accumulate
    * as weight). Vertices are every id appearing as src or dst. Ranks
    * start at `scale` (= 1.0); damping factor is `dampNum/dampDen`
    * (default 85/100).
    */
  def pageRankInt(links: DataFrame, iters: Int = 5, scale: Long = 1000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L,
                  checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0 && scale > 0 && dampNum > 0 && dampDen > dampNum)
    checkpointDir.foreach(links.sparkSession.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame = checkpointDir match {
      case Some(_) => df.checkpoint(eager = true)
      case None    => graft.CachePool.pinCheckpoint(df)
    }
    def release(df: DataFrame): Unit =
      if (checkpointDir.isEmpty) graft.CachePool.releaseCheckpoint(df)
    val spark = links.sparkSession
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // one pass: parallel links collapse to integer weights; partitioned by
    // the per-round join key so iterations never reshuffle the edges.
    val wedges = truncate(links.groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
      .repartition(nPart, col("src")))
    val verts = truncate(wedges.select(col("src").as("id"))
      .unionByName(wedges.select(col("dst").as("id"))).distinct())
    val outw = truncate(wedges.groupBy("src").agg(sum("w").as("ow")))
    val base = (dampDen - dampNum) * scale / dampDen
    var ranks = truncate(verts.select(col("id"), lit(scale).as("rank")))
    for (_ <- 0 until iters) {
      // per-SOURCE quotient once (|V|-row join), then a pure map over the
      // edges: contrib(e) = (rank(src) div ow(src)) · w(e).
      val quo = ranks.join(outw, ranks("id") === outw("src"))
        .select(col("src"), expr("rank div ow").as("q"))
      val sums = wedges.join(quo, "src")
        .groupBy("dst").agg(sum(col("q") * col("w")).as("csum"))
      val next = truncate(verts
        .join(sums, verts("id") === sums("dst"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(csum, 0L)) div $dampDen"))
            .as("rank")))
      release(ranks) // superseded: the next round reads only `next`
      ranks = next
    }
    // the returned ranks are a checkpoint of their own: nothing reads these
    Seq(wedges, verts, outw).foreach(release)
    ranks
  }

  /** Per-vertex TRIANGLE counts over the undirected simple graph of
    * `links` (src, dst) — the local-clustering signal beside
    * [[pageRankInt]]'s centrality (link farms and boilerplate nav rings
    * show up as abnormal triangle density).
    *
    * The scale story is the DEGREE-ORDERED orientation (the standard
    * trick that makes distributed triangle counting feasible): every
    * edge points toward its (degree, id)-larger endpoint, turning the
    * graph into a DAG in which each triangle appears as EXACTLY ONE
    * a→b→c path closed by a→c — and a hub of degree d generates wedges
    * only from its LOWER-degree incident edges, so wedge fan-out per
    * vertex is bounded by its orientation out-degree (≤ O(√m) on any
    * graph), not its raw degree. Joins are all equi-joins on vertex
    * ids; no vertex ever pairs its full neighborhood quadratically.
    */
  def triangleCounts(links: DataFrame): DataFrame = {
    val und = links
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    val toB = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val e = graft.CachePool.persist(und
      .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
      .select(when(toB, col("u")).otherwise(col("v")).as("a"),
        when(toB, col("v")).otherwise(col("u")).as("b")))
    val tri = e
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("host"))
      .groupBy("host").agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("host"))
  }
}
