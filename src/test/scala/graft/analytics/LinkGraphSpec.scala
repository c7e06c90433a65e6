package graft.analytics

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  /** Local integer reference mirroring pageRankInt's formula exactly. */
  private def refRanks(links: Seq[(Long, Long)], iters: Int,
                       scale: Long = 1000000L): Map[Long, Long] = {
    val w = links.groupBy(identity).map { case (e, es) => e -> es.size.toLong }
    val verts = (links.map(_._1) ++ links.map(_._2)).distinct
    val ow = w.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
    val base = 15L * scale / 100L
    var r = verts.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val contrib = w.toSeq.map { case ((s, d), wt) => d -> (r(s) / ow(s)) * wt }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = verts.map(v => v -> (base + 85L * contrib.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("two-node cycle is an exact fixpoint at rank = scale") {
    val links = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = LinkGraph.pageRankInt(links, iters = 5)
      .as[(Long, Long)].collect().toMap
    // each round: 150000 + (85 * 1000000) div 100 = 1000000 — no drift
    assert(got === Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("hand graph matches the integer reference cell for cell (incl. parallel-edge weights)") {
    // hub 0 receives from 1,2,3; 3→0 twice (weight 2); 0→1 returns some
    // mass; 4 is DANGLING (receives from 1, emits nothing).
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (3L, 0L), (0L, 1L), (1L, 4L))
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val ranks = LinkGraph.pageRankInt(edges.toDF("src", "dst"), iters = 5)
    // every superseded round frame is freed: only the returned ranks stay
    assert(spark.sparkContext.getPersistentRDDs.size - pinned === 1)
    val got = ranks.as[(Long, Long)].collect().toMap
    graft.CachePool.releaseAll()
    val want = refRanks(edges, iters = 5)
    assert(got === want)
    // the hub outranks every leaf; the dangling vertex still received mass
    assert(got(0L) > got(2L) && got(0L) > got(3L))
    assert(got(4L) > 15L * 1000000L / 100L)
  }

  test("ranks are partitioning-invariant and deterministic") {
    val links = table("documents").select(
      (col("doc_id") % 64).as("src"), ((col("doc_id") * 31 + 7) % 64).as("dst"))
    val a = LinkGraph.pageRankInt(links, iters = 3).as[(Long, Long)].collect().toMap
    val b = LinkGraph.pageRankInt(links.repartition(13), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    // floor division only LOSES mass: total never exceeds |V| · scale
    assert(a.values.sum <= a.size.toLong * 1000000L)
  }

  test("triangleCounts: K4 gives 3 per vertex; stars and direction/duplicates don't count") {
    // K4 on 1..4 (each vertex in C(3,2) = 3 triangles), a star hub 10
    // with leaves 11..14 (no triangles), duplicate and reversed edges,
    // and a self-loop — none of which may change the census.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val noise = Seq((2L, 1L), (1L, 2L), (3L, 3L)) ++ (11L to 14L).map((10L, _))
    val links = (k4 ++ noise).toDF("src", "dst")
    val got = LinkGraph.triangleCounts(links).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // global count: each triangle contributes 3 participations
    assert(got.values.sum === 4L * 3L)
  }
}
