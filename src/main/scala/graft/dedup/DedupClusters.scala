package graft.dedup

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.internal.Logging
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.CachePool

/** Connected components over a near-duplicate pair list — the step that
  * turns pairwise similarity into dedup GROUPS (transitive closure): A≈B
  * and B≈C must dedup as one cluster {A,B,C} even when A and C never
  * formed a pair.
  *
  * Algorithm: iterative min-label propagation as pure DataFrame rounds —
  * every vertex starts labeled with its own id, and each round takes the
  * min of its label and its neighbors' labels; at fixpoint every vertex
  * carries the minimum id reachable in its component (a deterministic
  * canonical representative). Rounds are bounded by component DIAMETER,
  * and near-duplicate graphs are overwhelmingly tiny cliques and short
  * chains — 2-4 rounds in practice; `maxIter` caps the worst case.
  * For adversarial high-diameter graphs (long chains at the scale of the
  * corpus), [[componentsStarContraction]] (large-star/small-star)
  * converges in O(log² n) rounds of three shuffles each, and
  * [[componentsAuto]] escalates from one to the other automatically.
  *
  * Where a round runs depends on the size of its edge set, measured by
  * a row tally on the set's checkpoint job. A large edge set runs each
  * round as shuffles: an equi-join + partial aggregate on the 8-byte
  * vertex id for propagation, three exchanges for a star round. An edge
  * set of at most the session's advisory AQE partition size
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, at 24 bytes a
  * row) would coalesce to one task at every one of those shuffles, so
  * its remaining rounds run inside one executor task instead
  * ([[LocalRounds]], the same algebra on primitive arrays): the same
  * round counts and labels, without a job per exchange per round
  * (Kiveris et al. and Łącki et al., "Connected Components at Scale via
  * Local Contractions", 2018, likewise finish a graph on one machine
  * once it is small). There is no driver-side graph state either way:
  * the edge list never leaves executors.
  *
  * Every variant takes `checkpointDir`: `None` truncates per-round
  * lineage with eager local checkpoints pinned in [[graft.CachePool]]
  * (executor-local blocks — fast, but a lost executor kills the job),
  * `Some(dir)` uses RELIABLE `checkpoint()` into that directory so a
  * 100 TB clustering job survives executor loss mid-iteration. Same
  * results either way.
  */
object DedupClusters extends Logging {

  /** Per-round lineage truncation: an iterative plan otherwise nests the
    * whole upstream plan once per round, and driver-side canonicalization
    * over the deepening tree quickly dwarfs the actual (tiny) shuffles.
    * Local checkpoints are pinned in [[CachePool]] under the caller's job
    * group, so the query's release frees whatever a round did not free
    * itself ([[release]]).
    */
  private def truncate(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case Some(_) => df.checkpoint(eager = true)
      case None    => CachePool.pinCheckpoint(df)
    }

  /** Frees a [[truncate]]d frame once nothing still to run reads it (its
    * successor is materialized). Reliable checkpoints stay in their
    * directory.
    */
  private def release(df: DataFrame, checkpointDir: Option[String]): Unit =
    if (checkpointDir.isEmpty) CachePool.releaseCheckpoint(df)

  private def setDir(df: DataFrame, checkpointDir: Option[String]): Unit =
    checkpointDir.foreach(df.sparkSession.sparkContext.setCheckpointDir)

  /** Bytes of one edge row: the UnsafeRow of two longs (null bitset word
    * plus two 8-byte fields).
    */
  private val EdgeRowBytes = 24L

  /** Whether an edge set of `rows` rows runs its remaining rounds in one
    * task: when it is at most the session's advisory AQE partition size,
    * a shuffle of it would coalesce to one task anyway, so the task saves
    * only the per-round jobs and planning.
    */
  private def fitsOneTask(df: DataFrame, rows: Long): Boolean =
    rows * EdgeRowBytes <= JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key))

  /** `rounds` over every row of the two-long-column frame `edges`, run in
    * ONE task: returns its (id, comp) rows materialized by [[truncate]]
    * and frees `edges`. The edges never leave the executors. The task is
    * the checkpoint job's result task, so accumulators bumped in
    * `rounds` merge once for the successful attempt, as in
    * [[truncateTallied]]: exact under task retries.
    */
  private def inOneTask(edges: DataFrame, checkpointDir: Option[String])(
      rounds: (Array[Long], Array[Long]) => Iterator[(Long, Long)]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val out = truncate(edges.as[(Long, Long)].coalesce(1).mapPartitions { rows =>
      val u, v = new ArrayBuilder.ofLong
      rows.foreach { case (a, b) => u += a; v += b }
      rounds(u.result(), v.result())
    }.toDF("id", "comp"), checkpointDir)
    release(edges, checkpointDir)
    out
  }

  /** Min-label + pointer-jump rounds; returns the labels and whether the
    * fixpoint was reached within `maxIter`. The symmetrized edge set is
    * tallied on its checkpoint job; one that fits a task runs every
    * round there ([[LocalRounds.minLabel]]), a larger one round by round.
    */
  private def minLabelRounds(pairs: DataFrame, maxIter: Int,
                             checkpointDir: Option[String]): (DataFrame, Boolean) = {
    setDir(pairs, checkpointDir)
    val (edges, tally) = truncateTallied(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct(), checkpointDir)
    if (!fitsOneTask(edges, tally.rows)) minLabelDistributed(edges, maxIter, checkpointDir)
    else {
      val unconverged = edges.sparkSession.sparkContext.longAccumulator("dedup_label_unconverged")
      val labels = inOneTask(edges, checkpointDir) { (src, dst) =>
        val ids = LocalRounds.vertexIds(src, dst)
        val (comp, converged) =
          LocalRounds.minLabel(LocalRounds.edgeSet(ids, src, dst), ids.length, maxIter)
        if (!converged) unconverged.add(1L)
        LocalRounds.labels(ids, comp)
      }
      (labels, unconverged.value == 0L)
    }
  }

  /** [[minLabelRounds]] as shuffle rounds over the checkpointed `edges`. */
  private def minLabelDistributed(edges: DataFrame, maxIter: Int,
                                  checkpointDir: Option[String]): (DataFrame, Boolean) = {
    // the round frame: (id, comp) before the first round, (id, comp,
    // __moved) after each
    var frame = truncate(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")), checkpointDir)
    // The convergence probe rides the round's own checkpoint job as a
    // LongAccumulator bumped while __moved is evaluated, replacing the
    // per-round collect job (r20, VERDICT r19 item 3): 2 materializing
    // jobs per round instead of 3. (The full fold — a lazily-persisted
    // `stepped` instead of its eager checkpoint — was A/B'd and LOST:
    // the self-join's racing double-computation of uncached partitions
    // cost more than the saved job; both closure rows slower, table in
    // OPTIMIZATION_r20.md.) Accumulator semantics by direction: a task
    // retry can only OVER-count, and a spurious nonzero mid-loop costs
    // one extra label-stable round — never a wrong label — while a zero
    // is only possible when no row moved (a successful job evaluated
    // every row at least once). The one place a spurious positive could
    // change BEHAVIOR is the final verdict (a converged graph
    // misreported as non-converged would make components() throw or
    // componentsAuto escalate), so a non-converged exit is re-confirmed
    // with the exact aggregate over the last (checkpointed) round frame
    // — one cheap collect total, and none at all on runs whose
    // accumulator correctly reads 0.
    val acc = edges.sparkSession.sparkContext.longAccumulator("dedup_label_moves")
    val bump = udf { moved: Boolean => if (moved) acc.add(1L); moved }
      .asNondeterministic()
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val comp = frame.select("id", "comp")
      // neighbor-min step: label := min(own, neighbors')
      val nbrMin = edges
        .join(comp.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy("src").agg(min("ncomp").as("nmin"))
      // checkpointed: the pointer-jump reads stepped on BOTH join sides
      val stepped = truncate(comp
        .join(nbrMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("mid"),
          col("comp").as("prev")), checkpointDir)
      // pointer-jump step: label := label(label) — a label is always a
      // live vertex id, so the lookup is an equi-join against the same
      // frame, and jumping halves the remaining chain length per round
      // (O(log diameter) rounds instead of O(diameter)).
      acc.reset()
      val next = truncate(stepped
        .join(stepped.select(col("id").as("mid"), col("mid").as("jump")), Seq("mid"))
        .select(col("id"), least(col("mid"), col("jump")).as("comp"),
          bump(least(col("mid"), col("jump")) < col("prev")).as("__moved")),
        checkpointDir)
      changed = acc.value > 0
      release(stepped, checkpointDir)
      release(frame, checkpointDir)
      frame = next
      iter += 1
    }
    // exact confirmation of a non-converged verdict (see above): scans
    // the already-checkpointed round frame, no recomputation
    if (changed && iter > 0)
      changed = frame.agg(coalesce(max(col("__moved")), lit(false)))
        .collect()(0).getBoolean(0)
    release(edges, checkpointDir)
    (frame.select("id", "comp"), !changed)
  }

  /** (id, comp) for every vertex in `pairs` (columns id_a, id_b), where
    * comp = min id in the vertex's connected component. Throws if the
    * fixpoint is not reached within `maxIter` — a truncated label map is
    * silently WRONG (vertices still carry non-minimal labels), never an
    * approximation; raise `maxIter` or use [[componentsAuto]].
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
                 checkpointDir: Option[String] = None): DataFrame = {
    val (comp, converged) = minLabelRounds(pairs, maxIter, checkpointDir)
    if (!converged) throw new IllegalStateException(
      s"DedupClusters.components did not converge within maxIter=$maxIter rounds; " +
        "labels would be non-minimal. Raise maxIter or use componentsAuto.")
    comp
  }

  /** The adversarial-graph alternative: two-phase star contraction
    * (the large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Min-label
    * propagation with pointer jumping ([[components]]) needs O(log d)
    * rounds for diameter d — fine for dup graphs (tiny cliques/chains),
    * but a corpus-length chain is O(log n) rounds EACH costing a join
    * over the full vertex set. Star contraction converges in O(log² n)
    * rounds on any graph while shrinking the edge set geometrically:
    *
    *  - large-star: every node points its LARGER neighbors at its
    *    min-neighborhood label m = min(Γ(u) ∪ u);
    *  - small-star: every node points its smaller-or-equal neighbors
    *    (and itself) at m.
    *
    * One round applies both phases as three aggregations over the edge
    * list ([[starRound]]) and is materialized by one checkpoint job, or
    * runs in one task once the edge set fits one ([[starContractionCounted]]).
    * At fixpoint the edge list IS the component map: (u → component
    * min) for every non-root u. Output matches [[components]] row for
    * row (roots carry comp = id). Throws when the fixpoint is not
    * reached within `maxIter`: this variant exists precisely for the
    * high-diameter graphs where convergence is slowest, so silent
    * truncation would yield wrong labels exactly on its target inputs.
    */
  def componentsStarContraction(pairs: DataFrame, maxIter: Int = 50,
                                checkpointDir: Option[String] = None): DataFrame =
    starContractionCounted(pairs, maxIter, checkpointDir)._1

  /** Row count and order-independent fingerprint (Σ xxhash64(u, v), 64-bit
    * wraparound) of a distinct edge set: different tallies prove
    * different sets; equal tallies prove nothing.
    */
  private[graft] final case class EdgeTally(rows: Long, fingerprint: Long)

  /** [[truncate]] of an edge frame (two long columns) that tallies the
    * rows it materializes on the checkpoint job itself. The tally filter
    * is the root of the plan, after the frame's last exchange, so it runs
    * in the checkpoint job's RESULT stage, where Spark merges a task's
    * accumulator updates once per partition and drops those of failed
    * or retried attempts: the tally is exact, not an upper bound.
    */
  private[graft] def truncateTallied(edges: DataFrame,
                                     checkpointDir: Option[String]): (DataFrame, EdgeTally) = {
    val acc = edges.sparkSession.sparkContext.longAccumulator("dedup_edge_tally")
    val tally = udf { h: Long => acc.add(h); true }.asNondeterministic()
    val out = truncate(edges.filter(tally(xxhash64(edges.columns.toSeq.map(col): _*))),
      checkpointDir)
    (out, EdgeTally(acc.count, acc.sum))
  }

  /** One star-contraction round: the edge set of small-star(large-star(e))
    * from three exchanges — two grouped aggregations and the final
    * distinct.
    *
    * large-star groups the symmetrized edges by u and points every
    * strictly-larger neighbor v at m = min(Γ(u) ∪ u). Its output is
    * already oriented large→small (m ≤ u < v), so small-star's
    * orientation is the identity: it groups by the new u, takes
    * m2 = min(N⁻(u)), and points every member and u itself at m2.
    */
  private[graft] def starRound(edges: DataFrame): DataFrame = {
    val large = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u")
      .agg(least(min("v"), col("u")).as("m"),
        collect_set(when(col("v") > col("u"), col("v"))).as("up"))
      .select(explode(col("up")).as("u"), col("m").as("v"))
    large.groupBy("u")
      .agg(min("v").as("m"), collect_set("v").as("down"))
      .select(explode(concat(col("down"), array(col("u")))).as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** [[componentsStarContraction]] plus the number of contraction rounds
    * executed (including the final fixpoint-confirming round — the loop
    * counts every [[starRound]] application). Exposed for the
    * adversarial-scale gate, whose oracle replays the same rounds.
    *
    * Each round's row count comes from its tally: rounds run as shuffle
    * rounds while the edge set is larger than one task's share
    * ([[fitsOneTask]]), and the rest run in one task
    * ([[LocalRounds.starRounds]]), the round count going on from there.
    */
  private[graft] def starContractionCounted(
      pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    setDir(pairs, checkpointDir)
    var (edges, tally) = truncateTallied(
      pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("u") =!= col("v")).distinct(), checkpointDir)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter && !fitsOneTask(edges, tally.rows)) {
      val (next, nextTally) = truncateTallied(starRound(edges), checkpointDir)
      // fixpoint ⇔ identical edge sets (both are distinct). Different
      // tallies already prove the sets differ, so the exact
      // symmetric-difference probe (a full outer join) runs only when
      // the tallies match: on the fixpoint round, or on a fingerprint
      // collision, which can cost a probe but never end the loop early.
      changed = nextTally != tally ||
        next.withColumn("__n", lit(1))
          .join(edges.withColumn("__e", lit(1)), Seq("u", "v"), "full_outer")
          .filter(col("__n").isNull || col("__e").isNull)
          .head(1).nonEmpty
      release(edges, checkpointDir)
      edges = next
      tally = nextTally
      iter += 1
    }
    if (changed && iter < maxIter) starInOneTask(edges, iter, maxIter, checkpointDir)
    else {
      if (changed) throw starNotConverged(maxIter)
      // fixpoint stars: every non-root points at exactly its component's
      // min. A round keeps every input vertex on an edge and orients every
      // edge large→small, so each vertex is labeled by the min of its
      // targets, or by itself when it has none (the roots).
      val labels = edges.select(col("u").as("id"), col("v").as("comp"))
        .unionByName(edges.select(col("v").as("id"), col("v").as("comp")))
        .groupBy("id").agg(min("comp").as("comp"))
      (labels, iter)
    }
  }

  /** The rounds of [[starContractionCounted]] after the first `iter`, from
    * the changed edge set `edges`, in one task: the labels of the
    * fixpoint stars and the round count, both from that task.
    */
  private def starInOneTask(edges: DataFrame, iter: Int, maxIter: Int,
                            checkpointDir: Option[String]): (DataFrame, Int) = {
    val sc = edges.sparkSession.sparkContext
    val rounds = sc.longAccumulator("dedup_star_rounds")
    val unconverged = sc.longAccumulator("dedup_star_unconverged")
    val labels = inOneTask(edges, checkpointDir) { (u, v) =>
      val ids = LocalRounds.vertexIds(u, v)
      val (stars, n, converged) =
        LocalRounds.starRounds(LocalRounds.edgeSet(ids, u, v), iter, maxIter)
      rounds.add(n.toLong)
      if (!converged) unconverged.add(1L)
      LocalRounds.labels(ids, LocalRounds.starLabels(stars, ids.length))
    }
    if (unconverged.value > 0L) throw starNotConverged(maxIter)
    (labels, rounds.value.toInt)
  }

  private def starNotConverged(maxIter: Int) = new IllegalStateException(
    s"DedupClusters.componentsStarContraction did not converge within " +
      s"maxIter=$maxIter rounds; labels would be wrong. Raise maxIter.")

  /** Auto-selecting entry point: run min-label + pointer-jump for up to
    * `propagationBudget` rounds (2-4 suffice on real dup graphs — tiny
    * cliques and short chains), and ESCALATE to star contraction if the
    * fixpoint is not reached — the budget doubling as the diameter
    * heuristic: a graph that hasn't converged in b pointer-jumping
    * rounds has effective diameter ≳ 2^b, exactly star contraction's
    * target class. Both phases are rounds over the edge list; the
    * escalation wastes only the budgeted rounds, which cost one task and
    * no per-round jobs when the edge set fits one task.
    */
  def componentsAuto(pairs: DataFrame, propagationBudget: Int = 8,
                     maxIter: Int = 50,
                     checkpointDir: Option[String] = None): DataFrame =
    componentsAutoCounted(pairs, propagationBudget, maxIter, checkpointDir)._1

  /** [[componentsAuto]] plus the escalation decision and star round count
    * (0 when propagation converged within budget) — the instrumented form
    * the adversarial-scale gate grades.
    */
  private[graft] def componentsAutoCounted(
      pairs: DataFrame, propagationBudget: Int = 8, maxIter: Int = 50,
      checkpointDir: Option[String] = None): (DataFrame, Boolean, Int) = {
    val (comp, converged) = minLabelRounds(pairs, propagationBudget, checkpointDir)
    if (converged) (comp, false, 0)
    else {
      release(comp, checkpointDir)
      logWarning(s"componentsAuto: min-label propagation not converged after " +
        s"$propagationBudget rounds (effective diameter ≳ ${1L << propagationBudget}); " +
        "escalating to star contraction")
      val (labels, rounds) = starContractionCounted(pairs, maxIter, checkpointDir)
      (labels, true, rounds)
    }
  }

  /** One row per cluster: (comp, n_members) — the dedup survivor is the
    * representative `comp` itself (min id, matching ExactDedup's keep-min
    * convention).
    */
  def clusterSizes(pairs: DataFrame, maxIter: Int = 20,
                   checkpointDir: Option[String] = None): DataFrame =
    components(pairs, maxIter, checkpointDir)
      .groupBy("comp").agg(count(lit(1)).as("n_members"))
}
