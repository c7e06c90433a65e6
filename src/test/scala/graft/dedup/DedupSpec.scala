package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.EmbeddingDedup

/** Planted-duplicate recovery: DedupData plants an exact duplicate for
  * every 7th doc (id + 1,000,000; case/whitespace noise) and a near
  * duplicate for every 5th (id + 2,000,000; a few appended tokens). Each
  * detector must find its planted class.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = table("documents")
  private lazy val planted = DedupData.withPlantedDups(docs).cache()
  private lazy val exactIds =
    docs.filter(col("doc_id") % 7 === 0).select("doc_id").as[Long].collect().toSet
  private lazy val nearIds =
    docs.filter(col("doc_id") % 5 === 0).select("doc_id").as[Long].collect().toSet

  test("ExactDedup groups every planted exact duplicate with its original") {
    val groups = ExactDedup.groups(planted, col("text"), col("doc_id"))
    val dupGroups = groups.filter(col("n_copies") >= 2)
      .select("keep_id").as[Long].collect().toSet
    assert(exactIds.subsetOf(dupGroups))
    // near-dups must NOT be merged by exact dedup
    assert(groups.count() === planted.count() - exactIds.size)
  }

  test("ExactDedup.dedup keeps exactly one row per group") {
    val deduped = ExactDedup.dedup(planted, col("text"), col("doc_id"))
    assert(deduped.count() === planted.count() - exactIds.size)
  }

  test("MinHashLsh finds every planted near-duplicate pair except sub-threshold short docs") {
    val pairs = MinHashLsh.nearDuplicates(planted, col("doc_id"), col("text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missing = nearIds.filterNot(i => pairs.contains((i, i + DedupData.NearIdOffset)))
    // a 5-token suffix on a doc under ~15 tokens pushes true Jaccard below
    // the 0.5 threshold — missing those is correct behavior, not a miss.
    val shortIds = docs.filter(size(split(col("text"), "\\s+")) < 15)
      .select("doc_id").as[Long].collect().toSet
    assert(missing.subsetOf(shortIds),
      s"minhash missed non-short docs: ${missing -- shortIds}")
    assert(missing.size <= nearIds.size / 10)
  }

  test("crossSnapshotNearDuplicates flags every re-crawl against the untouched corpus") {
    val newBatch = planted.filter(col("doc_id") >= DedupData.ExactIdOffset)
    val pairs = MinHashLsh.crossSnapshotNearDuplicates(
        newBatch, docs, col("doc_id"), col("text"))
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    graft.CachePool.releaseAll()
    // exact re-crawls: identical token stream ⇒ identical signature ⇒
    // every band co-buckets — recall is an equality, not a threshold
    exactIds.foreach { i =>
      assert(pairs.contains((i + DedupData.ExactIdOffset, i)),
        s"exact re-crawl of $i not flagged")
    }
    // near refreshes gate like the self-join detector (short docs can
    // fall below the Jaccard threshold — same contract as nearDuplicates)
    val missed = nearIds.filterNot(i => pairs.contains((i + DedupData.NearIdOffset, i)))
    assert(missed.size <= nearIds.size / 10, s"missed near refreshes: $missed")
    // the corpus never pairs with itself: every flagged pair has a
    // new-batch id on the left
    assert(pairs.forall(_._1 >= DedupData.ExactIdOffset))
  }

  test("SimHash finds all planted EXACT dups (hamming 0) plus long near-dups") {
    val pairs = SimHash.nearDuplicates(planted, col("doc_id"), col("text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // case/whitespace noise vanishes under tokenization → identical
    // signatures → hamming 0: every exact-planted pair must be found.
    val missingExact = exactIds.filterNot(i => pairs.contains((i, i + DedupData.ExactIdOffset)))
    assert(missingExact.isEmpty, s"simhash missed exact dups: $missingExact")
    // a 5-token suffix moves > 3 of 64 bits on short docs; only require
    // the near class on a meaningful fraction (long docs).
    val foundNear = nearIds.count(i => pairs.contains((i, i + DedupData.NearIdOffset)))
    assert(foundNear >= (nearIds.size * 0.3).toInt,
      s"simhash found only $foundNear of ${nearIds.size} planted near pairs")
  }

  test("NGramJaccard scores planted near-dups above 0.5 within their block") {
    val pairs = NGramJaccard.blockedPairs(
        planted, col("doc_id"), col("text"), col("source"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missing = nearIds.filterNot(i => pairs.contains((i, i + DedupData.NearIdOffset)))
    assert(missing.isEmpty, s"ngram-jaccard missed ${missing.size} planted pairs")
  }

  test("Weighted MinHash recovers planted near-dups like the unweighted form") {
    val pairs = MinHashLsh.nearDuplicatesWeighted(planted, col("doc_id"), col("text"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val missing = nearIds.filterNot(i => pairs.contains((i, i + DedupData.NearIdOffset)))
    val shortIds = docs.filter(size(split(col("text"), "\\s+")) < 15)
      .select("doc_id").as[Long].collect().toSet
    assert(missing.subsetOf(shortIds),
      s"weighted minhash missed non-short docs: ${missing -- shortIds}")
    assert(missing.size <= nearIds.size / 10)
  }

  /** Fraction of equal signature components between doc 1 and doc 2. */
  private def estOf(sigs: org.apache.spark.sql.DataFrame): Double = {
    val m = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    m(1L).zip(m(2L)).count { case (x, y) => x == y }.toDouble / m(1L).length
  }

  test("Weighted MinHash discriminates repeated boilerplate where set MinHash cannot") {
    // docB is docA's text repeated 5×. As gram SETS the two are nearly
    // identical (only boundary-crossing grams are new → set Jaccard ≈ 0.78);
    // as gram BAGS the repeats count, so weighted Jaccard ≈ 28/148 ≈ 0.19.
    // The signature estimates must reflect that gap.
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val rep = Seq.fill(5)(base).mkString(" ")
    val df = Seq((1L, base), (2L, rep)).toDF("doc_id", "text")
    val setEst = estOf(MinHashLsh.signatures(df, col("doc_id"), col("text"), k = 3, p = 64))
    val wEst = estOf(MinHashLsh.weightedSignatures(df, col("doc_id"), col("text"), k = 3, p = 64))
    assert(setEst > 0.6, s"set estimate $setEst should be near the 0.78 true set Jaccard")
    assert(wEst < 0.4, s"weighted estimate $wEst should be near the 0.19 true weighted Jaccard")
    assert(wEst < setEst - 0.2)
  }

  test("Weighted MinHash equals set MinHash when every gram is distinct") {
    // No repeated grams ⇒ bag = set ⇒ the two estimators agree pair-wise
    // (instance hashes differ from gram hashes, but BOTH signatures are
    // min-stable: equal multisets give equal signatures).
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (5 to 44).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val setEst = estOf(MinHashLsh.signatures(df, col("doc_id"), col("text"), k = 3, p = 128))
    val wEst = estOf(MinHashLsh.weightedSignatures(df, col("doc_id"), col("text"), k = 3, p = 128))
    // same true Jaccard, independent hash draws: allow estimator noise.
    assert(math.abs(setEst - wEst) < 0.2, s"set $setEst vs weighted $wEst")
  }

  test("inverted-index Jaccard equals the per-pair sorted-merge form bit-for-bit") {
    // blockedPairs derives J from shared-gram counts; the Column helpers
    // compute it per pair with the native sorted-merge intersect. Same
    // integer operands, same IEEE division — pair set AND doubles must be
    // identical.
    val pairs = NGramJaccard.blockedPairs(
        planted, col("doc_id"), col("text"), col("source"))
      .as[(Long, Long, Double)].collect().toSet
    val sets = planted.select(col("doc_id").as("id"), col("source"),
      NGramJaccard.ngramSet(col("text"), 3).as("grams"))
    val direct = sets.select(col("id").as("id_a"), col("source").as("src_a"), col("grams").as("ga"))
      .join(sets.select(col("id").as("id_b"), col("source").as("src_b"), col("grams").as("gb")),
        col("src_a") === col("src_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), NGramJaccard.jaccard(col("ga"), col("gb")).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs === direct)
    assert(pairs.nonEmpty)
  }

  test("prefix-filtered containment equals the per-pair sorted-merge form bit-for-bit") {
    val pairs = NGramJaccard.containmentPairs(
        planted, col("doc_id"), col("text"), col("source"))
      .as[(Long, Long, Double, Double)].collect().toSet
    val sets = planted.select(col("doc_id").as("id"), col("source"),
      NGramJaccard.ngramSet(col("text"), 3).as("grams"))
    val direct = sets.select(col("id").as("id_a"), col("source").as("src_a"), col("grams").as("ga"))
      .join(sets.select(col("id").as("id_b"), col("source").as("src_b"), col("grams").as("gb")),
        col("src_a") === col("src_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        NGramJaccard.containment(col("ga"), col("gb")).as("c_ab"),
        NGramJaccard.containment(col("gb"), col("ga")).as("c_ba"))
      .filter(col("c_ab") >= 0.8 || col("c_ba") >= 0.8)
      .as[(Long, Long, Double, Double)].collect().toSet
    graft.CachePool.releaseAll()
    assert(pairs === direct)
    assert(pairs.nonEmpty)
  }

  test("a planted stop-gram generates no candidates: the prefix filter prunes boilerplate") {
    // Every doc opens with the same 12-token boilerplate — its 10 trigrams
    // have df = #docs (pure stop-grams) — followed by a unique 20-token
    // tail. The pre-prefix inverted-index core formed all C(n,2) pairs
    // through the boilerplate grams (Σ m_g² — the VERDICT's 100 TB
    // scale-killer); the prefix core must generate candidates only where a
    // RARE gram is shared, because a stop-gram is last in df order and
    // never lands in a ⌈(1−t)·|A|⌉+1 prefix.
    val boiler = (1 to 12).map(i => s"same$i").mkString(" ")
    val base = (0 until 80).map { i =>
      (i.toLong, s"$boiler " + (0 until 20).map(j => s"u${i}_$j").mkString(" "), "blk")
    }
    // one true containment pair: doc 1000 extends doc 0 by 6 tokens, so
    // C(doc0 → doc1000) = 1.0 — its evidence grams (doc 0's tail) are rare.
    val sup = (1000L, base(0)._2 + " " + (0 until 6).map(j => s"x$j").mkString(" "), "blk")
    val docs = (base :+ sup).toDF("doc_id", "text", "source")

    val sets = NGramJaccard.gramSets(docs, col("doc_id"), col("text"), col("source"), n = 3)
    val cands = NGramJaccard
      .candidatePairs(sets, threshold = 0.8, symmetric = false, hotGramThreshold = 4096)
      .as[(Long, Long)].collect().toSet
    // every doc pair shares the boilerplate grams — the unpruned core
    // would form all C(81,2) = 3240 candidates.
    assert(cands.contains((0L, 1000L)), "the true pair must survive pruning")
    assert(cands.size <= 5, s"stop-gram candidates not pruned: ${cands.size} pairs formed")

    val result = NGramJaccard.containmentPairs(
        docs, col("doc_id"), col("text"), col("source"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.CachePool.releaseAll()
    assert(result === Set((0L, 1000L)))
  }

  test("hotBucketThreshold bounds an adversarial corpus where one band value covers half the docs") {
    // 100 IDENTICAL boilerplate docs (EVERY band value shared by all of
    // them — the worst case of 'one band value covers 50% of the corpus')
    // plus 100 distinct docs. With hotBucketThreshold = 8 the banded
    // self-join must tile each hot bucket into S = ceil(100/8) = 13
    // groups; with a huge threshold it runs the plain path. Results must
    // be identical, and the full identical cluster recovered either way.
    val n = 100
    val boiler = (1 to 40).map(i => s"b$i").mkString(" ")
    val rng = new scala.util.Random(3)
    val rows = (0 until n).map(i => (i.toLong, boiler)) ++
      (0 until n).map(i => ((1000 + i).toLong,
        (0 until 40).map(_ => s"w${rng.nextInt(5000)}").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    def run(thr: Int) = MinHashLsh.nearDuplicates(docs, col("doc_id"), col("text"),
        threshold = 0.5, hotBucketThreshold = thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val tiled = run(8)
    val plain = run(100000)
    graft.CachePool.releaseAll()
    assert(tiled === plain)
    val cluster = (for { a <- 0 until n; b <- (a + 1) until n }
      yield (a.toLong, b.toLong)).toSet
    assert(cluster.subsetOf(tiled), "the identical cluster must be fully recovered")

    // Task-size bound, verified with the tiling's own arithmetic: group =
    // xxhash64(id) mod S, so the largest join cell holds max-group² pairs.
    // For the 100-row hot bucket at S = 13 that is ~8²-ish instead of the
    // 100² a plain equi-join would give one task.
    val s = math.ceil(n.toDouble / 8).toInt
    val groupSizes = docs.filter(col("doc_id") < n)
      .select(pmod(xxhash64(col("doc_id")), lit(s.toLong)).as("grp"))
      .groupBy("grp").count().as[(Long, Long)].collect().map(_._2)
    assert(groupSizes.max <= 16, s"hash groups unbalanced: max=${groupSizes.max}")
    assert(groupSizes.max * groupSizes.max < (n.toLong * n) / 10,
      "per-cell pair work must be far below the unsplit bucket's n²")
  }

  test("DedupClusters closes chains, cliques and cycles to min-id components") {
    // chain 1-2-3-4 (1 and 4 never pair directly), clique {10,11,12},
    // cycle 20-21-22-20, isolated pair {30,31}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("id_a", "id_b")
    val comp = DedupClusters.components(pairs)
      .as[(Long, Long)].collect().toMap
    graft.CachePool.releaseAll()
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), "chain must close transitively")
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    assert(comp(30L) === 30L && comp(31L) === 30L)
    assert(comp.size === 12)
    assert(DedupClusters.components(pairs.limit(0)).count() === 0)

    val sizes = DedupClusters.clusterSizes(pairs)
      .as[(Long, Long)].collect().toMap
    graft.CachePool.releaseAll()
    assert(sizes === Map(1L -> 4L, 10L -> 3L, 20L -> 3L, 30L -> 2L))
  }

  test("star contraction matches min-label propagation on every graph shape") {
    // the same fixture as the components test...
    val fixture = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("id_a", "id_b")
    // ...a long chain (the adversarial high-diameter case this variant
    // exists for)...
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // ...and seeded random graphs over a sparse vertex space (mixed
    // density → forests, partial merges, multi-component shapes).
    val rng = new scala.util.Random(20260812L)
    val randoms = (0 until 5).map { _ =>
      val n = 40 + rng.nextInt(60)
      (0 until n).map { _ =>
        (rng.nextInt(200).toLong, rng.nextInt(200).toLong)
      }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    }
    (fixture +: chain +: randoms).foreach { pairs =>
      val expect = DedupClusters.components(pairs)
        .as[(Long, Long)].collect().toSet
      val got = DedupClusters.componentsStarContraction(pairs)
        .as[(Long, Long)].collect().toSet
      assert(got === expect)
    }
    assert(DedupClusters.componentsStarContraction(fixture.limit(0)).count() === 0)
    graft.CachePool.releaseAll()
  }

  test("fused star rounds match the textbook large/small-star edge set every round") {
    // The textbook phases (Kiveris et al.) over in-memory sets — the
    // algebra q_closure_scale's oracle replays. The engine's single round
    // runs on its own previous output and must produce the reference's
    // edge set in EVERY round, not only reach its fixpoint in the same
    // number of rounds; the full loop must then count the same rounds
    // and label every vertex with the reference fixpoint's stars.
    def largeStarRef(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val adj = e ++ e.map(p => (p._2, p._1))
      val m = adj.groupBy(_._1).map { case (u, es) =>
        u -> math.min(es.map(_._2).min, u) }
      adj.filter { case (u, v) => v > u }
        .map { case (u, v) => (v, m(u)) }.filter(p => p._1 != p._2)
    }
    def smallStarRef(e: Set[(Long, Long)]): Set[(Long, Long)] = {
      val oriented = e.map(p => (math.max(p._1, p._2), math.min(p._1, p._2)))
      val m = oriented.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
      (oriented.map { case (u, v) => (v, m(u)) } ++ m.toSet)
        .filter(p => p._1 != p._2)
    }
    def check(pairs: Seq[(Long, Long)]): Unit = {
      var ref = pairs.filter(p => p._1 != p._2).toSet
      val vertices = ref.flatMap(p => Seq(p._1, p._2))
      var engine = ref
      var rounds = 0
      var changed = true
      while (changed && rounds < 50) {
        val next = smallStarRef(largeStarRef(ref))
        val got = DedupClusters.starRound(engine.toSeq.toDF("u", "v"))
          .as[(Long, Long)].collect()
        rounds += 1
        assert(got.length === got.toSet.size, s"round $rounds emitted duplicate edges")
        assert(got.toSet === next, s"round $rounds diverged on pairs $pairs")
        changed = next != ref
        ref = next
        engine = got.toSet
      }
      assert(!changed, "reference did not converge")
      val (labels, engineRounds) = DedupClusters.starContractionCounted(
        pairs.toDF("id_a", "id_b"))
      assert(engineRounds === rounds, s"engine rounds diverged on pairs $pairs")
      val refLabels = vertices.map(x => x -> ref.collect { case (`x`, c) => c }
        .foldLeft(x)(math.min))
      assert(labels.as[(Long, Long)].collect().toSet === refLabels)
    }

    val chain = (0L until 80L).map(i => (i, i + 1))
    val fixture = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
    Seq(chain, fixture, Seq.empty, Seq((5L, 5L))).foreach(check)

    import org.scalacheck.{Gen, Prop, Test}
    val vertex = Gen.choose(0L, 40L)
    val piece = Gen.frequency(
      4 -> Gen.zip(vertex, vertex).map(Seq(_)), // self-loops included
      1 -> (for (k <- Gen.choose(3, 6); b <- vertex) // cliques
        yield for (i <- 0L until k; j <- i + 1 until k) yield (b + i, b + j)),
      1 -> Gen.choose(0L, 50L).map(i => Seq((1000L + 2 * i, 1001L + 2 * i)))) // isolated pairs
    val graphs = for {
      ps <- Gen.resize(15, Gen.listOf(piece)).map(_.flatten) // empty included
      again <- Gen.someOf(ps)
      flipped <- Gen.someOf(ps)
    } yield ps ++ again ++ flipped.map(_.swap) // duplicate and reversed pairs
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(10).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261017L)),
      Prop.forAllNoShrink(graphs) { ps => check(ps); true })
    graft.CachePool.releaseAll()
    assert(result.passed, result.status.toString)
  }

  test("star-contraction tallies are exact under result-task retries") {
    // A task-retry budget is fixed when the SparkContext starts, so the
    // probe runs on its own local[4,3] JVM: first attempts of result
    // tasks fail in the stage that tallies a round's edges, and in the
    // one task that runs the rounds of a small edge set.
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ jvm ++ Seq(
      "-Dspark.ui.enabled=false", "-cp", sys.props("java.class.path"),
      "graft.dedup.StarRetryProbe")
    val log, err = new StringBuilder
    val exit = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      line => log.append(line).append('\n'), line => err.append(line).append('\n')))
    assert(exit === 0, s"probe failed:\n$log${err.takeRight(4000)}")
    val got = log.toString.linesIterator.collect {
      case l if l.contains('=') => l.split("=", 2) match { case Array(k, v) => k -> v }
    }.toMap
    def long(key: String): Long = got.getOrElse(key, fail(s"probe printed no $key:\n$log")).toLong
    assert(long("tally_failed_tasks") > 0, "no tally task was retried")
    assert(long("tally_rows") === long("exact_rows"))
    assert(long("tally_fingerprint") === long("exact_fingerprint"))
    assert(long("star_failed_tasks") > 0 && long("components_failed_tasks") > 0)
    assert(got.get("star_same_labels").contains("true"))
    assert(long("star_rounds") === long("star_clean_rounds"))
    assert(got.get("components_same_labels").contains("true"))
    // the one-task path: its rounds, verdict and labels ride one result task
    assert(long("one_task_failed_tasks") > 0, "no one-task round was retried")
    assert(got.get("one_task_star_same_labels").contains("true"))
    assert(long("one_task_star_rounds") === long("star_clean_rounds"))
    assert(got.get("one_task_auto_same").contains("true"))
    assert(got.get("one_task_auto_escalated").contains("true"))
    assert(long("one_task_auto_rounds") === long("one_task_auto_clean_rounds"))
  }

  /** `body` with the advisory AQE partition size at one byte, so no
    * non-empty edge set fits one task and every round runs as a shuffle
    * round; the session's setting is restored afterwards.
    */
  private def distributed[T](body: => T): T = withAdvisory("1")(body)

  private def withAdvisory[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the Spark jobs it ran. A marker job after `body`
    * flushes the listener queue, which delivers events in order.
    */
  private def countingJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "graft.dedupspec.marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null)) flushed.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  private def labelSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  test("one-task rounds match the distributed rounds: edge sets, rounds, verdict, labels") {
    import org.scalacheck.{Gen, Prop, Test}
    val vertex = Gen.choose(0L, 60L)
    val piece = Gen.frequency(
      3 -> Gen.zip(vertex, vertex).map(Seq(_)), // self-pairs included
      1 -> (for (k <- Gen.choose(2, 30); b <- vertex) // chains
        yield (0L until k).map(i => (b + i, b + i + 1))),
      1 -> (for (k <- Gen.choose(2, 12); b <- vertex) // stars, hub at either end
        yield (1L to k).map(i => if (i % 2 == 0) (b, b + 7 * i) else (b + 7 * i, b))),
      1 -> (for (k <- Gen.choose(3, 6); b <- vertex) // cliques
        yield for (i <- 0L until k; j <- i + 1 until k) yield (b + i, b + j)),
      1 -> (for (k <- Gen.choose(3, 9); b <- vertex) // cycles
        yield (0L until k).map(i => (b + i, b + (i + 1) % k))))
    val graphs = for {
      ps <- Gen.resize(8, Gen.listOf(piece)).map(_.flatten) // empty included
      again <- Gen.someOf(ps)
      flipped <- Gen.someOf(ps)
      budget <- Gen.choose(1, 4)
    } yield (ps ++ again ++ flipped.map(_.swap), budget) // duplicate and reversed pairs

    def check(ps: Seq[(Long, Long)], budget: Int): Unit = {
      val pairs = ps.toDF("id_a", "id_b")
      // per round: the task's array round against the shuffle round
      var engine = ps.filter(p => p._1 != p._2).distinct
      val ids = LocalRounds.vertexIds(engine.map(_._1).toArray, engine.map(_._2).toArray)
      var local = LocalRounds.edgeSet(ids, engine.map(_._1).toArray, engine.map(_._2).toArray)
      var changed = true
      var rounds = 0
      while (changed) {
        val got = DedupClusters.starRound(engine.toDF("u", "v")).as[(Long, Long)].collect().toSet
        val next = LocalRounds.starRound(local)
        rounds += 1
        assert(LocalRounds.pairs(ids, next).toSet === got, s"round $rounds diverged on $ps")
        changed = got != engine.toSet
        engine = got.toSeq
        local = next
        assert(rounds < 50, s"no fixpoint on $ps")
      }
      val (oneTask, oneRounds) = DedupClusters.starContractionCounted(pairs)
      assert(oneRounds === rounds, s"one-task star rounds on $ps")
      val (autoOne, escOne, autoRoundsOne) =
        DedupClusters.componentsAutoCounted(pairs, propagationBudget = budget)
      val oneLabels = (labelSet(oneTask), labelSet(autoOne))
      val (dist, distLabels, escDist, autoRoundsDist) = distributed {
        val (d, r) = DedupClusters.starContractionCounted(pairs)
        val (a, e, ar) = DedupClusters.componentsAutoCounted(pairs, propagationBudget = budget)
        (r, (labelSet(d), labelSet(a)), e, ar)
      }
      graft.CachePool.releaseAll()
      assert(dist === rounds, s"distributed star rounds on $ps")
      assert(escOne === escDist, s"propagation verdict at budget $budget on $ps")
      assert(autoRoundsOne === autoRoundsDist, s"auto star rounds on $ps")
      assert(oneLabels === distLabels, s"labels on $ps")
    }

    // the empty graph fits one task at any bound; its fixed point is known
    check(Seq.empty, 2)
    val (empty, emptyRounds) = DedupClusters.starContractionCounted(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(emptyRounds === 1 && empty.count() === 0)
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)),
      Prop.forAllNoShrink(graphs) { case (ps, budget) => check(ps, budget); true })
    graft.CachePool.releaseAll()
    assert(result.passed, result.status.toString)
  }

  test("star rounds hand off to one task when the edge set shrinks under the bound") {
    // a 16-clique (120 edges) collapses to a 15-edge star in one round;
    // with a 60-edge chain the edge set starts at 180 rows and drops
    // under a 120-row bound mid-loop
    val pairs = ((for (i <- 0L until 16L; j <- i + 1 until 16L) yield (i, j)) ++
      (100L until 160L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val ((all, allRounds), allJobs) = countingJobs(distributed {
      val (l, r) = DedupClusters.starContractionCounted(pairs)
      (labelSet(l), r)
    })
    val ((mixed, mixedRounds), mixedJobs) = countingJobs(withAdvisory((120 * 24).toString) {
      val (l, r) = DedupClusters.starContractionCounted(pairs)
      (labelSet(l), r)
    })
    val ((_, oneRounds), oneJobs) = countingJobs {
      val (l, r) = DedupClusters.starContractionCounted(pairs)
      (labelSet(l), r)
    }
    graft.CachePool.releaseAll()
    assert(mixedRounds === allRounds && oneRounds === allRounds)
    assert(mixed === all)
    assert(all === ((0L until 16L).map(i => (i, 0L)) ++ (100L to 160L).map(i => (i, 100L))).toSet)
    assert(oneJobs < mixedJobs && mixedJobs < allJobs,
      s"one task $oneJobs, hand-off $mixedJobs, distributed $allJobs jobs: no hand-off")
  }

  test("componentsAutoCounted on a 249-edge chain runs at most 10 jobs") {
    // the q_closure_scale shape: propagation cannot converge in budget 4,
    // star contraction takes the rest; both fit one task each. Either
    // way, every round frame but the one the labels read is freed as
    // soon as its successor is materialized.
    val chain = (0L until 249L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    def run(): ((Set[(Long, Long)], Boolean, Int), Int) = {
      val pinned = sc.getPersistentRDDs.size
      val (l, e, r) = DedupClusters.componentsAutoCounted(chain, propagationBudget = 4)
      ((labelSet(l), e, r), sc.getPersistentRDDs.size - pinned)
    }
    val ((one, onePinned), jobs) = countingJobs(run())
    val (dist, distPinned) = distributed(run())
    graft.CachePool.releaseAll()
    assert(one === dist)
    assert(one === (((0L to 249L).map((_, 0L)).toSet, true, 9)))
    assert(jobs <= 10, s"componentsAutoCounted ran $jobs jobs")
    assert(onePinned <= 1 && distPinned <= 1,
      s"round frames left cached: one task $onePinned, distributed $distPinned")
  }

  test("reliable checkpointing yields identical components to localCheckpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (30L, 31L)).toDF("id_a", "id_b")
    try {
      val local = DedupClusters.components(pairs).as[(Long, Long)].collect().toSet
      val reliable = DedupClusters.components(pairs, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toSet
      assert(reliable === local)
      // the reliable path really wrote checkpoint files into the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpointing must materialize files")
      val star = DedupClusters.componentsStarContraction(pairs, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toSet
      assert(star === local)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("non-convergence throws instead of returning truncated labels; auto escalates") {
    // a 200-vertex chain cannot converge in 1 round for either variant
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      DedupClusters.components(chain, maxIter = 1)
    }
    intercept[IllegalStateException] {
      DedupClusters.componentsStarContraction(chain, maxIter = 1)
    }
    // componentsAuto with a tiny propagation budget escalates to star
    // contraction and still produces the full closure
    val auto = DedupClusters.componentsAuto(chain, propagationBudget = 2)
      .as[(Long, Long)].collect().toSet
    assert(auto === (0L to 200L).map(i => (i, 0L)).toSet)
    graft.CachePool.releaseAll()
  }

  test("q_closure_scale's oracle unroll keeps margin over the measured round count") {
    // the oracle replays exactly 18 star-contraction rounds; the chain's
    // measured fixpoint (10 rounds at n=500, 14 at n=5000 — ~log2 n + 2)
    // must stay 2+ rounds inside that unroll, so a data-scale bump fails
    // HERE with a clear message instead of a NULL rounds_star mismatch.
    // Checked against the LARGEST benched sf's documents table — that is
    // where the margin is thinnest (sf0.001's n=500 sits 8 rounds clear)
    val docs = graft.GraftSession.table(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id")
    val chain = docs.filter(col("doc_id") > 0)
      .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))
    val (labels, escalated, rounds) =
      DedupClusters.componentsAutoCounted(chain, propagationBudget = 4)
    val labs = labels.as[(Long, Long)].collect()
    graft.CachePool.releaseAll()
    assert(escalated, "a diameter-(n-1) chain must escalate at budget 4")
    assert(rounds <= 16,
      s"star contraction took $rounds rounds — within 2 of the oracle's 18-round " +
        "unroll; raise the unroll in closureScaleOracle before benching this sf")
    assert(labs.forall(_._2 === 0L), "every chain vertex must label to the min id")
  }

  test("withPlantedVecDups scales by a POWER OF TWO (the determinism contract)") {
    // Several oracle-pinned gates (q_knn_append cells_ok, q_semdedup
    // co-clustering, the LSH sign-pattern guarantee) are exact ONLY
    // because the planted scale is dyadic: float x*0.5f is an exponent
    // decrement, so dot products scale exactly and argmax/sign never
    // move. A non-dyadic factor would make those equalities flaky on
    // near-ties — this pin forces whoever changes the factor to revisit
    // every gate that leans on it (see q_knn_append's comment).
    val orig = table("embeddings").filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val copies = DedupData.withPlantedVecDups(table("embeddings"))
      .filter(col("vec_id") >= DedupData.ExactIdOffset)
      .select((col("vec_id") - DedupData.ExactIdOffset).as("vec_id"),
        col("embedding").as("copy_emb"))
    val mismatch = orig.join(copies, "vec_id")
      .filter(!forall(zip_with(col("embedding"), col("copy_emb"),
        (a, b) => b === a * lit(0.5f)), x => x))
      .count()
    assert(mismatch === 0L, "every planted copy must be exactly 0.5f x its original")
  }

  test("EmbeddingDedup finds every planted scaled copy and nothing else") {
    val vecs = DedupData.withPlantedVecDups(table("embeddings"))
    val pairs = EmbeddingDedup.nearDuplicatePairs(vecs, threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    val vecIds = table("embeddings").filter(col("vec_id") % 5 === 0)
      .select("vec_id").as[Long].collect().toSet
    assert(pairs === vecIds.map(i => (i, i + DedupData.ExactIdOffset)))
  }

  test("LSH-blocked embedding dedup recovers the all-pairs result (scaled copies share buckets)") {
    val vecs = DedupData.withPlantedVecDups(table("embeddings"))
    val allPairs = EmbeddingDedup.nearDuplicatePairs(vecs, threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    val lshPairs = EmbeddingDedup.nearDuplicatePairsLsh(vecs, threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    // LSH can only lose candidates, never invent them; scaled copies have
    // identical sign patterns so every planted pair survives blocking.
    assert(lshPairs === allPairs)
  }

  test("nearDuplicatePairsLsh with a planted HOT bucket: tiled path equals the exact form") {
    // 150 positive-scaled copies of one vector: scaling by c > 0 preserves
    // every hyperplane sign EXACTLY (IEEE sign of c·x = sign of x), so all
    // 150 land in the same (round, bkt) key in every round — precisely the
    // hot bucket the VERDICT flagged: the biggest duplicate cluster IS the
    // hot key, and a plain equi-join would hand its m² pairs to one task.
    // hotBucketThreshold = 32 forces the triangle tiling; the result must
    // be bit-identical to the exact all-pairs form and to the untiled path.
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian().toFloat)
    val cluster = (0 until 150).map { i =>
      (i.toLong, base.map(x => x * (0.3f + 0.004f * i)))
    }
    val noise = (1000 until 1040).map { i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat))
    }
    val vecs = (cluster ++ noise).toDF("vec_id", "embedding")
    val exact = EmbeddingDedup.nearDuplicatePairs(vecs, threshold = 0.9)
      .as[(Long, Long)].collect().toSet
    val tiled = EmbeddingDedup
      .nearDuplicatePairsLsh(vecs, threshold = 0.9, hotBucketThreshold = 32)
      .as[(Long, Long)].collect().toSet
    val untiled = EmbeddingDedup
      .nearDuplicatePairsLsh(vecs, threshold = 0.9, hotBucketThreshold = 1000000)
      .as[(Long, Long)].collect().toSet
    graft.CachePool.releaseAll()
    // the cluster is fully pairwise near-dup: the hot key really has
    // 150 rows > threshold 32, so the tiling genuinely engaged.
    assert(exact.size >= 150 * 149 / 2)
    assert(tiled === exact)
    assert(untiled === tiled)
  }
}
