package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-wide vocabulary statistics — the precursor every tokenizer /
  * BPE-vocabulary induction run starts from: for each term, its total
  * occurrence count and its document frequency, capped to the k most
  * frequent terms. (BPE for subword tokenization: Sennrich, Haddow &
  * Birch, ACL 2016; byte-level seeding: Radford et al. 2019, GPT-2.)
  *
  * Scale shape: the exploded (doc_id, term) frame is corpus-token-sized
  * but never materialized — it flows straight into a hash aggregate keyed
  * on term. `count_distinct(doc_id)` plans as the two-phase expand
  * (partial on (term, doc_id), then count) — both phases map-side
  * combinable; the cap is a `TakeOrderedAndProject` (bounded k rows per
  * partition reach the driver), NEVER a global sort of the vocabulary.
  * For the sketch form of distinct counting at extreme cardinality, see
  * [[graft.analytics.Stats.ndvSketch]].
  */
object Vocab {

  /** (term, n_occ, df) for the k most frequent terms, occurrence-ranked
    * with a term tie-break.
    */
  def topTerms(docs: DataFrame, id: Column, text: Column, k: Int): DataFrame =
    docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n_occ"), count_distinct(col("doc_id")).as("df"))
      .orderBy(col("n_occ").desc, col("term"))
      .limit(k)

  /** The first BPE-induction step: adjacent character-pair frequencies
    * over the word vocabulary, each pair weighted by its word's corpus
    * occurrence count — the statistic whose argmax is the first merge
    * rule. Classic BPE iterates this driver-side over the (bounded)
    * vocabulary; the EXPENSIVE part at 100 TB is the word count itself,
    * which is [[topTerms]]' distributed agg. Here the pair explode runs
    * over the top-`topWords` words only (bounded rows × bounded term
    * length), so the whole statistic stays one short plan: vocab agg →
    * per-word pair explode → pair agg → `TakeOrderedAndProject` cap.
    *
    * Single-character words contribute no pairs (the `length >= 2` guard
    * matters: Spark's `sequence(1, 0)` counts DOWN, it is not empty).
    */
  def mergePairStats(docs: DataFrame, id: Column, text: Column,
                     topWords: Int, k: Int): DataFrame = {
    val words = topTerms(docs, id, text, topWords)
    val pairs = when(length(col("term")) < 2, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), length(col("term")) - 1),
        i => col("term").substr(i, lit(2))))
    words.select(explode(pairs).as("pair"), col("n_occ"))
      .groupBy("pair")
      .agg(sum(col("n_occ")).as("n_weighted"))
      .orderBy(col("n_weighted").desc, col("pair"))
      .limit(k)
  }

  /** The full BPE merge LOOP: greedy argmax-pair merges over the
    * occurrence-weighted vocabulary. The distributed part is the word
    * count ([[topTerms]] — the only pass over the corpus); the per-merge
    * iteration then runs DRIVER-SIDE over the collected vocabulary — a
    * bounded-by-construction collect (≤ topWords rows), the same contract
    * as the ANN sample fits, and exactly how production tokenizer
    * training consumes a corpus. Deterministic: ties break on (left,
    * right) lexicographic; within a word, merges apply left to right.
    *
    * Output: (rank, left, right, merged, weight) for `nMerges` rows (or
    * fewer if the vocabulary exhausts), rank-ordered. `weight` — the
    * merged pair's weighted count at selection time — is non-increasing
    * in rank: every instance of a NEW pair created by a merge contains
    * that merge's instance, so no later count can exceed an earlier max.
    */
  def bpeMerges(docs: DataFrame, id: Column, text: Column,
                topWords: Int, nMerges: Int,
                byteLevel: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergeTable(docs, id, text, topWords, nMerges, byteLevel).toDF().orderBy("rank")
  }

  /** One merge rule of [[bpeMergeTable]]. */
  final case class BpeMerge(rank: Int, left: String, right: String, merged: String, weight: Long) {
    def pair: (String, String) = (left, right)
  }

  /** [[bpeMerges]]' rows, rank-ordered, as the driver-side table the loop
    * builds. The encode consumers take this form: sending the table
    * through Spark only to collect it back costs a job per stage.
    */
  def bpeMergeTable(docs: DataFrame, id: Column, text: Column,
                    topWords: Int, nMerges: Int,
                    byteLevel: Boolean = false): Seq[BpeMerge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words: Array[(String, Long)] = topTerms(docs, id, text, topWords)
      .select("term", "n_occ").as[(String, Long)].collect()

    // byte level seeds UTF-8 bytes as chars 0-255 (pairs with
    // BpeExprs.encodeCountBytes); on ASCII corpora the two levels train
    // identical tables. Distinct words stay distinct as symbol vectors
    // (concatenation recovers the word), so a plain map keeps counts
    // intact.
    def seed(w: String): Vector[String] =
      if (byteLevel)
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => String.valueOf((b & 0xFF).toChar)).toVector
      else w.map(_.toString).toVector
    var vocab: Array[(Vector[String], Long)] =
      words.map { case (w, c) => (seed(w), c) }

    def mergeWord(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }

    val merges = Seq.newBuilder[BpeMerge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        merges += BpeMerge(rank, l, r, l + r, cnt)
        vocab = vocab.map { case (syms, c) => (mergeWord(syms, l, r), c) }
        rank += 1
      }
    }
    merges.result()
  }
}
