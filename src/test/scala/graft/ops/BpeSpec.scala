package graft.ops

import org.apache.spark.sql.functions._
import graft.etl.SparkSpec

/** BPE merge-learning contracts: classic merge sequence, overlap
  * semantics, deterministic tie-breaks, partitioning independence. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  test("learnMerges: the classic low/lower/lowest sequence, early stop") {
    val d = corpus("low low low lower lowest")
    val (merges, _) = Bpe.learnMerges(d, 8)
    // (l,o) ties (o,w) at 5 → lexicographic; then the chain collapses
    // every word and round 7 finds no pairs left.
    assert(merges.map(m => (m.left, m.right, m.count)) == Seq(
      ("l", "o", 5L), ("lo", "w", 5L), ("low", "e", 2L),
      ("lowe", "r", 1L), ("lowe", "s", 1L), ("lowes", "t", 1L)))
    assert(merges.map(_.rank) == (1 to 6))
    Dedup.releaseCaches()
  }

  test("pair counting overlaps; merge application does not") {
    // "aaaa" contributes (a,a) three times per occurrence, but the
    // left-to-right greedy replace yields aa|aa (never aa|a|a… drift).
    val d = corpus("aaaa aaaa")
    val (merges, vocab) = Bpe.learnMerges(d, 2)
    assert(merges.head.left == "a" && merges.head.right == "a"
      && merges.head.count == 6L)
    assert(merges(1).left == "aa" && merges(1).right == "aa"
      && merges(1).count == 2L)
    val ws = vocab.select("ws").as[String].collect().head
    assert(ws == s"${Bpe.Sep}aaaa${Bpe.Sep}")
    Dedup.releaseCaches()
  }

  test("merge selection is partitioning-independent") {
    val d = corpus("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "the five boxing wizards jump quickly")
    val (m1, _) = Bpe.learnMerges(d.repartition(1), 5)
    val (m7, _) = Bpe.learnMerges(d.repartition(7), 5)
    assert(m1 == m7)
    Dedup.releaseCaches()
  }

  test("compressionProfile: occurrence-weighted symbols per word length") {
    val d = corpus("low low low lower lowest")
    val (_, vocab) = Bpe.learnMerges(d, 8)
    val prof = Bpe.compressionProfile(vocab)
      .orderBy("word_len").collect()
    // every word fully merged to one symbol by round 6
    assert(prof.map(r => (r.getAs[Int]("word_len"), r.getAs[Long]("n_words"),
      r.getAs[Long]("occurrences"), r.getAs[Long]("n_syms"),
      r.getAs[Double]("avg_syms"))).toSeq == Seq(
      (3, 1L, 3L, 3L, 1.0), (5, 1L, 1L, 1L, 1.0), (6, 1L, 1L, 1L, 1.0)))
    Dedup.releaseCaches()
  }

  test("apply: merged vocab joins back to per-doc post-BPE token counts") {
    // after learning on "low low low lower lowest", every word is one
    // symbol — a doc "low lowest X9" has 2 gated words, 2 BPE tokens
    val d = corpus("low low low lower lowest")
    val (_, vocab) = Bpe.learnMerges(d, 8)
    val wordSyms = vocab.select(col("word"),
      size(split(expr(s"btrim(ws, '${Bpe.Sep}')"),
        s"${Bpe.Sep}${Bpe.Sep}")).cast("long").as("syms"))
    val target = Seq((99L, "low lowest X9")).toDF("doc_id", "text")
    val r = target
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .where(col("word").rlike("^[a-z]+$") && length(col("word")) <= 20)
      .join(wordSyms, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("syms").as("n_bpe_tokens"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((99L, 2L, 2L)))
    Dedup.releaseCaches()
  }

  test("word table gates the alphabet: case folds, non-a-z words drop") {
    val d = corpus("Hello WORLD x9 a-b keep keep")
    val words = Bpe.wordTable(d).orderBy("word")
      .select("word", "cnt").as[(String, Long)].collect().toSeq
    assert(words == Seq(("hello", 1L), ("keep", 2L), ("world", 1L)))
  }

  test("vocabIdTable: base a-z then merge ranks; duplicate surface " +
      "strings keep the earliest id") {
    // (a,bc) at rank 2 and (ab,c) at rank 3 both surface as "abc" —
    // the symbol→id map must stay a function (lowest id wins)
    val merges = Seq(Bpe.Merge(1, "b", "c", 9L),
      Bpe.Merge(2, "a", "bc", 5L), Bpe.Merge(3, "ab", "c", 4L))
    val t = Bpe.vocabIdTable(spark, merges)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(t.take(3) == Seq((0L, "a"), (1L, "b"), (2L, "c")))
    assert(t.filter(_._1 >= 26L) == Seq((26L, "bc"), (27L, "abc")))
    assert(t.map(_._2).distinct.length == t.length)
  }

  test("applyMerges reproduces learnMerges' final vocab; encodeIds " +
      "emits the id-encoded corpus in document order") {
    val d = corpus("low low low lower lowest")
    val (merges, learned) = Bpe.learnMerges(d, 8)
    val replayed = Bpe.applyMerges(d, merges)
    val a = learned.select("word", "ws").as[(String, String)]
      .collect().toSeq.sorted
    val b = replayed.select("word", "ws").as[(String, String)]
      .collect().toSeq.sorted
    assert(a == b)
    // widx is the original 1-based split position (posexplode runs
    // before the gate), so skipped "X9" leaves a hole at widx 2; both
    // trained words collapse to single symbols ("low" = rank 2 →
    // id 27, "lowest" = rank 6 → id 31)
    val enc = Bpe.encodeIds(spark,
      Seq((7L, "low X9 lowest")).toDF("doc_id", "text"), merges)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(enc == Seq((7L, 1L, 1L, 27L), (7L, 3L, 1L, 31L)))
    Dedup.releaseCaches()
  }

  test("bpeIds head_ids: true first-8 gated tokens even when the " +
      "leading whitespace positions are ungated (r16 ADVICE fix)") {
    // widx numbers ALL whitespace-split positions, so the 9 ungated
    // leaders (digits / punctuation / >20 chars) push every gated
    // word past widx 8 — the r15 `widx <= 8` buffer bound collected
    // NOTHING here while the oracle takes the true first 8 tokens.
    val dir = tempDir("bpehead").toString
    val text = "1 2 3 4 5 6 7 8 overlongwordpastthetwentychargate " +
      "low lower lowest low lower lowest low low lower"
    Seq((1L, text), (2L, "low lowest")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.BpeQueries.bpeIds(spark, dir)
      .select("doc_id", "head_ids").as[(Long, String)]
      .collect().toMap
    // ground truth: the id stream in (widx, sidx) order, first 8 —
    // learnMerges on the same docs at the query's K reproduces the
    // merge sequence bpeIds trains via the artifact store
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val stream = Bpe.encodeIds(spark, docsDf,
      Bpe.learnMerges(docsDf, graft.queries.BpeQueries.K)._1)
      .as[(Long, Long, Long, Long)].collect()
    def first8(doc: Long): String =
      stream.filter(_._1 == doc).sortBy(t => (t._2, t._3))
        .take(8).map(_._4).mkString(",")
    assert(out(1L) == first8(1L))
    assert(out(1L).nonEmpty, "gated tokens past widx 8 must appear")
    assert(out(2L) == first8(2L))
    Dedup.releaseCaches()
  }

  test("MergesArtifact round-trips; truncated ranks are rejected") {
    val d = corpus("low low low lower lowest")
    val (merges, _) = Bpe.learnMerges(d, 4)
    val dir = tempDir("bpe-art").toString
    Bpe.MergesArtifact.save(spark, merges, s"$dir/m")
    assert(Bpe.MergesArtifact.load(spark, s"$dir/m") == merges)
    // drop rank 2 → contiguity check must fail loudly
    Bpe.MergesArtifact.save(spark, merges.filterNot(_.rank == 2), s"$dir/bad")
    intercept[IllegalArgumentException] {
      Bpe.MergesArtifact.load(spark, s"$dir/bad")
    }
    Dedup.releaseCaches()
  }
}
