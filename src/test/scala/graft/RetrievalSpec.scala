package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextAnalysis
import graft.tables.Tables

/** BM25 ranked retrieval (t17): semantics on planted corpora plus the
  * scale-shape plan assertions (broadcast query vocabulary before the
  * tf aggregation; top-k via the rewritten graft_topk aggregate).
  */
class RetrievalSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  test("a document saturated with the query term ranks first") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha alpha alpha alpha"),
      (3L, "beta gamma delta epsilon"),
      (4L, "zeta eta theta iota")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "text", "doc_id",
        Seq(0L -> "alpha"), k = 10)
      .orderBy("rank").collect()
    // docs 1 and 2 contain 'alpha'; 2 has higher tf at equal length
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 1L))
    assert(got.head.getDouble(2) > got.last.getDouble(2))
  }

  test("terms absent from the corpus contribute nothing; absent-only queries return no rows") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val both = TextAnalysis.bm25Search(docs, "text", "doc_id",
      Seq(0L -> "alpha missingterm", 1L -> "missingterm"), k = 5).collect()
    assert(both.forall(_.getLong(0) == 0L), "absent-only query must yield no rows")
    val clean = TextAnalysis.bm25Search(docs, "text", "doc_id",
      Seq(0L -> "alpha"), k = 5).collect()
    // the df=0 term changes nothing for the query that also has a real term
    assert(both.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      clean.map(r => (r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("rarer terms outscore common ones at equal tf (idf ordering)") {
    val docs = Seq(
      (1L, "common rare"), (2L, "common other"), (3L, "common filler"),
      (4L, "common words"), (5L, "unrelated stuff")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, "text", "doc_id",
        Seq(0L -> "rare", 1L -> "common"), k = 1)
      .orderBy("query_id").collect()
    assert(got(0).getDouble(2) > got(1).getDouble(2),
      s"rare-term hit should outscore common-term hit: ${got.toSeq}")
  }

  test("lmScore: out-of-domain text scores higher nll than in-domain text") {
    val train = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"),
      (3L, "a cat and a dog sat")).toDF("doc_id", "text")
    val docs = Seq((10L, "the cat sat"), (11L, "zx qq vv ww")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(train, docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    val inDomain = got(0).getDouble(2)
    val outDomain = got(1).getDouble(2)
    assert(outDomain > inDomain,
      s"unseen-vocab doc must be more surprising: $outDomain vs $inDomain")
    assert(inDomain > 0.0 && got(0).getLong(1) == 3L && got(1).getLong(1) == 4L)
  }

  test("lmScore: unseen tokens get the smoothed floor probability, not -inf") {
    val train = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val docs = Seq((10L, "gamma gamma")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScore(train, docs, "text", "doc_id").collect()
    // P(unseen) = 0.5 / (2 + 0.5*3) = 1/7 → nll = ln 7
    assert(got.length == 1)
    assert(math.abs(got(0).getDouble(2) - math.log(7.0)) < 1e-3)
  }

  test("lmScore: empty/whitespace docs produce no row; model join respects broadcastModel=false") {
    val train = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val docs = Seq((10L, "alpha"), (11L, "   "), (12L, "")).toDF("doc_id", "text")
    val broad = TextAnalysis.lmScore(train, docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(broad.map(_.getLong(0)).toSeq == Seq(10L))
    val shuffled = TextAnalysis.lmScore(train, docs, "text", "doc_id",
      broadcastModel = false).orderBy("doc_id").collect()
    assert(broad.map(_.toString).toSeq == shuffled.map(_.toString).toSeq)
  }

  test("lmScoreBigram: word order matters — scrambled doc scores higher nll than in-order doc") {
    // same unigram multiset in both docs → identical t18 score; only
    // the bigram model can tell them apart
    val train = Seq((1L, "a b c a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val docs = Seq((10L, "a b c"), (11L, "c b a")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreBigram(train, docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(got.length == 2 && got(0).getLong(1) == 2L && got(1).getLong(1) == 2L)
    assert(got(0).getDouble(2) < got(1).getDouble(2),
      s"in-order transitions must be less surprising: ${got.toSeq}")
  }

  test("lmScoreBigram: hand-computed interpolated probabilities") {
    val train = Seq((1L, "a b")).toDF("doc_id", "text")
    // seen transition: 0.7·(1/1) + 0.3·((1+0.5)/(2+0.5·3)) = 0.7 + 0.3·3/7
    val seen = TextAnalysis.lmScoreBigram(train,
      Seq((10L, "a b")).toDF("doc_id", "text"), "text", "doc_id").collect()
    assert(seen.length == 1)
    assert(math.abs(seen(0).getDouble(2) - -math.log(0.7 + 0.3 * 3.0 / 7.0)) < 1e-3)
    // unseen context: ML term 0 → 0.3·(0.5/3.5)
    val unseen = TextAnalysis.lmScoreBigram(train,
      Seq((11L, "z z")).toDF("doc_id", "text"), "text", "doc_id").collect()
    assert(unseen.length == 1)
    assert(math.abs(unseen(0).getDouble(2) - -math.log(0.3 * 0.5 / 3.5)) < 1e-3)
  }

  test("lmScoreBigram: docs with fewer than two tokens produce no row; broadcastModel=false parity") {
    val train = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val docs = Seq((10L, "alpha beta"), (11L, "alpha"), (12L, "   "), (13L, ""))
      .toDF("doc_id", "text")
    val broad = TextAnalysis.lmScoreBigram(train, docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(broad.map(_.getLong(0)).toSeq == Seq(10L))
    val shuffled = TextAnalysis.lmScoreBigram(train, docs, "text", "doc_id",
      broadcastModel = false).orderBy("doc_id").collect()
    assert(broad.map(_.toString).toSeq == shuffled.map(_.toString).toSeq)
  }

  test("persisted bucketed index: scores identical to ad-hoc search; postings side exchange-free") {
    val docs = Tables(spark, sfDir).documents
    val queries = Seq(0L -> "spark window merge", 1L -> "customer join filter")
    val (postings, stats) = TextAnalysis.bm25Index(docs, "text", "doc_id")
    graft.sources.Sources.writeBucketed(postings, "bm25_idx_t", Seq("term"), 8)
    try {
      val table = graft.sources.Sources.readTable(spark, "bm25_idx_t")
      val indexed = TextAnalysis.bm25SearchIndexed(table, stats, queries, k = 10)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      val adhoc = TextAnalysis.bm25Search(docs, "text", "doc_id", queries, k = 10)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      assert(indexed.nonEmpty && indexed == adhoc)
      // the per-term df aggregation — the only corpus-sized shuffle
      // left at query time — plans with NO exchange over the bucketed
      // postings: repeated query workloads never reshuffle the index
      val dfs = table.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      dfs.collect()
      val p = dfs.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"df aggregation over bucketed postings must not shuffle:\n$p")
    } finally spark.sql("DROP TABLE IF EXISTS bm25_idx_t")
  }

  test("plan: query vocabulary broadcast before tf agg; top-k replanned as graft_topk") {
    val df = TextAnalysis.bm25Search(Tables(spark, sfDir).documents, "text",
      "doc_id", Seq(0L -> "spark window", 1L -> "customer join"), k = 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in plan:\n$p")
    assert(p.contains("partial_graft_topk"), s"top-k not rewritten to graft_topk:\n$p")
    assert(!p.contains("Window"), s"window survived in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
  }

  test("bpeTrain: hand-traced merge trajectory incl. overlap greediness, " +
      "corpus weighting, tie-break, and the vocabulary running dry") {
    import spark.implicits._
    // words: aa x1, ab x2, aaa x1. Round 1: (a,a) = 1 + 2 (aaa has TWO
    // overlapping pairs) = 3 beats (a,b) = 2. Greedy application turns
    // aaa into [aa, a] (leftmost), NOT [a, aa]. Round 2: (a,b) = 2.
    // Round 3: (aa,a) = 1. Round 4+: vocabulary dry -> 3 rows only.
    val docs = Seq("aa ab", "ab", "aaa").toDF("text")
    val got = TextAnalysis.bpeTrain(docs, "text", merges = 10)
      .orderBy("step")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == Seq((1, "a", "a", 3L), (2, "a", "b", 2L), (3, "aa", "a", 1L)),
      s"trajectory mismatch: $got")
    // lexicographic tie-break: (a,b) and (b,a) both count 1 -> (a,b) first
    val tie = Seq("ab", "ba").toDF("text")
    val t1 = TextAnalysis.bpeTrain(tie, "text", merges = 1).collect()(0)
    assert((t1.getString(1), t1.getString(2)) == (("a", "b")), s"tie-break: $t1")
  }

  test("bpeSegment: piece vocabulary reflects the replayed merges, " +
      "corpus-weighted") {
    import spark.implicits._
    val docs = Seq("aa ab", "ab", "aaa").toDF("text")
    // merges=2 learns (a,a) then (a,b): aa->[aa], ab->[ab] x2,
    // aaa->[aa,a] -> pieces a:1, aa:2, ab:2
    val got2 = TextAnalysis.bpeSegment(docs, "text", merges = 2)
      .orderBy("piece").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got2 == Seq(("a", 1L), ("aa", 2L), ("ab", 2L)), s"merges=2: $got2")
    // merges=3 additionally learns (aa,a): aaa collapses to one piece
    val got3 = TextAnalysis.bpeSegment(docs, "text", merges = 3)
      .orderBy("piece").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got3 == Seq(("aa", 1L), ("aaa", 1L), ("ab", 2L)), s"merges=3: $got3")
  }

  test("unigramLmTrain: hand-traced EM — whole-word pieces win Viterbi, " +
      "unused multis prune, the alphabet keeps a smoothed floor") {
    import spark.implicits._
    def lp(x: Double): Double = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    // words: ab x3, abc x1. Seed pieces: a(4) b(4) ab(4) c(1) bc(1)
    // abc(1), total 15. Viterbi round 1: 'ab' -> [ab] (one piece beats
    // a|b), 'abc' -> [abc] (beats ab|c and a|bc). Counts: ab=3, abc=1;
    // 'bc' is never used -> PRUNED; chars keep the +0.5 floor.
    // Smoothed total = 3 + 1 + 3*0.5 = 5.5; round 2 re-segments the
    // same way, so the trajectory is a fixed point from round 1.
    val docs = Seq("ab ab ab abc").toDF("text")
    val got = TextAnalysis.unigramLmTrain(docs, "text")
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val charLp = lp(0.5 / 5.5)
    assert(got == Seq(
      ("a", 0L, charLp), ("ab", 3L, lp(3.0 / 5.5)), ("abc", 1L, lp(1.0 / 5.5)),
      ("b", 0L, charLp), ("c", 0L, charLp)), s"trajectory mismatch: $got")
    // determinism: a re-run reproduces the table exactly
    val again = TextAnalysis.unigramLmTrain(docs, "text")
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(again == got)
  }

  test("unigramLmTrain: target-vocab pruning — hand-traced shrink keeps " +
      "top multis by count, forces re-segmentation, alphabet exempt") {
    import spark.implicits._
    def lp(x: Double): Double = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    // words: ab x3, cd x2 -> seed a3 b3 ab3 c2 d2 cd2 (total 15).
    // Round 1 Viterbi: 'ab'->[ab], 'cd'->[cd]; counts ab=3, cd=2.
    // Prune (vocabSize=1, shrink=0.5): n_multis=2, keep
    // max(1, ceil(2*0.5)) = 1 -> 'ab' survives (cnt desc), 'cd' is
    // PRUNED despite nonzero usage — the target-size step, not the
    // usage-0 one. Smoothed total 3 + 4*0.5 = 5.
    // Round 2: 'ab'->[ab]; 'cd' must RE-SEGMENT as [c][d] (cd gone
    // from the model). Counts ab=3 c=2 d=2; n_multis=1, keep 1.
    // cs total = 3 + 2.5 + 2.5 + 0.5 + 0.5 = 9.
    val docs = Seq("ab ab ab cd cd").toDF("text")
    val got = TextAnalysis.unigramLmTrain(docs, "text", vocabSize = 1, shrinkFactor = 0.5)
      .orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(
      ("a", 0L, lp(0.5 / 9)), ("ab", 3L, lp(3.0 / 9)), ("b", 0L, lp(0.5 / 9)),
      ("c", 2L, lp(2.5 / 9)), ("d", 2L, lp(2.5 / 9))),
      s"pruned trajectory: $got")
    // without a target, the same corpus keeps 'cd' (usage-0 pruning
    // only — the legacy t37 trajectory is untouched by the new knob)
    val noTarget = TextAnalysis.unigramLmTrain(docs, "text")
      .orderBy("piece").collect().map(_.getString(0)).toSeq
    assert(noTarget.contains("cd"), s"no-target vocab: $noTarget")
  }

  test("unigramLmTrain fails loud on an all-empty train corpus") {
    import spark.implicits._
    // an accidentally empty train split must not train a silent empty
    // vocabulary that verdicts every downstream word UNK (ADVICE r09)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.unigramLmTrain(Seq("", "   ").toDF("text"), "text")
    }
    assert(e.getMessage.contains("ZERO words"), e.getMessage)
  }

  test("tokenizerCost: held-out words segment with the trained model; " +
      "unseen-char and over-long words are UNK with 0 pieces") {
    import spark.implicits._
    // doc 1 trains the t37-traced vocab {a b c ab abc}; doc 2 is held
    // out: 'ba' re-uses trained chars (2 pieces), 'abab' re-uses the
    // trained 'ab' (2 pieces), 'xy' has no trained character -> UNK,
    // and the 17-char word exceeds maxWordLen -> UNK. doc 3 is empty
    // (no tokens -> no row).
    val docs = Seq(
      (1L, "ab ab ab abc", true),
      (2L, "ba xy " + "a" * 17 + " abab", false),
      (3L, "", false)).toDF("id", "txt", "tr")
    val got = TextAnalysis.tokenizerCost(docs, "txt", "id", col("tr"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got == Seq(
      (1L, 4L, 4L, 0L, Some(1.0)),
      (2L, 4L, 4L, 2L, Some(2.0))), s"cost rows: $got")
  }

  test("rrfFuse: a doc mid-ranked on BOTH lists wins fusion over each list's exclusive top hit") {
    import graft.ops.Retrieval
    // query 7: doc 100 tops the lexical list only, doc 200 tops the
    // vector list only, doc 50 is rank 2 on BOTH — the consensus
    // property: 2/(60+2) > 1/(60+1), so 50 must out-fuse both tops
    // while ranking first on neither input
    val lex = Seq((7L, 100L, 1), (7L, 50L, 2), (7L, 101L, 3))
      .toDF("query_id", "doc_id", "rank")
    val vec = Seq((7L, 200L, 1), (7L, 50L, 2), (7L, 201L, 3))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(lex, vec).orderBy("fused_rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3),
        Option(r.get(4)), Option(r.get(5)))).toSeq
    assert(got.map(g => (g._1, g._2)) == Seq(
      (1, 50L), (2, 100L), (3, 200L), (4, 101L), (5, 201L)),
      got.toString)
    // doc 50 carries BOTH input ranks; exclusives carry one + NULL
    assert(got(0)._4 == Some(2) && got(0)._5 == Some(2))
    assert(got(1)._4 == Some(1) && got(1)._5 == None)
    assert(got(2)._4 == None && got(2)._5 == Some(1))
    // scores: 2 × 6dp(1/62) for the consensus doc; 6dp(1/61) for tops.
    // ties (100 vs 200, both 1/61) break on doc_id ascending
    assert(got(0)._3 == 0.032258 && got(1)._3 == got(2)._3)
    assert(got(1)._3 == 0.016393)
  }
}
