package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Curation
import graft.tables.Tables

class CurationSpec extends AnyFunSuite {
  import SparkHarness._
  import spark.implicits._

  test("scrubPii redacts emails then phones with exact counts") {
    val docs = Seq(
      (1L, "write to a.b+c@mail-host.org or bob@x.io today"),
      (2L, "call 555-123-4567 or 555.987.6543 now"),
      (3L, "mixed bob@x.io and 555-123-4567"),
      (4L, "clean text, nothing to redact"),
      (5L, "")).toDF("doc_id", "text")
    val got = Curation.scrubPii(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(got == Seq(
      Row(1L, "write to <EMAIL> or <EMAIL> today", 2L, 0L, 0L, 0L),
      Row(2L, "call <PHONE> or <PHONE> now", 0L, 2L, 0L, 0L),
      Row(3L, "mixed <EMAIL> and <PHONE>", 1L, 1L, 0L, 0L),
      Row(4L, "clean text, nothing to redact", 0L, 0L, 0L, 0L),
      Row(5L, "", 0L, 0L, 0L, 0L)))
  }

  test("scrubPii redacts IPv4s and SSN-shaped ids after emails/phones, with per-stage counts") {
    // the two CCNet-class rules beyond email/phone: dotted-quad IPs
    // and ddd-dd-dddd national IDs — precedence is fixed (email ->
    // phone -> ip -> ssn) and each count is taken post-previous-stage,
    // so a dotted phone is never mistaken for an IP (2 dots vs 3) and
    // a phone's 3-3-4 groups never read as an SSN's 3-2-4
    val docs = Seq(
      (1L, "server 10.0.42.7 and 192.168.1.254 up"),
      (2L, "id 123-45-6789 on file"),
      (3L, "call 555.123.4567 from 10.0.0.1 ssn 987-65-4321"),
      (4L, "version 1.2.3 is not an ip; 12-34-5678 is not an ssn"))
      .toDF("doc_id", "text")
    val got = Curation.scrubPii(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(got == Seq(
      Row(1L, "server <IP> and <IP> up", 0L, 0L, 2L, 0L),
      Row(2L, "id <SSN> on file", 0L, 0L, 0L, 1L),
      Row(3L, "call <PHONE> from <IP> ssn <SSN>", 0L, 1L, 1L, 1L),
      Row(4L, "version 1.2.3 is not an ip; 12-34-5678 is not an ssn",
        0L, 0L, 0L, 0L)), got.toString)
  }

  test("dsirWeights: target-vocab docs outrank off-domain; feature counts exact") {
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta gamma", true),
      (3L, "alpha beta alpha", false),
      (4L, "zeta eta theta iota", false),
      (5L, "", false)).toDF("id", "txt", "tgt")
    val w = Curation.dsirWeights(docs, "txt", "id", col("tgt"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // empty doc produces no row; everyone else is scored
    assert(w.keySet == Set(1L, 2L, 3L, 4L))
    // n_feats = unigrams + bigrams = 2*len - 1
    assert(w(1L)._1 == 7L && w(2L)._1 == 5L && w(3L)._1 == 5L && w(4L)._1 == 7L)
    // a raw doc built from target vocab must outrank the off-domain one
    assert(w(3L)._2 > w(4L)._2,
      s"target-vocab doc ${w(3L)._2} must beat off-domain ${w(4L)._2}")
    // target docs themselves score above the off-domain doc
    assert(w(1L)._2 > w(4L)._2 && w(2L)._2 > w(4L)._2)
  }

  test("nbQualityScore: held-out docs land on their class's side of the trained boundary; counts exact") {
    // two separable vocabularies; docs 5/6 are HELD OUT (not in the
    // train split) — the fitted model, not memorization, must classify
    // them. Doc 7 is empty → no features, no row (t24's contract).
    val docs = Seq(
      (1L, "alpha beta alpha beta", true, true),
      (2L, "alpha beta gamma alpha", true, true),
      (3L, "zeta eta theta", false, true),
      (4L, "zeta theta eta zeta", false, true),
      (5L, "alpha beta beta", true, false),
      (6L, "zeta eta eta", false, false),
      (7L, "", false, false)).toDF("id", "txt", "tgt", "tr")
    val got = Curation.nbQualityScore(docs, "txt", "id", col("tgt"), col("tr"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // n_feats = unigrams + bigrams = 2*len - 1
    assert(got(5L)._1 == 5L && got(6L)._1 == 5L && got(1L)._1 == 7L)
    // the VERDICT r08 gate: target docs rank above base rate — here
    // fully separable, so every target doc (held-out included) is
    // above the boundary and every rest doc below it
    assert(got(5L)._3 == 1 && got(5L)._2 > 0.0,
      s"held-out target doc must verdict 1: ${got(5L)}")
    assert(got(6L)._3 == 0 && got(6L)._2 < 0.0,
      s"held-out rest doc must verdict 0: ${got(6L)}")
    assert(Seq(1L, 2L).forall(got(_)._3 == 1) &&
      Seq(3L, 4L).forall(got(_)._3 == 0), s"train docs misclassified: $got")
    // balanced train classes → prior 0; the unseen-bucket llr is the
    // only off-vocab signal and it is tiny — scores are dominated by
    // the evidence, so the margins are wide
    assert(got(5L)._2 > 1.0 && got(6L)._2 < -1.0, s"margins: $got")
  }

  test("nbQualityScore: a single-class training split scores finite (the +1 prior and empty-model coalesce)") {
    // every train doc is target — the rest model is EMPTY. The +1
    // prior smoothing and the coalesce'd rest counts must keep every
    // score finite (raw ln(nt/0) would be +inf and poison the sums).
    val docs = Seq(
      (1L, "alpha beta alpha", true, true),
      (2L, "alpha beta gamma", true, true),
      (3L, "zeta eta theta", false, false)).toDF("id", "txt", "tgt", "tr")
    val got = Curation.nbQualityScore(docs, "txt", "id", col("tgt"), col("tr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite), s"scores: $got")
    // the held-out off-vocab doc still scores BELOW the in-vocab ones
    assert(got(3L) < got(1L) && got(3L) < got(2L), s"ranking: $got")
  }

  test("scrubPii counts phones on the email-scrubbed text (no double redaction)") {
    // the local part contains a phone-shaped digit run; email wins
    val docs = Seq((1L, "x 555-123-4567@host.com y")).toDF("doc_id", "text")
    val got = Curation.scrubPii(docs, "text", "doc_id").head()
    assert(got == Row(1L, "x <EMAIL> y", 1L, 0L, 0L, 0L))
  }

  test("nbClassifierEval: hand-computed confusion cells on engineered held-out docs") {
    // the t36 separable-vocab setup with DELIBERATE label noise in the
    // held-out split so every confusion cell is nonzero: 5 = tp
    // (target vocab, target label), 6 = tn, 8 = fn (rest vocab but
    // target-LABELED), 9 = fp (target vocab but rest-labeled); 7 is
    // empty -> no score row -> excluded from the eval (the contract)
    val docs = Seq(
      (1L, "alpha beta alpha beta", true, true),
      (2L, "alpha beta gamma alpha", true, true),
      (3L, "zeta eta theta", false, true),
      (4L, "zeta theta eta zeta", false, true),
      (5L, "alpha beta beta", true, false),
      (6L, "zeta eta eta", false, false),
      (7L, "", true, false),
      (8L, "zeta eta", true, false),
      (9L, "alpha beta", false, false)).toDF("id", "txt", "tgt", "tr")
    val got = Curation.nbClassifierEval(docs, "txt", "id",
      col("tgt"), col("tr")).head()
    // tp=1 fp=1 fn=1 tn=1 over 4 held-out scored docs ->
    // precision = recall = accuracy = 1/2; f1 = 2·1/(2+1+1) = 1/2
    assert(got == Row(4L, 1L, 1L, 1L, 1L, 0.5, 0.5, 0.5, 0.5),
      got.toString)
    // degenerate: nothing held out -> zero row with NULL ratios, not
    // a divide-by-zero
    val allTrain = Seq((1L, "alpha beta", true, true),
      (2L, "zeta eta", false, true)).toDF("id", "txt", "tgt", "tr")
    val empty = Curation.nbClassifierEval(allTrain, "txt", "id",
      col("tgt"), col("tr")).head()
    assert(empty.getLong(0) == 0L && empty.isNullAt(5) && empty.isNullAt(6),
      empty.toString)
  }

  test("nbFitModel + nbScoreWithModel equal nbQualityScore bit-for-bit through a parquet round-trip") {
    // the train-offline / apply-online split of t36: fitting the
    // model to a table and scoring against the reloaded table must
    // reproduce the one-call operator EXACTLY (every sum either form
    // takes is over integer-valued doubles — exact in any order — and
    // every FP step after that is the same single expression)
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val train = substring(md5(concat(col("doc_id").cast("string"),
      lit(":"), lit("graft"))), 1, 4) < "e666"
    val direct = Curation.nbQualityScore(docs, "text", "doc_id",
        col("lang") === "en", train)
      .orderBy("doc_id").collect().mkString("|")
    val modelPath =
      java.nio.file.Files.createTempDirectory("graft_nbmodel").toString + "/model"
    Curation.nbFitModel(docs.filter(train), "text", "doc_id",
        col("lang") === "en")
      .write.parquet(modelPath)
    val model = spark.read.parquet(modelPath)
    val viaModel = Curation.nbScoreWithModel(docs, "text", "doc_id", model)
      .orderBy("doc_id").collect().mkString("|")
    assert(viaModel == direct,
      "persisted-model scoring diverges from the one-call operator")
    assert(viaModel.nonEmpty)
    // the persisted model is bounded: <= buckets + 2 rows, one prior
    // marker and one fit-config marker
    assert(model.count() <= 8194L)
    assert(model.filter(col("b") === -1L).count() == 1L)
    assert(model.filter(col("b") === -2L).count() == 1L)
    // the fit-config marker records buckets, and a mismatched
    // apply-side buckets fails loud instead of scoring silently wrong
    assert(model.filter(col("b") === -2L).head().getDouble(1) == 8192.0)
    val mismatch = intercept[IllegalArgumentException] {
      Curation.nbScoreWithModel(docs, "text", "doc_id", model,
        buckets = 4096)
    }
    assert(mismatch.getMessage.contains("fit with buckets=8192"),
      mismatch.getMessage)
    // a table that never came from nbFitModel (no marker) also fails
    val noMarker = intercept[IllegalArgumentException] {
      Curation.nbScoreWithModel(docs, "text", "doc_id",
        model.filter(col("b") =!= -2L))
    }
    assert(noMarker.getMessage.contains("marker"), noMarker.getMessage)
  }

  test("nbRocAuc equals the average-rank Mann–Whitney AUC, tie group included") {
    // t39's engineered setup plus doc 10: the SAME text as doc 9 but
    // the OPPOSITE label, so the held-out set carries a genuine
    // pos/neg TIE GROUP (identical text -> identical features ->
    // identical 4dp log_odds) and the ½-credit tie correction is
    // exercised, not just reachable
    val docs = Seq(
      (1L, "alpha beta alpha beta", true, true),
      (2L, "alpha beta gamma alpha", true, true),
      (3L, "zeta eta theta", false, true),
      (4L, "zeta theta eta zeta", false, true),
      (5L, "alpha beta beta", true, false),
      (6L, "zeta eta eta", false, false),
      (7L, "", true, false),
      (8L, "zeta eta", true, false),
      (9L, "alpha beta", false, false),
      (10L, "alpha beta", true, false)).toDF("id", "txt", "tgt", "tr")
    val got = Curation.nbRocAuc(docs, "txt", "id", col("tgt"), col("tr"))
      .head()
    // independent reimplementation of the rank formula: collect the
    // held-out (log_odds, is_target) pairs from the scoring operator
    // itself and compute the average-rank AUC in plain Scala
    val heldIds = Set(5L, 6L, 8L, 9L, 10L)
    val scored = Curation.nbQualityScore(docs, "txt", "id",
        col("tgt"), col("tr"))
      .filter(col("doc_id").isin(heldIds.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the engineered tie: identical text scores identically
    assert(scored(9L) == scored(10L), s"9/10 must tie: $scored")
    val labels = Map(5L -> true, 6L -> false, 8L -> true,
      9L -> false, 10L -> true)
    val byScore = scored.toSeq.map { case (id, s) => (s, labels(id)) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    var cneg = 0L; var num2 = 0L; var nPos = 0L; var nNeg = 0L
    byScore.foreach { case (_, grp) =>
      val p = grp.count(_._2).toLong; val n = grp.size - p
      num2 += 2L * cneg * p + p * n
      cneg += n; nPos += p; nNeg += n
    }
    val expAuc = math.floor(
      num2.toDouble / (2.0 * nPos * nNeg) * 1e6 + 0.5) / 1e6
    assert(got == Row(5L, 3L, 2L, expAuc), s"$got vs auc=$expAuc")
    // a perfectly separable held-out set reads AUC = 1.0 exactly
    // (every positive above every negative — consistent with a t41
    // curve holding a perfect operating point on the same data)
    val sep = Seq(
      (1L, "alpha beta alpha beta", true, true),
      (2L, "alpha beta gamma", true, true),
      (3L, "zeta eta theta", false, true),
      (4L, "zeta theta eta", false, true),
      (5L, "alpha beta beta", true, false),
      (6L, "alpha gamma beta", true, false),
      (7L, "zeta eta eta", false, false),
      (8L, "theta zeta", false, false)).toDF("id", "txt", "tgt", "tr")
    val perfect = Curation.nbRocAuc(sep, "txt", "id",
      col("tgt"), col("tr")).head()
    assert(perfect == Row(4L, 2L, 2L, 1.0), perfect.toString)
    // degenerate: a single-class held-out set defines no ranking ->
    // NULL auc, never 0/0 (doc 7 is empty -> no score row, so the
    // held-out scored set here is all-positive)
    val oneClass = Seq(
      (1L, "alpha beta", true, true), (2L, "zeta eta", false, true),
      (3L, "alpha alpha", true, false), (7L, "", false, false))
      .toDF("id", "txt", "tgt", "tr")
    val deg = Curation.nbRocAuc(oneClass, "txt", "id",
      col("tgt"), col("tr")).head()
    assert(deg.getLong(1) == 1L && deg.getLong(2) == 0L && deg.isNullAt(3),
      deg.toString)
  }

  test("sourceCap keeps the best n per group; the cap binds only above n; ties break by id") {
    val df = Seq(
      // group a: 5 rows, cap 3 binds — and a SCORE TIE at 0.7 must
      // resolve to the lower id
      (1L, "a", 0.9), (2L, "a", 0.7), (3L, "a", 0.7),
      (4L, "a", 0.5), (5L, "a", 0.3),
      // group b: 2 rows, cap does not bind — both kept, ranks 1..2
      (6L, "b", 0.2), (7L, "b", 0.8)).toDF("id", "src", "q")
    val got = Curation.sourceCap(df, "id", "src", "q", 3)
      .orderBy("grp", "rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      ("a", 1, 1L, 0.9), ("a", 2, 2L, 0.7), ("a", 3, 3L, 0.7),
      ("b", 1, 7L, 0.8), ("b", 2, 6L, 0.2)), got.toString)
    // native bounded-aggregate path ≡ window fallback (same rows, same
    // ranks — the extension is a plan change, never a result change)
    val native = Curation.sourceCap(df, "id", "src", "q", 3)
      .orderBy("grp", "rank").collect().toSeq
    spark.conf.set("graft.native.disabled", "true")
    val fallback =
      try Curation.sourceCap(df, "id", "src", "q", 3)
        .orderBy("grp", "rank").collect().toSeq
      finally spark.conf.unset("graft.native.disabled")
    assert(native == fallback)
  }

  test("paragraphDedup strips interleaved within-doc repeats, first occurrence wins; map-only plan") {
    val docs = Seq(
      // interleaved repeats: a and b recur non-adjacently
      (1L, "a x\nb y\na x\nc z\nb y\nd w"),
      // trim + empty-paragraph handling: blanks drop, spaces trim
      (2L, "  x q \n\n x q\ny r  "),
      // no dups -> untouched accounting
      (3L, "p\nq\nr"),
      // degenerate: empty and whitespace-only docs
      (4L, ""), (5L, " \n  \n ")).toDF("doc_id", "text")
    val got = Curation.paragraphDedup(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    assert(got == Seq(
      Row(1L, 6L, 2L, 6L, "a x\nb y\nc z\nd w"),
      Row(2L, 3L, 1L, 3L, "x q\ny r"),
      Row(3L, 3L, 0L, 0L, "p\nq\nr"),
      Row(4L, 0L, 0L, 0L, ""),
      Row(5L, 0L, 0L, 0L, "")), got.toString)
    // CCNet's first rung runs BEFORE any corpus pass — it must cost
    // zero shuffles at any corpus size
    val plan = Curation.paragraphDedup(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"paragraphDedup must be map-only:\n$plan")
  }

  test("curationPipelineFull: paragraph-clean twins collapse, quota caps per source, filter drops shorts") {
    val base = "the quick brown fox jumps over the lazy dog again"
    val docs = Seq(
      // docs 1 and 2 differ ONLY by a repeated paragraph — after the
      // paragraph-dedup stage their cleaned texts are identical, so
      // the exact dedup must collapse them to the min id (the reason
      // the strip runs FIRST: chrome-differing twins dedup)
      (1L, s"$base alpha\n$base beta", "en", "s1"),
      (2L, s"$base alpha\n$base beta\n$base alpha", "en", "s1"),
      (3L, s"$base gamma", "en", "s1"),
      (4L, s"$base delta", "en", "s1"),
      (5L, s"$base epsilon", "en", "s2"),
      // fails the t16 length rule -> never reaches the quota
      (6L, "short", "en", "s2")).toDF("doc_id", "text", "lang", "source")
    val got = Curation.curationPipelineFull(docs, "text", "doc_id",
        "lang", "source", quotaN = 2)
      .orderBy("doc_id").collect()
    val byId = got.map(r => r.getLong(0) ->
      (r.getString(1), r.getInt(2), r.getString(4), r.getDouble(5),
        r.getLong(6))).toMap
    // survivors: 1 (the cleaned twin's canonical, beats 3/4 on length
    // quality -> rank 1), 3 (ties 4 on quality, lower id wins rank 2),
    // 5 (alone in s2). 2 = dedup'd, 4 = quota'd, 6 = filtered.
    assert(byId.keySet == Set(1L, 3L, 5L), got.mkString("|"))
    assert(byId(1L)._1 == "s1" && byId(1L)._2 == 1)
    assert(byId(3L)._1 == "s1" && byId(3L)._2 == 2)
    assert(byId(5L)._1 == "s2" && byId(5L)._2 == 1)
    // doc 1's own text had no within-doc repeats — the dup accounting
    // is per-surviving-doc, not inherited from its collapsed twin
    assert(byId(1L)._5 == 0L)
    // quality was scored on shipped (cleaned+scrubbed) text: doc 1
    // kept two paragraphs (22 tokens) and outranks doc 3 (11)
    assert(byId(1L)._4 > byId(3L)._4)
    // split labels come from the t8 hash rule — total and valid
    assert(got.map(_.getString(4)).forall(Set("train", "val", "test")))
    // native bounded-aggregate quota ≡ window fallback through the
    // WHOLE composed pipeline
    val native = got.toSeq
    spark.conf.set("graft.native.disabled", "true")
    val fallback =
      try Curation.curationPipelineFull(docs, "text", "doc_id",
          "lang", "source", quotaN = 2).orderBy("doc_id").collect().toSeq
      finally spark.conf.unset("graft.native.disabled")
    assert(native == fallback)
  }

  test("deterministicSplit is stable, total, and close to requested fractions") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents.select("doc_id")
    val fr = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))
    val a = Curation.deterministicSplit(docs, "doc_id", "s1", fr)
    val counts = a.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    assert(n == docs.count())
    assert(math.abs(counts("train").toDouble / n - 0.9) < 0.05,
      s"train fraction off: $counts")
    // stability: same (key, salt) → same assignment on a re-run
    val b = Curation.deterministicSplit(docs, "doc_id", "s1", fr)
    assert(a.orderBy("doc_id").collect().toSeq == b.orderBy("doc_id").collect().toSeq)
    // accretion-safety: a doc's split ignores the rest of the corpus
    val sub = Curation.deterministicSplit(docs.filter(col("doc_id") < 100),
      "doc_id", "s1", fr)
    assert(sub.orderBy("doc_id").collect().toSeq ==
      a.filter(col("doc_id") < 100).orderBy("doc_id").collect().toSeq)
    // a different salt reshuffles
    val c = Curation.deterministicSplit(docs, "doc_id", "s2", fr)
    assert(c.filter(col("split") === "train").count() != counts("train") ||
      c.orderBy("doc_id").collect().toSeq != a.orderBy("doc_id").collect().toSeq)
  }

  test("splitThresholds maps cumulative fractions to 4-hex bounds") {
    assert(Curation.splitThresholds(Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      == Seq(("train", "e666"), ("val", "f333"), ("test", "ffff")))
  }

  test("stratifiedSample keeps per-stratum fractions deterministically") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
      .select("doc_id", "source")
    val a = Curation.stratifiedSample(docs, "doc_id", "source", "s",
      Map("src0" -> 0.5), defaultFraction = 0.1)
    val bySrc = a.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(bySrc("src0").toDouble / totals("src0") - 0.5) < 0.15,
      s"src0 fraction off: $bySrc vs $totals")
    val others = (bySrc - "src0").values.sum.toDouble / (totals - "src0").values.sum
    assert(math.abs(others - 0.1) < 0.08, s"default fraction off: $others")
    // deterministic: identical rows on re-run
    val b = Curation.stratifiedSample(docs, "doc_id", "source", "s",
      Map("src0" -> 0.5), defaultFraction = 0.1)
    assert(a.orderBy("doc_id").collect().toSeq == b.orderBy("doc_id").collect().toSeq)
    // fraction 1.0 keeps everything, 0.0 keeps nothing
    assert(Curation.stratifiedSample(docs, "doc_id", "source", "s",
      Map.empty, defaultFraction = 1.0).count() == docs.count())
    assert(Curation.stratifiedSample(docs, "doc_id", "source", "s",
      Map.empty, defaultFraction = 0.0).count() == 0)
  }

  test("lengthQuantiles matches hand-computed interpolation") {
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L), (5L, "a", 10L))
      .toDF("doc_id", "lang", "n_chars")
    val got = TextAnalysis.lengthQuantiles(docs, "lang", "n_chars").head()
    // (n-1)*p interpolation over [1,2,3,4,10]
    assert(got.getLong(1) == 5 && got.getLong(2) == 1 && got.getLong(3) == 10)
    assert(got.getDouble(4) == 2.0 && got.getDouble(5) == 3.0)
    assert(got.getDouble(6) == 4.0 && got.getDouble(7) == 8.8)
  }

  test("contaminationPairs finds planted leakage, respects dfCap and minShared") {
    val leak = "quick brown fox jumps over lazy dog tonight"   // 6 3-grams
    val boiler = "lorem ipsum dolor"                            // 1 3-gram, everywhere
    val docs = Seq(
      (1L, s"$boiler $leak extra words here", "train"),
      (2L, s"$boiler completely different content words", "train"),
      (3L, s"$boiler also unrelated training text", "train"),
      (4L, s"$boiler $leak trailing tail", "eval"),             // leaked from 1
      (5L, s"$boiler nothing shared at all", "eval"))
      .toDF("doc_id", "text", "split")
    // dfCap=3: the boilerplate gram appears in 5 docs -> excluded;
    // so doc 4 matches doc 1 only through the planted leak run
    val got = Curation.contaminationPairs(docs, "text", "doc_id", "split",
        "eval", n = 3, dfCap = 3, minShared = 2)
      .orderBy("train_id", "eval_id").collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 4L)), s"got $got")
    // docs 1/4 share the 11-token prefix -> 9 3-grams, minus the
    // boilerplate gram (df 5 > cap) = 8; grams crossing the
    // divergence point differ between the two docs
    assert(got.head.getLong(2) == 8L, s"got $got")
    // with the cap relaxed, boilerplate links every train doc to every
    // eval doc only if minShared allows single-gram evidence
    val loose = Curation.contaminationPairs(docs, "text", "doc_id", "split",
        "eval", n = 3, dfCap = 100, minShared = 1)
    assert(loose.count() >= 6, "boilerplate gram should link all pairs when uncapped")
  }

  test("packSequences chunks by exclusive prefix within each shard") {
    val docs = Seq(
      // shard A: token counts 3, 4, 5 with budget 6
      (1L, "a b c", "A"), (2L, "d e f g", "A"), (3L, "h i j k l", "A"),
      // shard B independent
      (10L, "x y", "B"), (11L, "", "B"), (12L, "z", "B"))
      .toDF("doc_id", "text", "source")
    val got = Curation.packSequences(docs, "doc_id", "text", "source", 6L)
      .orderBy("shard", "doc_id").collect().toSeq
    assert(got == Seq(
      Row("A", 1L, 3L, 0L, 0L),   // prev 0
      Row("A", 2L, 4L, 0L, 3L),   // prev 3
      Row("A", 3L, 5L, 1L, 1L),   // prev 7 -> pack 1, offset 1
      Row("B", 10L, 2L, 0L, 0L),
      Row("B", 11L, 0L, 0L, 2L),
      Row("B", 12L, 1L, 0L, 2L)))
  }

  test("split and sample are partitioning-invariant (the no-RNG contract)") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents.select("doc_id", "source")
    val fr = Seq(("train", 0.9), ("val", 0.1))
    val base = Curation.deterministicSplit(docs, "doc_id", "p", fr)
      .orderBy("doc_id").collect().toSeq
    val repart = Curation.deterministicSplit(docs.repartition(7), "doc_id", "p", fr)
      .orderBy("doc_id").collect().toSeq
    assert(base == repart)
    val s1 = Curation.stratifiedSample(docs, "doc_id", "source", "p", Map("src0" -> 0.3), 0.2)
      .orderBy("doc_id").collect().toSeq
    val s2 = Curation.stratifiedSample(docs.repartition(7), "doc_id", "source", "p",
        Map("src0" -> 0.3), 0.2)
      .orderBy("doc_id").collect().toSeq
    assert(s1 == s2)
  }

  test("rollingFingerprints computes the base-31 polynomial fold") {
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "abc"), (2L, ""), (3L, "ABC!"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rollingFingerprints(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    // normalize("abc") = "abc" -> ((97*31+98)*31+99) % 1e9+7
    val abc = ((97L * 31 + 98) * 31 + 99) % 1000000007L
    assert(got.take(3).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) ==
      Seq((1L, abc, 3L), (2L, 0L, 0L), (3L, abc, 3L)),
      s"got $got")  // "ABC!" normalizes to "abc" -> same fingerprint
    // NULL text propagates NULL (like md5), never colliding with ""
    assert(got(3).isNullAt(1) && got(3).isNullAt(2), s"got ${got(3)}")
  }

  test("heavyHitters: exact vs full groupBy, partitioning-invariant, catches spread-out hitters") {
    import graft.ops.TextAnalysis
    // a heavy term spread thinly over many docs (never locally dominant
    // within a doc), plus a long tail of unique distractors — the case
    // where a per-partition top-k heuristic (not MG) silently misses
    val docs = ((1 to 120).map(i => (i.toLong, s"hh filler$i x$i y$i z$i")) ++
      (121 to 150).map(i => (i.toLong, s"only$i once$i")))
      .toDF("doc_id", "text")
    // N = 120*5 + 30*2 = 660 tokens; hh freq 120 >= 660/6 = 110, and
    // MG capacity 8 guarantees survival of anything above 660/9 = 73
    val got = TextAnalysis.heavyHitters(docs, "text", phiDenom = 6L, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("hh", 120L)), s"got $got")
    // exactness + partitioning invariance on real data: MG recount ==
    // plain groupBy HAVING, and the partition layout doesn't matter
    val real = Tables(spark, "/root/testdata/sf0.01").documents
    def rows(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.heavyHitters(df, "text").collect().map(_.toString).toSeq
    val a = rows(real)
    assert(a.nonEmpty && a == rows(real.repartition(13)))
    intercept[IllegalArgumentException] {
      TextAnalysis.heavyHitters(docs, "text", phiDenom = 100L, capacity = 50)
    }
  }

  test("deterministicShuffle gives a total, reproducible, partitioning-invariant order") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents.select("doc_id")
    val a = Curation.deterministicShuffle(docs, "doc_id", "x")
    assert(a.count() == docs.count(), "order is total")
    // (bucket, pos) is a dense unique order within each bucket
    assert(a.select("bucket", "pos").distinct().count() == a.count())
    // reproducible and partitioning-invariant
    val b = Curation.deterministicShuffle(docs.repartition(7), "doc_id", "x")
    assert(a.orderBy("bucket", "pos").collect().toSeq ==
      b.orderBy("bucket", "pos").collect().toSeq)
    // genuinely decorrelated from id order: the first 20 docs of the
    // shuffled order are not the first 20 ids
    val first = a.orderBy("bucket", "pos").limit(20)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(first != first.sorted || first.max > 100, s"suspiciously id-ordered: $first")
    // a different salt produces a different order
    val c = Curation.deterministicShuffle(docs, "doc_id", "y")
    assert(c.orderBy("bucket", "pos").limit(20).select("doc_id")
      .collect().map(_.getLong(0)).toSeq != first)
  }

  test("vocabStats: exact distinct counts") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
    val exact = graft.ops.TextAnalysis.vocabStats(docs, "text", "lang")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (_, (nVocab, nTokens)) =>
      assert(nVocab > 0 && nTokens >= nVocab)
    }
  }

  test("distributionDrift: zero on identical slices, ~1 bit on disjoint vocab, symmetric") {
    import spark.implicits._
    val same = (1L to 40L).map(i => (i, s"alpha beta gamma delta token$i", i % 2 == 0))
      .toDF("doc_id", "text", "is_a")
    val jsSame = graft.ops.TextAnalysis
      .distributionDrift(same, "text", col("is_a"), buckets = 256).head()
    // same generating distribution -> tiny divergence (not exactly 0:
    // the token$i tails differ), far below the disjoint case
    assert(jsSame.getDouble(4) < 0.25, s"same-dist js_bits ${jsSame.getDouble(4)}")
    // enough tokens that the add-α smoothing mass (α·buckets = 128) is
    // a small fraction of each side's total — otherwise the uniform
    // smoothing floor dilutes the measured divergence
    val disjoint = ((1L to 40L).map(i => (i, "aa bb cc dd ee ff gg hh " * 8, true)) ++
      (41L to 80L).map(i => (i, "qq rr ss tt uu vv ww xx " * 8, false)))
      .toDF("doc_id", "text", "is_a")
    val jsDis = graft.ops.TextAnalysis
      .distributionDrift(disjoint, "text", col("is_a"), buckets = 256).head()
    // fully disjoint support -> JS approaches ln 2 nats = 1 bit
    // (smoothing mass keeps it just under)
    assert(jsDis.getDouble(4) > 0.8, s"disjoint js_bits ${jsDis.getDouble(4)}")
    assert(jsDis.getDouble(3) <= 0.6931472 + 1e-9)
    // JS is symmetric; the implementation's rounding is applied
    // symmetrically, so the swap is EXACTLY equal
    val swapped = graft.ops.TextAnalysis
      .distributionDrift(disjoint, "text", !col("is_a"), buckets = 256).head()
    assert(swapped.getDouble(3) == jsDis.getDouble(3))
    assert(swapped.getLong(1) == jsDis.getLong(2) && swapped.getLong(2) == jsDis.getLong(1))
    // empty corpus -> uniform vs uniform -> exactly 0, no null cascade
    val empty = graft.ops.TextAnalysis.distributionDrift(
      same.where(lit(false)), "text", col("is_a"), buckets = 256).head()
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L && empty.getDouble(3) == 0.0)
    // the PERSISTED-reference form computes the identical divergence:
    // tokenHistogram(rest) + driftAgainstHistogram(slice) == the
    // one-call operator bit-for-bit (the shared jsDivergence core +
    // both count paths taking the same integer partial agg)
    val hist = graft.ops.TextAnalysis.tokenHistogram(
      disjoint.filter(!col("is_a")), "text", buckets = 256)
    val viaHist = graft.ops.TextAnalysis.driftAgainstHistogram(
      disjoint.filter(col("is_a")), "text", hist, buckets = 256).head()
    assert(viaHist.getDouble(3) == jsDis.getDouble(3) &&
      viaHist.getDouble(4) == jsDis.getDouble(4),
      s"histogram form $viaHist != one-call $jsDis")
    assert(viaHist.getLong(1) == jsDis.getLong(1) &&
      viaHist.getLong(2) == jsDis.getLong(2))
  }

  test("deterministicShuffle global order is invariant to the bucket count") {
    // the bucket is a PREFIX of the hash, so (bucket, pos) concatenated
    // across buckets sorts exactly like the full hash — 256 (len 2) and
    // 4096 (len 3) buckets must yield the identical global order
    val docs = Tables(spark, "/root/testdata/sf0.01").documents.select("doc_id")
    def order(len: Int): Seq[Long] =
      Curation.deterministicShuffle(docs, "doc_id", "x", hexPrefixLen = len)
        .orderBy("bucket", "pos").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
    assert(order(2) == order(3))
  }

  test("mixtureSample derives rates that hit the target mixture; scarce stratum binds at rate 1") {
    // en-heavy corpus, 2:1 target: K = min(600*3 div 2? ...) — exact
    // integer derivation checked against a hand computation below
    val docs = (1L to 600L).map(i => (i, "en")) ++ (601L to 700L).map(i => (i, "fr"))
    val df = docs.toDF("doc_id", "lang")
    val got = Curation.mixtureSample(df, "doc_id", "lang", "t",
      Map("en" -> 2, "fr" -> 1))
    val byLang = got.collect().groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // P=3; K = min(600*3 div 2, 100*3 div 1) = min(900, 300) = 300
    // thr_en = 300*2*65536 div (3*600) = 21845 → ~1/3 of en kept
    // thr_fr = 300*1*65536 div (3*100) = 65536 → 'g' → ALL fr kept
    assert(byLang("fr") == 100, s"scarce stratum must keep everything, got $byLang")
    // en keeps ~200 of 600 (hash granularity gives a small band)
    assert(byLang("en") >= 180 && byLang("en") <= 220, s"en off target: $byLang")
    // deterministic: same rows on a re-run and under a different partitioning
    val again = Curation.mixtureSample(df.repartition(7), "doc_id", "lang", "t",
      Map("en" -> 2, "fr" -> 1)).collect().map(_.getLong(0)).toSet
    assert(again == got.collect().map(_.getLong(0)).toSet)
    // a target stratum absent from the data → empty result, loudly
    val empty = Curation.mixtureSample(df, "doc_id", "lang", "t",
      Map("en" -> 1, "zz" -> 1))
    assert(empty.count() == 0L)
    // strata not in the target map are excluded entirely
    assert(!got.collect().map(_.getString(1)).contains("zz"))
  }

  test("bloom aggregate: no false negatives, low fp rate, merge-order invariant") {
    import org.apache.spark.sql.functions.call_function
    val in = (1L to 2000L).map(i => i * 0x9E3779B97F4A7C15L + i).toDF("h")
    val bloom = in.agg(call_function("graft_bloom_agg",
      col("h"), lit(1 << 16), lit(5)).as("bloom"))
    // every inserted hash must probe true (the lossless-prefilter contract)
    val misses = in.crossJoin(bloom)
      .filter(!call_function("graft_bloom_contains", col("bloom"), col("h"), lit(5)))
      .count()
    assert(misses == 0L, s"bloom false negatives: $misses")
    // disjoint probes mostly miss (2000 els / 65536 bits ≈ fpp << 5%)
    val out = (1L to 2000L).map(i => -i * 0x100000001B3L - 7L).toDF("h")
    val fps = out.crossJoin(bloom)
      .filter(call_function("graft_bloom_contains", col("bloom"), col("h"), lit(5)))
      .count()
    assert(fps < 100L, s"bloom fp rate too high: $fps/2000")
    // partitioning (merge order) cannot change the filter
    val b1 = bloom.collect()(0).getSeq[Long](0)
    val b2 = in.repartition(13).agg(call_function("graft_bloom_agg",
      col("h"), lit(1 << 16), lit(5)).as("bloom")).collect()(0).getSeq[Long](0)
    assert(b1 == b2)
  }

  test("contaminationPairsBloom equals contaminationPairs bit-for-bit") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val split = Curation.deterministicSplit(docs, "doc_id", "graft",
      Seq(("train", 0.9), ("eval", 0.1)))
    val plain = Curation.contaminationPairs(split, "text", "doc_id",
        "split", "eval", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = Curation.contaminationPairsBloom(split, "text", "doc_id",
        "split", "eval", minShared = 1, numBits = 1 << 14)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(plain.nonEmpty, "test corpus must produce contamination pairs")
    assert(bloomed == plain)
    // a deliberately tiny bloom (high fp rate) must STILL be exact —
    // false positives only widen the prefilter, never the output
    val tiny = Curation.contaminationPairsBloom(split, "text", "doc_id",
        "split", "eval", minShared = 1, numBits = 64, numHashes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tiny == plain)
  }

  test("tokenBudgetSelect equals the naive global-window cut, incl. tie and zero-token edges") {
    import org.apache.spark.sql.expressions.Window
    // many score ties (the boundary-value path), a zero-token doc at
    // the cut, and ids far apart (multiple id buckets at width 4)
    val docs = Seq(
      (1L, 0.9, 10L), (2L, 0.9, 10L), (100L, 0.9, 0L), (101L, 0.9, 10L),
      (200L, 0.9, 10L), (5L, 0.8, 10L), (6L, 0.7, 100L), (7L, 0.5, 1L))
      .toDF("doc_id", "score", "tok")
    def naive(budget: Long): Set[Long] = {
      val w = Window.orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum("tok").over(w))
        .filter(col("cum") <= budget).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    for (budget <- Seq(5L, 10L, 20L, 25L, 30L, 40L, 50L, 60L, 141L, 151L, 1000L)) {
      val got = Curation.tokenBudgetSelect(docs, "doc_id", "score", "tok",
          budget, bucketWidth = 4L)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == naive(budget), s"budget=$budget: got $got expected ${naive(budget)}")
    }
    // partitioning invariance of the decomposed form
    val a = Curation.tokenBudgetSelect(docs.repartition(7), "doc_id", "score",
      "tok", 30L, bucketWidth = 4L).select("id").collect().map(_.getLong(0)).toSet
    assert(a == naive(30L))
  }

  test("chunkPassages: coverage, overlap, tail chunk, and map-only plan") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // n=10 <= window → 1 chunk
      (2L, (1 to 11).map(i => s"w$i").mkString(" ")), // n=11 → 2 chunks
      (3L, (1 to 25).map(i => s"w$i").mkString(" ")), // n=25 → ceil(15/7)+1 = 4
      (4L, "solo"),
      (5L, "")).toDF("doc_id", "text")
    val got = Curation.chunkPassages(docs, "doc_id", "text",
        windowTokens = 10, stride = 7)
      .orderBy("doc_id", "chunk_idx").collect()
    val byDoc = got.groupBy(_.getLong(0))
    // zero-token doc emits nothing
    assert(!byDoc.contains(5L))
    assert(byDoc(1L).length == 1 && byDoc(2L).length == 2 &&
      byDoc(3L).length == 4 && byDoc(4L).length == 1)
    // starts advance by the stride; last chunk reaches the end exactly
    val d3 = byDoc(3L)
    assert(d3.map(_.getLong(2)).toSeq == Seq(0L, 7L, 14L, 21L))
    assert(d3.map(_.getLong(3)).toSeq == Seq(10L, 10L, 10L, 4L))
    assert(d3.last.getLong(2) + d3.last.getLong(3) == 25L)
    // chunk text is the joined token slice (overlap included)
    assert(byDoc(2L)(1).getString(4) == (8 to 11).map(i => s"w$i").mkString(" "))
    assert(byDoc(4L)(0).getString(4) == "solo")
    // consecutive chunks overlap by window - stride tokens
    assert(byDoc(3L)(0).getString(4).split(" ").drop(7).toSeq ==
      byDoc(3L)(1).getString(4).split(" ").take(3).toSeq)
    // map-only: no shuffle anywhere in the executed plan
    val plan = Curation.chunkPassages(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunkPassages must be map-only:\n$plan")
  }

  test("docEntropy: hand-computed H, degenerate docs, map-only plan") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "a a b"),          // runs a:2 b:1
      (2L, "x x x x"),        // uniform single token -> H = 0 exactly
      (3L, "p q r s"),        // all distinct -> H = ln6(4)
      (4L, ""),               // empty -> all zeros
      (5L, "z"),              // single token -> H = 0
      (6L, "A a. b")          // normalizes to doc 1 -> identical row
    ).toDF("doc_id", "text")
    val got = TextAnalysis.docEntropy(docs, "text", "doc_id")
      .orderBy("doc_id").collect().toSeq
    // expected values via the operator's own FP recipe: 6dp-rounded ln
    // terms, exact integer-weighted sum, one trailing division
    def ln6(x: Double) = math.floor(math.log(x) * 1e6 + 0.5) / 1e6
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val hAab = r6(ln6(3.0) - (2.0 * ln6(2.0)) / 3.0)
    assert(got == Seq(
      Row(1L, 3L, 2L, hAab),
      Row(2L, 4L, 1L, 0.0),
      Row(3L, 4L, 4L, r6(ln6(4.0))),
      Row(4L, 0L, 0L, 0.0),
      Row(5L, 1L, 1L, 0.0),
      Row(6L, 3L, 2L, hAab)))
    // the scale contract: per-doc counts come from the in-row fold,
    // never a (doc, token) shuffle — the whole operator is one scan
    val plan = TextAnalysis.docEntropy(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"docEntropy must be map-only:\n$plan")
  }

  /** Independent reimplementation of the A-ES key for the test: the
    * 60-bit md5 fold of (id:salt) → u in (0,1] → 6dp-rounded ln / w.
    */
  private def aesKey(id: Long, salt: String, w: Double): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$salt".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val u = (h + 1L).toDouble / 1152921504606846976.0
    math.floor(math.log(u) * 1e6 + 0.5) / 1e6 / w
  }

  test("weightedSample ranks by the A-ES key; non-positive weights excluded") {
    val df = Seq(
      (1L, "g", 5.0), (2L, "g", 1.0), (3L, "g", 2.0),
      (4L, "g", 0.0), (5L, "g", -1.0), (6L, "g", 1.0)
    ).toDF("id", "grp", "w")
    val eligible = Seq(1L -> 5.0, 2L -> 1.0, 3L -> 2.0, 6L -> 1.0)
    val expected = eligible
      .map { case (id, w) => (id, aesKey(id, "ws", w)) }
      .sortBy { case (id, k) => (-k, id) }
      .take(3)
      .zipWithIndex
      .map { case ((id, k), i) =>
        ("g", i + 1, id, math.floor(k * 1e6 + 0.5) / 1e6) }
    val got = Curation.weightedSample(df, "id", "grp", "w", "ws", 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
    // k past the eligible count returns all eligible rows, never a
    // zero/negative-weight id
    val all = Curation.weightedSample(df, "id", "grp", "w", "ws", 100)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 3L, 6L))
  }

  test("weightedSample: native topk path equals the window fallback") {
    val df = Seq.tabulate(40) { i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", 0.5 + (i % 7) * 0.3)
    }.toDF("id", "grp", "w")
    val native = Curation.weightedSample(df, "id", "grp", "w", "s", 5)
      .orderBy("grp", "rank").collect().toSeq
    spark.conf.set("graft.native.disabled", "true")
    val fallback =
      try Curation.weightedSample(df, "id", "grp", "w", "s", 5)
        .orderBy("grp", "rank").collect().toSeq
      finally spark.conf.unset("graft.native.disabled")
    assert(native == fallback)
  }

  test("decontaminateByEmbedding: identical train/eval vectors verdict " +
      "contaminated at cosine 1.0; orthogonal corpus verdicts clean; " +
      "every train row present") {
    import graft.ops.Curation
    // 4-dim toy corpus, pinned 8-plane banding so banding recall is
    // not in play: ids 10,30 are eval; train 11 == eval 10 exactly
    // (cosine 1.0, identical band keys — MUST be caught); train 12 is
    // 2x of eval 10 (cosine 1.0 again — scale-invariance); train 13
    // is orthogonal to both evals
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val df = Seq(
      (10L, v(1, 0, 0, 0)), (30L, v(0, 1, 0, 0)),          // eval
      (11L, v(1, 0, 0, 0)), (12L, v(2, 0, 0, 0)),          // dup / scaled
      (13L, v(0, 0, 1, 0))                                 // clean
    ).toDF("vec_id", "embedding")
    val got = Curation.decontaminateByEmbedding(df, "embedding", "vec_id",
        col("vec_id") % 10 === 0, threshold = 0.9, dim = 4, numPlanes = 12)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(11L, 12L, 13L), s"every train row must verdict: $got")
    assert(got(0) == ((11L, 1, 1L)), s"exact dup must be contaminated: $got")
    assert(got(1) == ((12L, 1, 1L)), s"scaled dup must be contaminated: $got")
    assert(got(2) == ((13L, 0, 0L)), s"orthogonal vector must be clean: $got")
  }

  test("pmiPairs: hand-computed PMI, short-doc guard, rare pair outranks frequent") {
    import graft.ops.TextAnalysis
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c d"), (4L, "z"))
      .toDF("doc_id", "text")
    // N=7 tokens, M=3 pairs, cu: a2 b2 c1 d1 z1; cp: (a,b)=2, (c,d)=1
    def pmi(cp: Long, ca: Long, cb: Long): Double =
      math.floor(math.log(cp.toDouble * 7 * 7 / (3.0 * ca * cb)) * 1e6 + 0.5) / 1e6
    val got = TextAnalysis.pmiPairs(docs, "text", window = 3,
        minCount = 1L, topN = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // the rarer pair carries the higher association — the classic PMI
    // shape — and the 1-token doc forms no pair without crashing
    assert(got == Seq(("c", "d", 1L, pmi(1, 1, 1)), ("a", "b", 2L, pmi(2, 2, 2))))
    assert(got.head._4 > got(1)._4)
  }

  test("sourceOverlap: hand-computed containment matrix incl. zero cells") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "alpha beta gamma delta", "A"),
      (2L, "alpha beta gamma delta", "A"),   // dup doc: must not inflate n_a
      (3L, "alpha beta gamma epsilon", "B"),
      (4L, "one two three", "C")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceOverlap(docs, "text", "source")
      .orderBy("grp_a", "grp_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // A = {alpha beta gamma, beta gamma delta}, B = {alpha beta gamma,
    // beta gamma epsilon}, C = {one two three}; A∩B = 1 gram
    assert(got == Seq(
      ("A", "B", 2L, 1L, 0.5), ("A", "C", 2L, 0L, 0.0),
      ("B", "A", 2L, 1L, 0.5), ("B", "C", 2L, 0L, 0.0),
      ("C", "A", 1L, 0L, 0.0), ("C", "B", 1L, 0L, 0.0)))
  }

  test("paragraphDedup: 100k-paragraph doc completes in bounded time (sort-based, not quadratic)") {
    // the pathological boilerplate doc the r11 watch flagged: a
    // million-line chrome page stalls a task under the O(paras²)
    // per-element first-index probe; the sort-based form is
    // O(paras·log paras). 2000 distinct paragraphs × 50 interleaved
    // repeats = 100k paragraphs in one row.
    val paras = (0 until 100000).map(i => s"para line number ${i % 2000}")
    val doc = Seq((1L, paras.mkString("\n"))).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val got = Curation.paragraphDedup(doc, "text", "doc_id").collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.length == 1)
    assert(got(0).getLong(1) == 100000L, "n_paras")
    assert(got(0).getLong(2) == 98000L, "n_dup_paras")
    // first 2000 paragraphs are the distinct set in document order
    assert(got(0).getString(4) == paras.take(2000).mkString("\n"))
    // quadratic would be ~10^10 string compares; sorted is ~10^6.
    // 60 s is orders of magnitude above the sorted form's cost and
    // orders below the quadratic one's — CI-robust
    assert(sec < 60.0, s"100k-paragraph doc took $sec s")
  }

  test("paragraphDedup: sort-based form row-parity with a reference first-occurrence on irregular input") {
    // deterministic pseudo-random paragraph streams; reference =
    // Scala's distinct (keeps first occurrence in encounter order)
    val rnd = new scala.util.Random(42)
    val rows = (1L to 50L).map { id =>
      val n = 1 + rnd.nextInt(30)
      val ps = (0 until n).map(_ => s"p${rnd.nextInt(8)} ${rnd.nextInt(3)}")
      (id, ps.mkString("\n"), ps)
    }
    val docs = rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
    val got = Curation.paragraphDedup(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
    rows.zip(got).foreach { case ((id, _, ps), r) =>
      val expectKept = ps.map(_.trim).filter(_.nonEmpty).distinct
      assert(r.getLong(0) == id)
      assert(r.getString(4) == expectKept.mkString("\n"),
        s"doc $id: ${r.getString(4)}")
      assert(r.getLong(2) == ps.length - expectKept.length, s"doc $id dup count")
    }
  }

  test("sourceCap: non-long id fails loudly on the native path, never an empty result") {
    // the r11 advice case: a blind cast-to-long would NULL a string id
    // for every row and silently drop all documents at the join-back.
    // Untouched, the native graft_topk path rejects the type at
    // analysis; the window fallback handles any id type correctly.
    val df = Seq(("docA", "s1", 0.9), ("docB", "s1", 0.7), ("docC", "s2", 0.5))
      .toDF("id", "src", "q")
    val e = intercept[Exception] {
      Curation.sourceCap(df, "id", "src", "q", 2).collect()
    }
    assert(e.getMessage.contains("graft_topk"), e.getMessage)
    spark.conf.set("graft.native.disabled", "true")
    val fallback =
      try Curation.sourceCap(df, "id", "src", "q", 2)
        .orderBy("grp", "rank").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
      finally spark.conf.unset("graft.native.disabled")
    assert(fallback == Seq(("s1", 1, "docA"), ("s1", 2, "docB"), ("s2", 1, "docC")))
  }

  test("mixtureWeights: uniform init, normalized rounds, mass flows monotonically toward the hardest source") {
    val docs = graft.tables.Tables(spark, "/root/testdata/sf0.001").documents
    val rounds = 5
    val got = Curation.mixtureWeights(docs, "text", "doc_id", "source",
        rounds = rounds, eta = 0.5)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getDouble(4)))
    val sources = got.map(_._2).distinct.sorted.toSeq
    assert(got.length == sources.size * (rounds + 1))
    // round 0: uniform init, no excess
    val r0 = got.filter(_._1 == 0)
    val w0 = math.floor(1.0 / sources.size * 1e6 + 0.5) / 1e6
    assert(r0.forall(x => x._5 == w0 && x._4.isEmpty), r0.mkString(","))
    // every later round: weights renormalize (to within the 6dp
    // rounding slack) and excess is present
    for (t <- 1 to rounds) {
      val rt = got.filter(_._1 == t)
      assert(math.abs(rt.map(_._5).sum - 1.0) <= 2e-6 * sources.size,
        s"round $t weights do not renormalize")
      assert(rt.forall(_._4.isDefined))
    }
    // the hardest source's weight never decreases; the easiest's
    // never increases (its loss sits below every mixture baseline)
    val hardest = got.maxBy(_._3)._2
    val easiest = got.minBy(_._3)._2
    def series(src: String) =
      got.filter(_._2 == src).sortBy(_._1).map(_._5).toSeq
    val hs = series(hardest); val es = series(easiest)
    assert(hs.zip(hs.tail).forall { case (a, b) => b >= a },
      s"hardest source weight not monotone: $hs")
    assert(es.zip(es.tail).forall { case (a, b) => b <= a },
      s"easiest source weight not monotone: $es")
    assert(hs.last > w0 && es.last < w0,
      s"no mass moved after $rounds rounds: hardest $hs easiest $es")
    // validation
    intercept[IllegalArgumentException] {
      Curation.mixtureWeights(docs, "text", "doc_id", "source", rounds = 0)
    }
    intercept[IllegalArgumentException] {
      Curation.mixtureWeights(docs, "text", "doc_id", "source", eta = 0.0)
    }
  }

  test("shardAssignments: t8 shard rule, t13 within-shard order, t9 packing — hand-checked") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // token counts 3 / 2 / 1 / 4; nShards = 1 puts everything in one
    // shard so the t13 (hash, id) order and the t9 packing are the
    // whole story; budget 4 forces pack boundaries mid-list
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f"),
      (4L, "g h i j")).toDF("doc_id", "text")
    val got = Curation.shardAssignments(docs, "doc_id", "text",
        "graft", nShards = 1, budgetTokens = 4L)
      .orderBy("pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val toks = Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 4L)
    val order = Seq(1L, 2L, 3L, 4L).sortBy(id => (md5hex(s"$id:graft"), id))
    val prevs = order.map(toks).scanLeft(0L)(_ + _).init
    val expect = order.zip(prevs).zipWithIndex.map { case ((id, prev), i) =>
      (id, toks(id), 0L, (i + 1).toLong, prev / 4L)
    }
    assert(got == expect, s"got $got\nexpect $expect")
    // nShards > 1: shard_id is the 4-hex md5 prefix folded mod n, and
    // null ids drop (the t8/t13 contract)
    val sharded = Curation.shardAssignments(
        docs.unionByName(Seq((null.asInstanceOf[java.lang.Long], "x y"))
          .toDF("doc_id", "text")),
        "doc_id", "text", "graft", nShards = 3, budgetTokens = 4L)
      .collect()
    assert(sharded.length == 4, "null id must drop")
    sharded.foreach { r =>
      val expectShard =
        java.lang.Long.parseLong(md5hex(s"${r.getLong(0)}:graft").take(4), 16) % 3
      assert(r.getLong(2) == expectShard, s"shard rule mismatch: $r")
    }
  }

  test("sourceCap: INTEGER id widens losslessly to long and runs the native path") {
    // the r12 advice case: graft_topk requires bigint, so an int id
    // must widen (losslessly) rather than fail at analysis time
    val df = Seq((1, "s1", 0.9), (2, "s1", 0.7), (3, "s2", 0.5))
      .toDF("id", "src", "q")
    val got = Curation.sourceCap(df, "id", "src", "q", 1)
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == Seq(("s1", 1, 1L), ("s2", 1, 3L)))
  }
}
