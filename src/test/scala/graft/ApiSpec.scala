package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The parametric library surface (graft.api) exercised on SYNTHETIC
  * frames — proving the operators are fixture-independent: a user
  * points them at their own tables. The graded queries are thin
  * adapters over these same functions, so fixture correctness is
  * covered by the oracle gate; this ring pins the API contract. */
class ApiSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def docs = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      // near dup of 1: only the final trigram differs -> shingle
      // jaccard 6/8 = 0.75, expected minhash agreement ~12/16
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely different content with no overlap at all"))
      .toDF("id", "body")
  }

  test("Text.tokens: ordinal positions, lowercasing, custom columns") {
    val t = api.Text.tokens(docs, "id", "body")
    assert(t.where(col("id") === 1L).count() == 9)
    val first = t.where(col("id") === 1L && col("ord") === 1)
      .select("token").head.getString(0)
    assert(first == "the")
  }

  test("Text.shingles: distinct k-grams, k parametric") {
    val s3 = api.Text.shingles(docs, "id", "body", 3)
    // 9 tokens -> 7 trigrams, all distinct in this sentence
    assert(s3.where(col("id") === 1L).count() == 7)
    val s5 = api.Text.shingles(docs, "id", "body", 5)
    assert(s5.where(col("id") === 1L).count() == 5)
  }

  /** The tokenizer's edge inputs: null, empty, blank, runs of spaces,
    * mixed-case non-ASCII and a tab (not a separator). */
  private def edgeTexts = {
    val sp = spark
    import sp.implicits._
    Seq[(Long, String)]((1L, null), (2L, ""), (3L, "   "),
      (4L, "  Big  DATA "), (5L, "ÜBER  Çava"), (6L, "a\tB c"), (7L, "a  b"))
      .toDF("id", "t")
  }

  test("Text.tokenArray equals the inline SQL tokenizer on edge inputs") {
    val got = edgeTexts
      .select(col("id"), api.Text.tokenArray("t").as("a"),
        expr("filter(split(lower(t), ' '), x -> x <> '')").as("b"))
      .orderBy("id").collect()
    got.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
      s"id ${r.getLong(0)}"))
    val arr = got.map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    assert(arr(1L).isEmpty)
    assert(arr(2L).contains(Seq()) && arr(3L).contains(Seq()))
    assert(arr(4L).contains(Seq("big", "data")))
    assert(arr(5L).contains(Seq("über", "çava")))
    assert(arr(6L).contains(Seq("a\tb", "c")))
  }

  test("Text.tokens keeps the raw word ordinal and drops empties") {
    val t = api.Text.tokens(edgeTexts, "id", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(t.filter(_._1 == 7L) == Set((7L, 1L, "a"), (7L, 3L, "b")))
    assert(t.filter(_._1 == 4L) == Set((4L, 3L, "big"), (4L, 5L, "data")))
    assert(!t.exists(r => r._1 <= 3L), "null, empty and blank texts give no tokens")
    assert(!t.exists(_._3.isEmpty))
  }

  test("Text.ngrams: arrays shorter than n give [], longer ones every window") {
    val sp = spark
    import sp.implicits._
    val arrs = Seq(Seq[String](), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"))
      .zipWithIndex.map { case (a, i) => (i.toLong, a) }.toDF("id", "arr")
    val bi = arrs.select(col("id"), api.Text.ngrams("arr", 2).as("g"))
      .orderBy("id").collect().map(_.getSeq[String](1))
    assert(bi.toSeq == Seq(Seq(), Seq(), Seq("a b"), Seq("a b", "b c")))
    val tri = arrs.select(api.Text.ngrams("arr", 3).as("g"))
      .orderBy(size(col("g"))).collect().map(_.getSeq[String](0))
    assert(tri.toSeq == Seq(Seq(), Seq(), Seq(), Seq("a b c")))
    val uni = arrs.where(col("id") === 3L)
      .select(api.Text.ngrams("arr", 1)).head.getSeq[String](0)
    assert(uni == Seq("a", "b", "c"))
    // shingleArray is the distinct ngrams (caller keeps size >= k)
    val rep = Seq(Tuple1(Seq("x", "y", "x", "y"))).toDF("arr")
      .select(api.Text.ngrams("arr", 2), api.Dedup.shingleArray("arr", 2))
      .head
    assert(rep.getSeq[String](0) == Seq("x y", "y x", "x y"))
    assert(rep.getSeq[String](1) == Seq("x y", "y x"))
  }

  test("Dedup.exact + byContentMd5 agree: survivor=min, dup counted") {
    val e = api.Dedup.exact(docs, "id", Seq("body"))
    assert(e.count() == 3)
    assert(e.where(col("dup_cnt") === 2).select("survivor").head.getLong(0) == 1L)
    val m = api.Dedup.byContentMd5(docs, "id", "body")
    assert(m.count() == 3)
    assert(m.agg(sum("dup_cnt")).head.getLong(0) == 4L)
  }

  test("Dedup.minhash: exact dup agrees on all slots, near dup on most") {
    val sig = api.Dedup.minhashSignatures(
      api.Text.shingles(docs, "id", "body", 3), "id",
      operators.TextOps.permTable)
    val cand = api.Dedup.minhashCandidates(sig, "id", minMatches = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cand((1L, 2L)) == 16L, "identical docs must agree on all 16 slots")
    assert(cand.contains((1L, 3L)) || cand.contains((2L, 3L)),
      "near-dup should band-join with >= 8 matches")
    assert(!cand.exists { case ((a, b), _) => b == 4L || a == 4L },
      "disjoint doc must produce no candidate pair")
  }

  test("Dedup.jaccardPairs: dup pair has jaccard 1.0, threshold filters") {
    val sh = api.Text.shingles(docs, "id", "body", 3)
    val p = api.Dedup.jaccardPairs(sh, "id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(p((1L, 2L)) == 1.0)
    assert(p((1L, 3L)) == 0.75)
    assert(!p.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("Dedup.simhash: identical token profiles share a signature") {
    val tf = api.Text.tokens(docs, "id", "body")
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val sig = api.Dedup.simhash(tf, "id", "token", "tf")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L), "exact dups must bucket together")
    assert(sig.values.forall(h => h >= 0 && h < (1L << 16)))
    assert(sig(1L) != sig(4L), "disjoint docs should not collide")
  }

  test("Vec.quantizeInt8: known scale, floor semantics, range") {
    val sp = spark
    import sp.implicits._
    // group 7: max-abs 2.0 -> q = floor(x * 63.5)
    val v = Seq((1L, 7L, Array(2.0, -2.0, 1.0, 0.0)),
      (2L, 7L, Array(0.5, -0.5, 0.1, -0.1)))
      .toDF("id", "grp", "v")
    val q = api.Vec.quantizeInt8(v, "v", "grp")
      .orderBy("id").collect()
    assert(q(0).getAs[scala.collection.Seq[Long]]("q").toSeq ==
      Seq(127L, -127L, 63L, 0L))
    assert(q(1).getAs[scala.collection.Seq[Long]]("q").toSeq ==
      Seq(31L, -32L, 6L, -7L))
    assert(q(0).getAs[Double]("scale") == 2.0)
  }

  test("Text.tfidf: all-doc token has idf 0, tf counts exact") {
    val t = api.Text.tfidf(docs, "id", "body")
    // "the" appears in docs 1-3 twice, doc 4 not at all -> idf > 0
    val the = t.where(col("token") === "the" && col("id") === 1L).head
    assert(the.getLong(2) == 2L)
    // a token present in every doc would have idf ln(5/5)=0; here no
    // token spans all 4 docs, so every idf must be > 0
    assert(t.where(col("idf") <= 0).count() == 0)
  }

  test("Sim.cosineTopK: known 2-D geometry ranks correctly") {
    val sp = spark
    import sp.implicits._
    // probe (1,0); corpus: same dir, 45 deg, orthogonal, opposite
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(2.0, 0.0)),
      (3L, Array(1.0, 1.0)), (4L, Array(0.0, 1.0)), (5L, Array(-1.0, 0.0)))
      .toDF("id", "v")
    val top = api.Sim.cosineTopK(vecs, vecs.where($"id" === 1L), "id", "v", 4)
      .orderBy("rn").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 3L, 4L, 5L))
    assert(top(0).getDouble(2) == 1.0)      // parallel
    assert(top(1).getDouble(2) == 0.707107) // cos 45 rounded to 6
    assert(top(2).getDouble(2) == 0.0)      // orthogonal
    assert(top(3).getDouble(2) == -1.0)     // opposite
  }

  test("Sim.lshBuckets: identical vectors share every bucket, seeded-stable") {
    val sp = spark
    import sp.implicits._
    val vecs = Seq(
      (1L, Array(0.5, -0.2, 0.8)), (2L, Array(0.5, -0.2, 0.8)),
      (3L, Array(-0.5, 0.2, -0.8)))
      .toDF("id", "v")
    val b = api.Sim.lshBuckets(vecs, "id", "v", dim = 3, tables = 4,
      bits = 2, seed = 7L)
    assert(b.count() == 12) // 3 ids x 4 tables
    val byId = b.collect().groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(1), r.getInt(2))).toSet }
    assert(byId(1L) == byId(2L), "identical vectors must bucket identically")
    // opposite vector flips every sign bit -> complementary buckets
    assert(byId(1L).intersect(byId(3L)).isEmpty)
    val b2 = api.Sim.lshBuckets(vecs, "id", "v", 3, 4, 2, 7L).collect().toSet
    assert(b2 == b.collect().toSet, "seeded planes must be reproducible")
  }

  test("Ml.fold/exceptFold partition the frame; confusionSummary math") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 100L).toDF("id")
    val f0 = api.Ml.fold(df, "id", 5, 0)
    val rest = api.Ml.exceptFold(df, "id", 5, 0)
    assert(f0.count() == 20 && rest.count() == 80)
    assert(f0.join(rest, "id").count() == 0)
    val scored = Seq((0L, 0L), (0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L))
      .toDF("y", "p")
    val cs = api.Ml.confusionSummary(scored, "y", "p")
      .orderBy("label").collect()
    // label 0: support 3, tp 2, predicted 3 -> recall 666666, precision 666666
    assert(cs(0).getLong(1) == 3 && cs(0).getLong(2) == 2 &&
      cs(0).getLong(3) == 3 && cs(0).getLong(4) == 666666L)
    // label 1: support 2, tp 1, predicted 2
    assert(cs(1).getLong(1) == 2 && cs(1).getLong(2) == 1 &&
      cs(1).getLong(3) == 2 && cs(1).getLong(5) == 500000L)
  }

  test("Text.langId: lexicon voting with (hits DESC, lang ASC) tie-break") {
    val sp = spark
    import sp.implicits._
    val lex = Seq(("en", "the"), ("en", "and"), ("es", "el"), ("es", "la"))
      .toDF("lang", "token")
    val toks = Seq((1L, "the"), (1L, "and"), (1L, "el"),
      (2L, "el"), (2L, "la"),
      (3L, "the"), (3L, "el"), // tie en/es -> en (alphabetical)
      (4L, "zzz")).toDF("id", "tok")
    val got = api.Text.langId(toks, "id", "tok", lex)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "en"), s"got=$got")
  }

  test("Text.qualityScore: closed-form ppm ratios") {
    val sp = spark
    import sp.implicits._
    // freq: x=3, y=1, z=1 -> top-1 stopword = x
    val toks = Seq((1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "x"), (2L, "z")).toDF("id", "tok")
    val got = api.Text.qualityScore(toks, "id", "tok", topStopwords = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc1: n=3 distinct=2 stop=2 -> 666666, 666666, (1e6*3*1*2)/900=6666
    // doc2: n=2 distinct=2 stop=1 -> 500000, 1000000, (1e6*2*1*2)/400=10000
    assert(got(1L) == ((3L, 666666L, 666666L, 6666L)), got(1L).toString)
    assert(got(2L) == ((2L, 500000L, 1000000L, 10000L)), got(2L).toString)
  }

  test("Text.packBins: linear packing with overflow, per-stratum") {
    val sp = spark
    import sp.implicits._
    // budget 10: cum_before 0,7,14,16 -> bins 0,0,1,1; second stratum resets
    val df = Seq((1L, "a", 7L), (2L, "a", 7L), (3L, "a", 2L), (4L, "a", 9L),
      (5L, "b", 25L), (6L, "b", 1L)).toDF("id", "g", "n")
    val got = api.Text.packBins(df, "id", "g", "n", 10)
      .select("id", "bin").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 0L, 6L -> 2L), s"bins=$got")
  }

  test("connectedComponents == union-find ground truth on random graphs") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val n = 20 + rnd.nextInt(10)
      val edges = Seq.fill(25)(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // union-find with union-by-min-root: the root of every set stays
      // the set's minimum member, so find(v) IS the expected label
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r); r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = api.Dedup.connectedComponents(edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: got=$got want=$want")
    }
  }

  test("Dedup.connectedComponents: empty edge list yields empty labels") {
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(api.Dedup.connectedComponents(empty).count() == 0)
  }

  test("Ml.stringIndex: frequencyDesc order with alphabetical tie-break") {
    val sp = spark
    import sp.implicits._
    // freq: b=3, a=2, c=2, d=1 -> b:0, then tie (a,c) alphabetical -> a:1, c:2, d:3
    val df = Seq("b", "b", "b", "a", "a", "c", "c", "d").toDF("v")
    val got = api.Ml.stringIndex(df, "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("b" -> 0L, "a" -> 1L, "c" -> 2L, "d" -> 3L))
  }

  test("Sample.stratifiedCap caps per stratum keeping lowest ids") {
    val sp = spark
    import sp.implicits._
    val df = (1L to 10L).map(i => (i, if (i <= 7) "x" else "y")).toDF("id", "g")
    val got = api.Sample.stratifiedCap(df, "g", "id", 3)
      .select("g", "id").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("x", 1L), ("x", 2L), ("x", 3L),
      ("y", 8L), ("y", 9L), ("y", 10L)))
  }

  test("Sample.mixtureCap: integer-part quotas, stratum-size cap, hash-order determinism") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 100L)
      .map(i => (i, if (i < 60) "a" else if (i < 90) "b" else "c"))
      .toDF("id", "g")
    // parts a:3 b:1 c:1 of total 50 -> quotas 30/10/10, all under n_s
    val m = api.Sample.mixtureCap(df, "g", "id",
      Seq("a" -> 3L, "b" -> 1L, "c" -> 1L), 50L)
    val counts = m.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 30L, "b" -> 10L, "c" -> 10L), counts.toString)
    // total 1000 -> raw quotas 600/200/200 must cap at n_s = 60/30/10
    val capped = api.Sample.mixtureCap(df, "g", "id",
        Seq("a" -> 3L, "b" -> 1L, "c" -> 1L), 1000L)
      .groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == Map("a" -> 60L, "b" -> 30L, "c" -> 10L), capped.toString)
    // deterministic: same rows on a re-run
    val ids1 = m.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = api.Sample.mixtureCap(df, "g", "id",
        Seq("a" -> 3L, "b" -> 1L, "c" -> 1L), 50L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // hash order, not id order: the kept set must differ from lowest-ids
    assert(ids1 != (0L until 30L).toSet ++ (60L until 70L).toSet ++ (90L until 100L).toSet)
  }

  test("Sample.byKeyHash: reproducible and nested (pct10 subset of pct20)") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 1000L).toDF("id")
    val s10a = api.Sample.byKeyHash(df, "id", 10).collect().map(_.getLong(0)).toSet
    val s10b = api.Sample.byKeyHash(df, "id", 10).collect().map(_.getLong(0)).toSet
    val s20 = api.Sample.byKeyHash(df, "id", 20).collect().map(_.getLong(0)).toSet
    assert(s10a == s10b, "must be reproducible")
    assert(s10a.subsetOf(s20), "samples must nest")
    assert(s10a.size > 50 && s10a.size < 200, s"rate off: ${s10a.size}/1000")
  }

  test("Dedup.newVsCorpus: planted dup found, no within-side pairs, direction kept") {
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely unrelated corpus document about spark plans"),
      (3L, "the quick brown fox jumps over the lazy cat")) // near dup of 1
      .toDF("id", "body")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1
      (102L, "fresh new content that matches nothing at all"))
      .toDF("id", "body")
    def sigs(df: org.apache.spark.sql.DataFrame) =
      api.Dedup.minhashSignatures(
        api.Text.shingles(df, "id", "body", 3), "id",
        operators.TextOps.permTable)
    val got = api.Dedup.newVsCorpus(sigs(batch), sigs(corpus), "id", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((101L, 1L)) == 16L,
      "identical new doc must agree with its corpus twin on all 16 slots")
    assert(!got.keySet.exists(_._1 == 102L),
      "novel doc must produce no candidates")
    // corpus docs 1 and 3 are near dups of EACH OTHER but must not
    // appear: newVsCorpus generates no within-corpus pairs
    assert(got.keySet.forall { case (n, c) => n >= 101L && c <= 3L },
      s"within-side or flipped pair leaked: ${got.keySet}")
  }

  test("Dedup.contamination: planted leak found with exact gram count, clean docs absent") {
    val sp = spark
    import sp.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "nothing here resembles any benchmark sentence in the suite at all"))
      .toDF("id", "body")
    val probe = Seq(
      // shares tokens 1..9 with train doc 1 -> two overlapping 8-grams
      (900L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("id", "body")
    def grams(df: org.apache.spark.sql.DataFrame) =
      api.Text.shingles(df, "id", "body", 8).withColumnRenamed("shingle", "gram")
    val got = api.Dedup.contamination(grams(train), grams(probe), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc1 tokens 1..10, probe tokens 1..9 + lambda: shared 8-grams are
    // [1..8] and [2..9] -> exactly 2
    assert(got == Map((1L, 900L) -> 2L), s"got=$got")
  }

  test("Profile.columns: exact matches brute force; approx within rsd") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 20000L).map(i => (i, i % 1357, s"s${i % 11}"))
      .toDF("pk", "mid", "cat")
    val cols = Seq("pk" -> col("pk"), "mid" -> col("mid"), "cat" -> col("cat"))
    val exact = api.Profile.columns(df, cols, approx = false)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(exact("pk") == ((20000L, 20000L, 20000L)))
    assert(exact("mid")._3 == 1357L && exact("cat")._3 == 11L)
    val approx = api.Profile.columns(df, cols, approx = true, rsd = 0.05)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    exact.foreach { case (c, (_, _, nd)) =>
      assert(math.abs(approx(c) - nd) <= math.max(2L, (0.05 * nd).toLong),
        s"col $c: approx=${approx(c)} exact=$nd")
    }
    // min/max identical in both modes (same native-type min/max)
    val mm = api.Profile.columns(df, cols, approx = true)
      .collect().map(r => r.getString(0) -> (r.getString(4), r.getString(5))).toMap
    assert(mm("pk") == (("0", "19999")))
  }

  test("Rel.bloomPrefilteredJoin: pre-applied fact filter still reaches the scan") {
    // the bloom membership UDF is opaque to Catalyst; the documented
    // contract is that pushable predicates applied to `fact` BEFORE the
    // call reach the parquet source. Pin it: PushedFilters on the orders
    // scan must carry the o_totalprice predicate.
    val fact = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .where(col("o_totalprice") > 150000.0)
    val dim = spark.read.parquet(s"${TestSpark.sf0001}/customer.parquet")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val plan = api.Rel.bloomPrefilteredJoin(fact, "o_custkey", dim, "c_custkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"fact filter not pushed in:\n$plan")
  }

  test("Rel.bloomPrefilteredJoin == plain join on synthetic frames") {
    val sp = spark
    import sp.implicits._
    val fact = (0L until 500L).map(i => (i, i % 50)).toDF("row_id", "fk")
    val dim = Seq(3L, 7L, 11L, 13L).toDF("pk")
    val got = api.Rel.bloomPrefilteredJoin(fact, "fk", dim, "pk", 100L)
      .select("row_id").collect().map(_.getLong(0)).toSet
    val want = fact.join(dim, col("fk") === col("pk"))
      .select("row_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("Text.corpusStats: approx vocab within rsd of exact; other columns identical") {
    val docs = Tables.documents(spark, TestSpark.sf001)
    def byLang(approx: Boolean) =
      api.Text.corpusStats(docs, "lang", "text", "n_chars", approx = approx)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val exact = byLang(approx = false)
    val appx = byLang(approx = true)
    assert(exact.keySet == appx.keySet && exact.nonEmpty)
    exact.foreach { case (lang, (nDocs, avgChars, vocab, cpt)) =>
      val (aDocs, aAvg, aVocab, aCpt) = appx(lang)
      assert((aDocs, aAvg, aCpt) == ((nDocs, avgChars, cpt)),
        s"$lang: non-vocab columns must not change with the dial")
      // rsd=0.05 is a 1-sigma relative error; allow 3 sigma.
      assert(math.abs(aVocab - vocab) <= 0.15 * vocab,
        s"$lang: approx vocab=$aVocab exact=$vocab")
    }
  }

  test("Sketch.kllRollup: k threads through the merge; sub-percent ranks keep distinct names") {
    val sp = spark
    import sp.implicits._
    val df = (1 to 2000).map(i => (i % 4, i % 20, i.toDouble)).toDF("g", "f", "v")
    // ranks 0.995 and 0.999 used to BOTH name p100 (ADVICE r5) — now
    // p99_5 / p99_9, select-by-name safe.
    val rolled = api.Sketch.kllRollup(df, "v", fine = Seq("g", "f"),
      coarse = Seq("g"), ranks = Seq(0.5, 0.995, 0.999), k = 400)
    assert(rolled.columns.toSeq == Seq("g", "p50", "p99_5", "p99_9", "n_groups"))
    assert(rolled.count() == 4)
    // the merged sketch must keep the caller's k = 400, not downgrade
    // to the k=200 default via the merge buffer (KLL merge takes the
    // MIN k of its inputs — ADVICE r5).
    val bin = df.groupBy("g", "f")
      .agg(expr("graft_kll_agg(v, 400)").as("sk"))
      .agg(expr("graft_kll_merge_agg(sk, 400)").as("m"))
      .head().getAs[Array[Byte]](0)
    val merged = org.apache.datasketches.kll.KllDoublesSketch.heapify(
      org.apache.datasketches.memory.Memory.wrap(bin))
    assert(merged.getK == 400, s"merged k=${merged.getK}")
    assert(merged.getN == 2000)
  }

  test("Sketch.hllRollup: estimate exact at small cardinality; groups counted") {
    val sp = spark
    import sp.implicits._
    val df = (0L until 300L).map(i => (i, s"n${i % 6}", s"r${i % 2}"))
      .toDF("key", "fine_k", "coarse_k")
    val got = api.Sketch.hllRollup(df, "key",
        fine = Seq("coarse_k", "fine_k"), coarse = Seq("coarse_k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // each coarse group sees 150 distinct keys across 3 fine groups
    assert(got.keySet == Set("r0", "r1"))
    got.values.foreach { case (est, n) =>
      assert(n == 3 && math.abs(est - 150L) <= 5, s"est=$est n=$n")
    }
  }

  test("jaccardVerify is immune to duplicated candidate rows (review r6)") {
    val sp = spark
    import sp.implicits._
    val sh = api.Text.shingles(docs, "id", "body", 3)
    val once = Seq((1L, 2L)).toDF("d1", "d2")
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("d1", "d2")
    val a = api.Dedup.jaccardVerify(sh, "id", once, 0.0).collect()
    val b = api.Dedup.jaccardVerify(sh, "id", dup, 0.0).collect()
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
    // docs 1 and 2 are exact dups: jaccard must be exactly 1.0, which
    // the pre-fix duplicate inflation would have pushed above 1
    assert(a.head.getDouble(3) == 1.0)
  }

  test("Dist.bandedRank == naive window rank on adversarial ties/gaps") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // order-key ties inside and at band edges, empty bands, two groups
    val rows = Seq(
      ("a", 0L, 1L), ("a", 0L, 2L), ("a", 127L, 3L), ("a", 128L, 4L),
      ("a", 128L, 5L), ("a", 129L, 6L), ("a", 9000L, 7L),
      ("b", 5L, 1L), ("b", 5L, 2L), ("b", 5L, 3L), ("b", 600L, 4L))
      .toDF("g", "x", "id")
    val banded = api.Dist.bandedRank(rows, Seq("g"), "x", "id", 128L)
    val w = Window.partitionBy("g").orderBy(col("x").asc, col("id").asc)
    val naive = rows.withColumn("nr", row_number().over(w).cast("long"))
    val mism = banded.join(naive, Seq("g", "x", "id"))
      .where(col("rank") =!= col("nr")).count()
    assert(mism == 0)
  }

  test("Dist.bandedCumSum inclusive/exclusive vs naive, multi-column") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // pre-grouped unique keys (the documented contract), sparse bands
    val rows = Seq((0L, 2L, 10L), (127L, 3L, 20L), (128L, 5L, 1L),
      (1000L, 7L, 2L), (1001L, 11L, 4L)).toDF("k", "n1", "n2")
    val got = api.Dist.bandedCumSum(rows, Seq(), "k", 128L,
      Seq("n1", "n2"), inclusive = true)
    val gotEx = api.Dist.bandedCumSum(rows, Seq(), "k", 128L,
      Seq("n1"), inclusive = false)
    val wIn = Window.orderBy(col("k").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wEx = Window.orderBy(col("k").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nIn = rows.withColumn("c1", sum("n1").over(wIn))
      .withColumn("c2", sum("n2").over(wIn))
    val nEx = rows.withColumn("c1", coalesce(sum("n1").over(wEx), lit(0L)))
    assert(got.join(nIn, "k").where(col("cum_n1") =!= col("c1") ||
      col("cum_n2") =!= col("c2")).count() == 0)
    assert(gotEx.join(nEx, "k").where(col("cum_n1") =!= col("c1"))
      .count() == 0)
  }

  test("Ml.denseIds: contiguous bijective 0-based ids, deterministic, " +
    "null-safe, any key type") {
    val sp = spark
    import sp.implicits._
    // sparse, unordered, duplicated long keys + a null (dropped)
    val longs = Seq(900000000000L, 7L, 7L, 42L, 900000000000L, 1L)
      .map(Option(_)).:+(None).toDF("k")
    val d1 = api.Ml.denseIds(longs, "k").cache()
    assert(d1.count() == 4) // distinct non-null keys
    val ids = d1.select("id").collect().map(_.getInt(0)).sorted
    assert(ids.toSeq == Seq(0, 1, 2, 3), "ids must be contiguous 0-based")
    // bijective: distinct ids == distinct keys
    assert(d1.select("id").distinct().count() == 4)
    // deterministic: a second independent build maps identically
    val d2 = api.Ml.denseIds(longs, "k")
    assert(d1.join(d2.withColumnRenamed("id", "id2"), "key")
      .where(col("id") =!= col("id2")).count() == 0)
    d1.unpersist()
    // string keys work too (the ALS "arbitrary key domain" contract)
    val strs = Seq("beta", "alpha", "beta", "gamma").toDF("k")
    val ds = api.Ml.denseIds(strs, "k")
    assert(ds.count() == 3 &&
      ds.agg(min("id"), max("id")).head().toSeq == Seq(0, 2))
  }

  test("Ml.confusionMatrixPpm keys on the full class union (ADVICE r10)") {
    val sp = spark
    import sp.implicits._
    // class c is predicted twice but never actual: it must get its own
    // row (n_actual = 0, precision = 0 by definition) so macro-averages
    // over the returned rows cover the evaluator's class set
    val df = Seq(("a", "a"), ("a", "c"), ("b", "c"), ("b", "b"))
      .toDF("y", "p")
    val cm = api.Ml.confusionMatrixPpm(df, "y", "p")
      .orderBy("class").collect()
    assert(cm.map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    val c = cm(2)
    assert(c.getLong(1) == 0 && c.getLong(2) == 2 && c.getLong(3) == 0)
    assert(c.getLong(4) == 0 && c.getLong(5) == 0 && c.getLong(6) == 0)
  }

  test("Ml.confusionMatrixPpm + kappaMcc: hand-computed 2-class case") {
    val sp = spark
    import sp.implicits._
    // actual: 3 a / 2 b; predicted: a,a,b | a,b -> tp(a)=2, tp(b)=1
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "a"),
      ("b", "b")).toDF("y", "p")
    val cm = api.Ml.confusionMatrixPpm(df, "y", "p")
      .orderBy("class").collect()
    assert(cm.map(_.getString(0)).toSeq == Seq("a", "b"))
    val a = cm(0); val b = cm(1)
    assert(a.getLong(1) == 3 && a.getLong(2) == 3 && a.getLong(3) == 2)
    assert(a.getLong(4) == 666666L && a.getLong(5) == 666666L &&
      a.getLong(6) == 666666L)
    assert(b.getLong(1) == 2 && b.getLong(2) == 2 && b.getLong(3) == 1)
    assert(b.getLong(4) == 500000L)
    val k = api.Ml.kappaMcc(df, "y", "p").collect().head
    // n=5, stp=3, snanp = 3*3 + 2*2 = 13
    // po = 600000; pe = 13e6/25 = 520000
    // kappa = (5*3-13)/(25-13) = 2/12 = 0.166667
    assert(k.getLong(0) == 5 && k.getLong(1) == 600000L &&
      k.getLong(2) == 520000L)
    assert(math.abs(k.getDouble(3) - 0.166667) < 1e-6)
    // mcc = 2 / (sqrt(25-13)*sqrt(25-13)) = 2/12 here (symmetric)
    assert(math.abs(k.getDouble(4) - 0.166667) < 1e-6)
  }

  test("Ml.liftGains + decisionStump: perfectly ranked tiny case") {
    val sp = spark
    import sp.implicits._
    // scores 10..1, positives = the top 3 scores: a perfect ranking
    val df = (1L to 10L).map(s => (s, s >= 8)).toDF("s", "pos")
    val lg = api.Ml.liftGains(df, "s", "pos", scoreShift = 100L)
      .orderBy("decile").collect()
    assert(lg.length == 10)
    // decile 3 captures all 3 positives at 30% share -> lift ~3.33x
    val d3 = lg(2)
    assert(d3.getLong(3) == 3 && d3.getLong(4) == 1000000L)
    assert(d3.getLong(5) == 300000L)
    assert(d3.getLong(6) == 1000000L * 1000000L / 300000L)
    // the stump finds the clean boundary: left = scores <= 7, pure
    val st = api.Ml.decisionStump(df, "s", "pos", scoreShift = 100L)
      .collect().head
    assert(st.getLong(0) == 7L, "split at the class boundary")
    assert(st.getLong(5) == 0L && st.getLong(6) == 0L &&
      st.getLong(7) == 0L, "both sides pure, weighted Gini 0")
  }
}
