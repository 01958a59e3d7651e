package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the native graft_polyhash Catalyst expression —
  * must be bit-identical to the interpreted HOF fold it replaces
  * (api.Text.polyHash) on every string either form can see. */
class TextExprsSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def hofSql(c: String): String =
    s"aggregate(sequence(1, length($c)), 0L, " +
      s"(a, i) -> (a * 131 + ascii(substring($c, i, 1))) % 1000000007)"

  test("graft_polyhash equals the HOF fold on the multilingual corpus") {
    val toks = graft.api.Text.tokens(
      Tables.documents(spark, TestSpark.sf001), "doc_id", "text")
    val both = toks.select(
      expr("graft_polyhash(token)").as("native"),
      expr(hofSql("token")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    // and the fold actually leaves the trivial range (regression guard
    // against a degenerate hash)
    assert(both.where(col("native") >= 1000000L).count() > 0)
  }

  test("graft_polyhash equals the HOF fold on unicode edges") {
    val sp = spark
    import sp.implicits._
    val edges = Seq("", "a", "abc", "Zürich", "ναί", "日本語テキスト",
      "🙂x🙂", "mixé 字", "", "ascii only words")
      .toDF("t")
    val both = edges.select(col("t"),
      expr("graft_polyhash(t)").as("native"),
      expr(hofSql("t")).as("hof"))
    val bad = both.where(col("native") =!= col("hof")).collect()
    assert(bad.isEmpty, bad.mkString(";"))
  }

  /** The exploded/window RAKE reference — the exact pre-r17 graded
    * formulation of q_text_rake — evaluated against the kernel on the
    * same corpus. */
  private def rakeReference(dir: String) = {
    import org.apache.spark.sql.expressions.Window
    val s = spark
    val tok = graft.api.Text.tokens(Tables.documents(s, dir), "doc_id", "text")
    val stop = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(10)
      .select("token").withColumn("is_stop", lit(1))
    val flagged = tok.join(broadcast(stop), Seq("token"), "left")
      .withColumn("st", coalesce(col("is_stop"), lit(0)))
      .withColumn("run", sum("st").over(Window.partitionBy("doc_id")
        .orderBy("ord")))
    val members = flagged.where(col("st") === 0)
      .select("doc_id", "run", "ord", "token")
    val ph = members.groupBy("doc_id", "run")
      .agg(count(lit(1)).as("len"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(ord, token))), x -> x.token), ' ')")
          .as("phrase"))
    val wstat = members
      .join(ph.select("doc_id", "run", "len"), Seq("doc_id", "run"))
      .groupBy("doc_id", "token")
      .agg(sum("len").as("degree"), count(lit(1)).as("freq"))
      .withColumn("sc", expr("(1000 * degree) div freq"))
    val psc = members
      .join(wstat.select("doc_id", "token", "sc"), Seq("doc_id", "token"))
      .groupBy("doc_id", "run")
      .agg(sum("sc").as("score_milli"))
    ph.join(psc, Seq("doc_id", "run"))
      .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("score_milli").desc, col("phrase").asc)))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("phrase"), col("len").as("n_words"),
        col("score_milli"))
      .orderBy("doc_id")
  }

  test("graft_rake_top kernel equals the exploded RAKE on the fixture corpus") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ref = rakeReference(dir).collect()
      val got = operators.Pipeline23.textRake(spark, dir).collect()
      assert(got.length == ref.length, s"$dir row count")
      got.zip(ref).foreach { case (g, r) => assert(g == r, s"$dir: $g vs $r") }
      assert(ref.nonEmpty, s"$dir fixture yielded no phrases — pin is vacuous")
    }
  }

  test("graft_rake_top edges: ties, empties, all-stop docs, null") {
    val sp = spark
    import sp.implicits._
    // stop list = {the}; doc 1: two single-word runs of equal score —
    // tie broken by phrase ASC; doc 2: empty tokens do NOT break a
    // run; doc 3: all tokens stopped -> null row filtered out.
    val rows = Seq(
      (1L, "zz the aa"),
      (2L, "aa  bb the cc"),
      (3L, "the the")).toDF("doc_id", "text")
    val out = rows
      .select(col("doc_id"), expr(
        "graft_rake_top(split(lower(text), ' '), array('the'))").as("r"))
      .where(col("r").isNotNull)
      .select(col("doc_id"), col("r.phrase"), col("r.n_words"),
        col("r.score_milli"))
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    // doc 1: 'aa' and 'zz' both score 1000 -> 'aa' wins the tie
    assert(out(0).getLong(0) == 1L && out(0).getString(1) == "aa"
      && out(0).getLong(2) == 1L && out(0).getLong(3) == 1000L)
    // doc 2: run 'aa bb' (len 2, each word deg 2 freq 1 -> sc 2000,
    // score 4000) beats 'cc' (1000); the double space is skipped
    assert(out(1).getLong(0) == 2L && out(1).getString(1) == "aa bb"
      && out(1).getLong(2) == 2L && out(1).getLong(3) == 4000L)
    // null text -> null result
    val nr = sp.sql(
      "SELECT graft_rake_top(CAST(NULL AS ARRAY<STRING>), array('x')) AS r")
      .head()
    assert(nr.isNullAt(0))
    // repeated word across runs: doc 'w the w v' -> w: deg 1+2=3 freq 2
    // sc = 1500; runs: 'w' (1500), 'w v' (1500 + 2000·... v: deg 2
    // freq 1 sc 2000 -> 3500) -> winner 'w v'
    val rep = sp.sql(
      "SELECT graft_rake_top(split('w the w v', ' '), array('the')) AS r")
      .select(col("r.phrase"), col("r.score_milli")).head()
    assert(rep.getString(0) == "w v" && rep.getLong(1) == 3500L)
  }

  /** The exploded reference — the exact pre-r17 graded formulation of
    * q_text_fingerprint's per-doc hashes — against the kernel. */
  private def fingerprintReference(docs: org.apache.spark.sql.DataFrame) = {
    val s = spark
    val powDf = s.createDataFrame(
      operators.ExtraText.powTable.zipWithIndex
        .map { case (p, i) => (i + 1, p) }).toDF("i", "pw")
    val P = 1000000007L
    val chars = docs
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, length(text))")).as("i"))
      .select(col("doc_id"), col("i"),
        ascii(expr("substring(text, i, 1)")).cast("long").as("code"))
    val kr = chars.where(col("i") <= 32)
      .join(broadcast(powDf), "i")
      .groupBy("doc_id")
      .agg((sum(col("code") * col("pw")) % P).as("fp_prefix"))
    val full = chars.groupBy("doc_id")
      .agg((sum(col("code") * ((col("i") % 64) + 1)) % P).as("fp_full"))
    kr.join(full, "doc_id")
  }

  test("graft_fingerprint equals the exploded reference on the corpus") {
    val sp = spark
    val docs = Tables.documents(sp, TestSpark.sf001)
    val native = docs
      .select(col("doc_id"), expr("graft_fingerprint(text)").as("f"))
      .where(col("f").isNotNull)
      .select(col("doc_id"), col("f.fp_prefix").as("np"),
        col("f.fp_full").as("nf"))
    val ref = fingerprintReference(docs)
    val j = native.join(ref, Seq("doc_id"), "full_outer")
    assert(j.where(col("np").isNull || col("fp_prefix").isNull ||
      col("np") =!= col("fp_prefix") || col("nf") =!= col("fp_full"))
      .count() == 0)
    assert(native.count() == docs.count()) // no empty texts in fixture
  }

  test("graft_fingerprint edges: boundaries, wrap, unicode, empty/null") {
    val sp = spark
    import sp.implicits._
    // 31/32/33-char prefix boundary, >64-char weight wrap, 1-char,
    // unicode (code points, not bytes), and a 200-char doc
    val edges = Seq(
      "a" * 31, "b" * 32, "c" * 33, "x", "y z",
      "d" * 200, ("ab " * 40).trim, "Zürich 日本語 🙂 mixé",
      "ναί ναί ναί").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = edges
      .select(col("doc_id"), expr("graft_fingerprint(text)").as("f"))
      .select(col("doc_id"), col("f.fp_prefix").as("np"),
        col("f.fp_full").as("nf"))
    val ref = fingerprintReference(edges)
    val j = native.join(ref, Seq("doc_id"))
    assert(j.count() == edges.count())
    val bad = j.where(col("np") =!= col("fp_prefix") ||
      col("nf") =!= col("fp_full")).collect()
    assert(bad.isEmpty, bad.mkString(";"))
    // empty string -> null struct (the exploded form emits no rows);
    // null text -> null
    val en = sp.sql("SELECT graft_fingerprint('') AS e," +
      " graft_fingerprint(CAST(NULL AS STRING)) AS n").head()
    assert(en.isNullAt(0) && en.isNullAt(1))
  }

  test("graft_polyhash null and type semantics") {
    val r = spark.sql(
      "SELECT graft_polyhash(CAST(NULL AS STRING)) AS n," +
        " graft_polyhash('') AS e").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 0L)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_polyhash(1)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("graft_polyhash"))
  }
}
