package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.60 round-14 batch 15 — ingest-hardening + eval closers: the
  * PERMISSIVE malformed-CSV gate (the corrupt-record accounting
  * every dirty bulk load runs — the source-side sibling of
  * q_fn_try's cell-level nulls), pinball loss for quantile
  * predictors (the proper scoring rule for q_agg_percentile_cont-
  * style forecasts), and per-payload byte entropy over the binary
  * column (the compressed/encrypted-blob detector, run at the
  * documented mapPartitions decode point).
  */
object Pipeline47 extends graft.QueryModule {

  private val dirtyCsv = Store.files("dirty_csv") { (s, dir, out) =>
    Tables.lineitem(s, dir)
      .select(expr("case when l_orderkey % 13 = 0" +
        " then concat('garbled;;', l_returnflag)" +
        " else concat_ws(',', cast(l_orderkey as string)," +
        " cast(cast(round(l_quantity) as bigint) as string)," +
        " l_returnflag) end").as("value"))
      .write.mode("overwrite").text(out)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(dirtyCsv)

  /** MALFORMED-CSV INGEST GATE — a deterministic dirty CSV (rows
    * with orderkey ≡ 0 mod 13 are garbled to a single unparseable
    * token) written once per (session, sf), read back under
    * PERMISSIVE with a corrupt-record column: row counts, corrupt
    * counts, and the good-row quantity mass must survive exactly.
    * Grades the production loss-less dirty-load path (DROPMALFORMED
    * silently loses rows; FAILFAST aborts the job) — the oracle
    * re-derives every figure from the clean table and the mod rule.
    *
    * 100 TB: the write is one narrow projection; the read is a
    * schema-applied scan with per-row parse state — no shuffle until
    * the final 1-row agg. */
  def sourceCsvMalformed(s: SparkSession, dir: String): DataFrame = {
    s.read
      .schema("ok BIGINT, q BIGINT, rf STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dirtyCsv(s, dir))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))
          .as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L))
          .as("n_good"),
        sum(when(col("_corrupt_record").isNull, col("q"))
          .otherwise(0L)).as("sum_q_good"),
        max(when(col("_corrupt_record").isNull, col("ok")))
          .as("max_ok_good"))
  }

  /** PINBALL (QUANTILE) LOSS — the proper scoring rule for quantile
    * predictions: per event type, τ ∈ {0.1, 0.5, 0.9} quantile
    * predictors fit on the even-event-id half and scored on the odd
    * half. Exact integers throughout: train quantiles land on the
    * .5-cent grid, so 2·(y−ŷ)·10τ is an exact integer per row and
    * the loss sum is order-free; one division renders the mean.
    *
    * 100 TB: one train percentile agg (grouped, mergeable) + one
    * map-side-partial loss agg over the test scan; the τ explode is
    * on the |types|-row support frame. */
  def mlPinballLoss(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("y"))
      .localCheckpoint(true)
    val preds = base.where(col("event_id") % 2 === 0)
      .groupBy("event_type")
      .agg(expr("percentile(y, 0.1D)").as("q1"),
        expr("percentile(y, 0.5D)").as("q5"),
        expr("percentile(y, 0.9D)").as("q9"))
      .selectExpr("event_type",
        "stack(3, 1L, cast(round(2 * q1) as bigint)," +
          " 5L, cast(round(2 * q5) as bigint)," +
          " 9L, cast(round(2 * q9) as bigint)) as (tau10, yhat2)")
    base.where(col("event_id") % 2 === 1)
      .join(broadcast(preds), "event_type")
      .select(col("event_type"), col("tau10"), col("yhat2"),
        expr("if(2 * y >= yhat2, tau10 * (2 * y - yhat2)," +
          " (10 - tau10) * (yhat2 - 2 * y))").as("l2"))
      .groupBy("event_type", "tau10")
      .agg(count(lit(1)).as("n_test"), sum("l2").as("l2sum"),
        max("yhat2").as("yhat2"))
      .selectExpr("event_type", "tau10", "n_test",
        "round(yhat2 / 2.0D, 1) as yhat_cents",
        "round(cast(l2sum as double) / n_test / 20, 6)" +
          " as pinball_cents")
      .orderBy("event_type", "tau10")
  }

  /** PER-PAYLOAD BYTE ENTROPY over the binary column — Shannon
    * entropy of the byte histogram plus the first two magic bytes:
    * the compressed/encrypted-blob detector (entropy ≈ 8 bits/byte
    * = already-compressed; low = structured/text) every multimodal
    * ingest runs before re-encoding. Computed at the documented
    * mapPartitions decode point (per-partition batch shape, no
    * driver collect); terms fold in ascending byte order so the
    * DuckDB char-histogram twin (ASCII corpus: bytes == codes, the
    * q_multimodal_binary equivalence) is bitwise.
    *
    * 100 TB: stateless per-row work inside mapPartitions; output one
    * row per payload. */
  def multimodalByteEntropy(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val counts = new Array[Long](256)
          bytes.foreach(b => counts(b & 0xff) += 1)
          val n = bytes.length.toDouble
          var ent = 0.0
          var distinct = 0L
          var i = 0
          while (i < 256) {
            if (counts(i) > 0) {
              distinct += 1
              val p = counts(i) / n
              ent += p * math.log(p)
            }
            i += 1
          }
          // math.round = half-away for positives, matching DuckDB
          // ROUND (math.rint would round half-even and diverge)
          (id, bytes.length.toLong, distinct,
            math.round(-ent * 1e6).toDouble / 1e6,
            (bytes(0) & 0xff).toLong, (bytes(1) & 0xff).toLong)
        }
      }
      .toDF("doc_id", "n_bytes", "n_distinct", "entropy_nats", "b0", "b1")
      .orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_csv_malformed" -> sourceCsvMalformed,
    "q_ml_pinball_loss" -> mlPinballLoss,
    "q_multimodal_byte_entropy" -> multimodalByteEntropy)

  def oracleSql: Map[String, String] = Map(
    "q_source_csv_malformed" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN l_orderkey % 13 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_corrupt,
        |  CAST(SUM(CASE WHEN l_orderkey % 13 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_good,
        |  CAST(SUM(CASE WHEN l_orderkey % 13 <> 0
        |    THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END)
        |    AS BIGINT) AS sum_q_good,
        |  CAST(MAX(CASE WHEN l_orderkey % 13 <> 0 THEN l_orderkey END)
        |    AS BIGINT) AS max_ok_good
        |FROM lineitem""".stripMargin,
    "q_ml_pinball_loss" ->
      """WITH base AS (SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS y FROM events),
        |tr AS (SELECT event_type,
        |    CAST(ROUND(2 * quantile_cont(y, 0.1)) AS BIGINT) AS h1,
        |    CAST(ROUND(2 * quantile_cont(y, 0.5)) AS BIGINT) AS h5,
        |    CAST(ROUND(2 * quantile_cont(y, 0.9)) AS BIGINT) AS h9
        |  FROM base WHERE event_id % 2 = 0 GROUP BY event_type),
        |preds AS (
        |  SELECT event_type, 1 AS tau10, h1 AS yhat2 FROM tr
        |  UNION ALL SELECT event_type, 5, h5 FROM tr
        |  UNION ALL SELECT event_type, 9, h9 FROM tr),
        |l AS (SELECT b.event_type, p.tau10, p.yhat2,
        |    CASE WHEN 2 * y >= yhat2 THEN tau10 * (2 * y - yhat2)
        |      ELSE (10 - tau10) * (yhat2 - 2 * y) END AS l2
        |  FROM base b JOIN preds p USING (event_type)
        |  WHERE event_id % 2 = 1),
        |g AS (SELECT event_type, CAST(tau10 AS BIGINT) AS tau10,
        |    CAST(COUNT(*) AS BIGINT) AS n_test,
        |    CAST(SUM(l2) AS BIGINT) AS l2sum,
        |    CAST(MAX(yhat2) AS BIGINT) AS yhat2
        |  FROM l GROUP BY event_type, tau10)
        |SELECT event_type, tau10, n_test,
        |  ROUND(yhat2 / 2.0, 1) AS yhat_cents,
        |  ROUND(CAST(l2sum AS DOUBLE) / n_test / 20, 6) AS pinball_cents
        |FROM g ORDER BY event_type, tau10""".stripMargin,
    "q_multimodal_byte_entropy" ->
      """WITH ch AS (SELECT doc_id, n,
        |    ascii(substring(text, i, 1)) AS code
        |  FROM (SELECT doc_id, text, length(text) AS n,
        |      unnest(range(1, length(text)+1)) AS i FROM documents)),
        |hist AS (SELECT doc_id, MAX(n) AS n, code,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ch GROUP BY doc_id, code),
        |e AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bytes,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    list_reduce(list((c / CAST(n AS DOUBLE))
        |      * ln(c / CAST(n AS DOUBLE)) ORDER BY code),
        |      (a, b) -> a + b) AS ent
        |  FROM hist GROUP BY doc_id),
        |m AS (SELECT doc_id, ascii(substring(text, 1, 1)) AS b0,
        |    ascii(substring(text, 2, 1)) AS b1 FROM documents)
        |SELECT e.doc_id, n_bytes, n_distinct,
        |  ROUND(-ent, 6) AS entropy_nats,
        |  CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1
        |FROM e JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin)
}
