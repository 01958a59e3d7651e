package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Det, Tables}
import graft.sources.Store

/** Round-2 training-data-pipeline additions (SURVEY.md §2.12):
  * content-hash dedup, PII masking, int8 embedding quantization,
  * near-dup corpus pruning, a salted skew join, and a
  * partitioned-parquet sink/scan roundtrip.
  *
  * All follow the §2.0 determinism rules and the §2.0.8 output-type
  * rule (BIGINT/DOUBLE/STRING finals only).
  */
object Pipeline2 extends graft.QueryModule {
  import Det._

  /** Content-addressed exact dedup: md5 of the raw text (md5 hex is
    * bit-identical across Spark and DuckDB — probed), survivor =
    * min(doc_id). The 100 TB shape: hashing shrinks the shuffle key
    * from full document text to 32 bytes. */
  def dedupContentMd5(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.byContentMd5(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("survivor")

  /** PII scrubbing pass: mask email-shaped tokens and >=3-digit runs,
    * report replacement counts. One projection per doc — embarrassingly
    * parallel, no shuffle before the final sort. */
  def textPiiMask(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val numRe = "[0-9]{3,}"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          numRe, "<NUM>")).cast("long").as("masked_len"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(numRe)).cast("long").as("n_nums"))
      .orderBy("doc_id")
  }

  /** Int8 embedding quantization (the storage-shrink step before ANN
    * indexing at scale): per-label max-abs scale, q = floor(x*127/mx).
    * floor (not round) everywhere — floor has no half-way tie, so the
    * int result is engine-exact on identical doubles. */
  def vecQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("e", expr("transform(embedding, x -> cast(x AS double))"))
    // §2.0.8: the graded projection flattens the api's array<bigint>
    // into scalar columns (first 4 elements + total)
    graft.api.Vec.quantizeInt8(e, "e", "label")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr("q[0]").as("q0"), expr("q[1]").as("q1"),
        expr("q[2]").as("q2"), expr("q[3]").as("q3"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("qsum"))
      .orderBy("vec_id")
  }

  /** End-to-end near-dup corpus pruning: 3-shingle Jaccard >= 0.5 pairs
    * (group-then-pair, as TextOps.dedupJaccard), greedy prune = drop
    * the larger doc_id of every qualifying pair, report kept/removed
    * per language. This is the operator a training-data pipeline
    * actually runs; the pair listing is its debug view. */
  def dedupNearPrune(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.api.Dedup.jaccardPairs(
      TextOps.shingles(s, dir), "doc_id", threshold = 0.5, maxPosting = 1000)
    val removed = pairs.select(col("d2").as("doc_id")).distinct()
    Tables.documents(s, dir)
      .join(removed.withColumn("rm", lit(1)), Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(sum(when(col("rm").isNull, 1).otherwise(0)).as("kept"),
        sum(when(col("rm").isNotNull, 1).otherwise(0)).as("removed"))
      .orderBy("lang")
  }

  /** Salted equi-join — the 100 TB skew mitigation: the dim side is
    * replicated SALT ways, the fact side picks a deterministic salt, so
    * one hot key spreads over SALT reducers instead of one straggler.
    * Results are identical to the plain join (each fact row matches
    * exactly one replica); the oracle is the unsalted SQL. */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val SALT = 8
    val saltedDim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .withColumn("salt", explode(expr(s"sequence(0, ${SALT - 1})")))
    val fact = Tables.orders(s, dir)
      .withColumn("salt", pmod(col("o_orderkey"), lit(SALT)).cast("int"))
    fact.join(saltedDim.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey") &&
          fact("salt") === saltedDim("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("order_cnt"),
        sum(dec2("o_totalprice")).cast("double").as("sum_total"))
      .orderBy("c_mktsegment")
  }

  /** The status-partitioned orders slice, written once per (session,
    * sfDir) — shared by the partitioned roundtrip (static pruning) and
    * the DPP demo (runtime pruning). */
  private val partitionedOrders = Store.files("part_roundtrip") { (s, dir, out) =>
    Tables.orders(s, dir)
      .where(col("o_orderkey") < 4000)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice",
        "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
  }

  /** The bucketed lineitem and orders slices as external tables under
    * the store root, created once per (session, sfDir); the value is
    * the two table names. The catalog is shared by every session of a
    * context and can outlive the files (a released store root), so a
    * table is rewritten unless both its entry and its completed files
    * exist. */
  private val bucketedTables = Store.value("bucketed_tables") { (s, dir) =>
    val tag = java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
    val (liT, ordT) = (s"graft_li_b_$tag", s"graft_ord_b_$tag")
    def save(df: DataFrame, key: String, table: String): Unit = {
      val loc = new org.apache.hadoop.fs.Path(Store.path(s, table))
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!s.catalog.tableExists(table) ||
          !fs.exists(new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))) {
        s.sql(s"DROP TABLE IF EXISTS $table")
        fs.delete(loc, true)
        df.write.mode("overwrite").bucketBy(8, key).sortBy(key)
          .option("path", loc.toString).saveAsTable(table)
      }
    }
    save(Tables.lineitem(s, dir).where(col("l_orderkey") < 30000)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"),
      "l_orderkey", liT)
    save(Tables.orders(s, dir).where(col("o_orderkey") < 30000)
        .select("o_orderkey", "o_orderpriority"),
      "o_orderkey", ordT)
    (liT, ordT)
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(partitionedOrders, bucketedTables)

  /** Partitioned parquet sink + partition-pruned scan: write a slice of
    * orders partitioned by o_orderstatus, read back ONE partition (the
    * scan lists only that directory — the layout that makes 100 TB
    * date/status-partitioned lakes scannable). */
  def sourcePartitionedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    Tables.read(s, partitionedOrders(s, dir))
      .where(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(dec2("o_totalprice")).cast("double").as("sum_total"))
      .orderBy("o_orderpriority")
  }

  /** DYNAMIC partition pruning over the status-partitioned orders
    * slice: the partition filter is NOT a literal — it is the set of
    * statuses observed among early urgent orders, derived from a scan
    * — so static pruning cannot apply and Catalyst instead plants a
    * `dynamicpruningexpression` subquery on the partitioned scan
    * (reusing the dim's broadcast): partitions are listed and skipped
    * AT RUNTIME. On a 100 TB date/status-partitioned lake this is the
    * difference between scanning every partition and scanning the few
    * a runtime-joined dim selects — the mechanism behind star-schema
    * "join elimination by partition". PlanShapeSpec pins the
    * dynamicpruning expression on the scan. */
  def scanDpp(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.read(s, partitionedOrders(s, dir))
    val dim = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderkey") < 2000)
      .select(col("o_orderstatus").as("st")).distinct()
    fact.join(broadcast(dim), fact("o_orderstatus") === dim("st"))
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        sum(dec2("o_totalprice")).cast("double").as("sum_total"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Bucketed co-located join — the 100 TB fact⋈fact technique this
    * library standardizes on: both sides written `bucketBy(8, key)
    * .sortBy(key)`, so the join needs NO Exchange and no Sort (each
    * bucket pair joins locally; PlanShapeSpec asserts the plan).
    * On a cluster this is the one-time-shuffle-then-never-again layout
    * for tables joined repeatedly on the same key. */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val (liT, ordT) = bucketedTables(s, dir)
    s.table(liT).hint("merge")
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
        sum(dec2("l_quantity")).cast("double").as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** §2.7 bitwise function family (coverage closer). Dialect note:
    * Spark's `^` is XOR but DuckDB's `^` is POWER — the oracle must use
    * xor(); DuckDB's int32/int8 results are cast to BIGINT. */
  def fnBitwise(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"),
        (col("c_custkey").bitwiseAND(255)).cast("long").as("band"),
        (col("c_custkey").bitwiseOR(4096)).cast("long").as("bor"),
        (col("c_custkey").bitwiseXOR(1023)).cast("long").as("bxor"),
        shiftleft(col("c_custkey").bitwiseAND(15), 3).cast("long").as("shl"),
        shiftright(col("c_custkey"), 2).cast("long").as("shr"),
        expr("~c_custkey").cast("long").as("bnot"),
        bit_count(col("c_custkey")).cast("long").as("bcnt"))
      .orderBy("c_custkey")

  /** §2.4 boolean aggregates (coverage closer): bool_and / bool_or +
    * conditional existence flags per group. Finals cast to BIGINT 0/1
    * — the §2.0.8 output-type rule (ADVICE r2: the bare-BOOLEAN final
    * was the one undocumented exception to the stated invariant). */
  def aggBool(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("bool_and(l_quantity < 51)").cast("long").as("all_under_51"),
        expr("bool_or(l_quantity > 45)").cast("long").as("any_heavy"),
        expr("bool_and(l_discount >= 0)").cast("long").as("all_nonneg_disc"),
        expr("bool_or(l_extendedprice > 90000)").cast("long").as("any_pricey"))
      .orderBy("l_returnflag")

  /** §2.4 ordered string aggregation (listagg is new in Spark 4):
    * deterministic via WITHIN GROUP ordering on a unique key. */
  def aggListagg(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("graft_la_nation")
    s.sql(
      """SELECT n_regionkey,
        |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_cnt
        |FROM graft_la_nation
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
  }

  /** §2.5 nth_value over an explicit full frame (default frame stops at
    * CURRENT ROW — same trap as first/last_value). */
  def winNthValue(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Long.MinValue, Long.MaxValue)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"),
        nth_value(col("o_orderkey"), 3).over(w).as("third_order"),
        count(lit(1)).over(w).as("order_cnt"))
      .distinct()
      .orderBy("o_custkey")
  }

  /** Uncorrelated scalar subqueries: customers above the GLOBAL average
    * balance — exact decimal comparison (bal*count > sum), same
    * boundary-safety argument as q_sub_correlated. */
  def subUncorrelated(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("graft_su_customer")
    s.sql(
      """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM graft_su_customer
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM graft_su_customer)
        |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2)))
        |       FROM graft_su_customer)
        |ORDER BY c_custkey""".stripMargin)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_listagg" -> aggListagg,
    "q_win_nth_value" -> winNthValue,
    "q_sub_uncorrelated" -> subUncorrelated,
    "q_fn_bitwise" -> fnBitwise,
    "q_agg_bool" -> aggBool,
    "q_join_bucketed" -> joinBucketed,
    "q_dedup_content_md5" -> dedupContentMd5,
    "q_text_pii_mask" -> textPiiMask,
    "q_vec_quantize_int8" -> vecQuantizeInt8,
    "q_dedup_near_prune" -> dedupNearPrune,
    "q_join_skew_salted" -> joinSkewSalted,
    "q_source_partitioned_roundtrip" -> sourcePartitionedRoundtrip,
    "q_scan_dpp" -> scanDpp)

  def oracleSql: Map[String, String] = Map(
    "q_agg_listagg" ->
      """SELECT n_regionkey,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  COUNT(*) AS n_cnt
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_win_nth_value" ->
      """SELECT DISTINCT o_custkey,
        |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order,
        |  NTH_VALUE(o_orderkey, 3) OVER w AS third_order,
        |  COUNT(*) OVER w AS order_cnt
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    "q_sub_uncorrelated" ->
      """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS acctbal
        |FROM customer
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM customer)
        |    > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q_fn_bitwise" ->
      """SELECT c_custkey,
        |  CAST(c_custkey & 255 AS BIGINT) AS band,
        |  CAST(c_custkey | 4096 AS BIGINT) AS bor,
        |  CAST(xor(c_custkey, 1023) AS BIGINT) AS bxor,
        |  CAST((c_custkey & 15) << 3 AS BIGINT) AS shl,
        |  CAST(c_custkey >> 2 AS BIGINT) AS shr,
        |  CAST(~c_custkey AS BIGINT) AS bnot,
        |  CAST(bit_count(c_custkey) AS BIGINT) AS bcnt
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_agg_bool" ->
      """SELECT l_returnflag,
        |  CAST(bool_and(l_quantity < 51) AS BIGINT) AS all_under_51,
        |  CAST(bool_or(l_quantity > 45) AS BIGINT) AS any_heavy,
        |  CAST(bool_and(l_discount >= 0) AS BIGINT) AS all_nonneg_disc,
        |  CAST(bool_or(l_extendedprice > 90000) AS BIGINT) AS any_pricey
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS line_cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 30000 AND o_orderkey < 30000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_dedup_content_md5" ->
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS survivor,
        |  COUNT(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) ORDER BY survivor""".stripMargin,
    "q_text_pii_mask" ->
      """SELECT doc_id,
        |  CAST(length(regexp_replace(
        |    regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3,}', '<NUM>', 'g')) AS BIGINT) AS masked_len,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_nums
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_vec_quantize_int8" ->
      """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             embedding::DOUBLE[] AS e FROM embeddings),
        |m AS (SELECT label, GREATEST(MAX(abs(x)), 1e-12) AS mx
        |      FROM (SELECT label, unnest(e) AS x FROM v) GROUP BY label)
        |SELECT vec_id, v.label,
        |  CAST(floor(e[1] * 127.0 / mx) AS BIGINT) AS q0,
        |  CAST(floor(e[2] * 127.0 / mx) AS BIGINT) AS q1,
        |  CAST(floor(e[3] * 127.0 / mx) AS BIGINT) AS q2,
        |  CAST(floor(e[4] * 127.0 / mx) AS BIGINT) AS q3,
        |  CAST(list_sum(list_transform(e, x -> CAST(floor(x * 127.0 / mx) AS BIGINT))) AS BIGINT) AS qsum
        |FROM v JOIN m USING (label)
        |ORDER BY vec_id""".stripMargin,
    "q_dedup_near_prune" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [l[i] || ' ' || l[i+1] || ' ' || l[i+2] for i in range(1, len(l)-1)])) AS shingle
        |  FROM (SELECT doc_id, str_split(lower(text), ' ') AS l FROM documents)
        |  WHERE len(l) >= 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        |pl AS (SELECT shingle FROM sh GROUP BY shingle
        |       HAVING COUNT(*) BETWEEN 2 AND 1000),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          JOIN pl ON pl.shingle = a.shingle
        |          GROUP BY d1, d2),
        |removed AS (SELECT DISTINCT d2 AS doc_id FROM inter
        |            JOIN sizes z1 ON z1.doc_id = d1
        |            JOIN sizes z2 ON z2.doc_id = d2
        |            WHERE ROUND(CAST(inter AS DOUBLE) / (z1.sz + z2.sz - inter), 6) >= 0.5)
        |SELECT lang,
        |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS removed
        |FROM documents d LEFT JOIN removed r USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_join_skew_salted" ->
      """SELECT c_mktsegment, COUNT(*) AS order_cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_source_partitioned_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_total
        |FROM orders WHERE o_orderkey < 4000 AND o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_scan_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT o_orderstatus FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 2000)
        |SELECT f.o_orderstatus, f.o_orderpriority,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(f.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_total
        |FROM (SELECT * FROM orders WHERE o_orderkey < 4000) f
        |JOIN dim USING (o_orderstatus)
        |GROUP BY f.o_orderstatus, f.o_orderpriority
        |ORDER BY f.o_orderstatus, f.o_orderpriority""".stripMargin)
}
