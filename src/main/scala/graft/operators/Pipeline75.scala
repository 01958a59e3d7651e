package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Store

/** §2.70 round-15 batch 43 — multimodal-ingest and profiling closers:
  * the `binaryFile` source roundtrip (Spark's opaque-bytes reader —
  * the ingestion door every image/audio lake walks through), a
  * partition-kernel BYTE HISTOGRAM over the payload column (the
  * byte-level corpus fingerprint, decoder-stub shape), and the
  * per-column ENTROPY PROFILE (distinct/entropy/top-share per
  * categorical column — the one-glance "which columns carry signal"
  * table).
  */
object Pipeline75 extends graft.QueryModule {

  private val binFiles = Store.files("binfiles") { (s, dir, out) =>
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(out))
    Tables.documents(s, dir).where(col("doc_id") % 50 === 0)
      .select("doc_id", "text").collect().foreach { r =>
        val p = new org.apache.hadoop.fs.Path(
          out, f"doc_${r.getLong(0)}%09d.bin")
        val os = fs.create(p, true)
        try os.write(r.getString(1).getBytes("UTF-8"))
        finally os.close()
      }
  }

  override def artifacts: Seq[Store.Artifact[_]] = Seq(binFiles)

  /** BINARYFILE SOURCE ROUNDTRIP — every 50th document's text bytes
    * land ONCE per (session, sfDir) as .bin files (the
    * store-once/write discipline of the csv/json roundtrips), then
    * Spark's `binaryFile` format reads them back as (path, length,
    * content) and the graded output is the arithmetic §2.0.7
    * byte-checksum + length per doc. The ORACLE recomputes both from
    * the source table (the roundtrip-oracle convention: the compare
    * proves written-and-reread content equals the source of truth —
    * on this ASCII corpus char codes ARE byte values).
    *
    * 100 TB: binaryFile is the standard multimodal-ingest source —
    * one task per file (maxPartitionBytes-packed), the checksum
    * kernel runs where the bytes land, nothing but (id, len, sum)
    * leaves the scan. */
  def sourceBinaryfile(s: SparkSession, dir: String): DataFrame = {
    val out = binFiles(s, dir)
    val sp = s
    import sp.implicits._
    s.read.format("binaryFile").load(s"$out/*.bin")
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
          .cast("long").as("doc_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        // byte-loop kernel (the dedupPayload/decoder-stub shape):
        // the checksum is computed where the bytes land
        var acc = 0L
        var i = 0
        while (i < bytes.length) {
          acc = (acc * 131 + (bytes(i) & 0xff)) % 1000000007L
          i += 1
        }
        (id, bytes.length.toLong, acc)
      }
      .toDF("doc_id", "n_bytes", "checksum")
      .orderBy("doc_id")
  }

  /** BYTE HISTOGRAM of the binary payload column — per byte value the
    * corpus-wide count and ppm share, computed in a PARTITION KERNEL
    * (one long[256] per partition, rows folded in place, 256 partial
    * rows emitted per task — the decoder-stub discipline: nothing
    * per-byte ever leaves the kernel). The byte-level fingerprint a
    * multimodal lake profiles before choosing codecs/dedup routes.
    *
    * 100 TB: the only shuffle is 256·tasks partial rows into the
    * final 256-group agg; the kernel cost is one pass over the
    * payload bytes where they live. */
  def multimodalByteHistogram(s: SparkSession, dir: String): DataFrame = {
    val sp = s
    import sp.implicits._
    val parts = Tables.documents(s, dir)
      .select(col("text").cast("binary").as("payload"))
      .as[Array[Byte]]
      .mapPartitions { it =>
        val h = new Array[Long](256)
        it.foreach { bytes =>
          var i = 0
          while (i < bytes.length) { h(bytes(i) & 0xff) += 1; i += 1 }
        }
        h.iterator.zipWithIndex.collect {
          case (c, b) if c > 0 => (b.toLong, c)
        }
      }.toDF("byte", "cnt")
    val agg = parts.groupBy("byte").agg(sum("cnt").as("n"))
    val tot = agg.agg(sum("n").as("t"))
    agg.crossJoin(broadcast(tot))
      .select(col("byte"), col("n"),
        expr("(1000000 * n) div t").as("share_ppm"))
      .orderBy("byte")
  }

  /** PER-COLUMN ENTROPY PROFILE — for each declared categorical
    * column (order status/priority, customer segment, nation name):
    * distinct count, Shannon entropy in nats (value-ordered fold
    * over exact counts — the q_agg_entropy discipline), normalized
    * entropy H/ln(k), and the modal value's ppm share. The
    * "which columns carry signal" screen a profiling layer runs
    * before feature selection.
    *
    * 100 TB: one map-side-partial value-count agg per column; folds
    * run on the ≤|domain| frames. */
  def profileColEntropy(s: SparkSession, dir: String): DataFrame = {
    def prof(df: DataFrame, name: String): DataFrame = {
      val counts = df.toDF("v").groupBy("v")
        .agg(count(lit(1)).as("c"))
      counts
        .agg(sum("c").as("n"), count(lit(1)).as("k"),
          max("c").as("top_c"),
          expr("array_sort(collect_list(struct(v, c)))").as("l"))
        .select(lit(name).as("column"), col("n"), col("k"),
          round(expr("aggregate(l, 0D, (a, e) -> a - (cast(e.c as" +
            " double) / n) * ln(cast(e.c as double) / n))"), 6)
            .as("entropy_nats"),
          round(expr("case when k = 1 then 0D else aggregate(l, 0D," +
            " (a, e) -> a - (cast(e.c as double) / n)" +
            " * ln(cast(e.c as double) / n)) / ln(cast(k as double))" +
            " end"), 6).as("entropy_norm"),
          expr("(1000000 * top_c) div n").as("top_share_ppm"))
    }
    Seq(
      prof(Tables.orders(s, dir).select("o_orderstatus"),
        "orders.o_orderstatus"),
      prof(Tables.orders(s, dir).select("o_orderpriority"),
        "orders.o_orderpriority"),
      prof(Tables.customer(s, dir).select("c_mktsegment"),
        "customer.c_mktsegment"),
      prof(Tables.nation(s, dir).select("n_name"), "nation.n_name"))
      .reduce(_.unionAll(_)).orderBy("column")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_source_binaryfile" -> sourceBinaryfile,
    "q_multimodal_byte_histogram" -> multimodalByteHistogram,
    "q_profile_col_entropy" -> profileColEntropy)

  def oracleSql: Map[String, String] = Map(
    // roundtrip-oracle convention: recompute length + byte checksum
    // from the source table (ASCII: char code == byte value)
    "q_source_binaryfile" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, strlen(text) + 1),
        |      i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS BIGINT)
        |    AS checksum
        |FROM documents WHERE doc_id % 50 = 0
        |ORDER BY doc_id""".stripMargin,
    "q_multimodal_byte_histogram" ->
      """WITH ch AS (SELECT CAST(ascii(substring(text, i, 1))
        |      AS BIGINT) AS byte
        |  FROM (SELECT text, unnest(range(1, strlen(text) + 1)) AS i
        |        FROM documents)),
        |agg AS (SELECT byte, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM ch GROUP BY byte),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM agg)
        |SELECT byte, n, CAST((1000000 * n) // t AS BIGINT)
        |  AS share_ppm
        |FROM agg CROSS JOIN t ORDER BY byte""".stripMargin,
    "q_profile_col_entropy" ->
      """WITH cand AS (
        |  SELECT 'orders.o_orderstatus' AS col, o_orderstatus AS v
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'customer.c_mktsegment', c_mktsegment FROM customer
        |  UNION ALL
        |  SELECT 'nation.n_name', n_name FROM nation),
        |counts AS (SELECT col, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM cand GROUP BY col, v),
        |tot AS (SELECT col, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(MAX(c) AS BIGINT) AS top_c
        |  FROM counts GROUP BY col),
        |g AS (SELECT counts.col, MAX(tot.n) AS n, MAX(tot.k) AS k,
        |    MAX(tot.top_c) AS top_c,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(-(CAST(c AS DOUBLE) / tot.n)
        |        * ln(CAST(c AS DOUBLE) / tot.n) ORDER BY v)),
        |      (a, e) -> a + e) AS h
        |  FROM counts JOIN tot USING (col) GROUP BY counts.col)
        |SELECT col AS "column", n, k,
        |  ROUND(h, 6) AS entropy_nats,
        |  ROUND(CASE WHEN k = 1 THEN 0
        |    ELSE h / ln(CAST(k AS DOUBLE)) END, 6) AS entropy_norm,
        |  CAST((1000000 * top_c) // n AS BIGINT) AS top_share_ppm
        |FROM g ORDER BY "column"""".stripMargin)
}
