package graft.queries

import graft.Q
import graft.ops.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Source/sink operators (SURVEY.md §2.1 S1-S3). The reference is
  * CSV-in/CSV-out (covid_data_transform.py:62, :286); the engine's
  * canonical interchange is parquet, but the CSV paths are first-class:
  * header + schema-inference scans (S1), multi-file glob scans with a
  * filename predicate (S2), and header CSV sinks (S3).
  *
  * The queries materialize a CSV copy of a testdata table under
  * java.io.tmpdir, then run the read path under test against it —
  * a full write→scan round trip per run, with the aggregate result
  * hash-checked against DuckDB reading the original parquet. (Writes
  * stay out of /root/testdata and /root/repo per the driver contract.)
  */
object SourceQueries {

  private def tmpDir(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_csv/$name"

  /** S1 + S3: header CSV sink then header + inferSchema scan; the
    * round-tripped table must aggregate identically to the parquet
    * original (types survive inference: int keys, double measures,
    * string flags).
    */
  private val s1 = Q(
    "src1_csv_roundtrip",
    (s, dir) => {
      val out = tmpDir("lineitem_s1")
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
          "l_returnflag")
        .write.mode("overwrite").option("header", true).csv(out)
      s.read.option("header", true).option("inferSchema", true).csv(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(graft.ops.ExactNum.dsum(col("l_extendedprice")), 4)
            .as("sum_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS sum_price
            FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** S2: glob multi-file scan with a filename predicate — the
    * reference keeps only weather files whose name contains a wanted
    * year (weather_pred.py:144-160). Here: write orders partitioned by
    * year into per-year directories, scan the glob, keep 1996-1997 via
    * input_file_name(), aggregate.
    */
  private val s2 = Q(
    "src2_glob_filename_filter",
    (s, dir) => {
      val base = tmpDir("orders_by_year")
      val o = Tables.load(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
      o.write.mode("overwrite").partitionBy("yr")
        .option("header", true).csv(base)
      s.read.option("header", true).option("inferSchema", true)
        .csv(s"$base/yr=*")
        .withColumn("fname", input_file_name())
        .filter(col("fname").contains("yr=1996") ||
          col("fname").contains("yr=1997"))
        .agg(count(lit(1)).as("n"),
          round(graft.ops.ExactNum.dsum(col("o_totalprice")), 4)
            .as("total"))
    },
    Some("""SELECT count(*) AS n,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS total
            FROM orders
            WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)"""))

  /** S1/S3 JSON variant: JSON-lines sink then schema-inferring scan —
    * the interchange format half the upstream corpus dumps arrive in.
    * Doubles round-trip exactly (shortest-repr write, exact parse);
    * the aggregate must match DuckDB reading the original parquet.
    */
  private val s3 = Q(
    "src3_json_roundtrip",
    (s, dir) => {
      val out = tmpDir("documents_json")
      Tables.load(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").json(out)
      s.read.json(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          max(length(col("text"))).as("max_len"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   max(length(text)) AS max_len
            FROM documents GROUP BY 1 ORDER BY 1"""))

  /** S4: bucketed co-located join — both sides written bucketed by the
    * join key (`bucketBy(8, key)` + sortBy), then sort-merge-joined with
    * ZERO exchange on either side (PlanSpec asserts it). At 100 TB this
    * is THE pattern for repeated fact⋈fact joins: pay the shuffle once
    * at write time, join shuffle-free forever after. Bucket pruning and
    * bucket-aligned scans need the table in the catalog, so the sink is
    * saveAsTable into a tmp warehouse (in-memory catalog, parquet
    * files under java.io.tmpdir).
    */
  private val s4 = Q(
    "src4_bucketed_join",
    (s, dir) => {
      // external tables (explicit path option) — nothing lands in the
      // static warehouse dir; the in-memory catalog holds the bucket
      // spec. (No conf mutation here: queries share one session, and
      // autoBucketedScan is already on by default.)
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmpDir("bkt_lineitem"))
        .saveAsTable("bkt_lineitem")
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmpDir("bkt_orders"))
        .saveAsTable("bkt_orders")
      val li = s.table("bkt_lineitem")
      val o = s.table("bkt_orders")
      li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum("l_quantity").as("sum_qty"),
          round(avg("o_totalprice"), 4).as("avg_price"))
        .orderBy("o_orderpriority")
    },
    // sum_qty is integral-valued (exact in a double at any summation
    // order); avg divides the drift by n — both immune to cross-engine
    // ULP accumulation at this magnitude, unlike a raw product sum.
    Some("""SELECT o_orderpriority, count(*) AS n_lines,
                   sum(l_quantity) AS sum_qty,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1"""))

  /** S5: partition-dir parquet layout + DYNAMIC partition pruning —
    * the fact table is written partitioned by order year; the join key
    * arrives only through a dimension filtered at runtime (years whose
    * priority-1 order count clears a threshold), so static pruning is
    * impossible and Spark must inject a dynamicpruning subquery that
    * skips whole fact partitions at scan time. PlanSpec pins the
    * DynamicPruningExpression in the physical plan; at 100 TB this is
    * the difference between scanning 7 years and scanning 2.
    */
  private val s5 = Q(
    "src5_partition_pruned_join",
    (s, dir) => {
      val base = tmpDir("orders_part_parquet")
      val o = Tables.load(s, dir, "orders")
        .withColumn("yr", year(col("o_orderdate")))
      o.write.mode("overwrite").partitionBy("yr").parquet(base)
      val fact = s.read.parquet(base)
      // runtime-only dim: years with >= 400 priority-1 orders — the
      // qualifying set exists only after an aggregation, so the fact
      // scan can't be statically pruned
      val dim = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("yr").as("d_yr"))
        .agg(count(lit(1)).as("n_urgent"))
        .filter(col("n_urgent") >= 400)
      fact.join(broadcast(dim), fact("yr") === dim("d_yr"))
        .groupBy("yr")
        .agg(count(lit(1)).as("n_orders"),
          round(graft.ops.ExactNum.dsum(col("o_totalprice")), 4)
            .as("total"),
          max("n_urgent").as("n_urgent"))
        .orderBy("yr")
    },
    Some("""WITH dim AS (
              SELECT year(CAST(o_orderdate AS DATE)) AS d_yr,
                     count(*) AS n_urgent
              FROM orders WHERE o_orderpriority = '1-URGENT'
              GROUP BY 1 HAVING count(*) >= 400)
            SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
                   count(*) AS n_orders,
                   round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS total,
                   CAST(max(n_urgent) AS BIGINT) AS n_urgent
            FROM orders JOIN dim ON year(CAST(o_orderdate AS DATE)) = d_yr
            GROUP BY 1 ORDER BY 1"""))

  /** S6: malformed-row handling — real corpus drops always contain
    * broken records, and the engine must both SKIP them (DROPMALFORMED)
    * and COUNT them (PERMISSIVE + corrupt-record column) without
    * failing the job. The fixture plants a deterministic non-numeric
    * value in an INT column for every doc_id ≡ 0 (mod 97); the oracle
    * reproduces the survivors as `doc_id % 97 <> 0`, proving the
    * dropped set is exactly the planted set.
    */
  private val s6 = Q(
    "src6_csv_malformed",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val out = tmpDir("documents_bad_csv")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          when(col("doc_id") % 97 === 0, lit("BAD"))
            .otherwise(col("n_chars").cast("string")).as("n_chars"))
        .write.mode("overwrite").option("header", true).csv(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", IntegerType),
        StructField("_bad", StringType)))
      // PERMISSIVE + corrupt-record column: broken rows survive as
      // non-null _bad; count them for the audit column
      // Spark refuses filter/count plans over ONLY the corrupt-record
      // column of a raw CSV scan
      // (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); the
      // documented workaround is to cache the parsed frame first.
      val perm = s.read.option("header", true).schema(schema)
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
        .cache()
      val nCorrupt =
        try perm.filter(col("_bad").isNotNull).count()
        finally perm.unpersist()
      // DROPMALFORMED: broken rows silently skipped — the load path a
      // bulk ingest uses when an audit trail isn't needed
      val good = s.read.option("header", true)
        .schema(StructType(schema.fields.dropRight(1)))
        .option("mode", "DROPMALFORMED")
        .csv(out)
      good.groupBy("lang")
        .agg(count(lit(1)).as("n_good"),
          sum("n_chars").as("sum_chars"))
        .withColumn("n_corrupt_total", lit(nCorrupt))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_good,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   (SELECT count(*) FROM documents WHERE doc_id % 97 = 0)
                     AS n_corrupt_total
            FROM documents WHERE doc_id % 97 <> 0
            GROUP BY 1 ORDER BY 1"""))

  /** S7 (beyond the reference): raw TEXT-line source — the
    * log-ingestion path. The nation table is serialized to
    * pipe-delimited text lines with interleaved `#` comment lines
    * (what real log/dump files carry), written via the text SINK, read
    * back with `spark.read.text`, comment-filtered, and field-parsed
    * with codegen'd split/cast expressions. The round-tripped rows
    * must hash-match DuckDB reading the original parquet — proving the
    * whole serialize → text-scan → parse path. At scale text scans
    * split by line ranges exactly like CSV; the parse is scan-local.
    */
  private val s7 = Q(
    "src7_text_lines_roundtrip",
    (s, dir) => {
      val out = tmpDir("nation_text_s7")
      Tables.load(s, dir, "nation")
        .select(concat_ws("|", col("n_nationkey"), col("n_name"),
          col("n_regionkey")).as("value"))
        // interleave comment lines the reader must skip
        .union(s.range(3).select(
          concat(lit("# comment "), col("id")).as("value")))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .filter(!col("value").startsWith("#"))
        .select(split(col("value"), "\\|").as("f"))
        .select(col("f").getItem(0).cast("bigint").as("n_nationkey"),
          col("f").getItem(1).as("n_name"),
          col("f").getItem(2).cast("bigint").as("n_regionkey"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey, n_name, n_regionkey
            FROM nation ORDER BY n_nationkey"""))

  /** S8 (beyond the reference): ORC source/sink roundtrip — Spark's
    * second native columnar format (vectorized reader, predicate
    * pushdown and column pruning exactly like parquet; the format an
    * existing Hive/ORC estate hands a pipeline). The lineitem
    * projection is written as ORC, read back with a pushed filter, and
    * aggregated; the hash must match DuckDB reading the ORIGINAL
    * parquet — proving the ORC write→scan path preserves values,
    * types, and filter semantics end-to-end.
    */
  private val s8 = Q(
    "src8_orc_roundtrip",
    (s, dir) => {
      val out = tmpDir("lineitem_orc_s8")
      Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("l_quantity") >= 25.0) // pushed into the ORC scan
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_quantity").as("sum_qty"),
          round(graft.ops.ExactNum.dsum(col("l_extendedprice")), 4)
            .as("sum_price"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
                   sum(l_quantity) AS sum_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6)))
                         AS DOUBLE), 4) AS sum_price
            FROM lineitem WHERE l_quantity >= 25.0
            GROUP BY 1 ORDER BY 1"""))

  /** SRC9 (X126): SMALL-FILES COMPACTION — the operational fix for the
    * classic small-files problem (a streaming or over-parallel writer
    * leaves thousands of tiny files; NameNode/listing pressure and
    * per-file open cost then dominate reads). The events table is
    * deliberately exploded into 64 small parquet files, then compacted
    * with `coalesce(4)` — a NARROW dependency: partitions merge
    * in-place with NO shuffle, which is exactly why coalesce (not
    * repartition) is the compaction idiom. The verified row pins the
    * physical file counts as literals (a regression that silently
    * re-splits or re-shuffles fails the hash) plus content integrity
    * (row count and an exact id checksum survive both rewrites).
    */
  private val s9 = Q(
    "src9_compaction",
    (s, dir) => {
      val small = tmpDir("events_small")
      val compact = tmpDir("events_compact")
      Tables.load(s, dir, "events")
        .select("event_id", "user_id", "event_type")
        .repartition(64)
        .write.mode("overwrite").parquet(small)
      def dataFiles(p: String): Long = {
        val fs = new java.io.File(p)
        fs.listFiles().count(f => f.getName.endsWith(".parquet"))
      }
      val nSmall = dataFiles(small)
      // one split per small file: the reader's packing otherwise follows
      // the core count, and at 2 cores coalesce(4) had 2 splits to merge
      graft.streaming.StreamReplay.withConf(s,
          "spark.sql.files.minPartitionNum", nSmall.toString) {
        s.read.parquet(small)
          .coalesce(4)
          .write.mode("overwrite").parquet(compact)
      }
      val nCompact = dataFiles(compact)
      s.read.parquet(compact)
        .agg(count(lit(1)).as("n_rows"),
          sum("event_id").as("id_checksum"),
          countDistinct("user_id").as("n_users"))
        .select(lit(nSmall).as("files_before"),
          lit(nCompact).as("files_after"),
          col("n_rows"), col("id_checksum"), col("n_users"))
    },
    Some("""SELECT CAST(64 AS BIGINT) AS files_before,
                   CAST(4 AS BIGINT) AS files_after,
                   count(*) AS n_rows,
                   CAST(sum(event_id) AS BIGINT) AS id_checksum,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM events"""))

  /** SRC10 (X130): SCHEMA EVOLUTION read — the operational reality of
    * any long-lived dataset: old files lack columns newer files carry.
    * Two generations of the orders table are written (v1: three
    * columns; v2: adds o_totalprice), then read back as ONE dataset
    * with `mergeSchema` — Spark unions the footers' schemas and
    * back-fills missing columns with NULL, which the aggregate then
    * observes (count vs count(col)). Hash-proven against an oracle
    * that replays the generational split. At scale, schema merging is
    * a FOOTER-only operation (no data rewrite) — which is exactly why
    * it's the evolution path of choice for append-only lakes.
    */
  private val s10 = Q(
    "src10_schema_evolution",
    (s, dir) => {
      val out = tmpDir("orders_evolution")
      val orders = Tables.load(s, dir, "orders")
      orders.filter(col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
        .write.mode("overwrite").parquet(s"$out/g=1")
      orders.filter(col("o_orderdate") >= "1998-01-01")
        .select("o_orderkey", "o_orderpriority", "o_orderdate",
          "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/g=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/g=1", s"$out/g=2")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("n_with_price"),
          round(graft.ops.ExactNum.dsum(
              coalesce(col("o_totalprice"), lit(0.0))), 4)
            .as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n_rows,
                   CAST(sum(CASE WHEN o_orderdate >= DATE '1998-01-01'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_with_price,
                   round(CAST(sum(CAST(CASE
                       WHEN o_orderdate >= DATE '1998-01-01'
                       THEN o_totalprice ELSE 0.0 END
                       AS DECIMAL(30,6))) AS DOUBLE), 4) AS sum_price
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** SRC11 (X150, beyond the reference): Z-ORDER LAYOUT probe — the
    * multi-dimensional clustering behind Delta/Iceberg `OPTIMIZE
    * ZORDER`, demonstrated end-to-end with pure integer arithmetic so
    * both engines agree bit-for-bit. Orders get a 2-D key (x =
    * o_custkey%16, y = day(o_orderdate)%16); the 8-bit Morton code
    * interleaves the bits via FLOOR/%-arithmetic (no engine-specific
    * bit ops), 16 "files" are consecutive Morton ranges (= aligned 4×4
    * spatial tiles), and per-file min/max column stats — exactly what
    * a parquet footer stores — drive the pruning decision for a 2-D
    * box query (x,y ∈ [4,7]²). The row reports, for the Z-order layout
    * vs the 1-D linear (x-sorted) layout: files scanned and rows
    * scanned against rows actually matched. Z-order touches ONE file
    * (the box is one tile); the linear layout touches 4 files and 4×
    * the rows — the measured, deterministic version of the claim "sort
    * order can't prune the second dimension". Scale: layout assignment
    * is a pure map (one pass, no shuffle beyond the stats rollup); at
    * 100 TB the same Morton map feeds repartitionByRange(morton) and
    * the footer stats come free from the parquet writer.
    */
  private val s11 = Q(
    "src11_zorder_layout",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select((col("o_custkey") % 16).as("x"),
          (expr("EXTRACT(DAY FROM o_orderdate)").cast("long") % 16).as("y"))
      val keyed = o.withColumn("mz",
        expr("""CAST(x % 2 AS BIGINT) * 1 + CAST(y % 2 AS BIGINT) * 2 +
                CAST(FLOOR(x / 2.0) AS BIGINT) % 2 * 4 +
                CAST(FLOOR(y / 2.0) AS BIGINT) % 2 * 8 +
                CAST(FLOOR(x / 4.0) AS BIGINT) % 2 * 16 +
                CAST(FLOOR(y / 4.0) AS BIGINT) % 2 * 32 +
                CAST(FLOOR(x / 8.0) AS BIGINT) % 2 * 64 +
                CAST(FLOOR(y / 8.0) AS BIGINT) % 2 * 128"""))
        .withColumn("f_z", expr("CAST(FLOOR(mz / 16.0) AS BIGINT)"))
        .withColumn("f_lin", col("x"))
      def layout(fileCol: String, name: String) = {
        val stats = keyed.groupBy(col(fileCol).as("f"))
          .agg(count(lit(1)).as("n_rows"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
        stats.agg(
          lit(name).as("layout"),
          count(lit(1)).as("n_files"),
          sum(when(col("min_x") <= 7 && col("max_x") >= 4 &&
            col("min_y") <= 7 && col("max_y") >= 4, 1L).otherwise(0L))
            .as("files_scanned"),
          sum(when(col("min_x") <= 7 && col("max_x") >= 4 &&
            col("min_y") <= 7 && col("max_y") >= 4, col("n_rows"))
            .otherwise(0L)).as("rows_scanned"))
      }
      val matched = keyed.filter(col("x").between(4, 7) &&
        col("y").between(4, 7)).count()
      layout("f_z", "zorder").unionByName(layout("f_lin", "linear"))
        .withColumn("rows_matched", lit(matched))
        .orderBy("layout")
    },
    Some("""WITH keyed AS (
              SELECT x, y,
                     CAST(x % 2 AS BIGINT) * 1 + CAST(y % 2 AS BIGINT) * 2 +
                     CAST(FLOOR(x / 2.0) AS BIGINT) % 2 * 4 +
                     CAST(FLOOR(y / 2.0) AS BIGINT) % 2 * 8 +
                     CAST(FLOOR(x / 4.0) AS BIGINT) % 2 * 16 +
                     CAST(FLOOR(y / 4.0) AS BIGINT) % 2 * 32 +
                     CAST(FLOOR(x / 8.0) AS BIGINT) % 2 * 64 +
                     CAST(FLOOR(y / 8.0) AS BIGINT) % 2 * 128 AS mz
              FROM (SELECT o_custkey % 16 AS x,
                           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) % 16 AS y
                    FROM orders)),
            tagged AS (
              SELECT x, y, CAST(FLOOR(mz / 16.0) AS BIGINT) AS f_z,
                     x AS f_lin
              FROM keyed),
            zstats AS (
              SELECT f_z AS f, CAST(count(*) AS BIGINT) AS n_rows,
                     min(x) AS min_x, max(x) AS max_x,
                     min(y) AS min_y, max(y) AS max_y
              FROM tagged GROUP BY f_z),
            lstats AS (
              SELECT f_lin AS f, CAST(count(*) AS BIGINT) AS n_rows,
                     min(x) AS min_x, max(x) AS max_x,
                     min(y) AS min_y, max(y) AS max_y
              FROM tagged GROUP BY f_lin),
            m AS (SELECT CAST(count(*) AS BIGINT) AS rows_matched
                  FROM tagged
                  WHERE x BETWEEN 4 AND 7 AND y BETWEEN 4 AND 7),
            z AS (SELECT 'zorder' AS layout,
                         CAST(count(*) AS BIGINT) AS n_files,
                         CAST(sum(CASE WHEN min_x <= 7 AND max_x >= 4
                           AND min_y <= 7 AND max_y >= 4 THEN 1 ELSE 0
                           END) AS BIGINT) AS files_scanned,
                         CAST(sum(CASE WHEN min_x <= 7 AND max_x >= 4
                           AND min_y <= 7 AND max_y >= 4 THEN n_rows
                           ELSE 0 END) AS BIGINT) AS rows_scanned
                  FROM zstats),
            l AS (SELECT 'linear' AS layout,
                         CAST(count(*) AS BIGINT) AS n_files,
                         CAST(sum(CASE WHEN min_x <= 7 AND max_x >= 4
                           AND min_y <= 7 AND max_y >= 4 THEN 1 ELSE 0
                           END) AS BIGINT) AS files_scanned,
                         CAST(sum(CASE WHEN min_x <= 7 AND max_x >= 4
                           AND min_y <= 7 AND max_y >= 4 THEN n_rows
                           ELSE 0 END) AS BIGINT) AS rows_scanned
                  FROM lstats)
            SELECT layout, n_files, files_scanned, rows_scanned,
                   m.rows_matched
            FROM (SELECT * FROM z UNION ALL SELECT * FROM l)
            CROSS JOIN m
            ORDER BY layout"""))

  /** S12 (beyond the reference): dynamic partition overwrite — the
    * idempotent-backfill primitive of a partitioned lake. Full load
    * partitioned by priority, then a second write that rewrites ONLY
    * the 1-URGENT partition (filtered to finished orders) under
    * partitionOverwriteMode=dynamic; the other partitions' files are
    * untouched. The read-back rollup is hash-checked against the
    * equivalent one-shot SQL, and money is summed in exact integer
    * cents. At scale this is the nightly-restatement path: rewrite one
    * day's partition without touching the other 3 years.
    */
  private val s12 = Q(
    "src12_dynamic_partition_overwrite",
    (s, dir) => {
      val base = tmpDir("orders_dpo")
      val o = Tables.load(s, dir, "orders")
      o.write.mode("overwrite").partitionBy("o_orderpriority")
        .parquet(base)
      o.filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "F")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority").parquet(base)
      s.read.parquet(base)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("sum_cents"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
            FROM orders
            WHERE o_orderpriority <> '1-URGENT' OR o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1"""))

  /** S13 (beyond the reference): CSV quoting/escaping round trip —
    * a synthetic column packed with embedded commas, double quotes,
    * and mixed content forces the writer onto the quote/escape path;
    * the read-back per-lang length/count aggregate must hash-match
    * DuckDB computing the same derivation from the raw parquet. If
    * the writer mis-quotes or the reader mis-parses ONE delimiter,
    * row counts and lengths shift and the hash fails. (Escape config
    * pinned explicitly: escape='"' — RFC 4180 doubled-quote style —
    * so the contract survives Spark default changes.)
    */
  private val s13 = Q(
    "src13_csv_quoting",
    (s, dir) => {
      val out = tmpDir("docs_quoted_csv")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(lit("\""), col("lang"), lit("\",x,"), col("source"),
            lit(","), substring(col("text"), 1, 24)).as("tricky"))
        .write.mode("overwrite")
        .option("header", true).option("quote", "\"").option("escape", "\"")
        // the CSV WRITER trims value whitespace by default — a silent
        // mutation a lossless interchange path must disable
        .option("ignoreLeadingWhiteSpace", false)
        .option("ignoreTrailingWhiteSpace", false)
        .csv(out)
      s.read.option("header", true).option("inferSchema", true)
        .option("quote", "\"").option("escape", "\"")
        .csv(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(length(col("tricky"))).as("sum_len"),
          max(length(col("tricky"))).as("max_len"))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n,
                   CAST(sum(length('"' || lang || '",x,' || source ||
                     ',' || substr(text, 1, 24))) AS BIGINT) AS sum_len,
                   CAST(max(length('"' || lang || '",x,' || source ||
                     ',' || substr(text, 1, 24))) AS BIGINT) AS max_len
            FROM documents
            GROUP BY lang ORDER BY lang"""))

  /** S14 (X241): corrupt-record handling on the JSON reader — the JSON
    * sibling of src6's CSV row, because the two parsers take different
    * code paths (JacksonParser vs UnivocityParser) and a real feed
    * breaks both. The fixture serializes documents to JSON lines and
    * TRUNCATES the line for every doc_id ≡ 0 (mod 89) (an interrupted
    * write, the classic corruption); the PERMISSIVE read surfaces those
    * rows as a non-null _corrupt_record while parsing the survivors,
    * and DROPMALFORMED skips them. The oracle reproduces the survivor
    * set as doc_id % 89 <> 0 — proving dropped ≡ planted, nothing
    * more, nothing less. Scale: JSON lines split by byte ranges like
    * CSV; parse + corrupt-detection are scan-local.
    */
  private val s14 = Q(
    "src14_json_corrupt",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val out = tmpDir("documents_bad_json")
      Tables.load(s, dir, "documents")
        .select(
          when(col("doc_id") % 89 === 0,
            // truncate mid-token: unclosed string + missing brace
            substring(to_json(struct(col("doc_id"), col("lang"),
              col("source"), col("n_chars"))), 1, 20))
            .otherwise(to_json(struct(col("doc_id"), col("lang"),
              col("source"), col("n_chars")))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType),
        StructField("_corrupt", StringType)))
      val perm = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
        .cache()
      val nCorrupt =
        try perm.filter(col("_corrupt").isNotNull).count()
        finally perm.unpersist()
      val good = s.read
        .schema(StructType(schema.fields.dropRight(1)))
        .option("mode", "DROPMALFORMED")
        .json(out)
      good.groupBy("lang")
        .agg(count(lit(1)).as("n_good"),
          sum("n_chars").as("sum_chars"),
          sum("doc_id").as("doc_id_sum"))
        .withColumn("n_corrupt_total", lit(nCorrupt))
        .orderBy("lang")
    },
    Some("""SELECT lang, count(*) AS n_good,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
                   (SELECT count(*) FROM documents WHERE doc_id % 89 = 0)
                     AS n_corrupt_total
            FROM documents WHERE doc_id % 89 <> 0
            GROUP BY 1 ORDER BY 1"""))

  /** Writes supplier as src15's copybook text lines into a fresh temp
    * dir named `name` and returns its path: key 1-10 and nationkey 36-40
    * space-LPAD, name 11-35 space-RPAD, signed acctbal cents 41-55. */
  private def writeFixedWidthSuppliers(s: SparkSession, dir: String,
      name: String): String = {
    val out = tmpDir(name)
    Tables.load(s, dir, "supplier")
      .select(concat(
        lpad(col("s_suppkey").cast("string"), 10, " "),
        rpad(col("s_name"), 25, " "),
        lpad(col("s_nationkey").cast("string"), 5, " "),
        lpad(expr("cast(floor(s_acctbal * 100 + 0.5) as bigint)")
          .cast("string"), 15, " ")).as("value"))
      .write.mode("overwrite").text(out)
    out
  }

  /** S15 (X276, beyond the reference): FIXED-WIDTH text roundtrip —
    * the mainframe/COBOL-copybook interchange format that has no Spark
    * connector and never will: every record is a fixed-length line,
    * fields live at byte offsets (space-LPAD for numerics so negative
    * account balances keep their sign where a zero-pad would corrupt
    * it, space-RPAD for names). Encoded with codegen'd lpad/rpad/
    * concat into a `.text` sink, read back as lines and decoded by
    * pure substring/trim/cast at the copybook offsets (1-10 key,
    * 11-35 name, 36-40 nationkey, 41-55 signed cents); the decoded
    * rows must hash-match DuckDB reading the ORIGINAL parquet, so one
    * wrong offset or eaten sign fails the gate. Scale: both directions
    * are row-local single-pass string ops — a fixed-width estate reads
    * at full scan parallelism, no shuffle until the final sort.
    */
  private val s15 = Q(
    "src15_fixed_width_roundtrip",
    (s, dir) => {
      val out = writeFixedWidthSuppliers(s, dir, "supplier_fixedwidth_s15")
      s.read.text(out)
        .select(
          trim(substring(col("value"), 1, 10)).cast("bigint")
            .as("s_suppkey"),
          rtrim(substring(col("value"), 11, 25)).as("s_name"),
          trim(substring(col("value"), 36, 5)).cast("bigint")
            .as("s_nationkey"),
          trim(substring(col("value"), 41, 15)).cast("bigint")
            .as("acctbal_cents"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name,
                   CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
                     AS acctbal_cents
            FROM supplier ORDER BY s_suppkey"""))

  /** S16 (X277, beyond the reference): BINARY-FILE media ingestion —
    * the real multimodal ingest path at 100 TB: media lands as FILES,
    * and Spark's built-in `binaryFile` source turns a directory into
    * (path, length, content) rows that feed the codec family without
    * any driver-side file walking. One real 24-bit BMP per document
    * ([[graft.ops.BmpCodec]], executor-side writes via foreachPartition
    * — the driver never touches a file), scanned back with
    * `format("binaryFile")`, doc id recovered FROM THE PATH
    * (regexp on the file name — the standard layout-as-metadata
    * device), pixels decoded by the full BMP parser; channel sums must
    * hash-match DuckDB computing the same integers from the source
    * text, so the whole files→scan→decode chain is what's verified.
    * Scale: binaryFile parallelizes by file; decode is scan-local
    * mapPartitions; nothing shuffles before the final sort.
    */
  private val s16 = Q(
    "src16_binary_media_ingest",
    (s, dir) => {
      import s.implicits._
      import graft.ops.BmpCodec
      val out = tmpDir("media_bmp_s16")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text").cast("binary").as("raw"))
        .as[(Long, Array[Byte])]
        .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
          it.foreach { case (id, raw) =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$out/doc_$id.bmp"),
              PipelineQueries.bmpOf(raw))
          }
        }
      s.read.format("binaryFile").load(out)
        .select(regexp_extract(col("path"), "doc_(\\d+)\\.bmp$", 1)
          .cast("long").as("doc_id"), col("content"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val img = BmpCodec.decode(bytes)
          var sr = 0L; var sg = 0L; var sb = 0L
          var k = 0
          while (k < img.width * img.height) {
            sr += img.pixels(3 * k) & 0xff
            sg += img.pixels(3 * k + 1) & 0xff
            sb += img.pixels(3 * k + 2) & 0xff
            k += 1
          }
          (id, img.width, img.height, sr, sg, sb)
        })
        .toDF("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    },
    Some(PipelineQueries.duckBmpSums(" WHERE doc_id < 100") + """
            FROM px ORDER BY doc_id"""))

  /** S17 (X278, beyond the reference): COMPRESSION-CODEC matrix —
    * storage codecs are a first-order 100 TB cost lever (zstd parquet
    * is the current default answer; gzip CSV is what upstream systems
    * hand over), and a codec bug corrupts silently if nothing
    * re-verifies values through the compressed path. The same lineitem
    * projection is written as zstd parquet AND gzip CSV, each read
    * back and aggregated to exact integer cents per return flag; both
    * codec paths must hash-match DuckDB aggregating the ORIGINAL
    * uncompressed parquet (one output row per codec × flag, the codec
    * column naming the path proven). Scale: codecs are block-local —
    * compression changes bytes scanned, never plan shape; the read
    * side keeps full scan parallelism (zstd parquet stays splittable
    * by row group; monolithic .gz CSV files do NOT split — the
    * documented reason gzip estates re-land as parquet first).
    */
  private val s17 = Q(
    "src17_compression_codecs",
    (s, dir) => {
      val proj = Tables.load(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
      val pOut = tmpDir("li_parquet_zstd_s17")
      val cOut = tmpDir("li_csv_gzip_s17")
      proj.write.mode("overwrite").option("compression", "zstd")
        .parquet(pOut)
      proj.write.mode("overwrite").option("compression", "gzip")
        .option("header", "true").csv(cOut)
      def agg(df: org.apache.spark.sql.DataFrame, codec: String) =
        df.groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)"))
              .as("cents"))
          .withColumn("codec", lit(codec))
      agg(s.read.parquet(pOut), "parquet_zstd")
        .unionByName(agg(
          s.read.option("header", "true").option("inferSchema", "true")
            .csv(cOut), "csv_gzip"))
        .select("codec", "l_returnflag", "n", "cents")
        .orderBy("codec", "l_returnflag")
    },
    Some("""WITH agg AS (
              SELECT l_returnflag,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                       AS BIGINT)) AS BIGINT) AS cents
              FROM lineitem GROUP BY l_returnflag)
            SELECT c.codec, a.l_returnflag, a.n, a.cents
            FROM agg a
            CROSS JOIN (SELECT unnest(['parquet_zstd', 'csv_gzip'])
                          AS codec) c
            ORDER BY c.codec, a.l_returnflag"""))

  /** S18 (X311, beyond the reference): the src15 fixed-width format
    * promoted to a real DataSource V2 TABLE —
    * [[graft.sources.FixedWidthDataSource]] (`graft-fixedwidth`), the
    * connector tier that completes the Catalyst extension catalog
    * (Expression / aggregate / Generator / physical operator /
    * optimizer rule / session extensions / DSv2 source). The row
    * exercises the full scan contract end-to-end: supplier encodes to
    * copybook lines (same geometry as src15), the connector INFERS the
    * untyped fields' types by sampling (s_nationkey, acctbal_cents →
    * long), the `s_nationkey >= 10 AND acctbal_cents > 0` predicate
    * pushes into the scan (evaluated during line decode — PlanSpec
    * pins `PushedFilters` in the executed plan), and the projection
    * prunes s_nationkey out of the read schema even though the filter
    * references it. Hash-parity vs DuckDB on the ORIGINAL parquet
    * proves encode → infer → push → prune → decode loses nothing.
    * Scale: record-aligned byte slicing gives full scan parallelism;
    * pruning+pushdown run before any row object exists.
    */
  private val s18 = Q(
    "src18_dsv2_fixed_width",
    (s, dir) => {
      val out = writeFixedWidthSuppliers(s, dir, "supplier_fixedwidth_s18")
      s.read.format("graft-fixedwidth")
        .option("columns",
          "s_suppkey:1:10:long,s_name:11:25:string," +
            "s_nationkey:36:5,acctbal_cents:41:15")
        .load(out)
        .filter(col("s_nationkey") >= 10 && col("acctbal_cents") > 0)
        .select("s_suppkey", "s_name", "acctbal_cents")
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name,
                   CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)
                     AS acctbal_cents
            FROM supplier
            WHERE s_nationkey >= 10
              AND floor(s_acctbal * 100 + 0.5) > 0
            ORDER BY s_suppkey"""))

  def all: Seq[Q] =
    Seq(s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s12, s13, s14,
      s15, s16, s17, s18)
}
