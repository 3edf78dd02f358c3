package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.operators.Frames
import graft.sources.{Scratch, TextIO}

/** Source/sink round-trip queries — the §2.1 DataSource/DataSink surface.
  * Each query writes through a sink format and reads back before
  * aggregating, so the oracle (which reads the original parquet) only
  * matches if the round-trip is lossless.
  */
object SourceQueries {

  private val ordersKeys = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType)))

  /** A sink under the run's scratch root, one per (query, input dir). */
  private def tmp(dir: String, tag: String): String =
    Scratch.path(s"io_${tag}_${Integer.toHexString(dir.hashCode)}")

  val specs: Seq[QuerySpec] = Seq(

    // TXT sink → TXT source → aggregate (DataSource/DataSink TXT parity,
    // reference src/api.jl:22-25). Long columns round-trip exactly
    // through text.
    QuerySpec("q_txt_roundtrip", (s, dir) => {
      val path = tmp(dir, "txt")
      TextIO.writeDelimited(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"), path)
      TextIO.readDelimited(s, path, ordersKeys)
        .groupBy((col("o_custkey") % 100).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"))
    }, Some(
      """SELECT o_custkey % 100 AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin)),

    // Malformed-row ingest: 3 planted broken lines among the real
    // delimited dump. PERMISSIVE read captures them in `_corrupt`
    // instead of failing the job; the good/bad split is one scan-stage
    // null test. (Any cast failure quarantines the row while parsed
    // fields survive alongside — SourceSpec pins the semantics; the
    // planted lines all break the key column so the bad-side checksum
    // is NULL.)
    QuerySpec("q_csv_badrows", (s, dir) => {
      val path = tmp(dir, "badcsv")
      TextIO.writeDelimited(
        Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey"),
        path)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "part-planted-bad.csv"),
        "oops 101\nxyz 102\nbad 103"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // Materialize the parse once (the production ingest pattern —
      // and required: Spark rejects a query over a raw CSV scan whose
      // referenced columns prune down to ONLY the corrupt column,
      // which a count() over this aggregate would).
      val parsed = tmp(dir, "badcsv_parsed")
      TextIO.writeColumnar(
        TextIO.readDelimitedPermissive(s, path, ordersKeys), parsed)
      TextIO.readColumnar(s, parsed)
        .groupBy(col("_corrupt").isNull.as("is_good"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
    }, Some(
      // Good side = the orders table itself (the roundtrip invariant
      // q_txt_roundtrip already pins); bad side = the 3 planted lines
      // whose unparseable first column leaves a NULL key_sum.
      """SELECT TRUE AS is_good, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM orders
        |UNION ALL
        |SELECT FALSE, CAST(3 AS BIGINT), CAST(NULL AS BIGINT)""".stripMargin)),

    // JSON-lines sink → source → aggregate. Strings/longs round-trip
    // exactly through JSON; schema declared on read (no inference).
    QuerySpec("q_json_roundtrip", (s, dir) => {
      val path = tmp(dir, "json")
      TextIO.writeJsonLines(
        Tables.load(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        path)
      TextIO.readJsonLines(s, path, StructType(Seq(
        StructField("doc_id", LongType), StructField("lang",
          org.apache.spark.sql.types.StringType),
        StructField("n_chars", LongType))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          sum(col("doc_id")).as("id_sum"))
    }, Some(
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(n_chars) AS BIGINT) AS chars,
        | CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1""".stripMargin)),

    // Columnar (parquet) sink round-trip — DataSink(HDF5) parity: the
    // full orders table through the columnar sink, then a grouped
    // aggregate with doubles (exactness via decimal staging).
    QuerySpec("q_columnar_roundtrip", (s, dir) => {
      val path = tmp(dir, "col")
      TextIO.writeColumnar(Tables.load(s, dir, "orders"), path)
      TextIO.readColumnar(s, path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("price_sum"))
    }, Some(
      """SELECT o_orderstatus,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
        |FROM orders GROUP BY 1""".stripMargin)),

    // Copy-on-write MERGE: base table (keys not divisible by 3)
    // upserted with doubled-price rows for even keys — updates replace,
    // new keys append — then a grouped aggregate over the merged table.
    // The oracle replays the same merge relationally.
    QuerySpec("q_merge_upsert", (s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val path = tmp(dir, "merge")
      orders.select(col("o_orderkey"), col("o_totalprice"))
        .filter(col("o_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(path)
      graft.operators.Snapshot.mergeUpsert(s, path,
        orders.select(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"))
          .filter(col("o_orderkey") % 2 === 0),
        key = "o_orderkey")
      s.read.parquet(path)
        .groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total"))
    }, Some(
      """WITH base AS (
        | SELECT o_orderkey, o_totalprice FROM orders
        | WHERE o_orderkey % 3 <> 0),
        |upd AS (
        | SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
        | WHERE o_orderkey % 2 = 0),
        |m AS (
        | SELECT * FROM base
        | WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        | UNION ALL SELECT * FROM upd)
        |SELECT o_orderkey % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM m GROUP BY 1""".stripMargin)),

    // ORC sink/source round-trip — the second columnar lake format;
    // lineitem (the widest fixture) through ORC and back, with a
    // post-read filter so the ORC predicate-pushdown path executes.
    QuerySpec("q_orc_roundtrip", (s, dir) => {
      val path = tmp(dir, "orc")
      TextIO.writeOrc(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"),
        path)
      TextIO.readOrc(s, path)
        .filter(col("l_quantity") > 25)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("qty_sum"),
          max(col("l_orderkey")).as("max_key"))
    }, Some(
      """SELECT l_returnflag, l_linestatus,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum,
        | CAST(MAX(l_orderkey) AS BIGINT) AS max_key
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY 1, 2""".stripMargin)),

    // HDF5 container round-trip (DataSource/DataSink HDF5, reference
    // cgen-hpat-pattern-match.jl:849-1048/1201-1269): nation through
    // the DataSourceV2 sink (one 1-D dataset per column) and back,
    // then a join-shaped aggregate. The bytes are the real HDF5 binary
    // layout (Hdf5Codec: superblock v0 + contiguous datasets); block
    // partitions read disjoint byte ranges, pruned at dataset
    // granularity.
    QuerySpec("q_hdf5_roundtrip", (s, dir) => {
      val fmt = "graft.sources.hdf5"
      val path = tmp(dir, "h5")
      Tables.load(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.format(fmt).option("path", path).mode("overwrite").save()
      s.read.format(fmt).option("path", path).load()
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"), sum(col("n_nationkey")).as("key_sum"),
          max(col("n_name")).as("max_name"))
    }, Some(
      """SELECT n_regionkey,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
        | MAX(n_name) AS max_name
        |FROM nation GROUP BY 1""".stripMargin)),

    // Day-partitioned lake layout + partition pruning: events written
    // hive-style (`day=.../`, repartitioned BY day first so each of the
    // 30 directories is one task's single well-sized file, not
    // tasks × days small files), then one week read back through a
    // partition-column predicate — pruned to 7 of 30 directories at
    // planning time (PartitionFilters, asserted by SourceSpec); the
    // other 23 days' files are never listed into tasks. The 100 TB
    // pattern: layout chosen once at write, amortized over every later
    // query.
    // HDF5 MATRIX round-trip (reference 2-D read,
    // cgen-hpat-pattern-match.jl:1066-1194): the embedding corpus as a
    // rank-2 f32 dataset (row-major n×64, block partitions read row
    // slabs) plus rank-1 key/label datasets, written and read back
    // through the DataSourceV2 path. Output certifies EVERY element at
    // 6 dp (decimal-formatted CSV per vector) against the parquet
    // source — the oracle never sees the HDF5 file, so equality proves
    // the byte round-trip.
    QuerySpec("q_hdf5_matrix", (s, dir) => {
      val fmt = "graft.sources.hdf5"
      val path = tmp(dir, "h5mat")
      Tables.load(s, dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .write.format(fmt).option("path", path).mode("overwrite").save()
      s.read.format(fmt).option("path", path).load()
        .select(col("vec_id"), col("label"),
          concat_ws(",", transform(col("embedding"),
            v => (round(v.cast("double"), 6) + lit(0.0))
              .cast("decimal(18,6)").cast("string"))).as("vec"))
    }, Some(
      // The parquet source IS the oracle: the Spark side reads the HDF5
      // bytes it wrote, so a hash match certifies the rank-2 round-trip
      // element for element.
      """SELECT vec_id, label,
        | array_to_string(list_transform(embedding,
        |  v -> CAST(CAST(round(CAST(v AS DOUBLE), 6) + 0.0
        |   AS DECIMAL(18,6)) AS VARCHAR)), ',') AS vec
        |FROM embeddings""".stripMargin)),

    QuerySpec("q_partition_prune", (s, dir) => {
      val path = tmp(dir, "bydate")
      TextIO.writePartitionedColumnar(
        Tables.load(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
          .repartition(col("day")),
        path, Seq("day"))
      TextIO.readColumnar(s, path)
        .filter(col("day").between(
          to_date(lit("2024-01-10")), to_date(lit("2024-01-16"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("id_sum"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("value_sum"),
          countDistinct(col("day")).as("n_days"))
    }, Some(
      """SELECT event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(event_id) AS BIGINT) AS id_sum,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        | CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10'
        |  AND DATE '2024-01-16'
        |GROUP BY 1""".stripMargin)),

    // Idempotent single-day backfill: the day-partitioned lake gets one
    // day re-ingested with corrected values (dynamic partition
    // overwrite rewrites ONLY `day=2024-01-12/`; the other 29
    // directories' files are untouched, so the rewrite cost tracks the
    // day, not the lake), run TWICE to demonstrate convergence — the
    // oracle replays the correction relationally.
    QuerySpec("q_backfill", (s, dir) => {
      val path = tmp(dir, "backfill")
      val events = Tables.load(s, dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("day", to_date(timestamp_micros(expr("ts div 1000"))))
      TextIO.writePartitionedColumnar(
        events.repartition(col("day")), path, Seq("day"))
      // The corrected day is STAGED once: both overwrite passes — the
      // ingest and the idempotent re-run — write the same materialized
      // blocks instead of each re-scanning events, re-filtering, and
      // re-shuffling by day (§1.2 don't recompute; the backfill row
      // paid that pipeline twice).
      val corrected = Frames.stage(events
        .filter(col("day") === to_date(lit("2024-01-12")))
        .withColumn("value", col("value") * 2)
        .repartition(col("day")))
      TextIO.overwritePartitions(corrected, path, Seq("day"))
      TextIO.overwritePartitions(corrected, path, Seq("day")) // re-run: no-op
      TextIO.readColumnar(s, path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("value_sum"),
          countDistinct(col("day")).as("n_days"))
    }, Some(
      """SELECT event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-12'
        |   THEN value * 2 ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |   AS value_sum,
        | CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
        |FROM events GROUP BY 1""".stripMargin)),

    // Semi-structured column parsing: the events.props JSON payload
    // parsed with a DECLARED schema (`from_json`, one parse per row in
    // the scan stage — no inference pass, no UDF), then an integer
    // aggregate per event type. At 100 TB schema inference would be a
    // second full scan; declaring it keeps ingestion one-pass.
    QuerySpec("q_json_extract", (s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("k", from_json(col("props"), "k BIGINT",
          Map.empty[String, String]).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_parsed"),
          sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max")),
      Some(
        """SELECT event_type,
          | CAST(COUNT(*) AS BIGINT) AS n,
          | CAST(COUNT(k) AS BIGINT) AS n_parsed,
          | CAST(SUM(k) AS BIGINT) AS k_sum,
          | CAST(MIN(k) AS BIGINT) AS k_min,
          | CAST(MAX(k) AS BIGINT) AS k_max
          |FROM (SELECT event_type,
          |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          | FROM events)
          |GROUP BY event_type""".stripMargin))
  )
}
