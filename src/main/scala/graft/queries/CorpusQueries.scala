package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Chunking, Dedup, Incremental, Snapshot}

/** Corpus-preparation queries: context-window chunking, sequence
  * packing, and CDC compaction/diff over the append-only event log.
  * Each has a DuckDB oracle (integer/passthrough outputs — trivially
  * exact).
  */
object CorpusQueries {

  private val CHUNK = 64
  private val STRIDE = 48
  private val CTX = 512

  private val toks = graft.functions.Text.tokensSql("text")

  val specs: Seq[QuerySpec] = Seq(

    // Sliding token windows per document — scan-stage explode only.
    QuerySpec("q_chunk", (s, dir) =>
      Chunking.chunkByTokens(
        Tables.load(s, dir, "documents"), "doc_id", "text", CHUNK, STRIDE),
      Some(
        s"""WITH tt AS (
           | SELECT doc_id, $toks AS ts FROM documents
           | WHERE len($toks) > 0),
           |st AS (
           | SELECT doc_id, ts, unnest(range(0, len(ts), $STRIDE)) AS tok_start
           | FROM tt)
           |SELECT doc_id,
           | CAST(tok_start // $STRIDE AS INT) AS chunk_idx,
           | CAST(tok_start AS INT) AS tok_start,
           | CAST(len(list_slice(ts, tok_start + 1, tok_start + $CHUNK)) AS INT)
           |   AS n_tokens,
           | array_to_string(list_slice(ts, tok_start + 1, tok_start + $CHUNK), ' ')
           |   AS chunk_text
           |FROM st""".stripMargin)),

    // Concatenate-and-chop packing at a fixed context length —
    // distributed prefix sum + per-row bin arithmetic.
    QuerySpec("q_pack", (s, dir) =>
      Chunking.packAssignments(
        Tables.load(s, dir, "documents"), "doc_id", "text", CTX),
      Some(
        s"""WITH c AS (
           | SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens
           | FROM documents WHERE len($toks) > 0),
           |sc AS (
           | SELECT doc_id, n_tokens,
           |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS tok_end
           | FROM c)
           |SELECT doc_id, n_tokens, tok_end - n_tokens AS tok_start, tok_end,
           | (tok_end - n_tokens) // $CTX AS bin_first,
           | (tok_end - 1) // $CTX AS bin_last,
           | (tok_end - 1) // $CTX - (tok_end - n_tokens) // $CTX + 1 AS n_bins
           |FROM sc""".stripMargin)),

    // Cross-document boilerplate scrub (C4/RefinedWeb line-dedup rule):
    // fixture docs are single-line, so re-line them deterministically
    // into 6-word lines first (same arithmetic in the oracle), then
    // drop every ≥10-char line shared by ≥2 documents and reassemble
    // in original order. Planted duplicate docs make the boilerplate
    // set non-empty (~190 lines at sf0.01). Compared by md5 of the
    // rebuilt text, so the order-preserving reassembly is what's
    // actually asserted.
    QuerySpec("q_boilerplate", (s, dir) => {
      val relined = Tables.load(s, dir, "documents")
        .withColumn("__w", graft.functions.Text.tokens(col("text")))
        .select(col("doc_id"), expr(
          "concat_ws('\\n', transform(" +
            "sequence(0, cast(ceil(size(__w)/6.0) as int)-1), " +
            "i -> concat_ws(' ', slice(__w, i*6+1, 6))))").as("text"))
      Dedup.stripBoilerplate(relined, "doc_id", "text",
          minDocs = 2, minLineChars = 10)
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          col("n_kept"))
    }, Some(
      s"""WITH tt AS (
         | SELECT doc_id, $toks AS w FROM documents),
         |relined AS (
         | SELECT doc_id, array_to_string(
         |  list_transform(range(0, CAST(ceil(len(w)/6.0) AS INT)),
         |   i -> array_to_string(w[i*6+1 : i*6+6], ' ')), chr(10)) AS text
         | FROM tt),
         |ls AS (SELECT doc_id, string_split(text, chr(10)) AS a
         |       FROM relined),
         |lines AS (
         | SELECT doc_id, i-1 AS pos, a[i] AS line
         | FROM ls, LATERAL (SELECT unnest(generate_series(1, len(a))) AS i) g),
         |boiler AS (
         | SELECT line FROM lines WHERE len(trim(line)) >= 10
         | GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         |kept AS (
         | SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)),
         |re AS (
         | SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
         |        count(*) AS n_kept
         | FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, md5(COALESCE(re.clean, '')) AS clean_md5,
         |       CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept
         |FROM documents d LEFT JOIN re USING (doc_id)""".stripMargin)),

    // Latest-record-per-key compaction of the event log (merge-on-read
    // upsert view): one partial-aggregable max_by, no window sort.
    QuerySpec("q_merge_latest", (s, dir) =>
      Snapshot.latestByKey(
        Tables.load(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"),
        Seq("event_id", "event_type", "value"))
        .withColumnRenamed("key", "user_id"),
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          | SELECT user_id, event_id, event_type, value,
          |  row_number() OVER (PARTITION BY user_id
          |                     ORDER BY ts DESC, event_id DESC) AS rn
          | FROM events) WHERE rn = 1""".stripMargin)),

    // Statistical outlier gate (3-sigma per event type): moments from
    // EXACT decimal sums (value is 2-dp so v and v² are exact in
    // DECIMAL), variance/sigma as one fixed IEEE op sequence on those
    // exact components — the gate compare is then bit-deterministic in
    // any engine. Stats broadcast back; the gate rides the scan.
    QuerySpec("q_outliers", (s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = events.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("s"),
        sum((col("value") * col("value")).cast("decimal(22,4)")).as("ss"))
        .select(col("event_type"),
          (col("s").cast("double") / col("n")).as("mean"),
          sqrt((col("ss").cast("double") -
            col("s").cast("double") * col("s").cast("double") / col("n")) /
            col("n")).as("sigma"))
      events.join(broadcast(stats), "event_type")
        .filter(abs(col("value") - col("mean")) > lit(3.0) * col("sigma"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("mean"), col("sigma"))
    }, Some(
      """WITH st AS (
        | SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(CAST(value AS DECIMAL(18,2))) AS s,
        |  SUM(CAST(value * value AS DECIMAL(22,4))) AS ss
        | FROM events GROUP BY 1),
        |m AS (
        | SELECT event_type,
        |  CAST(s AS DOUBLE) / n AS mean,
        |  sqrt((CAST(ss AS DOUBLE)
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) AS sigma
        | FROM st)
        |SELECT e.event_id, e.event_type, e.value, m.mean, m.sigma
        |FROM events e JOIN m USING (event_type)
        |WHERE abs(e.value - m.mean) > CAST(3.0 AS DOUBLE) * m.sigma"""
        .stripMargin)),

    // Incremental aggregate maintenance: combine the pre-cut rollup
    // state with the post-cut delta's aggregate — the result must
    // equal (and the oracle IS) the full recompute over all events.
    QuerySpec("q_incr_agg", (s, dir) => {
      val events = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value"),
          expr("ts DIV 1000").as("ts_us"))
      def aggState(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).as("value_sum"),
          min(col("ts_us")).as("first_us"),
          max(col("ts_us")).as("last_us"))
      val cut = 1705363200000000L // 2024-01-16 in epoch-micros
      val state = aggState(events.filter(col("ts_us") < cut))
      val delta = aggState(events.filter(col("ts_us") >= cut))
      Incremental.mergeAggStates(state, delta,
        keys = Seq("user_id"), sumCols = Seq("n_events", "value_sum"),
        minCols = Seq("first_us"), maxCols = Seq("last_us"))
        .select(col("user_id"), col("n_events"),
          col("value_sum").cast("double").as("value_sum"),
          col("first_us"), col("last_us"))
    }, Some(
      // The incremental merge must equal the full recompute — so the
      // full recompute IS the oracle.
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
        | MIN(epoch_ns(ts) // 1000) AS first_us,
        | MAX(epoch_ns(ts) // 1000) AS last_us
        |FROM events GROUP BY user_id""".stripMargin)),

    // SCD2 history: validity interval per log record (-1 = current).
    // Versions in epoch-micros (ts DIV 1000): DuckDB truncates the
    // ns-precision parquet timestamps to µs, so µs is the shared
    // precision (same convention as the streaming queries).
    QuerySpec("q_scd2", (s, dir) =>
      Snapshot.scd2History(
        Tables.load(s, dir, "events"),
        col("user_id"), expr("ts DIV 1000"), col("event_id"), col("value"))
        .withColumnRenamed("key", "user_id"),
      Some(
        """SELECT user_id, epoch_ns(ts) // 1000 AS valid_from, value,
          | COALESCE(lead(epoch_ns(ts) // 1000) OVER w, -1) AS valid_to,
          | CAST(lead(epoch_ns(ts)) OVER w IS NULL AS INT) AS is_current
          |FROM events
          |WINDOW w AS (PARTITION BY user_id
          |             ORDER BY epoch_ns(ts), event_id)""".stripMargin)),

    // Delta between the compacted states at two snapshot cuts.
    // events.ts is epoch-nanos long (see Tables.load); the cuts are
    // 2024-01-16 / 2024-01-31 midnight UTC as nanos.
    QuerySpec("q_snapshot_diff", (s, dir) =>
      Snapshot.snapshotDiff(
        Tables.load(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"), col("value"),
        lit(1705363200000000000L), lit(1706659200000000000L))
        .withColumnRenamed("key", "user_id"),
      Some(
        """WITH snap_old AS (
          | SELECT user_id, value AS old_value FROM (
          |  SELECT user_id, value,
          |   row_number() OVER (PARTITION BY user_id
          |                      ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE epoch_ns(ts) < 1705363200000000000) WHERE rn = 1),
          |snap_new AS (
          | SELECT user_id, value AS new_value FROM (
          |  SELECT user_id, value,
          |   row_number() OVER (PARTITION BY user_id
          |                      ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE epoch_ns(ts) < 1706659200000000000) WHERE rn = 1)
          |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
          | CASE WHEN o.user_id IS NULL THEN 'added'
          |      WHEN n.user_id IS NULL THEN 'removed'
          |      WHEN o.old_value = n.new_value THEN 'unchanged'
          |      ELSE 'changed' END AS status,
          | o.old_value, n.new_value
          |FROM snap_old o FULL OUTER JOIN snap_new n ON o.user_id = n.user_id
          |WHERE NOT (o.user_id IS NOT NULL AND n.user_id IS NOT NULL
          |           AND o.old_value = n.new_value)""".stripMargin))
  )
}
