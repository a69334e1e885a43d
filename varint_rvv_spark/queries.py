"""Driver-contract queries: engine round-trips + relational shell +
training-data ops, each with a DuckDB-runnable ANSI-SQL oracle.

Conventions (driver compare is column-name-sorted value-hash):
* every computed column is aliased identically in Spark and SQL;
* timestamps are reduced to epoch-µs BIGINT on both sides;
* doubles are rounded to fixed decimals on both sides.

The engine round-trip queries (`rt_*`) are the correctness core: the
Spark side pushes the table through encode_chunks → decode_table (the
full codec stack) before aggregating, while the oracle aggregates the
raw table directly — equality proves bit-exact reconstruction.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.decode import decode_table
from .operators.encode import encode_chunks

TABLE_SCHEMAS = {
    "documents": "doc_id long, text string, lang string, source string, "
                 "n_chars long",
    "events": "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string",
    "lineitem": "l_orderkey long, l_partkey long, l_suppkey long, "
                "l_linenumber int, l_quantity double, "
                "l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, "
                "l_shipdate timestamp",
    "embeddings": "vec_id long, embedding array<float>, label int",
    "orders_dates": "o_orderkey long, o_orderstatus string, "
                    "o_totalprice double, o_date date, is_urgent boolean, "
                    "o_key_dec decimal(18,2)",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _subset_schema(schema: str, cols: list[str]) -> str:
    """Project a 'name type, ...' schema string to `cols`, in order."""
    types = {}
    # top-level commas only: a comma whose next bracket is a closing
    # one sits inside decimal(p,s) / struct<...> / map<k,v>
    for part in re.split(r",(?![^<(]*[>)])", schema):
        name, _, typ = part.strip().partition(" ")
        types[name] = typ
    return ", ".join(f"{c} {types[c]}" for c in cols)


def _roundtrip(spark: SparkSession, sf_dir: str, name: str,
               key: str, need: list[str] | None = None) -> DataFrame:
    df = _t(spark, sf_dir, name)
    # chunk count scales with the session's parallelism (results are
    # chunk-count-independent: hash chunking only affects layout, and
    # the oracles compare aggregates) — 8 chunks would cap the encode
    # kernel at 8 tasks regardless of cores
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "8")), 8)
    chunks = encode_chunks(df, key_cols=[key], num_chunks=n)
    # chunks straight out of encode_chunks are chunk-contiguous within
    # each partition stream, so the zero-shuffle decode path is valid:
    # the whole round-trip has exactly one Exchange (the encode shuffle)
    #
    # `need` (r6): decode only the columns the query's aggregate reads
    # — the encode side still round-trips the WHOLE table (every column
    # is encoded, hashed and footer'd), but payloads the query never
    # touches stop crossing the Python decode boundary (guide §4:
    # opaque kernels defeat Spark's own column pruning, so prune by
    # hand).  Full-width decode bit-identity stays covered by
    # verify_roundtrip in bench.py and the codec round-trip tests.
    cols = need or df.columns
    return decode_table(chunks, cols,
                        _subset_schema(TABLE_SCHEMAS[name], cols),
                        contiguous=True)


# ---------- engine round-trip queries ----------

def rt_documents_by_lang(spark, sf_dir):
    d = _roundtrip(spark, sf_dir, "documents", "doc_id",
                   need=["doc_id", "lang", "n_chars"])
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.sum("doc_id").alias("sum_ids")))


RT_DOCUMENTS_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM documents GROUP BY lang
"""


def rt_events_by_type(spark, sf_dir):
    d = _roundtrip(spark, sf_dir, "events", "event_id",
                   need=["event_type", "ts", "user_id", "value"])
    return (d.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.min(F.unix_micros("ts")).alias("min_ts_us"),
                 F.max(F.unix_micros("ts")).alias("max_ts_us"),
                 F.sum("user_id").alias("sum_users"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


RT_EVENTS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us,
       CAST(SUM(user_id) AS BIGINT) AS sum_users, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


def rt_lineitem_q1(spark, sf_dir):
    d = _roundtrip(spark, sf_dir, "lineitem", "l_orderkey",
                   need=["l_returnflag", "l_linestatus", "l_quantity",
                         "l_extendedprice", "l_discount", "l_shipdate"])
    return (d.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


RT_LINEITEM_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def rt_events_pruned(spark, sf_dir):
    """Zone-map pruned round-trip: time-clustered chunks (sort → scan
    encode), footer min/max pruning to one week, decode only the
    surviving chunks, residual row filter, aggregate.  Equality with
    the plain-WHERE oracle proves pruning drops no needed chunk."""
    from .operators.decode import prune_chunks_multi
    from .operators.encode import encode_chunks_range

    lo_us = 1704844800000000  # 2024-01-10 00:00 UTC
    hi_us = 1705449600000000  # 2024-01-17 00:00 UTC
    df = _t(spark, sf_dir, "events")
    chunks = encode_chunks_range(df, ["ts"], num_partitions=8,
                                 rows_per_chunk=1024).cache()
    pruned = prune_chunks_multi(chunks, ranges={"ts": (lo_us, hi_us)})
    d = decode_table(pruned, df.columns, TABLE_SCHEMAS["events"],
                     contiguous=True)
    d = d.filter((F.unix_micros("ts") >= lo_us)
                 & (F.unix_micros("ts") < hi_us))
    return d.agg(F.count("*").alias("n_events"),
                 F.sum("event_id").alias("sum_ids"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.min(F.unix_micros("ts")).alias("min_ts_us"),
                 F.max(F.unix_micros("ts")).alias("max_ts_us"))


RT_EVENTS_PRUNED_SQL = """
SELECT COUNT(*) AS n_events, CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       ROUND(SUM(value), 4) AS sum_value,
       MIN(epoch_us(ts)) AS min_ts_us, MAX(epoch_us(ts)) AS max_ts_us
FROM events
WHERE epoch_us(ts) >= 1704844800000000
  AND epoch_us(ts) < 1705449600000000
"""


def rt_events_zorder_pruned(spark, sf_dir):
    """Z-order-clustered round-trip: events Morton-clustered on
    (user_id, ts), so BOTH dimensions' zone maps stay tight and one
    prune over both ranges composes them (encode_chunks_zorder) — the
    multi-dimension pruning mode single-column range clustering
    cannot give.  Oracle is the plain two-predicate WHERE."""
    from .operators.decode import prune_chunks_multi
    from .operators.encode import encode_chunks_zorder

    lo_us, hi_us = 1704844800000000, 1705449600000000
    df = (_t(spark, sf_dir, "events")
          .withColumn("ts_us",
                      F.unix_micros(F.col("ts").cast("timestamp")))
          .select("event_id", "user_id", "ts_us", "value"))
    chunks = encode_chunks_zorder(df, ["user_id", "ts_us"],
                                  num_partitions=8,
                                  rows_per_chunk=512).cache()
    pruned = prune_chunks_multi(chunks, ranges={
        "user_id": (10, 19), "ts_us": (lo_us, hi_us - 1)})
    d = decode_table(pruned, df.columns,
                     "event_id long, user_id long, ts_us long, "
                     "value double", contiguous=True)
    d = d.filter(F.col("user_id").between(10, 19)
                 & (F.col("ts_us") >= lo_us) & (F.col("ts_us") < hi_us))
    return d.agg(F.count("*").alias("n_events"),
                 F.sum("event_id").alias("sum_ids"),
                 F.round(F.sum("value"), 4).alias("sum_value"))


RT_EVENTS_ZORDER_SQL = """
SELECT COUNT(*) AS n_events, CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       ROUND(SUM(value), 4) AS sum_value
FROM events
WHERE user_id BETWEEN 10 AND 19
  AND epoch_us(ts) >= 1704844800000000
  AND epoch_us(ts) < 1705449600000000
"""


def scan_encoded_clicks_window(spark, sf_dir):
    """The reader-facing predicate surface in one call
    (decode.scan_encoded): a (event_type, ts)-clustered store scanned
    with an equality + a time-range predicate — dvset pruning on the
    type, zone-map pruning on the time, exact residual filters on the
    decoded survivors.  Oracle is the plain two-predicate WHERE."""
    from .operators.decode import scan_encoded
    from .operators.encode import encode_chunks_range

    lo_us, hi_us = 1704844800000000, 1705449600000000
    df = _t(spark, sf_dir, "events")
    chunks = encode_chunks_range(df, ["event_type", "ts"],
                                 num_partitions=8,
                                 rows_per_chunk=512).cache()
    d = scan_encoded(chunks, df.columns, TABLE_SCHEMAS["events"],
                     eq={"event_type": "click"},
                     ranges={"ts": (lo_us, hi_us - 1)},
                     contiguous=True)  # fresh in-session lineage
    return d.agg(F.count("*").alias("n_events"),
                 F.sum("event_id").alias("sum_ids"),
                 F.round(F.sum("value"), 4).alias("sum_value"))


SCAN_ENCODED_CLICKS_SQL = """
SELECT COUNT(*) AS n_events, CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       ROUND(SUM(value), 4) AS sum_value
FROM events
WHERE event_type = 'click'
  AND epoch_us(ts) >= 1704844800000000
  AND epoch_us(ts) < 1705449600000000
"""


def footer_range_agg_events(spark, sf_dir):
    """Hybrid exact range aggregation
    (operators/footer_stats.footer_range_agg): chunks fully inside
    the week answer from footer vsum/n_values (zero decode); only
    the two boundary chunks decode.  On a range-clustered store the
    decode cost is O(1) chunks per query at any store size."""
    from .operators.encode import encode_chunks_range
    from .operators.footer_stats import footer_range_agg

    lo_us, hi_us = 1704844800000000, 1705449600000000 - 1
    df = _t(spark, sf_dir, "events")
    chunks = encode_chunks_range(df, ["ts"], num_partitions=8,
                                 rows_per_chunk=512).cache()
    return footer_range_agg(chunks, "user_id", "ts", lo_us, hi_us,
                            contiguous=True)  # fresh lineage


FOOTER_RANGE_AGG_SQL = """
SELECT COUNT(*) AS n_rows, CAST(SUM(user_id) AS BIGINT) AS total
FROM events
WHERE epoch_us(ts) >= 1704844800000000
  AND epoch_us(ts) <= 1705449600000000 - 1
"""


def footer_topk_events(spark, sf_dir):
    """Top-k pushdown to statistics (footer_stats.footer_topk):
    ORDER BY ts DESC LIMIT 50 over a ts-clustered store decodes only
    the chunks whose zone maps can contain the k-th value — O(1)
    chunks per query on a clustered store.  Oracle is the plain
    ORDER BY ... LIMIT."""
    from .operators.encode import encode_chunks_range
    from .operators.footer_stats import footer_topk

    df = _t(spark, sf_dir, "events")
    chunks = encode_chunks_range(df, ["ts"], num_partitions=8,
                                 rows_per_chunk=512).cache()
    cand = footer_topk(chunks, "ts", 50, ["event_id", "ts"],
                       "event_id long, ts timestamp",
                       descending=True, contiguous=True)
    return (cand.orderBy(F.desc("ts"), "event_id").limit(50)
            .select("event_id",
                    F.unix_micros("ts").alias("ts_us")))


FOOTER_TOPK_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us
FROM events ORDER BY ts DESC, event_id LIMIT 50
"""


def rt_documents_source_pruned(spark, sf_dir):
    """Equality-pruned round-trip (categorical twin of
    rt_events_pruned): source-clustered chunks, footer dvset/bloom
    pruning on source='src7' (operators/eqstats.py), decode only the
    surviving chunks, residual row filter, aggregate.  Equality with
    the plain-WHERE oracle proves pruning drops no needed chunk."""
    from .operators.decode import prune_chunks_multi
    from .operators.encode import encode_chunks_range

    df = _t(spark, sf_dir, "documents")
    chunks = encode_chunks_range(df, ["source"], num_partitions=8,
                                 rows_per_chunk=512).cache()
    pruned = prune_chunks_multi(chunks, eq={"source": "src7"})
    d = decode_table(pruned, df.columns, TABLE_SCHEMAS["documents"],
                     contiguous=True)
    return (d.filter(F.col("source") == "src7")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.min("lang").alias("min_lang")))


RT_DOCS_SOURCE_PRUNED_SQL = """
SELECT COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars, MIN(lang) AS min_lang
FROM documents WHERE source = 'src7'
"""


def rt_documents_point_lookup(spark, sf_dir):
    """Bloom point lookup through the engine: a high-cardinality
    md5(text) fingerprint column is encoded alongside the table; the
    footer bloom (eqstats.py) prunes the scan to ~1 chunk (plus ~2 %
    false positives) before any payload reaches the decode kernel —
    the 'find this exact document at 100 TB' shape."""
    from .operators.decode import prune_chunks_multi
    from .operators.encode import encode_chunks

    df = _t(spark, sf_dir, "documents").withColumn("fp", F.md5("text"))
    # probe literal — in the real API a user-supplied constant; here a
    # bounded (one-value) driver action picks a deterministic target
    target = df.agg(F.max("fp")).collect()[0][0]
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "8")), 8)
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=n).cache()
    pruned = prune_chunks_multi(chunks, eq={"fp": target})
    d = decode_table(pruned, df.columns,
                     TABLE_SCHEMAS["documents"] + ", fp string",
                     contiguous=True)
    return (d.filter(F.col("fp") == target)
            .select("doc_id", "lang", "n_chars", "fp"))


RT_DOCS_POINT_LOOKUP_SQL = """
SELECT doc_id, lang, n_chars, md5(text) AS fp
FROM documents
WHERE md5(text) = (SELECT max(md5(text)) FROM documents)
"""


def events_asof_purchase(spark, sf_dir):
    """As-of join (operators/temporal.py): each click event gains the
    user's latest at-or-before purchase via the union + running-window
    carry-forward plan (one shuffle, no range explosion); oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "click")
    build = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("value")))
    j = asof_join(probe, build, "user_id", "ts", ["value"])
    # decimal-sum the per-row deltas so the average is summation-
    # order-independent (matches the oracle exactly; see q7ish note)
    delta = (F.col("value") - F.col("asof_value")).cast("decimal(18,6)")
    return (j.groupBy("user_id")
            .agg(F.count("*").alias("n_clicks"),
                 F.count("asof_ts").alias("n_matched"),
                 F.round(F.try_divide(F.sum(delta).cast("double"),
                                      F.count("asof_ts")), 4)
                 .alias("avg_delta")))


EVENTS_ASOF_SQL = """
WITH p AS (SELECT * FROM events WHERE event_type = 'click'),
     b AS (SELECT user_id, ts, MAX(value) AS value FROM events
           WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT p.user_id, COUNT(*) AS n_clicks, COUNT(b.ts) AS n_matched,
       ROUND(CAST(SUM(CAST(p.value - b.value AS DECIMAL(18,6)))
                  AS DOUBLE) / NULLIF(COUNT(b.ts), 0), 4) AS avg_delta
FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts >= b.ts
GROUP BY p.user_id
"""


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-minute inactivity): lag-marked
    session opens + running-sum ids (operators/temporal.py), rolled up
    to per-user session stats."""
    from .operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap="30 minutes")
    per = (s.groupBy("user_id", "session_id")
           .agg(F.count("*").alias("n_events"),
                # parquet ts may arrive as NTZ; session tz is UTC so
                # the cast is a metadata-only epoch alignment
                (F.unix_micros(F.max("ts").cast("timestamp"))
                 - F.unix_micros(F.min("ts").cast("timestamp")))
                .alias("dur_us")))
    return (per.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.max("n_events").alias("max_events"),
                 F.sum("dur_us").alias("total_dur_us")))


EVENTS_SESSIONIZE_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS op
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         SUM(op) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM marked),
per AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM sess GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_events,
       CAST(SUM(dur_us) AS BIGINT) AS total_dur_us
FROM per GROUP BY user_id
"""


def events_range_join_sessions(spark, sf_dir):
    """Range (interval-containment) join via time bucketization
    (operators/temporal.py::range_join): purchase sessions (2-day gap)
    become [start, end] intervals, error events land in 1-day buckets,
    and the containment join runs as a hash equi-join on
    (user, bucket) + residual filter — never the
    BroadcastNestedLoopJoin a plain BETWEEN join degenerates to."""
    from .operators.temporal import range_join, sessionize

    ev = _t(spark, sf_dir, "events")
    purch = (ev.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts"))
    sess = (sessionize(purch, "user_id", "ts", gap="2 days")
            .groupBy("user_id", "session_id")
            .agg(F.min("ts").alias("s_start"),
                 F.max("ts").alias("s_end")))
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", "ts"))
    rj = range_join(errors, sess, "user_id", "ts", "s_start", "s_end",
                    bucket_us=86_400_000_000)
    return (rj.groupBy("user_id")
            .agg(F.count("*").alias("n_hits"),
                 F.count_distinct("session_id").alias("n_sessions_hit")))


EVENTS_RANGE_JOIN_SQL = """
WITH purch AS (SELECT user_id, ts FROM events
               WHERE event_type = 'purchase'),
marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts > lag(ts) OVER w + INTERVAL 2 DAY
              THEN 1 ELSE 0 END AS op
  FROM purch WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         SUM(op) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM marked),
iv AS (SELECT user_id, session_id, MIN(ts) AS s_start,
              MAX(ts) AS s_end
       FROM sess GROUP BY 1, 2),
err AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
SELECT e.user_id, COUNT(*) AS n_hits,
       COUNT(DISTINCT session_id) AS n_sessions_hit
FROM err e JOIN iv ON e.user_id = iv.user_id
                  AND e.ts BETWEEN iv.s_start AND iv.s_end
GROUP BY e.user_id
"""


def events_pivot_daily(spark, sf_dir):
    """Pivot: event counts per day x event_type as columns.  The type
    list is declared (the five known types), so the pivot compiles to
    a single-pass conditional aggregation — no two-phase distinct scan
    at 100 TB; the oracle expresses the same as CASE sums."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.groupBy(F.to_date("ts").alias("day"))
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .na.fill(0, types)
            .select(F.col("day").cast("string").alias("day"), *types))


EVENTS_PIVOT_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
            AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
            AS BIGINT) AS view
FROM events GROUP BY 1
"""


def text_pii_mask(spark, sf_dir):
    """Text-cleaning op: mask email-like and long-digit-run tokens
    (the standard pre-training PII scrub shape), report per-source
    replacement counts and the masked corpus size.  Pure JVM regex —
    map-side at any scale."""
    d = _t(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    digits = r"\d{6,}"
    masked = (d.withColumn(
        "clean", F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"),
            digits, "<NUM>")))
    n_email = F.size(F.regexp_extract_all("text", F.lit(email)))
    n_digit = F.size(F.regexp_extract_all("text", F.lit(digits)))
    return (masked
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(n_email).alias("n_emails_masked"),
                 F.sum(n_digit).alias("n_numruns_masked"),
                 F.sum(F.length("clean")).alias("masked_chars")))


TEXT_PII_MASK_SQL = r"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')))
            AS BIGINT) AS n_emails_masked,
       CAST(SUM(len(regexp_extract_all(text, '\d{6,}')))
            AS BIGINT) AS n_numruns_masked,
       CAST(SUM(len(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '<EMAIL>', 'g'), '\d{6,}', '<NUM>', 'g')))
            AS BIGINT) AS masked_chars
FROM documents GROUP BY source
"""


def text_vocab_topk(spark, sf_dir):
    """Vocabulary building: top-50 corpus tokens by total frequency
    (ties broken lexicographically), with document frequency — the
    tokenizer-training precursor.  One explode + one partial-agg
    groupBy; the top-k is a global sort of the (bounded) vocabulary
    table, not of token occurrences."""
    d = _t(spark, sf_dir, "documents")
    toks = (d.select("doc_id",
                     F.explode(F.split(F.trim("text"), r"\s+"))
                     .alias("tok"))
            .filter(F.col("tok") != ""))
    vocab = (toks.groupBy("tok")
             .agg(F.count("*").alias("tf"),
                  F.count_distinct("doc_id").alias("df")))
    return (vocab.orderBy(F.desc("tf"), F.asc("tok")).limit(50))


TEXT_VOCAB_SQL = r"""
WITH toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       UNNEST(string_split_regex(trim(text), '\s+')) AS t(tok)
  WHERE t.tok <> '')
SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM toks GROUP BY tok
ORDER BY tf DESC, tok ASC LIMIT 50
"""


def tpch_q22ish_dormant_rich(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (global average balance as a
    broadcast crossJoin — no driver collect), NOT EXISTS anti-join
    against orders, broadcast dimension join, aggregate.  At scale the
    only wide exchange is the left_anti on o_custkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    avg_df = (cust.filter(F.col("c_acctbal") > 0.0)
              .agg(F.avg("c_acctbal").alias("ab")))
    rich = (cust.crossJoin(F.broadcast(avg_df))
            .filter(F.col("c_acctbal") > F.col("ab")))
    dormant = rich.join(orders,
                        rich.c_custkey == orders.o_custkey, "left_anti")
    return (dormant
            .join(F.broadcast(nation),
                  dormant.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_cust"),
                 F.round(F.sum("c_acctbal"), 2).alias("total_bal")))


TPCH_Q22ISH_SQL = """
SELECT n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                   WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""


def tpch_q16ish_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (partsupp substituted by the lineitem bridge):
    excluded brand, size IN-list, count-distinct suppliers per
    (brand, type).  Part dimension broadcasts; the count-distinct is
    the only shuffle on the fact side."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    sel = part.filter((F.col("p_brand") != "Brand#3")
                      & F.col("p_size").isin(5, 10, 15, 20))
    return (li.join(F.broadcast(sel),
                    li.l_partkey == sel.p_partkey)
            .groupBy("p_brand", "p_type")
            .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"),
                 F.count("*").alias("n_lines")))


TPCH_Q16ISH_SQL = """
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3' AND p_size IN (5, 10, 15, 20)
GROUP BY p_brand, p_type
"""


def tpch_q7ish_nation_trade(spark, sf_dir):
    """TPC-H Q7 shape: supplier nation x customer nation revenue
    matrix through lineitem->orders->customer, both nation dims
    broadcast, yearly rollup."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    return (li
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
                  li.l_suppkey == F.col("s_suppkey"))
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
            .filter(F.col("supp_nation") < F.col("cust_nation"))
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").alias("l_year"))
            # per-row product cast to decimal(18,4) before summing:
            # decimal addition is order-independent, so the fine-
            # grained groups match the oracle bit-for-bit (plain
            # double sums differ by a cent in ~0.5 % of groups, and a
            # final ROUND(x, 2) re-introduces half-up/half-even tie
            # skew on the .xx50 values — emit the exact 4-decimal sum)
            .agg(F.sum((F.col("l_extendedprice")
                        * (1 - F.col("l_discount")))
                       .cast("decimal(18,4)"))
                 .cast("double").alias("revenue")))


TPCH_Q7ISH_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY n1.n_name, n2.n_name, YEAR(l_shipdate)
"""


def tpch_q10ish_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    fact filter, one fact-fact join, two broadcast dims, decimal-sum
    top-20 under a total (revenue, custkey) order."""
    li = (_t(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag") == "R"))
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


TPCH_Q10ISH_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def events_funnel(spark, sf_dir):
    """Funnel analysis: signup → click → purchase ordered per user,
    via conditional-min timestamps (one groupBy, no joins or window
    sorts — the single-pass funnel shape)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))

    def first(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_us")))

    per = (ev.groupBy("user_id")
           .agg(first("signup").alias("t_signup"),
                first("click").alias("t_click"),
                first("purchase").alias("t_purchase")))
    step2 = (F.col("t_signup").isNotNull()
             & (F.col("t_click") > F.col("t_signup")))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return per.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .alias("n_signup"),
        F.sum(F.when(step2, 1).otherwise(0)).alias("n_signup_click"),
        F.sum(F.when(step3, 1).otherwise(0)).alias("n_full_funnel"))


EVENTS_FUNNEL_SQL = """
WITH per AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'
                  THEN epoch_us(ts) END) AS t_signup,
         MIN(CASE WHEN event_type = 'click'
                  THEN epoch_us(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY user_id)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup
                          AND t_purchase > t_click
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per
"""


def tpch_q19ish_disjunct_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR of multi-column conjuncts across the
    fact-dim join (brand x size-range x quantity-range), decimal
    revenue sum — the predicate structure that stresses pushdown
    planning."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = ((F.col("p_brand") == "Brand#1")
          & F.col("p_size").between(1, 15)
          & F.col("l_quantity").between(1, 20))
    c2 = ((F.col("p_brand") == "Brand#2")
          & F.col("p_size").between(10, 30)
          & F.col("l_quantity").between(10, 30))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (j.filter(c1 | c2)
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(rev).cast("double").alias("revenue")))


TPCH_Q19ISH_SQL = """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
"""


def part_unpivot_metrics(spark, sf_dir):
    """UNPIVOT (wide → long): part's numeric metrics stacked into
    (metric, value) rows, then re-aggregated — exact via decimal
    sums."""
    p = (_t(spark, sf_dir, "part")
         .select("p_partkey",
                 F.col("p_size").cast("double").alias("p_size"),
                 "p_retailprice"))
    up = p.unpivot("p_partkey", ["p_size", "p_retailprice"],
                   "metric", "value")
    return (up.groupBy("metric")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total")))


PART_UNPIVOT_SQL = """
SELECT metric, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM (
  SELECT 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT 'p_retailprice' AS metric, p_retailprice AS value FROM part)
GROUP BY metric
"""


def rt_orders_in_list(spark, sf_dir):
    """IN-list point reads by order key on a hash-clustered layout:
    the integer eq blooms (operators/eqstats.py) prune chunks the
    zone map cannot touch (ids span every chunk), with the OR-of-
    probes condition evaluated on footer metadata only."""
    from .operators.decode import prune_chunks_multi
    from .operators.encode import encode_chunks

    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    # probe literals — a user-supplied id list in the real API; here a
    # bounded (5-row) driver action picks deterministic targets
    keys = [r.o_orderkey for r in
            df.orderBy("o_orderkey").limit(5).collect()]
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "8")), 8)
    chunks = encode_chunks(df, key_cols=["o_orderkey"],
                           num_chunks=n).cache()
    pruned = prune_chunks_multi(chunks, eq={"o_orderkey": keys})
    d = decode_table(pruned, df.columns,
                     "o_orderkey long, o_orderstatus string, "
                     "o_totalprice double", contiguous=True)
    return (d.filter(F.col("o_orderkey").isin(keys))
            .select("o_orderkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("price")))


RT_ORDERS_IN_LIST_SQL = """
SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
FROM orders
WHERE o_orderkey IN (SELECT o_orderkey FROM orders
                     ORDER BY o_orderkey LIMIT 5)
"""


def compact_small_chunks(spark, sf_dir):
    """Compaction maintenance job: streaming-shaped 256-row micro-batch
    chunks rolled into target-size chunks (operators/compact.py), then
    decoded and aggregated.  Oracle equality proves the rewrite is
    lossless; compacted chunks carry fresh footer stats so pruning and
    verify work unchanged (tests/test_compact.py)."""
    from .operators.compact import compact_chunks
    from .operators.encode import encode_chunks_scan

    df = _t(spark, sf_dir, "events")
    # cache: the bin-assignment metadata pass and the payload pass both
    # read the chunk set; from a sink this is two cheap scans, from a
    # fresh encode lineage it would re-run the encode
    small = encode_chunks_scan(df, rows_per_chunk=256).cache()
    compacted = compact_chunks(small, target_bytes=4 << 20)
    d = decode_table(compacted, df.columns, TABLE_SCHEMAS["events"],
                     contiguous=True)
    return (d.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("user_id").alias("sum_users"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


COMPACT_SMALL_CHUNKS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY event_type
"""


def schema_evolution_read(spark, sf_dir):
    """Decode-time schema evolution (operators/evolve.py): chunks
    written under a v1 schema (int custkey, date order date) read
    under v2 — custkey widened to bigint, date widened to timestamp,
    a `channel` column added with a default, priority dropped.  All
    evolution is JVM-side casts/literals after the unchanged decode
    kernel; oracle expresses the evolved view directly."""
    from .operators.encode import encode_chunks
    from .operators.evolve import decode_table_evolved

    df = (_t(spark, sf_dir, "orders")
          .select("o_orderkey",
                  F.col("o_custkey").cast("int").alias("o_custkey"),
                  "o_orderstatus", "o_totalprice",
                  F.to_date("o_orderdate").alias("o_date")))
    n = max(int(spark.conf.get("spark.sql.shuffle.partitions", "8")), 8)
    chunks = encode_chunks(df, key_cols=["o_orderkey"], num_chunks=n)
    d = decode_table_evolved(
        chunks,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_date timestamp, channel string",
        defaults={"channel": "web"})
    return (d.groupBy("o_orderstatus", "channel")
            .agg(F.count("*").alias("n_orders"),
                 F.sum("o_custkey").alias("sum_cust"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                 F.min(F.unix_micros("o_date")).alias("min_date_us")))


SCHEMA_EVOLUTION_SQL = """
SELECT o_orderstatus, 'web' AS channel, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_custkey AS INTEGER)) AS BIGINT) AS sum_cust,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       MIN(epoch_us(CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)))
           AS min_date_us
FROM orders GROUP BY o_orderstatus
"""


def rt_embeddings_roundtrip(spark, sf_dir):
    """Array-column round-trip: the embeddings table (array<float>)
    through the LIST codec (flatten → lengths varint/RLE + child
    SPLIT/zstd) and back — the nested-type path an LLM-pipeline's
    highest-volume non-text column needs.  Aggregates mirror
    embeddings_array_ops, so equality proves bit-exact floats."""
    d = _roundtrip(spark, sf_dir, "embeddings", "vec_id")
    norm2 = F.aggregate(F.transform("embedding", lambda x: x * x),
                        F.lit(0.0), lambda a, x: a + x)
    return (d.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 # long: DuckDB len() is BIGINT — keep dtypes aligned
                 F.max(F.size("embedding")).cast("long").alias("dim"),
                 F.round(F.avg(norm2), 4).alias("avg_norm2"),
                 F.round(F.sum(F.element_at("embedding", 1)), 4)
                 .alias("sum_first"),
                 F.sum("vec_id").alias("sum_ids")))


RT_EMBEDDINGS_SQL = """
SELECT label, COUNT(*) AS n_vecs, MAX(len(embedding)) AS dim,
       ROUND(AVG(list_dot_product(embedding, embedding)), 4) AS avg_norm2,
       ROUND(SUM(embedding[1]), 4) AS sum_first,
       CAST(SUM(vec_id) AS BIGINT) AS sum_ids
FROM embeddings GROUP BY label
"""


def rt_orders_dates(spark, sf_dir):
    """DATE + BOOLEAN + DECIMAL column round-trip: derive a date32
    column (day numbers → delta/varint), a boolean flag (uint8 →
    bitpack/RLE) and a decimal(18,2) column (unscaled int64 → integer
    codec stack) from orders, push all three through encode → decode,
    aggregate.  The decimal derives from o_orderkey (integer-valued),
    so Spark and DuckDB agree bit-exactly with no rounding-mode risk."""
    df = (_t(spark, sf_dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice",
                  F.col("o_orderdate").cast("date").alias("o_date"),
                  (F.col("o_orderpriority") == "1-URGENT")
                  .alias("is_urgent"),
                  F.col("o_orderkey").cast("decimal(18,2)")
                  .alias("o_key_dec")))
    chunks = encode_chunks(df, key_cols=["o_orderkey"], num_chunks=8)
    d = decode_table(chunks, df.columns, TABLE_SCHEMAS["orders_dates"],
                     contiguous=True)
    return (d.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_orders"),
                 F.min(F.col("o_date").cast("string")).alias("min_date"),
                 F.max(F.col("o_date").cast("string")).alias("max_date"),
                 F.sum(F.col("is_urgent").cast("long")).alias("n_urgent"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                 F.sum("o_key_dec").cast("double").alias("sum_key_dec")))


RT_ORDERS_DATES_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
       CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_urgent,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       CAST(SUM(CAST(o_orderkey AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_key_dec
FROM orders GROUP BY o_orderstatus
"""


def rt_documents_tokens(spark, sf_dir):
    """list<string> column round-trip: tokenize documents into a token
    array, push it through encode → decode (LIST codec with a varlen
    child stream), and aggregate over the decoded arrays."""
    from .functions import md5_long, tokens

    d = _t(spark, sf_dir, "documents")
    df = d.select("doc_id", "lang", tokens("text").alias("toks"),
                  F.length(F.trim("text")).alias("trim_len"))
    schema = ("doc_id long, lang string, toks array<string>, "
              "trim_len int")
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=8)
    dec = decode_table(chunks, df.columns, schema, contiguous=True)
    n_toks = F.when(F.col("trim_len") == 0, 0).otherwise(F.size("toks"))
    first_tok_h = F.when(F.col("trim_len") == 0, None).otherwise(
        md5_long(F.element_at("toks", 1), 8))
    return (dec.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(n_toks).alias("sum_tokens"),
                 # long: the SQL twin's MAX(len(...)) is BIGINT
                 F.max(n_toks).cast("long").alias("max_tokens"),
                 F.sum(first_tok_h).alias("sum_first_tok_hash")))


RT_DOCUMENTS_TOKENS_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END
           AS n_toks,
         CASE WHEN length(trim(text)) = 0 THEN NULL
              ELSE CAST(('0x' || substr(md5(
                     string_split_regex(trim(text), '\s+')[1]), 1, 8))
                   AS BIGINT) END AS first_h
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
       MAX(n_toks) AS max_tokens,
       CAST(SUM(first_h) AS BIGINT) AS sum_first_tok_hash
FROM t GROUP BY lang
"""


def rt_documents_annotations(spark, sf_dir):
    """array<struct<...>> column round-trip: per-token annotation
    spans (the curated-training-data shape — position, token, length
    per token), pushed through encode → decode.  The LIST codec
    recurses into the STRUCT codec for its child stream
    (codecs/lists.py tagged-child framing), so each struct field
    still gets its own auto-selected stream.  Aggregating the decoded
    spans against the flat-SQL oracle proves the nested
    reconstruction is exact."""
    from .functions import md5_long, tokens

    d = _t(spark, sf_dir, "documents")
    toks5 = F.slice(tokens("text"), 1, 5)
    anns = F.filter(
        F.transform(toks5, lambda t, i: F.struct(
            (i + F.lit(1)).cast("int").alias("pos"),
            t.alias("tok"),
            F.length(t).cast("int").alias("tok_len"))),
        lambda a: a["tok_len"] > 0)  # empty text → [''] → []
    df = d.select("doc_id", anns.alias("anns"))
    schema = ("doc_id long, "
              "anns array<struct<pos:int,tok:string,tok_len:int>>")
    chunks = encode_chunks(df, key_cols=["doc_id"], num_chunks=8)
    dec = decode_table(chunks, df.columns, schema, contiguous=True)
    e = dec.select(F.explode("anns").alias("a"))
    return (e.groupBy(F.col("a.pos").alias("pos"))
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("a.tok_len").alias("sum_len"),
                 F.sum(md5_long(F.col("a.tok"), 8))
                 .alias("sum_tok_hash"))
            .orderBy("pos"))


RT_DOCUMENTS_ANNOTATIONS_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_slice(string_split_regex(trim(text), '\s+'), 1, 5)
           AS toks
  FROM documents),
e AS (
  SELECT unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
  FROM t)
SELECT CAST(pos AS INTEGER) AS pos, COUNT(*) AS n_tokens,
       CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
       CAST(SUM(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT))
            AS BIGINT) AS sum_tok_hash
FROM e
WHERE length(tok) > 0
GROUP BY pos ORDER BY pos
"""


def pack_sequences_documents(spark, sf_dir):
    """GPT-style sequence packing (operators/pack.py): concatenate
    the corpus token stream in doc_id order and split every 512
    tokens; each document lands in the sequence holding its first
    token.  The running token count uses the two-level bucketed
    cumsum — no single-partition pass over document rows — and the
    oracle is the literal single-window SQL, proving the factoring
    exact."""
    from .functions import tokens
    from .operators.pack import pack_sequences

    d = _t(spark, sf_dir, "documents")
    n_toks = F.when(F.length(F.trim("text")) == 0, F.lit(0)) \
        .otherwise(F.size(tokens("text"))).cast("long")
    df = d.select("doc_id", n_toks.alias("toks"))
    p = pack_sequences(df, "doc_id", "toks", 512)
    return (p.groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("toks").alias("seq_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("seq_id"))


PACK_SEQUENCES_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END
           AS toks
  FROM documents),
c AS (
  SELECT doc_id, toks,
         SUM(toks) OVER (ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
s AS (SELECT doc_id, toks,
             CAST((cum - toks) // 512 AS BIGINT) AS seq_id
      FROM c)
SELECT seq_id, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM s GROUP BY seq_id ORDER BY seq_id
"""


def rt_events_struct_map(spark, sf_dir):
    """STRUCT + MAP column round-trip: derive a struct<uid,val> and a
    map<string,string> (parsed from the JSON props) from events, push
    both through encode → decode (per-field streams via the STRUCT/MAP
    codecs), and aggregate fields extracted from the decoded nested
    columns.  Equality with the flat-column oracle proves the nested
    decomposition reconstructs bit-exactly."""
    e = _t(spark, sf_dir, "events")
    df = e.select(
        "event_id",
        F.struct(F.col("user_id").alias("uid"),
                 F.col("value").alias("val")).alias("uv"),
        F.from_json("props", "map<string,string>").alias("props_map"))
    schema = ("event_id long, uv struct<uid:long,val:double>, "
              "props_map map<string,string>")
    chunks = encode_chunks(df, key_cols=["event_id"], num_chunks=8)
    d = decode_table(chunks, df.columns, schema, contiguous=True)
    return d.agg(
        F.count("*").alias("n_events"),
        F.sum("uv.uid").alias("sum_uid"),
        F.round(F.sum("uv.val"), 4).alias("sum_val"),
        F.sum(F.try_element_at("props_map", F.lit("k")).cast("long"))
        .alias("sum_k"),
        F.sum(F.size("props_map")).alias("sum_entries"))


RT_EVENTS_STRUCT_MAP_SQL = """
SELECT COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       ROUND(SUM(value), 4) AS sum_val,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(SUM(CASE WHEN props IS NULL THEN NULL
                ELSE len(json_keys(props)) END) AS BIGINT) AS sum_entries
FROM events
"""


def footer_agg_events(spark, sf_dir):
    """Aggregate pushdown to chunk statistics: COUNT(*)/SUM answered
    from the footer ledger alone — zero payload decode (the engine
    twin of metadata-only queries over Iceberg/parquet statistics; on
    a persisted table this touches only the footer files)."""
    from .operators.encode import footer_of

    df = _t(spark, sf_dir, "events")
    f = footer_of(encode_chunks(df, key_cols=["event_id"],
                                num_chunks=8)).cache()
    vsum = F.get_json_object("stats_json", "$.vsum").cast("long")

    def guarded_sum(alias):
        # vsum is only recorded when provably exact; a chunk without it
        # must yield NULL (pushdown unavailable), never a silent
        # partial sum — F.sum alone would skip the NULL and lie
        return F.when(F.count(F.lit(1)) == F.count(vsum),
                      F.sum(vsum)).alias(alias)

    vmin = F.get_json_object("stats_json", "$.vmin").cast("long")
    vmax = F.get_json_object("stats_json", "$.vmax").cast("long")

    def guarded(agg_fn, col, alias):
        # zone maps are absent on NaN-poisoned/varlen chunks — MIN/MAX
        # over a partial set would silently lie, so NULL instead
        return F.when(F.count(F.lit(1)) == F.count(col),
                      agg_fn(col)).alias(alias)

    a = (f.filter(F.col("column") == "event_id")
         .agg(F.sum("n_values").alias("n_events"),
              guarded_sum("sum_event_ids"),
              guarded(F.min, vmin, "min_event_id"),
              guarded(F.max, vmax, "max_event_id")))
    b = (f.filter(F.col("column") == "user_id")
         .agg(guarded_sum("sum_user_ids")))
    return a.crossJoin(b)


FOOTER_AGG_SQL = """
SELECT COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS sum_event_ids,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user_ids
FROM events
"""


# ---------- relational shell (SURVEY.md §2.3 categories) ----------

def tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 2)
                 .alias("sum_charge"),
                 F.count("*").alias("count_order")))


TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3_shipping(spark, sf_dir):
    """Join chain with broadcast dims + top-k (joins/sorts/limits)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # dims first (r6): reduce orders by the selective customer filter
    # BEFORE lineitem sees a join — the fact table then probes one
    # broadcast of ~o/5 surviving keys instead of two hash relations
    # (guide §3: build the small side small).  Inner joins commute, so
    # results are unchanged (A/B-verified row-for-row at sf1.0;
    # 1.71 -> 0.75 s).
    of = (orders.join(F.broadcast(cust),
                      orders.o_custkey == cust.c_custkey)
          .select("o_orderkey"))
    return (li.join(F.broadcast(of), li.l_orderkey == of.o_orderkey)
            .groupBy("l_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
            .limit(10))


TPCH_Q3_SQL = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def tpch_q6_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= F.lit("1994-01-01"))
                      & (F.col("l_shipdate") < F.lit("1995-01-01"))
                      & (F.col("l_discount").between(0.05, 0.07))
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * F.col("l_discount")), 2).alias("revenue"),
                 F.count("*").alias("n_rows")))


TPCH_Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def broadcast_join_geo(spark, sf_dir):
    """nation ⋈ region ⋈ supplier with broadcast dims (projection+join)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    s = _t(spark, sf_dir, "supplier")
    return (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("r_name").alias("region_name"))
            .agg(F.count("*").alias("n_suppliers"),
                 F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal")))


BROADCAST_JOIN_GEO_SQL = """
SELECT r_name AS region_name, COUNT(*) AS n_suppliers,
       ROUND(SUM(s_acctbal), 2) AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def window_order_rank(spark, sf_dir):
    """Window function: top-2 orders per customer by totalprice."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    # r6: the %100 predicate is a function of the window's PARTITION
    # key, so dropping whole partitions before the window cannot
    # change any surviving row's rank — Spark does not infer this
    # (the filter stayed above the Window in the plan), so apply it
    # before the shuffle by hand: 100x fewer rows exchange
    return (o.filter(F.col("o_custkey") % 100 == 0)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 2)
            .select("o_custkey", "o_orderkey", "rk",
                    F.round("o_totalprice", 2).alias("totalprice")))


WINDOW_ORDER_RANK_SQL = """
SELECT o_custkey, o_orderkey, rk, ROUND(o_totalprice, 2) AS totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders) t
WHERE rk <= 2 AND o_custkey % 100 = 0
"""


def setop_orders_no_lineitem(spark, sf_dir):
    """Set-op/anti-join: order keys with no lineitem rows."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"))
    return (o.exceptAll(li.distinct()).distinct()
            .agg(F.count("*").alias("n_orders_without_items"),
                 F.sum("o_orderkey").alias("sum_keys")))


SETOP_SQL = """
SELECT COUNT(*) AS n_orders_without_items, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
FROM (SELECT DISTINCT o_orderkey FROM orders
      EXCEPT SELECT DISTINCT l_orderkey FROM lineitem) t
"""


def events_daily(spark, sf_dir):
    """Date/scalar functions + agg: daily event rollup."""
    e = _t(spark, sf_dir, "events")
    # group on the DATE and stringify per group, not per row (r6):
    # the string day key cost a per-row cast+alloc and a wider
    # exchange; CAST(date AS STRING) after the agg is the same
    # 'yyyy-MM-dd' value (A/B row-identical; 1.20 -> 0.86 s at sf1.0)
    g = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("_d"))
         .agg(F.count("*").alias("n_events"),
              F.countDistinct("user_id").alias("n_users"),
              F.round(F.avg("value"), 4).alias("avg_value")))
    return g.select(F.col("_d").cast("string").alias("day"),
                    "n_events", "n_users", "avg_value")


EVENTS_DAILY_SQL = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       ROUND(AVG(value), 4) AS avg_value
FROM events GROUP BY 1
"""


# ---------- training-data pipeline ops ----------

def dedup_exact_documents(spark, sf_dir):
    """Exact dedup: md5 content hash, keep lowest doc_id per group."""
    d = _t(spark, sf_dir, "documents")
    return (d.withColumn("content_hash", F.md5(F.encode("text", "utf-8")))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies"))
            .agg(F.count("*").alias("n_unique"),
                 F.sum("n_copies").alias("n_total"),
                 F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
                 .alias("n_dup_groups"),
                 F.sum("keep_id").alias("sum_keep_ids")))


DEDUP_EXACT_SQL = """
SELECT COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
       CAST(SUM(keep_id) AS BIGINT) AS sum_keep_ids
FROM (SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text)) g
"""


def text_stats_documents(spark, sf_dir):
    """Quality-score features: tokens, chars, uppercase/digit ratios."""
    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), r"\s+"))
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.length("text")).alias("sum_chars"),
                 F.sum(toks).alias("sum_tokens"),
                 F.round(F.avg(F.length(F.regexp_replace("text", r"[^0-9]", ""))
                               / F.greatest(F.length("text"), F.lit(1))), 6)
                 .alias("digit_ratio")))


TEXT_STATS_SQL = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(LEN(regexp_split_to_array(TRIM(text), '\\s+'))) AS BIGINT) AS sum_tokens,
       ROUND(AVG(CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / GREATEST(LENGTH(text), 1)), 6) AS digit_ratio
FROM documents GROUP BY source
"""


def embedding_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-k vs the centroid-free probe vec_id=0.

    JVM-side only: F.aggregate/zip_with dot products (no UDF).
    """
    e = _t(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    # r6: the probe norm is a per-PROBE constant — fold it into the
    # 1-row broadcast side instead of re-running the 64-element fold
    # per corpus row (same float sequence, so cosine bits unchanged)
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe"),
        norm("embedding").alias("_pnorm"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))
    dot = F.aggregate(F.zip_with("embedding", "probe",
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (norm("embedding") * F.col("_pnorm"))
    return (joined.select("vec_id", F.round(cos, 5).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(20))


EMBEDDING_TOPK_SQL = """
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       ROUND(list_dot_product(embedding, p)
             / (sqrt(list_dot_product(embedding, embedding))
                * sqrt(list_dot_product(p, p))), 5) AS cosine
FROM embeddings, probe WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 20
"""


# ---------- dedup / similarity / text ops (operators/*.py) ----------

def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs on documents."""
    from .operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", k=3, n_hashes=16, bands=4)


def _mh_mins_sql(n_hashes: int) -> str:
    """MIN((a_i*h + b_i) % p) aggregate list — the DuckDB twin of
    dedup.minhash_params' affine family (same md5-grid literals)."""
    from .operators.dedup import MINHASH_P, minhash_params

    return ",\n       ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(minhash_params(n_hashes)))


def _mh_band_rows_sql(n_hashes: int, bands: int) -> str:
    rows = n_hashes // bands
    return "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band_id, md5({cat}) AS band_hash FROM sig"
        .format(b=b, cat=" || '|' || ".join(
            f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)))
        for b in range(bands))


MINHASH_HS_SQL = """
hs AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS h
       FROM sh)"""


def _minhash_sql(n_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       FROM d, UNNEST(range(1, len(toks) - 1)) AS t(i)),
{MINHASH_HS_SQL},
sig AS (SELECT doc_id, {_mh_mins_sql(n_hashes)}
        FROM hs GROUP BY doc_id),
bands AS (
{_mh_band_rows_sql(n_hashes, bands)}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b USING (band_id, band_hash)
WHERE a.doc_id < b.doc_id
"""


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard ≥ 0.5 pairs on documents (shingles
    with document frequency > 1000 are dropped before the self-join —
    the boilerplate guard, mirrored in the oracle)."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5,
                               max_doc_freq=1000)


NGRAM_JACCARD_SQL = """
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
sh0 AS (SELECT DISTINCT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM d, UNNEST(range(1, len(toks) - 1)) AS t(i)),
sh AS (SELECT sh0.* FROM sh0
       JOIN (SELECT shingle FROM sh0 GROUP BY shingle
             HAVING COUNT(*) <= 1000) keep USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE)
             / (sa.n_sh + sb.n_sh - n_inter), 5) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
"""


def decontaminate_documents(spark, sf_dir):
    """Test-set decontamination (operators/dedup.ngram_decontaminate):
    docs sharing a word 5-gram with the deterministic "benchmark"
    slice (doc_id % 17 == 0) are flagged with their shingle and hit
    counts.  Corpus shingles stay map-side; the benchmark shingle set
    broadcasts — only true hits ever shuffle."""
    from .operators.dedup import ngram_decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate(corpus, bench, "doc_id", "text", k=5)


DECONTAMINATE_SQL = """
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
c AS (SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
      FROM d, UNNEST(range(1, len(toks) - 3)) AS t(i)
      WHERE doc_id % 17 != 0),
b AS (SELECT DISTINCT
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
      FROM d, UNNEST(range(1, len(toks) - 3)) AS t(i)
      WHERE doc_id % 17 = 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM c GROUP BY doc_id),
hits AS (SELECT doc_id, COUNT(*) AS n_contaminated
         FROM c JOIN b USING (shingle) GROUP BY doc_id)
SELECT h.doc_id, s.n_shingles, h.n_contaminated
FROM hits h JOIN sizes s USING (doc_id)
"""


def repetition_stats_documents(spark, sf_dir):
    """Gopher-style repetition quality stats (operators/text.py::
    repetition_stats): per-doc top/duplicated word-2-gram coverage,
    computed with ZERO shuffle (in-row array_sort + run-length
    aggregate lambda instead of the classic explode+groupBy corpus
    exchange)."""
    from .operators.text import repetition_stats

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d, "doc_id", "text", k=2)


REPETITION_STATS_SQL = """
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
      FROM d, UNNEST(range(1, len(toks))) AS t(i)),
c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
a AS (SELECT doc_id, MAX(c) AS best,
             COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup
      FROM c GROUP BY 1)
SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_words,
       ROUND(LEAST(1.0, 2.0 * COALESCE(a.best, 0) / len(d.toks)), 5)
         AS top_2gram_frac,
       ROUND(LEAST(1.0, 2.0 * COALESCE(a.dup, 0) / len(d.toks)), 5)
         AS dup_2gram_frac
FROM d LEFT JOIN a USING (doc_id)
"""


def url_dedup_documents(spark, sf_dir):
    """Canonical-URL dedup (operators/text.canonical_url — the first
    stage of a crawl pipeline): deterministic synthetic URLs over
    documents (scheme/WWW casing, trailing slash, a utm_ tracking
    param) that the canonicalizer must collapse to the analytically
    known key src.example.com/p/<doc_id%7>?sid=<doc_id%3>; the
    oracle computes that key directly, so parity proves the
    parse_url-based normalization lands on the exact expected form."""
    from .operators.text import url_dedup

    d = _t(spark, sf_dir, "documents").withColumn(
        "url", F.concat(
            F.lit("https://WWW."), F.col("source"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/?utm_source=a&sid="),
            (F.col("doc_id") % 3).cast("string")))
    kept = url_dedup(d, "url", "doc_id")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids")))


URL_DEDUP_SQL = """
WITH u AS (
  SELECT doc_id, source,
         lower(source) || '.example.com/p/' || (doc_id % 7)
           || '?sid=' || (doc_id % 3) AS curl
  FROM documents),
w AS (SELECT curl, MIN(doc_id) AS doc_id FROM u GROUP BY curl)
SELECT u.source, COUNT(*) AS n_docs,
       CAST(SUM(u.doc_id) AS BIGINT) AS sum_ids
FROM u JOIN w USING (curl, doc_id)
GROUP BY u.source
"""


def dedup_span_coverage(spark, sf_dir):
    """Per-document duplicated-span coverage (Lee et al. 2022 metric):
    fraction of each doc's distinct word 3-shingles that appear in at
    least one other document.  Linear-cost plan — no self-join (see
    operators/dedup.span_dup_coverage)."""
    from .operators.dedup import span_dup_coverage

    return span_dup_coverage(_t(spark, sf_dir, "documents"),
                             "doc_id", "text", k=3)


SPAN_COVERAGE_SQL = r"""
WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
sh AS (SELECT DISTINCT doc_id,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       FROM d, UNNEST(range(1, len(toks) - 1)) AS t(i)),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per AS (SELECT doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM sh JOIN dfreq USING (shingle) GROUP BY doc_id)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_dup AS BIGINT) AS n_dup,
       ROUND(CAST(n_dup AS DOUBLE) / n_shingles, 5) AS dup_frac
FROM per
"""


def dedup_minhash_survivors(spark, sf_dir):
    """End-to-end MinHash dedup: LSH candidates → exact-Jaccard verify
    → connected components → duplicate groups (group_id = survivor)."""
    from .operators.dedup import minhash_dedup_components

    d = _t(spark, sf_dir, "documents")
    comp = minhash_dedup_components(d, "doc_id", "text", k=3,
                                    n_hashes=16, bands=4, threshold=0.5)
    return (comp.groupBy(F.col("comp").alias("group_id"))
            .agg(F.count("*").alias("n_members"),
                 F.sum("id").alias("sum_member_ids")))


def _minhash_survivors_sql(n_hashes: int = 16, bands: int = 4,
                           threshold: float = 0.5) -> str:
    return f"""
WITH RECURSIVE
d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents),
sh AS (SELECT DISTINCT doc_id,
              toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       FROM d, UNNEST(range(1, len(toks) - 1)) AS t(i)),
{MINHASH_HS_SQL},
sig AS (SELECT doc_id, {_mh_mins_sql(n_hashes)}
        FROM hs GROUP BY doc_id),
bands AS (
{_mh_band_rows_sql(n_hashes, bands)}
),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b USING (band_id, band_hash)
         WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.id_a
          JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
          GROUP BY c.id_a, c.id_b),
edges AS (SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE)
                / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(id, comp) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.comp FROM sym s JOIN reach r ON s.dst = r.id),
comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
SELECT comp AS group_id, COUNT(*) AS n_members,
       CAST(SUM(id) AS BIGINT) AS sum_member_ids
FROM comp GROUP BY comp
"""


def embedding_neardup_survivors(spark, sf_dir):
    """Embedding near-dup groups: LSH-bucketed pairs → connected
    components → per-group survivors (same pipeline shape as
    dedup_minhash_survivors, over the vector modality)."""
    from .operators.dedup import connected_components, \
        embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    pairs = embedding_neardup_pairs(e, threshold=0.35, n_planes=4,
                                    dim=64)
    comp = connected_components(pairs.select("id_a", "id_b"))
    return (comp.groupBy(F.col("comp").alias("group_id"))
            .agg(F.count("*").alias("n_members"),
                 F.sum("id").alias("sum_member_ids")))


def _embedding_survivors_sql(n_planes: int = 4, dim: int = 64,
                             threshold: float = 0.35) -> str:
    cos = ("list_dot_product(a.embedding, b.embedding)"
           " / (sqrt(list_dot_product(a.embedding, a.embedding))"
           " * sqrt(list_dot_product(b.embedding, b.embedding)))")
    return f"""
WITH RECURSIVE {_lsh_buckets_cte(n_planes, dim, "WHERE vec_id < 200")},
edges AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buck a JOIN buck b USING (bucket)
  WHERE a.vec_id < b.vec_id AND ROUND({cos}, 5) >= {threshold}),
sym AS (SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(id, comp) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, r.comp FROM sym s JOIN reach r ON s.dst = r.id),
comp AS (SELECT id, MIN(comp) AS comp FROM reach GROUP BY id)
SELECT comp AS group_id, COUNT(*) AS n_members,
       CAST(SUM(id) AS BIGINT) AS sum_member_ids
FROM comp GROUP BY comp
"""


def sample_documents_deterministic(spark, sf_dir):
    """Deterministic 20% hash-sample of documents (md5 bucket < 20) —
    the reproducible down-sampling primitive of a training-data
    pipeline: executor-independent, resumable, oracle-checkable."""
    from .functions import md5_bucket

    d = _t(spark, sf_dir, "documents")
    return (d.filter(md5_bucket("doc_id", 100) < 20)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars")))


SAMPLE_DOCS_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 100 < 20
GROUP BY lang
"""


def sample_stratified_by_quality(spark, sf_dir):
    """Stratified deterministic sampling — the data-mixing primitive:
    per-stratum keep rates (here: keep 60% of long documents, 15% of
    short ones) applied via the same executor-independent md5 bucket,
    so the mix is reproducible and resumable at any scale."""
    from .functions import md5_bucket

    d = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("n_chars") >= 500, F.lit(60)).otherwise(F.lit(15))
    return (d.filter(md5_bucket("doc_id", 100) < rate)
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum(F.when(F.col("n_chars") >= 500, 1).otherwise(0))
                 .alias("n_long")))


SAMPLE_STRATIFIED_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_long
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % 100 < (CASE WHEN n_chars >= 500 THEN 60 ELSE 15 END)
GROUP BY source
"""


def orders_cube(spark, sf_dir):
    """CUBE aggregate (all 2^k grouping-set combinations) with
    order-independent decimal money sums; NULL grouping slots rendered
    as 'ALL' (inputs are non-null, so the coalesce is unambiguous)."""
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("total"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    "n", "total"))


ORDERS_CUBE_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def dedup_simhash(spark, sf_dir):
    """60-bit SimHash fingerprints for a deterministic doc subset."""
    from .operators.dedup import simhash64

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return simhash64(d, "doc_id", "text")


def _simhash_sql() -> str:
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(60))
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(60))
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok FROM (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
    FROM documents WHERE doc_id % 10 = 0) d,
  UNNEST(d.ts) AS t(tok) WHERE t.tok <> ''),
hashed AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
           FROM toks),
sums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, {fp} AS simhash FROM sums
"""


def embedding_neardup(spark, sf_dir):
    """Top-20 most-similar LSH-cohabiting embedding pairs, vec_id < 100.

    Uses the bucketed default path (equi-join on sign-LSH bucket, no
    cartesian) — the brute-force O(N²) variant survives only as the
    recall oracle in tests.
    """
    from .operators.dedup import embedding_neardup_pairs

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    pairs = embedding_neardup_pairs(e, threshold=-1.0, n_planes=4, dim=64)
    return pairs.orderBy(F.desc("cosine"), F.asc("id_a"),
                         F.asc("id_b")).limit(20)


def _embedding_neardup_sql(n_planes: int = 4, dim: int = 64) -> str:
    return f"""
WITH {_lsh_buckets_cte(n_planes, dim, "WHERE vec_id < 100")}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.embedding, b.embedding)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(b.embedding, b.embedding))), 5)
         AS cosine
FROM buck a JOIN buck b USING (bucket)
WHERE a.vec_id < b.vec_id
ORDER BY cosine DESC, id_a ASC, id_b ASC LIMIT 20
"""


def text_lang_id(spark, sf_dir):
    """Heuristic lang-ID confusion counts vs the labeled lang column."""
    from .operators.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return (lang_id(d, "text").groupBy("lang", "lang_pred")
            .agg(F.count("*").alias("n")))


def _lang_id_sql() -> str:
    from .operators.text import LANG_MARKERS

    hit_exprs = {
        lang: ("len(regexp_extract_all(text, '(?i)\\b("
               + "|".join(words) + ")\\b'))")
        for lang, words in LANG_MARKERS.items()}
    hits = ",\n       ".join(f"{e} AS h_{lang}"
                             for lang, e in hit_exprs.items())
    best = "greatest(" + ", ".join(f"h_{lang}" for lang in LANG_MARKERS) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'other' " + " ".join(
        f"WHEN h_{lang} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    ) + " ELSE 'other' END"
    return f"""
WITH h AS (SELECT lang, {hits} FROM documents)
SELECT lang, {case} AS lang_pred, COUNT(*) AS n
FROM h GROUP BY 1, 2
"""


def text_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish-regex token counts per source."""
    from .operators.text import token_counts

    d = _t(spark, sf_dir, "documents")
    return (token_counts(d).groupBy("source")
            .agg(F.sum("ws_tokens").alias("sum_ws_tokens"),
                 F.sum("bpe_tokens").alias("sum_bpe_tokens")))


TEXT_TOKEN_COUNTS_SQL = r"""
SELECT source,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT)
         AS sum_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens
FROM documents GROUP BY source
"""


def text_fingerprint_dupes(spark, sf_dir):
    """Normalized-content fingerprint dedup summary."""
    from .operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return (fingerprint(d).groupBy("fingerprint")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies"))
            .agg(F.count("*").alias("n_unique"),
                 F.sum("n_copies").alias("n_total"),
                 F.sum("keep_id").alias("sum_keep_ids")))


TEXT_FINGERPRINT_SQL = r"""
SELECT COUNT(*) AS n_unique, CAST(SUM(n_copies) AS BIGINT) AS n_total,
       CAST(SUM(keep_id) AS BIGINT) AS sum_keep_ids
FROM (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS fingerprint,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1) g
"""


def similarity_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: deterministic coarse centroids
    (vec_id % 40 == 0), nprobe=2, exact cosine inside the lists.

    The oracle needs reproducible centroids, so this query uses the
    sampled quantizer; the k-means-trained quantizer
    (similarity.train_centroids) is recall-tested in pytest."""
    from .operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") % 40 == 0)
    probes = e.filter(F.col("vec_id").isin(1, 2, 3))
    return ivf_topk(e, probes, centroids, k=5, nprobe=2)


SIMILARITY_IVF_SQL = """
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cv
  FROM embeddings WHERE vec_id % 40 = 0),
assign AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_dot_product(e.embedding, c.cv)
                      / (sqrt(list_dot_product(e.embedding, e.embedding))
                         * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
                      c.centroid_id ASC) AS rk
    FROM embeddings e, cent c) t WHERE rk = 1),
probes AS (
  SELECT vec_id AS probe_id, embedding AS pv, centroid_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_dot_product(e.embedding, c.cv)
                      / (sqrt(list_dot_product(e.embedding, e.embedding))
                         * sqrt(list_dot_product(c.cv, c.cv))), 9) DESC,
                      c.centroid_id ASC) AS rk
    FROM embeddings e, cent c WHERE e.vec_id IN (1, 2, 3)) t
  WHERE rk <= 2)
SELECT probe_id, vec_id, cosine, rk FROM (
  SELECT p.probe_id, a.vec_id,
         ROUND(list_dot_product(a.embedding, p.pv)
               / (sqrt(list_dot_product(a.embedding, a.embedding))
                  * sqrt(list_dot_product(p.pv, p.pv))), 5) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.probe_id
           ORDER BY ROUND(list_dot_product(a.embedding, p.pv)
                    / (sqrt(list_dot_product(a.embedding, a.embedding))
                       * sqrt(list_dot_product(p.pv, p.pv))), 5) DESC,
                    a.vec_id ASC) AS rk
  FROM assign a JOIN probes p USING (centroid_id)
  WHERE a.vec_id <> p.probe_id) t
WHERE rk <= 5
"""


def similarity_cosine_topk(spark, sf_dir):
    """Exact cosine top-k via the two-phase scan: map-side partial
    top-k per partition (mapInArrow, ≤ k rows/probe/partition leave
    the scan), then a global window over the bounded survivor set —
    the 100 TB-safe exact-ANN baseline."""
    from .operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id").isin(5, 6, 7))
    return cosine_topk(e, probes, k=5)


SIMILARITY_COSINE_TOPK_SQL = """
SELECT probe_id, vec_id, cosine, rk FROM (
  SELECT p.vec_id AS probe_id, e.vec_id,
         ROUND(list_dot_product(e.embedding, p.embedding)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(p.embedding, p.embedding))), 5)
           AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.vec_id
           ORDER BY ROUND(list_dot_product(e.embedding, p.embedding)
                    / (sqrt(list_dot_product(e.embedding, e.embedding))
                       * sqrt(list_dot_product(p.embedding, p.embedding))),
                    5) DESC, e.vec_id ASC) AS rk
  FROM embeddings e
  JOIN (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id IN (5, 6, 7)) p
    ON e.vec_id <> p.vec_id) t
WHERE rk <= 5
"""


def similarity_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed approximate top-k with multi-probe.

    Plane weights come from similarity.plane_weights (md5 grid), so the
    DuckDB oracle reproduces them exactly.  n_planes=6 (64 buckets) is
    sized to the test corpus (500-2k vectors, ~10-30/bucket); at 100 TB
    you raise n_planes so 2^n_planes tracks corpus/occupancy and keep
    recall via n_flip multi-probe.
    """
    from .operators.similarity import lsh_cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 3)
    return lsh_cosine_topk(e, probes, k=5, n_planes=6, dim=64, n_flip=2)


def _planes_literal(n_planes: int, dim: int, seed: int = 7) -> str:
    """DuckDB literal for the md5-grid plane matrix (exact doubles)."""
    from .operators.similarity import plane_weights

    return "[" + ", ".join(
        "[" + ", ".join(repr(w) for w in row) + "]"
        for row in plane_weights(n_planes, dim, seed)) + "]"


def _lsh_buckets_cte(n_planes: int, dim: int, where: str = "") -> str:
    """Shared CTE text: embeddings → per-plane projections → bucket."""
    return f"""
W AS (SELECT {_planes_literal(n_planes, dim)} AS planes),
proj AS (
  SELECT vec_id, embedding,
         list_transform(planes,
           pl -> list_sum(list_transform(range(1, {dim} + 1),
                          i -> embedding[i] * pl[i]))) AS projs
  FROM embeddings, W {where}),
buck AS (
  SELECT vec_id, embedding, projs,
         CAST(list_sum(list_transform(range(1, {n_planes} + 1),
              p -> CASE WHEN projs[p] >= 0
                        THEN (1 << (p - 1)) ELSE 0 END)) AS INT) AS bucket
  FROM proj)"""


def _lsh_topk_sql(n_planes: int = 6, dim: int = 64, n_flip: int = 2,
                  k: int = 5) -> str:
    cos = ("list_dot_product(c.embedding, p.pv)"
           " / (sqrt(list_dot_product(c.embedding, c.embedding))"
           " * sqrt(list_dot_product(p.pv, p.pv)))")
    struct = "{'a': abs(projs[p]), 'i': p - 1}"
    return f"""
WITH {_lsh_buckets_cte(n_planes, dim)},
probes AS (
  SELECT vec_id AS probe_id, embedding AS pv,
         UNNEST(list_concat([bucket],
           list_transform(
             (list_sort(list_transform(range(1, {n_planes} + 1),
                p -> {struct})))[1:{n_flip}],
             s -> CAST(xor(bucket, (1 << s.i)) AS INT)))) AS bucket
  FROM buck WHERE vec_id < 3)
SELECT probe_id, vec_id, cosine, rk FROM (
  SELECT p.probe_id, c.vec_id, ROUND({cos}, 5) AS cosine,
         ROW_NUMBER() OVER (PARTITION BY p.probe_id
                            ORDER BY ROUND({cos}, 5) DESC,
                                     c.vec_id ASC) AS rk
  FROM buck c JOIN probes p USING (bucket)
  WHERE c.vec_id <> p.probe_id) t
WHERE rk <= {k}
"""


def multimodal_features(spark, sf_dir):
    """Real multimodal decode: executor-side BMP/WAV/ANIM payloads →
    byte-level parse → content aggregates.  The oracle recomputes every
    column from media_id arithmetic (formats.py closed forms), so a
    hash match proves the container round trip bit-exactly."""
    from .operators.multimodal import extract_features, synth_media_df

    media = synth_media_df(spark, n=64, partitions=4)
    return extract_features(media).orderBy("media_id")


MULTIMODAL_SQL = """
WITH m AS (
  SELECT i AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         16 + (i * 7) % 33 AS w, 16 + (i * 11) % 29 AS h,
         CASE WHEN i % 3 = 0 THEN 1
              WHEN i % 3 = 2 THEN 1 + i % 4 ELSE 0 END AS nf,
         256 + (i * 37) % 512 AS ns,
         ((w * 3 + 3) // 4) * 4 AS rowstride
  FROM range(0, 64) t(i))
SELECT media_id, kind,
  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE w END AS INT) AS width,
  CAST(CASE WHEN kind = 'audio' THEN 0 ELSE h END AS INT) AS height,
  CAST(nf AS INT) AS n_frames,
  CAST(CASE WHEN kind = 'audio' THEN ns
            ELSE nf * w * h * 3 END AS BIGINT) AS n_vals,
  CAST(CASE WHEN kind = 'audio'
       THEN list_sum(list_transform(range(0, ns),
            g -> ((media_id * 131 + 7 * g) % 65536) - 32768))
       ELSE list_sum(list_transform(range(0, nf * w * h * 3),
            g -> (media_id * 131 + (g // (w * h * 3)) * 17
                  + (g % (w * h * 3))) % 256))
       END AS BIGINT) AS sum_vals,
  CAST(CASE WHEN kind = 'audio'
       THEN ((media_id * 131) % 65536) - 32768
       ELSE (media_id * 131) % 256 END AS INT) AS first_val,
  CAST(CASE WHEN kind = 'audio'
       THEN ((media_id * 131 + 7 * (ns - 1)) % 65536) - 32768
       ELSE (media_id * 131 + (nf - 1) * 17 + w * h * 3 - 1) % 256
       END AS INT) AS last_val,
  CAST(CASE WHEN kind = 'audio' THEN 44 + 2 * ns
       WHEN kind = 'image' THEN 54 + h * rowstride
       ELSE 6 + nf * (4 + 54 + h * rowstride) END AS BIGINT) AS n_bytes
FROM m
"""


def rt_events_scanmode(spark, sf_dir):
    """Round-trip through the shuffle-free scan-mode encode pipeline."""
    from .operators.encode import encode_chunks_scan

    df = _t(spark, sf_dir, "events")
    chunks = encode_chunks_scan(df, rows_per_chunk=4096)
    # chunks straight out of encode are chunk-contiguous → the whole
    # encode+decode round trip runs with zero shuffles
    d = decode_table(chunks, df.columns, TABLE_SCHEMAS["events"],
                     contiguous=True)
    return (d.agg(F.count("*").alias("n_events"),
                  F.sum("event_id").alias("sum_ids"),
                  F.min(F.unix_micros("ts")).alias("min_ts_us"),
                  F.round(F.sum("value"), 4).alias("sum_value"),
                  F.countDistinct("event_type").alias("n_types")))


RT_EVENTS_SCANMODE_SQL = """
SELECT COUNT(*) AS n_events, CAST(SUM(event_id) AS BIGINT) AS sum_ids,
       MIN(epoch_us(ts)) AS min_ts_us, ROUND(SUM(value), 4) AS sum_value,
       COUNT(DISTINCT event_type) AS n_types
FROM events
"""


def rt_documents_forced_codecs(spark, sf_dir):
    """Round-trip with forced codecs (overrides path): FSST on source,
    RLE on lang, VARINT on n_chars — exercises every codec through the
    Spark pipeline even where auto-selection would pick another."""
    from .codecs import blob as CB
    from .operators.encode import encode_chunks as enc

    df = _t(spark, sf_dir, "documents")
    chunks = enc(df, key_cols=["doc_id"], num_chunks=6,
                 sort_cols=["lang", "doc_id"],
                 codec_overrides={"source": CB.FSST, "lang": CB.RLE,
                                  "n_chars": CB.VARINT})
    d = decode_table(chunks, df.columns, TABLE_SCHEMAS["documents"])
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("n_chars").alias("sum_chars")))


RT_FORCED_CODECS_SQL = """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY source
"""


def rt_events_forced_float_codecs(spark, sf_dir):
    """Round-trip forcing the float codecs through the Spark pipeline:
    SPLIT (byte-stream split) on value, SCALED on a second pass of the
    same column is covered by auto-selection elsewhere; here SPLIT,
    BITPACK, and DELTA_VARINT are pinned regardless of what
    auto-selection would choose."""
    from .codecs import blob as CB
    from .operators.encode import encode_chunks as enc

    df = _t(spark, sf_dir, "events")
    chunks = enc(df, key_cols=["event_id"], num_chunks=6,
                 codec_overrides={"value": CB.SPLIT,
                                  "user_id": CB.BITPACK,
                                  "ts": CB.DELTA_VARINT})
    d = decode_table(chunks, df.columns, TABLE_SCHEMAS["events"],
                     contiguous=True)
    return (d.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 F.sum("user_id").alias("sum_users"),
                 F.max(F.unix_micros("ts")).alias("max_ts_us")))


RT_FORCED_FLOAT_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(SUM(user_id) AS BIGINT) AS sum_users,
       MAX(epoch_us(ts)) AS max_ts_us
FROM events GROUP BY event_type
"""


def tpch_q4ish_late_orders(spark, sf_dir):
    """q4 shape: EXISTS semi-join — orders (1996) with at least one
    line item shipped after the order date, counted by priority."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(li, (o["o_orderkey"] == li["l_orderkey"])
                  & (li["l_shipdate"] > o["o_orderdate"]), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


TPCH_Q4ISH_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def tpch_q14ish_promo_share(spark, sf_dir):
    """q14 shape: conditional aggregation over a join — ECONOMY parts'
    share of 1997 revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01")))
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p),
                li["l_partkey"] == p["p_partkey"])
    return j.agg(
        F.round(100.0 * F.sum(F.when(F.col("p_type") == "ECONOMY", rev)
                              .otherwise(F.lit(0.0))) / F.sum(rev), 4)
        .alias("promo_pct"),
        F.count("*").alias("n_lines"))


TPCH_Q14ISH_SQL = """
SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'ECONOMY'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
"""


def tpch_q18ish_big_orders(spark, sf_dir):
    """q18 shape: HAVING on a grouped sum, then join back to dims —
    orders whose total quantity exceeds 120."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
           .filter(F.col("total_qty") > 120))
    return (big.join(o, big["l_orderkey"] == o["o_orderkey"])
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .select(F.col("c_name"), F.col("o_orderkey"),
                    F.col("total_qty"),
                    F.round(F.col("o_totalprice"), 2)
                    .alias("o_totalprice"))
            .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
            .limit(25))


TPCH_Q18ISH_SQL = """
SELECT c_name, o_orderkey, total_qty,
       ROUND(o_totalprice, 2) AS o_totalprice
FROM (SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING ROUND(SUM(l_quantity), 2) > 120) t
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey ASC LIMIT 25
"""


def tpch_q5ish_region_revenue(spark, sf_dir):
    """Multi-join star query with region filter (q5 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").alias("n_items")))


TPCH_Q5ISH_SQL = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def orders_rollup(spark, sf_dir):
    """ROLLUP grouping-sets aggregation over status × priority."""
    o = _t(spark, sf_dir, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL"))
                    .alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL"))
                    .alias("priority"),
                    "n_orders", "sum_price"))


ORDERS_ROLLUP_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def string_date_functions(spark, sf_dir):
    """String + date scalar-function coverage over orders."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.upper(F.substring("o_orderpriority", 1, 1))
                      .alias("prio_initial"),
                      F.year("o_orderdate").alias("order_year"))
            .agg(F.count("*").alias("n"),
                 F.max(F.length(F.concat(F.lit("P-"), "o_orderstatus")))
                 .alias("max_tag_len"),
                 F.min(F.date_format("o_orderdate", "yyyy-MM"))
                 .alias("first_month")))


STRING_DATE_SQL = """
SELECT UPPER(substr(o_orderpriority, 1, 1)) AS prio_initial,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
       COUNT(*) AS n,
       MAX(LENGTH('P-' || o_orderstatus)) AS max_tag_len,
       MIN(strftime(o_orderdate, '%Y-%m')) AS first_month
FROM orders GROUP BY 1, 2
"""


def global_dict_roundtrip(spark, sf_dir):
    """Global broadcast dictionary: encode lang → codes → decode → agg.

    Oracle equality proves the code mapping is lossless; the Spark plan
    is distinct-agg + two broadcast joins (no fact-table shuffle).
    """
    from .operators.globaldict import (
        build_dictionary,
        decode_with_dictionary,
        encode_with_dictionary,
    )

    d = _t(spark, sf_dir, "documents")
    dictionary = build_dictionary(d, "lang")
    coded = encode_with_dictionary(d, "lang", dictionary)
    back = decode_with_dictionary(coded, "lang", dictionary)
    return (back.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


GLOBAL_DICT_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""


# ---------- scalar-function coverage (json / math / array / percentile) ----

def events_json_props(spark, sf_dir):
    """JSON scalar functions: extract props.k, aggregate per type."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (e.groupBy("event_type")
            .agg(F.sum(k).alias("sum_k"),
                 F.max(k).alias("max_k"),
                 F.count(F.when(k > 50, 1)).alias("n_big")))


EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                  THEN 1 END) AS n_big
FROM events GROUP BY event_type
"""


def part_scalar_math(spark, sf_dir):
    """Math scalar functions: sqrt/abs/pow/round over part."""
    p = _t(spark, sf_dir, "part")
    return (p.groupBy("p_brand")
            .agg(F.round(F.sum(F.sqrt("p_retailprice")), 2).alias("sum_sqrt"),
                 F.max(F.abs(F.col("p_size") - 25)).alias("max_absdev"),
                 F.round(F.avg(F.pow(F.col("p_size"), 2)), 2)
                 .alias("avg_size_sq"),
                 F.count("*").alias("n_parts")))


PART_MATH_SQL = """
SELECT p_brand, ROUND(SUM(sqrt(p_retailprice)), 2) AS sum_sqrt,
       MAX(abs(p_size - 25)) AS max_absdev,
       ROUND(AVG(pow(p_size, 2)), 2) AS avg_size_sq,
       COUNT(*) AS n_parts
FROM part GROUP BY p_brand
"""


def embeddings_array_ops(spark, sf_dir):
    """Array functions: size, element access, aggregate-over-array."""
    e = _t(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(F.transform("embedding", lambda x: x * x),
                        F.lit(0.0), lambda a, x: a + x)
    return (e.groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.max(F.size("embedding")).alias("dim"),
                 F.round(F.avg(norm2), 4).alias("avg_norm2"),
                 F.round(F.sum(F.element_at("embedding", 1)), 4)
                 .alias("sum_first")))


EMBEDDINGS_ARRAY_SQL = """
SELECT label, COUNT(*) AS n_vecs, MAX(len(embedding)) AS dim,
       ROUND(AVG(list_dot_product(embedding, embedding)), 4) AS avg_norm2,
       ROUND(SUM(embedding[1]), 4) AS sum_first
FROM embeddings GROUP BY label
"""


def customer_median_balance(spark, sf_dir):
    """Exact interpolated percentile (sorts/percentile coverage)."""
    c = _t(spark, sf_dir, "customer")
    return (c.groupBy("c_mktsegment")
            .agg(F.round(F.expr("percentile(c_acctbal, 0.5)"), 4)
                 .alias("median_bal"),
                 F.round(F.expr("percentile(c_acctbal, 0.9)"), 4)
                 .alias("p90_bal"),
                 F.count("*").alias("n_customers")))


CUSTOMER_MEDIAN_SQL = """
SELECT c_mktsegment,
       ROUND(quantile_cont(c_acctbal, 0.5), 4) AS median_bal,
       ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal,
       COUNT(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def text_quality_by_lang(spark, sf_dir):
    """quality_score operator aggregated per lang, SQL-mirrored."""
    from .operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    return (quality_score(d).groupBy("lang")
            .agg(F.round(F.avg("quality"), 4).alias("avg_quality"),
                 F.round(F.avg("alpha_ratio"), 4).alias("avg_alpha"),
                 F.count("*").alias("n_docs")))


TEXT_QUALITY_SQL = r"""
WITH f AS (
  SELECT lang,
         LENGTH(text) AS n_chars,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE len(string_split_regex(TRIM(text), '\s+')) END AS n_tokens,
         LENGTH(regexp_replace(text, '[^A-Za-zÀ-ÿа-яА-Я]', '', 'g'))
           AS n_alpha
  FROM documents),
q AS (
  SELECT lang,
         ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1), 4)
           AS alpha_ratio,
         ROUND(CAST(n_chars AS DOUBLE) / GREATEST(n_tokens, 1), 4)
           AS avg_token_len,
         n_tokens
  FROM f)
SELECT lang,
       ROUND(AVG(ROUND(
         0.4 * LEAST(n_tokens / 100.0, 1.0) + 0.4 * alpha_ratio
         + 0.2 * (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 12
                       THEN 1.0 ELSE 0.5 END), 4)), 4) AS avg_quality,
       ROUND(AVG(alpha_ratio), 4) AS avg_alpha,
       COUNT(*) AS n_docs
FROM q GROUP BY lang
"""


def pipeline_clean_corpus(spark, sf_dir):
    """End-to-end corpus cleaning — the composed training-data
    pipeline (r5: two hygiene stages added): quality gate → exact
    dedup on the normalized fingerprint (keep min doc_id) → test-set
    DECONTAMINATION (drop docs sharing a 5-gram with the benchmark
    slice doc_id % 17 == 0, which is excluded from the corpus) →
    REPETITION filter (dup_2gram_frac <= 0.2, Gopher rule) →
    deterministic 50% hash-sample → per-lang survivor stats.  Every
    stage is a first-class operator; the oracle replays the identical
    pipeline in SQL."""
    from .functions import md5_bucket
    from .operators.dedup import ngram_decontaminate
    from .operators.text import (
        fingerprint,
        quality_score,
        repetition_stats,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    corpus = d.filter(F.col("doc_id") % 17 != 0)
    gated = quality_score(corpus).filter(F.col("quality") >= 0.5)
    fp = fingerprint(gated)
    wins = (fp.groupBy("fingerprint")
            .agg(F.min("doc_id").alias("doc_id")))
    survivors = fp.join(wins, ["fingerprint", "doc_id"], "left_semi")
    cont = ngram_decontaminate(survivors, bench, "doc_id", "text",
                               k=5).select("doc_id")
    decont = survivors.join(F.broadcast(cont), "doc_id", "left_anti")
    low_rep = (repetition_stats(decont, "doc_id", "text", k=2,
                                keep_input=True)
               .filter(F.col("dup_2gram_frac") <= 0.2))
    sampled = low_rep.filter(md5_bucket("doc_id", 100) < 50)
    return (sampled.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.round(F.avg("quality"), 4).alias("avg_quality")))


PIPELINE_CLEAN_SQL = r"""
WITH corpus0 AS (SELECT * FROM documents WHERE doc_id % 17 != 0),
f AS (
  SELECT doc_id, lang, text,
         LENGTH(text) AS n_chars,
         CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
              ELSE len(string_split_regex(TRIM(text), '\s+')) END
           AS n_tokens,
         LENGTH(regexp_replace(text, '[^A-Za-zÀ-ÿа-яА-Я]', '', 'g'))
           AS n_alpha
  FROM corpus0),
q AS (
  SELECT doc_id, lang, text,
         ROUND(0.4 * LEAST(n_tokens / 100.0, 1.0)
               + 0.4 * ROUND(CAST(n_alpha AS DOUBLE)
                             / GREATEST(n_chars, 1), 4)
               + 0.2 * (CASE WHEN ROUND(CAST(n_chars AS DOUBLE)
                                        / GREATEST(n_tokens, 1), 4)
                                  BETWEEN 3 AND 12
                             THEN 1.0 ELSE 0.5 END), 4) AS quality
  FROM f),
gated AS (SELECT * FROM q WHERE quality >= 0.5),
fp AS (
  SELECT *, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            AS fingerprint
  FROM gated),
survivors AS (
  SELECT fp.* FROM fp
  JOIN (SELECT fingerprint, MIN(doc_id) AS doc_id FROM fp
        GROUP BY fingerprint) w USING (fingerprint, doc_id)),
s_tok AS (SELECT doc_id,
                 string_split_regex(trim(text), '\s+') AS toks
          FROM survivors),
s_sh AS (SELECT DISTINCT doc_id,
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
         FROM s_tok, UNNEST(range(1, len(toks) - 3)) AS t(i)),
b_tok AS (SELECT string_split_regex(trim(text), '\s+') AS toks
          FROM documents WHERE doc_id % 17 = 0),
b_sh AS (SELECT DISTINCT
                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                  || ' ' || toks[i+3] || ' ' || toks[i+4] AS shingle
         FROM b_tok, UNNEST(range(1, len(toks) - 3)) AS t(i)),
cont AS (SELECT DISTINCT doc_id FROM s_sh JOIN b_sh USING (shingle)),
decont AS (SELECT * FROM survivors
           WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
g2 AS (SELECT s.doc_id, s.toks[i] || ' ' || s.toks[i+1] AS gram
       FROM s_tok s JOIN decont USING (doc_id),
            UNNEST(range(1, len(s.toks))) AS t(i)),
c2 AS (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
a2 AS (SELECT doc_id,
              COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS dup
       FROM c2 GROUP BY 1),
low_rep AS (
  SELECT d.* FROM decont d
  JOIN s_tok st USING (doc_id)
  LEFT JOIN a2 USING (doc_id)
  WHERE ROUND(LEAST(1.0, 2.0 * COALESCE(a2.dup, 0)
                         / len(st.toks)), 5) <= 0.2),
sampled AS (
  SELECT * FROM low_rep
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % 100 < 50)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       ROUND(AVG(quality), 4) AS avg_quality
FROM sampled GROUP BY lang
"""


# ---------- engine-introspection (rows-only checks, no SQL oracle) ----------

def codec_footer_documents(spark, sf_dir):
    """Per-column codec choices + sizes for the documents table."""
    d = _t(spark, sf_dir, "documents")
    chunks = encode_chunks(d, key_cols=["doc_id"], num_chunks=8)
    return (chunks.groupBy("column", "codec")
            .agg(F.countDistinct("chunk_id").alias("n_chunks"),
                 F.sum("n_values").alias("n_values"),
                 F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("encoded_bytes").alias("encoded_bytes"))
            .orderBy("column"))


# Insertion order is load-bearing: the driver's per-round correctness
# gate runs exactly the FIRST 50 entries.  Rotation policy (r5): every
# query's latest driver row must be at most 2 rounds old — stalest rows
# (r2-era, then r3-era) lead, queries whose implementation changed this
# round follow, and the r4-green flagships fill the window; the 27
# rotated-out shapes all carry r4 rows and stay covered at HEAD by
# tests/test_oracle_parity.py.
QUERIES = {
    # -- r2-era driver rows (stalest) --------------------------------
    "footer_agg_events": footer_agg_events,
    "rt_documents_forced_codecs": rt_documents_forced_codecs,
    "global_dict_roundtrip": global_dict_roundtrip,
    "tpch_q5ish_region_revenue": tpch_q5ish_region_revenue,
    "tpch_q4ish_late_orders": tpch_q4ish_late_orders,
    "tpch_q14ish_promo_share": tpch_q14ish_promo_share,
    "tpch_q18ish_big_orders": tpch_q18ish_big_orders,
    "orders_rollup": orders_rollup,
    "string_date_functions": string_date_functions,
    # -- r3-era driver rows ------------------------------------------
    "rt_events_zorder_pruned": rt_events_zorder_pruned,
    "rt_documents_source_pruned": rt_documents_source_pruned,
    "codec_footer_documents": codec_footer_documents,
    "sample_documents_deterministic": sample_documents_deterministic,
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "text_lang_id": text_lang_id,
    "text_token_counts": text_token_counts,
    "text_fingerprint_dupes": text_fingerprint_dupes,
    "events_json_props": events_json_props,
    "part_scalar_math": part_scalar_math,
    "embeddings_array_ops": embeddings_array_ops,
    "customer_median_balance": customer_median_balance,
    "text_quality_by_lang": text_quality_by_lang,
    "events_pivot_daily": events_pivot_daily,
    "text_pii_mask": text_pii_mask,
    "text_vocab_topk": text_vocab_topk,
    "sample_stratified_by_quality": sample_stratified_by_quality,
    "orders_cube": orders_cube,
    # -- implementation changed in round 5 ---------------------------
    "pack_sequences_documents": pack_sequences_documents,
    "footer_range_agg_events": footer_range_agg_events,
    "footer_topk_events": footer_topk_events,
    "decontaminate_documents": decontaminate_documents,
    "repetition_stats_documents": repetition_stats_documents,
    "url_dedup_documents": url_dedup_documents,
    # -- r4-green fills ----------------------------------------------
    "rt_documents_by_lang": rt_documents_by_lang,
    "rt_events_by_type": rt_events_by_type,
    "rt_lineitem_q1": rt_lineitem_q1,
    "tpch_q1": tpch_q1,
    "tpch_q3_shipping": tpch_q3_shipping,
    "tpch_q6_revenue": tpch_q6_revenue,
    "rt_events_scanmode": rt_events_scanmode,
    "rt_events_pruned": rt_events_pruned,
    "rt_documents_point_lookup": rt_documents_point_lookup,
    "rt_orders_in_list": rt_orders_in_list,
    "compact_small_chunks": compact_small_chunks,
    "schema_evolution_read": schema_evolution_read,
    "rt_embeddings_roundtrip": rt_embeddings_roundtrip,
    "rt_orders_dates": rt_orders_dates,
    "rt_events_struct_map": rt_events_struct_map,
    "rt_documents_tokens": rt_documents_tokens,
    "rt_documents_annotations": rt_documents_annotations,
    # ---- driver window ends at 50 entries (here) -------------------
    "rt_events_forced_float_codecs": rt_events_forced_float_codecs,
    "scan_encoded_clicks_window": scan_encoded_clicks_window,
    "dedup_minhash_survivors": dedup_minhash_survivors,
    "tpch_q22ish_dormant_rich": tpch_q22ish_dormant_rich,
    "tpch_q16ish_supplier_variety": tpch_q16ish_supplier_variety,
    "tpch_q7ish_nation_trade": tpch_q7ish_nation_trade,
    "tpch_q10ish_returned_revenue": tpch_q10ish_returned_revenue,
    "tpch_q19ish_disjunct_revenue": tpch_q19ish_disjunct_revenue,
    "events_funnel": events_funnel,
    "part_unpivot_metrics": part_unpivot_metrics,
    "broadcast_join_geo": broadcast_join_geo,
    "window_order_rank": window_order_rank,
    "setop_orders_no_lineitem": setop_orders_no_lineitem,
    "events_daily": events_daily,
    "dedup_exact_documents": dedup_exact_documents,
    "text_stats_documents": text_stats_documents,
    "embedding_topk_cosine": embedding_topk_cosine,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_span_coverage": dedup_span_coverage,
    "dedup_simhash": dedup_simhash,
    "embedding_neardup": embedding_neardup,
    "embedding_neardup_survivors": embedding_neardup_survivors,
    "similarity_cosine_topk": similarity_cosine_topk,
    "similarity_lsh_topk": similarity_lsh_topk,
    "similarity_ivf_topk": similarity_ivf_topk,
    "multimodal_features": multimodal_features,
    "events_asof_purchase": events_asof_purchase,
    "events_sessionize": events_sessionize,
    "events_range_join_sessions": events_range_join_sessions,
}

ORACLES = {
    "rt_documents_by_lang": RT_DOCUMENTS_SQL,
    "rt_events_by_type": RT_EVENTS_SQL,
    "rt_lineitem_q1": RT_LINEITEM_Q1_SQL,
    "tpch_q1": TPCH_Q1_SQL,
    "tpch_q3_shipping": TPCH_Q3_SQL,
    "tpch_q6_revenue": TPCH_Q6_SQL,
    "broadcast_join_geo": BROADCAST_JOIN_GEO_SQL,
    "window_order_rank": WINDOW_ORDER_RANK_SQL,
    "setop_orders_no_lineitem": SETOP_SQL,
    "events_daily": EVENTS_DAILY_SQL,
    "dedup_exact_documents": DEDUP_EXACT_SQL,
    "text_stats_documents": TEXT_STATS_SQL,
    "embedding_topk_cosine": EMBEDDING_TOPK_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_span_coverage": SPAN_COVERAGE_SQL,
    "dedup_minhash_survivors": _minhash_survivors_sql(),
    "decontaminate_documents": DECONTAMINATE_SQL,
    "repetition_stats_documents": REPETITION_STATS_SQL,
    "url_dedup_documents": URL_DEDUP_SQL,
    "dedup_simhash": _simhash_sql(),
    "embedding_neardup": _embedding_neardup_sql(),
    "embedding_neardup_survivors": _embedding_survivors_sql(),
    "sample_documents_deterministic": SAMPLE_DOCS_SQL,
    "pipeline_clean_corpus": PIPELINE_CLEAN_SQL,
    "text_lang_id": _lang_id_sql(),
    "text_token_counts": TEXT_TOKEN_COUNTS_SQL,
    "text_fingerprint_dupes": TEXT_FINGERPRINT_SQL,
    "events_json_props": EVENTS_JSON_SQL,
    "part_scalar_math": PART_MATH_SQL,
    "embeddings_array_ops": EMBEDDINGS_ARRAY_SQL,
    "customer_median_balance": CUSTOMER_MEDIAN_SQL,
    "text_quality_by_lang": TEXT_QUALITY_SQL,
    "rt_events_scanmode": RT_EVENTS_SCANMODE_SQL,
    "rt_events_pruned": RT_EVENTS_PRUNED_SQL,
    "rt_events_zorder_pruned": RT_EVENTS_ZORDER_SQL,
    "scan_encoded_clicks_window": SCAN_ENCODED_CLICKS_SQL,
    "footer_range_agg_events": FOOTER_RANGE_AGG_SQL,
    "rt_documents_source_pruned": RT_DOCS_SOURCE_PRUNED_SQL,
    "rt_documents_point_lookup": RT_DOCS_POINT_LOOKUP_SQL,
    "events_asof_purchase": EVENTS_ASOF_SQL,
    "events_sessionize": EVENTS_SESSIONIZE_SQL,
    "events_range_join_sessions": EVENTS_RANGE_JOIN_SQL,
    "events_pivot_daily": EVENTS_PIVOT_SQL,
    "text_pii_mask": TEXT_PII_MASK_SQL,
    "text_vocab_topk": TEXT_VOCAB_SQL,
    "sample_stratified_by_quality": SAMPLE_STRATIFIED_SQL,
    "orders_cube": ORDERS_CUBE_SQL,
    "tpch_q22ish_dormant_rich": TPCH_Q22ISH_SQL,
    "tpch_q16ish_supplier_variety": TPCH_Q16ISH_SQL,
    "tpch_q7ish_nation_trade": TPCH_Q7ISH_SQL,
    "tpch_q10ish_returned_revenue": TPCH_Q10ISH_SQL,
    "tpch_q19ish_disjunct_revenue": TPCH_Q19ISH_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "part_unpivot_metrics": PART_UNPIVOT_SQL,
    "rt_orders_in_list": RT_ORDERS_IN_LIST_SQL,
    "compact_small_chunks": COMPACT_SMALL_CHUNKS_SQL,
    "schema_evolution_read": SCHEMA_EVOLUTION_SQL,
    "rt_embeddings_roundtrip": RT_EMBEDDINGS_SQL,
    "rt_orders_dates": RT_ORDERS_DATES_SQL,
    "rt_events_struct_map": RT_EVENTS_STRUCT_MAP_SQL,
    "rt_documents_tokens": RT_DOCUMENTS_TOKENS_SQL,
    "rt_documents_annotations": RT_DOCUMENTS_ANNOTATIONS_SQL,
    "pack_sequences_documents": PACK_SEQUENCES_SQL,
    "footer_topk_events": FOOTER_TOPK_SQL,
    "footer_agg_events": FOOTER_AGG_SQL,
    "rt_documents_forced_codecs": RT_FORCED_CODECS_SQL,
    "rt_events_forced_float_codecs": RT_FORCED_FLOAT_SQL,
    "tpch_q5ish_region_revenue": TPCH_Q5ISH_SQL,
    "tpch_q4ish_late_orders": TPCH_Q4ISH_SQL,
    "tpch_q14ish_promo_share": TPCH_Q14ISH_SQL,
    "tpch_q18ish_big_orders": TPCH_Q18ISH_SQL,
    "orders_rollup": ORDERS_ROLLUP_SQL,
    "string_date_functions": STRING_DATE_SQL,
    "global_dict_roundtrip": GLOBAL_DICT_SQL,
    "similarity_cosine_topk": SIMILARITY_COSINE_TOPK_SQL,
    "similarity_ivf_topk": SIMILARITY_IVF_SQL,
    "similarity_lsh_topk": _lsh_topk_sql(),
    "multimodal_features": MULTIMODAL_SQL,
    # rows-only (no SQL twin): codec_footer_documents (engine
    # introspection)
}
