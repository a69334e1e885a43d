"""Footer-only approximate percentiles (operators/footer_stats.py)."""

import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.encode import encode_chunks
from varint_rvv_spark.operators.footer_stats import footer_percentile

EVENTS = "/root/testdata/sf0.001/events.parquet"


def _rank_of(df, col, x) -> float:
    n = df.count()
    return df.filter(F.col(col) <= x).count() / n


def test_footer_percentile_rank_error_bounded(spark):
    df = spark.read.parquet(EVENTS)
    chunks = encode_chunks(df, key_cols=["event_id"],
                           num_chunks=16).cache()
    est = footer_percentile(chunks, "value", [0.25, 0.5, 0.9]) \
        .collect()[0]
    # the estimate's true rank must sit near the requested quantile
    for q, v in [(0.25, est.p25), (0.5, est.p50), (0.9, est.p90)]:
        r = _rank_of(df, "value", v)
        assert abs(r - q) < 0.08, (q, v, r)
    # integer column too (epoch-us scale)
    est2 = footer_percentile(chunks, "user_id", [0.5]).collect()[0]
    r2 = _rank_of(df, "user_id", est2.p50)
    assert abs(r2 - 0.5) < 0.08
    # q=1.0 must return the global max sample, never NULL (running-sum
    # vs whole-frame-sum ulp drift regression)
    est3 = footer_percentile(chunks, "value", [1.0]).collect()[0]
    assert est3.p100 is not None
    assert _rank_of(df, "value", est3.p100) > 0.9
    chunks.unpersist()


def test_footer_percentile_guards(spark):
    df = spark.read.parquet(EVENTS).limit(50)
    chunks = encode_chunks(df, key_cols=["event_id"],
                           num_chunks=2).cache()
    try:
        with pytest.raises(ValueError, match="no footer samples"):
            footer_percentile(chunks, "event_type", [0.5])  # varlen
        with pytest.raises(ValueError, match="quantiles"):
            footer_percentile(chunks, "value", [1.5])
    finally:
        chunks.unpersist()


def test_footer_percentile_name_collision_and_nullable_skip(spark):
    from varint_rvv_spark.operators.encode import footer_of

    df = spark.read.parquet(EVENTS).limit(200)
    chunks = encode_chunks(df, key_cols=["event_id"],
                           num_chunks=4).cache()
    try:
        with pytest.raises(ValueError, match="colliding"):
            footer_percentile(chunks, "value", [0.5, 0.5])
        # fractional quantiles get distinct, readable names (the old
        # round()-based naming mapped 0.995 and 1.0 both to p100)
        row = footer_percentile(chunks, "value", [0.995, 1.0]) \
            .collect()[0]
        assert row.p99_5 is not None and row.p100 is not None
    finally:
        chunks.unpersist()
    # a chunk with nulls writes NO qsample (fill-zero would bias the
    # pool toward 0)
    import json as _json

    nul = spark.createDataFrame([(1, 10), (2, None), (3, 30)],
                                "id long, x int")
    f = footer_of(encode_chunks(nul, key_cols=["id"], num_chunks=1))
    srow = [r for r in f.collect() if r.column == "x"][0]
    assert "qsample" not in _json.loads(srow.stats_json)


def test_footer_range_agg_hybrid_split(spark):
    """Exact hybrid aggregation: interior chunks answer from footer
    stats, only boundary chunks decode, result equals plain filter."""
    import json as _json

    from varint_rvv_spark.operators.encode import (
        encode_chunks_range,
        footer_of,
    )
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.read.parquet(EVENTS)
    chunks = encode_chunks_range(df, ["ts"], num_partitions=4,
                                 rows_per_chunk=64).cache()
    lo, hi = 1704844800000000, 1705449600000000 - 1
    got = footer_range_agg(chunks, "event_id", "ts", lo, hi) \
        .collect()[0]
    exp = (df.filter((F.unix_micros(F.col("ts").cast("timestamp"))
                      >= lo)
                     & (F.unix_micros(F.col("ts").cast("timestamp"))
                        <= hi))
           .agg(F.count("*"), F.sum("event_id")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])
    # the split is real: most overlapping chunks are interior (footer-
    # answered), at most 2 boundary chunks per contiguous range
    stats = [( _json.loads(r.stats_json).get("vmin"),
               _json.loads(r.stats_json).get("vmax"))
             for r in footer_of(chunks)
             .filter(F.col("column") == "ts").collect()]
    interior = sum(1 for a, b in stats if a >= lo and b <= hi)
    boundary = sum(1 for a, b in stats
                   if (b >= lo and a <= hi)
                   and not (a >= lo and b <= hi))
    assert interior >= 2 and boundary <= 2, (interior, boundary)
    # unknown columns raise
    with pytest.raises(ValueError, match="no footer rows"):
        footer_range_agg(chunks, "nope", "ts", lo, hi)
    chunks.unpersist()


def test_footer_range_agg_exact_beyond_double_precision(spark):
    """Range-column magnitudes past 2^53 (64-bit ids/fingerprints):
    a double-cast containment test collapses adjacent values
    (float(2^60+k) snaps to a 256-wide grid), silently classifying
    out-of-range rows into 'interior' chunks — the long-cast test
    must stay exact."""
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    base = 1 << 60
    df = spark.createDataFrame([(i, base + i) for i in range(64)],
                               "val long, rid long")
    chunks = encode_chunks_range(df, ["rid"], num_partitions=1,
                                 rows_per_chunk=8).cache()
    lo, hi = base + 5, base + 40
    got = footer_range_agg(chunks, "val", "rid", lo, hi).collect()[0]
    exp = (df.filter((F.col("rid") >= lo) & (F.col("rid") <= hi))
           .agg(F.count("*"), F.sum("val")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])
    # fractional bounds over an integer column: [lo, hi] ≡
    # [ceil(lo), floor(hi)] — classification stays exact
    df2 = spark.createDataFrame([(i, i) for i in range(50)],
                                "val long, rid long")
    ch2 = encode_chunks_range(df2, ["rid"], num_partitions=1,
                              rows_per_chunk=8).cache()
    got2 = footer_range_agg(ch2, "val", "rid", 5.5, 40.2).collect()[0]
    exp2 = (df2.filter((F.col("rid") >= 5.5) & (F.col("rid") <= 40.2))
            .agg(F.count("*"), F.sum("val")).collect()[0])
    assert (got2.n_rows, got2.total) == (exp2[0], exp2[1])
    chunks.unpersist()
    ch2.unpersist()


def test_footer_range_agg_null_range_rows_demoted(spark):
    """Chunks with NULL range values must decode, not footer-answer:
    encode null-fills with 0, so when lo <= 0 <= hi the footer path
    would count rows SQL excludes."""
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.createDataFrame(
        [(i, None if i % 7 == 0 else i) for i in range(64)],
        "val long, rid long")
    chunks = encode_chunks(df, key_cols=["val"], num_chunks=4).cache()
    got = footer_range_agg(chunks, "val", "rid", -5, 100).collect()[0]
    exp = (df.filter((F.col("rid") >= -5) & (F.col("rid") <= 100))
           .agg(F.count("*"), F.sum("val")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])
    assert got.n_rows == 64 - len([i for i in range(64) if i % 7 == 0])
    chunks.unpersist()


def test_footer_range_agg_decimal_and_date_range_columns(spark):
    """decimal/date range columns: predicate bounds convert EXACTLY
    into stored units (unscaled ints / day numbers) so the footer
    fast path agrees with the decoded residual — including
    fractional decimal bounds that fall between stored values."""
    import datetime as dt
    from decimal import Decimal

    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.createDataFrame(
        [(i, f"{i}.{i % 100:02d}", dt.date(2024, 1, 1)
          + dt.timedelta(days=i)) for i in range(120)],
        "id long, p string, d date") \
        .selectExpr("id", "CAST(p AS DECIMAL(9,2)) AS price", "d")
    chunks = encode_chunks_range(df, ["id"], num_partitions=1,
                                 rows_per_chunk=16).cache()
    lo, hi = Decimal("10.505"), Decimal("90.25")
    got = footer_range_agg(chunks, "id", "price", lo, hi).collect()[0]
    exp = (df.filter((F.col("price") >= F.lit(lo))
                     & (F.col("price") <= F.lit(hi)))
           .agg(F.count("*"), F.sum("id")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])
    d_lo, d_hi = dt.date(2024, 2, 10), "2024-03-20"
    got2 = footer_range_agg(chunks, "id", "d", d_lo, d_hi).collect()[0]
    exp2 = (df.filter((F.col("d") >= F.lit(d_lo))
                      & (F.col("d") <= F.lit(dt.date(2024, 3, 20))))
            .agg(F.count("*"), F.sum("id")).collect()[0])
    assert (got2.n_rows, got2.total) == (exp2[0], exp2[1])
    chunks.unpersist()


def test_footer_range_agg_unit_mismatched_logicals_raise(spark):
    """Logicals with no exact unit conversion must refuse: bool range
    columns, and any non-plain value column (decimal vsum is unscaled,
    a timestamp sum is meaningless)."""
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.createDataFrame(
        [(i, str(i), i % 2 == 0) for i in range(40)],
        "id long, p string, flag boolean") \
        .selectExpr("id", "CAST(p AS DECIMAL(9,2)) AS price", "flag")
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=2).cache()
    with pytest.raises(ValueError, match="no exact conversion"):
        footer_range_agg(chunks, "id", "flag", 0, 1)
    with pytest.raises(ValueError, match="decoded-value units"):
        footer_range_agg(chunks, "price", "id", 1, 20)
    chunks.unpersist()


def test_footer_range_agg_partial_coverage_raises(spark):
    """A store where the range or value column lacks footer rows for
    some chunks (schema evolution) must raise, not silently drop the
    uncovered chunks' rows from the 'exact' aggregate."""
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.createDataFrame([(i, i) for i in range(64)],
                               "val long, rid long")
    chunks = encode_chunks(df, key_cols=["val"], num_chunks=4).cache()
    one = chunks.filter(F.col("column") == "rid") \
        .select("chunk_id").head().chunk_id
    partial = chunks.filter(~((F.col("column") == "rid")
                              & (F.col("chunk_id") == one)))
    with pytest.raises(ValueError, match="cover"):
        footer_range_agg(partial, "val", "rid", 0, 100)
    chunks.unpersist()


def test_footer_range_agg_store_read_chunks(spark, tmp_path):
    """The primary use case — chunks read back from a parquet store —
    must work with the default contiguous=False (file splits break
    chunk adjacency; the old hard-coded contiguous=True crashed)."""
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.read.parquet(EVENTS)
    path = str(tmp_path / "store")
    encode_chunks_range(df, ["ts"], num_partitions=4,
                        rows_per_chunk=64).write.parquet(path)
    back = spark.read.parquet(path)
    lo, hi = 1704844800000000, 1705449600000000 - 1
    got = footer_range_agg(back, "event_id", "ts", lo, hi).collect()[0]
    exp = (df.filter((F.unix_micros(F.col("ts").cast("timestamp"))
                      >= lo)
                     & (F.unix_micros(F.col("ts").cast("timestamp"))
                        <= hi))
           .agg(F.count("*"), F.sum("event_id")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])


def test_footer_topk_exact_and_pruned(spark):
    """Top-k pushdown: exact vs plain orderBy/limit on clustered AND
    unclustered stores, descending and ascending; on the clustered
    store the candidate set is a small fraction of the chunks."""
    from varint_rvv_spark.operators.encode import (
        encode_chunks,
        encode_chunks_range,
    )
    from varint_rvv_spark.operators.footer_stats import footer_topk

    df = spark.read.parquet(EVENTS)
    for mk, clustered in [
            (lambda: encode_chunks_range(df, ["value"],
                                         num_partitions=4,
                                         rows_per_chunk=64), True),
            (lambda: encode_chunks(df, key_cols=["event_id"],
                                   num_chunks=16), False)]:
        chunks = mk().cache()
        for desc in (True, False):
            cand = footer_topk(chunks, "value", 25,
                               ["event_id", "value"],
                               "event_id long, value double",
                               descending=desc)
            order = ([F.desc("value"), "event_id"] if desc
                     else [F.asc("value"), "event_id"])
            got = [tuple(r) for r in
                   cand.orderBy(*order).limit(25).collect()]
            exp = [tuple(r) for r in
                   df.select("event_id", "value")
                   .orderBy(*order).limit(25).collect()]
            assert got == exp, (clustered, desc)
        if clustered:
            n_cand = cand.select("event_id").count()
            assert n_cand < df.count() // 4  # real pruning
        chunks.unpersist()
    # guards
    chunks = encode_chunks(df.limit(50), key_cols=["event_id"],
                           num_chunks=2).cache()
    from varint_rvv_spark.operators.footer_stats import footer_topk

    with pytest.raises(ValueError, match="k must be positive"):
        footer_topk(chunks, "value", 0, ["value"], "value double")
    with pytest.raises(ValueError, match="must be in"):
        footer_topk(chunks, "value", 5, ["event_id"], "event_id long")
    with pytest.raises(ValueError, match="no footer rows"):
        footer_topk(chunks, "nope", 5, ["nope"], "nope long")
    chunks.unpersist()


def test_footer_topk_null_heavy_store_stays_exact(spark):
    """Chunks with NULL order values contribute 0 guaranteed rows but
    stay candidates — an all-null-bearing store degrades to full
    decode, never a wrong answer."""
    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.operators.footer_stats import footer_topk

    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else float(i)) for i in range(90)],
        "id long, v double")
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=4).cache()
    cand = footer_topk(chunks, "v", 10, ["id", "v"],
                       "id long, v double")
    got = [tuple(r) for r in
           cand.orderBy(F.desc_nulls_last("v"), "id")
           .limit(10).collect()]
    exp = [tuple(r) for r in
           df.orderBy(F.desc_nulls_last("v"), "id")
           .limit(10).collect()]
    assert got == exp
    chunks.unpersist()


def test_footer_topk_ascending_keeps_chunks_with_nulls(spark):
    """Ascending order puts NULLs first, so a chunk holding NULL order
    values stays a candidate even when its zone map (non-NULL values
    only) lies above the threshold."""
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.operators.footer_stats import footer_topk

    df = spark.createDataFrame(
        [(i, None if i >= 60 and i % 5 == 0 else float(i))
         for i in range(80)], "id long, v double")
    chunks = encode_chunks_range(df, ["id"], num_partitions=1,
                                 rows_per_chunk=20).cache()
    cand = footer_topk(chunks, "v", 5, ["id", "v"],
                       "id long, v double", descending=False)
    got = [tuple(r) for r in cand.orderBy("v", "id").limit(5).collect()]
    exp = [tuple(r) for r in df.orderBy("v", "id").limit(5).collect()]
    assert got == exp and exp[0][1] is None
    chunks.unpersist()


def test_footer_percentile_sample_window_is_partitioned(spark):
    """The per-sample ordered window must be partitioned (by winning
    bucket) — the scale fix: no single-partition exchange ever carries
    sample rows, only the ≤1024 aggregated bucket rows."""
    df = spark.read.parquet(EVENTS)
    chunks = encode_chunks(df, key_cols=["event_id"],
                           num_chunks=16).cache()
    est = footer_percentile(chunks, "value", [0.5])
    plan = est._jdf.queryExecution().executedPlan().toString()
    v_windows = [ln for ln in plan.split("\n")
                 if "Window [" in ln and "v#" in ln]
    assert v_windows, "expected a sample-level window in the plan"
    for ln in v_windows:
        assert "bucket" in ln, f"sample window not partitioned: {ln}"
    chunks.unpersist()


def test_footer_percentile_heavy_tail_rank_bounded(spark):
    """Power-law column with a 10^9x outlier: the r4 equal-width
    bucket grid collapsed ~the whole pooled sample into bucket 0
    (single-partition funnel); rank-uniform boundaries keep the
    estimate's rank error bounded AND the pool spread (balance itself
    is asserted on the scaffold in test_pack.py)."""
    rows = [(i, float((i % 1000 + 1) ** 2)) for i in range(4000)]
    rows[0] = (0, 1.0e12)  # the outlier that stretched the span
    df = spark.createDataFrame(rows, "event_id long, value double")
    chunks = encode_chunks(df, key_cols=["event_id"],
                           num_chunks=8).cache()
    try:
        est = footer_percentile(chunks, "value", [0.5, 0.99]) \
            .collect()[0]
        for q, v in [(0.5, est.p50), (0.99, est.p99)]:
            r = _rank_of(df, "value", v)
            assert abs(r - q) < 0.08, (q, v, r)
    finally:
        chunks.unpersist()


def test_footer_range_agg_wide_decimal_degrades_to_decode(spark):
    """decimal(38,6) range column (decimal2 two-limb storage): no
    per-limb stat is monotone in the value, so the operator must
    gracefully decode EVERY chunk — exact answer, never a raise
    (VERDICT r4 #3)."""
    from decimal import Decimal

    from varint_rvv_spark.operators.encode import encode_chunks
    from varint_rvv_spark.operators.footer_stats import footer_range_agg

    df = spark.createDataFrame(
        [(i, f"{10 ** 20 + i * 10 ** 9}.{i % 1000:03d}5")
         for i in range(80)], "id long, m string") \
        .selectExpr("id", "CAST(m AS DECIMAL(38,6)) AS money")
    chunks = encode_chunks(df, key_cols=["id"], num_chunks=4).cache()
    lt = chunks.filter(F.col("column") == "money") \
        .select("logical_type").head().logical_type
    assert lt.startswith("decimal2:"), lt
    lo = Decimal(10 ** 20 + 10 * 10 ** 9)
    hi = Decimal(10 ** 20 + 60 * 10 ** 9 + 1)
    got = footer_range_agg(chunks, "id", "money", lo, hi).collect()[0]
    exp = (df.filter((F.col("money") >= F.lit(lo))
                     & (F.col("money") <= F.lit(hi)))
           .agg(F.count("*"), F.sum("id")).collect()[0])
    assert (got.n_rows, got.total) == (exp[0], exp[1])
    assert got.n_rows == 51
    chunks.unpersist()


def test_footer_topk_exact_beyond_double_precision(spark):
    """int64 order values straddling 2^53 (adjacent values collapse
    under the double-cast zone stats): exclusion stays provably safe
    because nearest rounding is monotone and min/max commute with it
    — collapses only ever ADD tie candidates.  Locks the r4 verdict's
    monotonicity argument as a test."""
    from varint_rvv_spark.operators.encode import encode_chunks_range
    from varint_rvv_spark.operators.footer_stats import footer_topk

    base = 1 << 60  # ulp(double) here is 256 — whole chunks collapse
    df = spark.createDataFrame([(i, base + i) for i in range(640)],
                               "id long, v long")
    chunks = encode_chunks_range(df.orderBy("v"), ["v"],
                                 num_partitions=1,
                                 rows_per_chunk=64).cache()
    cand = footer_topk(chunks, "v", 10, ["id", "v"],
                       "id long, v long")
    got = [tuple(r) for r in
           cand.orderBy(F.desc("v")).limit(10).collect()]
    exp = [(i, base + i) for i in range(639, 629, -1)]
    assert got == exp
    # collapsed stats may add tie candidates but never lose pruning
    # entirely on a clustered store
    assert cand.count() < 640
    chunks.unpersist()
