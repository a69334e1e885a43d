"""Footer-only approximate percentiles from per-chunk value samples.

Extends the aggregate-pushdown family (COUNT/SUM from vsum, MIN/MAX
from the zone maps — queries.footer_agg_events) with quantiles: each
numeric chunk's footer carries a ≤32-value strided sample
(``qsample``, operators/encode.py), and `footer_percentile` merges
them into a weighted percentile estimate without decoding a single
payload byte.

Accuracy: the strided sample is uniform w.r.t. value rank for any
value-vs-position-independent layout, so with C chunks the pooled
sample has ~32·C points and the rank error of the estimate
concentrates around ±1/√(32·C) — at 100 TB (~10⁶ chunks) that is a
±0.02 % rank band, while reading only footer metadata.  Chunks
without a sample (all-NaN, singleton) are simply absent from the
pool; the estimate stays valid for the sampled mass.

Plan shape: two-level merge.  Pooled samples land in ≤1024
RANK-UNIFORM value buckets (pack.bucket_by_rank: sampled-quantile
boundaries, so a heavy-tailed column — one 10⁹× outlier — still
spreads ~1/1024 of the pool per bucket instead of collapsing into
bucket 0; bucketing is monotone in v, so bucket order = value
order); the cumulative-rank window runs over the ~10³ AGGREGATED
bucket rows only, and the ordered per-sample window runs only
inside the ≤len(qs) winning buckets, partitioned by bucket.  No
single-partition exchange ever carries sample rows — at 100 TB
(~1.6 M chunks → ~50 M pooled samples) the old global
`Window.orderBy(v)` funneled all of them through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_N_BUCKETS = 1024


def footer_percentile(chunks: DataFrame, column: str,
                      qs: list[float]) -> DataFrame:
    """One-row DataFrame with an approximate percentile per q in `qs`
    (columns ``p<q*100>``), computed from footer samples only.

    Estimator: smallest pooled-sample value whose cumulative weight
    reaches q·total — identical to a direct weighted scan in global
    value order, factored so no window ever sees the full sample set
    in one partition (see module docstring).
    """
    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError("footer_percentile: quantiles must be in "
                         "(0, 1]")
    names = ["p" + f"{q * 100:g}".replace(".", "_") for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"footer_percentile: quantiles {qs} map to colliding "
            f"column names {names}")
    col_rows = chunks.filter(F.col("column") == column)
    samples = (col_rows
               .select("n_values",
                       F.from_json(
                           F.get_json_object("stats_json", "$.qsample"),
                           "array<double>").alias("qsamp"))
               .filter(F.col("qsamp").isNotNull()
                       & (F.size("qsamp") > 0))
               .select(F.explode("qsamp").alias("v"),
                       (F.col("n_values") / F.size("qsamp"))
                       .alias("w")))
    # materialize the pooled sample ONCE: the plan branches into
    # bounds/buckets/candidates, and without a barrier each branch
    # re-scans the footer store and re-parses stats_json (~4x the
    # whole metadata pass — measured 3.2 s vs 1.4 s on a 2048-chunk
    # store).  localCheckpoint bounds the storage at the pooled
    # sample itself (16 B/row; ~800 MB cluster-wide even at 100 TB /
    # 1.6M chunks) and the ContextCleaner frees it with the frame.
    samples = samples.localCheckpoint(eager=True)
    if samples.isEmpty():
        raise ValueError(
            f"footer_percentile: no footer samples for column "
            f"{column!r} (wrong name, varlen column, or non-finite "
            f"chunks) — decode and use percentile_approx instead")
    # level 1: order-preserving rank-uniform buckets (shared scaffold
    # — pack.bucket_by_rank; samples are never NULL: qsample only
    # exists for finite, no-null chunks).  Boundaries are driver-side
    # literals from the checkpointed pool (bounded: one ≤8 KB row),
    # so every branch of this plan sees identical bucket ids.
    from .pack import bucket_by_rank

    s = bucket_by_rank(samples, "v", _N_BUCKETS, out_col="bucket")
    buckets = s.groupBy("bucket").agg(F.sum("w").alias("bw"),
                                      F.max("v").alias("bvmax"))
    # cumulative rank over ≤1024 aggregated rows (the only
    # orderBy-without-partitionBy windows — metadata scale by
    # construction, same trade as compact_chunks' bin packing)
    wb_cum = (Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wb_all = (Window.orderBy("bucket")
              .rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing))
    buckets = (buckets
               .withColumn("cum_b", F.sum("bw").over(wb_cum))
               # tot = max of the RUNNING sum, not an independent
               # whole-frame sum: a separate sum may add in a different
               # order and land an ulp above the last cum, which would
               # make `cum >= 1.0 * tot` false everywhere (q=1.0 → NULL)
               .withColumn("tot", F.max("cum_b").over(wb_all))
               .withColumn("prev", F.col("cum_b") - F.col("bw")))
    # winning bucket per q: first bucket whose bucket-level cumulative
    # weight reaches the target rank
    qarr = F.array(*[F.struct(F.lit(q).alias("q"), F.lit(nm).alias("nm"))
                     for q, nm in zip(qs, names)])
    winners = (buckets
               .select(F.explode(qarr).alias("qq"), "bucket", "cum_b",
                       "prev", "tot", "bvmax")
               .filter(F.col("cum_b") >= F.col("qq.q") * F.col("tot"))
               .groupBy("qq")
               .agg(F.min_by(
                   F.struct("bucket", "prev", "tot", "bvmax"),
                   "bucket").alias("wb"))
               .select(F.col("qq.q").alias("q"), F.col("qq.nm").alias("nm"),
                       F.col("wb.bucket").alias("bucket"),
                       F.col("wb.prev").alias("prev"),
                       F.col("wb.tot").alias("tot"),
                       F.col("wb.bvmax").alias("bvmax")))
    # level 2: ordered scan INSIDE the winning buckets only,
    # partitioned by (nm, bucket) — each holds ~1/1024 of the pool
    cand = s.join(F.broadcast(winners), "bucket")
    w_in = (Window.partitionBy("nm", "bucket").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cand = cand.withColumn("gcum", F.col("prev") + F.sum("w").over(w_in))
    picks = (cand.groupBy("nm")
             # the winning bucket's last value satisfies the target in
             # exact arithmetic; if within-bucket float re-association
             # leaves no row ≥ target, that last value (bvmax) is the
             # answer
             .agg(F.coalesce(
                 F.min(F.when(F.col("gcum") >= F.col("q") * F.col("tot"),
                              F.col("v"))),
                 F.first("bvmax")).alias("ans")))
    return picks.groupBy().pivot("nm", names).agg(F.first("ans"))


def footer_range_agg(chunks: DataFrame, value_col: str,
                     range_col: str, lo, hi,
                     contiguous: bool = False) -> DataFrame:
    """EXACT COUNT/SUM of an integer column over a range predicate,
    decoding only the range's *boundary* chunks.

    The classic zone-map aggregation split: chunks whose [vmin, vmax]
    on `range_col` lie fully inside [lo, hi] contribute their footer
    stats (exact per-chunk vsum/n_values — zero payload decode);
    chunks that merely overlap the range decode and filter normally;
    everything else is skipped.  On a range-clustered store the
    boundary set is O(1) chunks per query regardless of store size,
    so the aggregate cost is footer metadata + two chunk decodes.

    Exactness guards (each demotes to the decode path or raises —
    never a silent wrong sum):

    * interior containment compares integer/timestamp stats as LONG
      (a double cast collapses adjacent values past 2^53 — 64-bit
      ids/fingerprints would misclassify boundary chunks as interior);
    * interior chunks whose `value_col` lacks the exact vsum stat
      (overflow-guarded out at encode time) decode instead;
    * chunks whose `range_col` contains NULLs (their rows are not all
      inside the range, so the footer path would count rows SQL
      excludes) decode instead;
    * every chunk must have a footer row for both columns — a store
      where either column was added later via schema evolution raises
      rather than silently dropping the uncovered chunks;
    * decimal and date range columns convert predicate bounds EXACTLY
      into stored units (unscaled integers / day numbers), so price-
      and date-range aggregations stay on the footer fast path;
      logicals with no exact conversion (bool) raise, a value column
      whose vsum is not in decoded units (decimal/bool/date/timestamp)
      raises, and u64 stats compare as DECIMAL(20,0) (an ANSI cast to
      long would overflow).

    Range bounds: numbers for integer/float columns, epoch-µs for
    timestamps, `datetime.date`/ISO strings for date columns,
    numbers/strings/Decimals for decimal columns.

    `contiguous` follows decode_table's default (False): chunks read
    back from a parquet store lose chunk adjacency across file splits;
    pass True only on a fresh in-session encode lineage.
    Timestamps compare in epoch-µs.

    Returns one row: (n_rows bigint, total bigint).
    """
    import datetime as _dt
    import math
    from decimal import ROUND_CEILING, ROUND_FLOOR, Decimal

    from ..codecs import blob as B
    from .decode import decode_table
    from .evolve import _stored_spark_type

    def _as_date(x) -> _dt.date:
        if isinstance(x, _dt.datetime):
            return x.date()
        if isinstance(x, _dt.date):
            return x
        return _dt.date.fromisoformat(str(x))

    rc = chunks.filter(F.col("column") == range_col)
    # ONE driver action for dtype/logical probes + footer coverage
    # (three separate metadata jobs tripled this operator's fixed
    # latency)
    is_r = F.col("column") == range_col
    is_v = F.col("column") == value_col
    cov = chunks.agg(
        F.countDistinct("chunk_id").alias("all_ids"),
        F.countDistinct(F.when(is_r, F.col("chunk_id"))).alias("r_ids"),
        F.countDistinct(F.when(is_v, F.col("chunk_id"))).alias("v_ids"),
        F.first(F.when(is_r, F.col("dtype_code")), True).alias("r_dt"),
        F.first(F.when(is_r, F.col("logical_type")), True).alias("r_lt"),
        F.first(F.when(is_v, F.col("dtype_code")), True).alias("v_dt"),
        F.first(F.when(is_v, F.col("logical_type")), True).alias("v_lt"),
    ).head()
    if cov.r_dt is None:
        raise ValueError(f"footer_range_agg: no footer rows for "
                         f"range column {range_col!r}")
    if cov.v_dt is None:
        raise ValueError(f"footer_range_agg: no footer rows for "
                         f"value column {value_col!r}")
    if cov.r_ids != cov.all_ids or cov.v_ids != cov.all_ids:
        raise ValueError(
            f"footer_range_agg: footer rows for "
            f"{range_col!r}/{value_col!r} cover "
            f"{cov.r_ids}/{cov.v_ids} of {cov.all_ids} chunks — a "
            f"partially-covered store (schema evolution?) would "
            f"silently drop the uncovered chunks' rows; decode and "
            f"aggregate instead")
    # Unit handling: footer vmin/vmax are in STORED units (decimal →
    # unscaled ints, date → day numbers, timestamps → epoch-µs) while
    # the decode-path residual compares DECODED values.  For decimal
    # and date range columns the predicate bounds convert EXACTLY into
    # stored units (Decimal arithmetic / day arithmetic), so the two
    # paths agree; logicals with no exact conversion (bool — a range
    # over booleans is not meaningful) raise rather than silently mix
    # units.  The value column must aggregate in decoded units
    # (plain / narrow ints only): a decimal vsum would be unscaled and
    # a timestamp sum is meaningless — both raise.
    r_lt = cov.r_lt
    # residual-filter bounds (decoded units) default to the inputs;
    # decimal/date replace them with exact typed literals below
    r_lo_lit, r_hi_lit = F.lit(lo), F.lit(hi)
    if r_lt == "date32":
        lo_d, hi_d = _as_date(lo), _as_date(hi)
        epoch = _dt.date(1970, 1, 1)
        lo_i, hi_i = (lo_d - epoch).days, (hi_d - epoch).days
        r_lo_lit, r_hi_lit = F.lit(lo_d), F.lit(hi_d)
        vmin = F.get_json_object("stats_json", "$.vmin").cast("long")
        vmax = F.get_json_object("stats_json", "$.vmax").cast("long")
        lo_b, hi_b = F.lit(lo_i), F.lit(hi_i)
    elif r_lt.startswith("decimal:"):
        s_ = int(r_lt.split(":")[2])
        lo_dec, hi_dec = Decimal(str(lo)), Decimal(str(hi))
        lo_b = F.lit(int((lo_dec * 10 ** s_)
                         .to_integral_value(rounding=ROUND_CEILING)))
        hi_b = F.lit(int((hi_dec * 10 ** s_)
                         .to_integral_value(rounding=ROUND_FLOOR)))
        r_lo_lit, r_hi_lit = F.lit(lo_dec), F.lit(hi_dec)
        vmin = F.get_json_object("stats_json", "$.vmin").cast("long")
        vmax = F.get_json_object("stats_json", "$.vmax").cast("long")
    elif r_lt.startswith("decimal2:"):
        # wide decimals (p>18) store two int64 LIMB streams; per-limb
        # zone stats are not monotone in the value, so there is no
        # footer fast path — gracefully degrade to decoding EVERY
        # chunk (exact, just slower) instead of raising the operator
        # away for decimal(38,x) money columns.  vmin/vmax = NULL
        # makes `interior` false and `overlap` true for every chunk.
        lo_dec, hi_dec = Decimal(str(lo)), Decimal(str(hi))
        r_lo_lit, r_hi_lit = F.lit(lo_dec), F.lit(hi_dec)
        vmin = F.lit(None).cast("long")
        vmax = F.lit(None).cast("long")
        lo_b, hi_b = F.lit(0), F.lit(0)
    elif (r_lt == "plain" or r_lt.startswith("narrow_int:")
          or r_lt == "timestamp_us"
          or r_lt.startswith("timestamp_us:")):
        np_dt = B.NUMERIC_NP.get(int(cov.r_dt))
        if np_dt is not None and np_dt.kind == "u":
            # u64 stats may exceed long; DECIMAL(20,0) covers the full
            # uint64 domain exactly (an ANSI CAST to LONG would raise;
            # string literals because a python int past 2^63-1 has no
            # Spark literal type)
            vmin = F.get_json_object("stats_json", "$.vmin") \
                .cast("decimal(20,0)")
            vmax = F.get_json_object("stats_json", "$.vmax") \
                .cast("decimal(20,0)")
            lo_b = F.lit(str(int(math.ceil(lo)))).cast("decimal(20,0)")
            hi_b = F.lit(str(int(math.floor(hi)))).cast("decimal(20,0)")
            # residual filter shares the exact integral bounds: raw
            # fractional literals would promote the decoded column to
            # double and collapse adjacent values past 2^53
            r_lo_lit, r_hi_lit = lo_b, hi_b
        elif np_dt is not None and np_dt.kind == "i":
            # exact long comparison; [lo, hi] over integers ≡
            # [ceil(lo), floor(hi)], so fractional bounds stay exact
            vmin = F.get_json_object("stats_json", "$.vmin").cast("long")
            vmax = F.get_json_object("stats_json", "$.vmax").cast("long")
            lo_b, hi_b = (F.lit(int(math.ceil(lo))),
                          F.lit(int(math.floor(hi))))
            # residual filter shares the exact long bounds (a
            # fractional 5.5 literal would promote the comparison to
            # double — misclassifies rows past 2^53)
            r_lo_lit, r_hi_lit = lo_b, hi_b
        else:
            vmin = F.get_json_object("stats_json", "$.vmin") \
                .cast("double")
            vmax = F.get_json_object("stats_json", "$.vmax") \
                .cast("double")
            lo_b, hi_b = F.lit(float(lo)), F.lit(float(hi))
    else:
        raise ValueError(
            f"footer_range_agg: range column {range_col!r} stores "
            f"logical type {r_lt!r}, whose footer stats have no exact "
            f"conversion to predicate units — decode and filter "
            f"instead")
    if not (cov.v_lt == "plain" or cov.v_lt.startswith("narrow_int:")):
        raise ValueError(
            f"footer_range_agg: value column {value_col!r} stores "
            f"logical type {cov.v_lt!r}, whose footer vsum is not in "
            f"decoded-value units — decode and aggregate instead")
    # NULL range rows never match, so `interior` (every row matches)
    # needs a chunk without a validity bitmap on range_col
    no_nulls = F.coalesce(F.length("validity"), F.lit(0)) == 0
    interior = (vmin.isNotNull() & vmax.isNotNull()
                & (vmin >= lo_b) & (vmax <= hi_b) & no_nulls)
    # overlap stays conservative: null stats → kept (decode path);
    # [vmin, vmax] spans the valid rows only, and NULL range rows
    # never match, so a chunk outside it holds no matching row
    overlap = ((vmax.isNull() | (vmax >= lo_b))
               & (vmin.isNull() | (vmin <= hi_b)))
    interior_ids = rc.filter(interior).select("chunk_id")
    overlap_ids = rc.filter(overlap).select("chunk_id")
    vsum = F.get_json_object("stats_json", "$.vsum").cast("long")
    vrows = (chunks.filter(F.col("column") == value_col)
             .join(F.broadcast(interior_ids), "chunk_id", "left_semi"))
    good = vrows.filter(vsum.isNotNull())
    footer_part = good.agg(
        F.coalesce(F.sum("n_values"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum(vsum), F.lit(0)).alias("total"))
    # boundary = overlapping chunks minus the footer-answered ones
    answered = good.select("chunk_id")
    boundary = (chunks
                .join(F.broadcast(overlap_ids), "chunk_id", "left_semi")
                .join(F.broadcast(answered), "chunk_id", "left_anti"))
    r_t = _stored_spark_type(int(cov.r_dt), cov.r_lt)
    v_t = _stored_spark_type(int(cov.v_dt), cov.v_lt)
    d = decode_table(boundary, [value_col, range_col],
                     f"{value_col} {v_t}, {range_col} {r_t}",
                     contiguous=contiguous)
    rcol = (F.unix_micros(F.col(range_col).cast("timestamp"))
            if r_t in ("timestamp", "timestamp_ntz")
            else F.col(range_col))
    decode_part = (d.filter((rcol >= r_lo_lit) & (rcol <= r_hi_lit))
                   .agg(F.count(F.lit(1)).alias("n_rows"),
                        F.coalesce(F.sum(value_col), F.lit(0))
                        .cast("long").alias("total")))
    return (footer_part.unionByName(decode_part)
            .agg(F.sum("n_rows").cast("long").alias("n_rows"),
                 F.sum("total").cast("long").alias("total")))


def footer_topk(chunks: DataFrame, order_col: str, k: int,
                columns: list[str], spark_schema: str,
                descending: bool = True,
                contiguous: bool = False) -> DataFrame:
    """EXACT top-k rows by `order_col`, decoding only the chunks the
    zone maps cannot exclude.

    Classic statistics pushdown for ORDER BY ... LIMIT k: walk chunks
    in vmax-descending order (vmin-ascending for ascending), take
    chunks until their guaranteed non-null rows reach k, set the
    threshold t = min(vmin) over the taken set (max(vmax) for
    ascending) — the true k-th value is ≥ t, so any chunk with
    vmax < t is provably out and never decodes.  On a range-clustered
    store the candidate set is ⌈k / rows_per_chunk⌉ + ties — O(1)
    chunks per query at any store size.

    Conservative with nulls and missing stats: a chunk with a
    validity bitmap on `order_col` or without a zone map contributes
    0 guaranteed rows.  A chunk without a zone map is always a
    candidate, and so is one with NULLs when ascending (NULLS FIRST
    puts them ahead of every value), so the result is exact even when
    every chunk has nulls (degrades to full decode, never a wrong
    answer).  ORDER BY semantics are Spark's defaults (NULLS LAST for
    DESC / FIRST for ASC) — the caller applies the final orderBy +
    limit.

    The chunk-selection window runs over footer metadata (one row per
    chunk) — the same deliberate metadata-scale trade as
    compact_chunks' bin packing.

    Returns the decoded candidate rows (superset of the top-k);
    callers finish with `.orderBy(...).limit(k)`.
    """
    from .decode import decode_table

    if k <= 0:
        raise ValueError("footer_topk: k must be positive")
    if order_col not in columns:
        raise ValueError(f"footer_topk: order column {order_col!r} "
                         f"must be in `columns`")
    rc = chunks.filter(F.col("column") == order_col)
    if rc.select("chunk_id").head() is None:
        raise ValueError(f"footer_topk: no footer rows for "
                         f"{order_col!r}")
    # stat-vs-stat comparisons only, so a double cast stays EXACT in
    # effect even for int64 stats past 2^53: nearest rounding f is
    # monotone (a >= b => f(a) >= f(b)), min/max commute with a
    # monotone map, and every comparison below is in the conservative
    # direction — an excluded chunk has f(vmax) < f(t) => vmax < t,
    # so exclusion is provably safe; collapses only ever ADD
    # candidates (ties at f(t)).  Locked by
    # test_footer_topk_exact_beyond_double_precision.
    vmin = F.get_json_object("stats_json", "$.vmin").cast("double")
    vmax = F.get_json_object("stats_json", "$.vmax").cast("double")
    no_nulls = F.coalesce(F.length("validity"), F.lit(0)) == 0
    has_stats = vmin.isNotNull() & vmax.isNotNull()
    eff = F.when(no_nulls & has_stats, F.col("n_values")) \
        .otherwise(F.lit(0))
    lead, trail = (vmax, vmin) if descending else (vmin, vmax)
    order = [F.desc_nulls_last("_lead")] if descending \
        else [F.asc_nulls_last("_lead")]
    meta = rc.select("chunk_id", lead.alias("_lead"),
                     trail.alias("_trail"), eff.alias("_eff"),
                     (F.lit(False) if descending else ~no_nulls)
                     .alias("_nulls_first"))
    w = (Window.orderBy(*order, "chunk_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    meta = meta.withColumn("_cum", F.sum("_eff").over(w))
    taken = meta.filter(F.col("_cum") - F.col("_eff") < k)
    thr = (taken.agg((F.min("_trail") if descending
                      else F.max("_trail")).alias("t"),
                     F.sum("_eff").alias("got")))
    # candidates: taken ∪ chunks whose lead stat crosses the
    # threshold (ties at t included); statless chunks, and chunks
    # whose NULLs sort first, are always candidates.  When the taken
    # set still lacks k guaranteed rows (tiny or all-null store), keep
    # everything.
    cand_ids = (meta.crossJoin(F.broadcast(thr))
                .filter(F.col("t").isNull()
                        | (F.col("got") < k)
                        | F.col("_lead").isNull()
                        | F.col("_nulls_first")
                        | (F.col("_lead") >= F.col("t")
                           if descending
                           else F.col("_lead") <= F.col("t")))
                .select("chunk_id"))
    cand = chunks.join(F.broadcast(cand_ids), "chunk_id", "left_semi")
    return decode_table(cand, columns, spark_schema,
                        contiguous=contiguous)
