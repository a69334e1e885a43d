"""Deduplication operators for web-scale training-data pipelines.

All implementations are pure DataFrame/SQL-function compositions
(JVM-side, no Python UDFs), deterministic, and oracle-checkable: hash
primitives are md5 (identical output in Spark and DuckDB).

Scale notes (100 TB):
* exact dedup — one shuffle on the content hash; AQE handles skew from
  boilerplate duplicates.
* minhash LSH — shingle explode is map-side; the only shuffle is the
  groupBy(doc) for signatures and the band self-join, which is an
  equi-join on (band_id, band_hash) buckets — bounded fan-out, no
  full cross product.
* simhash — bit arithmetic on a 64-bit fingerprint, one shuffle on the
  band key per probe table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import md5_long, tokens


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep lowest id per exact content group; returns survivors."""
    h = F.md5(F.encode(F.col(text_col), "utf-8")).alias("content_hash")
    wins = (df.select(F.col(id_col), h)
            .groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col)))
    return df.join(wins, [id_col], "left_semi")


def word_gram_expr(text_col, k: int):
    """ALL word k-grams of a text column, in order, duplicates kept —
    one array expression (zip_with chain).

    Deliberately CAPTURE-FREE (r6 lesson): a transform+element_at
    construction over a bound token column measured 1.7-2.6x faster,
    but its lambdas reference the token array, and predicate pushdown
    substitutes aliases into lambda bodies with NO cost model — any
    deterministic filter written above such a projection eventually
    sinks to the scan with split() inlined INSIDE the lambdas, and
    lambdas re-evaluate captured expressions per element: the whole
    document re-splits once per gram, quadratic in doc length (a
    plain size(shingles)>0 guard froze bench_ops local[1] for >30
    min; Spark 4 even folds rand()-pinned guards back to
    deterministic).  The zip_with chain only ever references inputs
    in ARGUMENT position, so alias substitution stays linear no
    matter what gets pushed.  The hot paths don't pay the chain at
    all — they build grams in vectorized pyarrow inside the Arrow
    kernels (_flat_gram_arrays)."""
    toks = tokens(text_col)
    n = F.size(toks)
    gram = toks
    for i in range(1, k):
        # zip_with pads the shorter side with null; trailing partial
        # grams become null and are cut by the final slice
        gram = F.zip_with(gram, F.slice(toks, i + 1, n - i),
                          lambda x, y: F.concat(x, F.lit(" "), y))
    grams = F.slice(gram, 1, n - (k - 1))
    return F.when(n >= k, grams).otherwise(
        F.array().cast("array<string>"))


def word_shingle_array(df: DataFrame, id_col: str, text_col: str,
                       k: int = 3,
                       out_col: str = "shingles") -> DataFrame:
    """Distinct word k-shingles per document as ONE array column —
    the zero-explode form word_shingles and the map-side MinHash
    signatures build on.  Rows with < k tokens carry an EMPTY array.
    Built on the capture-free zip_with chain (see word_gram_expr for
    why the faster element_at form is forbidden here); the r6 hot
    paths (minhash signatures, decontamination, repetition) bypass
    this expression entirely via the Arrow kernels."""
    arr = F.array_distinct(word_gram_expr(text_col, k))
    return df.select(F.col(id_col), arr.alias(out_col))


def word_shingles(df: DataFrame, id_col: str, text_col: str,
                  k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document — fully map-side.

    k-grams are built inside the token *array* by chaining `zip_with`
    over shifted slices (k-1 linear passes, no per-index `slice` copy —
    measured 4.7× faster than a transform-over-sequence construction
    and on par with the old Window plan's CPU), then `array_distinct`
    dedups within the document before the explode, so the output rows
    are already unique per (id, shingle).  Zero shuffles, zero window
    functions: at 100 TB this stage is pure scan-side compute, vs the
    old posexplode+Window plan that shuffled and sorted every token of
    every document.
    """
    arr = word_shingle_array(df, id_col, text_col, k)
    return arr.select(F.col(id_col),
                      F.explode("shingles").alias("shingle"))


def _flat_gram_arrays(toks, k: int):
    """Arrow list<string> token column → flat word-k-gram arrays.

    Returns (gcounts, doc_idx, gram) where gcounts[i] is row i's gram
    count (0 for null rows and rows with < k tokens), doc_idx maps
    each flat gram to its row, and gram is a pyarrow StringArray of
    the gram strings (tokens joined with ' ' — byte-identical to the
    JVM concat forms).  Indexing uses ABSOLUTE offsets into
    toks.values: flatten() re-bases/compacts around nulls and would
    break it.  Shared by the minhash-signature, decontamination and
    repetition Arrow kernels.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(toks)
    off_dt = np.int64 if pa.types.is_large_list(toks.type) else np.int32
    offs = np.frombuffer(toks.buffers()[1], dtype=off_dt)[
        toks.offset: toks.offset + n + 1].astype(np.int64)
    counts = np.diff(offs)
    gcounts = np.maximum(counts - (k - 1), 0)
    if toks.null_count:
        valid = toks.is_valid().to_numpy(zero_copy_only=False)
        gcounts = np.where(valid, gcounts, 0)
    total_g = int(gcounts.sum())
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), gcounts)
    if not total_g:
        return gcounts, doc_idx, pa.array([], type=pa.string())
    g_ends = np.cumsum(gcounts)
    within = (np.arange(total_g, dtype=np.int64)
              - np.repeat(g_ends - gcounts, gcounts))
    gstart = np.repeat(offs[:-1], gcounts) + within
    values = toks.values
    parts = [values.take(pa.array(gstart + j)) for j in range(k)]
    return gcounts, doc_idx, pc.binary_join_element_wise(*parts, " ")


MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1: a*h+b < 2^59 < 2^63
MINHASH_HEX = 7            # 28-bit base hash: a*h never overflows int64


def minhash_params(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine hash family
    h_i(x) = (a_i·base(x) + b_i) mod p — derived from an md5 grid so
    the DuckDB oracle can bake the identical literals (the
    plane_weights pattern).  One md5 per shingle + n cheap integer
    mixes replaces n md5 evaluations per shingle (the standard MinHash
    construction; measured ~3× on the signature stage)."""
    import hashlib

    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"mh:a:{seed}:{i}".encode())
                .hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"mh:b:{seed}:{i}".encode())
                .hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def _mh_mix(a: int, b: int):
    """Closure factory (NOT a `lambda h, a=a` default arg — pyspark
    dispatches on lambda arity, so a 2-parameter lambda becomes an
    (element, index) lambda and the index Column shadows the salt)."""
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)


def _shingle_hash(col, hash_fn: str):
    """Shingle → 28-bit base hash (a·h must never overflow int64).

    "md5" is the cross-engine canonical form (DuckDB computes the
    byte-identical value, so oracle-checked queries pin it).
    "xxhash64" folds Spark's native 64-bit hash into the same domain
    — measured ~1.2x on the full signature stage (min-of-3 at
    local[8]; the shingle-array construction dominates the stage, so
    the cheaper hash moves the total less than its own ~3x) with
    equivalent MinHash statistics (any uniform base hash works), but
    no SQL twin."""
    if hash_fn == "md5":
        return md5_long(col, MINHASH_HEX)
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(1 << (4 * MINHASH_HEX)))
    raise ValueError(f"minhash: unknown shingle hash {hash_fn!r} "
                     f"(md5 | xxhash64)")


def minhash_signatures(shingles: DataFrame, id_col: str,
                       n_hashes: int = 16) -> DataFrame:
    """n_hashes min-hashes per doc from *exploded* shingle rows
    (groupBy form — kept as the oracle-shaped reference; the pipeline
    uses the shuffle-free array form below)."""
    base = shingles.select(
        F.col(id_col), md5_long(F.col("shingle"), MINHASH_HEX).alias("h"))
    sigs = [F.min(_mh_mix(a, b)(F.col("h"))).alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(n_hashes))]
    return base.groupBy(id_col).agg(*sigs)


def minhash_signatures_from_array(arr: DataFrame, id_col: str,
                                  n_hashes: int = 16,
                                  arr_col: str = "shingles",
                                  hash_fn: str = "md5",
                                  assume_nonempty: bool = False) -> DataFrame:
    """Map-side MinHash signatures: min over the shingle *array* —
    array_min(transform(...)) per hash, ZERO shuffle.  At 100 TB the
    whole signature stage is scan-side compute; the first (and only)
    shuffle of the dedup pipeline is the band-bucket join.

    One md5 per shingle (a two-step select materializes the base-hash
    array; CollapseProject keeps non-cheap multi-referenced
    expressions in their own project, so the md5 transform is
    evaluated once, not once per hash), then n_hashes affine mixes
    over the int array.

    Docs with no shingles (< k tokens) are dropped, matching the
    exploded+groupBy form (they form no rows there).
    `assume_nonempty=True` skips the empty-array filter — only for
    callers that guarantee non-empty shingle arrays (pushdown inlines
    the filter's copy of the builder, one linear duplicate eval).
    """
    base = arr if assume_nonempty else arr.filter(F.size(arr_col) > 0)
    base = base.select(F.col(id_col),
                       F.transform(F.col(arr_col),
                                   lambda s: _shingle_hash(s, hash_fn))
                       .alias("_h"))
    sigs = [F.array_min(F.transform(F.col("_h"), _mh_mix(a, b)))
            .alias(f"mh{i}")
            for i, (a, b) in enumerate(minhash_params(n_hashes))]
    return base.select(F.col(id_col), *sigs)


def minhash_signatures_arrow(df: DataFrame, id_col: str, text_col: str,
                             k: int = 3,
                             n_hashes: int = 16) -> DataFrame:
    """MinHash signatures via a vectorized Arrow kernel — the r6 fast
    twin of minhash_signatures_from_array (row-for-row identical
    output, locked by test).

    Why it wins (measured ~3x on the signature stage at sf1.0): the
    corpus vocabulary makes word k-grams repeat heavily across
    documents (94x at sf1.0), and inside the kernel the grams can be
    dictionary-encoded per batch, so md5 runs once per DISTINCT gram
    instead of once per gram — an optimization Catalyst expressions
    cannot express.  The affine mixes and per-doc mins then run as
    numpy matrix ops over the small dictionary and a reduceat over
    each doc's gram range (min over duplicates equals min over the
    distinct set, so skipping per-doc array_distinct is exact).

    Only (id, token-array) crosses the Python boundary; tokenization
    stays in the JVM so the split semantics are byte-identical to
    every other operator.  Docs with < k tokens are dropped (same
    contract as the expression form).
    """
    import pyarrow as pa

    from ..functions import tokens

    params = minhash_params(n_hashes)
    schema = (f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
              + ", ".join(f"mh{i} long" for i in range(n_hashes)))

    def fn(batch_iter):
        import hashlib

        import numpy as np

        A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
        Bv = np.array([b for _, b in params], dtype=np.int64)[:, None]
        P = np.int64(MINHASH_P)
        md5 = hashlib.md5
        assert MINHASH_HEX == 7  # digest[:4] big-endian >> 4 == hex[:7]
        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            gcounts, _, gram = _flat_gram_arrays(batch.column(1), k)
            keep = gcounts > 0
            if not keep.all():
                # contract parity: sub-k/null docs form no signature row
                ids = ids.filter(pa.array(keep))
            if len(ids) == 0:
                continue
            codes = gram.dictionary_encode()
            idx = codes.indices.to_numpy().astype(np.int64)
            dvals = codes.dictionary
            # one md5 per DISTINCT gram (the 94x saving); binary cast
            # is zero-copy and yields the same utf-8 bytes the JVM
            # md5() hashes
            h = np.fromiter(
                (int.from_bytes(md5(s).digest()[:4], "big") >> 4
                 for s in dvals.cast(pa.binary()).to_pylist()),
                dtype=np.int64, count=len(dvals))
            mixed = (A * h[None, :] + Bv) % P      # (n_hashes, n_dict)
            per_gram = mixed[:, idx]               # (n_hashes, total_g)
            starts = np.cumsum(gcounts[keep]) - gcounts[keep]
            mins = np.minimum.reduceat(per_gram, starts, axis=1)
            cols = [ids] + [pa.array(mins[i]) for i in range(len(params))]
            yield pa.RecordBatch.from_arrays(
                cols, names=[batch.schema.names[0]]
                + [f"mh{i}" for i in range(len(params))])

    src = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return src.mapInArrow(fn, schema)


def lsh_candidate_pairs(signatures: DataFrame, id_col: str,
                        n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Docs sharing ≥1 LSH band bucket → candidate near-dup pairs."""
    rows = n_hashes // bands
    band_cols = []
    for b in range(bands):
        # explicit cast: int64 signature values → canonical decimal
        # strings, identical in Spark and DuckDB
        cols = [F.col(f"mh{b * rows + r}").cast("string")
                for r in range(rows)]
        band_cols.append(F.struct(F.lit(b).alias("band_id"),
                                  F.md5(F.concat_ws("|", *cols))
                                  .alias("band_hash")))
    banded = (signatures
              .select(F.col(id_col), F.explode(F.array(*band_cols))
                      .alias("band"))
              .select(id_col, "band.band_id", "band.band_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, ["band_id", "band_hash"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, n_hashes: int = 16,
                      bands: int = 4,
                      hash_fn: str = "md5") -> DataFrame:
    """Shingle → signature is pure map-side (array form); one tiny
    repartition of the signature rows (id + n_hashes hex strings)
    materializes them so the band self-join reads a ReusedExchange —
    without it Catalyst's project collapse inlines the whole shingle
    pipeline into every band of both join sides (measured 2×+ slower).
    Net shuffle volume is far below the exploded-shingle groupBy form.
    """
    if hash_fn == "md5":
        # r6 fast path: Arrow kernel computes identical signatures
        # with one md5 per distinct gram per batch (see
        # minhash_signatures_arrow; parity is test-locked)
        sig = minhash_signatures_arrow(df, id_col, text_col, k,
                                       n_hashes).repartition(id_col)
    else:
        arr = word_shingle_array(df, id_col, text_col, k)
        sig = minhash_signatures_from_array(arr, id_col, n_hashes,
                                            hash_fn=hash_fn) \
            .repartition(id_col)
    return lsh_candidate_pairs(sig, id_col, n_hashes, bands)


def ngram_decontaminate(docs: DataFrame, bench: DataFrame,
                        id_col: str, text_col: str,
                        bench_text_col: str | None = None,
                        k: int = 8) -> DataFrame:
    """Test-set decontamination — the standard pretraining hygiene
    pass (word-k-gram overlap against an evaluation corpus, per the
    public GPT-3 appendix-C / Llama recipes): flag every training
    document sharing at least one k-gram with the benchmark set.

    Returns one row per CONTAMINATED document:
    (id_col, n_shingles bigint, n_contaminated bigint) — the doc's
    distinct-shingle count and how many of them appear in the
    benchmark.  Clean docs are absent; survivors = docs left-anti
    this frame on id_col.

    100 TB shape: the corpus side is ONE map stage, zero shuffle — an
    Arrow kernel over (id, token-array) batches builds the grams,
    dictionary-encodes them (exact string equality, C-speed; grams
    repeat ~94x across documents at sf1.0 so most per-gram work
    collapses onto the small per-batch dictionary), counts each doc's
    distinct shingles, and probes the benchmark set with one hashed
    is_in per dictionary.  The benchmark side is tiny by construction
    (eval suites, not corpora): its distinct-shingle set is collected
    once (Arrow transfer) and rides in the kernel's closure — PySpark
    ships a command over spark.broadcast.UDFCompressionThreshold as a
    broadcast tied to the plan, so no explicit broadcast outlives the
    call.  The same driver/executor footprint the previous
    BroadcastHashJoin build carried, minus the per-corpus-row probe
    and the hits groupBy exchange (the kernel emits final per-doc rows
    directly).  Docs
    with fewer than k tokens have no shingles and cannot be flagged.
    Results are row-identical to the join+groupBy form (test-locked).
    """
    import pyarrow as pa

    from ..functions import tokens

    bench_text_col = bench_text_col or text_col

    def bench_fn(batch_iter):
        # per-batch DISTINCT grams only (pa unique) — the cross-batch
        # dedup happens once on the collected (small) result below
        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            _, _, gram = _flat_gram_arrays(batch.column(1), k)
            if len(gram):
                yield pa.RecordBatch.from_arrays(
                    [gram.unique()], names=["shingle"])

    bsrc = bench.select(F.lit(0).alias("_bid"),
                        tokens(bench_text_col).alias("_toks"))
    bench_vals = (bsrc.mapInArrow(bench_fn, "shingle string")
                  .toArrow().column("shingle").combine_chunks()
                  .unique())

    schema = (f"{id_col} {docs.schema[id_col].dataType.simpleString()},"
              f" n_shingles long, n_contaminated long")

    def fn(batch_iter):
        import numpy as np
        import pyarrow.compute as pc

        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            gcounts, doc_idx, gram = _flat_gram_arrays(
                batch.column(1), k)
            if len(gram) == 0:
                continue
            codes = gram.dictionary_encode()
            idx = codes.indices.to_numpy().astype(np.int64)
            nd = np.int64(len(codes.dictionary))
            uk = np.unique(doc_idx * nd + idx)   # distinct (doc, gram)
            udoc, ucode = uk // nd, uk % nd
            seg = np.flatnonzero(np.r_[True, udoc[1:] != udoc[:-1]])
            n_sh = np.diff(np.r_[seg, len(uk)])
            in_set = pc.is_in(codes.dictionary, value_set=bench_vals) \
                .to_numpy(zero_copy_only=False)
            n_hit = np.add.reduceat(
                in_set[ucode].astype(np.int64), seg)
            mask = n_hit > 0
            if not mask.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(udoc[seg][mask])),
                 pa.array(n_sh[mask], type=pa.int64()),
                 pa.array(n_hit[mask], type=pa.int64())],
                names=[batch.schema.names[0], "n_shingles",
                       "n_contaminated"])

    src = docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return src.mapInArrow(fn, schema)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | None = 1000) -> DataFrame:
    """Exact word-k-gram Jaccard similarity for all intersecting pairs.

    The self-join on the shingle key is quadratic in per-shingle
    document frequency: ONE boilerplate k-gram ("all rights reserved")
    shared by 10^6 docs would create 10^12 intermediate rows.
    `max_doc_freq` (default 1000) drops shingles whose document
    frequency exceeds the cap BEFORE the join, bounding the fan-out of
    any shingle to max_doc_freq², and Jaccard is computed over the
    capped shingle universe on both the numerator and the denominator
    (sizes are taken after the filter), so the measure stays a true
    Jaccard — of the discriminative-shingle sets.

    Why this is safe in practice: a shingle shared by more than
    max_doc_freq documents carries essentially zero pairwise signal
    (its contribution is uniform boilerplate); removing it from both
    sides perturbs J(A,B) by at most c/(|A∪B|-c) where c is the number
    of capped shingles the pair shares — negligible unless the docs
    are *mostly* boilerplate, in which case they should be handled by
    the fingerprint/exact-dedup stage, not Jaccard.  Set
    max_doc_freq=None to recover the uncapped exact measure.  For
    corpus-scale near-dup detection prefer the LSH-verified pipeline
    (minhash_dedup_components) — this operator is the exact oracle.
    """
    sh = word_shingles(df, id_col, text_col, k)
    if max_doc_freq is not None:
        # word_shingles rows are distinct per (id, shingle), so the
        # group count IS the document frequency
        keep = (sh.groupBy("shingle")
                .agg(F.count("*").alias("_df"))
                .filter(F.col("_df") <= max_doc_freq)
                .select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, "shingle")
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    raw_j = (F.col("n_inter")
             / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .filter(raw_j >= threshold)  # unrounded, like the SQL oracle
            .select("id_a", "id_b", F.round(raw_j, 5).alias("jaccard")))


def jaccard_verify_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                         text_col: str, k: int = 3,
                         threshold: float = 0.5,
                         shingles: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard verification restricted to candidate pairs.

    The LSH pruning makes this scale-safe: shingles are kept only for
    docs that appear in a candidate pair (left_semi pushdown), and the
    intersection join fans out per-candidate-pair, never all-pairs.
    Pass `shingles` to reuse an already-built shingle table (the
    end-to-end pipeline shares one with the MinHash stage instead of
    re-scanning the corpus).
    """
    ids = (pairs.select(F.col("id_a").alias(id_col))
           .union(pairs.select(F.col("id_b").alias(id_col)))
           .distinct())
    if shingles is None:
        sub = df.join(ids, [id_col], "left_semi")
        sh = word_shingles(sub, id_col, text_col, k)
    else:
        sh = shingles.join(ids, [id_col], "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (pairs.join(a, "id_a").join(b, ["id_b", "shingle"])
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    jac = (F.col("n_inter")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 5).alias("jaccard")))


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node u with neighborhood N(u) (symmetric
    closure) connects its LARGER neighbors to m = min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    mn = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    j = sym.join(mn, "src")
    m = F.least(F.col("src"), F.col("mn"))
    return (j.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; every node u
    connects its smaller neighbors (and itself) to their minimum."""
    o = (e.select(F.greatest("src", "dst").alias("src"),
                  F.least("src", "dst").alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    mn = o.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = (o.join(mn, "src")
            .filter(F.col("dst") != F.col("mn"))
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst")))
    self_edges = mn.select("src", F.col("mn").alias("dst"))
    return nbrs.union(self_edges).distinct()


def connected_components(edges: DataFrame,
                         max_iter: int = 25) -> DataFrame:
    """(id, comp) for every node in `edges`; comp = min id reachable.

    Alternating large-star/small-star (the public MapReduce
    connected-components algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond") — two equi-joins + two
    aggregations per round, converging in O(log n) rounds on ANY graph
    shape: near-clique duplicate groups finish in 2 rounds and a
    10^6-node boilerplate chain in ~20, where plain min-label
    propagation needs O(diameter) full passes.  localCheckpoint
    truncates lineage per round; convergence = the edge set reached a
    fixed point (subset + count equality — an exact set check, not a
    heuristic hash).  No external graph lib.
    """
    e = (edges.select(F.col("id_a").alias("src"),
                      F.col("id_b").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint())
    nodes = (edges.select(F.col("id_a").alias("id"))
             .union(edges.select(F.col("id_b").alias("id")))
             .distinct())
    converged = e.isEmpty()
    if not converged:
        n_prev = e.count()
        for _ in range(max_iter):
            new = _small_star(_large_star(e)).localCheckpoint()
            n_new = new.count()
            # small_star output is canonically oriented (src > dst), so
            # set equality ⇔ (new ⊆ e) ∧ (|new| == |e|)
            if n_new == n_prev and new.subtract(e).isEmpty():
                converged = True
                e = new
                break
            e, n_prev = new, n_new
    if not converged:
        # returning unconverged labels would silently keep verified
        # duplicates (distant chain members carry different comps)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"rounds; raise max_iter")
    # fixed point is a set of stars (src → component-min): stars give
    # every non-min node its label; min nodes (and isolated self-loop
    # inputs) label themselves
    labels = e.select(F.col("src").alias("id"), F.col("dst").alias("comp"))
    centers = (nodes.join(labels, "id", "left_anti")
               .select("id", F.col("id").alias("comp")))
    return labels.union(centers)


def minhash_dedup_components(df: DataFrame, id_col: str, text_col: str,
                             k: int = 3, n_hashes: int = 16,
                             bands: int = 4,
                             threshold: float = 0.5) -> DataFrame:
    """End-to-end MinHash dedup: LSH candidates → exact-Jaccard verify
    → connected components.  Returns (id, comp) for every member of a
    verified duplicate group (comp = group min id = the survivor).

    The shingle array is built once and shared by the signature
    (map-side array form) and verify (exploded form) stages — one
    corpus scan, and no shuffle before the band join."""
    arr = word_shingle_array(df, id_col, text_col, k)
    sig = minhash_signatures_from_array(arr, id_col, n_hashes) \
        .repartition(id_col)
    cand = lsh_candidate_pairs(sig, id_col, n_hashes, bands)
    sh = arr.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    edges = jaccard_verify_pairs(df, cand, id_col, text_col, k,
                                 threshold, shingles=sh)
    return connected_components(edges)


def minhash_dedup_survivors(df: DataFrame, id_col: str, text_col: str,
                            k: int = 3, n_hashes: int = 16,
                            bands: int = 4,
                            threshold: float = 0.5) -> DataFrame:
    """The keep-table: drops every verified near-duplicate whose id is
    not its group's minimum (exact_dedup's analogue for near-dups)."""
    comp = minhash_dedup_components(df, id_col, text_col, k, n_hashes,
                                    bands, threshold)
    drop = (comp.filter(F.col("comp") != F.col("id"))
            .select(F.col("id").alias(id_col)))
    return df.join(drop, [id_col], "left_anti")


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash from token md5s — pure bit arithmetic, no UDF.

    Token hash = first 15 hex chars of md5(token) as a 60-bit int
    (15, not 16: 60 bits always fits signed BIGINT, which the DuckDB
    oracle's CAST requires); fingerprint bit b = sign of
    Σ_tokens (±1 depending on hash bit b).
    """
    toks = (df.select(F.col(id_col),
                      F.explode(tokens(text_col)).alias("tok"))
            .filter(F.col("tok") != ""))
    toks = toks.select(id_col, md5_long("tok", 15).alias("h"))
    # per-bit balance: sum(+1/-1) over tokens (60 bits from 15 hex chars)
    bit_sums = [F.sum(F.when(F.shiftright(F.col("h"), b)
                             .bitwiseAND(F.lit(1)) == 1, 1)
                      .otherwise(-1)).alias(f"s{b}") for b in range(60)]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(60):
        bit = F.when(F.col(f"s{b}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(F.col(id_col), fp.alias("simhash"))


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95,
                            sample_mod: int | None = None,
                            n_planes: int = 4, seed: int = 7,
                            dim: int = 64,
                            brute_force: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Default path (100 TB shape): sign-LSH bucket each vector once
    (map-side literal-matrix projections, similarity.plane_weights),
    then an *equi* self-join on the bucket id — candidate fan-out is
    per-bucket, never all-pairs.  True near-duplicates (cos ≳ 0.95)
    agree on almost every sign bit, so per-plane collision probability
    is 1 - θ/π ≈ 0.9+ and recall stays high (asserted in tests on
    planted duplicates).  Size 2^n_planes to corpus/bucket-occupancy.

    brute_force=True keeps the exact O(N²) inequality join — the
    recall oracle for tests, never the default.
    """
    from .similarity import hyperplane_signs

    e = df.select(F.col(id_col), F.col(vec_col))
    if sample_mod:
        e = e.filter(F.col(id_col) % sample_mod == 0)
    norm = F.sqrt(F.aggregate(F.transform(F.col(vec_col), lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))
    e = e.withColumn("_norm", norm)
    if not brute_force:
        e = hyperplane_signs(e, vec_col, n_planes, seed, dim)
    a = e.alias("a")
    b = e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    # try_divide: zero-norm embeddings yield NULL cosine (dropped by
    # the threshold filter) instead of an ANSI divide-by-zero abort
    cos = F.try_divide(dot, F.col("a._norm") * F.col("b._norm"))
    if brute_force:
        joined = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    else:
        joined = a.join(b, "bucket").filter(
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (joined
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.round(cos, 5).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def span_dup_coverage(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    distinct word k-shingles that also occur in at least one other
    document.

    The corpus-curation metric behind span-level dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): a
    high dup_frac marks boilerplate/templated or near-copied documents
    even when no single pair crosses a Jaccard threshold — the usual
    policy is to drop or down-weight docs above a coverage cutoff.

    Plan (100 TB shape): shingles are built map-side (zip_with chain,
    zero shuffle), then ONE groupBy(shingle) computes document
    frequency (shingles are already distinct per doc, so COUNT(*) is
    the doc frequency; partial agg combines map-side), and ONE
    shuffle join brings df back to (doc, shingle) rows for the per-doc
    rollup.  No self-join, no candidate explosion — cost is linear in
    total shingle volume, the same envelope as the MinHash signature
    stage.
    """
    sh = word_shingles(df, id_col, text_col, k)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    per = (sh.join(dfreq, "shingle")
           .groupBy(id_col)
           .agg(F.count("*").alias("n_shingles"),
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                .alias("n_dup")))
    return per.select(
        F.col(id_col), "n_shingles", "n_dup",
        F.round(F.col("n_dup") / F.col("n_shingles"), 5)
        .alias("dup_frac"))
