"""Dedup/similarity operator tests: recall on planted near-duplicates,
plan shapes (no cartesian in the default paths), and shingle semantics.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from varint_rvv_spark.operators.dedup import (
    embedding_neardup_pairs,
    word_shingles,
)
from varint_rvv_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
    plane_weights,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def planted(spark):
    """80 vectors: 40 random bases + a near-identical twin for each
    (cos > 0.9999).  True near-dup pairs are exactly (2i, 2i+1)."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        twin = base + rng.normal(size=64) * 0.003
        twin /= np.linalg.norm(twin)
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df


def test_bucketed_neardup_recall_on_planted_dupes(spark, planted):
    truth = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(
        planted, threshold=0.95, brute_force=True).collect()}
    assert len(truth) >= 40  # every planted twin pair is above 0.95
    got = {(r.id_a, r.id_b) for r in embedding_neardup_pairs(
        planted, threshold=0.95, n_planes=4, dim=64).collect()}
    assert got <= truth  # bucketing never invents pairs
    recall = len(got & truth) / len(truth)
    assert recall >= 0.85, f"recall {recall:.2f}"


def test_bucketed_neardup_has_no_cartesian(spark, planted):
    plan = plan_of(embedding_neardup_pairs(planted, threshold=0.95))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_topk_multiprobe_recall(spark, planted):
    """Each probe's true #1 neighbor (its twin) must be found."""
    probes = planted.filter(F.col("vec_id").isin(0, 2, 4, 6, 8, 10))
    exact = cosine_topk(planted, probes, k=1).collect()
    approx = lsh_cosine_topk(planted, probes, k=1, n_planes=6,
                             dim=64, n_flip=2).collect()
    exact_top = {(r.probe_id, r.vec_id) for r in exact}
    approx_top = {(r.probe_id, r.vec_id) for r in approx}
    recall = len(exact_top & approx_top) / len(exact_top)
    assert recall >= 0.8, f"recall@1 {recall:.2f}"


def test_trained_ivf_recall(spark, planted):
    """k-means-trained IVF with nprobe=2 finds each probe's twin."""
    from varint_rvv_spark.operators.similarity import (
        ivf_topk,
        train_centroids,
    )

    cents = train_centroids(planted, k=8, sample_n=80, seed=7)
    rows = cents.collect()
    assert len(rows) == 8
    norms = [sum(x * x for x in r.embedding) for r in rows]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)  # unit centroids
    probes = planted.filter(F.col("vec_id").isin(0, 2, 4, 6, 8, 10))
    exact = {(r.probe_id, r.vec_id)
             for r in cosine_topk(planted, probes, k=1).collect()}
    approx = {(r.probe_id, r.vec_id)
              for r in ivf_topk(planted, probes, cents, k=1,
                                nprobe=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@1 {recall:.2f}"
    # determinism: same seed → same centroids
    again = train_centroids(planted, k=8, sample_n=80, seed=7).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_plane_weights_deterministic_and_centered():
    w = plane_weights(4, 64, seed=7)
    assert w == plane_weights(4, 64, seed=7)
    flat = [x for row in w for x in row]
    assert all(-2047.5 <= x <= 2048.5 for x in flat)
    assert abs(sum(flat) / len(flat)) < 300  # roughly centered
    assert all(x == int(x) + 0.5 or x == int(x) - 0.5 or x * 2 % 1 == 0
               for x in flat)  # exact .5-grid doubles


def test_connected_components_known_graph(spark):
    from varint_rvv_spark.operators.dedup import connected_components

    # two components {1,2,3,9} (chain 9-1-2-3) and {5,7}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 9), (5, 7)], "id_a long, id_b long")
    got = {(r.id, r.comp) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (7, 5)}


def test_minhash_survivors_drop_only_nonmin(spark):
    from varint_rvv_spark.operators.dedup import minhash_dedup_survivors

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base + " tail"), (3, "completely different "
             "words nothing shared here at all in any way truly"),
            (4, base)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  minhash_dedup_survivors(df, "doc_id", "text").collect())
    assert kept == [1, 3]  # 2 and 4 are near-dups of 1; 3 untouched


def test_word_shingles_matches_naive(spark):
    docs = [(1, "a b c d e"), (2, "a b"), (3, ""), (4, "x y z x y z"),
            (5, "  lead and trail  ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.shingle)
           for r in word_shingles(df, "doc_id", "text", k=3).collect()}
    want = set()
    for did, text in docs:
        toks = text.split()
        for i in range(len(toks) - 2):
            want.add((did, " ".join(toks[i:i + 3])))
    assert got == want


def test_ivf_index_partition_pruning(spark, planted, tmp_path):
    """Written IVF index: probes scan only their nprobe list
    partitions (PartitionFilters at the parquet scan), and results
    equal the in-memory ivf_topk."""
    from varint_rvv_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        train_centroids,
        write_ivf_index,
    )

    root = str(tmp_path / "ivf")
    cents = train_centroids(planted, k=8, sample_n=80, seed=7)
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    write_ivf_index(planted, cents, root)
    probes = planted.filter(F.col("vec_id").isin(0, 2, 4))
    out = ivf_topk_from_index(spark, root, probes, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    got = {(r.probe_id, r.vec_id, r.cosine) for r in out.collect()}
    want = {(r.probe_id, r.vec_id, r.cosine) for r in
            ivf_topk(planted, probes, cents, k=3, nprobe=2).collect()}
    assert got == want


def test_minhash_signatures_array_form_matches_groupby(spark):
    """Map-side array signatures == exploded groupBy signatures, and
    the array form has zero Exchange in its plan."""
    from varint_rvv_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_from_array,
        word_shingle_array,
        word_shingles,
    )

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 80))  # limit() would inject its
    # own SinglePartition Exchange and mask the plan assertion
    arr = word_shingle_array(docs, "doc_id", "text", 3)
    a = minhash_signatures_from_array(arr, "doc_id", 16)
    b = minhash_signatures(word_shingles(docs, "doc_id", "text", 3),
                           "doc_id", 16)
    assert "Exchange" not in plan_of(a)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_minhash_xxhash64_path_equivalent_statistics(spark):
    """The native-hash production path (hash_fn="xxhash64"): identical
    texts still collapse to identical signatures (exact-dup property
    is hash-agnostic), signatures stay in the 28-bit mix domain, and
    the LSH pipeline finds the planted near-dup pair just like the
    md5 oracle path."""
    from varint_rvv_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_from_array,
        word_shingle_array,
    )

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again until it is thoroughly bored of jumping")
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " with one extra tail"),
         (3, "an entirely different document about spark shuffles "
             "and columnar compression with no overlap at all")],
        "doc_id long, text string")
    arr = word_shingle_array(docs, "doc_id", "text", 3)
    sig = minhash_signatures_from_array(arr, "doc_id", 16,
                                        hash_fn="xxhash64")
    rows = {r[0]: tuple(r[1:]) for r in sig.collect()}
    assert rows[0] == rows[1]                      # exact dup
    assert rows[0] != rows[3]                      # unrelated differs
    assert all(0 <= v < (1 << 63) for v in rows[0])
    pairs = {tuple(sorted((r.a, r.b))) for r in
             minhash_lsh_pairs(docs, "doc_id", "text",
                               hash_fn="xxhash64")
             .selectExpr("id_a as a", "id_b as b").collect()}
    assert (0, 1) in pairs
    with pytest.raises(ValueError, match="unknown shingle hash"):
        minhash_signatures_from_array(arr, "doc_id", 16,
                                      hash_fn="crc32").collect()


def test_cosine_topk_two_phase_exact_and_bounded(spark, planted):
    """The two-phase exact top-k must (a) equal the naive full-window
    ranking and (b) leave the scan stage with ≤ k rows per probe per
    partition — the 100 TB shape (no full-corpus reducer funnel)."""
    from pyspark.sql.window import Window

    from varint_rvv_spark.operators.similarity import cosine_topk_partials

    corpus = planted.repartition(4)
    probes = planted.filter(F.col("vec_id") < 3)
    k = 7
    got = {(r.probe_id, r.vec_id, r.cosine, r.rk)
           for r in cosine_topk(corpus, probes, k=k).collect()}

    # naive oracle: score everything, one window
    p = probes.select(F.col("vec_id").alias("probe_id"),
                      F.col("embedding").alias("probe_vec"))
    from varint_rvv_spark.functions import vec_dot, vec_norm
    j = planted.crossJoin(F.broadcast(p)) \
        .filter(F.col("vec_id") != F.col("probe_id"))
    cos = F.round(vec_dot("embedding", "probe_vec")
                  / (vec_norm("embedding") * vec_norm("probe_vec")), 5)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    want = {(r.probe_id, r.vec_id, r.cosine, r.rk)
            for r in j.select("probe_id", "vec_id", cos.alias("cosine"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k).collect()}
    assert got == want

    part = cosine_topk_partials(corpus, probes, k=k)
    n_parts = corpus.rdd.getNumPartitions()
    assert part.count() <= k * n_parts * 3
    # per (probe, partition-batch) the kernel keeps at most k
    per_probe = part.groupBy("probe_id").count().collect()
    assert all(r["count"] <= k * n_parts for r in per_probe)


def test_cosine_topk_partials_are_map_side(spark, planted):
    """Phase 1 (score + local top-k) must be shuffle-free: broadcast
    probe join + mapInArrow only."""
    from varint_rvv_spark.operators.similarity import cosine_topk_partials

    probes = planted.filter(F.col("vec_id") < 3)
    plan = plan_of(cosine_topk_partials(planted, probes, k=5))
    # a BroadcastExchange (the probe set) is fine; a shuffle is not
    assert plan.count("Exchange") == plan.count("BroadcastExchange")
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_connected_components_long_chain(spark):
    """A 50-node path converges in O(log n) star rounds — the shape
    that breaks O(diameter) label propagation."""
    from varint_rvv_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long")
    got = {(r.id, r.comp) for r in
           connected_components(edges, max_iter=12).collect()}
    assert got == {(i, 0) for i in range(50)}


def test_connected_components_shuffled_ids_and_pairs(spark):
    from varint_rvv_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(100, 7), (7, 55), (300, 200), (200, 100), (9, 9), (42, 41)],
        "id_a long, id_b long")
    got = {(r.id, r.comp) for r in connected_components(edges).collect()}
    assert got == {(7, 7), (55, 7), (100, 7), (200, 7), (300, 7),
                   (9, 9), (41, 41), (42, 41)}


def test_ngram_jaccard_doc_freq_cap(spark):
    """A boilerplate shingle shared by every doc must not create the
    quadratic fan-out: with the cap it is dropped from BOTH sides of
    the Jaccard, so boilerplate-only pairs vanish while real near-dup
    pairs survive with the capped-universe Jaccard."""
    from varint_rvv_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    boiler = "all rights reserved"
    docs = [(i, f"{boiler} unique{i} token{i} filler{i} pad{i}")
            for i in range(20)]
    # one real near-dup pair sharing everything but one token
    docs += [(100, boiler + " same same same same extra one"),
             (101, boiler + " same same same same extra two")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    pairs = ngram_jaccard_pairs(df, "doc_id", "text", k=3,
                                threshold=0.3, max_doc_freq=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(100, 101)}

    # the capped shingle is really gone before the join
    sh = word_shingles(df, "doc_id", "text", k=3)
    df_counts = sh.groupBy("shingle").count()
    hot = {r.shingle for r in
           df_counts.filter(F.col("count") > 10).collect()}
    assert boiler in hot  # the planted boilerplate is above the cap
    # uncapped: the boilerplate joins every doc pair that shares it —
    # with the cap the intersect join fan-out is bounded by df² of the
    # surviving shingles only
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", k=3,
                                   threshold=0.3, max_doc_freq=None)
    assert uncapped.count() >= 1  # still exact when explicitly asked


def test_hyperplane_dim_mismatch_raises(spark):
    """dim != embedding length must fail loudly, not degenerate every
    row into bucket 0 (ADVICE round-2)."""
    from py4j.protocol import Py4JJavaError

    from varint_rvv_spark.operators.similarity import hyperplane_signs

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id long, embedding array<float>")
    with pytest.raises((Py4JJavaError, Exception)) as exc:
        hyperplane_signs(df, "embedding", n_planes=4, dim=8).collect()
    assert "dim" in str(exc.value)


def test_cosine_topk_excludes_nan_and_null_embeddings(spark, planted):
    """Zero-norm and NULL embeddings (padding artifacts) must be
    excluded from the exact top-k, not ranked first by
    NaN-sorts-greatest window semantics."""
    bad = spark.createDataFrame(
        [(900, [0.0] * 64), (901, None)],
        "vec_id long, embedding array<float>")
    corpus = planted.union(bad).repartition(4)
    probes = planted.filter(F.col("vec_id") < 2)
    got = cosine_topk(corpus, probes, k=5).collect()
    ids = {r.vec_id for r in got}
    assert 900 not in ids and 901 not in ids
    assert all(r.cosine == r.cosine for r in got)  # no NaN survives
    assert len(got) == 10  # 5 per probe, unaffected


def test_lsh_pipelines_degrade_on_null_embedding(spark, planted):
    """A NULL embedding row must not abort the LSH pipelines — it
    degrades to null projections and drops out of thresholded joins;
    only a wrong-length vector raises."""
    bad = spark.createDataFrame([(902, None)],
                                "vec_id long, embedding array<float>")
    corpus = planted.union(bad)
    pairs = embedding_neardup_pairs(corpus, threshold=0.95,
                                    n_planes=4, dim=64).collect()
    assert all(902 not in (r.id_a, r.id_b) for r in pairs)


def test_span_dup_coverage_planted(spark):
    """Planted shared span: docs sharing a 5-word run are flagged with
    the exact shingle counts; a unique doc gets dup_frac 0."""
    from varint_rvv_spark.operators.dedup import span_dup_coverage

    shared = "the quick brown fox jumps"
    rows = [
        (1, f"{shared} over the lazy dog"),
        (2, f"once upon a time {shared} again here"),
        (3, "completely unrelated words in this document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           span_dup_coverage(df, "doc_id", "text", k=3).collect()}
    # doc 1: 7 trigrams, the 3 inside the shared 5-gram are duplicated
    assert out[1].n_shingles == 7 and out[1].n_dup == 3
    assert out[2].n_dup == 3
    assert out[3].n_dup == 0 and out[3].dup_frac == 0.0


def test_ngram_decontaminate_semantics_and_plan(spark):
    """Planted contamination: a corpus doc embedding a benchmark
    5-gram is flagged with exact hit counts; clean and too-short docs
    are absent.  The corpus side is ONE map stage (r6 Arrow kernel —
    no Exchange at all: the benchmark shingle set travels in the
    kernel's closure and un-matched corpus rows never shuffle)."""
    from varint_rvv_spark.operators.dedup import ngram_decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "prefix words alpha beta gamma delta epsilon more tail"),
         (1, "a completely unrelated training document with no "
             "benchmark overlap whatsoever in any window"),
         (2, "alpha beta gamma")],  # < k tokens: no shingles
        "doc_id long, text string")
    out = ngram_decontaminate(docs, bench, "doc_id", "text", k=5)
    rows = {r.doc_id: (r.n_shingles, r.n_contaminated)
            for r in out.collect()}
    # doc 0 has 5 distinct 5-grams, exactly one of which ("alpha ...
    # epsilon") appears in the benchmark text's shingle set
    assert rows == {0: (5, 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_ngram_decontaminate_kernel_matches_join_form(spark):
    """The Arrow counting kernel must be row-identical to the
    reference broadcast-semi-join + groupBy formulation (the pre-r6
    plan, rebuilt inline) on randomized corpora with planted
    overlaps."""
    import random

    from pyspark.sql import functions as F

    from varint_rvv_spark.operators.dedup import (
        ngram_decontaminate,
        word_shingle_array,
    )

    rnd = random.Random(11)
    mk = lambda n: " ".join(rnd.choice("abcdef") for _ in range(n))
    docs = spark.createDataFrame(
        [(i, mk(rnd.randint(0, 20))) for i in range(80)],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(i, mk(rnd.randint(3, 12))) for i in range(10)],
        "doc_id long, text string")
    for k in (2, 3):
        got = ngram_decontaminate(docs, bench, "doc_id", "text", k=k)
        bsh = (word_shingle_array(
            bench.select(F.lit(0).alias("_b"), "text"), "_b", "text", k)
            .select(F.explode("shingles").alias("shingle")).distinct())
        arr = word_shingle_array(docs, "doc_id", "text", k)
        ref = (arr.select("doc_id",
                          F.size("shingles").alias("n_shingles"),
                          F.explode("shingles").alias("shingle"))
               .join(F.broadcast(bsh), "shingle", "left_semi")
               .groupBy("doc_id")
               .agg(F.max("n_shingles").cast("long")
                    .alias("n_shingles"),
                    F.count(F.lit(1)).alias("n_contaminated")))
        a = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, ref.collect()))
        assert a == b, f"k={k}: kernel and join forms diverge"


def test_ngram_decontaminate_makes_no_explicit_broadcast(spark,
                                                         monkeypatch):
    """The benchmark shingle set rides in the kernel's closure: two
    calls create no SparkContext.broadcast, which nothing would
    destroy, and give the same rows."""
    from pyspark import SparkContext

    from varint_rvv_spark.operators.dedup import ngram_decontaminate

    made = []
    real = SparkContext.broadcast

    def counting(self, value):
        made.append(value)
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, "prefix alpha beta gamma delta epsilon zeta tail"),
         (1, "nothing from the benchmark in this one at all")],
        "doc_id long, text string")
    runs = [sorted(map(tuple, ngram_decontaminate(
        docs, bench, "doc_id", "text", k=5).collect())) for _ in range(2)]
    assert runs[0] == runs[1] == [(0, 4, 2)]
    assert made == []


def test_minhash_signatures_arrow_matches_expression_form(spark):
    """minhash_signatures_arrow (dictionary-encoded md5 kernel) must
    emit row-identical signatures to the expression form, including
    dropping sub-k and null docs."""
    import random

    from varint_rvv_spark.operators.dedup import (
        minhash_signatures_arrow,
        minhash_signatures_from_array,
        word_shingle_array,
    )

    rnd = random.Random(13)
    rows = [(0, ""), (1, "a b"), (2, None), (3, "x y z x y z")]
    rows += [(10 + i, " ".join(rnd.choice("abcd")
                               for _ in range(rnd.randint(0, 15))))
             for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = minhash_signatures_arrow(df, "doc_id", "text", 3, 16)
    b = minhash_signatures_from_array(
        word_shingle_array(df, "doc_id", "text", 3), "doc_id", 16)
    assert sorted(map(tuple, a.collect())) == \
        sorted(map(tuple, b.collect()))


def test_repetition_stats_semantics_zero_shuffle(spark):
    """Gopher-style repetition fractions: exact on planted docs, both
    fractions capped at 1.0, sub-k docs zeroed — and the whole
    operator is ONE map stage (no Exchange: the in-row sorted
    run-length lambda replaces the classic explode+groupBy corpus
    shuffle)."""
    from varint_rvv_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(0, "a b a b a b"),    # "a b" x3 of 5 grams, 6 words
         (1, "u v w x y z"),    # all grams distinct
         (2, "solo"),           # fewer than k words
         (3, "r r r r")],       # "r r" x3
        "doc_id long, text string")
    out = repetition_stats(df, "doc_id", "text", k=2)
    rows = {r.doc_id: (r.n_words, r.top_2gram_frac, r.dup_2gram_frac)
            for r in out.collect()}
    assert rows == {0: (6, 1.0, 1.0), 1: (6, 0.33333, 0.0),
                    2: (1, 0.0, 0.0), 3: (4, 1.0, 1.0)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_stats_matches_bruteforce(spark):
    """The run-length aggregate lambda vs a plain Python recount over
    random short docs (alphabet small enough to force collisions;
    doc length <= 13 so no 5th-decimal rounding ties between
    engines)."""
    import random
    import re
    from collections import Counter

    from varint_rvv_spark.operators.text import repetition_stats

    rnd = random.Random(42)
    docs = [(i, " ".join(rnd.choice("abcdefg")
                         for _ in range(rnd.randint(0, 13))))
            for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.top_2gram_frac, r.dup_2gram_frac)
           for r in repetition_stats(df, "doc_id", "text", 2).collect()}
    for doc_id, text in docs:
        toks = re.split(r"\s+", text.strip())  # '' -> [''] like tokens()
        grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)] \
            if len(toks) >= 2 else []
        c = Counter(grams)
        n = len(toks)
        best = max(c.values()) if c else 0
        dup = sum(v for v in c.values() if v > 1)
        exp = (n, round(min(1.0, 2.0 * best / n), 5),
               round(min(1.0, 2.0 * dup / n), 5))
        assert got[doc_id] == exp, (doc_id, text, got[doc_id], exp)


def test_canonical_url_and_dedup(spark):
    """Equivalent URLs collide byte-identically; distinct ones don't;
    malformed URLs never merge."""
    from varint_rvv_spark.operators.text import canonical_url, url_dedup

    cases = [
        (0, "https://WWW.Example.com/a/b/?utm_source=x&id=2#frag"),
        (1, "http://example.com/a/b?id=2&utm_campaign=y"),  # same page
        (2, "https://example.com/a/b?id=3"),                # diff param
        (3, "https://other.org/a/b?id=2"),                  # diff host
        (4, "not a url at all"),                            # malformed
        (5, "https://example.com/c&d=1"),                   # & in path
    ]
    df = spark.createDataFrame(cases, "doc_id long, url string")
    got = {r.doc_id: r.c for r in
           df.select("doc_id", canonical_url("url").alias("c"))
           .collect()}
    assert got[0] == got[1] == "example.com/a/b?id=2"
    assert got[2] == "example.com/a/b?id=3"
    assert got[3] == "other.org/a/b?id=2"
    assert got[4] is None
    assert got[5] == "example.com/c&d=1"
    kept = sorted(r.doc_id for r in
                  url_dedup(df, "url", "doc_id").collect())
    assert kept == [0, 2, 3, 4, 5]  # 1 merged into 0; malformed kept


def test_repetition_stats_kernel_matches_expression_form(spark):
    """The Arrow counting kernel (keep_input=False) and the JVM
    sort+run-length expression form (keep_input=True) are two
    implementations of one definition — they must agree row-for-row,
    including the edge rows: empty text, single token, sub-k docs,
    NULL text, repeated-whitespace runs, and heavy duplication."""
    import random

    from varint_rvv_spark.operators.text import repetition_stats

    rnd = random.Random(7)
    rows = [(0, ""), (1, "a"), (2, "a b"), (3, "a a a a a"),
            (4, None), (5, "  x   y  x y x y  "),
            (6, "q w e r t y u i o p")]
    rows += [(10 + i, " ".join(rnd.choice("abc")
                               for _ in range(rnd.randint(0, 30))))
             for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (2, 3):
        kern = repetition_stats(df, "doc_id", "text", k=k)
        expr = repetition_stats(df, "doc_id", "text", k=k,
                                keep_input=True) \
            .select(*kern.columns)
        a = sorted(map(tuple, kern.collect()))
        b = sorted(map(tuple, expr.collect()))
        assert a == b, f"k={k}: kernel and expression forms diverge"
