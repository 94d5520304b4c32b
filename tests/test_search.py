"""kNN search pipeline tests vs a numpy reference implementation."""

from __future__ import annotations

import math
import struct
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from ndl_core_data_pipeline_spark import search
from ndl_core_data_pipeline_spark.operators._util import double_array_lit
from ndl_core_data_pipeline_spark.operators.vector import hyperplane_matrix


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    return (
        spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"),
        vecs,
    )


def test_cosine_topk_matches_numpy(corpus):
    df, vecs = corpus
    q = vecs[0]
    got = search.cosine_topk(df, [float(x) for x in q], k=10).collect()
    sims = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = np.argsort(-sims, kind="stable")[:10]
    assert [r["vec_id"] for r in got] == list(want)
    for r in got:
        assert abs(r["cos_sim"] - sims[r["vec_id"]]) < 1e-6


def test_elbow_cut_drops_tail(spark):
    # distances: tight cluster then a jump — elbow cuts at the jump
    rows = [(i, 1.0 - d, d) for i, d in enumerate([0.01, 0.02, 0.03, 0.5, 0.52])]
    hits = spark.createDataFrame(rows, "vec_id BIGINT, cos_sim DOUBLE, distance DOUBLE")
    kept = search.elbow_cut(hits).collect()
    assert sorted(r["vec_id"] for r in kept) == [0, 1, 2]


def test_elbow_cut_keeps_uniform(spark):
    rows = [(i, 1.0 - d, d) for i, d in enumerate([0.10, 0.11, 0.12, 0.13])]
    hits = spark.createDataFrame(rows, "vec_id BIGINT, cos_sim DOUBLE, distance DOUBLE")
    assert search.elbow_cut(hits).count() == 4


def test_neighbor_merge(spark):
    chunks = spark.createDataFrame(
        [
            (0, "doc1", 0, "A" * 150),
            (1, "doc1", 1, "B" * 150),
            (2, "doc1", 2, "C" * 150),
            (3, "doc2", 0, "D" * 150),
        ],
        "chunk_id BIGINT, origin_identifier STRING, chunk_index INT, chunk STRING",
    )
    hits = spark.createDataFrame([(1, 0.9)], "chunk_id BIGINT, cos_sim DOUBLE")
    merged = search.neighbor_merge(hits, chunks).collect()[0]["merged_text"]
    # prev trimmed of last 100 chars (keeps 50 As), self, next minus first 100 (keeps 50 Cs)
    assert merged == "A" * 50 + "B" * 150 + "C" * 50
    # boundary chunk: no prev
    hits0 = spark.createDataFrame([(0, 0.8)], "chunk_id BIGINT, cos_sim DOUBLE")
    merged0 = search.neighbor_merge(hits0, chunks).collect()[0]["merged_text"]
    assert merged0 == "A" * 150 + "B" * 50


@pytest.fixture(scope="module")
def chunks(spark):
    return spark.createDataFrame(
        [(i, f"doc{i // 5}", i % 5, f"chunk-{i:02d} " * 30) for i in range(50)],
        "chunk_id BIGINT, origin_identifier STRING, chunk_index INT, chunk STRING",
    )


def test_search_end_to_end(corpus, chunks):
    df, vecs = corpus
    out = search.search(df, chunks, [float(x) for x in vecs[3]], k=10)
    rows = out.collect()
    assert rows, "elbow cut must keep at least the best hit"
    assert rows[0]["chunk_id"] == 3  # self-match is the top hit
    assert "chunk-03" in rows[0]["merged_text"]


def test_ivf_persisted_probe_partition_pruned(spark, corpus, tmp_path):
    # the production path: index written partitioned by cell; a probe must
    # prune to nprobe partitions at the parquet scan, not filter post-read
    df, _ = corpus
    indexed, centers = search.ivf_index(df, n_cells=4)
    path = str(tmp_path / "ivf")
    indexed.write.mode("overwrite").partitionBy("cell").parquet(path)
    persisted = spark.read.parquet(path)
    qvec = df.select("embedding").first()["embedding"]
    hits = search.ivf_search(persisted, centers, [float(v) for v in qvec], nprobe=2, k=5)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    rows = hits.collect()
    assert len(rows) == 5
    assert rows[0]["cos_sim"] == pytest.approx(1.0)  # the query vector itself


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    """60 base vectors each with one noisy twin (pairwise cos ~0.92) plus
    80 unrelated fillers — the ground-truth near-dup workload for the LSH
    recall contract. Deterministic seed: recall floors below are pinned
    measurements, not statistical hopes."""
    rng = np.random.default_rng(42)
    dim, n_base, n_fill = 32, 60, 80
    rows, truth = [], set()
    vid = 0
    for _ in range(n_base):
        v = rng.normal(size=dim)
        v /= np.linalg.norm(v)
        w = v + rng.normal(0, 0.075, size=dim)
        w /= np.linalg.norm(w)
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        if float(v @ w) >= 0.9:
            truth.add((vid, vid + 1))
        vid += 2
    for _ in range(n_fill):
        v = rng.normal(size=dim)
        rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    return df, truth


def _lsh_recall(df, truth, sig_bits, n_bands):
    from ndl_core_data_pipeline_spark.operators.vector import lsh_near_dup_pairs

    got = {
        (r["vec_a"], r["vec_b"])
        for r in lsh_near_dup_pairs(
            df, min_cos=0.9, sig_bits=sig_bits, n_bands=n_bands
        ).collect()
    }
    assert got <= truth  # exact verify: no false positives ever
    return len(got & truth) / len(truth)


def test_lsh_near_dup_recall_production_config(near_dup_corpus):
    # 128-bit / 8×16-bit bands — the at-scale setting: ~n²/65536
    # candidates; on ~0.92-cos twins the banded recall lands ~50-70%
    df, truth = near_dup_corpus
    assert len(truth) >= 40
    assert _lsh_recall(df, truth, sig_bits=128, n_bands=8) >= 0.45


def test_lsh_near_dup_recall_synthetic_config(near_dup_corpus):
    # 16-bit / 4×4-bit bands — the registered-query setting: permissive
    # bands, near-complete recall on 0.9-cos twins
    df, truth = near_dup_corpus
    assert _lsh_recall(df, truth, sig_bits=16, n_bands=4) >= 0.9


def test_lsh_rejects_indivisible_bands(near_dup_corpus):
    from ndl_core_data_pipeline_spark.operators.vector import lsh_near_dup_pairs

    df, _ = near_dup_corpus
    with pytest.raises(ValueError, match="not divisible"):
        lsh_near_dup_pairs(df, min_cos=0.9, sig_bits=128, n_bands=7)


def test_cosine_near_dup_multi_chunk_tiles_match_brute_force(
    spark, tmp_path, monkeypatch
):
    """The cross-chunk gram path of embedding_cosine_near_dup only
    activates when a label block exceeds EMB_GRAM_CHUNK — which never
    happens at the shipped test SFs (max block ~218 at sf0.1 vs chunk
    1024; it's an sf1-only path). Force multi-chunk tiling with a tiny
    chunk size and pin the full output against the brute-force
    all-pairs computation on the same rows: hash-chunk coverage (every
    unordered pair in exactly one tile), diagonal-triangle dedupe, and
    a<b orientation all verified at once."""
    import random

    from pyspark.sql import functions as F

    from ndl_core_data_pipeline_spark.operators import vector as V

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 2) for i in range(60)
    ]
    # pathological rows (second review): a zero vector — its exact
    # cosine is 0/0 = NULL under the session's non-ANSI Divide, so the
    # verify drops its pairs in the gram form exactly as the r6
    # pair-join form did — and a NULL embedding, which must be dropped
    # without crashing the packed-chunk numpy path
    rows.append((60, [0.0] * 8, 0))
    rows.append((61, None, 1))
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    monkeypatch.setattr(V, "EMB_GRAM_CHUNK", 7)  # 60 rows -> ~5 chunks/label
    got = {
        (r["label"], r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in V.embedding_cosine_near_dup(spark, str(tmp_path)).collect()
    }
    from ndl_core_data_pipeline_spark.io import load

    emb = load(spark, str(tmp_path), "embeddings")
    a = emb.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("emb_a")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("emb_b")
    )
    cos = V._dot(F.col("emb_a"), F.col("emb_b")) / (
        V._norm(F.col("emb_a")) * V._norm(F.col("emb_b"))
    )
    want = {
        (r["label"], r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in a.join(b, ["label"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("label", "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= V.EMB_NEAR_DUP_MIN_COS)
        .collect()
    }
    assert want and got == want


# ------------------------------------------------ query literal and plan shape


@contextmanager
def _ansi(spark, enabled: bool):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def _bits(v: float) -> bytes:
    return struct.pack("<d", v)


def test_double_array_lit_round_trips_bit_exact(spark):
    vals = [-0.0, 5e-324, 1e-05, 1.5e300, float("nan"), float("inf"), float("-inf")]
    got = spark.range(1).select(double_array_lit(vals).alias("q")).first()["q"]
    assert [_bits(v) for v in got] == [_bits(v) for v in vals]


def _fold_cos(row, q) -> float:
    """cosine as the executors compute it: left folds from 0.0 in
    element order, then one division."""
    dot = rn = qn = 0.0
    for x, y in zip(row, q):
        dot = dot + float(x) * y
    for x in row:
        rn = rn + float(x) * float(x)
    for y in q:
        qn = qn + y * y
    return dot / (math.sqrt(rn) * math.sqrt(qn))


def test_cosine_topk_equals_sequential_fold(corpus):
    df, vecs = corpus
    q = [float(x) for x in np.random.default_rng(3).normal(size=vecs.shape[1])]
    got = search.cosine_topk(df, q, k=len(vecs)).collect()
    assert len(got) == len(vecs)
    for r in got:
        assert r["cos_sim"] == _fold_cos(vecs[r["vec_id"]], q)


def test_zero_norm_query_raises_under_ansi(spark, corpus):
    df, vecs = corpus
    with _ansi(spark, True), pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        search.cosine_topk(df, [0.0] * vecs.shape[1]).collect()


@pytest.mark.parametrize("ansi", [True, False])
def test_empty_query_yields_null_cos_sim(spark, corpus, ansi):
    df, vecs = corpus
    with _ansi(spark, ansi):
        got = search.cosine_topk(df, [], k=len(vecs)).collect()
    assert len(got) == len(vecs)
    assert all(r["cos_sim"] is None for r in got)


def test_search_build_py4j_calls_independent_of_dim(corpus, chunks, monkeypatch):
    """Building the plan costs a fixed number of JVM round trips: the
    query vector crosses in one call whatever its width."""
    from py4j import clientserver, java_gateway, protocol

    df, _ = corpus
    calls = [0]

    def counting(send):
        def send_command(self, command, *args, **kwargs):
            # proxy releases fire whenever Python frees a JVM handle
            if not command.startswith(protocol.MEMORY_COMMAND_NAME):
                calls[0] += 1
            return send(self, command, *args, **kwargs)

        return send_command

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        monkeypatch.setattr(cls, "send_command", counting(cls.send_command))

    def build_calls(dim: int) -> int:
        q = [float(i % 7) - 3.0 for i in range(dim)]
        search.search(df, chunks, q)  # first use resolves JVM functions
        before = calls[0]
        search.search(df, chunks, q)
        return calls[0] - before

    n8, n512 = build_calls(8), build_calls(512)
    assert n8 > 0 and n8 == n512


def test_search_plan_has_no_range_sort(corpus, chunks):
    """The final best-first ordering is a top-k over the <= k joined
    rows, not a global sort with its range-partition sampling job."""
    from ndl_core_data_pipeline_spark.plans import explain_formatted

    df, vecs = corpus
    out = search.search(df, chunks, [float(x) for x in vecs[3]], k=10)
    rows = out.collect()
    plan = explain_formatted(out)
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("TakeOrderedAndProject") >= 2
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


# ------------------------------------------------------------- LSH buckets


def _lsh_bits_per_element(vec_col, dim: int):
    """lsh_index's bucket built with one F.lit per hyperplane element —
    the form the one-call literal replaced, kept as the reference."""
    planes = hyperplane_matrix(search.N_PLANES, dim)
    bits = []
    for j in range(search.N_PLANES):
        h = F.array(*[F.lit(v) for v in planes[j]])
        h_dot = F.aggregate(
            F.zip_with(vec_col, h, lambda x, hv: x.cast("double") * hv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(h_dot > 0, F.lit(1)).otherwise(F.lit(0)) * (2**j))
    return sum(bits[1:], bits[0]).cast("bigint")


def test_lsh_index_buckets_match_per_element_literals(corpus):
    df, vecs = corpus
    rows = (
        search.lsh_index(df)
        .withColumn("ref", _lsh_bits_per_element(F.col("embedding"), vecs.shape[1]))
        .collect()
    )
    assert len({r["lsh_bucket"] for r in rows}) > 1
    assert [r["lsh_bucket"] for r in rows] == [r["ref"] for r in rows]


def _bucket(v) -> int:
    sig = 0
    for j, h in enumerate(hyperplane_matrix(search.N_PLANES, len(v))):
        acc = 0.0
        for x, hv in zip(v, h):
            acc = acc + x * hv
        if acc > 0:
            sig |= 1 << j
    return sig


def test_ann_topk_probes_every_bucket_within_radius(spark):
    rng = np.random.default_rng(11)
    q = [float(x) for x in rng.normal(size=8)]
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(300)]
    indexed = search.lsh_index(
        spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    )
    qsig = _bucket(q)
    hamming = {i: bin(_bucket(v) ^ qsig).count("1") for i, v in rows}
    found = {}
    for radius in (0, 1, 2, 3):
        found[radius] = {
            r["vec_id"]
            for r in search.ann_topk(
                indexed, q, k=len(rows), probe_hamming=radius
            ).collect()
        }
        assert found[radius] == {i for i, h in hamming.items() if h <= radius}
    # radius 2 reaches vectors that radius 1 misses
    assert found[2] - found[1]


def test_ann_topk_rejects_negative_probe_hamming(corpus):
    df, vecs = corpus
    with pytest.raises(ValueError, match="probe_hamming"):
        search.ann_topk(df, [float(x) for x in vecs[0]], probe_hamming=-1)
