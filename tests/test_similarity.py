"""Similarity-search tests: brute-force top-k, LSH recall, IVF recall."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from opentelemetry_collector_spark.operators.similarity import (
    cosine,
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    rp_lsh_pairs,
)

DIM = 8
N = 60


def _vecs():
    rng = np.random.RandomState(7)
    base = rng.randn(N, DIM).astype(np.float64)
    # plant near-dups: vec 1 ≈ vec 0, vec 11 ≈ vec 10
    base[1] = base[0] + 0.01 * rng.randn(DIM)
    base[11] = base[10] + 0.01 * rng.randn(DIM)
    return base


@pytest.fixture(scope="module")
def emb(spark):
    vs = _vecs()
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    rows = [(i, [float(x) for x in vs[i]]) for i in range(N)]
    return spark.createDataFrame(rows, schema)


def _np_cosine(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_matches_numpy(spark, emb):
    vs = _vecs()
    row = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .where((F.col("a.vec_id") == 0) & (F.col("b.vec_id") == 5))
        .select(cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"))
        .collect()[0]
    )
    # float32 storage → compare at 1e-6
    assert math.isclose(row["c"], _np_cosine(vs[0], vs[5]), abs_tol=1e-5)


def test_topk_matches_numpy_bruteforce(emb):
    vs = _vecs()
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [r["vec_id"] for r in cosine_topk(emb, queries, k=3).orderBy("rank").collect()]
    sims = [( _np_cosine(vs[0], vs[j]), j) for j in range(N) if j != 0]
    expect = [j for _, j in sorted(sims, key=lambda t: (-round(t[0], 6), t[1]))[:3]]
    assert got == expect
    assert got[0] == 1  # the planted near-dup is rank 1


def test_cosine_pairs_finds_planted(emb):
    pairs = {(r["v1"], r["v2"]) for r in cosine_pairs(emb, threshold=0.99).collect()}
    assert (0, 1) in pairs and (10, 11) in pairs


def test_rp_lsh_recall_on_planted(emb):
    pairs = {(r["v1"], r["v2"]) for r in rp_lsh_pairs(emb, threshold=0.99, dim=DIM).collect()}
    # near-identical vectors agree on every hyperplane → always candidates
    assert (0, 1) in pairs and (10, 11) in pairs


def test_rp_lsh_precision_is_exact(emb):
    exact = {(r["v1"], r["v2"]) for r in cosine_pairs(emb, threshold=0.9).collect()}
    lsh = {(r["v1"], r["v2"]) for r in rp_lsh_pairs(emb, threshold=0.9, dim=DIM).collect()}
    assert lsh.issubset(exact)  # verification step guarantees precision 1.0


def test_ivf_topk_recall(emb):
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=3, n_cells=4, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # probing half the cells on clustered data
    # the planted near-dup must be found even approximately
    assert (0, 1) in approx


def test_lsh_cell_dedup_drops_planted_dups_and_partitions(emb):
    from opentelemetry_collector_spark.operators.similarity import lsh_cell_dedup

    out = lsh_cell_dedup(emb, threshold=0.95, dim=DIM, planes=2).collect()
    assert len(out) == N  # one row per input vector
    by_id = {r["vec_id"]: r for r in out}
    vs = _vecs()

    def cos(i, j):
        return float(
            np.dot(vs[i], vs[j]) / (np.linalg.norm(vs[i]) * np.linalg.norm(vs[j]))
        )

    # the planted near-identical pairs share any sign-LSH cell (cos≈1 ⇒
    # same side of every plane) so the higher id must be dropped with the
    # lower id as its representative
    for keep, drop in ((0, 1), (10, 11)):
        assert by_id[keep]["cell"] == by_id[drop]["cell"]
        assert by_id[keep]["kept"] and by_id[keep]["dup_of"] is None
        assert not by_id[drop]["kept"] and by_id[drop]["dup_of"] == keep
    # every drop is justified: dup_of is a same-cell lower id above τ
    for r in out:
        if not r["kept"]:
            d = r["dup_of"]
            assert d < r["vec_id"]
            assert by_id[d]["cell"] == r["cell"]
            assert cos(d, r["vec_id"]) >= 0.95


def test_lsh_cell_dedup_keeps_zero_norm_vectors(spark):
    from opentelemetry_collector_spark.operators.similarity import lsh_cell_dedup

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in lsh_cell_dedup(df, threshold=0.9, dim=2, planes=1).collect()}
    assert rows[0]["kept"] and not rows[1]["kept"] and rows[1]["dup_of"] == 0
    # NULL cosine against everything — never dropped
    assert rows[2]["kept"]


def test_lsh_cell_dedup_auto_planes_grow_with_corpus(spark):
    """planes=None sizes the cell grid from the corpus: cell count grows
    as the corpus grows, so per-cell pair work stays ~target_cell_rows²
    instead of n²/constant (the fixed-planes scale trap)."""
    import pyspark.sql.functions as F

    from opentelemetry_collector_spark.operators.similarity import lsh_cell_dedup

    def mk(n):
        return spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.pmod(F.col("id") * i, F.lit(97)) / F.lit(97.0) - 0.5),
            ).alias("embedding"),
        )

    small = lsh_cell_dedup(mk(200), dim=8, target_cell_rows=50)
    big = lsh_cell_dedup(mk(3200), dim=8, target_cell_rows=50)
    n_cells_small = small.select("cell").distinct().count()
    n_cells_big = big.select("cell").distinct().count()
    # 200/50 → 4 planes (16 possible cells); 3200/50 → 6 planes (64)
    assert n_cells_big > n_cells_small
    assert big.count() == 3200  # every vector still classified


def test_sq8_quantization_shape(spark, emb):
    from opentelemetry_collector_spark.operators.similarity import quantize_sq8

    rows = emb.select(
        "vec_id", quantize_sq8(F.col("embedding")).alias("q")
    ).collect()
    for r in rows:
        assert max(abs(x) for x in r["q"]) == 127  # max component hits full scale
        assert all(-127 <= x <= 127 for x in r["q"])
    # all-zero vector → NULL codes, not a divide-by-zero abort
    z = spark.createDataFrame(
        [(99, [0.0] * DIM)], "vec_id long, embedding array<double>"
    )
    assert z.select(quantize_sq8(F.col("embedding")).alias("q")).first()["q"] == [
        None
    ] * DIM


def test_sq8_topk_recall_and_rerank_exactness(emb):
    from opentelemetry_collector_spark.operators.similarity import sq8_topk

    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(emb, queries, k=3).collect()
    approx = sq8_topk(emb, queries, k=3, rerank_factor=4).collect()
    e = {(r["query_id"], r["vec_id"]): r["sim"] for r in exact}
    a = {(r["query_id"], r["vec_id"]): r["sim"] for r in approx}
    recall = len(set(e) & set(a)) / len(e)
    assert recall >= 2 / 3  # int8 on 8-dim gaussians keeps most of top-3
    # survivors carry EXACT cosine (the re-rank is float, not quantized)
    for key in set(e) & set(a):
        assert a[key] == e[key]
    assert (0, 1) in a  # planted near-dup survives quantization


def test_sq8_topk_deterministic(emb):
    from opentelemetry_collector_spark.operators.similarity import sq8_topk

    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run():
        return sorted(
            (r["query_id"], r["rank"], r["vec_id"])
            for r in sq8_topk(emb, queries, k=3).collect()
        )

    assert run() == run()


def test_lloyds_properties():
    """Driver-side KMeans: deterministic under a fixed seed, returns k
    centers, and separates well-separated clusters."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import _lloyds

    rng = np.random.RandomState(3)
    blobs = np.concatenate(
        [rng.randn(80, 4) + off for off in (0.0, 20.0, -20.0, 40.0)]
    )
    c1 = _lloyds(blobs, 4, seed=42, max_iter=10)
    c2 = _lloyds(blobs, 4, seed=42, max_iter=10)
    assert np.array_equal(c1, c2)  # bit-deterministic
    assert c1.shape == (4, 4)
    # each true blob center has a fitted center within 2.0
    for off in (0.0, 20.0, -20.0, 40.0):
        d = np.linalg.norm(c1 - off, axis=1).min()
        assert d < 2.0, (off, d)
    # degenerate inputs
    few = blobs[:3]
    assert _lloyds(few, 8, seed=1, max_iter=5).shape == (3, 4)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty corpus"):
        _lloyds(blobs[:0], 4, seed=1, max_iter=5)


def test_sq8_quantization_error_bound(spark):
    """|x − q·scale| ≤ scale/2 per component (round-to-nearest on the
    symmetric grid) — the estimator error the re-rank absorbs."""
    import numpy as np

    from opentelemetry_collector_spark.operators.similarity import quantize_sq8

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = df.select("embedding", quantize_sq8(F.col("embedding")).alias("q")).collect()
    for r in got:
        x = np.asarray(r["embedding"])
        q = np.asarray(r["q"], dtype=np.float64)
        scale = np.abs(x).max() / 127.0
        assert np.all(np.abs(x - q * scale) <= scale / 2 + 1e-12)


def test_assign_cells_nearest_center_with_tie_break(spark):
    from opentelemetry_collector_spark.operators.similarity import assign_cells

    centers = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]]
    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [9.0, 1.0]), (3, [1.0, 9.0]), (4, [5.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["cell"] for r in assign_cells(df, centers).collect()}
    # vec 4 is equidistant from centers 0 and 1 -> lowest index wins
    assert got == {1: 0, 2: 1, 3: 2, 4: 0}


def test_cluster_balanced_sample_quota_and_determinism(spark):
    from opentelemetry_collector_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    centers = [[0.0, 0.0], [10.0, 10.0]]
    rows = [(i, [0.0 + i % 3, 0.0]) for i in range(20)] + [
        (100 + i, [10.0, 10.0 - i % 2]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cluster_balanced_sample(df, centers, per_cell_k=4).collect()
    by_cell = {}
    for r in got:
        by_cell.setdefault(r["cell"], []).append(r)
    # full quota where the cell is big, whole cell where it is small
    assert len(by_cell[0]) == 4
    assert len(by_cell[1]) == 4
    assert all(1 <= r["cell_rank"] <= 4 for r in got)
    again = cluster_balanced_sample(df, centers, per_cell_k=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # quota larger than the cell returns the whole cell, ranks dense
    allc = cluster_balanced_sample(df, centers, per_cell_k=100).collect()
    assert len(allc) == 25
    import pytest

    with pytest.raises(ValueError):
        cluster_balanced_sample(df, centers, per_cell_k=0)


def test_cluster_balanced_sample_empty_input(spark):
    from opentelemetry_collector_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    df = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    assert cluster_balanced_sample(df, [[0.0, 0.0]], per_cell_k=3).count() == 0


def test_assign_cells_contract_edges(spark):
    import pytest

    from opentelemetry_collector_spark.operators.similarity import (
        assign_cells,
        cluster_balanced_sample,
    )

    # null and dimension-mismatched vectors are DROPPED, never cell=NULL
    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, None), (3, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    got = assign_cells(df, [[0.0, 0.0], [5.0, 5.0]]).collect()
    assert [r["vec_id"] for r in got] == [1]
    assert got[0]["cell"] == 0
    sel = cluster_balanced_sample(df, [[0.0, 0.0], [5.0, 5.0]], per_cell_k=5)
    assert [r["vec_id"] for r in sel.collect()] == [1]
    # empty / ragged / oversized center lists are refused loudly
    with pytest.raises(ValueError, match="non-empty"):
        assign_cells(df, [])
    with pytest.raises(ValueError, match="dimension"):
        assign_cells(df, [[0.0, 0.0], [1.0]])
    with pytest.raises(ValueError, match="caps at"):
        assign_cells(df, [[0.0, 0.0]] * 2000)


def test_assign_cells_drops_vectors_with_null_elements(spark):
    """A vector holding a NULL element is dropped like a NULL vector: it
    must not form a ``cell = NULL`` quota group, and the DuckDB twin of
    the sampling suite applies the same filter."""
    import duckdb

    from opentelemetry_collector_spark.operators.similarity import (
        assign_cells,
        cluster_balanced_sample,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [None, 1.0]), (3, [4.0, None]), (4, [5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    centers = [[0.0, 0.0], [5.0, 5.0]]
    got = {r["vec_id"]: r["cell"] for r in assign_cells(df, centers).collect()}
    assert got == {1: 0, 4: 1}
    sel = cluster_balanced_sample(df, centers, per_cell_k=5).collect()
    assert sorted(r["vec_id"] for r in sel) == [1, 4]

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["sampling_suite"]
    start = sql.index("cbsv AS (") + len("cbsv AS (")
    cbsv = sql[start : sql.index("), cbsk AS (")]
    con = duckdb.connect()
    dim = len(entry._CBS_CENTERS[0])
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.execute(
        "INSERT INTO embeddings VALUES (1, ?), (2, ?), (3, NULL), (4, ?)",
        [[1.0] * dim, [None] + [1.0] * (dim - 1), [1.0] * (dim - 1)],
    )
    kept = sorted(r[0] for r in con.execute(cbsv).fetchall())
    assert kept == [1]
