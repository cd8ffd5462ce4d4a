"""Similarity search: brute-force exactness vs numpy, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_topk,
)
from event_pipeline_spark.session import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    # unpersisted at teardown, as in tests/test_dedup.py
    df = read_table(spark, sf_dir, "embeddings").cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def numpy_topk(emb_rows, query_ids, k):
    ids = np.array([r["vec_id"] for r in emb_rows])
    mat = np.array([r["embedding"] for r in emb_rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for qid in query_ids:
        qv = mat_n[ids == qid][0]
        scores = mat_n @ qv
        order = sorted(
            [(s, i) for s, i in zip(scores, ids) if i != qid],
            key=lambda t: (-t[0], t[1]),
        )
        out[qid] = [i for _, i in order[:k]]
    return out


def test_bruteforce_matches_numpy(emb, queries):
    rows = emb.collect()
    expected = numpy_topk(rows, [0, 1, 2, 3, 4], 5)
    got = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    assert by_q == expected


def test_lsh_recall(emb, queries):
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["corpus_id"])
        for r in lsh_topk(emb, queries, k=5, n_planes=4, n_tables=8).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"LSH recall@5 = {recall}"


def test_neardup_pairs_verified(emb):
    rows = embedding_near_duplicates(
        emb, threshold=0.45, n_planes=4, n_tables=8
    ).collect()
    assert all(r["cosine"] >= 0.45 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_ivf_recall(emb, queries):
    from event_pipeline_spark.operators.similarity import ivf_topk, train_centroids

    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    centroids = train_centroids(emb, n_clusters=8)
    assert centroids.shape == (8, 64)
    approx = {
        (r["query_id"], r["corpus_id"])
        for r in ivf_topk(emb, queries, centroids, k=5, n_probe=3).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall@5 = {recall}"

    # a frame with fewer rows than clusters trains one centroid per row
    small = train_centroids(emb.where(F.col("vec_id") < 3), n_clusters=8)
    assert small.shape == (3, 64)
    assert np.allclose(np.linalg.norm(small, axis=1), 1.0)
    with pytest.raises(ValueError, match="empty"):
        train_centroids(emb.where(F.col("vec_id") < 0), n_clusters=8)


def test_kmeans_quality_and_determinism(spark, sf_dir):
    """The fixture's `label` column is NOT geometric (vectors are random;
    a label/cluster cross-tab is uniform), so the check is intrinsic:
    k-means cost (within-cluster SSE) clearly beats random assignment on
    the same data, and a fixed seed reproduces the assignment."""
    from event_pipeline_spark.operators.similarity import cluster_embeddings
    from event_pipeline_spark.session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = cluster_embeddings(emb, "embedding", k=8)
    rows = out.select("vec_id", "embedding", "cluster").collect()

    vecs = np.array([r["embedding"] for r in rows])
    assign = np.array([r["cluster"] for r in rows])

    def sse(labels):
        total = 0.0
        for c in np.unique(labels):
            pts = vecs[labels == c]
            total += ((pts - pts.mean(axis=0)) ** 2).sum()
        return total

    rng = np.random.default_rng(0)
    random_sse = sse(rng.integers(0, 8, len(vecs)))
    assert sse(assign) < 0.97 * random_sse

    again = {
        r["vec_id"]: r["cluster"]
        for r in cluster_embeddings(emb, "embedding", k=8).collect()
    }
    assert again == {r["vec_id"]: r["cluster"] for r in rows}


# -- product quantization (round 3) ------------------------------------------

class TestProductQuantization:
    def test_codes_compress_32x_and_reconstruct(self, spark, emb):
        import numpy as np

        from event_pipeline_spark.operators.similarity import (
            pq_decode_np,
            pq_encode,
            train_pq_codebooks,
        )

        books = train_pq_codebooks(emb, m_subvectors=8)
        assert books.shape == (8, 256, 8)  # 64-dim -> 8 codes of 8 dims
        rows = pq_encode(emb, books).limit(200).collect()
        codes = np.array([r["pq_codes"] for r in rows])
        # 8 one-byte codes stand in for 64 float32s -> 32x
        assert codes.shape[1] == 8 and codes.min() >= 0 and codes.max() < 256
        # reconstruction is close on the unit sphere: mean squared error
        # far below the ~2.0 expected distance of RANDOM unit vectors
        ids = [r["vec_id"] for r in rows]
        orig = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.where(F.col("vec_id").isin(ids)).collect()
        }
        x = np.array([orig[i] for i in ids])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        recon = pq_decode_np(codes, books)
        mse = float(((x - recon) ** 2).sum(axis=1).mean())
        assert mse < 0.5

    def test_pq_topk_recall_against_bruteforce(self, spark, emb):
        import numpy as np

        from event_pipeline_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            train_pq_codebooks,
        )

        books = train_pq_codebooks(emb, m_subvectors=8)
        qv = np.array(
            emb.where(F.col("vec_id") == 0).select("embedding").first()[0],
            dtype=np.float64,
        )
        qv /= np.linalg.norm(qv)
        # exact cosine top-10 (driver-side ground truth over the module's
        # small fixture)
        all_rows = emb.where(F.col("vec_id") != 0).collect()
        mat = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ qv
        truth = {
            all_rows[i]["vec_id"] for i in np.argsort(-sims)[:10]
        }
        got = {
            r["vec_id"]
            for r in pq_topk(
                pq_encode(emb.where(F.col("vec_id") != 0), books),
                qv,
                books,
                top_k=10,
            ).collect()
        }
        # 8-byte codes must keep most of the exact neighborhood
        assert len(got & truth) >= 5

    def test_adc_matches_decoded_distance(self, spark, emb):
        """ADC's table-lookup distance must equal the explicit
        ||q - decode(code)||^2 — the identity that makes the LUT a pure
        optimization, not an approximation on top of quantization."""
        import numpy as np

        from event_pipeline_spark.operators.similarity import (
            pq_decode_np,
            pq_encode,
            pq_topk,
            train_pq_codebooks,
        )

        books = train_pq_codebooks(emb, m_subvectors=8)
        qv = np.array(
            emb.where(F.col("vec_id") == 0).select("embedding").first()[0],
            dtype=np.float64,
        )
        qn = qv / np.linalg.norm(qv)
        encoded = pq_encode(emb.where(F.col("vec_id") != 0), books)
        got = pq_topk(encoded, qv, books, top_k=5).collect()
        code_map = {r["vec_id"]: r["pq_codes"] for r in encoded.collect()}
        for r in got:
            recon = pq_decode_np(
                np.array([code_map[r["vec_id"]]]), books
            )[0]
            want = float(((qn - recon) ** 2).sum())
            assert abs(r["adc_dist"] - want) < 1e-4


def test_ivfpq_recall_against_bruteforce(spark, emb):
    """The composed IVF-probe + PQ-rank path keeps most of the exact
    top-10 despite indexing only (cell, 8-byte code) per row."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import (
        ivfpq_topk,
        train_centroids,
        train_pq_codebooks,
    )

    centroids = train_centroids(emb, n_clusters=8)
    books = train_pq_codebooks(emb, m_subvectors=8)
    qv = np.array(
        emb.where(F.col("vec_id") == 0).select("embedding").first()[0],
        dtype=np.float64,
    )
    qn = qv / np.linalg.norm(qv)
    all_rows = emb.where(F.col("vec_id") != 0).collect()
    mat = np.array([r["embedding"] for r in all_rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    truth = {all_rows[i]["vec_id"] for i in np.argsort(-(mat @ qn))[:10]}
    got = {
        r["vec_id"]
        for r in ivfpq_topk(
            emb.where(F.col("vec_id") != 0), qv, centroids, books, n_probe=3
        ).collect()
    }
    assert len(got & truth) >= 4  # probing 3/8 cells + 8-byte codes


def test_semantic_dedup_twins_dropped_singletons_kept(spark):
    """Duplicate-injected corpus: injected twins collapse to exactly
    one keeper per pair; far-apart singletons all survive; kept_by of a
    dropped row points at its keeper."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    # 40 well-separated singletons + 10 of them twinned (ids 100+i)
    base = rng.normal(size=(40, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows += [(100 + i, base[i].tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = semantic_dedup(
        df, threshold=0.999, k=4, vec_col="embedding"
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == 50
    for i in range(10):  # twin pairs: exactly one kept, linked
        a, b = by_id[i], by_id[100 + i]
        assert a["keep"] != b["keep"]
        assert a["kept_by"] == b["kept_by"]
        assert by_id[a["kept_by"]]["keep"]
    for i in range(10, 40):  # singletons: kept, self-representative
        assert by_id[i]["keep"] and by_id[i]["kept_by"] == i
    assert sum(r["keep"] for r in out) == 40


def test_semantic_dedup_deterministic(spark):
    import numpy as np

    from event_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    v = rng.normal(size=(60, 16))
    df = spark.createDataFrame(
        [(i, v[i].tolist()) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(map(tuple, semantic_dedup(df, k=4).collect()))
    b = sorted(map(tuple, semantic_dedup(df, k=4).collect()))
    assert a == b


def test_semantic_dedup_transitive_group_single_keeper(spark):
    """A chain a~b, b~c (a!~c directly) must form ONE group with one
    keeper — union-find closure, not pairwise pruning."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import semantic_dedup

    base = np.zeros(16); base[0] = 1.0
    def rot(theta):
        v = np.zeros(16); v[0] = np.cos(theta); v[1] = np.sin(theta)
        return v.tolist()
    # cos(0.2 rad)=0.980 adjacent, cos(0.4)=0.921 for the endpoints
    df = spark.createDataFrame(
        [(0, rot(0.0)), (1, rot(0.2)), (2, rot(0.4)), (3, (np.eye(16)[5]).tolist())],
        "vec_id long, embedding array<double>",
    )
    out = {r["id"]: r for r in semantic_dedup(df, threshold=0.95, k=2).collect()}
    assert sum(out[i]["keep"] for i in (0, 1, 2)) == 1  # one keeper for the chain
    assert len({out[i]["kept_by"] for i in (0, 1, 2)}) == 1
    assert out[3]["keep"]


def test_semantic_dedup_exact_mode_same_contracts(spark):
    """Deterministic-assignment mode (literal centroids) honors the
    same twin-collapse / singleton / linkage contracts as the k-means
    mode, and is reproducible run-to-run."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows += [(100 + i, base[i].tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = rng.choice([-1.0, 1.0], size=(4, 16)).tolist()

    out = semantic_dedup(
        df, threshold=0.999, centroids=cents, vec_col="embedding"
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert len(by_id) == 50
    for i in range(10):
        a, b = by_id[i], by_id[100 + i]
        # identical vectors always share a cluster whatever the
        # centroids -> the pair collapses to one keeper
        assert a["cluster"] == b["cluster"]
        assert a["keep"] != b["keep"]
        assert a["kept_by"] == b["kept_by"]
        assert by_id[a["kept_by"]]["keep"]
    for i in range(10, 40):
        assert by_id[i]["keep"] and by_id[i]["kept_by"] == i
    assert sum(r["keep"] for r in out) == 40

    again = semantic_dedup(
        df, threshold=0.999, centroids=cents, vec_col="embedding"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semantic_dedup_target_cluster_size_bounds_clusters(spark):
    """k ~ n/target rule: under a 10x-replicated corpus the derived k
    grows with n, keeping the p99 cluster size (the quadratic
    per-cluster cost driver) bounded near the target."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    base = rng.normal(size=(100, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [
        (rep * 1000 + i, base[i].tolist())
        for rep in range(10)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = semantic_dedup(
        df, threshold=0.999, target_cluster_size=50, vec_col="embedding"
    ).collect()
    assert len(out) == 1000
    sizes = {}
    for r in out:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    # derived k = ceil(1000/50) = 20 clusters available
    assert len(sizes) <= 20
    p99 = sorted(sizes.values())[max(0, int(len(sizes) * 0.99) - 1)]
    assert p99 <= 4 * 50, sizes


def test_lsh_exact_buckets_match_numpy(emb):
    """The pure-JVM literal-plane bucket expression must agree with a
    driver-side numpy recomputation (same +-1 planes, same sign rule)."""
    from event_pipeline_spark.operators.similarity import (
        LSH_EXACT_PLANES,
        lsh_buckets_exact,
    )

    sample = emb.where(F.col("vec_id") < 50)
    got = {
        (r["_id"], r["table"]): r["bucket"]
        for r in lsh_buckets_exact(sample).collect()
    }
    planes = np.array(LSH_EXACT_PLANES, dtype=np.float64)  # (32, 64)
    for r in sample.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        dots = np.round(planes @ v, 7)
        bits = (dots >= 0).astype(np.int64).reshape(8, 4)
        for t in range(8):
            b = int(sum(bits[t, p] << p for p in range(4)))
            assert got[(r["vec_id"], t)] == b


def test_lsh_exact_candidates_share_a_bucket(emb, queries):
    """Every returned neighbor must share at least one (table, bucket)
    with its query, ranks must be contiguous from 1, cosines
    non-increasing — the LSH candidate contract."""
    from event_pipeline_spark.operators.similarity import (
        lsh_buckets_exact,
        lsh_topk_exact,
    )

    buckets = {}
    for r in lsh_buckets_exact(emb).collect():
        buckets.setdefault(r["_id"], set()).add((r["table"], r["bucket"]))
    out = sorted(
        lsh_topk_exact(emb, queries, k=5).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    by_q = {}
    for r in out:
        assert buckets[r["query_id"]] & buckets[r["corpus_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)


def test_ivf_exact_respects_probed_cells(emb, queries):
    """Every returned neighbor's cell must be among the query's 3
    probed cells (the IVF candidate contract), and the result within
    the probed set is exact: it equals the brute-force ranking
    restricted to those cells."""
    from event_pipeline_spark.operators.similarity import (
        IVF_EXACT_CENTROIDS,
        ivf_topk_exact,
    )

    cents = np.array(IVF_EXACT_CENTROIDS, dtype=np.float64)
    cn = np.linalg.norm(cents, axis=1)
    rows = emb.collect()
    cell, probes, vecs = {}, {}, {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        sims = np.round(cents @ v / (np.linalg.norm(v) * cn), 7)
        order = sorted(range(8), key=lambda i: (-sims[i], i))
        cell[r["vec_id"]] = order[0]
        probes[r["vec_id"]] = set(order[:3])
        vecs[r["vec_id"]] = v

    out = sorted(
        ivf_topk_exact(emb, queries, k=5, n_probe=3).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    by_q = {}
    for r in out:
        assert cell[r["corpus_id"]] in probes[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    for qid, got_ids in by_q.items():
        qv = vecs[qid] / np.linalg.norm(vecs[qid])
        cands = [
            i for i in vecs
            if i != qid and cell[i] in probes[qid]
        ]
        scored = sorted(
            (
                (-round(float(np.dot(vecs[i] / np.linalg.norm(vecs[i]), qv)), 6), i)
                for i in cands
            ),
        )
        assert got_ids == [i for _, i in scored[:5]]


def _np_pq_codes(v: np.ndarray) -> list[int]:
    """Driver-side recomputation of pq_codes_exact for one vector."""
    from event_pipeline_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        PQ_EXACT_BOOKS,
    )

    vn = v / np.linalg.norm(v)
    out = []
    for mi in range(_PQ_M):
        s = vn[mi * _PQ_SUB : (mi + 1) * _PQ_SUB]
        dots = [
            round(float(np.dot(s, np.array(PQ_EXACT_BOOKS[mi * _PQ_K + j]))), 7)
            for j in range(_PQ_K)
        ]
        out.append(min(range(_PQ_K), key=lambda j: (-dots[j], j)))
    return out


def test_pq_codes_exact_match_numpy_and_l2_argmin(emb):
    """The JVM code-assignment expression must agree with numpy, and
    the dot-argmax must equal the L2 argmin (the ±1 equal-norm
    equivalence the module relies on)."""
    from event_pipeline_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        PQ_EXACT_BOOKS,
        pq_codes_exact,
    )

    sample = emb.where(F.col("vec_id") < 50)
    got = {
        r["corpus_id"]: [r[f"c{mi}"] for mi in range(_PQ_M)]
        for r in pq_codes_exact(sample).collect()
    }
    for r in sample.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        assert got[r["vec_id"]] == _np_pq_codes(v)
        # L2-argmin equivalence (unrounded — ties resolved identically)
        vn = v / np.linalg.norm(v)
        for mi in range(_PQ_M):
            s = vn[mi * _PQ_SUB : (mi + 1) * _PQ_SUB]
            d2 = [
                float(((s - np.array(PQ_EXACT_BOOKS[mi * _PQ_K + j])) ** 2).sum())
                for j in range(_PQ_K)
            ]
            assert got[r["vec_id"]][mi] == min(
                range(_PQ_K), key=lambda j: (round(d2[j], 7), j)
            )


def test_pq_exact_adc_matches_numpy(emb, queries):
    """pq_topk_exact's ranking must equal a driver-side recomputation:
    integer 1e-7 LUT terms, summed per candidate, ascending."""
    from event_pipeline_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        PQ_EXACT_BOOKS,
        pq_topk_exact,
    )

    rows = emb.collect()
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows
    }
    codes = {i: _np_pq_codes(v) for i, v in vecs.items()}

    def lut(qid):
        qn = vecs[qid] / np.linalg.norm(vecs[qid])
        t = {}
        for mi in range(_PQ_M):
            s = qn[mi * _PQ_SUB : (mi + 1) * _PQ_SUB]
            for j in range(_PQ_K):
                c = np.array(PQ_EXACT_BOOKS[mi * _PQ_K + j])
                t[(mi, j)] = int(
                    round(
                        (float(np.dot(s, s))
                         - 2 * float(np.dot(s, c)) + _PQ_SUB) * 1e7
                    )
                )
        return t

    out = sorted(
        pq_topk_exact(emb, queries, k=5).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        t = lut(qid)
        scored = sorted(
            (
                (
                    round(
                        sum(t[(mi, codes[i][mi])] for mi in range(_PQ_M))
                        / 1e7,
                        6,
                    ),
                    i,
                )
                for i in vecs
                if i != qid
            ),
        )
        assert [(r["corpus_id"], r["adc_dist"]) for r in rs] == [
            (i, d) for d, i in scored[:5]
        ]
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))


def test_ivfpq_exact_is_pq_restricted_to_probed_cells(emb, queries):
    """ivfpq_topk_exact == pq_topk_exact restricted to members of the
    query's probed cells (the IVF⊕PQ composition contract)."""
    from event_pipeline_spark.operators.similarity import (
        IVF_EXACT_CENTROIDS,
        ivfpq_topk_exact,
        pq_topk_exact,
    )

    cents = np.array(IVF_EXACT_CENTROIDS, dtype=np.float64)
    cn = np.linalg.norm(cents, axis=1)
    cell, probes = {}, {}
    for r in emb.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        sims = np.round(cents @ v / (np.linalg.norm(v) * cn), 7)
        order = sorted(range(8), key=lambda i: (-sims[i], i))
        cell[r["vec_id"]] = order[0]
        probes[r["vec_id"]] = set(order[:3])

    full = sorted(
        pq_topk_exact(emb, queries, k=10_000).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    got = sorted(
        ivfpq_topk_exact(emb, queries, k=5, n_probe=3).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    by_q = {}
    for r in got:
        assert cell[r["corpus_id"]] in probes[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(
            (r["corpus_id"], r["adc_dist"])
        )
    for qid, rs in by_q.items():
        expected = [
            (r["corpus_id"], r["adc_dist"])
            for r in full
            if r["query_id"] == qid and cell[r["corpus_id"]] in probes[qid]
        ][: len(rs)]
        assert rs == expected


# -- deterministic-parameter k-means ------------------------------------------


def _km_numpy(vecs: dict[int, np.ndarray], cents0: np.ndarray, iters: int):
    """Plain-python mirror of kmeans_exact: integer units, exact
    integer distances, single-division quantized means."""
    ids = sorted(vecs)
    u = {i: np.rint(vecs[i] * 1e7).astype(np.int64) for i in ids}
    cents = [row.astype(np.int64) for row in cents0 * 10**7]
    for _ in range(iters - 1):
        assign = {
            i: min(
                range(len(cents)),
                key=lambda c: (int(((u[i] - cents[c]) ** 2).sum()), c),
            )
            for i in ids
        }
        new = []
        for c in range(len(cents)):
            members = [u[i] for i in ids if assign[i] == c]
            if not members:
                new.append(cents[c])
            else:
                s = np.sum(members, axis=0, dtype=np.int64)
                # Spark/DuckDB: round(sum/n) half away from zero
                mu = np.array(
                    [
                        int(
                            np.floor(abs(x) / len(members) + 0.5)
                            * (1 if x >= 0 else -1)
                        )
                        for x in s
                    ],
                    dtype=np.int64,
                )
                new.append(mu)
        cents = new
    out = {}
    for i in ids:
        d, c = min(
            (int(((u[i] - cents[c]) ** 2).sum()), c)
            for c in range(len(cents))
        )
        out[i] = (c, d)
    return out


def test_kmeans_exact_matches_numpy_loop(emb):
    from event_pipeline_spark.operators.similarity import (
        KMEANS_EXACT_CENTROIDS,
        kmeans_exact,
    )

    sample = emb.where(F.col("vec_id") < 200)
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in sample.collect()
    }
    want = _km_numpy(
        vecs, np.array(KMEANS_EXACT_CENTROIDS, dtype=np.int64), iters=2
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist_units"])
        for r in kmeans_exact(sample, iters=2).collect()
    }
    assert got == want


def test_kmeans_exact_iteration_improves(emb):
    """One Lloyd update must not worsen the total squared distance
    (exact means guarantee monotone descent; unit quantization can
    perturb by <=0.5 units/dim — allow that epsilon)."""
    from event_pipeline_spark.operators.similarity import kmeans_exact

    sample = emb.where(F.col("vec_id") < 300)
    t1 = kmeans_exact(sample, iters=1).agg(
        F.sum("dist_units").alias("t")
    ).collect()[0]["t"]
    t2 = kmeans_exact(sample, iters=2).agg(
        F.sum("dist_units").alias("t")
    ).collect()[0]["t"]
    assert t2 <= t1 * 1.001
    assert t2 < t1  # the update actually moved the centroids


def test_kmeans_exact_empty_cluster_keeps_centroid(emb):
    """A duplicated init centroid loses every tie to its lower-id twin,
    so its cluster is empty after round 1 — it must keep the init
    centroid (and the final assignment must still prefer the twin)."""
    from event_pipeline_spark.operators.similarity import (
        KMEANS_EXACT_CENTROIDS,
        kmeans_exact,
    )

    cents = [KMEANS_EXACT_CENTROIDS[0], KMEANS_EXACT_CENTROIDS[0]]
    out = kmeans_exact(
        emb.where(F.col("vec_id") < 100), centroids=cents, iters=2
    ).collect()
    assert {r["cluster"] for r in out} == {0}


def test_embedding_neardup_exact_sound_and_recalls(emb):
    """Every returned pair is a true >=threshold pair (soundness is
    exact — candidates are verified), and LSH recall over the
    brute-force truth clears the 4-plane/8-table analytic floor."""
    import itertools

    from event_pipeline_spark.operators.similarity import (
        embedding_neardup_exact,
    )

    sample = emb.where(F.col("vec_id") < 300)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(sample, threshold=0.35).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in sample.collect()
    }
    truth = set()
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        c = round(
            float(
                va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            ),
            6,
        )
        if c >= 0.35:
            truth.add((a, b))
    assert got <= truth
    assert truth  # the threshold actually selects something
    assert len(got) / len(truth) >= 0.4


def test_contrastive_triplets_pos_above_neg_below_threshold(spark):
    from event_pipeline_spark.operators.similarity import (
        contrastive_triplets_exact,
    )

    dim = 64
    e0 = [1.0] + [0.0] * (dim - 1)
    near = [1.0, 0.1] + [0.0] * (dim - 2)    # cos vs e0 ~0.995
    far = [1.0] + [0.0] * 31 + [2.0] + [0.0] * 31  # cos vs e0 ~0.447<0.9
    df = spark.createDataFrame(
        [(1, e0), (2, near), (3, far)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["anchor"]: r
        for r in contrastive_triplets_exact(df, threshold=0.9).collect()
    }
    # anchor 1: positive = 2 (0.995 >= .9), hard negative = 3 (<.9)
    assert out[1]["pos_id"] == 2 and out[1]["pos_cos"] >= 0.9
    assert out[1]["neg_id"] == 3 and out[1]["neg_cos"] < 0.9
    # the triplet margin is what the miner exists to produce
    assert out[1]["pos_cos"] > out[1]["neg_cos"]
    # anchor 3 has no positive (both neighbors < .9) -> dropped
    assert 3 not in out


def test_pca_power_iteration_finds_top_component(spark):
    """On data with one dominant direction, the exact power iteration's
    projections must align with numpy's top principal component
    (|correlation| > 0.999) — the L-infinity per-round normalization
    changes the scale, never the limit direction."""
    import numpy as np

    from event_pipeline_spark.operators.similarity import (
        _pm1_matrix,
        pca_project_exact,
    )

    rng = np.random.RandomState(7)
    d, n = 16, 400
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    # dominant component stdev 0.2, isotropic noise 0.02, scaled into
    # the embedding-like [-0.6, 0.6] value range
    data = np.outer(rng.randn(n) * 0.2, direction) + rng.randn(n, d) * 0.02
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["proj_units"]
        for r in pca_project_exact(
            df, iters=6, init=_pm1_matrix(1, seed=3, dim=d)[0]
        ).collect()
    }
    proj = np.array([got[i] for i in range(n)], dtype=float)

    centered = data - data.mean(axis=0)
    _, _, vt = np.linalg.svd(centered, full_matrices=False)
    want = centered @ vt[0]
    corr = np.corrcoef(proj, want)[0, 1]
    assert abs(corr) > 0.999, corr


# -- MMR re-ranking ------------------------------------------------------------


def test_mmr_rerank_matches_python_greedy(spark):
    """Pseudo-random candidate sets vs a from-scratch greedy MMR in
    integer units — every pick and its score decomposition."""
    import hashlib

    from event_pipeline_spark.operators.similarity import mmr_rerank

    def vec(tag, d=8):
        h = hashlib.md5(tag.encode()).digest()
        raw = [b - 127.5 for b in h[:d]]
        n = sum(x * x for x in raw) ** 0.5
        return [x / n for x in raw]

    rows = []
    py = {}
    for q in range(2):
        cands = []
        for i in range(9):
            v = vec(f"q{q}c{i}")
            rel = round(
                sum(a * b for a, b in zip(v, vec(f"q{q}probe"))) * 10**7
            )
            cands.append((i, v, int(rel)))
            rows.append((q, i, v, int(rel)))
        py[q] = cands
    df = spark.createDataFrame(
        rows,
        "query_id int, corpus_id int, vn array<double>, rel_units long",
    )
    out = mmr_rerank(df, k=3).collect()

    def greedy(cands, k=3, ln=7, lr=3):
        sel, res = [], []
        for step in range(1, k + 1):
            best = None
            for i, v, rel in cands:
                if any(i == s[0] for s in sel):
                    continue
                ms = max(
                    (
                        round(
                            sum(a * b for a, b in zip(v, sv)) * 10**7
                        )
                        for _, sv in sel
                    ),
                    default=0,
                )
                score = ln * rel - lr * ms
                if best is None or (score, -i) > (best[3], -best[0]):
                    best = (i, v, rel, score, ms)
            sel.append((best[0], best[1]))
            res.append((step, best[0], best[2], best[4], best[3]))
        return res

    for q in range(2):
        want = greedy(py[q])
        got = sorted(
            (r["step"], r["corpus_id"], r["rel_units"],
             r["maxsim_units"], r["score_units"])
            for r in out
            if r["query_id"] == q
        )
        assert got == want, q


def test_mmr_rerank_diversifies_duplicates(spark):
    """Three identical top-relevance candidates: plain top-k would take
    all three; MMR takes one and moves to the distinct vector."""
    from event_pipeline_spark.operators.similarity import mmr_rerank

    dup = [1.0, 0.0, 0.0]
    other = [0.0, 1.0, 0.0]
    rows = [
        (0, 0, dup, 1000), (0, 1, dup, 999), (0, 2, dup, 998),
        (0, 3, other, 500),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id int, corpus_id int, vn array<double>, rel_units long",
    )
    picks = [
        r["corpus_id"]
        for r in mmr_rerank(df, k=2).orderBy("step").collect()
    ]
    # 7*999 < 7*500 - 3*0 is false... scores: dup1: 7*999-3*1e7 << other: 7*500-0
    assert picks == [0, 3]


def test_hard_negatives_band_and_exclusion(spark):
    """Constructed vectors: the unlabeled near-duplicate (cos ~1) is
    excluded by band_hi, the labeled positive inside the band is
    excluded by the anti-join, easy negatives fall below band_lo, and
    the survivors rank hardest-first."""
    import math

    from event_pipeline_spark.operators.similarity import hard_negatives

    dim = 64

    def vec(angle_deg):
        # unit vectors in the plane of dims 0/1, zero elsewhere
        a = math.radians(angle_deg)
        v = [0.0] * dim
        v[0], v[1] = math.cos(a), math.sin(a)
        return v

    anchor = vec(0)
    rows = [
        (0, anchor),
        (1, vec(2)),     # near-dup: cos ~0.9994 -> above band_hi
        (2, vec(80)),    # cos ~0.17 in band -> labeled positive
        (3, vec(78)),    # cos ~0.21 in band -> hard negative
        (4, vec(84)),    # cos ~0.10 in band -> hard negative (softer)
        (5, vec(89)),    # cos ~0.017 -> below band_lo
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    anchors = spark.createDataFrame(
        [(0, anchor)], "anchor_id long, embedding array<double>"
    )
    pos = spark.createDataFrame(
        [(0, 2)], "anchor_id long, corpus_id long"
    )
    out = hard_negatives(
        corpus, anchors, pos, k=5, band_lo=0.05, band_hi=0.95,
        centroids=[vec(0), vec(85)],
        n_probe=2,
    ).collect()
    got = [(r["corpus_id"], r["rank"]) for r in out]
    assert got == [(3, 1), (4, 2)]
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)


def test_embedding_drift_detects_rotation(spark):
    """Identical snapshots -> cos 1.0, ratio 1.0; a sign-flipped dim
    (a rotated encoder) drags cos_means below 1 while per-dim value
    stats would look unchanged."""
    from event_pipeline_spark.operators.similarity import embedding_drift

    base = [
        (i, [0.5, 0.25, -0.125, 0.0625]) for i in range(40)
    ]
    a = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    same = embedding_drift(a, a).collect()[0]
    assert same["cos_means"] == 1.0 and same["norm_ratio"] == 1.0

    flipped = spark.createDataFrame(
        [(i, [v[0], -v[1], v[2], v[3]]) for i, v in base],
        "vec_id long, embedding array<double>",
    )
    out = embedding_drift(a, flipped).collect()[0]
    # cos of (0.5,0.25,-0.125,0.0625) with its dim-1 flip, by hand
    num = 0.5**2 - 0.25**2 + 0.125**2 + 0.0625**2
    den = 0.5**2 + 0.25**2 + 0.125**2 + 0.0625**2
    assert abs(out["cos_means"] - num / den) < 1e-6
    assert out["norm_ratio"] == 1.0


def test_reciprocal_pairs_mutuality(spark):
    """Reciprocal pairs are exactly the mutual edges of the kNN table;
    a hub in someone's top-k without reciprocity is excluded."""
    from event_pipeline_spark.operators.similarity import (
        reciprocal_pairs,
    )

    knn = spark.createDataFrame(
        [
            # 1 and 2 mutual; 3 lists 1 but 1 does not list 3
            (1, 2, 0.9, 1), (2, 1, 0.9, 1),
            (3, 1, 0.8, 1), (1, 4, 0.7, 2), (4, 1, 0.7, 3),
        ],
        "query_id long, corpus_id long, cosine double, rank int",
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in reciprocal_pairs(knn).collect()
    }
    assert set(rows) == {(1, 2), (1, 4)}
    assert rows[(1, 2)]["rank_ab"] == 1 and rows[(1, 2)]["rank_ba"] == 1
    assert rows[(1, 4)]["rank_ab"] == 2 and rows[(1, 4)]["rank_ba"] == 3


def test_knn_cell_count_rule():
    """k ~ n/target: cell count grows linearly with the corpus so
    per-cell candidate work stays bounded (never a fixed cell count)."""
    from event_pipeline_spark.operators.similarity import knn_cell_count

    assert knn_cell_count(10, 10_000) == 2          # floor of 2
    assert knn_cell_count(10_000, 10_000) == 2
    assert knn_cell_count(10_001, 10_000) == 2
    assert knn_cell_count(50_000, 10_000) == 5
    assert knn_cell_count(1_000_000, 10_000) == 100
    # 100x corpus -> 100x cells: per-cell size pinned at target
    assert knn_cell_count(100_000_000, 10_000) == 10_000


def test_knn_graph_trained_cells_production_path(spark):
    """The default (no literal centroids) path trains k ~ n/target
    cells and still produces a correct kNN graph: two tight clusters
    of 4 vectors each -> every vector's top neighbors are its own
    cluster mates, and reciprocal pairs stay within clusters."""
    import random

    from event_pipeline_spark.operators.similarity import (
        knn_graph_exact,
        reciprocal_pairs,
    )

    rng = random.Random(7)
    rows = []
    for cid, base in ((0, [10.0, 0.0, 0.0, 0.0]), (1, [0.0, 10.0, 0.0, 0.0])):
        for i in range(4):
            rows.append(
                (
                    cid * 4 + i,
                    [b + rng.uniform(-0.1, 0.1) for b in base],
                )
            )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # target 4 -> k = ceil(8/4) = 2 trained cells
    knn = knn_graph_exact(
        emb, k=3, n_probe=1, target_cell_size=4, seed=11
    )
    got = knn.collect()
    assert got, "trained-cell path produced no neighbors"
    same_cluster = lambda a, b: (a < 4) == (b < 4)  # noqa: E731
    for r in got:
        assert same_cluster(r["query_id"], r["corpus_id"])
    pairs = reciprocal_pairs(knn).collect()
    assert pairs
    for r in pairs:
        assert same_cluster(r["id_a"], r["id_b"])


def test_knn_graph_degenerate_corpus_raises(spark):
    """Trained-centroid default needs >= 2 vectors; a 1-row corpus gets
    a clear ValueError, not one centroid and a degenerate graph."""
    import pytest

    from event_pipeline_spark.operators.similarity import knn_graph_exact

    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="2 vectors"):
        knn_graph_exact(one, k=1)


@pytest.mark.parametrize("build", ["semantic_dedup", "knn_graph_exact"])
def test_trained_centroid_build_starts_no_per_iteration_jobs(spark, emb, build):
    """Building a trained-centroid plan costs the trainer's count and
    sample collect, not one Spark job per Lloyd iteration; the
    assignment runs inside the plan."""
    from event_pipeline_spark.operators import similarity

    sc = spark.sparkContext
    group = f"build-{build}"
    sc.setJobGroup(group, group)
    try:
        getattr(similarity, build)(emb)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(jobs) <= 3, f"{build} started {len(jobs)} jobs at build time"
