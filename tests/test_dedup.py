"""Dedup operators: exactness, recall vs brute force, self-consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_pipeline_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    jaccard,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
    simhash_near_duplicates,
)
from event_pipeline_spark.session import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # unpersisted at teardown: a cache of the session-shared table left
    # behind changes every later module's plans (AQE reuses no exchange
    # above a table-cache stage)
    df = read_table(spark, sf_dir, "documents").cache()
    yield df
    df.unpersist()


def brute_force_jaccard_pairs(docs, threshold):
    small = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    left, right = small.alias("l"), small.alias("r")
    return (
        left.join(right, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            jaccard(F.col("l.sh"), F.col("r.sh")).alias("j"),
        )
        .where(F.col("j") >= threshold)
    )


def test_exact_duplicates_matches_text_groups(docs):
    by_hash = exact_duplicates(docs).agg(F.sum("dupes")).collect()[0][0] or 0
    by_text = (
        docs.groupBy("text").count().where(F.col("count") > 1)
        .agg(F.sum("count")).collect()[0][0] or 0
    )
    assert by_hash == by_text


def test_dedup_exact_keeps_one_per_text(docs):
    survivors = dedup_exact(docs)
    n_distinct = docs.select("text").distinct().count()
    assert survivors.count() == n_distinct
    # survivors keep min doc_id per group
    assert survivors.select("text").distinct().count() == n_distinct


def test_minhash_recall_and_precision(docs):
    truth = {
        (r["id_a"], r["id_b"])
        for r in brute_force_jaccard_pairs(docs, 0.7).collect()
    }
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(docs, threshold=0.7).collect()
    }
    # precision is exact by construction (candidates are re-verified)
    assert found <= truth
    if truth:
        recall = len(found & truth) / len(truth)
        assert recall >= 0.9, f"minhash recall {recall} over {len(truth)} pairs"


def test_minhash_max_bucket_drops_hot_bucket_only(docs, spark):
    """A boilerplate flood (60 identical docs) fills whole LSH buckets;
    max_bucket must drop exactly those buckets' pairs (the flood's
    ~1770 intra-pairs) while organic near-dup pairs from the untouched
    corpus survive — the MOSS noise rule, drop side."""
    from event_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_hot_buckets,
    )

    flood = spark.range(1_000_000, 1_000_060).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate footer text repeated everywhere "
              "on every page of this site").alias("text"),
    )
    mixed = docs.select("doc_id", "text").unionByName(flood)

    organic = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(docs, max_bucket=50).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(mixed, max_bucket=50).collect()
    }
    # every flood intra-pair is gone...
    assert not any(a >= 1_000_000 and b >= 1_000_000 for a, b in capped)
    # ...and the organic pairs are exactly preserved (the flood's
    # buckets contain only flood docs — identical texts — so capping
    # them cannot remove an organic pair)
    assert capped == organic
    # report half: the hot buckets are enumerable, all of flood size,
    # across all 16 bands (identical docs share every band hash)
    hot = minhash_hot_buckets(mixed, max_bucket=50).collect()
    assert len(hot) == 16
    assert all(r["n_docs"] == 60 for r in hot)
    # uncapped, the flood would contribute 60*59/2 = 1770 pairs
    uncapped = minhash_candidate_pairs(mixed).where(
        (F.col("id_a") >= 1_000_000) & (F.col("id_b") >= 1_000_000)
    )
    assert uncapped.count() == 1770


def test_simhash_pairs_are_close(docs, spark):
    pairs = simhash_near_duplicates(docs, max_hamming=3)
    rows = pairs.collect()
    assert all(r["hamming"] <= 3 for r in rows)
    # exact dups must be found (hamming 0 shares every block)
    dup_ids = (
        docs.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .collect()
    )
    found = {(r["id_a"], r["id_b"]) for r in rows}
    for grp in dup_ids:
        ids = sorted(grp["ids"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert (ids[i], ids[j]) in found


def test_prefix_filter_join_is_exact(docs):
    """ngram_jaccard_pairs (prefix filtering) must equal brute force —
    the optimization admits no false negatives by construction."""
    truth = {
        (r["id_a"], r["id_b"])
        for r in brute_force_jaccard_pairs(docs, 0.5).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == truth


def test_simhash_is_deterministic(docs):
    a = docs.select(simhash64(F.col("text")).alias("s")).collect()
    b = docs.select(simhash64(F.col("text")).alias("s")).collect()
    assert [r["s"] for r in a] == [r["s"] for r in b]
    assert all(r["s"] >= 0 for r in a)  # sign bit unused


class TestDuplicateClusters:
    def _uf_expected(self, pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    def test_matches_union_find(self, spark):
        from event_pipeline_spark.operators.dedup import duplicate_clusters

        # chains, a triangle, disjoint pairs, and a long path (tests
        # multi-hop propagation past one iteration)
        raw = [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13),
               (13, 14), (20, 21), (21, 22), (20, 22), (30, 40)]
        pairs = spark.createDataFrame(raw, "a long, b long")
        got = {
            r["id"]: r["cluster_id"]
            for r in duplicate_clusters(pairs).collect()
        }
        assert got == self._uf_expected(raw)

    def test_canonical_documents(self, spark):
        from event_pipeline_spark.operators.dedup import canonical_documents

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "a long, b long"
        )
        kept = sorted(
            r["doc_id"] for r in canonical_documents(docs, pairs).collect()
        )
        # {1,2,3} -> 1; {5,6} -> 5; singletons 0,4,7 kept
        assert kept == [0, 1, 4, 5, 7]

    def test_nonconvergence_raises_or_warns(self, spark):
        """A long path with a tiny iteration budget must not silently
        return split clusters: default raises, warn-mode flags it."""
        import warnings as _warnings

        import pytest as _pytest

        from event_pipeline_spark.operators.dedup import duplicate_clusters

        # path graph 0-1-2-...-9: label 0 needs ~log2(10) rounds to flood
        raw = [(i, i + 1) for i in range(9)]
        pairs = spark.createDataFrame(raw, "a long, b long")
        with _pytest.raises(RuntimeError, match="did not converge"):
            duplicate_clusters(pairs, max_iterations=1)
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            got = duplicate_clusters(pairs, max_iterations=1, on_nonconverged="warn")
            got.collect()
        assert any("did not converge" in str(w.message) for w in caught)

    def test_reliable_checkpoint_path(self, spark, tmp_path):
        """checkpoint() variant for long chains on a real cluster (HDFS
        checkpoint dir survives executor loss, unlike localCheckpoint)."""
        from event_pipeline_spark.operators.dedup import duplicate_clusters

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        raw = [(1, 2), (2, 3), (3, 4), (10, 11)]
        pairs = spark.createDataFrame(raw, "a long, b long")
        got = {
            r["id"]: r["cluster_id"]
            for r in duplicate_clusters(
                pairs, checkpoint_every=1, reliable_checkpoint=True
            ).collect()
        }
        assert got == self._uf_expected(raw)

    def test_scales_with_minhash_pairs(self, spark, sf_dir):
        """End to end: MinHash candidate pairs -> clusters; every pair's
        endpoints land in the same cluster."""
        from event_pipeline_spark.operators.dedup import (
            duplicate_clusters,
            minhash_near_duplicates,
        )
        from event_pipeline_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(docs).select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
        if pairs.isEmpty():
            import pytest as _pytest

            _pytest.skip("no near-dup pairs at this SF")
        clusters = duplicate_clusters(pairs)
        joined = (
            pairs.join(clusters.withColumnRenamed("id", "a")
                       .withColumnRenamed("cluster_id", "ca"), "a")
            .join(clusters.withColumnRenamed("id", "b")
                  .withColumnRenamed("cluster_id", "cb"), "b")
        )
        assert joined.where(F.col("ca") != F.col("cb")).count() == 0


def test_incremental_cross_pairs_exclude_within_side(spark):
    """The incremental flow must report only new-vs-corpus pairs: two
    identical docs inside the corpus (or inside the batch) are that
    side's own self-dedup problem, not this operator's."""
    from event_pipeline_spark.operators.dedup import (
        minhash_cross_near_duplicates,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(0, text), (2, text), (4, "completely different words here "
                                   "about spark shuffles and joins")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, text), (3, "nothing like anything in the corpus at all "
                        "zebra quartz lantern")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_cross_near_duplicates(new, corpus).collect()
    }
    assert (0, 1) in got and (1, 2) in got  # new doc 1 matches both copies
    assert (0, 2) not in got  # corpus-internal duplicate NOT reported
    assert all(3 not in pair and 4 not in pair for pair in got)


def test_incremental_reuses_persisted_index(spark, tmp_path):
    """The scaling path: build the corpus index ONCE, persist it, and
    run an ingest from the parquet artifacts alone — identical pairs to
    the recompute path, with the raw corpus never re-shingled."""
    from event_pipeline_spark.operators.dedup import (
        build_minhash_index,
        minhash_cross_near_duplicates,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(0, text), (2, text), (4, "completely different words here "
                                   "about spark shuffles and joins")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, text), (3, "nothing like anything in the corpus at all "
                        "zebra quartz lantern")],
        "doc_id long, text string",
    )
    idx, sh = build_minhash_index(corpus)
    idx.write.parquet(str(tmp_path / "index"))
    sh.write.parquet(str(tmp_path / "shingles"))

    from_artifacts = minhash_cross_near_duplicates(
        new,
        corpus_index=spark.read.parquet(str(tmp_path / "index")),
        corpus_shingles=spark.read.parquet(str(tmp_path / "shingles")),
    )
    recomputed = minhash_cross_near_duplicates(new, corpus)
    as_pairs = lambda df: {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }
    assert as_pairs(from_artifacts) == as_pairs(recomputed)
    assert (0, 1) in {(a, b) for a, b, _ in as_pairs(from_artifacts)}

    with pytest.raises(ValueError, match="corpus_df"):
        minhash_cross_near_duplicates(new)


def test_containment_catches_subset_jaccard_misses(spark):
    """A verbatim quote embedded in a 10x longer page: containment = 1
    (every quote shingle is in the page) while Jaccard is tiny — the
    complementary-detector contract."""
    from event_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy sleeping dog tonight"
    filler = " ".join(f"word{i} filler{i} pad{i}" for i in range(20))
    page = f"{filler} {quote} {filler}"
    df = spark.createDataFrame(
        [(1, quote), (2, page)], "doc_id long, text string"
    )
    cont = containment_pairs(df, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []


def test_bbit_candidates_superset_and_same_verified_pairs(docs):
    """b-bit banding candidates must be a SUPERSET of full-width
    candidates (masking can only merge buckets), and after the exact
    Jaccard verify the pair sets coincide."""
    from event_pipeline_spark.operators.dedup import minhash_candidate_pairs

    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(docs).collect()
    }
    bbit = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(docs, bbit=8).collect()
    }
    assert bbit >= full
    verified_full = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(docs).collect()
    }
    verified_bbit = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(docs, bbit=8).collect()
    }
    assert verified_bbit >= verified_full  # superset recall, exact precision


def test_keep_best_in_clusters_quality_rule(spark):
    """Two clusters + a singleton: the highest-quality member is kept
    (tie -> lowest id), everyone else points at it, singletons keep
    themselves."""
    from event_pipeline_spark.operators.dedup import keep_best_in_clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (8, 9), (9, 1)],
        "doc_id long, quality long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "id long, cluster_id long",
    )
    out = {
        r["id"]: r
        for r in keep_best_in_clusters(
            docs, clusters, id_col="doc_id", quality_col="quality"
        ).collect()
    }
    # cluster 1: quality tie 50/50 between ids 2 and 3 -> keep 2
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert all(out[i]["kept_by"] == 2 for i in (1, 2, 3))
    # cluster 7: id 8 wins on quality despite higher id
    assert out[8]["keep"] and out[7]["kept_by"] == 8
    # singleton 9 keeps itself
    assert out[9]["keep"] and out[9]["cluster_id"] == 9


def test_source_dup_matrix_canonicalizes_and_shares(spark):
    from event_pipeline_spark.operators.dedup import source_dup_matrix

    docs = spark.createDataFrame(
        [(1, "crawlA"), (2, "crawlB"), (3, "crawlA"), (4, "books")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_dup_matrix(docs, pairs).collect()
    }
    # (1,2) and (2,3) both land in the UNORDERED (crawlA, crawlB) cell
    assert out[("crawlA", "crawlB")]["n_pairs"] == 2
    assert out[("crawlA", "crawlA")]["n_pairs"] == 1  # diagonal
    assert out[("books", "crawlA")]["n_pairs"] == 1
    assert sum(r["n_pairs"] for r in out.values()) == 4
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-12


def test_threshold_sweep_monotone_and_consistent(spark, sf_dir):
    """Counts are non-increasing in the threshold, and the 70% cell
    matches a direct minhash_near_duplicates run at 0.7."""
    from event_pipeline_spark.operators.dedup import (
        dedup_threshold_sweep,
        minhash_near_duplicates,
    )
    from event_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sweep = {
        r["threshold_pct"]: r
        for r in dedup_threshold_sweep(docs).collect()
    }
    pairs = [sweep[t]["n_pairs"] for t in sorted(sweep)]
    affected = [sweep[t]["n_docs_affected"] for t in sorted(sweep)]
    assert pairs == sorted(pairs, reverse=True)
    assert affected == sorted(affected, reverse=True)
    direct = minhash_near_duplicates(docs, threshold=0.7).count()
    assert sweep[70]["n_pairs"] == direct


def test_lsh_recall_report_counts(spark):
    """Injected twins: every true within-source pair is surfaced
    (identical docs agree on all bands) -> recall 1.0 with the right
    counts; a corpus with no true pairs emits NULL recall."""
    from event_pipeline_spark.operators.dedup import lsh_recall_report

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base, "s1") for i in range(3)]  # 3 identical -> 3 pairs
    rows += [
        (10 + i, f"totally different text number {i} with unique words "
                 f"{i * 13} {i * 17}", "s1")
        for i in range(4)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = lsh_recall_report(docs).collect()[0]
    assert out["n_true"] == 3 and out["n_found"] == 3
    assert out["n_missed"] == 0 and out["recall"] == 1.0

    none = lsh_recall_report(
        spark.createDataFrame(rows[3:], "doc_id long, text string, source string")
    ).collect()[0]
    assert none["n_true"] == 0 and none["recall"] is None
