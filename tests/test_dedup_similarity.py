"""Dedup + similarity operator tests with planted ground truth."""

import pytest
from pyspark.sql import functions as F

from donut_spark.operators.dedup import (
    exact_dedup,
    exact_dup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from donut_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    hyperplane_lsh_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the river flows "
    "quietly past the old mill and the miller watches the water wheel turn"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        ("d1", BASE),
        ("d2", BASE),  # exact dup of d1
        ("d3", BASE.replace("lazy", "sleepy")),  # near dup of d1
        ("d4", "completely unrelated text about catalyst optimizer rules"),
        ("d5", "another disjoint document mentioning shuffle partitions"),
        ("d6", BASE + " extra trailing words here"),  # near dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dup_clusters(planted):
    clusters = exact_dup_clusters(planted).collect()
    assert len(clusters) == 1
    assert clusters[0].members == ["d1", "d2"]
    assert clusters[0].keeper == "d1"


def test_exact_dedup_keeps_one(planted):
    kept = set(r.doc_id for r in exact_dedup(planted).collect())
    assert kept == {"d1", "d3", "d4", "d5", "d6"}


def test_minhash_lsh_finds_near_dups(planted):
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(planted, bands=32, num_perm=128).collect()}
    assert ("d1", "d2") in pairs
    assert ("d1", "d3") in pairs or ("d1", "d6") in pairs
    assert ("d4", "d5") not in pairs


def test_simhash_finds_near_dups(planted):
    pairs = {(r.a, r.b) for r in simhash_pairs(planted, max_hamming=10).collect()}
    assert ("d1", "d2") in pairs
    assert ("d4", "d5") not in pairs


def test_ngram_jaccard_exact_values(planted):
    out = {
        (r.a, r.b): r.jaccard
        for r in ngram_jaccard_pairs(planted, threshold=0.1).collect()
    }
    assert out[("d1", "d2")] == 1.0
    assert 0.1 < out[("d1", "d3")] < 1.0


def test_ngram_jaccard_with_candidates(planted):
    cands = minhash_lsh_pairs(planted, bands=32, num_perm=128)
    out = ngram_jaccard_pairs(planted, threshold=0.1, candidates=cands)
    pairs = {(r.a, r.b) for r in out.collect()}
    assert ("d1", "d2") in pairs


@pytest.fixture(scope="module")
def embeddings(spark):
    import math

    rows = []
    for i in range(100):
        # three clusters around axis directions + noise-free determinism
        base = i % 3
        vec = [0.0] * 8
        vec[base] = 1.0
        vec[(base + 3) % 8] = 0.3 * math.sin(i)
        rows.append((i, [float(v) for v in vec]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(embeddings):
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    top = cosine_topk(embeddings, q, k=5).collect()
    assert len(top) == 5
    # all top hits are cluster-0 members (vec_id % 3 == 0)
    assert all(r.vec_id % 3 == 0 for r in top)
    assert top[0].cosine >= top[-1].cosine


def test_lsh_topk_recall_vs_brute(embeddings):
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    brute = [r.vec_id for r in cosine_topk(embeddings, q, k=10).collect()]
    approx = [r.vec_id for r in hyperplane_lsh_topk(embeddings, q, k=10, n_bits=16, bands=8).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.7


def test_ivf_topk_recall_vs_brute(embeddings):
    from donut_spark.operators.similarity import ivf_topk

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    brute = [r.vec_id for r in cosine_topk(embeddings, q, k=10).collect()]
    ivf = [
        r.vec_id
        for r in ivf_topk(embeddings, q, k=10, n_centroids=6, n_probe=3).collect()
    ]
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.7
    # determinism: same codebook, same result
    ivf2 = [
        r.vec_id
        for r in ivf_topk(embeddings, q, k=10, n_centroids=6, n_probe=3).collect()
    ]
    assert ivf == ivf2


def test_hot_bucket_cap_and_exact_dedup_composition(spark):
    """Degenerate LSH buckets (1k byte-identical docs) must not go
    quadratic: the cap drops them (auditable via hot_buckets, not
    silent), and the documented exact-dedup-first composition still
    finds the near-dup structure on the representatives."""
    from donut_spark.operators.dedup import hot_buckets, minhash_banded

    rows = [(f"c{i:04d}", BASE) for i in range(1000)]
    rows += [("v1", BASE.replace("lazy", "sleepy")), ("v2", BASE + " tail words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # capped direct run finishes with zero pairs from the identical mass
    capped = minhash_lsh_pairs(df, max_bucket_size=50)
    identical = {f"c{i:04d}" for i in range(1000)}
    assert not any(
        r.a in identical and r.b in identical for r in capped.collect()
    )
    # the drop is auditable — every band bucket of the identical text is hot
    hot = hot_buckets(minhash_banded(df), ["band", "band_hash"], 50).collect()
    assert len(hot) >= 1 and all(r.n_members >= 1000 for r in hot)

    # composition: exact-dedup first, then (uncapped-relevant) LSH
    reps = exact_dedup(df)
    assert reps.count() == 3  # c0000 + v1 + v2
    pairs = {(r.a, r.b) for r in minhash_lsh_pairs(reps, max_bucket_size=50).collect()}
    assert ("c0000", "v1") in pairs or ("c0000", "v2") in pairs


def test_srp_candidate_pairs_plan_carries_no_vectors(spark):
    """The banded self-join must shuffle (id, band, bval) only — the
    embedding column may not appear anywhere in the candidate-pair plan
    (it is joined back after the pair-distinct)."""
    from donut_spark.operators.similarity import srp_candidate_pairs

    rows = [(i, [float(i % 7), 1.0, 0.5, 0.25]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = srp_candidate_pairs(df, n_bits=16, bands=8, dim=4)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # the vector column may appear ONLY as input to the leaf-side
    # signature UDF (ArrowEvalPython) or in the source relation itself —
    # never in a Join/Generate/Project between the UDF and the join
    for line in plan.splitlines():
        if "embedding" in line:
            assert (
                "ArrowEvalPython" in line
                or "LogicalRDD" in line
                or "Relation" in line
                or line.strip().startswith("+- Project [vec_id")
                or line.strip().startswith(":  +- Project [vec_id")
                or "Scan" in line
            ), f"vector column leaked into the join pipeline: {line}"
    assert pairs.columns == ["a", "b"]
    # single signature evaluation per side (posexplode_outer prevents the
    # size()>0 pushdown that double-evals the UDF)
    assert plan.count("ArrowEvalPython") == 2


def test_ivf_recall_on_unclustered_ood_data(spark):
    """Verdict item: the codebook must be trained on a content-unbiased
    sample. Adversarial layout: ids ordered so the head of the table is
    ONE content cluster (head-sampling would learn only that cluster).
    recall@20 vs brute-force must still be >= 0.9."""
    import math

    from donut_spark.operators.similarity import cosine_topk, ivf_topk

    rows = []
    dim = 16
    for i in range(400):
        # ids 0..199 → cluster A (axis 0), 200..399 → spread clusters
        cluster = 0 if i < 200 else (i % 8)
        vec = [0.0] * dim
        vec[cluster] = 1.0
        vec[(cluster + 8) % dim] = 0.4 * math.sin(i * 1.7)
        vec[(cluster + 3) % dim] = 0.2 * math.cos(i * 0.9)
        rows.append((i, [float(v) for v in vec]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    recalls = []
    for axis in (1, 4, 7):  # query the TAIL clusters a head-sample misses
        q = [0.0] * dim
        q[axis] = 1.0
        brute = {r.vec_id for r in cosine_topk(df, q, k=20).collect()}
        approx = {
            r.vec_id
            for r in ivf_topk(df, q, k=20, n_centroids=12, n_probe=6).collect()
        }
        recalls.append(len(brute & approx) / 20)
    assert min(recalls) >= 0.9, recalls


def test_ivfadc_recall_on_ood_data(spark, tmp_path):
    """Residual encoding is the OOD story (worklog backlog item): a
    vector far from every coarse centroid still gets a FINE code because
    PQ quantizes (x − centroid), not x. Same adversarial layout as the
    plain-IVF OOD test; pruned IVF-ADC probes of the tail clusters must
    keep recall@20 >= 0.9 vs brute force."""
    import math

    from donut_spark.operators.ann_index import (
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.operators.similarity import cosine_topk

    rows = []
    dim = 16
    for i in range(400):
        cluster = 0 if i < 200 else (i % 8)
        vec = [0.0] * dim
        vec[cluster] = 1.0
        vec[(cluster + 8) % dim] = 0.4 * math.sin(i * 1.7)
        vec[(cluster + 3) % dim] = 0.2 * math.cos(i * 0.9)
        rows.append((i, [float(v) for v in vec]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    path = write_ivfadc_index(
        df, str(tmp_path / "adc"), n_centroids=12, m=8, k=32
    )

    recalls = []
    for axis in (1, 4, 7):  # tail clusters a head-sample would miss
        q = [0.0] * dim
        q[axis] = 1.0
        brute = {r.vec_id for r in cosine_topk(df, q, k=20).collect()}
        approx = {
            r.vec_id
            for r in probe_ivfadc_index(
                spark, path, df, q, k=20, n_probe=6, rerank=60
            ).collect()
        }
        recalls.append(len(brute & approx) / 20)
    assert min(recalls) >= 0.9, recalls


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = embedding_near_dup_pairs(df, threshold=0.99, n_bits=16, bands=8).collect()
    found = {(r.a, r.b) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found


def test_connected_components_transitive(spark):
    """Chained pairs (a-b, b-c) must merge into ONE component with the
    min id as its label; disjoint pairs stay separate."""
    from donut_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11), (20, 21), (21, 22)], ["a", "b"]
    )
    got = {r.v: r.cluster for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_cluster_composition(planted):
    """The full dedup pipeline: exact dedup -> LSH candidates -> exact
    Jaccard verify -> connected components -> keeper election."""
    from donut_spark.operators.dedup import connected_components

    reps = exact_dedup(planted)  # drops d2 (byte-identical to d1)
    cands = minhash_lsh_pairs(reps, bands=32, num_perm=128)
    verified = ngram_jaccard_pairs(reps, threshold=0.3, candidates=cands)
    comps = {r.v: r.cluster for r in connected_components(verified).collect()}
    # d1, d3, d6 are one near-dup cluster with keeper d1
    assert comps.get("d3") == "d1" and comps.get("d6") == "d1"
    # the disjoint docs never appear in any component (no edges)
    assert "d4" not in comps and "d5" not in comps


# --------------------------------------------------------------------------
# persisted ANN indexes (operators/ann_index.py)
# --------------------------------------------------------------------------


def test_srp_index_probe_equals_online(embeddings, tmp_path):
    """A probe against the persisted posting layout must return exactly
    what the online operator computes with the same parameters."""
    from donut_spark.operators.ann_index import probe_srp_index, write_srp_index

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    path = write_srp_index(
        embeddings, str(tmp_path / "srp"), n_bits=16, bands=8, dim=8
    )
    spark = embeddings.sparkSession
    got = probe_srp_index(spark, path, embeddings, q, k=10).collect()
    want = hyperplane_lsh_topk(embeddings, q, k=10, n_bits=16, bands=8).collect()
    assert [(r.vec_id, round(r.cosine, 9)) for r in got] == [
        (r.vec_id, round(r.cosine, 9)) for r in want
    ]


def test_srp_index_probe_prunes_partitions(embeddings, tmp_path):
    """The probe's posting scan must be partition-pruned: the (band,
    bval) predicate shows up as PartitionFilters (planning-time dir
    pruning), never as a post-scan Filter over all postings."""
    import os

    from donut_spark.operators.ann_index import probe_srp_index, write_srp_index

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    path = write_srp_index(
        embeddings, str(tmp_path / "srp"), n_bits=16, bands=8, dim=8
    )
    # layout: one directory per (band, bval) bucket
    band_dirs = [
        d for d in os.listdir(os.path.join(path, "postings")) if d.startswith("band=")
    ]
    assert len(band_dirs) == 8
    probe = probe_srp_index(
        embeddings.sparkSession, path, embeddings, q, k=10
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(s for s in plan.splitlines() if "PartitionFilters" in s)
    assert "band" in scan and "bval" in scan
    assert "PartitionFilters: []" not in scan


def test_ivf_index_probe_equals_online(embeddings, tmp_path):
    """Cell-partitioned IVF probe == online ivf_topk (the codebook is
    deterministic, so both paths train the identical quantizer)."""
    from donut_spark.operators.ann_index import probe_ivf_index, write_ivf_index
    from donut_spark.operators.similarity import ivf_topk

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    path = write_ivf_index(embeddings, str(tmp_path / "ivf"), n_centroids=6)
    spark = embeddings.sparkSession
    got = probe_ivf_index(spark, path, q, k=10, n_probe=3).collect()
    want = ivf_topk(embeddings, q, k=10, n_centroids=6, n_probe=3).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    plan = (
        probe_ivf_index(spark, path, q, k=10, n_probe=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(s for s in plan.splitlines() if "PartitionFilters" in s)
    assert "_cell" in scan and "PartitionFilters: []" not in scan


def test_ivfadc_index_exact_regime_and_pruning(embeddings, tmp_path):
    """IVF-ADC (Jégou 2011 §V — PQ codes of cell residuals stored per
    IVF cell): with every cell probed and a rerank window >= the
    candidate pool the probe must equal exact brute force; the pruned
    probe must read ONLY the probed cell partitions (plan-pinned
    PartitionFilters) and still surface the right cluster."""
    from donut_spark.operators.ann_index import (
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.operators.similarity import cosine_topk

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    path = write_ivfadc_index(
        embeddings, str(tmp_path / "ivfadc"), n_centroids=6, m=4, k=16
    )
    spark = embeddings.sparkSession
    # exactness regime: all cells probed, rerank covers the whole table
    got = probe_ivfadc_index(
        spark, path, embeddings, q, k=10, n_probe=6, rerank=100
    ).collect()
    want = cosine_topk(embeddings, q, k=10).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in want]
    # pruned probe: partition pruning on _cell, right cluster on top
    pruned = probe_ivfadc_index(spark, path, embeddings, q, k=5, n_probe=2, rerank=20)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scans = [s for s in plan.splitlines() if "PartitionFilters" in s]
    assert any(
        "_cell" in s and "PartitionFilters: []" not in s for s in scans
    ), plan
    assert all(r.vec_id % 3 == 0 for r in pruned.collect())
    # the index stores codes, never vectors (compression is the point)
    idx = spark.read.parquet(str(tmp_path / "ivfadc" / "cells"))
    assert set(idx.columns) == {"id", "_pq", "_cell"}
    assert len(idx.first()._pq) == 4  # m codes per vector


def test_cosine_pairs_blocked_equals_brute_force(embeddings):
    """Blocked matmul all-pairs == numpy quadratic ground truth, with a
    block size small enough to force many blocks (cross-block pairs,
    same-block upper-triangle, canonical a<b all exercised)."""
    import itertools

    import math as m

    import numpy as np

    from donut_spark.operators.similarity import cosine_pairs_blocked

    rows = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in embeddings.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        va, vb = rows[a], rows[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if cos >= 0.8:
            want[(a, b)] = cos
    got = {
        (r.a, r.b): r.cosine
        for r in cosine_pairs_blocked(embeddings, 0.8, block_size=16).collect()
    }
    assert set(got) == set(want)
    assert all(r[0] < r[1] for r in got)
    assert all(m.isclose(got[k], want[k], rel_tol=1e-9) for k in got)


def test_exact_dup_clusters_member_cap_and_opt_out(spark):
    rows = [(f"d{i:03d}", "identical boilerplate text") for i in range(30)]
    rows += [("x1", "unique one"), ("x2", "unique two")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = exact_dup_clusters(df, max_members=10).collect()
    assert len(capped) == 1
    assert capped[0].n_dups == 30          # true size survives the cap
    assert len(capped[0].members) == 10    # sample capped
    assert capped[0].keeper == "d000"
    lean = exact_dup_clusters(df, include_members=False)
    assert "members" not in lean.columns
    assert lean.first().n_dups == 30


def test_release_persisted_cache_contract(planted):
    """minhash_lsh_pairs/simhash_pairs/srp_candidate_pairs persist their
    banded frames for the self-join; the attached handle must release
    exactly those blocks so long-lived sessions don't accumulate cache
    (and releasing twice is a no-op)."""
    from donut_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
    from donut_spark.plans.cache import release_persisted

    for op in (minhash_lsh_pairs, simhash_pairs):
        result = op(planted)
        result.collect()
        cached = list(getattr(result, "_donut_persisted", ()))
        assert len(cached) == 1
        assert cached[0].storageLevel.useMemory  # persisted before release
        assert release_persisted(result) == 1
        assert not cached[0].storageLevel.useMemory  # released
        assert release_persisted(result) == 0  # idempotent


def test_capture_survives_transformation(planted):
    """PersistedResult (round-4 verdict item 3): the attribute hand-off
    sheds its handle on ANY caller-side transformation — capture() moves
    the handles into a named tuple, so a filtered/selected result stays
    release-safe and a session leaks zero blocks."""
    from donut_spark.operators.dedup import minhash_lsh_pairs
    from donut_spark.plans.cache import (
        capture,
        persistent_rdd_ids,
        release_persisted,
    )

    sc = planted.sparkSession.sparkContext
    before = persistent_rdd_ids(sc)

    res = capture(minhash_lsh_pairs(planted))
    # the failure mode being killed: transform, then consume the
    # TRANSFORMED frame — under attribute hand-off the handle is gone
    transformed = res.frame.filter("a is not null").select("a", "b")
    transformed.collect()
    assert release_persisted(transformed) == 0  # attribute style: lost
    assert len(res.handles) == 1                # tuple style: retained
    assert res.release() == 1
    # no NEW persisted RDD: another test's late unpersist may shrink the
    # process-global set below the snapshot, so compare as a subset
    assert persistent_rdd_ids(sc) <= before     # zero stranded blocks

    # capture() pops the attribute — exactly one owner, old-style
    # release on the original frame is a no-op after capture
    res2 = capture(minhash_lsh_pairs(planted))
    assert release_persisted(res2.frame) == 0
    res2.frame.collect()
    res2.release()
    assert persistent_rdd_ids(sc) <= before


def test_shingle_plan_single_split(spark):
    """Shingling must materialize split(lower(text)) exactly ONCE per row
    (plan-pinned): written inside the transform lambda it re-evaluates per
    shingle index — higher-order-function lambdas are not subexpression-
    eliminated against outer scope — making shingling O(words²) character
    work per document."""
    from donut_spark.operators.dedup import _shingle_explode

    df = spark.createDataFrame([("a", "w x y z")], ["doc_id", "text"])
    plan = (
        _shingle_explode(df, "text", "doc_id", 3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(lower") == 1, plan


def test_exact_dup_clusters_buffer_bounded_plan(spark):
    """The member cap must sit BELOW the collect_list (a _rn <= cap
    filter feeding the agg), bounding the agg buffer itself — a post-agg
    slice caps only the output while the buffer holds the whole cluster.
    Also pins the single-exchange shape: the groupBy reuses the window's
    hash(fp) partitioning."""
    df = spark.createDataFrame([("a", "t"), ("b", "t")], ["doc_id", "text"])
    q = exact_dup_clusters(df, max_members=7)
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    assert "_rn" in opt and "<= 7" in opt, opt
    ex = q._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Exchange") == 1, ex


def test_ngram_jaccard_df_cut_underestimates_only(spark):
    """The df-cut drops hot shingles from the intersection join only:
    scores can go down or pairs vanish, never up, and sizes stay exact
    (disjoint pairs can't appear)."""
    from donut_spark.operators.dedup import hot_shingles

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(f"d{i}", base) for i in range(6)]  # every shingle df=6
    rows += [("u1", "completely different words entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(df, threshold=0.5).collect()}
    cut = {(r.a, r.b): r.jaccard for r in
           ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=3).collect()}
    assert len(exact) == 15  # C(6,2) identical docs
    # every shingle of the clones has df 6 > 3 -> all intersections drop
    assert cut == {}
    audit = hot_shingles(df, max_shingle_df=3)
    assert audit.count() > 0 and audit.first().doc_freq == 6


def test_connected_components_deep_chain_converges_fast(spark):
    """Pointer jumping: a 60-vertex path (diameter 59, far beyond the
    default max_iter=20 of plain min-propagation) must still collapse to
    one component — label distance doubles per round."""
    from donut_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(59)]
    pairs = spark.createDataFrame(chain, ["a", "b"])
    out = connected_components(pairs, max_iter=20).collect()
    assert len(out) == 60
    assert {r.cluster for r in out} == {0}


def test_pq_topk_and_jvm_only_adc(embeddings, tmp_path):
    """PQ + refine: recall vs brute force on the planted clusters,
    determinism, and the scale property — ADC scoring over a persisted
    code table is pure JVM (no Python eval node in the scan)."""
    from donut_spark.operators.pq import (
        pq_adc_scores,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from donut_spark.operators.similarity import cosine_topk

    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    books = train_pq_codebooks(embeddings, m=4, k=16)
    brute = [r.vec_id for r in cosine_topk(embeddings, q, k=10).collect()]
    got = [r.vec_id for r in pq_topk(embeddings, books, q, k=10, rerank=40).collect()]
    assert len(set(got) & set(brute)) >= 9
    got2 = [r.vec_id for r in pq_topk(embeddings, books, q, k=10, rerank=40).collect()]
    assert got == got2

    # persisted-code regime: encode once, score JVM-side only
    enc_path = str(tmp_path / "pq_codes")
    pq_encode(embeddings, books).select("vec_id", "_pq").write.parquet(enc_path)
    enc = embeddings.sparkSession.read.parquet(enc_path)
    scored = pq_adc_scores(enc, books, q)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert scored.count() == embeddings.count()


def test_contamination_overlap_planted(spark):
    """A corpus doc embedding a verbatim benchmark excerpt is flagged;
    disjoint docs are not; the benchmark side is broadcast."""
    from donut_spark.operators.dedup import contamination_overlap

    bench = spark.createDataFrame(
        [("b1", "the secret benchmark passage about spark catalyst rules here now")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            ("c1", "prefix words then the secret benchmark passage about spark "
                   "catalyst rules here now and a suffix"),
            ("c2", "completely unrelated text with no overlap whatsoever at all "
                   "in any of its many words"),
        ],
        ["doc_id", "text"],
    )
    hits = contamination_overlap(corpus, bench, n=8)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r.doc_id: r.n_distinct_hits for r in hits.collect()}
    assert "c1" in rows and rows["c1"] >= 1
    assert "c2" not in rows


def test_adaptive_multiprobe_widths():
    """adaptive_probe_cells geometry, no Spark: a FLAT affinity profile
    (OOD query on near-isotropic data) widens past n_probe up to the
    budget cap; a STEEP boundary drop (clustered data, query aligned
    with few cells) keeps exactly n_probe; the stable tie-break order is
    preserved (prefix = _stable_probe_cells)."""
    import numpy as np

    from donut_spark.operators.similarity import (
        _stable_probe_cells,
        _unit_rows,
        adaptive_probe_cells,
    )

    rng = np.random.default_rng(5)
    # flat: 16 random unit centroids vs an unrelated query
    cn = _unit_rows(rng.standard_normal((16, 32)))
    qn = rng.standard_normal(32)
    qn /= np.linalg.norm(qn)
    flat = adaptive_probe_cells(cn, qn, 4, margin=0.15, max_factor=2.0)
    assert len(flat) > 4, "flat profile must widen"
    assert len(flat) <= 8, "budget cap: at most max_factor * n_probe"
    assert flat[:4] == _stable_probe_cells(cn, qn, 4)

    # steep: the boundary (2nd) cell scores far above every further
    # cell — the cut excludes the tail, probe set stays at n_probe
    e0, e1 = np.eye(32)[0], np.eye(32)[1]
    steep_cn = np.stack(
        [e0, 0.8 * e0 + 0.6 * e1] + [-e0 + 0.01 * np.eye(32)[i] for i in range(2, 8)]
    )
    steep_cn = _unit_rows(steep_cn)
    steep = adaptive_probe_cells(steep_cn, e0, 2, margin=0.15, max_factor=4.0)
    assert len(steep) == 2, steep

    # exact-tie plateau AT the boundary: tied cells are indistinguishable
    # from the chosen one, so they are probed (up to the cap) — the
    # documented plateau semantics
    axes = np.eye(8)
    plateau = adaptive_probe_cells(axes, axes[0], 2, margin=0.15, max_factor=2.0)
    assert len(plateau) == 4  # cap = 2x n_probe


def test_ivf_multiprobe_ood_recall_gain(spark):
    """The OOD-recall fix measured end-to-end on the near-isotropic
    bench embeddings (the hard case: no cluster structure to exploit —
    BENCH/r4_sf1.md documents the same curve at the sf1-equivalent
    scale): anti-centroid + held-out random queries at n_probe=8/16.
    Adaptive widening (margin 0.15, cap 2x) must never lose to the
    fixed probe and must lift mean recall@20 to >= 0.85."""
    import numpy as np

    from donut_spark.operators.similarity import (
        _ivf_centroids,
        _unit_rows,
        cosine_topk,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    cents = _ivf_centroids(e, 16, "embedding", "vec_id", 3)
    cn = _unit_rows(cents)
    rng = np.random.default_rng(99)
    queries = [(-cents[k] / np.linalg.norm(cents[k])).tolist() for k in (0, 8)]
    queries += [(v / np.linalg.norm(v)).tolist() for v in rng.standard_normal((2, 64))]

    fixed, adapt = [], []
    for q in queries:
        brute = {r.vec_id for r in cosine_topk(e, q, k=20).collect()}
        f = {
            r.vec_id
            for r in ivf_topk(e, q, k=20, n_probe=8, centroids=cn).collect()
        }
        a = {
            r.vec_id
            for r in ivf_topk(
                e, q, k=20, n_probe=8, centroids=cn, multiprobe_margin=0.15
            ).collect()
        }
        fixed.append(len(brute & f) / 20)
        adapt.append(len(brute & a) / 20)
    assert all(a >= f for a, f in zip(adapt, fixed)), (adapt, fixed)
    assert sum(adapt) / len(adapt) >= 0.85, (adapt, fixed)


def test_index_meta_publish_is_atomic(spark, tmp_path):
    """_write_meta commits _meta.json via tmp + FS rename (the index
    commit marker doubles as the builders' idempotency key, so a crash
    mid-write must never leave a truncated marker): after a publish the
    final file holds complete JSON and no .tmp remains; an orphaned
    .tmp from a simulated crash is simply overwritten by the next
    publish."""
    import json
    import os

    from donut_spark.operators.ann_index import _read_meta, _write_meta

    path = str(tmp_path / "idx")
    os.makedirs(path)
    # simulated crash artifact: truncated tmp, no final marker
    with open(os.path.join(path, "_meta.json.tmp"), "w") as fh:
        fh.write('{"trunc')
    assert not os.path.exists(os.path.join(path, "_meta.json"))

    _write_meta(spark, path, {"centroids": [[1.0, 2.0]], "k": 3})
    assert json.load(open(os.path.join(path, "_meta.json")))["k"] == 3
    assert not os.path.exists(os.path.join(path, "_meta.json.tmp"))
    assert _read_meta(spark, path)["centroids"] == [[1.0, 2.0]]

    # re-publish over an existing marker (overwrite path) works too
    _write_meta(spark, path, {"k": 4})
    assert _read_meta(spark, path)["k"] == 4


def test_pq_index_probe_matches_online(spark, tmp_path):
    """The persisted PQ layout (write_pq_index: codes parquet + codebook
    sidecar) must return exactly what the online pq_topk returns with
    the same codebooks — the probe skips the per-query encode scan but
    may not change a single row."""
    from donut_spark.operators.ann_index import probe_pq_index, write_pq_index
    from donut_spark.operators.pq import pq_topk, train_pq_codebooks

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = train_pq_codebooks(e, m=8, k=64)
    q = [0.3] * 32 + [-0.2] * 32
    online = [
        (r.vec_id, round(r.cosine, 9))
        for r in pq_topk(e, books, q, k=15, rerank=60).collect()
    ]
    path = str(tmp_path / "pq_idx")
    write_pq_index(e, path, codebooks=books)
    probed = [
        (r.vec_id, round(r.cosine, 9))
        for r in probe_pq_index(spark, path, e, q, k=15, rerank=60).collect()
    ]
    assert probed == online and len(probed) == 15


def test_adaptive_rerank_count_geometry():
    """adaptive_rerank_count (the OOD rerank-escalation rule): a
    PLATEAU at the budget boundary — quantized ADC scores statistically
    indistinguishable from the last kept candidate — widens the exact
    rerank toward the caller's cap; a STEEP drop keeps exactly the
    base budget; degenerate inputs stay bounded."""
    from donut_spark.operators.similarity import adaptive_rerank_count

    # plateau at the boundary: 4 tied leaders, base 2 → all 4 kept
    assert adaptive_rerank_count([10.0, 10.0, 10.0, 10.0, 5.0], 2, 0.1) == 4
    # steep drop right after the boundary: nothing added
    assert adaptive_rerank_count([10.0, 9.0, 2.0, 1.9, 1.8], 2, 0.1) == 2
    # near-flat OOD profile: widening is proportional to how much of the
    # tail sits within margin x range of the boundary score — here
    # cut = scores[9] - 0.25 * 0.049 = 0.97875, crossed at index 22
    flat = [1.0 - 0.001 * i for i in range(50)]
    assert adaptive_rerank_count(flat, 10, 0.25) == 22
    # degenerate shapes
    assert adaptive_rerank_count([], 5, 0.1) == 0
    assert adaptive_rerank_count([3.0], 5, 0.1) == 1
    assert adaptive_rerank_count([3.0, 2.0], 5, 0.1) == 2  # base >= n → n


def test_rerank_candidates_escalation(spark):
    """_rerank_candidates: margin=None keeps the fixed top-``rerank``
    semi-join; a margin escalates through the boundary plateau but only
    within the driver-bounded cap — the candidate id set is exactly what
    adaptive_rerank_count picks from the capped head."""
    from donut_spark.operators.ann_index import _rerank_candidates

    scored = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 10.0), (4, 10.0), (5, 5.0), (6, 1.0)],
        ["id", "_adc"],
    )
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 7)], ["vec_id", "payload"]
    )
    fixed = _rerank_candidates(scored, base, 2, None, 4.0, "vec_id")
    assert {r.vec_id for r in fixed.collect()} == {1, 2}
    esc = _rerank_candidates(scored, base, 2, 0.1, 4.0, "vec_id")
    # plateau of four tied leaders escalates past base=2, the cap
    # (2 x 4.0 = 8 > 6 rows) permits all four; 5.0 is below the cut
    assert {r.vec_id for r in esc.collect()} == {1, 2, 3, 4}


def test_probe_ivfadc_rerank_margin_end_to_end(embeddings, tmp_path):
    """probe_ivfadc_index with rerank_margin: the exactness regime
    (all cells probed, rerank covering the pool) must STILL equal brute
    force through the adaptive code path, and with a deliberately
    starved rerank budget the escalated probe must never recall fewer
    true neighbors than the fixed one."""
    from donut_spark.operators.ann_index import (
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.operators.similarity import cosine_topk

    spark = embeddings.sparkSession
    q = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    path = write_ivfadc_index(
        embeddings, str(tmp_path / "ivfadc_rm"), n_centroids=6, m=4, k=16
    )
    want = [r.vec_id for r in cosine_topk(embeddings, q, k=10).collect()]
    got = probe_ivfadc_index(
        spark, path, embeddings, q, k=10, n_probe=6, rerank=100, rerank_margin=0.1
    ).collect()
    assert [r.vec_id for r in got] == want

    truth = set(want)
    fixed = {
        r.vec_id
        for r in probe_ivfadc_index(
            spark, path, embeddings, q, k=10, n_probe=6, rerank=5
        ).collect()
    }
    esc = {
        r.vec_id
        for r in probe_ivfadc_index(
            spark,
            path,
            embeddings,
            q,
            k=10,
            n_probe=6,
            rerank=5,
            rerank_margin=0.1,
            max_rerank_factor=20.0,
        ).collect()
    }
    assert len(esc & truth) >= len(fixed & truth)


def test_ivfadc_rerank_escalation_ood_curve(spark, tmp_path):
    """Round-4 verdict item 5, the committed discipline pinned at test
    scale (the sf1 curve lives in BENCH/r5_ood.md): on near-isotropic
    embeddings an OOD query's ADC profile is flat, so a starved fixed
    rerank loses true neighbors to quantization mis-ranking. Escalation
    (rerank_margin) must recover a strictly positive share of them at
    IDENTICAL probed coverage — it reranks more of the rows already
    scanned, never reads more cells. The residual gap to brute force is
    neighbor mass in unprobed cells, purchasable only with coverage
    (adaptive multiprobe), not with any rerank policy."""
    import numpy as np

    from donut_spark.operators.ann_index import (
        _read_meta,
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ood_idx")
    write_ivfadc_index(emb, path, n_centroids=8, m=8, k=16)
    cents = np.asarray(_read_meta(spark, path)["centroids"], dtype="float64")
    rng = np.random.default_rng(7)
    queries = [(-cents[c] / np.linalg.norm(cents[c])).tolist() for c in (0, 2, 4, 6)]
    queries += [
        (v / np.linalg.norm(v)).tolist()
        for v in rng.standard_normal((2, cents.shape[1]))
    ]
    k = 10
    fixed_hits = esc_hits = 0
    for q in queries:
        truth = {r.vec_id for r in cosine_topk(emb, q, k=k).collect()}
        fixed = {
            r.vec_id
            for r in probe_ivfadc_index(
                spark, path, emb, q, k=k, n_probe=4, rerank=10
            ).collect()
        }
        esc = {
            r.vec_id
            for r in probe_ivfadc_index(
                spark,
                path,
                emb,
                q,
                k=k,
                n_probe=4,
                rerank=10,
                rerank_margin=0.15,
                max_rerank_factor=10.0,
            ).collect()
        }
        fixed_hits += len(fixed & truth)
        esc_hits += len(esc & truth)
    # measured deterministically: fixed 18/60, escalated 22/60
    assert esc_hits >= fixed_hits + 2, (fixed_hits, esc_hits)


# ---------------------------------------------------------------------------
# duplicated passages (sub-document dedup)
# ---------------------------------------------------------------------------


def test_duplicated_passages_planted_run(spark):
    """A 12-token verbatim run shared by two docs at different offsets
    → one maximal passage per doc with exact token bounds."""
    from donut_spark.operators.dedup import duplicated_passages

    run = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu"
    )  # 12 tokens
    rows = [
        ("a", "one two three " + run + " tail1 tail2"),  # run at 3..14
        ("b", run + " closing words here"),  # run at 0..11
        ("c", "totally different content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in duplicated_passages(df, n=8).collect()}
    assert set(out) == {"a", "b"}
    a, b = out["a"], out["b"]
    assert (a.start_tok, a.end_tok, a.n_tokens) == (3, 14, 12)
    assert (b.start_tok, b.end_tok, b.n_tokens) == (0, 11, 12)
    # 12-token run → 12-8+1 = 5 consecutive duplicated shingle positions
    assert a.n_shingles == 5 and b.n_shingles == 5
    assert a.max_doc_freq == 2


def test_duplicated_passages_disjoint_runs_stay_separate(spark):
    """Two shared runs separated by non-duplicated gaps → two passage
    rows per doc, not one merged span."""
    from donut_spark.operators.dedup import duplicated_passages

    run1 = "r1a r1b r1c r1d r1e r1f r1g r1h"  # exactly 8 tokens
    run2 = "r2a r2b r2c r2d r2e r2f r2g r2h"
    rows = [
        ("a", run1 + " gap1 gap2 gap3 " + run2),
        ("b", run1 + " other middle words entirely x1 x2 " + run2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = duplicated_passages(df, n=8).collect()
    spans = {(r.doc_id, r.start_tok, r.end_tok) for r in out}
    assert spans == {
        ("a", 0, 7),
        ("a", 11, 18),
        ("b", 0, 7),
        ("b", 14, 21),
    }


def test_duplicated_passages_short_doc_case_and_ws_insensitive(spark):
    """Docs shorter than the shingle width dedup as whole-doc passages,
    through the same lowercase + ''-filtered-split normalization as
    every other shingle operator."""
    from donut_spark.operators.dedup import duplicated_passages

    rows = [
        ("a", "tiny shared doc"),
        ("b", "  TINY   Shared \t DOC "),
        ("c", "some other thing entirely unrelated"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in duplicated_passages(df, n=8).collect()}
    assert set(out) == {"a", "b"}
    for r in out.values():
        assert (r.start_tok, r.end_tok, r.n_tokens) == (0, 2, 3)


def test_duplicated_passages_doc_freq_cap_drops_boilerplate(spark):
    """max_doc_freq excludes stop-phrase shingles present in 'every'
    doc while keeping genuinely-paired passages."""
    from donut_spark.operators.dedup import duplicated_passages

    boiler = "all rights reserved by the happy example corp"  # 8 tokens
    pair = "nine distinct tokens forming one genuinely shared passage run"
    rows = [(f"d{i}", boiler + f" unique{i} tail{i}") for i in range(5)]
    rows += [("p1", pair + " endA"), ("p2", pair + " endB")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = duplicated_passages(df, n=8, max_doc_freq=3).collect()
    assert {r.doc_id for r in capped} == {"p1", "p2"}
    uncapped = duplicated_passages(df, n=8).collect()
    assert {r.doc_id for r in uncapped} == {f"d{i}" for i in range(5)} | {
        "p1",
        "p2",
    }


def test_duplicated_passages_plan_and_persist(spark):
    """The word split must stay un-inlined (one split per positions
    subtree — the O(words²) lambda-reevaluation trap), and persist=True
    must attach a releasable cache handle."""
    from donut_spark.operators.dedup import duplicated_passages
    from donut_spark.plans.cache import release_persisted

    df = spark.createDataFrame([("a", "w x y z"), ("b", "w x y z")],
                               ["doc_id", "text"])
    plan = (
        duplicated_passages(df, n=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # positions are evaluated on both sides of the self-referencing
    # join (doc-frequency side + position side): exactly one
    # materialized split per side, never one per shingle index
    assert plan.count("split(lower") <= 2, plan
    from donut_spark.plans.cache import persistent_rdd_ids

    res = duplicated_passages(df, n=3, persist=True)
    rows = res.collect()
    assert rows and rows[0].n_tokens == 4
    before = persistent_rdd_ids(spark.sparkContext)
    release_persisted(res)
    assert persistent_rdd_ids(spark.sparkContext) < before


def test_trim_duplicated_passages_composes_with_detect(spark):
    """detect → trim removes exactly the flagged token spans; re-running
    detection on the trimmed corpus finds NOTHING (fixpoint); untouched
    docs pass through; whole-doc duplicates are exempt by default and
    emptied in strict mode (left to doc-level dedup otherwise)."""
    from donut_spark.operators.dedup import (
        duplicated_passages,
        trim_duplicated_passages,
    )

    run = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu"
    )
    rows = [
        ("a", "One two three " + run + " tail1 tail2"),
        ("b", run + " closing words here"),
        ("c", "unique text entirely its own thing nothing shared at all"),
        ("d", "tiny shared doc"),
        ("e", "tiny shared doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = duplicated_passages(df, n=8)
    out = {
        r.doc_id: r.text_trimmed
        for r in trim_duplicated_passages(df, p).collect()
    }
    assert out["a"] == "one two three tail1 tail2"  # case-normalized
    assert out["b"] == "closing words here"
    assert out["c"].startswith("unique text entirely")
    assert out["d"] == out["e"] == "tiny shared doc"  # whole-doc exempt
    strict = {
        r.doc_id: r.text_trimmed
        for r in trim_duplicated_passages(
            df, p, keep_whole_doc=False
        ).collect()
    }
    assert strict["d"] == strict["e"] == ""
    # fixpoint: the trimmed corpus has no duplicated passages left
    df2 = spark.createDataFrame(
        [(k, v) for k, v in out.items()], ["doc_id", "text"]
    )
    again = duplicated_passages(df2, n=8).collect()
    assert [r for r in again if r.doc_id in ("a", "b", "c")] == []


def test_trim_duplicated_passages_is_jvm_only(spark):
    """The trim projection must add zero Python eval nodes."""
    from donut_spark.operators.dedup import (
        duplicated_passages,
        trim_duplicated_passages,
    )

    df = spark.createDataFrame([("a", "w x y z")], ["doc_id", "text"])
    plan = (
        trim_duplicated_passages(df, duplicated_passages(df, n=3))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, plan
