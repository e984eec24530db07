"""Local replica of the driver's correctness gate: every oracle-backed
query in __spark_entry__ runs on Spark and DuckDB at sf0.001 and must
match on row count, sorted-column schema, and values."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

TABLES = entry_mod.ORACLE_TABLES


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def _compare(sdf: pd.DataFrame, odf: pd.DataFrame, name: str):
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: schema mismatch"
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    a, b = _canon(sdf), _canon(odf)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if pd.isna(x) != pd.isna(y):
                # one-sided null: a clean assertion, not a TypeError
                # from float(None) inside isclose
                ok = False
            elif isinstance(x, float) or isinstance(y, float):
                ok = (
                    (pd.isna(x) and pd.isna(y))
                    or math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9)
                )
            else:
                ok = x == y
            assert ok, f"{name}: col {col} row {i}: spark={x!r} oracle={y!r}"


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.fixture(scope="module")
def oracle_sqls(spark):
    """Oracle twins pointed at THIS scale factor's materialized fixture
    (oracle_sql() itself pins the driver's sf0.01 fixture path)."""
    from donut_spark.sources.fixtures import (
        materialize_fingerprints,
        materialize_ivf_centroids,
        materialize_ivfadc_codebooks,
        materialize_spans,
        materialize_srp_planes,
    )

    fx = materialize_spans(spark, SF_SMALL)
    fp = materialize_fingerprints(SF_SMALL)
    planes = materialize_srp_planes()
    # the IVF / IVF-ADC codebook fixtures are trained ONCE on sf0.01 and
    # shared by every scale (they are the frozen-parameter side of
    # q41/q54, not data under test) — mirroring the driver oracle's
    # committed paths
    ivf = materialize_ivf_centroids(spark)
    adc_cents, adc_books = materialize_ivfadc_codebooks(spark)
    return entry_mod._oracle_sql_for(
        f"{fx}/*.parquet",
        fp=fp,
        planes=planes,
        ivf=ivf,
        adc_cents=adc_cents,
        adc_books=adc_books,
    )


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(spark, oracle_con, oracle_sqls, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_SMALL).toPandas()
    odf = oracle_con.execute(oracle_sqls[name]).df()
    _compare(sdf, odf, name)


def test_fixture_matches_generator(spark):
    """The committed fixture parquet must track the generator code AND
    the corpus: a fresh in-memory synthesis must be row-identical by a
    FULL OUTER join, so re-keyed/added/removed doc_ids fail too (an
    inner join passes vacuously when the corpus is regenerated with
    shifted ids — same count, empty intersection)."""
    from pyspark.sql import functions as F

    from donut_spark.sources.fixtures import build_spans_table, load_spans

    fresh = build_spans_table(spark, SF_SMALL, with_expected_json=True)
    stored = load_spans(spark, SF_SMALL)
    assert stored.count() == fresh.count()
    j = stored.select(
        "doc_id",
        F.to_json("spans").alias("s"),
        F.col("expected_json").alias("e"),
        "gt_parse",
    ).join(
        fresh.select(
            "doc_id",
            F.to_json("spans").alias("s2"),
            F.col("expected_json").alias("e2"),
            F.col("gt_parse").alias("g2"),
        ),
        "doc_id",
        "full_outer",
    )
    n_bad = j.filter(
        F.col("s").isNull()
        | F.col("s2").isNull()
        | (F.col("s") != F.col("s2"))
        | (F.col("e") != F.col("e2"))
        | (F.col("gt_parse") != F.col("g2"))
    ).count()
    assert n_bad == 0


@pytest.mark.parametrize(
    "sf_dir", [SF_SMALL, "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_fingerprint_fixture_matches_kernels(tmp_path, sf_dir):
    """Every committed fingerprint fixture (including the sf0.01 one the
    DRIVER oracle reads) must track the hash kernels: a fresh pure-Python
    rebuild into tmp must be row-for-row identical — full outer join, so
    added/removed/changed docs all fail (guards against editing
    simhash64/minhash_signature, or regenerating the corpus, without
    re-materializing — which would silently detach the dedup oracles)."""
    import duckdb

    from donut_spark.sources.fixtures import materialize_fingerprints

    committed = materialize_fingerprints(sf_dir)
    fresh = materialize_fingerprints(sf_dir, out_root=str(tmp_path))
    con = duckdb.connect()
    n_c, n_f = (
        con.execute(
            f"SELECT (SELECT count(*) FROM read_parquet('{committed}')),"
            f"       (SELECT count(*) FROM read_parquet('{fresh}'))"
        ).fetchone()
    )
    assert n_c == n_f
    n_bad = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{committed}') c
        FULL OUTER JOIN read_parquet('{fresh}') f USING (doc_id)
        WHERE c.doc_id IS NULL OR f.doc_id IS NULL
           OR c.simhash <> f.simhash OR c.minhash_sig <> f.minhash_sig
        """
    ).fetchone()[0]
    assert n_bad == 0


def test_srp_planes_fixture_matches_kernel(tmp_path):
    """Committed SRP hyperplanes == a fresh draw from the seeded RNG."""
    import numpy as np
    import pyarrow.parquet as pq

    from donut_spark.operators.similarity import _srp_planes
    from donut_spark.sources.fixtures import materialize_srp_planes

    committed = pq.read_table(materialize_srp_planes()).to_pydict()
    planes = _srp_planes(64, 32, 13)
    for bit, plane in zip(committed["bit"], committed["plane"]):
        assert np.array_equal(np.asarray(plane), planes[:, bit])


def test_ivf_centroid_fixture_matches_trainer(spark, tmp_path):
    """The committed IVF codebook must track the trainer and the sf0.01
    embeddings: a fresh training run into tmp must be bit-identical
    (guards against editing _ivf_centroids, or regenerating the
    embeddings, without re-materializing — which would silently detach
    the q41 oracle from the Spark query's cell layout)."""
    import numpy as np
    import pyarrow.parquet as pq

    from donut_spark.sources.fixtures import materialize_ivf_centroids

    committed = pq.read_table(materialize_ivf_centroids(spark)).to_pydict()
    fresh = pq.read_table(
        materialize_ivf_centroids(spark, out_root=str(tmp_path))
    ).to_pydict()
    assert committed["cell"] == fresh["cell"]
    for a, b in zip(committed["centroid"], fresh["centroid"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))
        assert abs(np.linalg.norm(np.asarray(a)) - 1.0) < 1e-12  # unit-norm


def test_ivfadc_fixture_matches_trainer(spark, tmp_path):
    """The committed IVF-ADC codebook fixture must track the trainer and
    the sf0.01 embeddings: a fresh training run into tmp must be
    bit-identical for centroids, their unit-norm twins, AND every PQ
    book entry (guards against editing train_ivfadc /
    codebooks_from_sample, or regenerating the embeddings, without
    re-materializing — which would silently detach the q54 pruned-probe
    oracle from the Spark query's layout)."""
    import numpy as np
    import pyarrow.parquet as pq

    from donut_spark.sources.fixtures import materialize_ivfadc_codebooks

    c_cents, c_books = materialize_ivfadc_codebooks(spark)
    f_cents, f_books = materialize_ivfadc_codebooks(spark, out_root=str(tmp_path))
    cc, fc = pq.read_table(c_cents).to_pydict(), pq.read_table(f_cents).to_pydict()
    assert cc["cell"] == fc["cell"]
    for a, b, an in zip(cc["centroid"], fc["centroid"], cc["centroid_n"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))
        # centroid_n really is the unit-norm twin of centroid
        n = np.linalg.norm(np.asarray(a))
        assert np.allclose(np.asarray(an) * n, np.asarray(a), atol=1e-12)
    cb, fb = pq.read_table(c_books).to_pydict(), pq.read_table(f_books).to_pydict()
    assert cb["s"] == fb["s"] and cb["j"] == fb["j"]
    for a, b in zip(cb["code"], fb["code"]):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_queries_window_covers_intricate_rows():
    """The driver's correctness gate executes (at most) the first 50
    queries() entries — pin that every algorithmically intricate ANN /
    contamination query sits INSIDE that window (the round-3 verdict's
    top item: q51/q52/q53 spent two rounds outside it)."""
    head = list(entry_mod.queries())[:50]
    for name in (
        "q51_ann_pq",
        "q52_contamination",
        "q53_ann_ivfadc",
        "q54_ann_ivfadc_pruned",
    ):
        assert name in head, f"{name} fell outside the driver's 50-row window"


def test_every_oracle_key_has_query():
    qs = entry_mod.queries()
    for k in entry_mod.oracle_sql():
        assert k in qs


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "doc_id", "n_spans_in", "n_spans_out", "exact_match",
        "roundtrip_ok", "nted",
    }


def test_q15_releases_its_persist(spark):
    """q15's persisted passage positions ride the returned union, so
    release_persisted(result) after consuming it leaves no block behind."""
    from donut_spark.plans.cache import persistent_rdd_ids, release_persisted

    sc = spark.sparkContext
    # an earlier q15 run in this session may have left the same plan cached;
    # persist() would then reuse that entry instead of adding one
    spark.catalog.clearCache()
    before = persistent_rdd_ids(sc)
    result = entry_mod.q15_exact_dup_clusters(spark, SF_SMALL)
    result.collect()
    release_persisted(result)
    assert persistent_rdd_ids(sc) == before


def test_registry_exactly_fifty_all_oracle_backed():
    """Round-4 advice (medium): the external gate evaluates at most 50
    queries — pin that the registry is EXACTLY 50 and every entry has an
    oracle, so the gate verifies the complete registry with no silent
    tail rotation ever again."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) == 50, f"registry drifted to {len(qs)} entries"
    assert set(qs) == set(oracles), (
        set(qs) ^ set(oracles)
    )
