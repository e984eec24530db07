"""End-to-end pipeline tests: fixture synthesis, the extraction plan,
invariants, lineage, checkpoint resume, streaming, multimodal."""

import os

import pytest
from pyspark.sql import functions as F

from donut_spark.operators.extract import (
    evaluate_extraction,
    extract_documents,
    run_flagship,
)
from donut_spark.sources.fixtures import build_spans_table, synth_doc
from tests.conftest import SF_SMALL


def _one_span_per_text(df):
    """Stand-in extraction for the checkpoint tests: each document's
    text as its single extracted span."""
    return df.withColumn(
        "extracted",
        F.array(F.struct(F.lit("text").alias("kind"), F.col("text").alias("text"))),
    )


def _docs_with_poison(spark, n):
    """``n`` healthy SynthDoG-style documents plus one recursion-bomb
    HTML document (``doc_id`` 'poison') that the fused kernel's error
    channel quarantines."""
    from donut_spark.sources.fixtures import SPANS_TABLE_SCHEMA

    rows = []
    for i in range(n):
        spans, expected, gt = synth_doc(f"ok_{i}", "alpha beta gamma delta")
        rows.append((f"ok_{i}", spans, expected, gt))
    bomb = "<div>" * 4000 + "x" + "</div>" * 4000
    rows.append(
        (
            "poison",
            [{"kind": "text", "text": bomb, "media_ref": "", "offset": 0}],
            [],
            '{"doc": {"title": "p"}}',
        )
    )
    return spark.createDataFrame(rows, SPANS_TABLE_SCHEMA)


def _with_outlier(spark, df):
    """``df`` plus one SynthDoG-style document holding twice as many spans
    as all of ``df`` together: a skewed input, where one document is most
    of the work."""
    from donut_spark.sources.fixtures import SPANS_TABLE_SCHEMA

    n = df.agg(F.sum(F.size("spans"))).first()[0]
    spans, expected, gt = synth_doc("outlier", "alpha beta gamma delta", n_text=n, n_media=n)
    heavy = spark.createDataFrame([("outlier", spans, expected, gt)], SPANS_TABLE_SCHEMA)
    return df.unionByName(heavy)


def test_synth_doc_deterministic():
    a = synth_doc("doc_1", "alpha beta gamma delta epsilon")
    b = synth_doc("doc_1", "alpha beta gamma delta epsilon")
    assert a == b
    c = synth_doc("doc_2", "alpha beta gamma delta epsilon")
    assert c != a


def test_synth_doc_offsets_are_permutation():
    spans, expected, _ = synth_doc("doc_7", "one two three four five six")
    offs = sorted(s["offset"] for s in spans)
    assert offs == list(range(len(spans)))
    assert [e["offset"] for e in expected] == list(range(len(expected)))


def test_spans_table_schema(spark):
    df = build_spans_table(spark, SF_SMALL, limit=10)
    assert df.columns == ["doc_id", "spans", "expected", "gt_parse"]
    row = df.first()
    assert row.spans[0].kind in ("text", "media")


def test_flagship_invariants_doc_mode(spark):
    df = run_flagship(spark, SF_SMALL, limit=120)
    agg = df.agg(
        F.avg("exact_match").alias("em"),
        F.avg("roundtrip_ok").alias("rt"),
        F.avg("nted").alias("nted"),
        F.count("*").alias("n"),
    ).first()
    assert agg.n == 120
    assert agg.em == 1.0
    assert agg.rt == 1.0
    assert agg.nted == 1.0


def test_span_mode_matches_doc_mode(spark):
    """``mode`` is inert: ``"doc"`` and ``"span"`` build the same plan,
    and any other value is refused."""
    spans = _with_outlier(spark, build_spans_table(spark, SF_SMALL, limit=80))
    doc = extract_documents(spans, mode="doc")
    span = extract_documents(spans, mode="span")
    plan = doc._jdf.queryExecution().optimizedPlan()
    assert plan.sameResult(span._jdf.queryExecution().optimizedPlan())
    assert doc.schema == span.schema
    with pytest.raises(ValueError, match="unknown mode"):
        extract_documents(spans, mode="salted")


def test_flagship_plan_exchange_free(spark):
    """The fused flagship plan must stay map-only: one parquet scan, ONE
    ArrowEvalPython node (the fused kernel), zero Exchange — scan splits
    provide all parallelism, nothing shuffles at 100 TB."""
    import re

    from donut_spark.operators.extract import extract_and_evaluate
    from donut_spark.sources.fixtures import load_spans

    df = extract_and_evaluate(load_spans(spark, SF_SMALL))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    assert len(re.findall(r"(?:File)?Scan parquet", plan)) == 1


def test_media_heavy_tail_exists(spark):
    df = build_spans_table(spark, SF_SMALL)
    heavy = df.filter(F.size("spans") >= 48).count()
    total = df.count()
    assert 0.03 * total < heavy < 0.25 * total


def test_lineage_metrics(spark):
    from donut_spark.plans.lineage import lineage_metrics

    df = run_flagship(spark, SF_SMALL, limit=50)
    lm = lineage_metrics(df).collect()
    assert sum(r.n_docs for r in lm) == 50
    assert all(r.checksum is not None for r in lm)


def test_checkpoint_resume(spark, tmp_path):
    from donut_spark.operators.checkpoint import committed_buckets, run_resumable

    out = str(tmp_path / "ckpt_out")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        F.col("doc_id").cast("string"), "text"
    )

    first = run_resumable(spark, docs, _one_span_per_text, out, n_buckets=8)
    assert len(first) == 8
    # second run is a no-op
    second = run_resumable(spark, docs, _one_span_per_text, out, n_buckets=8)
    assert second == []
    assert committed_buckets(out) == list(range(8))
    # all rows present exactly once
    written = spark.read.parquet(os.path.join(out, "data"))
    assert written.count() == docs.count()
    # per-bucket lineage written alongside the commit log
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.count() == 8
    assert lineage.agg(F.sum("n_docs")).first()[0] == docs.count()
    assert lineage.filter(F.col("checksum").isNull()).count() == 0


def test_checkpoint_crash_window_no_duplicates(spark, tmp_path):
    """Crash AFTER the parquet job commits but BEFORE markers land: the
    re-run must replace the orphaned bucket partitions, not append dupes
    (dynamic partition overwrite makes the data write itself idempotent)."""
    import shutil

    from donut_spark.operators.checkpoint import run_resumable

    out = str(tmp_path / "crash_out")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        F.col("doc_id").cast("string"), "text"
    )

    run_resumable(spark, docs, _one_span_per_text, out, n_buckets=8)
    # simulate the crash window: data committed, markers lost
    shutil.rmtree(os.path.join(out, "_commits"))
    reprocessed = run_resumable(spark, docs, _one_span_per_text, out, n_buckets=8)
    assert len(reprocessed) == 8  # everything re-ran...
    written = spark.read.parquet(os.path.join(out, "data"))
    assert written.count() == docs.count()  # ...but rows appear exactly once


def test_checkpoint_resume_routes_quarantine(spark, tmp_path):
    """Resume mode must keep data/ semantics identical to the plain
    path: errored rows go to a bucket-partitioned quarantine/, never
    into data/ (downstream consumers of data/ must not ingest poison
    rows after a resumed run), and _error is dropped from data/ exactly
    like plans.lineage.quarantine_split does."""
    from donut_spark.operators.checkpoint import run_resumable

    out = str(tmp_path / "quar_out")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        F.col("doc_id").cast("string"), "text"
    )
    n_total = docs.count()

    def transform(df):
        return _one_span_per_text(df).withColumn(
            "_error",
            F.when(F.col("doc_id").cast("long") % 10 == 0, F.lit("poison")),
        )

    run_resumable(spark, docs, transform, out, n_buckets=8)
    data = spark.read.parquet(os.path.join(out, "data"))
    quarantine = spark.read.parquet(os.path.join(out, "quarantine"))
    assert "_error" not in data.columns
    assert "_bucket" in quarantine.columns
    n_bad = quarantine.count()
    assert n_bad == docs.filter(F.col("doc_id").cast("long") % 10 == 0).count()
    assert data.count() == n_total - n_bad
    # no overlap: a doc is in exactly one of the two outputs
    assert data.join(quarantine, "doc_id", "inner").count() == 0
    # lineage audits data/ only (good rows)
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.agg(F.sum("n_docs")).first()[0] == n_total - n_bad


def test_quarantine_split(spark):
    from donut_spark.plans.lineage import quarantine_split

    df = spark.createDataFrame(
        [("a", None), ("b", "boom")], ["doc_id", "_error"]
    )
    good, bad = quarantine_split(df)
    assert good.columns == ["doc_id"]
    assert [r.doc_id for r in good.collect()] == ["a"]
    assert [r.doc_id for r in bad.collect()] == ["b"]


def test_multi_gt_envelope_branches(spark, tmp_path):
    """gt_parses envelope branch (donut/util.py:75-82): a metadata.jsonl
    with BOTH envelope forms round-trips through the sink + reader, the
    list form keeps all candidates, the single form wraps to one, and
    best-of-candidates scoring strictly beats the decoy's score."""
    import json

    from donut_spark.functions.udfs import nted_best_udf, nted_udf
    from donut_spark.sources.catalog import read_metadata_jsonl

    true_parse = {"doc": {"title": "alpha beta", "items": [{"nm": "x", "cnt": "2"}]}}
    decoy = {"doc": {"title": "alpha beta decoy", "items": []}}
    lines = [
        json.dumps(
            {
                "file_name": "multi",
                "ground_truth": json.dumps({"gt_parses": [true_parse, decoy]}),
            }
        ),
        json.dumps(
            {
                "file_name": "single",
                "ground_truth": json.dumps({"gt_parse": true_parse}),
            }
        ),
        json.dumps({"file_name": "broken", "ground_truth": "not json"}),
    ]
    path = tmp_path / "metadata.jsonl"
    path.write_text("\n".join(lines))

    md = read_metadata_jsonl(spark, str(path))
    rows = {r.file_name: r.gt_candidates for r in md.collect()}
    assert len(rows["multi"]) == 2
    assert len(rows["single"]) == 1
    assert rows["broken"] == []
    assert json.loads(rows["single"][0]) == true_parse

    # best-of-candidates: pred == true parse → best is 1.0 even though the
    # decoy candidate scores strictly lower
    df = md.filter(F.col("file_name") == "multi").select(
        nted_best_udf(
            F.lit(json.dumps(true_parse)), F.col("gt_candidates")
        ).alias("best"),
        nted_udf(
            F.lit(json.dumps(true_parse)), F.lit(json.dumps(decoy))
        ).alias("vs_decoy"),
    )
    r = df.first()
    assert r.best == 1.0
    assert r.vs_decoy < 1.0


def test_poison_doc_quarantined_not_fatal(spark):
    """S11 inside the fused UDF and in ``extract_documents``: a
    pathological document (recursion-bomb HTML) must not fail the job —
    it lands in the quarantine frame with an error string while every
    healthy doc, the skewed input's outlier included, still evaluates
    clean."""
    from donut_spark.operators.extract import extract_and_evaluate
    from donut_spark.plans.lineage import quarantine_split

    docs = _with_outlier(spark, _docs_with_poison(spark, 6))
    for evaluated in (
        extract_and_evaluate(docs),
        evaluate_extraction(extract_documents(docs)),
    ):
        good, bad = quarantine_split(evaluated)
        bad_rows = bad.select("doc_id", "_error").collect()
        assert [r.doc_id for r in bad_rows] == ["poison"]
        assert "RecursionError" in bad_rows[0]._error
        g = good.agg(
            F.count("*").alias("n"), F.avg("exact_match").alias("em")
        ).first()
        assert g.n == 7 and g.em == 1.0


def test_streaming_extraction(spark, tmp_path):
    """Micro-batch streaming twin produces the same rows as batch."""
    from donut_spark.streaming.stream import stream_extract_from_files

    src = str(tmp_path / "stream_src")
    sink = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "stream_ckpt")
    batch = build_spans_table(spark, SF_SMALL, limit=40)
    batch.write.parquet(src)

    q = (
        stream_extract_from_files(spark, src, max_files_per_trigger=2)
        .select("doc_id", "extracted")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 40


def test_streaming_poison_doc_survives(spark, tmp_path):
    """A streaming query must never die on one bad record: the poison doc
    flows to the _error column, healthy docs keep extracting."""
    from donut_spark.sources.fixtures import SPANS_TABLE_SCHEMA, synth_doc
    from donut_spark.streaming.stream import stream_extract_from_files

    src = str(tmp_path / "poison_src")
    sink = str(tmp_path / "poison_sink")
    ckpt = str(tmp_path / "poison_ckpt")
    rows = []
    for i in range(5):
        spans, expected, gt = synth_doc(f"ok_{i}", "alpha beta gamma")
        rows.append((f"ok_{i}", spans, expected, gt))
    bomb = "<div>" * 4000 + "x" + "</div>" * 4000
    rows.append(
        ("poison", [{"kind": "text", "text": bomb, "media_ref": "", "offset": 0}],
         [], "{}")
    )
    spark.createDataFrame(rows, SPANS_TABLE_SCHEMA).write.parquet(src)

    q = (
        stream_extract_from_files(spark, src, max_files_per_trigger=2)
        .select("doc_id", "extracted", "_error")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == 6
    bad = out.filter(F.col("_error").isNotNull()).collect()
    assert [r.doc_id for r in bad] == ["poison"]
    assert "RecursionError" in bad[0]._error


def test_stateful_sessionize(spark, tmp_path):
    """Custom stateful op: gap sessionization over a real event stream."""
    from donut_spark.streaming.stream import sessionize

    src = str(tmp_path / "ev_src")
    sink = str(tmp_path / "ev_sink")
    ckpt = str(tmp_path / "ev_ckpt")
    # user 1: two sessions split by a 300s gap; user 2: one session
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:30"),
        (1, "2024-01-01 00:05:30"), (1, "2024-01-01 00:05:40"),
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts_str"]).selectExpr(
        "user_id", "cast(ts_str as timestamp) as ts"
    )
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        sessionize(stream, gap_seconds=60)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = {
        (r.user_id, r.n_events)
        for r in spark.read.parquet(sink).collect()
    }
    # only user 1's FIRST session closes within the batch (gap observed);
    # open tails stay in state
    assert (1, 2) in out
    assert all(u != 2 for u, _ in out)


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    """Watermarked windowed agg over a stream must equal the batch
    tumbling-window aggregation of the same data."""
    from donut_spark.streaming.stream import windowed_event_counts

    src = str(tmp_path / "wec_src")
    sink = str(tmp_path / "wec_sink")
    ckpt = str(tmp_path / "wec_ckpt")
    rows = [
        (f"2024-01-01 00:{m:02d}:{s:02d}", "click" if m % 2 else "view", float(m + s))
        for m in range(4)
        for s in (5, 35)
    ]
    df = spark.createDataFrame(rows, ["ts_str", "event_type", "value"]).selectExpr(
        "cast(ts_str as timestamp) as ts", "event_type", "value"
    )
    df.write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        windowed_event_counts(stream, window="1 minute", watermark="2 minutes")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window.start.minute, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r.window.start.minute, r.event_type): (r.n, r.sum_value)
        for r in windowed_event_counts(df).collect()
    }
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch answer exactly
    assert got
    for key, val in got.items():
        assert batch[key] == val


def test_read_table_through_real_catalog(spark, tmp_path):
    """read_table resolves managed tables through an actual catalog —
    not just the parquet fallback and the Iceberg failure mode. The
    sandbox has no Iceberg runtime jar and no pyiceberg (and no pip),
    so the exercisable catalog is Spark's session catalog: a `donut`
    database with a managed `documents` table must be served from the
    catalog (provable: it keeps serving rows the parquet dir never had)."""
    from pyspark.sql import Row

    from donut_spark.sources.catalog import read_table

    spark.sql(f"CREATE DATABASE donut LOCATION '{tmp_path / 'wh'}'")
    try:
        spark.createDataFrame(
            [Row(doc_id="cat-only-1", text="served from the catalog")]
        ).write.saveAsTable("donut.documents")
        got = read_table(spark, "documents", SF_SMALL)
        rows = got.collect()
        assert [r.doc_id for r in rows] == ["cat-only-1"]  # catalog, not parquet
        # other tables still fall back to the parquet dir
        assert read_table(spark, "embeddings", SF_SMALL).limit(1).count() == 1
    finally:
        spark.sql("DROP DATABASE donut CASCADE")
    # and after the drop, documents resolves to parquet again
    assert read_table(spark, "documents", SF_SMALL).limit(1).first().doc_id != "cat-only-1"


def test_iceberg_dispatch_is_taken_when_configured(spark):
    """read_table must route to the Iceberg reader when a catalog is
    configured (this container has no Iceberg jar, so the dispatch is
    proven by the failure MODE: the iceberg data source is what errors,
    not the parquet fallback)."""
    import pytest as _pytest

    from donut_spark.sources.catalog import read_table

    spark.conf.set("spark.sql.catalog.donut", "org.apache.iceberg.spark.SparkCatalog")
    try:
        with _pytest.raises(Exception) as excinfo:
            read_table(spark, "documents", SF_SMALL).limit(1).collect()
        msg = str(excinfo.value).lower()
        assert "iceberg" in msg or "sparkcatalog" in msg or "data source" in msg
    finally:
        spark.conf.unset("spark.sql.catalog.donut")
    # and the parquet fallback still works once unset
    assert read_table(spark, "documents", SF_SMALL).limit(1).count() == 1


def test_multimodal_plumbing(spark):
    from donut_spark.operators.multimodal import (
        decode_and_featurize,
        join_spans_with_media,
        synth_media_table,
    )

    spans = build_spans_table(spark, SF_SMALL, limit=60)
    media = synth_media_table(spark, spans)
    n_refs = media.count()
    assert n_refs > 0
    assert media.select("media_ref").distinct().count() == n_refs

    feats = decode_and_featurize(media, feat_dim=8)
    row = feats.first()
    assert len(row.features) == 8
    assert feats.count() == n_refs
    # determinism of the fake featurizer
    row2 = decode_and_featurize(media, feat_dim=8).filter(
        F.col("media_ref") == row.media_ref
    ).first()
    assert row2.features == row.features

    joined = join_spans_with_media(spans, media)
    assert joined.filter(F.col("meta").isNull()).count() == 0


def test_streaming_exact_dedup_bounded_state(spark, tmp_path):
    """Streaming twin of exact_dedup: duplicates are dropped WITHIN and
    ACROSS micro-batches (fingerprint-keyed state), and the state is
    watermark-bounded (dropDuplicatesWithinWatermark, not the
    unbounded-state dropDuplicates)."""
    import os

    from donut_spark.streaming.stream import streaming_exact_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def batch(rows):
        return (
            spark.createDataFrame(rows, ["doc_id", "text", "ts_str"])
            .withColumn("ts", F.col("ts_str").cast("timestamp"))
            .drop("ts_str")
        )

    b1 = batch(
        [
            (1, "alpha text", "2026-01-01 00:00:00"),
            (2, "beta text", "2026-01-01 00:00:05"),
            (3, "alpha text", "2026-01-01 00:00:07"),  # in-batch dup
        ]
    )
    b2 = batch(
        [
            (4, "alpha text", "2026-01-01 00:00:20"),  # cross-batch dup
            (5, "gamma text", "2026-01-01 00:00:25"),
        ]
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "b1"))
    b2.coalesce(1).write.parquet(os.path.join(src, "b2"))

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # exactly one 'alpha' survives (whichever batch arrived first), plus
    # the two unique texts
    assert len(got) == 3
    assert 2 in got and 5 in got
    assert len({1, 3, 4} & set(got)) == 1


def test_deterministic_split_covers_every_row(spark):
    """[1,1,1] weights must partition the table exactly (the per-weight
    rounding bug left hash bucket 999 in NO split — silent row loss)."""
    from donut_spark.sources.catalog import deterministic_split

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    for weights in ([1, 1, 1], [0.5, 0.25, 0.25], [2, 3], [1, 1, 1, 1, 1, 1, 1]):
        parts = deterministic_split(d, weights)
        assert sum(p.count() for p in parts) == d.count(), weights
        # disjoint: pairwise intersections empty
        ids = [set(r.doc_id for r in p.select("doc_id").collect()) for p in parts]
        assert sum(len(s) for s in ids) == len(set().union(*ids))


def test_checkpoint_empty_output_bucket_still_commits(spark, tmp_path):
    """A bucket whose transform output is EMPTY must still commit —
    otherwise every subsequent run reprocesses it forever."""
    from donut_spark.operators.checkpoint import committed_buckets, run_resumable

    out = str(tmp_path / "empty_out")
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        F.col("doc_id").cast("string"), "text"
    )

    def drop_everything(df):
        return _one_span_per_text(df.filter(F.lit(False)))

    first = run_resumable(spark, docs, drop_everything, out, n_buckets=8)
    assert first == list(range(8))
    assert committed_buckets(out) == list(range(8))
    second = run_resumable(spark, docs, drop_everything, out, n_buckets=8)
    assert second == []


def test_plain_and_resume_runs_share_one_lineage(spark, tmp_path):
    """One sink, one lineage definition: a plain run and an 8-bucket
    resume run over the same input agree on the global lineage XOR, the
    documents counted, and the doc_ids in data/ and in quarantine/."""
    from donut_spark.operators.checkpoint import run_resumable
    from donut_spark.operators.extract import extract_and_evaluate
    from donut_spark.operators.sink import write_outputs

    docs = _docs_with_poison(spark, 30)
    plain, resumed = str(tmp_path / "plain"), str(tmp_path / "resumed")
    write_outputs(spark, extract_and_evaluate(docs), plain)
    run_resumable(spark, docs, extract_and_evaluate, resumed, n_buckets=8)

    def outputs(out):
        lineage = spark.read.parquet(f"{out}/lineage").agg(
            F.sum("n_docs").alias("n"), F.expr("bit_xor(checksum)").alias("x")
        ).first()
        data, quarantine = (
            {r.doc_id for r in spark.read.parquet(f"{out}/{sub}").collect()}
            for sub in ("data", "quarantine")
        )
        return lineage.n, lineage.x, data, quarantine

    n, xor, data, quarantine = outputs(plain)
    assert outputs(resumed) == (n, xor, data, quarantine)
    assert n == len(data) == 30 and quarantine == {"poison"}
    assert "_bucket" in spark.read.parquet(f"{resumed}/lineage").columns


def test_sessionize_late_event_never_moves_end_backward(spark, tmp_path):
    """Cross-batch LATE arrival within the gap must extend the session
    span (min/max), never regress session_end below session_start."""
    from donut_spark.streaming.stream import sessionize

    src = str(tmp_path / "late_src")
    sink = str(tmp_path / "late_sink")
    ckpt = str(tmp_path / "late_ckpt")
    import os

    os.makedirs(src)

    def write_batch(name, rows):
        spark.createDataFrame(rows, ["user_id", "ts_str"]).selectExpr(
            "user_id", "cast(ts_str as timestamp) as ts"
        ).coalesce(1).write.parquet(os.path.join(src, name))

    # batch 1 establishes (start=100s, last=110s); batch 2 delivers a
    # LATE event at 70s (within gap of start) then 150s (within gap of
    # the TRUE last=110) and finally a far event that closes the session
    write_batch("b1", [(1, "2024-01-01 00:01:40"), (1, "2024-01-01 00:01:50")])
    write_batch("b2", [(1, "2024-01-01 00:01:10"), (1, "2024-01-01 00:02:30"),
                       (1, "2024-01-01 00:10:00")])
    schema = "user_id LONG, ts TIMESTAMP"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        sessionize(stream, gap_seconds=60)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    closed = spark.read.parquet(sink).collect()
    assert len(closed) == 1
    s = closed[0]
    assert s.session_end >= s.session_start
    # late 00:01:10 extended the start, 00:02:30 extended the end: 80s span
    assert s.session_end - s.session_start == 80
    assert s.n_events == 4


def test_doc_and_span_modes_agree_on_nulls_and_ties(spark):
    """NULL media_ref / NULL offset / duplicate offsets: the kernel reads
    a NULL offset as 0 and a NULL media_ref as '', and Python's stable
    sort keeps input order on equal offsets."""
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "<p>beta</p>", "media_ref": None, "offset": 5},
                {"kind": "media", "text": None, "media_ref": None, "offset": None},
                {"kind": "text", "text": "<p>alpha</p>", "media_ref": "", "offset": 5},
                {"kind": "media", "text": "", "media_ref": "img_7", "offset": 2},
            ],
        )
    ]
    out = extract_documents(spark.createDataFrame(rows, schema))
    assert out.select(F.to_json("extracted").alias("j")).first().j == (
        '[{"kind":"media","text":"","media_ref":"","offset":0},'
        '{"kind":"media","text":"","media_ref":"img_7","offset":1},'
        '{"kind":"text","text":"beta","media_ref":"","offset":2},'
        '{"kind":"text","text":"alpha","media_ref":"","offset":3}]'
    )


def test_span_mode_routes_by_document_weight(spark, tmp_path):
    """Document weight does not change the plan: a balanced input and the
    same input plus an outlier document (staged as one parquet table)
    both get one Arrow node and no Exchange, building that plan runs no
    Spark job, and every row gives the reference extraction."""
    from donut_spark.sources.fixtures import SPANS_TABLE_SCHEMA

    rows = [
        (f"b_{i}", *synth_doc(f"b_{i}", "alpha beta gamma delta", n_text=3, n_media=1))
        for i in range(40)
    ]
    balanced = spark.createDataFrame(rows, SPANS_TABLE_SCHEMA)
    src = str(tmp_path / "skewed")
    _with_outlier(spark, balanced).write.parquet(src)
    skewed = spark.read.parquet(src)

    sc = spark.sparkContext
    group = "extract_documents_plan_build"
    sc.setJobGroup(group, "building the extraction plan")
    try:
        outs = [extract_documents(df, mode="span") for df in (balanced, skewed)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    for out in outs:
        executed = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in executed, executed
        assert executed.count("ArrowEvalPython") == 1, executed
    heavy = outs[1]
    assert heavy.count() == 41
    assert heavy.filter(F.col("extracted") != F.col("expected")).count() == 0


def test_multimodal_resize_and_frame_sample(spark):
    """Resize + frame-sample plumbing: schemas, row expansion, and
    determinism (payloads are codec stubs; the Spark shape is real)."""
    from donut_spark.operators.multimodal import (
        resize_media,
        sample_frames,
        synth_media_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, SF_SMALL).filter(F.col("doc_id").cast("long") < 60)
    media = synth_media_table(spark, spans)
    n_media = media.count()
    assert n_media > 0

    rz = resize_media(media, width=128, height=96)
    rows = rz.collect()
    assert len(rows) == n_media
    assert all(r.width == 128 and r.height == 96 for r in rows)
    # png rows are REAL: output decodes to the target dims and equals a
    # nearest-neighbor resample of the original pixels; stub-codec rows
    # keep the area-scaled fake payload
    from donut_spark.core.png import decode_png, resize_nearest

    fmts = {r.media_ref: r.meta.format for r in media.collect()}
    originals = {r.media_ref: bytes(r.content) for r in media.collect()}
    n_png = 0
    for r in rows:
        if fmts[r.media_ref] == "png":
            w, h, rgb = decode_png(bytes(r.content))
            assert (w, h) == (128, 96)
            ow, oh, orgb = decode_png(originals[r.media_ref])
            assert rgb == resize_nearest(orgb, ow, oh, 128, 96)
            n_png += 1
        elif fmts[r.media_ref] == "wav":
            # audio resize = REAL nearest resample to width*height
            # frames at the original rate (core/wav.py)
            from donut_spark.core.wav import decode_wav, wav_info

            o_rate, o_ch, o_bits, o_frames = decode_wav(
                originals[r.media_ref]
            )
            rate, ch, bits, nf = wav_info(bytes(r.content))
            assert (rate, ch, bits) == (o_rate, o_ch, o_bits)
            assert nf == 128 * 96
        else:
            # jpeg/webm outputs are header-real at the TARGET dims with
            # an area-scaled stub payload inside
            from donut_spark.core.ebml import webm_dims
            from donut_spark.core.jpeg import jpeg_dims

            raw = bytes(r.content)
            if fmts[r.media_ref] == "jpeg":
                assert jpeg_dims(raw) == (128, 96)
            else:
                assert webm_dims(raw) == (128, 96)
            assert len(raw) >= (128 * 96) // 512
    assert n_png > 0
    # deterministic across runs
    again = {r.media_ref: bytes(r.content) for r in resize_media(media, 128, 96).collect()}
    assert {r.media_ref: bytes(r.content) for r in rows} == again
    # chaining: resize output has NO meta column (RESIZED_SCHEMA) — the
    # content-signature dispatch must still resize the PNGs again
    rz2 = resize_media(rz, width=64, height=48).collect()
    assert len(rz2) == n_media
    n_png2 = sum(
        1 for r in rz2
        if bytes(r.content).startswith(b"\x89PNG")
        and decode_png(bytes(r.content))[:2] == (64, 48)
    )
    assert n_png2 == n_png

    fr = sample_frames(media, every_n=25)
    # videos (n_frames > 1) expand to multiple rows; every media has >= 1
    per_ref = {r.media_ref: r.n for r in fr.groupBy("media_ref").agg(F.count("*").alias("n")).collect()}
    assert set(per_ref) == {r.media_ref for r in media.select("media_ref").collect()}
    metas = {r.media_ref: r.meta.n_frames for r in media.collect()}
    for ref, n in per_ref.items():
        assert n == len(range(0, max(metas[ref], 1), 25))


def test_streaming_contamination_matches_batch_twin(spark, tmp_path):
    """Ingest-time contamination flag: the stateless streaming filter
    (broadcast benchmark shingle set) must flag exactly the docs —
    with the same hit counts — as the batch contamination_overlap
    sweep (oracle-backed q52) on the same data."""
    import os

    from donut_spark.operators.dedup import (
        benchmark_shingle_set,
        contamination_overlap,
    )
    from donut_spark.streaming.stream import streaming_contamination

    leak = "the quick brown fox jumps over the lazy dog tonight again"
    # U+00A0 inside a second leak: Java's \s is ASCII-only, so the
    # non-breaking space glues two words into ONE token on BOTH sides —
    # the python twin must use the Java whitespace class or its shingles
    # diverge and the leak slips the ingest filter
    nbsp_leak = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [
        (100, f"corpus preamble {leak} corpus tail words here"),  # leaked
        (101, "completely unrelated text with many different words in it"),
        (102, f"{leak}"),  # verbatim benchmark doc
        (103, f"intro {nbsp_leak} outro"),  # nbsp leak
        # the same benchmark sentence quoted TWICE: n_hits counts raw
        # occurrences (repetition is leak evidence) so it must exceed
        # n_distinct_hits here — the two-column API's reason to exist
        (104, f"first quote {leak} then later again {leak} end"),
        (105, " \t\n  "),  # whitespace-only: no shingles, never flagged
    ]
    bench_rows = [
        (1, leak),
        (2, "another held out evaluation document text"),
        (3, nbsp_leak),
        (4, "   "),  # degenerate whitespace-only benchmark doc
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])

    expected = {
        r.doc_id: (r.n_hits, r.n_distinct_hits)
        for r in contamination_overlap(corpus, bench, n=8).collect()
    }
    assert {100, 102, 103, 104} <= set(expected)
    assert 101 not in expected and 105 not in expected
    # doc 104 holds 2 occurrences of each leaked shingle but the same
    # distinct set as a single quote
    assert expected[104][0] == 2 * expected[104][1] > 0

    shingles = benchmark_shingle_set(bench, n=8)
    assert shingles.n == 8  # the set carries its n-gram size
    # batch parity (the pandas UDF runs identically on static frames)
    flagged = {
        r.doc_id: (r.n_hits, r.n_distinct_hits)
        for r in streaming_contamination(corpus, shingles)
        .filter(F.col("n_hits") >= 1)
        .collect()
    }
    assert flagged == expected

    # and through a real file stream
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    corpus.coalesce(1).write.parquet(os.path.join(src, "b1"))
    stream = spark.readStream.schema(corpus.schema).parquet(src + "/*")
    q = (
        streaming_contamination(stream, shingles)
        .filter(F.col("n_hits") >= 1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        r.doc_id: (r.n_hits, r.n_distinct_hits)
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == expected


def test_multimodal_mislabeled_meta_does_not_crash(spark):
    """A row whose meta CLAIMS png but whose bytes are not a PNG must
    take the stub path (content-signature dispatch), not crash the
    decoder; and a media_ref outside the canonical img_<int>_<int>
    naming must not fail synthesis-side helpers."""
    from donut_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _ref_num,
        decode_and_featurize,
        resize_media,
    )

    assert isinstance(_ref_num("img_doc-x_y!"), int)  # crc fallback
    # PNG-SIGNED but corrupt/unsupported bytes must also take the stub
    # path: signature check alone isn't enough (grayscale/16-bit/
    # truncated PNGs all carry the signature and would crash the decoder)
    poison_png = b"\x89PNG\r\n\x1a\n" + b"garbage not chunks"
    rows = [
        ("weird_ref", b"notapng", ("png", 100, 100, 1)),
        ("img_9_9", poison_png, ("png", 100, 100, 1)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = decode_and_featurize(media).collect()
    assert len(feats) == 2
    assert all(f.pix_sum is None for f in feats)  # both took the stub path
    rz = resize_media(media, 32, 32).collect()
    assert all(r.width == 32 for r in rz)


def test_streaming_dedup_state_bounded(spark):
    """The streaming ingest-dedup state bound, pinned end-to-end via the
    bench harness's staged replay: 6 time-staggered copies of the corpus
    arrive 1 minute apart under a 90-second watermark, so
    dropDuplicatesWithinWatermark state must stay at the distinct
    fingerprints of ONE horizon (cycling with eviction — entries expire
    at arrival-ts + delay) and never grow toward the staged total, which
    is what an unbounded dropDuplicates would do on a 10^12-doc stream."""
    from bench_streaming import run

    out = run(spark, SF_SMALL, copies=6)
    dedup = out["exact_dedup"]
    assert dedup["rows"] == out["staged_rows"]
    assert dedup["state_bounded"], dedup
    assert dedup["state_max"] <= 1.1 * (out["staged_rows"] // out["copies"])
    # the stateless leg reports throughput and carries no state operator
    assert out["contamination"]["docs_per_sec"] > 0
    assert "state_rows_per_batch" not in out["contamination"]
