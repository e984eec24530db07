"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — one named query per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline operators); exactly 50
registered entries (the driver gate's window), new assertions fold
into existing queries as tagged unions / extra columns.
``oracle_sql()`` — DuckDB twins for ALL 50 queries, including the
LSH/ANN family (committed fingerprint/hyperplane/IVF-codebook fixtures
let SQL brute-force or independently replay the blocking — even the
pruned-probe q41, whose frozen codebook makes cell assignment and probe
choice deterministic arithmetic) and the TEDS goldens (hand-derived
spec constants).

Column-name parity rule: every computed column is aliased identically in
the Spark query and its oracle. Floating aggregates are rounded on both
sides so cross-engine summation order can't flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# the ten driver-registered base tables — single source of truth for
# every oracle gate (pytest + tools/check_oracles)
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _sf(sf_dir: str):
    def load(spark: SparkSession, name: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return load


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved-spans extraction + invariants on sf0.001."""
    from donut_spark.operators.extract import run_flagship

    df = run_flagship(spark, "/root/testdata/sf0.001")
    return df.select(
        "doc_id",
        F.size("spans").alias("n_spans_in"),
        F.size("extracted").alias("n_spans_out"),
        "exact_match",
        "roundtrip_ok",
        F.round("nted", 6).alias("nted"),
    )


# ---------------------------------------------------------------------------
# Relational operator battery (SQL-expressible — DuckDB oracles below)
# ---------------------------------------------------------------------------


def q01_filter_project(spark, sf):
    """F1/F2 + pushdown: TPC-H Q6-shaped filter/project/aggregate."""
    t = _sf(sf)(spark, "lineitem")
    return t.filter(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


def q02_group_agg(spark, sf):
    """A1/A2: grouped means/sums (TPC-H Q1 shape)."""
    t = _sf(sf)(spark, "lineitem")
    return (
        t.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q03_broadcast_join(spark, sf):
    """J1: fact ⋈ broadcast dim, grouped."""
    orders = _sf(sf)(spark, "orders")
    customer = _sf(sf)(spark, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


def q04_multi_join(spark, sf):
    """Join chain across 4 tables, grouped by region."""
    o = _sf(sf)(spark, "orders")
    c = _sf(sf)(spark, "customer")
    n = _sf(sf)(spark, "nation")
    r = _sf(sf)(spark, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def q05_topk(spark, sf):
    """O5/A3 arg-max family, consolidated (round-5): top-k orders by
    price with deterministic tiebreak, UNIONed with the reference's
    data-sanity arg-max sweep (`check_max_length_tokens.py:64-79`) —
    the longest linearized token sequences over the corpus. The token
    side's oracle recomputes each length ANALYTICALLY from the gt_parse
    tag algebra (json2token never runs on the SQL side)."""
    from donut_spark.functions.udfs import json2token_udf
    from donut_spark.sources.fixtures import load_spans

    top = (
        _sf(sf)(spark, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            F.lit("order_price").alias("family"),
            F.col("o_orderkey").cast("string").alias("k"),
            F.round("o_totalprice", 2).cast("double").alias("val"),
        )
    )
    tok = (
        load_spans(spark, sf)
        .select("doc_id", F.length(json2token_udf("gt_parse")).alias("token_len"))
        .orderBy(F.desc("token_len"), F.asc("doc_id"))
        .limit(5)
        .select(
            F.lit("token_len").alias("family"),
            F.col("doc_id").cast("string").alias("k"),
            F.col("token_len").cast("double").alias("val"),
        )
    )
    return top.unionByName(tok)


def q06_distinct_sort(spark, sf):
    """A4/A5/O3 + F6/O4, consolidated (round-5): distinct +
    lexicographic sort with a deterministic offset/limit slice — the
    former q17_skip_limit's skip/limit assertion rides the same driver
    row (p_type has 150 distinct values, so rows 21-70 are a real
    mid-stream slice)."""
    return (
        _sf(sf)(spark, "part")
        .select("p_type")
        .distinct()
        .orderBy("p_type")
        .offset(20)
        .limit(50)
    )


def q07_window_first(spark, sf):
    """W-family: first event per user by (ts, event_id) window."""
    from pyspark.sql import Window

    e = _sf(sf)(spark, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_event"), "event_id")
    )


def q08_union_distinct(spark, sf):
    """U1/U2: union + distinct."""
    e = _sf(sf)(spark, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("value") > 90).select("user_id")
    return a.union(b).distinct()


def q09_semijoin(spark, sf):
    """J3 shape: left-semi join, grouped."""
    c = _sf(sf)(spark, "customer")
    o = _sf(sf)(spark, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


def q10_antijoin(spark, sf):
    """Resume-style anti join (SURVEY.md §7)."""
    c = _sf(sf)(spark, "customer")
    o = _sf(sf)(spark, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n_without_orders"))
    )


def q11_bucket_histogram(spark, sf):
    """A8 bucketing family, consolidated (round-5): decile histogram
    over events UNIONed with constant-folded CASE price bands over
    orders (the former q34) — one driver row keeps both assertions."""
    hist = (
        _sf(sf)(spark, "events")
        .withColumn("bucket", F.floor(F.col("value") / 10).cast("long").cast("string"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_metric"))
        .select(F.lit("value_decile").alias("family"), "bucket", "n", "avg_metric")
    )
    bands = (
        _sf(sf)(spark, "orders")
        .withColumn(
            "bucket",
            F.when(F.col("o_totalprice") < 50_000, "low")
            .when(F.col("o_totalprice") < 150_000, "mid")
            .otherwise("high"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_metric"))
        .select(F.lit("price_band").alias("family"), "bucket", "n", "avg_metric")
    )
    return hist.unionByName(bands)


def q12_edit_distance(spark, sf):
    """T13: built-in Levenshtein (lightning_module.py:142 analogue)."""
    c = _sf(sf)(spark, "customer").filter(F.col("c_custkey") <= 100)
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), F.lit("Customer#000000001")).alias("dist"),
    )


def q13_regex_filter(spark, sf):
    """F4/F8/T11 regex predicate filters + PII redaction (round-5 fold,
    tagged union): family='filter' keeps the original per-lang counts;
    family='redact' runs functions/redact.py::redact_pii over the
    committed planted fixture (the synthetic tables hold no PII) — the
    oracle replays the same email→IP→phone cascade with RE2, so the
    patterns are pinned to the Java∩RE2 common subset."""
    from donut_spark.functions.redact import PII_FIXTURE, redact_pii

    d = _sf(sf)(spark, "documents")
    filt = (
        d.filter(F.col("text").rlike("spark") & ~F.col("text").rlike("dup"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("filter").alias("family"),
            F.col("lang").alias("k"),
            F.col("n_docs").cast("long").alias("n"),
            F.lit("").alias("redacted"),
        )
    )
    planted = spark.createDataFrame(PII_FIXTURE, ["k", "text"])
    r = redact_pii(F.col("text"))
    red = planted.select(
        F.lit("redact").alias("family"),
        "k",
        r["n_total"].alias("n"),
        r["redacted"].alias("redacted"),
    )
    from donut_spark.functions.quality import C4_FIXTURE, c4_clean

    c4p = spark.createDataFrame(C4_FIXTURE, ["k", "text"])
    c = c4_clean(F.col("text"))
    c4_text = c4p.select(
        F.lit("c4_text").alias("family"),
        "k",
        c["n_lines_kept"].alias("n"),
        c["cleaned"].alias("redacted"),
    )
    c4_gate = c4p.select(
        F.lit("c4_gate").alias("family"),
        "k",
        c["n_sentences"].alias("n"),
        c["c4_keep"].cast("string").alias("redacted"),
    )
    return filt.unionByName(red).unionByName(c4_text).unionByName(c4_gate)


def q14_token_stats(spark, sf):
    """Token counting (whitespace) per language."""
    d = _sf(sf)(spark, "documents")
    return (
        d.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
        .groupBy("lang")
        .agg(
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def q15_exact_dup_clusters(spark, sf):
    """Dedup families over documents, one tagged union (round-5 fold):
    family='exact' — identical-text clusters (md5 fingerprints, keeper =
    min doc_id; whole-document dedup); family='passage' — SUB-document
    verbatim duplicated passages (operators.dedup.duplicated_passages,
    8-gram shingles shared by ≥2 docs, consecutive positions merged —
    the Lee et al. 2022 substring-dedup shape). The oracle replays both
    in SQL; the passage replay groups on the shingle STRINGS, so it is
    independent of the engine's xxhash64 shingle keys."""
    from donut_spark.operators.dedup import duplicated_passages
    from donut_spark.plans.cache import attach_persisted, capture

    d = _sf(sf)(spark, "documents")
    exact = (
        d.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
        .select(
            F.lit("exact").alias("family"),
            F.col("keeper").cast("long").alias("doc_id"),
            F.lit(-1).cast("long").alias("start_tok"),
            F.lit(-1).cast("long").alias("end_tok"),
            F.col("n_dups").cast("long").alias("n"),
        )
    )
    # persist=True: the positions frame (one row per token) feeds both
    # the doc-frequency agg and the position join; computing it once and
    # spilling beats the second full shingle pass (measured 1.6-1.7x on
    # the 50k-doc staging, round 6). Intra-query, lineage-backed — not a
    # cross-run cache. The handle would be shed by the .select() below,
    # so it is captured here and re-attached to the returned union:
    # release_persisted(result) after consuming frees it.
    res = capture(duplicated_passages(d, n=8, persist=True))
    passages = res.frame.select(
        F.lit("passage").alias("family"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "start_tok",
        "end_tok",
        F.col("n_tokens").alias("n"),
    )
    return attach_persisted(exact.unionByName(passages), res.handles)


def q18_grouped_minmax(spark, sf):
    """A3/A6: grouped extrema."""
    e = _sf(sf)(spark, "events")
    return e.groupBy("event_type").agg(
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.count("*").alias("n"),
    )


def q19_window_avg_filter(spark, sf):
    """Windowed aggregate + filter (above-own-average orders)."""
    from pyspark.sql import Window

    o = _sf(sf)(spark, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cavg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cavg"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


def q20_cosine_scores(spark, sf):
    """Similarity kernel parity: JVM-side cosine vs DuckDB list_cosine."""
    from donut_spark.operators.similarity import cosine_expr

    e = _sf(sf)(spark, "embeddings").filter(F.col("vec_id") < 50)
    q = _unit_query_vec(64)
    return e.select(
        "vec_id", F.round(cosine_expr("embedding", q), 3).alias("cosine")
    )


def _unit_query_vec(dim: int):
    # deterministic, engine-neutral query vector
    import math

    return [round(math.sin(i + 1), 6) for i in range(dim)]


def q31_strip_tags(spark, sf):
    """T6: tag-strip regex chain (test.py:28-32) as pure SQL."""
    d = _sf(sf)(spark, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p><br>")),
            "<.*?>",
            "",
        ).alias("stripped"),
    )


def q32_running_sum(spark, sf):
    """W3: cumulative ordered computation (grid.py:54-55 analogue)."""
    from pyspark.sql import Window

    e = _sf(sf)(spark, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("run_sum", F.sum("value").over(w))
        .filter(F.col("run_sum") > 500)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_over"))
    )


def q33_rollup(spark, sf):
    """Grouping sets (SURVEY.md §2.4 'free via rollup')."""
    t = _sf(sf)(spark, "lineitem")
    return (
        t.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def q55_pdf_extract(spark, sf):
    """PDF/layout-parse modality (the north rule's third extraction
    modality beside HTML strip + DOM heuristics; the reference has no
    PDF path at all — it consumes pre-rendered page images,
    donut/util.py:113).

    Every document's expected interleaved span sequence is written as a
    REAL PDF by the from-scratch writer (core/pdf.py): positioned text
    show-ops + image-XObject /Do ops on a closed-form two-column grid,
    encoding variants rotating per doc (Tm vs composed Td, TJ kern
    splits, hex strings, two-stream /Contents, UTF-16BE text strings,
    per num%7 the content-stream filter chain — raw / Flate / LZW /
    [ASCII85+Flate] / [ASCIIHex+LZW] — per num%3 the classic 1.4 xref
    table vs the PDF 1.5 shape — object streams + Predictor-12
    cross-reference stream — per num%5 a Type0/Identity-H font whose
    2-byte glyph codes only the embedded /ToUnicode CMap can decode,
    plus decoy BI…ID…EI inline images whose samples may contain 'EI'),
    and — the point — EMISSION ORDER SHUFFLED,
    so only a parser that recovers reading order from device-space
    layout (page, top-to-bottom line, left-to-right x) can win. The
    extractor (operators/pdfparse.py) parses the bytes back through the
    real xref/object/content-stream interpreter and the oracle
    recomputes every value (page counts, reading-order text concat,
    media-ref order, coordinate sums) from the spans fixture with pure
    grid arithmetic — zero PDF code on the SQL side.

    Scale shape: synth and parse are both map-only Arrow kernels (no
    shuffle until the final per-doc agg), so the modality inherits the
    flagship's embarrassingly-parallel plan at 10^12 docs.
    """
    from donut_spark.operators.pdfparse import (
        extract_pdf_spans,
        synth_pdf_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, sf).filter(F.col("doc_id").cast("long") < 200)
    parsed = extract_pdf_spans(synth_pdf_table(spark, spans))
    ordered = F.array_sort(
        F.collect_list(F.struct("seq", "kind", "text", "media_ref"))
    )
    return parsed.groupBy("doc_id").agg(
        (F.max("page") + F.lit(1)).cast("int").alias("n_pages"),
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0)).alias("n_text"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias(
            "n_media"
        ),
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s.kind == "text"),
                lambda s: s.text,
            ),
            "\n",
        ).alias("reading_text"),
        F.array_join(
            F.transform(
                F.filter(ordered, lambda s: s.kind == "media"),
                lambda s: s.media_ref,
            ),
            ",",
        ).alias("refs_concat"),
        F.sum("x").cast("long").alias("x_sum"),
        F.sum("y").cast("long").alias("y_sum"),
        F.sum("size").cast("long").alias("size_sum"),
    )


def q35_string_funcs(spark, sf):
    """Scalar string-function family, consolidated (round-5): the
    upper/substring/length chain over part (T5/T9 regex-chain analogue)
    UNIONed with the first-token distribution over documents (the
    former q16) — one driver row keeps both assertions."""
    chain = (
        _sf(sf)(spark, "part")
        .withColumn("key", F.upper(F.substring("p_name", 1, 3)))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.length("p_name")), 4).alias("avg_len"),
        )
        .select(F.lit("part_token").alias("family"), "key", "n", "avg_len")
    )
    first_word = (
        _sf(sf)(spark, "documents")
        .withColumn("key", F.split(F.col("text"), " ").getItem(0))
        .groupBy("key")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.length("text")), 4).alias("avg_len"),
        )
        .select(F.lit("doc_first_word").alias("family"), "key", "n", "avg_len")
    )
    return chain.unionByName(first_word)


def q39_resume_antifilter(spark, sf):
    """F9/§7 resume shape: exclude committed buckets relationally."""
    d = _sf(sf)(spark, "documents")
    return (
        d.withColumn("bucket", F.pmod(F.col("doc_id"), F.lit(16)).cast("long"))
        .filter(~F.col("bucket").isin(0, 3, 7))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Kernel queries (non-SQL-expressible → rows-only checks)
# ---------------------------------------------------------------------------


def q36_span_hof(spark, sf):
    """F5/A7: span-array predicates via JVM higher-order functions only
    (no Python): media ratio, total chars, max offset. Oracle-backed:
    DuckDB evaluates the same list lambdas over the materialized fixture."""
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, sf).filter(F.col("doc_id").cast("long") < 200)
    return spans.select(
        "doc_id",
        F.size("spans").cast("long").alias("n_spans"),
        F.size(F.expr("filter(spans, s -> s.kind = 'media')"))
        .cast("long")
        .alias("n_media"),
        F.round(
            F.size(F.expr("filter(spans, s -> s.kind = 'media')"))
            / F.size("spans"),
            6,
        ).alias("media_ratio"),
        F.expr("aggregate(spans, 0, (acc, s) -> acc + length(s.text))")
        .cast("long")
        .alias("total_chars"),
        F.expr("array_max(transform(spans, s -> s.offset))").alias("max_offset"),
    )


def q38_teds_pairs(spark, sf):
    """E4: TEDS on perturbed table pairs (non-identical scores)."""
    from donut_spark.functions.udfs import repair_table, teds_struct_udf, teds_udf

    rows = [
        ("same", "<tr><td>a<td>b", "<tr><td>a<td>b"),
        ("cell_edit", "<tr><td>a<td>b", "<tr><td>a<td>x"),
        ("extra_row", "<tr><td>a<td>b", "<tr><td>a<td>b<tr><td>c<td>d"),
        ("span_change", '<tr><tdcolspan="2"> a<td>b', "<tr><td>a<td>b<td>c"),
    ]
    df = spark.createDataFrame(rows, ["pair_id", "pred_c", "gt_c"])
    return df.select(
        "pair_id",
        F.round(teds_udf(repair_table("pred_c"), repair_table("gt_c")), 6).alias("teds"),
        F.round(
            teds_struct_udf(repair_table("pred_c"), repair_table("gt_c")), 6
        ).alias("teds_struct"),
    )


def q21_flagship_metrics(spark, sf):
    """Corpus-level extraction invariants over the materialized fixture.

    Oracle-backed: the fixture's expected spans / gt_parse round-trip are
    the SPECIFICATION — the oracle asserts docs = corpus size, perfect
    exact-match / round-trip / nTED rates, zero quarantined. Any kernel
    regression breaks the value hash."""
    from donut_spark.operators.extract import extract_and_evaluate
    from donut_spark.sources.fixtures import load_spans

    df = extract_and_evaluate(load_spans(spark, sf))
    return df.agg(
        F.count("*").alias("docs"),
        F.round(F.avg("exact_match"), 6).alias("exact_match_rate"),
        F.round(F.avg("roundtrip_ok"), 6).alias("roundtrip_rate"),
        F.round(F.avg("nted"), 6).alias("mean_nted"),
        F.sum(F.col("_error").isNotNull().cast("long")).alias("n_quarantined"),
    )


def q22_extract_spans(spark, sf):
    """Per-doc extraction output as the kernel's own JSON serialization.

    Oracle-backed on the per-row invariant itself: the oracle replays the
    fixture's ``expected_json`` (same json.dumps serializer), so the hash
    compares the full extracted span sequence (kind, text, media_ref,
    order) of every document byte-for-byte."""
    from donut_spark.functions.udfs import _extract_eval_fused
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, sf)
    return spans.select(
        "doc_id",
        _extract_eval_fused(F.to_json("spans"), F.lit(None).cast("string"))[
            "extracted_json"
        ].alias("extracted_json"),
    )


def q23_lang_quality(spark, sf):
    """Text analysis: language-ID, quality score, BPE-ish token count,
    plus the Gopher rule gates (round-5 fold).

    Oracle-backed by a full SQL REIMPLEMENTATION of all kernels
    (stopword-hit-rate language vote, C4/Gopher-style quality factors,
    RE2 BPE pre-tokenizer, and every per-rule Gopher measurement/gate)
    in DuckDB — a genuinely independent second implementation, not a
    replay. The Gopher columns come from functions/quality.py — pure
    JVM expressions, no Python in that path (the production filter
    shape; the composite `quality` UDF is the heuristic scorer)."""
    from donut_spark.functions.quality import gopher_quality, gopher_repetition
    from donut_spark.functions.udfs import (
        detect_lang_udf,
        quality_udf,
        token_count_udf,
    )

    d = _sf(sf)(spark, "documents").filter(F.col("doc_id") < 300)
    g = gopher_quality(F.col("text"))
    r = gopher_repetition(F.col("text"))
    return d.select(
        "doc_id",
        detect_lang_udf("text").alias("detected_lang"),
        F.round(quality_udf("text"), 6).alias("quality"),
        token_count_udf("text").cast("long").alias("n_tokens"),
        g["n_words"].alias("n_words"),
        g["mean_word_len"].alias("mean_word_len"),
        g["symbol_ratio"].alias("symbol_ratio"),
        g["alpha_word_frac"].alias("alpha_word_frac"),
        g["stop_hits"].alias("stop_hits"),
        g["ok_words"].alias("ok_words"),
        g["ok_word_len"].alias("ok_word_len"),
        g["ok_stops"].alias("ok_stops"),
        g["gopher_pass"].alias("gopher_pass"),
        r["top2gram_char_frac"].alias("top2gram_char_frac"),
        r["top3gram_char_frac"].alias("top3gram_char_frac"),
        r["repetition_pass"].alias("repetition_pass"),
    )


def q24_minhash_dedup(spark, sf):
    """MinHash-LSH near-dup candidate pairs, EXACTNESS regime: the
    oracle is the uncapped band-slice ground truth, so the hot-bucket
    cap (a scale guard against degenerate buckets, audited via
    `hot_buckets` and pinned by its own pytest) is disabled here —
    otherwise a fixture large enough to bind the cap would make the
    engine (correctly) drop pairs the oracle keeps."""
    from donut_spark.operators.dedup import minhash_lsh_pairs

    d = _sf(sf)(spark, "documents")
    return minhash_lsh_pairs(d, max_bucket_size=None).orderBy("a", "b")


def q25_simhash_dedup(spark, sf):
    """SimHash near-dup pairs (hamming ≤ 3), exactness regime: uncapped
    to match the brute-force all-pairs oracle (see q24 note)."""
    from donut_spark.operators.dedup import simhash_pairs

    d = _sf(sf)(spark, "documents")
    return simhash_pairs(d, max_bucket_size=None).orderBy("a", "b")


def q26_jaccard_verify(spark, sf):
    """N-gram Jaccard family, consolidated (round-5): exact Jaccard
    verification of LSH candidates (uncapped candidates, matching the
    oracle's uncapped banding — see q24) UNIONed with the all-pairs
    exact Jaccard sweep on a bounded slice (the former q43) — both
    modes of `dedup.ngram_jaccard_pairs` in one driver row."""
    from donut_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    d = _sf(sf)(spark, "documents")
    cands = minhash_lsh_pairs(d, max_bucket_size=None)
    cand_side = (
        ngram_jaccard_pairs(d, threshold=0.5, candidates=cands)
        .withColumn("jaccard", F.round("jaccard", 6))
        .select(F.lit("candidate").alias("mode"), "a", "b", "jaccard")
    )
    exact_side = (
        ngram_jaccard_pairs(d.filter(F.col("doc_id") < 120), n=3, threshold=0.3)
        .withColumn("jaccard", F.round("jaccard", 6))
        .select(F.lit("exact").alias("mode"), "a", "b", "jaccard")
    )
    return cand_side.unionByName(exact_side)


def q27_ann_topk(spark, sf):
    """Brute-force cosine top-k (exact baseline of the ANN path)."""
    from donut_spark.operators.similarity import cosine_topk

    e = _sf(sf)(spark, "embeddings")
    return cosine_topk(e, _unit_query_vec(64), k=20).withColumn(
        "cosine", F.round("cosine", 6)
    )


def q28_ann_lsh(spark, sf):
    """SRP-LSH bucketed ANN (the 10^12-row probe path)."""
    from donut_spark.operators.similarity import hyperplane_lsh_topk

    e = _sf(sf)(spark, "embeddings")
    return hyperplane_lsh_topk(e, _unit_query_vec(64), k=20).withColumn(
        "cosine", F.round("cosine", 6)
    )


def q29_multimodal(spark, sf):
    """Multimodal: media table synth → REAL PNG decode → featurize.

    PNG rows are verified end-to-end: the synth encodes real truecolor
    PNGs (core/png.py), the featurizer decodes them (signature, CRCs,
    scanline unfiltering), and the oracle INDEPENDENTLY recomputes the
    decoded dimensions and pixel checksum from the generation
    arithmetic (dims/pixels are closed-form in the ref number; no PNG
    code on the SQL side) — any encoder/decoder bug breaks equality.
    jpeg rows are verified end-to-end TOO: the synth encodes real
    baseline grayscale JPEGs (core/jpeg.py — flat 8x8 blocks, so the
    lossy-format roundtrip is provably bit-exact), the featurizer runs
    the full Huffman+dequant+IDCT decode, and the oracle recomputes
    decoded dims AND the pixel checksum from the block arithmetic with
    no JPEG code on the SQL side. webm rows are now verified to the
    PIXEL level too (round-5): the Matroska container demuxes through
    core/ebml.py, every sampled SimpleBlock payload is a REAL VP8 key
    frame that decode_frames pixel-decodes through core/vp8.py, and the
    oracle recomputes each frame's luma checksum from the MB-constant
    arithmetic — no VP8 code on the SQL side (the constant-per-MB
    regime makes the lossy roundtrip bit-exact). wav rows (round-5
    AUDIO modality) are verified end-to-end the same way: real RIFF
    PCM encode (core/wav.py) → real chunk-walk decode → the oracle
    recomputes the parsed sample rate, channel count, and the
    unsigned-sample checksum from the ref arithmetic with no RIFF code
    in SQL; the frame leg segments the stream into real WAV clips whose
    summed checksums must equal the whole stream's. meta_ok pins
    parsed == claimed for every format."""
    from donut_spark.operators.multimodal import (
        decode_and_featurize,
        decode_frames,
        sample_frames,
        synth_media_table,
    )
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, sf).filter(F.col("doc_id").cast("long") < 100)
    media = synth_media_table(spark, spans)
    feats = decode_and_featurize(media)
    # stride 30 keeps the battery cheap; the synth's GOP is 10, so every
    # sampled webm frame is a key frame and decodes to pixels
    fagg = (
        decode_frames(sample_frames(media, every_n=30))
        .groupBy("media_ref")
        .agg(
            F.sum("pix_sum").alias("frame_pix_sum"),
            F.sum("is_key").alias("n_key"),
        )
    )
    meta_dim = media.select(
        "media_ref",
        F.col("meta.format").alias("fmt"),
        F.col("meta.width").alias("mw"),
        F.col("meta.height").alias("mh"),
    )
    png, jpg = F.col("fmt") == "png", F.col("fmt") == "jpeg"
    webm, wav = F.col("fmt") == "webm", F.col("fmt") == "wav"
    return (
        feats.join(F.broadcast(meta_dim), "media_ref")
        .join(fagg, "media_ref")
        .select(
            "media_ref",
            F.size("features").alias("feat_dim"),
            F.when(png, F.col("width")).alias("png_w"),
            F.when(png, F.col("height")).alias("png_h"),
            "pix_sum",
            F.when(jpg, F.col("width")).alias("jpg_w"),
            F.when(jpg, F.col("height")).alias("jpg_h"),
            F.when(webm, F.col("width")).alias("webm_w"),
            F.when(webm, F.col("height")).alias("webm_h"),
            F.when(wav, F.col("width")).alias("wav_rate"),
            F.when(wav, F.col("height")).alias("wav_ch"),
            (
                (F.col("width") == F.col("mw")) & (F.col("height") == F.col("mh"))
            )
            .cast("int")
            .alias("meta_ok"),
            F.col("frame_pix_sum").cast("long").alias("frame_pix_sum"),
            F.col("n_key").cast("long").alias("n_key"),
        )
    )


def q30_table_ops(spark, sf):
    """Table-HTML kernels: repair grammar → stats → TEDS self-score."""
    from donut_spark.functions.udfs import repair_table, table_stats_udf, teds_udf

    compact = [
        ("t1", "<tr><td>a<td>b<tr><td>c<td>d"),
        ("t2", "<thead><tr><td>h<tbody><tr><td>x"),
        ("t3", '<tr><tdcolspan="2"> m<td>n'),
    ]
    df = spark.createDataFrame(compact, ["tbl_id", "compact"])
    return (
        df.withColumn("html", repair_table("compact"))
        .withColumn("stats", table_stats_udf("html"))
        .withColumn("teds_self", F.round(teds_udf("html", "html"), 6))
        .select(
            "tbl_id",
            "html",
            F.col("stats.nums_row").alias("nums_row"),
            F.col("stats.nums_col").alias("nums_col"),
            "teds_self",
        )
    )


def q37_extract_span_parallel(spark, sf):
    """Extraction without ``gt_parse`` evaluation: per-doc exact-match
    flags from ``extract_documents``. The name is kept from the removed
    span-parallel plan so battery rows stay comparable across rounds.
    Oracle-backed on the invariant: every document must match its
    expected sequence."""
    from donut_spark.operators.extract import extract_documents
    from donut_spark.sources.fixtures import load_spans

    spans = load_spans(spark, sf).select("doc_id", "spans", "expected")
    return extract_documents(spans).select("doc_id", "exact_match")


def q40_synth_tables(spark, sf):
    """T16+T14+E4 pipeline: deterministic synthetic tables → sidecar
    stats → TEDS self-consistency, distributed via mapInPandas."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from donut_spark.functions.udfs import table_stats_udf, teds_struct_udf

    def gen(batches):
        import pandas as pd

        from donut_spark.core.tabular import synth_table_html

        words = "metric value total revenue count ratio mean delta".split()
        for pdf in batches:
            rows = []
            for sid in pdf["id"]:
                rows.append(
                    (
                        f"tbl_{sid}",
                        synth_table_html(
                            int(sid), 2 + int(sid) % 5, 2 + int(sid) % 4,
                            words, thead_rows=1,
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["tbl_id", "html"])

    base = spark.range(50).mapInPandas(
        gen,
        StructType([StructField("tbl_id", StringType()), StructField("html", StringType())]),
    )
    # (has_span is rng-dependent and stays pinned by pytest goldens; the
    # oracle asserts the ANALYTIC row/col counts 2+sid%5 / 2+sid%4 and
    # TEDS(x, x) = 1.0 — the stats parser must recover the generator's
    # parameters exactly.)
    return (
        base.withColumn("stats", table_stats_udf("html"))
        .withColumn("teds_self", F.round(teds_struct_udf("html", "html"), 6))
        .select(
            "tbl_id",
            F.col("stats.nums_row").alias("nums_row"),
            F.col("stats.nums_col").alias("nums_col"),
            "teds_self",
        )
    )


def q41_ann_ivf(spark, sf):
    """IVF-bucketed ANN, PRUNED probe (8 of 16 cells) — the scale path.

    The codebook is the COMMITTED fixture
    (`fixtures.py::materialize_ivf_centroids`, trained once on the
    sf0.01 embeddings), so cell assignment and probe choice are
    deterministic arithmetic — which makes the pruned result exactly
    oracle-constructible: brute-force top-k restricted to rows whose
    argmax-cosine cell is among the 8 cells nearest the query (DuckDB
    replays assignment + probe from the fixture with list_dot_product,
    never running the kernel — same discipline as the q28 SRP replica)."""
    import numpy as np
    import pyarrow.parquet as pq

    from donut_spark.operators.similarity import ivf_topk
    from donut_spark.sources.fixtures import materialize_ivf_centroids

    cents = pq.read_table(materialize_ivf_centroids(spark)).to_pydict()
    cn = np.asarray(
        [c for _, c in sorted(zip(cents["cell"], cents["centroid"]))],
        dtype="float64",
    )
    e = _sf(sf)(spark, "embeddings")
    return ivf_topk(
        e, _unit_query_vec(64), k=20, n_probe=8, centroids=cn
    ).withColumn("cosine", F.round("cosine", 6))


def q49_teds_spec(spark, sf):
    """TEDS spec-oracle family (reference `teds.py:185-206` cost model):
    deterministic R×C tables where the edit script has a provable closed
    form — k cell texts replaced by disjoint-alphabet SAME-LENGTH strings
    (rename cost exactly 1 each ⇒ TEDS = 1 − k/(R+RC), struct = 1), or d
    trailing rows deleted (cost 1+C per row ⇒ both = 1 − d(1+C)/(R+RC)).
    The oracle computes the scores ANALYTICALLY from (sid) arithmetic —
    the Zhang-Shasha kernel never runs on that side."""
    from donut_spark.functions.udfs import teds_struct_udf, teds_udf

    rows = []
    for sid in range(40):
        nr, nc = 2 + sid % 4, 2 + sid % 3

        def cell(r, c):
            return (
                chr(ord("a") + (r * 7 + c * 3 + sid) % 26) * 2
                + chr(ord("a") + (r + c) % 26) * 2
            )

        gt_rows = [[cell(r, c) for c in range(nc)] for r in range(nr)]
        if sid % 2 == 0:
            k = min(1 + sid % 3, nr * nc)
            pred_rows = [row[:] for row in gt_rows]
            for i in range(k):
                r, c = divmod(i, nc)
                pred_rows[r][c] = pred_rows[r][c].upper()
        else:
            d = min(1 + (sid // 2) % 2, nr - 1)
            pred_rows = [row[:] for row in gt_rows[: nr - d]]

        def html(trs):
            return (
                "<table>"
                + "".join(
                    "<tr>" + "".join(f"<td>{t}</td>" for t in tr) + "</tr>"
                    for tr in trs
                )
                + "</table>"
            )

        rows.append((sid, html(pred_rows), html(gt_rows)))
    df = spark.createDataFrame(rows, ["sid", "pred_html", "gt_html"])
    return df.select(
        "sid",
        F.round(teds_udf("pred_html", "gt_html"), 6).alias("teds"),
        F.round(teds_struct_udf("pred_html", "gt_html"), 6).alias("teds_struct"),
    )


def q50_ann_index_probe(spark, sf):
    """Persisted-index twin of q28: the SRP posting layout is built ONCE
    (cached, `partitionBy(band, bval)` — the repeated-query regime at
    10^12 rows) and the probe reads only the query's matching partitions,
    recomputing no signatures. The result is identical to the online q28
    probe, so it shares q28's full SQL-replica oracle."""
    import hashlib
    import os

    from donut_spark.operators.ann_index import probe_srp_index, write_srp_index
    from donut_spark.sources.fixtures import FIXTURES_ROOT

    e = _sf(sf)(spark, "embeddings")
    name = os.path.basename(sf.rstrip("/"))
    # cache key fingerprints the index PARAMETERS and the source data
    # (file size + mtime), so regenerated embeddings or changed LSH
    # constants can never serve a stale posting layout
    src = os.stat(os.path.join(sf, "embeddings.parquet"))
    key = hashlib.blake2s(
        f"nb32.b8.s13.d64|{src.st_size}|{int(src.st_mtime)}".encode(),
        digest_size=6,
    ).hexdigest()
    path = os.path.join(FIXTURES_ROOT, f"ann_srp_{name}_{key}")
    if not os.path.exists(os.path.join(path, "_meta.json")):
        write_srp_index(e, path, n_bits=32, bands=8, seed=13, dim=64)
    return probe_srp_index(spark, path, e, _unit_query_vec(64), k=20).withColumn(
        "cosine", F.round("cosine", 6)
    )


def q51_ann_pq(spark, sf):
    """Product-quantization ANN (Jégou et al. 2011): 8×6-bit codes per
    64-d vector (compressed-domain ADC scoring is pure JVM lookup-sum),
    top-100 ADC candidates exact-reranked to top-20. With these
    parameters the refine window provably recovers brute-force top-20
    on this data at both oracle scales — so the oracle is exact
    brute-force SQL, and any codebook/encode/LUT/rerank bug breaks it
    (verified sensitive: m=16 or k=128 variants DO mismatch).

    Production-shaped since round 4: codes are encoded ONCE into a
    persisted `write_pq_index` layout (keyed-cached like q50/q53) and
    the probe scans the compressed code table only — identical result
    to the online `pq_topk`, pinned by
    tests/test_dedup_similarity.py::test_pq_index_probe_matches_online."""
    import hashlib
    import os

    from donut_spark.operators.ann_index import probe_pq_index, write_pq_index
    from donut_spark.sources.fixtures import FIXTURES_ROOT

    e = _sf(sf)(spark, "embeddings")
    name = os.path.basename(sf.rstrip("/"))
    src = os.stat(os.path.join(sf, "embeddings.parquet"))
    key = hashlib.blake2s(
        f"pq.m8.k64|{src.st_size}|{int(src.st_mtime)}".encode(), digest_size=6
    ).hexdigest()
    path = os.path.join(FIXTURES_ROOT, f"ann_pq_{name}_{key}")
    if not os.path.exists(os.path.join(path, "_meta.json")):
        write_pq_index(e, path, m=8, k=64)
    return probe_pq_index(
        spark, path, e, _unit_query_vec(64), k=20, rerank=100
    ).withColumn("cosine", F.round("cosine", 6))


def q52_contamination(spark, sf):
    """Benchmark-contamination sweep: corpus docs (doc_id >= 50) sharing
    verbatim 8-gram excerpts with a pretend evaluation set (doc_id < 50).
    The benchmark shingle set broadcasts; the corpus side never
    shuffles. Oracle: independent DuckDB shingle semi-join."""
    from donut_spark.operators.dedup import contamination_overlap

    d = _sf(sf)(spark, "documents")
    return contamination_overlap(
        d.filter(F.col("doc_id") >= 50), d.filter(F.col("doc_id") < 50), n=8
    ).orderBy("doc_id")


def q53_ann_ivfadc(spark, sf):
    """IVF-ADC (Jégou 2011 §V): the billion-scale serving layout — PQ
    codes OF CELL RESIDUALS stored per IVF cell, probes score the
    compressed domain JVM-side and exact-rerank by id.

    Oracle regime (the q48/q51 trick): every cell probed + a rerank
    window that provably recovers brute-force top-20 on this data at
    both oracle scales (m=16 subspaces: measured 20/20 recall already
    at rerank=50, 2x margin at 100) — so the oracle is exact
    brute-force SQL, and a bug in residual codebooks, cell assignment,
    the cell-dot + LUT score decomposition, or the rerank join breaks
    equality (verified sensitive: rerank=5, and the coarser m=8
    variant at rerank=100, DO mismatch). The pruned-probe scale path +
    partition pruning are pinned by tests/test_dedup_similarity.py."""
    import hashlib
    import os

    from donut_spark.operators.ann_index import (
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.sources.fixtures import FIXTURES_ROOT

    e = _sf(sf)(spark, "embeddings")
    name = os.path.basename(sf.rstrip("/"))
    src = os.stat(os.path.join(sf, "embeddings.parquet"))
    key = hashlib.blake2s(
        f"ivfadc.c16.m16.k64|{src.st_size}|{int(src.st_mtime)}".encode(),
        digest_size=6,
    ).hexdigest()
    path = os.path.join(FIXTURES_ROOT, f"ann_ivfadc_{name}_{key}")
    if not os.path.exists(os.path.join(path, "_meta.json")):
        write_ivfadc_index(e, path, n_centroids=16, m=16, k=64)
    return probe_ivfadc_index(
        spark, path, e, _unit_query_vec(64), k=20, n_probe=16, rerank=100
    ).withColumn("cosine", F.round("cosine", 6))


def q54_ann_ivfadc_pruned(spark, sf):
    """IVF-ADC, PRUNED probe (8 of 16 cells, rerank=100) — the
    production serving path, where cell pruning COMPOSES with
    compressed-domain ADC ordering: at this scale the probed cells hold
    ~250 rows, so the rerank window (100) genuinely prunes and the ADC
    score decides which rows survive.

    The codebook parameters are the COMMITTED fixture
    (`fixtures.py::materialize_ivfadc_codebooks`, trained once on the
    sf0.01 embeddings by the same trainer the index writer uses), so the
    entire pipeline — cell assignment, probe choice, residual PQ
    encoding, the cell-dot + LUT inner-product decomposition, the ADC
    rerank window, and the exact top-k — is deterministic arithmetic the
    DuckDB oracle replays from first principles (q41's committed-fixture
    discipline, extended through the ADC stage). Any bug in any stage,
    or in their composition, breaks equality."""
    import hashlib
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from donut_spark.operators.ann_index import (
        probe_ivfadc_index,
        write_ivfadc_index,
    )
    from donut_spark.sources.fixtures import (
        FIXTURES_ROOT,
        materialize_ivfadc_codebooks,
    )

    cents_path, books_path = materialize_ivfadc_codebooks(spark)
    cents = pq.read_table(cents_path).to_pydict()
    centroids = np.asarray(
        [c for _, c in sorted(zip(cents["cell"], cents["centroid"]))],
        dtype="float64",
    )
    bk = pq.read_table(books_path).to_pydict()
    m = max(bk["s"]) + 1
    kk = max(bk["j"]) + 1
    books = np.empty((m, kk, centroids.shape[1] // m), dtype="float64")
    for s, j, code in zip(bk["s"], bk["j"], bk["code"]):
        books[s, j] = code

    e = _sf(sf)(spark, "embeddings")
    name = os.path.basename(sf.rstrip("/"))
    src = os.stat(os.path.join(sf, "embeddings.parquet"))
    fxs = os.stat(cents_path)
    key = hashlib.blake2s(
        f"ivfadc.fx.c16.m16.k64|{src.st_size}|{int(src.st_mtime)}"
        f"|{fxs.st_size}|{int(fxs.st_mtime)}".encode(),
        digest_size=6,
    ).hexdigest()
    path = os.path.join(FIXTURES_ROOT, f"ann_ivfadc_fx_{name}_{key}")
    if not os.path.exists(os.path.join(path, "_meta.json")):
        write_ivfadc_index(e, path, centroids=centroids, books=books)
    return probe_ivfadc_index(
        spark, path, e, _unit_query_vec(64), k=20, n_probe=8, rerank=100
    ).withColumn("cosine", F.round("cosine", 6))


def q48_ann_ivf_full(spark, sf):
    """IVF with every cell probed — the exactness regime: codebook
    training (hash-uniform sample + Lloyd), vectorized cell assignment,
    probe selection, and exact rerank all run, and the result must equal
    brute-force cosine top-k (oracle-backed). q41 keeps the pruned-probe
    scale path."""
    from donut_spark.operators.similarity import ivf_topk

    e = _sf(sf)(spark, "embeddings")
    return ivf_topk(
        e, _unit_query_vec(64), k=20, n_centroids=16, n_probe=16
    ).withColumn("cosine", F.round("cosine", 6))


def q42_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pairs over the embeddings table.

    This synthetic table's true max pairwise cosine is ~0.51, so the
    "near-dup" band is cosine >= 0.45 — a LOW threshold where SRP
    banding degenerates (measured: 1.97M of 2.0M sf0.1 pairs collide in
    some band), so the right physical plan is the blocked exact all-
    pairs matmul, not the LSH pair-explosion (13x faster here, same
    exact result). `embedding_near_dup_pairs` (SRP + exact verify)
    remains the discovery plan for selective thresholds — see
    tests/test_dedup_similarity.py."""
    import os

    import pyarrow.parquet as pq

    from donut_spark.operators.similarity import cosine_pairs_blocked

    e = _sf(sf)(spark, "embeddings")
    # size the block grid from the parquet footer (zero Spark jobs)
    # instead of a count() scan on every timed execution; block_size
    # auto-derives from cluster parallelism (see cosine_pairs_blocked)
    n_rows = pq.read_metadata(os.path.join(sf, "embeddings.parquet")).num_rows
    return (
        cosine_pairs_blocked(e, threshold=0.45, n_rows=n_rows)
        .withColumn("cosine", F.round("cosine", 6))
        .orderBy("a", "b")
    )


def q46_boilerplate_strip(spark, sf):
    """Readability-style main-content extraction (north-star
    'boilerplate/background stripping via text-density and region
    heuristics'): every document is wrapped JVM-side in realistic page
    chrome (nav, link-farm sidebar, ad block, footer); the extractor must
    recover EXACTLY the original text. Oracle: the unwrapped documents
    table itself."""
    from donut_spark.functions.udfs import main_content_udf

    d = _sf(sf)(spark, "documents").filter(F.col("doc_id") < 200)
    page = F.concat(
        F.lit(
            '<html><body><nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a></nav><div class="sidebar">'
            '<a href="/x">Link one</a> <a href="/y">Link two</a> '
            '<a href="/z">Link three</a></div><div id="main"><p>'
        ),
        F.col("text"),
        F.lit(
            '</p></div><div class="ads"><a href="/buy">BUY NOW</a></div>'
            '<footer><a href="/privacy">Privacy</a> (c) 2026 Example Corp'
            "</footer></body></html>"
        ),
    )
    return d.select(
        "doc_id", main_content_udf(page).alias("main_text")
    )


def q45_multi_gt(spark, sf):
    """S2 multi-ground-truth branch (`donut/util.py:75-82`): DocVQA-shaped
    envelopes where even docs carry a gt_parses LIST (true + decoy), odd a
    single gt_parse. Scoring is best-of-candidates nTED; the oracle
    asserts the envelope branch picked the right candidate count and the
    round-tripped true parse scores a perfect best-of."""
    from donut_spark.functions.udfs import (
        gt_candidates_udf,
        json2token_udf,
        nted_best_udf,
        token2json_udf,
    )
    from donut_spark.sources.fixtures import build_multi_gt_metadata

    md = build_multi_gt_metadata(spark, sf)
    df = md.withColumn("cands", gt_candidates_udf("ground_truth")).withColumn(
        "pred", token2json_udf(json2token_udf(F.element_at("cands", 1)))
    )
    return df.select(
        "file_name",
        F.size("cands").alias("n_candidates"),
        F.round(nted_best_udf("pred", "cands"), 6).alias("best_nted"),
    )


def q47_neardup_clusters(spark, sf):
    """Near-dup CLUSTERS (not just pairs): exact n-gram Jaccard pairs →
    connected components via iterative min-label propagation. Oracle:
    DuckDB recomputes the same components with a recursive CTE over an
    independently-derived pair list — both the pair discovery AND the
    transitive closure are double-implemented."""
    from donut_spark.operators.dedup import connected_components, ngram_jaccard_pairs

    d = _sf(sf)(spark, "documents").filter(F.col("doc_id") < 120)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.3)
    return connected_components(pairs).select(
        F.col("v").alias("doc_id"), "cluster"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 registered queries — the driver's correctness gate
    # executes (at most) the first 50 entries, so EVERY registered query
    # gets a driver row (round-5 consolidation, per the round-4 advice:
    # no curation of which queries the gate sees). The four former tail
    # variants were folded into their families as tagged unions:
    # q16_first_word → q35_string_funcs, q34_case_bands →
    # q11_bucket_histogram, q43_jaccard_exact → q26_jaccard_verify,
    # q44_max_token_len → q05_topk. Each fold keeps both assertions
    # (distinct `family`/`mode` tag per constituent result set).
    return {
        "q01_filter_project": q01_filter_project,
        "q02_group_agg": q02_group_agg,
        "q03_broadcast_join": q03_broadcast_join,
        "q04_multi_join": q04_multi_join,
        "q05_topk": q05_topk,
        "q06_distinct_sort": q06_distinct_sort,
        "q07_window_first": q07_window_first,
        "q08_union_distinct": q08_union_distinct,
        "q09_semijoin": q09_semijoin,
        "q10_antijoin": q10_antijoin,
        "q11_bucket_histogram": q11_bucket_histogram,
        "q12_edit_distance": q12_edit_distance,
        "q13_regex_filter": q13_regex_filter,
        "q14_token_stats": q14_token_stats,
        "q15_exact_dup_clusters": q15_exact_dup_clusters,
        "q18_grouped_minmax": q18_grouped_minmax,
        "q19_window_avg_filter": q19_window_avg_filter,
        "q20_cosine_scores": q20_cosine_scores,
        "q21_flagship_metrics": q21_flagship_metrics,
        "q22_extract_spans": q22_extract_spans,
        "q23_lang_quality": q23_lang_quality,
        "q24_minhash_dedup": q24_minhash_dedup,
        "q25_simhash_dedup": q25_simhash_dedup,
        "q26_jaccard_verify": q26_jaccard_verify,
        "q27_ann_topk": q27_ann_topk,
        "q28_ann_lsh": q28_ann_lsh,
        "q29_multimodal": q29_multimodal,
        "q30_table_ops": q30_table_ops,
        "q31_strip_tags": q31_strip_tags,
        "q32_running_sum": q32_running_sum,
        "q33_rollup": q33_rollup,
        "q36_span_hof": q36_span_hof,
        "q37_extract_span_parallel": q37_extract_span_parallel,
        "q38_teds_pairs": q38_teds_pairs,
        "q39_resume_antifilter": q39_resume_antifilter,
        "q40_synth_tables": q40_synth_tables,
        "q41_ann_ivf": q41_ann_ivf,
        "q42_embedding_neardup": q42_embedding_neardup,
        "q45_multi_gt": q45_multi_gt,
        "q46_boilerplate_strip": q46_boilerplate_strip,
        "q47_neardup_clusters": q47_neardup_clusters,
        "q48_ann_ivf_full": q48_ann_ivf_full,
        "q49_teds_spec": q49_teds_spec,
        "q50_ann_index_probe": q50_ann_index_probe,
        "q51_ann_pq": q51_ann_pq,
        "q52_contamination": q52_contamination,
        "q53_ann_ivfadc": q53_ann_ivfadc,
        "q54_ann_ivfadc_pruned": q54_ann_ivfadc_pruned,
        "q35_string_funcs": q35_string_funcs,
        "q55_pdf_extract": q55_pdf_extract,
    }


def _sql_str_list(words) -> str:
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in sorted(words)) + "]"


def oracle_sql() -> dict[str, str]:
    # The driver registers the ten base tables as views at sf0.01; the
    # spans / fingerprint / SRP-plane fixtures are committed parquet the
    # oracle reads directly (see donut_spark/sources/fixtures.py::
    # materialize_spans / materialize_fingerprints / materialize_srp_planes).
    return _oracle_sql_for(
        "/root/repo/.fixtures/spans_sf0.01/*.parquet",
        fp="/root/repo/.fixtures/fingerprints_sf0.01.parquet",
        planes="/root/repo/.fixtures/srp_planes_d64_b32_s13.parquet",
        ivf="/root/repo/.fixtures/ivf_centroids_sf0.01_c16_i3.parquet",
        adc_cents="/root/repo/.fixtures/ivfadc_sf0.01_c16_m16_k64_cents.parquet",
        adc_books="/root/repo/.fixtures/ivfadc_sf0.01_c16_m16_k64_books.parquet",
    )


def _oracle_sql_for(
    fx: str,
    fp: str = "/root/repo/.fixtures/fingerprints_sf0.01.parquet",
    planes: str = "/root/repo/.fixtures/srp_planes_d64_b32_s13.parquet",
    ivf: str = "/root/repo/.fixtures/ivf_centroids_sf0.01_c16_i3.parquet",
    adc_cents: str = "/root/repo/.fixtures/ivfadc_sf0.01_c16_m16_k64_cents.parquet",
    adc_books: str = "/root/repo/.fixtures/ivfadc_sf0.01_c16_m16_k64_books.parquet",
) -> dict[str, str]:
    from donut_spark.core.textstats import STOPWORDS
    from donut_spark.functions.quality import GOPHER_STOPWORDS

    qvec = "[" + ", ".join(str(v) for v in _unit_query_vec(64)) + "]"
    en, es, fr, de = (
        _sql_str_list(STOPWORDS["en"]),
        _sql_str_list(STOPWORDS["es"]),
        _sql_str_list(STOPWORDS["fr"]),
        _sql_str_list(STOPWORDS["de"]),
    )
    gstop = _sql_str_list(GOPHER_STOPWORDS)
    from donut_spark.functions.redact import (
        EMAIL_RE as _EMAIL_RE,
        IPV4_RE as _IPV4_RE,
        PHONE_RE as _PHONE_RE,
        PII_FIXTURE,
    )

    pii_values = ", ".join(
        "('" + k + "', '" + t.replace("'", "''") + "')"
        for k, t in PII_FIXTURE
    )
    from donut_spark.functions.quality import C4_FIXTURE

    c4_values = ", ".join(
        "('" + k + "', '" + t.replace("'", "''") + "')"
        for k, t in C4_FIXTURE
    )
    sqls = {
        "q01_filter_project": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01'
              AND l_shipdate < TIMESTAMP '1995-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q02_group_agg": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(avg(l_extendedprice), 2) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q03_broadcast_join": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "q04_multi_join": """
            SELECT r_name AS region, round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        # arg-max family: price top-10 UNION the analytic token-length
        # arg-max (len = |<s_doc></s_doc><s_title></s_title><s_items>
        # </s_items>| (53) + len(title) + Σ items (28 tag chars +
        # len(nm) + len(cnt)) + 6·(n_items − 1) separators — json2token
        # never runs on this side).
        "q05_topk": f"""
            SELECT * FROM (
              SELECT 'order_price' AS family, CAST(o_orderkey AS VARCHAR) AS k,
                     round(o_totalprice, 2) AS val
              FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
            )
            UNION ALL
            SELECT * FROM (
              WITH t AS (
                SELECT doc_id,
                  json_extract_string(gt_parse, '$.doc.title') AS title,
                  from_json(json_extract(gt_parse, '$.doc.items'),
                            '[{{"nm":"VARCHAR","cnt":"VARCHAR"}}]') AS items
                FROM read_parquet('{fx}')
              )
              SELECT 'token_len' AS family, CAST(doc_id AS VARCHAR) AS k,
                CAST(53 + length(title)
                   + list_sum(list_transform(items,
                         x -> 28 + length(x.nm) + length(x.cnt)))
                   + 6 * (len(items) - 1) AS DOUBLE) AS val
              FROM t
              ORDER BY val DESC, doc_id
              LIMIT 5
            )
        """,
        "q06_distinct_sort": """
            SELECT DISTINCT p_type FROM part ORDER BY p_type
            LIMIT 50 OFFSET 20
        """,
        "q07_window_first": """
            SELECT user_id, event_type AS first_event, event_id FROM (
                SELECT user_id, event_type, event_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events) WHERE rn = 1
        """,
        "q08_union_distinct": """
            SELECT user_id FROM events WHERE event_type = 'click'
            UNION
            SELECT user_id FROM events WHERE value > 90
        """,
        "q09_semijoin": """
            SELECT c_nationkey, count(*) AS n_customers FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        """,
        "q10_antijoin": """
            SELECT count(*) AS n_without_orders FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q11_bucket_histogram": """
            SELECT 'value_decile' AS family,
                   CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS bucket,
                   count(*) AS n, round(avg(value), 4) AS avg_metric
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'price_band' AS family,
                   CASE WHEN o_totalprice < 50000 THEN 'low'
                        WHEN o_totalprice < 150000 THEN 'mid'
                        ELSE 'high' END AS bucket,
                   count(*) AS n, round(avg(o_totalprice), 2) AS avg_metric
            FROM orders GROUP BY 2
        """,
        "q12_edit_distance": """
            SELECT c_custkey,
                   levenshtein(c_name, 'Customer#000000001') AS dist
            FROM customer WHERE c_custkey <= 100
        """,
        "q13_regex_filter": f"""
            SELECT 'filter' AS family, lang AS k,
                   CAST(count(*) AS BIGINT) AS n, '' AS redacted
            FROM documents
            WHERE regexp_matches(text, 'spark')
              AND NOT regexp_matches(text, 'dup')
            GROUP BY lang
            UNION ALL
            -- PII cascade replay (functions/redact.py): email → IPv4 →
            -- phone, counts taken on each stage's input
            SELECT 'redact' AS family, k,
                   CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                        + len(regexp_extract_all(e_red, '{_IPV4_RE}'))
                        + len(regexp_extract_all(i_red, '{_PHONE_RE}'))
                        AS BIGINT) AS n,
                   regexp_replace(i_red, '{_PHONE_RE}', '<PHONE>', 'g')
                       AS redacted
            FROM (
                SELECT k, text,
                       regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g')
                           AS e_red,
                       regexp_replace(
                           regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                          'g'),
                           '{_IPV4_RE}', '<IP>', 'g') AS i_red
                FROM (VALUES {pii_values}) t(k, text)
            )
            UNION ALL
            -- C4 line-cleaning replay (functions/quality.py::c4_clean)
            SELECT 'c4_text' AS family, k,
                   CAST(len(kept) AS BIGINT) AS n,
                   coalesce(array_to_string(kept, chr(10)), '')
                       AS redacted
            FROM (
                SELECT k,
                       list_transform(list_filter(
                           list_filter(string_split_regex(text, '\\n'),
                                       l -> trim(l) <> ''),
                           l -> regexp_matches(l, '[.!?"”]\\s*$')
                             AND NOT regexp_matches(l, '(?i)javascript')
                             AND len(list_filter(
                                   string_split_regex(trim(l), '\\s+'),
                                   x -> x <> '')) >= 3),
                           l -> trim(l)) AS kept
                FROM (VALUES {c4_values}) t(k, text)
            )
            UNION ALL
            SELECT 'c4_gate' AS family, k,
                   CAST(n_sent AS BIGINT) AS n,
                   CAST(n_sent >= 5 AND NOT has_lorem AND NOT has_brace
                        AS VARCHAR) AS redacted
            FROM (
                SELECT k,
                       len(regexp_extract_all(coalesce(array_to_string(
                           list_transform(list_filter(
                               list_filter(string_split_regex(text, '\\n'),
                                           l -> trim(l) <> ''),
                               l -> regexp_matches(l, '[.!?"”]\\s*$')
                                 AND NOT regexp_matches(l, '(?i)javascript')
                                 AND len(list_filter(
                                       string_split_regex(trim(l), '\\s+'),
                                       x -> x <> '')) >= 3),
                               l -> trim(l)), chr(10)), ''),
                           '[.!?]')) AS n_sent,
                       contains(lower(text), 'lorem ipsum') AS has_lorem,
                       contains(text, '{{') AS has_brace
                FROM (VALUES {c4_values}) t(k, text)
            )
        """,
        "q14_token_stats": """
            SELECT lang,
                   round(avg(n_tokens), 4) AS avg_tokens,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM (SELECT lang, len(string_split(text, ' ')) AS n_tokens
                  FROM documents)
            GROUP BY lang
        """,
        "q15_exact_dup_clusters": """
            -- exact clusters + duplicated passages; the passage replay
            -- groups on shingle STRINGS (engine-hash independent)
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> '') AS w
                FROM documents
            ), sh AS (
                SELECT doc_id, len(w) AS nw, CAST(u.i AS BIGINT) AS pos,
                       array_to_string(w[u.i + 1 : u.i + 8], ' ') AS g
                FROM toks, unnest(range(0, greatest(len(w) - 8, 0) + 1)) u(i)
                WHERE array_to_string(w[u.i + 1 : u.i + 8], ' ') <> ''
            ), dupg AS (
                SELECT g FROM sh GROUP BY g
                HAVING count(DISTINCT doc_id) >= 2
            ), runs AS (
                SELECT s.doc_id, s.nw, s.pos,
                       CASE WHEN lag(s.pos) OVER w IS NULL
                              OR s.pos - lag(s.pos) OVER w > 1
                            THEN 1 ELSE 0 END AS newrun
                FROM sh s JOIN dupg d USING (g)
                WINDOW w AS (PARTITION BY s.doc_id ORDER BY s.pos)
            ), rid AS (
                SELECT doc_id, nw, pos,
                       sum(newrun) OVER (PARTITION BY doc_id
                                         ORDER BY pos) AS run
                FROM runs
            )
            SELECT 'exact' AS family, CAST(min(doc_id) AS BIGINT) AS doc_id,
                   CAST(-1 AS BIGINT) AS start_tok,
                   CAST(-1 AS BIGINT) AS end_tok,
                   CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
            UNION ALL
            SELECT 'passage' AS family, CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(min(pos) AS BIGINT) AS start_tok,
                   CAST(least(max(pos) + 8, max(nw)) - 1 AS BIGINT) AS end_tok,
                   CAST(least(max(pos) + 8, max(nw)) - min(pos) AS BIGINT) AS n
            FROM rid GROUP BY doc_id, run
        """,
        "q18_grouped_minmax": """
            SELECT event_type, round(max(value), 4) AS max_value,
                   round(min(value), 4) AS min_value, count(*) AS n
            FROM events GROUP BY event_type
        """,
        "q19_window_avg_filter": """
            SELECT o_orderstatus, count(*) AS n FROM (
                SELECT o_orderstatus, o_totalprice,
                       avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cavg
                FROM orders) WHERE o_totalprice > cavg
            GROUP BY o_orderstatus
        """,
        "q20_cosine_scores": f"""
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], {qvec}), 3)
                       AS cosine
            FROM embeddings WHERE vec_id < 50
        """,
        "q31_strip_tags": """
            SELECT doc_id,
                   regexp_replace('<p>' || text || '</p><br>', '<.*?>', '', 'g')
                       AS stripped
            FROM documents
        """,
        "q32_running_sum": """
            SELECT user_id, count(*) AS n_over FROM (
                SELECT user_id,
                       sum(value) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS run_sum
                FROM events) WHERE run_sum > 500
            GROUP BY user_id
        """,
        "q33_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q35_string_funcs": """
            SELECT 'part_token' AS family,
                   upper(substring(p_name, 1, 3)) AS key, count(*) AS n,
                   round(avg(length(p_name)), 4) AS avg_len
            FROM part GROUP BY 2
            UNION ALL
            SELECT 'doc_first_word' AS family,
                   string_split(text, ' ')[1] AS key, count(*) AS n,
                   round(avg(length(text)), 4) AS avg_len
            FROM documents GROUP BY 2
        """,
        # q55: the PDF bytes never touch SQL — the oracle replays the
        # writer's closed-form grid (operators/pdfparse.py layout
        # constants: K = 3 + num % 4 rows/page, two columns, y = 720 -
        # 36*row, x = 72 + 240*col, size = 10 + i % 5) over the spans
        # fixture's expected arrays; reading order is slot order by
        # construction, so any parser/layout-sort bug breaks equality
        "q55_pdf_extract": f"""
            WITH ex AS (
              SELECT doc_id, CAST(doc_id AS BIGINT) AS num,
                     unnest(expected) AS s,
                     generate_subscripts(expected, 1) - 1 AS i
              FROM read_parquet('{fx}')
              WHERE CAST(doc_id AS BIGINT) < 200
            ), geo AS (
              SELECT doc_id, i, s.kind AS kind, s.text AS text,
                     s.media_ref AS media_ref,
                     ((i // 2) // (3 + num % 4)) AS page,
                     CAST(72 + 240 * (i % 2) AS DOUBLE) AS x,
                     CAST(720 - 36 * ((i // 2) % (3 + num % 4)) AS DOUBLE)
                         AS y,
                     CASE WHEN s.kind = 'text'
                          THEN CAST(10 + i % 5 AS DOUBLE)
                          ELSE 0.0 END AS size
              FROM ex
            )
            SELECT doc_id,
                   CAST(max(page) + 1 AS INT) AS n_pages,
                   CAST(count(*) FILTER (WHERE kind = 'text') AS BIGINT)
                       AS n_text,
                   CAST(count(*) FILTER (WHERE kind = 'media') AS BIGINT)
                       AS n_media,
                   COALESCE(string_agg(CASE WHEN kind = 'text' THEN text END,
                                       chr(10) ORDER BY i), '')
                       AS reading_text,
                   COALESCE(string_agg(
                       CASE WHEN kind = 'media' THEN media_ref END,
                       ',' ORDER BY i), '') AS refs_concat,
                   CAST(sum(x) AS BIGINT) AS x_sum,
                   CAST(sum(y) AS BIGINT) AS y_sum,
                   CAST(sum(size) AS BIGINT) AS size_sum
            FROM geo GROUP BY doc_id
        """,
        "q39_resume_antifilter": """
            SELECT doc_id % 16 AS bucket, count(*) AS n_docs
            FROM documents WHERE doc_id % 16 NOT IN (0, 3, 7)
            GROUP BY 1
        """,
        # ---- fixture-backed oracles: the expected spans / gt_parse in the
        # committed fixture are the SPECIFICATION (computed by template
        # algebra at synth time, never by the extraction kernel) — the
        # oracle replays the spec, the Spark side must reproduce it.
        "q21_flagship_metrics": f"""
            SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(1.0 AS DOUBLE) AS exact_match_rate,
                   CAST(1.0 AS DOUBLE) AS roundtrip_rate,
                   CAST(1.0 AS DOUBLE) AS mean_nted,
                   CAST(0 AS BIGINT) AS n_quarantined
            FROM read_parquet('{fx}')
        """,
        "q22_extract_spans": f"""
            SELECT doc_id, expected_json AS extracted_json
            FROM read_parquet('{fx}')
        """,
        # ---- independent SQL reimplementation of the text-analysis
        # kernels (language vote, quality factors, BPE pre-tokenizer)
        "q23_lang_quality": f"""
            WITH base AS (
              SELECT doc_id, text,
                     list_transform(regexp_extract_all(text, '\\w+'),
                                    x -> lower(x)) AS words,
                     list_filter(string_split_regex(text, '\\s+'),
                                 x -> x <> '') AS wsw
              FROM documents WHERE doc_id < 300
            ), hits AS (
              SELECT doc_id, text, words, wsw, len(words) AS n,
                len(list_filter(words, x -> list_contains({en}, x))) AS h_en,
                len(list_filter(words, x -> list_contains({es}, x))) AS h_es,
                len(list_filter(words, x -> list_contains({fr}, x))) AS h_fr,
                len(list_filter(words, x -> list_contains({de}, x))) AS h_de
              FROM base
            ), langed AS (
              SELECT *,
                CASE
                  WHEN len(regexp_extract_all(text, '[가-힣ᄀ-ᇿㄱ-㆏]')) >= 3 THEN 'ko'
                  WHEN len(regexp_extract_all(text, '[぀-ゟ゠-ヿㇰ-ㇿ]')) >= 3 THEN 'ja'
                  WHEN len(regexp_extract_all(text, '[一-鿿㐀-䶿]')) >= 3 THEN 'zh'
                  WHEN n = 0 OR text = '' THEN 'und'
                  WHEN greatest(h_en, h_es, h_fr, h_de) * 20 < n
                    OR greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                  WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de THEN 'en'
                  WHEN h_es >= h_fr AND h_es >= h_de THEN 'es'
                  WHEN h_fr >= h_de THEN 'fr'
                  ELSE 'de' END AS detected_lang
              FROM hits
            ), gq AS (
              -- Gopher-rule measurements (functions/quality.py replay):
              -- whitespace words, raw (un-lowered) text, ratios rounded
              -- to 6 places on BOTH engines before thresholding
              SELECT *,
                len(wsw) AS g_n,
                round(list_sum(list_transform(wsw, w -> len(w)))::DOUBLE
                      / nullif(len(wsw), 0), 6) AS g_mwl,
                round(((len(text) - len(replace(text, '#', '')))
                       + (len(text) - len(replace(text, '...', ''))) / 3
                       + (len(text) - len(replace(text, '…', ''))))::DOUBLE
                      / nullif(len(wsw), 0), 6) AS g_sym,
                round(len(list_filter(string_split_regex(text, '\\n'),
                                      l -> regexp_matches(l, '^\\s*[-*•‣▪]')))::DOUBLE
                      / nullif(len(string_split_regex(text, '\\n')), 0), 6) AS g_bul,
                round(len(list_filter(string_split_regex(text, '\\n'),
                                      l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
                      / nullif(len(string_split_regex(text, '\\n')), 0), 6) AS g_ell,
                round(len(list_filter(wsw, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                      / nullif(len(wsw), 0), 6) AS g_alpha,
                len(list_filter(wsw, w -> list_contains({gstop}, lower(w)))) AS g_stops
              FROM langed
            ), rep0 AS (
              -- repetition rules (functions/quality.py::gopher_repetition):
              -- lower-cased word space; dup lines via sorted-predecessor
              SELECT *,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '') AS wl,
                list_sort(list_filter(string_split_regex(text, '\\n'),
                                      l -> trim(l) <> '')) AS ls
              FROM gq
            ), rep1 AS (
              SELECT *,
                list_transform(range(0, greatest(len(wl) - 1, 0)),
                               i -> array_to_string(wl[i + 1 : i + 2], ' ')) AS g2,
                list_transform(range(0, greatest(len(wl) - 2, 0)),
                               i -> array_to_string(wl[i + 1 : i + 3], ' ')) AS g3,
                list_sum(list_transform(wl, w -> len(w))) AS wchars,
                list_filter(list_zip(ls, [''] || ls[1 : len(ls) - 1]),
                            z -> z[1] = z[2]) AS dupl
              FROM rep0
            ), rep2 AS (
              SELECT *,
                list_max(list_transform(g2,
                    g -> len(list_filter(g2, x -> x = g)))) AS bc2,
                list_max(list_transform(g3,
                    g -> len(list_filter(g3, x -> x = g)))) AS bc3,
                coalesce(round(len(dupl)::DOUBLE / nullif(len(ls), 0), 6),
                         0.0) AS r_dlf,
                coalesce(round(coalesce(list_sum(list_transform(dupl,
                    z -> len(z[1]))), 0)::DOUBLE
                    / nullif(list_sum(list_transform(ls, l -> len(l))), 0),
                    6), 0.0) AS r_dlcf
              FROM rep1
            ), rep AS (
              SELECT *,
                CASE WHEN coalesce(bc2, 0) >= 2 THEN round(bc2
                    * len(replace(list_aggregate(list_filter(g2,
                        g -> len(list_filter(g2, x -> x = g)) = bc2),
                        'min'), ' ', ''))::DOUBLE
                    / nullif(wchars, 0), 6) ELSE 0.0 END AS r_top2,
                CASE WHEN coalesce(bc3, 0) >= 2 THEN round(bc3
                    * len(replace(list_aggregate(list_filter(g3,
                        g -> len(list_filter(g3, x -> x = g)) = bc3),
                        'min'), ' ', ''))::DOUBLE
                    / nullif(wchars, 0), 6) ELSE 0.0 END AS r_top3
              FROM rep2
            )
            SELECT doc_id, detected_lang,
              round(CASE WHEN text = '' OR n = 0 THEN 0.0 ELSE
                1.0
                * (CASE WHEN n < 5 THEN 0.2 WHEN n < 20 THEN 0.7 ELSE 1.0 END)
                * (CASE WHEN list_sum(list_transform(words, w -> len(w)))::DOUBLE / n < 2.0
                          OR list_sum(list_transform(words, w -> len(w)))::DOUBLE / n > 12.0
                     THEN 0.5 ELSE 1.0 END)
                * (CASE WHEN h_en = 0 AND detected_lang IN ('en', 'und')
                     THEN 0.7 ELSE 1.0 END)
                * (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                          / greatest(len(text), 1) > 0.25 THEN 0.5 ELSE 1.0 END)
                * (CASE WHEN len(regexp_extract_all(text, '[0-9]'))::DOUBLE
                          / greatest(len(text), 1) > 0.4 THEN 0.5 ELSE 1.0 END)
                * (CASE WHEN n >= 10 AND list_max(list_transform(list_distinct(words),
                          d -> len(list_filter(words, x -> x = d))))::DOUBLE / n > 0.2
                     THEN 0.6 ELSE 1.0 END)
              END, 6) AS quality,
              len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[^\\W\\d_]+| ?\\d+| ?[^\\s\\w]+')) AS n_tokens,
              CAST(g_n AS BIGINT) AS n_words,
              g_mwl AS mean_word_len,
              g_sym AS symbol_ratio,
              g_alpha AS alpha_word_frac,
              CAST(g_stops AS BIGINT) AS stop_hits,
              (g_n > 0 AND g_n >= 50 AND g_n <= 100000) AS ok_words,
              coalesce(g_n > 0 AND g_mwl >= 3.0 AND g_mwl <= 10.0, FALSE)
                  AS ok_word_len,
              (g_n > 0 AND g_stops >= 2) AS ok_stops,
              coalesce(g_n > 0 AND g_n >= 50 AND g_n <= 100000
                       AND g_mwl >= 3.0 AND g_mwl <= 10.0 AND g_sym <= 0.1
                       AND g_bul <= 0.9 AND g_ell <= 0.3 AND g_alpha >= 0.8
                       AND g_stops >= 2, FALSE) AS gopher_pass,
              r_top2 AS top2gram_char_frac,
              r_top3 AS top3gram_char_frac,
              (r_dlf <= 0.30 AND r_dlcf <= 0.20
               AND r_top2 <= 0.20 AND r_top3 <= 0.18) AS repetition_pass
            FROM rep
        """,
        "q27_ann_topk": f"""
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], {qvec}), 6)
                       AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], {qvec}) DESC,
                     vec_id
            LIMIT 20
        """,
        "q36_span_hof": f"""
            SELECT doc_id,
              len(spans) AS n_spans,
              len(list_filter(spans, s -> s.kind = 'media')) AS n_media,
              round(len(list_filter(spans, s -> s.kind = 'media'))::DOUBLE
                    / len(spans), 6) AS media_ratio,
              CAST(coalesce(list_sum(list_transform(spans, s -> length(s.text))), 0)
                   AS BIGINT) AS total_chars,
              list_max(list_transform(spans, s -> s.offset)) AS max_offset
            FROM read_parquet('{fx}') WHERE CAST(doc_id AS BIGINT) < 200
        """,
        "q37_extract_span_parallel": f"""
            SELECT doc_id, CAST(1 AS INT) AS exact_match
            FROM read_parquet('{fx}')
        """,
        # Spec oracle for the repair grammar (reference teds.py:115-133):
        # unclosed <td>/<tr> are closed, the fused 'tdcolspan="2"' token is
        # split into an attribute, thead/tbody survive, everything wraps in
        # <table>; stats recover row/col counts incl. colspan; TEDS(x,x)=1.
        # These expected strings are hand-derived from the reference rules,
        # not captured from the kernel.
        "q30_table_ops": """
            SELECT * FROM (VALUES
              ('t1',
               '<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>',
               CAST(2 AS INT), CAST(2 AS INT), CAST(1.0 AS DOUBLE)),
              ('t2',
               '<table><thead><tr><td>h</td></tr></thead><tbody><tr><td>x</td></tr></tbody></table>',
               CAST(2 AS INT), CAST(1 AS INT), CAST(1.0 AS DOUBLE)),
              ('t3',
               '<table><tr><td colspan="2">m</td><td>n</td></tr></table>',
               CAST(1 AS INT), CAST(3 AS INT), CAST(1.0 AS DOUBLE))
            ) t(tbl_id, html, nums_row, nums_col, teds_self)
        """,
        # analytic spec of the deterministic table generator + TEDS(x,x)=1
        "q40_synth_tables": """
            SELECT 'tbl_' || CAST(sid AS VARCHAR) AS tbl_id,
                   CAST(2 + sid % 5 AS INT) AS nums_row,
                   CAST(2 + sid % 4 AS INT) AS nums_col,
                   CAST(1.0 AS DOUBLE) AS teds_self
            FROM generate_series(0, 49) t(sid)
        """,
        # transitive closure twin: the same Jaccard pair list (see the
        # exact side of q26_jaccard_verify) closed into components with
        # a recursive CTE
        "q47_neardup_clusters": """
            WITH RECURSIVE words AS (
              SELECT doc_id AS k, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents WHERE doc_id < 120
            ), sh AS (
              SELECT k, unnest(list_distinct(list_filter(
                  list_transform(generate_series(0, greatest(len(w) - 3, 0)),
                                 i -> array_to_string(w[i+1:i+3], ' ')),
                  x -> x <> ''))) AS sh
              FROM words
            ), sizes AS (
              SELECT k, count(*) AS sz FROM sh GROUP BY k
            ), inter AS (
              SELECT l.k AS a, r.k AS b, count(*) AS n_inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.k < r.k
              GROUP BY 1, 2
            ), pairs AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.k = a
              JOIN sizes sb ON sb.k = b
              WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.3
            ), edges AS (
              SELECT a AS s, b AS d FROM pairs
              UNION ALL SELECT b, a FROM pairs
            ), reach(v, label) AS (
              SELECT DISTINCT s, s FROM edges
              UNION
              SELECT e.s, r.label FROM edges e JOIN reach r ON e.d = r.v
            )
            SELECT v AS doc_id, CAST(min(label) AS BIGINT) AS cluster
            FROM reach GROUP BY v
        """,
        # PNG rows verified for real: the oracle re-derives format
        # choice (num % 4), encoded dimensions (8 + 7num % 24 ×
        # 8 + 13num % 24) and the pixel checksum (sum over x,y,c of
        # (7x + 13y + 29c + num) mod 256) from the ref string alone —
        # the Spark side got them by DECODING the PNG bytes it encoded,
        # so filters/CRC/IHDR bugs on either side break equality.
        "q29_multimodal": f"""
            WITH refs AS (
              SELECT DISTINCT s.media_ref AS media_ref
              FROM (SELECT unnest(spans) AS s
                    FROM read_parquet('{fx}')
                    WHERE CAST(doc_id AS BIGINT) < 100)
              WHERE s.kind = 'media'
            ), dims AS (
              SELECT media_ref, num,
                     CASE WHEN num % 4 = 1
                          THEN CAST(8 + (num * 7) % 24 AS INT) END AS png_w,
                     CASE WHEN num % 4 = 1
                          THEN CAST(8 + (num * 13) % 24 AS INT) END AS png_h,
                     -- jpeg dims (num % 4 = 0): the featurizer gets
                     -- these from the REAL baseline grayscale decode
                     CASE WHEN num % 4 = 0
                          THEN CAST(16 + (num * 11) % 48 AS INT) END AS jpg_w,
                     CASE WHEN num % 4 = 0
                          THEN CAST(16 + (num * 17) % 48 AS INT) END AS jpg_h,
                     -- webm EBML video-track dims (num % 4 = 2): parsed
                     -- back out of the real Matroska header
                     CASE WHEN num % 4 = 2
                          THEN CAST(64 + (num * 23) % 512 AS INT) END AS webm_w,
                     CASE WHEN num % 4 = 2
                          THEN CAST(64 + (num * 29) % 512 AS INT) END AS webm_h,
                     -- wav audio params (num % 4 = 3): parsed back out
                     -- of the real RIFF fmt chunk by the featurizer
                     CASE WHEN num % 4 = 3
                          THEN CAST(8000 + (num * 41) % 36000 AS INT)
                          END AS wav_rate,
                     CASE WHEN num % 4 = 3
                          THEN CAST(1 + num % 2 AS INT) END AS wav_ch
              FROM (SELECT media_ref,
                           -- TRY_CAST: DuckDB may evaluate this
                           -- projection eagerly on rows the kind-filter
                           -- later drops (text spans, media_ref = ''),
                           -- depending on the chosen plan — a plain
                           -- CAST made the oracle intermittently throw
                           TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT) * 1000
                             + TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)
                               AS num
                    FROM refs)
            )
            , pix AS (
              -- dims are 8..31, so a fixed 0..30 series range-joined on
              -- x < png_w covers every image (generate_series can't take
              -- correlated bounds)
              SELECT d.media_ref,
                     CAST(sum((x.x * 7 + y.y * 13 + c.c * 29 + d.num) % 256)
                          AS BIGINT) AS pix_sum
              FROM dims d
              JOIN generate_series(0, 30) x(x) ON x.x < d.png_w
              JOIN generate_series(0, 30) y(y) ON y.y < d.png_h
              CROSS JOIN generate_series(0, 2) c(c)
              GROUP BY d.media_ref
            ), jpix AS (
              -- jpeg decoded-pixel checksum from first principles:
              -- flat 8x8 blocks, pixel(x,y) = ((x//8)*7 + (y//8)*13 +
              -- num) % 256 — the baseline encode→decode loop is
              -- bit-exact for flat blocks with unit quantization, so
              -- the SQL side never needs any JPEG code
              SELECT d.media_ref,
                     CAST(sum(((x.x // 8) * 7 + (y.y // 8) * 13 + d.num) % 256)
                          AS BIGINT) AS pix_sum
              FROM dims d
              JOIN generate_series(0, 62) x(x) ON x.x < d.jpg_w
              JOIN generate_series(0, 62) y(y) ON y.y < d.jpg_h
              GROUP BY d.media_ref
            ), vpix AS (
              -- VP8 sampled-key-frame luma checksums from first
              -- principles (round-5): q29 samples every 30th frame and
              -- the synth's GOP is 10, so every sampled frame is a key
              -- frame; its luma is constant per 16x16 macroblock with
              -- v = (7*mx + 13*my + 31*idx + num) % 256 and the
              -- constant-per-MB VP8 roundtrip is bit-exact, so the
              -- decoded checksum is MB arithmetic with edge-MB crop —
              -- no VP8 code on the SQL side
              SELECT d.media_ref,
                     CAST(sum(((mx.mx * 7 + my.my * 13 + i.i * 31 + d.num) % 256)
                          * least(16, d.webm_w - mx.mx * 16)
                          * least(16, d.webm_h - my.my * 16)) AS BIGINT)
                         AS frame_pix_sum,
                     CAST(count(DISTINCT i.i) AS BIGINT) AS n_key
              FROM dims d
              JOIN generate_series(0, 119) i(i)
                ON i.i < 1 + (d.num * 7) % 120 AND i.i % 30 = 0
              JOIN generate_series(0, 35) mx(mx) ON mx.mx * 16 < d.webm_w
              JOIN generate_series(0, 35) my(my) ON my.my * 16 < d.webm_h
              WHERE d.num % 4 = 2
              GROUP BY d.media_ref
            ), wpix AS (
              -- wav sample checksum from first principles: 16-bit PCM
              -- value(i) = (31·i + 7·num) mod 65536 over channels ×
              -- n_frames interleaved samples — no RIFF code in SQL.
              -- The frame leg segments the stream into every_n-frame
              -- clips (a partition of the samples), so the summed clip
              -- checksums equal the whole-stream checksum and n_key is
              -- the clip count ceil(n_frames / 30)
              SELECT d.media_ref,
                     CAST(sum((i.i * 31 + d.num * 7) % 65536) AS BIGINT)
                         AS samp_sum,
                     CAST(ceil((64 + (any_value(d.num) * 37) % 512) / 30.0)
                          AS BIGINT) AS n_clips
              FROM dims d
              JOIN generate_series(0, 1151) i(i)
                ON i.i < (1 + d.num % 2) * (64 + (d.num * 37) % 512)
              WHERE d.num % 4 = 3
              GROUP BY d.media_ref
            )
            SELECT dims.media_ref,
                   CAST(8 AS INT) AS feat_dim,
                   png_w, png_h,
                   coalesce(pix.pix_sum, jpix.pix_sum, wpix.samp_sum)
                       AS pix_sum,
                   jpg_w, jpg_h, webm_w, webm_h, wav_rate, wav_ch,
                   CAST(1 AS INT) AS meta_ok,
                   -- a still image IS its single sampled frame; an
                   -- audio stream's clips partition it exactly
                   coalesce(vpix.frame_pix_sum, wpix.samp_sum,
                            pix.pix_sum, jpix.pix_sum) AS frame_pix_sum,
                   coalesce(vpix.n_key, wpix.n_clips, 1) AS n_key
            FROM dims
            LEFT JOIN pix ON dims.media_ref = pix.media_ref
            LEFT JOIN jpix ON dims.media_ref = jpix.media_ref
            LEFT JOIN vpix ON dims.media_ref = vpix.media_ref
            LEFT JOIN wpix ON dims.media_ref = wpix.media_ref
        """,
        "q46_boilerplate_strip": """
            SELECT doc_id, text AS main_text
            FROM documents WHERE doc_id < 200
        """,
        "q45_multi_gt": """
            SELECT CAST(doc_id AS VARCHAR) AS file_name,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT)
                       AS n_candidates,
                   CAST(1.0 AS DOUBLE) AS best_nted
            FROM documents
        """,
        # SimHash near-dup: the 4×16-bit chunk index is EXACT for
        # hamming ≤ 3 (pigeonhole), so the blocked Spark join must equal
        # the quadratic all-pairs ground truth over the committed
        # fingerprint fixture (same signed-64 kernel values the UDF
        # recomputes from text — the oracle checks the BLOCKING plan
        # against brute force, bit_count(xor) both sides).
        "q25_simhash_dedup": f"""
            SELECT l.doc_id AS a, r.doc_id AS b,
                   CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
            FROM read_parquet('{fp}') l
            JOIN read_parquet('{fp}') r ON l.doc_id < r.doc_id
            WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
        """,
        # MinHash-LSH banding twin: DuckDB joins on raw 4-element band
        # SLICES of the fixture signatures (list equality) where Spark
        # joins on xxhash64 of the slice — independent join keys, same
        # pair set unless the engine's banding drops or fabricates pairs.
        "q24_minhash_dedup": f"""
            WITH banded AS (
              SELECT doc_id AS k, b, minhash_sig[b*4+1 : b*4+4] AS bv
              FROM read_parquet('{fp}'), generate_series(0, 15) t(b)
            )
            SELECT l.k AS a, r.k AS b, count(*) AS n_bands
            FROM banded l
            JOIN banded r ON l.b = r.b AND l.bv = r.bv AND l.k < r.k
            GROUP BY 1, 2
        """,
        # N-gram Jaccard family, both modes. Candidate mode: banding twin
        # for the candidate set (see q24), then an independent
        # shingle/Jaccard reimplementation restricted to candidate
        # endpoints — exactly the candidate-driven join shape the Spark
        # operator uses at scale. Exact mode: the same shingle/Jaccard
        # SQL as an uncandidated all-pairs sweep on a bounded slice.
        "q26_jaccard_verify": f"""
            SELECT * FROM (
            WITH banded AS (
              SELECT doc_id AS k, b, minhash_sig[b*4+1 : b*4+4] AS bv
              FROM read_parquet('{fp}'), generate_series(0, 15) t(b)
            ), cand AS (
              SELECT DISTINCT l.k AS a, r.k AS b
              FROM banded l
              JOIN banded r ON l.b = r.b AND l.bv = r.bv AND l.k < r.k
            ), ids AS (
              SELECT a AS k FROM cand UNION SELECT b FROM cand
            ), words AS (
              SELECT doc_id AS k, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents JOIN ids ON doc_id = ids.k
            ), sh AS (
              SELECT k, unnest(list_distinct(list_filter(
                  list_transform(generate_series(0, greatest(len(w) - 3, 0)),
                                 i -> array_to_string(w[i+1:i+3], ' ')),
                  x -> x <> ''))) AS sh
              FROM words
            ), sizes AS (
              SELECT k, count(*) AS sz FROM sh GROUP BY k
            ), inter AS (
              SELECT c.a, c.b, count(*) AS n_inter
              FROM cand c
              JOIN sh l ON l.k = c.a
              JOIN sh r ON r.k = c.b AND r.sh = l.sh
              GROUP BY 1, 2
            )
            SELECT 'candidate' AS mode, a, b,
                   round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.k = a
            JOIN sizes sb ON sb.k = b
            WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.5
            )
            UNION ALL
            SELECT * FROM (
            WITH words AS (
              SELECT doc_id AS k, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents WHERE doc_id < 120
            ), sh AS (
              SELECT k, unnest(list_distinct(list_filter(
                  list_transform(generate_series(0, greatest(len(w) - 3, 0)),
                                 i -> array_to_string(w[i+1:i+3], ' ')),
                  x -> x <> ''))) AS sh
              FROM words
            ), sizes AS (
              SELECT k, count(*) AS sz FROM sh GROUP BY k
            ), inter AS (
              SELECT l.k AS a, r.k AS b, count(*) AS n_inter
              FROM sh l JOIN sh r ON l.sh = r.sh AND l.k < r.k
              GROUP BY 1, 2
            )
            SELECT 'exact' AS mode, a, b,
                   round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.k = a
            JOIN sizes sb ON sb.k = b
            WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.3
            )
        """,
        # Full SRP-LSH replica (signatures → bands → candidate buckets →
        # exact rerank) from the committed hyperplane fixture: sig bit =
        # sign(embedding · plane) via list_dot_product in double (min
        # |dot| on this data is 8.8e-5 — twelve orders above double
        # rounding, so the sign is engine-independent), band value packed
        # with integer arithmetic. A genuinely independent second
        # implementation of the whole probe path.
        "q28_ann_lsh": f"""
            WITH bits AS (
              SELECT e.vec_id, p.bit,
                     CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.plane) > 0
                          THEN 1 ELSE 0 END AS b
              FROM embeddings e, read_parquet('{planes}') p
            ), bands AS (
              SELECT vec_id, bit // 4 AS band,
                     CAST(sum(b * (1 << (bit % 4))) AS BIGINT) AS bval
              FROM bits GROUP BY 1, 2
            ), qbits AS (
              SELECT p.bit,
                     CASE WHEN list_dot_product(CAST({qvec} AS DOUBLE[]), p.plane) > 0
                          THEN 1 ELSE 0 END AS b
              FROM read_parquet('{planes}') p
            ), qbands AS (
              SELECT bit // 4 AS band,
                     CAST(sum(b * (1 << (bit % 4))) AS BIGINT) AS bval
              FROM qbits GROUP BY 1
            ), cand AS (
              SELECT DISTINCT bands.vec_id FROM bands JOIN qbands USING (band, bval)
            )
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], {qvec}), 6)
                       AS cosine
            FROM embeddings e JOIN cand USING (vec_id)
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], {qvec}) DESC,
                     e.vec_id
            LIMIT 20
        """,
        # Embedding near-dup: quadratic all-pairs exact-cosine ground
        # truth. The Spark side must reproduce it exactly — its wide SRP
        # banding (16×2-bit bands) has verified recall 1.0 at this
        # threshold/scale, and its verify step is exact double cosine.
        "q42_embedding_neardup": f"""
            SELECT l.vec_id AS a, r.vec_id AS b,
                   round(list_cosine_similarity(l.embedding::DOUBLE[],
                                                r.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
            WHERE list_cosine_similarity(l.embedding::DOUBLE[],
                                         r.embedding::DOUBLE[]) >= 0.45
        """,
        # IVF in its exactness regime: probing ALL cells must recover
        # brute-force top-k whatever the codebook — any bug in codebook
        # training, cell assignment, or probe selection that loses a row
        # breaks equality with this oracle.
        "q48_ann_ivf_full": f"""
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], {qvec}), 6)
                       AS cosine
            FROM embeddings
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], {qvec}) DESC,
                     vec_id
            LIMIT 20
        """,
        # independent shingle join reimplementation of the train/test
        # contamination sweep (8-gram verbatim excerpts): the corpus
        # side explodes NON-distinct — n_hits counts raw occurrences
        # (repetition is leak evidence), n_distinct_hits the distinct
        # overlapping shingles
        "q52_contamination": """
            WITH words AS (
              SELECT doc_id AS k, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 x -> x <> '') AS w
              FROM documents
            ), sh AS (
              SELECT k, unnest(list_filter(
                  list_transform(generate_series(0, greatest(len(w) - 8, 0)),
                                 i -> array_to_string(w[i+1:i+8], ' ')),
                  x -> x <> '')) AS sh
              FROM words
            ), bench AS (
              SELECT DISTINCT sh FROM sh WHERE k < 50
            ), corp AS (
              SELECT * FROM sh WHERE k >= 50
            )
            SELECT corp.k AS doc_id,
                   count(*) AS n_hits,
                   count(DISTINCT corp.sh) AS n_distinct_hits
            FROM corp JOIN bench USING (sh)
            GROUP BY 1
        """,
        # Analytic TEDS spec (see q49_teds_spec docstring): even sid ⇒ k
        # unit-cost cell renames, struct untouched; odd sid ⇒ d trailing
        # row deletions costing 1+C nodes each; node count = R + R·C.
        # The d/k arithmetic mirrors the generator exactly (the least()
        # guards are provably non-binding but kept in lockstep).
        "q49_teds_spec": """
            WITH t AS (
              SELECT sid,
                     2 + sid % 4 AS r,
                     2 + sid % 3 AS c,
                     CASE WHEN sid % 2 = 0
                          THEN least(1 + sid % 3, (2 + sid % 4) * (2 + sid % 3))
                          ELSE 0 END AS k,
                     CASE WHEN sid % 2 = 1
                          THEN least(1 + (sid // 2) % 2, (2 + sid % 4) - 1)
                          ELSE 0 END AS d
              FROM generate_series(0, 39) g(sid)
            )
            SELECT sid,
                   round(1 - CAST(k + d * (1 + c) AS DOUBLE) / (r + r * c), 6)
                       AS teds,
                   round(1 - CAST(d * (1 + c) AS DOUBLE) / (r + r * c), 6)
                       AS teds_struct
            FROM t
        """,
        # Hand-derived from the reference cost model (teds.py:91-109,
        # 185-206), never captured from the kernel:
        #  same       → TED 0, score 1.
        #  cell_edit  → 3 nodes (tr+2td); one cell 'b'→'x' is a unit
        #               rename (nlev of disjoint 1-char texts = 1):
        #               teds 1−1/3, struct 1 (content ignored).
        #  extra_row  → gt has 2tr+4td = 6 nodes; pred misses tr+2td
        #               (cost 3): both scores 1−3/6.
        #  span_change→ gt 1tr+3td = 4 nodes; pred's td[colspan=2] vs
        #               td[colspan=1] is a unit rename (colspan mismatch
        #               short-circuits content) + one inserted td:
        #               both scores 1−2/4.
        "q38_teds_pairs": """
            SELECT * FROM (VALUES
              ('same',        CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
              ('cell_edit',   CAST(0.666667 AS DOUBLE), CAST(1.0 AS DOUBLE)),
              ('extra_row',   CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE)),
              ('span_change', CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE))
            ) t(pair_id, teds, teds_struct)
        """,
        # Pruned-probe IVF against the COMMITTED codebook fixture:
        # DuckDB independently replays cell assignment (argmax cosine
        # over the fixture centroids, ties to the lowest cell — numpy
        # argmax takes the first max) and probe selection (top-8 cells
        # by query cosine; centroids are unit-norm so dot == cosine,
        # and ordering is scale-invariant so neither qvec nor the row
        # embedding needs normalizing), then brute-forces top-20 over
        # the probed cells only. Any bug in assignment, probe choice,
        # or their composition with the rerank breaks equality.
        "q41_ann_ivf": f"""
            WITH cents AS (
              SELECT cell, centroid FROM read_parquet('{ivf}')
            ), probe AS (
              SELECT cell FROM cents
              ORDER BY list_dot_product(centroid, CAST({qvec} AS DOUBLE[])) DESC,
                       cell
              LIMIT 8
            ), assign AS (
              SELECT vec_id, embedding, cell,
                     row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_dot_product(embedding::DOUBLE[], centroid)
                                    DESC,
                                cell
                     ) AS rn
              FROM embeddings CROSS JOIN cents
            )
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], {qvec}), 6)
                       AS cosine
            FROM assign
            WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
            ORDER BY list_cosine_similarity(embedding::DOUBLE[], {qvec}) DESC,
                     vec_id
            LIMIT 20
        """,
    }
    # PRUNED IVF-ADC against the COMMITTED codebook fixture (q41's
    # discipline extended through the ADC stage): DuckDB independently
    # replays — from the fixture constants only, never running the
    # kernel — (1) cell assignment: argmax cosine over the unit-norm
    # centroids, ties to the lowest cell (x·cn ordering == normalized
    # ordering since ||x|| > 0); (2) probe choice: top-8 cells by query
    # dot, ties to the lowest cell; (3) residual PQ encoding: per-
    # subspace L2 argmin over the 4-dim residual slices vs the book
    # entries, ties to the lowest j (numpy argmin takes the first min);
    # (4) the ADC score q·centroid[cell] + Σ_s q_sub·code (the inner
    # product splits over the residual decomposition — no per-cell LUT);
    # (5) the rerank window: top-100 by (adc DESC, vec_id); (6) exact
    # cosine top-20 over the window. The probed cells hold ~250 rows at
    # this scale, so stage (5) genuinely prunes on the ADC ordering — a
    # bug in ANY stage or in their composition breaks equality.
    sqls["q54_ann_ivfadc_pruned"] = f"""
        WITH cents AS (
          SELECT cell, centroid, centroid_n FROM read_parquet('{adc_cents}')
        ), books AS (
          SELECT s, j, code FROM read_parquet('{adc_books}')
        ), probe AS (
          SELECT cell FROM cents
          ORDER BY list_dot_product(centroid_n, CAST({qvec} AS DOUBLE[])) DESC,
                   cell
          LIMIT 8
        ), assign AS (
          SELECT vec_id, embedding, cell, centroid,
                 row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_dot_product(embedding::DOUBLE[], centroid_n)
                                DESC,
                            cell
                 ) AS rn
          FROM embeddings CROSS JOIN cents
        ), probed AS (
          SELECT vec_id, cell,
                 list_transform(generate_series(1, 64),
                                i -> embedding[i]::DOUBLE - centroid[i]) AS res
          FROM assign
          WHERE rn = 1 AND cell IN (SELECT cell FROM probe)
        ), enc AS (
          SELECT vec_id, cell, s, code,
                 row_number() OVER (
                   PARTITION BY vec_id, s
                   ORDER BY list_sum(list_transform(generate_series(1, 4),
                              i -> (res[s*4 + i] - code[i])
                                   * (res[s*4 + i] - code[i]))) ASC,
                            j
                 ) AS rn
          FROM probed CROSS JOIN books
        ), adc AS (
          SELECT vec_id, any_value(cell) AS cell,
                 sum(list_sum(list_transform(generate_series(1, 4),
                       i -> code[i] * (CAST({qvec} AS DOUBLE[]))[s*4 + i])))
                     AS lut_sum
          FROM enc WHERE rn = 1
          GROUP BY vec_id
        ), cand AS (
          SELECT a.vec_id
          FROM adc a JOIN cents c USING (cell)
          ORDER BY list_dot_product(c.centroid, CAST({qvec} AS DOUBLE[]))
                       + a.lut_sum DESC,
                   a.vec_id
          LIMIT 100
        )
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], {qvec}), 6)
                   AS cosine
        FROM embeddings e JOIN cand USING (vec_id)
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], {qvec}) DESC,
                 e.vec_id
        LIMIT 20
    """
    # the persisted-index probe returns exactly what the online q28
    # probe returns (same planes/bands/seed), so it shares its oracle
    sqls["q50_ann_index_probe"] = sqls["q28_ann_lsh"]
    # PQ + refine provably recovers brute-force top-20 at these params
    # (see q51 docstring), so it shares the exact-top-k oracle
    sqls["q51_ann_pq"] = sqls["q48_ann_ivf_full"]
    # IVF-ADC in its exactness regime (all cells probed, rerank=100
    # recovers brute-force top-20 at both oracle scales — see q53
    # docstring) shares the same exact-top-k oracle
    sqls["q53_ann_ivfadc"] = sqls["q48_ann_ivf_full"]
    return sqls
