"""Arrow-batched pandas UDFs over the pure kernels (SURVEY.md §2.11).

Design rules:
* every Python kernel is vectorized **across documents** via Arrow
  batches (`pandas_udf`) — sequential only *within* one document, which
  is inherent to the semantics (e.g. token2json's cursor, W2);
* nothing here does per-row Python through the slow row-at-a-time UDF
  path (`input_hint` mandate);
* anything expressible with built-in `pyspark.sql.functions` lives in
  `donut_spark.functions.arrays` instead and never enters Python.

Signed-64-bit note: fingerprints/simhashes are exposed as Spark BIGINT
(two's complement of the unsigned kernel value) so they group/join as
plain longs.
"""

from __future__ import annotations

import json
from typing import List

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import htmlnorm, metrics, textstats, tree

__all__ = [
    "main_content_udf",
    "repair_table",
    "json2token_udf",
    "token2json_udf",
    "nted_udf",
    "gt_candidates_udf",
    "nted_best_udf",
    "teds_udf",
    "teds_struct_udf",
    "table_stats_udf",
    "detect_lang_udf",
    "quality_udf",
    "token_count_udf",
    "fingerprint_udf",
    "simhash_udf",
    "minhash_udf",
]


_signed64 = textstats.signed64  # single definition (oracle parity)


# ---- flagship extraction ----
#
# The Python↔JVM boundary for span arrays is JSON strings, not
# array<struct>: PySpark's Arrow conversion of nested struct arrays
# materializes per-element Python dicts on both directions and measurably
# ANTI-scales under wide parallelism (profiled at 80k docs: 7.1s@8cpu →
# 10.5s@32cpu), while plain string columns scale near-linearly. JVM-side
# to_json/from_json are whole-stage-codegen'd and parallel; Python-side
# json is a C extension. Same semantics, scalable transport.


def _extract_one(doc: list) -> List[dict]:
    """Extraction body for one document's span list (reading-order sort
    W1 → boilerplate strip T8 → media passthrough → dense renumber)."""
    # to_json drops null-valued fields (ignoreNullFields default), so a
    # NULL text/media_ref/offset arrives as a MISSING key — .get, not [].
    ordered = sorted(doc, key=lambda s: s.get("offset") or 0)
    pieces: List[dict] = []
    for span in ordered:
        if span.get("kind") == "media":
            pieces.append(
                {"kind": "media", "text": "", "media_ref": span.get("media_ref") or ""}
            )
        else:
            for kind, text, ref in htmlnorm.html_to_spans(span.get("text") or ""):
                pieces.append({"kind": kind, "text": text, "media_ref": ref})
    for i, p in enumerate(pieces):
        p["offset"] = i
    return pieces


EVAL_SCHEMA = StructType(
    [
        StructField("extracted_json", StringType()),
        StructField("token_seq", StringType()),
        StructField("pred_parse", StringType()),
        StructField("roundtrip_ok", IntegerType()),
        StructField("nted", DoubleType()),
        StructField("_error", StringType()),
    ]
)

_EVAL_COLS = [
    "extracted_json", "token_seq", "pred_parse", "roundtrip_ok", "nted", "_error",
]


def _eval_tree_one(gt):
    """(token_seq, pred_parse, roundtrip_ok, nted) for ONE gt_parse
    string, with each tree primitive computed exactly once.

    The convenience chain (json2token_str → token2json_str →
    roundtrip_ok → nted over parsed strings) re-parses ``gt`` three
    times and re-runs the linearize/delinearize pair twice per
    document — measured ~30% of the fused flagship kernel. Semantics
    are pinned to the chain exactly:

    * invalid/None ``gt`` → ``seq`` falls back to the raw string
      (text_sequence semantics), roundtrip is False, nTED scores
      against ``{}`` — byte-identical to json2token_str/roundtrip_ok/
      _parse_or_empty;
    * nTED's pred side uses the delinearized tree object directly
      instead of re-parsing its own dumps — key order is irrelevant
      because ``normalize_tree`` sorts dict items.
    * ``normalize_tree`` runs ONCE per side and is shared between the
      canonical round-trip compare and nTED (round-6: the chain walked
      each tree up to six times — canonicalize is normalize∘normalize
      and nted_accuracy normalized again). Equal one-pass forms imply
      equal fixed points (normalize_tree is a pure function of value),
      so the second pass runs only when the one-pass forms differ —
      same verdict as ``canonicalize(a) == canonicalize(b)`` by
      construction, and byte-parity with the chain stays pinned by
      test_eval_tree_one_matches_chained_primitives.
    """
    try:
        gt_tree = json.loads(gt)
        parsed = True
    except (TypeError, ValueError):
        gt_tree = None
        parsed = False
    seq = tree.json2token(gt_tree) if parsed else (gt if gt is not None else "")
    back = tree.token2json(seq)
    pred = json.dumps(back, ensure_ascii=False, sort_keys=True)
    norm_back = tree.normalize_tree(back)
    if parsed:
        norm_gt = tree.normalize_tree(gt_tree)
        ok = norm_back == norm_gt or (
            tree.normalize_tree(norm_back) == tree.normalize_tree(norm_gt)
        )
    else:
        norm_gt = {}
        ok = False
    nted = metrics.nted_accuracy_normalized(norm_back, norm_gt)
    return seq, pred, ok, nted


@F.pandas_udf(EVAL_SCHEMA)
def _extract_eval_fused(spans_json: pd.Series, gt_parse: pd.Series) -> pd.DataFrame:
    """The one spans extraction UDF: extraction, json2token/token2json
    round-trip and nTED in one pass per document, in ONE Python node.

    Each ArrowEvalPython node re-buffers its child rows (the span
    arrays included) and adds an Arrow hop per batch, so the operators
    in ``operators/extract.py`` never chain a second one. A side they do
    not need is passed as a NULL column: a NULL ``spans_json`` extracts
    to ``[]``, and a NULL ``gt_parse`` evaluates to the fixed
    invalid-``gt`` values of :func:`_eval_tree_one`.

    Error capture is INSIDE the per-document loop (reference parity:
    `test.py:147-152,187-189` pickles failing samples and continues):
    one poison document, in its spans or in its ``gt_parse``, never
    fails the task — it gets ``extracted_json = "[]"`` and the
    ``"<Class>: <message>"`` text in ``_error``, and
    `plans.lineage.quarantine_split` routes it to the quarantine sink.
    """
    loads, dumps = json.loads, json.dumps
    rows = []
    for sj, gt in zip(spans_json, gt_parse):
        try:
            pieces = _extract_one(loads(sj) if sj else [])
            seq, pred, ok, nted = _eval_tree_one(gt)
            rows.append(
                (dumps(pieces, ensure_ascii=False), seq, pred, int(ok), nted, None)
            )
        except Exception as exc:  # noqa: BLE001 — quarantine, never fail the job
            rows.append(("[]", "", "", 0, 0.0, f"{type(exc).__name__}: {exc}"))
    return pd.DataFrame(rows, columns=_EVAL_COLS)


# Marked nondeterministic as a barrier: Catalyst would otherwise push a
# filter on the result's ``_error`` field below the projection and
# evaluate the kernel a second time there (each half of
# ``quarantine_split`` would plan two ArrowEvalPython nodes). The side
# effect: Catalyst no longer collapses a projection over the result into
# the one that calls the UDF, so any second Python UDF over an
# extraction frame plans a second ArrowEvalPython node. That is why the
# operators route every spans evaluation through this one UDF.
_extract_eval_fused = _extract_eval_fused.asNondeterministic()


@F.pandas_udf(StringType())
def main_content_udf(html: pd.Series) -> pd.Series:
    """Full crawled page → main-content text: readability-style block
    pruning (kill tags, boilerplate names, link-density) before the
    reference normalization passes."""
    return html.map(lambda h: htmlnorm.extract_main_content(h or ""))


@F.pandas_udf(StringType())
def repair_table(compact: pd.Series) -> pd.Series:
    """Compact grammar → valid table HTML (teds.py:115-133)."""
    return compact.map(lambda s: htmlnorm.repair_table_html(s or ""))


# ---- tree linearization ----


@F.pandas_udf(StringType())
def json2token_udf(tree_json: pd.Series) -> pd.Series:
    return tree_json.map(tree.json2token_str)


@F.pandas_udf(StringType())
def token2json_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(tree.token2json_str)


# ---- metrics ----


def _parse_or_empty(s):
    try:
        return json.loads(s) if s else {}
    except ValueError:
        return {}


@F.pandas_udf(DoubleType())
def nted_udf(pred_json: pd.Series, gold_json: pd.Series) -> pd.Series:
    return pd.Series(
        [
            metrics.nted_accuracy(_parse_or_empty(p), _parse_or_empty(g))
            for p, g in zip(pred_json, gold_json)
        ]
    )


@F.pandas_udf(ArrayType(StringType()))
def gt_candidates_udf(ground_truth: pd.Series) -> pd.Series:
    """Ground-truth envelope → candidate parse list (JSON strings).

    Reference parity (`donut/util.py:75-82`): ``gt_parses`` (a list,
    e.g. DocVQA's multiple acceptable answers) yields all candidates;
    otherwise the single ``gt_parse`` dict becomes a 1-element list.
    Malformed envelopes yield an empty list (quarantine upstream).
    """
    loads, dumps = json.loads, json.dumps

    def parse(gt: str) -> list:
        try:
            env = loads(gt) if gt else {}
        except ValueError:
            return []
        if "gt_parses" in env:
            cands = env["gt_parses"]
            if not isinstance(cands, list):
                return []
        elif "gt_parse" in env and isinstance(env["gt_parse"], dict):
            cands = [env["gt_parse"]]
        else:
            return []
        return [dumps(c, ensure_ascii=False, sort_keys=True) for c in cands]

    return ground_truth.map(parse)


@F.pandas_udf(DoubleType())
def nted_best_udf(pred_json: pd.Series, candidates: pd.Series) -> pd.Series:
    """Best-of-candidates nTED accuracy: max over the gt_parses list
    (multi-ground-truth scoring, the downstream consumer of
    `donut/util.py:75-82`'s envelope branch). Empty candidate list → 0."""
    out = []
    for p, cands in zip(pred_json, candidates):
        pred = _parse_or_empty(p)
        best = 0.0
        for c in cands if cands is not None else []:
            best = max(best, metrics.nted_accuracy(pred, _parse_or_empty(c)))
            if best >= 1.0:
                break
        out.append(best)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def teds_udf(pred_html: pd.Series, true_html: pd.Series) -> pd.Series:
    return pd.Series(
        [metrics.teds(p or "", t or "") for p, t in zip(pred_html, true_html)]
    )


@F.pandas_udf(DoubleType())
def teds_struct_udf(pred_html: pd.Series, true_html: pd.Series) -> pd.Series:
    return pd.Series(
        [metrics.teds_struct(p or "", t or "") for p, t in zip(pred_html, true_html)]
    )


TABLE_STATS_SCHEMA = StructType(
    [
        StructField("nums_row", IntegerType()),
        StructField("nums_col", IntegerType()),
        StructField("max_row_span", IntegerType()),
        StructField("max_col_span", IntegerType()),
        StructField("has_span", BooleanType()),
        StructField("has_row_span", BooleanType()),
        StructField("has_col_span", BooleanType()),
    ]
)


@F.pandas_udf(TABLE_STATS_SCHEMA)
def table_stats_udf(html: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([htmlnorm.table_stats(h or "") for h in html])


# ---- text analysis ----


@F.pandas_udf(StringType())
def detect_lang_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textstats.detect_lang(t or ""))


@F.pandas_udf(DoubleType())
def quality_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textstats.quality_score(t or ""))


@F.pandas_udf(IntegerType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: textstats.count_tokens(t or "", "bpe")).astype("int32")


@F.pandas_udf(LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: _signed64(textstats.fingerprint64(t or "")))


@F.pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: _signed64(textstats.simhash64(t or "")))


def minhash_udf(num_perm: int = 64, shingle_k: int = 3, seed: int = 1):
    """MinHash signature UDF factory (values < 2^61, safe as BIGINT).

    Deliberately per-document: a round-6 experiment batched the
    permutation arithmetic across the whole Arrow batch (concatenated
    shingle hashes + ``np.minimum.reduceat``) and measured 2.5x SLOWER
    — the (n_shingles_in_batch × num_perm) uint64 temporaries of the
    limb arithmetic are ~100 MB per batch and memory-bandwidth bound,
    while the per-doc (≈50 × 64) working set stays in L1/L2. Parity
    with the kernel is pinned by
    tests/test_textstats.py::test_minhash_udf_batched_matches_kernel."""

    @F.pandas_udf(ArrayType(LongType()))
    def _minhash(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: [
                int(v)
                for v in textstats.minhash_signature(
                    textstats.word_shingles(t or "", shingle_k), num_perm, seed
                )
            ]
        )

    return _minhash
