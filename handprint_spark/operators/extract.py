"""The flagship extraction pipeline.

Re-expresses the reference's scan → normalize → extract → unify
dataflow (reference manager.py:132-196 outer loop + per-document
_normalized/_send) as one *narrow* Spark plan:

    scan documents_spans
    → mapInArrow(normalize ∘ decode over media spans) → sink

Design notes for 100 TB (SURVEY.md §4):
  * Zero shuffles in the hot path. The span array stays nested — one
    row per document end-to-end — so there is no explode/groupBy
    round-trip; the per-doc work is embarrassingly parallel exactly
    like the reference's per-document loop, but across executors.
  * The one Python crossing is Arrow-native (mapInArrow, no pandas
    conversion); batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch because rows carry
    media BLOBs. Inside a batch the span pass is columnar; Python runs
    only per media object, for the HPM1 verify and decode.
  * Errors are span values (kind='error'), never exceptions — the
    reference's row-vs-job error policy (amazon.py:66-79).
  * Determinism: every stage is a pure function of the input row, so
    output is identical at any parallelism — the property the
    span-sequence-equality gate and checkpoint resume rely on.

Output contract (north_rule span-sequence equality):
    results(doc_id: string,
            spans: array<struct<kind,text,media_ref,offset>>,
            n_media: int, n_errors: int)
  * kind='text' spans pass through untouched;
  * media spans become kind='ocr' with the decoded text and the
    original media_ref/offset;
  * failed media become kind='error' with the error message as text.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPAN_TYPE
from ..kernels.decoder import page_text
from ..kernels.preprocess import decode_media_text

MEDIA_KINDS = ("page_image", "line_image", "word_image")

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("n_media", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
    ]
)


def _media_outcome(ref: Optional[str], content: Optional[bytes]) -> tuple[str, str]:
    """The one per-media decision, shared by ``extract_one`` and the
    columnar kernel: ``(kind, text)`` of the span that replaces a media
    span whose object is ``content`` (None when the document has no
    object for ``ref`` or its content is null)."""
    if content is None:
        return "error", f"missing media: {ref}"
    # every normalize stage is text-invariant, so the span equals the
    # normalize-then-decode chain's (test_extract_pipeline)
    text, err = decode_media_text(content)
    if err is not None:
        return "error", err
    return "ocr", page_text(text)


def extract_one(
    doc_id: str,
    spans: list,
    media: list,
    max_size: Optional[int],
    max_width: Optional[int],
    max_height: Optional[int],
) -> tuple[str, list, int, int]:
    """Pure per-document kernel: the sequential reference path that the
    span-sequence-equality tests compare ``extract_documents`` against.

    ``max_size``, ``max_width`` and ``max_height`` are unused: the
    normalize stages are text-invariant by construction — the
    reference RESIZES oversized media rather than rejecting it
    (images.py:149-157), so no limit value can change the decoded text
    or the error surface (proved by
    test_fused_decode_equals_normalize_then_decode)."""
    media_map = {m["media_ref"]: m["content"] for m in (media if media is not None else [])}
    out, n_media, n_errors = [], 0, 0
    for span in sorted(spans if spans is not None else [], key=lambda s: s["offset"]):
        kind, text, ref, offset = span["kind"], span["text"], span["media_ref"], span["offset"]
        if kind in MEDIA_KINDS:
            n_media += 1
            kind, text = _media_outcome(ref, media_map.get(ref))
            n_errors += kind == "error"
        out.append({"kind": kind, "text": text, "media_ref": ref, "offset": offset})
    return (doc_id, out, n_media, n_errors)


def _extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Columnar ``extract_one`` over one Arrow batch of documents.

    Spans and media are flattened once with their row indices; spans
    are stable-sorted by (row, offset); each media span is resolved to
    its document's object by a (row, media_ref) key, the last duplicate
    winning as in ``extract_one``'s dict. Python runs once per distinct
    media object a span resolves to (and once per media span with no
    object), never per span or per row; only the media spans' kind and
    text are rewritten."""
    n = batch.num_rows
    spans, media = batch.column("spans"), batch.column("media")
    lengths = pc.fill_null(pc.list_value_length(spans), 0).to_numpy()
    flat = spans.flatten()
    rows = np.repeat(np.arange(n), lengths)
    order = pc.sort_indices(
        pa.table({"row": rows, "offset": pc.struct_field(flat, "offset")}),
        [("row", "ascending"), ("offset", "ascending")],
    )
    flat, rows = flat.take(order), rows[order.to_numpy()]
    kind, text, ref, offset = (pc.struct_field(flat, f) for f in SPAN_TYPE.elementType.names)

    is_media = pc.fill_null(pc.is_in(kind, pa.array(MEDIA_KINDS)), False)
    at = np.flatnonzero(is_media.to_numpy(zero_copy_only=False))
    media_rows = rows[at]
    n_media = np.bincount(media_rows, minlength=n)
    n_errors = np.zeros(n, dtype=np.int64)
    if len(at):
        span_ref = ref.take(at)
        mflat = media.flatten()
        obj_ref, content = pc.struct_field(mflat, "media_ref"), pc.struct_field(mflat, "content")
        # one integer key per (row, media_ref) on both sides; a null ref
        # is a key of its own, as None is in extract_one's dict
        codes = pc.dictionary_encode(pa.concat_arrays([span_ref, obj_ref]), null_encoding="encode")
        obj_rows = np.repeat(np.arange(n), pc.fill_null(pc.list_value_length(media), 0).to_numpy())
        keys = np.concatenate([media_rows, obj_rows]) * len(codes.dictionary)
        keys += codes.indices.to_numpy()
        span_key, obj_key = keys[: len(at)], keys[len(at) :]
        # the last object of each key wins: its first hit in the
        # reversed keys; a span with no object is a case of its own
        uniq, rev_at = np.unique(obj_key[::-1], return_index=True)
        pos = np.searchsorted(uniq, span_key)
        found = pos < len(uniq)
        found[found] = uniq[pos[found]] == span_key[found]
        case = -1 - np.arange(len(at))
        case[found] = (len(obj_key) - 1 - rev_at)[pos[found]]
        cases, case_span, inv = np.unique(case, return_index=True, return_inverse=True)
        outcomes = [
            _media_outcome(r, c)
            for r, c in zip(
                span_ref.take(case_span).to_pylist(),
                content.take(pa.array(cases, mask=cases < 0)).to_pylist(),
            )
        ]
        new_kind = np.array([k for k, _ in outcomes], dtype=object)[inv]
        new_text = np.array([t for _, t in outcomes], dtype=object)[inv]
        kind = pc.replace_with_mask(kind, is_media, pa.array(new_kind, type=kind.type))
        text = pc.replace_with_mask(text, is_media, pa.array(new_text, type=text.type))
        n_errors = np.bincount(media_rows[new_kind == "error"], minlength=n)

    out = pa.StructArray.from_arrays([kind, text, ref, offset], names=SPAN_TYPE.elementType.names)
    offsets = pa.array(np.concatenate([[0], np.cumsum(lengths)]), pa.int32())
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            pa.ListArray.from_arrays(offsets, out),
            pa.array(n_media, pa.int32()),
            pa.array(n_errors, pa.int32()),
        ],
        names=RESULT_SCHEMA.names,
    )


def extract_documents(df: DataFrame) -> DataFrame:
    """documents_spans(doc_id, spans, media) -> results. The kernel
    reads doc_id/spans/media by name and ignores other columns. The
    narrow plan inherits the input's partitioning; repartition first
    (``plans.partitioning.repartition_by_doc``) when the source's
    file-split parallelism is poor or skewed."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return map(_extract_batch, batches)

    return df.mapInArrow(run, RESULT_SCHEMA)


def observed(results: DataFrame, observation=None) -> DataFrame:
    """A5: job-level counters via ``df.observe`` — the Spark-native
    form of the reference's count/pluralize reporting
    (main_body.py:115-125). The metrics ride the action that consumes
    ``results`` (no extra pass/shuffle). Pass a ``pyspark.sql.
    Observation`` to read them on the driver after the action; with no
    argument a named observation is attached for QueryExecutionListener
    consumers — at cluster scale this is how per-run lineage metrics
    reach the driver for free."""
    return results.observe(
        observation if observation is not None else "extract_metrics",
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_media").alias("media"),
        F.sum("n_errors").alias("errors"),
        F.max("n_media").alias("max_media_per_doc"),
    )


def extracted_text(results: DataFrame, kinds: tuple[str, ...] = ("text", "ocr")) -> DataFrame:
    """Reading-order document text from a results table: the selected
    span kinds joined with newlines in offset order — pure JVM (array
    functions), no Python. For ground-truth comparison pass
    ``kinds=("ocr",)`` (the recognized text alone — the analog of
    TRResult.text)."""
    kinds_sql = ", ".join(f"'{k}'" for k in kinds)
    ordered = F.array_sort(
        F.expr(f"filter(spans, s -> s.kind in ({kinds_sql}))"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return results.select(
        "doc_id",
        F.array_join(F.transform(ordered, lambda s: s["text"]), "\n").alias("text"),
        "n_media",
        "n_errors",
    )
