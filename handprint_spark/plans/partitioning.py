"""Partitioning and skew machinery (SURVEY.md §4, north_rule).

The extraction pipeline is narrow (per-row), so classic join-skew
tools don't apply to it; its skew failure mode is different: one
multi-page document (the corpus's SKEW_MOD slice carries 25x the
median span count; real corpora have 1000x outliers) pins one task
while its 10^3 media spans decode serially.

``extract_skew_aware`` fixes that by *splitting heavy rows*: documents
whose media count exceeds a threshold are split into one row per
media-slice in one linear pass, the chunk rows are shuffled on
(doc_id, chunk) so they spread across cores, extracted in parallel,
and reassembled with a groupBy over only the skewed subset. The
normal path stays shuffle-free; the shuffles touch only the heavy tail.

``repartition_by_doc`` is the generic explicit-partitioning entry
point (hash(doc_id)) the north_rule names.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPAN_TYPE
from ..operators.extract import MEDIA_KINDS, extract_documents


def repartition_by_doc(df: DataFrame, partitions: int) -> DataFrame:
    return df.repartition(partitions, F.hash("doc_id"))


def split_document(spans, media, n_chunks: int, k: int) -> list[tuple[list, list]]:
    """One heavy document's ``n_chunks`` (spans, media) chunks, in one
    linear pass, for ANY span/media interleave.

    The spans are stable-sorted by offset. Span j goes to chunk
    min(m_before(j) // k, n_chunks - 1), where m_before(j) counts the
    media-kind spans sorted before it, so a chunk holds k media spans
    plus the non-media spans that precede them, and trailing spans
    clamp into the last chunk. Spans with equal offsets take the chunk
    of the first of them: a tie never straddles chunks (a chunk may
    then hold more than k media spans), so the reassembly's offset
    sort cannot depend on the order in which the chunks arrive. A
    media object goes, in array order, to every chunk holding a media
    span with its media_ref."""
    chunk_spans = [[] for _ in range(n_chunks)]
    chunks_of_ref: dict = {}
    m_before, chunk, last_offset = 0, 0, None
    for s in sorted(spans if spans is not None else [], key=lambda s: s["offset"]):
        if s["offset"] != last_offset:
            chunk, last_offset = min(m_before // k, n_chunks - 1), s["offset"]
        chunk_spans[chunk].append(s)
        if s["kind"] in MEDIA_KINDS:
            m_before += 1
            refs = chunks_of_ref.setdefault(s["media_ref"], [])
            if not refs or refs[-1] != chunk:
                refs.append(chunk)
    chunk_media = [[] for _ in range(n_chunks)]
    for m in media if media is not None else []:
        for c in chunks_of_ref.get(m["media_ref"], ()):
            chunk_media[c].append(m)
    return list(zip(chunk_spans, chunk_media))


def extract_skew_aware(
    spans_with_media: DataFrame,
    media_per_chunk: int = 64,
    skew_threshold: int = 256,
    n_media_col: str | None = None,
) -> DataFrame:
    """Extraction with heavy-document splitting.

    Rows with <= skew_threshold media run the plain narrow path.
    Heavier rows are split into ceil(n/media_per_chunk) chunk rows
    (``split_document``), shuffled on (doc_id, chunk), extracted
    chunk-wise in parallel, then reassembled per doc_id (array_sort by
    offset keeps span order canonical). Output schema ==
    extract_documents.

    ``n_media_col``: name of a materialized media-count column on the
    input table. The heavy/normal split is two filters over the same
    scan; with the count derived as size(media) the predicate cannot
    push down and the split pays a second full read of the media
    bytes. A materialized count column (corpus.materialize_spans
    writes one, sorted within partitions — the Iceberg
    metrics-column + sort-order analog) turns both filters into
    parquet row-group pruning: the heavy scan skips every
    all-normal row group, which is almost all of them.
    """
    n_media = F.col(n_media_col) if n_media_col else F.size("media")
    normal = spans_with_media.filter(n_media <= skew_threshold)
    heavy = spans_with_media.filter(n_media > skew_threshold).select(
        "doc_id", "spans", "media",
        F.ceil(n_media / F.lit(media_per_chunk)).cast("int").alias("n_chunks"),
    )

    def split(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [
                (d, *chunk, c)
                for d, s, m, nc in zip(pdf["doc_id"], pdf["spans"], pdf["media"], pdf["n_chunks"])
                for c, chunk in enumerate(split_document(s, m, int(nc), media_per_chunk))
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "media", "chunk"])

    chunk_schema = T.StructType(
        heavy.schema.fields[:3] + [T.StructField("chunk", T.IntegerType())]
    )
    chunks = heavy.mapInPandas(split, chunk_schema).repartition("doc_id", "chunk")

    extracted_normal = extract_documents(normal)
    extracted_chunks = extract_documents(chunks)

    reassembled = (
        extracted_chunks.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.flatten(F.collect_list("spans")),
                lambda a, b: F.when(a["offset"] < b["offset"], -1)
                .when(a["offset"] > b["offset"], 1)
                .otherwise(0),
            ).cast(SPAN_TYPE).alias("spans"),
            F.sum("n_media").cast("int").alias("n_media"),
            F.sum("n_errors").cast("int").alias("n_errors"),
        )
    )
    return extracted_normal.unionByName(reassembled)
