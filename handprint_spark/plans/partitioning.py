"""Partitioning and skew machinery (SURVEY.md §4, north_rule).

The extraction pipeline is narrow (per-row), so classic join-skew
tools don't apply to it; its skew failure mode is different: one
multi-page document (the corpus's SKEW_MOD slice carries 25x the
median span count; real corpora have 1000x outliers) pins one task
while its 10^3 media spans decode serially.

``extract_skew_aware`` fixes that by *splitting heavy rows*: documents
whose media count exceeds a threshold are chunked into one row per
media-slice (a salted explode), extracted in parallel, and reassembled
with a groupBy over only the skewed subset. The normal path stays
shuffle-free; the shuffle touches only the heavy tail.

``repartition_by_doc`` is the generic explicit-partitioning entry
point (hash(doc_id)) the north_rule names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..corpus import SPAN_TYPE
from ..operators.extract import MEDIA_KINDS, extract_documents


def repartition_by_doc(df: DataFrame, partitions: int) -> DataFrame:
    return df.repartition(partitions, F.hash("doc_id"))


def extract_skew_aware(
    spans_with_media: DataFrame,
    media_per_chunk: int = 64,
    skew_threshold: int = 256,
    n_media_col: str | None = None,
) -> DataFrame:
    """Extraction with heavy-document splitting.

    Rows with <= skew_threshold media run the plain narrow path.
    Heavier rows are split into ceil(n/media_per_chunk) chunk rows
    (spans + their media sliced together), extracted chunk-wise in
    parallel, then reassembled per doc_id (array_sort by offset keeps
    span order canonical). Output schema == extract_documents.

    ``n_media_col``: name of a materialized media-count column on the
    input table. The heavy/normal split is two filters over the same
    scan; with the count derived as size(media) the predicate cannot
    push down and the split pays a second full read of the media
    bytes. A materialized count column (corpus.materialize_spans
    writes one, sorted within partitions — the Iceberg
    metrics-column + sort-order analog) turns both filters into
    parquet row-group pruning: the heavy scan skips every
    all-normal row group, which is almost all of them.

    Chunk membership is derived from the spans themselves, for ANY
    span/media interleave (not just the corpus's text+media-per-line
    2:1 layout): span j belongs to chunk floor(m_before(j) / k), where
    m_before(j) counts media-kind spans at offsets strictly before j —
    so each chunk holds <= k media spans plus the non-media spans that
    precede them, and trailing non-media spans clamp into the last
    chunk. A chunk's media objects are selected by media_ref
    membership in its own media spans, never by array position.
    """
    n_media = F.col(n_media_col) if n_media_col else F.size("media")
    normal = spans_with_media.filter(n_media <= skew_threshold)
    heavy = spans_with_media.filter(n_media > skew_threshold)

    n_chunks = F.ceil(n_media / F.lit(media_per_chunk)).cast("int")
    k = media_per_chunk
    kinds_sql = ", ".join(f"'{m}'" for m in MEDIA_KINDS)

    ordered = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    # m_before per span index: one O(n) fold building the prefix-count
    # array (Catalyst has no scan primitive; the concat-accumulate is
    # the standard form and runs only on the rare heavy rows).
    cum = F.expr(
        f"""
        aggregate(spans,
                  struct(cast(array() as array<int>) as cum, cast(0 as int) as c),
                  (acc, s) -> struct(
                    concat(acc.cum, array(acc.c)),
                    acc.c + if(s.kind in ({kinds_sql}), 1, 0)),
                  acc -> acc.cum)
        """
    )
    # spans tagged with their chunk id (clamped so trailing non-media
    # spans land in the last chunk)
    tagged = F.expr(
        f"""
        zip_with(spans, _cum, (s, m) ->
          struct(s as s, least(cast(m / {k} as int), _nc - 1) as chunk))
        """
    )
    chunk_spans = F.expr("transform(filter(_tagged, t -> t.chunk = chunk), t -> t.s)")
    chunk_refs = F.expr(
        f"transform(filter(spans, s -> s.kind in ({kinds_sql})), s -> s.media_ref)"
    )
    chunk_media = F.expr("filter(media, m -> array_contains(_refs, m.media_ref))")
    chunked = (
        heavy.withColumn("spans", ordered)
        .withColumn("_cum", cum)
        .withColumn("_nc", n_chunks)
        .withColumn("_tagged", tagged)
        .withColumn("chunk", F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)))
        .withColumn("spans", chunk_spans.cast(SPAN_TYPE))
        .withColumn("_refs", chunk_refs)
        .withColumn("media", chunk_media)
        .drop("chunk", "_cum", "_nc", "_tagged", "_refs")
    )

    extracted_normal = extract_documents(normal)
    extracted_chunks = extract_documents(chunked)

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
