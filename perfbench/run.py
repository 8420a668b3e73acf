"""Extraction-engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run generates its workload's input
from the seed, starts a local Spark session sized to the machine,
measures a closed loop of units (one full extraction pass, or one
stream round of micro-batches) for ``--seconds``, checks every output
document against the independently derived expected spans, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": <docs>, "failed": <docs>, "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate run that prints the per-layer metrics and writes its spans to
``.perfbench/traces/``. Workloads, metrics and the layer each metric
should move are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import inspect
import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from probes import SparkJobs, Tracer, median, peak_rss_mb, stop_spark  # noqa: E402

# ---- sizes -------------------------------------------------------------
UNIFORM_DOCS = 6_000
HEAVY_TAIL_DOCS = 6_000
HEAVY_DOCS = 6  # 0.1% of HEAVY_TAIL_DOCS
HEAVY_MEDIA = (1_000, 2_000)
STREAM_FILE_DOCS = 200
STREAM_ROUND_FILES = 2
STREAM_HISTORY_DOCS = 40_000
SETUP_REPS = 3
MIN_UNITS = 3
# untimed whole units before timing: at least two, and at least this long
WARMUP_S = 4.0
VARIANT_REPS = 3
KERNEL_SLICE_DOCS = 500
DRIVER_MEM = "2g"

E2E_UNITS = {
    "docs_per_s": "docs/s",
    "trigger_ms_p50": "ms",
    "trigger_ms_tail": "ms",
    "trigger_growth": "ratio",
    "correct_frac": "fraction",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "kernels.decode_media_text_us": "us",
    "kernels.decode_page_us": "us",
    "kernels.extract_one_us_per_doc": "us",
    "kernels.decode_page_share": "fraction",
    "kernels.pixels_decompressed_per_media": "count",
    "extract.scan_s": "s",
    "extract.arrow_s": "s",
    "extract.kernel_s": "s",
    "extract.arrow_batches": "count",
    "plans.heavy_docs": "count",
    "plans.chunk_rows": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_ms_max_over_median": "ratio",
    "corpus.spanify_s": "s",
    "corpus.media_encoded": "count",
    "checkpoints.pending_work_s": "s",
    "checkpoints.history_rows": "count",
    "table_sink.append_s": "s",
    "table_sink.bytes_written_per_doc": "bytes",
    "table_sink.files_written": "count",
    "streaming.addBatch_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.slot_busy_frac": "fraction",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "fraction",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---- statistics over unit times -----------------------------------------

def tail(values: list) -> tuple[float, int]:
    """(value, percentile): the highest nearest-rank percentile with at
    least ten samples above it, never below the median."""
    n = len(values)
    pct = max(50, math.floor(100 * (n - 10) / n)) if n else 50
    rank = max(1, math.ceil(pct * n / 100))
    return sorted(values)[rank - 1], pct


def growth(values: list) -> float:
    """Median of the last quarter over the first quarter, without the
    first (warm-up) sample."""
    rest = values[1:] if len(values) > 1 else values
    q = math.ceil(len(rest) / 4)
    return median(rest[-q:]) / median(rest[:q])


# ---- the run ------------------------------------------------------------

class Run:
    """One benchmark process: a Spark session, a work directory inside
    the checkout, and (when traced) the span recorder."""

    def __init__(self, args, work: Path) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.layer: dict = {}
        self.spark = None

    def start(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup.session"):
            from handprint_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self._warm_workers()
        self.session_s = time.perf_counter() - t0
        self.jobs = SparkJobs(self.spark.sparkContext) if self.traced else None

    def _warm_workers(self) -> None:
        """Start one Python worker per core and load the engine there."""
        from pyspark.sql import functions as F

        def passthrough(batches):
            import handprint_spark.operators.extract  # noqa: F401

            yield from batches

        df = self.spark.range(20_000, numPartitions=self.cpus)
        df.mapInPandas(passthrough, df.schema).agg(F.sum("id")).collect()

    def close(self) -> None:
        if self.traced:
            name = f"{self.workload}-seed{self.seed}.json"
            self.tracer.write(str(WORK / "traces" / name))
        if self.spark is not None:
            stop_spark(self.spark)

    def rss_mb(self) -> float:
        return peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)

    def spark_facts(self, mark: int, wall_s: float, units: int) -> dict:
        """Per-unit stage/task facts of the jobs run since ``mark``."""
        f = self.jobs.since(mark)
        task_ms = f.pop("task_ms")
        out = {k: v / units for k, v in f.items()}
        med = median(task_ms)
        out["task_ms_max_over_median"] = max(task_ms) / med if med > 0 else 0.0
        out["slot_busy_frac"] = sum(task_ms) / 1000.0 / (wall_s * self.cpus)
        return out


def setup_reps(run: Run, build) -> tuple[object, float]:
    """Run ``build(rep)`` SETUP_REPS times; return the last result and
    the median time."""
    times, result = [], None
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        with run.tracer.span("setup.input", rep=rep):
            result = build(rep)
        times.append(time.perf_counter() - t)
    return result, median(times)


def digest_rows(df) -> list:
    """(doc_id, digest) of every output row; the digest is computed in
    the JVM over the same canonical form as gen.digest."""
    from pyspark.sql import functions as F

    def canon(s):
        text = F.when(s["kind"] == "error", F.lit("")).otherwise(s["text"])
        return F.concat_ws(gen.FIELD_SEP, s["kind"], text, s["media_ref"], s["offset"].cast("string"))

    dig = F.sha2(F.concat_ws(gen.SPAN_SEP, F.transform("spans", canon)), 256)
    return [(r[0], r[1]) for r in df.select("doc_id", dig).collect()]


def warm_up(run: Run, unit) -> tuple[int, int]:
    """Untimed whole units, at least two and until WARMUP_S has passed:
    JIT, codegen and the workers' caches settle before timing (a
    stream's first trigger alone takes three times a steady one).
    Returns (docs, failed)."""
    docs = failed = units = 0
    t = time.perf_counter()
    with run.tracer.span("setup.warmup"):
        while units < 2 or time.perf_counter() - t < WARMUP_S:
            d, f, _ = unit()
            docs += d
            failed += f
            units += 1
    return docs, failed


def closed_loop(run: Run, unit, on_traced) -> dict:
    """Run ``unit()`` back to back for --seconds (at least MIN_UNITS
    times). ``unit`` returns (docs, failed, triggers), or None when its
    input is used up. In a traced run every other unit is traced:
    wrapped in a span and followed by the status-store read, whose cost
    counts toward the unit."""
    rec = {"times": [], "docs": 0, "failed": 0, "traced": [], "untraced": [], "triggers": []}
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < run.seconds or i < MIN_UNITS:
        traced = run.traced and i % 2 == 1
        mark = run.jobs.mark() if traced else None
        t = time.perf_counter()
        if traced:
            with run.tracer.span("unit", index=i):
                out = unit()
                if out is not None:
                    on_traced(mark, time.perf_counter() - t, out[2])
        else:
            out = unit()
        if out is None:
            break
        docs, failed, triggers = out
        dt = time.perf_counter() - t
        rec["times"].append(dt)
        (rec["traced"] if traced else rec["untraced"]).append(dt)
        rec["docs"] += docs
        rec["failed"] += failed
        rec["triggers"].append(triggers)
        i += 1
    return rec


# ---- extraction workloads -----------------------------------------------

def _write_docs(docs: gen.Docs, directory: Path) -> str:
    directory.mkdir(parents=True, exist_ok=True)
    docs.to_pandas().to_parquet(directory / "documents.parquet", index=False)
    return str(directory)


def _write_heavy(docs: gen.Docs, spans_dir: str) -> None:
    """Heavy rows as one more file of the materialized table, sorted by
    media count as materialize_spans sorts within its files.
    corpus.spanify re-splits a document's whole text for each of its
    lines (quadratic in its word count: three documents of 2k/5k/20k
    media took 267 s at local[4]), so heavy rows are built with
    corpus.build_doc, its documented pure twin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from handprint_spark import corpus

    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()), ("offset", pa.int32())]))
    media_t = pa.list_(pa.struct([("media_ref", pa.string()), ("content", pa.binary())]))
    rows = sorted((corpus.build_doc(d, t) for d, t in zip(docs.doc_ids, docs.texts)),
                  key=lambda r: len(r[2]))
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.string()),
        "spans": pa.array([r[1] for r in rows], span_t),
        "media": pa.array([r[2] for r in rows], media_t),
        "n_media": pa.array([len(r[2]) for r in rows], pa.int32()),
    })
    pq.write_table(table, f"{spans_dir}/part-heavy.parquet")


def _extract_variants(run: Run, spans_dir: str) -> None:
    """Stage-truncated passes over the same input: scan only, scan plus
    a pass-through mapInPandas, full extract_documents. Each ends in
    the same digest-and-collect, so their differences split the pass
    into scan, Arrow crossing and kernel."""
    from pyspark.sql import functions as F

    from handprint_spark.operators.extract import RESULT_SCHEMA, extract_documents

    spark = run.spark
    batches = spark.sparkContext.accumulator(0)

    def passthrough(it):
        import pandas as pd

        for pdf in it:
            batches.add(1)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "spans": pdf["spans"],
                "n_media": [len(m) for m in pdf["media"]],
                "n_errors": 0,
            })

    def scan():
        # the media byte count rides in doc_id so the media column is read
        df = spark.read.parquet(spans_dir)
        media_bytes = F.aggregate("media", F.lit(0).cast("long"),
                                  lambda acc, m: acc + F.length(m["content"]))
        return digest_rows(df.withColumn("doc_id", F.concat("doc_id", media_bytes.cast("string"))))

    variants = {
        "scan": scan,
        "arrow": lambda: digest_rows(spark.read.parquet(spans_dir).mapInPandas(passthrough, RESULT_SCHEMA)),
        "full": lambda: digest_rows(extract_documents(spark.read.parquet(spans_dir))),
    }
    for rep in range(VARIANT_REPS):
        for name, fn in variants.items():
            with run.tracer.span(f"extract.variant.{name}", rep=rep):
                fn()
    t = {name: median(run.tracer.durations(f"extract.variant.{name}")) for name in variants}
    run.layer["extract.scan_s"] = t["scan"]
    run.layer["extract.arrow_s"] = t["arrow"] - t["scan"]
    run.layer["extract.kernel_s"] = t["full"] - t["arrow"]
    run.layer["extract.arrow_batches"] = batches.value / VARIANT_REPS


class _CountingZlib:
    """Stands in for the codec module's ``zlib`` to count decompressed
    bytes."""

    def __init__(self, real) -> None:
        self._real = real
        self.bytes_out = 0

    def __getattr__(self, name):
        return getattr(self._real, name)

    def decompress(self, data, *args, **kwargs):
        out = self._real.decompress(data, *args, **kwargs)
        self.bytes_out += len(out)
        return out


def _kernel_sample(run: Run, docs: gen.Docs) -> None:
    """In-process kernel timings over the workload's own documents:
    a warm slice fills decoder caches as a worker's earlier batches
    would, then one slice times extract_one per document and the next
    times decode_media_text and decode_page per media object."""
    from handprint_spark import corpus
    from handprint_spark.kernels import codec
    from handprint_spark.kernels.decoder import decode_page
    from handprint_spark.kernels.preprocess import decode_media_text
    from handprint_spark.operators.extract import extract_one

    k = KERNEL_SLICE_DOCS
    built = [corpus.build_doc(d, t) for d, t in zip(docs.doc_ids[: 3 * k], docs.texts[: 3 * k])]
    warm, s1, s2 = built[:k], built[k : 2 * k], built[2 * k :]
    for doc_id, spans, media in warm:
        extract_one(doc_id, spans, media, None, None, None)
    with run.tracer.span("kernels.extract_one", docs=len(s1)):
        t = time.perf_counter()
        for doc_id, spans, media in s1:
            extract_one(doc_id, spans, media, None, None, None)
        per_doc = (time.perf_counter() - t) / len(s1)
    contents = [m["content"] for _, _, media in s2 for m in media]
    t_dmt = t_dp = 0.0
    decoded = 0
    with run.tracer.span("kernels.decode", media=len(contents)):
        for content in contents:
            a = time.perf_counter()
            text, err = decode_media_text(content)
            b = time.perf_counter()
            t_dmt += b - a
            if err is None:
                decode_page(text)
                t_dp += time.perf_counter() - b
                decoded += 1
    counting = _CountingZlib(codec.zlib)
    codec.zlib = counting
    try:
        for content in contents:
            decode_media_text(content)
    finally:
        codec.zlib = counting._real
    run.layer["kernels.extract_one_us_per_doc"] = per_doc * 1e6
    run.layer["kernels.decode_media_text_us"] = t_dmt / len(contents) * 1e6
    run.layer["kernels.decode_page_us"] = t_dp / max(1, decoded) * 1e6
    run.layer["kernels.decode_page_share"] = t_dp / (t_dmt + t_dp)
    run.layer["kernels.pixels_decompressed_per_media"] = counting.bytes_out / len(contents)


def _spark_layer(run: Run, facts: list) -> None:
    for key in ("stages", "tasks", "single_task_stages", "failed_tasks",
                "shuffle_write_bytes", "task_ms_max_over_median", "slot_busy_frac"):
        run.layer[f"spark.{key}"] = median(f[key] for f in facts)


def _trace_overhead(run: Run, rec: dict) -> None:
    run.layer["trace.overhead_frac"] = median(rec["traced"]) / median(rec["untraced"]) - 1.0


def _materialize_spans(run: Run, docs_dir: str, spans_dir: str) -> None:
    from handprint_spark import corpus

    with run.tracer.span("corpus.materialize_spans"):
        corpus.materialize_spans(run.spark, docs_dir, spans_dir, partitions=2 * run.cpus)


def _extract_workload(run: Run, docs_of, materialize, extract, layer_probe=None) -> tuple:
    """Shared shape of the two extraction workloads: materialize the
    spans table, warm up with one pass, then time full passes.
    ``layer_probe(spans_dir)`` adds workload-specific per-layer facts."""
    work = run.work

    def build(rep):
        docs = docs_of()
        docs_dir = _write_docs(docs, work / f"docs-{rep}")
        spans_dir = str(work / f"spans-{rep}")
        materialize(docs, docs_dir, spans_dir)
        return docs, spans_dir

    (docs, spans_dir), input_s = setup_reps(run, build)
    run.layer["corpus.spanify_s"] = median(run.tracer.durations("corpus.materialize_spans"))
    expected = gen.expected_digests(docs)
    n = len(expected)

    def unit():
        rows = digest_rows(extract(run.spark.read.parquet(spans_dir)))
        return n, gen.count_failed(expected, rows), 1

    t = time.perf_counter()
    warm_docs, warm_failed = warm_up(run, unit)
    setup_s = run.session_s + input_s + (time.perf_counter() - t)

    facts: list = []
    rec = closed_loop(run, unit, lambda mark, wall, _: facts.append(run.spark_facts(mark, wall, 1)))
    failed = rec["failed"] + warm_failed
    attempted = rec["docs"] + warm_docs

    if not run.traced:
        times = rec["times"]
        tail_v, pct = tail(times)
        print(f"{run.workload}: {len(times)} passes of {n} docs; trigger_ms_tail is p{pct}; "
              f"pass ms {[round(x * 1e3) for x in times]}")
        return {
            "docs_per_s": n / median(times),
            "trigger_ms_p50": median(times) * 1e3,
            "trigger_ms_tail": tail_v * 1e3,
            "trigger_growth": growth(times),
            "correct_frac": 1.0 - failed / attempted,
            "setup_s": setup_s,
            "peak_rss_mb": run.rss_mb(),
        }, attempted, failed

    from pyspark.sql import functions as F

    _spark_layer(run, facts)
    _trace_overhead(run, rec)
    run.layer["corpus.media_encoded"] = run.spark.read.parquet(spans_dir).agg(
        F.sum("n_media")).first()[0]
    if layer_probe is not None:
        layer_probe(spans_dir)
    _extract_variants(run, spans_dir)
    _kernel_sample(run, docs)
    split = sum(run.layer[f"extract.{k}_s"] for k in ("scan", "arrow", "kernel"))
    print(f"{run.workload}: scan+arrow+kernel = {split:.3f} s; untraced pass median "
          f"{median(rec['untraced']):.3f} s; trace.overhead_frac "
          f"{run.layer['trace.overhead_frac']:.4f}")
    return None, attempted, failed


def extract_uniform(run: Run):
    from handprint_spark.operators.extract import extract_documents

    return _extract_workload(
        run,
        lambda: gen.documents("u", run.seed, UNIFORM_DOCS, zipf=True),
        lambda docs, docs_dir, spans_dir: _materialize_spans(run, docs_dir, spans_dir),
        extract_documents,
    )


def extract_heavy_tail(run: Run):
    from pyspark.sql import functions as F

    from handprint_spark.plans.partitioning import extract_skew_aware


    def docs_of():
        normal = gen.documents("t", run.seed, HEAVY_TAIL_DOCS, zipf=False)
        heavy = gen.heavy_documents(run.seed, HEAVY_DOCS, *HEAVY_MEDIA)
        return gen.Docs(normal.doc_ids + heavy.doc_ids, normal.texts + heavy.texts)

    def materialize(docs, docs_dir, spans_dir):
        normal = gen.Docs(docs.doc_ids[:-HEAVY_DOCS], docs.texts[:-HEAVY_DOCS])
        _write_docs(normal, Path(docs_dir))
        _materialize_spans(run, docs_dir, spans_dir)
        heavy = gen.Docs(docs.doc_ids[-HEAVY_DOCS:], docs.texts[-HEAVY_DOCS:])
        _write_heavy(heavy, spans_dir)

    def extract(df):
        return extract_skew_aware(df, n_media_col="n_media")

    def split_counts(spans_dir):
        """Rows the split treats as heavy and the chunk rows it makes,
        at extract_skew_aware's default threshold and chunk size."""
        params = inspect.signature(extract_skew_aware).parameters
        threshold = params["skew_threshold"].default
        per_chunk = params["media_per_chunk"].default
        heavy = run.spark.read.parquet(spans_dir).filter(F.col("n_media") > threshold)
        row = heavy.agg(F.count("*"), F.sum(F.ceil(F.col("n_media") / per_chunk))).first()
        run.layer["plans.heavy_docs"] = row[0]
        run.layer["plans.chunk_rows"] = row[1] or 0

    return _extract_workload(run, docs_of, materialize, extract, split_counts)


# ---- streaming workload -------------------------------------------------

def _history_table(docs: gen.Docs):
    """Committed results rows for ``docs`` in the results-sink schema."""
    import pyarrow as pa

    kinds, texts, refs, offsets, bounds, n_media, n_errors = [], [], [], [], [0], [], []
    for doc_id, text in zip(docs.doc_ids, docs.texts):
        spans = gen.expected_spans(doc_id, text)
        for k, t, r, o in spans:
            kinds.append(k)
            texts.append("truncated media object" if k == "error" else t)
            refs.append(r)
            offsets.append(o)
        bounds.append(len(kinds))
        n_media.append(len(spans) // 2)
        n_errors.append(sum(1 for s in spans if s[0] == "error"))
    spans = pa.ListArray.from_arrays(
        pa.array(bounds, pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
             pa.array(refs, pa.string()), pa.array(offsets, pa.int32())],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    n = len(docs)
    return pa.table({
        "doc_id": pa.array(docs.doc_ids, pa.string()),
        "spans": spans,
        "n_media": pa.array(n_media, pa.int32()),
        "n_errors": pa.array(n_errors, pa.int32()),
        "batch_id": pa.array([-1] * n, pa.int32()),
        "partition_id": pa.array([0] * n, pa.int32()),
    })


def _dir_files(path: str) -> dict:
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


def stream_ingest(run: Run):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from handprint_spark.corpus import spanify
    from handprint_spark.operators.extract import extract_documents
    from handprint_spark.sources import table_sink
    from handprint_spark.sources.checkpoints import pending_work
    from handprint_spark.streaming.pipeline import stream_to_results

    spark, work, fd = run.spark, run.work, STREAM_FILE_DOCS
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("text", T.StringType())])
    # about 2.5 times the files a run drains at one trigger a second
    n_files = max(4 * STREAM_ROUND_FILES, math.ceil(run.seconds * 2.5))
    results, lineage = str(work / "results"), str(work / "lineage")
    src, pool = work / "src", work / "pool"

    def build(rep):
        for d in (pool, src, work / "history", work / "results", work / "lineage", work / "ckpt"):
            shutil.rmtree(d, ignore_errors=True)
        pool.mkdir(parents=True)
        src.mkdir(parents=True)
        docs = gen.documents("s", run.seed, n_files * fd, zipf=True, stream=1)
        base = int(time.time()) - n_files - 60
        for k in range(n_files):
            part = gen.Docs(docs.doc_ids[k * fd:(k + 1) * fd], docs.texts[k * fd:(k + 1) * fd])
            path = pool / f"part-{k:05d}.parquet"
            part.to_pandas().to_parquet(path, index=False)
            os.utime(path, (base + k, base + k))  # file-source order
        hist = _history_table(gen.documents("r", run.seed, STREAM_HISTORY_DOCS, zipf=True, stream=2))
        (work / "history").mkdir()
        step = math.ceil(hist.num_rows / 8)
        for k in range(8):
            pq.write_table(hist.slice(k * step, step), work / "history" / f"part-{k:05d}.parquet")
        shutil.copytree(work / "history", results)  # restore the committed history
        return docs

    docs, input_s = setup_reps(run, build)

    def drain():
        """Run the stream until the staged source is consumed."""
        q = (stream_to_results(spark, str(src), results, lineage, str(work / "ckpt"), schema=schema)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    files = sorted(os.listdir(pool))
    progress: list = []
    state = {"next": 0}

    def unit():
        batch = files[state["next"]:state["next"] + STREAM_ROUND_FILES]
        if not batch:
            log("stream_ingest: every staged file was drained before --seconds ran out")
            return None
        state["next"] += len(batch)
        for f in batch:
            os.replace(pool / f, src / f)
        got = drain()
        progress.extend(got)
        return len(batch) * fd, 0, len(got)

    t = time.perf_counter()
    warm_up(run, unit)  # checked with the timed rounds below
    setup_s = run.session_s + input_s + (time.perf_counter() - t)
    progress.clear()
    facts: list = []

    def on_traced(mark, wall, triggers):
        facts.append(run.spark_facts(mark, wall, max(1, triggers)))

    rec = closed_loop(run, unit, on_traced)

    consumed = gen.Docs(docs.doc_ids[:state["next"] * fd], docs.texts[:state["next"] * fd])
    expected = gen.expected_digests(consumed)  # the warm-up round included
    with run.tracer.span("check"):
        out = spark.read.parquet(results).filter(F.col("doc_id").startswith(f"s{run.seed}-"))
        failed = gen.count_failed(expected, digest_rows(out))
    attempted = len(expected)
    trig = [p["durationMs"]["triggerExecution"] for p in progress]

    if not run.traced:
        tail_v, pct = tail(trig)
        print(f"stream_ingest: {len(trig)} triggers of {fd} docs in {len(rec['times'])} rounds; "
              f"trigger_ms_tail is p{pct}; trigger ms {trig}")
        return {
            "docs_per_s": rec["docs"] / sum(rec["times"]),
            "trigger_ms_p50": median(trig),
            "trigger_ms_tail": tail_v,
            "trigger_growth": growth(trig),
            "correct_frac": 1.0 - failed / attempted,
            "setup_s": setup_s,
            "peak_rss_mb": run.rss_mb(),
        }, attempted, failed

    _spark_layer(run, facts)
    per_trigger = [t / max(1, n) for t, n in zip(rec["times"], rec["triggers"])]
    traced = [x for i, x in enumerate(per_trigger) if i % 2 == 1]
    untraced = [x for i, x in enumerate(per_trigger) if i % 2 == 0]
    _trace_overhead(run, {"traced": traced, "untraced": untraced})
    run.layer["streaming.addBatch_ms_p50"] = median(p["durationMs"]["addBatch"] for p in progress)
    run.layer["streaming.overhead_ms_p50"] = median(
        p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in progress
    )

    # One micro-batch input, one layer call at a time, against the grown sink.
    probe = gen.documents("p", run.seed, fd, zipf=True, stream=4)
    (work / "probe").mkdir()
    probe.to_pandas().to_parquet(work / "probe" / "part-00000.parquet", index=False)
    batch_df = spark.read.schema(schema).parquet(str(work / "probe"))
    run.layer["checkpoints.history_rows"] = spark.read.parquet(results).count()
    with run.tracer.span("corpus.spanify"):
        spans = spanify(batch_df).persist()
        spans.count()
    run.layer["corpus.spanify_s"] = run.tracer.durations("corpus.spanify")[-1]
    run.layer["corpus.media_encoded"] = spans.agg(F.sum(F.size("media"))).first()[0]
    with run.tracer.span("checkpoints.pending_work"):
        pending_work(spark, spans, results).count()
    run.layer["checkpoints.pending_work_s"] = run.tracer.durations("checkpoints.pending_work")[-1]
    with run.tracer.span("extract.extract_documents"):
        out = (extract_documents(pending_work(spark, spans, results))
               .withColumn("batch_id", F.lit(-2))
               .withColumn("partition_id", F.spark_partition_id())
               .persist())
        n_out = out.count()
    before = _dir_files(results)
    with run.tracer.span("table_sink.append"):
        table_sink.append(out, results)
    after = _dir_files(results)
    added = {f: s for f, s in after.items() if f not in before}
    run.layer["table_sink.append_s"] = run.tracer.durations("table_sink.append")[-1]
    run.layer["table_sink.files_written"] = len(added)
    run.layer["table_sink.bytes_written_per_doc"] = sum(added.values()) / max(1, n_out)
    out.unpersist()
    spans.unpersist()

    # extract.* on the probe micro-batch's spans table
    probe_spans = str(work / "probe-spans")
    spanify(batch_df).write.parquet(probe_spans)
    _extract_variants(run, probe_spans)
    _kernel_sample(run, docs)
    return None, attempted, failed


WORKLOADS = {
    "extract_uniform": extract_uniform,
    "extract_heavy_tail": extract_heavy_tail,
    "stream_ingest": stream_ingest,
}


def _configure_env(cpus: int) -> None:
    tmp = WORK / "tmp"
    local = WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(local),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # a fully committed heap keeps the JVM's RSS from swinging with
        # GC sizing; no perf-data file outside the checkout
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=str(ROOT) + (os.pathsep + pypath if pypath else ""),
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "handprint_spark" / "__init__.py").is_file():
        log(f"the engine package handprint_spark is not in {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    _configure_env(len(os.sched_getaffinity(0)))
    work = WORK / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    run = Run(args, work)
    try:
        run.start()
        values, attempted, failed = WORKLOADS[args.workload](run)
        if values is None:
            # layers the workload bypasses did no work
            values = {k: run.layer.get(k, 0.0) for k in LAYER_UNITS}
            units = LAYER_UNITS
        else:
            units = E2E_UNITS
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
