"""Per-layer numbers for a traced run.

Spark engine numbers come from the event log of the traced loop.  The
other layers are timed in isolation, on the workload's own input and key,
after the loop: the scan alone, the numpy kernels in the driver, stage 1
and stage 2 of the two-stage aggregate apart, a SketchTable lifecycle and
a short ingest drain into SketchTables and a short stateful drain."""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_algorithms_spark.operators.sketch_agg import (
    build_partials,
    encode_utf8,
    merge_partials,
)
from streaming_algorithms_spark.sketches import (
    KLL,
    CountMinSketch,
    HyperLogLog,
    RunningStats,
)

from . import workloads as wl
from .observe import attribute_jobs, median, now

REPEATS = 3

PER_LAYER = {
    # name: unit
    "sources.scan_s": "s",
    "sketches.hll.update_ns_per_row": "ns",
    "sketches.kll.update_ns_per_row": "ns",
    "sketches.cms.update_ns_per_row": "ns",
    "sketches.running_stats.update_ns_per_row": "ns",
    "sketches.hll.merge_us": "us",
    "sketches.kll.merge_us": "us",
    "sketches.cms.merge_us": "us",
    "sketches.hll.partial_bytes": "bytes",
    "sketches.kll.partial_bytes": "bytes",
    "sketches.cms.partial_bytes": "bytes",
    "operators.build_partials_s": "s",
    "operators.merge_partials_s": "s",
    "operators.partials_rows": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.map_run_s": "s",
    "spark.reduce_run_s": "s",
    "sketch_table.append_s": "s",
    "sketch_table.estimates_s": "s",
    "sketch_table.compact_s": "s",
    "sketch_table.metadata_s": "s",
    "sketch_table.live_units": "count",
    "sketch_table.store_bytes_per_row": "bytes",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
}


def _cms_from_bytes(buf: bytes) -> CountMinSketch:
    proto = CountMinSketch(wl.CMS_EPS, 0.01)
    return CountMinSketch.from_bytes(buf, width=proto.width, depth=proto.depth)


def _timed(fn, repeats=REPEATS) -> float:
    ts = []
    for _ in range(repeats):
        t0 = now()
        fn()
        ts.append(now() - t0)
    return median(ts)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_keys(name: str) -> list[str]:
    return wl.BATCH_KEYS.get(name) or [wl.STREAM_KEY[name]]


# -- sources and operators ---------------------------------------------------

def scan_and_operators(run, src: DataFrame, keys: list[str]) -> dict:
    """``src`` is the workload's projection over its parquet input."""
    tr = run.tracer
    out = {}
    scan = src.select(*keys, F.xxhash64("url").alias("_h"), "text_len")
    with tr.span("sources", "scan_noop"):
        out["sources.scan_s"] = _timed(lambda: _noop(scan))

    hashed = src.select(*keys, F.xxhash64("url").alias("_h"))
    partials = build_partials(hashed, keys, wl._hll_factory, wl._hll_update)
    with tr.span("operators", "build_partials"):
        out["operators.build_partials_s"] = _timed(lambda: _noop(partials))
    path = run.work / "probe_partials"
    partials.write.parquet(str(path))
    stored = run.spark.read.parquet(str(path))
    out["operators.partials_rows"] = stored.count()
    with tr.span("operators", "merge_partials"):
        out["operators.merge_partials_s"] = _timed(lambda: merge_partials(
            stored, keys, HyperLogLog.from_bytes, wl._hll_final,
            wl.HLL_OUT).collect())
    return out


# -- sketches ----------------------------------------------------------------

def kernels(run, src: DataFrame, keys: list[str]) -> dict:
    """Driver-side kernel timings on arrays drawn from the workload's input;
    merges replay stage 2 over per-(partition, key) partials, one partition
    per core as the input is written."""
    tr = run.tracer
    partitions = run.spark.sparkContext.defaultParallelism
    pdf = src.select(*keys, F.xxhash64("url").alias("h"), "url",
                     "text_len").toPandas()
    n = len(pdf)
    h = pdf["h"].to_numpy(np.int64).view(np.uint64)
    x = pdf["text_len"].to_numpy(np.float64)
    urls = encode_utf8(pdf["url"])

    def cms_update(sk, u):
        uniq, cnt = np.unique(u, return_counts=True)
        sk.update_batch(list(uniq), cnt)

    families = {
        "hll": (lambda: HyperLogLog(wl.HLL_P), lambda sk, i: sk.add_hashes(h[i]),
                HyperLogLog.from_bytes),
        "kll": (lambda: KLL(wl.KLL_K), lambda sk, i: sk.update_batch(x[i]),
                KLL.from_bytes),
        "cms": (lambda: CountMinSketch(wl.CMS_EPS, 0.01),
                lambda sk, i: cms_update(sk, urls[i]), _cms_from_bytes),
    }
    out = {}
    everything = np.arange(n)
    with tr.span("sketches", "update"):
        for fam, (make, update, _) in families.items():
            out[f"sketches.{fam}.update_ns_per_row"] = _timed(
                lambda: update(make(), everything), 5) / n * 1e9
        out["sketches.running_stats.update_ns_per_row"] = _timed(
            lambda: RunningStats().update_batch(x), 21) / n * 1e9

    part = np.arange(n) % partitions
    groups = pdf.assign(_p=part).groupby(keys, sort=False).indices
    with tr.span("sketches", "merge"):
        for fam, (make, update, from_bytes) in families.items():
            bufs = []
            for idx in groups.values():
                per_key = []
                for p in range(partitions):
                    sel = idx[part[idx] == p]
                    if len(sel):
                        sk = make()
                        update(sk, sel)
                        per_key.append(sk.to_bytes())
                bufs.append(per_key)
            merges = sum(len(b) for b in bufs)

            def merge_all(bufs=bufs, from_bytes=from_bytes):
                for per_key in bufs:
                    acc = from_bytes(per_key[0])
                    for b in per_key[1:]:
                        acc.merge(from_bytes(b))

            out[f"sketches.{fam}.merge_us"] = _timed(merge_all) / merges * 1e6
            out[f"sketches.{fam}.partial_bytes"] = float(np.mean(
                [len(b) for per_key in bufs for b in per_key]))
    return out


# -- SketchTable and streaming ------------------------------------------------

PROBE_SEGMENTS = 3  # one ingest compaction (COMPACT_EVERY) per probe drain


def _span_median(spans: list[dict], layer: str, name: str) -> float:
    return median([s["end"] - s["start"] for s in spans
                   if s["layer"] == layer and s["name"] == name])


def streaming_layers(run, raw: DataFrame) -> dict:
    """Drain the workload's rows, cut into PROBE_SEGMENTS files, once
    through the ingest bridge into SketchTables and once through
    ``streaming_multi_sketch``; answers are checked like the workloads'."""
    segments, seg_df = wl.write_segments(run, raw, PROBE_SEGMENTS)
    first = len(run.tracer.spans)
    ingest = wl.ingest_drain(run, wl.stream_state(
        run, segments, seg_df, PROBE_SEGMENTS, "lang"), segments)
    spans = run.tracer.spans[first:]
    rows = sum(e["rows"] for e in ingest["epochs"])
    out = {f"sketch_table.{n}_s": _span_median(spans, "sketch_table", n)
           for n in ("append", "estimates", "compact", "metadata")}
    out["sketch_table.live_units"] = float(ingest["live_units"])
    out["sketch_table.store_bytes_per_row"] = ingest["store_bytes"] / rows
    stateful = wl.stateful_drain(run, wl.stream_state(
        run, segments, seg_df, PROBE_SEGMENTS, "host"), segments)
    out.update(streaming_progress(stateful["epochs"]))
    return out


def streaming_progress(epochs: list[dict]) -> dict:
    out = {}
    for k in ("add_batch_ms", "query_planning_ms", "wal_commit_ms",
              "commit_offsets_ms", "state_commit_ms", "state_rows",
              "state_memory_bytes"):
        vals = [e[k] for e in epochs if e[k] is not None]
        if vals:
            out[f"streaming.{k}"] = float(median(vals))
    return out


# -- engine -------------------------------------------------------------------

def engine(loop_spans: list[dict], jobs: dict, ops: int) -> tuple[dict, list]:
    """Spark jobs of the traced loop, per operation (call or epoch).  The
    loop's top-level spans are its operator calls or its drains; the
    spans under a drain lie inside it."""
    per_span = attribute_jobs(
        [s for s in loop_spans if s["parent"] is None], jobs)
    tot = {k: sum(s[k] for s in per_span) for k in
           ("jobs", "tasks", "driver_gap_s", "shuffle_write_bytes",
            "executor_run_s", "map_run_s", "reduce_run_s")}
    return {f"spark.{k}": v / ops for k, v in tot.items()}, per_span
