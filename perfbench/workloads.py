"""The four workloads, their inputs and their exact answers.

Every workload reads the rows of ``sources.webpages.generate_webpages(seed)``
and calls only the library's public API.  Exact answers come from Spark's
exact aggregates, computed once at set-up; every sketch answer of the timed
loop is checked against them (see ``checks``)."""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_algorithms_spark.operators.sketch_agg import (
    cms_heavy_hitters,
    hll_distinct,
    kll_quantiles,
    welford_stats,
)
from streaming_algorithms_spark.sketch_table import SketchTable
from streaming_algorithms_spark.sketches import KLL, HyperLogLog
from streaming_algorithms_spark.sources.webpages import SCHEMA, generate_webpages
from streaming_algorithms_spark.streaming import (
    AppendRoute,
    ingest_stream,
    streaming_multi_sketch,
)

from . import checks
from .observe import Tracer, median, now

ROWS = 20_000
# 30 Zipfian hosts x 40 Zipfian langs gives ~1k (lang, host) keys at ROWS
# for batch_hosts, with one round of its four operators at 4-9 s (4 cores)
N_HOSTS = 30
HLL_P = 14
KLL_K = 200
CMS_EPS = 0.01
CMS_TOP_K = 5
# segments drained per streaming query (one file per trigger); ingest
# compacts both tables after every COMPACT_EVERY-th epoch
SEGMENTS = {"ingest_refresh": 4, "stateful_stream": 8}
COMPACT_EVERY = 3

BATCH_KEYS = {"batch_langs": ["lang"], "batch_hosts": ["lang", "host"]}
STREAM_KEY = {"ingest_refresh": "lang", "stateful_stream": "host"}
WORKLOADS = ("batch_langs", "batch_hosts", "ingest_refresh", "stateful_stream")


def project(df: DataFrame, *keep: str) -> DataFrame:
    """The workloads' JVM projection (plus the ``keep`` columns): the host
    is parsed in the JVM and only fixed-width or key columns reach the
    operators."""
    return df.select(
        *keep,
        "lang",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        "url",
        F.length("text").cast("double").alias("text_len"),
    )


def _call_op(op: str, src: DataFrame, keys: list[str]) -> DataFrame:
    if op == "hll_distinct":
        return hll_distinct(src, keys, "url", p=HLL_P)
    if op == "kll_quantiles":
        return kll_quantiles(src, keys, "text_len", checks.QS, k=KLL_K)
    if op == "welford_stats":
        return welford_stats(src, keys, "text_len")
    if op == "cms_heavy_hitters":
        return cms_heavy_hitters(src, keys, "url", top_k=CMS_TOP_K,
                                 epsilon=CMS_EPS)
    raise ValueError(op)


BATCH_OPS = ("hll_distinct", "kll_quantiles", "welford_stats",
             "cms_heavy_hitters")
# One untimed round warms every operator; the timed loop reports medians,
# so a slower first timed round does not move its figures.
WARM_ROUNDS = 1


@dataclass
class Run:
    """One benchmark process: session, scratch dir, tracer and tallies."""

    spark: SparkSession
    work: Path
    seed: int
    rows: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    digest: "hashlib._Hash" = field(default_factory=hashlib.sha256)
    phases: dict = field(default_factory=dict)
    dirs: int = 0

    def fresh_dir(self, prefix: str) -> Path:
        """A new directory name under the run's scratch directory."""
        self.dirs += 1
        return self.work / f"{prefix}-{self.dirs}"

    def phase(self, name: str, since: float) -> float:
        """Record a set-up phase's duration; returns the current time."""
        t = now()
        self.phases[name] = t - since
        return t

    def record(self, errs: list[str]) -> None:
        """Count one operation; it failed if it raised or any answer was
        outside its bound."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])

    def tag(self, name: str) -> str | None:
        """Tag the next jobs of this thread with a fresh job group (traced
        runs only) so the event log attributes them to this call."""
        if not self.tracer.enabled:
            return None
        gid = f"pb-{len(self.tracer.spans)}-{name}"
        self.spark.sparkContext.setJobGroup(gid, name)
        return gid

    def untag(self) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def _digest_rows(run: Run, label: str, rows) -> None:
    body = sorted(json.dumps(r.asDict(), sort_keys=True, default=str)
                  for r in rows)
    run.digest.update(label.encode())
    run.digest.update("\n".join(body).encode())


# ---------------------------------------------------------------------------
# input
# ---------------------------------------------------------------------------

def load_input(run: Run) -> DataFrame:
    """Generate the seed's rows into parquet and read them back, so the
    timed loop scans parquet like a production table."""
    path = run.work / "webpages"
    generate_webpages(run.spark, run.rows, seed=run.seed,
                      n_hosts=N_HOSTS).write.parquet(str(path))
    return run.spark.read.parquet(str(path))


def _with_segment(df: DataFrame, n: int) -> DataFrame:
    return df.withColumn(
        "seg", F.pmod(F.xxhash64("url", "warc_ts"), F.lit(n)).cast("int"))


def write_segments(run: Run, df: DataFrame, n: int) -> tuple[Path, DataFrame]:
    """Split the rows into ``n`` parquet files by a content hash; the
    returned frame carries each row's segment number ``seg``.  Files get
    increasing mtimes so the file source drains them in segment order."""
    seg_df = _with_segment(df, n)
    tmp = run.fresh_dir("segments_tmp")
    seg_df.repartition("seg").write.partitionBy("seg").parquet(str(tmp))
    out = run.fresh_dir("segments")
    out.mkdir()
    base = time.time() - 10 * n
    for k in range(n):
        files = sorted((tmp / f"seg={k}").glob("*.parquet"))
        if len(files) != 1:
            raise RuntimeError(f"segment {k}: expected one file, got {files}")
        dst = out / f"seg-{k:04d}.parquet"
        shutil.move(str(files[0]), dst)
        os.utime(dst, (base + 10 * k, base + 10 * k))
    shutil.rmtree(tmp)
    return out, _with_segment(run.spark.read.parquet(str(out)), n)


def exact_answers(src: DataFrame, keys: list[str]) -> tuple[dict, dict]:
    """Exact per-key answers and per-(key, url) counts from one Spark
    exact aggregate: every key's count, distinct urls and sorted values;
    mean and sample sd are then summed exactly (``math.fsum``)."""
    exact, items = {}, {}
    for r in src.groupBy(*keys, "url").agg(
            F.count("*").alias("c"),
            F.collect_list("text_len").alias("v")).collect():
        k = tuple(r[c] for c in keys)
        items[(k, r["url"])] = r["c"]
        e = exact.setdefault(k, {"n": 0, "distinct": 0, "values": []})
        e["n"] += r["c"]
        e["distinct"] += 1
        e["values"] += r["v"]
    for e in exact.values():
        v = e["values"]
        v.sort()
        e["avg"] = math.fsum(v) / len(v)
        e["sd"] = (math.sqrt(math.fsum((x - e["avg"]) ** 2 for x in v)
                             / (len(v) - 1)) if len(v) > 1 else 0.0)
    return exact, items


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

@dataclass
class BatchState:
    src: DataFrame
    keys: list[str]
    exact: dict
    items: dict
    input_rows: int


def setup_batch(run: Run, name: str) -> BatchState:
    t = now()
    src = project(load_input(run))
    t = run.phase("input", t)
    keys = BATCH_KEYS[name]
    st = BatchState(src, keys, *exact_answers(src, keys), run.rows)
    t = run.phase("exact", t)
    for i in range(WARM_ROUNDS):  # untimed; the first round is digested
        for op in BATCH_OPS:
            rows = _call_op(op, src, keys).collect()
            errs = checks.check_batch(op, rows, keys, st.exact, st.items,
                                      CMS_EPS)
            if errs:
                raise RuntimeError(f"warm pass {op}: {errs[:3]}")
            if i == 0:
                _digest_rows(run, op, rows)
    run.phase("warm", t)
    return st


def run_batch(run: Run, st: BatchState, seconds: float) -> dict:
    """Closed loop over the four operators, round-robin, in whole rounds
    until ``seconds`` have passed, so every operator runs equally often.
    Throughput comes from the median round (four calls and their checks),
    so a burst of host contention moves it no more than the call medians."""
    times = {op: [] for op in BATCH_OPS}
    rounds: list[float] = []
    calls = 0
    t0 = t_round = now()
    while calls % len(BATCH_OPS) or now() - t0 < seconds:
        if calls and calls % len(BATCH_OPS) == 0:
            rounds.append(now() - t_round)
            t_round = now()
        op = BATCH_OPS[calls % len(BATCH_OPS)]
        calls += 1
        gid = run.tag(op)
        with run.tracer.span("operators", op, job_group=gid) as sp:
            try:
                rows = _call_op(op, st.src, st.keys).collect()
            except Exception as e:  # a raising call is a failed operation
                run.record([f"{op} raised {type(e).__name__}: {e}"])
                continue
            finally:
                run.untag()
        times[op].append(sp.seconds)
        run.record(checks.check_batch(op, rows, st.keys, st.exact,
                                      st.items, CMS_EPS))
    rounds.append(now() - t_round)
    wall = now() - t0
    op_medians = {op: median(ts) for op, ts in times.items() if ts}
    return {
        "rows_per_s": st.input_rows * len(BATCH_OPS) / median(rounds),
        # mean of the per-operator medians: each operator weighs the same
        # whatever its share of the calls
        "op_p50_s": sum(op_medians.values()) / len(op_medians),
        "op_medians_s": op_medians, "calls": calls, "loop_s": wall,
        "round_s": rounds,
    }


# ---------------------------------------------------------------------------
# streaming workloads
# ---------------------------------------------------------------------------

@dataclass
class StreamState:
    segments: Path
    key: str
    n_segments: int
    exact: dict          # (prefix k, key value) -> exact answers
    one_shot: dict = field(default_factory=dict)  # (k, lang) -> HLL estimate


def _exact_prefixes(seg_df: DataFrame, key: str, n: int) -> dict:
    """Exact answers for every prefix of segments [0, k), k = 1..n, in one
    Spark job."""
    ks = seg_df.sparkSession.range(1, n + 1).withColumnRenamed("id", "k")
    src = project(seg_df.join(ks, F.col("seg") < F.col("k")), "k")
    raw, _ = exact_answers(src, ["k", key])
    return {(k[0], k[1]): v for k, v in raw.items()}


def stream_state(run: Run, segments: Path, seg_df: DataFrame, n: int,
                 key: str) -> StreamState:
    """Exact answers for draining ``segments`` keyed by ``key``; keyed by
    lang (the ingest tables) it adds the one-shot HLL estimates the
    SketchTable must equal."""
    st = StreamState(segments, key, n, _exact_prefixes(seg_df, key, n))
    if key == "lang":
        # one-shot hll_distinct over the same rows as the table holds
        # before compaction (COMPACT_EVERY segments) and at the end (all)
        ks = run.spark.createDataFrame([(COMPACT_EVERY,), (n,)], "k int")
        prefixes = seg_df.join(ks, F.col("seg") < F.col("k"))
        for r in hll_distinct(prefixes.select("k", "lang", "url"),
                              ["k", "lang"], "url", p=HLL_P).collect():
            st.one_shot[(r["k"], r["lang"])] = r["approx_distinct"]
    return st


def setup_stream(run: Run, name: str) -> StreamState:
    t = now()
    df = load_input(run)
    t = run.phase("input", t)
    n = SEGMENTS[name]
    segments, seg_df = write_segments(run, df, n)
    st = stream_state(run, segments, seg_df, n, STREAM_KEY[name])
    t = run.phase("exact", t)
    # untimed warm drain over a copy of the first two segments
    warm = run.fresh_dir("warm_segments")
    warm.mkdir()
    for f in sorted(segments.iterdir())[:2]:
        shutil.copy2(f, warm / f.name)
    DRAINS[name](run, st, warm)
    run.phase("warm", t)
    exact = st.exact
    for k in sorted({k for k, _ in exact}):
        run.digest.update(json.dumps(
            sorted((str(v), e["n"], e["distinct"])
                   for (kk, v), e in exact.items() if kk == k)).encode())
    return st


def _stream(run: Run, segments: Path) -> DataFrame:
    return (run.spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(str(segments)))


def _progress_epochs(query, fresh: dict) -> list[dict]:
    """Epoch records from StreamingQueryProgress: trigger start (the
    progress timestamp) to the moment the epoch's answers were collected."""
    from datetime import datetime

    out = []
    for p in query.recentProgress:
        bid = p["batchId"]
        if bid not in fresh or p["numInputRows"] == 0:
            continue
        start = datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = p["durationMs"]
        ops = p["stateOperators"]
        out.append({
            "batch": bid, "epoch_s": fresh[bid] - start,
            "rows": p["numInputRows"],
            "add_batch_ms": dur.get("addBatch", 0),
            "query_planning_ms": dur.get("queryPlanning", 0),
            "wal_commit_ms": dur.get("walCommit", 0),
            "commit_offsets_ms": dur.get("commitOffsets", 0),
            "state_commit_ms": ops[0]["commitTimeMs"] if ops else None,
            "state_rows": ops[0]["numRowsTotal"] if ops else None,
            "state_memory_bytes": ops[0]["memoryUsedBytes"] if ops else None,
        })
    return out


class TracedTable:
    """SketchTable seen through spans: every call the ingest bridge makes
    into the store is recorded under the ``sketch_table`` layer."""

    def __init__(self, table: SketchTable, tracer: Tracer):
        self.table, self.tracer, self.path = table, tracer, table.path

    def committed_batches(self):
        with self.tracer.span("sketch_table", "committed_batches"):
            return self.table.committed_batches()

    def append(self, df, batch_id, **kw):
        with self.tracer.span("sketch_table", "append"):
            return self.table.append(df, batch_id, **kw)


def _hll_factory():
    return HyperLogLog(HLL_P)


def _hll_update(sk, pdf):
    sk.add_hashes(pdf["_h"].to_numpy(np.int64).view(np.uint64))


def _kll_factory():
    return KLL(KLL_K)


def _kll_update(sk, pdf):
    sk.update_batch(pdf["text_len"].to_numpy(np.float64))


def _hll_rows(df):
    return df.select("lang", F.xxhash64("url").alias("_h"))


def _kll_rows(df):
    return df.select("lang", F.length("text").cast("double").alias("text_len"))


def _hll_final(sk, rows):
    return {"approx_distinct": int(round(sk.estimate())), "rows_seen": rows}


def _kll_final(sk, rows):
    out = {c: float(sk.quantile(q)) for q, c in zip(checks.QS, checks.QCOLS)}
    out["n"] = sk.n
    return out


HLL_OUT = "approx_distinct bigint, rows_seen bigint"
KLL_OUT = ", ".join(f"{c} double" for c in checks.QCOLS) + ", n bigint"


def ingest_drain(run: Run, st: StreamState, segments: Path) -> dict:
    """One availableNow drain of the segments into two SketchTables (HLL of
    url by lang, KLL of text length by lang).  Every epoch reads fresh
    estimates from both tables and checks them; every COMPACT_EVERY-th
    epoch then compacts both."""
    tr = run.tracer
    d = run.fresh_dir("ingest")
    th = SketchTable(run.spark, str(d / "hll"), ["lang"])
    tk = SketchTable(run.spark, str(d / "kll"), ["lang"])
    fresh: dict[int, float] = {}

    def on_epoch(epoch_id: int, _batch) -> None:
        k = epoch_id + 1
        with tr.span("sketch_table", "estimates"):
            hll = th.estimates(HyperLogLog.from_bytes, _hll_final,
                               HLL_OUT).collect()
            kll = tk.estimates(KLL.from_bytes, _kll_final, KLL_OUT).collect()
        fresh[epoch_id] = time.time()
        errs = checks.check_prefix_hll(hll, st.exact, k, "lang")
        errs += checks.check_prefix_kll(kll, st.exact, k, "lang")
        errs += checks.check_one_shot(hll, st.one_shot, k)
        if k % COMPACT_EVERY == 0:
            with tr.span("sketch_table", "compact"):
                th.compact(HyperLogLog.from_bytes)
                tk.compact(KLL.from_bytes)
        with tr.span("sketch_table", "metadata"):
            th.committed_batches()
            th.live_units()
        run.record(errs)

    src = _stream(run, segments)
    routes = [
        AppendRoute(TracedTable(th, tr), _hll_rows,
                    {"factory": _hll_factory, "update": _hll_update}),
        AppendRoute(TracedTable(tk, tr), _kll_rows,
                    {"factory": _kll_factory, "update": _kll_update}),
    ]
    with tr.span("streaming", "ingest_stream") as sp:
        q = ingest_stream(src, routes, checkpoint=str(d / "checkpoint"),
                          on_epoch=on_epoch)
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"ingest drain failed: {q.exception()}")
    store = sum(f.stat().st_size for f in d.rglob("*.parquet")
                if "checkpoint" not in f.parts)
    return {"wall_s": sp.seconds, "epochs": _progress_epochs(q, fresh),
            "live_units": len(th.live_units()) + len(tk.live_units()),
            "store_bytes": store}


def stateful_drain(run: Run, st: StreamState, segments: Path) -> dict:
    """One availableNow drain through ``streaming_multi_sketch`` keyed by
    host; each epoch's updated answers are collected and checked against
    the exact answers over the segments drained so far."""
    tr = run.tracer
    d = run.fresh_dir("stateful")
    fresh: dict[int, float] = {}

    def sink(batch, epoch_id: int) -> None:
        with tr.span("streaming", "collect_answers"):
            rows = batch.collect()
        fresh[epoch_id] = time.time()
        run.record(checks.check_stateful(rows, st.exact, epoch_id + 1))

    src = _stream(run, segments)
    src = src.select(F.parse_url("url", F.lit("HOST")).alias("host"), "url",
                     F.length("text").cast("double").alias("text_len"))
    out = streaming_multi_sketch(src, "host", "url", "text_len", p=HLL_P,
                                 k=KLL_K, qs=(0.5,))
    with tr.span("streaming", "streaming_multi_sketch") as sp:
        q = (out.writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", str(d / "checkpoint"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stateful drain failed: {q.exception()}")
    return {"wall_s": sp.seconds, "epochs": _progress_epochs(q, fresh)}


DRAINS = {"ingest_refresh": ingest_drain, "stateful_stream": stateful_drain}


def run_stream(run: Run, st: StreamState, name: str, seconds: float) -> dict:
    """Closed loop of whole drains (each a fresh query and fresh stores
    over the same segments) until ``seconds`` have passed."""
    drain = DRAINS[name]
    epochs, wall = [], 0.0
    t0 = now()
    while not epochs or now() - t0 < seconds:
        res = drain(run, st, st.segments)
        if len(res["epochs"]) != st.n_segments:
            run.record([f"{name}: drained {len(res['epochs'])} epochs, "
                        f"expected {st.n_segments}"])
        epochs += res["epochs"]
        wall += res["wall_s"]
    return {
        "rows_per_s": sum(e["rows"] for e in epochs) / wall,
        "op_p50_s": median([e["epoch_s"] for e in epochs]),
        "epochs": len(epochs), "loop_s": now() - t0,
    }


def setup(run: Run, name: str):
    if name in BATCH_KEYS:
        return setup_batch(run, name)
    return setup_stream(run, name)


def measure(run: Run, name: str, state, seconds: float) -> dict:
    if name in BATCH_KEYS:
        return run_batch(run, state, seconds)
    return run_stream(run, state, name, seconds)
