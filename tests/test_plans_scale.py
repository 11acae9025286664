"""Physical-plan assertions: the scale properties the engine promises.

These read `.explain` output — cheap, no job execution — and pin down:
- column pruning reaches the parquet scan (never reads `html`)
- predicate pushdown reaches the scan (PushedFilters)
- the two-stage sketch aggregate shuffles ONLY binary partial rows
  (the Exchange sits above the mapInPandas stage, not below it)
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from streaming_algorithms_spark.operators import hll_distinct
from streaming_algorithms_spark.sources.webpages import generate_webpages


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue().split("== Physical Plan ==")[-1]


@pytest.fixture(scope="module")
def webpages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wp") / "webpages")
    generate_webpages(spark, 2000, n_hosts=50, partitions=4).write.parquet(path)
    return path


def test_sketch_scan_prunes_html(spark, webpages_parquet):
    df = spark.read.parquet(webpages_parquet)
    plan = _physical_plan(hll_distinct(df, ["lang"], "url", p=10))
    read_schema = [ln.split("ReadSchema:")[1] for ln in plan.splitlines()
                   if "ReadSchema" in ln]
    assert read_schema, plan
    assert "html" not in read_schema[0] and "text" not in read_schema[0]
    assert "url" in read_schema[0] and "lang" in read_schema[0]


def test_filter_pushdown_reaches_scan(spark, webpages_parquet):
    df = spark.read.parquet(webpages_parquet).filter(F.col("lang") == "en")
    plan = _physical_plan(hll_distinct(df, ["lang"], "url", p=10))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "EqualTo(lang,en)" in pushed[0].replace(" ", "").replace(
        "EqualTo(lang,en)", "EqualTo(lang,en)"
    )
    assert "EqualTo" in pushed[0]


def test_only_partial_rows_are_shuffled(spark, webpages_parquet):
    """The Exchange must consume the partial-building python stage's output
    (key, sketch, rows), never the raw table: plan order is
    scan -> mapInPandas (partials) -> Exchange -> merge python stage."""
    df = spark.read.parquet(webpages_parquet)
    plan = _physical_plan(hll_distinct(df, ["lang"], "url", p=10))
    lines = plan.splitlines()
    scan_i = min(i for i, l in enumerate(lines) if "Scan parquet" in l or "FileScan" in l)
    exch_i = [i for i, l in enumerate(lines) if "Exchange" in l]
    mapinpandas_i = [i for i, l in enumerate(lines) if "MapInPandas" in l]
    assert exch_i and mapinpandas_i
    # physical plans print top-down: the scan is LAST, the first (outermost)
    # python stage is the merge; the exchange must sit between the two python
    # stages — i.e. some MapInPandas appears BELOW the exchange (closer to
    # the scan) producing the tiny partial rows that get shuffled
    below_exchange = [i for i in mapinpandas_i if i > max(exch_i)]
    assert below_exchange, plan
    assert scan_i > max(below_exchange)


def test_no_exchange_below_partial_stage(spark, webpages_parquet):
    """Nothing between the scan and the partial-builder shuffles raw rows."""
    df = spark.read.parquet(webpages_parquet)
    plan = _physical_plan(hll_distinct(df, ["lang"], "url", p=10))
    lines = plan.splitlines()
    mapinpandas_i = [i for i, l in enumerate(lines) if "MapInPandas" in l]
    last_py = max(mapinpandas_i)  # partial builder (deepest python stage)
    assert not any("Exchange" in l for l in lines[last_py:]), plan


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive/Iceberg-style partitioned layout: a lang filter must become a
    PartitionFilter (prunes directories), not a data filter."""
    path = str(tmp_path / "wp_partitioned")
    generate_webpages(spark, 3000, n_hosts=50, partitions=4).write.partitionBy(
        "lang"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = _physical_plan(hll_distinct(df, ["lang"], "url", p=10))
    part_filters = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_filters, plan
    assert "lang" in part_filters[0] and "isnotnull(lang" in part_filters[0].replace(") ", "(")


def test_dim_join_is_broadcast(spark, webpages_parquet):
    """Small dimension joins must be BroadcastHashJoin, not sort-merge."""
    df = spark.read.parquet(webpages_parquet)
    dim = df.select("lang").distinct().limit(5)
    joined = df.join(dim.hint("broadcast"), "lang")
    plan = _physical_plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_near_dup_lsh_plan_one_python_pass_no_collect(spark):
    """The embedding near-dup scale path must (a) run exactly ONE Python
    signature stage (lsh_bucket_table computes every table's bucket in one
    Arrow pass — not one MapInPandas per table) and (b) contain no
    driver-collect pattern (no CollectLimit; candidates come from a
    distributed (table, bucket) self-join)."""
    import numpy as np

    from streaming_algorithms_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(1)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in
         enumerate(rng.normal(size=(50, 16)).astype(np.float32))],
        "vec_id long, embedding array<float>",
    )
    plan = _physical_plan(
        embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.9)
    )
    # the signature stage appears once per join side of the self-join (Spark
    # re-plans the shared lineage), never n_tables times
    assert plan.count("MapInPandas") <= 2, plan
    assert "CollectLimit" not in plan, plan


def test_cross_set_near_dup_plan_one_python_pass_per_side(spark):
    """The semantic-decontamination join shape: exactly one Arrow
    signature pass per SET (all tables at once), candidates from a
    distributed (table, bucket) corpus x eval join — no CollectLimit,
    no cartesian product."""
    import numpy as np

    from streaming_algorithms_spark.operators.similarity import (
        cross_set_near_dup_pairs,
    )

    rng = np.random.default_rng(2)
    mk = lambda n, seed_off: spark.createDataFrame(  # noqa: E731
        [(i, v.tolist()) for i, v in
         enumerate(rng.normal(size=(n, 16)).astype(np.float32))],
        "vec_id long, embedding array<float>")
    plan = _physical_plan(
        cross_set_near_dup_pairs(mk(40, 0), mk(10, 1), "vec_id",
                                 "embedding", threshold=0.9)
    )
    assert plan.count("MapInPandas") <= 2, plan
    assert "CollectLimit" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _full_explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    return buf.getvalue()


def test_exact_dedup_has_no_forced_broadcast(spark, webpages_parquet):
    """The keep-set of exact_dedup is corpus-cardinality (one row per
    distinct document), so the plan must carry NO user broadcast hint —
    forcing a broadcast OOMs at 100x.  AQE may still pick a broadcast join
    at runtime when the set is actually small; what's forbidden is the
    mandatory hint in the logical plan."""
    from streaming_algorithms_spark.operators.dedup import exact_dedup

    df = spark.read.parquet(webpages_parquet)
    out = exact_dedup(df, "url", "text")
    explained = _full_explain(out)
    logical = explained.split("== Physical Plan ==")[0]
    assert "broadcast" not in logical.lower(), logical
    assert "ResolvedHint" not in logical, logical


def test_estimate_scan_partitions_file_math(spark, webpages_parquet):
    """Partition sizing for the python stages must come from file-split math
    (no df.rdd conversion): file-backed frames get a real estimate, in-memory
    frames return None (callers fall back off the hot path)."""
    from streaming_algorithms_spark.operators.sketch_agg import (
        estimate_scan_partitions,
    )

    df = spark.read.parquet(webpages_parquet)
    est = estimate_scan_partitions(df)
    assert est is not None and est >= 1
    # projections/filters keep the file scan visible
    est2 = estimate_scan_partitions(df.select("url").filter("lang = 'en'"))
    assert est2 == est
    assert estimate_scan_partitions(spark.createDataFrame([(1,)], "x int")) is None


def test_no_collect_limit_in_any_gated_query_plan(spark):
    """Sweep EVERY gated query: the returned plan must be fully distributed —
    no CollectLimit (driver-collect pattern).  Bounded driver samples during
    construction (IVF's 2048-row centroid fit, bloom's dimension build) are
    allowed; the emitted plan is what runs at data scale."""
    from streaming_algorithms_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    for name, q in sorted(QUERIES.items()):
        plan = _physical_plan(q(spark, sf_dir))
        assert "CollectLimit" not in plan, (name, plan)
        spark.catalog.clearCache()


def test_heavy_hitter_queries_build_lazily_no_count_scan(spark):
    """The CMS heavy-hitter queries read N for the eps*N bound from the
    sketch's exact total_count column — constructing the DataFrame must
    trigger no DATA job (the old shape ran a separate eager count() scan,
    a third full token pass at any scale).  Each query makes exactly one
    load_table call, and spark.read.parquet runs one 1-task footer
    schema-inference job per call — that single job is the allowance; the
    old count() added two more jobs on top."""
    from streaming_algorithms_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    for name in ("token_heavy_hitters_documents", "cms_heavy_hitters_lineitem"):
        group = f"construct_{name}"
        sc.setJobGroup(group, "plan-construction must be lazy")
        try:
            df = QUERIES[name](spark, sf_dir)
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 1, (name, jobs)
        assert "total_count" not in df.columns  # bound folded into cms_ok


def test_no_forced_broadcast_of_corpus_sized_sides(spark, webpages_parquet):
    """Per-doc size tables (corpus cardinality) must never carry a mandatory
    broadcast hint — sweep the exact-dedup/Jaccard/containment operators'
    logical plans; AQE picks broadcast at runtime when a side is actually
    small."""
    from streaming_algorithms_spark.operators.dedup import (
        exact_containment_pairs, exact_dedup, exact_jaccard_pairs,
    )

    df = spark.read.parquet(webpages_parquet)
    targets = [
        exact_dedup(df, "url", "text"),
        exact_jaccard_pairs(df.withColumnRenamed("url", "doc_id"),
                            "doc_id", "text"),
        exact_containment_pairs(
            df.limit(500).withColumnRenamed("url", "doc_id"),
            df.withColumnRenamed("url", "doc_id"), "doc_id", "text"),
    ]
    for out in targets:
        logical = _full_explain(out).split("== Physical Plan ==")[0]
        assert "broadcast" not in logical.lower(), logical


def test_sequence_packing_two_pass_no_corpus_global_window(spark, webpages_parquet):
    """The packing cumsum must be the two-pass range-partitioned shape:
    a RangePartitioning exchange, the corpus-side window PARTITIONED by the
    range id, and any SinglePartition exchange feeding only the per-range
    totals aggregate (one row per partition) — never the raw table (the
    round-3 unpartitioned Window.orderBy funneled the whole corpus through
    one task)."""
    from streaming_algorithms_spark.operators.text import sequence_packing_plan

    df = spark.read.parquet(webpages_parquet).withColumnRenamed("url", "doc_id")
    plan = _physical_plan(sequence_packing_plan(df, "doc_id", "text",
                                                seq_len=512, n_parts=8))
    assert "rangepartitioning" in plan.lower(), plan
    # corpus-side cumsum window is partitioned by the range id
    assert "windowspecdefinition(_pid" in plan, plan
    # every SinglePartition exchange must sit above a HashAggregate (the
    # n_parts-row totals), never directly above a file scan subtree
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        below = "\n".join(lines[i + 1:])
        agg = below.find("HashAggregate")
        scan = below.find("FileScan")
        assert agg != -1 and (scan == -1 or agg < scan), plan


def test_mp_per_series_bucketed_pre_partitioned_no_exchange(spark, tmp_path):
    """matrix_profile_per_series(pre_partitioned=True) over a table
    bucketed on the series key must plan the grouped Python stage with
    NO Exchange — the bench scaling probe's shape, and the repeated-
    anomaly-scan strategy at 100 TB (the corpus shuffle is paid once at
    bucket-write time).  The default path must keep its explicit
    repartition (AQE-coalescing-proof)."""
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.operators.mp_anomaly import (
        matrix_profile_per_series,
    )
    from streaming_algorithms_spark.sources.bucketed import save_bucketed

    df = spark.range(0, 4000).select(
        (F.col("id") % 16).alias("sid"),
        F.col("id").alias("ts"),
        (F.col("id") * 37 % 101).cast("double").alias("v"),
    )
    save_bucketed(df, "t_mp_series_b", ["sid"], 4,
                  path=str(tmp_path / "mp_series_b"))
    t = spark.table("t_mp_series_b")
    out = matrix_profile_per_series(t, "sid", "ts", "v", ms=(8,),
                                    max_points=256, pre_partitioned=True)
    plan = _physical_plan(out)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert out.count() == 16  # all series long enough for m=8
    # same input WITHOUT the flag: explicit repartition stays
    plan_default = _physical_plan(
        matrix_profile_per_series(t, "sid", "ts", "v", ms=(8,),
                                  max_points=256))
    assert "Exchange hashpartitioning(sid" in plan_default, plan_default

    # the contract is CHECKED, not just documented: non-clustered input
    # with pre_partitioned=True fails at plan time (the planner would
    # insert an Exchange that AQE can coalesce to 1-2 tasks), instead of
    # silently planning the hazard
    df.write.parquet(str(tmp_path / "mp_series_flat"))
    flat = spark.read.parquet(str(tmp_path / "mp_series_flat"))
    with pytest.raises(ValueError, match="not clustered"):
        matrix_profile_per_series(flat, "sid", "ts", "v", ms=(8,),
                                  max_points=256, pre_partitioned=True)


def test_load_table_iceberg_branch_requests_iceberg_source(spark):
    """format='iceberg' must actually go through the Iceberg DataSource
    (the claim is code, not a comment): without iceberg jars in the
    sandbox the read attempt fails by naming the missing 'iceberg'
    source/class — proving the branch requested it.  Unknown formats
    raise ValueError."""
    import pytest as _pytest

    from streaming_algorithms_spark.sources.tables import load_table

    with _pytest.raises(Exception) as exc:
        load_table(spark, "events", "warehouse.cc", format="iceberg")
    assert "iceberg" in str(exc.value).lower()

    with _pytest.raises(ValueError, match="unknown format"):
        load_table(spark, "events", format="csv")


def test_no_corpus_global_window_in_any_gated_query_plan(spark):
    """Sweep every gated query plan: an UNPARTITIONED Window (the classic
    single-task total-order scale-killer) may only appear above an
    Aggregate (dimension-sized input, e.g. packing's one-row-per-range
    prefix offsets) — never directly over a file-scan subtree."""
    from streaming_algorithms_spark.plans.queries import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    for name, q in sorted(QUERIES.items()):
        if name == "streaming_sketches_events":
            continue  # builds/drains streams on construction; windows are
            # over the memory sink's per-batch rows (bounded)
        plan = _physical_plan(q(spark, sf_dir))
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            stripped = ln.strip()
            if "Window " not in stripped:
                continue
            # empty-partition windows print 2 bracket groups (exprs, order);
            # partitioned ones print 3 (exprs, partition, order)
            if stripped.count("], [") >= 2:
                continue
            below = "\n".join(lines[i + 1:])
            agg = below.find("Aggregate")
            scan = below.find("FileScan")
            assert not (scan != -1 and (agg == -1 or scan < agg)), (name, stripped)
        spark.catalog.clearCache()


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key/count must join WITHOUT any
    Exchange (the shuffle is paid once at write time) and, being sortBy'd,
    without per-task Sort on the streamed side — the co-located repeated-
    join strategy the 100-TB design calls for."""
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.sources.bucketed import (
        bucketed_join,
        save_bucketed,
    )

    docs = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).alias("score"),
    )
    scores = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 13).alias("quality"),
    )
    save_bucketed(docs, "t_docs_b", ["doc_id"], 8,
                  path=str(tmp_path / "docs_b"))
    save_bucketed(scores, "t_scores_b", ["doc_id"], 8,
                  path=str(tmp_path / "scores_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    ORDERING = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    try:
        # force the join planner's hand: without this a small side would
        # broadcast and the bucketing claim would go untested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_docs_b", "t_scores_b", ["doc_id"])
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 5000
        # with bucket-sort propagation opted in (Spark >= 3.0 disables it
        # by default, SPARK-28595) and one file per bucket
        # (save_bucketed's repartition), the per-task Sort disappears too
        spark.conf.set(ORDERING, "true")
        plan2 = _physical_plan(
            bucketed_join(spark, "t_docs_b", "t_scores_b", ["doc_id"]))
        assert "Exchange" not in plan2 and "Sort " not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(ORDERING, "false")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def test_warc_roundtrip_byte_identical(spark, tmp_path):
    """webpages -> write_warc -> read_warc roundtrips url/warc_ts/html
    byte-identically (ms-precision WARC-Date, deterministic record ids),
    and the extracted text from roundtripped html equals the original
    text column — the input_hint invariant holds straight off the archive
    format."""
    from pyspark.sql import functions as F

    from streaming_algorithms_spark.operators.html_text import html_to_text
    from streaming_algorithms_spark.sources.warc import read_warc, write_warc

    pages = generate_webpages(spark, 300, n_hosts=10, partitions=3).cache()
    warc_dir = str(tmp_path / "warc")
    write_warc(pages, warc_dir, compress=True)

    back = read_warc(spark, warc_dir)
    # the corpus deliberately contains DUPLICATE urls (exact-dup pages), so
    # the comparison is multiset equality of full rows, not a url join
    def rowset(df, ts_col, html_col):
        return sorted(
            (r["url"], r[ts_col], bytes(r[html_col]))
            for r in df.collect()
        )

    assert rowset(back, "warc_ts", "html") == rowset(pages, "warc_ts", "html")

    # extraction off the archive equals the original text, byte for byte
    ext = html_to_text(back.withColumnRenamed("url", "doc_id"), "doc_id")
    got_text = sorted((r["doc_id"], r["text"]) for r in ext.collect())
    want_text = sorted((r["url"], r["text"]) for r in pages.collect())
    assert got_text == want_text

    # determinism: re-writing the same corpus produces identical archives
    import hashlib
    import os
    warc_dir2 = str(tmp_path / "warc2")
    write_warc(pages, warc_dir2, compress=True)

    def digest(d):
        return {f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
                for f in sorted(os.listdir(d))}

    assert digest(warc_dir) == digest(warc_dir2)


def test_warc_guards(spark, tmp_path):
    """write_warc refuses non-empty targets (stale part files would union
    into reads); parse raises on truncated records; CR/LF-bearing urls
    roundtrip losslessly via the lossless %-encoding."""
    import pytest as _pytest

    from streaming_algorithms_spark.sources.warc import (
        _header_value,
        _decode_header_value,
        _parse_warc_bytes,
        _record,
        read_warc,
        write_warc,
    )

    df = generate_webpages(spark, 10, n_hosts=2, partitions=1)
    d = str(tmp_path / "w1")
    write_warc(df, d)
    with _pytest.raises(ValueError, match="not empty"):
        write_warc(df, d)

    rec = _record("http://x/", "2025-01-01T00:00:00.000", b"0123456789")
    with _pytest.raises(ValueError, match="truncated"):
        list(_parse_warc_bytes(rec[:-8]))

    nasty = "http://a/\r\n\r\nX%0D?q=1"
    assert _decode_header_value(_header_value(nasty)) == nasty
    rec2 = _record(nasty, "2025-01-01T00:00:00.000", b"payload") + _record(
        "http://b/", "2025-01-01T00:00:00.000", b"second")
    got = list(_parse_warc_bytes(rec2))
    assert [u for u, _, _ in got] == [nasty, "http://b/"]
    assert got[0][2] == b"payload" and got[1][2] == b"second"


def test_warc_cc_style_spec_faithful_roundtrip(spark, tmp_path):
    """Spec-faithful Common-Crawl layout: write_warc(cc_style=True) emits
    per-record gzip members wrapping the payload in an HTTP response
    envelope; read_warc strips the envelope and the html column is
    byte-identical to the source — the input_hint invariant holds off the
    REAL CC archive format, not just the compact internal one."""
    import gzip as _gzip
    import os
    import zlib

    from streaming_algorithms_spark.sources.warc import read_warc, write_warc

    pages = generate_webpages(spark, 200, n_hosts=8, partitions=2).cache()
    d = str(tmp_path / "cc")
    write_warc(pages, d, compress=True, cc_style=True)

    # raw archive structure: concatenated gzip members, one per record,
    # each member containing exactly one WARC record with an HTTP envelope
    part = os.path.join(d, sorted(f for f in os.listdir(d)
                                  if f.startswith("part-"))[0])
    blob = open(part, "rb").read()
    members = 0
    pos = 0
    while pos < len(blob):
        dec = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        body = dec.decompress(blob[pos:]) + dec.flush()
        assert body.startswith(b"WARC/1.0\r\n")
        assert b"Content-Type: application/http; msgtype=response" in body
        assert b"HTTP/1.1 200 OK\r\n" in body
        members += 1
        pos = len(blob) - len(dec.unused_data)
    assert members > 1  # genuinely member-per-record, not whole-file

    back = read_warc(spark, d, require_success=True)
    got = sorted((r["url"], r["warc_ts"], bytes(r["html"]))
                 for r in back.collect())
    want = sorted((r["url"], r["warc_ts"], bytes(r["html"]))
                  for r in pages.collect())
    assert got == want


def test_warc_handcrafted_cc_archive(spark, tmp_path):
    """read_warc parses an archive built BY HAND to the CC spec (member
    gzip; warcinfo + request records interleaved with responses; HTTP
    envelope with headers) — proving the reader is not merely coupled to
    write_warc's own output."""
    import gzip as _gzip
    import os

    from streaming_algorithms_spark.sources.warc import read_warc

    def member(head: str, payload: bytes) -> bytes:
        rec = head.encode() + payload + b"\r\n\r\n"
        return _gzip.compress(rec, mtime=0)

    body = b"<html><body>hello</body></html>"
    http = (b"HTTP/1.1 200 OK\r\nServer: nginx\r\n"
            b"Content-Type: text/html\r\n\r\n" + body)
    warcinfo = member(
        "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 9\r\n\r\n",
        b"info: x\r\n")
    request = member(
        "WARC/1.0\r\nWARC-Type: request\r\n"
        "WARC-Target-URI: http://ex.com/a\r\nContent-Length: 4\r\n\r\n",
        b"GET ")
    response = member(
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: http://ex.com/a\r\n"
        "WARC-Date: 2024-03-01T12:00:00Z\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n",
        http)
    d = tmp_path / "hand"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(warcinfo + request + response)

    rows = read_warc(spark, str(d)).collect()
    assert len(rows) == 1  # warcinfo/request skipped
    assert rows[0]["url"] == "http://ex.com/a"
    assert bytes(rows[0]["html"]) == body
    assert str(rows[0]["warc_ts"]).startswith("2024-03-01 12:00:00")


def test_warc_task_commit_protocol(spark, tmp_path):
    """Task-commit: concurrent duplicate attempts (speculation) each write
    their own dot-temp and the atomic rename yields ONE whole archive; an
    aborted attempt leaves only an invisible dot-temp; require_success
    refuses a directory whose job never completed."""
    import os

    import pytest as _pytest

    from streaming_algorithms_spark.sources.warc import (
        _TaskWriter,
        read_warc,
    )

    d = str(tmp_path / "tc")
    os.makedirs(d)
    rows = [("http://a/%d" % i, "2025-01-01T00:00:00.000", b"x" * i)
            for i in range(1, 6)]

    # two attempts of the same partition running CONCURRENTLY, interleaved
    w1 = _TaskWriter(d, 0, 101, compress=True, cc_style=False)
    w2 = _TaskWriter(d, 0, 202, compress=True, cc_style=False)
    for u, ts, p in rows:
        w1.write(u, ts, p)
        w2.write(u, ts, p)  # interleaved in time, isolated on disk
    w1.commit()
    bytes_after_first = open(os.path.join(d, "part-00000.warc.gz"), "rb").read()
    w2.commit()  # last-writer-wins rename, still a whole archive
    bytes_after_second = open(os.path.join(d, "part-00000.warc.gz"), "rb").read()
    assert bytes_after_first == bytes_after_second  # deterministic content

    # aborted attempt: dot-temp removed, nothing visible
    w3 = _TaskWriter(d, 1, 303, compress=True, cc_style=False)
    w3.write(*rows[0])
    w3.abort()
    visible = [f for f in os.listdir(d) if not f.startswith(".")]
    assert visible == ["part-00000.warc.gz"]

    # no _SUCCESS (job "didn't finish"): require_success refuses...
    with _pytest.raises(ValueError, match="_SUCCESS"):
        read_warc(spark, d, require_success=True)
    # ...but the committed archive itself is whole and parseable
    got = read_warc(spark, d).collect()
    assert sorted(bytes(r["html"]) for r in got) == sorted(p for _, _, p in rows)


def test_warc_truncation_guards(spark):
    """Fail-loud contract extensions: an archive cut inside a HEADER block
    raises (not a silent tail drop); a gzip stream cut mid-member raises;
    an application/http payload without an HTTP terminator raises."""
    import gzip as _gzip

    import pytest as _pytest

    from streaming_algorithms_spark.sources.warc import (
        _gunzip_members,
        _parse_warc_bytes,
        _record,
    )

    rec = _record("http://x/", "2025-01-01T00:00:00.000", b"0123456789")
    # cut inside the SECOND record's header block
    two = rec + _record("http://y/", "2025-01-01T00:00:00.000", b"abc")
    cut = two[: len(rec) + 30]
    with _pytest.raises(ValueError, match="header block"):
        list(_parse_warc_bytes(cut))

    gz = _gzip.compress(rec, mtime=0)
    with _pytest.raises(ValueError, match="truncated gzip"):
        _gunzip_members(gz[:-5])

    bad = _record("http://x/", "2025-01-01T00:00:00.000", b"no-terminator",
                  cc_style=True)
    # corrupt the envelope: drop the CRLFCRLF inside the payload
    bad = bad.replace(b"\r\n\r\nno-terminator", b"no-terminator____", 1)
    with _pytest.raises(ValueError, match="no HTTP header"):
        list(_parse_warc_bytes(bad))


def test_bucketed_join_skewed_hot_host(spark, tmp_path):
    """The co-location claim must meet the skew story: a Zipf-hot join key
    (one host carrying ~60% of the corpus — the realistic web-crawl
    shape) still joins with NO Exchange, and the values stay exact.
    What bucketing does and does not buy under skew, pinned here: the
    shuffle disappears (paid once at write), but the hot key's rows
    all land in ONE bucket file — the per-task imbalance survives, and
    because there is no Exchange, AQE's skew-join splitting never
    applies.  When per-task skew dominates the join cost, salt the key
    (operators.sketch_agg salted aggregation pattern) instead of
    bucketing on it; bucketing wins when the join is repeated and the
    skew is tolerable."""
    import os

    from pyspark.sql import functions as F

    from streaming_algorithms_spark.sources.bucketed import (
        bucketed_join,
        save_bucketed,
    )

    # hot-host corpus: host-0 carries 60%, the rest spread over 39 hosts
    n = 20000
    pages = spark.range(0, n).select(
        F.when(F.col("id") < int(n * 0.6), F.lit("host-0"))
        .otherwise(F.concat(F.lit("host-"), (F.col("id") % 39 + 1)
                            .cast("string"))).alias("host"),
        F.col("id").alias("page_id"),
    )
    hosts = spark.createDataFrame(
        [(f"host-{i}", i % 5) for i in range(40)], "host string, tier int"
    )
    save_bucketed(pages, "t_pages_skew", ["host"], 8,
                  path=str(tmp_path / "pages_skew"))
    save_bucketed(hosts, "t_hosts_skew", ["host"], 8,
                  path=str(tmp_path / "hosts_skew"))

    # the layout really is skewed: the bucket holding host-0 dominates
    sizes = sorted(
        os.path.getsize(os.path.join(str(tmp_path / "pages_skew"), f))
        for f in os.listdir(str(tmp_path / "pages_skew"))
        if f.startswith("part-")
    )
    assert sizes[-1] > 3 * sizes[0], sizes

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_pages_skew", "t_hosts_skew",
                               ["host"])
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan

        per_host = {r["host"]: r["n"] for r in
                    joined.groupBy("host").agg(F.count("*").alias("n"))
                    .collect()}
        assert per_host["host-0"] == int(n * 0.6)
        assert sum(per_host.values()) == n
        # dim attributes survived the co-located join exactly
        tiers = {r["host"]: r["tier"] for r in
                 joined.select("host", "tier").distinct().collect()}
        assert tiers["host-7"] == 2 and len(tiers) == 40
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_pages_skew")
        spark.sql("DROP TABLE IF EXISTS t_hosts_skew")


def test_bg_context_exit_waits_and_body_error_propagates():
    """The one overlap helper: leaving its ``with`` block waits for the
    worker even when the body raises, and the BODY's exception is the one
    that propagates; ``join()`` re-raises the worker's own error."""
    import threading

    from streaming_algorithms_spark.plans.queries import _Bg

    release = threading.Event()
    done = []

    def slow():
        release.wait(5)
        done.append(1)
        raise OSError("worker failed too")

    with pytest.raises(RuntimeError, match="body failed"):
        with _Bg(slow) as bg:
            threading.Timer(0.2, release.set).start()
            raise RuntimeError("body failed")
    assert done == [1] and not bg._t.is_alive()

    with _Bg(lambda: 1 / 0) as bad, _Bg(lambda: 7) as good:
        assert good.join() == 7
        with pytest.raises(ZeroDivisionError):
            bad.join()
