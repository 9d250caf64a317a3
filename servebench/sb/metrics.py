"""Metrics from a run's record: end-to-end (untraced) and per layer (traced).

Each function returns {name: (value, unit)}. A layer that does no work in
a workload reports 0 (its count is zero; so is its busy time).
"""

import json

from . import gen, stats

# Bounded in BENCHMARK.json: defined on every workload and never 0.
END_TO_END = ["setup_s", "query_p50_ms", "query_p90_ms", "query_per_s"]

PER_LAYER = [
    "ingest.HepV3.decode_us_p50",
    "ingest.BufferedAppender.append_us_p50", "ingest.BufferedAppender.append_us_p99",
    "ingest.BufferedAppender.flushes", "ingest.BufferedAppender.flush_ms_p50",
    "ingest.BufferedAppender.flush_ms_p99", "ingest.BufferedAppender.rows_per_flush",
    "ingest.WalFiles.bytes_per_row", "ingest.LineProtocol.parse_us_per_line",
    "core.Manifest.entries", "core.Manifest.bytes", "core.Manifest.load_ms",
    "graftshim.ManifestFileIndex.files_considered", "graftshim.ManifestFileIndex.files_kept",
    "graftshim.ManifestFileIndex.kept_ratio",
    "query.Dialect.parse_ms_p50", "query.QueryService.resolve_ms_p50",
    "catalyst.analysis_ms_p50", "catalyst.optimization_ms_p50", "catalyst.planning_ms_p50",
    "exec.ms_p50", "exec.jobs_per_query", "exec.stages_per_query", "exec.tasks_per_query",
    "api.HttpApi.overhead_ms_p50",
    "compact.Compactor.passes", "compact.Compactor.pass_ms_p50", "compact.Compactor.pass_ms_max",
    "compact.Compactor.bytes_rewritten_per_row", "compact.Compactor.files_after",
] + [f"ops.{v}.ms_p50" for v in gen.LLM_VIEWS] + [
    "query.LlmViews.first_touch_s", "setup.cold_first_answer_s", "loadgen.lag_p99_ms", "jvm.gc_ms_per_s", "failed_ratio",
    "trace.query_p50_ms", "trace.overhead_query_p50_ms",
]


FRESH_TAIL_MS = 3000


def _p(values, p):
    v = stats.percentile(values, p)
    return 0.0 if v is None else float(v)


def _median(values):
    return _p(values, 50)


def _measure_s(rec):
    m = rec["measure"]
    return (m["end_ms"] - m["start_ms"]) / 1e3


def end_to_end(workload, rec, attempted, failed):
    lat = [q[3] - q[2] for q in rec["queries"]]
    # Within each client every query shape weighs the same, so the
    # percentiles describe the client's query list rather than whichever
    # shapes one run's window happened to repeat.
    mix = stats.mix_weights([(q[0], q[1], q[3] - q[2]) for q in rec["queries"]])
    out = {
        # Set-up is repeated in one JVM and the median repetition counts,
        # so that setup_s is steady; the first, cold repetition is
        # reported apart (setup.cold_first_answer_s).
        "setup_s": (rec["boot_s"] + _median(rec["setup_reps_s"]) + rec["warmup_s"], "s"),
        "setup.cold_first_answer_s": (_cold_s(rec), "s"),
        "query_p50_ms": (stats.weighted_percentile(mix, 50) or 0.0, "ms"),
        "query_p90_ms": (stats.weighted_percentile(mix, 90) or 0.0, "ms"),
        "query_per_s": (len(lat) / _measure_s(rec), "1/s"),
        "query_samples": (len(lat), "count"),
        "query_highest_supported_percentile": (
            stats.highest_supported_percentile(len(lat)) or 0, "pct"),
    }
    if workload == "capture":
        probes = [(q[3], _count(q[5])) for q in rec["queries"] if q[0] == "probe" and q[4] == 200]
        # Rows due in the last FRESH_TAIL_MS have no later probes to see
        # them within the run, so freshness covers the rows due before.
        fresh, unseen = stats.attribute_freshness(
            [(t[0], t[2]) for t in rec["ticks"]], probes,
            rec["measure"]["end_ms"] - FRESH_TAIL_MS)
        rows = stats.weighted(fresh)
        writes = [w[2] - w[0] for w in rec["writes"]]
        f = rec["final"]
        stored_rows = _count(f["after_compaction"]["hep_1"][1]) + _count(
            f["after_compaction"]["cpu"][1])
        out.update({
            "freshness_p50_ms": (_p(rows, 50), "ms"),
            "freshness_p90_ms": (_p(rows, 90), "ms"),
            "freshness_unseen_rows": (unseen, "count"),
            "write_p50_ms": (_p(writes, 50), "ms"),
            "write_p90_ms": (_p(writes, 90), "ms"),
            "ingest_peak_rows_per_s": (rec["burst"]["frames"] / rec["burst"]["seconds"], "rows/s"),
            "stored_bytes_per_row": (f["stored_bytes"] / max(1, stored_rows), "B/row"),
        })
    out["failed_ratio"] = (failed / max(1, attempted), "ratio")
    return out


def _cold_s(rec):
    """Process start to the first answered request of the first server."""
    return rec["boot_s"] + rec["setup_reps_s"][0]


def _count(body):
    try:
        r = json.loads(body)[0]
        return int(r.get("n", r.get("cnt", 0)))
    except (ValueError, TypeError, IndexError, KeyError, AttributeError):
        return 0


def per_layer(workload, rec, truth):
    s = rec.get("samples", {})
    c = rec.get("counters", {})
    spans = rec.get("spans", [])
    out = {name: (0.0, _unit(name)) for name in PER_LAYER}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    us = lambda k, p: _p([v * 1000 for v in s.get(k, [])], p)
    put("ingest.HepV3.decode_us_p50", us("hep.decode_ms", 50), "us")
    put("ingest.BufferedAppender.append_us_p50", us("append.append_ms", 50), "us")
    put("ingest.BufferedAppender.append_us_p99", us("append.append_ms", 99), "us")
    put("ingest.BufferedAppender.flushes", len(s.get("append.flush_ms", [])), "count")
    put("ingest.BufferedAppender.flush_ms_p50", _p(s.get("append.flush_ms", []), 50), "ms")
    put("ingest.BufferedAppender.flush_ms_p99", _p(s.get("append.flush_ms", []), 99), "ms")
    put("ingest.BufferedAppender.rows_per_flush", _median(s.get("append.rows_per_flush", [])),
        "rows")
    fin = rec.get("final", {})
    put("ingest.WalFiles.bytes_per_row", fin.get("wal_bytes", 0) / max(1, fin.get("wal_rows", 0)),
        "B/row")
    put("ingest.LineProtocol.parse_us_per_line", us("lp.parse_ms_per_line", 50), "us")
    put("core.Manifest.entries", _median(s.get("manifest.entries", [])), "count")
    put("core.Manifest.bytes", _median(s.get("manifest.bytes", [])), "B")
    put("core.Manifest.load_ms", _median(s.get("manifest.load_ms", [])), "ms")
    scans = max(1, c.get("prune.scans", 0))
    considered, kept = c.get("prune.files_considered", 0), c.get("prune.files_kept", 0)
    put("graftshim.ManifestFileIndex.files_considered", considered / scans, "files/scan")
    put("graftshim.ManifestFileIndex.files_kept", kept / scans, "files/scan")
    put("graftshim.ManifestFileIndex.kept_ratio", kept / considered if considered else 0, "ratio")

    # The traced query path: one span tree per in-process query.
    by_trace = {}
    for sp in spans:
        if sp[2]:
            by_trace.setdefault(sp[2], {})[sp[3]] = sp
    selfs = {}
    for tid, tree in by_trace.items():
        own = stats.self_times(list(tree.values()))
        for k, v in own.items():
            selfs.setdefault(k, []).extend(v)
        if "query.Dialect.parse" in tree and "query.QueryService.execute" in tree:
            # execute re-parses internally; its self time minus one parse
            # is the resolution work (views, time range, relation).
            parse = tree["query.Dialect.parse"][5] - tree["query.Dialect.parse"][4]
            selfs.setdefault("resolve", []).append(
                max(0.0, own["query.QueryService.execute"][0] - parse))
    dur = lambda name: [sp[5] - sp[4] for t in by_trace.values() for n, sp in t.items() if n == name]
    put("query.Dialect.parse_ms_p50", _median(dur("query.Dialect.parse")), "ms")
    put("query.QueryService.resolve_ms_p50", _median(selfs.get("resolve", [])), "ms")
    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_ms_p50", _median(dur(f"catalyst.{ph}")), "ms")

    jobs = rec.get("jobs", {})
    traced_ids = [tid for tid, t in by_trace.items() if "query" in t]
    foot = [jobs.get(f"sbq-{tid}", [0, 0, 0, 0]) for tid in traced_ids]
    n = max(1, len(foot))
    put("exec.ms_p50", _median([f[3] for f in foot]), "ms")
    put("exec.jobs_per_query", sum(f[0] for f in foot) / n, "count")
    put("exec.stages_per_query", sum(f[1] for f in foot) / n, "count")
    put("exec.tasks_per_query", sum(f[2] for f in foot) / n, "count")

    # HTTP overhead: per query shape, client latency over HTTP minus the
    # in-process latency of the same query; median across shapes.
    http, inproc = {}, {}
    for q in rec["queries"]:
        (http if q[6] == "http" else inproc).setdefault((q[0], q[1]), []).append(q[3] - q[2])
    diffs = [_median(http[k]) - _median(inproc[k]) for k in http if k in inproc]
    put("api.HttpApi.overhead_ms_p50", _median(diffs), "ms")

    passes = s.get("compact.pass_ms", [])
    put("compact.Compactor.passes", len(passes), "count")
    put("compact.Compactor.pass_ms_p50", _p(passes, 50), "ms")
    put("compact.Compactor.pass_ms_max", max(passes) if passes else 0, "ms")
    # Compacted bytes the measured server wrote per row it ingested.
    put("compact.Compactor.bytes_rewritten_per_row",
        fin.get("compacted_bytes", 0) / max(1, fin.get("wal_rows", 0)), "B/row")
    put("compact.Compactor.files_after", fin.get("files_after", 0), "count")

    if workload == "llm_views":
        # In-process time of each view's query (no HTTP), by view.
        by_view = {}
        for q in rec["queries"]:
            tree = by_trace.get(q[7], {})
            if "query" in tree:
                by_view.setdefault(truth["views"][q[1]], []).append(
                    tree["query"][5] - tree["query"][4])
        for v in gen.LLM_VIEWS:
            put(f"ops.{v}.ms_p50", _median(by_view.get(v, [])), "ms")
        put("query.LlmViews.first_touch_s", _median(rec.get("first_touch_s", [])), "s")

    put("setup.cold_first_answer_s", _cold_s(rec), "s")
    lags = [t[1] - t[0] for t in rec.get("ticks", [])] + [w[1] - w[0] for w in rec.get("writes", [])]
    put("loadgen.lag_p99_ms", _p(lags, 99), "ms")
    put("jvm.gc_ms_per_s", rec["measure"]["gc_ms"] / _measure_s(rec), "ms/s")
    # Same definition as the untraced query_p50_ms, over the HTTP requests.
    mix = stats.mix_weights([(q[0], q[1], q[3] - q[2]) for q in rec["queries"] if q[6] == "http"])
    put("trace.query_p50_ms", stats.weighted_percentile(mix, 50) or 0.0, "ms")
    return out


def _unit(name):
    tokens = name.split(".")[-1].split("_")
    if tokens[-1] == "ratio":
        return "ratio"
    for unit in ("us", "ms", "s"):
        if unit in tokens:
            return unit
    return "count"
