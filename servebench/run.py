#!/usr/bin/env python3
"""ServeBench: the HEPop serving path, driven the way its users drive it.

    python3 servebench/run.py --workload capture --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (once per source change),
generates the workload's inputs from the seed, runs the in-process server
and load generator (servebench.Main), checks every answer against the
generator's ground truth, prints every metric as a bare `name value unit`
line, writes the full record to servebench/results/, and prints one JSON
summary as the last line. With --trace 0 the summary carries the
end-to-end metrics; with --trace 1 it runs the same seed untraced and then
traced, and carries the per-layer metrics plus the tracing overhead.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
sys.path.insert(0, HERE)

from sb import check, gen, stats  # noqa: E402
from sb.metrics import END_TO_END, PER_LAYER, end_to_end, per_layer  # noqa: E402

WORKLOADS = ("capture", "investigate", "llm_views")
SETUP_REPS = 3
HEAP = "4g"
RUN_LIMIT_S = 170
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        die(f"engine sources not found under {os.path.relpath(engine)}")
    h = hashlib.sha256()
    roots = [engine, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; returns the java classpath."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    os.makedirs(WORK, exist_ok=True)
    if not (os.path.isdir(classes) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdin=subprocess.DEVNULL,
                                stdout=out, stderr=subprocess.STDOUT, timeout=840).returncode
        if rc != 0:
            die(f"build failed (sbt exit {rc}); see {os.path.relpath(log, ROOT)}")
        with open(stamp, "w") as f:
            f.write(digest)
    return classes + os.pathsep + "/opt/spark/jars/*"


def run_harness(cp, workload, seed, seconds, trace, deadline):
    """One in-process server run; returns (record, truth)."""
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if workload == "capture":
        plan, truth = gen.capture(seed, seconds, SETUP_REPS, run_dir)
    elif workload == "investigate":
        plan, truth = gen.investigate(seed, SETUP_REPS, run_dir)
    else:
        corpus = os.path.join(WORK, "corpus")
        gen.corpus(corpus)
        plan, truth = gen.llm_views(seed, os.path.relpath(corpus, run_dir))
    plan.update(seconds=seconds, trace=trace, setup_reps=SETUP_REPS)
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dgraft.artifacts={os.path.join(WORK, 'artifacts')}", "-cp", cp, "servebench.Main",
           run_dir]
    with open(os.path.join(run_dir, "stdout.log"), "w") as out, \
            open(os.path.join(run_dir, "stderr.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=out, stderr=err)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    rec_path = os.path.join(run_dir, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        with open(os.path.join(run_dir, "stderr.log")) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"harness failed ({rc}):\n{tail}")
    with open(rec_path) as f:
        rec = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    return rec, truth


REFERENCE = os.path.join(HERE, "reference", "llm_views.json")


def oracle_rows(sql, corpus):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, (v if isinstance(v, (int, float, str)) or v is None else float(v)
                            for v in r))) for r in cur.fetchall()]


def write_reference(rec, truth):
    """Fix the llm_views reference answers against the fixed corpus: the
    DuckDB oracle's rows where one exists (the engine's answer must match
    them), else the engine's first answer. Done once, at creation."""
    corpus = os.path.join(WORK, "corpus")
    first = {}
    for q in rec["queries"]:
        if q[4] == 200:
            first.setdefault(truth["views"][q[1]], q[5])
    answers = {}
    for view in gen.LLM_VIEWS:
        if view in gen.LLM_ORACLES:
            kind, text = gen.LLM_ORACLES[view]
            rows = oracle_rows(rec["oracles"][text] if kind == "declared" else text, corpus)
            why = check.compare(rows, first[view])
            if why:
                die(f"{view}: engine disagrees with its DuckDB oracle: {why}")
            answers[view] = {"source": f"duckdb oracle ({text if kind == 'declared' else 'sql'})",
                             "rows": rows}
        else:
            answers[view] = {"source": "engine at benchmark creation",
                             "rows": json.loads(first[view])}
    os.makedirs(os.path.dirname(REFERENCE), exist_ok=True)
    with open(REFERENCE, "w") as f:
        json.dump({"corpus": gen.corpus_digest(corpus), "answers": answers}, f, indent=1,
                  sort_keys=True)


def llm_expected():
    """Expected rows per llm view, fixed against the corpus at creation."""
    with open(REFERENCE) as f:
        ref = json.load(f)
    digest = gen.corpus_digest(os.path.join(WORK, "corpus"))
    if ref["corpus"] != digest:
        die(f"llm corpus digest {digest} does not match the reference's {ref['corpus']}")
    return {v: a["rows"] for v, a in ref["answers"].items()}


def checks(workload, rec, truth):
    if workload == "capture":
        return check.capture(truth, rec)
    if workload == "investigate":
        return check.exact(truth["expected"], truth["anchored"], rec, truth["kinds"])
    exp = llm_expected()
    return check.exact([exp[v] for v in truth["views"]], [None] * len(truth["views"]),
                       rec, truth["views"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-reference", action="store_true",
                    help="llm_views only: fix the reference answers from this run")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    # The run limit starts after the build: a checkout's first run builds.
    deadline = time.time() + RUN_LIMIT_S

    if a.write_reference:
        rec, truth = run_harness(cp, a.workload, a.seed, a.seconds, 0, deadline)
        write_reference(rec, truth)
        return

    # A traced run reports its overhead against an untraced run of the
    # same workload and seed, made first, in the same invocation.
    # Its answers are checked and counted like the traced run's.
    untraced, attempted0, failed0, wrong0 = None, 0, [], []
    if a.trace:
        rec, truth = run_harness(cp, a.workload, a.seed, a.seconds, 0,
                                 time.time() + (deadline - time.time()) / 2)
        attempted0, failed0, wrong0 = checks(a.workload, rec, truth)
        untraced = end_to_end(a.workload, rec, attempted0, len(failed0) + len(wrong0))

    rec, truth = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, deadline)
    attempted, failed, wrong = checks(a.workload, rec, truth)
    e2e = end_to_end(a.workload, rec, attempted, len(failed) + len(wrong))
    attempted, failed, wrong = attempted0 + attempted, failed0 + failed, wrong0 + wrong
    layers = {}
    if a.trace:
        layers = per_layer(a.workload, rec, truth)
        # failed_ratio comes from the untraced run; the overhead compares
        # HTTP query latency traced vs untraced.
        layers["failed_ratio"] = untraced["failed_ratio"]
        layers["trace.overhead_query_p50_ms"] = (
            layers["trace.query_p50_ms"][0] - untraced["query_p50_ms"][0], "ms")
    os.makedirs(RESULTS, exist_ok=True)
    out = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
           "attempted": attempted, "failed": failed, "wrong": wrong,
           "end_to_end": e2e, "per_layer": layers,
           "untraced_end_to_end": untraced,
           "self_ms": stats_self(rec) if a.trace else None,
           "by_query": by_query(rec),
           "queries": [q[:5] + q[6:] for q in rec["queries"]],
           "record": {k: v for k, v in rec.items() if k not in ("queries", "spans", "samples")}}
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(out, f, indent=1, default=str)

    for f in failed[:10]:
        print(f"FAILED {f}")
    for f in wrong[:10]:
        print(f"WRONG {f}")
    shown, names = (layers, PER_LAYER) if a.trace else (e2e, END_TO_END)
    for name, (value, unit) in {**e2e, **layers}.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not wrong, "attempted": attempted, "failed": len(failed) + len(wrong),
        "metrics": {n: {"value": shown[n][0], "unit": shown[n][1]} for n in names}}))


def by_query(rec):
    """Latency per (client, query index, path): samples, p50, p90."""
    groups = {}
    for q in rec["queries"]:
        groups.setdefault(f"{q[0]}/{q[1]}/{q[6]}", []).append(q[3] - q[2])
    return {k: [len(v), stats.percentile(v, 50), stats.percentile(v, 90)]
            for k, v in sorted(groups.items())}


def stats_self(rec):
    return {k: stats.percentile(v, 50) for k, v in stats.self_times(rec.get("spans", [])).items()}


if __name__ == "__main__":
    main()
