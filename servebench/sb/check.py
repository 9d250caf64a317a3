"""Answer checks against the generator's ground truth.

Each workload check returns (attempted, failed, wrong): `failed` lists
operations the server refused (a non-200 /query, a non-201 /write) and
`wrong` lists wrong answers and sent rows that never became queryable.
Both count as failures; only `wrong` makes a run incorrect.
"""

import bisect
import json
import math

# Visibility guarantees the checks rely on: the 10 s flush timer commits
# anything older than one period (plus slack for the flush itself), and a
# 1,000-row buffer commits a row once 1,000 later rows have arrived.
TIMER_SLACK_MS = 15000
SIZE_SLACK_MS = 5000
BUFFER_ROWS = 1000


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def compare(expected, body, anchor=0, anchored_key=None):
    """None when the JSON rows in `body` equal `expected` (row order
    included), else a short reason. `anchored_key` names a column that the
    generator stored as an offset from the run's anchor time."""
    try:
        got = json.loads(body)
    except (TypeError, ValueError):
        return f"unparseable body {str(body)[:80]!r}"
    if not isinstance(got, list):
        return f"not a row list: {str(body)[:80]!r}"
    if anchored_key:
        got = [dict(r, **{anchored_key: r[anchored_key] - anchor})
               if anchored_key in r else r for r in got]
    if len(got) != len(expected):
        return f"{len(got)} rows, expected {len(expected)}"
    for i, (g, e) in enumerate(zip(got, expected)):
        if set(g) != set(e) or not all(_same(g[k], e[k]) for k in e):
            return f"row {i}: got {g}, expected {e}"
    return None


class SendLog:
    """Rows of the measured capture store in visibility order, with the
    time each measured batch actually went out."""

    def __init__(self, truth, ticks):
        p = truth["packets"]
        r = truth["setup_reps"]
        self.rows = [p[r - 1]] + p[r:r + truth["measure"] + truth["burst"]]
        self.sent_at = [t[1] for t in ticks]
        self.cum = [t[2] for t in ticks]
        # Prefix aggregates: entry i covers the first i rows.
        self.invites, self.min_sport, self.max_dport = [0], [None], [None]
        for q in self.rows:
            self.invites.append(self.invites[-1] + ("INVITE" in q.payload))
            self.min_sport.append(min(q.sport, self.min_sport[-1] or q.sport))
            self.max_dport.append(max(q.dport, self.max_dport[-1] or q.dport))

    def sent_by(self, t):
        """Rows (set-up row included) written to the socket by time t."""
        i = bisect.bisect_right(self.sent_at, t)
        return 1 + (self.cum[i - 1] if i else 0)

    def bounds(self, t0, t1):
        """(fewest, most) rows a query running from t0 to t1 may see."""
        lo = max(self.sent_by(t0 - TIMER_SLACK_MS),
                 self.sent_by(t0 - SIZE_SLACK_MS) - BUFFER_ROWS, 1)
        return lo, self.sent_by(t1)


def capture_dash(log, shape, body, t0, t1):
    """Check one answer against the rows that can be visible while it ran.
    `shape` is "count" for the probe, else the dashboard query's index."""
    try:
        rows = json.loads(body)
    except (TypeError, ValueError):
        return f"unparseable body {str(body)[:80]!r}"
    lo, hi = log.bounds(t0, t1)
    if shape == "count":
        n = rows[0]["n"]
        return None if lo <= n <= hi else f"count {n} outside [{lo}, {hi}]"
    if shape == 0:  # count, min(src_port), max(dst_port)
        n = rows[0]["cnt"]
        if not lo <= n <= hi:
            return f"count {n} outside [{lo}, {hi}]"
        want = (log.min_sport[n], log.max_dport[n])
        got = (rows[0]["min_sp"], rows[0]["max_dp"])
        return None if got == want else f"ports {got}, expected {want} over {n} rows"
    if shape == 1:  # top sources
        low, high = {}, {}
        for i, q in enumerate(log.rows[:hi]):
            high[q.src] = high.get(q.src, 0) + 1
            if i < lo:
                low[q.src] = low.get(q.src, 0) + 1
        keys = [(-r["n"], r["src_ip"]) for r in rows]
        if keys != sorted(keys) or len(rows) > 10:
            return f"top sources out of order: {rows}"
        for r in rows:
            if not low.get(r["src_ip"], 0) <= r["n"] <= high.get(r["src_ip"], 0):
                return f"source {r['src_ip']} count {r['n']} impossible"
        return None
    if shape == 2:  # payload LIKE '%INVITE%'
        n = rows[0]["n"]
        a, b = log.invites[lo], log.invites[hi]
        return None if a <= n <= b else f"INVITE count {n} outside [{a}, {b}]"
    return f"unknown dashboard query {shape}"


def capture(truth, rec):
    """All capture checks."""
    log = SendLog(truth, rec["ticks"])
    failed, wrong = [], []
    for client, idx, t0, t1, status, body, *_ in rec["queries"]:
        if status != 200:
            failed.append(f"{client} query {idx}: status {status}: {str(body)[:160]}")
            continue
        why = capture_dash(log, "count" if client == "probe" else idx, body, t0, t1)
        if why:
            wrong.append(f"{client} query {idx}: {why}")
    for due, _, _, status in rec["writes"]:
        if status != 201:
            failed.append(f"write due at {due:.0f} ms: status {status}")
    wrong += capture_final(truth, rec)
    attempted = len(rec["queries"]) + len(rec["writes"]) + len(log.rows) + truth["lp_points"]
    return attempted, failed, wrong


def capture_final(truth, rec):
    """Every sent row queryable after the final flush, and the final
    compaction pass preserving the counts."""
    want = {"hep_1": 1 + truth["measure"] + truth["burst"], "cpu": truth["lp_points"]}
    fails = []
    if rec["burst"]["committed"] != want["hep_1"]:
        fails.append(f"burst: {rec['burst']['committed']} of {want['hep_1']} rows committed")
    for stage in ("before_compaction", "after_compaction"):
        for table, (status, body) in rec["final"][stage].items():
            why = compare([{"n": want[table]}], body) if status == 200 else f"status {status}"
            if why:
                fails.append(f"{table} rows {stage}: {why}")
    return fails


def exact(expected, anchored, rec, what):
    """Checks for workloads whose every answer is known exactly."""
    failed, wrong = [], []
    for client, idx, _, _, status, body, mode, _ in rec["queries"]:
        if status != 200:
            failed.append(f"{client} query {idx} ({what[idx]}): status {status}: "
                          f"{str(body)[:160]}")
            continue
        why = compare(expected[idx], body, rec.get("anchor_ms", 0), anchored[idx])
        if why:
            wrong.append(f"{client} query {idx} ({what[idx]}, {mode}): {why}")
    return len(rec["queries"]), failed, wrong
