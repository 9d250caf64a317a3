"""Reduction arithmetic: percentiles, span self time, freshness attribution."""

import bisect
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it. Empty input gives None."""
    if not values:
        return None
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def weighted_percentile(pairs, p):
    """Nearest-rank percentile of (value, weight) pairs: the smallest value
    with at least p% of the total weight at or below it."""
    if not pairs:
        return None
    s = sorted(pairs)
    total = sum(w for _, w in s)
    acc = 0.0
    for v, w in s:
        acc += w
        if acc >= p / 100.0 * total - 1e-9:
            return v
    return s[-1][0]


def mix_weights(samples):
    """Weights for (client, shape, value) samples: each client keeps its
    share of the samples, and within a client every query shape weighs
    the same. Returns (value, weight) pairs."""
    per_client, per_shape, shapes = {}, {}, {}
    for client, shape, _ in samples:
        per_client[client] = per_client.get(client, 0) + 1
        per_shape[client, shape] = per_shape.get((client, shape), 0) + 1
        shapes.setdefault(client, set()).add(shape)
    total = len(samples)
    return [(v, per_client[c] / total / (len(shapes[c]) * per_shape[c, s]))
            for c, s, v in samples]


def highest_supported_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50), beyond=10):
    """The highest candidate percentile with at least `beyond` of `n`
    samples above it, or None when even the median is not supported."""
    for p in candidates:
        if n - math.ceil(p / 100.0 * n) >= beyond:
            return p
    return None


def self_times(spans):
    """Self time per span name: a span's duration minus the part of its
    interval that its children cover. `spans` holds
    (id, parent, trace, name, start, end) rows; returns {name: [ms, ...]}."""
    children = {}
    for s in spans:
        if s[1]:
            children.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for sid, _, _, name, start, end in spans:
        covered, cur = 0.0, None
        for a, b in sorted(children.get(sid, ())):
            a, b = max(a, start), min(b, end)
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out.setdefault(name, []).append(max(0.0, (end - start) - covered))
    return out


def attribute_freshness(ticks, probes, horizon):
    """Freshness of every row sent in batches due by `horizon`: the time
    from when its batch was due to the completion of the first probe whose
    answer includes it.

    Rows are visible as a prefix of the send order (one TCP stream, one
    appender), so a probe answering count `n` includes rows 1..n. `ticks`
    holds (due_ms, cumulative rows sent), `probes` (done_ms, count).
    A row no probe saw gets the lower bound `last probe - due`.
    Returns ([(freshness_ms, rows), ...], rows never seen by a probe)."""
    probes = sorted(probes)
    done = [d for d, _ in probes]
    last = done[-1] if done else horizon
    # Later rows are due later and need larger counts, so the answering
    # probe's index never moves backwards.
    out, unseen, prev, j0 = [], 0, 0, 0
    for due, cum in sorted(ticks, key=lambda t: t[1]):
        rows = cum - prev
        prev = cum
        if rows <= 0 or due > horizon:
            continue
        j = max(j0, bisect.bisect_left(done, due))
        while j < len(probes) and probes[j][1] < cum:
            j += 1
        if j == len(probes):
            unseen += rows
            out.append((max(0.0, last - due), rows))
            continue
        j0 = j
        out.append((probes[j][0] - due, rows))
    return out, unseen


def weighted(pairs):
    """Expand (value, weight) pairs into a flat list of values."""
    return [v for v, w in pairs for _ in range(w)]
