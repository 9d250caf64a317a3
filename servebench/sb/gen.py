"""Seeded input generation with generator-side ground truth.

Every input the server sees is produced here from the seed: HEPv3 frames
(SIP calls with their Call-IDs, source/destination spread), Line Protocol
points and the query lists each client cycles through. Alongside the bytes,
the generator keeps what it sent, so answers are checked against this
ground truth and never against the engine's own output.
"""

import hashlib
import os
import random
import struct

# HEPv3 chunk type ids (generic vendor 0).
_FAMILY, _PROTO, _SRC4, _DST4, _SPORT, _DPORT = 1, 2, 3, 4, 7, 8
_TSEC, _TUSEC, _PTYPE, _CAPID, _PAYLOAD, _CORR = 9, 10, 11, 12, 15, 17

# The harness overwrites the time chunks in place: with the chunk order
# below, the seconds body sits at byte 62 and the microseconds body at 72.
TSEC_AT, TUSEC_AT = 62, 72


def _chunk(ctype, body):
    return struct.pack(">HHH", 0, ctype, 6 + len(body)) + body


def hep_frame(src, dst, sport, dport, call_id, payload, time_ms=0):
    ip = lambda s: bytes(int(x) for x in s.split("."))
    body = b"".join([
        _chunk(_FAMILY, b"\x02"), _chunk(_PROTO, b"\x11"),
        _chunk(_SRC4, ip(src)), _chunk(_DST4, ip(dst)),
        _chunk(_SPORT, struct.pack(">H", sport)), _chunk(_DPORT, struct.pack(">H", dport)),
        _chunk(_TSEC, struct.pack(">I", time_ms // 1000)),
        _chunk(_TUSEC, struct.pack(">I", (time_ms % 1000) * 1000)),
        _chunk(_PTYPE, b"\x01"), _chunk(_CAPID, struct.pack(">I", 2001)),
        _chunk(_CORR, call_id.encode()), _chunk(_PAYLOAD, payload.encode()),
    ])
    return b"HEP3" + struct.pack(">H", 6 + len(body)) + body


_FLOW = [  # (message, direction: 0 = caller -> proxy, 1 = back, CSeq method)
    ("INVITE", 0, "INVITE"), ("100 Trying", 1, "INVITE"), ("180 Ringing", 1, "INVITE"),
    ("200 OK", 1, "INVITE"), ("ACK", 0, "ACK"), ("BYE", 0, "BYE"), ("200 OK", 1, "BYE")]


def _sip(msg, call_id, method, src):
    head = f"SIP/2.0 {msg}" if msg[0].isdigit() else f"{msg} sip:user@example.org SIP/2.0"
    return (f"{head}\r\nVia: SIP/2.0/UDP {src}:5060\r\nCall-ID: {call_id}\r\n"
            f"CSeq: 1 {method}\r\nFrom: <sip:a@example.org>;tag=1\r\n"
            f"To: <sip:b@example.org>\r\nContent-Length: 0\r\n\r\n")


class Packet:
    __slots__ = ("src", "dst", "sport", "dport", "call_id", "payload", "off_ms")

    def __init__(self, src, dst, sport, dport, call_id, payload, off_ms):
        self.src, self.dst, self.sport, self.dport = src, dst, sport, dport
        self.call_id, self.payload, self.off_ms = call_id, payload, off_ms

    def frame(self):
        return hep_frame(self.src, self.dst, self.sport, self.dport,
                         self.call_id, self.payload)


def sip_calls(rng, n_packets, tag, times=None, n_src=400, n_dst=16, active=24):
    """`n_packets` SIP messages. Without `times`, `active` calls run at once
    and their messages interleave; with `times` (call start offsets, ms)
    each call's messages are emitted together, carrying their offsets."""
    srcs = sorted({f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                   for _ in range(n_src)})
    dsts = sorted({f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                   for _ in range(n_dst)})
    # Zipf-like popularity: a few busy callers, a long tail.
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(srcs))]
    rng.shuffle(weights)
    cum = [sum(weights[:i + 1]) for i in range(len(weights))]
    out, live, serial = [], [], 0

    def new_call(start):
        nonlocal serial
        serial += 1
        return {"id": f"{tag}-{serial:07d}@sb", "caller": rng.choices(srcs, cum_weights=cum)[0],
                "proxy": rng.choice(dsts), "port": rng.choice((5060, 5060, 5061, 5080)),
                "step": 0, "t": start}

    def emit(call):
        msg, back, method = _FLOW[call["step"]]
        src, dst = (call["proxy"], call["caller"]) if back else (call["caller"], call["proxy"])
        sp, dp = (5060, call["port"]) if back else (call["port"], 5060)
        out.append(Packet(src, dst, sp, dp, call["id"], _sip(msg, call["id"], method, src),
                          call["t"]))
        call["step"] += 1
        call["t"] += rng.randrange(20, 2500)

    if times is None:
        while len(out) < n_packets:
            while len(live) < active:
                live.append(new_call(0))
            call = rng.choice(live)
            emit(call)
            if call["step"] == len(_FLOW):
                live.remove(call)
    else:
        for start in times:
            call = new_call(start)
            while call["step"] < len(_FLOW) and len(out) < n_packets:
                emit(call)
    return out


def _write_frames(path, packets):
    with open(path, "wb") as f:
        for p in packets:
            f.write(p.frame())


def _write_offsets(path, offs):
    with open(path, "wb") as f:
        f.write(struct.pack(f"<{len(offs)}q", *offs))


# ---------------------------------------------------------------- capture

CAPTURE = dict(rate=5000, tick_ms=10, burst=20000, lp_batch=25, lp_period_ms=50,
               flush_ms=10000, compact_ms=5000, raw_age_ms=0)

DASH = [
    "SELECT count() AS cnt, min(src_port) AS min_sp, max(dst_port) AS max_dp FROM hep_1",
    "SELECT src_ip, count() AS n FROM hep_1 GROUP BY src_ip ORDER BY n DESC, src_ip LIMIT 10",
    "SELECT count() AS n FROM hep_1 WHERE payload LIKE '%INVITE%'",
]
PROBE = "SELECT count() AS n FROM hep_1"


def capture(seed, seconds, setup_reps, out_dir):
    rng = random.Random(seed)
    c = CAPTURE
    per_tick = c["rate"] * c["tick_ms"] // 1000
    measure = per_tick * int(seconds * 1000 / c["tick_ms"])
    packets = sip_calls(rng, setup_reps + measure + c["burst"], f"c{seed}")
    _write_frames(os.path.join(out_dir, "hep.bin"), packets)
    n_batches = int(seconds * 1000 / c["lp_period_ms"])
    lines = [f"cpu,host=h{rng.randrange(12)},region=r{rng.randrange(3)} "
             f"usage_idle={rng.uniform(0, 100):.3f},usage_user={rng.uniform(0, 50):.3f},"
             f"procs={rng.randrange(50, 400)}i"
             for _ in range(n_batches * c["lp_batch"])]
    with open(os.path.join(out_dir, "lp.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    plan = {
        "workload": "capture", "hep_frames": "hep.bin", "lp_lines": "lp.txt",
        "hep": {"measure": measure, "burst": c["burst"], "per_tick": per_tick,
                "tick_ms": c["tick_ms"]},
        "lp": {"batch": c["lp_batch"], "period_ms": c["lp_period_ms"]},
        "cadence": {"flush_ms": c["flush_ms"], "compact_ms": c["compact_ms"],
                    "raw_age_ms": c["raw_age_ms"]},
        "clients": [{"name": "dash", "queries": DASH, "start": rng.randrange(len(DASH))},
                    {"name": "probe", "queries": [PROBE], "start": 0}],
        "warmup": DASH + [PROBE],
    }
    truth = {"packets": packets, "setup_reps": setup_reps, "measure": measure,
             "burst": c["burst"], "lp_points": len(lines)}
    return plan, truth


# ------------------------------------------------------------ investigate

INVESTIGATE = dict(hours=6, hep_rows=20000, lp_hours=2, lp_rows=3000, raw_age_ms=3600000)
HOUR = 3600000


def _window(rng, span_ms, width_ms):
    return -(rng.randrange(width_ms // 1000, span_ms // 1000 + 1)) * 1000


def investigate(seed, setup_reps, out_dir):
    rng = random.Random(seed)
    c = INVESTIGATE
    span = c["hours"] * HOUR
    n_calls = c["hep_rows"] // len(_FLOW) + 1
    starts = sorted(-rng.randrange(90000, span - 60000) for _ in range(n_calls))
    packets = sip_calls(rng, c["hep_rows"], f"i{seed}", times=starts)
    packets.sort(key=lambda p: p.off_ms)
    _write_frames(os.path.join(out_dir, "store_hep.bin"), packets)
    _write_offsets(os.path.join(out_dir, "store_hep_off.bin"), [p.off_ms for p in packets])

    lp_span = c["lp_hours"] * HOUR
    lp = sorted((-rng.randrange(60000, lp_span), f"h{rng.randrange(10)}", rng.randrange(4),
                 rng.randrange(1, 10 ** 6), rng.randrange(1, 1000)) for _ in range(c["lp_rows"]))
    with open(os.path.join(out_dir, "store_lp.txt"), "w") as f:
        for _, h, i, b, p in lp:
            f.write(f"net,host={h},iface=eth{i} bytes={b}i,packets={p}i\n")
    _write_offsets(os.path.join(out_dir, "store_lp_off.bin"), [r[0] for r in lp])

    t = lambda off: "TIMESTAMP '{t:%d}'" % off
    where = lambda lo, hi: f"time >= {t(lo)} AND time < {t(hi)}"
    in_win = lambda lo, hi: [p for p in packets if lo <= p.off_ms < hi]

    def callid():
        calls = {}
        for p in packets:
            calls.setdefault(p.call_id, []).append(p)
        cid = rng.choice(sorted(calls))
        first = calls[cid][0].off_ms
        lo = (first // 1000 - rng.randrange(0, 3000)) * 1000
        hi = lo + HOUR
        rows = sorted((p.off_ms, p.src, p.dst) for p in calls[cid] if lo <= p.off_ms < hi)
        sql = (f"SELECT unix_millis(timestamp) AS ms, src_ip, dst_ip FROM hep_1 "
               f"WHERE {where(lo, hi)} AND payload LIKE '%Call-ID: {cid}%' "
               f"ORDER BY ms, src_ip, dst_ip")
        return sql, [{"ms": m, "src_ip": s, "dst_ip": d} for m, s, d in rows], "ms"

    def per_source(width):
        lo = _window(rng, span, width)
        n = {}
        for p in in_win(lo, lo + width):
            n[p.src] = n.get(p.src, 0) + 1
        top = sorted(n.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        sql = (f"SELECT src_ip, count(*) AS n FROM hep_1 WHERE {where(lo, lo + width)} "
               f"GROUP BY src_ip ORDER BY n DESC, src_ip LIMIT 10")
        return sql, [{"src_ip": s, "n": k} for s, k in top], None

    def wide(hours):
        lo, hi = -hours * HOUR - 60000, 0
        agg = {}
        for p in in_win(lo, hi):
            a = agg.setdefault(p.dst, [0, set()])
            a[0] += 1
            a[1].add(p.src)
        sql = (f"SELECT dst_ip, count(*) AS n, count(DISTINCT src_ip) AS srcs FROM hep_1 "
               f"WHERE {where(lo, hi)} GROUP BY dst_ip ORDER BY dst_ip")
        return sql, [{"dst_ip": d, "n": a[0], "srcs": len(a[1])} for d, a in sorted(agg.items())], None

    def lp_agg():
        lo = _window(rng, lp_span, HOUR)
        agg = {}
        for off, h, _, b, _ in lp:
            if lo <= off < lo + HOUR:
                a = agg.setdefault(h, [0, 0])
                a[0] += 1
                a[1] += b
        sql = (f"SELECT get_json_object(tags, '$.host') AS host, count(*) AS n, "
               f"sum(bytes) AS bytes FROM net WHERE {where(lo, lo + HOUR)} "
               f"GROUP BY host ORDER BY host")
        return sql, [{"host": h, "n": a[0], "bytes": a[1]} for h, a in sorted(agg.items())], None

    mix = []
    for i in range(4):
        mix += [callid(), per_source(600000), per_source(HOUR), lp_agg()]
        if i % 2 == 1:
            mix.append(wide(c["hours"] if i == 1 else 3))
    queries = [q for q, _, _ in mix]
    plan = {
        "workload": "investigate", "store_hep": "store_hep.bin",
        "store_hep_offsets": "store_hep_off.bin", "store_lp": "store_lp.txt",
        "store_lp_offsets": "store_lp_off.bin",
        "store": {"compact_raw_age_ms": c["raw_age_ms"]},
        "clients": [{"name": "a", "queries": queries, "start": 0},
                    {"name": "b", "queries": queries, "start": len(queries) // 2}],
        "warmup": [queries[[_kind(q) for q in queries].index(k)]
                   for k in ("callid", "per_source", "lp", "wide")],
    }
    truth = {"expected": [e for _, e, _ in mix], "anchored": [a for _, _, a in mix],
             "kinds": [_kind(q) for q in queries],
             "hep_rows": len(packets), "lp_rows": len(lp)}
    return plan, truth


def _kind(sql):
    if "Call-ID" in sql:
        return "callid"
    if "FROM net" in sql:
        return "lp"
    if "dst_ip" in sql and "GROUP BY dst_ip" in sql:
        return "wide"
    return "per_source"


# -------------------------------------------------------------- llm_views

# One fixed corpus: the reference answers below were fixed against it when
# the benchmark was created. The seed picks each client's place in the list.
CORPUS_SEED, N_DOCS, N_VECS, DIM = 7, 2000, 800, 64
LLM_VIEWS = ["llm_exact_dedup", "llm_near_dup_pairs", "llm_quality", "llm_langid",
             "llm_cosine_topk", "llm_pq_topk", "llm_mmr_topk", "llm_weighted_sample"]
LLM_QUERIES = [
    ("llm_exact_dedup", "SELECT count(*) AS classes, sum(copies) AS docs, "
     "sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS dup_classes FROM llm_exact_dedup"),
    ("llm_near_dup_pairs", "SELECT doc_a, doc_b, j_x10k FROM llm_near_dup_pairs "
     "WHERE j_x10k >= 6000 ORDER BY doc_a, doc_b"),
    ("llm_quality", "SELECT doc_id, n_tokens, quality_x10k FROM llm_quality "
     "WHERE quality_x10k >= 5000 ORDER BY doc_id LIMIT 100"),
    ("llm_langid", "SELECT lang_guess, count(*) AS n FROM llm_langid "
     "GROUP BY lang_guess ORDER BY lang_guess"),
    ("llm_cosine_topk", "SELECT count(*) AS n, sum(cos_x10k) AS s FROM llm_cosine_topk"),
    ("llm_pq_topk", "SELECT query_id, neighbor_id, pqdot_x10k FROM llm_pq_topk "
     "ORDER BY query_id, pqdot_x10k DESC, neighbor_id"),
    ("llm_mmr_topk", "SELECT query_id, rank, neighbor_id, mmr_score FROM llm_mmr_topk "
     "WHERE rank <= 2 ORDER BY query_id, rank"),
    ("llm_weighted_sample", "SELECT lang, count(*) AS n, sum(n_chars) AS chars "
     "FROM llm_weighted_sample GROUP BY lang ORDER BY lang"),
]
# DuckDB oracles: the engine's own declared oracle where DeclaredLlmSql has
# one (by declared name, read from the engine), else SQL here.
LLM_ORACLES = {
    "llm_near_dup_pairs": ("declared", "h5_llm_sql_dedup"),
    "llm_quality": ("declared", "h6_llm_sql_quality"),
    "llm_mmr_topk": ("declared", "h7_llm_sql_mmr"),
    "llm_exact_dedup": ("sql", "SELECT count(*) AS classes, sum(c) AS docs, "
                        "sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS dup_classes "
                        "FROM (SELECT text, count(*) AS c FROM documents GROUP BY text)"),
}

_WORDS = ("the a of data spark query table scan filter join hash sort order line "
          "part value column stream batch fast slow small large key group agg "
          "vector index shard merge plan cost cache disk memory node task stage").split()
_LANGS = ["en"] * 8 + ["de", "de", "fr", "fr", "es", "es", "zh", "zh"]


def corpus(dir_):
    """The llm_views corpus (documents, embeddings), written once per
    checkout with pyarrow in the engine's testdata schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs_p = os.path.join(dir_, "documents.parquet")
    emb_p = os.path.join(dir_, "embeddings.parquet")
    if os.path.exists(docs_p) and os.path.exists(emb_p):
        return
    os.makedirs(dir_, exist_ok=True)
    rng = random.Random(CORPUS_SEED)
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if texts and r < 0.03:
            t = rng.choice(texts)
        elif texts and r < 0.11:
            w = rng.choice(texts).split(" ")
            for _ in range(rng.randrange(1, 3)):
                w[rng.randrange(len(w))] = rng.choice(_WORDS)
            t = " ".join(w)
        else:
            t = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(4, 90)))
        texts.append(t)
    docs = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    labels = [rng.randrange(10) for _ in range(N_VECS)]
    vecs = [[c + rng.gauss(0, 0.6) for c in centers[l]] for l in labels]
    emb = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for t, p in ((docs, docs_p), (emb, emb_p)):
        pq.write_table(t, p + ".tmp")
        os.replace(p + ".tmp", p)


def corpus_digest(dir_):
    """Digest of the corpus rows (not the file bytes, which carry the
    writer's version)."""
    import pyarrow.parquet as pq
    h = hashlib.sha256()
    for n in ("documents.parquet", "embeddings.parquet"):
        h.update(repr(pq.read_table(os.path.join(dir_, n)).to_pydict()).encode())
    return h.hexdigest()[:16]


def llm_views(seed, corpus_rel):
    rng = random.Random(seed)
    order = list(range(len(LLM_QUERIES)))
    rng.shuffle(order)
    queries = [LLM_QUERIES[i][1] for i in order]
    plan = {
        "workload": "llm_views", "corpus": corpus_rel, "views": LLM_VIEWS,
        "clients": [{"name": "a", "queries": queries, "start": 0},
                    {"name": "b", "queries": queries, "start": len(queries) // 2}],
        "warmup": queries,
    }
    return plan, {"views": [LLM_QUERIES[i][0] for i in order]}
