"""Seeded input generators for the link-day benchmark.

Three inputs, each a pure function of (workload, seed):

* ``day-json``  -- one UTC day of Zipkin v2 spans as JSON lines.
* ``day-whale`` -- the same shapes as parquet in the JSON v2 nested shape,
  plus one whale trace several times larger than the giant-trace cap, and
  traces whose root lies outside the day window.
* ``curation-graph`` -- the TPC-H-shaped trade tables (orders, lineitem,
  supplier) that the graph-family queries read.

For the two day workloads the generator plants call trees whose dependency
links it knows, and writes them next to the input as ``expected_links.tsv``
(parent, child, callCount, errorCount).  Each planted shape maps to links
by the linker's documented rules (DependencyLinker.scala, header comment):

* RPC with shared halves: CLIENT(caller->callee) + SERVER(callee, shared)
  links caller->callee; only the server half's error tag counts.
* uninstrumented peer: a lone CLIENT links caller->peer with its own error.
* messaging: PRODUCER(caller->broker) and CONSUMER(broker->consumer) each
  link through the broker with their own error tag.
* local span (no kind): a tree hop only, no link.
* root SERVER: links web->root service only when it names a remote peer.

Planted noise that must not change the links: verbatim duplicate reports,
128-bit trace ids (some traces reported at both widths), malformed JSON
lines (or null-id parquet rows), and -- for RootInWindow -- traces whose
root is before the day start (dropped whole) or whose tail crosses the end
of the day (kept).  The whale is a fan-out whose units are strictly ordered
in time, and the cap is chosen on a unit boundary, so the earliest-``cap``
spans the giant-trace guard keeps are a known prefix of planted units.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np

DAY = "2026-01-15"
DAY_START_US = 1768435200 * 1_000_000  # 2026-01-15T00:00:00Z
DAY_US = 86_400_000_000

SERVICES = [f"svc-{i:02d}" for i in range(40)]
FRONTENDS = SERVICES[:4]
BACKENDS = ["mysql", "redis", "memcached", "elasticsearch", "s3", "ldap"]
BROKERS = ["kafka", "rabbitmq"]
WEB = "web-client"
PATHS = ["/api/v1/orders", "/api/v1/users", "/api/v2/search", "/health", "/api/v1/cart"]
METHODS = ["GET", "POST", "PUT"]

# Day shapes.  Sizes are fixed per workload so every seed does the same
# amount of work; only the structure varies with the seed.
DAY_SHAPES = {
    "day-json": dict(spans=150_000, fmt="json", admission="IndexDay",
                     whale_units=0, big_trace_spans=5_000, edge_roots=0.0),
    "day-whale": dict(spans=30_000, fmt="parquet", admission="RootInWindow",
                      whale_units=30_000, whale_cap_units=6_000,
                      big_trace_spans=0, edge_roots=0.03),
}
# Largest ordinary trace: keeps every non-whale trace under the whale cap.
MAX_TRACE_SPANS = 3_000
DUP_RATE = 0.02
MALFORMED_RATE = 0.01
W128_RATE = 0.30       # traces with 128-bit ids
MIXED_WIDTH_RATE = 0.20  # of the 128-bit traces: some spans at 64-bit width
ERR_RATE = 0.03

GRAPH_SHAPE = dict(orders=30_000, lines_per_order=4, customers=3_000, suppliers=400)


def _hex16(v):
    return f"{int(v):016x}"


class _Links:
    """Expected (parent, child) -> [calls, errors] of the planted trees."""

    def __init__(self):
        self.d = {}

    def add(self, parent, child, err):
        c = self.d.setdefault((parent, child), [0, 0])
        c[0] += 1
        c[1] += int(bool(err))

    def merge(self, other):
        for k, (c, e) in other.d.items():
            v = self.d.setdefault(k, [0, 0])
            v[0] += c
            v[1] += e

    def rows(self):
        return sorted((p, c, n, e) for (p, c), (n, e) in self.d.items())


def _span(trace_id, parent_id, span_id, kind, ts, local, remote, err,
          shared=False, name="call"):
    return dict(traceId=trace_id, parentId=parent_id, id=span_id, kind=kind,
                name=name, timestamp=int(ts), duration=50 + int(ts) % 90_000, shared=shared,
                local=local, remote=remote, err=bool(err))


def _plant_trace(rng, n_spans, trace_id, t0, links):
    """Plant one call tree of exactly ``n_spans`` spans starting at ``t0``.

    Returns the spans in creation order; adds the links they must produce.
    """
    ids = iter(rng.integers(1, 2**63 - 1, size=n_spans + 1, dtype=np.int64))
    spans = []
    root_svc = FRONTENDS[int(rng.integers(len(FRONTENDS)))]
    root_id = _hex16(next(ids))
    root_remote = WEB if rng.random() < 0.2 else None
    root_err = rng.random() < ERR_RATE
    spans.append(_span(trace_id, None, root_id, "SERVER", t0, root_svc, root_remote,
                       root_err, name="get " + PATHS[int(rng.integers(len(PATHS)))]))
    if root_remote is not None:
        links.add(root_remote, root_svc, root_err)
    # nodes a later call may hang under: (span id, service)
    hosts = [(root_id, root_svc)]
    ts = t0
    while len(spans) < n_spans:
        left = n_spans - len(spans)
        pid, caller = hosts[int(rng.integers(len(hosts)))]
        ts += int(rng.integers(1, 2_000))
        r = rng.random()
        if r < 0.70 and left >= 2:  # RPC, both halves reported
            callee = SERVICES[int(rng.integers(len(SERVICES)))]
            sid = _hex16(next(ids))
            c_remote = callee if rng.random() < 0.9 else None
            s_remote = caller if rng.random() < 0.7 else None
            s_err = rng.random() < ERR_RATE
            spans.append(_span(trace_id, pid, sid, "CLIENT", ts, caller, c_remote,
                               rng.random() < ERR_RATE))
            spans.append(_span(trace_id, pid, sid, "SERVER", ts + 5, callee, s_remote,
                               s_err, shared=True))
            links.add(caller, callee, s_err)
            hosts.append((sid, callee))
        elif r < 0.82 or left == 1 and r < 0.92:  # uninstrumented peer
            peer = BACKENDS[int(rng.integers(len(BACKENDS)))]
            err = rng.random() < ERR_RATE
            spans.append(_span(trace_id, pid, _hex16(next(ids)), "CLIENT", ts, caller,
                               peer, err, name="query"))
            links.add(caller, peer, err)
        elif r < 0.92 and left >= 2:  # messaging hop through a broker
            broker = BROKERS[int(rng.integers(len(BROKERS)))]
            consumer = SERVICES[int(rng.integers(len(SERVICES)))]
            prod_id, cons_id = _hex16(next(ids)), _hex16(next(ids))
            p_err, c_err = rng.random() < ERR_RATE, rng.random() < ERR_RATE
            spans.append(_span(trace_id, pid, prod_id, "PRODUCER", ts, caller, broker,
                               p_err, name="send"))
            spans.append(_span(trace_id, prod_id, cons_id, "CONSUMER", ts + 50,
                               consumer, broker, c_err, name="poll"))
            links.add(caller, broker, p_err)
            links.add(broker, consumer, c_err)
            hosts.append((cons_id, consumer))
        else:  # local span: a tree hop with no kind and no link
            lid = _hex16(next(ids))
            spans.append(_span(trace_id, pid, lid, None, ts, caller, None, False,
                               name="local"))
            hosts.append((lid, caller))
    return spans


def _plant_whale(rng, trace_id, t0, units, cap_units, links):
    """Fan-out whale: a root SERVER, then ``units`` strictly time-ordered units
    of (CLIENT, shared SERVER, uninstrumented CLIENT).  Only the first
    ``cap_units`` units survive a cap of 1 + 3 * cap_units spans."""
    ids = rng.integers(1, 2**63 - 1, size=2 * units + 1, dtype=np.int64)
    root_id = _hex16(ids[0])
    spans = [_span(trace_id, None, root_id, "SERVER", t0, "svc-batch", None, False,
                   name="post /batch")]
    for u in range(units):
        ts = t0 + 10 * (u + 1)
        callee = SERVICES[u % len(SERVICES)]
        peer = BACKENDS[u % len(BACKENDS)]
        sid = _hex16(ids[1 + 2 * u])
        s_err = rng.random() < ERR_RATE
        d_err = rng.random() < ERR_RATE
        spans.append(_span(trace_id, root_id, sid, "CLIENT", ts, "svc-batch", callee, False))
        spans.append(_span(trace_id, root_id, sid, "SERVER", ts + 1, callee, "svc-batch",
                           s_err, shared=True))
        spans.append(_span(trace_id, sid, _hex16(ids[2 + 2 * u]), "CLIENT", ts + 2, callee,
                           peer, d_err, name="query"))
        if u < cap_units:
            links.add("svc-batch", callee, s_err)
            links.add(callee, peer, d_err)
    return spans


def _trace_sizes(rng, total, big, limit):
    """Heavy-tailed (Pareto) trace sizes summing to exactly ``total``, in
    the seed's order. The sizes themselves come from a fixed stream, so
    every seed links the same multiset of trace sizes: the work per run
    does not drift with the seed, only its structure and placement do."""
    fixed = np.random.default_rng(0)
    sizes = [big] if big else []
    left = total - sum(sizes)
    while left > 0:
        chunk = np.minimum(np.maximum(2, (fixed.pareto(1.2, 4096) * 6).astype(np.int64) + 2),
                           limit)
        for s in chunk:
            s = int(min(s, left))
            sizes.append(s)
            left -= s
            if left == 0:
                break
    return [sizes[int(i)] for i in rng.permutation(len(sizes))]


def _size_histogram(sizes):
    hist = {}
    for s in sizes:
        b = 1 << max(0, int(s - 1).bit_length())
        key = f"le{b}"
        hist[key] = hist.get(key, 0) + 1
    return dict(sorted(hist.items(), key=lambda kv: int(kv[0][2:])))


def generate_day(workload, seed, out_dir, scale=1.0):
    shape = DAY_SHAPES[workload]
    rng = np.random.default_rng([seed, 0 if workload == "day-json" else 1])
    links = _Links()
    cap = 1 + 3 * int(shape.get("whale_cap_units", 0) * scale)
    limit = min(MAX_TRACE_SPANS, cap - 1) if shape["whale_units"] else MAX_TRACE_SPANS
    sizes = _trace_sizes(rng, int(shape["spans"] * scale), int(shape["big_trace_spans"] * scale),
                         limit)
    stats = dict(traces=len(sizes), traces_128bit=0, traces_mixed_width=0,
                 roots_before_day=0, traces_crossing_day_end=0, whale_spans=0,
                 whale_cap=0, duplicates=0, malformed=0)
    records = []  # (trace_index, span dict, reported trace id)
    for t, n in enumerate(sizes):
        wide = rng.random() < W128_RATE
        tid = _hex16(rng.integers(1, 2**63 - 1, dtype=np.int64))
        full = _hex16(rng.integers(1, 2**63 - 1, dtype=np.int64)) + tid if wide else tid
        mixed = wide and rng.random() < MIXED_WIDTH_RATE
        stats["traces_128bit"] += int(wide)
        stats["traces_mixed_width"] += int(mixed)
        t0 = DAY_START_US + int(rng.integers(60_000_000, DAY_US - 120_000_000))
        drop = False
        if shape["edge_roots"] and rng.random() < shape["edge_roots"]:
            if rng.random() < 0.5:  # root just before the day: trace rejected
                t0 = DAY_START_US - int(rng.integers(1_000, 500_000))
                drop = True
                stats["roots_before_day"] += 1
            else:  # root just inside the end; its tail lands on the next day
                t0 = DAY_START_US + DAY_US - int(rng.integers(1_000, 100_000))
                stats["traces_crossing_day_end"] += 1
        tlinks = _Links()
        spans = _plant_trace(rng, n, full, t0, tlinks)
        if not drop:
            links.merge(tlinks)
        for s in spans:
            rep = tid if mixed and rng.random() < 0.5 else full
            records.append((t, s, rep))
    if shape["whale_units"]:
        units = int(shape["whale_units"] * scale)
        cap_units = int(shape["whale_cap_units"] * scale)
        whale_tid = _hex16(rng.integers(1, 2**63 - 1, dtype=np.int64)) * 2
        whale = _plant_whale(rng, whale_tid, DAY_START_US + 3_600_000_000, units,
                             cap_units, links)
        stats["whale_spans"] = len(whale)
        stats["whale_cap"] = 1 + 3 * cap_units
        records.extend((-1, s, whale_tid) for s in whale)
    # verbatim duplicate reports (never of the whale: duplicates count toward
    # the cap and would move its boundary)
    n_dup = int(round(DUP_RATE * len(records)))
    candidates = np.flatnonzero(np.array([r[0] >= 0 for r in records]))
    for i in rng.choice(candidates, size=n_dup, replace=False):
        records.append(records[int(i)])
    stats["duplicates"] = n_dup
    order = rng.permutation(len(records))
    os.makedirs(out_dir, exist_ok=True)
    n_bad = int(round(MALFORMED_RATE * len(records)))
    stats["malformed"] = n_bad
    if shape["fmt"] == "json":
        good = [_json_line(records[int(i)][1], records[int(i)][2]) for i in order]
        # truncated copies of real lines, cut before their "id": unparseable
        bad_at = set(int(p) for p in rng.choice(len(good) + n_bad, size=n_bad, replace=False))
        lines, it = [], iter(good)
        for pos in range(len(good) + n_bad):
            if pos in bad_at:
                src = good[int(rng.integers(len(good)))]
                lines.append(src[:int(rng.integers(1, src.index('"id"')))])
            else:
                lines.append(next(it))
        input_path = os.path.join(out_dir, "spans.jsonl")
        with open(input_path, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        input_rows = len(lines)
    else:
        input_path = os.path.join(out_dir, "spans.parquet")
        input_rows = _write_parquet(input_path, [records[int(i)] for i in order], n_bad, rng)
    spans_total = len(records)
    with open(os.path.join(out_dir, "expected_links.tsv"), "w") as f:
        for p, c, n, e in links.rows():
            f.write(f"{p}\t{c}\t{n}\t{e}\n")
    big = sorted(sizes)[-1] if sizes else 0
    meta = dict(
        workload=workload, seed=seed, day=DAY, format=shape["fmt"],
        admission=shape["admission"], max_spans_per_trace=stats["whale_cap"],
        input=os.path.basename(input_path), input_rows=input_rows,
        input_bytes=os.path.getsize(input_path), spans=spans_total,
        largest_ordinary_trace=big, trace_size_histogram=_size_histogram(sizes),
        expected_links=len(links.d), **stats)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def _json_line(s, trace_id):
    """One Zipkin v2 JSON document, ``id`` last so a truncated copy has none."""
    parts = [f'"traceId":"{trace_id}"']
    if s["parentId"] is not None:
        parts.append(f'"parentId":"{s["parentId"]}"')
    if s["kind"] is not None:
        parts.append(f'"kind":"{s["kind"]}"')
    parts.append(f'"name":"{s["name"]}"')
    parts.append(f'"timestamp":{s["timestamp"]},"duration":{s["duration"]}')
    parts.append(f'"localEndpoint":{{"serviceName":"{s["local"]}","ipv4":"10.0.{len(s["local"])}.7"}}')
    if s["remote"] is not None:
        parts.append(f'"remoteEndpoint":{{"serviceName":"{s["remote"]}","port":8080}}')
    h = int(s["id"][-2:], 16)
    tags = f'"http.method":"{METHODS[h % 3]}","http.path":"{PATHS[h % 5]}"'
    if s["err"]:
        tags += ',"error":"500"'
    parts.append(f'"tags":{{{tags}}}')
    if s["shared"]:
        parts.append('"shared":true')
    parts.append(f'"id":"{s["id"]}"')
    return "{" + ",".join(parts) + "}"


def _write_parquet(path, recs, n_bad, rng):
    import pyarrow as pa
    import pyarrow.parquet as pq
    # null-id copies of real rows: dropped by the read
    extra = sorted(int(i) for i in rng.choice(len(recs), size=n_bad, replace=False))
    rows = [recs[i] for i in range(len(recs))] + [recs[i] for i in extra]
    spans = [s for _, s, _ in rows]

    def col(key):
        return [s[key] for s in spans]

    remote = col("remote")
    errs = np.array(col("err"), dtype=bool)
    offsets = np.concatenate([[0], np.cumsum(1 + errs)]).astype(np.int32)
    keys = np.where(np.arange(offsets[-1]) == np.repeat(offsets[:-1], 1 + errs),
                    "http.method", "error")
    table = pa.table({
        "traceId": pa.array([r[2] for r in rows], pa.string()),
        "parentId": pa.array(col("parentId"), pa.string()),
        "id": pa.array(col("id")[:len(recs)] + [None] * len(extra), pa.string()),
        "kind": pa.array(col("kind"), pa.string()),
        "name": pa.array(col("name"), pa.string()),
        "timestamp": pa.array(col("timestamp"), pa.int64()),
        "duration": pa.array(col("duration"), pa.int64()),
        "shared": pa.array([True if x else None for x in col("shared")], pa.bool_()),
        "localEndpoint": pa.StructArray.from_arrays(
            [pa.array(col("local"), pa.string())], names=["serviceName"]),
        "remoteEndpoint": pa.StructArray.from_arrays(
            [pa.array(remote, pa.string())], names=["serviceName"],
            mask=pa.array([r is None for r in remote])),
        "tags": pa.MapArray.from_arrays(
            pa.array(offsets), pa.array(keys, pa.string()),
            pa.array(np.where(keys == "error", "500", "GET"), pa.string())),
    })
    pq.write_table(table, path, row_group_size=64 * 1024)
    return len(rows)


def generate_graph(seed, out_dir):
    """Trade tables for the graph family: orders(o_orderkey, o_custkey),
    lineitem(l_orderkey, l_suppkey), supplier(s_suppkey).  Customer and
    supplier popularity are skewed so the trade graph has hubs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    g = GRAPH_SHAPE
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_o = g["orders"]
    cust = (rng.zipf(1.3, n_o) - 1) % g["customers"] + 1
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1), pa.int64()),
        "o_custkey": pa.array(cust, pa.int64())}), os.path.join(out_dir, "orders.parquet"))
    per = rng.integers(1, 2 * g["lines_per_order"], n_o)
    okeys = np.repeat(np.arange(1, n_o + 1), per)
    supp = (rng.zipf(1.5, len(okeys)) - 1) % g["suppliers"] + 1
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_suppkey": pa.array(supp, pa.int64())}), os.path.join(out_dir, "lineitem.parquet"))
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(1, g["suppliers"] + 1), pa.int64())}),
        os.path.join(out_dir, "supplier.parquet"))
    meta = dict(workload="curation-graph", seed=seed, orders=n_o, lineitems=int(len(okeys)),
                customers=g["customers"], suppliers=g["suppliers"])
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def generate(workload, seed, out_dir, scale=1.0):
    if workload == "curation-graph":
        return generate_graph(seed, out_dir)
    return generate_day(workload, seed, out_dir, scale)


if __name__ == "__main__":
    if len(sys.argv) not in (4, 5):
        sys.exit(__doc__)
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                 float(sys.argv[4]) if len(sys.argv) == 5 else 1.0)
    print(json.dumps(m, sort_keys=True))
