"""Output checks for the link-day benchmark.

Day workloads: the links read back from the written day partition must
equal the generator's expected links exactly.

curation-graph: each query's collected rows must equal the DuckDB replay of
the query's oracle SQL (``graft.SparkEntry.oracleSql``) over the same
generated tables, compared order-free with floats rounded to 4 places so
summation order cannot matter.  The oracle results are cached per seed.
"""
import json
import os


def read_links(path):
    """TSV parent, child, callCount, errorCount -> {(parent, child): (calls, errors)}."""
    links = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                p, c, n, e = line.rstrip("\n").split("\t")
                links[(p, c)] = (int(n), int(e))
    return links


def link_diff(expected, got, limit=5):
    """Human-readable differences, empty when the link sets are equal."""
    out = []
    for k in sorted(set(expected) | set(got)):
        if expected.get(k) != got.get(k):
            out.append(f"{k[0]}->{k[1]}: expected {expected.get(k)}, got {got.get(k)}")
    return out[:limit] + ([f"... {len(out) - limit} more"] if len(out) > limit else [])


def canon_rows(rows):
    """Order-free canonical form of a list of row dicts."""
    def val(v):
        if isinstance(v, bool) or v is None:
            return repr(v)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, float):
            return str(int(v)) if v.is_integer() and abs(v) < 2**53 else f"{v:.4f}"
        return str(v)
    return sorted(tuple((k, val(r[k])) for k in sorted(r)) for r in rows)


def oracle_rows(data_dir, name, sql):
    """DuckDB rows of the oracle SQL over the generated tables, cached."""
    cache = os.path.join(data_dir, f"oracle-{name}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "lineitem", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet')}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [dict(zip(cols, [float(v) if type(v).__name__ == "Decimal" else v for v in r]))
            for r in cur.fetchall()]
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(cache + ".tmp", cache)
    return rows


def graph_failures(run_dir, data_dir, queries):
    """{query: reason} for every query whose rows differ from its oracle."""
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad = {}
    for q in queries:
        if not sqls.get(q):
            bad[q] = "no oracle SQL"
            continue
        rows = os.path.join(run_dir, f"rows-{q}.jsonl")
        if not os.path.exists(rows):
            bad[q] = "no rows written"
            continue
        with open(rows) as f:
            got = [json.loads(line) for line in f if line.strip()]
        want = oracle_rows(data_dir, q, sqls[q])
        if canon_rows(got) != canon_rows(want):
            bad[q] = f"{len(got)} rows differ from the oracle's {len(want)}"
    return bad
