#!/usr/bin/env python3
"""Per-query bench gate — the perf analogue of oracle_check.py.

Usage:
  bench_check.py <bench.json> [--factor 2.0] [--slack 0.3]
  bench_check.py --rebaseline <artifact.json> [<artifact.json> ...]

Gate mode compares each query's median in <bench.json> against the
per-query MEDIAN-of-quiet-artifacts in tools/baselines.json (the
noise-aware anchor; the historical MIN is kept alongside for
provenance — rounds 8-11 showed a MIN merged across 20+ artifacts
flags 10+ code-unchanged sub-second queries per capture on a hot box).
A query FAILS when it is slower than factor x anchor AND more than
`slack` seconds over it (the absolute guard keeps sub-second queries
from flapping on +/- noise).

Flags are then triaged against git: at rebaseline time the HEAD commit
is recorded, and a flagged query is reported as DRIFT (host noise, not
gate-failing) only when the triage can POSITIVELY rule out a code
cause: no src/main file changed at all since the baseline commit, or
every changed src/main file both names some other query id and does
not name this one. A changed src/main file that names NO query id is
shared hot-path code (Partitioning, Sampling, expression kernels, ...)
that any query may ride through — such a change makes EVERY flag
actionable, because the grep-level code-to-query map cannot clear it.
Queries with no recorded baseline are reported as new, never failed —
record them with --rebaseline once their first quiet-box capture lands.
A query whose run threw (listed in the artifact's `failed_queries`, or a
median of -1 in artifacts that predate that key) always FAILS the gate.
The artifact's `git_head` and a summary of its `raw_canary_ms` host-noise
readings are printed first when present (older artifacts lack both).

Rebaseline mode writes tools/baselines.json with per-query
{min, median, n} across the given artifacts. Only builder (quiet-box)
captures belong in the baseline set; driver-box captures are the thing
the gate screens, not the anchor (BASELINE.md session-noise notes).
Artifacts stamped with different `cpus` are refused: medians taken at
different core counts do not pool (artifacts without the stamp are
accepted as before).
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BASELINES = os.path.join(HERE, "baselines.json")


def load(path):
    with open(path) as f:
        data = json.load(f)
    if data.get("subset_filter"):
        raise SystemExit(f"{path}: SUBSET capture ({data['subset_filter']}) — "
                         "not gateable/baselineable")
    qs = data.get("queries")
    if not isinstance(qs, dict) or not qs:
        raise SystemExit(f"{path}: no per-query medians found")
    return data


def medians(data):
    return {k: float(v) for k, v in data["queries"].items()
            if isinstance(v, (int, float)) and v >= 0}


def failed_queries(data):
    """Queries whose run threw: the `failed_queries` key, plus any -1
    median (the only failure record in older artifacts)."""
    neg = {k for k, v in data["queries"].items()
           if isinstance(v, (int, float)) and v < 0}
    return sorted(neg | set(data.get("failed_queries", [])))


def env_notes(data):
    """The artifact's commit and host-noise canary (`raw_canary_ms`, a
    fixed integer loop timed before each run), when it carries them."""
    notes = []
    if data.get("git_head"):
        notes.append(f"git_head {data['git_head']}")
    canary = [ms for runs in data.get("raw_canary_ms", {}).values()
              for ms in runs if isinstance(ms, (int, float)) and ms > 0]
    if canary:
        med = statistics.median(canary)
        notes.append(f"canary median {med:.1f} ms, spread "
                     f"{(max(canary) - min(canary)) / med:.2f} over {len(canary)} runs")
    return notes


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True, check=True
                              ).stdout.strip()
    except Exception:
        return None


def rebaseline(paths):
    docs = [load(p) for p in paths]
    stamps = {d["cpus"] for d in docs if "cpus" in d}
    if len(stamps) > 1:
        raise SystemExit(f"artifacts were captured at different cpus {sorted(stamps)} — "
                         "rebaseline from one core count")
    per_q = {}
    for d in docs:
        for q, sec in medians(d).items():
            per_q.setdefault(q, []).append(sec)
    base = {q: {"min": round(min(v), 3),
                "median": round(statistics.median(v), 3),
                "n": len(v)}
            for q, v in per_q.items()}
    with open(BASELINES, "w") as f:
        json.dump({"sources": [os.path.basename(p) for p in paths],
                   "commit": git_head(),
                   "baselines": dict(sorted(base.items()))}, f, indent=1)
    print(f"wrote {BASELINES}: {len(base)} queries from {len(paths)} artifacts")


def anchor_of(entry):
    # legacy format stored a bare float (the min); use it as the anchor
    if isinstance(entry, dict):
        return entry.get("median", entry.get("min"))
    return entry


def changed_files_since(commit):
    """Files changed since `commit` (committed + working tree), repo-relative."""
    try:
        diff = subprocess.run(["git", "diff", "--name-only", commit],
                              cwd=REPO, capture_output=True, text=True,
                              check=True).stdout.split()
        return set(diff)
    except Exception:
        return None  # unknown → treat every flag as actionable


def query_files(qname):
    """src/main files that mention the query id (definition, kernels citing
    it, oracles) — the grep-level code↔query map used for drift triage."""
    qid = qname.split("_")[0]  # q87_...  -> q87
    try:
        out = subprocess.run(
            ["grep", "-rl", qid, os.path.join(REPO, "src", "main")],
            capture_output=True, text=True).stdout.split()
        return {os.path.relpath(p, REPO) for p in out}
    except Exception:
        return set()


def global_main_changes(changed):
    """Changed src/main files the code↔query map cannot attribute: a file
    that names no query id at all is shared hot-path code (Partitioning,
    Sampling, Quality, expression kernels, ...) whose regression could
    surface under ANY query — its presence makes every flag actionable."""
    import re
    out = set()
    for rel in changed:
        if not rel.startswith("src/main/"):
            continue
        full = os.path.join(REPO, rel)
        try:
            with open(full) as f:
                txt = f.read()
        except OSError:
            out.add(rel)  # deleted/renamed → cannot clear it, stay loud
            continue
        if not re.search(r"\bq\d{2,3}\b", txt):
            out.add(rel)
    return out


def check(path, factor, slack):
    with open(BASELINES) as f:
        base_doc = json.load(f)
    base = base_doc["baselines"]
    commit = base_doc.get("commit")
    data = load(path)
    for note in env_notes(data):
        print(note)
    failed = failed_queries(data)
    cur = {q: sec for q, sec in medians(data).items() if q not in failed}
    flagged, new = [], []
    for q, sec in sorted(cur.items()):
        b = anchor_of(base.get(q))
        if b is None:
            new.append(q)
        elif sec > factor * b and sec - b > slack:
            flagged.append((q, sec, b, sec / b))
    changed = changed_files_since(commit) if (flagged and commit) else None
    glob = global_main_changes(changed) if changed is not None else set()
    actionable, drift = [], []
    for item in flagged:
        if changed is not None and not glob \
                and not (query_files(item[0]) & changed):
            drift.append(item)
        else:
            actionable.append(item)
    for q, sec, b, ratio in actionable:
        why = ("shared hot-path code changed: " + ", ".join(sorted(glob)[:3])
               if glob and changed is not None
               and not (query_files(q) & changed)
               else "code changed since baseline")
        print(f"FAIL {q}: {sec:.3f}s vs anchor {b:.3f}s = {ratio:.2f}x "
              f"(gate {factor:.1f}x; {why})")
    for q, sec, b, ratio in drift:
        print(f"drift {q}: {sec:.3f}s vs anchor {b:.3f}s = {ratio:.2f}x "
              f"(no attributable src/main change since baseline commit — "
              f"host noise, not a regression)")
    for q in new:
        print(f"  new {q}: {cur[q]:.3f}s (no baseline; --rebaseline to record)")
    for q in failed:
        print(f"FAIL {q}: run failed")
    ok = len(cur) - len(flagged) - len(new)
    print(f"{ok} within gate, {len(new)} new, {len(drift)} drift, "
          f"{len(actionable)} actionable over {factor:.1f}x+{slack:.1f}s "
          f"of {os.path.basename(BASELINES)}, {len(failed)} failed")
    if actionable or failed:
        sys.exit(1)
    print("BENCH GATE PASS")


def main():
    args = sys.argv[1:]
    if not args:
        raise SystemExit(__doc__)
    if args[0] == "--rebaseline":
        if len(args) < 2:
            raise SystemExit("--rebaseline needs at least one artifact")
        rebaseline(args[1:])
        return
    factor, slack, path = 2.0, 0.3, args[0]
    rest = args[1:]
    while rest:
        if rest[0] == "--factor":
            factor, rest = float(rest[1]), rest[2:]
        elif rest[0] == "--slack":
            slack, rest = float(rest[1]), rest[2:]
        else:
            raise SystemExit(f"unknown arg {rest[0]}")
    check(path, factor, slack)


if __name__ == "__main__":
    main()
