#!/usr/bin/env python3
"""Split one cold day run into phases from its wall-clock marks and its
Spark event log. Usage: split.py <marks.json> <event log file>"""
import json, sys

marks = json.load(open(sys.argv[1]))
stages, jobs = [], []
for line in open(sys.argv[2]):
    e = json.loads(line)
    ev = e["Event"]
    if ev == "SparkListenerJobStart":
        jobs.append((e["Submission Time"], e["Job ID"], e["Stage IDs"]))
    elif ev == "SparkListenerStageCompleted":
        si = e["Stage Info"]
        if "Submission Time" in si:
            stages.append(dict(id=si["Stage ID"], tasks=si["Number of Tasks"],
                               sub=si["Submission Time"], done=si["Completion Time"],
                               rdds=[r["Name"] for r in si["RDD Info"]]))
stages.sort(key=lambda s: s["sub"])
link, empty, sink = marks["link"], marks["isEmpty"], marks["sink"]
day = [s for s in stages if link <= s["sub"] <= empty]
scan = next(s for s in day if "FileScanRDD" in s["rdds"])
island = next(s for s in day if s["sub"] >= scan["done"])
first_job = min(t for t, _, _ in jobs if t >= link)
out = {
    "schema_read_s": (marks["schema"] - marks["start"]) / 1e3,
    "from_json_v2_shape_s": (marks["shape"] - marks["schema"]) / 1e3,
    "link_spans_s": (marks["link"] - marks["shape"]) / 1e3,
    "planning_gap_s": (scan["sub"] - link) / 1e3,
    "map_stage_s": (scan["done"] - scan["sub"]) / 1e3,
    "map_stage_tasks": scan["tasks"],
    "island_s": (island["done"] - scan["done"]) / 1e3,
    "island_stage_s": (island["done"] - island["sub"]) / 1e3,
    "is_empty_cache_s": (empty - island["done"]) / 1e3,
    "sink_s": (sink - empty) / 1e3,
    "first_run_s": (sink - marks["start"]) / 1e3,
    "first_job_after_link_s": (first_job - link) / 1e3,
}
print(json.dumps({k: round(v, 3) for k, v in out.items()}))
