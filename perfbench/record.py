#!/usr/bin/env python3
"""Write the committed traced-run record of one workload.

    python3 perfbench/record.py --workload <name> --seed <n> [--seconds <s>]

Runs the workload twice with the same seed, with tracing off and on, and
writes perfbench/records/<workload>.json: the end-to-end metrics of both
runs and their difference (the tracing overhead), every per-layer metric
of the traced run, each timed span's share of the operation wall time, and
the dominant span and layer class.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)

# Layer class of each step span: what the workload's stated heavy layer
# is checked against.
CLASSES = {
    "pipeline.Stages.alignAux": "raster operators",
    "pipeline.Stages.featureStack": "raster operators",
    "operators.MlOps.classify": "raster operators",
    "pipeline.Stages.prepareSegmentationFeatures": "raster operators",
    "operators.Segmentation.segmentTiles": "raster operators",
    "pipeline.Stages.segmentFeatures": "raster operators",
    "pipeline.Stages.classifyObjects": "raster operators",
    "pipeline.Stages.polygons": "vector operators",
    "functions.SpatialOps.wktMeasures": "vector operators",
    "operators.SpatialJoin.bboxJoin": "vector operators",
    "operators.GeoParquet.writeGeoParquet": "vector operators",
    "operators.Curation.qualityGate": "text kernels and Dedup/Graph",
    "operators.Dedup.fuzzyDupPairs": "text kernels and Dedup/Graph",
    "operators.Graph.connectedComponents": "text kernels and Dedup/Graph",
    "serve.keepBestPerComponent": "text kernels and Dedup/Graph",
    "operators.Dedup.embeddingNearDupPairsBanded": "text kernels and Dedup/Graph",
    "operators.Dedup.dedupAgainstIndex": "index probe, append and query",
    "operators.Dedup.appendToDedupIndex": "index probe, append and query",
    "operators.Similarity.appendToIvfIndex": "index probe, append and query",
    "operators.Similarity.ivfTopKIndexed": "index probe, append and query",
}
# Requests of each kind per ingest_serve cycle.
PER_CYCLE = {"serve.curate": 1, "serve.probe": 1, "serve.append": 1, "serve.query": 1}
QUERY_SPANS = {"operators.Similarity.ivfTopKIndexed"}


def run(workload, seed, seconds, trace, out):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--record", out]
    rc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.exit(f"run failed: {' '.join(cmd)} (rc={rc})")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    a = ap.parse_args()
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "target")) as tmp:
        plain = run(a.workload, a.seed, a.seconds, 0, os.path.join(tmp, "plain.json"))
        traced = run(a.workload, a.seed, a.seconds, 1, os.path.join(tmp, "traced.json"))

    pl = traced["per_layer"]
    if a.workload == "ingest_serve":
        # one operation = one request; shares are of a whole cycle
        op_total = sum(n * pl.get(f"{k}.wall_s", 0.0) for k, n in PER_CYCLE.items())
        mult = {s: (PER_CYCLE["serve.query"] if s in QUERY_SPANS else 1) for s in CLASSES}
    else:
        op_total = pl["op.wall_s"]
        mult = {s: 1 for s in CLASSES}
    spans = sorted(({"span": s, "self_s": pl[f"{s}.self_s"] * mult[s],
                     "share": pl[f"{s}.self_s"] * mult[s] / op_total}
                    for s in CLASSES if f"{s}.self_s" in pl), key=lambda x: -x["self_s"])
    classes = {}
    for x in spans:
        classes[CLASSES[x["span"]]] = classes.get(CLASSES[x["span"]], 0.0) + x["share"]
    e2e_plain = {k: v["value"] for k, v in plain["end_to_end"].items()}
    e2e_traced = {k: v["value"] for k, v in traced["end_to_end"].items()}
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "cores": CORES,
        "correct": plain["correct"] and traced["correct"],
        "end_to_end_untraced": e2e_plain,
        "end_to_end_traced": e2e_traced,
        "tracing_overhead": {k: e2e_traced[k] - e2e_plain[k] for k in e2e_plain},
        "detail_untraced": {k: v["value"] for k, v in plain["detail"].items()},
        "operation_wall_s": op_total,
        "executor_busy_share": pl["op.cpu_s"] / (pl["op.wall_s"] * CORES),
        "dominant_span": spans[0] if spans else None,
        "layer_class_shares": dict(sorted(classes.items(), key=lambda kv: -kv[1])),
        "spans_by_self_time": spans,
        "per_layer": dict(sorted(pl.items())),
    }
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    path = os.path.join(HERE, "records", f"{a.workload}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(path)


if __name__ == "__main__":
    main()
