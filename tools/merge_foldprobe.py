#!/usr/bin/env python3
"""Merge per-JVM FoldProbe rows into the committed FOLDPROBE.json.

Reads <dir>/<decade>_jvm<k>.json (one JSON row each, written by
graft.tools.FoldProbe), takes the per-leg MIN across JVMs (every leg is
itself a min over in-JVM reps; the cross-JVM min removes JIT/residency
luck — the round-15 verdict's item 6), keeps both raw draws under
"draws" for adjudication, and recomputes the decade exponents
d1/d2/d3 = log10(t_next/t_prev) per leg.

Usage: python3 tools/merge_foldprobe.py <rowdir> [FOLDPROBE.json]
"""
import glob
import json
import math
import os
import re
import sys

DECADES = ["x1", "x10", "x100", "x1000"]
META = {"metric", "sf", "shuffle_partitions", "reps", "inc_rows",
        "index_sizes", "steal_pct"}


def main():
    rowdir = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else "FOLDPROBE.json"
    rows, draws = {}, {}
    for dec in DECADES:
        files = sorted(glob.glob(os.path.join(rowdir, f"{dec}_jvm*.json")))
        if not files:
            print(f"WARN: no rows for {dec}", file=sys.stderr)
            continue
        js = [json.load(open(f)) for f in files]
        merged = dict(js[0])
        for k in js[0]:
            if k in META:
                continue
            vals = [j[k] for j in js if isinstance(j.get(k), (int, float))]
            if vals:
                merged[k] = min(vals)
        merged["steal_pct"] = [j.get("steal_pct") for j in js]
        merged["jvms"] = len(js)
        rows[dec] = merged
        draws[dec] = [{k: v for k, v in j.items() if k not in META}
                      for j in js]
    legs = sorted(k for k in next(iter(rows.values()))
                  if k not in META and k not in ("jvms",)
                  and isinstance(rows[DECADES[0]].get(k), (int, float)))
    exps = {}
    for leg in legs:
        e = {}
        for i in range(1, len(DECADES)):
            a, b = rows.get(DECADES[i - 1]), rows.get(DECADES[i])
            if a and b and a.get(leg, 0) > 0 and b.get(leg, 0) > 0:
                e[f"d{i}"] = round(math.log10(b[leg] / a[leg]), 2)
        exps[leg] = e
    art = {
        "metric": "fold_probe_decades",
        "protocol": ("graft.tools.FoldProbe at HEAD (chained shuffled-hash "
                     "segmented probe — the SHIPPED shape): per-leg min over 2 "
                     "isolated in-JVM reps, then min across 2 fresh JVMs per "
                     "decade (both draws kept under 'draws'); FIXED 1000-row "
                     "increment at every decade so fold cost reads against "
                     "INDEX size; x1000 at 512 shuffle partitions; disk legs "
                     "price the on-disk LSM lifecycle (crash-retryable fold + "
                     "cold-restart probe)"),
        "legs": {
            "para_fold_sec": "updateParagraphIndex: the increment's per-fp aggregate appended as ONE delta segment of the unit SegmentStore (compaction disabled to isolate the append; rows before the shared store measured the retired index-union-increment re-aggregate)",
            "fullclean_fold_sec": "updateFullCleanIndex end-to-end (all halves + fp set), probe pre-derived",
            "fp_union_distinct_sec": "RETIRED fp fold: union + distinct over the corpus-sized set",
            "fp_anti_append_sec": "SHIPPED fp fold: increment-distinct anti-join append",
            "substr_seg_fold_sec": "P62 LSM-segmented fold: the probe's survivors appended as ONE immutable increment-sized segment (updateExactSubstrIndex, compaction disabled to isolate the append)",
            "substr_seg_disk_fold_sec": "P62 ON-DISK fold: foldExactSubstrIndexOnDisk (new segment dir + atomic meta swap; single in-JVM draw, min across JVMs)",
            "substr_probe_seg_sec": "probe read tax: the increment's top half probed against base + 3 open delta segments holding its folded lower half, via the chained shuffled-hash joins (Dedup.incrementalRemoveDupSpansExact)",
            "substr_probe_seg_cold_sec": "COLD-RESTART segmented probe: segments re-read from parquet each rep (scan + cluster-into-cache + chained probe)",
            "build_sec": "buildFullCleanIndex context (paid once per corpus)",
        },
        "rows": rows,
        "draws": draws,
        "exponents": exps,
    }
    with open(out_path, "w") as f:
        json.dump(art, f, indent=1)
    print(f"wrote {out_path}")
    for leg in legs:
        line = "  ".join(
            f"{dec}:{rows[dec].get(leg, float('nan')):.2f}" for dec in DECADES
            if dec in rows)
        print(f"{leg:28s} {line}  d3={exps[leg].get('d3')}")


if __name__ == "__main__":
    main()
