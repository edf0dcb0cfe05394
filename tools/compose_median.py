#!/usr/bin/env python
"""Compose the artifact of record from N same-day full bench passes:
per-entry MEDIAN across the passes (BENCH_LOCAL.md's round-13 rule for
tide-resistant regens). Meta keys (_sf, _nqueries) are copied from the
last pass; the load1 annotations record each pass's values so the
artifact carries its own calm-window evidence.

ADVICE r19: an entry that errored (recorded negative) in a subset of
passes must not be silently dropped from its median — the composed
artifact now records per-entry how many passes contributed
(_pass_counts, only for entries where passes disagree) and stderr warns
loudly; zero pass arguments is a usage error instead of an IndexError.
Usage: compose_median.py <out.json> <pass1.json> [pass2.json ...]
"""
import json
import statistics
import sys


def main(out_path, *passes):
    if len(passes) < 1:
        sys.exit("usage: compose_median.py <out.json> <pass1.json> "
                 "[pass2.json ...] — need at least one pass")
    runs = [json.load(open(p)) for p in passes]
    keys = set()
    for r in runs:
        keys |= {k for k in r if not k.startswith("_")}
    composed = {}
    partial = {}
    for k in sorted(keys):
        vals = [r[k] for r in runs if k in r
                and isinstance(r[k], (int, float)) and r[k] >= 0]
        if not vals:
            composed[k] = -1.0
        else:
            composed[k] = statistics.median(vals)
        if len(vals) != len(runs):
            # a pass errored (-1) or lacked the entry: say so, loudly and
            # in the artifact itself — a masked per-pass failure must not
            # read as a clean median
            partial[k] = len(vals)
            print(f"WARNING: {k} contributed {len(vals)}/{len(runs)} "
                  f"passes (errored or missing in the rest)",
                  file=sys.stderr)
    meta = {
        "_sf": runs[-1].get("_sf"),
        "_nqueries": runs[-1].get("_nqueries"),
        "_load1_start": runs[-1].get("_load1_start"),
        "_load1_end": runs[-1].get("_load1_end"),
        "_composed_of": len(runs),
        "_pass_load1": [[r.get("_load1_start"), r.get("_load1_end")]
                        for r in runs],
    }
    if partial:
        meta["_pass_counts"] = partial
    body = {**meta, **composed}
    with open(out_path, "w") as f:
        json.dump(body, f, indent=2, sort_keys=False)
        f.write("\n")
    total = sum(v for k, v in composed.items() if v >= 0)
    print(f"composed {len(composed)} entries from {len(runs)} passes; "
          f"total {total:.1f} s"
          + (f"; {len(partial)} PARTIAL entries" if partial else ""))


if __name__ == "__main__":
    main(sys.argv[1], *sys.argv[2:])
