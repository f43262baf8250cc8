#!/usr/bin/env python3
"""Compare two Bench JSON outputs (raw log lines or the driver's
BENCH_r{N}.json wrapper) per query and flag regressions. Each side's
artifact build seconds, its queries + builds total and the artifact keys
added or removed are printed too, since moving work between a query and
an artifact changes the per-query seconds but not the sum.

Usage: python3 tools/bench_diff.py <old> <new> [threshold=1.5]

Driver-side tooling only — the Scala library never depends on this.
Calibration context is printed so a flagged "regression" measured under a
hot sentinel can be discounted before anyone chases a phantom.
"""
import json
import re
import sys


def load(path):
    # BENCH_HISTORY.jsonl holds one full "total" line per run; select one
    # with path@IDX (python indexing, e.g. BENCH_HISTORY.jsonl@-2 for the
    # second-most-recent run). Default: the last total line in the file.
    idx = -1
    explicit_idx = False
    if "@" in path and not path.endswith(".json@"):
        base, _, tail = path.rpartition("@")
        try:
            idx = int(tail)
            path = base
            explicit_idx = True
        except ValueError:
            raise SystemExit(
                f"bad @IDX suffix {tail!r} in {path} (expected an integer, "
                f"e.g. BENCH_HISTORY.jsonl@-2)")
    text = open(path).read()
    # accept: raw bench log, the JSON line itself, or the driver wrapper
    try:
        d = json.loads(text)
        if "tail" in d:
            text = d["tail"]
        elif "queries" in d:
            return d
    except json.JSONDecodeError:
        pass
    totals = [m.group(0) for m in re.finditer(r'\{"metric":"total",.*', text)]
    if totals:
        if not (-len(totals) <= idx < len(totals)):
            raise SystemExit(
                f"@{idx} out of range: {path} holds {len(totals)} total "
                f"line(s) (valid: {-len(totals)}..{len(totals) - 1})")
        return json.loads(totals[idx])
    if explicit_idx:
        raise SystemExit(
            f"@{idx} given but no bench total lines found in {path}")
    # left-truncated driver tail: fall back to the recap (top10 only)
    m = re.search(r'\{"metric":"total_recap".*', text)
    if m is None:
        raise SystemExit(f"no bench total line found in {path}")
    d = json.loads(m.group(0))
    d["queries"] = d.get("top10", {})
    d["partial"] = True
    return d


def build_total(d):
    """Artifact build seconds of a record: the stored total, else the sum
    of the per-artifact map, else None (a record without build accounting).
    """
    if d.get("artifact_build_total_sec") is not None:
        return float(d["artifact_build_total_sec"])
    if "artifact_build_sec" in d:
        return float(sum(d["artifact_build_sec"].values()))
    return None


def print_builds(old, new):
    """Queries + builds per side, and the artifact keys one side built and
    the other did not: a query's work moved into (or out of) an artifact
    shows up here, not in the per-query seconds.
    """
    for side, d in (("old", old), ("new", new)):
        b = build_total(d)
        if b is None:
            print(f"{side} artifact builds: not recorded")
        else:
            print(f"{side} artifact builds {b:.1f}s   "
                  f"queries + builds {d['value'] + b:.1f}s")
    if "artifact_build_sec" not in old or "artifact_build_sec" not in new:
        return
    ob, nb = old["artifact_build_sec"], new["artifact_build_sec"]
    for label, keys, src in (("added", set(nb) - set(ob), nb),
                             ("removed", set(ob) - set(nb), ob)):
        if keys:
            print(f"artifact keys {label} ({len(keys)}): "
                  + ", ".join(f"{k}={src[k]:.2f}s" for k in sorted(keys)))


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    oq, nq = old["queries"], new["queries"]
    ocal = old.get("calib_ms", {})
    ncal = new.get("calib_ms", {})
    print(f"old total {old['value']:.1f}s/{len(oq)}q   "
          f"new total {new['value']:.1f}s/{len(nq)}q")
    print_builds(old, new)
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    if added:
        cost = sum(nq[k] for k in added)
        print(f"added {len(added)} queries (+{cost:.1f}s): "
              + ", ".join(f"{k}={nq[k]:.2f}" for k in added))
    if removed:
        print(f"removed {len(removed)}: {', '.join(removed)}")
    flagged = []
    for k in sorted(set(oq) & set(nq)):
        if nq[k] > 0.5 and nq[k] > thresh * oq[k]:
            flagged.append((nq[k] / oq[k], k))
    for ratio, k in sorted(flagged, reverse=True):
        print(f"REGRESSION {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s ({ratio:.1f}x)"
              f"  calib {ocal.get(k, '?')}->{ncal.get(k, '?')} ms")
    if not flagged:
        print(f"no per-query regression above {thresh}x")


if __name__ == "__main__":
    main()
