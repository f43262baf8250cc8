#!/usr/bin/env python3
"""graft's benchmark: one workload per call, in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the harness and the
library from source (sbt, offline) into `perfbench/target` and `target`;
later calls reuse the build while the sources are unchanged. Each run works
in its own scratch directory under `.bench_build/work`, which holds the
generated hub, `spark-warehouse`, `SPARK_LOCAL_DIRS` and the artifact
scratch, and is deleted at the end. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics untraced, the per-layer metrics traced). Workloads,
their parameters and the layer -> end-to-end map are in `workloads.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import check  # noqa: E402
import hubgen  # noqa: E402
import layers  # noqa: E402

BUILD = Path(".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [Path("src/main"), Path("build.sbt"), Path("project/build.properties"),
             HERE / "build.sbt", HERE / "project/build.properties", HERE / "src"]
    for root in roots:
        paths = sorted(p for p in root.rglob("*") if p.is_file()) if root.is_dir() else [root]
        for p in paths:
            h.update(str(p).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + harness unless the sources are unchanged; returns
    the runtime classpath."""
    if not Path("src/main/scala/graft").is_dir() or not Path("build.sbt").is_file():
        fail("graft sources not found: run from the repository root")
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath"
    digest = sources_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        print(p.stdout[-4000:], p.stderr[-2000:], file=sys.stderr)
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def testdata_dir(scale):
    """The read-only test data directory of `scale`, as TESTDATA.md lists it."""
    for line in Path("TESTDATA.md").read_text().splitlines():
        cells = [c.strip().strip("`") for c in line.split("|")]
        if len(cells) > 2 and cells[1] == scale and Path(cells[2]).is_dir():
            return cells[2]
    fail(f"test data of scale {scale} not found")


def run_jvm(classpath, spec, work, deadline):
    spec_path, result_path = work / "spec.json", work / "result.json"
    spec_path.write_text(json.dumps(spec))
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Harness",
           str(spec_path), str(result_path)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail("harness timed out")
        finally:
            # also when this process is being terminated: no JVM outlives it
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not result_path.exists():
        print((work / "jvm.log").read_text()[-4000:], file=sys.stderr)
        fail(f"harness exited with {proc.returncode}")
    return json.loads(result_path.read_text())


def pct(values, q):
    """q-th percentile, linear between closest ranks."""
    s = sorted(values)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(wl, res):
    """The end-to-end metrics; see `metrics` in workloads.json for what each
    one is on each workload. Failed operations are left out of every
    timing."""
    good = [o for o in res["ops"] if "fail" not in o]
    if wl["kind"] == "hub":
        samples = [o["ms"] for o in good if o["kind"] == "event"]
        cold_s = sum(samples) / 1e3
        warm_s = statistics.median(o["ms"] for o in good if o["kind"] == "backfill") / 1e3
    else:
        warm = [o for o in good if o["pass"] > 0]
        samples = [o["ms"] for o in warm]
        cold_s = sum(o["ms"] for o in good if o["pass"] == 0) / 1e3
        warm_s = layers.per_query_sum(warm) / 1e3
    return {"setup_s": (statistics.median(res["setup_s"]), "s"),
            "op_p50_ms": (pct(samples, 0.5), "ms"),
            "op_p90_ms": (pct(samples, 0.9), "ms"),
            "cold_s": (cold_s, "s"),
            "warm_s": (warm_s, "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + JVM_TIMEOUT_S

    spec_all = json.loads((HERE / "workloads.json").read_text())
    wl = spec_all["workloads"].get(args.workload) or fail(f"unknown workload {args.workload}")
    classpath = build()
    deadline = max(deadline, time.monotonic() + JVM_TIMEOUT_S - 20)

    work = (BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        spec = {"kind": wl["kind"], "seed": args.seed, "seconds": args.seconds,
                "trace": bool(args.trace), "cores": len(os.sched_getaffinity(0)),
                "setups": spec_all["setups"], "heap": spec_all["heap"],
                "warehouse": str(work / "spark-warehouse")}
        if wl["kind"] == "hub":
            hub_root = work / "hub"
            events, scans, truth = hubgen.generate(hub_root, args.seed, wl["params"])
            warm_events, _, _ = hubgen.generate(work / "warmup-hub", 0, wl["warmup_params"])
            backfill_dirs = [str(work / f"out-backfill-{i}") for i in range(wl["backfills"])]
            spec["hub"] = {"hub_path": str(hub_root), "raw_dir": wl["params"]["raw_dir"],
                           "out_dir": str(work / "out-events"), "backfill_dirs": backfill_dirs,
                           "events": events, "scans": scans,
                           "backfill_parallelism": spec["cores"],
                           "warmup": {"hub_path": str(work / "warmup-hub"),
                                      "out_dir": str(work / "out-warmup"),
                                      "events": warm_events}}
            spec["stored_dirs"] = [spec["hub"]["out_dir"], *backfill_dirs]
        else:
            data_dir = testdata_dir(wl["params"]["scale"])
            spec["ops"] = {"data_dir": data_dir, "queries": wl["queries"],
                           "min_warm_passes": wl["params"]["min_warm_passes"]}
            spec["stored_dirs"] = [str(work / "tmp")]
        res = run_jvm(classpath, spec, work, deadline)

        ops = res["ops"]
        if wl["kind"] == "hub":
            for o, e in zip((o for o in ops if o["kind"] == "event"), events):
                o["expect"] = e["expect"]
            for o, s in zip((o for o in ops if o["kind"] == "scan"), scans):
                o["scan"] = s
            check.check_hub(ops, truth, Path(spec["hub"]["out_dir"]))
            raw_bytes = sum((hub_root / k).stat().st_size for k in truth["files"])
            out_bytes = sum(p.stat().st_size for p in Path(backfill_dirs[0]).glob("*.parquet"))
            res["bytes_out_per_in"] = out_bytes / raw_bytes
        else:
            expected = check.oracle_expectations(
                data_dir, res["oracle_sql"], BUILD / "oracle-cache.json")
            check.check_ops(ops, expected)
        # the checked raw records of the last run, for reading per operation
        (BUILD / f"last-{args.workload}.json").write_text(json.dumps(res))
        failed = [o for o in ops if "fail" in o]
        for o in failed:
            print(f"FAILED {o['kind']} {o['name']}: {o['fail']}")
        metrics = layers.per_layer(wl, res, spec) if args.trace else end_to_end(wl, res)
        print(f"{args.workload}: {len(ops)} ops, {len(failed)} failed, "
              f"timed {res['timed_s']:.1f} s")
        # `correct` is false when an operation returned a wrong result; an
        # operation that threw is counted in `failed` only
        print(json.dumps({
            "correct": not any(o.get("wrong") for o in ops),
            "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
