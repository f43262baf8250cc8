"""Seeded synthetic hub for the hub-events workload, with its ground truth.

The hub uses the committed flu-metrocast `tasks.json`. Model-output files
are mostly small (one full submission: 540 rows); a few are heavy (about
50k rows, the submission repeated). CSV files carry planted null sentinels
(`""`, `NA`, `NaN`); parquet files store the columns under physical types
that differ from the hub schema, so the read casts. A few files have an
unsupported extension and must come back as `skip`.

Values are multiples of 0.25 below 2**20, exact in float32 and double, so
every sum the benchmark checks is exact.
"""
import csv
import json
import random
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TASKS_JSON = "src/test/resources/integration/data/flu-metrocast/hub-config/tasks.json"
SENTINELS = ["", "NA", "NaN"]
COLUMNS = ["reference_date", "target", "horizon", "location", "target_end_date",
           "output_type", "output_type_id", "value"]
# canonical transformed schema: FIXTURES.md section 1 column order; types as
# derived from the flu-metrocast config (numeric quantile ids -> double)
OUTPUT_SCHEMA = [
    ("reference_date", "date32[day]"), ("target", "string"), ("horizon", "int64"),
    ("location", "string"), ("target_end_date", "date32[day]"),
    ("output_type", "string"), ("output_type_id", "double"), ("value", "double"),
    ("round_id", "string"), ("model_id", "string"),
]


def _present(v):
    return v is not None and v not in SENTINELS


def _submission_rows(tasks, ref_date):
    """One full quantile submission for `ref_date` (540 rows)."""
    import datetime as dt
    rows = []
    for mt in tasks["rounds"][0]["model_tasks"]:
        ids = mt["task_ids"]
        levels = mt["output_type"]["quantile"]["output_type_id"]["required"]
        d0 = dt.date.fromisoformat(ref_date)
        for target in ids["target"]["optional"]:
            for h in ids["horizon"]["optional"]:
                ted = (d0 + dt.timedelta(weeks=h)).isoformat()
                for loc in ids["location"]["optional"]:
                    for q in levels:
                        rows.append([ref_date, target, h, loc, ted, "quantile", q, None])
    return rows


def generate(root: Path, seed: int, params: dict):
    """Writes the hub under `root` and returns (events, scans, truth)."""
    rng = random.Random(seed)
    if root.exists():
        shutil.rmtree(root)
    cfg = root / "hub-config"
    cfg.mkdir(parents=True)
    shutil.copy(TASKS_JSON, cfg / "tasks.json")
    tasks = json.loads(Path(TASKS_JSON).read_text())
    rounds = tasks["rounds"][0]["model_tasks"][0]["task_ids"]["reference_date"]["optional"]
    raw_dir = params["raw_dir"]
    teams = [f"team{t}-model{m}" for t in range(params["teams"]) for m in range(2)]
    n_files = params["files"]
    # fixed format mix and heavy-file placement, so seeds vary the hub's
    # contents and event order but not its cost profile
    n_parquet = n_files // 3
    fmts = ["parquet"] * n_parquet + ["csv"] * (n_files - n_parquet)
    rng.shuffle(fmts)
    csv_idx = [i for i, f in enumerate(fmts) if f == "csv"]
    pq_idx = [i for i, f in enumerate(fmts) if f == "parquet"]
    n_heavy_pq = params["heavy_files"] // 3
    heavy = set(csv_idx[: params["heavy_files"] - n_heavy_pq] + pq_idx[:n_heavy_pq])
    files = {}
    used = set()
    for i in range(n_files):
        while True:
            model, rnd = rng.choice(teams), rng.choice(rounds)
            if (model, rnd) not in used:
                used.add((model, rnd))
                break
        fmt = fmts[i]
        base = _submission_rows(tasks, rnd)
        rows = [list(r) for r in base * (params["heavy_repeat"] if i in heavy else 1)]
        for r in rows:
            r[7] = rng.randrange(0, 4 * 200000) / 4
        key = f"{raw_dir}/{model}/{rnd}-{model}.{fmt}"
        nulls = 0
        for r in rows:
            if rng.random() < params["null_rate"]:
                r[rng.choice([6, 7])] = rng.choice(SENTINELS) if fmt == "csv" else None
                nulls += 1
        if fmt == "csv":
            path = root / key
            path.parent.mkdir(parents=True, exist_ok=True)
            with open(path, "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(COLUMNS)
                w.writerows(rows)
        else:
            _write_parquet(root / key, rows, pq_idx.index(i) % 3)
        values = [r[7] for r in rows if _present(r[7])]
        files[key] = {
            "model_id": model, "round_id": rnd, "rows": len(rows), "nulls": nulls,
            "heavy": i in heavy, "n_value": len(values), "sum_value": sum(values),
            "n_output_type_id": sum(1 for r in rows if _present(r[6])),
        }
    unsupported = []
    for i in range(params["unsupported_files"]):
        model = rng.choice(teams)
        key = f"{raw_dir}/{model}/notes-{i}.{rng.choice(['txt', 'json', 'md'])}"
        (root / key).parent.mkdir(parents=True, exist_ok=True)
        (root / key).write_text("not a model-output file\n")
        unsupported.append(key)

    light = sorted(k for k in files if not files[k]["heavy"])
    events = _events(rng, sorted(files), light, unsupported, params)
    scans = _scans(rng, files, rounds, teams, params)
    return events, scans, {"files": files, "unsupported": unsupported, "raw_dir": raw_dir}


def _write_parquet(path: Path, rows, variant: int):
    """Three physical layouts of the same rows; each differs from the hub
    schema somewhere, so the reader has to cast."""
    cols = list(zip(*rows))
    if variant == 0:    # narrow ints and floats, quantile id as double
        arrays = [pa.array(cols[0], pa.string()), pa.array(cols[1]), pa.array(cols[2], pa.int32()),
                  pa.array(cols[3]), pa.array(cols[4], pa.string()), pa.array(cols[5]),
                  pa.array(cols[6], pa.float64()), pa.array(cols[7], pa.float32())]
    elif variant == 1:  # horizon and quantile id as text, dates as dates
        import datetime as dt
        arrays = [pa.array([dt.date.fromisoformat(d) for d in cols[0]], pa.date32()),
                  pa.array(cols[1]), pa.array([str(h) for h in cols[2]]), pa.array(cols[3]),
                  pa.array([dt.date.fromisoformat(d) for d in cols[4]], pa.date32()),
                  pa.array(cols[5]),
                  pa.array([None if q is None else repr(q) for q in cols[6]], pa.string()),
                  pa.array(cols[7], pa.float64())]
    else:               # 64-bit everything, dates as text
        arrays = [pa.array(cols[0]), pa.array(cols[1]), pa.array(cols[2], pa.int64()),
                  pa.array(cols[3]), pa.array(cols[4]), pa.array(cols[5]),
                  pa.array(cols[6], pa.float64()), pa.array(cols[7], pa.float64())]
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_arrays(arrays, names=COLUMNS), path)


def _events(rng, keys, light, unsupported, params):
    """Add every file, remove some, re-add some of those; plus skips that
    are planted: unsupported files, a second remove, an unsupported verb.
    Each event carries the action `dispatch` must return."""
    adds = keys + unsupported
    rng.shuffle(adds)
    events = [{"event": "ObjectCreated:Put", "key": k,
               "expect": "skip" if k in unsupported else "add"} for k in adds]
    # only light files are removed and re-added, so every seed has the
    # same number of heavy events
    removed = rng.sample(light, int(len(keys) * params["remove_share"]))
    for k in removed:
        events.append({"event": "ObjectRemoved:Delete", "key": k, "expect": "delete"})
    readd = removed[: len(removed) // 2]
    gone = removed[len(removed) // 2:]
    tail = [{"event": "ObjectCreated:Put", "key": k, "expect": "add"} for k in readd]
    tail += [{"event": "ObjectRemoved:Delete", "key": k, "expect": "skip"}
             for k in gone[: params["double_removes"]]]
    tail += [{"event": "ObjectTagging:Put", "key": k, "expect": "skip"}
             for k in rng.sample(keys, params["odd_verbs"])]
    rng.shuffle(tail)
    return events + tail


def _scans(rng, files, rounds, teams, params):
    """The whole hub, then scans pruned by round, by model, and by both."""
    present_rounds = sorted({f["round_id"] for f in files.values()})
    scans = [{"name": "all", "rounds": [], "models": []}]
    for i in range(params["pruned_scans"]):
        kind = ["round", "model", "both"][i % 3]
        r = rng.sample(present_rounds, 2) if kind != "model" else []
        m = rng.sample(teams, 3) if kind != "round" else []
        scans.append({"name": f"{kind}-{i}", "rounds": r, "models": m})
    return scans


def expected_groups(files, scan):
    """(model_id, round_id) -> aggregates a readHub scan must return."""
    out = {}
    for f in files.values():
        if scan["rounds"] and f["round_id"] not in scan["rounds"]:
            continue
        if scan["models"] and f["model_id"] not in scan["models"]:
            continue
        g = out.setdefault((f["model_id"], f["round_id"]),
                           {"n": 0, "n_value": 0, "sum_value": 0.0, "n_output_type_id": 0})
        g["n"] += f["rows"]
        g["n_value"] += f["n_value"]
        g["sum_value"] += f["sum_value"]
        g["n_output_type_id"] += f["n_output_type_id"]
    return out
