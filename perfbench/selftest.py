"""Self-test: every output check passes on real output and fails on a
deliberately corrupted copy of it.

    python3 perfbench/run.py --selftest

Runs each workload for one round at smoke size in one Spark session.
Every check the workload makes is run three ways: on the real output
(must pass), and on each corruption listed below (each must fail).
Exits non-zero on the first check that passes a corruption or fails a
real output. Also confirms BENCHMARK.json names the metrics run.py emits.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pandas as pd

from perfbench import harness
from perfbench.workloads import EntityResolve, KgBuild, WorkspaceServe

SMOKE = {
    KgBuild: dict(N_PAGES=400, N_FILES=2, FILE_PAGES=50, WARM_PAGES=50),
    EntityResolve: dict(
        N_CATALOG=300, LSH_ABOVE=100, N_FORM_ROWS=200, N_SMALL=20, N_CANON=500,
        N_WARM_EDGES=100, N_SAMPLE=30,
    ),
    WorkspaceServe: dict(N_DOCS=20, SEARCHES_PER_SYNC=2, DELTA=2),
}


def _set(df: pd.DataFrame, col: str, i: int, value) -> pd.DataFrame:
    df = df.copy()
    df.loc[df.index[i], col] = value
    return df


def _drop_first(out):
    return out.iloc[1:] if isinstance(out, pd.DataFrame) else out[1:]


def _swap_entities(df, _ref):
    ids = df["entity_id"].to_numpy()
    j = next(k for k in range(1, len(ids)) if ids[k] != ids[0])
    df = _set(df, "entity_id", 0, ids[j])
    return _set(df, "entity_id", j, ids[0])


def _wrong_component(df, ref):
    edges = ref[0]
    src, dst = edges["src"].iloc[0], edges["dst"].iloc[0]
    df = df.copy()
    df.loc[df["node"] == src, "component"] = next(e for e in edges["dst"] if e != dst)
    return df


def _deleted_doc_hit(got, ref):
    live = ref[2]
    dead = next(d for d in range(max(live) + 2) if d not in live)
    _d, ln, dist = got[-1]
    return got[:-1] + [(dead, ln, dist)]


#: check name -> [(what the corruption is, corrupt(out, ref) -> out)]
CORRUPTIONS = {
    "check_parse": [
        ("altered text", lambda df, _r: _set(df, "text", 0, str(df["text"].iloc[0]) + "x")),
        ("dropped page", lambda df, _r: _drop_first(df)),
    ],
    "check_triples": [("dropped triple", lambda df, _r: _drop_first(df))],
    "check_exact_link": [
        ("swapped entity_id",
         lambda df, _r: _set(df, "entity_id", 0, (int(df["entity_id"].iloc[0]) + 1) % 18)),
    ],
    "check_graph": [
        ("dropped group", lambda df, _r: _drop_first(df)),
        ("count off by one",
         lambda df, _r: _set(df, "n_mentions", 0, int(df["n_mentions"].iloc[0]) + 1)),
    ],
    "check_link": [
        ("swapped entity_id", _swap_entities),
        ("distance off by 1e-4",
         lambda df, _r: _set(df, "link_distance", 0, df["link_distance"].iloc[0] + 1e-4)),
        ("duplicated form", lambda df, _r: pd.concat([df, df.iloc[:1]])),
    ],
    "check_canon": [("wrong component", _wrong_component)],
    "check_topk": [
        ("deleted-doc hit", _deleted_doc_hit),
        ("stale distance", lambda got, _r: [(got[0][0], got[0][1], got[0][2] + 1e-3)] + got[1:]),
        ("missing hit", lambda got, _r: got[:-1]),
    ],
    "check_sync": [
        ("miscounted state", lambda c, _r: {**c, "new": c.get("new", 0) + 1}),
    ],
}


class Failure(Exception):
    pass


def smoke(cls):
    """``cls`` at smoke size, with every check run on corruptions too."""

    class Smoke(cls):
        def check(self, fn, out, *ref):
            errs = fn(out, *ref)
            if errs:
                raise Failure(f"{cls.name}: {fn.__name__} fails real output: {errs}")
            for what, corrupt in CORRUPTIONS[fn.__name__]:
                if not fn(corrupt(out, ref), *ref):
                    raise Failure(f"{cls.name}: {fn.__name__} passes a {what}")
                self.caught.add((fn.__name__, what))

    for k, v in SMOKE[cls].items():
        setattr(Smoke, k, v)
    Smoke.caught = set()
    return Smoke


def check_benchmark_json() -> None:
    from perfbench.run import END_TO_END, PER_LAYER

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for key, names in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != names:
            raise Failure(f"BENCHMARK.json {key} differs from run.py: {set(listed) ^ set(names)}")


def main() -> None:
    check_benchmark_json()
    work = harness.fresh_dir(os.path.join(harness.WORK_BASE, f"selftest-{os.getpid()}"))
    harness.prepare_env(work)
    spark = harness.start_spark(work, "perfbench-selftest")
    caught = set()
    try:
        for cls in SMOKE:
            loop = harness.Loop(spark, trace=True)
            wl = smoke(cls)(spark, loop, harness.fresh_dir(os.path.join(work, cls.name)), 5)
            wl.setup()
            for fn in wl.warmup():
                fn()
            wl.round(0)
            if loop.failed or wl.errors:
                raise Failure(f"{cls.name}: {loop.errors + wl.errors}")
            caught |= wl.caught
            print(f"{cls.name}: checks pass, {len(wl.caught)} corruptions caught", flush=True)
        missing = {(c, w) for c, ws in CORRUPTIONS.items() for w, _ in ws} - caught
        if missing:
            raise Failure(f"corruptions never exercised: {sorted(missing)}")
    except Failure as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
