#!/usr/bin/env python
"""Interleaved A/B benchmark: HEAD vs a base git ref, in ONE session.

Why this exists (VERDICT r4): driver-to-driver BENCH_rN numbers moved
±40% on queries whose code had not changed, because the host's effective
speed drifts between sessions. Comparing two rounds' JSON files therefore
measures the machine, not the engine. This harness makes round-over-round
deltas self-adjudicating:

* the base ref's committed files are exported (``git archive``) into a
  throwaway directory and BOTH checkouts' ``bench.py`` run alternately
  (A B / B A order flipped per trial) inside one time window, so
  slow-host minutes hit both sides;
* a single-process ALU probe runs before every bench invocation — the
  probe wall is a per-run host-speed stamp, so any residual drift is
  visible in the artifact instead of silently biasing one side;
* the artifact reports per-query best-of-trials walls for both sides and
  their ratio (head/base < 1 = head faster).

Usage:
    python tools/ab_bench.py [--base <ref>] [--trials 2] [--out AB_BENCH.json]
                             [--sf-dir DIR] [--cpus N]

``--base`` defaults to ``HEAD~1``, the parent of the change under test.
``--cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the CPUs this
process may run on. The HEAD side runs this checkout as it stands; the
base side runs the base ref's committed files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True
    ).stdout.strip()


def _probe_wall() -> float:
    """Single-process ALU stamp of the host's effective speed right now."""
    t0 = time.time()
    x = 0
    for i in range(5_000_000):
        x += i * i
    return round(time.time() - t0, 3)


def _run_bench(checkout: str, env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=checkout, env=env,
        capture_output=True, text=True,
    )
    for line in reversed(out.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(
        f"bench.py in {checkout} produced no JSON line:\n{out.stdout[-2000:]}"
        f"\n{out.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", default="HEAD~1",
                    help="git ref to compare against (default: HEAD~1)")
    ap.add_argument("--trials", type=int, default=2,
                    help="interleaved trials per side (best-of is reported)")
    ap.add_argument("--out", default=os.path.join(REPO, "AB_BENCH.json"))
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    args = ap.parse_args()

    base_sha = _git("rev-parse", args.base)
    head_sha = _git("rev-parse", "HEAD")
    if base_sha == head_sha:
        print("base == HEAD; nothing to compare", file=sys.stderr)
        return 2

    env = {**os.environ,
           "SPARK_GRAFT_SF_DIR": args.sf_dir, "SPARK_GRAFT_CPUS": str(args.cpus)}

    tmp = tempfile.mkdtemp(prefix="ab_bench_base_")
    base_dir = os.path.join(tmp, "base")
    os.makedirs(base_dir)
    try:
        tarball = os.path.join(tmp, "base.tar")
        _git("archive", "-o", tarball, base_sha)
        subprocess.run(["tar", "-xf", tarball, "-C", base_dir], check=True)
        runs: list[dict] = []
        for t in range(args.trials):
            order = [("head", REPO), ("base", base_dir)]
            if t % 2 == 1:
                order.reverse()  # cancel slow-half-of-window bias
            for side, checkout in order:
                probe = _probe_wall()
                r = _run_bench(checkout, env)
                runs.append({"trial": t, "side": side, "probe_wall": probe,
                             "suite_sec": r["value"], "queries": r["queries"],
                             "extra": {k: v for k, v in r.items()
                                       if k not in ("queries", "value")}})
                print(f"trial {t} {side}: suite {r['value']}s "
                      f"(probe {probe}s)", file=sys.stderr)

        def best(side: str):
            mine = [r for r in runs if r["side"] == side]
            suite = min(r["suite_sec"] for r in mine)
            qs: dict[str, float] = {}
            for r in mine:
                for q, sec in r["queries"].items():
                    qs[q] = min(qs.get(q, float("inf")), sec)
            return suite, qs

        h_suite, h_q = best("head")
        b_suite, b_q = best("base")
        per_query = {
            q: {"head": h_q[q], "base": b_q[q],
                "ratio": round(h_q[q] / b_q[q], 3) if b_q[q] else None}
            for q in sorted(set(h_q) & set(b_q))
        }
        report = {
            "head": head_sha, "base": base_sha, "base_ref": args.base,
            "sf_dir": args.sf_dir, "cpus": args.cpus, "trials": args.trials,
            "suite": {"head": h_suite, "base": b_suite,
                      "ratio": round(h_suite / b_suite, 3)},
            "per_query": per_query,
            "head_only": sorted(set(h_q) - set(b_q)),
            "base_only": sorted(set(b_q) - set(h_q)),
            "probe_walls": [
                {"trial": r["trial"], "side": r["side"], "wall": r["probe_wall"]}
                for r in runs
            ],
            "runs": runs,
            "note": "ratio < 1 = HEAD faster. Interleaved same-session runs; "
                    "probe_walls stamp host speed per run — if they drift "
                    ">20% within the window, rerun.",
        }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps({k: report[k] for k in
                          ("head", "base", "suite", "per_query")}))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
