"""Alternating parent/change pairs of the repository benchmark.

Runs ``python3 perfbench/run.py --workload W --seed S --seconds 1
--trace 0`` once in a checkout of a parent revision and once in this
working tree, for every seed, flipping which side runs first from one
seed to the next (so slow drift of a shared host does not favour one
side).  For every end-to-end metric of ``BENCHMARK.json`` it then prints
both medians, both interquartile ranges, how many pairs the change won,
and whether the change's median stays within the metric's bound of the
parent's median (the bound is relative: 0.25 allows 25% worse).  Two
verdicts follow the repository's review rules:

- ``unresolved``: the parent's own spread (Q3 - Q1) is wider than the
  bound allows (bound × parent median), and not every change run beats
  every parent run, so "within bound" cannot be told from noise;
- ``gain met``: the change wins at least 9 of every 10 pairs (ties count
  for neither side) and its median is better than the parent's by more
  than the parent's Q3 - Q1.

The parent checkout is a temporary ``git worktree`` of ``--parent``,
removed at exit; ``--parent-dir`` uses an existing checkout instead
(``--parent`` is then optional, and the summary names the directory).
Nothing under ``perfbench/`` is edited.

    python3 tools/ab_pairs.py --parent HEAD~1 --workload corpus_dedup \\
        --seeds 31-36,41-44 --out ab.json
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: one run takes ~60–70 s on a 4-vCPU host; a run past this is failed
RUN_TIMEOUT_S = 900


def parse_seeds(spec: str) -> list[int]:
    """``"31-36,41"`` -> ``[31, 32, 33, 34, 35, 36, 41]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


@contextlib.contextmanager
def parent_checkout(rev: str | None, parent_dir: str | None):
    if parent_dir:
        yield Path(parent_dir)
        return
    with tempfile.TemporaryDirectory(prefix="ab-parent-") as tmp:
        path = Path(tmp) / "tree"
        git = ["git", "-C", str(ROOT)]
        subprocess.run(
            [*git, "worktree", "add", "--detach", str(path), rev],
            check=True,
            capture_output=True,
        )
        try:
            yield path
        finally:
            subprocess.run(
                [*git, "worktree", "remove", "--force", str(path)],
                check=False,
                capture_output=True,
            )
            subprocess.run([*git, "worktree", "prune"], check=False)


def run_once(tree: Path, workload: str, seed: int) -> dict:
    """One benchmark run in *tree*; its last stdout line, parsed (or a
    failed stub when the run died or outlived :data:`RUN_TIMEOUT_S`)."""
    cmd = [
        "python3", "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", "0",
    ]  # fmt: skip
    try:
        proc = subprocess.run(
            cmd, cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (subprocess.TimeoutExpired, IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def summarize(bench: dict, pairs: list[dict]) -> list[dict]:
    rows = []
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        both = [
            (p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
            for p in pairs
            if name in p["parent"]["metrics"] and name in p["change"]["metrics"]
        ]  # fmt: skip
        if not both:
            continue
        par, chg = [b[0] for b in both], [b[1] for b in both]
        wins = sum((c < p) if lower else (c > p) for p, c in both)
        med_p, med_c = statistics.median(par), statistics.median(chg)
        worse = (med_c - med_p) if lower else (med_p - med_c)
        q1, q3 = quartiles(par)
        beats_all = max(chg) < min(par) if lower else min(chg) > max(par)
        rows.append(
            {
                "metric": name,
                "parent_median": med_p,
                "parent_q1_q3": (q1, q3),
                "change_median": med_c,
                "change_q1_q3": quartiles(chg),
                "change_wins": wins,
                "pairs": len(both),
                "within_bound": worse <= m["bound"] * abs(med_p),
                "unresolved": q3 - q1 > m["bound"] * abs(med_p)
                and not beats_all,
                "gain_met": 10 * wins >= 9 * len(both) and -worse > q3 - q1,
            }
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent revision (or --parent-dir)")
    ap.add_argument("--parent-dir", help="existing parent checkout to use")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help='e.g. "31-36,41-44"')
    ap.add_argument("--out", help="write every run and the summary as JSON")
    args = ap.parse_args()
    if not (args.parent or args.parent_dir):
        ap.error("one of --parent or --parent-dir is required")

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    pairs = []
    with parent_checkout(args.parent, args.parent_dir) as parent:
        trees = {"parent": parent, "change": ROOT}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(trees[side], args.workload, seed)
                vals = {k: round(v["value"], 4) for k, v in pair[side]["metrics"].items()}
                print(f"seed {seed} {side}: correct={pair[side]['correct']} {vals}", file=sys.stderr, flush=True)
            pairs.append(pair)

    rows = summarize(bench, pairs)
    print(f"{args.workload}: {len(pairs)} pairs, parent {args.parent_dir or args.parent}")
    for side in ("parent", "change"):
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        print(f"  {side}: {failed}/{attempted} ops failed")
    for r in rows:
        print(
            f"  {r['metric']:28s} parent {r['parent_median']:.4g} "
            f"[{r['parent_q1_q3'][0]:.4g}-{r['parent_q1_q3'][1]:.4g}]  "
            f"change {r['change_median']:.4g} "
            f"[{r['change_q1_q3'][0]:.4g}-{r['change_q1_q3'][1]:.4g}]  "
            f"wins {r['change_wins']}/{r['pairs']}  "
            f"bound {'holds' if r['within_bound'] else 'BROKEN'}"
            f"{'  unresolved' if r['unresolved'] else ''}"
            f"{'  gain met' if r['gain_met'] else ''}"
        )
    if args.out:
        Path(args.out).write_text(json.dumps({"pairs": pairs, "summary": rows}, indent=1))
    return 0 if all(r["within_bound"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
