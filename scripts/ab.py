"""A/B two git revisions, or two checkouts, on the repository benchmark.

    python scripts/ab.py --workload llm_dedup_search --seeds 1301-1310 \
        [--seconds 5] [--trace 0] [PARENT_REV [CHANGE_REV]]
    python scripts/ab.py --clone --workload llm_dedup_search \
        --seeds 1301-1310 PARENT_DIR CHANGE_DIR

Each arm is a detached ``git worktree`` of its revision (default
``HEAD~1`` against ``HEAD``) in a temporary directory (``$TMPDIR``
decides where).  With ``--clone`` the two arguments are existing
checkout directories (clones, exported trees, or a working copy with
uncommitted changes), run where they are and left untouched.  Pair i
runs ``perfbench/run.py`` once per arm on the i-th seed, parent first
on odd pairs and change first on even ones, so slow drift on a shared
host hits both arms alike.  Every run's bounded
metrics are printed as one line as soon as the pair finishes; the
summary gives, per metric ``BENCHMARK.json`` bounds, each arm's median
and interquartile range, the relative change of the medians and the
number of pairs the change won.  The worktrees are removed on every way
out, interrupts included.
"""

from __future__ import annotations

import argparse
import json
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    """``1301-1310`` or ``1301,1305,1309`` (or a mix)."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def bounded_metrics() -> dict[str, str]:
    """Bounded end-to-end metric → "lower" or "higher" (the better side)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec["end_to_end"]}


def git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def run_arm(checkout: Path, args, seed: int) -> dict:
    """One perfbench run; its final JSON line plus the exit status."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    p = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    try:
        out, err = p.communicate()
    except BaseException:
        # SIGTERM lets perfbench stop its JVM and workers; SIGKILL would not.
        p.terminate()
        try:
            p.wait(timeout=90)
        except subprocess.TimeoutExpired:
            p.kill()
        raise
    lines = out.strip().splitlines()
    try:
        final = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(err[-2000:])
        return {"correct": False, "failed": None, "metrics": {}, "returncode": p.returncode}
    final["returncode"] = p.returncode
    return final


def value(result: dict, metric: str) -> float | None:
    return (result["metrics"].get(metric) or {}).get("value")


def fmt(v: float | None) -> str:
    return "-" if v is None else f"{v:.3f}"


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def summarize(results: list[tuple[int, dict, dict]], metrics: dict[str, str]) -> None:
    print(f"\n{len(results)} pairs; failed runs or ops: "
          f"{sum(1 for _, a, b in results for r in (a, b) if not r['correct'])}")
    print(f"{'metric':<14} {'parent median':>13} {'IQR':>8} {'change median':>13} "
          f"{'IQR':>8} {'delta':>8} {'wins':>6}")
    for m, better in metrics.items():
        pairs = [(value(a, m), value(b, m)) for _, a, b in results]
        pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
        if not pairs:
            continue
        pa = [a for a, _ in pairs]
        pb = [b for _, b in pairs]
        wins = sum((b < a) if better == "lower" else (b > a) for a, b in pairs)
        ma, mb = statistics.median(pa), statistics.median(pb)
        delta = (mb - ma) / ma if ma else float("nan")
        print(f"{m:<14} {ma:>13.3f} {iqr(pa):>8.3f} {mb:>13.3f} {iqr(pb):>8.3f} "
              f"{delta:>+8.1%} {wins:>3}/{len(pairs)}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", nargs="?", default="HEAD~1")
    p.add_argument("change", nargs="?", default="HEAD")
    p.add_argument("--clone", action="store_true",
                   help="PARENT and CHANGE are checkout directories, not git revisions")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, type=parse_seeds)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    metrics = bounded_metrics()
    arms: dict[str, Path] = {}
    revs: dict[str, str] = {}
    if args.clone:
        for arm in ("parent", "change"):
            arms[arm] = Path(getattr(args, arm)).resolve()
            if not (arms[arm] / "perfbench" / "run.py").is_file():
                p.error(f"{arm} checkout {arms[arm]} has no perfbench/run.py")
        label = {arm: str(path) for arm, path in arms.items()}
    else:
        revs = {"parent": git("rev-parse", args.parent), "change": git("rev-parse", args.change)}
        label = {arm: rev[:10] for arm, rev in revs.items()}

    # SIGTERM/SIGHUP unwind through the finally below like Ctrl-C does.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _frame: sys.exit(128 + signum))
    tmp = Path(tempfile.mkdtemp(prefix="ab-"))
    trees: list[Path] = []
    try:
        for arm, rev in revs.items():
            path = tmp / arm
            git("worktree", "add", "--detach", str(path), rev)
            trees.append(path)
            arms[arm] = path
        print(f"parent {label['parent']}  change {label['change']}  "
              f"workload {args.workload}  seconds {args.seconds}  trace {args.trace}")
        results = []
        for i, seed in enumerate(args.seeds, start=1):
            order = ("parent", "change") if i % 2 else ("change", "parent")
            got = {arm: run_arm(arms[arm], args, seed) for arm in order}
            results.append((seed, got["parent"], got["change"]))
            cells = "  ".join(
                f"{m} {fmt(value(got['parent'], m))} -> {fmt(value(got['change'], m))}"
                for m in metrics
            )
            ok = all(got[a]["correct"] for a in got)
            print(f"pair {i} seed {seed} ({order[0]} first) correct={ok}  {cells}", flush=True)
        summarize(results, metrics)
        return 0
    finally:
        for path in trees:
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force", str(path)],
                           capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(["git", "-C", str(ROOT), "worktree", "prune"], capture_output=True)


if __name__ == "__main__":
    sys.exit(main())
