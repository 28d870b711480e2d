"""Interleaved A/B run of the crawl benchmark: a base revision against this tree.

Usage (from the repository root):

    python3 perfbench/ab.py --base HEAD --workload bulk_crawl --pairs 10

The base revision is exported with ``git archive`` into a temporary
directory (under ``$TMPDIR``, ``/tmp`` by default), and this tree's
``perfbench/`` and ``BENCHMARK.json`` are copied over it, so both sides run
the same benchmark code against their own engine. Pair k runs seed
``--seed + k`` on both sides and alternates which side goes first. The
output is one line per end-to-end metric: each side's median and quartiles,
the change/base ratio of the medians and the pairs the change won.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str, dest: str) -> None:
    """``rev``'s tracked files plus this tree's benchmark, under ``dest``."""
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True, capture_output=True)
    with tarfile.open(fileobj=io.BytesIO(tar.stdout)) as t:
        t.extractall(dest)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run(tree: str, workload: str, seed: int, seconds: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, check=True, capture_output=True, text=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{tree} seed {seed}: {result['failed']} crawls failed the oracle")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", default="HEAD", help="git revision to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = p.parse_args(argv)

    base_tree = tempfile.mkdtemp(prefix="perfbench-ab-")
    runs: dict[str, list[dict[str, float]]] = {"base": [], "change": []}
    try:
        export(args.base, base_tree)
        trees = {"base": base_tree, "change": ROOT}
        for k in range(args.pairs):
            order = ("base", "change") if k % 2 == 0 else ("change", "base")
            for side in order:
                runs[side].append(run(trees[side], args.workload, args.seed + k, args.seconds))
            print(f"pair {k}: " + " ".join(
                f"{side}.{name}={value:.4g}" for side in order
                for name, value in runs[side][-1].items()), flush=True)
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)

    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [r[name] for r in runs["base"]]
        b = [r[name] for r in runs["change"]]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        quart = {s: statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
                 for s, v in (("base", a), ("change", b))}
        print(f"{name} [{m['unit']}]: base {statistics.median(a):.4g} "
              f"[{quart['base'][0]:.4g}, {quart['base'][2]:.4g}] change {statistics.median(b):.4g} "
              f"[{quart['change'][0]:.4g}, {quart['change'][2]:.4g}] "
              f"ratio {statistics.median(b) / statistics.median(a):.4f} "
              f"change won {wins}/{len(a)} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
