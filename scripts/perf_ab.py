#!/usr/bin/env python3
"""A/B of one perfbench workload: a base revision against HEAD.

    python3 scripts/perf_ab.py <base-rev> --workload stream_live --pairs 10

Extracts `git archive` copies of <base-rev> and of HEAD (or --head)
under a scratch directory (default: $TMPDIR/perf_ab), each with its own
build directory, then runs `python3 perfbench/run.py --workload W
--seed N --seconds S` in each copy for seeds first..first+pairs-1,
alternating: the base runs first on odd seeds, the change on even ones.
A warm-up run per side (seed --warmup-seed, default 99) pays the build
first and is left out of the summary; --warmup-seed 0 skips it.

For every end-to-end metric of BENCHMARK.json it prints each run's
value, both medians, the base's quartiles and IQR, the number of pairs
the change won and the change/base ratio of the medians, then two
verdicts:

    gain: holds | not met   the change won at least 9/10 of the pairs
                            and its median is better than the base's by
                            more than the base IQR
    bound: within | exceeded | unresolved
                            the change's median is worse than the
                            base's by at most the metric's bound; or
                            unresolved, when the base IQR is wider than
                            the bound and not every change run beats
                            every base run

It refuses to summarise if any run is `correct: false`. It only invokes perfbench;
it never edits it. Every run's result line is kept in
<scratch>/<workload>-results.jsonl.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def git(*args) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def extract(rev: str, scratch: Path, side: str) -> Path:
    """A `git archive` copy of `rev`, reused while it holds that commit."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    copy = scratch / f"{side}-{sha[:12]}"
    stamp = copy / ".perf_ab_commit"
    if stamp.is_file() and stamp.read_text() == sha:
        return copy
    shutil.rmtree(copy, ignore_errors=True)
    copy.mkdir(parents=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(copy)], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    stamp.write_text(sha)
    return copy


def run(copy: Path, workload: str, seed: int, seconds: int, log: Path) -> dict:
    """One perfbench run in `copy`; its result line as a dict."""
    env = dict(os.environ, CARGO_TARGET_DIR=str(copy / ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=copy, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    log.write_text(proc.stdout)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {copy} (seed {seed}); output in {log}")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q3


def summarise(metrics, runs) -> None:
    bad = [r for r in runs if not r["result"].get("correct")]
    if bad:
        for r in bad:
            print(f"{r['side']} seed {r['seed']}: correct false, failed {r['result'].get('failed')}")
        raise SystemExit("refusing to summarise: some runs are not correct")
    seeds = sorted({r["seed"] for r in runs})
    value = {(r["side"], r["seed"]): r["result"] for r in runs}
    print(f"{len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}; every run correct, "
          f"failed operations {sum(r['result'].get('failed', 0) for r in runs)}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [value[("base", s)]["metrics"][name]["value"] for s in seeds]
        head = [value[("head", s)]["metrics"][name]["value"] for s in seeds]
        mb, mh = statistics.median(base), statistics.median(head)
        q1, q3 = quartiles(base) if len(base) > 1 else (mb, mb)
        wins = sum((h < b) if lower else (h > b) for b, h in zip(base, head))
        ratio = mh / mb if mb else float("nan")
        print(f"\n{name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        print("  base   " + " ".join(f"{v:.4g}" for v in base))
        print("  change " + " ".join(f"{v:.4g}" for v in head))
        print(f"  median base {mb:.4g} (quartiles {q1:.4g}-{q3:.4g}, IQR {q3 - q1:.4g}), "
              f"change {mh:.4g}; ratio {ratio:.3f}; change won {wins}/{len(seeds)}; "
              f"|median gap| {abs(mh - mb):.4g} {'>' if abs(mh - mb) > q3 - q1 else '<='} IQR")
        iqr, bound = q3 - q1, m["bound"]
        gap = (mb - mh) if lower else (mh - mb)  # > 0: the change is better
        gain = wins * 10 >= 9 * len(seeds) and gap > iqr
        print(f"  gain: {'holds' if gain else 'not met'} (needs 9/10 pairs won and a median gap "
              f"in the change's favour larger than the base IQR)")
        worse = -gap / mb if mb else float("nan")  # the change median's relative worsening
        dominates = all((h < b) if lower else (h > b) for h in head for b in base)
        if not dominates and mb and iqr / mb > bound:
            verdict = f"unresolved (the base IQR is {iqr / mb:.1%} of its median)"
        else:
            verdict = "within" if dominates or worse <= bound else "exceeded"
        print(f"  bound: {verdict} (change median {'worse' if worse > 0 else 'better'} by "
              f"{abs(worse):.1%}; bound {bound:.0%})")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("--head", default="HEAD")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--warmup-seed", type=int, default=99)
    p.add_argument("--scratch", type=Path, default=Path(tempfile.gettempdir()) / "perf_ab")
    a = p.parse_args()
    copies = {"base": extract(a.base, a.scratch, "base"), "head": extract(a.head, a.scratch, "head")}
    spec = json.loads((copies["head"] / "BENCHMARK.json").read_text())
    logs = a.scratch / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    if a.warmup_seed:
        for side, copy in copies.items():
            run(copy, a.workload, a.warmup_seed, a.seconds, logs / f"{a.workload}-{side}-warmup.log")
    runs = []
    with open(a.scratch / f"{a.workload}-results.jsonl", "w") as out:
        for seed in range(a.first_seed, a.first_seed + a.pairs):
            order = ("base", "head") if seed % 2 else ("head", "base")
            for side in order:
                result = run(copies[side], a.workload, seed, a.seconds,
                             logs / f"{a.workload}-{side}-{seed}.log")
                runs.append({"side": side, "seed": seed, "result": result})
                out.write(json.dumps(runs[-1]) + "\n")
                out.flush()
                print(f"{side} seed {seed}: " + ", ".join(
                    f"{m['name']} {result['metrics'][m['name']]['value']:.4g}" for m in spec["end_to_end"]),
                    flush=True)
    summarise(spec["end_to_end"], runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
