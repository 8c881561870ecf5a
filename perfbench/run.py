#!/usr/bin/env python3
"""Benchmark of the graft engine: build, run one workload, compare runs.

Run one workload (from the root of a checkout):

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt into
`.bench_build/`. The run prints every metric by name with its unit and
ends with one JSON line {"correct", "attempted", "failed", "metrics"}.
The same line, with the run's fingerprint and per-query detail, is
written to `.bench_build/results/<workload>-s<seed>-t<trace>.json`
(or to `--out`).

Other modes:

    python3 perfbench/run.py --rebuild-digests
        recompute perfbench/digests.tsv from the current tree; every
        changed line needs an explanation in the change that makes it
    python3 perfbench/run.py compare --base A/*.json --head B/*.json
        per workload and end-to-end metric: medians, quartiles, pair
        wins and a verdict against the bounds in BENCHMARK.json
"""

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.01"
DIGESTS = BENCH / "digests.tsv"
XMX = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "project"]
    files = [BENCH / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def tree_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(stamp):
    """Compiles engine + harness unless the sources are unchanged."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        fail(f"build failed (exit {rc})")
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_file.read_text().strip()


def launch(cp, jvm_args, stamp):
    work = BUILD / "run"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # A fixed heap keeps heap resizing out of the timings and the peak
    # resident size steady from run to run.
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+UseG1GC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dperfbench.commit={git_commit()}",
            f"-Dperfbench.tree={stamp}", "-cp", cp, "graft.perfbench.Main",
            "--data", str(DATA), "--work", str(work), "--digests", str(DIGESTS)] + jvm_args
    return run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, stdout=sys.stderr, stderr=sys.stderr)


def run(args):
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no engine sources under {ROOT / 'src'}; run from the root of a full checkout")
    if not DATA.is_dir():
        fail(f"missing input tables in {DATA}")
    stamp = tree_hash()
    cp = build(stamp)
    if args.rebuild_digests:
        rc = launch(cp, ["--rebuild-digests", "1", "--out", "/dev/null"], stamp)
        sys.exit(0 if rc == 0 else 1)
    out = Path(args.out) if args.out else \
        BUILD / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    if out.exists():
        out.unlink()
    rc = launch(cp, ["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--out", str(out.resolve())], stamp)
    if rc != 0 or not out.exists():
        fail(f"run failed (exit {rc})", 1)
    detail = json.loads(out.read_text())
    fp = detail["fingerprint"]
    print(f"workload {detail['workload']}  seed {detail['seed']}  nproc {fp['nproc']}  "
          f"xmx {fp['xmx_mb']} MB  load {fp['loadavg_before']} -> {fp['loadavg_after']}"
          f"{'  CONTENDED' if fp['contended'] else ''}  commit {fp['commit']}  tree {fp['tree']}")
    rows = detail["per_layer"] if args.trace else detail["end_to_end"]
    for m in rows:
        value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {m['name']:<34} {value:>14} {m['unit']}")
    print(f"  failed_frac {detail['failed_frac']:.4g} ({detail['result']['failed']} of "
          f"{detail['result']['attempted']} executions); query_s_tail is "
          f"p{detail['query_s_tail_percentile']} of {detail['latency_samples']} samples "
          f"({detail['query_s_tail_above']} above)")
    if args.trace:
        print(f"  layer split: max |parts - wall| / wall = {detail['split_max_error']:.3g}")
    if detail["digest_mismatches"]:
        print(f"  digest mismatches: {', '.join(detail['digest_mismatches'])}")
    print(json.dumps(detail["result"]))


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    def load(paths):
        runs = {}
        for p in paths:
            d = json.loads(Path(p).read_text())
            if d.get("trace"):
                continue
            runs.setdefault(d["workload"], []).append(d)
        return runs

    base, head = load(args.base), load(args.head)
    report = []
    print(f"{'workload':<11} {'metric':<19} {'base median [q1, q3]':<32} "
          f"{'head median [q1, q3]':<32} {'wins':>6} verdict")
    for wl in sorted(set(base) & set(head)):
        b_runs = sorted(base[wl], key=lambda d: d["seed"])
        h_runs = sorted(head[wl], key=lambda d: d["seed"])
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"

            def values(runs):
                return [next(x["value"] for x in r["end_to_end"] if x["name"] == name) for r in runs]

            bv, hv = values(b_runs), values(h_runs)
            bq1, bmed, bq3 = quartiles(bv)
            hq1, hmed, hq3 = quartiles(hv)
            sign = 1 if lower else -1
            worse = sign * (hmed - bmed) / bmed if bmed else 0.0
            pairs = list(zip(bv, hv))
            wins = sum(1 for b, h in pairs if sign * (b - h) > 0)
            losses = sum(1 for b, h in pairs if sign * (h - b) > 0)
            spread = (bq3 - bq1) / bmed if bmed else 0.0
            all_better = all(sign * (h - b) < 0 for h in hv for b in bv)
            if spread > bound and not all_better:
                verdict = "unresolved"
            elif worse > bound:
                verdict = "regressed"
            elif pairs and wins >= 0.9 * len(pairs) and abs(hmed - bmed) > (bq3 - bq1):
                verdict = "improved"
            else:
                verdict = "unchanged"
            report.append({"workload": wl, "metric": name, "unit": m["unit"], "bound": bound,
                           "base": {"median": bmed, "q1": bq1, "q3": bq3, "n": len(bv)},
                           "head": {"median": hmed, "q1": hq1, "q3": hq3, "n": len(hv)},
                           "pairs": len(pairs), "head_wins": wins, "head_losses": losses,
                           "worse_by": worse, "base_spread": spread, "verdict": verdict})
            print(f"{wl:<11} {name:<19} {f'{bmed:.4g} [{bq1:.4g}, {bq3:.4g}]':<32} "
                  f"{f'{hmed:.4g} [{hq1:.4g}, {hq3:.4g}]':<32} {f'{wins}/{len(pairs)}':>6} {verdict}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    print(json.dumps({"regressed": sum(r["verdict"] == "regressed" for r in report),
                      "unresolved": sum(r["verdict"] == "unresolved" for r in report),
                      "improved": sum(r["verdict"] == "improved" for r in report),
                      "rows": len(report)}))


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        ap = argparse.ArgumentParser(prog="run.py compare")
        ap.add_argument("--base", nargs="+", required=True, help="result files of the parent")
        ap.add_argument("--head", nargs="+", required=True, help="result files of the change")
        ap.add_argument("--out", help="write the comparison as JSON here too")
        compare(ap.parse_args(sys.argv[2:]))
        return
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", help="a workload named in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="result file (default under .bench_build/results/)")
    ap.add_argument("--rebuild-digests", action="store_true")
    args = ap.parse_args()
    if not args.rebuild_digests and not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
