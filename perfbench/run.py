#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per command.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 12 --trace 0

Run it from the repository root. It builds the engine and the harness
from source (perfbench/build.sbt, once per source state), generates the
workload's inputs from the seed, runs the harness JVM (perfbench.Main)
with a private temp root, checks every result, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
The full result (samples, provenance, calibration, spans) goes to
`--out`, default `.bench_build/results/<workload>-s<seed>-t<trace>.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "classpath.txt"
STAMP = HERE / "target" / "source.sha256"
DEADLINE_S = 170

# Per-workload input size. sf scales the generated tables (documents
# 50k x sf rows, embeddings 20k x sf); rows is the statement table's
# initial size.
WORKLOADS = {
    "corpus": {"sf": 0.01},
    "htap_stmt": {"rows": 20000},
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(digest: str) -> None:
    """Compile engine and harness with sbt unless this source state is
    already built; leaves the runtime classpath in target/classpath.txt."""
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "benchClasspath"], cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0 or not CLASSPATH.exists():
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    STAMP.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def git_head() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, work: Path, data: Path, result: Path, budget: float):
    cfg = WORKLOADS[args.workload]
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    # A fixed heap size: a growing heap makes peak RSS depend on when
    # the collector chose to resize.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *[x for p in JDK_OPENS for x in
             ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data), "--work", str(work), "--out", str(result)]
    if "rows" in cfg:
        cmd += ["--rows", str(cfg["rows"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail("harness timed out" if code is None else f"harness exit {code}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail("no engine sources next to perfbench/ (run from a checkout root)")
    digest = sources_digest()
    build(digest)
    t_start = time.time()

    work = BUILD / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        cfg = WORKLOADS[args.workload]
        data = work / "data"
        fixture = None
        t_gen = time.time()
        if "sf" in cfg:
            sys.path.insert(0, str(HERE))
            import gen
            fixture = gen.generate(data, args.seed, cfg["sf"])
        gen_s = time.time() - t_gen

        result = work / "result.json"
        t_jvm = time.time()
        run_jvm(args, work, data, result,
                DEADLINE_S - 15 - (time.time() - t_start))
        res = json.loads(result.read_text())
        res["jvm_s"] = time.time() - t_jvm

        mismatches, checked = {}, 0
        if (work / "oracle_sql.json").exists():
            import oracle
            report = oracle.check(data, work / "dump", json.loads(
                (work / "oracle_sql.json").read_text()))
            mismatches = {k: v for k, v in report.items() if v is not None}
            checked = len(report)
            res["oracle_s"] = time.time() - t_jvm - res["jvm_s"]
            res["oracle"] = {"checked": checked, "mismatches": mismatches}
        attempted = res["attempted"] + checked
        failed = len(res["failures"]) + len(mismatches)
        res["error_rate"] = failed / max(1, attempted)
        res["provenance"] = {
            "git_head": git_head(), "source_sha256": digest,
            "fixture_sha256": fixture, "fixture_gen_s": gen_s,
            "workload_input": cfg, "cpus": res["cpus"],
            "heap_max_mb": res["heap_max_mb"], "seed": args.seed,
            "calibration_ms": res["calibration_ms"]}
        for f in res["failures"][:10]:
            print(f"perfbench: FAILED {f['op']}: {f['error']}", file=sys.stderr)
        for k, v in list(mismatches.items())[:10]:
            print(f"perfbench: WRONG {k}: {v}", file=sys.stderr)

        section = spec["per_layer"] if args.trace else spec["end_to_end"]
        source = res["per_layer"] if args.trace else res["end_to_end"]
        metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in section}
        out = args.out or (BUILD / "results" /
                           f"{args.workload}-s{args.seed}-t{args.trace}.json")
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(res, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
