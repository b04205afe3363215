#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the measuring JVM from source with sbt (cached
by a fingerprint of the sources), generates the workload's inputs from the
seed (cached per seed), starts the measuring JVM on local[nproc], checks
the outputs and prints one JSON line: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Everything it writes goes under
.bench_build/perfbench in the repository root. Exit code 0 only when every
operation succeeded and every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"

JVM_TIMEOUT_S = 150
# fixed heap and young generation, so peak resident memory does not
# depend on how far G1 happened to grow the heap in a run
HEAP = "3g"
YOUNG = "768m"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """The files the build depends on: the program's build and sources and
    the benchmark's own."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    fp = h.hexdigest()
    cp_file = WORK / "classpath.txt"
    if cp_file.exists():
        lines = cp_file.read_text().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    log("building with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "export perfbench/Runtime/fullClasspath"],
                          cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                          timeout=840)
    cps = [ln for ln in proc.stdout.splitlines() if "perfbench" in ln and "classes" in ln
           and not ln.startswith("[")]
    sys.stderr.write("".join(ln + "\n" for ln in proc.stdout.splitlines() if ln not in cps))
    if proc.returncode != 0 or not cps:
        fail(f"sbt build failed (exit {proc.returncode})")
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(f"{fp}\n{cps[-1].strip()}\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, data, run_dir, seconds, trace):
    """Start the measuring JVM; return (result dict, spawn epoch-ns)."""
    work = run_dir / "work"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    out = run_dir / "result.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--data", str(data), "--work", str(work),
              "--check", str(run_dir / "check"), "--params", str(HERE / "workloads.json"),
              "--seed-dir", str(HERE / "seed"), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores()), "--out", str(out),
              "--run", run_dir.name])
    spawn = time.time_ns()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                              env=dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local")),
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"measuring JVM timed out after {JVM_TIMEOUT_S} s", 3)
    if proc.returncode != 0 or not out.exists():
        fail(f"measuring JVM failed (exit {proc.returncode})", 3)
    return json.loads(out.read_text()), spawn


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in json.loads((HERE / "workloads.json").read_text())["workloads"]:
        fail(f"unknown workload {a.workload}")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the program's sources (build.sbt, src/main/scala) are not beside perfbench/")

    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True
    import checks
    import gen

    cp = build()
    data = gen.generate(a.workload, a.seed, WORK / "data")
    # flush freshly generated inputs, so their write-back does not land
    # inside the timed region
    os.sync()
    run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    res, spawn = run_jvm(cp, a.workload, data, run_dir, a.seconds, a.trace)
    # one set-up per run: a second JVM to time it again does not fit the
    # benchmark's time budget (README, setup_s)
    if "setup_end_ns" not in res:
        fail("the measuring JVM did not finish its set-up", 3)
    res["setup_s"] = (res["setup_end_ns"] - spawn) / 1e9

    ok, msg = checks.check(a.workload, data, run_dir / "check", res)
    log(f"check: {'ok' if ok else 'FAILED'} {msg}")
    failed = int(res["failed"]) + (0 if ok else 1)
    attempted = max(int(res["attempted"]), failed, 1)

    kind = "per_layer" if a.trace else "end_to_end"
    values = dict(res["metrics"], setup_s=res["setup_s"])
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in values:
            fail(f"metric {m['name']} missing from the run", 3)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    keep = WORK / "results"
    keep.mkdir(parents=True, exist_ok=True)
    (keep / f"{run_dir.name}.json").write_text(json.dumps(res, indent=1))
    spans = run_dir / "work" / "spans.json"
    if spans.exists():
        shutil.copy(spans, keep / f"{run_dir.name}.spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = ok and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
