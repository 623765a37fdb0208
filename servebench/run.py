#!/usr/bin/env python3
"""Run one workload of the serving benchmark and print its metrics.

    python3 servebench/run.py --workload serve_read --seed 1 --seconds 28 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark from source with sbt (offline) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run is one fresh JVM with a fixed heap, working in its
own directory under `.bench_build/`, which is removed afterwards.

The output is one line per metric (name, value, unit, sample count),
the ambient CPU canary readings, and as the last line one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones; a traced run also writes its spans to
`.bench_build/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RESULT_PREFIX = "SERVEBENCH_RESULT "
HEAP = "2g"
MAX_CPUS = 4
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (the engine's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources at {ROOT} (expected build.sbt and src/main/scala)")
    stamp = BUILD / "classpath.txt"
    fingerprint = source_fingerprint()
    if stamp.is_file():
        saved_fp, _, cp = stamp.read_text().partition("\n")
        if saved_fp == fingerprint and cp.strip():
            return cp.strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s; see {log}")
    out_lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not out_lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode}); see {log}")
    cp = out_lines[-1].strip()
    stamp.write_text(fingerprint + "\n" + cp + "\n")
    return cp


def parse_result(stdout):
    """The JVM's result object, from the last `SERVEBENCH_RESULT` line.

    Raises ValueError when it is missing or malformed."""
    lines = [l for l in stdout.splitlines() if l.startswith(RESULT_PREFIX)]
    if not lines:
        raise ValueError("no result line")
    res = json.loads(lines[-1][len(RESULT_PREFIX):])
    if not isinstance(res.get("correct"), bool):
        raise ValueError("result has no boolean 'correct'")
    for key in ("attempted", "failed"):
        if not isinstance(res.get(key), int) or isinstance(res.get(key), bool) or res[key] < 0:
            raise ValueError(f"result has no count {key!r}")
    metrics = res.get("metrics")
    if not isinstance(metrics, dict) or not metrics:
        raise ValueError("result has no metrics")
    for name, m in metrics.items():
        if not isinstance(m.get("value"), (int, float)) or not isinstance(m.get("unit"), str):
            raise ValueError(f"metric {name!r} lacks a value or unit")
    return res


def contract_line(res, names):
    """The final output object: the benchmark's declared metrics only."""
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        raise ValueError(f"metrics missing from the run: {missing}")
    return json.dumps({
        "correct": res["correct"] and res["attempted"] >= 1,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": res["metrics"][n]["value"], "unit": res["metrics"][n]["unit"]}
                    for n in names},
    })


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, exit through subprocess.run's cleanup, which kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "BENCHMARK.json").is_file():
        fail(f"no BENCHMARK.json at {ROOT}")
    names = declared_metrics(args.trace)
    cp = build()
    cpus = max(1, min(MAX_CPUS, os.cpu_count() or 1))
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "servebench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
              "--work", str(work), "--spans", str(spans)])
    try:
        with open(work / "jvm.log", "w") as err:
            proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
        if proc.returncode != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"run exited with {proc.returncode}")
        with open(work / "jvm.log") as log:
            sys.stderr.writelines(l for l in log if l.startswith("warning:"))
        try:
            res = parse_result(proc.stdout)
            line = contract_line(res, names)
        except ValueError as e:
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            fail(f"unusable result: {e}")
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, m in res["metrics"].items():
        gated = "" if name in names else "  (reported, not gated)"
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m.get('n')}){gated}")
    info = res.get("info", {})
    print("info " + json.dumps(info))
    print(line)


if __name__ == "__main__":
    main()
