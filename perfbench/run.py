#!/usr/bin/env python3
"""Run one benchmark run of the graft engine and print its report line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload fuel_live --seed 1 --seconds 4 --trace 0

Builds the engine and the harness from source when they changed, runs
the workload in one fresh JVM inside its own scratch root, checks the
outputs, and prints as its last line one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
See perfbench/README.md for the workloads and the metrics.
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

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
TARGET = HERE / "target"
RUNS = HERE / ".runs"
STAMP = TARGET / "perfbench.stamp.json"
# The engine's test MQTT broker, compiled into the harness.
BROKER = REPO / "src" / "test" / "scala" / "graft" / "MiniMqttBroker.scala"
WORKLOADS = ("fuel_live", "engine_stream")
# A run must finish inside 180 s; the JVM gets what is left of that.
RUN_BUDGET_S = 170
CPUS = "4"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    """Every file the build reads, in a stable order."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties", BROKER]
    for root in (HERE / "src" / "main", REPO / "src" / "main"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(REPO)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    if STAMP.exists():
        saved = json.loads(STAMP.read_text())
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    TARGET.mkdir(exist_ok=True)
    log = TARGET / "build.log"
    print("[perfbench] building engine and harness with sbt", file=sys.stderr)
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
    lines = log.read_text().splitlines()
    cp = [l for l in lines if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        fail(f"build failed (sbt exit {rc}); see {log}")
    STAMP.write_text(json.dumps({"stamp": stamp, "classpath": cp[-1].strip()}))
    return cp[-1].strip()


def driver_memory():
    """Half the machine's memory in GB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def calibrate(root):
    """A fixed CPU loop and a create/fsync/rename/list probe, in ms."""
    t0 = time.perf_counter()
    x = 0
    for i in range(300000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    cpu_ms = (time.perf_counter() - t0) * 1000
    probe = root / "calib"
    probe.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    for i in range(20):
        tmp, dst = probe / f".f{i}", probe / f"f{i}"
        fd = os.open(tmp, os.O_CREAT | os.O_WRONLY | os.O_TRUNC, 0o644)
        os.write(fd, b"x" * 4096)
        os.fsync(fd)
        os.close(fd)
        os.replace(tmp, dst)
        os.listdir(probe)
    fs_ms = (time.perf_counter() - t0) * 1000
    shutil.rmtree(probe, ignore_errors=True)
    return cpu_ms, fs_ms


def cpu_steal():
    """(steal, total) CPU ticks so far: time the host gave this machine's
    CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def run_jvm(classpath, args, root, deadline):
    result, spans = root / "result.json", RUNS / f"spans-{args.workload}.jsonl"
    for d in ("tmp", "local"):
        (root / d).mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # Temp files in the run's root; no hsperfdata file outside it.
        f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={root / 'tmp'}", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--root", str(root), "--repo", str(REPO),
        "--result", str(result), "--spans", str(spans)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS, SPARK_LOCAL_DIRS=str(root / "local"))
    log = root.parent / f"{root.name}.jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, stderr=err,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{args.workload} did not finish in time; see {log}")
    if rc != 0 or not result.exists():
        tail = "".join(log.read_text().splitlines(keepends=True)[-15:])
        fail(f"{args.workload} JVM exited {rc}; last log lines:\n{tail}")
    log.unlink()
    return json.loads(result.read_text())


def cell(v):
    """One output cell as canonical text: numbers by exact value,
    timestamps in microseconds, nulls and NaN alike."""
    import decimal
    import math

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"n:{int(v)}"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "null"
        return "n:" + format(decimal.Decimal(float(v)).normalize(), "f")
    if isinstance(v, decimal.Decimal):
        return "n:" + format(v.normalize(), "f")
    if isinstance(v, (pd.Timestamp, np.datetime64)) or type(v).__name__ == "datetime":
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return f"t:{ts.value // 1000}"
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "l:[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{k}={cell(x)}" for k, x in sorted(v.items())) + "}"
    return "o:" + str(v)


def digest(df):
    """Order-free digest of a result: columns by name, rows sorted."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(cell(v) for v in rec)
                  for rec in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest(), len(rows)


def check_outputs(root, names):
    """Compare each query's output with its oracle digest; returns failures."""
    import pyarrow.dataset as pads

    want = json.loads((HERE / "oracle_digests.json").read_text())["queries"]
    failures = []
    for name in names:
        got, rows = digest(pads.dataset(root / "out" / name).to_table().to_pandas())
        if name not in want:
            failures.append(f"{name} has no oracle digest")
        elif got != want[name]["sha256"]:
            failures.append(f"{name} differs from its oracle ({rows} rows vs {want[name]['rows']})")
    return failures


def one_run(args, classpath, deadline):
    """Run the workload once; returns (attempted, failed, e2e, layers, calib)."""
    RUNS.mkdir(exist_ok=True)
    root = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    try:
        before = calibrate(root)
        steal0 = cpu_steal()
        res = run_jvm(classpath, args, root, deadline)
        steal1 = cpu_steal()
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if res["outputs"]:
            bad = check_outputs(root, res["outputs"])
            failures += bad
            failed += len(bad)
        after = calibrate(root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    steal_pct = 100.0 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    calib = {"cpu_ms": max(before[0], after[0]), "fs_ms": max(before[1], after[1]),
             "steal_pct": steal_pct}
    print(f"[calib] cpu_ms before={before[0]:.2f} after={after[0]:.2f} "
          f"fs_ms before={before[1]:.2f} after={after[1]:.2f} steal_pct={steal_pct:.1f}", flush=True)
    return attempted, failed, res["e2e"], res["layers"], calib


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + RUN_BUDGET_S
    for need in (REPO / "src" / "main" / "scala" / "graft", REPO / "src" / "test" / "resources" / "fuel",
                 BROKER):
        if not need.exists():
            fail(f"{need.relative_to(REPO)} is missing: run from a full checkout of the repository")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    classpath = build()
    # The build is not part of a run's time budget.
    deadline = max(deadline, time.monotonic() + RUN_BUDGET_S - 20)

    untraced_log = RUNS / f"untraced-{args.workload}.jsonl"
    attempted, failed, e2e, layers, calib = one_run(args, classpath, deadline)

    if not args.trace:
        RUNS.mkdir(exist_ok=True)
        with open(untraced_log, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    else:
        import statistics

        # A per-layer metric may be measured with the end-to-end ones.
        layers = {**e2e, **layers, **{f"calib.{k}": v for k, v in calib.items()}}
        # Tracing overhead: traced minus the median of this checkout's
        # untraced runs of the workload; 0 until there is one.
        base = ([json.loads(l) for l in untraced_log.read_text().splitlines() if l.strip()]
                if untraced_log.exists() else [])
        if not base:
            print(f"[perfbench] no untraced {args.workload} run in this checkout: overhead.* reads 0",
                  file=sys.stderr)
        for m in spec["end_to_end"]:
            name = m["name"]
            layers[f"overhead.{name}"] = e2e[name] - statistics.median(b[name] for b in base) if base else 0.0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
