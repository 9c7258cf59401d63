#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client on a local Spark session.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

It builds the engine and the harness (perfbench/build.py), times session
set-up in separate JVMs, then runs the workload in one fresh JVM: a cold
pass, then warm passes for --seconds, and never fewer than four. Once the
cold pass has ended, the harness fingerprints each operation's output; the
fingerprints are checked against perfbench/expected.json.
The last stdout line is one JSON object; with --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer ones. See
perfbench/README.md for the metrics, the workloads and the reference
figures.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
DATA = BENCH / "data"
RUNS = build.BUILD / "runs"
WORKLOADS = ("curation", "io")
# set-up is timed in this many JVMs per run (the run's own one included)
SETUP_SAMPLES = 3
# the run after the build, set-up JVMs included, must end within this many seconds
RUN_DEADLINE_S = 170.0
# the warm passes whose median the warm figures are: pass 1 is the JIT's
# warm-up, and a fixed window keeps the JIT's later, smaller work alike
WARM = (2, 3, 4)
FORMATS = ("csv", "json", "avro", "parquet", "xlsx", "sql")
PER_PASS = ("construct.s", "construct.jobs", "execute.s", "jobs", "stages", "tasks",
            "task_run_s", "task_cpu_s", "task_gc_s", "job_covered_s", "driver_gap_s",
            "parallelism", "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb",
            "input_mb", "read_amplification", "codegen.compiles", "codegen.mean_ms",
            "storage.persisted_rdds_left", "storage.mb_left")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm(cp: str, work: Path, args: dict) -> list:
    return (["java", "-Xmx3g", *build.add_opens(),
             f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work / 'derby.log'}",
             "-cp", cp, "perfbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def launch(cmd: list, work: Path, log, deadline: float, stop_at_ready: bool = False):
    """Runs one JVM to its end, or kills it at '@ready' when `stop_at_ready`;
    returns ((wall seconds, CPU seconds) to '@ready', or None; exit code or
    None)."""
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                         stdin=subprocess.DEVNULL, text=True)
    ready = []

    def read():
        for line in p.stdout:
            if not ready and line.startswith("@ready "):
                ready.append((time.monotonic() - t0, float(line.split()[1])))
                if stop_at_ready:
                    p.kill()
            else:
                log.write(line)

    reader = threading.Thread(target=read)
    reader.start()
    try:
        code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        code = None
        log.write(f"[perfbench] killed at the {RUN_DEADLINE_S:.0f} s deadline\n")
    reader.join()
    return (ready[0] if ready else None), code


def cpu_ticks() -> list:
    """The machine's CPU time counters (user ... steal), or [] where the
    kernel does not expose them."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_pct(start: list, end: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks` readings: the host contention a slow run suffered."""
    if len(start) < 8 or len(end) < 8:
        return 0.0
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / sum(d) if sum(d) > 0 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check(workload: str, rows: list) -> int:
    """Outputs whose fingerprint differs from perfbench/expected.json. An
    operation that raised has no row here; the harness counted it."""
    expected = json.loads((BENCH / "expected.json").read_text()).get(workload, {})
    bad = [r["op"] for r in rows if r["fingerprint"] != expected.get(r["op"])]
    for op in bad:
        print(f"[perfbench] {op}: output differs from the expected fingerprint", file=sys.stderr)
    return len(bad)


def pass_times(passes: list, key: str) -> tuple:
    """(cold pass figure, its count, median over the WARM passes, their count)."""
    cold = [p[key] for p in passes if p["kind"] == "cold"]
    warm = [p[key] for p in passes if p["pass"] in WARM]
    return (cold[0] if cold else 0.0), len(cold), median(warm), len(warm)


def end_to_end(setup: list, passes: list, heap: float) -> dict:
    cold, nc, warm, nw = pass_times(passes, "pass_cpu_s")
    return {
        "setup_s": (median([c for _, c in setup]), "s", len(setup)),
        "cold_pass_cpu_s": (cold, "s", nc),
        "warm_pass_cpu_s": (warm, "s", nw),
        "live_heap_mb": (heap, "MB", 1),
    }


def per_layer(setup: list, start: dict, end: dict, passes: list, load: float,
              steal: float) -> dict:
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    # untraced passes after warm-up pass 1, to compare with the traced ones
    plain = [p for p in passes if p["kind"] == "warm" and not p["traced"] and p["pass"] > 1]
    cold = [p for p in passes if p["kind"] == "cold"]
    n = len(traced)
    out = {"session.start_s": (start["session_start_s"], "s", 1),
           "wall.setup_s": (median([w for w, _ in setup]), "s", len(setup))}
    wall_cold, n_cold, wall_warm, n_warm = pass_times(passes, "pass_s")
    out["wall.cold_pass_s"] = (wall_cold, "s", n_cold)
    out["wall.warm_pass_s"] = (wall_warm, "s", n_warm)
    units = {"jobs": "count", "stages": "count", "tasks": "count", "construct.jobs": "count",
             "codegen.compiles": "count", "storage.persisted_rdds_left": "count",
             "parallelism": "ratio", "read_amplification": "ratio", "codegen.mean_ms": "ms"}
    for k in PER_PASS:
        unit = units.get(k, "MB" if k.endswith("_mb") or k.endswith(".mb_left") else "s")
        out[k] = (median([p.get(k, 0.0) for p in traced]), unit, n)
    out["codegen.cold_compiles"] = (cold[0]["codegen.compiles"] if cold else 0.0, "count", len(cold))
    for f in FORMATS:
        for k, unit in (("write_s", "s"), ("read_s", "s"), ("bytes_ratio", "ratio")):
            name = f"sources.{f}.{k}"
            out[name] = (median([p.get(name, 0.0) for p in traced]), unit, n)
    t, u = median([p["pass_s"] for p in traced]), median([p["pass_s"] for p in plain])
    out["trace.overhead_pct"] = (100.0 * (t - u) / u if u else 0.0, "%", min(n, len(plain)))
    out["machine.cpu_probe_start_s"] = (start["cpu_probe_s"], "s", 1)
    out["machine.cpu_probe_end_s"] = (end.get("cpu_probe_s", 0.0), "s", 1)
    out["machine.load_avg"] = (load, "load", 1)
    out["machine.steal_pct"] = (steal, "%", 1)
    out["machine.nproc"] = (float(cores()), "count", 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if not (DATA / "lineitem.parquet").is_file():
        print(f"[perfbench] input tables missing under {DATA}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_DEADLINE_S
    RUNS.mkdir(parents=True, exist_ok=True)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    artifact, log_path = RUNS / f"{run_id}.jsonl", RUNS / f"{run_id}.log"
    work = build.BUILD / "work" / run_id
    work.mkdir(parents=True)
    load_start, ticks_start = os.getloadavg()[0], cpu_ticks()
    n = cores()
    common = {"cores": n, "data": DATA, "work": work}
    setup, rc = [], None
    with open(log_path, "w") as log:
        try:
            for _ in range(SETUP_SAMPLES - 1):
                ready, code = launch(jvm(cp, work, {"mode": "setup", **common}), work, log,
                                     deadline, stop_at_ready=True)
                if ready is None:
                    raise RuntimeError("set-up JVM failed")
                setup.append(ready)
            ready, rc = launch(jvm(cp, work, {
                "mode": "run", **common, "workload": a.workload, "seed": a.seed,
                "seconds": a.seconds, "trace": a.trace, "artifact": artifact}), work, log, deadline)
            if ready is not None:
                setup.append(ready)
        except RuntimeError as e:
            log.write(f"[perfbench] {e}\n")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    rows = [json.loads(x) for x in artifact.read_text().splitlines()] if artifact.exists() else []
    by = lambda kind: [r for r in rows if r["row"] == kind]
    start, end, heap = by("start"), by("end"), by("heap")
    if rc is None or not start or not end or not heap:
        tail = log_path.read_text()[-3000:]
        print(f"[perfbench] run did not complete (exit {rc}); log {log_path}:\n{tail}", file=sys.stderr)
        return 1
    mismatches = check(a.workload, by("verify"))
    attempted = end[0]["attempted"]
    failed = end[0]["failed"] + mismatches
    passes = by("pass")
    load = (load_start + os.getloadavg()[0]) / 2
    steal = steal_pct(ticks_start, cpu_ticks())
    metrics = (per_layer(setup, start[0], end[0], passes, load, steal) if a.trace
               else end_to_end(setup, passes, heap[0]["live_heap_mb"]))
    weather = {"cores": n, "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
               "steal_pct": steal,
               "cpu_probe_start_s": start[0]["cpu_probe_s"], "cpu_probe_end_s": end[0]["cpu_probe_s"]}
    with open(artifact, "a") as f:
        f.write(json.dumps({"row": "result", "setup_wall_s": [w for w, _ in setup],
                            "setup_cpu_s": [c for _, c in setup], "attempted": attempted,
                            "failed": failed, "weather": weather,
                            "metrics": {k: {"value": v, "unit": u, "n": c}
                                        for k, (v, u, c) in metrics.items()}}) + "\n")
    for k, (v, u, c) in metrics.items():
        print(f"# {a.workload} {k} = {v:.4f} {u} (n={c})")
    print(f"# failed_ratio = {failed}/{attempted}; artifact {artifact.relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
