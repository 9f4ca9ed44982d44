"""The repo benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload resume --seed 1 --seconds 12 --trace 0

Workloads (details in perfbench/workloads.json):
  resume  run_resumable with half the part_ids already checkpointed
  report  six_metric_report(global_order=False).collect() over packets

Inputs are generated from ``--seed`` in this process and cached with
their expected outputs under ``.perfbench/cache``. Each measured
process is fresh and runs at local[nproc] with one op in flight (a
closed loop); every op's output is checked. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (UI on, spans,
prefix plans). The last stdout line is one JSON object
{correct, attempted, failed, metrics}; a full record with provenance
goes to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

RUN_BUDGET_S = 170.0  # the whole run, inputs included, ends before 180 s
DRIVER_MEM = "2g"  # heap far below host memory (local mode: one JVM)


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _git(*args: str) -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def _source_digest() -> str:
    """sha256 over the package sources: identifies the code measured
    when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_quality_assessment_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def provenance(seed: int) -> dict:
    sha = _git("rev-parse", "HEAD")
    status = _git("status", "--porcelain") if sha else None
    return {
        "git_sha": sha,
        "dirty": (bool(status) if status is not None else None),
        "source_sha256": _source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(T_START)),
        "seed": seed,
    }


def _start_time(pid: int) -> str | None:
    """The process's start time, None once it has ended (zombies too)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else fields[19]


def _stop_all(seen: dict[int, str]) -> None:
    """SIGKILL every process seen in the tree that still runs (the same
    pid with the same start time), then wait until each has ended."""
    live = [p for p, st in seen.items() if st is not None and _start_time(p) == st]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while time.time() < deadline and any(_start_time(p) == seen[p] for p in live):
        time.sleep(0.1)


def run_worker(workload: str, meta_path: str, tmp: str, seconds: float, trace: int,
               out: str, deadline: float) -> dict:
    """One fresh measured process; returns its samples."""
    from measure import tree_pids

    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LAUNCHER_OPTS="-XX:+PerfDisableSharedMem")
    log_path = os.path.join(tmp, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--meta", meta_path, "--tmp", tmp, "--seconds", str(seconds),
           "--trace", str(trace), "--out", out, "--t0", repr(time.time())]
    seen: dict[int, str] = {}  # every pid of the worker's tree, with its start time
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            while proc.poll() is None and time.time() < deadline:
                for p in tree_pids(proc.pid):
                    seen.setdefault(p, _start_time(p))
                time.sleep(0.5)
        finally:
            # the JVM and its Python daemon outlive a killed worker (the
            # daemon sits in its own process group)
            seen.setdefault(proc.pid, _start_time(proc.pid))
            _stop_all(seen)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        _fail(f"worker for {workload} exited with {proc.returncode}:\n{tail}", 3)
    with open(out) as f:
        return json.load(f)


def _med(xs: list[float]) -> float:
    return statistics.median(xs)


def end_to_end(ops: list[dict], setup_s: float, base: int) -> dict:
    ok = [o for o in ops if o["error"] is None and not o.get("warm")]
    return {
        "docs_per_s": _med([base / o["wall"] for o in ok]),
        "cpu_s_per_kdoc": _med([1000 * o["cpu"] / base for o in ok]),
        "setup_s": setup_s,
        "peak_rss_mb": _med([o["peak_rss"] / 1e6 for o in ok]),
        "out_bytes_per_doc": _med([o["out_bytes"] / base for o in ok]),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="measured window (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("data_quality_assessment_spark", os.path.join("tests", "oracle.py"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    spec = _benchmark_json()
    a.seconds = a.seconds or spec["run_seconds"]
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {a.workload!r}")
    sys.path[:0] = [ROOT, HERE]
    import gen

    prov = provenance(a.seed)
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    meta = (gen.build_packets if a.workload == "report" else gen.build_pages)(cache, a.seed)
    gen.prune(cache)
    meta_path = os.path.join(meta["dir"], "meta.json")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    deadline = T_START + RUN_BUDGET_S
    prov["inputs_ready_s"] = time.time() - T_START
    try:
        os.makedirs(run_dir)
        result = run_worker(a.workload, meta_path, run_dir, a.seconds, a.trace,
                            os.path.join(run_dir, "result.json"), deadline)
        if a.trace:
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(WORK, "results", f"spans-{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = result["ops"]
    failed = sum(o["error"] is not None for o in ops)
    base = result["base"]
    prov.update(result["versions"], loadavg_end=os.getloadavg(),
                input={k: v for k, v in meta.items() if k not in ("dir", "template_parts")},
                base_rows=base)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        layers = result.get("layers", {})
        names = [m["name"] for m in spec["per_layer"]]
        missing = [k for k in names if k not in layers]
        values = {k: float(layers.get(k, 0.0)) for k in names}
    else:
        values = end_to_end(ops, result["setup_s"], base) if failed < len(ops) else {}
        missing = []
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}

    prov["run_s"] = time.time() - T_START
    record = {"workload": a.workload, "trace": a.trace, "provenance": prov, "fail_rate": failed / len(ops),
              "errors": [o["error"] for o in ops if o["error"]], "sample": result,
              "not_exercised": missing, "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{prov['timestamp']}-{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"workload={a.workload} seed={a.seed} trace={a.trace} ops={len(ops)} failed={failed} "
          f"fail_rate={failed / len(ops):.3f} base_rows={base}")
    for e in record["errors"][:3]:
        print(f"  output check failed: {e}")
    for k, m in metrics.items():
        print(f"  {k:48s} {m['value']:.6g} {m['unit']}")
    if missing:
        print(f"  not exercised by {a.workload} (reported as 0): {', '.join(missing)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
