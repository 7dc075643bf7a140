"""Benchmark command for spark-lakekit.

    python3 perfbench/run.py --workload erd_relational --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source checkout. One closed-loop caller runs the
workload's ops on ``local[<cpus>]`` over the sf0.1 test tables, in a
fresh worker process (perfbench/worker.py) whose whole process tree
(Python driver, JVM, Python workers) this process samples for peak
resident memory. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones (setup_s, pass_s),
with ``--trace 1`` the per-layer ones, and the spans go to
``.perfbench/out/``. The exit code is 0 only when every op ran and
matched its oracle fingerprint.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = "/root/testdata/sf0.1"
LIMIT_S = 170.0
SAMPLE_S = 0.25
PAGE = os.sysconf("SC_PAGE_SIZE")

sys.path.insert(0, HERE)
import workloads  # noqa: E402


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def session_pids(sid: int) -> list[int]:
    """Processes whose session id is ``sid`` (the worker and everything
    it started)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def tree_rss_mb(sid: int) -> float:
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE / 2 ** 20


def stop_tree(proc: subprocess.Popen) -> None:
    """Kill the worker's session and wait until none of it is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while session_pids(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def source_digest() -> str:
    """Digest of the program's sources (the checkout may not be a git
    repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "gcp_datalake_utils_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # an exported checkout, not a clone
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a SIGTERM unwinds through the finally below, which stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("__spark_entry__.py", "gcp_datalake_utils_spark",
                 os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            return fail(f"{need} not found under {ROOT}: run from the "
                        "root of a source checkout")
    with open(os.path.join(HERE, "oracles.json")) as f:
        data_digests = json.load(f)["data"]
    for table, digest in data_digests.items():
        path = os.path.join(DATA, table)
        if not os.path.exists(path) or sha256(path) != digest:
            return fail(f"{path} is missing or is not the table the "
                        "oracle fingerprints were taken from")

    base = os.path.join(ROOT, ".perfbench")
    out_dir = os.path.join(base, "out")
    work = os.path.join(base, f"run-{os.getpid()}")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    for knob in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(knob, None)  # measure the program's defaults
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}") if p),
    })
    cfg = {"root": ROOT, "data": DATA, "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
           "result_path": os.path.join(work, "result.json"),
           "spans_path": os.path.join(out_dir, f"{tag}.spans.jsonl")}
    load_start, cpu_start = os.getloadavg(), cpu_times()
    log_path = os.path.join(out_dir, f"{tag}.log")
    peak_mb = 0.0
    try:
        with open(log_path, "w") as log:
            cfg["t_spawn"] = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 json.dumps(cfg)],
                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                while proc.poll() is None:
                    if time.time() - t_start > LIMIT_S:
                        break
                    peak_mb = max(peak_mb, tree_rss_mb(proc.pid))
                    time.sleep(SAMPLE_S)
            finally:
                timed_out = proc.poll() is None
                stop_tree(proc)
        if timed_out:
            return fail(f"worker exceeded {LIMIT_S:.0f} s; log: {log_path}",
                        1)
        if proc.returncode != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            return fail(f"worker exited {proc.returncode}; log "
                        f"{log_path}:\n{tail}", 1)
        with open(cfg["result_path"]) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu_delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    # time the hypervisor gave this machine's CPUs to other guests
    steal_pct = 100.0 * cpu_delta[7] / max(sum(cpu_delta), 1)

    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "steal_pct": steal_pct,
        "spark": res["spark_version"], "java": res["java_version"],
        "commit": git_commit(), "source_sha256": source_digest(),
    }
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({**record, **res}, f, indent=1)
    for err in res["errors"]:
        print(f"error: {err}", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = {**res["per_layer"], "process.peak_rss_mb": peak_mb} \
        if args.trace else {"setup_s": res["setup_s"],
                            "pass_s": res["pass_s"]}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    error_rate = res["failed"] / res["attempted"]
    print("run: " + json.dumps(record))
    print(f"setup: {res['setup_s']:.3f} s, of which cold pass "
          f"{res['cold_s']:.3f} s; untimed warm passes (s): "
          + ", ".join(f"{p:.3f}" for p in res["settle_s"])
          + "; timed passes (s): "
          + ", ".join(f"{p:.3f}" for p in res["passes"]))
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        # not an end-to-end metric: the JVM's heap growth under the
        # program's 16g default varies by over a third between runs
        print(f"peak_rss_mb = {peak_mb:.6g} MB (per-layer metric "
              "process.peak_rss_mb in traced runs)")
    print(f"error_rate = {error_rate:.6g} ratio "
          f"({res['failed']}/{res['attempted']} ops)")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
