"""KG-construction benchmark: one run of one workload.

    python3 perfbench/run.py --workload kg_bert --seed 1 --seconds 17 --trace 0

Run from the repository root. Generates the seeded inputs (cached under
``.perfbench/``), starts one fresh benchmark process that sets up Spark,
runs the untimed first pass and then timed passes (``--trace 0``) or the
traced run (``--trace 1``), checks every pass's outputs, and prints a
receipt line and then, as the last line, the result JSON:
``{"correct", "attempted", "failed", "metrics"}``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "bert_namedentityrecognition_spark"
CORES = 4
CHILD_TIMEOUT_S = 160  # the whole run must end within 180 s
BUCKETS = 4

# workload → (input kind, pages, nominal warm pass wall in s on a 4-core
# host). The timed pass count is fixed from --seconds and the nominal wall,
# not from the walls measured: later passes are still speeding up, so a
# count that grew on a fast host would pull the median down.
WORKLOADS = {
    "kg_bert": ("parquet", 2000, 10.5),
    "kg_gazetteer_warc": ("warc", 30000, 8.5),
    "kg_resume_warc": ("warc", 30000, 16.0),
}
MIN_PASSES = 2
TINY_PAGES = {"parquet": 200, "warc": 1000}


def host_probe_s() -> float:
    """Fixed single-thread numpy work quantum; min of 3 (host speed)."""
    import numpy as np

    a0 = np.random.default_rng(0).standard_normal((128, 128)).astype("float32")
    best = float("inf")
    for _ in range(3):
        a = a0
        t0 = time.perf_counter()
        for _ in range(200):
            a = np.tanh(a @ a) * 0.5
        best = min(best, time.perf_counter() - t0)
    return best


def child_env(root: str, tmp: str) -> dict:
    env = dict(os.environ)
    # BLAS pinned explicitly: an inherited value would oversubscribe the
    # Python workers (build_session only sets these when unset)
    env.update(OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, env.get("PYTHONPATH")) if p
    )
    env["SPARK_LOCAL_DIRS"] = tmp
    # the spark-submit launcher JVM: no hsperfdata file under /tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["TMPDIR"] = tmp
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill the benchmark process and whatever it left in its process
    group (the Spark JVM), then wait until the group is gone."""
    deadline = time.monotonic() + 10
    try:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        while time.monotonic() < deadline:
            os.killpg(proc.pid, 0)  # raises once no member is left
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def run_child(cfg: dict, root: str, log_path: str) -> dict | None:
    """One fresh benchmark process; killed with its JVM at the deadline."""
    cfg_path = os.path.join(cfg["work_run"], "config.json")
    res_path = os.path.join(cfg["work_run"], "result.json")
    if os.path.exists(res_path):
        os.remove(res_path)
    cfg["spawn_wall"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), res_path, cfg_path],
            cwd=root,
            env=child_env(root, cfg["tmp"]),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"benchmark process timed out after {CHILD_TIMEOUT_S}s", file=sys.stderr)
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(res_path):
        return None
    with open(res_path) as f:
        return json.load(f)


def recorded_check(root_work: str, workload: str, pages: int, seed: int, summaries) -> str | None:
    """kg_bert: mention count and triple count sum must agree across passes
    and with the value recorded for the seed (committed table, else the
    first value this checkout saw)."""
    vals = {(s["mentions"], s["count_sum"]) for s in summaries}
    if len(vals) != 1:
        return f"passes disagree on (mentions, count_sum): {sorted(vals)}"
    got = list(vals.pop())
    key = f"{workload}/{pages}/{seed}"
    with open(os.path.join(HERE, "recorded.json")) as f:
        committed = json.load(f)
    local_path = os.path.join(root_work, "recorded.json")
    local = {}
    if os.path.exists(local_path):
        with open(local_path) as f:
            local = json.load(f)
    want = committed.get(key, local.get(key))
    if want is None:
        local[key] = got
        with open(local_path, "w") as f:
            json.dump(local, f, indent=1)
        return None
    return None if want == got else f"{key}: (mentions, count_sum) {got} != recorded {want}"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(
            f"perfbench: no {PACKAGE}/ package under {root}; run from the "
            "repository root",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]
    import inputs
    from tracing import LAYER_METRICS, RECEIPT_ONLY

    kind, pages, nominal_s = WORKLOADS[args.workload]
    if args.tiny:
        pages = TINY_PAGES[kind]
    work = os.path.join(root, ".perfbench")
    input_path = inputs.ensure_inputs(work, kind, pages, args.seed)
    work_run = os.path.join(work, "run", args.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(work_run, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)

    cores = min(CORES, len(os.sched_getaffinity(0)))
    receipt = {
        "workload": args.workload,
        "seed": args.seed,
        "pages": pages,
        "master": f"local[{cores}]",
        "loadavg_before": open("/proc/loadavg").read().split()[:3],
        "host_probe_s": host_probe_s(),
    }
    cfg = {
        "workload": args.workload,
        "kind": kind,
        "pages": pages,
        "input": input_path,
        "work": work,
        "work_run": work_run,
        "tmp": tmp,
        "cores": cores,
        "seconds": args.seconds,
        "timed_passes": max(MIN_PASSES, math.ceil(args.seconds / nominal_s)),
        "trace": args.trace,
        "buckets": BUCKETS,
    }
    res = run_child(cfg, root, os.path.join(work_run, "child.log"))
    receipt["loadavg_after"] = open("/proc/loadavg").read().split()[:3]
    if res is None:
        receipt["error"] = f"benchmark process failed; see {work_run}/child.log"
        print(json.dumps(receipt), flush=True)
        return 1

    passes = res["passes"]
    failed = [p for p in passes if not p["ok"]]
    problems = [p.get("error") for p in failed]
    if args.workload == "kg_bert":
        ok = [p["summary"] for p in passes if p["ok"]]
        err = recorded_check(work, args.workload, pages, args.seed, ok) if ok else None
        if err:
            problems.append(err)
    receipt["fail_ratio"] = {"value": len(failed) / len(passes), "unit": "ratio"}
    receipt["pass_walls_s"] = [round(p["wall_s"], 4) for p in passes]
    receipt["problems"] = problems
    if args.trace:
        layers = res["layers"]
        receipt["layers"] = layers
        metrics = {
            k: {"value": layers[k], "unit": unit}
            for k, unit in LAYER_METRICS
            if k not in RECEIPT_ONLY
        }
    else:
        metrics = {
            "pages_per_s": {"value": pages / res["median_wall_s"], "unit": "pages/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
        }
    print(json.dumps(receipt, ensure_ascii=False), flush=True)
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(passes),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
