"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py        # from the repository root, ~5 min

For each workload of BENCHMARK.json it makes one untraced and one traced
tiny run, plus one untraced ``kg_resume_warc`` run, and asserts:

- the last line has exactly ``correct``, ``attempted``, ``failed`` and
  ``metrics``; the run is correct and no pass failed;
- every end-to-end (untraced) or per-layer (traced) metric of
  BENCHMARK.json is printed with its unit;
- the receipt line carries ``fail_ratio`` and, when traced, every layer
  metric of the full table;
- the output checks execute: ``check_outputs`` passes on the run's last
  outputs and raises once an output or expectation is tampered with.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, (cmd, proc.returncode, proc.stderr[-2000:])
    lines = proc.stdout.strip().split("\n")
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_result(receipt: dict, result: dict, wanted: list[dict], trace: int) -> None:
    from tracing import LAYER_METRICS

    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert result["correct"] is True and result["failed"] == 0, receipt
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert receipt["fail_ratio"] == {"value": 0.0, "unit": "ratio"}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    if trace:
        missing = {k for k, _ in LAYER_METRICS} - set(receipt["layers"])
        assert not missing, missing


def tamper_checks(workload: str) -> None:
    """check_outputs accepts the last pass's outputs and rejects a copy
    with one output or expectation changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from child import CheckFailed, check_outputs

    run_dir = os.path.join(ROOT, ".perfbench", "run", workload)
    with open(os.path.join(run_dir, "config.json")) as f:
        cfg = json.load(f)
    out = os.path.join(run_dir, "out")
    check_outputs(cfg, out)

    bad = os.path.join(ROOT, ".perfbench", "smoke", workload)
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(out, os.path.join(bad, "out"))
    if workload == "kg_resume_warc":
        with open(os.path.join(bad, "out", "ledger.jsonl"), "a") as f:
            f.write(json.dumps({"stage": "mentions", "bucket": 0, "status": "committed"}) + "\n")
    else:
        tdir = os.path.join(bad, "out", "triples")
        t = pq.read_table(tdir)
        counts = t.column("count").to_pylist()
        counts[0] += 1
        t = t.set_column(t.schema.get_field_index("count"), "count",
                         pa.array(counts, t.schema.field("count").type))
        shutil.rmtree(tdir)
        os.makedirs(tdir)
        pq.write_table(t, os.path.join(tdir, "part-0.parquet"))
    try:
        check_outputs(cfg, os.path.join(bad, "out"))
    except CheckFailed:
        pass
    else:
        raise AssertionError(f"{workload}: tampered outputs passed the check")
    shutil.rmtree(bad)


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    for workload in names + ["kg_resume_warc"]:
        traces = (0, 1) if workload in names else (0,)
        for trace in traces:
            receipt, result = run(workload, trace)
            wanted = bench["per_layer"] if trace else bench["end_to_end"]
            check_result(receipt, result, wanted, trace)
            print(f"ok {workload} trace={trace} attempted={result['attempted']}", flush=True)
        tamper_checks(workload)
        print(f"ok {workload} output checks reject tampered outputs", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
