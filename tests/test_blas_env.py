"""The BLAS environment of the driver and the Python workers.

``plans/session.worker_blas_env`` pins BLAS to one thread and derives
``OPENBLAS_CORETYPE`` from the CPU flags; ``build_session`` and the
spark-submit entry points hand it to every Python worker, and a value the
deployment already set wins. The kernel choice must not change a mention:
the model forward runs once under OpenBLAS's default core type and once
under the derived one, each in a fresh interpreter (OpenBLAS reads the
variable when numpy loads), and the mention tuples are compared.
"""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import SparkSession

from bert_namedentityrecognition_spark.plans import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OPENBLAS_CORETYPE")
PINS = dict.fromkeys(BLAS_VARS[:3], "1")
SKX = "fpu sse2 avx avx2 fma avx512f avx512dq avx512bw avx512vl avx512_bf16"


class Captured(Exception):
    pass


@pytest.fixture
def clean_env(monkeypatch):
    """No BLAS variable in the environment; monkeypatch restores them."""
    for var in BLAS_VARS:
        monkeypatch.delenv(var, raising=False)
    return monkeypatch


@pytest.fixture
def cpuinfo(tmp_path, monkeypatch):
    """Points the derivation at a written cpuinfo file (None: no file)."""

    def write(flags_line):
        path = tmp_path / "cpuinfo"
        if flags_line is not None:
            path.write_text(f"processor\t: 0\n{flags_line}\n\nprocessor\t: 1\nflags\t\t: sse2\n")
        monkeypatch.setattr(session, "_CPUINFO", str(path))

    return write


def _options(monkeypatch):
    """Makes ``getOrCreate`` raise ``Captured(builder options)`` instead of
    starting Spark."""

    def capture(self):
        raise Captured(dict(self._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)


def _executor_env(options):
    prefix = "spark.executorEnv."
    return {k[len(prefix):]: v for k, v in options.items() if k.startswith(prefix)}


@pytest.mark.parametrize(
    "flags_line, core",
    [
        (f"flags\t\t: {SKX}", "SkylakeX"),
        ("flags\t\t: fpu sse2 avx avx2 fma avx512f avx512dq", "Haswell"),  # no bw/vl
        ("flags\t\t: fpu sse2 avx avx2 fma", "Haswell"),
        ("flags\t\t: fpu sse2 avx avx2", None),  # no fma
        ("flags\t\t: fpu sse2 ssse3 sse4_1 sse4_2", None),
        ("Features\t: fp asimd evtstrm aes pmull sha1 sha2 crc32", None),  # aarch64
        (None, None),  # no /proc/cpuinfo
    ],
)
def test_core_type_from_cpu_flags(cpuinfo, flags_line, core):
    cpuinfo(flags_line)
    want = dict(PINS, **({"OPENBLAS_CORETYPE": core} if core else {}))
    assert session.worker_blas_env() == want


def test_build_session_hands_the_env_to_workers_and_preset_values_win(cpuinfo, clean_env):
    cpuinfo(f"flags\t\t: {SKX}")
    _options(clean_env)
    with pytest.raises(Captured) as got:
        session.build_session(app_name="blas-env")
    assert _executor_env(got.value.args[0]) == dict(PINS, OPENBLAS_CORETYPE="SkylakeX")
    assert {v: os.environ[v] for v in BLAS_VARS} == dict(PINS, OPENBLAS_CORETYPE="SkylakeX")

    # a value the deployment set wins, for the driver and the workers
    clean_env.setenv("OPENBLAS_CORETYPE", "Haswell")
    clean_env.setenv("MKL_NUM_THREADS", "2")
    with pytest.raises(Captured) as got:
        session.build_session(app_name="blas-env")
    want = dict(PINS, MKL_NUM_THREADS="2", OPENBLAS_CORETYPE="Haswell")
    assert _executor_env(got.value.args[0]) == want
    assert os.environ["OPENBLAS_CORETYPE"] == "Haswell"

    # extra_conf is applied last and wins over both
    with pytest.raises(Captured) as got:
        session.build_session(
            app_name="blas-env",
            extra_conf={"spark.executorEnv.OPENBLAS_CORETYPE": "Prescott"},
        )
    assert _executor_env(got.value.args[0])["OPENBLAS_CORETYPE"] == "Prescott"


@pytest.mark.parametrize("script", ["run_pipeline", "run_curation"])
def test_submit_entry_points_pin_worker_blas(script, cpuinfo, clean_env):
    """Both spark-submit builders carry the BLAS environment as executorEnv
    confs; a launch ``--conf spark.executorEnv.X`` (which a builder conf
    would replace) or an ``X`` in the environment wins."""
    import importlib

    main = importlib.import_module(f"scripts.{script}").main
    argv = {
        "run_pipeline": ["--pages-dir", "/nonexistent", "--out", "/nonexistent/out"],
        "run_curation": ["--docs-dir", "/nonexistent", "--out", "/nonexistent/out"],
    }[script]
    cpuinfo("flags\t\t: fpu sse2 avx avx2 fma")
    _options(clean_env)
    with pytest.raises(Captured) as got:
        main(argv)
    assert _executor_env(got.value.args[0]) == dict(PINS, OPENBLAS_CORETYPE="Haswell")

    launched = {"spark.executorEnv.OMP_NUM_THREADS": "2"}
    clean_env.setattr(session, "_launch_conf", lambda: launched)
    clean_env.setenv("OPENBLAS_CORETYPE", "SkylakeX")
    with pytest.raises(Captured) as got:
        main(argv)
    # the launch's OMP_NUM_THREADS stays in force; the environment's core type wins
    assert _executor_env(got.value.args[0]) == {
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "OPENBLAS_CORETYPE": "SkylakeX",
    }


def _openblas_core():
    """The core type OpenBLAS runs in this process, read through ctypes from
    the library numpy loaded; None where numpy is not linked to OpenBLAS."""
    import ctypes

    import numpy  # noqa: F401  (loads the BLAS library)

    try:
        with open("/proc/self/maps") as f:
            libs = sorted({ln.split()[-1] for ln in f if "openblas" in ln.rsplit("/", 1)[-1]})
    except OSError:
        return None
    for path in libs:
        lib = ctypes.CDLL(path)
        for name in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, name, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return None


def test_python_worker_runs_the_derived_core(spark):
    derived = session.worker_blas_env().get("OPENBLAS_CORETYPE")
    if derived is None:
        pytest.skip("no OpenBLAS core type derived for this CPU")
    if _openblas_core() is None:
        pytest.skip("numpy is not linked to OpenBLAS")
    want = os.environ.get("OPENBLAS_CORETYPE", derived)  # a preset value wins

    def report(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"core": [_openblas_core()]})

    # workers cannot import this test module: ship its functions by value
    module = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(module)
    try:
        rows = spark.range(1, numPartitions=1).mapInPandas(report, "core string").collect()
    finally:
        cloudpickle.unregister_pickle_by_value(module)
    assert [r.core.lower() for r in rows] == [want.lower()]


MENTIONS = """
import json, sys
sys.path[:0] = [{repo!r}, {perfbench!r}]
from child import build_model
from bert_namedentityrecognition_spark.operators.ner import _infer_rows
from bert_namedentityrecognition_spark.operators.sentences import MAX_LEN, _page_sentences
from bert_namedentityrecognition_spark.sources import fixtures
from tests.test_blas_env import _openblas_core

model, vocab = build_model()
out = {{k: [] for k in ("url", "sent_id", "start", "end", "type", "word")}}
for seed in (1, 2):
    rows = [
        (p["url"], sid, sent)
        for p in fixtures.generate_pages(300, seed, min_sents=4, max_sents=12)
        for sid, sent in _page_sentences(p["text"], p["html"])
    ]
    _infer_rows(rows, model, vocab, 8, MAX_LEN, out)
print(json.dumps({{"core": _openblas_core(), "mentions": sorted(zip(*out.values()))}}))
"""


def test_kernel_choice_does_not_change_mentions():
    """The ``kg_bert`` model (``perfbench/child.build_model``) over 2 seeds
    of 300 pages: the mention tuples under OpenBLAS's default core type
    equal those under the derived one, so no argmax tie flips."""
    derived = session.worker_blas_env().get("OPENBLAS_CORETYPE")
    if derived is None:
        pytest.skip("no OpenBLAS core type derived for this CPU")
    code = MENTIONS.format(repo=REPO, perfbench=os.path.join(REPO, "perfbench"))
    runs = []
    for core in (None, derived):
        env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
        env.update(PINS, **({"OPENBLAS_CORETYPE": core} if core else {}))
        proc = subprocess.run(
            [sys.executable, "-c", code], env=env, cwd=REPO,
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        runs.append(json.loads(proc.stdout.splitlines()[-1]))
    default, chosen = runs
    if chosen["core"] is not None:
        assert chosen["core"].lower() == derived.lower()
    assert len(default["mentions"]) > 10_000
    assert default["mentions"] == chosen["mentions"]
