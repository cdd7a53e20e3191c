"""Self-tests of the benchmark: the corpus model, the output checks (with
a planted defect that must be caught), the metric list against
BENCHMARK.json, and a tiny-size run of every workload.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402


def _corpus(tmp_path, seed=7, lines=3000, files=4):
    return corpus.write_corpus(
        str(tmp_path / "in"), seed, corpus.CorpusSpec(lines=lines, files=files),
        stage_dir=str(tmp_path / "stage"),
    )


def test_model_conserves_every_line(tmp_path):
    exp = _corpus(tmp_path)
    assert exp.lines_in == 3000
    assert exp.conserved()
    assert exp.blank and all(exp.quarantines[q] for q in corpus.QUARANTINES)
    assert set(exp.sinks) == set(corpus.SINK_CLASSES)
    assert len({d for _, d in exp.sink_days}) >= 4


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = _corpus(tmp_path / "a", seed=3)
    b = _corpus(tmp_path / "b", seed=3)
    c = _corpus(tmp_path / "c", seed=4)
    files = lambda p: {  # noqa: E731
        n: open(os.path.join(p, n), "rb").read() for n in sorted(os.listdir(p))
    }
    assert files(tmp_path / "a" / "in") == files(tmp_path / "b" / "in")
    assert a.sinks == b.sinks and a.params == b.params
    assert a.params != c.params
    assert not os.listdir(tmp_path / "a" / "stage")


def test_answer_check_catches_a_wrong_answer(tmp_path):
    exp = _corpus(tmp_path)
    for name in workloads.lake_queries(exp.params):
        want = workloads.expected_answer(name, exp)
        if name == "class_day":
            rows = [{"class_name": c, "eventDay": d, "n": n} for (c, d), n in want.items()]
        elif name == "device_lookup":
            rows = [{"class_name": c, "n": n} for c, n in want.items()]
        elif name == "top_dst":
            rows = [{"ip": ip, "n": n} for ip, n in want]
        else:
            rows = [{"n": want}]
        assert workloads.check_answer(name, rows, exp) == []
        rows[0] = {**rows[0], "n": rows[0]["n"] - 1}
        assert workloads.check_answer(name, rows, exp), name


def test_conservation_catches_a_lost_row(tmp_path):
    exp = _corpus(tmp_path)
    got = {**exp.sinks, **exp.quarantines}
    assert workloads.conservation(got, exp) == []
    got["dns_activity"] -= 1
    assert workloads.conservation(got, exp)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER


def _run(workload, trace, seed=5):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--lines", "600"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = workloads.PER_LAYER if trace else bench.END_TO_END
    assert list(res["metrics"]) == list(names)
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_planted_defect_fails_the_batch_check(tmp_path):
    """Drop one row from one sink of a real ``run_batch`` output: the
    check the benchmark applies to every batch must report it."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from query_open_pipeline_for_crowdstrike_falcon_data_replicator_spark.pipeline import (
        run_batch,
    )

    exp = _corpus(tmp_path, lines=600)
    run = workloads.Run(work=str(tmp_path / "w"), seed=0, seconds=1, trace=False, cores=2)
    spark = workloads.start_session(run)
    try:
        out = str(tmp_path / "out")
        run_batch(spark, str(tmp_path / "in"), out)
        assert workloads.check_dir_lake(spark, out, exp) == []
        sink = os.path.join(out, "dns_activity")
        df = spark.read.parquet(sink)
        kept = df.withColumn("_r", F.row_number().over(Window.orderBy("time")))
        kept = kept.filter("_r > 1").drop("_r")
        kept.write.partitionBy("region", "accountId", "eventDay").parquet(sink + "_cut")
        shutil.rmtree(sink)
        os.rename(sink + "_cut", sink)
        problems = workloads.check_dir_lake(spark, out, exp)
    finally:
        workloads.stop_session(spark)
    assert any("dns_activity" in p for p in problems)
    assert any("conservation" in p for p in problems)


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run fails fast and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
