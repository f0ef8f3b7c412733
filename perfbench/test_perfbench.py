"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(n_ops: int, oks: list[bool]) -> run.Run:
    args = argparse.Namespace(workload="adhoc_mix", seed=1, seconds=1.0, trace=0)
    r = run.Run(args, "unused", "unused")
    r.setup_s = [3.0, 1.0, 1.1]
    r.pass_s = [2.0, 2.1, 2.2]
    r.out_bytes = [1000, 1000, 1000]
    r.op_s = [0.1 + i / 100 for i in range(n_ops)]
    r.op_ok = oks
    return r


def test_printed_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    r = _run(20, [True] * 20)
    line = json.loads(run.result_line(r.end_to_end(10**9), run.END_TO_END, r.op_ok))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.END_TO_END
    assert line["correct"] is True and line["attempted"] == 20 and line["failed"] == 0


def test_no_percentile_without_ten_samples_beyond_it():
    assert run.percentile([1.0] * 19, 0.5) is None
    assert run.percentile([float(i) for i in range(20)], 0.5) == pytest.approx(9.5)
    assert run.percentile([1.0] * 99, 0.9) is None
    assert run.percentile([float(i) for i in range(100)], 0.9) is not None
    with pytest.raises(RuntimeError):
        _run(19, [True] * 19).end_to_end(10**9)


def _oracle() -> pd.DataFrame:
    return verify.normalize(pd.DataFrame({"k": ["a", "b", "c"], "v": [1.5, 2.25, 3.0]}))


def test_corrupted_result_drives_ok_frac_below_one():
    want = _oracle()
    good = verify.normalize(want.sample(frac=1.0, random_state=3))
    bad = good.copy()
    bad.loc[1, "v"] += 0.01
    assert verify.frames_match(good, want)
    assert not verify.frames_match(bad, want)
    assert not verify.frames_match(good.iloc[:2], want)
    oks = [verify.frames_match(good, want)] * 19 + [verify.frames_match(bad, want)]
    metrics = _run(20, oks).end_to_end(10**9)
    assert metrics["ok_frac"] == pytest.approx(19 / 20)
    line = json.loads(run.result_line(metrics, run.END_TO_END, oks))
    assert line["correct"] is False and line["failed"] == 1


def test_missing_stage_output_part_drives_ok_frac_below_one(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    want = _oracle()
    stage = tmp_path / "stage.parquet"
    stage.mkdir()
    table = pa.Table.from_pandas(want, preserve_index=False)
    pq.write_table(table.slice(0, 2), stage / "part-00000.parquet")
    pq.write_table(table.slice(2), stage / "part-00001.parquet")
    assert verify.parquet_output_matches(str(stage), want)
    os.remove(stage / "part-00001.parquet")
    assert not verify.parquet_output_matches(str(stage), want)
    assert not verify.parquet_output_matches(str(tmp_path / "absent"), want)
    oks = [True] * 20 + [verify.parquet_output_matches(str(stage), want)]
    assert _run(21, oks).end_to_end(10**9)["ok_frac"] < 1.0


def test_european_csv_check(tmp_path):
    want = _oracle()
    (tmp_path / "part-0.csv").write_text("k;v\na;1,5\nb;2,25\nc;3\n")
    assert verify.european_csv_matches(str(tmp_path), want)
    (tmp_path / "part-0.csv").write_text("k;v\na;1.5\nb;2,25\nc;3\n")
    assert not verify.european_csv_matches(str(tmp_path), want)


def test_self_time_and_pipeline_phases():
    def span(i, name, parent, start, end, **kw):
        return {"id": i, "name": name, "parent": parent, "start": start, "end": end, **kw}

    spans = [
        span(0, "pipeline.run_pipeline", None, 0.0, 10.0),
        span(1, tracing.BUILD, 0, 0.0, 1.0, key="recode_group"),
        span(2, tracing.CATALOG, 1, 0.2, 0.5),
        span(3, tracing.WRITE, 0, 1.0, 4.0, fmt="parquet"),
        span(4, tracing.BUILD, 0, 4.0, 5.0, key="unpivot_long"),
        span(5, tracing.WRITE, 0, 5.0, 7.0, fmt="parquet"),
        span(6, tracing.BUILD, 0, 7.0, 8.0, key="unpivot_long"),
        span(7, tracing.WRITE, 0, 8.0, 10.0, fmt="csv"),
    ]
    own = tracing.self_times(spans)
    assert own[1] == pytest.approx(0.7)
    assert own[0] == pytest.approx(0.0)
    phases = tracing.pipeline_phases(spans, {"recode_group": "cleaning", "unpivot_long": "model"})
    assert phases == pytest.approx({"cleaning": 4.0, "model": 3.0, "csv": 3.0})


def test_generated_inputs_are_deterministic_and_complete():
    from pyprima_spark.catalog import TABLES

    a = datagen.make_tables(0.001, 7)
    b = datagen.make_tables(0.001, 7)
    assert set(a) == set(TABLES)
    assert all(a[name].equals(b[name]) for name in a)
    assert a["lineitem"].num_rows == 6000


def test_refuses_to_run_outside_the_repository(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "adhoc_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
