"""The benchmark's own tests (no Spark session): ``python3 -m pytest perfbench``.

- the generator is byte-identical for a seed;
- the metric names the benchmark prints are exactly those in BENCHMARK.json;
- the output checks reject deliberately perturbed outputs;
- trace self times, tail percentiles and checkpoint parsing.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

import checks
import ckpt
import gen
import spans
import stream_bench

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _specs():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return {k: gen.Spec.from_dict(v["spec"]) for k, v in json.load(f).items()}


@pytest.mark.parametrize("workload", sorted(_specs()))
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    spec = _specs()[workload]

    def make(seed, name):
        path = tmp_path / name
        gen.Generator(spec, seed).write(3, str(path))
        return path.read_bytes()

    assert make(7, "a.parquet") == make(7, "b.parquet")
    assert make(7, "a.parquet") != make(8, "c.parquet")


@pytest.mark.parametrize("workload", sorted(_specs()))
def test_generated_text_hits_lexicon_and_entities(workload):
    g = gen.Generator(_specs()[workload], 1)
    lex, ent, n = gen.hit_shares([g.rows(i) for i in range(3)])
    assert n > 0 and lex > 0.0 and ent > 0.0


def test_event_time_never_goes_back_across_files():
    spec = _specs()["stream_wide_state"]
    g = gen.Generator(spec, 5)
    a, b = g.rows(4), g.rows(5)
    assert a["ts_us"].max() < b["ts_us"].min()
    assert not np.all(np.diff(a["ts_us"]) >= 0)  # shuffled within the file


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(stream_bench.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == stream_bench.per_layer_names()
    assert {w["name"] for w in bench["workloads"]} == set(stream_bench.load_all_configs())


def _toxic(values):
    return pd.DataFrame({
        "key": ["1", "1", "2", "-1"],
        "bucket": [0, 1, 0, 0],
        "value": values,
        "n": [10, 10, 10, 10],
    })


def test_sink_check_accepts_equal_output_in_any_order():
    want = _toxic([-11.0, -12.5, -30.0, -1.0])
    got = want.iloc[::-1].reset_index(drop=True)
    assert checks.sink_mismatch("toxicUserStream", got, want) is None


def test_sink_check_rejects_perturbed_value():
    want = _toxic([-11.0, -12.5, -30.0, -1.0])
    got = _toxic([-11.0, -12.5, -30.001, -1.0])
    assert "value" in checks.sink_mismatch("toxicUserStream", got, want)


def test_sink_check_rejects_missing_row_but_ignores_sentinel():
    want = _toxic([-11.0, -12.5, -30.0, -1.0])
    assert checks.sink_mismatch("toxicUserStream", want.iloc[:3], want) is None
    assert "row count" in checks.sink_mismatch("toxicUserStream", want.iloc[1:], want)


def test_sink_check_rejects_wrong_window_count():
    want = pd.DataFrame({"window_start_s": [0, 0, 10], "key": ["a", "b", "a"], "count": [3, 1, 2]})
    got = want.assign(count=[3, 1, 1])
    assert checks.sink_mismatch("topicStream", got, want) is not None


def test_oracle_check_rejects_dtype_family_and_values():
    spark = pd.DataFrame({"k": ["a", "b"], "n": np.array([1, 2], dtype=np.int64)})
    assert checks.oracle_mismatch(spark, spark.copy()) is None
    assert "dtype" in checks.oracle_mismatch(spark, spark.assign(n=[1.0, 2.0]))
    assert checks.oracle_mismatch(spark, spark.assign(n=np.array([1, 3]))) is not None


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stream_bench.tail_percentile(list(range(1, 101))) == (90.0, 90)
    assert stream_bench.tail_percentile(list(range(1, 1001))) == (99.0, 990)
    p, _ = stream_bench.tail_percentile(list(range(1, 16)))
    assert p == 50.0


def test_self_time_subtracts_union_of_children():
    tr = spans.Tracer(True)
    parent = tr.add("bench", "phase", 0.0, 10.0)
    tr.add("a", "x", 1.0, 4.0, parent)
    tr.add("a", "y", 3.0, 6.0, parent)
    tr.add("b", "z", 9.0, 12.0, parent)
    assert spans.self_times(tr.spans) == pytest.approx({"bench": 4.0, "a": 6.0, "b": 3.0})


def test_checkpoint_maps_files_to_committing_batch(tmp_path):
    root = tmp_path / "ck"
    for d in ("sources/0", "offsets", "commits"):
        (root / d).mkdir(parents=True)
    for k, name in enumerate(["f0.parquet", "f1.parquet"]):
        (root / "sources/0" / str(k)).write_text(
            "v1\n" + json.dumps({"path": f"file:///x/{name}", "timestamp": 0, "batchId": k}))
    # batch 1 is a no-data batch repeating logOffset 0; f1 joins in batch 2
    for b, off in enumerate([0, 0, 1]):
        (root / "offsets" / str(b)).write_text("v1\n{}\n" + json.dumps({"logOffset": off}))
    for b in (0, 1):
        (root / "commits" / str(b)).write_text("v1\n{}")
    c = ckpt.Checkpoint(str(root))
    assert c.committed_log_offset() == 0
    assert {k: v[0] for k, v in c.commit_times().items()} == {"f0.parquet": 0}
    (root / "commits" / "2").write_text("v1\n{}")
    assert c.committed_log_offset() == 1
    assert {k: v[0] for k, v in c.commit_times().items()} == {"f0.parquet": 0, "f1.parquet": 2}
