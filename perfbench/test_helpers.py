"""Self-tests of the benchmark's pure helpers (no Spark needed).

Run with ``python3 -m pytest perfbench -q``.
"""

import json
import os
import statistics

import pytest

import helpers

HERE = os.path.dirname(os.path.abspath(__file__))


def test_union_length_merges_overlaps_and_skips_empty():
    assert helpers.union_length([]) == 0.0
    assert helpers.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3.0
    assert helpers.union_length([(2, 3), (0, 10)]) == 10.0


def test_covered_within_clips_to_window():
    assert helpers.covered_within([(-5, 1), (9, 20)], 0, 10) == 2.0
    assert helpers.covered_within([(11, 12)], 0, 10) == 0.0


def _call(*spans):
    out = []
    for i, (rank, s, e) in enumerate(spans):
        out.append({"id": i, "rank": rank, "start": s, "end": e})
    helpers.assign_parents(out)
    return out


def test_self_times_nested_spans_sum_to_wall_time():
    # query 0..10; fn 0..4 with a catalog call 1..2 and a job 2..3;
    # action 4..10 with jobs 5..7 and 6..9 (overlapping siblings).
    spans = _call((0, 0, 10), (1, 0, 4), (2, 1, 2), (3, 2, 3), (1, 4, 10), (3, 5, 7), (3, 6, 9))
    st = helpers.self_times(spans)
    assert sum(st.values()) == pytest.approx(10.0)
    assert st[0] == pytest.approx(0.0)
    assert st[1] == pytest.approx(2.0)  # fn minus catalog and job
    assert st[4] == pytest.approx(2.0)  # action minus union(5..9)
    assert st[5] + st[6] == pytest.approx(4.0)


def test_self_times_clip_children_that_outlive_their_parent():
    spans = _call((0, 0, 10), (1, 0, 5), (3, 4, 8))
    assert spans[2]["parent"] == 1
    st = helpers.self_times(spans)
    assert st[2] == pytest.approx(1.0)
    assert st[0] == pytest.approx(5.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_parse_seeds_reads_ranges():
    import spread

    assert spread.parse_seeds("3-5") == [3, 4, 5]
    assert spread.parse_seeds("7") == [7]


def test_median_and_quartiles_match_statistics_module():
    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8, 9.7, 9.3]
    assert helpers.median(vals) == statistics.median(vals)
    assert helpers.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert helpers.relative_spread(vals) == pytest.approx((q3 - q1) / q2)
    assert helpers.quartiles([2.0]) == (2.0, 2.0, 2.0)
    with pytest.raises(ValueError):
        helpers.median([])


def test_layer_of_uses_the_defining_subpackage():
    assert helpers.layer_of("satellite_data_ingestion_spark.operators.hypothesis") == "operators"
    assert helpers.layer_of("satellite_data_ingestion_spark.llm.dedup") == "llm"
    assert helpers.layer_of("satellite_data_ingestion_spark.streaming.state") == "streaming"
    for bad in ("satellite_data_ingestion_spark.catalog", "other.operators.x", "operators"):
        with pytest.raises(ValueError):
            helpers.layer_of(bad)


def test_metric_names_are_checked():
    for ok in ("run_s", "llm.fn_s", "spark.parallel_speedup", "a-b", "0x"):
        assert helpers.check_metric_name(ok) == ok
    for bad in ("", ".x", "a b", "x/y", "a" * 65, "é"):
        with pytest.raises(ValueError):
            helpers.check_metric_name(bad)


def test_last_place_tolerance_accepts_one_unit_only():
    tol = helpers.last_place_tol(4)
    assert abs(0.0638 - 0.0637) <= tol
    assert abs(0.0639 - 0.0637) > tol


def test_parse_size_metric_reads_single_and_multi_task_forms():
    assert helpers.parse_size_metric("16.1 MiB") == pytest.approx(16.1 * 2**20)
    multi = "total (min, med, max (stageId: taskId))\n1,024.0 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 3))"
    assert helpers.parse_size_metric(multi) == pytest.approx(1024.0 * 2**10)
    assert helpers.parse_size_metric("0.0 B") == 0.0
    assert helpers.parse_size_metric("") == 0.0


def test_benchmark_files_agree():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        helpers.check_metric_name(n)
    assert {m["name"] for m in bench["per_layer"]} == set(helpers.per_layer_metric_units())
    cited = {n for row in spec["layer_to_end_to_end"] for n in row["layer_metrics"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    for name in cited:
        assert name in per_layer or name.startswith("*."), name
