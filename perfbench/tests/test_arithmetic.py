"""Tests of the benchmark's own arithmetic. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import compare, stats, trace, world  # noqa: E402

# --- spans ------------------------------------------------------------------


def span(id_, parent, start, end, name="x", run=1, **attrs):
    return trace.Span(id_, parent, run, name, start, end, attrs)


def test_union_merges_overlaps_and_clips():
    assert trace.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_seconds([(0, 2), (2, 3)]) == 3
    assert trace.union_seconds([(0, 10)], lo=2, hi=5) == 3
    assert trace.union_seconds([(6, 7)], lo=0, hi=5) == 0
    assert trace.union_seconds([]) == 0


def test_self_time_subtracts_union_of_overlapping_children():
    root = span(1, None, 0.0, 10.0)
    spans = [
        root,
        span(2, 1, 1.0, 4.0),  # pool thread A
        span(3, 1, 2.0, 6.0),  # pool thread B, overlaps A
        span(4, 2, 1.5, 2.5),  # grandchild: inside A, not subtracted twice
        span(5, 9, 7.0, 8.0),  # another span's child
    ]
    assert trace.self_seconds(root, spans) == pytest.approx(5.0)


def test_layer_metrics_attribute_pins_builds_and_writes():
    root = span(1, None, 0.0, 10.0, name="nightly")
    spans = [
        root,
        span(2, 1, 0.0, 1.0, name="incremental_runner.read_watermark"),
        span(3, 1, 1.0, 1.5, name="incremental_runner.expand_by_stack_component", revision_df=77),
        span(4, 1, 1.5, 2.5, name="spark.localCheckpoint", df=77),  # the expansion's pin
        span(5, 1, 2.0, 3.0, name="spark.localCheckpoint", df=5),  # a dim pin, overlapping
        span(6, 1, 3.0, 3.25, name="phab_pipelines.dim_users"),
        span(7, 1, 3.5, 4.0, name="phab_pipelines.build_diffs"),
        span(8, 1, 4.0, 6.0, name="spark.write.parquet", table="diffs"),
        span(9, 1, 4.0, 7.0, name="spark.write.parquet", table="revisions"),
        span(10, 1, 0.2, 0.4, name="graph.connected_components"),
        span(11, 10, 0.25, 0.3, name="graph.connected_components"),  # recursion: not recounted
        span(12, 6, 3.0, 3.1, name="spark.localCheckpoint", df=6),  # inside a build_* call: not a runner pin
        span(13, 99, 0.0, 9.0, name="other run", run=2),
    ]
    m = trace.layer_metrics(root, spans)
    assert m["incremental_runner.read_watermark_ms"] == pytest.approx(1000)
    assert m["incremental_runner.pin_ms"] == pytest.approx(1500)
    assert m["incremental_runner.expand_ms"] == pytest.approx(1500)
    assert m["phab_pipelines.dims_ms"] == pytest.approx(250)
    assert m["phab_pipelines.build_ms.diffs"] == pytest.approx(500)
    assert m["phab_pipelines.build_ms.revisions"] == 0
    assert m["incremental_runner.write_ms.diffs"] == pytest.approx(2000)
    assert m["incremental_runner.write_ms.revisions"] == pytest.approx(3000)
    assert m["graph.cc_ms"] == pytest.approx(200)
    # covered by direct children: [0, 3.25] and [3.5, 7.0]
    assert m["incremental_runner.self_ms"] == pytest.approx(3250)
    assert len([k for k in m if k.startswith("incremental_runner.write_ms.")]) == 8


def test_tracer_parents_pool_threads_to_the_run_root():
    import threading

    tracer = trace.Tracer()
    root = tracer.begin_run("run")
    outer = tracer.open("outer")
    inner = tracer.open("inner")
    tracer.close(inner)
    tracer.close(outer)
    box = []
    t = threading.Thread(target=lambda: box.append(tracer.wrap(lambda: 1, "pooled")()))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive() and box == [1]
    tracer.end_run()
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["outer"].parent == root.id
    assert by_name["inner"].parent == outer.id
    assert by_name["pooled"].parent == root.id
    assert {s.run for s in tracer.spans} == {root.run}


# --- status store diff ---------------------------------------------------------


class FakeStage:
    def __init__(self, stage_id, status, tasks=0, attempt=0, **metrics):
        self._v = {"stageId": stage_id, "attemptId": attempt, "status": status,
                   "numCompleteTasks": tasks}
        for getter in trace.STAGE_FIELDS.values():
            self._v.setdefault(getter, 0)
        self._v.update(metrics)

    def __getattr__(self, name):
        return lambda: self._v[name]


class FakeJob:
    def __init__(self, job_id):
        self._id = job_id

    def jobId(self):  # noqa: N802 - Spark's name
        return self._id


class FakeStatus:
    def __init__(self):
        self.stage_list, self.job_list = [], []

    def stages(self):
        return list(self.stage_list)

    def jobs(self):
        return list(self.job_list)


def test_stage_diff_counts_only_new_stages_and_splits_skipped():
    status = FakeStatus()
    status.stage_list = [FakeStage(0, "COMPLETE", tasks=4, executorRunTime=100)]
    status.job_list = [FakeJob(0)]
    before = trace.status_ids(status)
    status.stage_list += [
        FakeStage(1, "COMPLETE", tasks=2, executorRunTime=30, executorCpuTime=10_000_000,
                  shuffleWriteBytes=1024, outputBytes=5),
        FakeStage(2, "SKIPPED", tasks=0, executorRunTime=999),
        FakeStage(1, "COMPLETE", tasks=1, attempt=1, executorRunTime=20),  # retry of stage 1
        FakeStage(3, "FAILED", tasks=1, jvmGcTime=7),
    ]
    status.job_list += [FakeJob(1), FakeJob(2)]
    d = trace.stage_diff(status, before)
    assert d["stages"] == 3
    assert d["stages_skipped"] == 1
    assert d["stages_failed"] == 1
    assert d["jobs"] == 2
    assert d["tasks"] == 4
    assert d["run_ms"] == 50
    assert d["cpu_ns"] == 10_000_000
    assert d["gc_ms"] == 7
    assert d["shuffle_write_b"] == 1024
    assert d["output_b"] == 5


# --- order statistics ----------------------------------------------------------


def test_median_and_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.median(values) == statistics.median(values) == q2
    assert stats.quartiles(values) == (q1, q2, q3)
    assert stats.spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5, 2.5, 2.5]) == 0
    with pytest.raises(ValueError):
        stats.median([])


# --- world --------------------------------------------------------------------


def test_oracle_path_rewrite():
    sql = "SELECT * FROM '/a/fx/revision/*.parquet' JOIN '/a/fx/diff/*.parquet'"
    out = world.rewrite_fixture_paths(sql, "/a/fx", "/w/world0")
    assert out == "SELECT * FROM '/w/world0/revision/*.parquet' JOIN '/w/world0/diff/*.parquet'"
    with pytest.raises(ValueError):
        world.rewrite_fixture_paths(sql, "/elsewhere", "/w")
    with pytest.raises(ValueError):
        world.rewrite_fixture_paths(sql, "/a/fx", "/w/it's")
    with pytest.raises(ValueError):  # a path form the rewrite does not know
        world.rewrite_fixture_paths(sql + " UNION SELECT '/a/fx'", "/a/fx", "/w")


def test_repo_oracle_sql_rewrites_completely():
    from phabricator_etl_spark.plans import etl_e2e, phab_queries

    out = world.rewrite_fixture_paths(etl_e2e._e2e_oracle(), phab_queries.FIXTURE_DIR, "/w/x")
    assert phab_queries.FIXTURE_DIR not in out
    assert "'/w/x/revision/*.parquet'" in out


def test_timestamp_compression_keeps_order_and_span():
    tables = world.generate_tables(seed=3, scale=20)
    lo, hi = world.timestamp_range(tables)
    assert hi - lo > world.SPAN_S  # the generator alone spans about 12 years
    squeezed = world.compress_timestamps(tables)
    lo2, hi2 = world.timestamp_range(squeezed)
    assert lo2 == lo and hi2 - lo2 <= world.SPAN_S

    def stamps(t):
        return [
            row[i] for rows, schema in t.values() for row in rows
            for i in world._timestamp_positions(schema) if row[i] is not None
        ]

    before, after = stamps(tables), stamps(squeezed)
    order = sorted(range(len(before)), key=before.__getitem__)
    assert all(after[a] <= after[b] for a, b in zip(order, order[1:]))
    # non-timestamp columns untouched
    assert [r[:3] for r in squeezed["revision"][0]] == [r[:3] for r in tables["revision"][0]]


def test_small_worlds_are_not_compressed_and_fingerprints_track_content():
    tables = world.generate_tables(seed=3, scale=1)
    assert world.compress_timestamps(tables) is tables
    fp = world.fingerprint(tables)
    assert fp == world.fingerprint(world.generate_tables(seed=3, scale=1))
    assert fp["rows"]["revision"] == 120
    assert fp != world.fingerprint(world.generate_tables(seed=4, scale=1))


def test_build_writes_world_inside_run_window_and_summarizes_it(tmp_path):
    w = world.build(seed=5, scale=1, world_dir=str(tmp_path), threads=1)
    assert set(w.timings) == {"generate_s", "write_s", "oracle_s"}
    assert w.revisions == 120 and max(w.revision_modified) < w.now
    assert (tmp_path / "revision" / "part-00000.parquet").exists()
    tables = [row[0] for row in w.oracle]
    assert tables == sorted(tables) and len(tables) == 8
    assert all(n_rows > 0 for _, n_rows, _, _ in w.oracle)


# --- comparison ---------------------------------------------------------------


def write_record(directory, name, seed, sha, run_s):
    directory.mkdir(exist_ok=True)
    record = {"workload": "backfill", "seed": seed, "trace": 0,
              "fingerprint": {"rows": {}, "sha256": sha}, "metrics": {"run_s": run_s}}
    (directory / name).write_text(json.dumps(record))


def test_compare_refuses_mismatched_fingerprints(tmp_path, capsys):
    base, head = tmp_path / "base", tmp_path / "head"
    write_record(base, "a.json", 1, "aaa", 10.0)
    write_record(head, "a.json", 1, "bbb", 9.0)
    assert compare.main([str(base), str(head)]) == 1
    assert "fingerprints differ" in capsys.readouterr().err
    write_record(head, "a.json", 1, "aaa", 9.0)
    assert compare.main([str(base), str(head)]) == 0
    assert "-10.0%" in capsys.readouterr().out
    write_record(base, "b.json", 2, "ccc", 9.0)
    assert compare.main([str(base), str(head)]) == 1
